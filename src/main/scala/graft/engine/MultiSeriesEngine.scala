package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model._

/** The 100 TB generalization of [[RefinementEngine]]: the same CP-refinement
  * semantics over a corpus of MANY series `(sid, t, y)`:
  *
  *   - index build: partitioned by `sid` — prefix sums and sparse-table
  *     levels are computed inside each series partition, no global sort, no
  *     single-partition bottleneck;
  *   - domain binding: None sides resolve to PER-SERIES extents (one
  *     `(sid, tMin, tMax)` row per series), reference semantics applied
  *     independently per series (the reference's two datasets are two
  *     sids);
  *   - solve: the CP kernel ([[LocalSolve]]) with chunks keyed by `sid` —
  *     per-series extrema, scoring and top-k, one task per chunk.
  *
  * Scoring (VC/RD/RK/RP), the rank order, the window probes and the index
  * depth are the kernel's and [[SeriesOps]]' own, the same code the
  * single-series engine runs — see the cross-checks in MultiSeriesSpec.
  */
object MultiSeriesEngine {

  /** `pinned`: frames the build persisted (the [[indexRouted]] giants),
    * for the caller to unpersist once `df` has been materialized. */
  final case class MsIndex(df: DataFrame, bounds: DataFrame, levels: Int,
      pinned: Seq[DataFrame] = Nil)

  /** Index a multi-series frame `(sid, t, y)`; t dense ascending per sid.
    * `boundsOpt` lets a caller that already derived the per-series bounds
    * aggregate pass it in instead of re-deriving it. */
  def index(series: DataFrame, maxWin: Long, boundsOpt: Option[DataFrame] = None): MsIndex = {
    val levels = SeriesOps.levelsFor(maxWin)
    val w = Window.partitionBy("sid").orderBy("t")
    var df = series
      .select(col("sid"), col("t").cast("long").as("t"), col("y").cast("double").as("y"))
      .withColumn("s", sum("y").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("m0", col("y"))
    for (j <- 1 until levels) {
      df = df.withColumn(
        s"m$j",
        greatest(col(s"m${j - 1}"),
          coalesce(lead(col(s"m${j - 1}"), 1 << (j - 1)).over(w), lit(Double.NegativeInfinity))))
    }
    val indexed = df
      .withColumn("ms", array((0 until levels).map(j => col(s"m$j")): _*))
      .drop((0 until levels).map(j => s"m$j"): _*)
    val bounds = boundsOpt.getOrElse(
      series.groupBy("sid").agg(min("t").as("tMin"), max("t").as("tMax")))
    MsIndex(indexed, bounds, levels)
  }

  /** Row shape produced by [[indexFast]]. */
  final case class MsIndexedPoint(sid: Long, t: Long, y: Double, s: Double, ms: Array[Double])

  /** Per-sid row budget for the kernel build's in-task buffer: a run of
    * `maxRunRows` rows buffers roughly rows x (point + levels x 8 B) per
    * task, so the default keeps the working set a few hundred MB — well
    * inside an executor task's share. Series above it are routed to the
    * single-series engine's partitioned two-pass build ([[indexRouted]] /
    * [[execute]]); [[indexFast]] itself fails fast rather than OOM. */
  val DefaultMaxRunRows: Long = 4 * 1000 * 1000

  /** Kernel build of [[index]]: hash-partition by sid, sort (sid, t) within
    * partitions, then compute each series' prefix sums and ALL sparse-table
    * levels imperatively in one pass over each series' contiguous run — one
    * shuffle + one sort instead of 1 + log2(maxWin) sequential window stages.
    * Equality with the declarative build is asserted in MultiSeriesSpec.
    * Assumes a series fits its executor's partition (the same working-set
    * assumption the per-sid window build makes); the assumption is ENFORCED:
    * a run longer than `maxRunRows` fails fast with a routing message
    * instead of silently OOMing the task ([[indexRouted]] is the caller
    * that routes instead of failing).
    */
  def indexFast(series: DataFrame, maxWin: Long, boundsOpt: Option[DataFrame] = None,
      maxRunRows: Long = DefaultMaxRunRows): MsIndex = {
    val levels = SeriesOps.levelsFor(maxWin)
    val spark = series.sparkSession
    import spark.implicits._
    val sorted = series
      .select(col("sid").cast("long").as("sid"),
        col("t").cast("long").as("t"), col("y").cast("double").as("y"))
      .repartition(col("sid"))
      .sortWithinPartitions("sid", "t")
      .as[(Long, Long, Double)]
    val indexed = sorted.mapPartitions { it =>
      val rows = it.buffered
      new Iterator[Iterator[MsIndexedPoint]] {
        def hasNext: Boolean = rows.hasNext
        def next(): Iterator[MsIndexedPoint] = {
          // consume one sid's contiguous run
          val sid = rows.head._1
          val ts = new scala.collection.mutable.ArrayBuffer[Long]
          val ys = new scala.collection.mutable.ArrayBuffer[Double]
          while (rows.hasNext && rows.head._1 == sid) {
            val r = rows.next(); ts += r._2; ys += r._3
            if (ts.length > maxRunRows) throw new IllegalStateException(
              s"series sid=$sid exceeds maxRunRows=$maxRunRows for the per-partition " +
                "kernel build; route oversized series through " +
                "MultiSeriesEngine.indexRouted (or SeriesOps.indexFast per series)")
          }
          val arr = ys.toArray
          val m = SeriesOps.buildLevels(arr, levels)
          var acc = 0.0
          val s = arr.map { v => acc += v; acc }
          Iterator.tabulate(arr.length) { k =>
            MsIndexedPoint(sid, ts(k), arr(k), s(k),
              Array.tabulate(levels)(j => m(j)(k)))
          }
        }
      }.flatten
    }.toDF()
    val bounds = boundsOpt.getOrElse(
      series.groupBy("sid").agg(min("t").as("tMin"), max("t").as("tMax")))
    MsIndex(indexed, bounds, levels)
  }

  /** [[indexFast]] with the working-set assumption enforced by ROUTING
    * rather than failing: series whose row count exceeds `maxRunRows` are
    * built by the single-series engine's partitioned two-pass kernel
    * ([[SeriesOps.indexFast]] — range-partitioned, halo-exchanged, no
    * whole-series buffering anywhere) and unioned back; everything else
    * takes the per-sid single-pass path. `stats` must be the per-sid
    * `(sid, tMin, tMax, n)` aggregate (callers need it for bounds anyway,
    * so it is computed once and shared). The oversized-sid list is a
    * bounded driver collect: sids above millions of rows are few by
    * construction (their count is capped by corpus size / maxRunRows). */
  def indexRouted(series: DataFrame, maxWin: Long, stats: DataFrame,
      maxRunRows: Long = DefaultMaxRunRows): MsIndex = {
    val bounds = stats.select("sid", "tMin", "tMax")
    val bigSids = stats.where(col("n") > maxRunRows)
      .select("sid").collect().map(_.getLong(0)).toSeq
    if (bigSids.isEmpty) indexFast(series, maxWin, Some(bounds), maxRunRows)
    else {
      val small = indexFast(
        series.where(!col("sid").isin(bigSids: _*)), maxWin, Some(bounds), maxRunRows)
      val bigDfs = bigSids.map { sid =>
        SeriesOps.indexFast(series.where(col("sid") === sid).select("t", "y"), maxWin).df
      }
      MsIndex(
        bigSids.zip(bigDfs).foldLeft(small.df.select("sid", "t", "y", "s", "ms")) {
          case (acc, (sid, df)) =>
            acc.unionByName(df.select(lit(sid).as("sid"), col("t"), col("y"), col("s"), col("ms")))
        },
        bounds, small.levels, pinned = bigDfs)
    }
  }

  /** Execute the query independently over every series; returns
    * `(sid, time_id, offset)` in canonical per-series order, materialized:
    * release it with [[Checkpoints.release]]. */
  def execute(spark: SparkSession, series: DataFrame, spec: QuerySpec,
      maxRunRows: Long = DefaultMaxRunRows): DataFrame =
    execute(spark, series, spec, maxRunRows, LocalSolve.CellCap)

  /** [[execute]] with chunks of at most `cap` cell-constraints and index
    * rows: tests force series into many chunks with a small cap. */
  private[graft] def execute(spark: SparkSession, series: DataFrame, spec: QuerySpec,
      maxRunRows: Long, cap: Long): DataFrame = {
    import spark.implicits._
    // one per-sid stats pass, collected (one row per series): it binds each
    // series' domains, sizes the sparse table, routes the oversized series
    // and plans the chunks
    val perSid = series.groupBy(col("sid").cast("long").as("sid"))
      .agg(min("t").cast("long"), max("t").cast("long"), count(lit(1)))
      .as[(Long, Long, Long, Long)].collect()
    val grids = perSid.toSeq.map { case (sid, tMin, tMax, _) =>
      LocalSolve.Grid(sid, tMin, tMax, RefinementEngine.bindDomains(spec, tMin, tMax))
    }
    val job = LocalSolve.job(spec)
    val maxWin = grids.map(_.win(job)).foldLeft(1L)(math.max)
    val stats = perSid.toSeq.toDF("sid", "tMin", "tMax", "n")
    val built = indexRouted(series, maxWin, stats, maxRunRows)
    // materialized, so the routed giants' persisted indexes can be released
    val out = Checkpoints.mark(LocalSolve.corpus(built.df, grids, job, cap)
      .orderBy("sid", "time_id", "offset"))
    built.pinned.foreach(_.unpersist())
    out
  }
}
