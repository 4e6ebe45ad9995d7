package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model._

/** The 100 TB generalization of [[RefinementEngine]]: the same CP-refinement
  * semantics over a corpus of MANY series `(sid, t, y)`, with every stage
  * partitioned by `sid`:
  *
  *   - index build: `Window.partitionBy(sid).orderBy(t)` — prefix sums and
  *     sparse-table levels are computed inside each series partition, no
  *     global sort, no single-partition bottleneck;
  *   - domain binding: None sides resolve to PER-SERIES extents (a
  *     broadcastable `(sid, tMin, tMax)` aggregate), reference semantics
  *     applied independently per series (the reference's two datasets are
  *     two sids);
  *   - candidate grid: per-series `explode(sequence)` — partition-local;
  *   - probes: equi-joins on `(sid, t)` — shuffle hash joins that scale out;
  *   - extrema: `groupBy(sid)` instead of a global aggregate;
  *   - refined top-k: `row_number over (partition by sid order by key)` —
  *     a per-series top-k with bounded state per partition.
  *
  * [[RefinementEngine]] stays the single-series fast path (its global top-k
  * compiles to TakeOrderedAndProject); this engine is the horizontal path.
  * Scoring (VC/RD/RK/RP), the rank order, the window probes and the index
  * depth are [[RefinementEngine]]'s and [[SeriesOps]]' own, keyed by `sid`
  * — see the cross-checks in MultiSeriesSpec.
  */
object MultiSeriesEngine {

  /** `pinned`: frames the build persisted (the [[indexRouted]] giants),
    * for the caller to unpersist once `df` has been materialized. */
  final case class MsIndex(df: DataFrame, bounds: DataFrame, levels: Int,
      pinned: Seq[DataFrame] = Nil)

  /** The [[WindowProbe]] view of an [[MsIndex]]: same constraint formulas as
    * the single-series path, with per-series `tMin`/`tMax` grid columns and
    * `(sid, t)`-keyed lookups. Position-memoizing — see [[MemoProbe]];
    * create one instance per query. */
  def probe(idx: MsIndex): WindowProbe = new MemoProbe {
    val tMinCol: Column = col("tMin")
    val tMaxCol: Column = col("tMax")
    protected def lookupAll(grid: DataFrame, pos: Column, prefix: String): DataFrame =
      MultiSeriesEngine.lookupAt(grid, idx, pos, prefix)
  }

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

  private def lookupAt(grid: DataFrame, idx: MsIndex, pos: Column, prefix: String): DataFrame = {
    val probe = idx.df.select(
      (col("sid").as(s"${prefix}_sid") +: Seq("t", "y", "s", "ms").map(c =>
        col(c).as(s"${prefix}_$c"))): _*)
    grid
      .join(probe,
        col("sid") === col(s"${prefix}_sid") && pos === col(s"${prefix}_t"), "left")
      .drop(s"${prefix}_sid", s"${prefix}_t")
  }

  /** Per-series candidate grid with per-series domain binding: None sides
    * resolve to (tMin, tMax) of EACH series; offset default [1, extent]. */
  def candidateGrid(idx: MsIndex, spec: QuerySpec): DataFrame = {
    val xLo = spec.xDomain.lo.map(lit(_)).getOrElse(col("tMin"))
    val xHi = spec.xDomain.hi.map(lit(_)).getOrElse(col("tMax"))
    val lxLo = spec.lxDomain.lo.map(lit(_)).getOrElse(lit(1L))
    val lxHi = spec.lxDomain.hi.map(lit(_)).getOrElse(col("tMax") - col("tMin") + 1)
    idx.bounds
      .withColumn("x", explode(sequence(xLo.cast("long"), xHi.cast("long"))))
      .withColumn("lx", explode(sequence(lxLo.cast("long"), lxHi.cast("long"))))
      .where(col("x") + col("lx") <= col("tMax"))
      .select("sid", "x", "lx", "tMin", "tMax")
  }

  /** Execute the query independently over every series; returns
    * `(sid, time_id, offset)` in canonical per-series order. */
  def execute(spark: SparkSession, series: DataFrame, spec: QuerySpec,
      maxRunRows: Long = DefaultMaxRunRows): DataFrame = {
    // one per-sid stats pass (tiny checkpointed result, one row per sid):
    // feeds domain binding, the oversized-series routing decision, AND the
    // grid bounds — replacing the post-build bounds re-aggregation
    val stats = series.groupBy("sid")
      .agg(min("t").as("tMin"), max("t").as("tMax"), count(lit(1)).as("n"))
      .localCheckpoint(true)
    // when lx is unbounded ("whole series") the sparse-table depth needs
    // the max extent as a driver value (levels is a structural plan
    // parameter — the same binding step the reference does)
    val lxHi = spec.lxDomain.hi.getOrElse {
      stats.agg(max(col("tMax") - col("tMin") + lit(1))).head().getLong(0) - 1
    }
    val maxWin = RefinementEngine.windowNeed(spec, lxHi)
    // materialize the index ONCE (lineage truncated): every probe join
    // reads the checkpointed blocks instead of re-running the kernel build
    // inside its own broadcast; series too large for the per-partition
    // kernel are routed to the partitioned two-pass build
    val built = indexRouted(series, maxWin, stats, maxRunRows)
    val ckpt = built.df.localCheckpoint(true)
    built.pinned.foreach(_.unpersist()) // materialized into ckpt
    val bounds = stats.select("sid", "tMin", "tMax")
    // bounded domains probe only [xLo - win, xHi + lxHi + win] in every
    // series: pre-filter the probe view so lookups join O(domain) rows per
    // series, not O(series) (bounds still read the full index)
    val probeDf = (spec.xDomain.lo, spec.xDomain.hi, spec.lxDomain.hi) match {
      case (Some(xl), Some(xh), Some(lxh)) =>
        val slack = 1L << built.levels
        ckpt.where(col("t").between(xl - slack, xh + lxh + slack))
      case _ => ckpt // an unbounded side binds per series; keep the full view
    }
    val idx = MsIndex(probeDf, bounds, built.levels)
    var g = candidateGrid(idx, spec)
    val cs = spec.constraints.zipWithIndex
    val p = probe(idx)
    cs.foreach { case (c, i) => g = ConstraintRegistry(c.name)(g, p, c.args, s"c$i") }
    // drop the memoized probe intermediates before scoring/persisting
    g = g.select((Seq("sid", "x", "lx") ++ cs.map { case (_, i) => s"c$i" }).map(col): _*)

    // per-series top-k: a bounded-state ranking window per sid
    def topK(df: DataFrame, order: Seq[Column]): DataFrame =
      spec.limit.fold(df) { k =>
        df.withColumn("__rn", row_number().over(Window.partitionBy("sid").orderBy(order: _*)))
          .where(col("__rn") <= k)
      }.select(col("sid"), col("x").as("time_id"), col("lx").as("offset"))
        .orderBy("sid", "time_id", "offset")
    def ranked(grid: DataFrame): DataFrame =
      topK(RefinementEngine.scored(grid, spec, Seq("sid")), RefinementEngine.rankOrder)

    if (!spec.refined) topK(g.where(RefinementEngine.allSatisfied(spec)), Seq(col("x"), col("lx")))
    // the stats and index checkpoints are reachable only through the grid,
    // so the bounded result releases them too; the other paths return them
    // in their lineage for the caller's Checkpoints.release
    else if (spec.limit.isDefined) RefinementEngine.bounded(g, stats, ckpt)(ranked)
    else ranked(g)
  }
}
