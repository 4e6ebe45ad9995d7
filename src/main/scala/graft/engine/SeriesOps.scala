package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Scale-first building blocks for range aggregates over a time series.
  *
  * The reference materializes each grid cell's window aggregate by slicing a
  * NumPy array per cell — O(cells x window) work with an O(N) index lookup
  * per cell (reference: server.py:303-351, 332-333, 955-1016). Here we build,
  * once per query:
  *
  *   - an inclusive prefix-sum column `s` — any window SUM/AVG becomes two
  *     O(1) lookups: `sum[a,b] = s(b) - s(a) + y(a)`;
  *   - a sparse-table RMQ column `ms` where `ms[j] = max(y[t .. t+2^j-1])`,
  *     built with ceil(log2(maxWin)) chained `lead` window passes — any
  *     window MAX becomes two O(1) lookups:
  *     `max[a,b] = greatest(ms(a)[j], ms(b-2^j+1)[j])`, j = floor(log2(len)).
  *
  * Lookups are plain equi-joins on the integer time key, so at cluster scale
  * they are shuffle/broadcast hash joins — no per-cell scans, no driver loop.
  * Total cost: O(N log maxWin) build + O(cells) probes, vs the reference's
  * O(cells x window).
  *
  * NOTE on partitioning: the declarative [[index]] build (the reference
  * formulation) uses `Window.orderBy(t)` — one partition, kept as the
  * executable spec the kernel builds are tested against. The production
  * builds ([[indexFast]]/[[indexFastFromOrdered]]) are partitioned two-pass
  * kernels ([[twoPassBuild]]) with no single-partition stage. For a
  * multi-series corpus, [[MultiSeriesEngine]] partitions by series id.
  */
object SeriesOps {

  /** A series `(t: Long dense ascending, y: Double)` indexed for O(1) range
    * sum/max probes. `df` columns: t, y, s (inclusive prefix sum),
    * ms (array, ms[j] = max over [t, t+2^j-1] clamped at series end).
    */
  final case class SeriesIndex(df: DataFrame, tMin: Long, tMax: Long, levels: Int)

  /** Assign the reference's dense ascending surrogate key
    * (`time_id BIGSERIAL`, reference: db_preparation.py:59,93).
    *
    * Distributed two-pass assignment: range-partition + sort on the order
    * columns (global order across partitions), then zipWithIndex — a first
    * job counts rows per partition, a second adds the per-partition prefix
    * offsets. No single-partition sort anywhere, so this holds at 10^9+ rows.
    */
  def withTimeId(df: DataFrame, orderCols: Seq[Column], as: String = "t"): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(orderCols: _*).sortWithinPartitions(orderCols: _*)
    val out = StructType(sorted.schema.fields :+ StructField(as, LongType, nullable = false))
    val rows = sorted.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + 1L)) }
    spark.createDataFrame(rows, out)
  }

  /** Sparse-table depth for windows up to `maxWin` rows:
    * floor(log2(maxWin)) + 1 levels, at least one. Every index build, on
    * both engine paths, sizes its table here. */
  private[engine] def levelsFor(maxWin: Long): Int =
    math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, maxWin)))

  /** A table with `levels` levels answers windows up to 2^levels - 1 rows. */
  private[engine] def covers(levels: Int, win: Long): Boolean = (1L << levels) > win

  /** Build the index. `maxWin` = largest window length (in rows) any probe
    * will ask for; levels = floor(log2(maxWin)) + 1.
    */
  def index(series: DataFrame, maxWin: Long): SeriesIndex = {
    val levels = levelsFor(maxWin)
    val w = Window.orderBy("t")
    var df = series
      .select(col("t").cast("long").as("t"), col("y").cast("double").as("y"))
      .withColumn("s", sum("y").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("m0", col("y"))
    for (j <- 1 until levels) {
      // ms[j](t) = max(ms[j-1](t), ms[j-1](t + 2^(j-1))); truncated windows
      // near the series end are never probed (probe guarantees b <= tMax).
      df = df.withColumn(
        s"m$j",
        greatest(col(s"m${j - 1}"),
          coalesce(lead(col(s"m${j - 1}"), 1 << (j - 1)).over(w), lit(Double.NegativeInfinity))))
    }
    val indexed = df
      .withColumn("ms", array((0 until levels).map(j => col(s"m$j")): _*))
      .drop((0 until levels).map(j => s"m$j"): _*)
    val bounds = series.agg(min("t"), max("t")).head()
    SeriesIndex(indexed, bounds.getLong(0), bounds.getLong(1), levels)
  }

  /** Row shape produced by the kernel builds. */
  final case class IndexedPoint(t: Long, y: Double, s: Double, ms: Array[Double])

  /** Per-partition pass-1 digest: row count, sequential partial sum, and
    * the first/last keys — a few dozen bytes per partition. */
  private final case class PartStats(
      pid: Int, cnt: Long, sum: Double, tFirst: Long, tLast: Long)

  /** Routes halo rows to the partition that consumes them (key IS the
    * target partition index). */
  private final class IndexPartitioner(override val numPartitions: Int)
      extends org.apache.spark.Partitioner {
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** Kernel halo budget: the halo exchange duplicates up to
    * `2^(levels-1)-1` rows per partition through a shuffle and each task
    * buffers its own rows plus that lookahead, so beyond this depth the
    * duplicated traffic and the per-task `owned + halo` buffer rival the
    * partitions themselves (and the Int shift would overflow at 32) — the
    * kernel builds fall back to the declarative formulation there. 2^23-row
    * windows cover any domain a CP grid can enumerate cell-by-cell. */
  private val MaxKernelLevels = 24

  /** Partitioned two-pass kernel build — the scale path. The series is
    * range-partitioned and sorted on its key, then:
    *
    *   pass 1 streams each partition once, collecting (count, sequential
    *   partial sum, first/last key) — a few dozen bytes per partition,
    *   folded on the driver into per-partition ordinal offsets and
    *   prefix-sum carry-ins;
    *
    *   the lookahead halos move through a SHUFFLE, not the driver: each
    *   row whose global index lands within `2^(levels-1)-1` rows after
    *   some earlier partition's end emits a copy keyed by that partition
    *   (short partitions chain naturally — a row can serve several), and
    *   an index partitioner delivers the copies;
    *
    *   pass 2 zips each partition with its shuffled halo and builds prefix
    *   sums (seeded with the carry-in) plus all sparse-table levels over
    *   owned-rows ++ halo, emitting only the owned rows.
    *
    * No single-partition stage anywhere: both passes are embarrassingly
    * parallel over the range partitions, the driver holds only
    * O(partitions) counters, and halo traffic is O(partitions x maxWin)
    * rows spread across the cluster. Sparse-table levels are bit-identical
    * to a sequential build (max is associative; the halo supplies exactly
    * the values a truncated partition is missing, -Inf past the true series
    * end). Prefix sums associate differently than one sequential sweep, so
    * they agree bit-for-bit only when the sums are FP-exact and to ~ulp
    * otherwise — EngineSpec asserts both. Downstream outputs round to 6
    * decimals (matching the reference's display precision), so the oracle
    * gate is insensitive to the association order.
    *
    * The result is materialized (persisted + counted) before the sorted
    * input is released: an index exists to be probed many times, and eager
    * build keeps the two passes reading one cached sort instead of
    * re-shuffling per probe.
    */
  private def twoPassBuild(
      sorted: Dataset[(Long, Double)], levels: Int, ordinal: Boolean): SeriesIndex = {
    val spark = sorted.sparkSession
    import spark.implicits._
    val look = (1 << (levels - 1)) - 1
    val ds = sorted.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val stats = ds.rdd.mapPartitionsWithIndex { (pid, it) =>
        var cnt = 0L; var sum = 0.0
        var tFirst = 0L; var tLast = 0L
        it.foreach { case (t, y) =>
          if (cnt == 0L) tFirst = t
          tLast = t
          cnt += 1; sum += y
        }
        Iterator.single(PartStats(pid, cnt, sum, tFirst, tLast))
      }.collect().sortBy(_.pid)
      val nonEmpty = stats.filter(_.cnt > 0)
      require(nonEmpty.nonEmpty, "cannot index an empty series")
      val nParts = stats.length
      val n = stats.map(_.cnt).sum
      val tOff = new Array[Long](nParts)
      val sCarry = new Array[Double](nParts)
      var c = 0L; var sc = 0.0; var i = 0
      while (i < nParts) {
        tOff(i) = c; sCarry(i) = sc
        c += stats(i).cnt; sc += stats(i).sum; i += 1
      }
      // cumEnd(q) = global index of the first row AFTER partition q
      val cumEnd = Array.tabulate(nParts)(q => tOff(q) + stats(q).cnt)
      val bc = spark.sparkContext.broadcast((tOff, sCarry, cumEnd))
      // halo exchange: a row at global index g is lookahead material for
      // every earlier partition q with cumEnd(q) in (g - look, g]; emit a
      // (q, (g, y)) copy per consumer and shuffle by target partition.
      // Only a partition's first `look` rows can have an earlier consumer
      // (g - look < cumEnd(pid-1) <= tOff(pid) requires k < look), so the
      // pass reads just that prefix of each partition.
      val haloRdd = ds.rdd.mapPartitionsWithIndex { (pid, it) =>
        val (tOffB, _, cumEndB) = bc.value
        var k = 0L
        it.take(look).flatMap { case (_, y) =>
          val g = tOffB(pid) + k
          k += 1L
          // first q with cumEnd(q) > g - look (cumEnd is non-decreasing)
          var q = java.util.Arrays.binarySearch(cumEndB, g - look + 1)
          if (q < 0) q = -q - 1
          else { while (q > 0 && cumEndB(q - 1) == g - look + 1) q -= 1 }
          if (q >= pid || cumEndB(q) > g) Nil // no earlier consumer
          else {
            val out = List.newBuilder[(Int, (Long, Double))]
            while (q < pid && cumEndB(q) <= g) {
              out += ((q, (g, y)))
              q += 1
            }
            out.result()
          }
        }
      }.partitionBy(new IndexPartitioner(nParts))
      val indexed = ds.rdd.zipPartitions(haloRdd, preservesPartitioning = true) {
        (it, haloIt) =>
          val rows = it.toArray
          if (rows.isEmpty) Iterator.empty
          else {
            val (tOffB, sCarryB, _) = bc.value
            val pid = org.apache.spark.TaskContext.getPartitionId()
            val own = rows.length
            val ys = new Array[Double](own)
            var k = 0
            while (k < own) { ys(k) = rows(k)._2; k += 1 }
            // shuffled halo arrives unordered: sort by global index
            val halo = haloIt.toArray.sortBy(_._2._1).map(_._2._2)
            val ext = new Array[Double](own + halo.length)
            System.arraycopy(ys, 0, ext, 0, own)
            System.arraycopy(halo, 0, ext, own, halo.length)
            val m = buildLevels(ext, levels)
            val s = new Array[Double](own)
            var acc = sCarryB(pid)
            k = 0
            while (k < own) { acc += ys(k); s(k) = acc; k += 1 }
            val off = tOffB(pid)
            Iterator.tabulate(own) { q =>
              val t = if (ordinal) off + q + 1L else rows(q)._1
              IndexedPoint(t, ys(q), s(q), Array.tabulate(levels)(j => m(j)(q)))
            }
          }
      }.toDF().persist(StorageLevel.MEMORY_AND_DISK)
      indexed.count() // materialize before releasing the sorted input
      val (tMin, tMax) =
        if (ordinal) (1L, n) else (nonEmpty.head.tFirst, nonEmpty.last.tLast)
      SeriesIndex(indexed, tMin, tMax, levels)
    } finally { ds.unpersist(); () }
  }

  /** Kernel index build for a series that already carries its dense key
    * `(t, y)`. Partitioned two-pass ([[twoPassBuild]]); semantically equal
    * to the declarative [[index]] (asserted in EngineSpec).
    */
  def indexFast(series: DataFrame, maxWin: Long): SeriesIndex = {
    val spark = series.sparkSession
    import spark.implicits._
    val levels = levelsFor(maxWin)
    if (levels > MaxKernelLevels) return index(series, maxWin)
    val sorted = series
      .select(col("t").cast("long").as("t"), col("y").cast("double").as("y"))
      .repartitionByRange(col("t"))
      .sortWithinPartitions("t")
      .as[(Long, Double)]
    twoPassBuild(sorted, levels, ordinal = false)
  }

  /** [[indexFast]] fused with ordinal-key assignment: range-partitions and
    * sorts by `orderCol`, then assigns the dense `t = 1..N` from the pass-1
    * per-partition row-count offsets — no global row_number window, no
    * separate count job. */
  def indexFastFromOrdered(
      df: DataFrame, orderCol: String, valueCol: String, maxWin: Long): SeriesIndex = {
    val spark = df.sparkSession
    import spark.implicits._
    val levels = levelsFor(maxWin)
    if (levels > MaxKernelLevels)
      return index(
        withTimeId(df.select(col(orderCol), col(valueCol)), Seq(col(orderCol)))
          .select(col("t"), col(valueCol).as("y")),
        maxWin)
    val sorted = df
      .select(col(orderCol).as("__ord"), col(valueCol).cast("double").as("y"))
      .repartitionByRange(col("__ord"))
      .sortWithinPartitions("__ord")
      .select(lit(0L).as("t"), col("y")) // narrow projection: order preserved
      .as[(Long, Double)]
    twoPassBuild(sorted, levels, ordinal = true)
  }

  private[engine] def buildLevels(ys: Array[Double], levels: Int): Array[Array[Double]] = {
    val n = ys.length
    val m = Array.ofDim[Double](levels, n)
    System.arraycopy(ys, 0, m(0), 0, n)
    var j = 1
    while (j < levels) {
      val half = 1 << (j - 1)
      var i = 0
      while (i < n) {
        val other = if (i + half < n) m(j - 1)(i + half) else Double.NegativeInfinity
        m(j)(i) = math.max(m(j - 1)(i), other)
        i += 1
      }
      j += 1
    }
    m
  }

  /** Join `grid` to the index at position `pos` (an expression over grid
    * columns), adding `{prefix}_y`, `{prefix}_s` and `{prefix}_ms`.
    * Left join: positions outside [tMin,tMax] yield nulls (callers clamp).
    *
    * NOTE on broadcast reuse: forcing all probes onto ONE shared exchange
    * is not expressible against Catalyst — column pruning and inferred
    * filters rewrite each probe's broadcast child differently (verified:
    * identical full-width projections still canonicalize apart once pruned),
    * and that pruning is the behavior we want. Probe-count reduction happens
    * one level up instead: [[MemoProbe]] merges probes that share a position
    * expression, so a 2-constraint refined query issues 4 index joins (one
    * per distinct position), not 6 (one per constraint leg) — measured in
    * PLANS.md. Each remaining broadcast ships only the columns its sharers
    * read.
    */
  private def lookupAt(
      grid: DataFrame, idx: SeriesIndex, pos: Column, prefix: String): DataFrame = {
    val probe = idx.df.select(Seq("t", "y", "s", "ms").map(c => col(c).as(s"${prefix}_$c")): _*)
    grid.join(probe, pos === col(s"${prefix}_t"), "left").drop(s"${prefix}_t")
  }

  /** floor(log2(len)) as an int column; len >= 1, exact for len <= 2^53.
    *
    * The double log is only ulp-accurate, so near powers of two a naive
    * floor(+epsilon) can land one level off (probing a sparse-table range
    * with b2 < a, or past the array end). Instead correct the approximate
    * level by comparing against exact powers of two — 2^j is exactly
    * representable as a double for every level we can hold (j < 64).
    */
  private[engine] def log2Floor(len: Column): Column = {
    val d = len.cast("double")
    val j0 = floor(log(2.0, d)).cast("int")
    val p = pow(lit(2.0), j0.cast("double"))
    when(p > d, j0 - lit(1))
      .when(p * lit(2.0) <= d, j0 + lit(1))
      .otherwise(j0)
  }

  /** The [[WindowProbe]] view of a [[SeriesIndex]]: constraint formulas are
    * written once against this surface and run identically on the
    * multi-series path ([[MultiSeriesEngine.probe]]). Position-memoizing —
    * see [[MemoProbe]]; create one instance per query. */
  def probe(idx: SeriesIndex): WindowProbe = new MemoProbe {
    val tMinCol: Column = lit(idx.tMin)
    val tMaxCol: Column = lit(idx.tMax)
    protected def lookupAll(grid: DataFrame, pos: Column, prefix: String): DataFrame =
      SeriesOps.lookupAt(grid, idx, pos, prefix)
  }
}
