package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit, max, min, var_pop}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Building blocks for a time series `(t, y)`: its dense ascending key and
  * its persisted form.
  *
  * The reference slices one contiguous NumPy array per query and aggregates
  * each window directly (reference: server.py:190-206, 303-351). The CP
  * kernel ([[LocalSolve]]) does the same per chunk: it reads the raw rows of
  * one `[lo, hi]` key range into memory and derives every window mean and
  * maximum there, so nothing beyond the raw series is built or stored. A
  * series of at most [[LocalSolve.CellCap]] rows stays resident on the
  * driver as that array, so a one-chunk query slices it with no Spark job.
  */
object SeriesOps {

  /** A series `(t: Long dense ascending, y: Double)` with its key bounds;
    * `df` is persisted when it comes from [[persisted]], which also fills
    * `variance` (`var_pop(y)`; NaN when not computed) and, for a dense
    * series of at most [[LocalSolve.CellCap]] rows, `resident`: every `y`
    * at index `t - tMin`. */
  final case class SeriesIndex(df: DataFrame, tMin: Long, tMax: Long,
      variance: Double = Double.NaN, resident: Option[Array[Double]] = None)

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

  /** The series' `(t, y)` columns as Long and Double. */
  def raw(series: DataFrame): DataFrame =
    series.select(col("t").cast("long").as("t"), col("y").cast("double").as("y"))

  /** The key bounds of a series, one aggregate job. */
  def bounds(series: DataFrame): (Long, Long) = {
    val b = series.agg(min(col("t").cast("long")), max(col("t").cast("long"))).head()
    require(!b.isNullAt(0), "cannot query an empty series")
    (b.getLong(0), b.getLong(1))
  }

  /** `n` series values placed by key, `y` of key `t` at index `t - lo`, from
    * rows that arrive in any order: [[dense]] when they were every key of
    * `[lo, lo + n)` exactly once. */
  private[graft] final class Placed(lo: Long, n: Int) {
    val y = new Array[Double](n)
    private val seen = new java.util.BitSet(n)
    private var got = 0
    def put(t: Long, v: Double): Unit = {
      val k = (t - lo).toInt
      seen.set(k); y(k) = v; got += 1
    }
    def rows: Int = got
    def keys: Int = seen.cardinality
    def dense: Boolean = got == n && keys == n
  }

  /** The `(t, y)` rows of a [[raw]] frame on the driver, one job: each
    * partition ships its rows packed as two primitive arrays, not as `Row`
    * objects. None when a row holds a null. */
  private[graft] def collectRows(rows: DataFrame): Option[Array[(Array[Long], Array[Double])]] = {
    val parts = rows.queryExecution.toRdd.mapPartitions { it =>
      val (ts, ys) = (Array.newBuilder[Long], Array.newBuilder[Double])
      var nulls = false
      it.foreach { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) nulls = true
        else { ts += r.getLong(0); ys += r.getDouble(1) }
      }
      Iterator(if (nulls) None else Some((ts.result(), ys.result())))
    }.collect()
    if (parts.contains(None)) None else Some(parts.flatten)
  }

  /** Every `y` of a series of `n` rows whose keys span `[tMin, tMin + n)`,
    * at index `t - tMin`, one job; None when a key repeats (and so another
    * is missing) or a row holds a null. */
  private def residentRows(df: DataFrame, tMin: Long, n: Int): Option[Array[Double]] =
    collectRows(df).flatMap { parts =>
      val placed = new Placed(tMin, n)
      for ((ts, ys) <- parts; i <- ts.indices) placed.put(ts(i), ys(i))
      if (placed.dense) Some(placed.y) else None
    }

  /** `series` persisted and materialized: one aggregate job fills the cache
    * and takes the bounds, row count and `var_pop(y)`; a dense series of at
    * most [[LocalSolve.CellCap]] rows is then collected into
    * [[SeriesIndex.resident]], a second job. Driver memory stays bounded by
    * the cap whatever the series size: nothing is collected before the
    * count is known. */
  def persisted(series: DataFrame): SeriesIndex = persisted(series, LocalSolve.CellCap)

  /** [[persisted]] with a series of at most `cap` rows resident: tests keep
    * a series off the driver with a small cap. */
  private[graft] def persisted(series: DataFrame, cap: Long): SeriesIndex = {
    val df = raw(series).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val s = df.agg(min(col("t")), max(col("t")), count(lit(1)), var_pop(col("y"))).head()
      require(!s.isNullAt(0), "cannot query an empty series")
      val (tMin, tMax, n) = (s.getLong(0), s.getLong(1), s.getLong(2))
      val variance = if (s.isNullAt(3)) Double.NaN else s.getDouble(3)
      val resident =
        if (n <= cap && tMax - tMin + 1 == n) residentRows(df, tMin, n.toInt)
        else None
      SeriesIndex(df, tMin, tMax, variance, resident)
    } catch { case e: Throwable => df.unpersist(); throw e }
  }
}
