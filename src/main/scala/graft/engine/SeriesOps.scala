package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, max, min}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Building blocks for a time series `(t, y)`: its dense ascending key and
  * its persisted form.
  *
  * The reference slices one contiguous NumPy array per query and aggregates
  * each window directly (reference: server.py:190-206, 303-351). The CP
  * kernel ([[LocalSolve]]) does the same per chunk: it reads the raw rows of
  * one `[lo, hi]` key range into task memory and derives every window mean
  * and maximum there, so nothing beyond the raw series is built or stored.
  */
object SeriesOps {

  /** A series `(t: Long dense ascending, y: Double)` with its key bounds;
    * `df` is persisted when it comes from [[persisted]]. */
  final case class SeriesIndex(df: DataFrame, tMin: Long, tMax: Long)

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

  /** `series` persisted and materialized: the bounds aggregate fills the
    * cache, one job. */
  def persisted(series: DataFrame): SeriesIndex = {
    val df = raw(series).persist(StorageLevel.MEMORY_AND_DISK)
    try { val (tMin, tMax) = bounds(df); SeriesIndex(df, tMin, tMax) }
    catch { case e: Throwable => df.unpersist(); throw e }
  }
}
