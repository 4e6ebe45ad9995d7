package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scale-adaptive scan fan-out — the guide §2.5 "input skew" remedy
  * (one small/unsplittable input ⇒ repartition immediately after the
  * read), gated so it exists ONLY where the skew exists.
  *
  * Why: a corpus that arrives as one parquet row group scans as ONE
  * task, and whole-stage codegen fuses every downstream per-row kernel
  * (minhash md5s, payload render + decode, tokenizer training counts)
  * into that scan stage — so a 32-core executor runs the heavy part of
  * the query single-threaded. At the driver's bench scale the whole
  * documents table is a 0.6 MB single-row-group file, which parquet
  * cannot split below row-group granularity (`files.maxPartitionBytes`
  * / `minPartitionNum` cannot help).
  *
  * Gate: the plan's ESTIMATED size (a free logical-stats read — file
  * bytes for a bare scan) at or under `spark.graft.fanout.maxBytes`
  * (default 64 MB) fans out to the session's default parallelism;
  * anything larger is returned UNCHANGED — a production corpus splits
  * into ≥ cores of row groups by itself, so at 100 TB this is the
  * identity and the no-content-bytes-in-exchanges shuffle discipline is
  * untouched (the one fan-out exchange below the gate carries ≤ 64 MB
  * by construction, the same harmless class as a broadcast). Set the
  * conf to 0 to disable — the test sessions do, so every PlanSpec pin
  * keeps asserting the at-scale plan shape.
  */
object Fanout {
  val MaxBytesKey = "spark.graft.fanout.maxBytes"
  private val MaxBytesDefault = 64L * 1024 * 1024

  /** The gate decision alone: `df`'s estimated bytes at or under the
    * conf'd maximum (and the fan-out enabled). Exposed so a downstream
    * operator can reuse the SAME small-input decision for a sibling
    * remedy (e.g. pinning the partition count of a fan-out join whose
    * tiny exchange AQE would coalesce to one task) without inventing a
    * second, differently-calibrated gate. */
  def isSmall(df: DataFrame): Boolean = {
    val gate = maxBytes(df.sparkSession)
    val bytes =
      try df.queryExecution.optimizedPlan.stats.sizeInBytes
      catch { case _: Throwable => BigInt(Long.MaxValue) }
    gate > 0 && bytes <= BigInt(gate)
  }

  /** The small-input plan class is on (the conf'd maximum above 0). */
  def enabled(spark: SparkSession): Boolean = maxBytes(spark) > 0

  private def maxBytes(spark: SparkSession): Long =
    try spark.conf.get(MaxBytesKey, MaxBytesDefault.toString).toLong
    catch { case _: NumberFormatException => MaxBytesDefault }

  def small(df: DataFrame): DataFrame =
    if (isSmall(df))
      df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else df
}
