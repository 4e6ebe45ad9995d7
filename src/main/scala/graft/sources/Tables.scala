package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The one reader of the suite's tables: `<dir>/<name>.parquet`.
  *
  *  - **Remembered schema.** Spark infers a parquet schema by reading a
  *    footer in a job of its own, on every `read.parquet`. The reader
  *    infers a table's schema once per session
  *    ([[graft.engine.SessionArtifacts]], kind `schema`) and passes it to
  *    later reads through `read.schema(…)`, which start no job. The key is
  *    the path plus the size and modification time of every file under
  *    it, so a rewritten table is inferred again. A table that is one file
  *    is inferred on the driver from its footer, so not even its first
  *    read starts a job.
  *  - **One partition under the small-input gate.** When [[Fanout.isSmall]]
  *    says the scan is small, the reader returns it coalesced to one
  *    partition. `SinglePartition` satisfies every required distribution,
  *    so a query over such scans plans no shuffle exchange and runs one
  *    stage per action plus its broadcasts. Operators that fan a small
  *    input out across cores ([[Fanout.small]]) still do so on top of it.
  *    With the gate at 0 (the test sessions) the scan is returned as read.
  *
  * Conf-dependent inference stays with the caller: `events` sets the
  * legacy nanos conf before it reads, so the remembered schema is the one
  * inferred under it. */
object Tables {

  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = graft.engine.SessionArtifacts.getOrBuild[StructType](
      spark, "schema", s"$path|${fingerprint(spark, path)}") { _ => infer(spark, path) }
    val df = spark.read.schema(schema).parquet(path)
    if (Fanout.isSmall(df)) df.coalesce(1) else df
  }

  /** The schema `spark.read.parquet(path)` infers. A single file's footer
    * is read here on the driver and converted by Spark's own footer-schema
    * reader under the session's conf, so the inference starts no job; a
    * directory goes through Spark's inference (partition discovery,
    * summary files). */
  private def infer(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val status = p.getFileSystem(conf).getFileStatus(p)
    if (!status.isFile) spark.read.parquet(path).schema
    else {
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(status, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
      // the converter Spark's inference task builds: these five settings
      // from the session, the others at their defaults
      val c = spark.sessionState.conf
      ParquetFileFormat.readSchemaFromFooter(new Footer(p, footer),
        new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = c.isParquetBinaryAsString,
          assumeInt96IsTimestamp = c.isParquetINT96AsTimestamp,
          inferTimestampNTZ = c.parquetInferTimestampNTZEnabled,
          nanosAsLong = c.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation = c.parquetReaderRespectUnknownTypeAnnotation))
    }
  }

  /** Size and modification time of every file under `path`, in name order. */
  private def fingerprint(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val files = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      files += ((f.getPath.getName, f.getLen, f.getModificationTime))
    }
    files.sorted.map { case (n, len, t) => s"$n:$len:$t" }.mkString(",")
  }
}
