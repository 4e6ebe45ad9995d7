package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare
  * (`tools/check_oracle.py`).
  *
  * Exit codes: 0 ok, 4 some query threw (listed on stderr), 3 the codegen
  * gate tripped — both decided after every output is on disk. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    graft.tools.CodegenGuard.install()
    val spark = GraftSession.build()
    // dev-only subset filter (comma-joined substrings); unset = all queries
    // (the driver contract) — lets a single query iterate without a 109-query
    // session
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.exists(name.contains)) }
    val failed = try dump(spark, sfDir, outDir, selected) finally spark.stop()
    // both gates run AFTER every result parquet and the oracle json are on
    // disk, so the DuckDB compare has its inputs even when a gate
    // trips; the nonzero exit makes the failure un-shippable
    if (graft.tools.CodegenGuard.failureCount > 0)
      System.err.println(s"[verify] ${graft.tools.CodegenGuard.failureSummary}")
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(4)
    }
    if (graft.tools.CodegenGuard.failureCount > 0) sys.exit(3)
  }

  /** Write each query's result to `outDir/<name>` and the oracle SQL to
    * `outDir/oracle_sql.json`; returns the names of the queries that threw,
    * sorted. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = queries.toSeq.flatMap { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // release any checkpoint the query returned (q54's labels) once
        // it is on disk — 57 queries in one session must not accumulate
        // block-manager state (safe: every invocation builds fresh
        // checkpoints; session caches are parquet-backed, never marked)
        try df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        finally graft.engine.Checkpoints.release(df)
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed.sorted
  }
}
