package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The Bench and Verify harnesses fail loud: a planted throwing query is
  * reported by name (the mains exit nonzero on it) after every other
  * output is written, instead of reading as a fast or silently missing
  * query. */
class HarnessSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private type Q = (SparkSession, String) => DataFrame
  private val ok: Q = (s, _) => s.range(3).toDF("x")
  private val boom: Q = (_, _) => throw new IllegalStateException("planted")

  private def tmpDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toString
    graft.cli.Cleanup.deleteOnExit(d)
    d
  }

  test("Verify: a planted throw is listed, every other output still written") {
    val out = tmpDir("graft_verify_spec")
    val failed = Verify.dump(spark, tmpDir("graft_verify_sf"), out,
      Map("ok_q" -> ok, "boom_q" -> boom))
    assert(failed == Seq("boom_q"))
    assert(spark.read.parquet(s"$out/ok_q").count() == 3)
    assert(!Files.exists(Paths.get(s"$out/boom_q")))
    assert(Files.exists(Paths.get(s"$out/oracle_sql.json")))
  }

  test("Bench: throws in warm-up or in a timed pass are failures, not timings") {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    // passes the warm-up, throws in the timed pass
    val flaky: Q = (s, d) =>
      if (calls.incrementAndGet() > 1) throw new IllegalStateException("planted")
      else ok(s, d)
    val path = s"${tmpDir("graft_bench_spec")}/bench.json"
    val failed = Bench.run(spark, tmpDir("graft_bench_sf"),
      Map("ok_q" -> ok, "boom_q" -> boom, "flaky_q" -> flaky),
      Seq("boom_q", "flaky_q", "ok_q"), passes = 1, path, force = true)
    assert(failed == Seq("boom_q", "flaky_q"))
    val json = Files.readString(Paths.get(path))
    assert(json.contains(""""failed":["boom_q","flaky_q"]"""), json)
    assert(json.contains(""""queries":{"ok_q":"""), json)
    assert(!json.contains(""""boom_q":""") && !json.contains(""""flaky_q":"""), json)
  }

  test("Bench: the artifact carries each timed query's layers and plan; stdout keeps its two lines") {
    import com.fasterxml.jackson.databind.ObjectMapper
    import scala.jdk.CollectionConverters._
    val local: Q = (s, _) =>
      s.createDataFrame(Seq((1L, "a"), (2L, "b"))).toDF("k", "v")
    val agg: Q = (s, _) =>
      s.range(0, 1000, 1, 4).groupBy((org.apache.spark.sql.functions.col("id") % 7).as("g")).count()
    val path = s"${tmpDir("graft_bench_spec")}/bench.json"
    val out = new java.io.ByteArrayOutputStream
    val failed = Console.withOut(out) {
      Bench.run(spark, tmpDir("graft_bench_sf"), Map("local_q" -> local, "agg_q" -> agg),
        Seq("agg_q", "local_q"), passes = 3, path, force = true)
    }
    assert(failed.isEmpty)
    val json = new ObjectMapper
    val file = json.readTree(Files.readString(Paths.get(path)))
    def fields(n: com.fasterxml.jackson.databind.JsonNode): Set[String] =
      n.fieldNames.asScala.toSet
    for (name <- Seq("agg_q", "local_q")) {
      assert(fields(file.get("layers").get(name)) ==
        Set("spark.jobs", "spark.stages", "spark.tasks", "spark.busy_ms", "spark.empty_tasks",
          "spark.executor_run_ms", "spark.executor_cpu_ms", "spark.gc_ms", "spark.input_bytes",
          "spark.output_bytes", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
          "spark.planning_ms", "spark.aqe_replans", "spark.driver_gap_ms"), name)
      assert(fields(file.get("plan").get(name)) == graft.tools.Profile.ShapeKeys.toSet, name)
    }
    def layer(q: String, k: String): Double = file.get("layers").get(q).get(k).asDouble
    // each query's layers hold exactly the jobs of its own count: Spark
    // counts even a local relation through an aggregate and an exchange
    for ((name, q) <- Seq("local_q" -> local, "agg_q" -> agg)) {
      val direct = graft.tools.Profile.record(spark)(q(spark, "").count()).jobs.size
      assert(layer(name, "spark.jobs") == direct, name)
    }
    assert(layer("agg_q", "spark.jobs") >= 1 && layer("agg_q", "spark.tasks") >= 1)
    assert(file.get("plan").get("agg_q").get("exchanges").asInt >= 1)
    assert(file.get("plan").get("local_q").get("file_scans").asInt == 0)
    val lines = out.toString("UTF-8").linesIterator.filter(_.startsWith("{")).toSeq
    assert(lines.size == 2, lines)
    val (canonical, summary) = (json.readTree(lines(0)), json.readTree(lines(1)))
    assert(fields(canonical) ==
      Set("metric", "value", "unit", "health", "failed", "queries", "sf"), lines(0))
    assert(fields(canonical.get("queries")) == Set("agg_q", "local_q"), lines(0))
    assert(fields(summary) == Set("metric", "value", "unit", "n_queries", "n_failed",
      "sec_per_query", "health", "sf", "detail"), lines(1))
    assert(summary.get("n_queries").asInt == 2 && summary.get("n_failed").asInt == 0, lines(1))
  }

  test("Bench: SPARK_GRAFT_BENCH_ONLY selects exact names, not prefixes") {
    val all = Seq("q170_x", "q17_ts", "q171_y", "q01_a")
    assert(Bench.select(all, None) == all.sorted)
    assert(Bench.select(all, Some("q17_ts")) == Seq("q17_ts"))
    assert(Bench.select(all, Some("q17")) == Nil)
    assert(Bench.select(all, Some(" q01_a , q171_y ")) == Seq("q01_a", "q171_y"))
  }
}
