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

  test("Bench: SPARK_GRAFT_BENCH_ONLY selects exact names, not prefixes") {
    val all = Seq("q170_x", "q17_ts", "q171_y", "q01_a")
    assert(Bench.select(all, None) == all.sorted)
    assert(Bench.select(all, Some("q17_ts")) == Seq("q17_ts"))
    assert(Bench.select(all, Some("q17")) == Nil)
    assert(Bench.select(all, Some(" q01_a , q171_y ")) == Seq("q01_a", "q171_y"))
  }
}
