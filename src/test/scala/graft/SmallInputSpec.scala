package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Checkpoints, SessionArtifacts}
import graft.sources.{Fanout, Tables}
import graft.tools.Profile

/** The small-input plan class ([[graft.sources.Tables]]): under the gate a
  * suite table reads as one partition, so a query over such scans plans no
  * shuffle exchange. The test session keeps the gate at 0 (the at-scale
  * plans); here each query also runs with it on, in the same session, and
  * must return the same schema and rows. */
class SmallInputSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  /** perfbench's `suite_mix`: one query per family. */
  val suiteMix = Seq("q03_agg_groupby", "q11_join_shuffle_agg", "q15_window_rank",
    "q23_cp_refined_relax", "q30_dedup_jaccard", "q35_ann_bruteforce", "q140_bpe_tokens",
    "q121_image_dhash", "q195_hll_registers", "q203_pagerank_hosts",
    "q67_curation_pipeline", "q57_dedup_capped_verified")

  /** `body` with the small-input gate at its default (64 MB). */
  private def gated[A](body: => A): A = {
    val prev = spark.conf.get(Fanout.MaxBytesKey)
    spark.conf.unset(Fanout.MaxBytesKey)
    try body finally spark.conf.set(Fanout.MaxBytesKey, prev)
  }

  private def run(name: String): (String, Seq[String]) = {
    val df = SparkEntry.queries(name)(spark, sf)
    try (df.schema.treeString, df.collect().map(_.toString).toSeq.sorted)
    finally Checkpoints.release(df)
  }

  test("a seeded selection of suite queries returns the same schema and rows under the gate") {
    val rest = SparkEntry.queries.keys.toSeq.sorted.filterNot(suiteMix.contains)
    val picked = suiteMix ++ new scala.util.Random(13).shuffle(rest).take(10)
    assert(picked.distinct.size == 22)
    picked.foreach { name =>
      val atScale = run(name)
      val small = gated(run(name))
      assert(small._1 == atScale._1, s"$name: schema")
      assert(small._2 == atScale._2, s"$name: rows")
    }
  }

  test("under the gate q03, q15 and q195 plan no shuffle exchange and run one job") {
    Seq("q03_agg_groupby", "q15_window_rank", "q195_hll_registers").foreach { name =>
      run(name) // infers the schemas and builds any session artifact first
      val atScale = Profile.shape(SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan)
      assert(atScale("exchanges") > 0, s"$name at scale: $atScale")
      val p = gated(Profile.record(spark) {
        val df = SparkEntry.queries(name)(spark, sf)
        try df.collect() finally Checkpoints.release(df)
      })
      assert(p.plan("exchanges") == 0, s"$name: ${p.plan}")
      assert(p.jobs.size == 1, s"$name: ${p.jobs}")
    }
  }

  test("a table's schema is inferred once per session and again after a file changes") {
    import spark.implicits._
    val dir: Path = Files.createTempDirectory("small-input-spec")
    try {
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
      def builds = SessionArtifacts.stats.get("schema").map(_.builds).getOrElse(0L)
      val before = builds
      val first = Profile.record(spark)(Tables.read(spark, dir.toString, "t"))
      assert(first.jobs.nonEmpty, "the first read infers the schema")
      assert(builds == before + 1)
      val second = Profile.record(spark)(Tables.read(spark, dir.toString, "t"))
      assert(second.jobs.isEmpty, second.jobs)
      assert(builds == before + 1)
      // a new modification time on one data file is a new table
      val part = Files.list(dir.resolve("t.parquet")).filter(_.toString.endsWith(".parquet"))
        .findFirst().get
      Files.setLastModifiedTime(part, java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(part).toMillis - 60000L))
      val touched = Profile.record(spark)(Tables.read(spark, dir.toString, "t"))
      assert(touched.jobs.nonEmpty, "a touched file is inferred again")
      assert(builds == before + 2)
      assert(Tables.read(spark, dir.toString, "t").orderBy("k").collect().map(_.getString(1))
        .toSeq == Seq("a", "b"))
    } finally graft.cli.Cleanup.deleteRecursively(dir.toFile)
  }

  test("a one-file table's schema is read from its footer: no job, and Spark's own schema") {
    import spark.implicits._
    val dir: Path = Files.createTempDirectory("small-input-footer")
    try {
      // pyarrow-written suite tables, and one file written by Spark, whose
      // footer carries Spark's schema string
      val names = Seq("lineitem", "documents", "embeddings", "events")
      names.foreach(n => Files.copy(Paths.get(s"$sf/$n.parquet"), dir.resolve(s"$n.parquet")))
      Seq((1L, java.sql.Timestamp.valueOf("2020-01-01 00:00:00"), BigDecimal("1.50"), Seq(1, 2)))
        .toDF("k", "ts", "d", "xs").coalesce(1).write.parquet(s"$dir/spark_out")
      Files.copy(Files.list(dir.resolve("spark_out")).filter(_.toString.endsWith(".parquet"))
        .findFirst().get, dir.resolve("spark.parquet"))
      (names :+ "spark").foreach { n =>
        val p = Profile.record(spark)(Tables.read(spark, dir.toString, n))
        assert(p.jobs.isEmpty, s"$n: ${p.jobs}")
        assert(Tables.read(spark, dir.toString, n).schema ==
          spark.read.parquet(s"$dir/$n.parquet").schema, n)
      }
    } finally graft.cli.Cleanup.deleteRecursively(dir.toFile)
  }

  test("under the gate a one-partition checkpoint plans no exchange above it") {
    // one partition through an adaptive plan, whose partitioning the
    // checkpoint cannot see
    val df = spark.range(0, 1000, 1, 1).selectExpr("id % 7 as k", "id as v").distinct()
    def shape(q: org.apache.spark.sql.DataFrame) = Profile.shape(q.queryExecution.executedPlan)
    def agg(cp: org.apache.spark.sql.DataFrame) = cp.groupBy("k").count()
    def join(cp: org.apache.spark.sql.DataFrame) =
      cp.join(cp.select(col("k"), col("v").as("w")), "k")
    val atScale = Checkpoints.mark(df)
    val small = gated(Checkpoints.mark(df))
    try {
      assert(shape(agg(atScale))("exchanges") == 1)
      assert(shape(agg(small))("exchanges") == 0)
      // the checkpoint's stored size lets the join broadcast at planning
      assert(shape(join(atScale))("exchanges") == 2)
      assert(shape(join(small))("exchanges") == 0 && shape(join(small))("bhj") == 1)
      assert(agg(small).collect().toSet == agg(atScale).collect().toSet)
      assert(join(small).collect().toSet == join(atScale).collect().toSet)
      // more than one partition: the planner still places its exchanges
      val wide = gated(Checkpoints.mark(df.repartition(3)))
      try assert(shape(agg(wide))("exchanges") == 1)
      finally Checkpoints.release(wide)
    } finally {
      Checkpoints.release(atScale)
      Checkpoints.release(small)
    }
  }
}
