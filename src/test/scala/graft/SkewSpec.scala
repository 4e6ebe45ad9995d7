package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Skew
import graft.operators.Skew.SaltedAgg

class SkewSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  // 90% of rows share one hot key
  lazy val fact = (1 to 2000).map { i =>
    (if (i % 10 == 0) s"k${i % 7}" else "hot", i.toDouble, i.toLong)
  }.toDF("key", "v", "id")

  test("salted two-phase aggregation equals the plain aggregation") {
    val plain = fact.groupBy("key")
      .agg(sum("v").as("sum_v"), count(lit(1)).as("n"), max("v").as("max_v"))
      .collect().map(r => (r.getString(0), (r.getDouble(1), r.getLong(2), r.getDouble(3))))
      .toMap
    val salted = Skew.saltedAgg(fact, col("key"), col("id"), 8, Seq(
        SaltedAgg("v", sum, sum, "sum_v"),
        SaltedAgg("v", c => count(c), c => sum(c), "n"),
        SaltedAgg("v", max, max, "max_v")))
      .collect().map(r => (r.getString(0), (r.getDouble(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(salted == plain)
  }

  test("salted dim join equals the plain join") {
    val dim = Seq(("hot", "H"), ("k0", "A"), ("k3", "B")).toDF("key", "label")
    val plain = fact.join(dim, "key").agg(count(lit(1)), sum("v")).head()
    val salted = Skew.saltedJoin(fact, dim, "key", 8, col("id"))
      .agg(count(lit(1)), sum("v")).head()
    assert(salted == plain)
  }

  test("saltPlanFromSketch: hand-computed salts in the exact (wide-sketch) regime") {
    import graft.operators.Sketch
    // 80 hot + 16 mid + 4 tail = 100 occurrences; wide sketch -> exact
    // estimates; parts = 10 -> T = ceil(100/10) = 10
    val toks = (Seq.fill(80)("hot") ++ Seq.fill(16)("mid") ++
      Seq.fill(4)("tail")).toDF("w")
    val cells = Sketch.countMinCells(toks, "w", depth = 4, width = 4096)
    val plan = Skew.saltPlanFromSketch(cells, toks.select("w").distinct(),
        "w", 4, 4096, parts = 10)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(plan("hot") == ((80L, 8L)))   // ceil(80/10) = 8
    assert(plan("mid") == ((16L, 2L)))   // ceil(16/10) = 2
    assert(plan("tail") == ((4L, 1L)))   // ceil(4/10)  = 1, never 0
    // the parts cap engages when one key IS the whole stream
    val one = Seq.fill(50)("only").toDF("w")
    val c1 = Sketch.countMinCells(one, "w", 4, 4096)
    val p1 = Skew.saltPlanFromSketch(c1, one.distinct(), "w", 4, 4096, 10)
      .collect().head
    assert(p1.getLong(2) == 10L, "salts must cap at parts")
  }

  test("bloomReducedJoin equals the plain join and shrinks the fact exchange by the dim's selectivity") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // 50k fact rows over 5k keys; dim holds 2% of the key space as a
    // LITERAL key list — a key-predicate-derived dim would let
    // InferFiltersFromConstraints push the selection through the join
    // onto the fact statically (measured: both plans then shuffle the
    // same 1000 rows), which is exactly what a real dimension table's
    // non-key filter (q213's p_size = 1) cannot do
    val bigFact = spark.range(50000).select(
      pmod(col("id") * 31 + 7, lit(5000)).as("fk"),
      (col("id") % 100).cast("double").as("v"))
    val dim = (0 until 100)
      .map(i => ((i.toLong * i * 37 + i) % 5000, s"g${i % 7}"))
      .distinct.toDF("dk", "g")
    // runs the aggregated frame once, returning both the answer map and
    // the summed dataSize of every exchange that carries the fact key
    def run(df: org.apache.spark.sql.DataFrame)
        : (Map[String, (Long, Double)], Long) = {
      val m = df.collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      val bytes = graft.plans.PlanWalk.flatten(df.queryExecution.executedPlan)
        .collect { case s: ShuffleExchangeLike
          if s.output.exists(_.name == "fk") => s }
        .map(_.metrics.get("dataSize").map(_.value).getOrElse(0L)).sum
      (m, bytes)
    }
    // the baseline must be the UNFILTERED shuffle: Spark's own runtime
    // bloom filter also prunes this join at test scale (measured —
    // without disabling it, plain and reduced both shuffle the same
    // 1000 survivor rows). The explicit operator exists for the regime
    // the built-in abandons: its filter is silently clamped to
    // runtime.bloomFilter.maxNumBits (2^26), useless past ~10^7 dim
    // keys (bench/bloom_bench_1e7.txt), while the sketch-API build sizes itself.
    val conf = spark.conf
    val prevB = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val rfKey = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    val prevRf = conf.get(rfKey)
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set(rfKey, "false")
      val (rm, rb) = run(Skew.bloomReducedJoin(bigFact, dim, "fk", "dk")
        .groupBy("g").agg(count(lit(1)).as("n"), sum("v").as("sv")))
      val (pm, pb) = run(bigFact.join(dim, bigFact("fk") === dim("dk"))
        .groupBy("g").agg(count(lit(1)).as("n"), sum("v").as("sv")))
      assert(rm == pm, "prefilter must not change the answer")
      assert(pb > 0, "plain join must shuffle the fact side under -1 threshold")
      assert(rb < pb / 4,
        s"bloom prefilter shed too little: reduced $rb vs plain $pb bytes")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      conf.set(rfKey, prevRf)
    }
  }
}
