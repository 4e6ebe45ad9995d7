package graft

import org.apache.spark.sql.functions.{lit, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{MultiSeriesEngine, RefinementEngine}
import graft.parser.QueryParser

/** Cross-checks the partitioned multi-series engine against the single-series
  * engine run independently per series: same formulas, same clamps, same
  * per-series top-k.
  */
class MultiSeriesSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  val n = 70
  private def ys(sid: Long): IndexedSeq[Double] =
    (1 to n).map(i => (((i + sid * 37) * 2654435761L) % 1000) / 100.0)

  lazy val multi = (0L to 2L).flatMap { sid =>
    (1 to n).map(i => (sid, i.toLong, ys(sid)(i - 1)))
  }.toDF("sid", "t", "y")

  private val queries = Seq(
    "SELECT time_id, offset IN_DOMAIN [1, 50], [3, 8] FROM t.c " +
      "WHERE avg_amp() in [3, 7] MAX LIMIT REFINED 9",
    "SELECT time_id, offset IN_DOMAIN [5, 60], [2, 6] FROM t.c " +
      "WHERE avg_amp() in [8, 10] MAX and max_amp_excess_right(5) in [0, None] MAX " +
      "LIMIT REFINED 6",
    "SELECT time_id, offset IN_DOMAIN [1, 60], [3, 5] FROM t.c " +
      "WHERE max_amp_excess_left(7) in [None, 1] MIN",
    // unbounded lx: sparse table must be sized from the series extent
    "SELECT time_id, offset IN_DOMAIN [1, 60], [1, None] FROM t.c " +
      "WHERE avg_amp() in [4, 6] MAX LIMIT REFINED 8")

  test("multi-series execution equals per-series single-series execution") {
    for (q <- queries) {
      val spec = QueryParser.parse(q)
      val got = MultiSeriesEngine.execute(spark, multi, spec)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val expect = (0L to 2L).flatMap { sid =>
        val single = (1 to n).map(i => (i.toLong, ys(sid)(i - 1))).toDF("t", "y")
        RefinementEngine.execute(spark, single, spec)
          .collect().map(r => (sid, r.getLong(0), r.getLong(1)))
      }.toSet
      assert(got == expect, q)
    }
  }

  test("randomized specs: multi-series equals per-series single-series (seeded, 12 cases)") {
    // uneven series lengths so None domain sides bind differently per sid
    val lens = Map(0L -> n, 1L -> n, 2L -> 45)
    val uneven = multi.where($"t" <= (when($"sid" === 2L, lit(45L)).otherwise(lit(n.toLong))))
    lazy val singles = lens.map { case (sid, len) =>
      sid -> (1 to len).map(i => (i.toLong, ys(sid)(i - 1))).toDF("t", "y")
    }
    val rnd = new scala.util.Random(11)
    def side(v: => Long): String = if (rnd.nextInt(4) == 0) "None" else v.toString
    val fns = Seq("avg_amp()", "max_amp_excess_right(%d)", "max_amp_excess_left(%d)")
    val shapes = for (i <- 0 until 12) yield {
      // cycle the modes: refined tightening (wide intervals, most cells
      // satisfy), refined relaxation (narrow intervals), unrefined with
      // and without LIMIT
      val mode = i % 4
      val xLo = 1 + rnd.nextInt(20)
      val dom = s"[${side(xLo)}, ${side(xLo + 5 + rnd.nextInt(40))}], " +
        s"[${side(1 + rnd.nextInt(3))}, ${side(3 + rnd.nextInt(5))}]"
      val nCon = 1 + rnd.nextInt(3)
      val cons = (0 until nCon).map { _ =>
        val f = fns(rnd.nextInt(fns.size)).format(1 + rnd.nextInt(8))
        val tgt = if (rnd.nextBoolean()) "MAX" else "MIN"
        if (mode == 1) {
          // a narrow interval near the top of the value range: few cells
          val lo = (if (f.startsWith("avg")) 8 else 6) + rnd.nextInt(2)
          s"$f in [$lo, ${lo + 1}] $tgt"
        } else {
          val lo = if (f.startsWith("avg")) rnd.nextInt(6) else -rnd.nextInt(6)
          s"$f in [${side(lo)}, ${side(lo + 4 + rnd.nextInt(6))}] $tgt"
        }
      }
      val k = 1 + rnd.nextInt(10)
      val limit = mode match {
        case 0 | 1 => s" LIMIT REFINED $k"
        case 2 => s" LIMIT $k"
        case _ => ""
      }
      s"SELECT time_id, offset IN_DOMAIN $dom FROM t.c WHERE ${cons.mkString(" and ")}$limit"
    }
    // the generator reaches every shape the two engines bind differently
    val specs = shapes.map(QueryParser.parse)
    assert(specs.exists(s => s.refined) && specs.exists(s => !s.refined && s.limit.isEmpty))
    assert(specs.exists(s => !s.refined && s.limit.isDefined))
    assert(specs.exists(_.constraints.size == 1) && specs.exists(_.constraints.size == 3))
    val targets = specs.flatMap(_.constraints.map(_.target)).toSet
    assert(targets.size == 2)
    assert(specs.exists(s => Seq(s.xDomain.lo, s.xDomain.hi, s.lxDomain.lo, s.lxDomain.hi)
      .contains(None)))
    var relaxed, tightened = 0
    for ((q, spec) <- shapes.zip(specs)) {
      val got = MultiSeriesEngine.execute(spark, uneven, spec)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val expect = lens.keys.toSeq.flatMap { sid =>
        RefinementEngine.execute(spark, singles(sid), spec)
          .collect().map(r => (sid, r.getLong(0), r.getLong(1)))
      }.toSet
      assert(got == expect, q)
      if (spec.refined) {
        // which refinement mode ran: fewer satisfying cells than k in some
        // series means relaxation there, at least k means tightening
        val satisfying = MultiSeriesEngine.execute(spark, uneven,
            spec.copy(refined = false, limit = None))
          .groupBy("sid").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        lens.keys.foreach { sid =>
          if (satisfying.getOrElse(sid, 0L) < spec.limit.get) relaxed += 1 else tightened += 1
        }
      }
    }
    assert(relaxed > 0 && tightened > 0, s"relaxed=$relaxed tightened=$tightened")
  }

  test("refined LIMIT queries release their stats and index checkpoints") {
    val spec = QueryParser.parse(queries(1))
    def runOnce(): Unit = {
      val df = MultiSeriesEngine.execute(spark, multi, spec)
      assert(df.collect().nonEmpty)
      graft.engine.Checkpoints.release(df)
    }
    runOnce()
    val pinned = spark.sparkContext.getPersistentRDDs.size
    (1 to 3).foreach { i =>
      runOnce()
      assert(spark.sparkContext.getPersistentRDDs.size == pinned, s"after query $i")
    }
  }

  test("None domain sides bind per series") {
    // series extents differ: truncate sid=2 to 40 points
    val uneven = multi.where($"sid" =!= 2L || $"t" <= 40L)
    val spec = QueryParser.parse(
      "SELECT time_id, offset IN_DOMAIN [None, None], [4, 4] FROM t.c " +
        "WHERE avg_amp() in [0, 10] MAX")
    val got = MultiSeriesEngine.execute(spark, uneven, spec)
      .groupBy("sid").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // unrefined, all cells satisfy: sid 0/1 have (70-4) cells, sid 2 has 36
    assert(got(0L) == 66 && got(1L) == 66 && got(2L) == 36)
  }

  test("index build carries no single-partition window (partitioned by sid)") {
    val idx = MultiSeriesEngine.index(multi, 16)
    val plan = idx.df.queryExecution.executedPlan.toString
    assert(plan.contains("Window") && plan.contains("sid"), plan.take(1500))
  }

  test("per-sid kernel index build equals the declarative windowed build") {
    val a = MultiSeriesEngine.index(multi, 16)
    val b = MultiSeriesEngine.indexFast(multi, 16)
    assert(a.levels == b.levels)
    def rows(i: MultiSeriesEngine.MsIndex) = i.df.orderBy("sid", "t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getSeq[Double](4)))
      .toSeq
    // bit-equal including prefix sums: both accumulate sequentially per sid
    assert(rows(a) == rows(b))
    // and no Window / per-level lead stages in the kernel plan
    val plan = b.df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(1500))
  }

  test("one giant + many small series: the giant routes to the partitioned build") {
    // sid 9 is 600 rows — over a 200-row budget; sids 0..2 stay on the
    // per-partition kernel path
    val giant = (1 to 600)
      .map(i => (9L, i.toLong, ((i * 2654435761L) % 1000) / 100.0))
      .toDF("sid", "t", "y")
    val mixed = multi.unionByName(giant)
    val spec = QueryParser.parse(queries.head)
    def run(budget: Long) =
      MultiSeriesEngine.execute(spark, mixed, spec, maxRunRows = budget)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // routing is semantics-preserving: tiny budget (giant routed) equals
    // the default budget (nothing routed)
    val routed = run(200L)
    assert(routed == run(MultiSeriesEngine.DefaultMaxRunRows))
    assert(routed.exists(_._1 == 9L), "giant series must produce results")
    // the routed index itself is row-equal to the unrouted kernel build
    val stats = mixed.groupBy("sid").agg(
      org.apache.spark.sql.functions.min("t").as("tMin"),
      org.apache.spark.sql.functions.max("t").as("tMax"),
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    def rows(i: MultiSeriesEngine.MsIndex) = i.df.orderBy("sid", "t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getSeq[Double](4))).toSeq
    assert(rows(MultiSeriesEngine.indexRouted(mixed, 16, stats, maxRunRows = 200L))
      == rows(MultiSeriesEngine.indexFast(mixed, 16)))
  }

  test("indexFast fails fast (not OOM) when a series exceeds the run budget") {
    val ex = intercept[Throwable] {
      MultiSeriesEngine.indexFast(multi, 16, maxRunRows = 50L).df.count()
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.toString +: chain(e.getCause))
    assert(chain(ex).exists(_.contains("maxRunRows")), chain(ex).mkString(" | "))
  }
}
