package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.engine._
import graft.model._
import graft.parser.QueryParser

/** Validates the declarative engine against a naive in-memory oracle that
  * directly transcribes the reference's formulas (server.py:303-351, 496-555,
  * 614-664, 779-836, 955-1016) over a small deterministic series.
  */
class EngineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  // deterministic pseudo-random series, N=80, values in [0, 10)
  val n = 80
  val ys: Array[Double] =
    (1 to n).map(i => ((i * 2654435761L) % 1000) / 100.0).toArray
  lazy val series = (1 to n).map(i => (i.toLong, ys(i - 1))).toDF("t", "y")

  // ---- naive oracle (reference semantics, brute force) ----
  def winAvg(a: Int, b: Int): Double = ys.slice(a - 1, b).sum / (b - a + 1)
  def winMax(a: Int, b: Int): Double = ys.slice(a - 1, b).max

  def naiveValue(c: Constraint, x: Int, lx: Int): Double = c.name match {
    case "avg_amp" => winAvg(x, x + lx)
    case "max_amp_excess_right" =>
      val np = math.min(c.args.head.toInt, n - (x + lx))
      winMax(x, x + lx) - winMax(x + lx, x + lx + np)
    case "max_amp_excess_left" =>
      val np = math.min(c.args.head.toInt, x - 1)
      winMax(x, x + lx) - winMax(x - np, x)
  }

  def naiveGrid(spec: QuerySpec, b: RefinementEngine.Bound): Seq[(Int, Int, Seq[Double])] =
    for {
      x <- (b.xLo.toInt to b.xHi.toInt)
      lx <- (b.lxLo.toInt to b.lxHi.toInt)
      if x + lx <= n
    } yield (x, lx, spec.constraints.map(c => naiveValue(c, x, lx)))

  def sat(c: Constraint, v: Double): Boolean =
    c.lo.forall(v >= _) && c.hi.forall(v <= _)

  /** Reference result semantics, naive: unified refined top-k. */
  def naiveRefined(spec: QuerySpec): Seq[(Int, Int)] = {
    val b = RefinementEngine.bindDomains(spec, 1, n)
    val grid = naiveGrid(spec, b)
    val cs = spec.constraints
    val mins = cs.indices.map(i => grid.map(_._3(i)).min)
    val maxs = cs.indices.map(i => grid.map(_._3(i)).max)
    def rd(i: Int, t: Double): Double = {
      val c = cs(i)
      val a = c.lo.getOrElse(t); val bb = c.hi.getOrElse(t)
      if (a <= t && t <= bb) 0.0
      else if (t > bb) (t - bb) / (maxs(i) - bb)
      else (a - t) / (a - mins(i))
    }
    def rk(vs: Seq[Double]): Double = {
      val w = 1.0 / cs.size
      1.0 - cs.indices.map { i =>
        val c = cs(i)
        val a = c.lo.getOrElse(mins(i)); val bb = c.hi.getOrElse(maxs(i))
        val t = vs(i)
        val rkc =
          if (bb - a == 0.0) 0.0
          else c.target match {
            case Target.Max => (bb - t) / (bb - a)
            case Target.Min => (a - t) / (bb - a)
          }
        w * rkc
      }.sum
    }
    val scoredRows = grid.map { case (x, lx, vs) =>
      val sats = cs.indices.map(i => sat(cs(i), vs(i)))
      val isSat = sats.forall(identity)
      val vc = (cs.size - sats.count(identity)).toDouble / cs.size
      val rp = 0.5 * cs.indices.map(i => rd(i, vs(i))).max + 0.5 * vc
      (x, lx, isSat, rk(vs), rp)
    }
    scoredRows
      .sortBy { case (x, lx, s, rkv, rpv) =>
        (if (s) 0 else 1, if (s) -rkv else rpv, x, lx)
      }
      .take(spec.limit.get)
      .map(r => (r._1, r._2))
  }

  /** Full grid scored with the unified key, sorted: ((x,lx), (satInt, key)). */
  def naiveRefinedFull(
      spec: QuerySpec,
      grid: Seq[(Int, Int, Seq[Double])]): Seq[((Int, Int), (Int, Double))] = {
    val cs = spec.constraints
    val mins = cs.indices.map(i => grid.map(_._3(i)).min)
    val maxs = cs.indices.map(i => grid.map(_._3(i)).max)
    def rd(i: Int, t: Double): Double = {
      val c = cs(i)
      val a = c.lo.getOrElse(t); val bb = c.hi.getOrElse(t)
      if (a <= t && t <= bb) 0.0
      else if (t > bb) (t - bb) / (maxs(i) - bb)
      else (a - t) / (a - mins(i))
    }
    def rk(vs: Seq[Double]): Double = {
      val w = 1.0 / cs.size
      1.0 - cs.indices.map { i =>
        val c = cs(i)
        val a = c.lo.getOrElse(mins(i)); val bb = c.hi.getOrElse(maxs(i))
        val t = vs(i)
        val rkc =
          if (bb - a == 0.0) 0.0
          else c.target match {
            case Target.Max => (bb - t) / (bb - a)
            case Target.Min => (a - t) / (bb - a)
          }
        w * rkc
      }.sum
    }
    grid.map { case (x, lx, vs) =>
      val sats = cs.indices.map(i => sat(cs(i), vs(i)))
      val isSat = sats.forall(identity)
      val vc = (cs.size - sats.count(identity)).toDouble / cs.size
      val rp = 0.5 * cs.indices.map(i => rd(i, vs(i))).max + 0.5 * vc
      ((x, lx), (if (isSat) 0 else 1, if (isSat) -rk(vs) else rp))
    }.sortBy { case ((x, lx), (s, key)) => (s, key, x, lx) }
  }

  def run(q: String): Seq[(Int, Int)] =
    RefinementEngine.execute(spark, series, QueryParser.parse(q))
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt)).toSeq

  // ---- parser ----
  test("parser: smoke query") {
    val s = QueryParser.parse(
      """SELECT time_id, offset IN_DOMAIN [300, 500], [10, 50]
        |FROM emg_data.emg1
        |WHERE avg_amp() in [1, 2] MAX
        |LIMIT REFINED 5""".stripMargin)
    assert(s == QuerySpec("emg_data", "emg1", Domain(Some(300), Some(500)),
      Domain(Some(10), Some(50)),
      Seq(Constraint("avg_amp", Nil, Some(1), Some(2), Target.Max)),
      Some(5), refined = true))
  }

  test("parser: multi-constraint, None sides, unrefined limit, no limit") {
    val s = QueryParser.parse(
      "SELECT time_id, offset IN_DOMAIN [None, 10], [5, None] " +
        "FROM gas_data.flow_rate " +
        "WHERE avg_amp() in [50, 200] MAX and max_amp_excess_left(4) in [-2, 0] MIN " +
        "LIMIT 50")
    assert(s.xDomain == Domain(None, Some(10)) && s.lxDomain == Domain(Some(5), None))
    assert(s.constraints.size == 2 && !s.refined && s.limit.contains(50))
    assert(s.constraints(1) ==
      Constraint("max_amp_excess_left", Seq(4), Some(-2), Some(0), Target.Min))
    val noLimit = QueryParser.parse(
      "SELECT time_id, offset IN_DOMAIN [1,5],[1,2] FROM t.c WHERE avg_amp() in [None, 3] MAX")
    assert(noLimit.limit.isEmpty && !noLimit.refined)
  }

  test("parser: rejections (reference client.py:204-288)") {
    val bad = Seq(
      "SELECT a, b IN_DOMAIN [1,2],[1,2] FROM t.c WHERE avg_amp() in [1,2] MAX",
      "SELECT time_id, offset IN_DOMAIN [1,2] FROM t.c WHERE avg_amp() in [1,2] MAX",
      "SELECT time_id, offset IN_DOMAIN [1,2],[1,2] FROM t WHERE avg_amp() in [1,2] MAX",
      "SELECT time_id, offset IN_DOMAIN [1,2],[1,2] FROM t.c WHERE nope() in [1,2] MAX",
      "SELECT time_id, offset IN_DOMAIN [1,2],[1,2] FROM t.c WHERE avg_amp() in [1,2] FOO",
      "SELECT time_id, offset IN_DOMAIN [1,2],[1,2] FROM t.c WHERE avg_amp(3) in [1,2] MAX",
      "SELECT time_id, offset IN_DOMAIN [1,2],[1,2] FROM t.c WHERE max_amp_excess_left() in [1,2] MAX",
      // numeric overflow is a parse error, not a NumberFormatException
      "SELECT time_id, offset IN_DOMAIN [1, 99999999999999999999],[1,2] FROM t.c " +
        "WHERE avg_amp() in [1,2] MAX",
      "SELECT time_id, offset IN_DOMAIN [1,2],[1,2] FROM t.c WHERE avg_amp() in [1,2] MAX " +
        "LIMIT 3000000000",
      "")
    bad.foreach(q => assertThrows[ParseException](QueryParser.parse(q)))
  }

  // ---- series index vs naive windows ----
  def idxRows(i: SeriesOps.SeriesIndex): Seq[(Long, Double, Double, Seq[Double])] =
    i.df.orderBy("t").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getSeq[Double](3)))
      .toSeq

  test("indexFast (partitioned two-pass kernel) equals the declarative index build") {
    val a = SeriesOps.index(series, 16)
    val b = SeriesOps.indexFast(series, 16)
    assert(a.levels == b.levels && a.tMin == b.tMin && a.tMax == b.tMax)
    val (ra, rb) = (idxRows(a), idxRows(b))
    // t, y and every sparse-table level are bit-equal (max is associative);
    // prefix sums associate differently across partitions, so on inexact
    // doubles (multiples of 0.01) they match to ~ulp, not bitwise
    assert(ra.map(r => (r._1, r._2, r._4)) == rb.map(r => (r._1, r._2, r._4)))
    ra.zip(rb).foreach { case (x, y) =>
      assert(math.abs(x._3 - y._3) <= 1e-9 * math.max(1.0, math.abs(x._3)), s"s at t=${x._1}")
    }
    // fused variant: same result from an unkeyed frame ordered by a column
    val raw = (1 to n).map(i => (i * 10L, ys(i - 1))).toDF("ord", "y")
    val c = SeriesOps.indexFastFromOrdered(raw, "ord", "y", 16)
    assert(c.tMin == 1 && c.tMax == n)
    assert(idxRows(c).map(r => (r._1, r._2, r._4)) == ra.map(r => (r._1, r._2, r._4)))
  }

  test("partitioned kernel build is bit-equal to declarative on FP-exact data") {
    // integer-valued ys: every partial sum is exactly representable, so the
    // carry-in association cannot differ -> full bit-equality, including s
    val intYs = (1 to n).map(i => ((i * 2654435761L) % 1000).toDouble)
    val s2 = (1 to n).map(i => (i.toLong, intYs(i - 1))).toDF("t", "y")
    // maxWin=64 -> 63-row lookahead halo, longer than a ~20-row partition:
    // the halo must chain across several downstream partitions
    val a = SeriesOps.index(s2, 64)
    val b = SeriesOps.indexFast(s2, 64)
    assert(idxRows(a) == idxRows(b))
    // the kernel input really is multi-partition (halo/carry logic exercised)
    assert(b.df.rdd.getNumPartitions > 1)
  }

  test("cross-session index cache: write-through, hit, staleness rebuild") {
    import graft.engine.IndexCache
    val cacheDir = java.nio.file.Files.createTempDirectory("graft_idx_cache").toString
    graft.cli.Cleanup.deleteOnExit(cacheDir)
    val tableDir = java.nio.file.Files.createTempDirectory("graft_idx_src")
    graft.cli.Cleanup.deleteOnExit(tableDir.toString)
    val tableFile = tableDir.resolve("series.parquet")
    series.write.mode("overwrite").parquet(tableFile.toString)
    val spec = QueryParser.parse(
      "SELECT time_id, offset IN_DOMAIN [1, 60], [3, 10] FROM t.c " +
        "WHERE avg_amp() in [4, 6] MAX")
    val (i1, hit1) = IndexCache.getOrBuild(
      spark, cacheDir, tableFile.toString, "c", series, spec)
    assert(!hit1)
    val (i2, hit2) = IndexCache.getOrBuild(
      spark, cacheDir, tableFile.toString, "c", series, spec)
    assert(hit2 && i2.tMin == i1.tMin && i2.tMax == i1.tMax && i2.levels == i1.levels)
    assert(idxRows(i2) == idxRows(i1)) // parquet round-trip is exact
    // touching the source invalidates the cache
    java.nio.file.Files.setLastModifiedTime(tableFile,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 60000))
    val (_, hit3) = IndexCache.getOrBuild(
      spark, cacheDir, tableFile.toString, "c", series, spec)
    assert(!hit3)
    // a query needing deeper windows than cached also rebuilds
    val wide = QueryParser.parse(
      "SELECT time_id, offset IN_DOMAIN [1, 60], [3, 70] FROM t.c " +
        "WHERE avg_amp() in [4, 6] MAX")
    val (i4, hit4) = IndexCache.getOrBuild(
      spark, cacheDir, tableFile.toString, "c", series, wide)
    assert(!hit4 && i4.levels > i1.levels)
  }

  test("index cache: a superseded in-session index is unpersisted") {
    import graft.engine.IndexCache
    val cacheDir = java.nio.file.Files.createTempDirectory("graft_idx_cache").toString
    graft.cli.Cleanup.deleteOnExit(cacheDir)
    val tableDir = java.nio.file.Files.createTempDirectory("graft_idx_src")
    graft.cli.Cleanup.deleteOnExit(tableDir.toString)
    val tableFile = tableDir.resolve("series.parquet")
    series.write.mode("overwrite").parquet(tableFile.toString)
    val spec = QueryParser.parse(
      "SELECT time_id, offset IN_DOMAIN [1, 60], [3, 10] FROM t.c " +
        "WHERE avg_amp() in [4, 6] MAX")
    def get() = IndexCache.getOrBuild(
      spark, cacheDir, tableFile.toString, "c", series, spec)
    assert(!get()._2)
    val pinned = spark.sparkContext.getPersistentRDDs.size
    (1 to 4).foreach { i =>
      java.nio.file.Files.setLastModifiedTime(tableFile,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + i * 60000L))
      val (idx, hit) = get()
      assert(!hit)
      assert(spark.sparkContext.getPersistentRDDs.size == pinned, s"after bump $i")
      assert(idxRows(idx).nonEmpty)
    }
  }

  test("windowAgg avg/max match naive on all (a,b) pairs up to len 16") {
    val idx = SeriesOps.index(series, 16)
    import org.apache.spark.sql.functions._
    val pairs = for (a <- 1 to n; len <- 1 to 16; if a + len - 1 <= n)
      yield (a.toLong, (a + len - 1).toLong)
    val pairsDf = pairs.toDF("a", "b")
    // the probe surface every constraint and query reads windows through
    val got = SeriesOps.probe(idx).windowAgg(pairsDf, col("a"), col("b"), "w",
        needAvg = true, needMax = true)
      .select("a", "b", "w_avg", "w_max").collect()
    got.foreach { r =>
      val (a, b) = (r.getLong(0).toInt, r.getLong(1).toInt)
      assert(math.abs(r.getDouble(2) - winAvg(a, b)) < 1e-9, s"avg($a,$b)")
      assert(r.getDouble(3) == winMax(a, b), s"max($a,$b)")
    }
  }

  // ---- full queries vs naive oracle ----
  test("unrefined query returns exactly the satisfying cells") {
    val spec = QueryParser.parse(
      "SELECT time_id, offset IN_DOMAIN [1, 60], [3, 10] FROM t.c " +
        "WHERE avg_amp() in [4, 6] MAX")
    val b = RefinementEngine.bindDomains(spec, 1, n)
    val expect = naiveGrid(spec, b)
      .filter { case (_, _, vs) => sat(spec.constraints.head, vs.head) }
      .map(g => (g._1, g._2)).sorted
    val got = run(spec.toString match { case _ =>
      "SELECT time_id, offset IN_DOMAIN [1, 60], [3, 10] FROM t.c " +
        "WHERE avg_amp() in [4, 6] MAX" })
    assert(got == expect)
  }

  test("refined tightening (over-production): top-k by RK desc") {
    val q = "SELECT time_id, offset IN_DOMAIN [1, 60], [3, 10] FROM t.c " +
      "WHERE avg_amp() in [2, 8] MAX LIMIT REFINED 7"
    assert(run(q) == naiveRefined(QueryParser.parse(q)))
  }

  test("refined relaxation (under-production): satisfied + RP asc extras") {
    // impossible-ish interval => few/no satisfying candidates
    val q = "SELECT time_id, offset IN_DOMAIN [1, 60], [3, 10] FROM t.c " +
      "WHERE avg_amp() in [9, 10] MAX LIMIT REFINED 6"
    assert(run(q) == naiveRefined(QueryParser.parse(q)))
  }

  test("refined multi-constraint with excess functions and MIN target") {
    val q = "SELECT time_id, offset IN_DOMAIN [5, 50], [3, 8] FROM t.c " +
      "WHERE avg_amp() in [3, 7] MAX and max_amp_excess_right(4) in [-1, 1] MAX " +
      "and max_amp_excess_left(4) in [None, 2] MIN LIMIT REFINED 10"
    assert(run(q) == naiveRefined(QueryParser.parse(q)))
  }

  test("excess functions clamp at series edges like the reference") {
    // windows touching t=1 and t=n exercise the n' clamps
    val q = "SELECT time_id, offset IN_DOMAIN [1, 79], [1, 1] FROM t.c " +
      "WHERE max_amp_excess_left(10) in [0, None] MAX and " +
      "max_amp_excess_right(10) in [None, 0] MAX LIMIT REFINED 12"
    assert(run(q) == naiveRefined(QueryParser.parse(q)))
  }

  /** Naive scored candidates sorted by the unified refinement key. */
  def naiveScoredSorted(spec: QuerySpec): Seq[((Int, Int), (Int, Double))] = {
    val b = RefinementEngine.bindDomains(spec, 1, n)
    val grid = naiveGrid(spec, b)
    val full = naiveRefinedFull(spec, grid)
    full
  }

  test("kernel-index prebuilt path returns exactly the declarative-index results") {
    // the production path (cachedIndex -> execute(prebuilt)) runs the
    // partitioned kernel build + MemoProbe; the declarative path builds via
    // window functions. Same queries, byte-equal (t, offset) output.
    lazy val kernelIdx = SeriesOps.indexFast(series, 64)
    val qs = Seq(
      "SELECT time_id, offset IN_DOMAIN [1, 60], [3, 10] FROM t.c " +
        "WHERE avg_amp() in [4, 6] MAX",
      "SELECT time_id, offset IN_DOMAIN [5, 70], [2, 8] FROM t.c " +
        "WHERE avg_amp() in [3, 7] MAX and max_amp_excess_right(5) in [0, None] MAX " +
        "LIMIT REFINED 12",
      "SELECT time_id, offset IN_DOMAIN [1, 70], [2, 6] FROM t.c " +
        "WHERE max_amp_excess_left(6) in [None, 2] MIN LIMIT REFINED 9")
    for (q <- qs) {
      val spec = QueryParser.parse(q)
      val declarative = RefinementEngine.execute(spark, series, spec)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val viaKernel = RefinementEngine.execute(spark, series, spec,
          prebuilt = Some(kernelIdx))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(viaKernel == declarative, q)
    }
  }

  test("kernel build handles a series far smaller than the halo window") {
    // n=3 over up to 4 range partitions with a 63-row lookahead need:
    // halos chain across near-empty partitions and clamp at the true end
    val tiny = Seq((1L, 2.0), (2L, 9.0), (3L, 4.0)).toDF("t", "y")
    val a = SeriesOps.index(tiny, 64)
    val b = SeriesOps.indexFast(tiny, 64)
    assert(a.levels == b.levels && b.tMin == 1L && b.tMax == 3L)
    assert(idxRows(a) == idxRows(b))
  }

  test("kernel builds fall back to declarative beyond the halo depth budget") {
    // levels > 24 would make the lookahead digests rival the partitions;
    // the builds must still answer correctly (via the declarative path)
    val big = 1L << 26
    val a = SeriesOps.index(series, big)
    val b = SeriesOps.indexFast(series, big)
    assert(a.levels == b.levels && b.levels == 27)
    assert(idxRows(a).map(r => (r._1, r._2, r._4)) ==
      idxRows(b).map(r => (r._1, r._2, r._4)))
    val raw = (1 to n).map(i => (i * 10L, ys(i - 1))).toDF("ord", "y")
    val c = SeriesOps.indexFastFromOrdered(raw, "ord", "y", big)
    assert(c.tMin == 1 && c.tMax == n && c.levels == 27)
  }

  test("randomized specs match the naive oracle up to score ties (seeded, 8 cases)") {
    // Engine (prefix-sum arithmetic) and the naive oracle (direct sums) may
    // order exact score ties differently; the contract is set-level with a
    // deterministic tie-break WITHIN one arithmetic. So: everything strictly
    // better than the k-th score must be present; ties at the cut may go
    // either way; cardinality is exact.
    val rnd = new scala.util.Random(7)
    val eps = 1e-9
    for (_ <- 1 to 8) {
      val xLo = 1 + rnd.nextInt(20); val xHi = xLo + 10 + rnd.nextInt(40)
      val lxLo = 1 + rnd.nextInt(4); val lxHi = lxLo + rnd.nextInt(6)
      val a = rnd.nextInt(8); val b = a + rnd.nextInt(4)
      val k = 1 + rnd.nextInt(12)
      val tgt = if (rnd.nextBoolean()) "MAX" else "MIN"
      val q = s"SELECT time_id, offset IN_DOMAIN [$xLo, $xHi], [$lxLo, $lxHi] " +
        s"FROM t.c WHERE avg_amp() in [$a, $b] $tgt LIMIT REFINED $k"
      val spec = QueryParser.parse(q)
      val got = run(q).toSet
      val sortedAll = naiveScoredSorted(spec)
      val cells = sortedAll.size
      assert(got.size == math.min(k, cells), s"cardinality for $q")
      if (cells > k) {
        val (kthSat, kthKey) = sortedAll(k - 1)._2
        def strictlyBetter(e: (Int, Double)) =
          e._1 < kthSat || (e._1 == kthSat && e._2 < kthKey - eps)
        def noWorse(e: (Int, Double)) =
          e._1 < kthSat || (e._1 == kthSat && e._2 <= kthKey + eps)
        val mustHave = sortedAll.filter(e => strictlyBetter(e._2)).map(_._1).toSet
        val mayHave = sortedAll.filter(e => noWorse(e._2)).map(_._1).toSet
        assert(mustHave.subsetOf(got), s"missing strictly-better candidates for $q")
        assert(got.subsetOf(mayHave), s"included worse-than-cut candidates for $q")
      } else {
        assert(got == sortedAll.map(_._1).toSet, q)
      }
    }
  }

  test("None domain sides bind from series extent; offset default domain") {
    val spec = QueryParser.parse(
      "SELECT time_id, offset IN_DOMAIN [None, None], [None, None] FROM t.c " +
        "WHERE avg_amp() in [0, 10] MAX")
    val b = RefinementEngine.bindDomains(spec, 1, n)
    assert(b == RefinementEngine.Bound(1, n, 1, n))
  }
}

object TestSpark {
  lazy val spark: SparkSession = {
    graft.tools.CodegenGuard.install()
    val s = GraftSession.build(4)
    // plan-shape pins assert the AT-SCALE shapes: disable the
    // small-input scan fan-out (identity above its stats gate) so
    // exchange counts/payload pins read the production plans
    s.conf.set(graft.sources.Fanout.MaxBytesKey, "0")
    s
  }
}
