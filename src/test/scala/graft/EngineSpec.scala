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

  import EngineSpec._
  lazy val series = (1 to n).map(i => (i.toLong, ys(i - 1))).toDF("t", "y")

  /** A cap that splits the grid of `spec` into at least three chunks (the
    * default when it holds fewer than three cells). */
  def splitCap(spec: QuerySpec): Long = {
    val b = RefinementEngine.bindDomains(spec, 1, n)
    if (LocalSolve.Grid(0L, 1, n, b).cells < 3) LocalSolve.CellCap
    else LocalSolveSpec.splitCap(spec, b, 1, n)
  }

  /** The kernel run as one chunk and as at least three; every naive-oracle
    * test below runs on each. The one-chunk run asserts the gate admits the
    * query, so it cannot silently run chunked. */
  val executors: Seq[(String, QuerySpec => org.apache.spark.sql.DataFrame)] = Seq(
    "one chunk" -> { spec =>
      assert(LocalSolve.admits(spec, RefinementEngine.bindDomains(spec, 1, n), 1, n))
      RefinementEngine.execute(spark, series, spec)
    },
    "chunked" -> (spec => RefinementEngine.execute(spark, series, spec, None, splitCap(spec))))

  def run(q: String, exec: QuerySpec => org.apache.spark.sql.DataFrame): Seq[(Int, Int)] =
    exec(QueryParser.parse(q))
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
      // an argument is a lookahead or lookbehind, an offset a window length
      "SELECT time_id, offset IN_DOMAIN [5,30],[2,5] FROM t.c " +
        "WHERE max_amp_excess_left(-3) in [0,5] MAX",
      "SELECT time_id, offset IN_DOMAIN [5, 30], [-2, 5] FROM t.c WHERE avg_amp() in [0,5] MAX",
      "")
    bad.foreach(q => assertThrows[ParseException](QueryParser.parse(q)))
  }

  // ---- the persisted series and its cache ----
  def seriesRows(i: SeriesOps.SeriesIndex): Seq[(Long, Double)] =
    i.df.orderBy("t").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** The Spark jobs `body` starts. */
  def jobsOf(body: => Unit): Int = graft.tools.Profile.record(spark)(body).jobs.size

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
    assert(hit2 && i2.tMin == 1 && i2.tMax == n && i2.tMin == i1.tMin && i2.tMax == i1.tMax)
    assert(seriesRows(i2) == seriesRows(i1)) // parquet round-trip is exact
    assert(seriesRows(i1) == (1 to n).map(i => (i.toLong, ys(i - 1))))
    // touching the source invalidates the cache
    java.nio.file.Files.setLastModifiedTime(tableFile,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 60000))
    val (i3, hit3) = IndexCache.getOrBuild(
      spark, cacheDir, tableFile.toString, "c", series, spec)
    assert(!hit3)
    // a deeper-window query on a warm cache is a hit and runs no Spark job:
    // the cache holds the raw rows, which answer any window
    val wide = QueryParser.parse(
      "SELECT time_id, offset IN_DOMAIN [1, 60], [3, 70] FROM t.c " +
        "WHERE max_amp_excess_right(70) in [0, None] MAX")
    var hit4 = false
    assert(jobsOf {
      val (i4, hit) = IndexCache.getOrBuild(spark, cacheDir, tableFile.toString, "c", series, wide)
      hit4 = hit && (i4 eq i3)
    } == 0)
    assert(hit4)
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
      assert(seriesRows(idx).nonEmpty)
    }
  }

  private val refinedQuery =
    "SELECT time_id, offset IN_DOMAIN [5, 70], [2, 8] FROM t.c " +
      "WHERE avg_amp() in [3, 7] MAX and max_amp_excess_right(5) in [0, None] MAX " +
      "LIMIT REFINED 12"

  test("a warm index cache answers a query with no Spark job from the resident series") {
    import graft.engine.IndexCache
    val cacheDir = java.nio.file.Files.createTempDirectory("graft_idx_cache").toString
    graft.cli.Cleanup.deleteOnExit(cacheDir)
    val tableDir = java.nio.file.Files.createTempDirectory("graft_idx_src")
    graft.cli.Cleanup.deleteOnExit(tableDir.toString)
    val tableFile = tableDir.resolve("series.parquet")
    series.write.mode("overwrite").parquet(tableFile.toString)
    val spec = QueryParser.parse(refinedQuery)
    def get() = IndexCache.getOrBuild(spark, cacheDir, tableFile.toString, "c", series, spec)
    val (cold, _) = get()
    // the driver holds every y by position: the series rows, in key order
    assert(cold.resident.map(_.toSeq) == Some(seriesRows(cold).map(_._2)))
    assert(seriesRows(cold).map(_._1) == (1L to n))
    var got = Seq.empty[(Long, Long)]
    assert(jobsOf {
      val (idx, hit) = get()
      assert(hit && (idx eq cold))
      got = RefinementEngine.execute(spark, series, spec, Some(idx)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    } == 0)
    assert(got == naiveRefined(spec).map { case (x, lx) => (x.toLong, lx.toLong) })
  }

  test("a non-dense series is not resident and fails as not dense") {
    val spec = QueryParser.parse(refinedQuery)
    // a missing key, and a repeated key with another missing: the row count
    // matches the key span, but not every key is there
    val gap = series.where("t != 40")
    val repeat = series.where("t != 40").union(series.where("t = 41"))
    for (s <- Seq(gap, repeat)) {
      val idx = SeriesOps.persisted(s)
      try {
        assert(idx.resident.isEmpty && idx.tMin == 1 && idx.tMax == n)
        val e = intercept[IllegalArgumentException](
          RefinementEngine.execute(spark, s, spec, Some(idx)).collect())
        assert(e.getMessage.contains("the series key is not dense"), e.getMessage)
      } finally idx.df.unpersist()
    }
  }

  test("a series over the resident cap answers through one collect of its chunk") {
    val spec = QueryParser.parse(refinedQuery)
    val idx = SeriesOps.persisted(series, n - 1L)
    try {
      assert(idx.resident.isEmpty && idx.tMin == 1 && idx.tMax == n)
      var got = Seq.empty[(Long, Long)]
      assert(jobsOf {
        got = RefinementEngine.execute(spark, series, spec, Some(idx)).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
      } == 1)
      assert(got == naiveRefined(spec).map { case (x, lx) => (x.toLong, lx.toLong) })
    } finally idx.df.unpersist()
  }

  test("a resident series answers without reading its frame: no t or y column needed") {
    // the one-chunk solve slices the resident array and builds no plan over
    // the series frame, so a frame without the series columns serves
    val idx = SeriesOps.persisted(series)
    try {
      val bare = idx.copy(df = spark.range(1).toDF("z"))
      assert(idx.resident.isDefined && !bare.df.columns.contains("t"))
      val qs = Seq(refinedQuery,
        "SELECT time_id, offset IN_DOMAIN [1, 60], [3, 10] FROM t.c WHERE avg_amp() in [4, 6] MAX")
      for (q <- qs) {
        val spec = QueryParser.parse(q)
        def rows(i: SeriesOps.SeriesIndex) = RefinementEngine.execute(spark, i.df, spec, Some(i))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        val expect = rows(idx)
        assert(expect.nonEmpty && rows(bare) == expect, q)
      }
      def grid(i: SeriesOps.SeriesIndex) =
        LocalSolve.values(i, AvgAmp, Nil, RefinementEngine.Bound(1, n, 2, 6)).collect().toSeq
      assert(grid(bare) == grid(idx))
    } finally idx.df.unpersist()
  }

  test("windowAgg avg/max match naive on all (a,b) pairs up to len 16") {
    val idx = SeriesOps.SeriesIndex(series, 1, n)
    // the probe surface every constraint and query reads windows through,
    // read through the kernel's value grid: x = a, lx = b - a
    import EngineSpec.WindowMax
    def grid(fn: ConstraintFunction): Map[(Int, Int), Double] =
      LocalSolve.values(idx, fn, Nil, RefinementEngine.Bound(1, n, 0, 15)).collect()
        .map(r => (r.getLong(0).toInt, r.getLong(0).toInt + r.getLong(1).toInt) -> r.getDouble(2))
        .toMap
    val (avgs, maxs) = (grid(AvgAmp), grid(WindowMax))
    val pairs = for (a <- 1 to n; len <- 1 to 16; if a + len - 1 <= n) yield (a, a + len - 1)
    assert(avgs.keySet == pairs.toSet && maxs.keySet == pairs.toSet)
    pairs.foreach { case (a, b) =>
      assert(math.abs(avgs((a, b)) - winAvg(a, b)) < 1e-9, s"avg($a,$b)")
      assert(maxs((a, b)) == winMax(a, b), s"max($a,$b)")
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
    for ((name, exec) <- executors) {
      val got = run(spec.toString match { case _ =>
        "SELECT time_id, offset IN_DOMAIN [1, 60], [3, 10] FROM t.c " +
          "WHERE avg_amp() in [4, 6] MAX" }, exec)
      assert(got == expect, name)
    }
  }

  test("refined tightening (over-production): top-k by RK desc") {
    val q = "SELECT time_id, offset IN_DOMAIN [1, 60], [3, 10] FROM t.c " +
      "WHERE avg_amp() in [2, 8] MAX LIMIT REFINED 7"
    for ((name, exec) <- executors)
      assert(run(q, exec) == naiveRefined(QueryParser.parse(q)), name)
  }

  test("refined relaxation (under-production): satisfied + RP asc extras") {
    // impossible-ish interval => few/no satisfying candidates
    val q = "SELECT time_id, offset IN_DOMAIN [1, 60], [3, 10] FROM t.c " +
      "WHERE avg_amp() in [9, 10] MAX LIMIT REFINED 6"
    for ((name, exec) <- executors)
      assert(run(q, exec) == naiveRefined(QueryParser.parse(q)), name)
  }

  test("refined multi-constraint with excess functions and MIN target") {
    val q = "SELECT time_id, offset IN_DOMAIN [5, 50], [3, 8] FROM t.c " +
      "WHERE avg_amp() in [3, 7] MAX and max_amp_excess_right(4) in [-1, 1] MAX " +
      "and max_amp_excess_left(4) in [None, 2] MIN LIMIT REFINED 10"
    for ((name, exec) <- executors)
      assert(run(q, exec) == naiveRefined(QueryParser.parse(q)), name)
  }

  test("excess functions clamp at series edges like the reference") {
    // windows touching t=1 and t=n exercise the n' clamps
    val q = "SELECT time_id, offset IN_DOMAIN [1, 79], [1, 1] FROM t.c " +
      "WHERE max_amp_excess_left(10) in [0, None] MAX and " +
      "max_amp_excess_right(10) in [None, 0] MAX LIMIT REFINED 12"
    for ((name, exec) <- executors)
      assert(run(q, exec) == naiveRefined(QueryParser.parse(q)), name)
  }

  /** Naive scored candidates sorted by the unified refinement key. */
  def naiveScoredSorted(spec: QuerySpec): Seq[((Int, Int), (Int, Double))] = {
    val b = RefinementEngine.bindDomains(spec, 1, n)
    val grid = naiveGrid(spec, b)
    val full = naiveRefinedFull(spec, grid)
    full
  }

  test("a prebuilt persisted series returns exactly the raw-series results") {
    // the production path (cachedIndex / IndexCache -> execute(prebuilt))
    // reads the persisted copy with its stored bounds; without it the
    // kernel reads the raw series and takes its bounds. Same queries,
    // byte-equal (t, offset) output, as one chunk and as at least three.
    val prebuilt = SeriesOps.persisted(series)
    try {
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
        for (cap <- Seq(LocalSolve.CellCap, splitCap(spec))) {
          val b = RefinementEngine.bindDomains(spec, 1, n)
          val chunks = LocalSolveSpec.chunks(spec, b, 1, n, cap).size
          assert(chunks == 1 || chunks >= 3, q)
          def rows(p: Option[SeriesOps.SeriesIndex]) =
            RefinementEngine.execute(spark, series, spec, p, cap)
              .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
          val raw = rows(None)
          assert(raw.nonEmpty, q)
          assert(rows(Some(prebuilt)) == raw, s"$q at cap $cap")
        }
      }
    } finally prebuilt.df.unpersist()
  }

  test("randomized specs match the naive oracle up to score ties (seeded, 48 cases)") {
    // Engine and naive oracle compute the scores with different expressions
    // and may order exact score ties differently; the contract is set-level
    // with a deterministic tie-break WITHIN one arithmetic. So: everything strictly
    // better than the k-th score must be present; ties at the cut may go
    // either way; cardinality is exact. Every function, one to three
    // constraints, None sides, degenerate [a, a] intervals and both
    // targets; every fourth case is unrefined, checked row for row.
    val rnd = new scala.util.Random(7)
    val eps = 1e-9
    val fns = ConstraintRegistry.all.toSeq.sortBy(_.name)
    def side(v: Int): String = if (rnd.nextInt(4) == 0) "None" else v.toString
    val cases = (0 until 48).map { c =>
      val xLo = 1 + rnd.nextInt(20); val xHi = xLo + 10 + rnd.nextInt(40)
      val lxLo = 1 + rnd.nextInt(4); val lxHi = lxLo + rnd.nextInt(6)
      val cons = (0 until 1 + rnd.nextInt(3)).map { j =>
        val f = fns((c + j) % fns.size)
        val call = if (f.arity == 0) s"${f.name}()" else s"${f.name}(${1 + rnd.nextInt(8)})"
        val a = if (f.name == "avg_amp") rnd.nextInt(8) else rnd.nextInt(8) - 4
        val interval =
          if (rnd.nextInt(5) == 0) s"[$a, $a]" else s"[${side(a)}, ${side(a + rnd.nextInt(5))}]"
        s"$call in $interval ${if (rnd.nextBoolean()) "MAX" else "MIN"}"
      }
      val k = 1 + rnd.nextInt(12)
      val limit = if (c % 4 == 3) (if (rnd.nextBoolean()) s" LIMIT $k" else "")
        else s" LIMIT REFINED $k"
      s"SELECT time_id, offset IN_DOMAIN [$xLo, $xHi], [$lxLo, $lxHi] " +
        s"FROM t.c WHERE ${cons.mkString(" and ")}$limit"
    }
    val specs = cases.map(QueryParser.parse)
    // the generator reaches every case the check is meant to cover
    assert(specs.flatMap(_.constraints.map(_.name)).toSet == ConstraintRegistry.names)
    assert(specs.map(_.constraints.size).toSet == Set(1, 2, 3))
    assert(specs.flatMap(_.constraints.map(_.target)).toSet == Set(Target.Max, Target.Min))
    assert(specs.exists(_.constraints.exists(c => c.lo.isEmpty || c.hi.isEmpty)))
    assert(specs.exists(_.constraints.exists(c => c.lo.isDefined && c.lo == c.hi)))
    assert(specs.exists(s => !s.refined && s.limit.isDefined) &&
      specs.exists(s => !s.refined && s.limit.isEmpty))
    var nonEmpty = 0
    for ((q, spec) <- cases.zip(specs)) {
      val sortedAll = naiveScoredSorted(spec)
      val cells = sortedAll.size
      lazy val satisfying = naiveGrid(spec, RefinementEngine.bindDomains(spec, 1, n)).filter {
        case (_, _, vs) => spec.constraints.zip(vs).forall { case (c, v) => sat(c, v) }
      }.map(g => (g._1, g._2)).sorted
      for ((name, exec) <- executors) {
        val rows = run(q, exec)
        if (rows.nonEmpty) nonEmpty += 1
        if (!spec.refined) {
          assert(rows == spec.limit.fold(satisfying)(satisfying.take), s"$q ($name)")
        } else {
          val k = spec.limit.get
          val got = rows.toSet
          assert(got.size == math.min(k, cells), s"cardinality for $q ($name)")
          if (cells > k) {
            val (kthSat, kthKey) = sortedAll(k - 1)._2
            def strictlyBetter(e: (Int, Double)) =
              e._1 < kthSat || (e._1 == kthSat && e._2 < kthKey - eps)
            def noWorse(e: (Int, Double)) =
              e._1 < kthSat || (e._1 == kthSat && e._2 <= kthKey + eps)
            val mustHave = sortedAll.filter(e => strictlyBetter(e._2)).map(_._1).toSet
            val mayHave = sortedAll.filter(e => noWorse(e._2)).map(_._1).toSet
            assert(mustHave.subsetOf(got), s"missing strictly-better candidates for $q ($name)")
            assert(got.subsetOf(mayHave), s"included worse-than-cut candidates for $q ($name)")
          } else {
            assert(got == sortedAll.map(_._1).toSet, s"$q ($name)")
          }
        }
      }
    }
    assert(nonEmpty >= 80, s"only $nonEmpty of 96 runs returned rows")
  }

  test("bind: x before the series, reversed domains, long arguments follow the reference") {
    def expected(spec: QuerySpec): Seq[(Int, Int)] = {
      val grid = naiveGrid(spec, RefinementEngine.bindDomains(spec, 1, n))
      if (grid.isEmpty) Nil
      else if (spec.refined) naiveRefined(spec)
      else grid.filter { case (_, _, vs) =>
        spec.constraints.zip(vs).forall { case (c, v) => sat(c, v) }
      }.map(g => (g._1, g._2)).sorted
    }
    def query(dom: String, con: String, tail: String = "") =
      s"SELECT time_id, offset IN_DOMAIN $dom FROM t.c WHERE $con MAX$tail"
    val cases = Seq(
      // the x side clips to the series start: cells before it are skipped
      "x before the series start" -> query("[0, 30], [2, 5]", "avg_amp() in [0, 5]"),
      "x before the series start, refined" ->
        query("[-5, 30], [2, 5]", "max_amp_excess_left(4) in [0, 5]", " LIMIT REFINED 6"),
      // the reference's range(lo, hi + 1) yields nothing
      "a reversed offset domain" -> query("[5, 30], [5, 2]", "avg_amp() in [0, 5]"),
      "a reversed x domain" ->
        query("[30, 5], [2, 5]", "avg_amp() in [0, 5]", " LIMIT REFINED 4"),
      // the functions clamp the window at the series end
      "an argument past the series length" ->
        query("[5, 30], [2, 5]", "max_amp_excess_right(80) in [-3, 0]"),
      "an argument past the series length, refined" ->
        query("[40, 75], [2, 5]", "max_amp_excess_right(80) in [0, 5]", " LIMIT REFINED 5"))
    for ((why, q) <- cases; (name, exec) <- executors) {
      val expect = expected(QueryParser.parse(q))
      assert(run(q, exec) == expect, s"$why ($name)")
      if (!why.startsWith("a reversed")) assert(expect.nonEmpty, why)
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

object EngineSpec {
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
      // cells whose windows lie in the series: a cell before its start
      // would probe a missing time_id, which the reference skips
      x <- (math.max(b.xLo.toInt, 1) to b.xHi.toInt)
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

  /** The window maximum as a constraint function, unregistered. */
  object WindowMax extends ConstraintFunction {
    val name = "window_max"
    val arity = 0
    def reach(args: Seq[Long]): Long = 0L
    def value(probe: ScalarProbe, x: Long, lx: Long, args: Seq[Long]): Double =
      probe.max(x, x + lx)
  }


  // deterministic pseudo-random series, N=80, values in [0, 10)
  val n = 80
  val ys: Array[Double] =
    (1 to n).map(i => ((i * 2654435761L) % 1000) / 100.0).toArray
}

object TestSpark {
  /** Ids of the session's persisted RDDs. Lifecycle tests assert that a
    * query leaves no id outside this set behind; a count is no such check,
    * since Spark's ContextCleaner may unpersist other tests' unreachable
    * RDDs at any GC and so lower it while the query under test leaks. */
  def persistedIds(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

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
