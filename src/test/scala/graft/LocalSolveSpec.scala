package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite

import graft.engine._
import graft.engine.RefinementEngine.Bound
import graft.model._
import graft.parser.QueryParser

/** The CP kernel ([[LocalSolve]]): the same rows in the same order under the
  * same schema whether a grid runs as one chunk or many, on randomized
  * specs, with the one chunk solved on the driver from either source (the
  * resident series or one collect of its rows); the one-chunk gate; and the
  * cap on what a chunk holds and how evenly chunks share a grid. Its
  * zero-job, nothing-pinned lifecycle on the suite's CP queries is pinned
  * in PlanSpec. */
class LocalSolveSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._
  import EngineSpec.{n, ys}

  lazy val series = (1 to n).map(i => (i.toLong, ys(i - 1))).toDF("t", "y")

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** Whether `df` was solved on the driver: a local relation. */
  private def onDriver(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  /** The Spark jobs started under each job group while `body` ran; `body`
    * sets the groups. */
  private def jobsByGroup(body: => Unit): Map[String, Int] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      Thread.sleep(1000) // the listener bus is asynchronous
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    groups.asScala.toSeq.groupBy(identity).map { case (g, js) => g -> js.size }
  }

  test("one chunk ≡ chunked: same rows, order and schema (seeded, 60 cases)") {
    val rnd = new scala.util.Random(23)
    val fns = ConstraintRegistry.all.toSeq.sortBy(_.name)
    def side(v: => Long): String = if (rnd.nextInt(4) == 0) "None" else v.toString
    // the cycle of modes: refined tightening (wide intervals), refined
    // relaxation (narrow intervals), refined without LIMIT, unrefined with
    // and without LIMIT
    val shapes = for (i <- 0 until 60) yield {
      val mode = i % 5
      // every third case starts at the series start, every third reaches
      // its end, so the n' clamps of both excess functions run
      val (xLo, xHi) = i % 3 match {
        case 0 => (1L, 6L + rnd.nextInt(20))
        case 1 => (n - 30L + rnd.nextInt(10), n.toLong)
        case _ => val lo = 1L + rnd.nextInt(40); (lo, lo + 5 + rnd.nextInt(30))
      }
      // a None offset start binds to 1, so the end stays at 1 or more
      val lxLo = rnd.nextInt(4).toLong
      val lxHi = math.max(lxLo, 1L) + rnd.nextInt(8)
      val dom = s"[${side(xLo)}, ${side(xHi)}], [${side(lxLo)}, ${side(lxHi)}]"
      val cons = (0 until 1 + rnd.nextInt(3)).map { j =>
        val f = fns((i + j) % fns.size)
        val call = if (f.arity == 0) s"${f.name}()" else s"${f.name}(${rnd.nextInt(13)})"
        val avg = f.name == "avg_amp"
        val tgt = if (rnd.nextBoolean()) "MAX" else "MIN"
        val interval =
          if (rnd.nextInt(6) == 0) { // degenerate [a, a]
            val a = if (avg) rnd.nextInt(10) else 0
            s"[$a, $a]"
          } else if (mode == 1) { // narrow, near the top of the value range
            val lo = (if (avg) 8 else 6) + rnd.nextInt(2)
            s"[$lo, ${lo + 1}]"
          } else {
            val lo = if (avg) rnd.nextInt(4) else -rnd.nextInt(6)
            s"[${side(lo)}, ${side(lo + 4 + rnd.nextInt(6))}]"
          }
        s"$call in $interval $tgt"
      }
      val k = 1 + rnd.nextInt(25)
      val limit = mode match {
        case 0 | 1 | 2 => s" LIMIT REFINED $k"
        case 3 => s" LIMIT $k"
        case _ => ""
      }
      val q =
        s"SELECT time_id, offset IN_DOMAIN $dom FROM t.c WHERE ${cons.mkString(" and ")}$limit"
      val spec = QueryParser.parse(q)
      (q, if (mode == 2) spec.copy(limit = None) else spec)
    }
    val specs = shapes.map(_._2)
    // the generator reaches every case the pin is meant to cover
    assert(specs.exists(s => s.refined && s.limit.isEmpty))
    assert(specs.exists(s => !s.refined && s.limit.isDefined))
    assert(specs.exists(s => !s.refined && s.limit.isEmpty))
    assert(specs.flatMap(_.constraints.map(_.target)).toSet.size == 2)
    assert(specs.flatMap(_.constraints.map(_.name)).toSet == ConstraintRegistry.names)
    assert(specs.map(_.constraints.size).toSet == Set(1, 2, 3))
    assert(specs.exists(s => Seq(s.xDomain.lo, s.xDomain.hi, s.lxDomain.lo, s.lxDomain.hi)
      .contains(None)))
    assert(specs.exists(_.constraints.exists(c => c.lo.isEmpty || c.hi.isEmpty)))
    assert(specs.exists(_.constraints.exists(c => c.lo.isDefined && c.lo == c.hi)))
    val bounds = specs.map(RefinementEngine.bindDomains(_, 1, n))
    assert(bounds.exists(_.xLo == 1) && bounds.exists(b => b.xHi + b.lxHi >= n))

    val idx = SeriesOps.persisted(series)
    assert(idx.resident.isDefined)
    try {
      var relaxed, tightened, nonEmpty = 0
      val jobs = jobsByGroup {
        for (((q, spec), i) <- shapes.zipWithIndex) {
          assert(LocalSolve.admits(spec, bounds(i), 1, n), q)
          val cap = LocalSolveSpec.splitCap(spec, bounds(i), 1, n)
          assert(LocalSolveSpec.chunks(spec, bounds(i), 1, n, cap).size >= 3, q)
          // both sources of the one chunk: the persisted copy's resident
          // array, and one collect from the raw series
          val prebuilt = if (i % 2 == 0) Some(idx) else None
          spark.sparkContext.setJobGroup(if (i % 2 == 0) "resident" else "collected", q)
          val one = RefinementEngine.execute(spark, series, spec, prebuilt)
          val oneRows = rows(one)
          spark.sparkContext.clearJobGroup()
          val chunked = RefinementEngine.execute(spark, series, spec, prebuilt, cap)
          assert(onDriver(one) && !onDriver(chunked), q)
          assert(one.schema == chunked.schema, q)
          assert(oneRows == rows(chunked), q)
          if (oneRows.nonEmpty) nonEmpty += 1
          spec.limit.filter(_ => spec.refined).foreach { k =>
            val satisfying = RefinementEngine.execute(spark, series,
              spec.copy(refined = false, limit = None), Some(idx)).count()
            if (satisfying < k) relaxed += 1 else tightened += 1
          }
        }
      }
      // the resident source ran no job; the raw source ran, for each of its
      // 30 queries, its bounds aggregate and the collect of its chunk's rows
      assert(!jobs.contains("resident") && jobs.getOrElse("collected", 0) >= 60, jobs)
      assert(relaxed > 0 && tightened > 0, s"relaxed=$relaxed tightened=$tightened")
      assert(nonEmpty >= 50, s"only $nonEmpty of 60 cases returned rows")
    } finally idx.df.unpersist()
  }

  test("result schemas: non-null Long (and Double) columns on every path, empty grids too") {
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    def longs(names: String*) = names.map(StructField(_, LongType, nullable = false))
    val (cells, sidCells) = (StructType(longs("time_id", "offset")),
      StructType(longs("sid", "time_id", "offset")))
    val valueCells = StructType(longs("x", "lx") :+ StructField("v", DoubleType, nullable = false))
    val spec = QueryParser.parse("SELECT time_id, offset IN_DOMAIN [1, 60], [2, 8] FROM t.c " +
      "WHERE avg_amp() in [3, 7] MAX LIMIT REFINED 10")
    val empty = spec.copy(xDomain = Domain(Some(30), Some(5))) // a reversed domain: no cell
    val cap = LocalSolveSpec.splitCap(spec, RefinementEngine.bindDomains(spec, 1, n), 1, n)
    val one = RefinementEngine.execute(spark, series, spec)
    val chunked = RefinementEngine.execute(spark, series, spec, None, cap)
    val none = RefinementEngine.execute(spark, series, empty)
    assert(onDriver(one) && !onDriver(chunked) && onDriver(none))
    for ((path, df) <- Seq("one chunk" -> one, "chunked" -> chunked, "empty grid" -> none)) {
      assert(df.schema == cells, path)
      assert(df.collect().isEmpty == (path == "empty grid"), path)
    }
    val corpus = (0L to 1L).flatMap(sid => (1 to n).map(i => (sid, i.toLong, ys(i - 1))))
      .toDF("sid", "t", "y")
    for (s <- Seq(spec, empty))
      assert(MultiSeriesEngine.execute(spark, corpus, s).schema == sidCells)
    val idx = SeriesOps.SeriesIndex(series, 1, n)
    for (b <- Seq(Bound(1, n, 2, 6), Bound(30, 5, 2, 6)))
      assert(LocalSolve.values(idx, AvgAmp, Nil, b).schema == valueCells, b)
  }

  test("gate: the cell count is exact; the cap admits, cap + 1 does not") {
    // the candidate-grid filter's count, brute-forced on random bounds
    val rnd = new scala.util.Random(5)
    for (_ <- 1 to 300) {
      val b = Bound(rnd.nextInt(30) - 5L, rnd.nextInt(40) - 5L,
        rnd.nextInt(12) - 3L, rnd.nextInt(30) - 3L)
      val tMax = 10L + rnd.nextInt(40)
      val brute = (for (x <- b.xLo to b.xHi; lx <- b.lxLo to b.lxHi if x + lx <= tMax)
        yield 1L).sum
      assert(LocalSolve.gridCells(b, tMax) == brute, s"$b tMax=$tMax")
    }
    val huge = Long.MaxValue / 2
    assert(LocalSolve.gridCells(Bound(0, huge, 0, huge), Long.MaxValue - 1) == Long.MaxValue)

    // x in [1, X], lx in [0, 1]: 2X cells on a long series, 2X - 1 when
    // the series ends at X (the last x has no lx = 1 cell)
    def gridOf(cells: Long): (Bound, Long) =
      if (cells % 2 == 0) (Bound(1, cells / 2, 0, 1), 1L << 40)
      else { val x = (cells + 1) / 2; (Bound(1, x, 0, 1), x) }
    def spec(k: Int) = QuerySpec("t", "c", Domain(None, None), Domain(None, None),
      Seq.fill(k)(Constraint("avg_amp", Nil, Some(0), Some(1), Target.Max)),
      Some(5), refined = true)
    for (k <- 1 to 3) {
      val atCap = LocalSolve.CellCap / k
      for ((cells, admitted) <- Seq(atCap -> true, (atCap + 1) -> false)) {
        val (b, tMax) = gridOf(cells)
        assert(LocalSolve.gridCells(b, tMax) == cells)
        assert(LocalSolve.admits(spec(k), b, 1, tMax) == admitted, s"$k constraints, $cells cells")
      }
    }
    // a narrow offset band far out: 4 cells, but its probes span more
    // index rows than the cap
    val far = Bound(1, 2, LocalSolve.CellCap, LocalSolve.CellCap + 1)
    assert(LocalSolve.gridCells(far, 1L << 40) == 4)
    assert(!LocalSolve.admits(spec(1), far, 1, 1L << 40))
  }

  /** The shuffle records each task read while `body` ran, for the tasks
    * that read any. */
  private def taskReads(body: => Unit): Seq[Long] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).map(_.shuffleReadMetrics.recordsRead).filter(_ > 0)
          .foreach(r => reads.add(r))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      Thread.sleep(1000) // the listener bus is asynchronous
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    reads.asScala.toSeq
  }

  test("chunks hold at most cap cells and index rows: one x over the cap, a far band") {
    val idx = SeriesOps.persisted(series)
    try {
      def check(q: String, cap: Long, minChunks: Int): Unit = {
        val spec = QueryParser.parse(q)
        val b = RefinementEngine.bindDomains(spec, 1, n)
        val chunks = LocalSolveSpec.chunks(spec, b, 1, n, cap)
        assert(chunks.size >= minChunks, q)
        chunks.foreach { ch =>
          assert(ch.cells * spec.constraints.size <= cap && ch.rows <= cap, s"$q: $ch")
        }
        val expect = rows(RefinementEngine.execute(spark, series, spec, Some(idx)))
        assert(expect.nonEmpty, q)
        var got = Seq.empty[(Long, Long)]
        val reads = taskReads {
          got = rows(RefinementEngine.execute(spark, series, spec, Some(idx), cap))
        }
        assert(got == expect, q)
        // a one-task plan reads exactly its chunk's rows (the kernel checks
        // the count); over many chunks, every task that reads series rows
        // holds at most `cap` of them, and the final order reads at most k
        // rows per chunk
        if (chunks.size > 1) assert(reads.nonEmpty && reads.forall(_ <= cap), s"$q: $reads")
      }
      // one x whose offsets alone run over a 48 cell-constraint cap (16
      // cells of three constraints): the split falls inside that x, and each
      // cell's windows, [1, 45] at most, fit the cap
      check("SELECT time_id, offset IN_DOMAIN [3, 3], [0, 40] FROM t.c " +
        "WHERE avg_amp() in [4, 6] MAX and max_amp_excess_left(2) in [None, 1] MIN " +
        "and max_amp_excess_right(2) in [None, 1] MIN LIMIT REFINED 5", 48, 3)
      // four cells at a far offset: every cell's windows span more rows than
      // a cap of 32, so no chunk can hold one and the plan fails, naming the
      // cap; at the default cap the band is one chunk and matches the oracle
      val c = 32L
      val far = s"SELECT time_id, offset IN_DOMAIN [1, 2], [$c, ${c + 1}] FROM t.c " +
        "WHERE avg_amp() in [4, 6] MAX and max_amp_excess_right(3) in [0, None] MAX " +
        "LIMIT REFINED 3"
      val spec = QueryParser.parse(far)
      val b = RefinementEngine.bindDomains(spec, 1, n)
      assert(!LocalSolve.Grid(0, 1, n, b).whole(LocalSolve.job(spec), c).isDefined)
      val e = intercept[IllegalArgumentException](LocalSolveSpec.chunks(spec, b, 1, n, c))
      assert(e.getMessage.contains(s"over the chunk cap of $c rows"), e.getMessage)
      intercept[IllegalArgumentException](
        RefinementEngine.execute(spark, series, spec, Some(idx), c))
      assert(LocalSolve.admits(spec, b, 1, n))
      assert(rows(RefinementEngine.execute(spark, series, spec, Some(idx))) ==
        EngineSpec.naiveRefined(spec).map { case (x, lx) => (x.toLong, lx.toLong) })
    } finally idx.df.unpersist()
  }

  test("over-cap grids split evenly: chunk sizes differ by at most one cell") {
    // the Sweep's query at x and offsets up to 900 on a 10,000-row series:
    // 806,400 cells of three constraints, just over the cap, in halves
    val sweep = QuerySpec("events", "value", Domain(Some(1L), Some(900L)),
      Domain(Some(5L), Some(900L)), Seq(
        Constraint("avg_amp", Nil, Some(50), Some(200), Target.Max),
        Constraint("max_amp_excess_left", Seq(4), Some(-2), Some(0), Target.Max),
        Constraint("max_amp_excess_right", Seq(4), Some(-2), Some(0), Target.Max)),
      limit = Some(50), refined = true)
    val b = RefinementEngine.bindDomains(sweep, 1, 10000)
    assert(LocalSolve.gridCells(b, 10000) == 806400)
    assert(LocalSolveSpec.chunks(sweep, b, 1, 10000, LocalSolve.CellCap).map(_.cells) ==
      Vector(403200, 403200))
    // seeded: offsets [0, l] over a long series, caps where only the cell
    // bound splits (a chunk's rows stay under the cap): the fewest chunks,
    // at most one cell apart in size, so at most one x's offsets apart
    val rnd = new scala.util.Random(31)
    val one = QueryParser.parse("SELECT time_id, offset IN_DOMAIN [1, 1], [0, 1] FROM t.c " +
      "WHERE avg_amp() in [0, 1] MAX")
    for (_ <- 1 to 200) {
      val (l, xs) = (1 + rnd.nextInt(20), 1 + rnd.nextInt(200))
      val cells = xs.toLong * (l + 1)
      val lo = math.max(8L, 4L * (l + 1))
      if (cells > lo) {
        val cap = lo + rnd.nextInt((cells - lo).toInt)
        val sizes = LocalSolveSpec.chunks(one, Bound(1, xs, 0, l), 1, 1L << 40, cap).map(_.cells)
        val what = s"$xs x [0, $l] at cap $cap: $sizes"
        assert(sizes.sum == cells && sizes.size == (cells - 1) / cap + 1, what)
        assert(sizes.max <= cap && sizes.max - sizes.min <= 1, what)
      }
    }
  }
}

object LocalSolveSpec {
  /** The kernel's chunks of `b` over a series `[tMin, tMax]` at `cap`. */
  def chunks(spec: QuerySpec, b: Bound, tMin: Long, tMax: Long, cap: Long)
      : Vector[LocalSolve.Chunk] =
    LocalSolve.plan(LocalSolve.Grid(0L, tMin, tMax, b), LocalSolve.job(spec), cap)

  /** The most rows one cell's windows span: the smallest cap a chunk
    * plan of `b` accepts. */
  def widestCell(spec: QuerySpec, b: Bound, tMin: Long, tMax: Long): Long = {
    val g = LocalSolve.Grid(0L, tMin, tMax, b)
    val r = g.reach(LocalSolve.job(spec))
    (g.xLo to g.xHi).map(x => g.hullHi(x, g.lxEnd(x), r) - g.hullLo(x, r) + 1)
      .foldLeft(1L)(math.max)
  }

  /** A cap that splits the grid of `b` into at least three chunks: a third
    * of its cell-constraints, but no less than its widest cell. */
  def splitCap(spec: QuerySpec, b: Bound, tMin: Long, tMax: Long): Long = {
    val cells = LocalSolve.Grid(0L, tMin, tMax, b).cells
    assert(cells >= 3, s"$b holds $cells cells")
    math.max(widestCell(spec, b, tMin, tMax), cells / 3 * spec.constraints.size)
  }
}
