package graft.engine

import java.util.Comparator

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.functions.{col, lit}

import graft.model._
import graft.engine.RefinementEngine.Bound
import graft.engine.SeriesOps.SeriesIndex

/** The CP kernel: the only executor of a CP query, for one series
  * ([[RefinementEngine.execute]]) or a corpus ([[MultiSeriesEngine.execute]]),
  * and of the suite's value grids ([[values]]).
  *
  * Its unit of work is a CHUNK: a contiguous run of one series' `(x, lx)`
  * enumeration holding at most [[CellCap]] cell-constraints, together with
  * the one series row range `[lo, hi]` its windows read, at most [[CellCap]]
  * rows. A task places each raw `(t, y)` row it reads by position (rows
  * arrive in no particular order), derives every window mean and maximum
  * in memory, evaluates every constraint through its scalar form
  * ([[ConstraintFunction.value]]), scores the cells and keeps a bounded
  * top-k under LIMIT, as the reference aggregates one sliced array per
  * query (server.py:190-206, 332-333):
  *
  *   - one series whose grid is one chunk (every interactive-size query)
  *     runs as ONE Spark task and job:
  *     `series.where(t between lo and hi).coalesce(1).mapPartitions(kernel)`;
  *   - larger grids, and a corpus with chunks keyed by `sid`, run one task
  *     per chunk: series rows are shuffled to the chunks whose ranges hold
  *     them. When a refined query's series
  *     spans several chunks, a first pass over the chunks takes that series'
  *     extrema. Each chunk ranks its own cells; the final order and limit see
  *     at most k rows per chunk.
  *
  * A window mean is a left-to-right sum anchored at the window's start and a
  * window maximum combines two levels of a sparse table whose cells cover
  * the same absolute rows in every chunk, so neither depends on where a
  * chunk starts. Doubles compare in Spark SQL's order
  * (`SQLOrderingUtil.compareDoubles`: -0.0 == 0.0, NaN largest), min/max
  * keep the earlier value on ties, RK is summed left to right: the rows and
  * their order do not depend on how the grid is chunked (pinned in
  * LocalSolveSpec). Nothing is persisted.
  *
  * Determinism note (SURVEY §7.3): the reference's result order is
  * nondeterministic (random branching, bst_class.py:147); ties here break by
  * the enumeration order (x asc, lx asc).
  */
object LocalSolve {

  /** Largest chunk, in cell-constraints (cells × constraints), and the
    * bound on the series rows a chunk reads. Known traffic: the benchmark's
    * interactive stream stays under 3×10^5, the suite's CP queries at 104k:
    * each runs as one chunk. A cell whose own windows span more rows fails
    * at plan time. */
  val CellCap: Long = 1L << 21

  /** One result row: the field names are the result's column names. */
  final case class Cell(time_id: Long, offset: Long)
  final case class SeriesCell(sid: Long, time_id: Long, offset: Long)
  /** One constraint's value at one cell ([[values]]). */
  final case class CellValue(x: Long, lx: Long, v: Double)
  /** One raw series row of a corpus. */
  final case class Point(sid: Long, t: Long, y: Double)

  /** A query and its constraint functions, shipped with every task. */
  private[graft] final case class Job(spec: QuerySpec, fns: Array[ConstraintFunction]) {
    /** How far past its cell any constraint reads ([[ConstraintFunction.reach]]). */
    val reach: Long =
      spec.constraints.zip(fns).map { case (c, f) => f.reach(c.args) }.foldLeft(0L)(math.max)
  }
  private[graft] def job(spec: QuerySpec): Job =
    Job(spec, spec.constraints.map(c => ConstraintRegistry(c.name)).toArray)

  /** Exact number of candidate cells `(x, lx)` of `b` with `x + lx <= tMax`,
    * saturating at Long.MaxValue. For lx up to `tMax - xHi` every x fits;
    * beyond, x stops at `tMax - lx`, an arithmetic run down to one cell at
    * `lx = tMax - xLo`. */
  def gridCells(b: Bound, tMax: Long): Long = {
    val (x0, x1, t) = (BigInt(b.xLo), BigInt(b.xHi), BigInt(tMax))
    val l0 = BigInt(b.lxLo)
    val l1 = BigInt(b.lxHi) min (t - x0)
    if (x1 < x0 || l1 < l0) return 0L
    val fullHi = l1 min (t - x1)
    val full = ((fullHi - l0 + 1) max 0) * (x1 - x0 + 1)
    val p0 = l0 max (fullHi + 1)
    val nTail = (l1 - p0 + 1) max 0
    val tail = nTail * (t - x0 + 1) - (p0 + l1) * nTail / 2
    (full + tail).min(BigInt(Long.MaxValue)).toLong
  }

  /** One series' candidate grid: its key in the corpus (0 for a lone
    * series), its extent and its bound domains. The cells are the `(x, lx)`
    * whose windows lie inside the series: x from the series start on (a cell
    * before it would probe a missing time_id, which the reference skips,
    * server.py:526-528), offsets from 0, `x + lx <= tMax`. A reversed domain
    * holds no cell, as the reference's `range` yields none. */
  private[graft] final case class Grid(sid: Long, tMin: Long, tMax: Long, b: Bound) {
    val xLo: Long = math.max(b.xLo, tMin)
    val lxLo: Long = math.max(b.lxLo, 0L)
    val xHi: Long = math.min(b.xHi, tMax - lxLo)
    def lxEnd(x: Long): Long = math.min(b.lxHi, tMax - x)
    def cells: Long = gridCells(Bound(xLo, xHi, lxLo, b.lxHi), tMax)

    /** `job`'s reach over this series: no window extends past either end. */
    def reach(job: Job): Long = math.min(job.reach, tMax - tMin)
    /** The series rows `[hullLo, hullHi]` cell `(x, lx)` reads. */
    def hullLo(x: Long, reach: Long): Long = math.max(tMin, x - reach)
    def hullHi(x: Long, lx: Long, reach: Long): Long = math.min(tMax, x + lx + reach)

    /** The grid as one chunk, if it holds at most `cap` cell-constraints and
      * reads at most `cap` rows. */
    def whole(job: Job, cap: Long): Option[Chunk] = {
      val r = reach(job)
      val (total, lo, hi) = (cells, hullLo(xLo, r), hullHi(xHi, lxEnd(xLo), r))
      if (total > cap / job.spec.constraints.size || hi - lo + 1 > cap) None
      else Some(Chunk(this, 0, xLo, lxLo, total.toInt, lo, hi))
    }
  }

  /** A contiguous run of a grid's enumeration: `cells` cells from
    * `(x0, lx0)`, the `first`-th cell of its grid, whose windows read the
    * series rows `[lo, hi]`. */
  private[graft] final case class Chunk(grid: Grid, first: Long, x0: Long, lx0: Long,
      cells: Int, lo: Long, hi: Long) {
    def rows: Long = hi - lo + 1

    /** The chunk's cells in enumeration order. */
    def foreachCell(f: (Long, Long) => Unit): Unit = {
      var (x, lx, k) = (x0, lx0, 0)
      while (k < cells) {
        if (lx > grid.lxEnd(x)) { x += 1; lx = grid.lxLo }
        f(x, lx)
        lx += 1; k += 1
      }
    }
  }

  /** Split a grid into chunks of at most `cap` cell-constraints and `cap`
    * rows, in enumeration order, each taking the longest runs of one x's
    * offsets that keep it within both. A cell whose own windows span more
    * than `cap` rows fails: no chunk can hold it. */
  private[graft] def plan(g: Grid, job: Job, cap: Long): Vector[Chunk] = {
    val nc = job.spec.constraints.size
    require(nc > 0, "a CP query needs a constraint")
    if (g.cells == 0) return Vector.empty
    g.whole(job, cap).foreach(ch => return Vector(ch))
    val r = g.reach(job)
    val maxCells = math.max(1L, cap / nc)
    val out = Vector.newBuilder[Chunk]
    var (first, x0, lx0, cells, lo, hi) = (0L, 0L, 0L, 0L, 0L, 0L)
    def close(): Unit = if (cells > 0) {
      out += Chunk(g, first, x0, lx0, cells.toInt, lo, hi)
      first += cells; cells = 0
    }
    var x = g.xLo
    while (x <= g.xHi) {
      val end = g.lxEnd(x)
      var lx = g.lxLo
      while (lx <= end) {
        if (cells == maxCells || (cells > 0 && g.hullHi(x, lx, r) - lo + 1 > cap)) close()
        if (cells == 0) {
          val (a, b) = (g.hullLo(x, r), g.hullHi(x, lx, r))
          require(b - a + 1 <= cap, s"cell (time_id $x, offset $lx) reads the ${b - a + 1} " +
            s"series rows [$a, $b], over the chunk cap of $cap rows")
          x0 = x; lx0 = lx; lo = a; hi = b
        }
        // the last offset of this x whose windows end within the cap
        val fit = if (g.tMax - lo < cap) end else lo + cap - 1 - x - r
        val e = math.min(math.min(end, fit), lx + maxCells - cells - 1)
        cells += e - lx + 1
        hi = math.max(hi, g.hullHi(x, e, r))
        lx = e + 1
      }
      x += 1
    }
    close()
    out.result()
  }

  /** A chunk's raw series rows, placed by position: the [[ScalarProbe]]
    * its constraint functions read. */
  private final class Slice(ch: Chunk) extends ScalarProbe {
    val tMin: Long = ch.grid.tMin
    val tMax: Long = ch.grid.tMax
    private val lo = ch.lo
    private val y = new Array[Double](ch.rows.toInt)
    private var got = 0

    def put(t: Long, v: Double): Unit = { y((t - lo).toInt) = v; got += 1 }

    def check(): Unit = require(got == y.length,
      s"series rows [${ch.lo}, ${ch.hi}] hold $got of ${y.length} rows: " +
        "the series key is not dense")

    // the left-to-right sum of y[sa..sb], extended while the window start
    // stays and its end grows
    private var sa = Long.MinValue
    private var sb = 0L
    private var sum = 0.0

    def avg(a: Long, b: Long): Double = {
      if (a != sa || b < sb) { sa = a; sb = a; sum = y((a - lo).toInt) }
      while (sb < b) { sb += 1; sum += y((sb - lo).toInt) }
      sum / (b - a + 1).toDouble
    }

    // level j: the maxima of the 2^j-row windows starting at each row,
    // built up to the deepest level a probe has asked for
    private var levels = Array(y)

    def max(a: Long, b: Long): Double = {
      val j = 63 - java.lang.Long.numberOfLeadingZeros(b - a + 1)
      while (levels.length <= j) {
        val (prev, half) = (levels.last, 1 << (levels.length - 1))
        val next = new Array[Double](prev.length - half)
        var i = 0
        while (i < next.length) { next(i) = math.max(prev(i), prev(i + half)); i += 1 }
        levels :+= next
      }
      val m = levels(j)
      greatest(m((a - lo).toInt), m((b - (1L << j) + 1 - lo).toInt))
    }
  }

  /** Spark's `greatest(a, b)` (and `least`): the first operand unless the
    * second is strictly greater (less) in SQL order — as `max` (`min`) keeps
    * the earlier value on ties. */
  private def greatest(a: Double, b: Double): Double = if (compareDoubles(b, a) > 0) b else a
  private def least(a: Double, b: Double): Double = if (compareDoubles(b, a) < 0) b else a

  private def sat(c: Constraint, v: Double): Boolean =
    c.lo.forall(a => compareDoubles(v, a) >= 0) && c.hi.forall(h => compareDoubles(v, h) <= 0)

  /** Per-constraint minima and maxima of a run of cells. */
  private final case class Extrema(mins: Array[Double], maxs: Array[Double]) {
    /** The extrema of this run followed by `next`, as one pass over both. */
    def andThen(next: Extrema): Extrema = Extrema(
      mins.zip(next.mins).map { case (a, b) => least(a, b) },
      maxs.zip(next.maxs).map { case (a, b) => greatest(a, b) })
  }

  /** One ranked cell on its way to the final order: `pos` is its index in
    * its grid's enumeration, `key` is -RK for a satisfied cell and RP for
    * the rest. */
  private final case class Ranked(sid: Long, pos: Long, x: Long, lx: Long,
      sat: Boolean, key: Double)

  /** The refinement order: satisfied first, then `key` ascending (RK
    * descending among the satisfied — tightening — and RP ascending among
    * the rest — relaxation), ties in enumeration order. */
  private def order(satP: Boolean, keyP: Double, posP: Long,
      satQ: Boolean, keyQ: Double, posQ: Long): Int =
    if (satP != satQ) (if (satP) -1 else 1)
    else {
      val d = compareDoubles(keyP, keyQ)
      if (d != 0) d else java.lang.Long.compare(posP, posQ)
    }

  private val rankedOrder: Comparator[Ranked] =
    (p: Ranked, q: Ranked) => order(p.sat, p.key, p.pos, q.sat, q.key, q.pos)

  /** The best `limit` items under `ord` (all of them without a limit), best
    * first: a bounded max-heap of the best seen so far. */
  private def best[A <: AnyRef: ClassTag](items: Iterator[A], limit: Option[Int],
      ord: Comparator[A]): Array[A] = {
    val kept = limit.fold[Array[A]](items.toArray) { lim =>
      val heap = new java.util.PriorityQueue[A](math.max(1, lim), ord.reversed())
      items.foreach { q =>
        if (heap.size < lim) heap.add(q)
        else if (lim > 0 && ord.compare(q, heap.peek()) < 0) { heap.poll(); heap.add(q) }
      }
      heap.toArray[A](new Array[A](0))
    }
    java.util.Arrays.sort(kept, ord)
    kept
  }

  /** Every constraint's value at every cell of `ch`, cell-major. */
  private def evaluate(ch: Chunk, probe: ScalarProbe, job: Job): Array[Double] = {
    val cons = job.spec.constraints.toArray
    val nc = cons.length
    val v = new Array[Double](ch.cells * nc)
    var k = 0
    ch.foreachCell { (x, lx) =>
      var i = 0
      while (i < nc) { v(k) = job.fns(i).value(probe, x, lx, cons(i).args); i += 1; k += 1 }
    }
    v
  }

  /** The extrema of a chunk's values (cell-major, `nc` per cell). */
  private def extrema(v: Array[Double], nc: Int): Extrema = {
    val (mins, maxs) = (v.take(nc), v.take(nc))
    var k = nc
    while (k < v.length) {
      val i = k % nc
      mins(i) = least(mins(i), v(k)); maxs(i) = greatest(maxs(i), v(k))
      k += 1
    }
    Extrema(mins, maxs)
  }

  /** A chunk's contribution to the result, best first: under LIMIT k at
    * most k rows. Unrefined: the cells satisfying every constraint, in
    * order (reference: server.py:456-460). Refined: every cell scored
    * against its series' extrema (`ext`, else the chunk's own, the
    * reference's 'mins'/'maxs', server.py:313-317, 345-349) and ranked by
    * [[order]]. */
  private def rank(ch: Chunk, probe: ScalarProbe, job: Job, ext: Option[Extrema])
      : Iterator[Ranked] = {
    val spec = job.spec
    val cons = spec.constraints.toArray
    val nc = cons.length
    val xs = new Array[Long](ch.cells)
    val lxs = new Array[Long](ch.cells)
    var c = 0
    ch.foreachCell { (x, lx) => xs(c) = x; lxs(c) = lx; c += 1 }
    def row(q: Int, isSat: Boolean, key: Double) =
      Ranked(ch.grid.sid, ch.first + q, xs(q), lxs(q), isSat, key)

    if (!spec.refined) {
      val hits = Iterator.range(0, ch.cells).filter { q =>
        var i = 0
        while (i < nc && sat(cons(i), job.fns(i).value(probe, xs(q), lxs(q), cons(i).args))) i += 1
        i == nc
      }.map(row(_, isSat = true, 0.0))
      return spec.limit.fold(hits)(hits.take)
    }

    val v = evaluate(ch, probe, job)
    val Extrema(mins, maxs) = ext.getOrElse(extrema(v, nc))
    val count = ch.cells
    val isSat = new Array[Boolean](count)
    val key = new Array[Double](count)
    val w = 1.0 / nc
    var k = 0
    while (k < count) {
      var nSat = 0
      var maxRd = 0.0
      var rkSum = 0.0
      var i = 0
      while (i < nc) {
        val con = cons(i)
        val t = v(k * nc + i)
        if (sat(con, t)) nSat += 1
        // RD_c (reference: server.py:614-633): 0 inside [a, b]; (t-b)/(max-b)
        // above; (a-t)/(a-min) below; a None side behaves as t
        val rd = con.hi.filter(h => compareDoubles(t, h) > 0).map(h => (t - h) / (maxs(i) - h))
          .orElse(con.lo.filter(a => compareDoubles(t, a) < 0).map(a => (a - t) / (a - mins(i))))
          .getOrElse(0.0)
        maxRd = if (i == 0) rd else greatest(maxRd, rd)
        // RK_c = (b-t)/(b-a) for MAX, (a-t)/(b-a) for MIN (reference:
        // server.py:779-816); an unbounded side takes the series extremum
        // (the reference would crash, SURVEY §7.3) and a degenerate
        // interval ranks every cell equally (RK_c = 0) where the reference
        // raises ZeroDivisionError (server.py:789-792)
        val a = con.lo.getOrElse(mins(i))
        val h = con.hi.getOrElse(maxs(i))
        val num = con.target match {
          case Target.Max => h - t
          case Target.Min => a - t
        }
        val rkc = if (compareDoubles(h - a, 0.0) != 0) num / (h - a) else 0.0
        rkSum = if (i == 0) w * rkc else rkSum + w * rkc
        i += 1
      }
      // VC (server.py:544); RP = 0.5 max_c RD_c + 0.5 VC (server.py:636-664)
      val vc = (nc - nSat).toDouble / nc
      isSat(k) = nSat == nc
      key(k) = if (isSat(k)) -(1.0 - rkSum) else 0.5 * maxRd + 0.5 * vc
      k += 1
    }
    val byRank: Comparator[Integer] =
      (p: Integer, q: Integer) => order(isSat(p), key(p), p.toLong, isSat(q), key(q), q.toLong)
    best(Iterator.range(0, count).map(Int.box), spec.limit, byRank).iterator
      .map(q => row(q, isSat(q), key(q)))
  }

  /** One chunk of one series `(t, y)` as one task: `where` → `coalesce(1)`
    * → `mapPartitions`, one Spark job. */
  private def oneTask[A: Encoder](series: DataFrame, ch: Chunk)(
      f: (Chunk, ScalarProbe) => Iterator[A]): DataFrame =
    series.where(col("t").between(ch.lo, ch.hi))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble))
      .coalesce(1)
      .mapPartitions { rows =>
        val slice = new Slice(ch)
        rows.foreach { case (t, y) => slice.put(t, y) }
        slice.check()
        f(ch, slice)
      }
      .toDF()

  /** Many chunks, one task per chunk: each series row is shuffled to every
    * chunk whose range holds it. The same shuffled rows serve every `run`. */
  private final class Tasks(points: RDD[Point], chunks: Array[Chunk]) {
    private val shuffled: RDD[(Int, Point)] = {
      val bySid = chunks.indices.groupBy(chunks(_).grid.sid)
      val route = points.sparkContext.broadcast((chunks, bySid))
      points.flatMap { p =>
        val (chunks, bySid) = route.value
        bySid.getOrElse(p.sid, Nil).filter(i => chunks(i).lo <= p.t && p.t <= chunks(i).hi)
          .map(i => (i, p))
      }.partitionBy(new HashPartitioner(chunks.length))
    }

    /** `f` over every chunk: the `i`-th task runs chunk `i`. */
    def run[A: ClassTag](f: (Int, Chunk, ScalarProbe) => Iterator[A]): RDD[A] = {
      val chunks = this.chunks
      shuffled.mapPartitionsWithIndex { (i, rows) =>
        val slice = new Slice(chunks(i))
        rows.foreach { case (_, p) => slice.put(p.t, p.y) }
        slice.check()
        f(i, chunks(i), slice)
      }
    }
  }

  /** The query over every grid, as ranked rows: a first pass takes the
    * extrema of each refined grid that spans several chunks, then each
    * chunk ranks its cells and the final order keeps the best k per grid
    * from at most k rows per chunk. */
  private def chunked(points: RDD[Point], chunks: Array[Chunk], jb: Job,
      nGrids: Int): RDD[Ranked] = {
    val spec = jb.spec
    val tasks = new Tasks(points, chunks)
    val split = chunks.groupBy(_.grid.sid).filter(_._2.length > 1).keySet
    val ext: Map[Long, Extrema] =
      if (!spec.refined || split.isEmpty) Map.empty
      else tasks.run { (i, ch, probe) =>
        if (!split(ch.grid.sid)) Iterator.empty
        else Iterator((i, extrema(evaluate(ch, probe, jb), spec.constraints.size)))
      }.collect().sortBy(_._1).groupBy(p => chunks(p._1).grid.sid)
        .map { case (sid, es) => sid -> es.map(_._2).reduce(_ andThen _) }
    val limit = spec.limit
    tasks.run((_, ch, probe) => rank(ch, probe, jb, ext.get(ch.grid.sid)))
      .map(r => (r.sid, r))
      .partitionBy(new HashPartitioner(math.max(1, math.min(nGrids,
        points.sparkContext.defaultParallelism))))
      .mapPartitions { rows =>
        rows.toSeq.groupBy(_._1).iterator.flatMap { case (_, rs) =>
          best(rs.iterator.map(_._2), limit, rankedOrder)
        }
      }
  }

  /** `perChunk` over one series' grid of `b`: one task when the grid is one
    * chunk, else `many` over its chunks and the series rows they read. */
  private def overSeries[A <: Product: TypeTag](idx: SeriesIndex, jb: Job, b: Bound, cap: Long)(
      perChunk: (Chunk, ScalarProbe) => Iterator[A])(
      many: (RDD[Point], Array[Chunk]) => RDD[A]): DataFrame = {
    val enc = Encoders.product[A]
    val series = SeriesOps.raw(idx.df)
    plan(Grid(0L, idx.tMin, idx.tMax, b), jb, cap) match {
      case Vector() => series.sparkSession.emptyDataset(enc).toDF()
      case Vector(ch) => oneTask(series, ch)(perChunk)(enc)
      case chunks =>
        val points = series.where(col("t").between(chunks.map(_.lo).min, chunks.map(_.hi).max))
          .select(lit(0L).as("sid"), col("t"), col("y")).as(Encoders.product[Point]).rdd
        series.sparkSession.createDataset(many(points, chunks.toArray))(enc).toDF()
    }
  }

  /** The query over one series `(t, y)`: a lazy frame of `(time_id, offset)`
    * in result order. */
  private[graft] def series(idx: SeriesIndex, spec: QuerySpec, b: Bound, cap: Long): DataFrame = {
    val jb = job(spec)
    overSeries(idx, jb, b, cap)((ch, probe) =>
      rank(ch, probe, jb, None).map(r => Cell(r.x, r.lx)))((points, chunks) =>
      chunked(points, chunks, jb, 1).map(r => Cell(r.x, r.lx)))
  }

  /** The query over every grid of a corpus `(sid, t, y)`: `(sid, time_id,
    * offset)` rows, each series' in result order. */
  private[graft] def corpus(series: DataFrame, grids: Seq[Grid], jb: Job, cap: Long): DataFrame = {
    val spark = series.sparkSession
    val chunks = grids.flatMap(plan(_, jb, cap)).toArray
    if (chunks.isEmpty) spark.emptyDataset(Encoders.product[SeriesCell]).toDF()
    else {
      val points = series.select(col("sid").cast("long").as("sid"), col("t").cast("long").as("t"),
        col("y").cast("double").as("y")).as(Encoders.product[Point]).rdd
      spark.createDataset(chunked(points, chunks, jb, grids.size)
        .map(r => SeriesCell(r.sid, r.x, r.lx)))(Encoders.product[SeriesCell]).toDF()
    }
  }

  /** One function's value at every cell of `b` over one series, as
    * `(x, lx, v)` in enumeration order: the reference's UDF map
    * (server.py:291-351) for one function. */
  def values(idx: SeriesIndex, fn: ConstraintFunction, args: Seq[Long], b: Bound): DataFrame = {
    val c = Constraint(fn.name, args, None, None, Target.Max)
    val spec = QuerySpec("", "", Domain(None, None), Domain(None, None), Seq(c), None,
      refined = false)
    val jb = Job(spec, Array(fn))
    val cells = (ch: Chunk, probe: ScalarProbe) => {
      val v = evaluate(ch, probe, jb)
      val out = new Array[CellValue](ch.cells)
      var k = 0
      ch.foreachCell { (x, lx) => out(k) = CellValue(x, lx, v(k)); k += 1 }
      out.iterator
    }
    overSeries(idx, jb, b, CellCap)(cells)((points, chunks) =>
      new Tasks(points, chunks).run((_, ch, probe) => cells(ch, probe)))
  }

  /** Whether `b` runs as one chunk: at most [[CellCap]] cell-constraints
    * and series rows. */
  def admits(spec: QuerySpec, b: Bound, tMin: Long, tMax: Long): Boolean =
    spec.constraints.nonEmpty && Grid(0L, tMin, tMax, b).whole(job(spec), CellCap).isDefined
}
