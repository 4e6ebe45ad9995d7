package graft.engine

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.functions.col

import graft.model._
import graft.engine.RefinementEngine.Bound
import graft.engine.SeriesOps.{IndexedPoint, SeriesIndex}

/** The local executor of [[RefinementEngine.execute]]: an interactive-size
  * CP query as ONE lazy Spark task. At 10^3–10^5 cells the distributed plan
  * is all fixed cost (about 15 jobs of planning, scheduling and broadcast
  * per query); here the probes, the extrema, the scoring and the top-k run
  * in one task over the index slice the probes read:
  *
  *   `idx.df.where(t between [lo, hi]).coalesce(1).mapPartitions(kernel)`
  *
  * The kernel places each index row by `t - lo` (cached partitions arrive
  * in no particular order), evaluates every constraint through its scalar
  * form ([[ConstraintFunction.value]]) over the prefix sums and the sparse
  * table, and ranks with [[RefinementEngine.rankOrder]]'s order, keeping a
  * bounded top-k under LIMIT. Every formula mirrors the Spark expression it
  * replaces operation for operation — same operand order, `greatest`
  * keeping its first operand on ties, doubles compared in Spark SQL's order
  * (`SQLOrderingUtil.compareDoubles`: -0.0 == 0.0, NaN largest), RK summed
  * left to right — so both executors return the same rows in the same
  * order (pinned on randomized specs in LocalSolveSpec). Nothing is
  * persisted or checkpointed: the result holds no storage to release.
  *
  * The gate ([[admits]]) is free: the cell count is exact arithmetic on the
  * bound domains. It admits only grids whose every probe window lies inside
  * the series; every other grid, and every grid over [[CellCap]], takes the
  * distributed plan.
  */
object LocalSolve {

  /** Largest grid, in cell-constraints (cells × constraints), run as one
    * task; also the bound on the index rows that task holds. `graft.Sweep`
    * times both executors per grid size: on a 4-vCPU Xeon VM, local stays
    * faster than distributed past this cap (see CHANGES.md). Known traffic:
    * the benchmark's interactive stream stays under 3×10^5, the suite's CP
    * queries at 52k cells. */
  val CellCap: Long = 1L << 21

  /** One result row: the field names are the result's column names. */
  final case class Cell(time_id: Long, offset: Long)

  /** Exact number of candidate cells `(x, lx)` of `b` with `x + lx <= tMax`
    * (the arithmetic of [[RefinementEngine.candidateGrid]]'s filter),
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

  /** What the task reads: `win` is the longest window any probe asks for,
    * `[lo, hi]` the index positions the probes touch (every window of cell
    * `(x, lx)` lies in `[x - win, x + lx + win]`, clamped to the series). */
  private final case class Reach(win: Long, lo: Long, hi: Long)

  private def reach(spec: QuerySpec, b: Bound, tMin: Long, tMax: Long): Reach = {
    val xHi = math.min(b.xHi, tMax - b.lxLo)
    val lxHi = math.min(b.lxHi, tMax - b.xLo)
    val win = math.min(RefinementEngine.windowNeed(spec, math.max(lxHi, 0L)), tMax - tMin + 1)
    Reach(win, math.max(tMin, b.xLo - win), math.min(tMax, xHi + lxHi + win))
  }

  /** The size gate: every probe window inside `[tMin, tMax]` (x from the
    * series start on, non-negative offsets, arguments within the series
    * length) and at most [[CellCap]] cell-constraints and index rows. A
    * reversed offset domain also goes distributed: the grid's `sequence`
    * enumerates `[lxLo, lxHi]` downward when `lxLo > lxHi`, which the local
    * grid does not copy. */
  def admits(spec: QuerySpec, b: Bound, tMin: Long, tMax: Long): Boolean =
    spec.constraints.nonEmpty && b.xLo >= tMin && b.lxLo >= 0 && b.lxLo <= b.lxHi &&
      spec.constraints.forall(_.args.forall(a => a >= 0 && a <= tMax - tMin)) &&
      gridCells(b, tMax) <= CellCap / spec.constraints.size && {
        val r = reach(spec, b, tMin, tMax)
        r.hi - r.lo + 1 <= CellCap
      }

  /** Everything the task needs, shipped with it. */
  private final case class Task(
      spec: QuerySpec, b: Bound, tMin: Long, tMax: Long, lo: Long, hi: Long,
      levels: Int, fns: Array[ConstraintFunction])

  /** The query over an [[admits]]-ted grid as a lazy one-task frame of
    * `(time_id, offset)`, rows in the distributed plan's order. */
  def apply(idx: SeriesIndex, spec: QuerySpec, b: Bound): DataFrame = {
    val r = reach(spec, b, idx.tMin, idx.tMax)
    val task = Task(spec, b, idx.tMin, idx.tMax, r.lo, r.hi, SeriesOps.levelsFor(r.win),
      spec.constraints.map(c => ConstraintRegistry(c.name)).toArray)
    idx.df.where(col("t").between(r.lo, r.hi))
      .select("t", "y", "s", "ms").as(Encoders.product[IndexedPoint])
      .coalesce(1)
      .mapPartitions(rows => solve(rows, task))(Encoders.product[Cell])
      .toDF()
  }

  /** Spark's `greatest(a, b)`: the first operand unless the second is
    * strictly greater in SQL order. */
  private def greatest(a: Double, b: Double): Double = if (compareDoubles(b, a) > 0) b else a

  private def solve(rows: Iterator[IndexedPoint], task: Task): Iterator[Cell] = {
    import task._
    val n = math.max(0L, hi - lo + 1).toInt
    val y = new Array[Double](n)
    val s = new Array[Double](n)
    val ms = new Array[Double](n * levels)
    var got = 0
    rows.foreach { p =>
      val k = (p.t - lo).toInt
      y(k) = p.y; s(k) = p.s
      System.arraycopy(p.ms, 0, ms, k * levels, levels)
      got += 1
    }
    require(got == n, s"index slice [$lo, $hi] holds $got of $n rows: the series key is not dense")
    // MemoProbe.windowAgg's arithmetic, one window at a time
    val probe = new ScalarProbe {
      val tMin: Long = task.tMin
      val tMax: Long = task.tMax
      def avg(a: Long, b: Long): Double = {
        val (ia, ib) = ((a - lo).toInt, (b - lo).toInt)
        (s(ib) - s(ia) + y(ia)) / (b - a + 1).toDouble
      }
      def max(a: Long, b: Long): Double = {
        val j = 63 - java.lang.Long.numberOfLeadingZeros(b - a + 1)
        val b2 = b - (1L << j) + 1
        greatest(ms((a - lo).toInt * levels + j), ms((b2 - lo).toInt * levels + j))
      }
    }
    val cons = spec.constraints.toArray
    val nc = cons.length
    val xHi = math.min(b.xHi, tMax - b.lxLo)
    // the grid in (x, lx) order: the tie-break order of every result
    def cells: Iterator[(Long, Long)] = (b.xLo to xHi).iterator.flatMap { x =>
      (b.lxLo to math.min(b.lxHi, tMax - x)).iterator.map(lx => (x, lx))
    }
    def sat(c: Constraint, v: Double): Boolean =
      c.lo.forall(a => compareDoubles(v, a) >= 0) && c.hi.forall(h => compareDoubles(v, h) <= 0)

    if (!spec.refined) {
      // RefinementEngine.allSatisfied, in (x, lx) order
      val hits = cells.filter { case (x, lx) =>
        var i = 0
        while (i < nc && sat(cons(i), fns(i).value(probe, x, lx, cons(i).args))) i += 1
        i == nc
      }.map { case (x, lx) => Cell(x, lx) }
      return spec.limit.fold(hits)(hits.take)
    }

    val count = gridCells(b, tMax).toInt
    val xs = new Array[Long](count)
    val lxs = new Array[Long](count)
    val v = new Array[Double](count * nc)
    var c = 0
    cells.foreach { case (x, lx) =>
      xs(c) = x; lxs(c) = lx
      var i = 0
      while (i < nc) { v(c * nc + i) = fns(i).value(probe, x, lx, cons(i).args); i += 1 }
      c += 1
    }
    // the extrema aggregate: min/max keep the running value on SQL ties
    val mins = new Array[Double](nc)
    val maxs = new Array[Double](nc)
    for (i <- 0 until nc if count > 0) {
      var mn = v(i); var mx = v(i); var k = 1
      while (k < count) {
        val t = v(k * nc + i)
        if (compareDoubles(t, mn) < 0) mn = t
        if (compareDoubles(t, mx) > 0) mx = t
        k += 1
      }
      mins(i) = mn; maxs(i) = mx
    }
    // RefinementEngine.scored, then the rankOrder key
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
        val rd = con.hi.filter(h => compareDoubles(t, h) > 0).map(h => (t - h) / (maxs(i) - h))
          .orElse(con.lo.filter(a => compareDoubles(t, a) < 0).map(a => (a - t) / (a - mins(i))))
          .getOrElse(0.0)
        maxRd = if (i == 0) rd else greatest(maxRd, rd)
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
      val vc = (nc - nSat).toDouble / nc
      isSat(k) = nSat == nc
      key(k) = if (isSat(k)) -(1.0 - rkSum) else 0.5 * maxRd + 0.5 * vc
      k += 1
    }
    // sat desc, key asc, then (x, lx) asc — the enumeration order
    val order: java.util.Comparator[Integer] = (p: Integer, q: Integer) =>
      if (isSat(p) != isSat(q)) (if (isSat(p)) -1 else 1)
      else {
        val d = compareDoubles(key(p), key(q))
        if (d != 0) d else Integer.compare(p, q)
      }
    val ranked: Array[Integer] = spec.limit match {
      case Some(lim) if lim < count =>
        // bounded top-k: a max-heap of the best `lim` cells seen so far
        val heap = new java.util.PriorityQueue[Integer](math.max(1, lim), order.reversed())
        var q = 0
        while (q < count && lim > 0) {
          if (heap.size < lim) heap.add(q)
          else if (order.compare(q, heap.peek()) < 0) { heap.poll(); heap.add(q) }
          q += 1
        }
        val top = heap.toArray(new Array[Integer](0))
        java.util.Arrays.sort(top, order)
        top
      case _ =>
        val all = Array.tabulate[Integer](count)(Int.box)
        java.util.Arrays.sort(all, order)
        all
    }
    ranked.iterator.map(q => Cell(xs(q), lxs(q)))
  }
}
