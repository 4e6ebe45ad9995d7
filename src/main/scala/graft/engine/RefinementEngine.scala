package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model._
import graft.engine.SeriesOps.SeriesIndex

/** The declarative CP-refinement engine.
  *
  * The reference explores a backtracking binary search tree over the
  * candidate `(time_id, offset)` grid, with branch-and-bound refinement
  * (reference: server.py:364-493, bst_class.py:89-187). The observable
  * semantics — what the search *returns* — collapse into one declarative
  * Spark plan:
  *
  *   - candidate grid: `range x explode(sequence)` (reference's nested loop,
  *     server.py:303-326);
  *   - constraint columns: O(1) index probes (see [[SeriesOps]]);
  *   - satisfaction, VC, RD, RK, RP: pure column arithmetic
  *     (reference: server.py:524-546, 614-664, 779-816);
  *   - refinement: BOTH modes (relaxation on under-production, tightening on
  *     over-production, reference: server.py:60-78) are one
  *     `orderBy(sat desc, if(sat, -RK, RP) asc, x, lx).limit(k)`:
  *       * if >= k candidates satisfy, the top-k are all satisfied and
  *         RK-descending == tightening (server.py:819-836);
  *       * if m < k satisfy, all m come first and the next k-m are the
  *         RP-ascending non-satisfying candidates == relaxation
  *         (server.py:679-688, 691-772).
  *     Spark executes this as a single TakeOrderedAndProject — top-k with no
  *     full sort, no driver branching, no count() action.
  *
  * The scoring, the rank order, the window-need rule and the bounded-result
  * step defined here are the only copies: [[MultiSeriesEngine]] calls them
  * keyed by `sid`.
  *
  * Determinism note (SURVEY §7.3): the reference's result order/subset is
  * nondeterministic (random branching, bst_class.py:147); we fix the
  * canonical tie-break (x asc, lx asc) — a strict refinement of its contract.
  */
object RefinementEngine {

  /** Fully-bound domains (no None sides), reference: server.py:124-183. */
  final case class Bound(xLo: Long, xHi: Long, lxLo: Long, lxHi: Long)

  /** Resolve None domain sides from the series extent (reference fixes them
    * with SQL MIN/MAX, server.py:146-169; offset defaults to
    * [1, max-min+1], server.py:171-181). */
  def bindDomains(spec: QuerySpec, tMin: Long, tMax: Long): Bound = Bound(
    xLo = spec.xDomain.lo.getOrElse(tMin),
    xHi = spec.xDomain.hi.getOrElse(tMax),
    lxLo = spec.lxDomain.lo.getOrElse(1L),
    lxHi = spec.lxDomain.hi.getOrElse(tMax - tMin + 1))

  /** The candidate grid: all (x, lx) with x in [xLo,xHi], lx in [lxLo,lxHi],
    * x+lx <= tMax. Cells whose window would run off the series end are
    * excluded — the reference skips them via KeyError (server.py:526-528).
    * `explode(sequence)` keeps the expansion partition-local: no shuffle,
    * and the x-range partitioning carries through every downstream probe.
    */
  def candidateGrid(spark: SparkSession, b: Bound, tMax: Long): DataFrame =
    spark.range(b.xLo, b.xHi + 1).toDF("x")
      .withColumn("lx", explode(sequence(lit(b.lxLo), lit(b.lxHi))))
      .where(col("x") + col("lx") <= lit(tMax))
      // redundant given the range bounds, but Range emits no value
      // constraints: these filters let InferFiltersFromConstraints push
      // position bounds through the probe join keys into the index scans,
      // so a probe's broadcast ships only the [xLo, xHi(+lx)] slice of the
      // index instead of the whole series
      .where(col("x") >= lit(b.xLo) && col("x") <= lit(b.xHi))

  /** Grid + one value column per constraint (c0, c1, ...). */
  def constraintGrid(
      spark: SparkSession,
      idx: SeriesIndex,
      spec: QuerySpec,
      b: Bound): DataFrame = {
    var g = candidateGrid(spark, b, idx.tMax)
    // every probe position lies in [xLo - win, xHi + lxHi + win] (window
    // lookaheads are clamped to the series and bounded by the sparse-table
    // depth), so pre-filter the index to that slice: all four probe
    // broadcasts — including the b2 sparse-table positions constraint
    // inference cannot bound — ship O(domain) rows, never O(series)
    val slack = 1L << idx.levels
    val p = SeriesOps.probe(idx.copy(df =
      idx.df.where(col("t").between(b.xLo - slack, b.xHi + b.lxHi + slack))))
    spec.constraints.zipWithIndex.foreach { case (c, i) =>
      g = ConstraintRegistry(c.name)(g, p, c.args, s"c$i")
    }
    // drop the memoized probe intermediates: downstream (extrema, scores,
    // persist) sees only the narrow (x, lx, c*) grid
    g.select((Seq("x", "lx") ++ spec.constraints.indices.map(i => s"c$i")).map(col): _*)
  }

  /** The window length (rows) the sparse table must answer for `spec`
    * when the offset domain reaches `lxHi`: the widest constraint probe,
    * and at least the `lx + 1` rows of the longest candidate window. */
  def windowNeed(spec: QuerySpec, lxHi: Long): Long =
    spec.constraints.map(c => ConstraintRegistry(c.name).maxWindow(lxHi, c.args))
      .foldLeft(lxHi + 1)(math.max)

  /** satisfied_i: unbounded sides auto-satisfy (reference substitutes t_
    * itself, server.py:531-532). */
  private def satCol(c: Constraint, v: Column): Column = {
    val loOk = c.lo.map(a => v >= lit(a)).getOrElse(lit(true))
    val hiOk = c.hi.map(b => v <= lit(b)).getOrElse(lit(true))
    loOk && hiOk
  }

  /** Every constraint satisfied, over the grid's value columns c0, c1, ...
    * (the UNREFINED filter, reference: server.py:456-460). */
  def allSatisfied(spec: QuerySpec): Column =
    spec.constraints.zipWithIndex.map { case (c, i) => satCol(c, col(s"c$i")) }.reduce(_ && _)

  /** The refinement order over a [[scored]] grid: satisfied first, then
    * RK descending among the satisfied (tightening) and RP ascending among
    * the rest (relaxation), ties broken by (x, lx). */
  val rankOrder: Seq[Column] = Seq(
    col("sat").desc,
    when(col("sat"), -col("rk")).otherwise(col("rp")).asc,
    col("x").asc, col("lx").asc)

  /** Scored grid: per-constraint sat_i plus sat, vc, rk, rp columns.
    *
    * Constraint extrema (the reference's 'mins'/'maxs' entries,
    * server.py:313-317, 345-349) are taken per `keys` group and broadcast
    * back into the scoring expressions: with no keys (one series) a 1-row
    * aggregate cross-joined in — no driver action, one extra stage; with
    * `sid` (many series) a per-series aggregate joined on `sid`.
    */
  def scored(grid: DataFrame, spec: QuerySpec, keys: Seq[String] = Nil): DataFrame = {
    val cs = spec.constraints.zipWithIndex
    val aggs = cs.flatMap { case (_, i) =>
      Seq(min(col(s"c$i")).as(s"min_c$i"), max(col(s"c$i")).as(s"max_c$i"))
    }
    var g =
      if (keys.isEmpty) grid.crossJoin(broadcast(grid.agg(aggs.head, aggs.tail: _*)))
      else grid.join(
        broadcast(grid.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)), keys)

    cs.foreach { case (c, i) => g = g.withColumn(s"sat$i", satCol(c, col(s"c$i"))) }
    val nSat = cs.map { case (_, i) => col(s"sat$i").cast("int") }.reduce(_ + _)
    val nCon = lit(cs.size)
    g = g.withColumn("sat", cs.map { case (_, i) => col(s"sat$i") }.reduce(_ && _))
      // VC — violated-constraint ratio (reference: server.py:544)
      .withColumn("vc", (nCon - nSat).cast("double") / nCon)

    // RD_c (reference: server.py:614-633): 0 inside [a,b]; (t-b)/(max_fc-b)
    // above; (a-t)/(a-min_fc) below; a None side behaves as t (distance 0).
    val rds = cs.map { case (c, i) =>
      val t = col(s"c$i")
      val above = c.hi.map(bb =>
        when(t > lit(bb), (t - lit(bb)) / (col(s"max_c$i") - lit(bb))))
      val below = c.lo.map(aa =>
        when(t < lit(aa), (lit(aa) - t) / (lit(aa) - col(s"min_c$i"))))
      (above, below) match {
        case (Some(ab), Some(be)) => ab.otherwise(be.otherwise(lit(0.0)))
        case (Some(ab), None)     => ab.otherwise(lit(0.0))
        case (None, Some(be))     => be.otherwise(lit(0.0))
        case (None, None)         => lit(0.0)
      }
    }
    // RP = 0.5 * max_c(w_c * RD_c) + 0.5 * VC, w_c = 1 (reference:
    // server.py:636-664)
    val maxRd = if (rds.size == 1) rds.head else greatest(rds: _*)
    g = g.withColumn("rp", lit(0.5) * maxRd + lit(0.5) * col("vc"))

    // RK = 1 - sum_c w_c * RK_c, w_c = 1/|C|; RK_c = (b-t)/(b-a) for MAX,
    // (a-t)/(b-a) for MIN (reference: server.py:779-816). Unbounded sides
    // would crash the reference; we substitute the grid-global extremum for
    // the missing bound (documented divergence, SURVEY §7.3).
    val w = 1.0 / cs.size
    val rkSum = cs.map { case (c, i) =>
      val t = col(s"c$i")
      val a = c.lo.map(lit(_)).getOrElse(col(s"min_c$i"))
      val b = c.hi.map(lit(_)).getOrElse(col(s"max_c$i"))
      // degenerate interval (b == a, possible with literal bounds or when an
      // unbounded side resolves to the grid extremum): every candidate ranks
      // equally -> RK_c = 0. The reference would raise ZeroDivisionError
      // here (server.py:789-792); we are total instead.
      val num = c.target match {
        case Target.Max => b - t
        case Target.Min => a - t
      }
      val rkc = when(b - a =!= lit(0.0), num / (b - a)).otherwise(lit(0.0))
      lit(w) * rkc
    }.reduce(_ + _)
    g = g.withColumn("rk", lit(1.0) - rkSum)
    g.drop(cs.flatMap { case (_, i) => Seq(s"min_c$i", s"max_c$i") }: _*)
  }

  /** A result of at most k rows (per series) over a constraint grid: the
    * grid lineage feeds both the extrema aggregate and the final rank, so
    * persist it and the probe joins run once; localCheckpoint the result,
    * which truncates its lineage, then release the grid and the `inputs`
    * checkpoints only the grid's lineage reached — a long-lived session
    * accumulates neither grids nor their inputs. */
  private[engine] def bounded(grid: DataFrame, inputs: DataFrame*)(
      result: DataFrame => DataFrame): DataFrame = {
    val g = grid.persist()
    val out = result(g).localCheckpoint(true)
    g.unpersist()
    inputs.foreach(Checkpoints.release)
    out
  }

  /** Execute a full query against a series `(t, y)`. Returns
    * `(time_id, offset)` rows in canonical order.
    *
    * `prebuilt`: reuse a (persisted) [[SeriesOps.SeriesIndex]] when the
    * caller already indexed this series — only taken when its sparse table
    * is deep enough for this query's windows.
    */
  def execute(
      spark: SparkSession,
      series: DataFrame,
      spec: QuerySpec,
      prebuilt: Option[SeriesIndex] = None): DataFrame = {
    val (tMin, tMax) = prebuilt match {
      case Some(i) => (i.tMin, i.tMax)
      case None =>
        val bounds = series.agg(min("t"), max("t")).head()
        (bounds.getLong(0), bounds.getLong(1))
    }
    val b = bindDomains(spec, tMin, tMax)
    val needWin = windowNeed(spec, b.lxHi)
    val idx = prebuilt
      .filter(i => SeriesOps.covers(i.levels, needWin))
      .getOrElse(SeriesOps.index(series, needWin))
    val grid = constraintGrid(spark, idx, spec, b)
    if (!spec.refined) {
      // UNREFINED: candidates satisfying every constraint
      // (reference: server.py:456-460)
      val sat = grid.where(allSatisfied(spec)).orderBy("x", "lx")
      spec.limit.map(sat.limit).getOrElse(sat)
        .select(col("x").as("time_id"), col("lx").as("offset"))
    } else spec.limit match {
      case Some(k) => bounded(grid)(refinedTopK(_, spec, Some(k)))
      // unbounded refined output: stay fully lazy (no persist to leak);
      // the extrema aggregate recomputes the probes once more.
      case None => refinedTopK(grid, spec, None)
    }
  }

  /** The refined query as a LAZY plan over a constraint grid: [[scored]],
    * ranked by [[rankOrder]], take k. With a limit Spark compiles this to
    * TakeOrderedAndProject — a streaming top-k, no full sort (asserted in
    * PlanSpec). [[execute]] wraps this with grid persist/release
    * ([[bounded]]); call directly for plan inspection or when managing
    * caching yourself. */
  def refinedTopK(grid: DataFrame, spec: QuerySpec, k: Option[Int]): DataFrame = {
    val ranked = scored(grid, spec).orderBy(rankOrder: _*)
    k.map(ranked.limit).getOrElse(ranked)
      .select(col("x").as("time_id"), col("lx").as("offset"))
  }
}
