package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The window-aggregate probe surface a [[ConstraintFunction]] is written
  * against. Two implementations exist:
  *
  *   - [[SeriesOps.probe]] — single series; `tMin`/`tMax` are literals and
  *     lookups are equi-joins on `t`;
  *   - [[MultiSeriesEngine.probe]] — a corpus of series; `tMin`/`tMax` are
  *     per-series columns on the candidate grid and lookups join `(sid, t)`.
  *
  * Constraint formulas are therefore written ONCE and run unchanged on both
  * the single-series and the horizontally-partitioned path.
  */
trait WindowProbe {

  /** Series start / end as columns (literals for a single series; the
    * per-series `tMin`/`tMax` grid columns on the multi-series path). */
  def tMinCol: Column
  def tMaxCol: Column

  /** Append `{tag}_avg` and/or `{tag}_max` for the inclusive window `[a, b]`
    * (caller guarantees tMin <= a <= b <= tMax). */
  def windowAgg(grid: DataFrame, a: Column, b: Column, tag: String,
      needAvg: Boolean, needMax: Boolean): DataFrame
}

/** The scalar twin of [[WindowProbe]]: one window at a time over an
  * in-task copy of the index rows ([[LocalSolve]]). Each function's
  * [[ConstraintFunction.value]] mirrors its Column form's arithmetic, so
  * both executors compute the same doubles. */
trait ScalarProbe {
  def tMin: Long
  def tMax: Long

  /** Mean and maximum of the inclusive window `[a, b]`
    * (tMin <= a <= b <= tMax). */
  def avg(a: Long, b: Long): Double
  def max(a: Long, b: Long): Double
}

/** Memoizing probe planner shared by both engine paths: ONE index join per
  * DISTINCT probe position per query, keyed by the position expression's
  * canonical text and shared across constraints AND across the avg/max
  * legs of one window (an avg's left endpoint and a max's left endpoint at
  * the same x join once, not twice — a 2-constraint refined query drops
  * from 6 index joins to 4). Each join fetches the full index row
  * (y, s, ms); Catalyst's column pruning narrows every merged probe to the
  * union of what its sharers actually read, so merging never widens a scan.
  * The probe columns stay on the grid until the engine's final projection
  * prunes them (they are plan intermediates, never materialized). A probe
  * instance is per-query: the memo's lifetime is one constraint-grid build.
  */
private[engine] abstract class MemoProbe extends WindowProbe {

  /** Join `grid` to the index at `pos`, appending
    * `{prefix}_y`, `{prefix}_s`, `{prefix}_ms`. */
  protected def lookupAll(grid: DataFrame, pos: Column, prefix: String): DataFrame

  private val memo = scala.collection.mutable.Map.empty[String, String]

  private def at(g0: DataFrame, pos: Column): (DataFrame, String) =
    memo.get(pos.toString) match {
      case Some(p) => (g0, p)
      case None =>
        val p = s"pr${memo.size}"
        memo(pos.toString) = p
        // materialize the position as a grid column and join on the
        // attribute: Catalyst's alias tracking then rewrites grid
        // constraints (x <= xHi, x + lx <= tMax, ...) onto the join key
        // and infers matching bounds on the index side of each probe —
        // the broadcast ships the probed slice, not the whole series
        (lookupAll(g0.withColumn(s"${p}_pos", pos), col(s"${p}_pos"), p), p)
    }

  def windowAgg(grid: DataFrame, a: Column, b: Column, tag: String,
      needAvg: Boolean, needMax: Boolean): DataFrame = {
    val ac = a.cast("long")
    val bc = b.cast("long")
    var g = grid
    if (needAvg) {
      val (g1, pa) = at(g, ac); g = g1
      val (g2, pb) = at(g, bc); g = g2
      val len = (bc - ac + lit(1)).cast("double")
      g = g.withColumn(s"${tag}_avg",
        (col(s"${pb}_s") - col(s"${pa}_s") + col(s"${pa}_y")) / len)
    }
    if (needMax) {
      val len = bc - ac + lit(1)
      val j = SeriesOps.log2Floor(len)
      val p2 = pow(lit(2.0), j.cast("double")).cast("long")
      val (g1, pa) = at(g, ac); g = g1
      val (g2, pb2) = at(g, bc - p2 + lit(1)); g = g2
      g = g.withColumn(s"${tag}_max",
        greatest(
          element_at(col(s"${pa}_ms"), j + lit(1)),
          element_at(col(s"${pb2}_ms"), j + lit(1))))
    }
    g
  }
}

/** Registry of named interval-aggregate constraint functions — the engine's
  * extensibility point, mirroring the reference's `available_functions`
  * whitelist + name-dispatch (reference: client.py:160, server.py:328-343).
  *
  * Each function appends one Double column to the candidate grid, computed
  * for the window defined by the grid's `x` (start) and `lx` (length)
  * columns, probing a [[WindowProbe]] with O(1) equi-join lookups. New
  * constraints register via [[ConstraintRegistry.register]] and are then
  * parseable ([[graft.parser.QueryParser]] derives its whitelist from the
  * registry) and executable on BOTH engine paths — no other code to touch.
  * Serializable: the local executor ships the functions into its task.
  */
trait ConstraintFunction extends Serializable {
  def name: String
  def arity: Int

  /** Largest window length (rows) this function probes for a given grid cell;
    * used to size the sparse table. */
  def maxWindow(lxHi: Long, args: Seq[Long]): Long

  /** Append column `as` to `grid` (columns x, lx; x+lx <= tMax guaranteed). */
  def apply(grid: DataFrame, probe: WindowProbe, args: Seq[Long], as: String): DataFrame

  /** The same value for one cell `(x, lx)`: the scalar form [[LocalSolve]]
    * evaluates, probing the same windows as [[apply]]. */
  def value(probe: ScalarProbe, x: Long, lx: Long, args: Seq[Long]): Double
}

/** Mean amplitude over [x, x+lx] inclusive (reference: server.py:955-964,
  * call site 330-335). Prefix-sum formulation: two lookups per cell. */
object AvgAmp extends ConstraintFunction {
  val name = "avg_amp"
  val arity = 0
  def maxWindow(lxHi: Long, args: Seq[Long]): Long = lxHi + 1
  def apply(grid: DataFrame, probe: WindowProbe, args: Seq[Long], as: String): DataFrame =
    probe.windowAgg(grid, col("x"), col("x") + col("lx"), as + "_w",
        needAvg = true, needMax = false)
      .withColumnRenamed(as + "_w_avg", as)
  def value(probe: ScalarProbe, x: Long, lx: Long, args: Seq[Long]): Double =
    probe.avg(x, x + lx)
}

/** max(y[x..x+lx]) - max(y[x+lx..x+lx+n']) with n' clamped at the series end
  * (reference: server.py:967-992). */
object MaxAmpExcessRight extends ConstraintFunction {
  val name = "max_amp_excess_right"
  val arity = 1
  def maxWindow(lxHi: Long, args: Seq[Long]): Long = math.max(lxHi + 1, args.head + 1)
  def apply(grid: DataFrame, probe: WindowProbe, args: Seq[Long], as: String): DataFrame = {
    val n = args.head
    val xp = col("x") + col("lx")
    val g1 = probe.windowAgg(grid, col("x"), xp, as + "_m",
      needAvg = false, needMax = true)
    // n' = min(n, tMax - x') (reference: server.py:977-981)
    val g2 = probe.windowAgg(g1, xp, least(xp + lit(n), probe.tMaxCol),
      as + "_r", needAvg = false, needMax = true)
    g2.withColumn(as, col(as + "_m_max") - col(as + "_r_max"))
      .drop(as + "_m_max", as + "_r_max")
  }
  def value(probe: ScalarProbe, x: Long, lx: Long, args: Seq[Long]): Double = {
    val xp = x + lx
    probe.max(x, xp) - probe.max(xp, math.min(xp + args.head, probe.tMax))
  }
}

/** max(y[x..x+lx]) - max(y[x-n'..x]) with n' clamped at the series start
  * (reference: server.py:995-1016, clamp at 1007-1008). */
object MaxAmpExcessLeft extends ConstraintFunction {
  val name = "max_amp_excess_left"
  val arity = 1
  def maxWindow(lxHi: Long, args: Seq[Long]): Long = math.max(lxHi + 1, args.head + 1)
  def apply(grid: DataFrame, probe: WindowProbe, args: Seq[Long], as: String): DataFrame = {
    val n = args.head
    val g1 = probe.windowAgg(grid, col("x"), col("x") + col("lx"),
      as + "_m", needAvg = false, needMax = true)
    val g2 = probe.windowAgg(g1, greatest(col("x") - lit(n), probe.tMinCol),
      col("x"), as + "_l", needAvg = false, needMax = true)
    g2.withColumn(as, col(as + "_m_max") - col(as + "_l_max"))
      .drop(as + "_m_max", as + "_l_max")
  }
  def value(probe: ScalarProbe, x: Long, lx: Long, args: Seq[Long]): Double =
    probe.max(x, x + lx) - probe.max(math.max(x - args.head, probe.tMin), x)
}

object ConstraintRegistry {
  private var fns: Map[String, ConstraintFunction] =
    Seq(AvgAmp, MaxAmpExcessRight, MaxAmpExcessLeft).map(f => f.name -> f).toMap

  def register(fn: ConstraintFunction): Unit = synchronized { fns += (fn.name -> fn) }
  def apply(name: String): ConstraintFunction =
    fns.getOrElse(name, throw graft.model.ParseException(
      s"unknown constraint function '$name'; available: ${fns.keys.mkString(", ")}"))
  def names: Set[String] = fns.keySet
  def all: Iterable[ConstraintFunction] = fns.values
}
