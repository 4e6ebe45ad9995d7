package graft.engine

/** The window-aggregate probe surface a [[ConstraintFunction]] is written
  * against: one window at a time over a chunk's raw series rows
  * ([[LocalSolve]]). A mean is a left-to-right sum from the window's start,
  * extended as the window's end grows; a maximum reads the chunk's own
  * sparse table in O(1). */
trait ScalarProbe {
  def tMin: Long
  def tMax: Long

  /** Mean and maximum of the inclusive window `[a, b]`
    * (tMin <= a <= b <= tMax). */
  def avg(a: Long, b: Long): Double
  def max(a: Long, b: Long): Double
}

/** Registry of named interval-aggregate constraint functions — the engine's
  * extensibility point, mirroring the reference's `available_functions`
  * whitelist + name-dispatch (reference: client.py:160, server.py:328-343).
  *
  * Each function computes one Double per candidate cell, for the window
  * defined by the cell's `x` (start) and `lx` (length), probing a
  * [[ScalarProbe]]. New constraints register via
  * [[ConstraintRegistry.register]] and are then parseable
  * ([[graft.parser.QueryParser]] derives its whitelist from the registry)
  * and executable for one series or a corpus — no other code to touch.
  * Serializable: the kernel ships the functions into its tasks.
  */
trait ConstraintFunction extends Serializable {
  def name: String
  def arity: Int

  /** How far past its cell this function reads, given its arguments alone:
    * every window it probes for cell `(x, lx)` lies in
    * `[x - reach, x + lx + reach]`. */
  def reach(args: Seq[Long]): Long

  /** The value at cell `(x, lx)` (`x + lx <= tMax`), probing only windows
    * within [[reach]] of the cell. */
  def value(probe: ScalarProbe, x: Long, lx: Long, args: Seq[Long]): Double
}

/** Mean amplitude over [x, x+lx] inclusive (reference: server.py:955-964,
  * call site 330-335). */
object AvgAmp extends ConstraintFunction {
  val name = "avg_amp"
  val arity = 0
  def reach(args: Seq[Long]): Long = 0L
  def value(probe: ScalarProbe, x: Long, lx: Long, args: Seq[Long]): Double =
    probe.avg(x, x + lx)
}

/** max(y[x..x+lx]) - max(y[x+lx..x+lx+n']) with n' clamped at the series end
  * (reference: server.py:967-992). */
object MaxAmpExcessRight extends ConstraintFunction {
  val name = "max_amp_excess_right"
  val arity = 1
  def reach(args: Seq[Long]): Long = args.head
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
  def reach(args: Seq[Long]): Long = args.head
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
