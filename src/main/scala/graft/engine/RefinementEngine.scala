package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{max, min}

import graft.model._
import graft.engine.SeriesOps.SeriesIndex

/** The CP-refinement engine over one series.
  *
  * The reference explores a backtracking binary search tree over the
  * candidate `(time_id, offset)` grid, with branch-and-bound refinement
  * (reference: server.py:364-493, bst_class.py:89-187). What the search
  * *returns* collapses into one scored ranking of the grid, which the CP
  * kernel ([[LocalSolve]]) computes: every cell's constraint values (the
  * reference's UDF map, server.py:291-351), VC/RD/RK/RP
  * (server.py:524-546, 614-664, 779-816), and BOTH refinement modes
  * (server.py:60-78) as one order `(sat desc, if(sat, -RK, RP) asc, x, lx)`
  * cut at k: if >= k candidates satisfy, the top-k are all satisfied and
  * RK-descending == tightening (server.py:819-836); if m < k satisfy, all m
  * come first and the next k-m are the RP-ascending rest == relaxation
  * (server.py:679-688, 691-772). [[MultiSeriesEngine]] runs the same kernel
  * over a corpus.
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

  /** The window length (rows) the sparse table must answer for `spec`
    * when the offset domain reaches `lxHi` ([[LocalSolve.Job.windowNeed]]). */
  def windowNeed(spec: QuerySpec, lxHi: Long): Long = LocalSolve.job(spec).windowNeed(lxHi)

  /** Execute a full query against a series `(t, y)`. Returns
    * `(time_id, offset)` rows in canonical order, computed by the CP kernel
    * ([[LocalSolve]]).
    *
    * `prebuilt`: reuse a (persisted) [[SeriesOps.SeriesIndex]] when the
    * caller already indexed this series — only taken when its sparse table
    * is deep enough for this query's windows.
    */
  def execute(
      spark: SparkSession,
      series: DataFrame,
      spec: QuerySpec,
      prebuilt: Option[SeriesIndex] = None): DataFrame =
    execute(spark, series, spec, prebuilt, LocalSolve.CellCap)

  /** [[execute]] with chunks of at most `cap` cell-constraints and index
    * rows: tests force a grid into many chunks with a small cap. */
  private[graft] def execute(
      spark: SparkSession,
      series: DataFrame,
      spec: QuerySpec,
      prebuilt: Option[SeriesIndex],
      cap: Long): DataFrame = {
    val (tMin, tMax) = prebuilt match {
      case Some(i) => (i.tMin, i.tMax)
      case None =>
        val bounds = series.agg(min("t"), max("t")).head()
        (bounds.getLong(0), bounds.getLong(1))
    }
    val b = bindDomains(spec, tMin, tMax)
    val needWin = LocalSolve.Grid(0L, tMin, tMax, b).win(LocalSolve.job(spec))
    val idx = prebuilt
      .filter(i => SeriesOps.covers(i.levels, needWin))
      .getOrElse(SeriesOps.index(series, needWin))
    LocalSolve.series(idx, spec, b, cap)
  }
}
