package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

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

  /** Execute a full query against a series `(t, y)`. Returns
    * `(time_id, offset)` rows in canonical order, computed by the CP kernel
    * ([[LocalSolve]]). A grid of one chunk (every interactive-size query) is
    * solved eagerly, on the driver, before this returns; the frame is a
    * local relation of rows, the only Spark object the query builds, and
    * collecting it starts no Spark job. A larger grid returns a lazy frame.
    *
    * `prebuilt`: the caller's persisted copy of this series with its bounds
    * ([[SeriesOps.persisted]], [[IndexCache]]); the kernel then reads it
    * instead of `series`, and no bounds job runs. When it holds the series
    * resident on the driver ([[SeriesOps.SeriesIndex.resident]]), a
    * one-chunk query reads neither frame and runs no Spark job at all;
    * otherwise one collect reads the chunk's rows.
    */
  def execute(
      spark: SparkSession,
      series: DataFrame,
      spec: QuerySpec,
      prebuilt: Option[SeriesIndex] = None): DataFrame =
    execute(spark, series, spec, prebuilt, LocalSolve.CellCap)

  /** [[execute]] with chunks of at most `cap` cell-constraints and series
    * rows: tests force a grid into many chunks with a small cap. */
  private[graft] def execute(
      spark: SparkSession,
      series: DataFrame,
      spec: QuerySpec,
      prebuilt: Option[SeriesIndex],
      cap: Long): DataFrame = {
    val idx = prebuilt.getOrElse {
      val (tMin, tMax) = SeriesOps.bounds(series)
      SeriesIndex(series, tMin, tMax)
    }
    LocalSolve.series(idx, spec, bindDomains(spec, idx.tMin, idx.tMax), cap)
  }
}
