package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model._

/** The 100 TB generalization of [[RefinementEngine]]: the same CP-refinement
  * semantics over a corpus of MANY series `(sid, t, y)`:
  *
  *   - domain binding: None sides resolve to PER-SERIES extents (one
  *     `(sid, tMin, tMax)` row per series), reference semantics applied
  *     independently per series (the reference's two datasets are two
  *     sids);
  *   - solve: the CP kernel ([[LocalSolve]]) with chunks keyed by `sid` —
  *     the raw rows of each chunk's range shuffled to its task, per-series
  *     extrema, scoring and top-k, one task per chunk. No series is ever
  *     buffered whole: a long series splits into chunks like any grid.
  *
  * Scoring (VC/RD/RK/RP), the rank order and the window probes are the
  * kernel's own, the same code the single-series engine runs — see the
  * cross-checks in MultiSeriesSpec.
  */
object MultiSeriesEngine {

  /** Execute the query independently over every series; returns a lazy
    * frame of `(sid, time_id, offset)` in canonical per-series order. */
  def execute(spark: SparkSession, series: DataFrame, spec: QuerySpec): DataFrame =
    execute(spark, series, spec, LocalSolve.CellCap)

  /** [[execute]] with chunks of at most `cap` cell-constraints and series
    * rows: tests force series into many chunks with a small cap. */
  private[graft] def execute(spark: SparkSession, series: DataFrame, spec: QuerySpec,
      cap: Long): DataFrame = {
    import spark.implicits._
    // one per-sid bounds pass, collected (one row per series): it binds each
    // series' domains and plans the chunks
    val grids = series.groupBy(col("sid").cast("long").as("sid"))
      .agg(min("t").cast("long"), max("t").cast("long"))
      .as[(Long, Long, Long)].collect().toSeq
      .map { case (sid, tMin, tMax) =>
        LocalSolve.Grid(sid, tMin, tMax, RefinementEngine.bindDomains(spec, tMin, tMax))
      }
    LocalSolve.corpus(series, grids, LocalSolve.job(spec), cap)
      .orderBy("sid", "time_id", "offset")
  }
}
