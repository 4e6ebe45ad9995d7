package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{RefinementEngine, SeriesOps}
import graft.parser.QueryParser

/** Time-series / CP-refinement queries over the driver testdata, used by
  * [[graft.SparkEntry]]. The series is derived from the `events` table with
  * the reference's dense ordinal key (time_id BIGSERIAL,
  * reference: db_preparation.py:59): row_number over event_id.
  */
object TimeSeriesQueries {

  /** events.parquet's `ts` column, normalized to a nanos-since-epoch
    * Long whatever the file's physical type: TIMESTAMP(NANOS) data (which
    * Spark 4 rejects by default) reads as a nanos Long under the legacy
    * conf; TIMESTAMP(MICROS) data reads as a timestamp and is converted
    * (`unix_micros * 1000`). The NTZ cast interprets wall time in the
    * session zone — every entry point (Verify/Bench/Explain/CLI) pins
    * `spark.sql.session.timeZone=UTC`, so the epoch is unambiguous and
    * matches DuckDB's `epoch_ns(ts)` on the same file. The conf is
    * runtime-settable so this works in any session (driver's too). */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      case _ => raw.withColumn("ts",
        unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType))
          * 1000L)
    }
  }

  /** (t, y) series: t = dense ordinal over event_id (distributed
    * range-sort + zipWithIndex assignment — no global window), y = value. */
  def series(s: SparkSession, dir: String): DataFrame =
    SeriesOps.withTimeId(
        events(s, dir).select("event_id", "value"), Seq(col("event_id")), "t")
      .select(col("t"), col("value").as("y"))

  /** SQL CTE prefix shared by every DuckDB oracle below. */
  val seriesCte: String =
    "WITH series AS (SELECT row_number() OVER (ORDER BY event_id) AS t, " +
      "value AS y FROM events)"

  /** The persisted series index of `dir`, built once per session (the
    * grid queries and all three CP modes probe the same series; building
    * the sparse table once per session instead of once per query is a ~7x
    * cut in window passes). maxWin=64 (7 levels) covers every declared
    * query. */
  def cachedIndex(s: SparkSession, dir: String): SeriesOps.SeriesIndex =
    graft.engine.SessionArtifacts.getOrBuild(s, "seriesidx", dir) { _ =>
      // single-pass kernel build fused with ordinal-key assignment (equal
      // to the declarative build, see EngineSpec) — one sorted pass instead
      // of row_number window + log2(maxWin) window stages
      val idx = SeriesOps.indexFastFromOrdered(
        events(s, dir), "event_id", "value", 64)
      idx.copy(df = idx.df.persist())
    }

  /** The (t, y) series view of the cached persisted index — callers that
    * only need the raw series (no probes) read the in-memory index blocks
    * instead of re-paying the distributed ordinal-key assignment per run. */
  def cachedSeries(s: SparkSession, dir: String): DataFrame =
    cachedIndex(s, dir).df.select(col("t"), col("y"))

  /** Candidate grid with avg/max window columns via the sparse-table index.
    * Returns grid with columns x, lx plus requested per-window aggregates. */
  private def indexedGrid(
      s: SparkSession, dir: String,
      xLo: Long, xHi: Long, lxLo: Long, lxHi: Long,
      maxWin: Long): (DataFrame, SeriesOps.SeriesIndex) = {
    require(maxWin <= 64, "cachedIndex is sized for windows up to 64 rows")
    val idx = cachedIndex(s, dir)
    val b = RefinementEngine.Bound(xLo, xHi, lxLo, lxHi)
    (RefinementEngine.candidateGrid(s, b, idx.tMax), idx)
  }

  /** A3 — windowed average over the candidate grid (reference:
    * server.py:960-964). */
  def windowAvg(s: SparkSession, dir: String): DataFrame = {
    val (grid, idx) = indexedGrid(s, dir, 1, 1000, 10, 20, 21)
    SeriesOps.probe(idx).windowAgg(grid, col("x"), col("x") + col("lx"), "w",
        needAvg = true, needMax = false)
      .select(col("x"), col("lx"), round(col("w_avg"), 6).as("win_avg"))
      .orderBy("x", "lx")
  }

  /** A4 — max_amp_excess_right(10) values over the grid
    * (reference: server.py:967-992). */
  def excessRight(s: SparkSession, dir: String): DataFrame = {
    val (grid, idx) = indexedGrid(s, dir, 1, 1000, 10, 20, 21)
    graft.engine.MaxAmpExcessRight(grid, SeriesOps.probe(idx), Seq(10), "v")
      .select(col("x"), col("lx"), round(col("v"), 6).as("excess_right"))
      .orderBy("x", "lx")
  }

  /** A5 — max_amp_excess_left(10) values (reference: server.py:995-1016). */
  def excessLeft(s: SparkSession, dir: String): DataFrame = {
    val (grid, idx) = indexedGrid(s, dir, 1, 1000, 10, 20, 21)
    graft.engine.MaxAmpExcessLeft(grid, SeriesOps.probe(idx), Seq(10), "v")
      .select(col("x"), col("lx"), round(col("v"), 6).as("excess_left"))
      .orderBy("x", "lx")
  }

  /** A6 — grid-global constraint extrema (the reference's 'mins'/'maxs'
    * entries, server.py:313-317,345-349). */
  def gridExtrema(s: SparkSession, dir: String): DataFrame = {
    val (grid, idx) = indexedGrid(s, dir, 1, 2000, 5, 30, 31)
    val g = SeriesOps.probe(idx).windowAgg(grid, col("x"), col("x") + col("lx"), "w",
      needAvg = true, needMax = false)
    g.agg(
      round(min("w_avg"), 6).as("min_c0"),
      round(max("w_avg"), 6).as("max_c0"),
      count(lit(1)).as("grid_cells"))
  }

  private def cp(s: SparkSession, dir: String, q: String): DataFrame =
    RefinementEngine.execute(s, series(s, dir), QueryParser.parse(q),
        prebuilt = Some(cachedIndex(s, dir)))
      .orderBy("time_id", "offset")

  /** §2.6 UNREFINED — all candidates satisfying every constraint. */
  def cpUnrefined(s: SparkSession, dir: String): DataFrame =
    cp(s, dir,
      "SELECT time_id, offset IN_DOMAIN [1, 2000], [5, 30] FROM events.value " +
        "WHERE avg_amp() in [80, 100] MAX")

  /** §2.6 REFINED over-production -> tightening: top-k by RK desc
    * (reference: server.py:413-429, 819-836). */
  def cpRefinedTighten(s: SparkSession, dir: String): DataFrame =
    cp(s, dir,
      "SELECT time_id, offset IN_DOMAIN [1, 2000], [5, 30] FROM events.value " +
        "WHERE avg_amp() in [40, 60] MAX LIMIT REFINED 20")

  /** §2.6 REFINED under-production -> relaxation: satisfied + best
    * non-satisfying by RP asc (reference: server.py:72-78, 691-772). */
  def cpRefinedRelax(s: SparkSession, dir: String): DataFrame =
    cp(s, dir,
      "SELECT time_id, offset IN_DOMAIN [1, 2000], [5, 30] FROM events.value " +
        "WHERE avg_amp() in [130, 140] MAX and " +
        "max_amp_excess_right(10) in [0, None] MAX LIMIT REFINED 25")

  /** P5 — variability guard generalized: per-chunk population variance with
    * the reference's "no variability" predicate (server.py:209-214). */
  def variabilityGuard(s: SparkSession, dir: String): DataFrame =
    series(s, dir)
      .groupBy((((col("t") - 1) / 1000).cast("long")).as("chunk"))
      .agg(round(var_pop("y"), 4).as("variance"),
        (var_pop("y") <= lit(5e-28)).as("no_variability"))
      .orderBy("chunk")
}
