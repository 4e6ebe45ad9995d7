package graft

import org.apache.spark.sql.SparkSession

/** The one session shape every entry point runs (Bench, Verify, Sweep, the
  * CLI and the test session): Bench's profile ([[tools.Profile]]) and the
  * tests measure the same session the bench times.
  *
  *  - `local[cpus]` with as many shuffle partitions as cores;
  *  - session time zone UTC, so `events.ts` converts to one epoch
  *    ([[graft.queries.TimeSeriesQueries.events]]);
  *  - `events.parquet`'s TIMESTAMP(NANOS) column read as a nanos Long;
  *  - no UI;
  *  - scan metadata long enough to show a session artifact's full path;
  *  - the engine's native SQL functions installed by [[GraftExtensions]];
  *  - the warehouse under this JVM's scratch root
  *    ([[engine.SessionArtifacts.root]]), never the working directory.
  *
  * `getOrCreate` makes the call idempotent: a second call returns the
  * active session.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` when set, else every available processor. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Build (or return the active) session; `master` overrides
    * `local[cpus]` for a deployment that runs on a cluster. */
  def build(cpus: Int = defaultCpus, master: Option[String] = None): SparkSession = {
    val s = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      // a scan of a session artifact names it by its path under the
      // per-JVM scratch root (`<root>/<kind>_<md5>/<part>`), longer than
      // the default 100-char cut: plan dumps and plan-shape pins must see
      // which artifact (and which part of it) a scan reads
      .config("spark.sql.maxMetadataStringLength", "400")
      .config("spark.sql.warehouse.dir", s"${engine.SessionArtifacts.root}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
