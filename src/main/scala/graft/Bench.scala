package graft
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Suite bench: every declared query at `SPARK_GRAFT_SF_DIR`, one untimed
  * warm-up pass, then the median of `SPARK_GRAFT_BENCH_PASSES` timed
  * passes; prints the JSON contract lines and writes the per-query spread
  * to `SPARK_GRAFT_BENCH_JSON`.
  *
  * Exit codes: 0 ok, 4 some query threw (listed on stderr and in the JSON
  * `failed` field, excluded from the timings), 3 the codegen gate tripped —
  * both decided after every output is written. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    tools.CodegenGuard.install()
    val spark = GraftSession.build()
    val names = select(SparkEntry.queries.keys.toSeq, sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val basePath = sys.env.getOrElse("SPARK_GRAFT_BENCH_JSON", "bench/bench_latest.json")
    val force = sys.env.get("SPARK_GRAFT_BENCH_FORCE").contains("1")
    val failed =
      try run(spark, sfDir, SparkEntry.queries, names, passes, basePath, force)
      finally spark.stop()
    // codegen health is a gate: an interpreted fallback is a silent per-row
    // tax at scale, so a bench that logged compile failures is not a bench
    if (tools.CodegenGuard.failureCount > 0)
      System.err.println(s"[graft] ${tools.CodegenGuard.failureSummary}")
    // a throwing query is a failed run, not a fast query
    if (failed.nonEmpty) {
      System.err.println(s"[graft] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(4)
    }
    if (tools.CodegenGuard.failureCount > 0) sys.exit(3)
  }

  /** The queries to bench, sorted: all of `all`, or — for targeted perf
    * iteration, e.g. `SPARK_GRAFT_BENCH_ONLY=q203_x,q217_y` — exactly the
    * comma-separated names in `only` (canonical runs leave it unset, so
    * they always time the full set). */
  def select(all: Seq[String], only: Option[String]): Seq[String] = {
    val wanted = only.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    all.sorted.filter(n => wanted.forall(_.contains(n)))
  }

  /** Warm up, time `passes` sweeps over `names` and write the artifacts;
    * returns the names of the queries that threw, sorted. */
  def run(spark: SparkSession, sfDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame], names: Seq[String],
      passes: Int, basePath: String, force: Boolean): Seq[String] = {
    // warm the session (first parquet read, codegen, shuffle machinery) so
    // per-query timings measure steady state, not JVM/session startup
    try {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      li.groupBy("l_returnflag").count().collect()
      li.limit(10).collect()
      // the per-directory persisted series is a session-level artifact
      // shared by every time-series query (the reference persists its UDF
      // map to disk the same way, server.py:249-286) — build it here so TS
      // timings measure probe work, not the one-time build
      graft.queries.TimeSeriesQueries.cachedIndex(spark, sfDir).df.count()
    } catch { case e: Throwable =>
      System.err.println(s"[graft] session warm-up failed: ${e.getMessage}")
    }
    // pinned sorted order + one full untimed warmup pass: without these the
    // hash-map iteration order moves first-touch costs (codegen, file
    // listing, cache fill) onto a different query each run, making
    // round-over-round per-query deltas unattributable
    // each invocation builds a fresh frame (fresh checkpoints), and no
    // query result shares a checkpointed leaf with a session cache (the
    // IVF/series indexes are parquet-backed), so releasing after the count
    // is safe — without it a checkpoint-returning query (q54's labels)
    // pins blocks for the rest of the run, the leak class that regressed
    // q50-q53 in round 5
    def runOnce(name: String): Unit = {
      val df = queries(name)(spark, sfDir)
      try df.count() finally engine.Checkpoints.release(df)
    }
    // a query that throws (warm-up or any timed pass) is recorded once,
    // dropped from the timings and fails the run
    val failures = mutable.LinkedHashSet.empty[String]
    def attempt(name: String): Unit =
      try runOnce(name)
      catch { case e: Throwable =>
        if (failures.add(name)) System.err.println(s"[graft] $name failed: ${e.getMessage}")
      }
    names.foreach(attempt)
    val timed = names.filterNot(failures.contains)
    // median of `passes` timed runs per query: single-run timings carry
    // one-off environment spikes (GC, a co-scheduled process) that land on
    // an arbitrary query and read as a 3x regression of code that didn't
    // change; the median discards the spike while staying an honest
    // steady-state number. Passes are whole-suite sweeps (pinned order),
    // so cross-query interference is identical in every pass.
    // machine-health snapshots: a degraded co-tenant window should be
    // self-labeling in the artifact (round 10 burned three re-runs proving
    // what one loadavg field would have shown). load captured before and
    // after the timed passes; per-pass WALL totals expose drift across the
    // run (an idle machine runs the passes within a few percent of each
    // other); max heap catches the 8g-default-vs-32g driver-memory mistake
    // that uniformly inflates every query ~1.4x.
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    // one timed window = `passes` whole-suite sweeps; returns
    // (per-pass query timings, pass walls, load before/after)
    def timedWindow(): (Seq[Map[String, Double]], Seq[Double], Double, Double) = {
      val l0 = os.getSystemLoadAverage
      val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
      val s = (1 to passes).map { _ =>
        val p0 = System.nanoTime()
        val m = timed.map { name =>
          val t0 = System.nanoTime()
          attempt(name)
          name -> (System.nanoTime() - t0) / 1e9
        }.toMap
        walls += (System.nanoTime() - p0) / 1e9
        m
      }
      (s, walls.toSeq, l0, os.getSystemLoadAverage)
    }
    // Window-quality promotion policy (round-13 verdict ask 1): a window is
    // DEGRADED when its own health data says the machine was contended —
    // pass-wall spread >10% (an idle machine runs the sweeps within a few
    // percent of each other) or elevated load BEFORE the first timed pass
    // (anything this JVM caused is already drained by the warmup). Round 13
    // committed a self-labeled degraded window (0.762 vs clean 0.650 s/q)
    // because the health data existed but no policy acted on it.
    def wallSpread(walls: Seq[Double]): Double =
      if (walls.isEmpty || walls.min <= 0) 0.0 else (walls.max - walls.min) / walls.min
    def isDegraded(walls: Seq[Double], l0: Double): Boolean =
      wallSpread(walls) > 0.10 || l0 > os.getAvailableProcessors / 4.0
    var (samples, passWallsSeq, loadStart, loadEnd) = timedWindow()
    var window = "primary"
    if (isDegraded(passWallsSeq, loadStart) && passes > 1) {
      // auto-rerun once: one retry window, promote whichever is healthier
      System.err.println(
        f"[graft] degraded window (wall spread ${wallSpread(passWallsSeq) * 100}%.1f%%, " +
          f"load_start $loadStart%.2f) — auto-rerunning once")
      val (s2, w2, l2a, l2b) = timedWindow()
      val keepRetry = wallSpread(w2) < wallSpread(passWallsSeq) && l2a <= loadStart.max(1.0)
      if (keepRetry) {
        samples = s2; passWallsSeq = w2; loadStart = l2a; loadEnd = l2b
        window = "retry"
      }
    }
    val degraded = isDegraded(passWallsSeq, loadStart)
    val passWalls = passWallsSeq
    val healthJson = {
      // locale-independent rounding: an f-interpolator uses the default
      // locale's decimal separator, and a comma there is invalid JSON
      def r2(x: Double): Double = math.round(x * 100) / 100.0
      val walls = passWalls.map(w => r2(w).toString).mkString("[", ",", "]")
      val heapGb =
        math.round(Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024) * 10) / 10.0
      // `ncpu` is the OS view (always the machine's core count); `cpus` is
      // the CONFIGURED $SPARK_GRAFT_CPUS and `default_parallelism` the
      // value the scheduler actually runs with — the round-16 verdict's
      // scaling-contract ask: without these the driver cannot verify that
      // its low-core run took effect (suspect_cpus_ignored)
      s""""health":{"load_start":$loadStart,"load_end":$loadEnd,""" +
        s""""ncpu":${os.getAvailableProcessors},""" +
        s""""cpus":${spark.conf.get("spark.sql.shuffle.partitions")},""" +
        s""""default_parallelism":${spark.sparkContext.defaultParallelism},""" +
        s""""max_heap_gb":$heapGb,"pass_walls":$walls,""" +
        s""""window":"$window","degraded":$degraded}"""
    }
    val ok = timed.filterNot(failures.contains)
    val failed = failures.toSeq.sorted
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val results = ok.map { name =>
      val ts = samples.map(_(name)).sorted
      name -> ts(ts.size / 2)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Self-evidencing artifact: the full per-query min/median/max spread,
    // written to a FILE (env SPARK_GRAFT_BENCH_JSON, default
    // bench/bench_latest.json under the cwd). The driver captures only the
    // stdout tail — which truncates mid-JSON every round — and a
    // contended-window run is indistinguishable from a regression in a
    // median alone: a wide min–max spread says "contention" on its face
    // (an idle machine runs the three passes within a few percent).
    val spreads = ok.map { name =>
      val ts = samples.map(_(name)).sorted
      s""""$name":{"min":${ts.head},"med":${ts(ts.size / 2)},"max":${ts.last}}"""
    }.mkString("{", ",", "}")
    // session-artifact builds, build time and hits per kind
    val artifacts = engine.SessionArtifacts.stats.toSeq.sortBy(_._1).map { case (k, st) =>
      s""""$k":{"builds":${st.builds},"build_ms":${st.buildMs},"hits":${st.hits}}"""
    }.mkString("{", ",", "}")
    val fileJson =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir",""" +
        s""""passes":$passes,$healthJson,"failed":$failedJson,"queries":$qs,""" +
        s""""spread":$spreads,"artifacts":$artifacts}"""
    // refuse to promote a degraded window: if BOTH windows failed the health
    // gate, the artifact goes to `<path>.degraded.json` (data kept, canonical
    // promotion path untouched) unless SPARK_GRAFT_BENCH_FORCE=1 explicitly
    // overrides. stdout JSON is always printed — the driver contract.
    val outPath = java.nio.file.Paths.get(
      if (degraded && !force) {
        System.err.println(
          s"[graft] degraded window after retry — writing $basePath.degraded.json " +
            "(set SPARK_GRAFT_BENCH_FORCE=1 to promote anyway)")
        basePath + ".degraded.json"
      } else basePath)
    try {
      Option(outPath.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(outPath,
        fileJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: java.io.IOException =>
      System.err.println(s"[graft] bench artifact not written ($outPath): $e")
    }
    // the stdout line (the driver contract) carries the health verdict too:
    // when the gate diverts a degraded window to `.degraded.json`, the
    // driver's artifact must still parse AND self-label — round 14's driver
    // run ended `parsed: null` with only a raw tail because the canonical
    // numbers lived solely in the diverted file
    println(s"""{"metric":"total","value":$total,"unit":"sec",$healthJson,""" +
      s""""failed":$failedJson,"queries":$qs,"sf":"$sfDir"}""")
    // COMPACT trailing summary (round-15 verdict ask 1): the canonical
    // line above is ~12 KB at 245 queries and the driver's fixed-size
    // stdout-tail capture truncates its FRONT, so `parsed` came back
    // null two rounds running. The LAST line a tail capture sees must
    // be complete on its own: same totals + health, no per-query map
    // (those live in the canonical line and the bench/ file artifact).
    val perQ = if (ok.isEmpty) 0.0 else total / ok.size
    println(s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""n_queries":${ok.size},"n_failed":${failed.size},"sec_per_query":$perQ,""" +
      s"""$healthJson,"sf":"$sfDir","detail":"see canonical line above / bench file"}""")
    failed
  }
}
