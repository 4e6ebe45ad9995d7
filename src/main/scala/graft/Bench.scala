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

  /** One timed run of one query: its seconds, its profile counters and its
    * plan shape ([[tools.Profile]]). */
  private final case class Sample(seconds: Double, layers: Map[String, Double], plan: Map[String, Int])

  /** A counter as a JSON number: whole values without a fraction. */
  private def compact(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

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
      val li = graft.sources.Tables.read(spark, sfDir, "lineitem")
      li.groupBy("l_returnflag").count().collect()
      li.limit(10).collect()
      // the persisted series is a session artifact shared by every
      // time-series query: build it here so they time probes, not the build
      graft.queries.TimeSeriesQueries.cachedIndex(spark, sfDir).df.count()
    } catch { case e: Throwable =>
      System.err.println(s"[graft] session warm-up failed: ${e.getMessage}")
    }
    // pinned sorted order + one untimed warm-up pass keep first-touch costs
    // (codegen, file listing, cache fill) on the same query every run.
    // Each invocation builds a fresh frame and no result shares a
    // checkpointed leaf with a session cache, so releasing after the count
    // is safe; without it a checkpoint-returning query (q54's labels) pins
    // blocks for the rest of the run
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
    // the median of `passes` whole-suite sweeps per query discards one-off
    // spikes (GC, a co-scheduled process). The artifact labels its own
    // window: load before and after, per-pass walls (an idle machine runs
    // the passes within a few percent of each other) and max heap.
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    // one timed window = `passes` whole-suite sweeps; returns
    // (per-pass query samples, pass walls, load before/after). The profile
    // waits for each query's listener events outside its timed interval
    // (and outside the pass wall), so the seconds keep their meaning.
    def timedWindow(): (Seq[Map[String, Sample]], Seq[Double], Double, Double) = {
      val l0 = os.getSystemLoadAverage
      val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
      val s = (1 to passes).map { _ =>
        var wall = 0L
        val m = timed.map { name =>
          var ns = 0L
          val profile = tools.Profile.record(spark) {
            val t0 = System.nanoTime()
            attempt(name)
            ns = System.nanoTime() - t0
          }
          wall += ns
          val layers = profile.layers
          // perfbench's driver gap: the query's wall time no task ran
          val gap = (ns / 1e6 - layers("spark.busy_ms")).max(0.0)
          name -> Sample(ns / 1e9, layers + ("spark.driver_gap_ms" -> gap), profile.plan)
        }.toMap
        walls += wall / 1e9
        m
      }
      (s, walls.toSeq, l0, os.getSystemLoadAverage)
    }
    // a window is DEGRADED when its health data says the machine was
    // contended: pass-wall spread >10% or elevated load before the first
    // timed pass (this JVM's own load has drained by then)
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
    val healthJson = {
      // locale-independent rounding: an f-interpolator uses the default
      // locale's decimal separator, and a comma there is invalid JSON
      def r2(x: Double): Double = math.round(x * 100) / 100.0
      val walls = passWallsSeq.map(w => r2(w).toString).mkString("[", ",", "]")
      val heapGb =
        math.round(Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024) * 10) / 10.0
      // `ncpu` is the machine's core count; `cpus` the configured
      // $SPARK_GRAFT_CPUS and `default_parallelism` what the scheduler runs
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
    def median[A: Ordering](xs: Seq[A]): A = xs.sorted.apply(xs.size / 2)
    val results = ok.map(name => name -> median(samples.map(_(name).seconds)))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // the file artifact (SPARK_GRAFT_BENCH_JSON, default
    // bench/bench_latest.json) keeps each query's min/median/max: a wide
    // spread says "contention" where a median alone reads as a regression
    val spreads = ok.map { name =>
      val ts = samples.map(_(name).seconds).sorted
      s""""$name":{"min":${ts.head},"med":${ts(ts.size / 2)},"max":${ts.last}}"""
    }.mkString("{", ",", "}")
    // per query, where its time went: the median over the timed passes of
    // each profile counter, and the plan shape of its actions
    def obj[A](m: Map[String, A]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    def perQuery(f: Seq[Sample] => String): String =
      ok.map(name => s""""$name":${f(samples.map(_(name)))}""").mkString("{", ",", "}")
    val layers = perQuery { ss =>
      obj(ss.head.layers.keys.map(k => k -> compact(median(ss.map(_.layers(k))))).toMap)
    }
    val plans = perQuery { ss =>
      obj(tools.Profile.ShapeKeys.map(k => k -> median(ss.map(_.plan(k)))).toMap)
    }
    // session-artifact builds, build time and hits per kind
    val artifacts = engine.SessionArtifacts.stats.toSeq.sortBy(_._1).map { case (k, st) =>
      s""""$k":{"builds":${st.builds},"build_ms":${st.buildMs},"hits":${st.hits}}"""
    }.mkString("{", ",", "}")
    val fileJson =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir",""" +
        s""""passes":$passes,$healthJson,"failed":$failedJson,"queries":$qs,""" +
        s""""spread":$spreads,"layers":$layers,"plan":$plans,"artifacts":$artifacts}"""
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
    // the stdout line carries the health verdict too, so it self-labels
    // when the artifact was diverted to `.degraded.json`
    println(s"""{"metric":"total","value":$total,"unit":"sec",$healthJson,""" +
      s""""failed":$failedJson,"queries":$qs,"sf":"$sfDir"}""")
    // a compact last line: a fixed-size tail capture truncates the ~12 KB
    // canonical line's front, so the totals and health stand alone here
    val perQ = if (ok.isEmpty) 0.0 else total / ok.size
    println(s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""n_queries":${ok.size},"n_failed":${failed.size},"sec_per_query":$perQ,""" +
      s"""$healthJson,"sf":"$sfDir","detail":"see canonical line above / bench file"}""")
    failed
  }
}
