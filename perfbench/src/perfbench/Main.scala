package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.engine.{Checkpoints, IndexCache, RefinementEngine}
import graft.engine.SeriesOps.SeriesIndex
import graft.model.QuerySpec
import graft.parser.QueryParser

/** Closed-loop, one-client harness for the benchmark workloads. It calls the
  * engine only through its public entry points and times those calls from
  * outside. Inputs come from `run.py` (see README.md); this program writes
  * per-op records, the run summary and, when traced, the span file.
  *
  * Usage: perfbench.Main --workload W --data DIR --out DIR --seconds S
  *        --trace 0|1 --reps R --cores C [--plant wrong-row]
  */
object Main {

  final class Op(val id: Int, val key: String) {
    var wallNs = 0L
    var startMs = 0L
    var endMs = 0L
    var error: String = null
    var rows: Array[(Long, Long)] = null
    var result: Array[Row] = null
    var schema: StructType = null
    var digest = ""
    var tMax = 0L
    var cells = 0L
    var indexHit = false
    var layer: Map[String, Double] = Map.empty
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val data = new File(a("data")).getAbsolutePath
    val out = new File(a("out")).getAbsolutePath
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val reps = a("reps").toInt
    val cores = a("cores").toInt
    val plant = a.getOrElse("plant", "")
    new File(out).mkdirs()

    val conf = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(data, "config.properties"))
    try conf.load(in) finally in.close()
    val opKeys = Files.readAllLines(Paths.get(data, "ops.txt")).toArray(Array.empty[String])
    val passLen = conf.getProperty("pass").toInt

    val spans = new Spans(traced)
    val recorder = if (traced) Some(new SparkRecorder) else None
    val load0 = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    val s0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - s0) / 1e9
    recorder.foreach { r =>
      spark.sparkContext.addSparkListener(r)
      spark.listenerManager.register(r)
    }

    def cacheDir(rep: Int) = s"$out/index-cache/rep$rep"
    val column = conf.getProperty("column", "")
    def table(rep: Int) = s"$data/rep$rep/table"
    def seriesOf(path: String): DataFrame =
      spark.read.parquet(path).selectExpr("time_id as t", s"`$column` as y")

    // ---- set-up, repeated: input load plus a cold index / cache fill ----
    val setupReps = ArrayBuffer.empty[Double]
    var idx: SeriesIndex = null
    spans.op = -1
    val setupFromMs = System.currentTimeMillis()
    for (r <- 0 until reps) {
      val t0 = System.nanoTime()
      if (workload == "suite_mix") {
        val dir = s"$data/rep$r"
        spans("setup.load") {
          conf.getProperty("tables").split(",").foreach(t => spark.read.parquet(s"$dir/$t.parquet"))
        }
        spans("setup.index")(graft.queries.TimeSeriesQueries.cachedIndex(spark, dir).df.count())
      } else {
        if (idx != null) idx.df.unpersist()
        val warm = QueryParser.parse(conf.getProperty("warm"))
        val src = spans("setup.load")(seriesOf(table(r)))
        idx = spans("setup.index") {
          IndexCache.getOrBuild(spark, cacheDir(r), table(r), column, src, warm)._1
        }
      }
      setupReps += (System.nanoTime() - t0) / 1e9
    }
    val setupToMs = System.currentTimeMillis()
    val last = reps - 1
    val tablePath = table(last)
    val series = if (workload == "suite_mix") null else seriesOf(tablePath)

    // ---- one op per workload kind ----
    def cpOp(op: Op, text: String): Unit = {
      val spec: QuerySpec = spans("parser.parse")(QueryParser.parse(text))
      val (i, hit) = spans("engine.index_get") {
        IndexCache.getOrBuild(spark, cacheDir(last), tablePath, spec.column, series, spec)
      }
      val b = spans("engine.bind")(RefinementEngine.bindDomains(spec, i.tMin, i.tMax))
      val df = spans("engine.execute")(RefinementEngine.execute(spark, series, spec, Some(i)))
      val rows = spans("engine.collect")(df.collect())
      op.rows = rows.map(r => (r.getLong(0), r.getLong(1)))
      op.tMax = i.tMax
      op.indexHit = hit
      op.cells = (b.lxLo to b.lxHi)
        .map(lx => math.max(0L, math.min(b.xHi, i.tMax - lx) - b.xLo + 1)).sum
    }
    val suiteDir = s"$data/rep$last"
    def suiteOp(op: Op, name: String): Unit = {
      val df = spans("queries.construct")(SparkEntry.queries(name)(spark, suiteDir))
      op.schema = df.schema
      op.result = try spans("queries.action")(df.collect())
        finally spans("engine.release")(Checkpoints.release(df))
    }

    // ---- the closed loop: `warmup` untimed ops, then the stream in whole
    // cycles of `pass` ops, at least `min_cycles` of them, until `seconds`
    // elapse ----
    val ops = ArrayBuffer.empty[Op]
    val warmup = conf.getProperty("warmup", "0").toInt
    val minOps = conf.getProperty("min_cycles", "1").toInt * passLen
    def runOp(id: Int, idx: Int): Op = {
      val key = opKeys(idx)
      val op = new Op(id, key)
      spans.op = id
      op.startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try spans("op") {
        workload match {
          case "cp_interactive" => cpOp(op, key)
          case "suite_mix" => suiteOp(op, key)
        }
      } catch { case NonFatal(e) => op.error = s"${e.getClass.getName}: ${e.getMessage}" }
      op.wallNs = System.nanoTime() - t0
      op.endMs = System.currentTimeMillis()
      op
    }
    val w0 = System.nanoTime()
    val warmed = (0 until warmup).map(j => runOp(-2 - j, j)) // -1 marks set-up spans
    val warmupS = (System.nanoTime() - w0) / 1e9
    val liveAfterSetup = if (traced) liveHeap() else 0L
    val loopStart = System.nanoTime()
    while (warmup + ops.size < opKeys.length &&
        (ops.size % passLen != 0 || ops.size < minOps ||
          System.nanoTime() - loopStart < seconds * 1e9)) {
      ops += runOp(ops.size, warmup + ops.size)
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val p0 = System.nanoTime()
    val liveAfterLoop = if (traced) liveHeap() else 0L
    val load1 = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    if (plant == "wrong-row") ops.find(_.rows != null).foreach { op =>
      op.rows = op.rows :+ ((op.tMax + 1, 1L)) // a row outside every grid
    }

    // ---- outside the timed region: every distinct suite result, once, for
    // the DuckDB check ----
    (warmed ++ ops).filter(_.result != null).foreach { op =>
      op.digest = digest(op.result)
      val path = s"$out/suite_results/${op.key}-${op.digest}"
      if (!new File(path).exists)
        spark.createDataFrame(java.util.Arrays.asList(op.result: _*), op.schema)
          .coalesce(1).write.parquet(path)
      op.result = null
    }
    if (workload == "suite_mix") writeJson(s"$out/oracle.json", opKeys.distinct
      .map(n => s"${q(n)}:${q(SparkEntry.oracleSql.getOrElse(n, ""))}").mkString("{", ",", "}"))

    val indexBytes = dirBytes(new File(cacheDir(last)))
    spark.stop() // drains the listener bus before the layer numbers are read
    val postS = (System.nanoTime() - p0) / 1e9
    recorder.foreach(r => ops.foreach(op => op.layer = r.layer(op.startMs, op.endMs)))
    val setupLayer = recorder.map(_.layer(setupFromMs, setupToMs)).getOrElse(Map.empty)

    val w = new PrintWriter(s"$out/ops.jsonl")
    (warmed ++ ops).foreach { op =>
      val fields = ArrayBuffer(
        s""""id":${op.id}""", s""""key":${q(op.key)}""",
        s""""wall_s":${op.wallNs / 1e9}""", s""""error":${if (op.error == null) "null" else q(op.error)}""",
        s""""t_max":${op.tMax}""", s""""cells":${op.cells}""", s""""index_hit":${op.indexHit}""",
        s""""digest":${q(op.digest)}""")
      if (op.rows != null)
        fields += op.rows.map { case (x, lx) => s"[$x,$lx]" }.mkString(""""rows":[""", ",", "]")
      if (op.layer.nonEmpty)
        fields += op.layer.map { case (k, v) => s"${q(k)}:$v" }.mkString(""""layer":{""", ",", "}")
      w.println(fields.mkString("{", ",", "}"))
    }
    w.close()
    if (traced) {
      val sw = new PrintWriter(s"$out/spans.jsonl")
      spans.spans.foreach { s =>
        sw.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${q(s.name)},""" +
          s""""start_ns":${s.start},"end_ns":${s.end}}""")
      }
      sw.close()
    }
    writeJson(s"$out/run.json", Seq(
      s""""session_s":$sessionS""",
      s""""setup_reps_s":${setupReps.mkString("[", ",", "]")}""",
      s""""loop_s":$loopS""", s""""warmup_ops":${warmed.size}""",
      s""""warmup_s":$warmupS""", s""""after_loop_s":$postS""",
      s""""live_heap_bytes":[$liveAfterSetup,$liveAfterLoop]""",
      s""""max_heap_bytes":${Runtime.getRuntime.maxMemory}""",
      s""""index_bytes":$indexBytes""",
      s""""master":${q(s"local[$cores]")}""", s""""shuffle_partitions":$cores""",
      s""""session_time_zone":"UTC"""",
      s""""load_before":$load0""", s""""load_after":$load1""",
      setupLayer.map { case (k, v) => s"${q(k)}:$v" }.mkString(""""setup_layer":{""", ",", "}")
    ).mkString("{", ",", "}"))
  }

  /** Heap in use right after a full collection: the live set (traced runs
    * only, as it takes a second of forced collections). Collected
    * twice: Spark's ContextCleaner frees the blocks and shuffle files of
    * frames the first collection found unreachable, in the background. */
  private def liveHeap(): Long = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Order-independent digest of a result: SHA-256 of its sorted rows. */
  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  private def q(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  private def writeJson(path: String, body: String): Unit =
    Files.writeString(Paths.get(path), body + "\n")

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
}
