package graft.cli

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.engine.{IndexCache, RefinementEngine}
import graft.model.{ParseException, QuerySpec}
import graft.parser.QueryParser

/** Named-phase timing sink — the reference's LibraryOfTime
  * (LibraryOfTime.py:8-26, 73-87): record seconds per phase, dump a
  * `(Name, Seconds)` CSV. */
final class Timekeeper {
  private val entries = ArrayBuffer.empty[(String, Double)]
  def time[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally entries += name -> (System.nanoTime() - t0) / 1e9
  }
  def csv: String =
    "Name,Seconds\n" + entries.map { case (n, s) => f"$n,$s%.6f" }.mkString("\n")
  def save(path: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), csv + "\n")
}

/** CLI over the engine — the reference's client path (client.py:13-65):
  * catalog readout, query parse, execute, result print, timing CSV.
  *
  * Usage: graft.cli.Main <table.parquet> <query.txt> [timesOut.csv] [plot.svg]
  *
  * The table must contain a dense `time_id` column (see
  * [[graft.sources.Ingest]]); the queried column is `FROM table.column`'s
  * column. Exit codes: 0 ok, 1 parse error (the reference's earlyDeath /
  * quit(1), client.py:296-303), 2 execution error.
  */
object Main {
  def main(args: Array[String]): Unit = {
    // one directory argument -> interactive mode (dataset pick + query
    // loop, reference client.py:103-121); otherwise the batch path
    if (args.length == 1 && new java.io.File(args(0)).isDirectory)
      sys.exit(interactive(args(0)))
    if (args.length < 2) {
      System.err.println(
        "usage: graft.cli.Main <table.parquet> <query.txt> [times.csv] [plot.svg]\n" +
          "       graft.cli.Main <datasets-dir>   (interactive)")
      sys.exit(1)
    }
    // sys.exit inside the try would skip `finally spark.stop()` (System.exit
    // does not unwind the stack) — record the code, exit after cleanup.
    sys.exit(run(args))
  }

  // SPARK_MASTER names a cluster deployment; unset runs local[cpus]
  private def buildSession(): SparkSession =
    graft.GraftSession.build(master = sys.env.get("SPARK_MASTER"))

  /** A query the engine ran: the `(t, y)` series it ran over and the
    * `(time_id, offset)` rows. */
  private final case class Answer(series: DataFrame, rows: Array[Row])

  /** The one query path of both CLI modes: column check, the
    * cross-session index cache (the reference pickles its UDF map the same
    * way, server.py:249-286 — a repeat of the same query loads the index
    * instead of rebuilding it; the timing CSV carries an index_cache_hit /
    * index_built marker row), variability guard (reference:
    * server.py:209-214) on the variance the index carries, then execute.
    * On a warm cache a query runs no Spark job. A refused series is cached
    * before it is refused. Left = why the query was refused. */
  private def answer(spark: SparkSession, table: DataFrame, tablePath: String, spec: QuerySpec,
      tk: Timekeeper): Either[String, Answer] = {
    if (!table.columns.contains(spec.column)) return Left(s"column '${spec.column}' not in table")
    val series = table.selectExpr("time_id as t", s"`${spec.column}` as y")
    val cacheDir = IndexCache.DefaultDir
    val (idx, cacheHit) = tk.time("index_get_or_build") {
      IndexCache.getOrBuild(spark, cacheDir, tablePath, spec.column, series, spec)
    }
    tk.time(if (cacheHit) "index_cache_hit" else "index_built")(())
    println(if (cacheHit) "index: loaded from cache" else s"index: built, cached at $cacheDir")
    if (tk.time("variability_guard")(idx.variance <= 5e-28)) return Left("no variability in data")
    val rows = tk.time("execute") {
      RefinementEngine.execute(spark, series, spec, prebuilt = Some(idx)).collect()
    }
    Right(Answer(series, rows))
  }

  /** Result print, variables sorted by name desc (reference: server.py:888-898). */
  private def printRows(rows: Array[Row]): Unit = {
    println(s"${rows.length} result(s):")
    rows.foreach(r => println(s"  time_id=${r.getLong(0)} offset=${r.getLong(1)}"))
  }

  /** Interactive session — the reference's client loop (client.py:103-121):
    * numbered dataset pick from the directory's parquet tables, catalog
    * readout, then one query per line until quit/EOF. Parse and execution
    * errors re-prompt instead of exiting (a usability refinement of the
    * reference's earlyDeath; the batch path keeps exit-code parity). */
  private def interactive(dir: String): Int = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    if (files.isEmpty) { System.err.println(s"no .parquet datasets in $dir"); return 1 }
    val console = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    println("Please enter a number to select a dataset:")
    files.zipWithIndex.foreach { case (f, i) =>
      println(s"  ${i + 1}: ${f.getName.stripSuffix(".parquet")}")
    }
    var pick = -1
    while (pick < 0) {
      val line = console.readLine()
      if (line == null) return 1
      line.trim.toIntOption match {
        case Some(n) if n >= 1 && n <= files.length => pick = n - 1
        case _ => println("Please choose a correct number")
      }
    }
    val spark = buildSession()
    try {
      val table = spark.read.parquet(files(pick).getPath)
      val viewName = files(pick).getName.stripSuffix(".parquet")
        .replaceAll("[^A-Za-z0-9_]", "_")
      table.createOrReplaceTempView(viewName)
      println(s"\n Connected to $viewName dataset.")
      print(graft.sources.Catalog.readout(spark))
      println("enter a query per line; 'quit' to exit")
      var done = false
      while (!done) {
        print("query> "); Console.flush()
        val line = console.readLine()
        if (line == null || line.trim == "quit" || line.trim == "exit") done = true
        else if (line.trim.nonEmpty) {
          try {
            answer(spark, table, files(pick).getPath, QueryParser.parse(line), new Timekeeper) match {
              case Left(refusal) => println(s"$refusal; query skipped")
              case Right(a) => printRows(a.rows)
            }
          } catch {
            case ParseException(m) => println(s"parse error: $m")
            case e: Exception => println(s"execution error: ${e.getMessage}")
          }
        }
      }
      0
    } finally spark.stop()
  }

  /** Body returning the exit code; never calls sys.exit itself. */
  private def run(args: Array[String]): Int = {
    val Array(tablePath, queryPath) = args.take(2)
    val tk = new Timekeeper
    final case class Abort(code: Int) extends RuntimeException

    val spark = tk.time("connect")(buildSession())
    try {
      val queryText = tk.time("read_query") {
        java.nio.file.Files.readString(java.nio.file.Paths.get(queryPath))
      }
      val spec =
        try tk.time("parse")(QueryParser.parse(queryText))
        catch {
          case ParseException(m) =>
            System.err.println(s"parse error: $m"); throw Abort(1)
        }

      val table = tk.time("scan")(spark.read.parquet(tablePath))
      // full catalog readout (reference: client.py:124-146): register the
      // loaded table as a view, then walk spark.catalog like the reference
      // walks information_schema — all databases, tables, and columns
      val viewName = new java.io.File(tablePath).getName
        .stripSuffix(".parquet").replaceAll("[^A-Za-z0-9_]", "_")
      table.createOrReplaceTempView(viewName)
      println(s"table: $tablePath (view: $viewName)")
      print(tk.time("catalog")(graft.sources.Catalog.readout(spark)))
      val ans = answer(spark, table, tablePath, spec, tk) match {
        case Left(refusal) => System.err.println(s"$refusal; aborting"); throw Abort(1)
        case Right(a) => a
      }
      printRows(ans.rows)

      // plot sink (reference: server.py:901-952), optional 4th arg; the
      // series is envelope-downsampled to a bounded point budget so the
      // driver never collects more than a few thousand rows
      if (args.length > 3) {
        val pts = tk.time("plot_downsample") {
          PlotSink.downsample(ans.series.selectExpr("t", "cast(y as double) as y"))
        }
        PlotSink.save(args(3), pts,
          ans.rows.map(r => (r.getLong(0), r.getLong(1))).toSeq)
        println(s"plot written to ${args(3)}")
      }

      if (args.length > 2) tk.save(args(2))
      0
    } catch {
      case Abort(code) =>
        if (args.length > 2) tk.save(args(2))
        code
      case e: Exception =>
        System.err.println(s"execution error: ${e.getMessage}")
        if (args.length > 2) tk.save(args(2))
        2
    } finally spark.stop()
  }
}
