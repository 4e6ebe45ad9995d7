package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the one-session-shape / one-registry design from drifting back:
  * sessions are built only by [[GraftSession]], scratch paths come only
  * from [[graft.engine.SessionArtifacts]] (plus the cross-session
  * [[graft.engine.IndexCache]] and [[graft.cli.Cleanup]], which sweeps
  * both), and no query file keeps its own memo map. The CP refinement core
  * keeps one copy: the kernel scores cells in one file and no file defines
  * a score column; no main file orders a window over a whole frame, and
  * the CP kernel builds no series index. */
class SourceHygieneSpec extends AnyFunSuite {

  private def scalaFiles(dir: String): Seq[(Path, String)] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  private lazy val sources: Seq[(Path, String)] = scalaFiles("src/main")
  private lazy val tests: Seq[(Path, String)] = scalaFiles("src/test")

  private def offenders(pattern: String, allowed: Set[String]): Seq[String] =
    sources.collect {
      case (p, text) if !allowed(p.getFileName.toString) &&
          pattern.r.findFirstIn(text).isDefined => p.toString
    }.sorted

  test("SparkSession.builder appears only in GraftSession") {
    assert(sources.nonEmpty)
    assert(offenders("""SparkSession\s*\.\s*builder""", Set("GraftSession.scala")) == Nil)
  }

  test("java.io.tmpdir appears only in SessionArtifacts, IndexCache and Cleanup") {
    assert(offenders("""java\.io\.tmpdir""",
      Set("SessionArtifacts.scala", "IndexCache.scala", "Cleanup.scala")) == Nil)
  }

  test("query files keep no hand-rolled memo maps") {
    val queryFiles = sources.filter(_._1.toString.contains("/queries/"))
    assert(queryFiles.nonEmpty)
    assert(queryFiles.collect {
      case (p, text) if text.contains("ConcurrentHashMap") => p.toString
    } == Nil)
  }

  test("no file defines an rk/rp score column") {
    // a row_number rank that happens to be called rk is not a score column
    assert(sources.collect {
      case (p, text) if """withColumn\("r[kp]",(?!\s*row_number)""".r.findFirstIn(text).isDefined =>
        p.toString
    } == Nil)
  }

  test("SQLOrderingUtil.compareDoubles (the CP kernel's double order) appears only in LocalSolve") {
    assert(offenders("""SQLOrderingUtil\s*\.\s*compareDoubles|import\s+[\w.]*SQLOrderingUtil""",
      Set("LocalSolve.scala")) == Nil)
  }

  test("constraint functions have one, scalar, form: no Column plan in Constraints.scala") {
    val constraints = sources.collectFirst {
      case (p, text) if p.endsWith(Paths.get("engine", "Constraints.scala")) => text
    }
    assert(constraints.isDefined)
    Seq("""\bWindowProbe\b""", """\bMemoProbe\b""", """org\.apache\.spark\.sql\.Column\b""",
      """import\s+org\.apache\.spark\.sql\.\{[^}]*\bColumn\b""").foreach { re =>
      assert(re.r.findFirstIn(constraints.get).isEmpty, re)
    }
  }

  test("an un-partitioned Window.orderBy appears in no main file") {
    assert(offenders("""Window\s*\.\s*orderBy""", Set.empty) == Nil)
  }

  test("the CP engine builds no typed Dataset: no createDataset or emptyDataset in engine/") {
    // a result frame is built from rows and a fixed schema; a per-query
    // typed encoder costs more than the one-chunk solve it wraps
    val engine = sources.filter(_._1.toString.contains("/graft/engine/"))
    assert(engine.exists(_._1.endsWith(Paths.get("engine", "LocalSolve.scala"))))
    assert(engine.collect {
      case (p, text) if """\b(createDataset|emptyDataset)\b""".r.findFirstIn(text).isDefined =>
        p.toString
    } == Nil)
  }

  test("one profiling instrument: graft.tools.Profile is the only listener, and nothing sleeps on the bus") {
    val all = sources ++ tests
    val listener = """\b(extends|with|new)\s+(SparkListener|SparkListenerInterface|QueryExecutionListener)\b"""
    assert(all.collect {
      case (p, text) => listener.r.findAllIn(text).size -> p.getFileName.toString
    }.filter(_._1 > 0) == Seq(2 -> "Profile.scala"))
    // a listener count is read after Profile drains the bus; the only
    // sleeps left hold a concurrent build open and delay the listener the
    // drain must wait out
    val sleep = """Thread\.sleep""".r
    val sleeps = all.collect {
      case (p, text) if sleep.findFirstIn(text).isDefined =>
        p.getFileName.toString -> sleep.findAllIn(text).size
    }.toMap
    assert(sleeps == Map("SessionArtifactsSpec.scala" -> 1, "ProfileSpec.scala" -> 1), sleeps)
    val tools = sources.filter(_._1.toString.contains("/graft/tools/"))
    assert(tools.map(_._1.getFileName.toString).toSet == Set("CodegenGuard.scala", "Profile.scala"))
    assert(tools.collect { case (p, text) if """\bdef\s+main\b""".r.findFirstIn(text).isDefined =>
      p.toString } == Nil)
  }

  /** Comments and string and char literals, leftmost first, so a quote in
    * a comment or a comment marker in a string is skipped with its host. */
  private val literalOrComment =
    "(?s)\"\"\".*?\"\"\"|/\\*.*?\\*/|//[^\n]*|\"(?:[^\"\\\\\n]|\\\\.)*\"|'(?:[^'\\\\\n]|\\\\.)'".r

  /** `text` without comments, its string literals emptied: what the
    * compiler calls. */
  private def code(text: String): String =
    literalOrComment.replaceAllIn(text, m =>
      if (m.matched.startsWith("\"")) "\"\"" else "")

  test("one lowercase: src/main calls Spark's lower, upper and initcap nowhere") {
    // the engine lowercases through TextOps.lower and, inside the native
    // kernels, TextKernel.lower: Spark's case mappings load an ICU title-case
    // table of every code point on a JVM's first call
    val call = """(?<!TextOps\.)(?<!TextKernel\.)(?<!def )\b(lower|upper|initcap)\s*\("""
    assert(code("lower(x) // upper(y)\n\"initcap(z)\" TextOps.lower(w)") == "lower(x) \n\"\" TextOps.lower(w)")
    assert(sources.collect {
      case (p, text) if p.getFileName.toString != "LowerText.scala" &&
          call.r.findFirstIn(code(text)).isDefined => p.toString
    } == Nil)
    // the native kernels lowercase through TextKernel, not a case table of
    // their own
    val kernels = sources.filter(_._1.toString.contains("/graft/functions/"))
    assert(kernels.nonEmpty)
    assert(kernels.collect {
      case (p, text) if """\.toLowerCase\b""".r.findFirstIn(code(text)).isDefined =>
        p.getFileName.toString
    } == Seq("LowerText.scala"))
  }

  test("suite tables are read only through Tables.read") {
    // a direct read infers the schema in a job of its own on every call and
    // skips the small-input partition; Bucketed reads its two tables once,
    // to write their bucketed copies
    val direct = """read\s*\.\s*parquet\(\s*s"\$\{?\w+\}?/\w+\.parquet"\s*\)"""
    assert(sources.collect {
      case (p, text) if direct.r.findFirstIn(text).isDefined => p.getFileName.toString
    } == Seq("Bucketed.scala"))
  }

  test("no series-index build or run budget remains in src/main") {
    // each name carries a character class, so a grep of the sources for
    // the deleted names does not match this rule itself
    assert(offenders("""levels[F]or|build[L]evels|twoPass[B]uild|Index[P]artitioner|maxRun[R]ows""",
      Set.empty) == Nil)
  }
}
