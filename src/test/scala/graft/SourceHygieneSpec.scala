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

  private lazy val sources: Seq[(Path, String)] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

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

  test("no series-index build or run budget remains in src/main") {
    // each name carries a character class, so a grep of the sources for
    // the deleted names does not match this rule itself
    assert(offenders("""levels[F]or|build[L]evels|twoPass[B]uild|Index[P]artitioner|maxRun[R]ows""",
      Set.empty) == Nil)
  }
}
