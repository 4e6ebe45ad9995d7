package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the one-session-shape / one-registry design from drifting back:
  * sessions are built only by [[GraftSession]], scratch paths come only
  * from [[graft.engine.SessionArtifacts]] (plus the cross-session
  * [[graft.engine.IndexCache]] and [[graft.cli.Cleanup]], which sweeps
  * both), and no query file keeps its own memo map. */
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
}
