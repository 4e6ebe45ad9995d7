package graft

import java.io.File
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.SessionArtifacts

/** The session-artifact registry ([[SessionArtifacts]]) and the scratch
  * layout [[graft.cli.Cleanup]] maintains. Kinds are unique per test:
  * the registry and its counters are JVM-wide. */
class SessionArtifactsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def counts(kind: String): SessionArtifacts.KindStats =
    SessionArtifacts.stats.getOrElse(kind, SessionArtifacts.KindStats(0, 0, 0))

  test("a nested build (one kind's build calls another kind) completes") {
    val dir = "/nested/dataset"
    val outer = SessionArtifacts.getOrBuild(spark, "spec_nest_outer", dir) { _ =>
      val inner = SessionArtifacts.getOrBuild(spark, "spec_nest_inner", dir)(_ => 20)
      inner + 1
    }
    assert(outer == 21)
    // the inner artifact is registered too: a direct call is a hit
    assert(SessionArtifacts.getOrBuild(spark, "spec_nest_inner", dir)(_ => -1) == 20)
    val st = counts("spec_nest_inner")
    assert(st.builds == 1 && st.hits == 1)
  }

  test("8 concurrent callers on one key build once") {
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { _ =>
        pool.submit(new Callable[AnyRef] {
          def call(): AnyRef = {
            start.await()
            SessionArtifacts.getOrBuild(spark, "spec_concurrent", "/c") { _ =>
              Thread.sleep(100)
              builds.incrementAndGet()
              new Object
            }
          }
        })
      }
      start.countDown()
      val got = futures.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(got.forall(_ eq got.head))
      val st = counts("spec_concurrent")
      assert(st.builds == 1 && st.hits == 7)
      assert(st.buildMs >= 100)
    } finally pool.shutdownNow()
  }

  test("a new session rebuilds into an emptied path") {
    val kind = "spec_session"
    def build(tag: String)(p: String): String = {
      val f = new File(p)
      assert(!f.exists(), s"$p must be empty before a build")
      f.mkdirs()
      new File(f, "marker").createNewFile()
      tag
    }
    assert(SessionArtifacts.getOrBuild(spark, kind, "/s")(build("first")) == "first")
    assert(SessionArtifacts.getOrBuild(spark, kind, "/s")(build("again")) == "first")
    val other = spark.newSession()
    assert(SessionArtifacts.getOrBuild(other, kind, "/s")(build("second")) == "second")
    assert(SessionArtifacts.getOrBuild(other, kind, "/s")(build("again")) == "second")
    assert(counts(kind).builds == 2 && counts(kind).hits == 2)
  }

  test("paths sit under the per-JVM root, whose name carries the pid") {
    val pid = ProcessHandle.current().pid()
    val root = new File(SessionArtifacts.root)
    assert(root.isDirectory)
    assert(root.getName.startsWith(s"graft-scratch-$pid-"), root.getName)
    var seen = ""
    SessionArtifacts.getOrBuild(spark, "spec_path", "/some/sf/dir") { p => seen = p }
    assert(seen == SessionArtifacts.path("spec_path", "/some/sf/dir"))
    assert(new File(seen).getParentFile == root)
    assert(new File(seen).getName.startsWith("spec_path_"))
    // one key per (kind, dir)
    assert(SessionArtifacts.path("spec_path", "/other") != seen)
    assert(SessionArtifacts.path("spec_other", "/some/sf/dir") != seen)
    // the session warehouse lives under the same root
    assert(spark.conf.get("spark.sql.warehouse.dir").contains(root.getName))
  }

  test("build and hit counters count per kind") {
    val kind = "spec_counters"
    assert(counts(kind) == SessionArtifacts.KindStats(0, 0, 0))
    (1 to 3).foreach(_ => SessionArtifacts.getOrBuild(spark, kind, "/a")(_ => 1))
    SessionArtifacts.getOrBuild(spark, kind, "/b")(_ => 2)
    val st = counts(kind)
    assert(st.builds == 2 && st.hits == 2)
    // a failed build records nothing and leaves the key buildable
    intercept[IllegalStateException] {
      SessionArtifacts.getOrBuild(spark, kind, "/c")(_ => throw new IllegalStateException("planted"))
    }
    assert(counts(kind) == st)
    assert(SessionArtifacts.getOrBuild(spark, kind, "/c")(_ => 3) == 3)
    assert(counts(kind).builds == 3)
  }

  test("Cleanup removes a dead JVM's scratch root and keeps a live one's") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cleanup_spec").toFile
    graft.cli.Cleanup.deleteOnExit(tmp.getPath)
    val live = new File(tmp, s"graft-scratch-${ProcessHandle.current().pid()}-123")
    // above Linux's largest pid_max (2^22): no process can own it
    val dead = new File(tmp, "graft-scratch-999999999-456")
    val unrelated = new File(tmp, "graft_index_cache")
    Seq(live, dead, unrelated).foreach(_.mkdirs())
    assert(graft.cli.Cleanup.orphanedScratchRoots(tmp) == Seq(dead))
    val noCache = new File(tmp, "no_index_cache")
    assert(graft.cli.Cleanup.clean(tmp, noCache, dryRun = true) == Seq(dead))
    assert(dead.isDirectory)
    assert(graft.cli.Cleanup.clean(tmp, noCache, dryRun = false) == Seq(dead))
    assert(!dead.exists() && live.isDirectory && unrelated.isDirectory)
    // this JVM's own root is never a target
    val realRoot = new File(SessionArtifacts.root)
    assert(!graft.cli.Cleanup.orphanedScratchRoots(realRoot.getParentFile).contains(realRoot))
  }
}
