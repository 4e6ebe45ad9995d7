package graft.cli

/** Teardown utility — the parquet-world analogue of the reference's
  * `post_cleanup.py:7-12` (DROP DATABASE for its two working databases):
  * removes the on-disk caches the engine creates, i.e. the cross-session
  * series-index cache ([[graft.engine.IndexCache.DefaultDir]]) and the
  * per-JVM scratch roots (`$TMPDIR/graft-scratch-<pid>-*`,
  * [[graft.engine.SessionArtifacts.root]]) whose JVM is no longer alive.
  * The index cache is mtime-invalidated, so cleanup is about disk space,
  * never correctness. Prints what it removed; `--dry-run` only lists.
  *
  * Lifecycle: a scratch root is registered via [[deleteOnExit]] by the JVM
  * that creates it, so a normally-exiting JVM leaves none behind and this
  * main is only needed after a crash (or to drop the intentionally
  * cross-session series-index cache). A live JVM's root is never removed.
  */
object Cleanup {

  private val exitDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val hooked = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Register a scratch dir for recursive deletion at JVM exit (idempotent;
    * one shutdown hook regardless of call count). For per-JVM scratch like
    * the session-artifact root — NOT for the cross-session series-index
    * cache, whose persistence is the point. */
  def deleteOnExit(path: String): Unit = {
    exitDirs.add(path)
    if (hooked.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        // per-dir isolation: one failing delete (permissions, a race with
        // Spark's own shutdown hooks) must not abort the remaining dirs
        exitDirs.forEach { p =>
          try deleteRecursively(new java.io.File(p))
          catch { case _: Throwable => () }
        }))
  }

  private val ScratchRoot = s"""${graft.engine.SessionArtifacts.RootPrefix}(\\d+)-.*""".r

  /** Scratch roots directly under `tmp` whose owning JVM (the pid in the
    * name) is not alive. */
  def orphanedScratchRoots(tmp: java.io.File): Seq[java.io.File] =
    Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq.filter { f =>
      f.isDirectory && (f.getName match {
        case ScratchRoot(pid) => pid.toLongOption.exists(p =>
          !ProcessHandle.of(p).map[Boolean](_.isAlive).orElse(false))
        case _ => false
      })
    }

  def main(args: Array[String]): Unit = {
    val targets = clean(new java.io.File(sys.props("java.io.tmpdir")),
      new java.io.File(graft.engine.IndexCache.DefaultDir), args.contains("--dry-run"))
    if (targets.isEmpty) println("nothing to clean")
  }

  /** Remove `indexCache` and the orphaned scratch roots under `tmp` (only
    * list them when `dryRun`); returns the targets. */
  def clean(tmp: java.io.File, indexCache: java.io.File,
      dryRun: Boolean): Seq[java.io.File] = {
    val targets = (indexCache +: orphanedScratchRoots(tmp)).filter(_.exists())
    targets.foreach { d =>
      if (dryRun) println(s"would remove $d")
      else { deleteRecursively(d); println(s"removed $d") }
    }
    targets
  }

  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
    ()
  }
}
