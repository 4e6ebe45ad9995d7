package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.QuerySpec

/** Cross-session disk cache for persisted series — the faithful analogue
  * of the reference's pickle cache of its UDF map (reference:
  * server.py:249-286), minus the manual filename editing: the key derives
  * from (table identity, column) and staleness is checked against the
  * source's modification time. The cache holds the raw `(t, y)` rows the CP
  * kernel reads, nothing derived, so one entry serves every query on the
  * series, whatever its windows.
  */
object IndexCache {
  import SeriesOps.SeriesIndex

  /** Cache directory when the caller names none: `GRAFT_INDEX_CACHE`,
    * else `$TMPDIR/graft_index_cache`. */
  val DefaultDir: String = sys.env.getOrElse("GRAFT_INDEX_CACHE",
    s"${sys.props("java.io.tmpdir")}/graft_index_cache")

  private def sanitize(s: String): String = s.replaceAll("[^A-Za-z0-9._-]", "_")

  /** md5-hex prefix for injective path keys (shared by every disk-cache
    * path in the library — see also [[SessionArtifacts.path]]). */
  def md5Key(s: String, bytes: Int): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(bytes).map(b => f"$b%02x").mkString

  /** Injective directory key: the readable sanitized form is suffixed with
    * a hash of the RAW (table, column) pair — two pairs that sanitize to
    * the same text cannot collide onto one cache entry. */
  private def dirKey(table: String, column: String): String =
    s"${sanitize(table)}__${sanitize(column)}__${md5Key(table + "\u0000" + column, 6)}"

  /** Session-level memo of loaded/built series keyed by cache dir: a
    * long-lived session querying the same (table, column) repeatedly
    * reuses ONE persisted copy instead of pinning a fresh one per call.
    * Entries carry the source mtime they were built against, so staleness
    * invalidates the memo exactly like it invalidates the disk cache. */
  private val memo = new java.util.concurrent.ConcurrentHashMap[
    String, (SparkSession, SeriesIndex, Long)]()

  /** Newest modification time under `path` (file or directory tree). */
  def maxMtime(path: String): Long = {
    val f = new java.io.File(path)
    val children = Option(f.listFiles()).getOrElse(Array.empty)
    (f.lastModified() +: children.map(c => maxMtime(c.getPath)).toSeq).max
  }

  private def metaFile(dir: java.io.File) = new java.io.File(dir, "meta.txt")

  /** The source mtime the cached entry was written against. */
  private def readMtime(dir: java.io.File): Option[Long] =
    if (!metaFile(dir).isFile) None
    else java.nio.file.Files.readString(metaFile(dir).toPath).linesIterator
      .collectFirst { case l if l.startsWith("srcMtime=") => l.stripPrefix("srcMtime=") }
      .flatMap(_.toLongOption)

  /** Load the cached series for `(table, column)` when present and not
    * stale; otherwise write `series` through and load that. Returns
    * `(series, cacheHit)`. `spec` does not affect the result: the entry
    * holds the raw rows, which answer any query's windows.
    */
  def getOrBuild(
      spark: SparkSession,
      cacheDir: String,
      table: String,
      column: String,
      series: DataFrame,
      spec: QuerySpec): (SeriesIndex, Boolean) = {
    val key = dirKey(table, column)
    val dir = new java.io.File(cacheDir, key)
    val dataPath = new java.io.File(dir, "data").toString
    val mt = maxMtime(table)
    // persisted and materialized: after the bounds job the probes read
    // block storage, so a file deleted mid-query cannot fail it lazily
    def load(): SeriesIndex = SeriesOps.persisted(spark.read.parquet(dataPath))
    def build(): (SeriesIndex, Boolean) = {
      SeriesOps.raw(series).write.mode("overwrite").parquet(dataPath)
      java.nio.file.Files.writeString(metaFile(dir).toPath, s"srcMtime=$mt\n")
      (load(), false)
    }
    // same-session repeats reuse the one persisted copy; a stale one is
    // unpersisted before its successor loads — else every source change
    // pins another copy, and a re-read of the same data path would match
    // the superseded cache entry
    Option(memo.get(key)) match {
      case Some((sess, cached, cachedMt)) if sess eq spark =>
        if (cachedMt == mt) return (cached, true)
        memo.remove(key)
        cached.df.unpersist()
      case _ => ()
    }
    val result =
      if (readMtime(dir).contains(mt))
        // a reaped/torn data dir (tmp cleaners, concurrent writers) must
        // rebuild, not crash
        try (load(), true) catch { case _: Exception => build() }
      else build()
    memo.put(key, (spark, result._1, mt))
    result
  }
}
