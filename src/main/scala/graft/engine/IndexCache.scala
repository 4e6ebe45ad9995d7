package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{max, min}

import graft.model.QuerySpec

/** Cross-session disk cache for built series indexes — the faithful
  * analogue of the reference's pickle cache of its UDF map
  * (reference: server.py:249-286), minus the manual filename editing: the
  * key derives from (table identity, column), staleness is checked against
  * the source's modification time, and depth sufficiency against the
  * query's window need. The index parquet round-trips the exact
  * `(t, y, s, ms)` rows, so a cached load probes identically to the build
  * that produced it.
  */
object IndexCache {
  import SeriesOps.SeriesIndex

  final case class Meta(tMin: Long, tMax: Long, levels: Int, srcMtime: Long)

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

  /** Session-level memo of loaded/built indexes keyed by cache dir: a
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

  private def readMeta(dir: java.io.File): Option[Meta] =
    if (!metaFile(dir).isFile) None
    else {
      val kv = java.nio.file.Files.readString(metaFile(dir).toPath)
        .linesIterator.flatMap { l =>
          l.split("=", 2) match { case Array(k, v) => Some(k -> v); case _ => None }
        }.toMap
      try Some(Meta(kv("tMin").toLong, kv("tMax").toLong,
        kv("levels").toInt, kv("srcMtime").toLong))
      catch { case _: Exception => None }
    }

  private def writeMeta(dir: java.io.File, m: Meta): Unit =
    java.nio.file.Files.writeString(metaFile(dir).toPath,
      s"tMin=${m.tMin}\ntMax=${m.tMax}\nlevels=${m.levels}\nsrcMtime=${m.srcMtime}\n")

  /** Load the cached index for `(table, column)` when present, not stale,
    * and deep enough for `spec`'s windows; otherwise build from `series`
    * (the partitioned two-pass kernel) and write through. Returns
    * `(index, cacheHit)`.
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
    def needWin(tMin: Long, tMax: Long): Long =
      RefinementEngine.windowNeed(spec, RefinementEngine.bindDomains(spec, tMin, tMax).lxHi)
    def build(): (SeriesIndex, Boolean) = {
      val bounds = series.agg(min("t"), max("t")).head()
      val idx = SeriesOps.indexFast(series, needWin(bounds.getLong(0), bounds.getLong(1)))
      dir.mkdirs()
      idx.df.write.mode("overwrite").parquet(dataPath)
      writeMeta(dir, Meta(idx.tMin, idx.tMax, idx.levels, mt))
      (idx, false)
    }
    // same-session repeats reuse the one persisted copy; a stale or too
    // shallow one is unpersisted before its successor loads — else every
    // source change pins another copy, and a re-read of the same data path
    // would match the superseded cache entry
    Option(memo.get(key)) match {
      case Some((sess, cached, cachedMt)) if sess eq spark =>
        if (cachedMt == mt && SeriesOps.covers(cached.levels, needWin(cached.tMin, cached.tMax)))
          return (cached, true)
        memo.remove(key)
        cached.df.unpersist()
      case _ => ()
    }
    val result = readMeta(dir) match {
      case Some(m) if m.srcMtime == mt && SeriesOps.covers(m.levels, needWin(m.tMin, m.tMax)) =>
        // a reaped/torn data dir (tmp cleaners, concurrent writers) must
        // rebuild, not crash. Persist AND materialize inside the guard:
        // after count() the probes read block storage, so a file deleted
        // mid-query can no longer fail the query lazily.
        try {
          val df = spark.read.parquet(dataPath)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          df.count()
          (SeriesIndex(df, m.tMin, m.tMax, m.levels), true)
        } catch { case _: Exception => build() }
      case _ => build()
    }
    memo.put(key, (spark, result._1, mt))
    result
  }
}
