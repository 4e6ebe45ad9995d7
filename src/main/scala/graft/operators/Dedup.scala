package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data curation, each designed for the
  * shuffle-parallel path at 100 TB:
  *
  *  - exact: hash-groupBy on content (one shuffle on the content hash);
  *  - MinHash + LSH: shingle -> seeded min-hash signature -> banded bucket
  *    keys -> then EITHER per-bucket star edges ([[lshStarEdges]], linear in
  *    bucket size — feed these to [[connectedComponents]]) OR candidate
  *    pairs via equi-join on (band, key) for verified-pair re-ranking
  *    ([[lshCandidatePairs]]; quadratic in bucket size, so cap template
  *    mega-buckets with [[lshCandidatePairsCapped]] at corpus scale) —
  *    never an all-pairs comparison across buckets;
  *  - SimHash: 32-bit sign-aggregated token-hash fingerprint, near-dups =
  *    small Hamming distance;
  *  - n-gram Jaccard: exploded distinct shingles, pairwise overlap by
  *    equi-join on the shingle.
  *
  * Hashes are portable md5-derived (see [[TextOps.portableHash]]) so every
  * signature is reproducible in the DuckDB oracle.
  */
object Dedup {

  /** Exact dedup: keep the smallest id per identical content.
    *
    * Groups by `sha2(text, 256)`, NOT the raw text column: the group key
    * is the shuffle key, so grouping by text would make the exchange
    * carry the entire corpus bytes over the network — at 100 TB a 100 TB
    * shuffle where 32 B/doc suffices (map-side partial aggregation does
    * not help when texts are mostly distinct). SHA-256 collisions are
    * negligible at any feasible corpus size (2^-128 at 10^18 docs), and
    * the hash is oracle-portable (DuckDB `sha256`). Null text hashes to
    * null — one group, same as grouping by the raw column. */
  def exact(df: DataFrame, text: String, id: String): DataFrame =
    df.groupBy(sha2(col(text), 256).as("content_hash"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("copies"))
      .select("keep_id", "copies")

  /** URL-keyed dedup — the crawl pipeline's stage ZERO: collapse rows
    * whose URLs canonicalize to the same resource
    * ([[TextOps.canonicalUrl]]: scheme/host case, default port,
    * trailing slash, fragment, query order) before any content is
    * compared. Same exchange discipline as [[exact]]: the group key is
    * the 60-bit portable hash of the canonical URL, computed map-side,
    * so the shuffle carries 8 B per row — never the URL string (PlanSpec
    * pins it on q174). A 60-bit collision merges two URLs' groups with
    * odds ~2⁻⁶⁰ per pair — immaterial against crawl-scale shuffle bytes
    * (the [[jaccardPairs]] rationale). Output:
    * `(url_h, keep_id, copies)`, smallest id kept per canonical URL. */
  def urlDedup(df: DataFrame, url: String, id: String): DataFrame =
    df.groupBy(TextOps.portableHash(TextOps.canonicalUrl(col(url)), 23)
        .as("url_h"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("copies"))

  /** Append one ingest batch's URL keys to the persisted URL-key index
    * at `path`: the 8 B canonical hash ([[TextOps.canonicalUrl]], same
    * seed as [[urlDedup]]) computed map-side, URL strings never
    * persisted or exchanged. Idempotent under micro-batch retry via the
    * `lastbatch` marker (the [[graft.streaming.StreamingOps]] append
    * discipline); returns false for an already-applied batch id. */
  def urlIndexAppendBatch(path: String, batch: DataFrame, url: String,
      id: String, batchId: Long): Boolean = {
    val spark = batch.sparkSession
    val last = graft.sources.Markers.readLastBatch(spark, s"$path/lastbatch")
    if (batchId <= last) false
    else {
      batch.select(
          TextOps.portableHash(TextOps.canonicalUrl(col(url)), 23).as("url_h"),
          col(id).cast("long").as("doc_id"))
        .write.mode("append").parquet(s"$path/keys")
      graft.sources.Markers.writeLastBatch(spark, s"$path/lastbatch", batchId)
      true
    }
  }

  /** The [[urlDedup]] verdict `(url_h, keep_id, copies)` over the
    * MAINTAINED index: computed entirely from the persisted 8 B key
    * rows — a URL ingested in batch N collapses with its canonical
    * twin from batch N−1 without any content re-read. LIVE rows only:
    * docs tombstoned by [[urlIndexForget]] drop before the rollup, so
    * a forgotten document is neither a keeper nor a copy. */
  def urlIndexDuplicates(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    Rtbf.dropForgotten(spark.read.parquet(s"$path/keys"),
        spark, path, "doc_id")
      .groupBy("url_h")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("copies"))

  /** RTBF for the URL-key index: tombstone doc ids —
    * [[urlIndexDuplicates]] stops reporting them immediately;
    * [[urlIndexPurge]] drops the key rows physically. */
  def urlIndexForget(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame, id: String): Unit =
    Rtbf.forget(ids.select(col(id).cast("long").as("doc_id")), path,
      "doc_id")

  /** PURGE the URL-key index's tombstoned docs: atomic filtered rewrite
    * of `<path>/keys`, then the tombstones clear (the
    * [[bandIndexPurge]] discipline; the `lastbatch` marker stays
    * valid — purge is maintenance, not a rebuild). */
  def urlIndexPurge(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    if (Rtbf.hasTombstones(spark, path)) {
      val live = graft.engine.Checkpoints.mark(
        Rtbf.dropForgotten(spark.read.parquet(s"$path/keys"),
          spark, path, "doc_id"))
      try Rtbf.swapRewrite(spark, path, "keys", live)
      finally graft.engine.Checkpoints.release(live)
      Rtbf.clearTombstones(spark, path)
    }
  }

  /** Word shingles (n-grams of tokens) as exploded rows (id, shingle),
    * distinct. n=1 -> token set. `normalize` runs
    * [[graft.operators.TextOps.normalizeForMatch]] (casefold /
    * punct-strip / whitespace-collapse) before tokenizing — the
    * eval-harness n-gram definition, so a punctuation-perturbed copy
    * still shares shingles with its source (q156 gates exactly that);
    * it CHANGES the similarity definition, so it is opt-in. `segment`
    * runs [[graft.operators.TextOps.segmentScripts]] first, so an
    * unsegmented CJK line shingles at codepoints instead of collapsing
    * to one giant token (q173 gates a near-dup the whitespace mode is
    * blind to); also opt-in, and mutually exclusive with `normalize`
    * (which is ASCII-alnum by design and would delete the CJK). */
  def shingles(df: DataFrame, text: String, id: String, n: Int,
      dedup: Boolean = true, normalize: Boolean = false,
      segment: Boolean = false): DataFrame = {
    // the ASCII-alnum normalizer strips every CJK codepoint to a space,
    // so composing it with script-aware segmentation silently yields the
    // empty-shingle set — a misconfiguration, not a similarity definition
    require(!(normalize && segment),
      "normalize (ASCII n-gram matching) and segment (CJK codepoint " +
        "tokens) are mutually exclusive — the normalizer deletes CJK")
    val src = if (normalize) TextOps.normalizeForMatch(col(text))
      else if (segment) TextOps.segmentScripts(col(text))
      else col(text)
    val toks = TextOps.tokens(src)
    // dedup = false keeps the raw occurrence rows MAP-ONLY (no shuffle):
    // the right input when the consumer's semantics ignore duplicates
    // anyway (a membership join) or need occurrence counts
    val raw =
      if (n == 1) df.select(col(id), explode(toks).as("shingle"))
      else {
        // Build the whole shingle array per doc, then explode it. The
        // obvious index-explode form (explode positions, then
        // slice(toks, i+1, n) per row) is a performance trap: Catalyst
        // inlines a once-referenced `toks` alias into the post-explode
        // projection, so the tokenizing regex SPLIT re-executes once per
        // SHINGLE (~tokens× redundant work per doc — measured 12x on the
        // sf0.1 corpus). Here `__toks` is referenced n times (slices) and
        // `__m` twice+, so CollapseProject keeps both materialized:
        // split runs once per doc, the zip_with chain concatenates
        // elementwise in one pass.
        // no requireFresh needed for __toks/__m: these are select-based
        // projections (not withColumn), so a pre-existing input column of
        // either name is projected away like every other non-id column —
        // each intermediate projection contains the name exactly once
        // (no ambiguity) and the output is (id, shingle) regardless
        val parts = (0 until n).map(k =>
          slice(col("__toks"), lit(k + 1), col("__m")))
        val sh = parts.reduce((a, b) =>
          zip_with(a, b, (x, y) => concat(x, lit(" "), y)))
        df.where(size(toks) >= n)
          .select(col(id), toks.as("__toks"))
          .select(col(id), col("__toks"),
            (size(col("__toks")) - (n - 1)).as("__m"))
          .select(col(id), explode(sh).as("shingle"))
      }
    if (dedup) raw.distinct() else raw
  }

  /** MinHash signatures: numHashes seeded portable hashes, min per doc.
    * Output: (id, m0..m{k-1}). One explode + one groupBy — map-side
    * combinable, no driver state. */
  def minHash(sh: DataFrame, id: String, numHashes: Int): DataFrame =
    sh.groupBy(col(id))
      .agg(
        min(TextOps.portableHash(col("shingle"), 0)).as("m0"),
        (1 until numHashes).map(i =>
          min(TextOps.portableHash(col("shingle"), i)).as(s"m$i")): _*)

  /** LSH band keys over a MinHash signature: band b = portable hash of the
    * concatenated rows in that band. Docs sharing any (band, key) are
    * candidate near-dups. */
  def lshBands(sig: DataFrame, id: String, numHashes: Int, bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}"))
      TextOps.portableHash(concat_ws("_", parts: _*), 100 + b).as(s"band$b")
    }
    sig.select(col(id) +: (0 until numHashes).map(i => col(s"m$i")) ++: bandCols: _*)
  }

  /** Candidate near-dup pairs from LSH buckets (a < b, distinct): the band
    * columns are stacked into `(band_idx, key)` rows and ONE self-join on
    * that pair replaces per-band joins — the signature pipeline upstream is
    * referenced twice total (the two join sides) instead of twice per band,
    * and all bands share a single shuffle on the composite key. */
  /** The band columns stacked to `(id, bi, k)` rows — the join-ready form
    * every LSH pair/edge generator shares, and the schema of the persisted
    * band index ([[bandIndexWrite]]). */
  def stackBands(banded: DataFrame, id: String, bands: Int): DataFrame =
    banded.select(col(id),
      posexplode(array((0 until bands).map(b => col(s"band$b")): _*))
        .as(Seq("bi", "k")))

  def lshCandidatePairs(banded: DataFrame, id: String, bands: Int): DataFrame = {
    val stacked = stackBands(banded, id, bands)
    stacked.select(col(id).as("a"), col("bi"), col("k"))
      .join(stacked.select(col(id).as("b"), col("bi"), col("k")), Seq("bi", "k"))
      .where(col("a") < col("b"))
      .select("a", "b")
      .distinct()
  }

  /** [[lshCandidatePairs]] with a per-bucket size cap, for verified-pair
    * pipelines (Jaccard / cosine re-rank) at corpus scale. The clique is
    * quadratic in bucket size, so ONE template mega-bucket otherwise
    * dominates the whole job (observed at sf0.1: a 3.9k-doc bucket → 7.7M
    * of the 10.6M pairs); buckets larger than `maxBucket` are excluded
    * from pair generation — their members still pair through any other
    * band whose bucket is under the cap, and pipelines that only need
    * connectivity should use [[lshStarEdges]], which is immune. Returns
    * `(pairs, skipped)` where `skipped` lists the excluded
    * `(band_idx, key, size)` buckets — callers MUST surface it (a silent
    * cap would read as full coverage when it is not). */
  def lshCandidatePairsCapped(banded: DataFrame, id: String, bands: Int,
      maxBucket: Int): (DataFrame, DataFrame) = {
    val stacked = stackBands(banded, id, bands)
    val sizes = stacked.groupBy("bi", "k").agg(count(lit(1)).as("size"))
    val kept = stacked.join(
      sizes.where(col("size") <= maxBucket).select("bi", "k"), Seq("bi", "k"))
    val pairs = kept.select(col(id).as("a"), col("bi"), col("k"))
      .join(kept.select(col(id).as("b"), col("bi"), col("k")), Seq("bi", "k"))
      .where(col("a") < col("b"))
      .select("a", "b")
      .distinct()
    val skipped = sizes.where(col("size") > maxBucket)
      .select(col("bi").as("band_idx"), col("k").as("key"), col("size"))
    (pairs, skipped)
  }

  /** Transitive-dedup edge set from LSH buckets: per `(band, key)` bucket a
    * STAR — every member linked to the bucket minimum — instead of the full
    * clique. Connectivity-equivalent to [[lshCandidatePairs]] (both connect
    * exactly the bucket's members, so [[connectedComponents]] over either
    * yields identical components), but LINEAR in bucket size where the
    * clique is quadratic: one skewed mega-bucket of n docs contributes n-1
    * edges instead of n(n-1)/2 pairs. On a template-heavy corpus (observed
    * at sf0.1: a 3.9k-doc bucket out of 5k docs -> 10.6M clique pairs) this
    * is the difference between a dedup that scales and one that re-derives
    * all-pairs. Feed THIS to [[connectedComponents]]; use
    * [[lshCandidatePairs]] only when each pair is individually verified
    * (Jaccard / cosine re-rank), where the pair list itself is the output. */
  def lshStarEdges(banded: DataFrame, id: String, bands: Int): DataFrame = {
    val stacked = stackBands(banded, id, bands)
    // bucket-min via an unordered window over (bi, k): ONE shuffle of the
    // stacked rows (a groupBy + join-back would shuffle them twice); no
    // per-bucket ordering is required, so there is no sort and no
    // single-partition risk — partitions are (band, key) buckets
    val w = org.apache.spark.sql.expressions.Window.partitionBy("bi", "k")
    stacked.withColumn("a", min(col(id)).over(w))
      .where(col("a") < col(id))
      .select(col("a"), col(id).as("b"))
      .distinct()
  }

  /** Persist the stacked LSH band rows of a signed corpus as a parquet
    * band index — the sign-once/query-per-batch shape continuous ingestion
    * needs at corpus scale: the 100 TB corpus is MinHash-signed exactly
    * once; every incoming batch signs only its own rows (map-only) and
    * equi-joins the index ([[incrementalPairs]]). Appending the batch's
    * own band rows afterwards keeps the index current (parquet append —
    * no rewrite).
    *
    * `maxBucket` applies the quadratic-blowup guard AT INDEX TIME: band
    * rows of over-cap buckets are excluded from `<path>/bands` and
    * recorded in `<path>/skipped` (`band_idx, key, size`) — so EVERY
    * future batch query is bounded by construction instead of each
    * caller re-deriving bucket sizes. A mega-bucket (template boilerplate
    * bucketing most of a corpus) pairs every batch doc with everything in
    * it; those docs belong on the connected-components path
    * ([[lshStarEdges]]), not in a verified-pair join. Read the index back
    * with [[bandIndexRead]]; surface `<path>/skipped` (it is the record
    * that coverage was bounded).
    *
    * On `append = true` the cap is decided over the COMBINED size
    * (existing band rows + previously skipped total + this batch), so a
    * bucket that straddles appends can never silently exceed `maxBucket`:
    * once a bucket's total crosses the cap, every later append routes its
    * rows to `<path>/skipped`, and a bucket skipped at build time stays
    * excluded even when a later batch alone would fit under the cap
    * (its historical rows are not in the index — admitting new ones
    * would present a silently partial bucket as complete). The invariant
    * is that `<path>/bands` never holds more than `maxBucket` rows of
    * any bucket, at every point in time; no periodic rebuild needed.
    * The existing-size lookup reads the `<path>/bandsizes` sidecar —
    * bucket-count rows, maintained per write — so an append never scans
    * the row-count-sized index (at a 10⁹-doc corpus that is the
    * difference between reading bucket metadata and re-reading ~100 GB
    * of band rows per batch); a capped append onto an uncapped build has
    * no sidecar and falls back to counting the compact band rows.
    * `<path>/skipped` may carry one row per append for the same bucket;
    * the max-size row is current ([[bandIndexSkipped]] dedupes).
    *
    * WRITE-ORDER CONTRACT: within one (build or append) call the three
    * dirs are written `bands` → `skipped` → `bandsizes`, and the writes
    * are NOT atomic across dirs — a crash between them leaves the cap
    * metadata stale with no marker in the data itself. The in-session
    * ordering is safe (the decision set is materialized before the first
    * write), but a torn append is only DETECTABLE by recounting:
    * run [[bandIndexVerify]] after a crash (or on index open) and
    * rebuild if it reports findings. */
  def bandIndexWrite(banded: DataFrame, id: String, bands: Int,
      path: String, maxBucket: Int = Int.MaxValue,
      append: Boolean = false): Unit = {
    val stacked = stackBands(banded, id, bands)
    val spark = banded.sparkSession
    val hp = new org.apache.hadoop.fs.Path(s"$path/bands")
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val indexExists = fs.exists(hp)
    def sidecar(name: String): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(s"$path/$name"))
    val mode = if (append) "append" else "overwrite"
    // any REBUILD invalidates the streaming `lastbatch` marker along with
    // the cap sidecars: a maintainBandIndex restart with a fresh checkpoint
    // restarts batch ids at 0, and a stale marker would make every append
    // silently no-op (batchId <= last) — silent ingest loss, no error
    // ... and any RTBF tombstones: a rebuilt index has no deletions, and
    // stale tombstones would silently hide re-ingested ids from probes
    if (!append) {
      graft.sources.Markers.delete(spark, s"$path/lastbatch")
      Rtbf.clearTombstones(spark, path)
    }
    if (maxBucket == Int.MaxValue) {
      // an UNCAPPED append onto a CAPPED index would blind-append past the
      // cap (breaking the never-over-maxBucket invariant) and leave the
      // size sidecar stale so later capped appends under-count — refuse
      require(!append || !(sidecar("bandsizes") || sidecar("skipped")),
        s"$path is a capped band index; appending without maxBucket would " +
          "break the bucket-cap invariant — pass the index's maxBucket")
      stacked.write.mode(mode).parquet(s"$path/bands")
      // an uncapped REBUILD over a previously capped index must also drop
      // the old cap sidecars: left behind, bandIndexSkipped would report
      // phantom excluded buckets of the discarded index and a later capped
      // append would base its combined-size decision on stale sizes
      if (!append) Seq("bandsizes", "skipped").foreach { name =>
        val p = new org.apache.hadoop.fs.Path(s"$path/$name")
        if (fs.exists(p)) fs.delete(p, true)
      }
    } else if (!append || !indexExists) {
      // build: one pass over the (compact) stacked rows to size buckets
      val sizes = stacked.groupBy("bi", "k").agg(count(lit(1)).as("size"))
      stacked.join(sizes.where(col("size") <= maxBucket).select("bi", "k"),
          Seq("bi", "k"))
        .write.mode("overwrite").parquet(s"$path/bands")
      sizes.where(col("size") > maxBucket)
        .select(col("bi").as("band_idx"), col("k").as("key"), col("size"))
        .write.mode("overwrite").parquet(s"$path/skipped")
      // bucket-size sidecar: bucket-count-sized, so appends size their
      // touched buckets WITHOUT scanning the full row-count-sized index
      sizes.where(col("size") <= maxBucket)
        .select(col("bi"), col("k"), col("size").as("n"))
        .write.mode("overwrite").parquet(s"$path/bandsizes")
    } else {
      // append: combined = already-indexed rows of the touched buckets
      // + previously-skipped totals + this batch. The in-index counts
      // come from the `bandsizes` sidecar when present (bucket-count
      // rows — the 100 TB path: no full index scan per append); a capped
      // append onto an UNCAPPED build has no sidecar and falls back to
      // counting the (compact 3-long) band rows once.
      val touched = stacked.select("bi", "k").distinct()
      val sizesExist = sidecar("bandsizes")
      val oldSizes =
        if (sizesExist)
          spark.read.parquet(s"$path/bandsizes")
            .join(touched, Seq("bi", "k"), "left_semi")
            .groupBy("bi", "k").agg(max("n").as("__old"))
        else
          // RAW read: the cap is a physical-row invariant, so tombstoned
          // rows still count until bandIndexPurge rewrites them away
          spark.read.parquet(s"$path/bands")
            .join(touched, Seq("bi", "k"), "left_semi")
            .groupBy("bi", "k").agg(count(lit(1)).as("__old"))
      // bandIndexSkipped already returns one max-size row per bucket —
      // only the column renames are needed here
      val oldSkipped = bandIndexSkipped(spark, path)
        .select(col("band_idx").as("bi"), col("key").as("k"),
          col("size").as("__oldskip"))
      val sizes = stacked.groupBy("bi", "k").agg(count(lit(1)).as("__add"))
        .join(oldSizes, Seq("bi", "k"), "left")
        .join(oldSkipped, Seq("bi", "k"), "left")
        .select(col("bi"), col("k"),
          // total-so-far: a skipped record's size already INCLUDES any
          // rows still sitting in bands from before the bucket went over
          // (the straddle write recorded bands+batch), so for a
          // pre-skipped bucket the base is the skipped total alone —
          // adding __old again would double-count the in-index rows on
          // every later append
          (coalesce(col("__oldskip"), coalesce(col("__old"), lit(0L))) +
            col("__add")).as("size"),
          col("__oldskip").isNotNull.as("__preskipped"))
      // materialize the decision set BEFORE any write: all three writes
      // consume it, and a lazy plan would re-read `<path>/bands`/sizes
      // for later writes AFTER the first already appended the batch rows
      // (double-counting the batch)
      val decided = graft.engine.Checkpoints.mark(sizes)
      try {
        val over = decided.where(col("__preskipped") || col("size") > maxBucket)
        stacked.join(over.select("bi", "k"), Seq("bi", "k"), "left_anti")
          .write.mode("append").parquet(s"$path/bands")
        over.select(col("bi").as("band_idx"), col("k").as("key"), col("size"))
          .write.mode("append").parquet(s"$path/skipped")
        // admitted buckets: record the new in-bands total (readers take
        // max per key — counts only grow). Maintained ONLY when the
        // sidecar was created at build time: a partial sidecar started
        // mid-life (capped append onto an uncapped build) would
        // under-count buckets it never touched, so that lineage keeps
        // falling back to counting band rows instead
        if (sizesExist)
          decided.where(!col("__preskipped") && col("size") <= maxBucket)
            .select(col("bi"), col("k"), col("size").as("n"))
            .write.mode("append").parquet(s"$path/bandsizes")
      } finally graft.engine.Checkpoints.release(decided)
    }
  }

  /** The queryable band rows of a persisted index ([[bandIndexWrite]]) —
    * LIVE rows only: ids tombstoned by [[bandIndexForget]] are dropped
    * ([[Rtbf]]), so no probe built on this read can return a forgotten
    * document. Internal physical reads (cap recounts, the verifier)
    * use the raw directory — tombstoned rows still occupy their
    * buckets until [[bandIndexPurge]]. */
  def bandIndexRead(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val raw = spark.read.parquet(s"$path/bands")
    // the id column is whatever the build used: the non-(bi, k) column
    val idCol = raw.columns.filterNot(Set("bi", "k")).head
    Rtbf.dropForgotten(raw, spark, path, idCol)
  }

  /** RTBF for the band index: tombstone `ids(id)` — every probe through
    * [[bandIndexRead]] stops returning them immediately; call
    * [[bandIndexPurge]] to drop the rows physically. */
  def bandIndexForget(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame, id: String): Unit =
    Rtbf.forget(ids, path, id)

  /** PURGE the band index's tombstoned rows: atomic filtered rewrite of
    * `<path>/bands` (the [[Rtbf.swapRewrite]] discipline), a recount
    * refresh of the `bandsizes` sidecar when one exists (bucket totals
    * shrink — without the refresh later capped appends would
    * over-count), then the tombstones clear. `skipped` buckets stay
    * excluded: their historical rows were never in the index, so
    * deletion cannot make them whole. */
  def bandIndexPurge(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    if (Rtbf.hasTombstones(spark, path)) {
      val live = graft.engine.Checkpoints.mark(bandIndexRead(spark, path))
      try {
        Rtbf.swapRewrite(spark, path, "bands", live)
        val fsP = new org.apache.hadoop.fs.Path(s"$path/bandsizes")
        val fs = fsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(fsP))
          Rtbf.swapRewrite(spark, path, "bandsizes",
            live.groupBy("bi", "k").agg(count(lit(1)).as("n")))
      } finally graft.engine.Checkpoints.release(live)
      Rtbf.clearTombstones(spark, path)
    }
  }

  /** The `(band_idx, key, size)` buckets a capped [[bandIndexWrite]]
    * excluded; empty for an uncapped index. A bucket re-hit by several
    * appends has one sidecar row per append; this returns the current
    * (max) total per bucket. */
  def bandIndexSkipped(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    try spark.read.parquet(s"$path/skipped")
      .groupBy("band_idx", "key").agg(max("size").as("size"))
    catch { case _: org.apache.spark.sql.AnalysisException =>
      spark.emptyDataFrame
        .withColumn("band_idx", lit(0))
        .withColumn("key", lit(0L))
        .withColumn("size", lit(0L))
        .limit(0)
    }

  /** Crash-consistency check for a persisted band index: recounts the
    * actual per-bucket sizes in `<path>/bands` and cross-checks them
    * against the `bandsizes` and `skipped` sidecars (whose writes are not
    * atomic with the band rows — see the write-order contract on
    * [[bandIndexWrite]]). Returns one `(bi, k, issue, expected, actual)`
    * row per finding; an empty result means the metadata is consistent.
    * Issues:
    *
    *  - `size_mismatch`  — a non-skipped `bandsizes` bucket whose recorded
    *    size differs from the recount (append crashed between `bands` and
    *    `bandsizes`);
    *  - `skipped_leak`   — a `skipped` bucket whose `bands` rows differ
    *    from its last admitted total (`bandsizes` row, or 0 if skipped at
    *    build): rows landed in `bands` that the exclusion should have
    *    routed away, or admitted rows vanished;
    *  - `missing_size`   — a bucket present in `bands` but in neither
    *    sidecar, on a lineage that maintains `bandsizes` (the bucket's
    *    size row was lost);
    *  - `skipped_undercount` — a `skipped` bucket with MORE rows in
    *    `bands` than its recorded total-seen (total-seen includes routed-
    *    away rows, so this is gross corruption; on the no-`bandsizes`
    *    lineage it is also the only skipped-bucket check available);
    *  - `over_cap`       — only when `maxBucket` is passed: a bucket whose
    *    recount exceeds the cap (the never-over-maxBucket invariant is
    *    broken outright).
    *
    * Cost: one aggregation over the compact 3-long band rows plus the
    * bucket-count-sized sidecars — run it on index open after an unclean
    * shutdown, and rebuild the index if it reports findings. */
  def bandIndexVerify(spark: org.apache.spark.sql.SparkSession, path: String,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def sidecar(name: String): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(s"$path/$name"))
    // RAW read: the verifier cross-checks PHYSICAL rows against the cap
    // sidecars, and tombstoned rows are physical until bandIndexPurge
    val actual = spark.read.parquet(s"$path/bands").groupBy("bi", "k")
      .agg(count(lit(1)).as("actual"))
    def finding(df: DataFrame, issue: String, expected: Column): DataFrame =
      df.select(col("bi"), col("k"), lit(issue).as("issue"),
        expected.cast("long").as("expected"), col("actual"))
    val overCap =
      if (maxBucket == Int.MaxValue) finding(actual, "over_cap", lit(0L)).limit(0)
      else finding(actual.where(col("actual") > maxBucket), "over_cap",
        lit(maxBucket.toLong))
    val sizesExist = sidecar("bandsizes")
    val sizes =
      if (sizesExist)
        spark.read.parquet(s"$path/bandsizes")
          .groupBy("bi", "k").agg(max("n").as("expected"))
      else
        spark.emptyDataFrame.withColumn("bi", lit(0))
          .withColumn("k", lit(0L)).withColumn("expected", lit(0L)).limit(0)
    val skip = bandIndexSkipped(spark, path)
      .select(col("band_idx").as("bi"), col("key").as("k"),
        col("size").as("__skip"))
    val j = actual.join(sizes, Seq("bi", "k"), "full")
      .join(skip, Seq("bi", "k"), "left")
      .select(col("bi"), col("k"),
        coalesce(col("actual"), lit(0L)).as("actual"),
        col("expected"), col("__skip"))
    val mismatch = finding(
      j.where(col("__skip").isNull && col("expected").isNotNull &&
        col("expected") =!= col("actual")),
      "size_mismatch", col("expected"))
    val leak =
      if (!sizesExist) finding(j, "skipped_leak", lit(0L)).limit(0)
      else finding(
        j.where(col("__skip").isNotNull &&
          coalesce(col("expected"), lit(0L)) =!= col("actual")),
        "skipped_leak", coalesce(col("expected"), lit(0L)))
    val missing =
      if (!sizesExist) finding(j, "missing_size", lit(0L)).limit(0)
      else finding(
        j.where(col("expected").isNull && col("__skip").isNull &&
          col("actual") > 0),
        "missing_size", lit(null))
    val under = finding(
      j.where(col("__skip").isNotNull && col("actual") > col("__skip")),
      "skipped_undercount", col("__skip"))
    overCap.union(mismatch).union(leak).union(missing).union(under)
  }

  /** Compact the persisted band index's `bands` table: every
    * [[bandIndexWrite]] append (and every streaming
    * `appendBatchToBandIndex` micro-batch) adds new parquet files, so
    * under continuous ingest the index accumulates small files and the
    * probe join's scan degrades — the same small-files bound
    * `Similarity.ivfCompact` gives the vector indexes. Rewrites the rows
    * range-partitioned on `(bi, k)` (bucket rows become contiguous and
    * file-local) with bounded file sizes, then atomically swaps the
    * directory. Row content is untouched: candidate pairs are IDENTICAL,
    * the cap sidecars stay valid, and the streaming `lastbatch` marker
    * stays valid (compaction is maintenance, not a rebuild). Returns the
    * compacted table's parquet file count. */
  def bandIndexCompact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetRecordsPerFile: Long): Int = {
    require(targetRecordsPerFile > 0,
      s"targetRecordsPerFile must be positive; got $targetRecordsPerFile")
    val bandsP = new org.apache.hadoop.fs.Path(s"$path/bands")
    val tmp = new org.apache.hadoop.fs.Path(s"$path/bands_compacting")
    val old = new org.apache.hadoop.fs.Path(s"$path/bands_precompact")
    val fs = bandsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val df = spark.read.parquet(bandsP.toString)
    val n = df.count()
    val shards = math.max(1L, (n + targetRecordsPerFile - 1) / targetRecordsPerFile)
    require(shards <= Int.MaxValue,
      s"$n rows / $targetRecordsPerFile per file = $shards shards exceeds Int range")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    df.repartitionByRange(shards.toInt, col("bi"), col("k"))
      .sortWithinPartitions(col("bi"), col("k"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", targetRecordsPerFile)
      .parquet(tmp.toString)
    if (fs.exists(old)) fs.delete(old, true)
    require(fs.rename(bandsP, old), s"could not move $bandsP aside")
    require(fs.rename(tmp, bandsP), s"could not swap $tmp into place")
    fs.delete(old, true)
    fs.listStatus(bandsP)
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
  }

  /** Candidate near-dup pairs between a NEW batch and the persisted band
    * index: `(a = indexed id, b = batch id)`, distinct. The only non-map
    * stage is the `(bi, k)` equi-join, whose left side is the index SCAN —
    * no corpus re-signing, no self-join. Batch ids present in the index
    * (a re-ingested doc) pair with themselves and are filtered out. */
  def incrementalPairs(index: DataFrame, newBanded: DataFrame, id: String,
      bands: Int): DataFrame =
    index.select(col(id).as("a"), col("bi"), col("k"))
      .join(stackBands(newBanded, id, bands).select(col(id).as("b"), col("bi"), col("k")),
        Seq("bi", "k"))
      .where(col("a") =!= col("b"))
      .select("a", "b")
      .distinct()

  /** The size/accuracy record of a built shingle Bloom filter — surfaced
    * to callers the way the capped-pair `skipped` frame is: an
    * approximation in the pipeline must be visible, not silent. */
  final case class BloomStats(nItems: Long, fpp: Double, bitSize: Long)

  /** Build a Bloom filter over a distinct long hash column (distributed
    * per-partition build + merge via `DataFrameStatFunctions.bloomFilter`
    * — no row ever collects to the driver, only the fused bit array).
    * The scale-safe membership form for an eval/reference set too big to
    * BROADCAST-JOIN: a raw distinct-hash relation costs 8 B/item and is
    * subject to `autoBroadcastJoinThreshold` — past it, Spark silently
    * plans a full-corpus shuffle join. The Bloom filter costs ~1.2
    * bits/item per ln(1/fpp) factor (≈29 bits at fpp 1e-6, ≈3.6 B/item)
    * and ships as a broadcast VARIABLE, so the corpus side stays map-only
    * at ANY eval size — there is no threshold past which the plan shape
    * degrades. Rule of thumb: below ~1M distinct eval shingles (≈8 MB)
    * use the exact broadcast join ([[graft.queries.LlmQueries
    * .decontaminate]]); above it, this. */
  def shingleBloom(sh: DataFrame, hashCol: String = "sh_h",
      fpp: Double = 1e-6): (org.apache.spark.util.sketch.BloomFilter, BloomStats) = {
    val distinctH = sh.select(hashCol).distinct()
    val n = math.max(1L, distinctH.count())
    // build via treeAggregate over the sketch API directly, NOT
    // DataFrameStatFunctions.bloomFilter: since Spark 4 the latter routes
    // through the runtime-filter BloomFilterAggregate, which SILENTLY
    // clamps the filter to spark.sql.optimizer.runtime.bloomFilter
    // .maxNumBits (default 2^26) — at 10^7 items that undersizes the
    // filter 4x and the real fp rate lands at ~11% regardless of the
    // requested fpp (measured, bench/bloom_bench_1e7.txt). The sketch filter sizes
    // itself from (n, fpp) with no cap; per-partition filters merge up a
    // tree, so only fused bit arrays ever move.
    val bf = distinctH.rdd.treeAggregate(
      org.apache.spark.util.sketch.BloomFilter.create(n, fpp))(
      (f, row) => { f.putLong(row.getLong(0)); f },
      (a, b) => { a.mergeInPlace(b); a })
    (bf, BloomStats(n, fpp, bf.bitSize()))
  }

  /** The doc ids of shingle rows whose hash the filter (might) contain —
    * map-only membership over `(id, sh_h)` rows, then one
    * map-side-combinable distinct. False positives can only ADD flagged
    * docs (never miss one): per-doc flag error is bounded by
    * n_shingles(doc) × fpp. Typed filter over a broadcast variable —
    * no UDF registry, no join. */
  def bloomHits(sh: DataFrame, id: String,
      bf: org.apache.spark.util.sketch.BloomFilter): DataFrame =
    bloomHitsWith(sh, id, sh.sparkSession.sparkContext.broadcast(bf))

  /** [[bloomHits]] over a CALLER-OWNED broadcast handle. The returned
    * frame is lazy, so the broadcast must outlive every action on it and
    * cannot be destroyed here; the convenience overload above therefore
    * leaks one broadcast block (up to tens of MiB at large n) per call
    * for the session's lifetime. A long-lived session should broadcast
    * the filter itself and `destroy()` the handle once the consuming
    * action has run. */
  def bloomHitsWith(sh: DataFrame, id: String,
      bfB: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter]): DataFrame = {
    implicit val enc: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
    sh.select(col(id).cast("long"), col("sh_h"))
      .mapPartitions { rows =>
        val f = bfB.value
        rows.collect { case r if f.mightContainLong(r.getLong(1)) => r.getLong(0) }
      }
      .toDF(id).distinct()
  }

  /** 32-bit SimHash from token hashes: bit b of the fingerprint is the sign
    * of the sum over tokens of (2*bit_b(hash) - 1). Near-dups differ in few
    * bits (Hamming). Pure aggregate — one shuffle. */
  def simHash(sh: DataFrame, id: String): DataFrame = {
    val h = TextOps.portableHash(col("shingle"), 3)
    val bitSums = (0 until 32).map { b =>
      sum(shiftright(h, b).bitwiseAND(lit(1L)) * 2 - 1).as(s"s$b")
    }
    sh.groupBy(col(id))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(id),
        (0 until 32).map(b =>
          when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))
        ).reduce(_ + _).as("simhash"))
  }

  /** Hamming distance between two SimHash codes. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** n-gram Jaccard similarity for given candidate pairs (a, b):
    * |A ∩ B| / |A ∪ B| over each document's distinct shingle set. Pairs
    * come from LSH buckets (never all-pairs), so the work stays
    * candidate-bounded at scale.
    *
    * The sets hold the 60-bit portable HASH of each shingle, not the
    * n-gram text ([[jaccardSetPairs]]), so no exchange ships shingle
    * bytes — the same payload class as grouping [[exact]] by raw text.
    * 8 B/shingle instead; a same-doc hash collision shrinking one set has
    * odds ~2⁻⁶⁰ per shingle pair — immaterial against corpus-scale
    * shuffle bytes. */
  def jaccardPairs(sh: DataFrame, pairs: DataFrame, id: String): DataFrame =
    jaccardSetPairs(shingleSets(hashShingles(sh, id), id), pairs, id)

  /** The `(id, sh_h)` form of a distinct shingle set — the join-ready
    * 16 B/row representation the Jaccard operators shuffle. */
  def hashShingles(sh: DataFrame, id: String): DataFrame =
    sh.select(col(id), TextOps.portableHash(col("shingle"), 9).as("sh_h"))

  /** [[hashShingles]]∘[[shingles]] fused into one native per-row pass
    * ([[graft.functions.HashedShingles]]): `(id, sh_h)` rows identical
    * to the composed formulation (FunctionsSpec asserts equality across
    * every flag combination), with no gram text ever materialized as a
    * column — the composed form's slice + zip_with(concat) chain is
    * interpreted per element and allocates n slices + n−1 intermediate
    * arrays per doc before the explode. Use when ONLY the hashes are
    * consumed; `shingles` stays the executable spec and the path for
    * consumers that need gram text. */
  def hashedShingles(df: DataFrame, text: String, id: String, n: Int,
      dedup: Boolean = true, normalize: Boolean = false,
      segment: Boolean = false, seed: Int = 9): DataFrame =
    df.select(col(id), explode(
      graft.functions.HashedShingles.hashed_shingles(col(text), n, seed,
        dedup, normalize, segment)).as("sh_h"))

  /** `(id, sh_h)` rows ([[hashShingles]], [[hashedShingles]]) as one
    * distinct hash set per id: `(id, hs)`; duplicate rows count once. A
    * pipeline that reuses the sets materializes THIS (q57): one row per
    * document instead of one per shingle. */
  def shingleSets(h: DataFrame, id: String): DataFrame =
    h.groupBy(col(id)).agg(collect_set(col("sh_h")).as("hs"))

  /** [[jaccardPairs]] over [[shingleSets]] rows: each pair joins its two
    * sets by id, and the intersection is counted inside the row, so no
    * per-shingle join or per-pair aggregate runs. Ids without a set (no
    * shingles) drop their pairs, as an empty union has no Jaccard. */
  def jaccardSetPairs(sets: DataFrame, pairs: DataFrame, id: String): DataFrame =
    pairs
      .join(sets.select(col(id).as("a"), col("hs").as("ha")), "a")
      .join(sets.select(col(id).as("b"), col("hs").as("hb")), "b")
      .select(col("a"), col("b"), setJaccard.as("jaccard"))

  /** |ha ∩ hb| / |ha ∪ hb| of two distinct hash sets, rounded to 6
    * places as the oracle rounds. */
  private def setJaccard: Column = {
    val inter = size(array_intersect(col("ha"), col("hb")))
    round(inter.cast("double") / (size(col("ha")) + size(col("hb")) - inter), 6)
  }

  /** EDIT-DISTANCE verification of candidate pairs: Levenshtein similarity
    * `1 - dist/max(len_a, len_b)` for each `(a, b)`, keeping pairs at
    * `sim >= minSim` — the character-level verifier for template-ish
    * near-dups where token-set Jaccard ([[jaccardPairs]]) is blind to
    * ordering and small in-token edits.
    *
    * Scale shape (the DP is O(len_a x len_b) per pair and text bytes must
    * co-locate to compare, so the join order matters):
    *
    *   1. LENGTH-FIRST prune: the pair list joins the 16 B `(id, len)`
    *      projection for both sides and drops every pair whose length gap
    *      alone already breaks the threshold (`dist >= |len_a - len_b|`,
    *      so `|la - lb| > (1 - minSim) * max(la, lb)` can never verify).
    *      No text bytes move for pruned pairs and no DP runs.
    *   2. Only survivors fetch text (two equi-joins) and evaluate the
    *      codegen'd `levenshtein` once per pair.
    *
    * Feed it LSH candidates ([[lshCandidatePairsCapped]] — the cap is the
    * usual mega-bucket guard); never all-pairs. Cross-engine note: Spark
    * and DuckDB both count Levenshtein in Unicode codepoints, so the
    * oracle replays this exactly. */
  def editVerifiedPairs(df: DataFrame, pairs: DataFrame, text: String,
      id: String, minSim: Double): DataFrame = {
    val lens = df.where(col(text).isNotNull)
      .select(col(id), length(col(text)).as("__len"))
    val pruned = pairs
      .join(lens.select(col(id).as("a"), col("__len").as("__la")), "a")
      .join(lens.select(col(id).as("b"), col("__len").as("__lb")), "b")
      .where(abs(col("__la") - col("__lb")) <=
        (lit(1.0) - lit(minSim)) * greatest(col("__la"), col("__lb")))
    val texts = df.where(col(text).isNotNull).select(col(id), col(text))
    // When the text side fits a broadcast (the bench/small-corpus regime),
    // the only exchange left under the verify projection is the tiny pair
    // list, which AQE coalesces to ONE post-shuffle partition — and every
    // O(la*lb) Levenshtein DP then runs serially in that task (profiled:
    // 1.17 s of a 2.5 s query in one task on a 32-core executor). Spread
    // the survivors across the default parallelism before text attaches.
    // Round-robin with an explicit count — a (a,b)-keyed repartition is
    // elided as redundant (the candidate distinct already hash-partitions
    // on (a,b)) and an ENSURE_REQUIREMENTS exchange is exactly what AQE
    // coalesces; REPARTITION_BY_NUM survives both, and sortBeforeRepartition
    // (default on) keeps the assignment deterministic under task retry
    // (guide §2.5). When texts are NOT broadcastable (at-scale regime) the
    // text equi-joins shuffle by a/b anyway and would destroy this layout —
    // gate off, identical plan to before.
    val verifyInput =
      if (texts.queryExecution.optimizedPlan.stats.sizeInBytes <=
          BigInt(df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold)
            .max(BigInt(0)))
        pruned.repartition(df.sparkSession.sparkContext.defaultParallelism)
      else pruned
    verifyInput
      .join(texts.select(col(id).as("a"), col(text).as("__ta")), "a")
      .join(texts.select(col(id).as("b"), col(text).as("__tb")), "b")
      .select(col("a"), col("b"),
        levenshtein(col("__ta"), col("__tb")).cast("long").as("edit_dist"),
        round(lit(1.0) - levenshtein(col("__ta"), col("__tb")).cast("double") /
          greatest(col("__la"), col("__lb")), 6).as("edit_sim"))
      .where(col("edit_sim") >= minSim)
  }

  /** Transitive near-dup clustering: connected components over candidate
    * pairs, so (a,b),(b,c) collapse to ONE keeper — the step every
    * production dedup needs after LSH pair generation. Output:
    * `(id, component)` for EVERY node, where `component` is the smallest id
    * in the node's component (so `component` IS the canonical keeper and
    * `id != component` marks the rows to drop).
    *
    * Min-id label propagation with pointer jumping (path halving), all in
    * DataFrame ops — no GraphX, no driver-side union-find. Per iteration:
    *
    *   1. neighbor-min: every node takes the min label across itself and
    *      its neighbors (edge-join + map-side-combinable min groupBy);
    *   2. pointer jump: `l(u) := l(l(u))` (a labels self-join) — labels are
    *      always ids of nodes in the same component, so jumping stays inside
    *      the component while halving label-chain depth.
    *
    * Labels only decrease and the component minimum keeps its own id, so the
    * fixpoint assigns every node the component-min (neighbor-min fixpoint
    * forces labels constant across every edge). Jumping makes convergence
    * O(log diameter) rather than O(diameter) — `maxIter` = 25 covers any
    * graph that fits on disk.
    *
    * Caching discipline (the part that makes the loop scale-true): the
    * bidirected edge set is loop-INVARIANT, so it is checkpointed ONCE
    * before the loop — without that, every iteration re-executes the entire
    * upstream pair-generation DAG (in the q54 pipeline: MinHash -> LSH
    * bands -> self-join -> distinct, the most expensive stage of the whole
    * job, multiplied by the iteration count). Each round's label frame is
    * an eager localCheckpoint (lineage would otherwise grow by 3 joins per
    * round) and the SUPERSEDED round's blocks are released immediately
    * ([[graft.engine.Checkpoints.release]]) so nothing accumulates in the
    * block manager across queries. The only per-round action is a bounded
    * 1-row sum for the convergence test; all real work is per-iteration
    * shuffles that scale out. The returned labels stay checkpointed
    * (2 longs/node) — the caller's result, lineage-free of the loop.
    *
    * OWNERSHIP: the returned frame pins one n-row checkpoint in the block
    * manager; the caller must pass it to
    * [[graft.engine.Checkpoints.release]] after its final evaluation, or
    * the blocks live for the session (graft's own consumers — Bench,
    * Verify — both release after materializing).
    */
  def connectedComponents(
      nodes: DataFrame, pairs: DataFrame, id: String,
      maxIter: Int = 25): DataFrame =
    connectedComponentsStats(nodes, pairs, id, maxIter).labels

  /** Quality-aware keeper selection over component labels: real curation
    * keeps the BEST member of a duplicate cluster (longest, highest
    * quality score), not the smallest id — `keep_id` = the max-`score`
    * member (ties broken to the smallest id, so the choice is
    * deterministic and degrades to min-id when scores are constant).
    * Input: `(id, component, score)` rows — [[connectedComponents]]
    * labels joined with whatever score the caller curates by. Output per
    * component: `(keep_id, n_docs, n_dropped, dropped_ids)` with
    * `dropped_ids` the ascending comma-joined losers. ONE
    * map-side-combinable hash aggregate over the labels; the
    * `collect_list` behind `dropped_ids` is bounded by dedup cluster
    * size (the same bound q80's audit counts rely on) — it exists for
    * the shipped drop-list report, and a pipeline that only needs the
    * keeper set should select `keep_id` and skip it. */
  def keepersBy(labeled: DataFrame, id: String, score: String): DataFrame =
    labeled.groupBy("component")
      .agg(
        max_by(col(id), struct(col(score), (-col(id)).as("__t"))).as("keep_id"),
        count(lit(1)).as("n_docs"),
        array_sort(collect_list(col(id))).as("__all"))
      .select(col("keep_id"), col("n_docs"),
        (col("n_docs") - 1).as("n_dropped"),
        array_join(array_remove(col("__all"), col("keep_id")), ",")
          .as("dropped_ids"))

  /** Cluster-size audit over component labels — the report to read
    * BEFORE keying anything on the component (a leakage-safe split, a
    * per-cluster quota): one row of integer facts about the cluster
    * structure. `frac_largest_milli` is the operative number: when the
    * largest component holds most of the corpus, a component-keyed
    * split ([[graft.operators.TextOps.hashSplitBy]] on the label)
    * degrades to ALL-OR-NOTHING — the whole mega-cluster lands in one
    * split and the others starve. Documented threshold: treat
    * `frac_largest_milli >= 500` (half the corpus in one cluster) as
    * split-degenerate and fix the upstream banding (more rows per LSH
    * band → fewer chance collisions → smaller clusters) before
    * splitting; q119/q138/q139 demonstrate exactly that loop. Integer
    * arithmetic throughout (`div` floors), so both engines compute the
    * identical row. Two hash aggregates over 8 B labels — at 100 TB
    * this is a report over dedup output the pipeline already paid for. */
  def componentSizeProfile(labels: DataFrame): DataFrame =
    labels.groupBy("component").agg(count(lit(1)).as("sz"))
      .agg(
        coalesce(sum("sz"), lit(0L)).as("n_docs"),
        count(lit(1)).as("n_components"),
        coalesce(max("sz"), lit(0L)).as("max_size"),
        coalesce(sum(when(col("sz") === 1, 1L).otherwise(0L)), lit(0L))
          .as("n_singletons"))
      .withColumn("frac_largest_milli",
        when(col("n_docs") === 0, lit(0L))
          .otherwise(expr("(max_size * 1000) div n_docs")))

  /** [[connectedComponents]] plus convergence observability: the iteration
    * count and whether the fixpoint was actually reached. `converged` =
    * false means `maxIter` rounds ran without the label sum stabilizing —
    * the labels are then valid per-node upper bounds but NOT canonical
    * component minima; a warning is printed and callers that need
    * canonical keepers should treat `converged = false` as an error. */
  final case class CcResult(labels: DataFrame, iterations: Int, converged: Boolean)

  /** Conf key for the small-graph local solve: at or under this many
    * DIRECTED edges (post-distinct pair rows) the transitive closure
    * runs as one union-find task over the already-materialized edge
    * checkpoint (guide §2.4 — the same decision class as AQE's
    * broadcast rewrite: the data provably fits one task, so the
    * iterative rounds' per-stage scheduling is pure overhead). The
    * labels are IDENTICAL — min id per component — and the gate is a
    * measured count, not a core count, so a 100 TB corpus's pair graph
    * takes the pointer-jumping loop unchanged (`bench/large_dedup_5e6.txt`
    * measured it at 5M docs via `localEdgeLimit=0`). Set 0 to force the loop. */
  val CcLocalEdgeLimitKey = "spark.graft.cc.localEdgeLimit"
  private val CcLocalEdgeLimitDefault = 2000000L

  /** Single-task min-root union-find: path-compressing DSU where union
    * always attaches the LARGER root under the smaller, so every find
    * lands on the component MINIMUM — exactly the loop's fixpoint
    * labels (OperatorSpec pins local ≡ loop on random graphs). Emits
    * one `(node, min)` row per distinct endpoint. */
  private def localUnionFind(
      rows: Iterator[org.apache.spark.sql.Row]): Iterator[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var r = x0
      var p = parent.getOrDefault(r, r)
      while (p != r) { r = p; p = parent.getOrDefault(r, r) }
      var y = x0
      while (parent.getOrDefault(y, y) != r) {
        val nx = parent.get(y); parent.put(y, r); y = nx
      }
      r
    }
    rows.foreach { row =>
      val u = row.getLong(0); val v = row.getLong(1)
      parent.putIfAbsent(u, u); parent.putIfAbsent(v, v)
      val ru = find(u); val rv = find(v)
      if (ru != rv) {
        if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
      }
    }
    import scala.jdk.CollectionConverters._
    parent.keySet().iterator().asScala.map(k => (k, find(k)))
  }

  def connectedComponentsStats(
      nodes: DataFrame, pairs: DataFrame, id: String,
      maxIter: Int = 25): CcResult = {
    import graft.engine.Checkpoints
    val edges = pairs.select(col("a").cast("long").as("u"), col("b").cast("long").as("v"))
      .where(col("u") =!= col("v"))
    // loop-invariant: materialize the directed edge set once, THEN bidirect
    // over the lineage-free leaf — one evaluation of the (expensive)
    // upstream pair pipeline instead of two, and the self-union sees plain
    // LogicalRDD children (deep self-unions over window/distinct lineages
    // trip Catalyst's Union constraint rewrite)
    val e0 = Checkpoints.mark(edges)
    // SCALE-ADAPTIVE: the edge set is materialized either way, so the
    // gate is one cheap count over the checkpoint. The local path only
    // engages at full-convergence maxIter (>= the 25 default) — a
    // caller capping rounds below that is asking for the iterative
    // partial-label semantics and gets the loop.
    val ccLimit =
      try nodes.sparkSession.conf
        .get(CcLocalEdgeLimitKey, CcLocalEdgeLimitDefault.toString).toLong
      catch { case _: NumberFormatException => CcLocalEdgeLimitDefault }
    if (ccLimit > 0 && maxIter >= 25 && e0.count() <= ccLimit) {
      val lab = e0.coalesce(1)
        .mapPartitions(localUnionFind)(
          org.apache.spark.sql.Encoders.product[(Long, Long)])
        .toDF("u", "__l")
      val out = Checkpoints.mark(
        nodes.select(col(id).cast("long").as("u")).distinct()
          .join(lab, Seq("u"), "left")
          .select(col("u").as(id),
            coalesce(col("__l"), col("u")).as("component")))
      Checkpoints.release(e0)
      return CcResult(out, 0, converged = true)
    }
    val bi = Checkpoints.mark(
      e0.union(e0.select(col("v").as("u"), col("u").as("v"))))
    Checkpoints.release(e0)
    var labels = Checkpoints.mark(
      nodes.select(col(id).cast("long").as("u")).distinct()
        .withColumn("l", col("u")))
    // sum(l) strictly decreases until the fixpoint (labels only decrease)
    def labelSum(df: DataFrame): Long =
      df.agg(sum("l")).head().getLong(0)
    var it = 0
    var converged = false
    try {
      var prevSum = labelSum(labels)
      while (!converged && it < maxIter) {
        val msgs = bi.join(labels, "u").select(col("v").as("u"), col("l"))
        // checkpoint the neighbor-min BEFORE the pointer-jump self-join: both
        // join sides read nm, so an unmaterialized nm evaluates its edge join
        // + aggregate twice per round
        val nm = Checkpoints.mark(
          labels.union(msgs).groupBy("u").agg(min("l").as("l")))
        val next =
          try Checkpoints.mark(
            nm.join(nm.select(col("u").as("l"), col("l").as("l2")), Seq("l"))
              .select(col("u"), col("l2").as("l")))
          finally Checkpoints.release(nm)
        val curSum =
          try labelSum(next)
          catch { case e: Throwable => Checkpoints.release(next); throw e }
        converged = curSum == prevSum
        prevSum = curSum
        Checkpoints.release(labels) // superseded round
        labels = next
        it += 1
      }
      val out = Checkpoints.mark(
        labels.select(col("u").as(id), col("l").as("component")))
      if (!converged)
        System.err.println(
          s"[graft] connectedComponents: maxIter=$maxIter reached without " +
            "convergence — labels are upper bounds, not canonical component minima")
      CcResult(out, it, converged)
    } finally {
      // a failed iteration (OOM, task abort) must not pin blocks in a
      // long-lived session; on success this releases the last round + edges
      Checkpoints.release(labels)
      Checkpoints.release(bi)
    }
  }

  /** Positions of every `w`-token window, hashed map-side: `(id, pos, wh)`
    * with `pos` 0-based and `wh = xxhash64(window text)`. The window text
    * itself NEVER leaves the projection — only the 8 B hash and the
    * position reach any downstream exchange (the q29 shuffle-payload rule
    * applied to substring dedup). Same `__toks`/`__m` materialization trick
    * as [[shingles]] so the tokenizing split runs once per doc, not once
    * per window. Docs shorter than `w` tokens produce no windows. */
  def spanWindows(df: DataFrame, text: String, id: String, w: Int,
      normalize: Boolean = false): DataFrame = {
    require(w >= 1, s"window width must be >= 1, got $w")
    val toks = TextOps.tokens(
      if (normalize) TextOps.normalizeForMatch(col(text)) else col(text))
    val parts = (0 until w).map(k =>
      slice(col("__toks"), lit(k + 1), col("__m")))
    val sh = parts.reduce((a, b) =>
      zip_with(a, b, (x, y) => concat(x, lit(" "), y)))
    df.where(col(text).isNotNull && size(toks) >= w)
      .select(col(id), toks.as("__toks"))
      .select(col(id), col("__toks"),
        (size(col("__toks")) - (w - 1)).as("__m"))
      .select(col(id), posexplode(sh).as(Seq("pos", "__w")))
      .select(col(id), col("pos"), xxhash64(col("__w")).as("wh"))
  }

  /** Exact-substring duplicated spans (the Lee et al. 2022 training-set
    * op, arXiv:2107.06499): any `w`-token window whose text occurs MORE
    * THAN ONCE in the corpus (within or across documents) is duplicated;
    * overlapping or token-adjacent duplicated windows merge into maximal
    * spans. Output per surviving doc: one row per merged span
    * `(id, span_start, span_end)` in 0-based token offsets, inclusive.
    *
    * Scale shape: two passes over the corpus windows (occurrence count,
    * then membership join), both keyed on the 8 B window hash — window
    * text never shuffles; the per-doc merge is ONE window-function pass
    * partitioned by doc id (a doc's duplicated positions, far smaller
    * than the doc itself). Reference analogy: none — the reference has no
    * substring dedup; this is the LLM-pipeline extension surface. */
  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003, "Winnowing:
    * Local Algorithms for Document Fingerprinting" §4 — the MOSS
    * algorithm): from every window of `w` consecutive token-`k`-gram
    * hashes, select the MINIMUM (rightmost position on hash ties), and
    * the distinct selections are the document's fingerprint. The
    * guarantee that makes this the standard copy-detection sketch: any
    * shared run of `w + k − 1` tokens shares at least one fingerprint,
    * while expected density is only 2/(w+1) — a tunable, position-aware
    * sketch (unlike MinHash, a match carries WHERE). Docs shorter than a
    * full window degrade to their global minimum (the single truncated
    * window), never to zero fingerprints.
    *
    * Gram hashes are the portable md5-derived [[TextOps.portableHash]]
    * (the VALUES drive the min selection, so the oracle must reproduce
    * them exactly — a production deployment can swap in any uniform
    * 64-bit hash). The windowed min is `min(struct(hash, −pos))`:
    * lexicographic struct ordering gives smallest-hash-then-rightmost —
    * the paper's tie rule. Scale shape: grams hash INSIDE the explode
    * projection, so the ONE window exchange (keyed on the doc) carries
    * `(id, pos, hash)` — 8 B hashes, never gram text; selection and
    * dedup are per-doc. */
  def winnowFingerprints(df: DataFrame, text: String, id: String,
      k: Int, w: Int, seed: Int = 131): DataFrame = {
    require(k >= 1, s"gram size must be >= 1, got $k")
    require(w >= 1, s"window width must be >= 1, got $w")
    val toks = TextOps.tokens(col(text))
    val parts = (0 until k).map(j => slice(col("__toks"), lit(j + 1), col("__m")))
    val grams = parts.reduce((a, b) =>
      zip_with(a, b, (x, y) => concat(x, lit(" "), y)))
    val kg = df.where(col(text).isNotNull && size(toks) >= k)
      .select(col(id), toks.as("__toks"))
      .select(col(id), col("__toks"), (size(col("__toks")) - (k - 1)).as("__m"))
      .select(col(id), col("__m"), posexplode(grams).as(Seq("pos", "__g")))
      .select(col(id), col("__m"), col("pos"),
        TextOps.portableHash(col("__g"), seed).as("gh"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col(id)).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, w - 1)
    kg.withColumn("__sel", min(struct(col("gh"), (-col("pos")).as("np"))).over(win))
      // full windows only (s ≤ #grams − w); short docs keep s = 0, whose
      // truncated window IS the whole doc
      .where(col("pos") <= greatest(col("__m") - lit(w), lit(0)))
      .select(col(id), (-col("__sel.np")).cast("int").as("pos"),
        col("__sel.gh").as("fp"))
      .distinct()
  }

  /** Shared-fingerprint candidate pairs — what MOSS does with the
    * [[winnowFingerprints]] sketch: docs sharing ≥ `minShared` DISTINCT
    * fingerprints are containment/plagiarism candidates, scored by the
    * fingerprint-set overlap `n_shared / (|A| + |B| − n_shared)` (a
    * Jaccard over selected fingerprints — rounded 6 dp from exact
    * counts). The join is an equi-join on the fingerprint VALUE (the
    * banded-LSH shape: fan-out bounded by fingerprint popularity, never
    * all-pairs; a stop-gram-like mega-fingerprint would need the
    * [[lshCandidatePairsCapped]] cap treatment). The distinct `(fp, id)`
    * sketch is materialized ONCE ([[graft.engine.Checkpoints.mark]] —
    * caller releases via the returned frame, the q54-labels contract):
    * both pair legs and both size legs read the materialized sketch
    * instead of re-running the winnow window per leg. Output:
    * `(a, b, n_shared, overlap)`. */
  def winnowCandidatePairs(fps: DataFrame, id: String,
      minShared: Int): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val sk = graft.engine.Checkpoints.mark(
      fps.select(col("fp"), col(id)).distinct())
    val sizes = sk.groupBy(col(id)).agg(count(lit(1)).as("__nf"))
    // the fp self-join fans out quadratically per fingerprint bucket off
    // a few-MB exchange AQE coalesces to one task — the banded-hamming
    // spread (Multimodal.spreadIfSmall), gated on the pre-checkpoint
    // input (the checkpoint leaf reports no stats)
    val skSpread =
      if (graft.sources.Fanout.isSmall(fps))
        sk.repartition(
          sk.sparkSession.sparkContext.defaultParallelism, col("fp"))
      else sk
    val x = skSpread.select(col("fp"), col(id).as("a"))
    val y = skSpread.select(col("fp"), col(id).as("b"))
    x.join(y, "fp").where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .join(sizes.select(col(id).as("a"), col("__nf").as("__na")), "a")
      .join(sizes.select(col(id).as("b"), col("__nf").as("__nb")), "b")
      .select(col("a"), col("b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("__na") + col("__nb") - col("n_shared")), 6).as("overlap"))
  }

  /** Persist the winnowing sketch as an INDEX — the containment-screen
    * analogue of [[bandIndexWrite]]: the distinct `(fp, id)` selected
    * fingerprints plus a per-doc fingerprint-count sidecar (`sizes`),
    * materialized once ([[graft.engine.Checkpoints.mark]]) so the two
    * writes share one winnow pass. Sign once, probe per batch —
    * [[winnowIncrementalPairs]] never re-winnows the corpus. Rebuild by
    * re-calling (overwrite); the bandIndex append/marker machinery
    * applies unchanged if continuous ingest needs it. */
  def winnowIndexWrite(fps: DataFrame, id: String, path: String): Unit = {
    val sk = graft.engine.Checkpoints.mark(
      fps.select(col("fp"), col(id)).distinct())
    try {
      // a REBUILD invalidates the streaming replay marker (the band-index
      // lesson: a maintain restart with a fresh checkpoint restarts batch
      // ids at 0, and a stale marker silently no-ops every append)
      graft.sources.Markers.delete(fps.sparkSession, s"$path/lastbatch")
      Rtbf.clearTombstones(fps.sparkSession, path)
      sk.write.mode("overwrite").parquet(s"$path/fps")
      sk.groupBy(col(id)).agg(count(lit(1)).as("nf"))
        .write.mode("overwrite").parquet(s"$path/sizes")
    } finally graft.engine.Checkpoints.release(sk)
  }

  /** Marker-guarded append of one ingest batch's sketch into a
    * [[winnowIndexWrite]] index — the [[appendBatchToBandIndex]] replay
    * discipline: a batch id ≤ the stored `lastbatch` no-ops (retried
    * micro-batches append nothing), the marker is written AFTER both
    * appends so a crash between them re-runs the batch (at-least-once —
    * detectable by [[winnowIndexVerify]], the documented remediation is
    * verify-then-rebuild). Batch ids are assumed new docs; a re-ingested
    * id accumulates duplicate rows the verifier will flag. Returns
    * whether the batch was applied. */
  def winnowAppendBatch(path: String, batchFps: DataFrame, id: String,
      batchId: Long): Boolean = {
    val spark = batchFps.sparkSession
    val marker = s"$path/lastbatch"
    if (batchId <= graft.sources.Markers.readLastBatch(spark, marker)) false
    else {
      val sk = graft.engine.Checkpoints.mark(
        batchFps.select(col("fp"), col(id)).distinct())
      try {
        sk.write.mode("append").parquet(s"$path/fps")
        sk.groupBy(col(id)).agg(count(lit(1)).as("nf"))
          .write.mode("append").parquet(s"$path/sizes")
        graft.sources.Markers.writeLastBatch(spark, marker, batchId)
        true
      } finally graft.engine.Checkpoints.release(sk)
    }
  }

  /** Recount-vs-sidecar consistency check of a winnow index — the
    * [[bandIndexVerify]] twin: per doc, the DISTINCT fingerprint recount
    * from `fps` must equal the summed stored `nf` (a torn or replayed
    * append doubles both the rows and the sidecar, so the sum disagrees
    * with the distinct recount). Empty result = consistent; findings →
    * rebuild via [[winnowIndexWrite]]. */
  def winnowIndexVerify(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val fps = spark.read.parquet(s"$path/fps")
    val idc = fps.schema.fieldNames.filterNot(_ == "fp").head
    // n_raw alongside the distinct recount: a replayed append duplicates
    // rows EXACTLY, which the distinct-vs-sidecar compare alone cannot
    // see — raw ≠ distinct flags it
    val actual = fps
      .groupBy(col(idc), col("fp")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idc)).agg(count(lit(1)).as("n_actual"),
        sum("__c").as("n_raw"))
    val stored = spark.read.parquet(s"$path/sizes")
      .groupBy(col(idc)).agg(sum("nf").as("n_stored"))
    stored.join(actual, Seq(idc), "full")
      .where(coalesce(col("n_stored"), lit(-1L)) =!=
        coalesce(col("n_actual"), lit(-2L)) ||
        col("n_raw") =!= col("n_actual"))
  }

  /** RTBF for the winnow index: tombstone `ids(id)` — probes
    * ([[winnowIncrementalPairs]]) stop pairing against them
    * immediately; [[winnowPurge]] drops their fingerprints physically. */
  def winnowForget(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame, id: String): Unit =
    Rtbf.forget(ids, path, id)

  /** PURGE the winnow index's tombstoned docs: atomic filtered rewrite
    * of `<path>/fps` AND `<path>/sizes` (both keyed by doc — the size
    * sidecar of a forgotten doc is itself that doc's data), then the
    * tombstones clear. After purge the index is bit-identical to one
    * built without the forgotten docs ([[winnowIndexVerify]] stays
    * green — q235 gates exactly that equivalence). */
  def winnowPurge(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    if (Rtbf.hasTombstones(spark, path)) {
      val fps = spark.read.parquet(s"$path/fps")
      val idc = fps.schema.fieldNames.filterNot(_ == "fp").head
      val liveFps = graft.engine.Checkpoints.mark(
        Rtbf.dropForgotten(fps, spark, path, idc))
      val liveSizes = graft.engine.Checkpoints.mark(
        Rtbf.dropForgotten(spark.read.parquet(s"$path/sizes"),
          spark, path, idc))
      try {
        Rtbf.swapRewrite(spark, path, "fps", liveFps)
        Rtbf.swapRewrite(spark, path, "sizes", liveSizes)
      } finally {
        graft.engine.Checkpoints.release(liveFps)
        graft.engine.Checkpoints.release(liveSizes)
      }
      Rtbf.clearTombstones(spark, path)
    }
  }

  /** Containment screen of an incoming batch against a persisted
    * [[winnowIndexWrite]] index — the q61 incremental shape for the MOSS
    * sketch: the batch winnows only its own rows, equi-joins the index
    * SCAN on the fingerprint value, and scores candidates by
    * fingerprint-set overlap exactly as [[winnowCandidatePairs]]
    * (`a` = indexed doc, `b` = batch doc). The corpus is never
    * re-winnowed; index-side set sizes come from the stored sidecar,
    * batch-side sizes from the batch's own sketch. A batch doc id
    * already present in the index pairs with itself and is filtered. */
  def winnowIncrementalPairs(spark: org.apache.spark.sql.SparkSession,
      path: String, batchFps: DataFrame, id: String,
      minShared: Int): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    // distinct BEFORE counting: a replayed append (the documented
    // at-least-once window) duplicates fps rows exactly, and a raw count
    // would silently double n_shared — the one corruption the recount
    // verifier cannot see, since the distinct recount still matches the
    // once-written sidecar
    // LIVE rows only: ids tombstoned by [[winnowForget]] drop before
    // pairing, so a forgotten document can never surface as `a`
    val idx = Rtbf.dropForgotten(
      spark.read.parquet(s"$path/fps").distinct(), spark, path, id)
    // sizes read DEFENSIVELY too: a crash between the sizes append and
    // the marker write followed by a retry doubles a doc's sidecar rows
    // (winnowIndexVerify flags the state, but until rebuild the join on
    // `a` would emit each affected pair once per duplicate row) — the
    // max collapses exact replay duplicates the same way the fps
    // distinct() does
    val sizes = spark.read.parquet(s"$path/sizes")
      .groupBy(col(id)).agg(max("nf").as("nf"))
    val bsk = graft.engine.Checkpoints.mark(
      batchFps.select(col("fp"), col(id)).distinct())
    val bsizes = bsk.groupBy(col(id)).agg(count(lit(1)).as("__bnf"))
    idx.select(col("fp"), col(id).as("a"))
      .join(bsk.select(col("fp"), col(id).as("b")), "fp")
      .where(col("a") =!= col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .join(sizes.select(col(id).as("a"), col("nf").as("__na")), "a")
      .join(bsizes.select(col(id).as("b"), col("__bnf").as("__nb")), "b")
      .select(col("a"), col("b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("__na") + col("__nb") - col("n_shared")), 6).as("overlap"))
  }

  /** Per-doc span-leakage RATE of `probe` against `reference` — the
    * memorization/leakage audit: for every probe doc, the fraction of
    * its `w`-token windows that ALSO occur anywhere in the reference
    * side. Run with probe = test split / reference = train split and
    * this measures exactly what a naive per-doc split leaks (the number
    * [[graft.operators.TextOps.hashSplitBy]] drives to zero by splitting
    * on dedup components); run with reference = an eval set and it is
    * the rate-summary companion of [[contaminationSpanReport]]. Window
    * text never shuffles ([[spanWindows]] hashes map-side); the
    * reference side fuses to DISTINCT 8 B hashes (broadcast when small —
    * past the threshold the Bloom form of q76 applies); the per-doc
    * aggregate is map-side-combinable. Output:
    * `(id, n_spans, n_leaked, leak_milli)`, integer-exact. */
  def spanLeakageRate(probe: DataFrame, reference: DataFrame, text: String,
      id: String, w: Int): DataFrame = {
    val ref = spanWindows(reference, text, id, w)
      .select(col("wh")).distinct()
    spanWindows(probe, text, id, w)
      .join(ref.withColumn("__hit", lit(1L)), Seq("wh"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_leaked"))
      .withColumn("leak_milli", expr("(n_leaked * 1000) div n_spans"))
  }

  def repeatedSpans(df: DataFrame, text: String, id: String, w: Int): DataFrame = {
    val win = spanWindows(df, text, id, w)
    val dup = win.groupBy("wh").agg(count(lit(1)).as("__occ"))
      .where(col("__occ") > 1).select("wh")
    mergeSpanHits(win.join(dup, "wh"), id, w)
  }

  /** Merge `(id, pos)` window hits into maximal spans — gaps-and-islands:
    * a new span starts where a window's range does not touch the running
    * max end of everything before it. ONE window-function pass
    * partitioned by doc id (a doc's hit positions, far smaller than the
    * doc). Shared by [[repeatedSpans]] and [[contaminatedSpans]]. */
  private def mergeSpanHits(winHits: DataFrame, id: String, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hits = winHits.select(col(id), col("pos"), (col("pos") + (w - 1)).as("__e"))
    val byPos = Window.partitionBy(col(id)).orderBy(col("pos"))
    val prevMax = max(col("__e"))
      .over(byPos.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("__new",
        when(prevMax.isNull || col("pos") > prevMax + 1, 1).otherwise(0))
      .withColumn("__g", sum(col("__new")).over(byPos))
      .groupBy(col(id), col("__g"))
      .agg(min(col("pos")).as("span_start"), max(col("__e")).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col(id), col("span_start"), col("span_end"), col("n_windows"))
  }

  /** Span-level eval-set decontamination (the CROSS-SET form of
    * [[repeatedSpans]], per Lee et al.'s eval-leak audit): every corpus
    * position whose `w`-token window also occurs anywhere in the EVAL
    * set is contaminated; overlapping/adjacent contaminated windows
    * merge into maximal spans per corpus doc. Unlike the doc-level gates
    * (q62/q73/q76 — does this doc overlap at all / how much), the output
    * says WHERE the leak sits, which is what makes a surgical strip (or
    * a manual audit) possible.
    *
    * Scale shape: the eval windows reduce to DISTINCT 8 B hashes and
    * broadcast (eval sets are small by definition); the corpus side is
    * one map-only window pass + the broadcast membership probe — corpus
    * window text never shuffles, and the merge is the per-doc
    * gaps-and-islands pass. */
  /** COORDINATE CAVEAT for `normalize = true`: span offsets are
    * positions in the NORMALIZED token stream, which punctuation
    * splitting shifts relative to the raw text's tokens — a caller
    * excising spans from the raw document must normalize it first (or
    * use the doc-level gates, q156's shape, where no offset survives).
    * The raw-tokenization default keeps offsets directly raw-indexable. */
  def contaminatedSpans(corpus: DataFrame, evalDf: DataFrame, text: String,
      id: String, w: Int, normalize: Boolean = false): DataFrame = {
    val ew = broadcast(
      spanWindows(evalDf, text, id, w, normalize).select("wh").distinct())
    mergeSpanHits(
      spanWindows(corpus, text, id, w, normalize).join(ew, "wh"), id, w)
  }

  /** Per-corpus-doc contamination report over [[contaminatedSpans]]:
    * every doc (clean ones included) with its token count, contaminated
    * window/span counts, and the fraction of tokens inside contaminated
    * spans — the audit before a strip or drop decision. */
  def contaminationSpanReport(corpus: DataFrame, evalDf: DataFrame,
      text: String, id: String, w: Int): DataFrame = {
    val rep = contaminatedSpans(corpus, evalDf, text, id, w)
      .groupBy(col(id))
      .agg(sum("n_windows").as("__nw"), count(lit(1)).as("__ns"),
        sum(col("span_end") - col("span_start") + 1).as("__dt"))
    corpus.where(col(text).isNotNull)
      .select(col(id), size(TextOps.tokens(col(text))).as("n_tokens"))
      .join(rep, Seq(id), "left")
      .select(col(id), col("n_tokens").cast("long").as("n_tokens"),
        coalesce(col("__nw"), lit(0L)).as("n_cont_windows"),
        coalesce(col("__ns"), lit(0L)).as("n_spans"),
        round(coalesce(col("__dt"), lit(0L)).cast("double") /
          col("n_tokens"), 4).as("cont_frac"))
  }

  /** Per-doc substring-duplication report over [[repeatedSpans]]: every doc
    * (span-free ones included) with its token count, duplicated-window and
    * merged-span counts, and the fraction of tokens covered by duplicated
    * spans — the audit a curation run reads before deciding to strip. */
  def repeatedSpanReport(df: DataFrame, text: String, id: String,
      w: Int): DataFrame = {
    val rep = repeatedSpans(df, text, id, w)
      .groupBy(col(id))
      .agg(sum("n_windows").as("__nw"), count(lit(1)).as("__ns"),
        sum(col("span_end") - col("span_start") + 1).as("__dt"))
    df.where(col(text).isNotNull)
      .select(col(id), size(TextOps.tokens(col(text))).as("n_tokens"))
      .join(rep, Seq(id), "left")
      .select(col(id), col("n_tokens").cast("long").as("n_tokens"),
        coalesce(col("__nw"), lit(0L)).as("n_dup_windows"),
        coalesce(col("__ns"), lit(0L)).as("n_spans"),
        round(coalesce(col("__dt"), lit(0L)).cast("double") /
          col("n_tokens"), 4).as("dup_frac"))
  }

  /** Strip every duplicated span from every document (the aggressive form
    * of Lee et al.'s substring dedup: ALL occurrences go, not all-but-one
    * — deterministic with no global occurrence ordering). Rebuilds the
    * text from the tokens outside every merged span; docs that were
    * entirely duplicated come back empty. The per-doc span list is
    * bounded by `n_tokens / w` (merged spans are disjoint and at least
    * `w` long), so the `collect_list` is strictly smaller than the doc's
    * own token array — never a mega-group. */
  def stripRepeatedSpans(df: DataFrame, text: String, id: String,
      w: Int): DataFrame =
    stripSpans(df, repeatedSpans(df, text, id, w), text, id)

  /** Excise every contaminated span from every corpus document — the
    * surgical decontamination [[contaminationSpanReport]] audits for:
    * eval-overlapping substrings go, the rest of the document survives
    * (the doc-level gates can only drop whole documents). Same
    * span-list bound as [[stripRepeatedSpans]]. */
  def stripContaminatedSpans(corpus: DataFrame, evalDf: DataFrame,
      text: String, id: String, w: Int): DataFrame =
    stripSpans(corpus, contaminatedSpans(corpus, evalDf, text, id, w),
      text, id)

  /** Rebuild `text` from the tokens outside every span of a
    * `(id, span_start, span_end)` frame — the shared excision kernel of
    * [[stripRepeatedSpans]] and [[stripContaminatedSpans]]. Docs that
    * were entirely covered come back empty. The per-doc span list is
    * bounded by `n_tokens / w` (merged spans are disjoint and at least
    * `w` long), so the `collect_list` is strictly smaller than the doc's
    * own token array — never a mega-group. */
  def stripSpans(df: DataFrame, spans: DataFrame, text: String,
      id: String): DataFrame = {
    val sp = spans
      .groupBy(col(id))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    df.join(sp, Seq(id), "left")
      .withColumn("__toks", TextOps.tokens(col(text)))
      .withColumn("__kept",
        when(col("__spans").isNull, col("__toks")).otherwise(
          filter(col("__toks"), (_, i) => !exists(col("__spans"),
            s => i >= s("span_start") && i <= s("span_end")))))
      .withColumn(text, concat_ws(" ", col("__kept")))
      .drop("__spans", "__toks", "__kept")
  }

  /** Jaccard over consecutive-id pairs — the deterministic demo/benchmark
    * shape: pair (id, id+1), similarity on distinct token sets. */
  def jaccardAdjacent(df: DataFrame, text: String, id: String): DataFrame = {
    // the per-document hash sets feed both sides of the id-shifted join;
    // materialized once so the tokenize isn't re-derived per side.
    // OWNERSHIP: the checkpoint stays a leaf of the returned frame —
    // consumers release the result after the final evaluation
    // (Bench/Verify do). hash-first: the raw occurrence rows are map-only
    // (dedup = false) and 16 B, so the set-building exchange never
    // carries token text (the q29 shuffle-payload fix; same-doc collision
    // odds ~2^-60), and the join moves one row per document
    val sets = graft.engine.Checkpoints.mark(
      shingleSets(hashedShingles(df, text, id, 1, dedup = false), id))
    sets.select(col(id).as("a"), col("hs").as("ha"))
      .join(sets.select((col(id) - 1).as("a"), col("hs").as("hb")), "a")
      .select(col("a"), col("a") + 1 as "b", setJaccard.as("jaccard"))
  }
  /** Snapshot DIFF — corpus version accounting between two ingests of a
    * continuously refreshed crawl: which documents were ADDED, REMOVED,
    * CHANGED (same id, different content), or UNCHANGED, summarized per
    * `by` group. This is the bookkeeping stage every refresh pipeline
    * runs before incremental dedup (q61) and index maintenance — it
    * decides what re-enters those pipelines at all.
    *
    * Scale shape: each snapshot reduces to `(id, by…, 8-byte content
    * hash)` map-side, so the one exchange of the full-outer join on the
    * id carries ~24 B/row however wide the documents are (the q29
    * shuffle-payload discipline); the status classification and the
    * group rollup are then a map + one bounded aggregate. Content
    * equality is the portable md5-derived hash (seed [[SnapDiffSeed]]),
    * so the DuckDB oracle replays the diff bit for bit; collision odds
    * ~2^-60 per pair, the family's standard trade.
    *
    * Returns one row per `(by…, status)`:
    * `(by…, status, n, id_sum)` — `id_sum` is the keyed checksum that
    * makes the gate sensitive to WHICH documents carry each status, not
    * just how many. Group columns come from the side that still exists
    * (new wins for changed/unchanged — a changed doc may have MOVED
    * groups; the diff reports its current home). */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, id: String,
      text: String, by: Seq[String]): DataFrame = {
    // presence is a per-side flag, NOT hash nullness: a NULL text value
    // hashes to NULL, and reading that as "side absent" misclassified an
    // existing NULL-text row as added/removed. The change test is null-safe
    // (<=>), so NULL-text vs NULL-text reads unchanged, NULL vs text changed.
    val a = oldSnap.select(Seq(col(id), lit(1).as("__pa")) ++
      by.map(c => col(c).as(s"__a_$c")) :+
      TextOps.portableHash(col(text), SnapDiffSeed).as("__ha"): _*)
    val b = newSnap.select(Seq(col(id), lit(1).as("__pb")) ++
      by.map(c => col(c).as(s"__b_$c")) :+
      TextOps.portableHash(col(text), SnapDiffSeed).as("__hb"): _*)
    val status = when(col("__pa").isNull, lit("added"))
      .when(col("__pb").isNull, lit("removed"))
      .when(!(col("__ha") <=> col("__hb")), lit("changed"))
      .otherwise(lit("unchanged"))
    a.join(b, Seq(id), "full_outer")
      .select(Seq(col(id), status.as("status")) ++
        by.map(c => coalesce(col(s"__b_$c"), col(s"__a_$c")).as(c)): _*)
      .groupBy(by.map(col) :+ col("status"): _*)
      .agg(count(lit(1)).as("n"), sum(col(id)).as("id_sum"))
  }

  /** Hash seed of the snapshot-diff family (fresh vs Dedup 1–13, CJK 41,
    * Pocket 53, CM 61, HLL 67, KMV 71). */
  val SnapDiffSeed = 73
}
