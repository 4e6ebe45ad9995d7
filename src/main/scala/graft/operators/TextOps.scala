package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID, document fingerprinting.
  *
  * All of it is pure column arithmetic over built-in functions (codegen'd,
  * no UDFs), and every hash is *portable* (md5-hex -> bigint) so the same
  * computation is expressible in ANSI SQL for the DuckDB oracle.
  */
object TextOps {

  /** Lowercased whitespace tokens.
    *
    * CAVEAT (the round-12 coarsening gap): on non-space-delimited
    * scripts (CJK, kana, hangul) a whole line is one "word", silently
    * coarsening every token-derived operator — shingle dedup, quality
    * ratios, drift KL, OOV, decontamination. For mixed-script corpora
    * use [[tokensScriptAware]] (or the `segment` option threaded
    * through [[graft.operators.Dedup.shingles]] / [[oovRate]] /
    * [[unigramDrift]] / [[unigramDriftAgainst]]), which splits those
    * scripts at codepoints while keeping whitespace for Latin.
    *
    * `split(trim(lower(c)), "\\s+")` as one native kernel
    * ([[graft.functions.WordTokens]]): no regex compiled per row. */
  def tokens(c: Column): Column = graft.functions.LowerText.word_tokens(c)

  /** Spark's `lower(c)`, value for value, through the engine's one
    * lowercase ([[graft.functions.TextKernel]]), which skips the ICU
    * title-case table Spark builds on a JVM's first `lower`. Every
    * lowercase in the engine goes through here. */
  def lower(c: Column): Column = graft.functions.LowerText.lower_text(c)

  /** Codepoint class of the major unsegmented scripts — Hiragana,
    * Katakana, CJK ext-A, CJK Unified, Hangul syllables, CJK compat,
    * and the supplementary-plane CJK ext-B. `\x{...}` syntax parses
    * identically in Java regex (Spark) and RE2 (DuckDB), and both treat
    * the ext-B range as CODEPOINTS (a surrogate pair is one match, never
    * split — OperatorSpec pins it). */
  val CjkCodepointClass: String =
    "[\\x{3040}-\\x{30FF}\\x{3400}-\\x{4DBF}\\x{4E00}-\\x{9FFF}" +
      "\\x{AC00}-\\x{D7AF}\\x{F900}-\\x{FAFF}\\x{20000}-\\x{2A6DF}]"

  /** Script-aware segmentation pre-pass: space out every
    * [[CjkCodepointClass]] codepoint so downstream whitespace
    * tokenization sees CJK as per-codepoint tokens (the
    * regex-expressible, oracle-replayable approximation of a word
    * segmenter — character unigrams/n-grams are the standard IR
    * fallback for unsegmented scripts) while Latin keeps its word
    * boundaries. Map-only; composes in front of ANY text operator:
    * `df.withColumn("text", segmentScripts(col("text")))` makes the
    * whole family script-aware at the root. */
  def segmentScripts(c: Column): Column =
    regexp_replace(c, s"($CjkCodepointClass)", " $1 ")

  /** [[tokens]] under [[segmentScripts]] — whitespace words for Latin,
    * per-codepoint tokens for CJK/kana/hangul. */
  def tokensScriptAware(c: Column): Column = tokens(segmentScripts(c))

  /** The tokenizer-mode switch the `segment` options thread through. */
  private[operators] def tokensMode(c: Column, segment: Boolean): Column =
    if (segment) tokensScriptAware(c) else tokens(c)

  /** Portable 60-bit hash: first 15 hex chars of md5, as a Long. Seeded by
    * prefixing the input — h_i(w) = portableHash(i || ':' || w). Identical
    * in DuckDB: ('0x' || substr(md5(i || ':' || w), 1, 15))::BIGINT.
    */
  def portableHash(c: Column, seed: Int): Column =
    graft.functions.PortableHash60.portable_hash60(concat(lit(s"$seed:"), c))

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Casefold / punctuation-strip / whitespace-collapse normalizer for
    * n-gram MATCHING — the normalization real eval harnesses apply
    * before their contamination n-grams (lm-eval-harness style:
    * lowercase, strip everything outside `[a-z0-9\s]` to a space,
    * collapse runs of whitespace), so `"Word, word."` and `"word word"`
    * share n-grams. ASCII-alnum by design (the harness convention);
    * codegen'd regexp chain, map-only, and replayed verbatim in the
    * oracle as the same two `regexp_replace` calls. Compose with
    * [[tokens]] / [[graft.operators.Dedup.shingles]]' `normalize`
    * option — matching under normalization is a DIFFERENT similarity
    * definition, so it is an explicit opt-in, never the default. */
  def normalizeForMatch(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(TextOps.lower(c), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** Guard for the append-form operators (withColumn replaces by name, so
    * a pre-existing column of the same name would be SILENTLY clobbered —
    * fail loud instead, since these ops are made for mid-pipeline use). */
  private def requireFresh(df: DataFrame, names: String*): Unit =
    names.foreach(n => require(!df.columns.contains(n),
      s"input already has a '$n' column — rename it before appending"))

  /** BPE-ish subword-unit pattern: letter runs, digit runs, and single
    * punctuation marks each count as a token — the cheap approximation of a
    * byte-pair tokenizer's unit count (same regex family as GPT-style
    * pre-tokenizers, minus the merges). */
  val BpeishPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  /** BPE-ish token count via the subword pattern. */
  def tokenCountBpeish(text: Column): Column =
    size(regexp_extract_all(TextOps.lower(text), lit(BpeishPattern), lit(0)))

  /** The REAL subword tokens of a text column under a FROZEN vocabulary
    * ([[graft.functions.SubwordTokenize]]): greedy longest-match per
    * whitespace word with a single-codepoint fallback — the
    * tokenizer-apply inference a training pipeline runs, deterministic
    * and oracle-replayable (the vocab is the model artifact; the walk
    * has no ties). Map-only native expression: at 100 TB this is a free
    * column on the scan, like [[tokens]]. */
  def bpeTokens(text: Column, vocab: Seq[String]): Column =
    graft.functions.SubwordTokenize.subword_tokens(text, vocab)

  /** Subword token COUNT under the frozen vocab — the drop-in
    * replacement for [[tokenCount]] wherever budgets/packing/batching
    * should count TOKENIZER tokens instead of whitespace words
    * (q64/q69/q112/q120 all take the count as a `Column`, so this
    * plugs straight in; q142 gates that composition). */
  def tokenCountBpe(text: Column, vocab: Seq[String]): Column =
    size(bpeTokens(text, vocab))

  /** MERGE-ORDER subword tokens
    * ([[graft.functions.BpeMergeApply]]) — the original Sennrich BPE
    * inference: replay a learned merge table in training order over each
    * word. The second apply discipline beside the greedy longest-match
    * [[bpeTokens]] (real stacks ship both: SentencePiece-BPE replays
    * merges, WordPiece infers greedily), and the one that round-trips
    * [[bpeTrainModel]] bit-identically. Map-only native expression. */
  def bpeTokensMergeOrder(text: Column,
      merges: Seq[(String, String)]): Column =
    graft.functions.SubwordTokenize.subword_tokens_merge_order(text, merges)

  /** One learned BPE merge: at `merge_rank` (1-based, training order) the
    * adjacent symbol pair `(left_sym, right_sym)` — the corpus's most
    * frequent at that round — fused into `merged`, with the weighted
    * occurrence count that won the round. */
  final case class BpeMerge(merge_rank: Long, left_sym: String,
      right_sym: String, merged: String, pair_count: Long)

  /** A trained BPE tokenizer model: the ordered merge table plus the
    * sample alphabet. `vocab` (alphabet ∪ merged tokens) feeds the
    * greedy longest-match apply path ([[bpeTokens]]) — the learned
    * replacement for a hand-frozen vocabulary. */
  final case class BpeModel(merges: Seq[BpeMerge], alphabet: Seq[String]) {
    def vocab: Seq[String] = alphabet ++ merges.map(_.merged)
  }

  /** BPE tokenizer TRAINING (Sennrich, Haddow & Birch 2016, "Neural
    * Machine Translation of Rare Words with Subword Units" §3.2 — the
    * pair-count merge loop): start from the per-codepoint segmentation
    * of a word-frequency table, and for `nMerges` rounds count every
    * adjacent symbol pair (weighted by word frequency, overlapping
    * occurrences counted), fuse the winner everywhere (left-to-right,
    * non-overlapping), repeat. DETERMINISTIC by a total tie-break —
    * (count DESC, left ASC, right ASC, codepoint order) — so the DuckDB
    * oracle replays every round as one unrolled CTE trio (pair count →
    * ORDER/LIMIT 1 winner → delimited-string `replace`) and the merge
    * tables match row for row.
    *
    * Scale shape (how HuggingFace/SentencePiece train at corpus scale):
    * the ONLY full-data pass is the word-frequency aggregate (map-side
    * combinable groupBy); the merge loop runs on the top-`sampleWords`
    * rows of that histogram — a deterministically capped MODEL-FIT
    * sample (count DESC, word ASC), collected like the k-row centroid
    * lists, never the corpus. At 100 TB the histogram pass is the cost;
    * the loop is O(sampleWords · maxWordLen · nMerges) driver work.
    * Words are segmented at CODEPOINTS (never UTF-16 units), matching
    * the [[graft.functions.SubwordTokenize]] fallback. Stops early when
    * no pair remains (every sampled word fused to one symbol). */
  def bpeTrainModel(df: DataFrame, text: String, nMerges: Int,
      sampleWords: Int): BpeModel = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    require(sampleWords >= 1, s"sampleWords must be >= 1, got $sampleWords")
    val hist = df.where(col(text).isNotNull)
      .select(explode(tokens(col(text))).as("__w"))
      .where(col("__w") =!= "")
      .groupBy("__w").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__w").asc)
      .limit(sampleWords)
      .collect()  // bounded: exactly min(sampleWords, |vocab|) rows
      .map(r => (r.getString(0), r.getLong(1)))
    def codepoints(w: String): Array[String] =
      w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
    var segs: Array[(Array[String], Long)] =
      hist.map { case (w, c) => (codepoints(w), c) }
    // CODEPOINT (= unsigned UTF-8 byte) string order everywhere a symbol
    // comparison decides the model: Java's compareTo is UTF-16 code-unit
    // order, which ranks a supplementary-plane symbol (surrogate lead
    // 0xD800) BELOW U+E000..U+FFFF — diverging from both the scaladoc
    // contract and the oracle's binary UTF-8 collation on exactly the
    // tie-breaks that define the merge table
    implicit val cpOrd: Ordering[String] = (x: String, y: String) =>
      java.util.Arrays.compareUnsigned(
        x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val alphabet = segs.iterator.flatMap(_._1).toSeq.distinct.sorted(cpOrd)
    val merges = Seq.newBuilder[BpeMerge]
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      for ((syms, c) <- segs; i <- 0 until syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        counts(p) = counts.getOrElse(p, 0L) + c
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        merges += BpeMerge(rank.toLong, l, r, l + r, c)
        segs = segs.map { case (syms, cnt) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              out += l + r; i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.toArray, cnt)
        }
        rank += 1
      }
    }
    BpeModel(merges.result(), alphabet)
  }

  /** [[bpeTrainModel]]'s merge table as a DataFrame —
    * `(merge_rank, left_sym, right_sym, merged, pair_count)` in training
    * order, the artifact a tokenizer ships. */
  def bpeTrain(df: DataFrame, text: String, nMerges: Int,
      sampleWords: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    bpeTrainModel(df, text, nMerges, sampleWords).merges.toDF()
  }

  /** Persist a trained tokenizer — the train-once/apply-forever shape
    * every other model artifact here already has (band/winnow/IVF/dHash
    * indexes, quantile thresholds): the ordered merge table plus the
    * alphabet sidecar as parquet. Rebuild by re-calling (overwrite);
    * apply-side sessions/streams [[bpeModelRead]] it back and feed
    * [[bpeTokens]]/[[bpeTokensMergeOrder]] without retraining. */
  /** Content fingerprint of a model — written into BOTH parquet sides so
    * [[bpeModelRead]] can detect a torn rebuild (the two-directory
    * overwrite is not atomic; the marker-discipline lesson of the index
    * family applied to the tokenizer artifact). */
  private def bpeModelId(model: BpeModel): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (model.merges.map(m =>
      s"${m.merge_rank}${m.left_sym}${m.right_sym}") ++
      model.alphabet).foreach { s =>
      md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(0.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def bpeModelWrite(model: BpeModel,
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    import spark.implicits._
    val id = bpeModelId(model)
    model.merges.toDF().withColumn("model_id", lit(id))
      .write.mode("overwrite").parquet(s"$path/merges")
    model.alphabet.toDF("sym").withColumn("model_id", lit(id))
      .write.mode("overwrite").parquet(s"$path/alphabet")
  }

  /** Read a persisted tokenizer back — bounded collects (the model
    * arity: nMerges + |alphabet| rows, never data). Merge ORDER is the
    * model: restored by the stored `merge_rank`. FAILS FAST on a torn
    * rebuild: both sides carry the writing model's content fingerprint,
    * and a crash between the two overwrites leaves them disagreeing —
    * assembling new merges with an old alphabet would tokenize silently
    * wrong forever after. Remediation: re-run [[bpeModelWrite]]. */
  def bpeModelRead(spark: org.apache.spark.sql.SparkSession,
      path: String): BpeModel = {
    val mdf = spark.read.parquet(s"$path/merges").orderBy("merge_rank")
      .collect()
    val adf = spark.read.parquet(s"$path/alphabet").orderBy("sym").collect()
    val ids = (mdf.map(_.getAs[String]("model_id")) ++
      adf.map(_.getAs[String]("model_id"))).distinct
    require(ids.length <= 1,
      s"torn tokenizer model at $path (merge/alphabet fingerprints " +
        s"disagree: ${ids.mkString(", ")}) — rebuild with bpeModelWrite")
    val model = BpeModel(
      mdf.map(r => BpeMerge(r.getAs[Long]("merge_rank"),
        r.getAs[String]("left_sym"), r.getAs[String]("right_sym"),
        r.getAs[String]("merged"), r.getAs[Long]("pair_count"))).toSeq,
      adf.map(_.getAs[String]("sym")).toSeq)
    require(ids.headOption.forall(_ == bpeModelId(model)),
      s"tokenizer model at $path fails its content fingerprint — " +
        "partial/corrupt parquet, rebuild with bpeModelWrite")
    model
  }

  /** One learned WordPiece merge: at `merge_rank` the pair
    * `(left_sym, right_sym)` maximizing the LIKELIHOOD-GAIN score —
    * `pair_count / (count(left)·count(right))`, carried as the exact
    * scaled integer `score_scaled = floor(pair_count·10¹⁸ /
    * (count(left)·count(right)))` that DEFINES the argmax (not an
    * approximation of it: both engines compute the same integer, so the
    * winner is deterministic even where the scaling collides). */
  final case class WordPieceMerge(merge_rank: Long, left_sym: String,
      right_sym: String, merged: String, pair_count: Long,
      score_scaled: Long)

  /** A trained WordPiece tokenizer model: the ordered merge table plus
    * the sample alphabet. Inference is greedy longest-match over
    * `vocab` — [[bpeTokens]] IS the WordPiece apply discipline, so the
    * learned vocabulary plugs straight into the existing kernel. */
  final case class WordPieceModel(merges: Seq[WordPieceMerge],
      alphabet: Seq[String]) {
    def vocab: Seq[String] = alphabet ++ merges.map(_.merged)
  }

  /** WORDPIECE tokenizer TRAINING (Schuster & Nakajima 2012, "Japanese
    * and Korean voice search" §4 — the likelihood objective): the
    * [[bpeTrainModel]] merge loop with the winner chosen by LIKELIHOOD
    * GAIN instead of raw frequency — each round fuses the adjacent pair
    * maximizing `p(lr) / (p(l)·p(r))`, i.e. the merge that most
    * increases a unigram LM's corpus likelihood — so a rare-but-
    * predictive pair beats a merely frequent one (the property that
    * separates the three training families; OperatorSpec pins a corpus
    * where WordPiece and BPE genuinely diverge at rank 1).
    *
    * DETERMINISM: the score is the exact integer
    * `floor(pc·10¹⁸/(cl·cr))` (BigInt here, HUGEINT in the oracle —
    * `pc ≤ min(cl, cr)` bounds it by 10¹⁸, BIGINT-safe), totally
    * ordered by `(score DESC, left ASC, right ASC, codepoint order)`,
    * so the DuckDB oracle replays every round as unrolled CTEs (symbol
    * count → pair count → scored winner → delimited replace) and the
    * merge tables match row for row. Scale shape identical to
    * [[bpeTrainModel]]: one map-side-combinable histogram pass, then
    * driver work on the capped sample. */
  def wordPieceTrainModel(df: DataFrame, text: String, nMerges: Int,
      sampleWords: Int): WordPieceModel = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    require(sampleWords >= 1, s"sampleWords must be >= 1, got $sampleWords")
    val hist = df.where(col(text).isNotNull)
      .select(explode(tokens(col(text))).as("__w"))
      .where(col("__w") =!= "")
      .groupBy("__w").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__w").asc)
      .limit(sampleWords)
      .collect()  // bounded: exactly min(sampleWords, |vocab|) rows
      .map(r => (r.getString(0), r.getLong(1)))
    def codepoints(w: String): Array[String] =
      w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
    var segs: Array[(Array[String], Long)] =
      hist.map { case (w, c) => (codepoints(w), c) }
    implicit val cpOrd: Ordering[String] = (x: String, y: String) =>
      java.util.Arrays.compareUnsigned(
        x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val alphabet = segs.iterator.flatMap(_._1).toSeq.distinct.sorted(cpOrd)
    val Scale = BigInt(10).pow(18)
    val merges = Seq.newBuilder[WordPieceMerge]
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      val pairCnt = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      val symCnt = scala.collection.mutable.HashMap.empty[String, Long]
      for ((syms, c) <- segs) {
        syms.foreach(s => symCnt(s) = symCnt.getOrElse(s, 0L) + c)
        for (i <- 0 until syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          pairCnt(p) = pairCnt.getOrElse(p, 0L) + c
        }
      }
      if (pairCnt.isEmpty) exhausted = true
      else {
        def score(l: String, r: String, pc: Long): Long =
          (BigInt(pc) * Scale / (BigInt(symCnt(l)) * BigInt(symCnt(r))))
            .toLong
        val ((l, r), pc) = pairCnt.minBy { case ((l, r), pc) =>
          (-score(l, r, pc), l, r) }
        merges += WordPieceMerge(rank.toLong, l, r, l + r, pc,
          score(l, r, pc))
        segs = segs.map { case (syms, cnt) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              out += l + r; i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.toArray, cnt)
        }
        rank += 1
      }
    }
    WordPieceModel(merges.result(), alphabet)
  }

  /** [[wordPieceTrainModel]]'s merge table as a DataFrame —
    * `(merge_rank, left_sym, right_sym, merged, pair_count,
    * score_scaled)` in training order, the artifact a tokenizer ships
    * (and the q185 gate surface: the likelihood arithmetic itself
    * replays, not just the winners). */
  def wordPieceTrain(df: DataFrame, text: String, nMerges: Int,
      sampleWords: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    wordPieceTrainModel(df, text, nMerges, sampleWords).merges.toDF()
  }

  private def wordPieceModelId(model: WordPieceModel): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (model.merges.map(m => s"${m.merge_rank}${m.left_sym}${m.right_sym}" +
      s"${m.pair_count}:${m.score_scaled}") ++
      model.alphabet).foreach { s =>
      md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(0.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Persist a trained WordPiece tokenizer — the [[bpeModelWrite]]
    * two-sided fingerprint discipline applied to the third model
    * artifact (merge table with scores + alphabet sidecar). */
  def wordPieceModelWrite(model: WordPieceModel,
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    import spark.implicits._
    val id = wordPieceModelId(model)
    model.merges.toDF().withColumn("model_id", lit(id))
      .write.mode("overwrite").parquet(s"$path/merges")
    model.alphabet.toDF("sym").withColumn("model_id", lit(id))
      .write.mode("overwrite").parquet(s"$path/alphabet")
  }

  /** Read a persisted WordPiece model back — bounded collects, order
    * restored by `merge_rank`, FAILS FAST on a torn rebuild or corrupt
    * parquet exactly like [[bpeModelRead]]. */
  def wordPieceModelRead(spark: org.apache.spark.sql.SparkSession,
      path: String): WordPieceModel = {
    val mdf = spark.read.parquet(s"$path/merges").orderBy("merge_rank")
      .collect()
    val adf = spark.read.parquet(s"$path/alphabet").orderBy("sym").collect()
    val ids = (mdf.map(_.getAs[String]("model_id")) ++
      adf.map(_.getAs[String]("model_id"))).distinct
    require(ids.length <= 1,
      s"torn wordpiece model at $path (merge/alphabet fingerprints " +
        s"disagree: ${ids.mkString(", ")}) — rebuild with wordPieceModelWrite")
    val model = WordPieceModel(
      mdf.map(r => WordPieceMerge(r.getAs[Long]("merge_rank"),
        r.getAs[String]("left_sym"), r.getAs[String]("right_sym"),
        r.getAs[String]("merged"), r.getAs[Long]("pair_count"),
        r.getAs[Long]("score_scaled"))).toSeq,
      adf.map(_.getAs[String]("sym")).toSeq)
    require(ids.headOption.forall(_ == wordPieceModelId(model)),
      s"wordpiece model at $path fails its content fingerprint — " +
        "partial/corrupt parquet, rebuild with wordPieceModelWrite")
    model
  }

  /** One trained unigram-LM piece: the sub-word string, its final-round
    * hard-EM usage count, and the fixed-point log-probability
    * `floor(ln(cnt/total)·10⁴ + 0.5)` (BIGINT nats·10⁻⁴) the Viterbi
    * decode scores with. Fixed-point is the determinism contract: every
    * decode comparison downstream is exact integer arithmetic, so the
    * kernel and the DuckDB oracle agree even on tied paths. */
  final case class UnigramPiece(piece: String, cnt: Long, lp: Long)

  /** A trained unigram-LM tokenizer model (Kudo 2018, "Subword
    * Regularization" — the SentencePiece default family): scored pieces
    * in codepoint (unsigned UTF-8 byte) order plus the
    * out-of-vocabulary codepoint penalty, fixed one e-fold (10⁴
    * fixed-point nats) below the worst trained piece so unk steps are
    * always a last resort yet never −∞. */
  final case class UnigramLmModel(pieces: Seq[UnigramPiece], lpUnk: Long) {
    /** The plan-attached vocabulary [[graft.functions.UnigramTokenize]]
      * decodes with. */
    def vocab: graft.functions.UnigramVocab =
      new graft.functions.UnigramVocab(
        pieces.map(p => (p.piece, p.lp)).toArray, lpUnk)
  }

  /** Fixed-point log-probability: `floor(ln(cnt/total)·10⁴ + 0.5)` —
    * floor(x+0.5) EXACTLY (not half-even, not half-away-from-zero), the
    * one rounding rule Java and DuckDB spell identically, so the only
    * cross-engine float exposure is the final ulp of `ln` itself. */
  private def unigramLp(cnt: Long, total: Long): Long =
    Math.floor(Math.log(cnt.toDouble / total.toDouble) * 10000.0 + 0.5)
      .toLong

  /** UNIGRAM-LM tokenizer TRAINING (Kudo 2018 §3.2's EM loop in its
    * deterministic hard-EM/Viterbi form — each round segments with the
    * current scores' exact argmax instead of accumulating posterior
    * expectations, the variant whose every step is integer-exact and
    * oracle-replayable): seed the vocabulary with ALL codepoint
    * substrings of length 1..`maxPieceLen` of a capped word-frequency
    * histogram (occurrence-weighted, overlapping counted), then for
    * `iters` rounds (1) Viterbi-decode each histogram word under the
    * current fixed-point scores — the same total argmax
    * `(score DESC, n_pieces ASC, seg-string ASC by UTF-8 bytes)` the
    * apply kernel [[graft.functions.UnigramTokenize]] implements — and
    * (2) re-estimate: a piece's new count is its frequency-weighted
    * usage in the decoded segmentations, unused pieces are PRUNED, and
    * single codepoints are floored at count 1 (never pruned — the Kudo
    * invariant that keeps every string decodable). The DuckDB oracle
    * replays every round as unrolled CTEs: the same capped histogram,
    * a precomputed (word, pos, piece) step table, brute-force path
    * enumeration as a recursive walk, one window for the argmax, and
    * the same floor(·+0.5) fixed-point re-score — so seed counts,
    * per-round segmentations, pruning, and final scores all match row
    * for row.
    *
    * Scale shape (same as [[bpeTrainModel]], how SentencePiece trains
    * at corpus scale): the ONLY full-data pass is the word-frequency
    * aggregate (map-side combinable groupBy); the EM loop runs on the
    * top-`sampleWords` histogram rows — a deterministically capped
    * (count DESC, word ASC) MODEL-FIT sample collected like the k-row
    * centroid lists, never the corpus. At 100 TB the histogram pass is
    * the cost; the loop is O(sampleWords · maxWordLen · maxPieceLen ·
    * iters) driver work. Pieces are CODEPOINT substrings (never split
    * UTF-16 units), matching the kernel's fallback discipline. */
  def unigramTrainModel(df: DataFrame, text: String, maxPieceLen: Int,
      sampleWords: Int, iters: Int): UnigramLmModel = {
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    require(sampleWords >= 1, s"sampleWords must be >= 1, got $sampleWords")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val hist = df.where(col(text).isNotNull)
      .select(explode(tokens(col(text))).as("__w"))
      .where(col("__w") =!= "")
      .groupBy("__w").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__w").asc)
      .limit(sampleWords)
      .collect()  // bounded: exactly min(sampleWords, |vocab|) rows
      .map(r => (r.getString(0), r.getLong(1)))
    require(hist.nonEmpty, "empty word histogram — nothing to train on")
    def codepoints(w: String): Array[String] =
      w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
    implicit val cpOrd: Ordering[String] = (x: String, y: String) =>
      java.util.Arrays.compareUnsigned(
        x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // seed: every codepoint substring, occurrence-weighted
    val seed = scala.collection.mutable.HashMap.empty[String, Long]
    val singles = scala.collection.mutable.HashSet.empty[String]
    for ((w, c) <- hist) {
      val cps = codepoints(w)
      for (i <- cps.indices; l <- 1 to maxPieceLen if i + l <= cps.length) {
        val p = cps.slice(i, i + l).mkString
        seed(p) = seed.getOrElse(p, 0L) + c
        if (l == 1) singles += p
      }
    }
    var counts: Map[String, Long] = seed.toMap
    var lp: Map[String, Long] = {
      val t = counts.valuesIterator.sum
      counts.map { case (p, c) => p -> unigramLp(c, t) }
    }
    for (_ <- 1 to iters) {
      // all single codepoints are in-vocab every round, so the decode's
      // unk step can never fire during training — the penalty is inert
      val vocab = new graft.functions.UnigramVocab(
        lp.iterator.map { case (p, s) => (p, s) }.toArray, -10000000L)
      val usage = scala.collection.mutable.HashMap.empty[String, Long]
      for ((w, c) <- hist) {
        val seg = graft.functions.UnigramTokenizeRuntime.decodeWord(w, vocab)
        var start = 0
        var i = 0
        while (i <= seg.length) {
          if (i == seg.length ||
              seg.charAt(i) == graft.functions.UnigramTokenizeRuntime.Sep) {
            val p = seg.substring(start, i)
            usage(p) = usage.getOrElse(p, 0L) + c
            start = i + 1
          }
          i += 1
        }
      }
      counts = usage.toMap ++
        singles.iterator.filterNot(usage.contains).map(_ -> 1L)
      val t = counts.valuesIterator.sum
      lp = counts.map { case (p, c) => p -> unigramLp(c, t) }
    }
    val pieces = counts.keysIterator.toSeq.sorted(cpOrd)
      .map(p => UnigramPiece(p, counts(p), lp(p)))
    UnigramLmModel(pieces, pieces.iterator.map(_.lp).min - 10000L)
  }

  /** [[unigramTrainModel]]'s scored vocabulary as a DataFrame —
    * `(piece, cnt, lp)` in codepoint order, the artifact a tokenizer
    * ships (and the q183 gate surface: counts AND scores both replay). */
  def unigramTrain(df: DataFrame, text: String, maxPieceLen: Int,
      sampleWords: Int, iters: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    unigramTrainModel(df, text, maxPieceLen, sampleWords, iters)
      .pieces.toDF()
  }

  /** Unigram-LM subword tokens under a trained model
    * ([[graft.functions.UnigramTokenize]]): Viterbi decode per
    * whitespace word — the THIRD apply discipline beside the greedy
    * longest-match [[bpeTokens]] and the merge-order
    * [[bpeTokensMergeOrder]], completing the tokenizer families real
    * stacks ship. Map-only native expression: a free column on the
    * scan at 100 TB. */
  def unigramTokens(text: Column, model: UnigramLmModel): Column =
    graft.functions.UnigramTokenize.unigram_tokens(text, model.vocab)

  /** Content fingerprint of a unigram model — written into both parquet
    * sides so [[unigramModelRead]] detects a torn rebuild, the
    * [[bpeModelWrite]] marker discipline applied to the second
    * tokenizer-model artifact. */
  private def unigramModelId(model: UnigramLmModel): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (model.pieces.map(p => s"${p.piece}:${p.cnt}:${p.lp}") :+
      model.lpUnk.toString).foreach { s =>
      md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(0.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Persist a trained unigram-LM tokenizer — scored pieces plus a
    * one-row sidecar carrying `lpUnk`, both stamped with the model
    * fingerprint. Rebuild by re-calling (overwrite); apply-side
    * sessions/streams [[unigramModelRead]] it back and feed
    * [[unigramTokens]] without retraining. */
  def unigramModelWrite(model: UnigramLmModel,
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    import spark.implicits._
    val id = unigramModelId(model)
    model.pieces.toDF().withColumn("model_id", lit(id))
      .write.mode("overwrite").parquet(s"$path/pieces")
    Seq(Tuple1(model.lpUnk)).toDF("lp_unk").withColumn("model_id", lit(id))
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Read a persisted unigram model back — bounded collects (model
    * arity, never data); piece ORDER restored by codepoint sort (the
    * canonical model order — parquet row order is not part of the
    * contract). FAILS FAST on a torn rebuild or corrupt parquet via the
    * two-sided fingerprint, exactly like [[bpeModelRead]]. Remediation:
    * re-run [[unigramModelWrite]]. */
  def unigramModelRead(spark: org.apache.spark.sql.SparkSession,
      path: String): UnigramLmModel = {
    implicit val cpOrd: Ordering[String] = (x: String, y: String) =>
      java.util.Arrays.compareUnsigned(
        x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val pdf = spark.read.parquet(s"$path/pieces").collect()
    val mdf = spark.read.parquet(s"$path/meta").collect()
    require(mdf.length == 1,
      s"unigram model at $path: expected one meta row, got ${mdf.length}")
    val ids = (pdf.map(_.getAs[String]("model_id")) ++
      mdf.map(_.getAs[String]("model_id"))).distinct
    require(ids.length <= 1,
      s"torn unigram model at $path (piece/meta fingerprints disagree: " +
        s"${ids.mkString(", ")}) — rebuild with unigramModelWrite")
    val model = UnigramLmModel(
      pdf.map(r => UnigramPiece(r.getAs[String]("piece"),
          r.getAs[Long]("cnt"), r.getAs[Long]("lp")))
        .sortBy(_.piece)(cpOrd).toSeq,
      mdf.head.getAs[Long]("lp_unk"))
    require(ids.headOption.forall(_ == unigramModelId(model)),
      s"unigram model at $path fails its content fingerprint — " +
        "partial/corrupt parquet, rebuild with unigramModelWrite")
    model
  }

  /** Quality-scoring features: length, alpha/digit/punct/space ratios and
    * mean token length — the standard cheap pre-filters for corpus curation.
    */
  def qualityFeatures(df: DataFrame, text: String, id: String): DataFrame = {
    val t = col(text)
    val len = length(t).cast("double")
    def ratio(pattern: String) =
      length(regexp_replace(t, pattern, "")).cast("double") / len
    df.select(
      col(id),
      length(t).as("n_chars"),
      tokenCount(t).as("n_tokens"),
      round(ratio("[^a-zA-Z]"), 6).as("alpha_ratio"),
      round(ratio("[^0-9]"), 6).as("digit_ratio"),
      round(ratio("[^.,!?;:]"), 6).as("punct_ratio"),
      round(ratio("[^ ]"), 6).as("space_ratio"),
      round(length(regexp_replace(t, "\\s", "")).cast("double") /
        tokenCount(t).cast("double"), 6).as("mean_token_len"))
  }

  /** Language marker words (tiny stopword lists) for the n-gram/stopword
    * language-ID heuristic. */
  val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|to|in|is|a)\\b",
    "de" -> "\\b(der|die|und|das|ist|ein)\\b",
    "fr" -> "\\b(le|la|les|et|est|un)\\b",
    "es" -> "\\b(el|los|las|y|es|un)\\b")

  /** Language-ID: per-language marker-hit counts normalized by token count,
    * argmax wins ('und' = undetermined when no marker hits). */
  def languageId(df: DataFrame, text: String, id: String): DataFrame = {
    val t = TextOps.lower(col(text))
    val scored = langMarkers.foldLeft(df) { case (d, (lang, re)) =>
      d.withColumn(s"score_$lang",
        size(regexp_extract_all(t, lit(re), lit(0))).cast("double") /
          tokenCount(col(text)).cast("double"))
    }
    val best = langMarkers.map { case (l, _) => col(s"score_$l") }
    val bestScore = greatest(best: _*)
    val pred = langMarkers.reverse.foldLeft(lit("und")) { case (acc, (l, _)) =>
      when(col(s"score_$l") === bestScore && bestScore > 0, lit(l)).otherwise(acc)
    }
    // ties resolve to the FIRST language in langMarkers order (the reverse
    // fold makes earlier entries overwrite later ones)
    scored.select(
      (col(id) +: langMarkers.map { case (l, _) =>
        round(col(s"score_$l"), 6).as(s"score_$l")
      }) :+ pred.as("lang_pred"): _*)
  }

  /** Bag-of-words document fingerprint: sum of portable token hashes mod a
    * prime. Order-insensitive, whitespace-normalization-insensitive — the
    * cheap exact-near-dup key (rolling-hash family). */
  def fingerprint(df: DataFrame, text: String, id: String): DataFrame =
    df.select(col(id), explode(tokens(col(text))).as("w"))
      .groupBy(id)
      .agg((sum(pmod(portableHash(col("w"), 7), lit(1000003L))) % 1000003L)
        .as("fingerprint"))

  /** Stopword list for the stopword-ratio quality signal (the 'en' marker
    * set — a corpus-curation heuristic, not linguistics). */
  val Stopwords: Seq[String] = Seq("the", "and", "of", "to", "in", "is", "a")

  /** Stopword ratio per document: tokens drawn from [[Stopwords]] over all
    * tokens — near-zero flags keyword-stuffed or non-prose content; all
    * higher-order-function column arithmetic, no explode, no shuffle. */
  def stopwordRatio(df: DataFrame, text: String, id: String): DataFrame = {
    val toks = tokens(col(text))
    val stops = array(Stopwords.map(lit): _*)
    df.select(col(id),
      size(toks).as("n_tokens"),
      size(filter(toks, t => array_contains(stops, t))).as("n_stop"),
      round(size(filter(toks, t => array_contains(stops, t))).cast("double") /
        size(toks).cast("double"), 6).as("stop_ratio"))
  }

  /** Deterministic train/val/test assignment by portable id hash — the
    * reproducible split a training pipeline needs: content-stable (the
    * same doc lands in the same split on every run, every cluster, any
    * partitioning), no RNG, no state. Map-only column arithmetic, so at
    * 100 TB it is a free column on the scan. `bucket` is the 0..99
    * percentile bucket; boundaries at `trainPct` / `trainPct + valPct`. */
  def hashSplit(df: DataFrame, id: String,
      trainPct: Int = 80, valPct: Int = 10, seed: Int = 42): DataFrame =
    withHashSplit(df, id, trainPct, valPct, seed)
      .select(col(id), col("bucket"), col("split"))

  /** [[hashSplit]]'s append form: adds `bucket`/`split` WITHOUT projecting
    * the other columns away — for pipelines that keep flowing (q67). A
    * pipeline that instead computes hashSplit separately and joins it back
    * references its input twice, re-executing the whole upstream; the
    * append form keeps the split a free map-only column on whatever plan
    * is already running. */
  def withHashSplit(df: DataFrame, id: String,
      trainPct: Int = 80, valPct: Int = 10, seed: Int = 42): DataFrame =
    hashSplitBy(df, col(id), trainPct, valPct, seed)

  /** Leakage-safe train/val/test split — [[withHashSplit]] keyed on a
    * GROUP column instead of the row id: every row sharing `key` (e.g.
    * the q54 dedup-component label) lands in the SAME split, so a
    * near-duplicate pair can never straddle the train/test boundary.
    * A naive per-doc split leaks: with ~10% of a web corpus in dup
    * clusters, thousands of test docs have a train-side near-copy and
    * eval loss reads optimistically low. Same map-only arithmetic as
    * [[hashSplit]] (portable hash of the KEY, percentile buckets), so
    * on a labels frame it is a free column; the only real cost at
    * 100 TB is producing the labels, which dedup already paid for. */
  def hashSplitBy(df: DataFrame, key: Column,
      trainPct: Int = 80, valPct: Int = 10, seed: Int = 42): DataFrame = {
    requireFresh(df, "bucket", "split")
    val bucket = pmod(portableHash(key.cast("string"), seed), lit(100L))
    df.withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /** Deterministic per-stratum sampling flag — the corpus-mixing primitive:
    * keep a per-stratum fraction of documents (e.g. downsample the dominant
    * language), decided by a portable id hash against a per-stratum
    * threshold, NOT by `df.sample` (whose per-partition RNG changes with
    * partitioning and reruns). Adds `__kept` (1/0) as map-only arithmetic;
    * [[stratifiedSample]] filters to the kept rows. Fractions are rounded
    * to 1/1000 granularity. */
  def sampleFlag(df: DataFrame, id: String, strata: String,
      fractions: Map[String, Double], default: Double = 1.0,
      seed: Int = 77): DataFrame = {
    requireFresh(df, "__kept")
    val bucket = pmod(portableHash(col(id).cast("string"), seed), lit(1000L))
    val thresh = fractions.toSeq.sortBy(_._1).foldLeft(
      lit(math.round(default * 1000)): Column) { case (acc, (k, f)) =>
        when(col(strata) === k, lit(math.round(f * 1000))).otherwise(acc)
    }
    df.withColumn("__kept", (bucket < thresh).cast("int"))
  }

  /** Temperature-weighted per-stratum downsampling — the multilingual
    * rebalancing step (sampling share of stratum l ∝ count_l^alpha, so
    * alpha < 1 flattens the language distribution toward uniform without
    * upsampling anyone): per-doc keep probability
    * `p_l = (count_min / count_l)^(1-alpha)` — the SMALLEST stratum keeps
    * everything, dominant strata shed proportionally harder the smaller
    * alpha gets (alpha = 1 keeps all, alpha = 0 equalizes expected
    * counts). Deterministic: the flag is a portable-hash bucket against a
    * per-stratum integer threshold (content-stable like [[sampleFlag]],
    * reproducible across runs/partitionings/engines). Two passes — a
    * strata-sized count aggregate broadcast back onto the scan, then a
    * map-only flag; `alpha = 0.5` computes the weight via `sqrt`
    * (IEEE-exact, bit-identical in the SQL oracle) rather than `pow`.
    * Rows with a NULL stratum are dropped (the threshold join is inner
    * and null joins nothing) — pre-bucket unknowns into a sentinel
    * stratum if they must survive the gate. */
  def temperatureSampleFlag(df: DataFrame, id: String, strata: String,
      alpha: Double = 0.5, scale: Long = 1000000L,
      seed: Int = 91): DataFrame = {
    requireFresh(df, "__kept", "__thr", "__n", "__nmin")
    val counts = df.groupBy(strata).agg(count(lit(1)).as("__n"))
    val nmin = counts.agg(min(col("__n")).as("__nmin"))
    val ratio = col("__nmin").cast("double") / col("__n")
    val w = if (alpha == 0.5) sqrt(ratio) else pow(ratio, 1 - alpha)
    val thr = counts.crossJoin(broadcast(nmin))
      .select(col(strata), floor(w * scale).cast("long").as("__thr"))
    df.join(broadcast(thr), strata)
      .withColumn("__kept",
        (pmod(portableHash(col(id).cast("string"), seed), lit(scale)) <
          col("__thr")).cast("int"))
  }

  /** Temperature-weighted per-stratum UP-sampling — the epoch/repeat form
    * of [[temperatureSampleFlag]]: that flag covers alpha-mixing with
    * p ≤ 1 (downsample-only), but real multilingual mixes also REPEAT
    * small-language data. Per-doc repeat factor
    * `p_l = (count_max / count_l)^(1-alpha)` ≥ 1 — the LARGEST stratum
    * keeps exactly 1 copy, smaller strata repeat harder the smaller
    * alpha gets (alpha = 1 → everyone 1 copy; alpha = 0 → expected
    * counts equalized to the largest). Emits `__copies` =
    * `floor(p_l)` + a deterministic fractional flag (portable-hash
    * bucket vs `frac(p_l)·scale`, content-stable like [[sampleFlag]]),
    * so `E[copies | stratum l] = p_l` and reruns are identical. Same
    * two-pass shape as the downsampling flag: a strata-sized count
    * aggregate broadcast back, then a map-only projection — the caller
    * materializes repeats with `explode(sequence(1, __copies))` (a
    * map-only fan-out, no shuffle). NULL strata drop (inner threshold
    * join), as documented on [[temperatureSampleFlag]]. */
  def temperatureRepeatFactor(df: DataFrame, id: String, strata: String,
      alpha: Double = 0.5, scale: Long = 1000000L,
      seed: Int = 91): DataFrame = {
    requireFresh(df, "__copies", "__base", "__thr", "__n", "__nmax")
    val counts = df.groupBy(strata).agg(count(lit(1)).as("__n"))
    val nmax = counts.agg(max(col("__n")).as("__nmax"))
    val ratio = col("__nmax").cast("double") / col("__n")
    val p = if (alpha == 0.5) sqrt(ratio) else pow(ratio, 1 - alpha)
    val thr = counts.crossJoin(broadcast(nmax))
      .select(col(strata), floor(p).cast("long").as("__base"),
        floor((p - floor(p)) * scale).cast("long").as("__thr"))
    df.join(broadcast(thr), strata)
      .withColumn("__copies", col("__base") +
        (pmod(portableHash(col(id).cast("string"), seed), lit(scale)) <
          col("__thr")).cast("long"))
  }

  /** Deterministic stratified sample: the rows [[sampleFlag]] keeps. */
  def stratifiedSample(df: DataFrame, id: String, strata: String,
      fractions: Map[String, Double], default: Double = 1.0,
      seed: Int = 77): DataFrame =
    sampleFlag(df, id, strata, fractions, default, seed)
      .where(col("__kept") === 1).drop("__kept")

  /** Intra-document repetition ratio over word n-grams — the Gopher-style
    * repetitious-content filter: 1 − distinct/total n-grams, high for
    * boilerplate loops and keyword stuffing. `n_total` is map-side
    * arithmetic (tokens − n + 1); only the distinct count aggregates.
    * Docs with fewer than `n` tokens are excluded (no n-grams exist). */
  def repetitionRatio(df: DataFrame, text: String, id: String,
      n: Int = 3): DataFrame = {
    val toks = tokens(col(text))
    // hash-first distinct: the raw shingle rows stay map-only, the hash
    // projection makes them 16 B, and only then the distinct shuffles —
    // the exchange never carries n-gram text (collision odds ~2^-60 per
    // same-doc shingle pair, immaterial vs corpus-scale shuffle bytes)
    val dis = Dedup.hashedShingles(
        df.where(col(text).isNotNull), text, id, n, dedup = false)
      .distinct()
      .groupBy(col(id)).agg(count(lit(1)).as("n_distinct"))
    df.where(col(text).isNotNull && size(toks) >= n)
      .select(col(id), (size(toks) - (n - 1)).cast("long").as("n_total"))
      .join(dis, id)
      .select(col(id), col("n_total"), col("n_distinct"),
        round(lit(1) - col("n_distinct").cast("double") / col("n_total"), 6)
          .as("rep_ratio"))
  }

  /** The OTHER Gopher repetition statistic ([[repetitionRatio]] is the
    * duplicate-n-gram fraction): the fraction of the document's
    * CHARACTERS contained in occurrences of its single most frequent
    * word n-gram — `count(top gram) · len(top gram) / len(text)`, with
    * occurrences counted per position (overlaps included, so a litany
    * like "s s s s" can exceed 1 — a feature for flagging). High
    * values flag boilerplate/litany documents whose duplication
    * concentrates in one phrase. Ties break to the lexicographically
    * LARGEST gram (struct array_max compares count then gram — the
    * deterministic order any engine can replay).
    *
    * Entirely in-array column arithmetic: the gram list, the distinct
    * list, and the per-distinct-gram occurrence counts all live inside
    * one projection — no explode, no shuffle, no UDF. Per-doc cost is
    * O(distinct·total) gram comparisons, bounded by document length —
    * the map-only trade every 100 TB quality pass wants (vs an
    * explode + groupBy whose exchange is corpus-sized). */
  def topNgramCharFraction(df: DataFrame, text: String, id: String,
      n: Int = 2): DataFrame = {
    val toks = tokens(col(text))
    val grams = transform(sequence(lit(1), size(toks) - (n - 1)),
      i => concat_ws(" ", slice(toks, i, lit(n))))
    val best = array_max(transform(array_distinct(grams),
      g => struct(size(filter(grams, x => x === g)).as("c"), g.as("g"))))
    df.where(col(text).isNotNull && size(toks) >= n)
      .select(col(id),
        best.getField("g").as("top_gram"),
        best.getField("c").as("top_count"),
        round(best.getField("c") * length(best.getField("g"))
          / length(col(text)).cast("double"), 6).as("top_frac"))
  }

  /** Sequence packing: assign each document to a fixed-token-budget chunk
    * by exclusive cumulative token count within a partition group — the
    * pretraining step that turns a curated corpus into contiguous
    * `chunkTokens`-sized training sequences. `chunk_id` restarts per
    * group, so the global chunk key is (partCols..., chunk_id) and
    * `chunk_offset` is the document's start position inside its chunk.
    *
    * One window per group (ordered by `id`), nothing else: packing is
    * embarrassingly parallel ACROSS groups, and that is the scale knob —
    * at 100 TB you pass fine partition cols (source × shard/date, not a
    * single global key), because a window partition sorts and scans on
    * one task. A global ordering would be a single-task bottleneck by
    * construction; contiguity within (source, shard) is what training
    * shard layouts actually guarantee.
    *
    * PRECONDITION: every row's `tokens` must be a positive count — null
    * or non-positive rows fail the job mid-task by default (they would
    * pile into one chunk without advancing the cumsum, breaking the
    * budget-bounded-chunk guarantee [[packText]] relies on). Feeding an
    * unfiltered corpus (null text → null count)? Either pre-filter, or
    * pass `dropInvalid = true` to silently drop such rows instead —
    * curation pipelines that already count tokens upstream keep the
    * fail-fast default so a broken count surfaces as an error, not as
    * quietly missing documents. */
  def packChunks(df: DataFrame, id: String, partCols: Seq[String],
      tokens: Column, chunkTokens: Int = 256,
      dropInvalid: Boolean = false): DataFrame =
    withPackChunks(df, id, partCols, tokens, chunkTokens, dropInvalid)
      .select(col(id) +: partCols.map(col) :+ col("n_tokens") :+
        col("chunk_id") :+ col("chunk_offset"): _*)

  /** [[packChunks]]'s append form: adds `n_tokens`/`chunk_id`/
    * `chunk_offset` while keeping the input columns flowing — what
    * [[packText]] needs to carry the text into the chunk assembly without
    * a join-back (which would reference the window plan twice). */
  def withPackChunks(df: DataFrame, id: String, partCols: Seq[String],
      tokens: Column, chunkTokens: Int = 256,
      dropInvalid: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // `__before` included: the temp column is withColumn-appended too, so
    // an input column of that name would be silently clobbered then dropped
    requireFresh(df, "n_tokens", "chunk_id", "chunk_offset", "__before")
    val w = Window.partitionBy(partCols.map(col): _*).orderBy(col(id))
      .rowsBetween(Window.unboundedPreceding, -1)
    // null/zero token counts never advance the cumsum, so arbitrarily many
    // such rows would land in ONE chunk and the per-group collect in
    // [[packText]] would grow unboundedly — the budget-bounded-population
    // guarantee holds only for positive counts, so enforce it row-level
    // (one codegen'd `when`, no extra pass); dropInvalid = true filters
    // such rows instead of failing (see the [[packChunks]] precondition)
    val tok = tokens.cast(LongType)
    val invalid = tok.isNull || tok <= 0
    val base = if (dropInvalid) df.where(!invalid) else df
    val checked =
      if (dropInvalid) tok
      else when(invalid,
        raise_error(concat(
          lit("packChunks: every row needs a positive token count; got "),
          coalesce(tok.cast("string"), lit("null"))))).otherwise(tok)
    base.withColumn("n_tokens", checked)
      .withColumn("__before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("chunk_id",
        floor(col("__before") / lit(chunkTokens)).cast(LongType))
      .withColumn("chunk_offset", col("__before") % lit(chunkTokens))
      .drop("__before")
  }

  /** The shared whole-document bin-packing fold: a SQL `aggregate` over
    * the group's item array with state `(loads, asg)` — bin loads and
    * the assignment so far. `bestFit = true` places each item in the
    * FULLEST bin that still fits (ties to the lowest bin index — the
    * classic best-fit rule); `false` is NEXT-FIT (the greedy-FIFO
    * baseline: last bin if it fits, else a new one). An item larger
    * than the budget fits no bin and opens its own overfull singleton
    * (standard bin-packing behavior — loud in the load report, never
    * silently split). Only the taken IF arm evaluates, so the best-fit
    * selection never probes an empty candidate list. */
  private def packBinsFold(itemsCol: String, budget: Int,
      bestFit: Boolean): String = {
    val fits = s"filter(transform(st.loads, (l, ix) -> " +
      s"named_struct('l', l, 'ix', ix)), c -> c.l + it.t <= $budget)"
    val bestIx = s"element_at(array_sort(transform($fits, c -> " +
      "named_struct('negl', -c.l, 'ix', c.ix))), 1).ix"
    val step =
      if (bestFit)
        s"""IF(size($fits) = 0,
           |  named_struct('loads', concat(st.loads, array(it.t)),
           |    'asg', concat(st.asg, array(named_struct(
           |      'i', it.i, 'b', size(st.loads), 't', it.t)))),
           |  named_struct(
           |    'loads', transform(st.loads, (l, ix) ->
           |      IF(ix = $bestIx, l + it.t, l)),
           |    'asg', concat(st.asg, array(named_struct(
           |      'i', it.i, 'b', $bestIx, 't', it.t)))))""".stripMargin
      else
        s"""IF(size(st.loads) > 0 AND
           |    element_at(st.loads, -1) + it.t <= $budget,
           |  named_struct(
           |    'loads', concat(slice(st.loads, 1, size(st.loads) - 1),
           |      array(element_at(st.loads, -1) + it.t)),
           |    'asg', concat(st.asg, array(named_struct(
           |      'i', it.i, 'b', size(st.loads) - 1, 't', it.t)))),
           |  named_struct('loads', concat(st.loads, array(it.t)),
           |    'asg', concat(st.asg, array(named_struct(
           |      'i', it.i, 'b', size(st.loads), 't', it.t)))))""".stripMargin
    s"""aggregate($itemsCol,
       |  named_struct('loads', CAST(array() AS array<bigint>),
       |    'asg', CAST(array() AS array<struct<i:bigint,b:int,t:bigint>>)),
       |  (st, it) -> $step,
       |  st -> st.asg)""".stripMargin
  }

  private def packBins(df: DataFrame, id: String, partCols: Seq[String],
      tokens: Column, chunkTokens: Int, dropInvalid: Boolean,
      bestFit: Boolean): DataFrame = {
    require(partCols.nonEmpty, "partCols must be non-empty — a global " +
      "bin-pack is a one-task bottleneck by construction")
    requireFresh(df, "n_tokens", "chunk_id", "__items", "__a")
    val tok = tokens.cast(LongType)
    val invalid = tok.isNull || tok <= 0
    val base = if (dropInvalid) df.where(!invalid) else df
    val checked =
      if (dropInvalid) tok
      else when(invalid,
        raise_error(concat(
          lit("packBins: every row needs a positive token count; got "),
          coalesce(tok.cast("string"), lit("null"))))).otherwise(tok)
    // BFD iterates items by (tokens DESC, id); next-fit by id — encoded
    // in the sort-struct's leading field
    val sortKey =
      if (bestFit) struct((-checked).as("d"), col(id).as("i"), checked.as("t"))
      else struct(col(id).as("i"), checked.as("t"))
    // the sequential fold below is the query's CPU (O(items × bins) per
    // group) and runs ONE ROW PER GROUP — AQE's byte-based coalescing
    // sees a few kB of collected arrays and merges every group into one
    // task, serializing the folds. Fan the grouped rows back out when
    // small (graft.sources.Fanout — identity at scale, where post-agg
    // partitions are already parallel): round-robin is correct here
    // because each row carries its whole group's state.
    val grouped = graft.sources.Fanout.small(
      base
        .groupBy(partCols.map(col): _*)
        .agg(array_sort(collect_list(sortKey)).as("__items")))
    grouped
      .select(partCols.map(col) :+
        explode(expr(packBinsFold("__items", chunkTokens, bestFit)))
          .as("__a"): _*)
      .select(col("__a.i").as(id) +: partCols.map(col) :+
        col("__a.t").as("n_tokens") :+
        col("__a.b").cast(LongType).as("chunk_id"): _*)
  }

  /** Whole-document BEST-FIT-DECREASING packing — the discipline real
    * shard builders run when documents must stay intact (no span
    * splitting): items descend by token count, each goes to the fullest
    * bin that still fits (ties to the lowest bin index), else opens a
    * new bin; an over-budget document gets an overfull singleton. BFD
    * packs within 11/9·OPT + 6/9 bins (Dósa 2007, the tight FFD/BFD
    * bound) and typically recovers several percent of capacity over the
    * greedy-FIFO baseline ([[packBinsNextFit]]; q179 reports the
    * measured gap). Output `(id, partCols…, n_tokens, chunk_id)` with
    * `chunk_id` = 0-based bin.
    *
    * Scale shape: the fold is inherently sequential, so it runs PER
    * GROUP over a collected item array — group populations must be
    * shard-bounded (compose `partCols` with a hash-shard key for huge
    * groups, the [[packText]] caveat; packing quality is local to a
    * shard anyway, which is exactly how production packers buffer).
    * One shuffle (the groupBy), no further exchange; the fold state is
    * O(bins) and integer-exact, so the DuckDB oracle replays it as a
    * recursive CTE step for step. */
  def packBinsBfd(df: DataFrame, id: String, partCols: Seq[String],
      tokens: Column, chunkTokens: Int = 256,
      dropInvalid: Boolean = false): DataFrame =
    packBins(df, id, partCols, tokens, chunkTokens, dropInvalid,
      bestFit = true)

  /** Whole-document NEXT-FIT packing in id order — the greedy-FIFO
    * baseline [[packBinsBfd]] is measured against: each document lands
    * in the CURRENT bin if it fits, else opens a new one. Same output
    * shape and preconditions as BFD. */
  def packBinsNextFit(df: DataFrame, id: String, partCols: Seq[String],
      tokens: Column, chunkTokens: Int = 256,
      dropInvalid: Boolean = false): DataFrame =
    packBins(df, id, partCols, tokens, chunkTokens, dropInvalid,
      bestFit = false)

  /** Span-level sequence packing: unlike [[packChunks]] (whole-doc chunk
    * assignment), real training shards SPLIT a document that straddles a
    * chunk boundary — each doc emits one row per chunk it overlaps, with
    * the token span it contributes: `(chunk_id, chunk_offset,
    * doc_offset, span_tokens)`. Spans tile each chunk exactly
    * (`chunkTokens` per chunk, no gaps) and concatenate back to the doc
    * (doc_offset-ordered spans sum to n_tokens). Built ON TOP of the
    * [[withPackChunks]] window — the doc's global start is recovered as
    * `chunk_id·B + chunk_offset` (exact integer arithmetic), then a
    * map-only `explode(sequence(first_chunk, last_chunk))` fans out the
    * overlapped chunks: ONE window shuffle total, the fan-out costs no
    * exchange, and everything stays integer-exact for the oracle. Same
    * precondition and `dropInvalid` as [[packChunks]]. */
  def packSpans(df: DataFrame, id: String, partCols: Seq[String],
      tokens: Column, chunkTokens: Int = 256,
      dropInvalid: Boolean = false): DataFrame = {
    val b = lit(chunkTokens.toLong)
    val base = withPackChunks(df, id, partCols, tokens, chunkTokens, dropInvalid)
      .withColumn("__before", col("chunk_id") * b + col("chunk_offset"))
    base.select(col(id) +: partCols.map(col) :+ col("n_tokens") :+
        col("__before") :+
        explode(sequence(col("chunk_id"),
          floor((col("__before") + col("n_tokens") - 1) / b).cast("long")))
          .as("__c"): _*)
      .select(col(id) +: partCols.map(col) :+
        col("__c").as("chunk_id") :+
        greatest(col("__before"), col("__c") * b).as("__gs") :+
        least(col("__before") + col("n_tokens"), (col("__c") + 1) * b)
          .as("__ge") :+ col("__before"): _*)
      .select(col(id) +: partCols.map(col) :+
        col("chunk_id") :+
        (col("__gs") - col("chunk_id") * b).as("chunk_offset") :+
        (col("__gs") - col("__before")).as("doc_offset") :+
        (col("__ge") - col("__gs")).as("span_tokens"): _*)
  }

  /** Chunk assembly: the step after [[packChunks]] that emits the actual
    * training sequences — one row per (group, chunk) with the member
    * documents' text joined in id order by `sep` (the end-of-text token),
    * plus doc/token audit counts. One groupBy over the window output;
    * chunk populations are bounded by the token budget, so the per-group
    * collect is budget-sized, never corpus-sized — a bound that holds
    * BY CONSTRUCTION because [[withPackChunks]] rejects null/non-positive
    * token counts (which would pile into one chunk without advancing the
    * cumsum). Same precondition and `dropInvalid` escape hatch as
    * [[packChunks]]. */
  def packText(df: DataFrame, id: String, partCols: Seq[String],
      text: String, tokens: Column, chunkTokens: Int = 256,
      sep: String = " <|eot|> ", dropInvalid: Boolean = false): DataFrame =
    withPackChunks(df, id, partCols, tokens, chunkTokens, dropInvalid)
      .groupBy(partCols.map(col) :+ col("chunk_id"): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("chunk_tokens"),
        array_join(
          transform(array_sort(collect_list(struct(col(id), col(text)))),
            s => s.getField(text)),
          sep).as("chunk_text"))

  /** Per-stratum quantile-threshold keep flag — the distribution-relative
    * quality gate (e.g. "drop the shortest quartile per language", so one
    * language's length profile doesn't set another's bar). Emits every row
    * with its stratum threshold and `kept` = value >= threshold.
    *
    * `exact = true` computes the interpolated quantile exactly
    * (`percentile`) — right for oracle parity and moderate stratum counts,
    * but it buffers each stratum's values on one reducer. At 100 TB flip
    * to `exact = false` (`approx_percentile`, t-digest: map-side
    * combinable, bounded memory, rank error `eps`) — same plan shape,
    * streaming-friendly threshold. The threshold side is strata-sized
    * (tiny), broadcast back onto the corpus scan. */
  def quantileKeep(df: DataFrame, id: String, strata: String, value: Column,
      q: Double, exact: Boolean = true, eps: Double = 1e-4): DataFrame =
    applyThresholds(df, quantileThresholds(df, strata, value, q, exact, eps),
      id, strata, value)

  /** The per-stratum `(strata, thresh)` frame [[quantileKeep]] joins back —
    * exposed so other consumers can decouple threshold DERIVATION from
    * gate APPLICATION: [[graft.streaming.StreamingOps.quantileGate]] joins
    * a live stream against a static threshold frame computed here over an
    * already-ingested corpus (and periodically refreshed). */
  def quantileThresholds(df: DataFrame, strata: String, value: Column,
      q: Double, exact: Boolean = true, eps: Double = 1e-4): DataFrame = {
    val v = value.cast("double")
    val agg = if (exact) percentile(v, lit(q))
      else percentile_approx(v, lit(q), lit((1.0 / eps).toInt))
    df.groupBy(col(strata)).agg(round(agg, 6).as("thresh"))
  }

  /** Apply a `(strata, thresh)` frame to rows: emits EVERY row with its
    * stratum threshold and `kept` = value >= threshold. The join is a
    * broadcast LEFT join — a row whose stratum has no threshold row (a
    * novel stratum arriving on a stream before the threshold refresh)
    * is RETAINED with `thresh` null and `kept` = 0, the conservative
    * hold-until-known gate; an inner join would silently drop it, the
    * exact data-loss mode a gate must not have. The threshold side is
    * strata-sized (tiny) and broadcast — on a stream this makes the gate
    * a stateless map-side join, no shuffle of the data side. */
  def applyThresholds(df: DataFrame, thresholds: DataFrame, id: String,
      strata: String, value: Column): DataFrame =
    df.select(col(id), col(strata), value.cast("double").as("value"))
      .join(broadcast(thresholds), Seq(strata), "left")
      .select(col(id), col(strata), col("value"), col("thresh"),
        when(col("thresh").isNull, lit(0))
          .otherwise((col("value") >= col("thresh")).cast("int")).as("kept"))

  /** Per-stratum quota: keep the `k` best rows per stratum by `score`
    * (ties break to the smallest id for determinism), with the rank as an
    * audit column. One window per stratum — parallel across strata, and
    * per-task work is bounded by stratum size. For quotas over huge
    * strata, pre-filter with [[quantileKeep]] so the sort input is small.
    */
  def groupQuota(df: DataFrame, id: String, strata: String, score: Column,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    requireFresh(df, "rank")
    val w = Window.partitionBy(col(strata))
      .orderBy(score.desc, col(id))
    df.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Token-budget selection: walk each stratum best-score-first and keep
    * rows while the running token total stays within `budget` — the
    * corpus-mixing step that fills a per-language token budget with the
    * highest-quality documents. `cum_tokens` (inclusive) is the audit
    * column; a document that would overflow the budget is dropped, as are
    * all worse-scored ones (no best-fit backfill — deterministic and
    * single-pass, the 100 TB-friendly greedy). */
  def budgetSelect(df: DataFrame, id: String, strata: String, score: Column,
      tokens: Column, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    requireFresh(df, "cum_tokens", "__tok")
    val w = Window.partitionBy(col(strata))
      .orderBy(score.desc, col(id))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__tok", tokens.cast(LongType))
      .withColumn("cum_tokens", sum(col("__tok")).over(w))
      .where(col("cum_tokens") <= budget)
      .drop("__tok")
  }

  /** PII patterns — deliberately restricted to a regex subset with
    * identical semantics in Java regex (Spark codegen) and RE2 (DuckDB
    * oracle): literal classes, bounded repetition, `\b` word boundaries.
    * Order matters downstream: emails first (so their digit runs are gone
    * before the numeric patterns look), then IPv4, then long digit runs. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val LongNumRe = "\\b\\d{9,}\\b"

  /** PII redaction: emails -> `<EMAIL>`, IPv4 -> `<IP>`, 9+-digit runs
    * (ids, phone-shaped numbers) -> `<ID>`, plus a per-doc match count for
    * the audit trail. Pure `regexp_replace`/`regexp_extract_all` column
    * arithmetic — map-only, codegen'd, a free pass over the scan at any
    * corpus scale. */
  /** URL canonicalization — the key of the FIRST dedup stage of every
    * crawl pipeline (cheaper than any content dedup: the same page
    * re-crawled under a cosmetically different URL collapses before a
    * single byte of content is compared). Normalizations, each a
    * published crawler convention (RFC 3986 §6 syntax-based
    * normalization):
    *
    *  - scheme and host lowercase (case-insensitive per RFC);
    *    path/query keep their case (significant);
    *  - default port stripped (`:80` for http, `:443` for https; any
    *    other port is kept);
    *  - fragment stripped entirely (never sent to the server);
    *  - trailing slashes stripped from the path (root `/` collapses to
    *    the empty path — `http://a.com/` ≡ `http://a.com`);
    *  - query parameters sorted bytewise and rejoined (`?b=2&a=1` ≡
    *    `?a=1&b=2`); empty params dropped.
    *
    * Pure regexp/array column arithmetic (codegen'd, map-only) and
    * every step replays in DuckDB (anchored patterns, so Spark's
    * always-global regexp_replace and DuckDB's first-match default
    * agree). A string without a `scheme://` prefix passes through as
    * `trim(url)` — not this operator's job to guess. */
  def canonicalUrl(u: Column): Column = {
    val s = trim(u)
    val schemeRe = "^([A-Za-z][A-Za-z0-9+.\\-]*)://"
    val scheme = TextOps.lower(regexp_extract(s, schemeRe, 1))
    val noFrag = regexp_replace(regexp_replace(s, schemeRe, ""), "#.*$", "")
    val hostport0 = TextOps.lower(regexp_extract(noFrag, "^([^/?]*)", 1))
    val hostport = when(scheme === "http",
        regexp_replace(hostport0, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport0, ":443$", ""))
      .otherwise(hostport0)
    val pathq = regexp_replace(noFrag, "^[^/?]*", "")
    val path = regexp_replace(regexp_extract(pathq, "^([^?]*)", 1), "/+$", "")
    val query = regexp_replace(pathq, "^[^?]*\\??", "")
    val qSorted = array_join(
      array_sort(filter(split(query, "&"), x => x =!= "")), "&")
    when(scheme === "", s).otherwise(concat(
      scheme, lit("://"), hostport, path,
      when(qSorted === "", lit("")).otherwise(concat(lit("?"), qSorted))))
  }

  /** The canonical HOST of a URL — the [[canonicalUrl]] host rules
    * alone (lowercase, default port stripped): the aggregation key of
    * domain-level curation. Empty string when the input has no
    * `scheme://` prefix (not a URL this operator can parse — callers
    * filter or report the empty host as its own row). */
  def urlHost(u: Column): Column =
    regexp_extract(canonicalUrl(u), "^[a-z][a-z0-9+.\\-]*://([^/?]*)", 1)

  /** The suffix chain of a dotted host — `a.b.c → [a.b.c, b.c, c]` —
    * the indexable form of "domain OR any subdomain" matching. */
  private def hostSuffixChain(host: Column): Column = {
    val parts = split(host, "\\.")
    transform(sequence(lit(1), size(parts)),
      i => array_join(slice(parts, i, size(parts)), "."))
  }

  /** The segment-boundary prefix chain of `host/path` —
    * `h/p/1/x → [h, h/p, h/p/1, h/p/1/x]` — so a `path_prefix` rule
    * `h/p/1` matches `/p/1` and `/p/1/…` but never `/p/10`. */
  private def pathPrefixChain(hostPath: Column): Column = {
    val parts = split(hostPath, "/")
    transform(sequence(lit(1), size(parts)),
      i => array_join(slice(parts, lit(1), i), "/"))
  }

  /** URL BLOCKLIST filter — crawl stage zero alongside URL dedup (q174)
    * and host reputation (q187): classify every document against a
    * curated deny list of the three rule kinds real blocklists (UT1 and
    * kin) use — `host` (exact canonical host), `host_suffix` (the
    * domain and every subdomain), `path_prefix` (a canonical
    * `host/path` subtree at segment boundaries).
    *
    * The scale move: suffix and prefix rules are NOT evaluated as
    * `endsWith`/`startsWith` against a broadcast list (a nested-loop
    * over |rules| per row) — each URL explodes into its bounded suffix
    * chain (|labels| ≤ ~6) and segment-prefix chain (path depth), and
    * matching becomes hash EQUI-joins against the broadcast rule table:
    * O(depth) per row however many rules, the inverted form every
    * production URL filter uses. Precedence host > host_suffix >
    * path_prefix labels the match deterministically.
    *
    * Returns `(id, host, blocked, block_kind)` — block_kind "" when
    * kept. Canonicalization is [[canonicalUrl]], so cosmetic variants
    * of a blocked URL cannot slip past the filter. */
  def urlBlocklist(df: DataFrame, url: String, id: String,
      rules: DataFrame): DataFrame = {
    // fail loud on a typo'd rule kind — a silently ignored deny rule is
    // the worst failure mode a blocklist can have. Bounded action: the
    // rule table is small by contract (it broadcasts), and this reads
    // at most one bad row.
    val badKind = rules
      .where(!col("kind").isin("host", "host_suffix", "path_prefix"))
      .select("kind").limit(1).collect()
    require(badKind.isEmpty,
      s"unknown blocklist rule kind '${badKind.headOption.map(_.getString(0))
        .getOrElse("")}' — supported: host, host_suffix, path_prefix")
    val host = urlHost(col(url))
    val path = regexp_extract(canonicalUrl(col(url)),
      "^[a-z][a-z0-9+.\\-]*://[^/?]*([^?]*)", 1)
    val base = df.select(col(id), host.as("host"),
      concat(host, path).as("__hp"))
    def pats(kind: String) = broadcast(
      rules.where(col("kind") === kind).select(col("pattern").as("key")))
    def hit(subject: DataFrame, kind: String, flag: String) =
      subject.join(pats(kind), "key").select(col(id)).distinct()
        .withColumn(flag, lit(true))
    val h = hit(base.select(col(id), col("host").as("key")), "host", "__h")
    val sfx = hit(base.select(col(id),
      explode(hostSuffixChain(col("host"))).as("key")), "host_suffix", "__s")
    val pfx = hit(base.select(col(id),
      explode(pathPrefixChain(col("__hp"))).as("key")), "path_prefix", "__p")
    base.join(h, Seq(id), "left").join(sfx, Seq(id), "left")
      .join(pfx, Seq(id), "left")
      .select(col(id), col("host"),
        coalesce(col("__h"), col("__s"), col("__p"), lit(false))
          .as("blocked"),
        when(col("__h"), lit("host"))
          .when(col("__s"), lit("host_suffix"))
          .when(col("__p"), lit("path_prefix"))
          .otherwise(lit("")).as("block_kind"))
  }

  /** Everything [[scriptProfile]]'s named classes DON'T cover: not
    * Latin, not digit, not whitespace, not [[CjkCodepointClass]] —
    * punctuation, other scripts, symbols. Derived from the CJK class so
    * the two can never drift apart. */
  val OtherCharClass: String =
    "[^A-Za-z0-9\\s" +
      CjkCodepointClass.stripPrefix("[").stripSuffix("]") + "]"

  /** Per-document SCRIPT-MIX profile — the routing signal in front of
    * per-language pipelines (and the q173 segmentation switch): counts
    * of Latin letters, [[CjkCodepointClass]] codepoints, digits, and
    * other non-space characters, plus the dominant script under the
    * deterministic precedence cjk > latin > digit > other. Every count
    * is `regexp_extract_all` over a codepoint class — NEVER `length()`
    * arithmetic, which counts UTF-16 units in the JVM but characters in
    * DuckDB and would silently disagree on every supplementary-plane
    * codepoint. Map-only, one row per document. */
  def scriptProfile(df: DataFrame, text: String, id: String): DataFrame = {
    val t = col(text)
    def n(cls: String) =
      size(regexp_extract_all(t, lit(cls), lit(0))).cast(LongType)
    val latin = n("[A-Za-z]")
    val cjk = n(CjkCodepointClass)
    val digit = n("[0-9]")
    val other = n(OtherCharClass)
    df.select(col(id),
      latin.as("n_latin"), cjk.as("n_cjk"), digit.as("n_digit"),
      other.as("n_other"),
      when(cjk >= latin && cjk >= digit && cjk >= other, lit("cjk"))
        .when(latin >= digit && latin >= other, lit("latin"))
        .when(digit >= other, lit("digit"))
        .otherwise(lit("other")).as("main_script"))
  }

  /** HOST-LEVEL report card + reputation gate — the domain-filter stage
    * every crawl pipeline runs between URL dedup and content dedup
    * (C4/RefinedWeb drop whole domains before reading a byte of
    * content): per canonical host, document volume, DISTINCT canonical
    * pages, the milli-share of URL-duplicate documents, the milli-token
    * mean length, and the verdict `keep = url_dup_milli ≤ maxDupMilli`
    * (a host whose URLs mostly collapse to few pages is a crawler trap
    * / mirror farm). All INTEGER arithmetic (`(1000·a) div b` as exact
    * `(x − x mod b)/b`), so the gate hashes exactly.
    *
    * Scale: one map pass computes `(host, url-hash, token count)`; the
    * aggregates exchange only those — tens of bytes per doc, never the
    * URL string or the text. Output rows are |hosts|, driver-safe. */
  def hostReport(df: DataFrame, url: String, text: String,
      maxDupMilli: Long): DataFrame = {
    def milli(num: Column, den: Column): Column = {
      val a = lit(1000L) * num
      ((a - pmod(a, den)) / den).cast(LongType)
    }
    df.where(col(text).isNotNull)
      .select(urlHost(col(url)).as("host"),
        portableHash(canonicalUrl(col(url)), 23).as("__uh"),
        size(tokens(col(text))).cast(LongType).as("__nt"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("__uh")).as("n_pages"),
        sum(col("__nt")).as("__st"))
      .select(col("host"), col("n_docs"), col("n_pages"),
        milli(col("n_docs") - col("n_pages"), col("n_docs"))
          .as("url_dup_milli"),
        milli(col("__st"), col("n_docs")).as("mean_tokens_milli"))
      .withColumn("keep", col("url_dup_milli") <= lit(maxDupMilli))
  }

  /** VOCABULARY-GROWTH audit (the Heap's-law curve): cumulative
    * distinct-word count at `bins` equal-rank corpus checkpoints, with
    * the document and running-word volume at each — natural text grows
    * its vocabulary as a power of corpus size (Heaps 1978,
    * `V ≈ K·n^β`, β ≈ 0.4–0.6); a curve that flattens early flags
    * template/boilerplate-heavy or synthetic data, one that stays
    * near-linear flags OCR noise or mixed encodings. Checkpoints are
    * exact: docs ranked by `id` ASC (the distributed two-pass ordinal
    * — no global window), bin `((rank−1)·bins) div n`, checkpoint =
    * the bin's max id; a word's first appearance is `min(id)` over its
    * occurrences (one hash-keyed aggregate); the cumulative counts are
    * ≤-joins against the broadcast `bins`-row checkpoint frame — the
    * corpus is scanned, never re-shuffled, per checkpoint. Output:
    * `(bin, cut_id, docs_cum, words_cum, vocab_cum)`. */
  def vocabGrowth(df: DataFrame, text: String, id: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    def idiv(num: Column, den: Column): Column =
      ((num - pmod(num, den)) / den).cast(LongType)
    val dd = df.where(col(text).isNotNull)
    val perDoc = dd.select(col(id),
      size(filter(tokens(col(text)), t => t =!= ""))
        .cast(LongType).as("__nt"))
    val ranked = graft.engine.SeriesOps.withTimeId(perDoc,
      Seq(col(id)), as = "__rk")
    val tot = ranked.agg(count(lit(1)).cast(LongType).as("__n"))
    val cuts = ranked.crossJoin(broadcast(tot))
      .withColumn("bin",
        idiv((col("__rk") - 1) * lit(bins.toLong), col("__n")))
      .groupBy("bin").agg(max(col(id)).as("cut_id"))
    val firstSeen = dd
      .select(col(id), explode(tokens(col(text))).as("__w"))
      .where(col("__w") =!= "")
      .groupBy("__w").agg(min(col(id)).as("__fd"))
    val vocabCum = firstSeen
      .join(broadcast(cuts), col("__fd") <= col("cut_id"))
      .groupBy("bin", "cut_id").agg(count(lit(1)).as("vocab_cum"))
    val volCum = perDoc
      .join(broadcast(cuts), col(id) <= col("cut_id"))
      .groupBy("bin", "cut_id")
      .agg(count(lit(1)).as("docs_cum"), sum(col("__nt")).as("words_cum"))
    volCum.join(vocabCum, Seq("bin", "cut_id"))
      .select(col("bin"), col("cut_id"), col("docs_cum"),
        col("words_cum"), col("vocab_cum"))
  }

  /** CCNet/RefinedWeb-style LINE-LEVEL boilerplate removal: a line whose
    * document frequency (number of DISTINCT documents containing it
    * verbatim) reaches `minDf` is boilerplate — navigation chrome,
    * cookie banners, share buttons, footers, the single highest-volume
    * junk class in any web crawl — and every occurrence is dropped from
    * every document; each document's surviving lines re-join in their
    * original order. Appends `text_clean`, `n_lines`, `n_removed`
    * (extension; line-wise filtering per CCNet, Wenzek 2019 §4.1, and
    * RefinedWeb, Penedo 2023 §3.3).
    *
    * Scale shape: line STRINGS never leave their document's row — the
    * frequency pass explodes the per-line HASH array (8 B rows, deduped
    * in-doc by `array_distinct` so an internally repeated line counts
    * once), the heavy set (df ≥ minDf — the Zipf head, small by
    * construction) broadcasts back onto that hash stream, and the only
    * exchange carrying document text is the final id-keyed join that
    * delivers the rewrite — one corpus pass, which any rewriting
    * operator pays. The rewrite itself is map-side array arithmetic
    * (`filter` + `array_join`) over the document's own line array
    * against its (tiny) per-document heavy-hash set. */
  def dropBoilerplateLines(df: DataFrame, text: String, id: String,
      minDf: Int, seed: Int = 31): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    val heavy = lineDfPartial(df, text, id, seed)
      .where(col("__df") >= minDf).select("__lh")
    dropBoilerplateLinesWith(df, text, id, heavy, seed)
  }

  /** The per-batch LINE-DF PARTIAL for a maintained boilerplate index:
    * `(__lh, __df)` — distinct-per-document line-hash counts
    * ([[portableHash]] of the verbatim line, `seed`). ADDITIVE across
    * batches whenever each document arrives in exactly one batch, so
    * an incremental crawl appends one partial per batch and rolls the
    * global document frequency up with a plain SUM — the corpus text
    * never re-scans (q248's maintained form; [[dropBoilerplateLines]]
    * is this partial + the apply below in one pass). */
  def lineDfPartial(df: DataFrame, text: String, id: String,
      seed: Int = 31): DataFrame = {
    // per-doc DISTINCT line hashes: document frequency, not term frequency
    df.select(col(id),
        explode(array_distinct(
          transform(split(col(text), "\n"), l => portableHash(l, seed))))
          .as("__lh"))
      .groupBy("__lh").agg(count(lit(1)).as("__df"))
  }

  /** [[dropBoilerplateLines]] with the heavy-line set SUPPLIED by the
    * caller: `heavy` is a 1-column frame of `__lh` line hashes (same
    * `seed`), e.g. the `df ≥ minDf` rollup of maintained
    * [[lineDfPartial]] appends — identical removal semantics, which is
    * what lets an incremental build equal the batch rebuild bit for
    * bit. */
  def dropBoilerplateLinesWith(df: DataFrame, text: String, id: String,
      heavy: DataFrame, seed: Int = 31): DataFrame = {
    requireFresh(df, "text_clean", "n_lines", "n_removed", "__lh", "__heavy")
    val lines = split(col(text), "\n")
    val lh = df.select(col(id),
      explode(array_distinct(transform(lines, l => portableHash(l, seed))))
        .as("__lh"))
    val docHeavy = lh.join(broadcast(heavy.select("__lh")), "__lh")
      .groupBy(col(id)).agg(collect_set(col("__lh")).as("__heavy"))
    val kept = filter(lines,
      l => !array_contains(col("__heavy"), portableHash(l, seed)))
    df.join(docHeavy, Seq(id), "left")
      .withColumn("text_clean",
        when(col("__heavy").isNull, col(text))
          .otherwise(array_join(kept, "\n")))
      .withColumn("n_lines", size(lines).cast(LongType))
      .withColumn("n_removed",
        when(col("__heavy").isNull, lit(0L))
          .otherwise((size(lines) - size(kept)).cast(LongType)))
      .drop("__heavy")
  }

  /** HTML tag pattern — lookaround-free (RE2-common subset, the
    * [[CardRe]] rule) so the oracle scans with the identical regex. */
  val HtmlTagRe = "<[^>]*>"

  /** HTML STRIP — the text-extraction stage between raw crawl payloads
    * and every text operator in this file (tokenize/quality/dedup all
    * assume plain text; run on raw HTML they'd count tag soup as
    * vocabulary). Tags become single spaces (so `a</p><p>b` cannot fuse
    * into one token), the five standard entities plus `&nbsp;` decode
    * (in `&amp;`-LAST order — decoding it first would double-decode
    * `&amp;lt;`, the classic bug), and whitespace collapses. Map-only
    * codegen'd regexp/replace chain, zero UDFs, replayed verbatim in
    * the oracle. Returns `(id, n_tags, text_clean)`. A full parser this
    * is not (CDATA, comments, script bodies survive as text) — it is
    * the regex tier production pipelines run BEFORE a DOM-based
    * boilerplate pass ([[dropBoilerplateLines]] is that next tier
    * here). */
  def stripHtml(df: DataFrame, text: String, id: String): DataFrame = {
    val t = col(text)
    val noTags = regexp_replace(t, HtmlTagRe, " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (ent, ch)) => replace(c, lit(ent), lit(ch)) }
    df.select(col(id),
      size(regexp_extract_all(t, lit(HtmlTagRe), lit(0))).cast(LongType)
        .as("n_tags"),
      trim(regexp_replace(decoded, "\\s+", " ")).as("text_clean"))
  }

  /** Card-number candidate pattern: a MAXIMAL digit run of 16+ digits.
    * Greedy left-to-right scanning makes every match a full run
    * (digit-bounded on both sides by construction), so filtering to
    * length == 16 yields digit-boundary-anchored candidates WITHOUT
    * lookaround — Spark regexes are java.util.regex but DuckDB's are
    * RE2 (no lookbehind), and the oracle must scan with the IDENTICAL
    * pattern. A bare `[0-9]{16}` would instead take the first 16
    * digits of a 17+-digit order number / hash as a candidate. */
  val CardRe = "[0-9]{16,}"

  /** Luhn checksum validity (ISO/IEC 7812) of a pure-digit string:
    * from the RIGHT, double every second digit (subtracting 9 when the
    * double exceeds 9) and require the total ≡ 0 mod 10. Pure integer
    * higher-order-function arithmetic — `aggregate` over the position
    * sequence, codegen-friendly, zero UDFs — replayed in the oracle as
    * the identical `list_sum(list_transform(...))`. */
  def luhnValid(digits: Column): Column = {
    val n = length(digits)
    val total = aggregate(sequence(lit(1), n), lit(0L), (acc, p) => {
      val dig = (ascii(digits.substr(n - p + lit(1), lit(1))) - lit(48))
        .cast(LongType)
      val dbl = dig * 2
      acc + when(pmod(p, lit(2)) === 0,
        when(dbl > 9, dbl - 9).otherwise(dbl)).otherwise(dig)
    })
    // the empty sum is 0 ≡ 0 (mod 10): without the length guard an
    // empty string would validate — unreachable through [[CardRe]]'s
    // fixed-width candidates, but this is a public predicate
    n > 0 && pmod(total, lit(10)) === 0
  }

  /** CHECKSUM-VALIDATED card redaction — the false-positive control
    * production PII scrubbers rely on: a 16-digit run is only PII when
    * its Luhn checksum verifies (1 in 10 random digit runs passes by
    * chance; order numbers, hashes, and timestamps overwhelmingly
    * don't), so redacting on the raw regex (q66's `<ID>` tier) would
    * mangle benign identifiers while the validated tier removes
    * exactly the plausible card numbers. Map-only like the rest of the
    * PII family: extract candidates, filter through [[luhnValid]],
    * fold the survivors into `replace`-redactions — no exchange, no
    * UDF, the whole row pipeline inside one codegen stage. Returns
    * `(id, n_candidates, n_valid, text_redacted)`. */
  def redactCards(df: DataFrame, text: String, id: String): DataFrame = {
    // Candidates are maximal digit runs of EXACTLY 16 digits (see
    // [[CardRe]]), and replacement is sentinel-delimited: every 16+ run is
    // wrapped in u0001-sentinels first, and only the sentinel-delimited card is replaced —
    // so a valid card's digit sequence occurring INSIDE a longer run
    // elsewhere in the document is never rewritten (a plain substring
    // replace would mangle it). The sentinel (a control char no
    // legitimate text carries) is reserved up front and stripped at the
    // end, keeping the whole pipeline map-only and exchange-free.
    val S = "\u0001"
    val t0 = replace(col(text), lit(S), lit(""))
    val runs = regexp_extract_all(t0, lit(CardRe), lit(0))
    val cands = filter(runs, c => length(c) === 16)
    val valid = filter(cands, c => luhnValid(c))
    val wrapped = regexp_replace(t0, s"($CardRe)", S + "$1" + S)
    df.select(col(id),
      size(cands).cast(LongType).as("n_candidates"),
      size(valid).cast(LongType).as("n_valid"),
      replace(aggregate(valid, wrapped,
          (acc, c) => replace(acc, concat(lit(S), c, lit(S)), lit("<CARD>"))),
        lit(S), lit("")).as("text_redacted"))
  }

  def redactPii(df: DataFrame, text: String, id: String): DataFrame = {
    val t = col(text)
    // each count runs on the PREVIOUS stage's output (emails gone before
    // the IP count, IPs gone before the digit-run count) so n_pii always
    // equals the number of replacements actually made, even when patterns
    // overlap (an IPv4-shaped email domain is ONE email redaction, not two)
    val t1 = regexp_replace(t, EmailRe, "<EMAIL>")
    val t2 = regexp_replace(t1, Ipv4Re, "<IP>")
    val nPii = (size(regexp_extract_all(t, lit(EmailRe), lit(0))) +
      size(regexp_extract_all(t1, lit(Ipv4Re), lit(0))) +
      size(regexp_extract_all(t2, lit(LongNumRe), lit(0)))).cast(LongType)
    df.select(col(id),
      regexp_replace(t2, LongNumRe, "<ID>").as("text_redacted"),
      nPii.as("n_pii"))
  }

  /** Per-document top term by TF-IDF over the corpus: tf = in-doc term
    * count, idf = ln(N / df) with df = number of documents containing the
    * term. `dfreq` is written as a re-aggregation of `tf`; Catalyst prunes
    * the count off that branch and derives the lean distinct-(id,w) form,
    * which means the corpus IS tokenized twice — the deliberate trade:
    * both aggregations partial-combine map-side, where the alternative
    * (dfreq as a count window partitioned by term) would buffer every
    * occurrence of a common term in one window partition — a skew
    * time-bomb at corpus scale. Tokenization is embarrassingly parallel
    * map work; skewed shuffles are not. Ties break to the
    * lexicographically smallest term for determinism. */
  def tfidfTopTerm(df: DataFrame, text: String, id: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // corpus size as a broadcast 1-row aggregate, not a driver-side count():
    // the plan stays fully lazy and N is computed inside the same job
    val nDf = df.agg(count(lit(1)).cast("double").as("__n"))
    val tok = df.select(col(id), explode(tokens(col(text))).as("w"))
    // tf feeds both the dfreq re-aggregation and the scored join;
    // materialized once so the corpus isn't re-tokenized per branch (was 6
    // scans in one plan). OWNERSHIP: the checkpoint stays a leaf of the
    // returned frame — consumers release the result after the final
    // evaluation (Bench/Verify do).
    val tf = graft.engine.Checkpoints.mark(
      tok.groupBy(col(id), col("w")).agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("dfreq"))
    val scored = tf.join(dfreq, "w")
      .crossJoin(broadcast(nDf))
      .withColumn("score", col("tf") * log(col("__n") / col("dfreq")))
      .drop("__n")
    val win = Window.partitionBy(col(id)).orderBy(col("score").desc, col("w"))
    scored.withColumn("__rn", row_number().over(win))
      .where(col("__rn") === 1)
      .select(col(id), col("w").as("top_term"), round(col("score"), 6).as("score"))
  }

  /** CCNet-style unigram language-model quality score: per-document
    * cross-entropy under the corpus's own unigram distribution,
    * `xent = (1/n) * sum over token occurrences of ln(T / c_w)` where
    * `c_w` is the corpus count of token `w` and `T` the corpus total —
    * low = stereotypical/common text, high = rare-token (often noisy)
    * text. The production filter drops by a per-language xent band; this
    * emits the score (plus the token count) so any band can be applied.
    *
    * Scale shape: token occurrences never leave their partition — the
    * per-doc term frequency `tf` is the FIRST aggregation (map-side
    * combinable, and its `(id, w, tf)` rows are the distinct per-doc
    * terms, not occurrences), the model `c_w` is a re-aggregation of
    * `tf` (vocab-sized — Heaps' law keeps it sublinear in corpus size),
    * and the scoring join is keyed on the term with the vocab side
    * eligible for AQE broadcast. The total `T` is a broadcast 1-row
    * aggregate, never a driver-side action. `tf` is checkpointed once so
    * the corpus is not re-tokenized for the model branch (same trade as
    * [[tfidfTopTerm]] — OWNERSHIP: consumers release the returned frame
    * after the final evaluation; Bench/Verify do). */
  def unigramXent(df: DataFrame, text: String, id: String): DataFrame = {
    val tok = df.where(col(text).isNotNull)
      .select(col(id), explode(tokens(col(text))).as("w"))
    val tf = graft.engine.Checkpoints.mark(
      tok.groupBy(col(id), col("w")).agg(count(lit(1)).as("tf")))
    val cnt = tf.groupBy("w").agg(sum("tf").as("c"))
    val tot = cnt.agg(sum("c").cast("double").as("__t"))
    tf.join(cnt, "w")
      .crossJoin(broadcast(tot))
      .groupBy(col(id))
      .agg(sum("tf").as("n_tokens"),
        round(sum(col("tf").cast("double") * log(col("__t") / col("c")))
          / sum("tf"), 4).as("xent"))
  }

  /** Corpus unigram counts `(w, c)` — the trainable half of the frozen-LM
    * scoring path ([[unigramXentAgainst]]). One explode + one map-side-
    * combinable groupBy; persist the result like any model artifact and
    * reuse it across scoring runs. */
  def unigramModel(df: DataFrame, text: String): DataFrame =
    df.where(col(text).isNotNull)
      .select(explode(tokens(col(text))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))

  /** The FROZEN-model form of [[unigramXent]] — the production shape:
    * train the unigram counts once ([[unigramModel]], typically persisted),
    * then score any frame against that STATIC model — a later ingest
    * batch, a different corpus, or a streaming micro-batch (stream-static
    * join; StreamingSpec pins stream ≡ batch). [[unigramXent]] scores a
    * corpus against itself (model derived from the same tokenize pass);
    * this scores against a model the frame never contributed to, which is
    * what a quality gate in an ingest pipeline actually does.
    *
    * Out-of-vocabulary tokens (impossible in the self-scored form) take
    * count `oovCount` (default 1: as rare as a hapax legomenon) — never
    * null, never -Infinity. Same scale shape as [[unigramXent]]: per-doc
    * tf first (occurrences never shuffle), vocab-sized model join (AQE
    * broadcasts a small model), broadcast 1-row total. */
  def unigramXentAgainst(df: DataFrame, model: DataFrame, text: String,
      id: String, oovCount: Long = 1L): DataFrame = {
    val tot = model.agg(sum("c").cast("double").as("__t"))
    val tf = df.where(col(text).isNotNull)
      .select(col(id), explode(tokens(col(text))).as("w"))
      .groupBy(col(id), col("w")).agg(count(lit(1)).as("tf"))
    tf.join(model, Seq("w"), "left")
      .crossJoin(broadcast(tot))
      .groupBy(col(id))
      .agg(sum("tf").as("n_tokens"),
        round(sum(col("tf").cast("double") *
          log(col("__t") / coalesce(col("c"), lit(oovCount)).cast("double")))
          / sum("tf"), 4).as("xent"))
  }

  /** Frozen BIGRAM-LM cross-entropy — the next step up from the unigram
    * gate ([[unigramXentAgainst]]) and the shape of a real perplexity
    * filter (CCNet's KenLM gate): add-one-smoothed conditional
    * `p(w_i | w_{i−1}) = (c2(w_{i−1} w_i) + 1) / (c1(w_{i−1}·) + V)`,
    * `xent = −(1/n) Σ ln p` over a doc's n bigrams. Both model tables
    * derive from `train` ONLY (the scored frame never contributes —
    * train on the q58 train split, score everything); `c1` counts
    * tokens-with-a-successor, so the conditional normalizes exactly;
    * unseen bigrams/prefixes back off through the +1 / +V smoothing —
    * never null, never −∞. Docs with < 2 tokens have no bigram and drop.
    *
    * Shuffle discipline: bigrams HASH inside the explode projection
    * (the [[graft.operators.Dedup.winnowFingerprints]] stage shape), so
    * corpus-sized exchanges carry `(id, bh, ph, tf)` — never gram text
    * (collision odds ~2⁻⁶⁰/pair, the repetitionRatio discipline); the
    * per-doc tf aggregate is map-side-combinable; both model tables are
    * vocab-bounded and AQE-broadcast; V is a 1-row broadcast. */
  def bigramXentAgainst(df: DataFrame, train: DataFrame, text: String,
      id: String, seed: Int = 151): DataFrame = {
    val toks = tokens(col(text))
    // (keep..., bh, ph) — one row per bigram occurrence, hashed in-stage
    def bigramHashes(d: DataFrame, keep: Seq[String]): DataFrame = {
      val m = size(col("__toks")) - 1
      d.where(col(text).isNotNull && size(toks) >= 2)
        .select(keep.map(col) :+ toks.as("__toks"): _*)
        .select(keep.map(col) :+ explode(zip_with(
          slice(col("__toks"), lit(1), m), slice(col("__toks"), lit(2), m),
          (x, y) => struct(concat(x, lit(" "), y).as("g"), x.as("p"))))
          .as("__e"): _*)
        .select(keep.map(col) :+
          portableHash(col("__e.g"), seed).as("bh") :+
          portableHash(col("__e.p"), seed).as("ph"): _*)
    }
    val tb = bigramHashes(train, Seq.empty)
    val bgModel = tb.groupBy("bh").agg(count(lit(1)).as("c2"))
    val pfModel = tb.groupBy("ph").agg(count(lit(1)).as("c1"))
    val vocab = train.where(col(text).isNotNull)
      .select(explode(toks).as("w"))
      .agg(countDistinct("w").as("__v"))
    val tf = bigramHashes(df, Seq(id))
      .groupBy(col(id), col("bh"), col("ph")).agg(count(lit(1)).as("tf"))
    tf.join(bgModel, Seq("bh"), "left")
      .join(pfModel, Seq("ph"), "left")
      .crossJoin(broadcast(vocab))
      .groupBy(col(id))
      .agg(sum("tf").as("n_bigrams"),
        round(-sum(col("tf").cast("double") *
          log((coalesce(col("c2"), lit(0L)) + 1).cast("double") /
            (coalesce(col("c1"), lit(0L)) + col("__v")).cast("double")))
          / sum("tf"), 4).as("xent"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): per-document
    * log-likelihood ratio between a TARGET distribution (the data you
    * want more of — a high-quality subset, a domain) and the RAW pool's
    * own distribution, over unigram features:
    * `dsir = Σ_w tf_w · (ln(p_target(w)) − ln(p_raw(w)))`. Selecting
    * top-weight documents importance-resamples the pool toward the
    * target. Target-OOV tokens back off to count `oovCount` (the q95
    * hapax discipline); raw counts are derived from the SAME per-doc tf
    * frame being scored, so every scored token has a raw count by
    * construction.
    *
    * Shuffle discipline mirrors [[unigramXent]]: per-doc tf is the FIRST
    * (map-side-combinable) aggregate so document text never shuffles;
    * the raw model is a vocab-sized re-agg of tf; the target model and
    * both 1-row totals join as broadcasts. At 100 TB the only
    * corpus-sized exchanges carry `(id, w, tf)`. */
  def dsirWeights(raw: DataFrame, target: DataFrame, text: String,
      id: String, oovCount: Long = 1L): DataFrame = {
    val tgtModel = unigramModel(target, text)
    val tTot = tgtModel.agg(sum("c").cast("double").as("__tt"))
    val tf = raw.where(col(text).isNotNull)
      .select(col(id), explode(tokens(col(text))).as("w"))
      .groupBy(col(id), col("w")).agg(count(lit(1)).as("tf"))
    val rawModel = tf.groupBy("w").agg(sum("tf").as("rc"))
    val rTot = rawModel.agg(sum("rc").cast("double").as("__rt"))
    tf.join(broadcast(tgtModel.withColumnRenamed("c", "tc")), Seq("w"), "left")
      .join(broadcast(rawModel), Seq("w"))
      .crossJoin(broadcast(tTot))
      .crossJoin(broadcast(rTot))
      .groupBy(col(id))
      .agg(sum("tf").as("n_tokens"),
        round(sum(col("tf").cast("double") *
          (log(coalesce(col("tc"), lit(oovCount)).cast("double") / col("__tt"))
            - log(col("rc").cast("double") / col("__rt")))), 4).as("dsir"))
  }

  /** Deterministic weighted sampling (Efraimidis & Spirakis 2006,
    * algorithm A-ES): each row draws `key = -ln(u) / w` where `u ∈ (0,1]`
    * is a DETERMINISTIC uniform derived from the portable id hash (so the
    * sample is reproducible and any engine can replay it — the whole
    * point for an auditable curation pipeline), and the k SMALLEST keys
    * are a weighted sample without replacement: row i's inclusion
    * probability is proportional to `w_i` in the sense of successive
    * weighted draws. Map-only key derivation + TakeOrderedAndProject —
    * no shuffle, no join; at 100 TB each executor keeps a k-row heap.
    * Keys are 6-dp-rounded BEFORE ranking so replaying engines rank the
    * identical values (ties break by id). */
  def weightedSample(df: DataFrame, id: String, weight: Column, k: Int,
      seed: Int = 97): DataFrame = {
    // portableHash ∈ [0, 2^60): u = (h + 1) / 2^60 ∈ (0, 1] — never 0,
    // so ln(u) is finite; 2^60 as a Long literal is double-exact
    val u = (portableHash(col(id).cast("string"), seed).cast("double") + 1.0) /
      lit(1152921504606846976L).cast("double")
    df.select(col(id), weight.cast("double").as("w"),
        round(-log(u) / weight.cast("double"), 6).as("es_key"))
      .orderBy(col("es_key").asc, col(id).asc)
      .limit(k)
  }

  /** Per-stratum deterministic weighted sample: [[weightedSample]]'s
    * A-ES keys ranked WITHIN each stratum — the per-language /
    * per-source quota draw where each stratum contributes its
    * `kPerStratum` best keys and inclusion within a stratum is
    * probability-proportional-to-weight. ONE window shuffle keyed on the
    * stratum (parallel across strata — never a global sort), key
    * derivation map-only, keys 6-dp-rounded before ranking (replaying
    * engines rank identical values; ties break by id). */
  def weightedSamplePerStratum(df: DataFrame, id: String, strata: String,
      weight: Column, kPerStratum: Int, seed: Int = 97): DataFrame = {
    val u = (portableHash(col(id).cast("string"), seed).cast("double") + 1.0) /
      lit(1152921504606846976L).cast("double")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strata)).orderBy(col("es_key").asc, col(id).asc)
    df.select(col(id), col(strata), weight.cast("double").as("w"),
        round(-log(u) / weight.cast("double"), 6).as("es_key"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= kPerStratum)
  }

  /** Curriculum bucketing by a score column (e.g. [[unigramXent]]'s
    * cross-entropy): bucket 1 = the easiest quantile, `nBuckets` = the
    * hardest — the ordering curriculum-training pipelines feed batches
    * by. The SCALE-CORRECT form: exact quantile thresholds from one
    * (nBuckets−1)-value aggregate, broadcast back, bucket = `1 +
    * Σ(score > tᵢ)` map-only — never a global sort or single-partition
    * ntile. Thresholds interpolate the same multiset in both engines, so
    * the oracle replays them exactly. */
  def curriculumBuckets(scored: DataFrame, id: String, score: String,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, s"need at least 2 buckets, got $nBuckets")
    val probs = (1 until nBuckets).map(i => i.toDouble / nBuckets)
    val th = scored.agg(
      expr(s"percentile($score, array(${probs.mkString(", ")}))").as("__ts"))
    scored.crossJoin(broadcast(th))
      .withColumn("bucket",
        lit(1) + aggregate(col("__ts"), lit(0),
          (acc, t) => acc + when(col(score) > t, 1).otherwise(0)))
      .drop("__ts")
  }

  /** BM25 document scoring against a fixed term set (Robertson et al.,
    * the Okapi/Lucene form: `idf = ln(1 + (N − df + 0.5)/(df + 0.5))`,
    * `tf·(k1+1) / (tf + k1·(1 − b + b·len/avgLen))`) — the standard
    * lexical retrieval scorer, used in curation to mine target-domain
    * documents from a crawl by keyword profile.
    *
    * Scale shape: tokens are FILTERED to the query terms before anything
    * aggregates, so the per-doc tf frame is bounded by `|terms| · docs`,
    * not corpus token count; doc lengths are a map-only column; N/avgLen
    * are a broadcast 1-row aggregate and the per-term df a broadcast
    * |terms|-row aggregate. Emits every doc containing ≥ 1 term:
    * `(id, n_hit_terms, score)`, 4-dp-rounded. */
  def bm25(df: DataFrame, text: String, id: String, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val termArr = array(terms.map(t => lit(t.toLowerCase)): _*)
    val base = df.where(col(text).isNotNull)
      .select(col(id), tokens(col(text)).as("__toks"))
      .select(col(id), size(col("__toks")).cast("double").as("__len"),
        filter(col("__toks"), t => array_contains(termArr, t)).as("__hits"))
    val stats = base.agg(count(lit(1)).cast("double").as("__n"),
      avg(col("__len")).as("__avg"))
    val tf = base
      .select(col(id), col("__len"), explode(col("__hits")).as("__t"))
      .groupBy(col(id), col("__len"), col("__t"))
      .agg(count(lit(1)).cast("double").as("__tf"))
    val dfT = tf.groupBy("__t").agg(count(lit(1)).cast("double").as("__df"))
    tf.join(broadcast(dfT), "__t")
      .crossJoin(broadcast(stats))
      .withColumn("__idf",
        log(lit(1.0) + (col("__n") - col("__df") + 0.5) / (col("__df") + 0.5)))
      .withColumn("__s",
        col("__idf") * col("__tf") * (k1 + 1) /
          (col("__tf") + lit(k1) * (lit(1 - b) + lit(b) * col("__len") / col("__avg"))))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_hit_terms"), round(sum("__s"), 4).as("score"))
  }

  /** The stopword list Gopher's "required words" rule draws from (Rae et
    * al. 2021, Table A1: a document must contain at least N of these). */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style document quality rules (Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", Table A1) — the word-count bounds,
    * mean-word-length window, symbol-to-word ratio (`#` and `...`),
    * bullet-line / ellipsis-line fractions, alphabetic-word ratio, and
    * required-stopword count, plus the conjunction `keep` flag. Entirely
    * map-only column arithmetic over the token/line arrays (no explode,
    * no shuffle, no UDF); ratios are 4-dp-rounded and `keep` is derived
    * from the ROUNDED values so any engine replaying the arithmetic
    * reaches the identical boolean. At 100 TB this is a projection — it
    * composes into any scan at zero extra passes. */
  def gopherFlags(df: DataFrame, text: String, id: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, maxBulletRatio: Double = 0.9,
      maxEllipsisRatio: Double = 0.3, minAlphaRatio: Double = 0.8,
      minStopwordHits: Int = 2): DataFrame = {
    val t = col(text)
    val toks = tokens(t)
    val nWords = size(toks).cast("double")
    val meanLen = round(
      aggregate(transform(toks, w => length(w).cast("long")), lit(0L),
        (a, e) => a + e).cast("double") / nWords, 4)
    // '#' occurrences + '...' occurrences (counted non-overlapping, the
    // replace-and-diff form both engines compute identically)
    val nHash = length(t) - length(regexp_replace(t, "#", ""))
    val nEll = (length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3
    val symbolRatio = round((nHash + nEll).cast("double") / nWords, 4)
    // line rules on the RAW text (bullets/ellipses are case-exact)
    val lines = split(t, "\n")
    val nLines = size(lines).cast("double")
    val bulletRatio = round(size(filter(lines, l => {
      val s = ltrim(l)
      s.startsWith("- ") || s.startsWith("* ") || s.startsWith("•")
    })).cast("double") / nLines, 4)
    val ellipsisRatio = round(size(filter(lines,
      l => l.endsWith("..."))).cast("double") / nLines, 4)
    val alphaRatio = round(size(filter(toks,
      w => w.rlike("[a-z]"))).cast("double") / nWords, 4)
    val stops = array(GopherStops.map(lit): _*)
    val stopHits = size(filter(stops, s => array_contains(toks, s)))
    df.select(col(id),
        size(toks).as("n_words"), meanLen.as("mean_word_len"),
        symbolRatio.as("symbol_ratio"), bulletRatio.as("bullet_ratio"),
        ellipsisRatio.as("ellipsis_ratio"), alphaRatio.as("alpha_ratio"),
        stopHits.as("stop_hits"))
      .withColumn("keep",
        col("n_words").between(minWords, maxWords) &&
        col("mean_word_len").between(minMeanLen, maxMeanLen) &&
        col("symbol_ratio") <= maxSymbolRatio &&
        col("bullet_ratio") <= maxBulletRatio &&
        col("ellipsis_ratio") <= maxEllipsisRatio &&
        col("alpha_ratio") >= minAlphaRatio &&
        col("stop_hits") >= minStopwordHits)
  }

  /** Hashed-feature linear quality classifier — INFERENCE of a frozen
    * model (the fastText-style learned filter of the CCNet /
    * FineWeb-Edu pipelines: training happens offline, the pipeline
    * ships the weights). Features are hashed token buckets
    * ([[portableHash]] mod D — the hashing trick, Weinberger et al.
    * 2009), so the model is a D-vector regardless of vocabulary, and a
    * linear model over token counts needs no tf vector at all: each
    * occurrence just adds its bucket's weight, one in-array fold —
    * `logit = bias + Σ_token w[bucket(token)]`.
    *
    * Weights are INTEGER milli-units and the fold accumulates a BIGINT,
    * so `logit_milli` is EXACT — no float-accumulation-order ambiguity
    * between engines — and `keep = logit_milli >= 0` (⇔ sigmoid ≥ 0.5)
    * is decided in integer space. `score` = sigmoid(logit/1000) rounded
    * to 6 dp is the reported probability (the only float, computed once
    * from the exact integer). One map-only projection: no explode, no
    * shuffle, no UDF — at 100 TB the cost is one scan, and the same
    * expression scores a streaming micro-batch unchanged. */
  def hashedLogisticScore(df: DataFrame, text: String, id: String,
      weightsMilli: Seq[Int], biasMilli: Long, seed: Int = 97): DataFrame = {
    require(weightsMilli.nonEmpty, "empty weight vector")
    val d = weightsMilli.size
    val w = array(weightsMilli.map(x => lit(x.toLong)): _*)
    val toks = tokens(col(text))
    val logit = aggregate(toks, lit(biasMilli),
      (acc, t) => acc +
        element_at(w, pmod(portableHash(t, seed), lit(d.toLong)).cast("int") + 1))
    df.where(col(text).isNotNull)
      .select(col(id), size(toks).cast("long").as("n_tokens"),
        logit.as("logit_milli"))
      .withColumn("score",
        round(lit(1.0) / (lit(1.0) +
          exp(-col("logit_milli").cast("double") / lit(1000.0))), 6))
      .withColumn("keep", col("logit_milli") >= 0)
  }

  /** A trained hashed-feature linear quality classifier — the persisted
    * artifact of [[pocketPerceptronTrain]]: integer weights over
    * `dims` hashed-token-fraction features plus a length feature
    * (index `dims`) and a constant feature (index `dims + 1`, the
    * absorbed bias), with the training audit trail (which round the
    * pocket kept and its error count). */
  case class PocketModel(weights: Seq[Long], dims: Int, seed: Int,
      pocketRound: Int, pocketErrors: Long)

  /** The classifier's feature map, shared bit-for-bit by training and
    * [[pocketScore]]: per doc, `dims` MILLI-FRACTION features
    * `x_j = (1000·count_j) div n_tokens` (integer floor — bounded,
    * length-invariant), a length feature `x_dims = 10·n_tokens`, and a
    * constant `x_{dims+1} = 1000`. All integer, so every dot product
    * downstream is an exact BIGINT — the `logit_milli` discipline
    * extended to training. Rows: `(__id, __j, __x)`, absent buckets
    * implicitly zero. */
  private def pocketFeats(df: DataFrame, text: String, id: String,
      dims: Int, seed: Int): DataFrame = {
    val tk = df.where(col(text).isNotNull)
      .select(col(id).as("__id"), explode(tokens(col(text))).as("__t"))
    val nt = tk.groupBy("__id").agg(count(lit(1)).as("__n"))
    val bc = tk.groupBy(col("__id"),
        pmod(portableHash(col("__t"), seed), lit(dims.toLong))
          .cast("int").as("__j"))
      .agg(count(lit(1)).as("__c"))
    bc.join(nt, "__id")
      .select(col("__id"), col("__j"),
        expr("CAST((1000 * __c) div __n AS bigint)").as("__x"))
      .unionByName(nt.select(col("__id"), lit(dims).as("__j"),
        (col("__n") * 10).cast(LongType).as("__x")))
      .unionByName(nt.select(col("__id"), lit(dims + 1).as("__j"),
        lit(1000L).as("__x")))
  }

  /** Quality-classifier TRAINING — the apply/train asymmetry closed the
    * way the tokenizer's was (q151): a FIXED number of deterministic
    * full-batch perceptron rounds over hashed features, with POCKET
    * snapshot selection (Gallant 1990, "The pocket algorithm"): after
    * every batch update `w ← w + Σ_docs (y − pred)·x` (subgradient of
    * the perceptron loss, unit step), the whole-corpus error count of
    * the updated weights is measured, and the snapshot minimizing
    * `(errors, round)` is the model — the published fix for plain batch
    * perceptron's oscillation on non-separable data. EVERYTHING is
    * integer arithmetic ([[pocketFeats]]'s milli-fractions, BIGINT
    * dots, exact error counts), so the trained weights are
    * bit-identical across engines and the DuckDB oracle replays every
    * round as unrolled CTEs (the q151 discipline). `label` is any
    * boolean column over `df`'s rows — the distillation target (q175
    * distills the binding Gopher rules into this fast linear gate, the
    * fastText-classifier production pattern).
    *
    * Scale shape: ONE tokenize pass builds the cached feature frame
    * (≤ dims+2 rows per doc, 20 B each); each round is two
    * map-side-combinable aggregates over it (per-doc dot with the
    * weights as plan literals — no join against a weight table — and
    * the bucket-keyed gradient) plus a ≤ dims+2-row collect. Weight
    * magnitude grows ≤ rounds·Σ|x| ≈ 2·10⁴·docs — BIGINT-safe beyond
    * 10⁹ docs. */
  def pocketPerceptronTrain(df: DataFrame, text: String, id: String,
      label: Column, dims: Int = 16, rounds: Int = 12,
      seed: Int = 53): PocketModel = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val lab = df.where(col(text).isNotNull)
      .select(col(id).as("__id"), label.cast("int").as("__y"))
    val feats = pocketFeats(df, text, id, dims, seed).join(lab, "__id")
    feats.persist()
    try pocketLoop(feats, dims, rounds, seed)
    finally feats.unpersist()
  }

  /** The pocket-perceptron round loop over a PERSISTED labeled feature
    * frame `(__id, __j, __x, __y)` — [[pocketPerceptronTrain]]'s body,
    * factored for reuse by future binary distillation targets. (The
    * language-ID family deliberately does NOT train through this: a
    * one-vs-rest bank of perceptrons has per-model weight scales set by
    * each training trajectory, so their logits are not comparable and
    * any cross-model decision — argmax or first-firing-sign — is decided
    * by scale, not evidence; measured on the q226 plant, it misrouted a
    * third of zh. [[langNaiveBayesTrain]] is the calibrated trainer.) */
  private def pocketLoop(feats: DataFrame, dims: Int, rounds: Int,
      seed: Int): PocketModel = {
    def errCol(dot: Column): Column =
      (col("__y") - when(dot >= 0, 1).otherwise(0)).cast(LongType)
    def perDoc(w: Array[Long]): DataFrame = {
      val wLit = array(w.map(lit): _*)
      feats.groupBy("__id", "__y")
        .agg(sum(element_at(wLit, col("__j") + 1) * col("__x"))
          .as("__dot"))
    }
    var w = Array.fill(dims + 2)(0L)
    var snaps = List.empty[(Long, Int, Array[Long])]
    for (r <- 1 to rounds) {
      val g = feats
        .join(perDoc(w).select(col("__id"),
            errCol(col("__dot")).as("__err"))
          .where(col("__err") =!= 0), "__id")
        .groupBy("__j").agg(sum(col("__err") * col("__x")).as("__g"))
        .collect()  // bounded: <= dims+2 rows — model arity, not data
        .map(row => row.getInt(0) -> row.getLong(1)).toMap
      w = Array.tabulate(dims + 2)(j => w(j) + g.getOrElse(j, 0L))
      val errs = perDoc(w).where(errCol(col("__dot")) =!= 0).count()
      snaps ::= ((errs, r, w.clone()))
    }
    val (pe, pr, pw) = snaps.minBy { case (e, r, _) => (e, r) }
    PocketModel(pw.toSeq, dims, seed, pr, pe)
  }

  /** The codepoint-BIGRAM feature map — [[pocketFeats]]' twin one level
    * below words, for classifiers whose signal whitespace tokens cannot
    * see (language-ID: CJK has no spaces; morphology lives in character
    * transitions). The text is space-padded so word boundaries become
    * visible bigrams; `n` = gram count (always ≥ 1); features are the
    * same milli-fraction floors + length + bias layout, so the pocket
    * training loop and the [[PocketWeights]] kernel layout carry over
    * unchanged. Spark `length`/`substring` and DuckDB both count
    * CODEPOINTS, so the oracle replay is exact beyond the BMP. */
  private def charGramFeats(df: DataFrame, text: String, id: String,
      dims: Int, seed: Int): DataFrame = {
    val t = concat(lit(" "), TextOps.lower(trim(col(text))), lit(" "))
    val base = df.where(col(text).isNotNull)
      .select(col(id).as("__id"), t.as("__t"),
        (length(t) - 1).cast(LongType).as("__n"))
    val tk = base.select(col("__id"), col("__n"),
      explode(transform(sequence(lit(1), col("__n").cast("int")),
        i => substr(col("__t"), i, lit(2)))).as("__g"))
    val bc = tk.groupBy(col("__id"), col("__n"),
        pmod(portableHash(col("__g"), seed), lit(dims.toLong))
          .cast("int").as("__j"))
      .agg(count(lit(1)).as("__c"))
    // NO length feature (pocketFeats' x_dims slot): length is volume,
    // not language, and its magnitude (10·n vs milli-fractions ≤ 1000)
    // swamps the length-invariant bigram signal — with the slot's rows
    // absent its gradient is structurally zero, w(dims) trains to 0,
    // and the kernel's w(dims)·10n term vanishes consistently, keeping
    // the PocketWeights layout shared with the word-feature family.
    bc.select(col("__id"), col("__j"),
        expr("CAST((1000 * __c) div __n AS bigint)").as("__x"))
      .unionByName(base.select(col("__id"), lit(dims + 1).as("__j"),
        lit(1000L).as("__x")))
  }

  /** A trained language-ID model: per label, a [[graft.functions
    * .PocketWeights]]-layout weight vector in integer NANO-BITS —
    * `w(j)` = round(log2((c_j+1)/(t+dims))·10⁹) for bucket j, `w(dims)`
    * = 0 (no length term — length is volume, not language), and the
    * bias slot `w(dims+1)` = the class's log-prior — so the shared
    * codepoint-bigram kernel evaluates a multinomial-NB score directly.
    * Labels sorted: the deterministic argmax tiebreak order. */
  case class LangIdModel(labels: Seq[String],
      weights: Map[String, Seq[Long]], dims: Int, seed: Int)

  /** TRAINED language-ID ([[langNaiveBayesTrain]] / [[langIdPredict]])
    * — the learned replacement for the [[languageId]] marker
    * heuristic's role (the heuristic stays as the zero-cost first tier;
    * this is what it escalates to): MULTINOMIAL NAIVE BAYES over
    * codepoint-bigram buckets (the fastText/CLD production family), so
    * languages the marker list cannot see at all — CJK: no whitespace,
    * no Latin markers — are learnable from labeled data.
    *
    * Why NB and not a one-vs-rest pocket-perceptron bank (q175's
    * trainer): the multiclass decision needs CROSS-MODEL comparability,
    * and independent perceptrons' weight scales are set by their own
    * training trajectories — argmax (or first-firing sign) across them
    * is decided by scale, not evidence (measured on the q226 plant: a
    * third of zh misrouted). NB's per-label scores are log-likelihoods
    * on one common scale, calibration is by construction, and training
    * is ONE corpus pass with no convergence question.
    *
    * Every weight is an integer nano-bit (`round(log2(·)·10⁹)` — the
    * q165 klBitsNano discipline), computed IN-PLAN by the same `log2`
    * both engines evaluate identically, then collected (bounded:
    * labels × dims rows — model arity, not data). Add-one smoothing
    * keeps unseen buckets finite; the class log-prior lands in the
    * kernel's bias slot (its constant ×1000 feature scales all labels
    * identically — argmax unchanged). */
  def langNaiveBayesTrain(df: DataFrame, text: String, id: String,
      langLabel: String, dims: Int = 512, seed: Int = 59): LangIdModel = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    val base = df.where(col(text).isNotNull)
    val t = concat(lit(" "), TextOps.lower(trim(col(text))), lit(" "))
    val grams = base.select(col(langLabel).as("__lang"), t.as("__t"))
      .select(col("__lang"),
        explode(transform(
          sequence(lit(1), (length(col("__t")) - 1).cast("int")),
          i => substr(col("__t"), i, lit(2)))).as("__g"))
    val oc = grams.groupBy(col("__lang"),
        pmod(portableHash(col("__g"), seed), lit(dims.toLong))
          .cast("int").as("__j"))
      .agg(count(lit(1)).as("__c"))
    val tl = oc.groupBy("__lang").agg(sum("__c").as("__t"))
    // full (label × bucket) grid incl. zero buckets, weights in-plan so
    // the log2 the oracle replays is the one that trained the model
    val spark = df.sparkSession
    val grid = tl.crossJoin(
        spark.range(dims).select(col("id").cast("int").as("__j")))
      .join(oc, Seq("__lang", "__j"), "left")
      .select(col("__lang"), col("__j"),
        round(log2((coalesce(col("__c"), lit(0L)) + 1).cast("double") /
          (col("__t") + dims).cast("double")) * 1e9).cast(LongType)
          .as("__w"))
      .collect() // bounded: labels x dims — model arity, not data
    val priors = base.groupBy(col(langLabel).as("__lang"))
      .agg(count(lit(1)).as("__nd"))
      .crossJoin(broadcast(base.agg(count(lit(1)).as("__N"))))
      .select(col("__lang"),
        round(log2(col("__nd").cast("double") / col("__N").cast("double"))
          * 1e9).cast(LongType).as("__p"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(priors.nonEmpty, "no labels to train on")
    val labels = priors.keys.toSeq.sorted
    val byLang = grid.groupBy(_.getString(0))
    val weights = labels.map { l =>
      val w = new Array[Long](dims + 2)
      byLang(l).foreach(r => w(r.getInt(1)) = r.getLong(2))
      w(dims) = 0L // no length term
      w(dims + 1) = priors(l)
      l -> w.toSeq
    }.toMap
    LangIdModel(labels, weights, dims, seed)
  }

  /** One label's exact BIGINT NB score of a text column — the native
    * codegen kernel ([[graft.functions.CharGramLogit]]): the
    * milli-fraction bigram profile dotted with the label's nano-bit
    * log-likelihood weights (the milli quantization is label-invariant,
    * so the argmax equals NB's). */
  def charGramLogit(t: Column, weights: Seq[Long], dims: Int,
      seed: Int): Column =
    graft.functions.CharGramLogit.char_gram_logit(t,
      new graft.functions.PocketWeights(weights.toArray, dims, seed))

  /** EXECUTABLE SPEC of [[charGramLogit]] — declarative HOFs, pinned
    * bit-identical to the native kernel in OperatorSpec (the
    * [[pocketLogitHof]] twin discipline); not the production path. */
  def charGramLogitHof(tc: Column, weights: Seq[Long], dims: Int,
      seed: Int): Column = {
    val wLit = array(weights.map(lit): _*)
    val t = concat(lit(" "), TextOps.lower(trim(tc)), lit(" "))
    val n = (length(t) - 1).cast(LongType)
    val buckets = transform(sequence(lit(1), (length(t) - 1)),
      i => pmod(portableHash(substr(t, i, lit(2)), seed),
        lit(dims.toLong)).cast("int"))
    def milliFrac(c: Column): Column = {
      val a = lit(1000L) * c
      ((a - pmod(a, n)) / n).cast(LongType)
    }
    val dot = aggregate(sequence(lit(0), lit(dims - 1)), lit(0L),
      (acc, j) => acc + element_at(wLit, j + 1) *
        milliFrac(size(filter(buckets, b => b === j)).cast(LongType)))
    dot +
      element_at(wLit, lit(dims + 1)) * (n * lit(10L)) +
      element_at(wLit, lit(dims + 2)) * lit(1000L)
  }

  /** Apply a trained [[LangIdModel]]: per-language native NB scores
    * (one map-only codegen kernel each — the apply path scans the
    * corpus, so it must be one scan with the weights riding the plan)
    * and the ARGMAX, ties to the lexicographically first label — NB
    * scores share one log-likelihood scale, so argmax is the honest
    * decision (and fully deterministic: integer scores, fixed tiebreak
    * — the DuckDB oracle replays it exactly). Returns
    * `(id, logit_<label>…, lang_pred)`.
    *
    * `undBelowNano` is the UNKNOWN-LANGUAGE floor (the round-14 verdict
    * gap: forced-choice argmax routes a Russian document to one of the
    * trained five, silently): when set, a document whose BEST score
    * falls below it predicts `und` instead. The score is already
    * length-invariant — the kernel dots nano-bit log-likelihoods with
    * MILLI-FRACTION gram shares, so `best` reads "1000 × the winning
    * label's average per-gram log2-likelihood (+ prior)" — and a text
    * from an untrained language lands its gram mass in buckets at the
    * label's AVERAGE weight (well below the entropy-sized score a
    * trained language concentrates on its own high-probability
    * buckets), so a fixed floor in nano-milli-bits separates the two
    * regimes across corpus sizes. Calibrate on held-out text of the
    * trained languages (the q226 gate plants an untrained Cyrillic
    * rendering and requires it routes to `und`). */
  def langIdPredict(df: DataFrame, text: String, id: String,
      m: LangIdModel, undBelowNano: Option[Long] = None): DataFrame = {
    val scored = m.labels.foldLeft(df.where(col(text).isNotNull)) {
      (d, l) => d.withColumn(s"logit_$l",
        charGramLogit(col(text), m.weights(l), m.dims, m.seed))
    }
    val best = greatest(m.labels.map(l => col(s"logit_$l")): _*)
    val argmax = m.labels.reverse.foldLeft(lit("und")) { (acc, l) =>
      when(col(s"logit_$l") === best, lit(l)).otherwise(acc)
    }
    val pred = undBelowNano match {
      case Some(thr) => when(best < lit(thr), lit("und")).otherwise(argmax)
      case None => argmax
    }
    scored.select(col(id) +:
      m.labels.map(l => col(s"logit_$l")) :+ pred.as("lang_pred"): _*)
  }

  /** Apply a trained [[PocketModel]] — the learned counterpart of the
    * frozen-weights [[hashedLogisticScore]] inference: the same
    * integer-exact contract (`logit_milli` is a BIGINT dot of the
    * learned weights against [[pocketFeats]]'s feature map;
    * `keep = logit_milli ≥ 0` decided in integer space; `score` the one
    * cosmetic float, a 6 dp sigmoid of the exact integer).
    *
    * MAP-ONLY: the feature map is evaluated per ROW by the native
    * codegen kernel ([[pocketLogit]] →
    * [[graft.functions.PocketLogit]]) — bit-identical to the grouped
    * [[pocketFeats]] frame (and to the [[pocketLogitHof]] executable
    * spec) but with NO feature-frame shuffle and NO join on the apply
    * path. Apply is the hot path (training fits once on a sample;
    * apply scans the full 100 TB corpus), so it must be one scan with
    * the weights riding the plan — PlanSpec pins exactly that. Cost
    * per row: O(n_tokens) hash probes + O(dims) integer ops inside
    * whole-stage codegen. */
  /** The learned model's exact BIGINT logit of a text column — the
    * native codegen kernel ([[graft.functions.PocketLogit]])
    * [[pocketScore]] and [[pocketCalibration]] share. Microseconds per
    * row; the HOF form below ([[pocketLogitHof]]) is the executable
    * spec it is pinned bit-identical against. */
  def pocketLogit(t: Column, model: PocketModel): Column =
    graft.functions.PocketLogit.pocket_logit(t,
      new graft.functions.PocketWeights(model.weights.toArray,
        model.dims, model.seed))

  /** EXECUTABLE SPEC of [[pocketLogit]]: the same feature-map dot as
    * declarative array HOFs — bucket counts via filter over the
    * hashed-bucket array, milli-fraction floors as exact integer
    * arithmetic, the dot folded over a literal sequence. Pinned
    * bit-identical to the native kernel in OperatorSpec (the *Hof twin
    * discipline); NOT the production path — Spark's array HOFs
    * evaluate interpreted (~3 ms/row), which is why the kernel
    * exists. */
  def pocketLogitHof(t: Column, model: PocketModel): Column = {
    val wLit = array(model.weights.map(lit): _*)
    val toks = tokens(t)
    val n = size(toks).cast(LongType)
    // hash each token ONCE into its bucket; the per-bucket counts are
    // then dims × n integer compares, not dims × n re-hashes
    val buckets = transform(toks, tok =>
      pmod(portableHash(tok, model.seed), lit(model.dims.toLong))
        .cast("int"))
    def milliFrac(c: Column): Column = {
      val a = lit(1000L) * c
      ((a - pmod(a, n)) / n).cast(LongType)
    }
    val dot = aggregate(sequence(lit(0), lit(model.dims - 1)), lit(0L),
      (acc, j) => acc + element_at(wLit, j + 1) *
        milliFrac(size(filter(buckets, b => b === j)).cast(LongType)))
    dot +
      element_at(wLit, lit(model.dims + 1)) * (n * lit(10L)) +
      element_at(wLit, lit(model.dims + 2)) * lit(1000L)
  }

  def pocketScore(df: DataFrame, text: String, id: String,
      model: PocketModel): DataFrame =
    df.where(col(text).isNotNull)
      .select(col(id),
        size(tokens(col(text))).cast(LongType).as("n_tokens"),
        pocketLogit(col(text), model).as("logit_milli"))
      .withColumn("score",
        round(lit(1.0) / (lit(1.0) +
          exp(-col("logit_milli").cast("double") / lit(1e6))), 6))
      .withColumn("keep", col("logit_milli") >= 0)

  /** CALIBRATION table of a trained classifier — the decile report a
    * team reads before freezing a keep threshold: rank every doc by
    * `(logit DESC, id ASC)`, cut into ten equal-rank bins
    * (`decile = ((rank−1)·10) div n`, integer-exact), and per decile
    * report volume, label-positive count and milli-rate, and the logit
    * range — a well-calibrated distillation shows the positive rate
    * falling monotonically down the deciles, and the [lo, hi] column
    * is the threshold menu. `label` is the distillation target (any
    * boolean over `df`'s rows), evaluated on the SAME map-only scan as
    * the logit — no join back to the corpus.
    *
    * Scale: the global rank is the distributed two-pass ordinal
    * ([[graft.engine.SeriesOps.withTimeId]] — range partition +
    * zipWithIndex, no global window); the scored frame is
    * localCheckpointed FIRST ([[graft.engine.Checkpoints.mark]] — 17 B
    * per doc), because the ordinal's range-sampling, shuffle, and
    * zipWithIndex passes each re-execute their child — the score
    * should be computed once, not three times, however cheap the
    * kernel. Caller releases via
    * [[graft.engine.Checkpoints.release]] on the result. The total is
    * a one-row broadcast; everything downstream is one hash aggregate
    * to 10 rows. */
  def pocketCalibration(df: DataFrame, text: String, id: String,
      model: PocketModel, label: Column): DataFrame = {
    def idiv(num: Column, den: Column): Column =
      ((num - pmod(num, den)) / den).cast(LongType)
    val base = graft.engine.Checkpoints.mark(
      df.where(col(text).isNotNull)
        .select(col(id), pocketLogit(col(text), model).as("logit_milli"),
          when(label, lit(1L)).otherwise(lit(0L)).as("__y")))
    val ranked = graft.engine.SeriesOps.withTimeId(base,
      Seq(col("logit_milli") * lit(-1L), col(id)), as = "__rk")
    val tot = ranked.agg(count(lit(1)).cast(LongType).as("__n"))
    ranked.crossJoin(broadcast(tot))
      .withColumn("decile", idiv((col("__rk") - 1) * lit(10L), col("__n")))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum(col("__y")).as("n_pos"),
        min(col("logit_milli")).as("logit_lo"),
        max(col("logit_milli")).as("logit_hi"))
      .select(col("decile"), col("n_docs"), col("n_pos"),
        idiv(lit(1000L) * col("n_pos"), col("n_docs")).as("pos_milli"),
        col("logit_lo"), col("logit_hi"))
  }

  /** Deterministic training shuffle order — the epoch dataloader's
    * permutation, computed ONCE as data: a seeded pseudo-random GLOBAL
    * rank for every row, reproducible across runs and engines (the
    * property training reproducibility rests on — re-running the job
    * must feed batches in the identical order). The key is the portable
    * [[portableHash]] of the id under `seed` (a new seed = a fresh
    * independent epoch permutation; ties impossible in practice but
    * broken by id anyway), and the RANK is assigned by the distributed
    * two-pass ordinal ([[graft.engine.SeriesOps.withTimeId]]:
    * range-partition + per-partition count + zipWithIndex) — no global
    * window, no single-partition sort, holds at 10⁹+ rows. Output:
    * `(id, shuffle_key, order_idx)` with `order_idx` dense 1..n; write
    * the corpus range-sharded by `order_idx` ([[graft.sources.Layout]])
    * and the dataloader streams shards sequentially. */
  def shuffleOrder(df: DataFrame, id: String, seed: Int): DataFrame =
    graft.engine.SeriesOps.withTimeId(
      df.select(col(id),
        portableHash(col(id).cast("string"), seed).as("shuffle_key")),
      Seq(col("shuffle_key"), col(id)), as = "order_idx")

  /** Token-budget mixture allocation — the data-mixing recipe every
    * training run starts from (the Pile / LLaMA / Gopher mixture
    * tables): given per-stratum AVAILABLE token counts, target mixture
    * weights, a total token budget, and an epoch cap (repeating a small
    * source too often hurts — LLaMA caps Wikipedia near 2.4 epochs),
    * compute what each stratum actually contributes:
    *
    *  - `desired   = budget·w/1000`            (the mixture's ask)
    *  - `epochs_milli = min(cap, desired·1000 // available)` (0 if empty)
    *  - `allocated = available·epochs_milli // 1000` (≤ desired — the cap
    *    and the floor only ever round DOWN)
    *  - `shortfall = desired − allocated`      (what the recipe can't have:
    *    > 0 means the budget wants more of this stratum than the epoch cap
    *    allows — the signal to go collect more of it)
    *
    * Everything is INTEGER arithmetic (`div` floors), so both engines
    * compute identical rows; epochs are milli-units (1000 = one pass).
    * Weight strata with no data emit `available = 0, allocated = 0`
    * (left join from the TARGET side: the recipe drives the report).
    * ONE map-side-combinable aggregate over the corpus; the solver
    * itself runs on a strata-sized frame — at 100 TB this is a report,
    * not a data pass. */
  def mixtureAllocation(df: DataFrame, strata: String, tokenCount: Column,
      targetsMilli: Seq[(String, Int)], budgetTokens: Long,
      maxEpochsMilli: Long = 1000L): DataFrame = {
    require(targetsMilli.nonEmpty, "empty target mixture")
    require(budgetTokens > 0, s"budget must be positive; got $budgetTokens")
    val spark = df.sparkSession
    import spark.implicits._
    val avail = df.groupBy(col(strata).as("stratum"))
      .agg(sum(tokenCount.cast("long")).as("available"))
    targetsMilli.toDF("stratum", "w_milli")
      .join(avail, Seq("stratum"), "left")
      .withColumn("available", coalesce(col("available"), lit(0L)))
      .withColumn("desired",
        expr(s"($budgetTokens * CAST(w_milli AS BIGINT)) div 1000"))
      .withColumn("epochs_milli",
        when(col("available") === 0L, lit(0L))
          .otherwise(least(lit(maxEpochsMilli),
            expr("(desired * 1000) div available"))))
      .withColumn("allocated", expr("(available * epochs_milli) div 1000"))
      .withColumn("shortfall", col("desired") - col("allocated"))
  }

  /** Multi-epoch training schedule — [[shuffleOrder]] for EVERY epoch in
    * one frame: epoch e's permutation is the seeded hash under
    * `baseSeed + e` (independent permutations, reproducible — the
    * training-restart contract: resuming epoch 3 re-derives the exact
    * order without replaying 1–2), and ALL epochs rank in ONE
    * distributed two-pass ordinal over `(epoch, key, id)` (the
    * [[lengthBucketBatches]] offset trick: per-epoch
    * `order_idx = global − epoch_start + 1`, epoch-count-sized offset
    * table broadcast back) — not E separate rank passes. The epoch
    * fan-out is a map-only `explode(sequence)`. Output:
    * `(id, epoch, order_idx)` with `order_idx` dense 1..n per epoch;
    * write range-sharded by `(epoch, order_idx)` and the loader streams
    * the whole run sequentially. */
  def epochSchedule(df: DataFrame, id: String, epochs: Int,
      baseSeed: Int = 23): DataFrame = {
    require(epochs >= 1, s"epochs must be >= 1, got $epochs")
    requireFresh(df, "epoch", "order_idx", "__k", "__g", "__off")
    val base = df.select(col(id),
        explode(expr(s"sequence(1, $epochs)")).as("epoch"))
      // the seeded-hash construction inlined so epoch e's key IS
      // portableHash(id, baseSeed + e): epoch e's slice equals the
      // single-epoch [[shuffleOrder]] under that seed, row for row
      .withColumn("__k", graft.functions.PortableHash60.portable_hash60(
        concat((col("epoch") + lit(baseSeed)).cast("string"), lit(":"),
          col(id).cast("string"))))
    val ranked = graft.engine.Checkpoints.mark(
      graft.engine.SeriesOps.withTimeId(base,
        Seq(col("epoch"), col("__k"), col(id)), as = "__g"))
    val offs = ranked.groupBy("epoch").agg(min("__g").as("__off"))
    ranked.join(broadcast(offs), "epoch")
      .select(col(id), col("epoch").cast("long").as("epoch"),
        (col("__g") - col("__off") + 1).as("order_idx"))
  }

  /** Padding-efficiency report over [[lengthBucketBatches]] output — the
    * metric length bucketing exists to optimize, MEASURED: per batch
    * under pad-to-longest (dynamic padding), `padded = n_docs × max`,
    * `waste = padded − Σ tokens`, `waste_milli` the per-mille fraction
    * (integer floor — engine-exact). One map-side-combinable aggregate
    * over `(bucket, batch_idx)`; at 100 TB this is a report riding the
    * schedule frame, not a data pass. Compare the per-bucket waste
    * against a single global bucket to see what the bucketing bought. */
  def packingEfficiency(batches: DataFrame, tokens: String = "n_tokens",
      bucket: String = "bucket", batch: String = "batch_idx"): DataFrame =
    batches.groupBy(col(bucket), col(batch))
      .agg(count(lit(1)).as("n_docs"),
        max(col(tokens)).as("max_tokens"),
        sum(col(tokens)).as("sum_tokens"))
      .withColumn("padded", col("n_docs") * col("max_tokens"))
      .withColumn("waste_milli",
        expr("((padded - sum_tokens) * 1000) div padded"))

  /** Out-of-vocabulary rate against a FROZEN vocabulary — the
    * tokenizer-coverage / garbled-text gate: a doc whose tokens mostly
    * miss the vocab is mojibake, the wrong language, or binary junk, and
    * a tokenizer will shred it into char-level pieces. The vocab is a
    * MODEL ARTIFACT (plan literals, the q111 frozen-scorer discipline),
    * so scoring is INFERENCE: one map-only projection, the OOV count an
    * in-array lambda fold — no explode, no join, no shuffle, streams
    * unchanged. At real tokenizer sizes (32k+) the vocab side moves to a
    * broadcast join; the literal form covers probe vocabularies and
    * rule packs. Output: `(id, n_tokens, n_oov, oov_rate)`. */
  def oovRate(df: DataFrame, text: String, id: String,
      vocab: Seq[String], segment: Boolean = false): DataFrame = {
    require(vocab.nonEmpty, "empty vocabulary")
    require(vocab.forall(w => !w.contains("'") && !w.contains("\\")),
      s"vocab terms must not contain quotes or backslashes: $vocab")
    requireFresh(df, "n_tokens", "n_oov", "oov_rate", "__t")
    val vsql = vocab.map(w => s"'$w'").mkString("array(", ", ", ")")
    df.where(col(text).isNotNull)
      .select(col(id), tokensMode(col(text), segment).as("__t"))
      .select(col(id), size(col("__t")).cast("long").as("n_tokens"),
        expr(s"cast(size(filter(__t, t -> NOT array_contains($vsql, t)))" +
          " as bigint)").as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 6))
  }

  /** Length-bucketed batch assignment — the padding-efficiency step of a
    * training dataloader: group docs into length buckets (bucket i holds
    * `boundaries(i-1) < n_tokens ≤ boundaries(i)`, the last bucket is
    * unbounded), then cut each bucket into fixed-size batches in a
    * deterministic seeded-shuffle order. A batch's padding waste is
    * bounded by its bucket width instead of the corpus max length.
    * Per-bucket ranks WITHOUT a per-bucket window (a handful of buckets
    * would collapse the corpus onto that many tasks): ONE distributed
    * two-pass global ordinal over `(bucket, hash, id)`
    * ([[graft.engine.SeriesOps.withTimeId]] — range-partition +
    * zipWithIndex, no single-partition sort), then
    * `rank_in_bucket = ordinal − bucket_start + 1` with the bucket-sized
    * start-offset table broadcast back. `batch_idx` is integer floor
    * division; everything replays exactly in the SQL oracle. */
  def lengthBucketBatches(df: DataFrame, id: String, tokenCount: Column,
      boundaries: Seq[Long], batchSize: Int, seed: Int = 17): DataFrame = {
    require(boundaries.nonEmpty &&
      boundaries.zip(boundaries.tail).forall { case (a, b) => a < b },
      s"boundaries must be strictly ascending, got $boundaries")
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    requireFresh(df, "n_tokens", "bucket", "rank_in_bucket", "batch_idx")
    val nt = tokenCount.cast("long")
    val bucket = boundaries.foldLeft(lit(0L)) { (acc, b) =>
      acc + (nt > b).cast("long") }
    val base = df.select(col(id), nt.as("n_tokens"),
      bucket.as("bucket"),
      portableHash(col(id).cast("string"), seed).as("__k"))
    // materialize the ordinal once (caller releases via the returned
    // frame, the q54-labels contract): the offsets leg and the join leg
    // must not each re-run the two-pass rank
    val ranked = graft.engine.Checkpoints.mark(
      graft.engine.SeriesOps.withTimeId(base,
        Seq(col("bucket"), col("__k"), col(id)), as = "__g"))
    val offs = ranked.groupBy("bucket").agg(min("__g").as("__off"))
    ranked.join(broadcast(offs), "bucket")
      .withColumn("rank_in_bucket", col("__g") - col("__off") + 1)
      .withColumn("batch_idx", expr(s"(rank_in_bucket - 1) div $batchSize"))
      .select(col(id), col("n_tokens"), col("bucket"),
        col("rank_in_bucket"), col("batch_idx"))
  }

  /** Materialize a mixture recipe as per-doc copy counts — the step
    * between [[mixtureAllocation]]'s REPORT and the training corpus: each
    * stratum's `epochs_milli` becomes `__copies` per document,
    * `floor(epochs_milli/1000)` whole epochs plus a deterministic
    * fractional flag (portable-hash bucket in [0,1000) vs
    * `epochs_milli mod 1000` — content-stable like
    * [[temperatureRepeatFactor]], so reruns and engines agree row for
    * row and `E[copies | stratum] = epochs_milli/1000` with the selected
    * hash-subset independent of doc content/length). The recipe DRIVES:
    * strata outside the target table drop (inner broadcast join), a
    * capped stratum contributes `maxEpochs` copies, an over-supplied one
    * a deterministic sub-epoch subset. Same shape as the solver — one
    * map-side-combinable token aggregate, the strata-sized allocation
    * broadcast back, then a map-only flag projection; the caller
    * materializes repeats with `explode(sequence(1, __copies))`
    * (map-only fan-out, no shuffle — drop `__copies = 0` rows first). */
  def mixtureApply(df: DataFrame, id: String, strata: String,
      tokenCount: Column, targetsMilli: Seq[(String, Int)],
      budgetTokens: Long, maxEpochsMilli: Long = 1000L,
      seed: Int = 93): DataFrame = {
    requireFresh(df, "__copies", "epochs_milli")
    val alloc = mixtureAllocation(df, strata, tokenCount, targetsMilli,
        budgetTokens, maxEpochsMilli)
      .select(col("stratum").as(strata), col("epochs_milli"))
    df.join(broadcast(alloc), strata)
      .withColumn("__copies", expr("epochs_milli div 1000") +
        (pmod(portableHash(col(id).cast("string"), seed), lit(1000L)) <
          pmod(col("epochs_milli"), lit(1000L))).cast("long"))
  }

  /** Per-stratum unigram-distribution drift against the whole corpus —
    * the snapshot monitor a pipeline runs when a new crawl / source lands:
    * KL(P_stratum ‖ P_corpus) in bits, both distributions add-one smoothed
    * over the CORPUS vocabulary (so a stratum missing a corpus-common term
    * is charged for it, and the divergence is always finite). Output per
    * stratum: token count, how many corpus terms the stratum actually
    * uses, and the divergence — a drifted snapshot (vocabulary shift,
    * topic shift, spam burst) shows up as a `kl_bits` outlier before any
    * model ever trains on it.
    *
    * Scale shape: ONE tokenize pass; the per-(stratum, token) counts are
    * a map-side-combinable hash aggregate, corpus totals RE-AGGREGATE
    * those counts (never a second corpus scan), and the full
    * stratum × vocab grid — the smoothing requires a row for corpus
    * terms the stratum lacks — is vocab-keyed with the stratum totals
    * broadcast (strata cardinality ~sources, vocab ≪ corpus). Token text
    * leaves the map side only as the (stratum, token) count rows — never
    * per-occurrence. Every division is one IEEE double op on integer
    * inputs, so only the final vocab-sized sum's accumulation order
    * differs between engines; `round(·, 6)` absorbs it. */
  def unigramDrift(df: DataFrame, text: String, strata: String,
      segment: Boolean = false): DataFrame = {
    val counts = df.where(col(text).isNotNull)
      .select(col(strata).as("__s"),
        explode(tokensMode(col(text), segment)).as("__w"))
      .groupBy("__s", "__w").agg(count(lit(1)).as("c_s"))
    val vocab = counts.groupBy("__w").agg(sum("c_s").as("c"))
    val totals = counts.groupBy("__s").agg(sum("c_s").as("n_s"),
      count(lit(1)).as("terms_used"))
    val corpus = vocab.agg(sum("c").as("n"), count(lit(1)).as("v"))
    val grid = vocab.crossJoin(broadcast(corpus))
      .crossJoin(broadcast(totals))
      .join(counts, Seq("__s", "__w"), "left")
      .withColumn("__p", (coalesce(col("c_s"), lit(0L)) + 1).cast("double") /
        (col("n_s") + col("v")).cast("double"))
      .withColumn("__q", (col("c") + 1).cast("double") /
        (col("n") + col("v")).cast("double"))
    grid.groupBy(col("__s"))
      .agg(first(col("n_s")).as("n_tokens"),
        first(col("terms_used")).as("terms_used"),
        klBitsNano(col("__p"), col("__q")))
      .select(col("__s").as(strata), col("n_tokens"), col("terms_used"),
        col("kl_bits"))
  }

  /** The KL sum in DETERMINISTIC integer nano-units (the `logit_milli`
    * discipline applied to the drift monitors): each grid term rounds to
    * an integer number of nano-bits FIRST, the aggregate sums BIGINTs —
    * order-independent and identical across engines — and only the final
    * reported number divides back to float. A plain float sum over the
    * vocab-sized grid depends on accumulation order, which Spark and
    * DuckDB pick differently; relying on round(·, 6) to absorb that is
    * probabilistic (a sum near a 6 dp boundary transiently hash-fails
    * the gate — the round-12 advisor's observed one-offs). */
  private def klBitsNano(p: Column, q: Column): Column =
    round(sum(round(p * log2(p / q) * 1e9).cast(LongType))
      .cast("double") / 1e9, 6).as("kl_bits")

  /** The FROZEN-model form of [[unigramDrift]] — the production monitor
    * shape (the [[unigramXentAgainst]] discipline): the reference
    * distribution comes from a persisted [[unigramModel]] `(w, c)` the
    * scored frame never contributed to, so a NEW snapshot / ingest batch
    * / streaming micro-batch is measured against the last known-good
    * corpus rather than against itself. KL(P_stratum ‖ P_model) in bits,
    * add-one smoothed over the UNION vocabulary (model ∪ batch — both
    * supports covered, so novel terms are charged against the model's
    * smoothing floor and the divergence stays finite in both
    * directions).
    *
    * Scale shape: one tokenize pass over the scored frame; the model is
    * vocab-bounded (AQE broadcasts it); the union vocab, model total,
    * vocab size, and stratum totals are all vocab- or strata-sized;
    * token text exchanges only as count rows. */
  def unigramDriftAgainst(df: DataFrame, model: DataFrame, text: String,
      strata: String, segment: Boolean = false): DataFrame = {
    val counts = df.where(col(text).isNotNull)
      .select(col(strata).as("__s"),
        explode(tokensMode(col(text), segment)).as("__w"))
      .groupBy("__s", "__w").agg(count(lit(1)).as("c_s"))
    val m = model.select(col("w").as("__w"), col("c").as("c_m"))
    val vocab = counts.select("__w").distinct()
      .unionByName(m.select("__w")).distinct()
    val totals = counts.groupBy("__s").agg(sum("c_s").as("n_s"),
      count(lit(1)).as("terms_used"))
    val mTot = m.agg(sum("c_m").as("n_m"))
    val vSize = vocab.agg(count(lit(1)).as("v"))
    val grid = vocab.crossJoin(broadcast(mTot)).crossJoin(broadcast(vSize))
      .crossJoin(broadcast(totals))
      .join(counts, Seq("__s", "__w"), "left")
      .join(m, Seq("__w"), "left")
      .withColumn("__p", (coalesce(col("c_s"), lit(0L)) + 1).cast("double") /
        (col("n_s") + col("v")).cast("double"))
      .withColumn("__q", (coalesce(col("c_m"), lit(0L)) + 1).cast("double") /
        (col("n_m") + col("v")).cast("double"))
    grid.groupBy(col("__s"))
      .agg(first(col("n_s")).as("n_tokens"),
        first(col("terms_used")).as("terms_used"),
        klBitsNano(col("__p"), col("__q")))
      .select(col("__s").as(strata), col("n_tokens"), col("terms_used"),
        col("kl_bits"))
  }

  /** Population stability index — the NUMERIC-feature drift monitor
    * beside the vocabulary one ([[unigramDriftAgainst]]): the industry
    * metric for "has this feature's distribution moved since the
    * reference snapshot" (model-monitoring standard; PSI ≳ 0.2 is the
    * conventional investigate threshold). Bin edges are the REFERENCE
    * frame's exact `1/bins … (bins−1)/bins` quantiles (the q44
    * `percentile` ≡ `quantile_cont` equivalence, so the oracle replays
    * the edges bit-for-bit); each row bins by counting edges strictly
    * below its value; `PSI = Σ_bins (p − q) · ln(p/q)` per stratum with
    * add-one smoothing on both sides (an empty bin anywhere stays
    * finite — the [[unigramDrift]] convention).
    *
    * Scale shape: the edge vector is ONE bounded aggregate broadcast
    * back; binning is map-only; the per-(stratum, bin) counts are a
    * map-side-combinable hash aggregate and every downstream total
    * re-aggregates those counts (never a second scan of either frame);
    * the PSI grid is bins × strata rows. `value` must be a numeric
    * column present in BOTH frames. */
  def psiDrift(scored: DataFrame, reference: DataFrame, value: String,
      strata: String, bins: Int = 5): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val qs = (1 until bins).map(i => i.toDouble / bins)
    val edges = reference.agg(
      expr(s"percentile($value, array(${qs.mkString(", ")}))").as("__edges"))
    def binOf(v: Column): Column =
      aggregate(col("__edges"), lit(0),
        (acc, e) => acc + when(v > e, 1).otherwise(0))
    val rc = reference.crossJoin(broadcast(edges))
      .select(binOf(col(value)).as("__b"))
      .groupBy("__b").agg(count(lit(1)).as("c_r"))
    val nr = rc.agg(sum("c_r").as("n_r"))
    val scnt = scored.crossJoin(broadcast(edges))
      .select(col(strata).as("__s"), binOf(col(value)).as("__b"))
      .groupBy("__s", "__b").agg(count(lit(1)).as("c_s"))
    val tot = scnt.groupBy("__s").agg(sum("c_s").as("n_s"))
    val grid = scored.sparkSession.range(bins)
      .select(col("id").cast("int").as("__b"))
      .crossJoin(broadcast(nr)).crossJoin(broadcast(tot))
      .join(scnt, Seq("__s", "__b"), "left")
      .join(rc, Seq("__b"), "left")
      .withColumn("__p", (coalesce(col("c_s"), lit(0L)) + 1).cast("double") /
        (col("n_s") + bins).cast("double"))
      .withColumn("__q", (coalesce(col("c_r"), lit(0L)) + 1).cast("double") /
        (col("n_r") + bins).cast("double"))
    grid.groupBy(col("__s"))
      .agg(first(col("n_s")).as("n_docs"),
        // nano-unit integer accumulation — see [[klBitsNano]]
        round(sum(round((col("__p") - col("__q")) *
            log(col("__p") / col("__q")) * 1e9).cast(LongType))
          .cast("double") / 1e9, 6).as("psi"))
      .select(col("__s").as(strata), col("n_docs"), col("psi"))
  }
}
