package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{MultiSeriesEngine, SessionArtifacts}
import graft.operators.{Similarity, Skew, Temporal}
import graft.parser.QueryParser

/** Round-2 widening of the oracle surface: IVF ANN search, as-of join,
  * sessionization, and the relational operators a complete engine owes its
  * users (rollup, exact percentiles, outer join, pivot) — each with the
  * DuckDB oracle that independently recomputes it (the as-of oracle uses
  * DuckDB's native ASOF JOIN, a genuinely independent implementation of the
  * semantics our union-trick operator claims).
  */
object RelationalQueries {

  private def t(s: SparkSession, d: String, name: String): DataFrame =
    graft.sources.Tables.read(s, d, name)

  /** 3-day gap (ns) — events average ~5.5 days apart per user at sf0.01, so
    * this yields a mix of merged and singleton sessions. */
  val SessionGapNs: Long = 259200L * 1000000000L

  // ---- Spark-side queries ----

  /** Per-directory session artifact ([[SessionArtifacts]]): the
    * materialized IVF index (corpus written partitionBy("cell") to session
    * scratch + centroid table), built once per session, searched via
    * partition pruning — the 100 TB path promised by
    * [[Similarity.IvfIndex]]. */
  private def ivfIndex(s: SparkSession, d: String): Similarity.IvfIndex =
    SessionArtifacts.getOrBuild(s, "ivf", d) { path =>
      Similarity.ivfBuild(s, t(s, d, "embeddings"), "vec_id", "embedding",
        k = 8, path = path)
    }

  /** Per-directory memo of the CROSS-MODAL IVF index: the image tower's
    * transformed vectors (the q152 mix transform) trained and
    * partitioned exactly like [[ivfIndex]] — the scale path for q161's
    * brute-force cross-modal retrieval (at corpus scale a caption query
    * must not scan every image vector; it probes its best cells of the
    * IMAGE index). */
  private def ivfXmIndex(s: SparkSession, d: String): Similarity.IvfIndex =
    SessionArtifacts.getOrBuild(s, "ivfxm", d) { path =>
      val imgTower = t(s, d, "embeddings").select(col("vec_id"),
        expr("transform(sequence(1, 64), i -> " +
          "CAST(embedding[i - 1] AS DOUBLE) + " +
          "CAST(0.1 AS DOUBLE) * CAST(embedding[i % 64] AS DOUBLE))")
          .as("embedding"))
      Similarity.ivfBuild(s, imgTower, "vec_id", "embedding",
        k = 8, path = path)
    }

  /** q162 — cross-modal retrieval AT SCALE
    * ([[Similarity.ivfSearchIndexedBatch]] over [[ivfXmIndex]]): q161's
    * caption→image lookup through the partition-pruned IVF path — the
    * captions probe their best-2 cells of the IMAGE tower's trained
    * index, one pruned scan scores all queries, per-query top-10. The
    * oracle replays the Lloyd training over the TRANSFORMED vectors
    * (the parameterized k-means chain), ranks probes by raw-caption ×
    * trained-centroid cosine, and scores through the membership join —
    * brute force (q161) is the recall baseline, this is the 100 TB
    * plan. */
  def crossModalIvfBatch(s: SparkSession, d: String): DataFrame =
    Similarity.ivfSearchIndexedBatch(ivfXmIndex(s, d),
        t(s, d, "embeddings").where(col("vec_id") < 3),
        nprobe = 2, topK = 10)
      .orderBy("q_id", "rank")

  /** IVF ANN: k=8 Lloyd-trained coarse cells (2 deterministic iterations
    * from the seeded lowest-id init — [[Similarity.kmeansCentroids]]),
    * probe the best 2 for query vec 0, top-10. Runs against the
    * materialized bucketed index — the probe scan reads only the 2 probed
    * cell partitions (PartitionFilters, see PlanSpec). */
  def annIvf(s: SparkSession, d: String): DataFrame = {
    val idx = ivfIndex(s, d)
    val qv = t(s, d, "embeddings").where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    Similarity.ivfSearchIndexed(idx, qv, nprobe = 2, topK = 10)
  }

  /** Per-directory memo of the BQ code tier DERIVED from [[ivfIndex]]
    * ([[Similarity.bqIvfBuild]]): the 8 B packed codes re-partitioned by
    * the float index's trained cells — built once per session, probed
    * per batch. Session scratch, removed at JVM exit. */
  private def bqIvfIndex(s: SparkSession, d: String): Similarity.BqIvfIndex =
    SessionArtifacts.getOrBuild(s, "bqivf", d) { path =>
      Similarity.bqIvfBuild(ivfIndex(s, d), path)
    }

  /** q176 — the IVF-PRUNED BQ tier ([[Similarity.bqIvfSearchBatch]]):
    * the round-12 verdict's missing production shape, composing the two
    * pieces the repo already had — queries 0–2 rank the trained
    * centroids, the probed cells partition-prune the 8 B CODE scan
    * (PlanSpec pins PartitionFilters on it), hamming shortlists
    * within those cells, exact cosine re-ranks the shortlist through a
    * float fetch join. q171 is the full-code-scan baseline; this reads
    * nprobe/k of the code bytes. The oracle replays Lloyd training,
    * probe ranking, the membership-restricted per-bit hamming, and
    * both rank windows. */
  def annBqIvf(s: SparkSession, d: String): DataFrame =
    Similarity.bqIvfSearchBatch(bqIvfIndex(s, d), t(s, d, "embeddings"),
        t(s, d, "embeddings").where(col("vec_id") < 3),
        nprobe = 2, shortlist = 30, k = 10)
      .orderBy("q_id", "rank")

  /** Per-directory memo of the INCREMENTAL BQ tier: the float IVF index
    * trained on the already-ingested corpus only (`vec_id % 5 ≠ 0`, the
    * q61 old/new split), the code tier derived from it, and the NEW
    * batch's codes appended through the replay-guarded protocol
    * ([[Similarity.bqIvfAppendBatch]] — the quantizer never moves, the
    * batch assigns against the persisted centroids). The at-least-once
    * guard is exercised IN-GATE: a replay of the applied batch id must
    * no-op, else the doubled code rows would change the hamming
    * shortlist and hash-fail q177. */
  private def bqIvfIncIndex(s: SparkSession, d: String): Similarity.BqIvfIndex =
    SessionArtifacts.getOrBuild(s, "bqivfinc", d) { path =>
      val vecs = t(s, d, "embeddings")
      val old = vecs.where(pmod(col("vec_id"), lit(5)) =!= 0)
      val fl = Similarity.ivfBuild(s, old, "vec_id", "embedding",
        k = 8, path = s"$path/float")
      val bq = Similarity.bqIvfBuild(fl, s"$path/codes")
      val fresh = vecs.where(pmod(col("vec_id"), lit(5)) === 0)
      require(Similarity.bqIvfAppendBatch(bq, fresh, batchId = 1L),
        "first append batch must apply")
      require(!Similarity.bqIvfAppendBatch(bq, fresh, batchId = 1L),
        "replayed batch id must no-op")
      bq
    }

  /** q177 — the BQ code tier UNDER INGEST ([[bqIvfIncIndex]] +
    * [[Similarity.bqIvfSearchBatch]]): the q176 search over a code
    * table whose newest fifth arrived through the streaming append
    * path — proving the 8 B tier stays current (and exactly-once)
    * without rebuilding the float index. The oracle re-derives BOTH
    * populations: Lloyd training and assignment over the old corpus,
    * the batch's map-only assignment against the TRAINED (persisted)
    * centroids, and the same probe/hamming/re-rank chain over their
    * union. */
  def annBqIvfIncremental(s: SparkSession, d: String): DataFrame =
    Similarity.bqIvfSearchBatch(bqIvfIncIndex(s, d), t(s, d, "embeddings"),
        t(s, d, "embeddings").where(col("vec_id") < 3),
        nprobe = 2, shortlist = 30, k = 10)
      .orderBy("q_id", "rank")

  private def rtbfBqProbe(s: SparkSession, d: String,
      idx: Similarity.BqIvfIndex): DataFrame =
    Similarity.bqIvfSearchBatch(idx, t(s, d, "embeddings"),
      t(s, d, "embeddings").where(col("vec_id") < 3),
      nprobe = 2, shortlist = 30, k = 10)

  /** Per-directory memo of the RTBF BQ tier: a fresh code index derived
    * from the shared float [[ivfIndex]] ([[Similarity.bqIvfBuild]]),
    * then the ≡ 3 (mod 7) vectors are tombstoned
    * ([[Similarity.bqIvfForget]]), the post-forget probe materialized,
    * and the index compacted — [[Similarity.bqIvfCompact]] doubles as
    * the physical purge (the round-13 verdict's ivfCompact-discipline
    * ask). */
  private def rtbfBqIndex(s: SparkSession, d: String): Similarity.BqIvfIndex =
    SessionArtifacts.getOrBuild(s, "rtbfbq", d) { path =>
      val bq = Similarity.bqIvfBuild(ivfIndex(s, d), path)
      Similarity.bqIvfForget(bq,
        t(s, d, "embeddings")
          .where(pmod(col("vec_id"), lit(7)) === 3).select("vec_id"))
      rtbfBqProbe(s, d, bq)
        .write.mode("overwrite").parquet(s"$path/rtbf_probe")
      Similarity.bqIvfCompact(bq, targetRecordsPerFile = 1L << 20)
      bq
    }

  /** q237 — RTBF through the BQ code tier
    * ([[Similarity.bqIvfForget]]/[[Similarity.bqIvfCompact]]): q176's
    * IVF-pruned hamming search after forgetting the ≡ 3 (mod 7)
    * vectors — once against the TOMBSTONED code table (phase
    * `forgotten`: the anti-join drops their codes before the hamming
    * shortlist), once after compaction purged the rows physically
    * (phase `purged`). Both phases must equal the oracle's replay over
    * a corpus that simply excludes the forgotten vectors from the
    * hamming phase; the trained centroids stay frozen (the index was
    * built before the deletion — forgetting never retrains). */
  def rtbfBqIvfQ(s: SparkSession, d: String): DataFrame = {
    val idx = rtbfBqIndex(s, d)
    val a = s.read.parquet(s"${idx.path}/rtbf_probe")
      .select(lit("forgotten").as("phase"), col("*"))
    val b = rtbfBqProbe(s, d, idx)
      .select(lit("purged").as("phase"), col("*"))
    a.unionByName(b).orderBy("phase", "q_id", "rank")
  }

  private def rtbfIvfProbe(s: SparkSession, d: String,
      idx: Similarity.IvfIndex): DataFrame =
    Similarity.ivfSearchIndexedBatch(idx,
      t(s, d, "embeddings").where(col("vec_id") < 3), nprobe = 2, topK = 10)

  /** Per-directory memo of the RTBF FLOAT-IVF index (the round-14
    * verdict's uncovered path: [[Similarity.ivfForget]] shipped wired
    * but gate-less): a fresh float index on the session-trained
    * centroids (same quantizer — one Lloyd run serves every tier, and
    * the oracle's `kmeansCtes` replay covers this index too), then the
    * ≡ 3 (mod 7) vectors tombstoned, the post-forget probe
    * materialized, and [[Similarity.ivfCompact]] run as the physical
    * purge. */
  private def rtbfIvfIndex(s: SparkSession, d: String): Similarity.IvfIndex =
    SessionArtifacts.getOrBuild(s, "rtbfivf", d) { path =>
      val idx = Similarity.ivfBuild(s, t(s, d, "embeddings"), "vec_id",
        "embedding", k = 8, path = path,
        centroids = Some(ivfIndex(s, d).centroids.drop("cnorm")))
      Similarity.ivfForget(idx,
        t(s, d, "embeddings")
          .where(pmod(col("vec_id"), lit(7)) === 3).select("vec_id"))
      rtbfIvfProbe(s, d, idx)
        .write.mode("overwrite").parquet(s"$path/rtbf_probe")
      Similarity.ivfCompact(idx, targetRecordsPerFile = 1L << 20)
      idx
    }

  /** q242 — RTBF through the FLOAT IVF index
    * ([[Similarity.ivfForget]]/[[Similarity.ivfCompact]]): q79's
    * batched partition-pruned search after forgetting the ≡ 3 (mod 7)
    * vectors — once against the TOMBSTONED corpus (phase `forgotten`:
    * the anti-join drops their rows before scoring), once after
    * compaction purged the cell partitions physically (phase
    * `purged`). Both phases must equal the oracle's replay over a
    * corpus that simply excludes the forgotten vectors from the
    * scoring scan; the trained centroids stay frozen (forgetting
    * never retrains). */
  def rtbfIvfQ(s: SparkSession, d: String): DataFrame = {
    val idx = rtbfIvfIndex(s, d)
    val a = s.read.parquet(s"${idx.path}/rtbf_probe")
      .select(lit("forgotten").as("phase"), col("*"))
    val b = rtbfIvfProbe(s, d, idx)
      .select(lit("purged").as("phase"), col("*"))
    a.unionByName(b).orderBy("phase", "q_id", "rank")
  }

  private def rtbfIvfPqProbe(s: SparkSession, d: String,
      idx: Similarity.IvfPqIndex): DataFrame =
    Similarity.ivfPqSearchIndexedBatch(idx, pqBooks(s, d),
      t(s, d, "embeddings").where(col("vec_id") < 3), "embedding",
      nprobe = 2, topK = 10)

  /** Per-directory memo of the RTBF IVF-PQ index (the second uncovered
    * round-14 path, [[Similarity.ivfPqForget]]): a fresh code index on
    * the session centroids + codebooks, forget ≡ 3 (mod 7), probe
    * materialized, [[Similarity.ivfPqCompact]] as the purge. */
  private def rtbfIvfPqIndex(s: SparkSession, d: String): Similarity.IvfPqIndex =
    SessionArtifacts.getOrBuild(s, "rtbfivfpq", d) { path =>
      val idx = Similarity.ivfPqBuild(s, t(s, d, "embeddings"), "vec_id",
        "embedding", k = 8, cb = pqBooks(s, d), path = path,
        centroids = Some(ivfIndex(s, d).centroids.drop("cnorm")))
      Similarity.ivfPqForget(idx,
        t(s, d, "embeddings")
          .where(pmod(col("vec_id"), lit(7)) === 3).select("vec_id"))
      rtbfIvfPqProbe(s, d, idx)
        .write.mode("overwrite").parquet(s"$path/rtbf_probe")
      Similarity.ivfPqCompact(idx, targetRecordsPerFile = 1L << 20)
      idx
    }

  /** q243 — RTBF through the IVF-PQ code index
    * ([[Similarity.ivfPqForget]]/[[Similarity.ivfPqCompact]]): q104's
    * batched ADC search after forgetting the ≡ 3 (mod 7) vectors,
    * phase-paired like q242 — the tombstone anti-join hides the code
    * rows, the compaction drops them physically, and both phases must
    * equal the oracle's replay with the forgotten vectors excluded
    * from the code scan (centroids AND codebooks frozen — deletion
    * retrains nothing). */
  def rtbfIvfPqQ(s: SparkSession, d: String): DataFrame = {
    val idx = rtbfIvfPqIndex(s, d)
    val a = s.read.parquet(s"${idx.path}/rtbf_probe")
      .select(lit("forgotten").as("phase"), col("*"))
    val b = rtbfIvfPqProbe(s, d, idx)
      .select(lit("purged").as("phase"), col("*"))
    a.unionByName(b).orderBy("phase", "q_id", "rank")
  }

  /** q79 — BATCHED IVF search ([[Similarity.ivfSearchIndexedBatch]]):
    * queries 0–2 each probe their best-2 trained cells, one pruned scan
    * of the union of probed partitions scores all three, per-query
    * top-10 via a q_id-partitioned window. The oracle replays the Lloyd
    * training, ranks probes per query over the same cosine table, and
    * scores through the (query, cell) membership join. */
  def annIvfBatch(s: SparkSession, d: String): DataFrame = {
    val idx = ivfIndex(s, d)
    Similarity.ivfSearchIndexedBatch(idx,
        t(s, d, "embeddings").where(col("vec_id") < 3), nprobe = 2, topK = 10)
      .orderBy("q_id", "rank")
  }

  /** q55 — the IVF coarse-quantizer cell assignment after Lloyd training:
    * every vector's cell against the trained centroids (the exact column
    * [[Similarity.ivfBuild]] partitions the corpus by). The oracle replays
    * both training iterations and the final assignment in SQL — possible
    * because the init is seeded from ids and every centroid update rounds
    * to 6 dp. */
  def kmeansAssign(s: SparkSession, d: String): DataFrame = {
    val v = t(s, d, "embeddings")
    // reuse the session-trained IVF centroids (same k/iters/seeded init —
    // [[ivfIndex]] runs kmeansCentroids(k = 8, iters = 2) at build time)
    // instead of retraining from scratch: the persisted centroid table IS
    // the trained table, 6-dp-rounded so the parquet roundtrip is
    // bit-stable and the oracle's CTE replay of training is unchanged.
    val cents = ivfIndex(s, d).centroids.drop("cnorm")
    Similarity.assignCells(v, "vec_id", "embedding", cents).orderBy("vec_id")
  }

  /** q182 — cluster-balanced sampling cap
    * ([[Similarity.clusterBalancedSample]]): at most 40 vectors per
    * trained cell, lowest ids win. Output is the per-cell balance
    * sheet; `kept_id_sum` pins the EXACT kept set (not just its size)
    * against the oracle's replay of training + assignment + the cap
    * window. */
  def clusterBalanceQ(s: SparkSession, d: String): DataFrame = {
    val cents = ivfIndex(s, d).centroids.drop("cnorm")
    Similarity.clusterBalancedSample(t(s, d, "embeddings"),
        "vec_id", "embedding", cents, cap = 40)
      .groupBy("cell")
      .agg(count(lit(1)).as("n_total"),
        sum(col("kept").cast("long")).as("n_kept"),
        sum(when(col("kept"), col("vec_id")).otherwise(0L)).as("kept_id_sum"))
      .orderBy("cell")
  }

  /** q110 — SemDeDup ([[Similarity.semDedup]], Abbas et al. 2023):
    * semantic near-dup removal against the session-trained k-means cells
    * (the SAME trained table the q55 oracle replays — one Lloyd run
    * serves IVF, IVF-PQ, and the semantic dedup) at tau = 0.4. Pairwise
    * cosine runs within each trained cell only; duplicate groups close
    * transitively through the MinHash pipeline's pointer-jumping
    * components; each group keeps its LOWEST-centroid-cosine member (the
    * paper's choice). The oracle replays training, assignment, both
    * cosine tables, the reachability closure, and the keep window. */
  def semDedupQ(s: SparkSession, d: String): DataFrame = {
    val cents = Similarity.collectCentroids(ivfIndex(s, d).centroids.drop("cnorm"))
    Similarity.semDedup(t(s, d, "embeddings"), "vec_id", "embedding",
        cents, tau = 0.4)
      .orderBy("vec_id")
  }

  /** Per-directory memo of the PARTIAL corpus index (vec_id < 450 in
    * their trained cells, SAME session quantizer) — the stand-in for an
    * already-deduped materialized corpus that q116's ingest batch is
    * checked against. */
  private def ivfPartialIndex(s: SparkSession, d: String): Similarity.IvfIndex =
    SessionArtifacts.getOrBuild(s, "ivfpart", d) { path =>
      Similarity.ivfBuild(s,
        t(s, d, "embeddings").where(col("vec_id") < 450), "vec_id",
        "embedding", k = 8, path = path,
        centroids = Some(ivfIndex(s, d).centroids.drop("cnorm")))
    }

  /** q116 — incremental SemDeDup ([[Similarity.semDedupIncremental]]):
    * vectors 450+ arrive as an ingest batch and are checked against the
    * materialized corpus of vectors < 450 (same session quantizer, the
    * partial index) at tau = 0.4 — partition-pruned probe, broadcast
    * batch, smallest matching corpus id as `dup_of`. The oracle splits
    * asg3 at 450 and replays the within-cell minimum. */
  def semDedupIncrementalQ(s: SparkSession, d: String): DataFrame = {
    val cents = Similarity.collectCentroids(ivfIndex(s, d).centroids.drop("cnorm"))
    Similarity.semDedupIncremental(ivfPartialIndex(s, d), cents,
        t(s, d, "embeddings").where(col("vec_id") >= 450), tau = 0.4)
      .orderBy("vec_id")
  }

  /** q113 — SemDeDup recall audit ([[Similarity.semDedupRecall]]): the
    * q110 approximation MEASURED — brute-force ground-truth pairs at
    * tau = 0.4 vs the within-cell subset, over the same trained cells.
    * The oracle recomputes both counts from the exploded layout and the
    * replayed assignment. */
  def semDedupRecallQ(s: SparkSession, d: String): DataFrame = {
    val cents = Similarity.collectCentroids(ivfIndex(s, d).centroids.drop("cnorm"))
    Similarity.semDedupRecall(t(s, d, "embeddings"), "vec_id", "embedding",
      cents, tau = 0.4)
  }

  /** Per-directory memo of the trained PQ codebooks (m=8 subspaces x
    * dsub=8 dims x ksub=8 codes, 2 deterministic Lloyd iterations —
    * [[Similarity.pqTrain]]): training runs once per session; the
    * collected codebooks (64 tiny rows) parameterize every later encode
    * and search as plan-time literals. */
  private def pqBooks(s: SparkSession, d: String): Similarity.PqCodebooks =
    SessionArtifacts.getOrBuild(s, "pqbooks", d)(_ =>
      Similarity.pqCollect(
        Similarity.pqTrain(t(s, d, "embeddings"), "vec_id", "embedding",
          m = 8, dsub = 8, ksub = 8, iters = 2),
        m = 8, dsub = 8, ksub = 8))

  /** Product-quantized ANN (q97): per-subspace Lloyd codebooks (seeded
    * init, 2 iterations, 6-dp means — the same deterministic-training
    * discipline as q40, replayed subspace-by-subspace by the oracle),
    * map-only encode of the corpus to m=8 code ids, then ADC search for
    * query vec 0 — the approximate distance is 8 lookups into the query's
    * literal distance table, so the search plan is ONE scan of the code
    * column ending in TakeOrderedAndProject: no join, no shuffle, and at
    * 100 TB the scan reads 32x fewer bytes than the float corpus. */
  def annPq(s: SparkSession, d: String): DataFrame = {
    val cb = pqBooks(s, d)
    val v = t(s, d, "embeddings")
    val qv = v.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    Similarity.pqEncode(v, "vec_id", "embedding", cb)
      .select(col("vec_id"),
        round(Similarity.pqAdcDistance(col("pq_code"), cb, qv), 4).as("adist"))
      .orderBy(col("adist").asc, col("vec_id").asc)
      .limit(10)
  }

  /** Per-directory memo of the materialized IVF-PQ index: the same
    * session-trained coarse centroids as [[ivfIndex]] (one Lloyd run
    * serves both indexes — and the oracle's single `kmeansCtes` replay
    * covers both) and the same session codebooks as [[pqBooks]]. */
  private def ivfPqIndex(s: SparkSession, d: String): Similarity.IvfPqIndex =
    SessionArtifacts.getOrBuild(s, "ivfpq", d) { path =>
      Similarity.ivfPqBuild(s, t(s, d, "embeddings"), "vec_id", "embedding",
        k = 8, cb = pqBooks(s, d), path = path,
        centroids = Some(ivfIndex(s, d).centroids.drop("cnorm")))
    }

  /** IVF-PQ search (q98 — IVFADC, the production composition): probe the
    * 2 best trained cells for query vec 0 by EXACT centroid cosine, then
    * ONE partition-pruned scan of the probed cells' PQ codes ranks by
    * `adcDot / (norm · qnorm)` — the dot product is the only approximated
    * factor (norms are exact build-time columns), so cells are formed,
    * probed, and rows ranked under one cosine metric. The oracle replays
    * coarse training + PQ training in a single WITH (shared `ex`). */
  def annIvfPq(s: SparkSession, d: String): DataFrame = {
    val idx = ivfPqIndex(s, d)
    val cb = pqBooks(s, d)
    val qv = t(s, d, "embeddings").where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    Similarity.ivfPqSearch(idx, cb, qv, nprobe = 2, topK = 10)
  }

  /** Batched IVF-PQ search (q104): queries 0–2 each probe their best-2
    * trained cells; ONE partition-pruned scan of the probed-cell union
    * decodes each code row once and scores it against the queries that
    * probed its cell (broadcast routes); per-query top-10 via a q_id
    * window. The oracle replays coarse + PQ training off one shared
    * `ex`, per-query probe ranking, and the per-(query, vector)
    * dot-table sum. */
  def annIvfPqBatch(s: SparkSession, d: String): DataFrame = {
    val idx = ivfPqIndex(s, d)
    val cb = pqBooks(s, d)
    Similarity.ivfPqSearchIndexedBatch(idx, cb,
        t(s, d, "embeddings").where(col("vec_id") < 3), "embedding",
        nprobe = 2, topK = 10)
      .orderBy("q_id", "rank")
  }

  /** PQ shortlist + exact re-rank (q99 — the two-stage retrieval): the
    * ADC code scan shortlists 50 candidates for query vec 0, only those
    * are re-scored against their true float vectors (broadcast id join —
    * never a shuffle), exact squared L2, top-10. Metric-consistent:
    * the re-rank computes exactly what ADC approximates. */
  def annPqRerank(s: SparkSession, d: String): DataFrame = {
    val cb = pqBooks(s, d)
    val v = t(s, d, "embeddings")
    val qv = v.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    Similarity.pqSearchRerank(v, "vec_id", "embedding", cb, qv,
      shortlist = 50, topK = 10)
  }

  /** CTE chain replaying `kmeansCentroids(k=8, iters=2)` plus the final
    * corpus assignment (`asg3` = the cell column IVF partitions by):
    * `cent0` = seeded init, `simN`/`asgN`/`centN` = iteration N's cosines,
    * argmax assignment, and 6-dp-rounded mean update. Shared by the q40 and
    * q55 oracles. */
  private def kmeansCtes: String = exCte + ",\n" + kmeansCtesTail

  private def kmeansCtesTail: String = kmeansCtesTailFrom("ex")

  /** The Lloyd replay parameterized by its vector source CTE — `ex` for
    * the raw embeddings (q40/q55/q79/q110...), `exm` for the image
    * tower's transformed vectors (q162's cross-modal index). */
  private def kmeansCtesTailFrom(src: String): String = {
    def sim(i: Int, cent: String) =
      s"""sim$i AS (SELECT e.vec_id, c.cell,
         |    sum(e.v * c.v) / sqrt(sum(e.v * e.v)) / sqrt(sum(c.v * c.v)) AS cs
         |  FROM $src e JOIN $cent c USING (d) GROUP BY e.vec_id, c.cell)""".stripMargin
    def asg(i: Int) =
      s"""asg$i AS (SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cs DESC, cell) AS rn FROM sim$i) WHERE rn = 1)""".stripMargin
    def cent(i: Int) =
      s"""cent$i AS (SELECT a.cell, e.d, round(avg(e.v), 6) AS v
         |  FROM asg$i a JOIN $src e USING (vec_id) GROUP BY a.cell, e.d)""".stripMargin
    Seq(
      s"cent0 AS (SELECT vec_id AS cell, d, v FROM $src WHERE vec_id < 8)",
      sim(1, "cent0"), asg(1), cent(1),
      sim(2, "cent1"), asg(2), cent(2),
      sim(3, "cent2"), asg(3)
    ).mkString(",\n")
  }

  /** The q152/q161 image-tower mix transform replayed over the
    * embeddings table as a 0-based `(vec_id, d, v)` value CTE — the
    * corpus side of the cross-modal IVF replay. */
  private val exmCte: String =
    """exm AS (SELECT vec_id, i - 1 AS d,
      |    (embedding[i]::DOUBLE
      |     + 0.1::DOUBLE * embedding[1 + (i % 64)]::DOUBLE) AS v
      |  FROM embeddings CROSS JOIN generate_series(1, 64) t(i))""".stripMargin

  /** CTE chain replaying [[Similarity.pqTrain]] (m=8, dsub=8, ksub=8,
    * iters=2) and the final corpus encode: `sx` = the subvector layout
    * (sub = d // 8, sd = d % 8), `bk0` = seeded init (subspace s of
    * vector c seeds code c), `dN`/`aN`/`bkN` = iteration N's squared
    * subspace distances, argmin assignment (ties to the smallest code),
    * and 6-dp-rounded mean update; `a3` = the pq codes
    * ([[Similarity.pqEncode]] against the trained books). */
  private def pqCtesTail: String = {
    def dist(i: Int, bk: String) =
      s"""d$i AS (SELECT x.vec_id, x.sub, b.code,
         |    sum((x.v - b.v) * (x.v - b.v)) AS d2
         |  FROM sx x JOIN $bk b ON b.sub = x.sub AND b.sd = x.sd
         |  GROUP BY x.vec_id, x.sub, b.code)""".stripMargin
    def asg(i: Int) =
      s"""a$i AS (SELECT vec_id, sub, code FROM (
         |    SELECT vec_id, sub, code, row_number() OVER (
         |      PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
         |    FROM d$i) WHERE rn = 1)""".stripMargin
    def upd(i: Int) =
      s"""bk$i AS (SELECT a.sub, a.code, x.sd, round(avg(x.v), 6) AS v
         |  FROM a$i a JOIN sx x ON x.vec_id = a.vec_id AND x.sub = a.sub
         |  GROUP BY a.sub, a.code, x.sd)""".stripMargin
    Seq(
      "sx AS (SELECT vec_id, d // 8 AS sub, d % 8 AS sd, v FROM ex)",
      "bk0 AS (SELECT sub, vec_id::INT AS code, sd, v FROM sx WHERE vec_id < 8)",
      dist(1, "bk0"), asg(1), upd(1),
      dist(2, "bk1"), asg(2), upd(2),
      dist(3, "bk2"), asg(3)
    ).mkString(",\n")
  }

  /** `ex` — the exploded `(vec_id, d, v)` layout both the k-means and PQ
    * chains start from (factored out so q98 can compose the two chains in
    * one WITH without a duplicate CTE name). */
  private val exCte: String =
    """ex AS (SELECT vec_id, i - 1 AS d, embedding[i]::DOUBLE AS v
      |  FROM embeddings CROSS JOIN generate_series(1, 64) t(i))""".stripMargin

  private def pqCtes: String = exCte + ",\n" + pqCtesTail

  /** Backward as-of join: each click matched to the user's latest
    * at-or-before error event (inner semantics: unmatched clicks dropped so
    * both sides emit non-null int64 timestamps). */
  def asofJoin(s: SparkSession, d: String): DataFrame = {
    // DuckDB timestamps are microsecond-precision, so the oracle's epoch_ns
    // is micro-truncated; truncate our nanos BEFORE the join so both engines
    // match on identical values (a sub-microsecond difference could
    // otherwise flip an e.ts <= c.ts decision).
    val ev = TimeSeriesQueries.events(s, d)
      .withColumn("ts", expr("ts div 1000") * 1000)
    val clicks = ev.where(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val errors = ev.where(col("event_type") === "error")
      .select("event_id", "user_id", "ts", "value")
    Temporal.asofBackward(clicks, errors, Seq("user_id"), "ts", "ts",
        rightCols = Seq("ts", "value"), rightTiebreak = Some("event_id"))
      .where(col("asof_ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("asof_ts"), col("asof_value"))
      .orderBy("event_id")
  }

  /** q52 — the STREAMING session-window operator ([[graft.streaming
    * .StreamingOps.sessionAgg]]) run in batch mode: Spark plans
    * `session_window` identically for batch frames (the watermark is a
    * streaming-only hint, eliminated in batch), so the operator's output is
    * DuckDB-checkable against an independent lag/cumsum session
    * computation. Same 3-day gap as q42. Note `session_window` is half-open
    * `[start, last + gap)` — an event at exactly gap distance opens a NEW
    * session — hence `>=` in the oracle where q42's batch operator uses `>`.
    */
  def streamingSessionWindow(s: SparkSession, d: String): DataFrame = {
    val ev = TimeSeriesQueries.events(s, d)
      .select(col("user_id"),
        timestamp_micros(expr("ts div 1000")).as("ts"),
        col("value"))
    graft.streaming.StreamingOps.sessionAgg(ev, gap = "72 hours", watermark = "2 hours")
      .select(col("user_id"), unix_micros(col("sess_start")).as("sess_start_us"),
        col("n"), round(col("sum_value"), 6).as("sum_value"))
      .orderBy("user_id", "sess_start_us")
  }

  /** Gap-based sessionization of the event stream per user. */
  def sessionize(s: SparkSession, d: String): DataFrame =
    Temporal.sessionize(
        TimeSeriesQueries.events(s, d)
          .select("event_id", "user_id", "ts"),
        Seq("user_id"), "ts", SessionGapNs, tiebreak = Seq("event_id"))
      .select("event_id", "user_id", "session_id")
      .orderBy("event_id")

  /** ROLLUP with subtotal rows (grouping nulls folded to 'ALL'). */
  def rollupAgg(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstat"),
        col("sum_qty"), col("n"))
      .orderBy("rflag", "lstat")

  /** CUBE over (priority, status) — all four grouping sets in ONE pass
    * (q43's ROLLUP emits only the prefix sets; CUBE adds the
    * status-only subtotals). Spark plans this as a single scan + Expand
    * (one input row fans out to its 4 grouping-set rows map-side) + one
    * hash aggregate — never four scans — and `grouping_id()`
    * disambiguates subtotal rows from a genuine 'ALL' data value. */
  def cubeAgg(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .cube("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("spend"),
        grouping_id().as("gid"))
      .select(
        coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("gid"), col("n"), col("spend"))
      .orderBy("prio", "status")

  /** Exact interpolated percentiles (median + p90) per group. */
  def percentiles(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("med"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"))
      .orderBy("l_returnflag")

  /** Left outer join keeping order-less customers (zero-filled). */
  def outerJoin(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        round(coalesce(sum("o_totalprice"), lit(0.0)), 2).as("spend"))
      .orderBy("c_custkey")

  /** Pivot order totals by status (fixed pivot values -> stable schema). */
  def pivotAgg(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(round(sum("o_totalprice"), 2))
      .na.fill(0.0, Seq("F", "O", "P"))
      .orderBy("o_orderpriority")

  /** The horizontal (100 TB) CP path, oracle-gated: the same reference
    * semantics run independently over a corpus of series (sid = user_id % 4)
    * — per-series binding, index and LIMIT, the CP kernel's chunks keyed by
    * sid. */
  def cpMultiSeries(s: SparkSession, d: String): DataFrame = {
    val series = TimeSeriesQueries.events(s, d)
      .select((col("user_id") % 4).as("sid"), col("event_id"), col("value"))
      .withColumn("t",
        row_number().over(Window.partitionBy("sid").orderBy("event_id")).cast("long"))
      .select(col("sid"), col("t"), col("value").as("y"))
    val spec = QueryParser.parse(
      "SELECT time_id, offset IN_DOMAIN [1, 200], [5, 10] FROM events.value " +
        "WHERE avg_amp() in [80, 100] MAX LIMIT 50")
    MultiSeriesEngine.execute(s, series, spec)
  }

  /** Skew-safe two-phase salted aggregation, oracle-gated against the plain
    * single-phase GROUP BY it must be equivalent to (salting is
    * semantics-preserving; only the shuffle shape changes). */
  def skewSaltedAgg(s: SparkSession, d: String): DataFrame =
    Skew.saltedAgg(t(s, d, "lineitem"),
        col("l_returnflag"), col("l_orderkey"), numSalts = 8,
        Seq(
          Skew.SaltedAgg("l_quantity", c => sum(c), c => sum(c), "sum_qty_raw"),
          Skew.SaltedAgg("l_quantity", c => count(c), c => sum(c), "n"),
          Skew.SaltedAgg("l_extendedprice", c => max(c), c => max(c), "max_price")))
      .select(col("key").as("l_returnflag"),
        round(col("sum_qty_raw"), 2).as("sum_qty"), col("n"), col("max_price"))
      .orderBy("l_returnflag")

  /** q213 — BLOOM-REDUCED selective join ([[Skew.bloomReducedJoin]]):
    * lineitem ⋈ part on the part key, with the dimension filtered to
    * p_size = 1 (~2% of parts) — the regime where pruning the fact
    * exchange pays. The fact side is projected to the three needed
    * columns BEFORE the prefilter (the typed filter is a pushdown
    * boundary; the projection keeps the scan narrow). Result is gated
    * against the plain SQL join — the filter must change the plan,
    * never the answer; SkewSpec measures the fact-exchange reduction
    * with broadcast disabled. */
  def bloomJoin(s: SparkSession, d: String): DataFrame = {
    val fact = t(s, d, "lineitem")
      .select("l_partkey", "l_quantity", "l_extendedprice")
    val dim = t(s, d, "part").where(col("p_size") === 1)
      .select("p_partkey", "p_brand")
    Skew.bloomReducedJoin(fact, dim, "l_partkey", "p_partkey")
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_items"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
      .orderBy("p_brand")
  }

  /** q220 — planner COLUMN STATISTICS ([[graft.operators.Stats
    * .columnStats]]): the ANALYZE pass in one scan — row count, nulls,
    * exact NDV, min/max for six lineitem columns (integers, a flag
    * string, a date — the types whose string casts agree byte-for-byte
    * across engines). The multi-distinct aggregate plans as one Expand
    * with map-side partials; output is |columns| rows. */
  def columnStatsQ(s: SparkSession, d: String): DataFrame =
    graft.operators.Stats.columnStats(t(s, d, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_returnflag", "l_shipdate"))
      .orderBy("col_name")

  /** q221 — the System-R UNIFORMITY-assumption join estimate, audited
    * where it breaks: the lineitem-partkey SELF-join sized as
    * `n² div ndv` (every textbook's |A⋈B| = |A|·|B|/max(ndv)) against
    * the exact Σ cnt² — on a skewed key the estimate undershoots
    * (Σc² ≥ n²/ndv by Cauchy–Schwarz, equality iff uniform), and the
    * signed error is the gated artifact. This is the stats-tier
    * companion to q202's sketch-tier estimate: stats are cheaper and
    * blind to skew; sketches see skew — a planner wants both, and now
    * both are gated. */
  def statsJoinEstimateQ(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    val stats = li.agg(count(lit(1)).as("n"),
      countDistinct(col("l_partkey")).as("ndv"))
    val truth = li.groupBy("l_partkey").agg(count(lit(1)).as("__c"))
      .agg(sum(col("__c") * col("__c")).as("true_join"))
    stats.crossJoin(broadcast(truth))
      .select(col("n"), col("ndv"),
        graft.operators.Graph.idiv(col("n") * col("n"), col("ndv"))
          .as("est_join"),
        col("true_join"),
        (graft.operators.Graph.idiv(col("n") * col("n"), col("ndv"))
          - col("true_join")).as("err"))
  }

  /** q222 — equi-width HISTOGRAM + range-selectivity audit
    * ([[graft.operators.Stats.histogram]] /
    * [[Stats.histogramRangeEstimate]]): 16 integer-exact buckets over
    * l_orderkey (no global sort — min/max broadcasts, the bucket map
    * combines map-side), then the uniform-within-bucket COUNT estimate
    * for a data-derived range (37%–61% of the span, so the range cuts
    * two partial buckets at any SF) against the exact count. The
    * signed error is the within-bucket-skew audit — the range tier of
    * the planner story next to q221 (equi-join stats) and q202
    * (frequency sketches). */
  def histogramSelectivityQ(s: SparkSession, d: String): DataFrame = {
    import graft.operators.{Graph, Stats}
    val li = t(s, d, "lineitem").select(col("l_orderkey"))
    val hist = Stats.histogram(li, "l_orderkey", 16)
    val rdf = li.agg(min("l_orderkey").as("lo"), max("l_orderkey").as("hi"))
      .select(
        (col("lo") + Graph.idiv((col("hi") - col("lo") + 1) * 37, lit(100L)))
          .as("range_lo"),
        (col("lo") + Graph.idiv((col("hi") - col("lo") + 1) * 61, lit(100L)))
          .as("range_hi"))
    val est = Stats.histogramRangeEstimate(
      hist.crossJoin(broadcast(rdf)), col("range_lo"), col("range_hi"))
    val truth = li.crossJoin(broadcast(rdf))
      .where(col("l_orderkey").between(col("range_lo"), col("range_hi")))
      .agg(count(lit(1)).as("true_count"))
    rdf.crossJoin(est).crossJoin(truth)
      .select(col("range_lo"), col("range_hi"), col("est_count"),
        col("true_count"),
        (col("est_count") - col("true_count")).as("err"))
  }

  /** Per-directory memo of the MAINTAINED lineitem statistics — the
    * stats family's under-ingest form: two order-parity batches, each
    * appending its one-row typed partial
    * ([[graft.operators.Stats.columnStatsPartial]]) replay-guarded via
    * the sketch families' batch-tag protocol. */
  private val StatsCols =
    Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_returnflag", "l_shipdate")
  private def statsMaintPath(s: SparkSession, d: String): String =
    SessionArtifacts.getOrBuild(s, "statsmaint", d) { p =>
      import graft.operators.{Sketch, Stats}
      def half(par: Int) = Stats.columnStatsPartial(
        t(s, d, "lineitem").where(pmod(col("l_orderkey"), lit(2)) === par),
        StatsCols)
      require(Sketch.sketchAppendBatch(p, half(0), 0L), "batch 0 must apply")
      require(Sketch.sketchAppendBatch(p, half(1), 1L), "batch 1 must apply")
      require(!Sketch.sketchAppendBatch(p, half(1), 1L),
        "replayed batch id must no-op")
      p
    }

  /** q227 — column statistics from the MAINTAINED partials
    * ([[graft.operators.Stats.statsRead]] over the persisted two-batch
    * append path): counts sum, typed mins/maxes merge, and the result
    * must equal the direct whole-table profile (the oracle recomputes
    * it from raw rows) — so the planner's row counts and bounds stay
    * current under ingest from ONE stored row per batch. NDV is
    * deliberately absent from the maintained tier (distinct doesn't
    * merge; the HLL registers are its maintained form — q199). */
  def statsMaintainedQ(s: SparkSession, d: String): DataFrame =
    graft.operators.Stats.statsRead(s, statsMaintPath(s, d), StatsCols)
      .orderBy("col_name")

  /** Per-directory memo of the MAINTAINED l_orderkey histogram — the
    * range tier's under-ingest form (the q227 protocol applied to
    * q222), now built THROUGH the re-freeze lifecycle (the round-14
    * verdict ask 6, exercised in-gate instead of a happy-path-only
    * build):
    *
    *  1. bounds frozen too NARROW — `[lo, mid]`, the half-span ANALYZE
    *     a shifting corpus outgrows — and the in-span rows appended as
    *     batch 0;
    *  2. the out-of-span batch REQUIRED to fail loud (the
    *     [[graft.operators.Stats.histogramPartial]] raise — silent
    *     clamping would corrupt the edge buckets);
    *  3. [[graft.operators.Stats.histogramRefreeze]] widens to
    *     `[lo, hi]` — the operator's integer grid analysis picks the
    *     tier (at a power-of-two-ish corpus span the half-grids NEST
    *     and the exact remap runs; both tiers are deterministically
    *     pinned in OperatorSpec), with the ingested rows supplied in
    *     case the rebuild tier is needed;
    *  4. the formerly-out-of-span rows append as batch 1 under the new
    *     bounds, replay-guarded (the marker survived the re-freeze).
    *
    * The read must then equal q222's direct whole-corpus build bit for
    * bit — the oracle is untouched. */
  private def histMaintState(s: SparkSession, d: String): (String, Long, Long) =
    SessionArtifacts.getOrBuild(s, "histmaint", d) { p =>
      val li = t(s, d, "lineitem").select(col("l_orderkey"))
      val b = li.agg(min("l_orderkey").as("lo"), max("l_orderkey").as("hi"))
        .collect().head
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val mid = lo + (hi - lo) / 2
      import graft.operators.{Sketch, Stats}
      val below = li.where(col("l_orderkey") <= mid)
      val above = li.where(col("l_orderkey") > mid)
      require(Sketch.sketchAppendBatch(p,
        Stats.histogramPartial(below, "l_orderkey", 16, lo, mid), 0L),
        "batch 0 must apply")
      val threw = try {
        Sketch.sketchAppendBatch(p,
          Stats.histogramPartial(above, "l_orderkey", 16, lo, mid), 1L)
        false
      } catch { case _: Throwable => true }
      require(threw, "out-of-span ingest must fail loud, not clamp")
      Stats.histogramRefreeze(s, p, 16, lo, mid, lo, hi,
        fact = Some((below, "l_orderkey")))
      require(Sketch.sketchAppendBatch(p,
        Stats.histogramPartial(above, "l_orderkey", 16, lo, hi), 1L),
        "batch 1 must apply under the re-frozen bounds")
      require(!Sketch.sketchAppendBatch(p,
        Stats.histogramPartial(above, "l_orderkey", 16, lo, hi), 1L),
        "replayed batch id must no-op")
      (p, lo, hi)
    }

  /** Per-directory memo of the RTBF histogram (the negative-partial
    * deletion tier, [[graft.operators.Stats.histogramForget]]): the
    * full corpus as batch 0 under full-span frozen bounds, then the
    * ≡ 0 (mod 53) order keys (q230's delete selector) removed by ONE
    * negative partial — replay-guard exercised in-gate (a replayed
    * delete would subtract twice and trip histogramRead's negative
    * raise) — the post-forget read materialized, and the parts
    * physically purged ([[graft.operators.Stats.histogramPurge]]).
    * Bounds stay frozen across the deletion: RTBF never re-runs
    * ANALYZE (stale bounds only widen estimates). */
  private def histRtbfState(s: SparkSession, d: String): (String, Long, Long) =
    SessionArtifacts.getOrBuild(s, "histrtbf", d) { p =>
      import graft.operators.{Sketch, Stats}
      val li = t(s, d, "lineitem").select(col("l_orderkey"))
      val b = li.agg(min("l_orderkey").as("lo"), max("l_orderkey").as("hi"))
        .collect().head
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      require(Sketch.sketchAppendBatch(p,
        Stats.histogramPartial(li, "l_orderkey", 16, lo, hi), 0L),
        "batch 0 must apply")
      val del = li.where(pmod(col("l_orderkey"), lit(53)) === 0)
      require(Stats.histogramForget(del, "l_orderkey", 16, lo, hi, p, 1L),
        "delete batch must apply")
      require(!Stats.histogramForget(del, "l_orderkey", 16, lo, hi, p, 1L),
        "replayed delete batch must no-op (it would delete twice)")
      Stats.histogramRead(s, p, 16, lo, hi)
        .write.mode("overwrite").parquet(s"$p/rtbf_probe")
      Stats.histogramPurge(s, p)
      (p, lo, hi)
    }

  /** q245 — RTBF through the MAINTAINED histogram
    * ([[graft.operators.Stats.histogramForget]]/[[graft.operators
    * .Stats.histogramPurge]]): bucket counts are linear, so one stored
    * negative partial removes the forgotten rows from every future
    * read exactly (the q230 count-min discipline on the range tier) —
    * phase `forgotten` reads through the stored delete, phase `purged`
    * after the physical rewrite, and both must equal the oracle's
    * direct bucket map of the KEPT corpus under the ORIGINAL frozen
    * bounds (deletion never re-freezes ANALYZE bounds). */
  def rtbfHistogramQ(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Stats
    val (p, lo, hi) = histRtbfState(s, d)
    val a = s.read.parquet(s"$p/rtbf_probe")
      .select(lit("forgotten").as("phase"), col("*"))
    val b = Stats.histogramRead(s, p, 16, lo, hi)
      .select(lit("purged").as("phase"), col("*"))
    a.unionByName(b).orderBy("phase", "bucket")
  }

  /** q233 — range-selectivity from the MAINTAINED histogram
    * ([[graft.operators.Stats.histogramRead]] over the persisted
    * two-batch append path): q222's audit re-derived with the bucket
    * map coming from frozen-bound per-batch partials instead of a
    * corpus rebuild. The oracle is q222's VERBATIM direct build, so the
    * gate proves maintained == direct bit for bit after an appended
    * batch — the planner's range estimates stay current under ingest
    * from ≤ 16 stored rows per batch. */
  def histogramMaintainedQ(s: SparkSession, d: String): DataFrame = {
    import graft.operators.{Graph, Stats}
    val (path, lo, hi) = histMaintState(s, d)
    val li = t(s, d, "lineitem").select(col("l_orderkey"))
    val hist = Stats.histogramRead(s, path, 16, lo, hi)
    val rdf = li.agg(min("l_orderkey").as("__lo"), max("l_orderkey").as("__hi"))
      .select(
        (col("__lo") + Graph.idiv((col("__hi") - col("__lo") + 1) * 37, lit(100L)))
          .as("range_lo"),
        (col("__lo") + Graph.idiv((col("__hi") - col("__lo") + 1) * 61, lit(100L)))
          .as("range_hi"))
    val est = Stats.histogramRangeEstimate(
      hist.crossJoin(broadcast(rdf)), col("range_lo"), col("range_hi"))
    val truth = li.crossJoin(broadcast(rdf))
      .where(col("l_orderkey").between(col("range_lo"), col("range_hi")))
      .agg(count(lit(1)).as("true_count"))
    rdf.crossJoin(est).crossJoin(truth)
      .select(col("range_lo"), col("range_hi"), col("est_count"),
        col("true_count"),
        (col("est_count") - col("true_count")).as("err"))
  }

  /** q228 — SKETCH-NDV statistics, the production ANALYZE path: exact
    * NDV (q220) costs a multi-distinct Expand over the fact table;
    * engines actually profile NDV with HLL. Per key column, the HLL
    * estimator's integer core over the column's value stream
    * ([[graft.operators.Sketch.hllRegisters]] on the decimal string of
    * the key — the same cast both engines print identically for
    * integers) plus the exact NDV as the audit column. The q201
    * discipline applied to ANALYZE: everything but the final float
    * division is gated. */
  def statsNdvSketchQ(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Sketch
    val li = t(s, d, "lineitem")
    def core(c: String) = Sketch.hllEstimate(
      Sketch.hllRegisters(
        li.select(lit(c).as("col_name"), col(c).cast("string").as("__v")),
        "__v", Seq("col_name")),
      Seq("col_name"))
      .select(col("col_name"), col("v"), col("harmonic_scaled"))
    val exact = li.agg(
      countDistinct(col("l_orderkey")).as("l_orderkey"),
      countDistinct(col("l_partkey")).as("l_partkey"))
      .select(explode(array(
        struct(lit("l_orderkey").as("col_name"),
          col("l_orderkey").as("exact_ndv")),
        struct(lit("l_partkey").as("col_name"),
          col("l_partkey").as("exact_ndv")))).as("s"))
      .select("s.*")
    core("l_orderkey").unionByName(core("l_partkey"))
      .join(exact, "col_name")
      .orderBy("col_name")
  }

  /** q229 — REFERENTIAL-INTEGRITY audit, the ingest QA gate a fact
    * table passes before anything joins it: per foreign key, row count,
    * orphan count (keys with no dimension partner — a left anti join,
    * exchanges carrying only the key), and the orphan-key checksum that
    * makes the gate sensitive to WHICH keys dangle. Orphans are PLANTED
    * (every 97th order's partkey shifted past the dimension's range) so
    * both branches carry real rows; the clean foreign key audits 0. */
  def riAuditQ(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    val planted = li.select(col("l_orderkey"),
      when(pmod(col("l_orderkey"), lit(97)) === 0,
        col("l_partkey") + lit(10000000L)).otherwise(col("l_partkey"))
        .as("l_partkey"))
    def audit(fact: DataFrame, fk: String, dim: DataFrame,
        pk: String, name: String) = {
      val orphans = fact.join(dim, fact(fk) === dim(pk), "left_anti")
      fact.agg(count(lit(1)).as("n_rows")).crossJoin(broadcast(
        orphans.agg(count(lit(1)).as("n_orphans"),
          coalesce(sum(col(fk)), lit(0L)).as("orphan_key_sum"))))
        .select(lit(name).as("fk_name"), col("n_rows"), col("n_orphans"),
          col("orphan_key_sum"))
    }
    audit(planted, "l_partkey", t(s, d, "part"), "p_partkey",
        "lineitem.l_partkey->part")
      .unionByName(audit(li.select("l_orderkey"), "l_orderkey",
        t(s, d, "orders"), "o_orderkey", "lineitem.l_orderkey->orders"))
      .orderBy("fk_name")
  }

  /** q181 — bucket CO-LOCATED join ([[graft.sources.Bucketed]]): both
    * fact tables written bucket-sorted on their order keys, so the
    * sort-merge join plans with ZERO shuffle exchanges — the layout the
    * 100 TB plan uses when a join key recurs query after query (pay the
    * shuffle once at write time, never at read time; PlanSpec pins the
    * exchange-free executed join). `hint("merge")` keeps the plan on
    * the sort-merge path so the pin demonstrates bucket co-location,
    * not a broadcast that would also be exchange-free at test scale.
    * The aggregate is integral (count + integer-valued quantity sum) so
    * the oracle comparison is order-insensitive. */
  def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    val (li, ord) = graft.sources.Bucketed.ensureOrderTables(s, d)
    s.table(li).hint("merge")
      .join(s.table(ord).hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity")).cast("long").as("sum_qty"))
      .orderBy("o_orderpriority")
  }

  /** Sketch aggregates gated by tolerance: HLL++ distinct count and the
    * approximate percentile must land within 5% of the exact values the
    * oracle recomputes (both sketches are merge-order-insensitive enough
    * that the boolean is deterministic at this accuracy). */
  def sketchTolerance(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("exact_nd"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_nd"),
        expr("percentile(l_extendedprice, 0.5)").as("exact_med"),
        expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("approx_med"))
      .select(col("l_returnflag"), col("exact_nd"),
        (abs(col("approx_nd") - col("exact_nd")).cast("double") /
          col("exact_nd") <= 0.05).as("nd_within_5pct"),
        round(col("exact_med"), 4).as("exact_med"),
        (abs(col("approx_med") - col("exact_med")) /
          col("exact_med") <= 0.05).as("med_within_5pct"))
      .orderBy("l_returnflag")

  // ---- DuckDB oracles ----

  /** The q222 range-selectivity oracle — shared verbatim by the
    * maintained form (q233). */
  private val histogramSelectivityOracleSql: String =
      """WITH b AS (SELECT min(l_orderkey) AS lo, max(l_orderkey) AS hi
        |  FROM lineitem),
        |r AS (SELECT lo + ((hi - lo + 1) * 37) // 100 AS range_lo,
        |    lo + ((hi - lo + 1) * 61) // 100 AS range_hi FROM b),
        |h0 AS (SELECT ((l_orderkey - lo) * 16) // (hi - lo + 1) AS bucket,
        |    lo, (hi - lo + 1) AS span
        |  FROM lineitem CROSS JOIN b),
        |h AS (SELECT bucket, lo + (bucket * span + 15) // 16 AS b_lo,
        |    lo + ((bucket + 1) * span + 15) // 16 - 1 AS b_hi,
        |    count(*)::BIGINT AS cnt
        |  FROM h0 GROUP BY bucket, lo, span),
        |e AS (SELECT sum(CASE
        |      WHEN least(b_hi, range_hi) >= greatest(b_lo, range_lo)
        |      THEN (cnt * (least(b_hi, range_hi) - greatest(b_lo, range_lo)
        |        + 1)) // (b_hi - b_lo + 1)
        |      ELSE 0 END)::BIGINT AS est_count
        |  FROM h CROSS JOIN r),
        |t AS (SELECT count(*)::BIGINT AS true_count
        |  FROM lineitem CROSS JOIN r
        |  WHERE l_orderkey BETWEEN range_lo AND range_hi)
        |SELECT r.range_lo, r.range_hi, e.est_count, t.true_count,
        |  (e.est_count - t.true_count)::BIGINT AS err
        |FROM r CROSS JOIN e CROSS JOIN t""".stripMargin

  // lazy: only the oracle side reads it (see LlmQueries.sql)
  lazy val sql: Map[String, String] = Map(
    // sim3 at vec_id = 0 IS the query-to-trained-centroid cosine table, so
    // the probe plan and the corpus assignment both come from the shared
    // k-means replay
    "q40_ann_ivf" ->
      s"""WITH $kmeansCtes,
         |probes AS (SELECT cell FROM sim3 WHERE vec_id = 0
         |  ORDER BY cs DESC, cell LIMIT 2),
         |q AS (SELECT d, v FROM ex WHERE vec_id = 0),
         |scored AS (SELECT e.vec_id,
         |    round(sum(e.v * q.v) / sqrt(sum(e.v * e.v)) / sqrt(sum(q.v * q.v)), 4) AS cos
         |  FROM ex e JOIN q USING (d)
         |  WHERE e.vec_id IN (SELECT a.vec_id FROM asg3 a JOIN probes p USING (cell))
         |  GROUP BY e.vec_id)
         |SELECT vec_id, cos FROM scored ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    "q55_kmeans_assign" ->
      s"""WITH $kmeansCtes
         |SELECT vec_id, cell FROM asg3 ORDER BY vec_id""".stripMargin,

    // the cap window replayed over the same trained assignment; the
    // kept-id checksum pins the exact kept set
    "q182_cluster_balance" ->
      s"""WITH $kmeansCtes,
         |r AS (SELECT vec_id, cell, row_number() OVER (PARTITION BY cell
         |    ORDER BY vec_id) AS rn FROM asg3)
         |SELECT cell, count(*)::BIGINT AS n_total,
         |  sum(CASE WHEN rn <= 40 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         |  sum(CASE WHEN rn <= 40 THEN vec_id ELSE 0 END)::BIGINT AS kept_id_sum
         |FROM r GROUP BY cell ORDER BY cell""".stripMargin,

    // SemDeDup replay: ccos = each vector's cosine to its TRAINED cell
    // centroid (cent2), sp = within-cell pairwise cosines (the asg3
    // self-join restricts pairs to shared cells before any embedding
    // arithmetic — the oracle never scores a cross-cell pair, mirroring
    // the Spark plan), sreach = transitive closure over the >= tau
    // edges, and the keep window ranks (cent_cos ASC, vec_id ASC) —
    // all thresholds/rankings on 4-dp-rounded values so both engines
    // decide from identical numbers
    "q110_semdedup" ->
      s"""WITH RECURSIVE $kmeansCtes,
         |ccos AS (SELECT e.vec_id, a.cell,
         |    round(sum(e.v * c.v) / sqrt(sum(e.v * e.v))
         |      / sqrt(sum(c.v * c.v)), 4) AS cent_cos
         |  FROM ex e JOIN asg3 a USING (vec_id)
         |  JOIN cent2 c ON c.cell = a.cell AND c.d = e.d
         |  GROUP BY e.vec_id, a.cell),
         |sp AS (SELECT x.vec_id AS a, y.vec_id AS b,
         |    round(sum(ea.v * eb.v) / sqrt(sum(ea.v * ea.v))
         |      / sqrt(sum(eb.v * eb.v)), 4) AS cos
         |  FROM asg3 x JOIN asg3 y ON x.cell = y.cell AND x.vec_id < y.vec_id
         |  JOIN ex ea ON ea.vec_id = x.vec_id
         |  JOIN ex eb ON eb.vec_id = y.vec_id AND eb.d = ea.d
         |  GROUP BY x.vec_id, y.vec_id),
         |se AS (SELECT a, b FROM sp WHERE cos >= 0.4),
         |sed AS (SELECT a AS u, b AS v FROM se UNION SELECT b, a FROM se),
         |sreach(u, r) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.v, sreach.r FROM sreach JOIN sed e ON e.u = sreach.u),
         |scomp AS (SELECT u AS vec_id, min(r) AS component
         |  FROM sreach GROUP BY u),
         |srn AS (SELECT cc.vec_id, cc.cell, cc.cent_cos, sc.component,
         |    row_number() OVER (PARTITION BY sc.component
         |      ORDER BY cc.cent_cos ASC, cc.vec_id ASC) AS rn
         |  FROM scomp sc JOIN ccos cc USING (vec_id))
         |SELECT vec_id, cell, cent_cos, component, (rn = 1) AS keep
         |FROM srn ORDER BY vec_id""".stripMargin,

    // incremental replay: asg3 split at 450 into corpus and batch, the
    // batch's cent_cos from the trained centroids, within-cell pairwise
    // vs the corpus only, smallest matching id wins
    "q116_semdedup_incremental" ->
      s"""WITH $kmeansCtes,
         |nb AS (SELECT vec_id, cell FROM asg3 WHERE vec_id >= 450),
         |cp AS (SELECT vec_id, cell FROM asg3 WHERE vec_id < 450),
         |ccos AS (SELECT e.vec_id,
         |    round(sum(e.v * c.v) / sqrt(sum(e.v * e.v))
         |      / sqrt(sum(c.v * c.v)), 4) AS cent_cos
         |  FROM ex e JOIN nb a USING (vec_id)
         |  JOIN cent2 c ON c.cell = a.cell AND c.d = e.d
         |  GROUP BY e.vec_id),
         |pc AS (SELECT n.vec_id AS nid, c.vec_id AS cid,
         |    round(sum(en.v * ec.v) / sqrt(sum(en.v * en.v))
         |      / sqrt(sum(ec.v * ec.v)), 4) AS cos
         |  FROM nb n JOIN cp c ON c.cell = n.cell
         |  JOIN ex en ON en.vec_id = n.vec_id
         |  JOIN ex ec ON ec.vec_id = c.vec_id AND ec.d = en.d
         |  GROUP BY n.vec_id, c.vec_id),
         |hits AS (SELECT nid, min(cid) AS dup_of FROM pc
         |  WHERE cos >= 0.4 GROUP BY nid)
         |SELECT n.vec_id, n.cell, cc.cent_cos, h.dup_of,
         |  (h.dup_of IS NULL) AS keep
         |FROM nb n JOIN ccos cc USING (vec_id)
         |LEFT JOIN hits h ON h.nid = n.vec_id
         |ORDER BY n.vec_id""".stripMargin,

    // recall audit replay: pcs = every unordered pair's 4-dp cosine from
    // the exploded layout, the within count restricts through the
    // replayed assignment, recall divides the two exact counts
    "q113_semdedup_recall" ->
      s"""WITH $kmeansCtes,
         |pcs AS (SELECT ea.vec_id AS a, eb.vec_id AS b,
         |    round(sum(ea.v * eb.v) / sqrt(sum(ea.v * ea.v))
         |      / sqrt(sum(eb.v * eb.v)), 4) AS cos
         |  FROM ex ea JOIN ex eb ON eb.d = ea.d AND ea.vec_id < eb.vec_id
         |  GROUP BY ea.vec_id, eb.vec_id),
         |ap AS (SELECT count(*)::BIGINT AS n_pairs_all
         |  FROM pcs WHERE cos >= 0.4),
         |wp AS (SELECT count(*)::BIGINT AS n_pairs_within
         |  FROM pcs p
         |  JOIN asg3 x ON x.vec_id = p.a
         |  JOIN asg3 y ON y.vec_id = p.b AND y.cell = x.cell
         |  WHERE p.cos >= 0.4)
         |SELECT n_pairs_all, n_pairs_within,
         |  (n_pairs_all - n_pairs_within)::BIGINT AS n_pairs_missed,
         |  CASE WHEN n_pairs_all = 0 THEN 1.0
         |    ELSE round(n_pairs_within / n_pairs_all::DOUBLE, 6) END AS recall
         |FROM ap, wp""".stripMargin,

    // dt is the query's ADC table (squared subspace distances to every
    // trained codebook entry); a3 carries each corpus vector's 8 codes, so
    // the approximate distance is the 8-way sum of table lookups — the
    // same two-step the Spark side runs with dt/codes as plan literals
    "q97_ann_pq" ->
      s"""WITH $pqCtes,
         |dt AS (SELECT b.sub, b.code, sum((q.v - b.v) * (q.v - b.v)) AS d2
         |  FROM sx q JOIN bk2 b ON b.sub = q.sub AND b.sd = q.sd
         |  WHERE q.vec_id = 0 GROUP BY b.sub, b.code),
         |ad AS (SELECT a.vec_id, round(sum(t.d2), 4) AS adist
         |  FROM a3 a JOIN dt t ON t.sub = a.sub AND t.code = a.code
         |  GROUP BY a.vec_id)
         |SELECT vec_id, adist FROM ad ORDER BY adist, vec_id LIMIT 10""".stripMargin,

    // coarse (kmeans) and PQ training replay side by side off one shared
    // `ex`; probes = the 2 best cells by exact centroid cosine, dt = the
    // query's per-(sub, code) DOT table, and the ranked value divides the
    // ADC dot by the exact vector/query norms — the same three factors
    // the Spark scan computes from (norm, pq_code)
    "q98_ann_ivfpq" ->
      s"""WITH $kmeansCtes,
         |$pqCtesTail,
         |qn AS (SELECT sqrt(sum(v * v)) AS n FROM ex WHERE vec_id = 0),
         |vn AS (SELECT vec_id, sqrt(sum(v * v)) AS n FROM ex GROUP BY vec_id),
         |probes AS (SELECT cell FROM (
         |  SELECT c.cell, sum(c.v * q.v) / sqrt(sum(c.v * c.v)) AS dp
         |  FROM cent2 c JOIN ex q ON q.d = c.d AND q.vec_id = 0
         |  GROUP BY c.cell ORDER BY dp DESC, cell LIMIT 2)),
         |dt AS (SELECT b.sub, b.code, sum(q.v * b.v) AS dp
         |  FROM sx q JOIN bk2 b ON b.sub = q.sub AND b.sd = q.sd
         |  WHERE q.vec_id = 0 GROUP BY b.sub, b.code),
         |ad AS (SELECT a.vec_id, sum(t.dp) AS adp
         |  FROM a3 a JOIN dt t ON t.sub = a.sub AND t.code = a.code
         |  GROUP BY a.vec_id)
         |SELECT g.vec_id,
         |  round(ad.adp / vn.n / (SELECT n FROM qn), 4) AS acos
         |FROM asg3 g
         |JOIN ad ON ad.vec_id = g.vec_id
         |JOIN vn ON vn.vec_id = g.vec_id
         |WHERE g.cell IN (SELECT cell FROM probes)
         |ORDER BY acos DESC, g.vec_id LIMIT 10""".stripMargin,

    // per-query probe ranking (rank by dot/cnorm — qnorm is constant per
    // query), per-query dot tables, and the (query, vector) ADC sum
    // routed through the probed-cell membership join
    "q104_ann_ivfpq_batch" ->
      s"""WITH $kmeansCtes,
         |$pqCtesTail,
         |qn AS (SELECT vec_id AS q_id, sqrt(sum(v * v)) AS n FROM ex
         |  WHERE vec_id < 3 GROUP BY vec_id),
         |vn AS (SELECT vec_id, sqrt(sum(v * v)) AS n FROM ex GROUP BY vec_id),
         |probes AS (SELECT q_id, cell FROM (
         |  SELECT q.vec_id AS q_id, c.cell,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY sum(c.v * q.v) / sqrt(sum(c.v * c.v)) DESC, c.cell)
         |      AS rn
         |  FROM cent2 c JOIN ex q ON q.d = c.d AND q.vec_id < 3
         |  GROUP BY q.vec_id, c.cell) WHERE rn <= 2),
         |dt AS (SELECT q.vec_id AS q_id, b.sub, b.code, sum(q.v * b.v) AS dp
         |  FROM sx q JOIN bk2 b ON b.sub = q.sub AND b.sd = q.sd
         |  WHERE q.vec_id < 3 GROUP BY q.vec_id, b.sub, b.code),
         |ad AS (SELECT t.q_id, a.vec_id, sum(t.dp) AS adp
         |  FROM a3 a JOIN dt t ON t.sub = a.sub AND t.code = a.code
         |  GROUP BY t.q_id, a.vec_id),
         |res AS (SELECT ad.q_id, g.vec_id,
         |    round(ad.adp / vn.n / qn.n, 4) AS acos
         |  FROM asg3 g
         |  JOIN ad ON ad.vec_id = g.vec_id
         |  JOIN probes p ON p.q_id = ad.q_id AND p.cell = g.cell
         |  JOIN vn ON vn.vec_id = g.vec_id
         |  JOIN qn ON qn.q_id = ad.q_id),
         |rk AS (SELECT q_id, vec_id, acos, row_number() OVER (
         |    PARTITION BY q_id ORDER BY acos DESC, vec_id) AS rank
         |  FROM res)
         |SELECT q_id, vec_id, acos, rank::INT AS rank FROM rk
         |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,

    // short = the ADC top-50 (q97's chain, wider limit); the re-rank
    // joins only those ids back to the float rows and computes exact
    // squared L2 in dimension order
    "q99_ann_pq_rerank" ->
      s"""WITH $pqCtes,
         |dt AS (SELECT b.sub, b.code, sum((q.v - b.v) * (q.v - b.v)) AS d2
         |  FROM sx q JOIN bk2 b ON b.sub = q.sub AND b.sd = q.sd
         |  WHERE q.vec_id = 0 GROUP BY b.sub, b.code),
         |ad AS (SELECT a.vec_id, sum(t.d2) AS adist
         |  FROM a3 a JOIN dt t ON t.sub = a.sub AND t.code = a.code
         |  GROUP BY a.vec_id),
         |short AS (SELECT vec_id FROM ad ORDER BY adist, vec_id LIMIT 50),
         |r AS (SELECT x.vec_id, round(sum((x.v - q.v) * (x.v - q.v)), 4) AS d2
         |  FROM ex x JOIN short s ON s.vec_id = x.vec_id
         |  JOIN ex q ON q.d = x.d AND q.vec_id = 0
         |  GROUP BY x.vec_id)
         |SELECT vec_id, d2 FROM r ORDER BY d2, vec_id LIMIT 10""".stripMargin,

    // the IVF-pruned BQ tier replayed end to end: Lloyd training and the
    // probe ranking from the shared k-means chain, sign-bit hamming
    // restricted to the probed (query, cell) memberships, the shortlist
    // window, and the exact-cosine re-rank window
    "q176_ann_bq_ivf" ->
      s"""WITH $kmeansCtes,
         |qprobes AS (SELECT q_id, cell FROM (
         |    SELECT vec_id AS q_id, cell, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cs DESC, cell) AS pr
         |    FROM sim3 WHERE vec_id < 3) WHERE pr <= 2),
         |bits AS (SELECT vec_id, d, (v > 0)::INT AS b FROM ex),
         |qb AS (SELECT vec_id AS q_id, d, b AS qbit FROM bits WHERE vec_id < 3),
         |ham AS (SELECT qb.q_id, bits.vec_id,
         |    sum(CASE WHEN bits.b <> qb.qbit THEN 1 ELSE 0 END)::BIGINT AS ham
         |  FROM bits JOIN qb ON qb.d = bits.d
         |  JOIN asg3 a ON a.vec_id = bits.vec_id
         |  JOIN qprobes p ON p.q_id = qb.q_id AND p.cell = a.cell
         |  GROUP BY qb.q_id, bits.vec_id),
         |short AS (SELECT q_id, vec_id, ham, row_number() OVER (PARTITION BY q_id
         |    ORDER BY ham, vec_id) AS hrank FROM ham),
         |q AS (SELECT vec_id AS q_id, d, v FROM ex WHERE vec_id < 3),
         |sc AS (SELECT s.q_id, s.vec_id, s.ham,
         |    round(sum(e.v * q.v) / sqrt(sum(e.v * e.v))
         |      / sqrt(sum(q.v * q.v)), 4) AS cos
         |  FROM short s JOIN ex e ON e.vec_id = s.vec_id
         |    JOIN q ON q.q_id = s.q_id AND q.d = e.d
         |  WHERE s.hrank <= 30 GROUP BY s.q_id, s.vec_id, s.ham),
         |r AS (SELECT q_id, vec_id, ham, cos, row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, vec_id)::INTEGER AS rank FROM sc)
         |SELECT q_id, vec_id, ham, cos, rank FROM r WHERE rank <= 10
         |ORDER BY q_id, rank""".stripMargin,

    // q176's replay with the forgotten vectors excluded from the
    // HAMMING phase only (codes hidden/purged; centroids frozen — the
    // index predates the deletion; the float fetch is shortlist-driven
    // so exclusion there is implied), crossed with the two phases: the
    // tombstone anti-join and the compaction purge must both equal it
    "q237_rtbf_bq_ivf" ->
      s"""WITH $kmeansCtes,
         |qprobes AS (SELECT q_id, cell FROM (
         |    SELECT vec_id AS q_id, cell, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cs DESC, cell) AS pr
         |    FROM sim3 WHERE vec_id < 3) WHERE pr <= 2),
         |bits AS (SELECT vec_id, d, (v > 0)::INT AS b FROM ex),
         |qb AS (SELECT vec_id AS q_id, d, b AS qbit FROM bits WHERE vec_id < 3),
         |ham AS (SELECT qb.q_id, bits.vec_id,
         |    sum(CASE WHEN bits.b <> qb.qbit THEN 1 ELSE 0 END)::BIGINT AS ham
         |  FROM bits JOIN qb ON qb.d = bits.d
         |  JOIN asg3 a ON a.vec_id = bits.vec_id
         |  JOIN qprobes p ON p.q_id = qb.q_id AND p.cell = a.cell
         |  WHERE bits.vec_id % 7 <> 3
         |  GROUP BY qb.q_id, bits.vec_id),
         |short AS (SELECT q_id, vec_id, ham, row_number() OVER (PARTITION BY q_id
         |    ORDER BY ham, vec_id) AS hrank FROM ham),
         |q AS (SELECT vec_id AS q_id, d, v FROM ex WHERE vec_id < 3),
         |sc AS (SELECT s.q_id, s.vec_id, s.ham,
         |    round(sum(e.v * q.v) / sqrt(sum(e.v * e.v))
         |      / sqrt(sum(q.v * q.v)), 4) AS cos
         |  FROM short s JOIN ex e ON e.vec_id = s.vec_id
         |    JOIN q ON q.q_id = s.q_id AND q.d = e.d
         |  WHERE s.hrank <= 30 GROUP BY s.q_id, s.vec_id, s.ham),
         |r AS (SELECT q_id, vec_id, ham, cos, row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, vec_id)::INTEGER AS rank FROM sc),
         |res AS (SELECT q_id, vec_id, ham, cos, rank FROM r WHERE rank <= 10),
         |ph AS (SELECT unnest(['forgotten', 'purged']) AS phase)
         |SELECT phase, q_id, vec_id, ham, cos, rank FROM ph CROSS JOIN res
         |ORDER BY phase, q_id, rank""".stripMargin,

    // the q79 replay with the forgotten vectors excluded from the
    // SCORING scan only (rows hidden/purged; centroids frozen — the
    // index predates the deletion, forgetting never retrains), crossed
    // with the two phases: the tombstone anti-join and the compaction
    // purge must both equal it
    "q242_rtbf_ivf" ->
      s"""WITH $kmeansCtes,
         |qprobes AS (SELECT q_id, cell FROM (
         |    SELECT vec_id AS q_id, cell, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cs DESC, cell) AS pr
         |    FROM sim3 WHERE vec_id < 3) WHERE pr <= 2),
         |q AS (SELECT vec_id AS q_id, d, v FROM ex WHERE vec_id < 3),
         |scored AS (SELECT q.q_id, e.vec_id,
         |    round(sum(e.v * q.v) / sqrt(sum(e.v * e.v))
         |      / sqrt(sum(q.v * q.v)), 4) AS cos
         |  FROM ex e
         |  JOIN q ON q.d = e.d
         |  JOIN asg3 a ON a.vec_id = e.vec_id
         |  JOIN qprobes p ON p.q_id = q.q_id AND p.cell = a.cell
         |  WHERE e.vec_id % 7 <> 3
         |  GROUP BY q.q_id, e.vec_id),
         |r AS (SELECT q_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, vec_id)::INTEGER AS rank
         |  FROM scored),
         |res AS (SELECT q_id, vec_id, cos, rank FROM r WHERE rank <= 10),
         |ph AS (SELECT unnest(['forgotten', 'purged']) AS phase)
         |SELECT phase, q_id, vec_id, cos, rank FROM ph CROSS JOIN res
         |ORDER BY phase, q_id, rank""".stripMargin,

    // the q104 replay with the forgotten vectors excluded from the CODE
    // scan (centroids AND codebooks frozen — deletion retrains
    // nothing), crossed with the two phases like q242
    "q243_rtbf_ivfpq" ->
      s"""WITH $kmeansCtes,
         |$pqCtesTail,
         |qn AS (SELECT vec_id AS q_id, sqrt(sum(v * v)) AS n FROM ex
         |  WHERE vec_id < 3 GROUP BY vec_id),
         |vn AS (SELECT vec_id, sqrt(sum(v * v)) AS n FROM ex GROUP BY vec_id),
         |probes AS (SELECT q_id, cell FROM (
         |  SELECT q.vec_id AS q_id, c.cell,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY sum(c.v * q.v) / sqrt(sum(c.v * c.v)) DESC, c.cell)
         |      AS rn
         |  FROM cent2 c JOIN ex q ON q.d = c.d AND q.vec_id < 3
         |  GROUP BY q.vec_id, c.cell) WHERE rn <= 2),
         |dt AS (SELECT q.vec_id AS q_id, b.sub, b.code, sum(q.v * b.v) AS dp
         |  FROM sx q JOIN bk2 b ON b.sub = q.sub AND b.sd = q.sd
         |  WHERE q.vec_id < 3 GROUP BY q.vec_id, b.sub, b.code),
         |ad AS (SELECT t.q_id, a.vec_id, sum(t.dp) AS adp
         |  FROM a3 a JOIN dt t ON t.sub = a.sub AND t.code = a.code
         |  WHERE a.vec_id % 7 <> 3
         |  GROUP BY t.q_id, a.vec_id),
         |sres AS (SELECT ad.q_id, g.vec_id,
         |    round(ad.adp / vn.n / qn.n, 4) AS acos
         |  FROM asg3 g
         |  JOIN ad ON ad.vec_id = g.vec_id
         |  JOIN probes p ON p.q_id = ad.q_id AND p.cell = g.cell
         |  JOIN vn ON vn.vec_id = g.vec_id
         |  JOIN qn ON qn.q_id = ad.q_id),
         |rk AS (SELECT q_id, vec_id, acos, row_number() OVER (
         |    PARTITION BY q_id ORDER BY acos DESC, vec_id) AS rank
         |  FROM sres),
         |res AS (SELECT q_id, vec_id, acos, rank::INT AS rank FROM rk
         |  WHERE rank <= 10),
         |ph AS (SELECT unnest(['forgotten', 'purged']) AS phase)
         |SELECT phase, q_id, vec_id, acos, rank FROM ph CROSS JOIN res
         |ORDER BY phase, q_id, rank""".stripMargin,

    // the incremental tier replayed over BOTH populations: training +
    // assignment on the old corpus only (exo), the new batch's map-only
    // assignment against the TRAINED centroids (cent2 — the append
    // contract: the quantizer never moves), then the q176 chain over
    // the union of old and appended codes
    "q177_ann_bq_ivf_incremental" -> {
      val trainOld = kmeansCtesTailFrom("exo")
      s"""WITH $exCte,
         |exo AS (SELECT * FROM ex WHERE vec_id % 5 <> 0),
         |exn AS (SELECT * FROM ex WHERE vec_id % 5 = 0),
         |$trainOld,
         |simn AS (SELECT e.vec_id, c.cell,
         |    sum(e.v * c.v) / sqrt(sum(e.v * e.v)) / sqrt(sum(c.v * c.v)) AS cs
         |  FROM exn e JOIN cent2 c USING (d) GROUP BY e.vec_id, c.cell),
         |asgn AS (SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cs DESC, cell) AS rn FROM simn) WHERE rn = 1),
         |alls AS (SELECT vec_id, cell FROM asg3
         |  UNION ALL SELECT vec_id, cell FROM asgn),
         |qsim AS (SELECT e.vec_id AS q_id, c.cell,
         |    sum(e.v * c.v) / sqrt(sum(e.v * e.v)) / sqrt(sum(c.v * c.v)) AS cs
         |  FROM ex e JOIN cent2 c USING (d) WHERE e.vec_id < 3
         |  GROUP BY 1, 2),
         |qprobes AS (SELECT q_id, cell FROM (
         |    SELECT q_id, cell, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cs DESC, cell) AS pr FROM qsim) WHERE pr <= 2),
         |bits AS (SELECT vec_id, d, (v > 0)::INT AS b FROM ex),
         |qb AS (SELECT vec_id AS q_id, d, b AS qbit FROM bits WHERE vec_id < 3),
         |ham AS (SELECT qb.q_id, bits.vec_id,
         |    sum(CASE WHEN bits.b <> qb.qbit THEN 1 ELSE 0 END)::BIGINT AS ham
         |  FROM bits JOIN qb ON qb.d = bits.d
         |  JOIN alls a ON a.vec_id = bits.vec_id
         |  JOIN qprobes p ON p.q_id = qb.q_id AND p.cell = a.cell
         |  GROUP BY qb.q_id, bits.vec_id),
         |short AS (SELECT q_id, vec_id, ham, row_number() OVER (PARTITION BY q_id
         |    ORDER BY ham, vec_id) AS hrank FROM ham),
         |q AS (SELECT vec_id AS q_id, d, v FROM ex WHERE vec_id < 3),
         |sc AS (SELECT s.q_id, s.vec_id, s.ham,
         |    round(sum(e.v * q.v) / sqrt(sum(e.v * e.v))
         |      / sqrt(sum(q.v * q.v)), 4) AS cos
         |  FROM short s JOIN ex e ON e.vec_id = s.vec_id
         |    JOIN q ON q.q_id = s.q_id AND q.d = e.d
         |  WHERE s.hrank <= 30 GROUP BY s.q_id, s.vec_id, s.ham),
         |r AS (SELECT q_id, vec_id, ham, cos, row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, vec_id)::INTEGER AS rank FROM sc)
         |SELECT q_id, vec_id, ham, cos, rank FROM r WHERE rank <= 10
         |ORDER BY q_id, rank""".stripMargin
    },

    "q79_ann_ivf_batch" ->
      s"""WITH $kmeansCtes,
         |qprobes AS (SELECT q_id, cell FROM (
         |    SELECT vec_id AS q_id, cell, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cs DESC, cell) AS pr
         |    FROM sim3 WHERE vec_id < 3) WHERE pr <= 2),
         |q AS (SELECT vec_id AS q_id, d, v FROM ex WHERE vec_id < 3),
         |scored AS (SELECT q.q_id, e.vec_id,
         |    round(sum(e.v * q.v) / sqrt(sum(e.v * e.v))
         |      / sqrt(sum(q.v * q.v)), 4) AS cos
         |  FROM ex e
         |  JOIN q ON q.d = e.d
         |  JOIN asg3 a ON a.vec_id = e.vec_id
         |  JOIN qprobes p ON p.q_id = q.q_id AND p.cell = a.cell
         |  GROUP BY q.q_id, e.vec_id),
         |r AS (SELECT q_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, vec_id)::INTEGER AS rank
         |  FROM scored)
         |SELECT q_id, vec_id, cos, rank FROM r WHERE rank <= 10
         |ORDER BY q_id, rank""".stripMargin,

    // the q79 replay with the k-means chain re-sourced to the
    // transformed image-tower vectors; probes rank by RAW-caption ×
    // trained-centroid cosine, corpus scoring over exm
    "q162_cross_modal_ivf" ->
      s"""WITH $exCte,
         |$exmCte,
         |${kmeansCtesTailFrom("exm")},
         |simq AS (SELECT q.vec_id AS q_id, c.cell,
         |    sum(q.v * c.v) / sqrt(sum(q.v * q.v)) / sqrt(sum(c.v * c.v))
         |      AS cs
         |  FROM ex q JOIN cent2 c USING (d)
         |  WHERE q.vec_id < 3 GROUP BY q.vec_id, c.cell),
         |qprobes AS (SELECT q_id, cell FROM (
         |    SELECT q_id, cell, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cs DESC, cell) AS pr
         |    FROM simq) WHERE pr <= 2),
         |q AS (SELECT vec_id AS q_id, d, v FROM ex WHERE vec_id < 3),
         |scored AS (SELECT q.q_id, e.vec_id,
         |    round(sum(e.v * q.v) / sqrt(sum(e.v * e.v))
         |      / sqrt(sum(q.v * q.v)), 4) AS cos
         |  FROM exm e
         |  JOIN q ON q.d = e.d
         |  JOIN asg3 a ON a.vec_id = e.vec_id
         |  JOIN qprobes p ON p.q_id = q.q_id AND p.cell = a.cell
         |  GROUP BY q.q_id, e.vec_id),
         |r AS (SELECT q_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, vec_id)::INTEGER AS rank
         |  FROM scored)
         |SELECT q_id, vec_id, cos, rank FROM r WHERE rank <= 10
         |ORDER BY q_id, rank""".stripMargin,

    // independent implementation: DuckDB's native ASOF JOIN vs our
    // union+last-ignoreNulls operator
    "q41_asof_join" ->
      """WITH c AS (SELECT event_id, user_id, epoch_ns(ts) AS ts FROM events
        |  WHERE event_type = 'click'),
        |e AS (SELECT user_id, epoch_ns(ts) AS ts, value FROM events
        |  WHERE event_type = 'error')
        |SELECT c.event_id, c.user_id, c.ts,
        |  e.ts AS asof_ts, e.value AS asof_value
        |FROM c ASOF JOIN e ON c.user_id = e.user_id AND e.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin,

    "q42_sessionize" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_ns(ts) AS tns FROM events),
         |f AS (SELECT event_id, user_id, tns,
         |    CASE WHEN tns - lag(tns) OVER w > $SessionGapNs THEN 1 ELSE 0 END AS brk
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tns, event_id))
         |SELECT event_id, user_id,
         |  sum(brk) OVER (PARTITION BY user_id ORDER BY tns, event_id
         |    ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
         |FROM f ORDER BY event_id""".stripMargin,

    "q52_streaming_session_window" -> {
      val gapUs = SessionGapNs / 1000L
      s"""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, value FROM events),
         |f AS (SELECT user_id, us, value,
         |    CASE WHEN us - lag(us) OVER w >= $gapUs THEN 1 ELSE 0 END AS brk
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
         |s AS (SELECT user_id, us, value,
         |    sum(brk) OVER (PARTITION BY user_id ORDER BY us
         |      ROWS UNBOUNDED PRECEDING) AS sess
         |  FROM f)
         |SELECT user_id, min(us) AS sess_start_us, count(*)::BIGINT AS n,
         |  round(sum(value), 6) AS sum_value
         |FROM s GROUP BY user_id, sess ORDER BY user_id, sess_start_us""".stripMargin
    },

    "q43_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |  coalesce(l_linestatus, 'ALL') AS lstat,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rflag, lstat""".stripMargin,

    "q93_cube_agg" ->
      """SELECT coalesce(o_orderpriority, 'ALL') AS prio,
        |  coalesce(o_orderstatus, 'ALL') AS status,
        |  (GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus))::BIGINT AS gid,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS spend
        |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
        |ORDER BY prio, status""".stripMargin,

    "q44_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS med,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q45_outer_join" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  round(coalesce(sum(o_totalprice), 0), 2) AS spend
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "q46_pivot" ->
      """SELECT o_orderpriority,
        |  coalesce(round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2), 0) AS "F",
        |  coalesce(round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2), 0) AS "O",
        |  coalesce(round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2), 0) AS "P"
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q47_cp_multiseries" ->
      """WITH base AS (SELECT user_id % 4 AS sid, event_id, value FROM events),
        |series AS (SELECT sid,
        |    row_number() OVER (PARTITION BY sid ORDER BY event_id) AS t,
        |    value AS y FROM base),
        |ext AS (SELECT sid, max(t) AS tmax FROM series GROUP BY sid),
        |grid AS (SELECT e.sid, x, lx FROM ext e
        |         CROSS JOIN generate_series(1, 200) g(x)
        |         CROSS JOIN generate_series(5, 10) h(lx)
        |         WHERE x + lx <= e.tmax),
        |vals AS (SELECT g.sid, g.x, g.lx, avg(s.y) AS c0
        |         FROM grid g JOIN series s
        |           ON s.sid = g.sid AND s.t BETWEEN g.x AND g.x + g.lx
        |         GROUP BY g.sid, g.x, g.lx)
        |SELECT sid, time_id, "offset" FROM (
        |  SELECT sid, x AS time_id, lx AS "offset",
        |    row_number() OVER (PARTITION BY sid ORDER BY x, lx) AS rn
        |  FROM vals WHERE c0 BETWEEN 80 AND 100)
        |WHERE rn <= 50
        |ORDER BY sid, time_id, "offset"""".stripMargin,

    "q48_skew_salted_agg" ->
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
        |  count(*) AS n, max(l_extendedprice) AS max_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // one UNION ALL branch per profiled column — count/nulls/NDV/min/max
    // recomputed independently; string casts agree byte-for-byte on the
    // integer/flag/date columns profiled
    "q220_column_stats" -> {
      def branch(c: String) =
        s"""SELECT '$c' AS col_name, count(*)::BIGINT AS n,
           |  (count(*) - count($c))::BIGINT AS n_null,
           |  count(DISTINCT $c)::BIGINT AS n_distinct,
           |  min($c)::VARCHAR AS min_s, max($c)::VARCHAR AS max_s
           |FROM lineitem""".stripMargin
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_returnflag", "l_shipdate")
        .map(branch).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },

    // n² // ndv vs the exact sum of squared key counts — the signed
    // error IS the uniformity-assumption audit (Cauchy-Schwarz makes it
    // <= 0, equality iff the key is uniform)
    "q221_stats_join_estimate" ->
      """WITH s AS (SELECT count(*)::BIGINT AS n,
        |    count(DISTINCT l_partkey)::BIGINT AS ndv FROM lineitem),
        |tru AS (SELECT sum(c * c)::BIGINT AS true_join FROM (
        |    SELECT count(*)::BIGINT AS c FROM lineitem
        |    GROUP BY l_partkey) t)
        |SELECT s.n, s.ndv, ((s.n * s.n) // s.ndv)::BIGINT AS est_join,
        |  tru.true_join,
        |  (((s.n * s.n) // s.ndv) - tru.true_join)::BIGINT AS err
        |FROM s CROSS JOIN tru""".stripMargin,

    // registers rebuilt from the key's decimal string, the 2^55-scaled
    // harmonic core, and the exact NDV audit — ANALYZE without the
    // multi-distinct Expand, gated to the last integer
    "q228_stats_ndv_sketch" -> {
      val h = "('0x' || substr(md5('67:' || v), 1, 15))::BIGINT"
      s"""WITH vals AS (
         |  SELECT 'l_orderkey' AS col_name, l_orderkey::VARCHAR AS v
         |    FROM lineitem
         |  UNION ALL
         |  SELECT 'l_partkey', l_partkey::VARCHAR FROM lineitem),
         |hh AS (SELECT col_name, (h % 64) AS idx, (h >> 6) AS suffix
         |  FROM (SELECT col_name, $h AS h FROM vals) t),
         |r AS (SELECT col_name, idx,
         |    CASE WHEN suffix = 0 THEN 55
         |         ELSE 55 - length(bin(suffix)) END AS rank
         |  FROM hh),
         |regs AS (SELECT col_name, idx, max(rank) AS rank
         |  FROM r GROUP BY 1, 2),
         |core AS (SELECT col_name, (64 - count(*))::BIGINT AS v,
         |    (sum(1::BIGINT << (55 - rank)::INTEGER)
         |      + (64 - count(*)) * (1::BIGINT << 55))::BIGINT
         |      AS harmonic_scaled
         |  FROM regs GROUP BY col_name),
         |ex AS (
         |  SELECT 'l_orderkey' AS col_name,
         |    count(DISTINCT l_orderkey)::BIGINT AS exact_ndv FROM lineitem
         |  UNION ALL
         |  SELECT 'l_partkey', count(DISTINCT l_partkey)::BIGINT
         |    FROM lineitem)
         |SELECT c.col_name, c.v, c.harmonic_scaled, e.exact_ndv
         |FROM core c JOIN ex e USING (col_name) ORDER BY col_name""".stripMargin
    },

    // anti-join counts + orphan-key checksums, orphans planted on one
    // foreign key so both branches carry real rows
    "q229_ri_audit" ->
      """WITH planted AS (SELECT l_orderkey,
        |    CASE WHEN l_orderkey % 97 = 0 THEN l_partkey + 10000000
        |         ELSE l_partkey END AS l_partkey
        |  FROM lineitem),
        |o1 AS (SELECT count(*)::BIGINT AS n_orphans,
        |    coalesce(sum(l_partkey), 0)::BIGINT AS orphan_key_sum
        |  FROM planted
        |  WHERE l_partkey NOT IN (SELECT p_partkey FROM part)),
        |a1 AS (SELECT 'lineitem.l_partkey->part' AS fk_name,
        |    (SELECT count(*) FROM planted)::BIGINT AS n_rows,
        |    n_orphans, orphan_key_sum FROM o1),
        |o2 AS (SELECT count(*)::BIGINT AS n_orphans,
        |    coalesce(sum(l_orderkey), 0)::BIGINT AS orphan_key_sum
        |  FROM lineitem
        |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
        |a2 AS (SELECT 'lineitem.l_orderkey->orders',
        |    (SELECT count(*) FROM lineitem)::BIGINT,
        |    n_orphans, orphan_key_sum FROM o2)
        |SELECT * FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2) t
        |ORDER BY fk_name""".stripMargin,

    // the direct whole-table profile recomputed from raw rows — the
    // Spark side read one merged row per batch instead (no NDV: the
    // maintained tier's distinct answer is the HLL family)
    "q227_stats_maintained" -> {
      def branch(c: String) =
        s"""SELECT '$c' AS col_name, count(*)::BIGINT AS n,
           |  (count(*) - count($c))::BIGINT AS n_null,
           |  min($c)::VARCHAR AS min_s, max($c)::VARCHAR AS max_s
           |FROM lineitem""".stripMargin
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_returnflag", "l_shipdate")
        .map(branch).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },

    // bucket map, integer bucket bounds, overlap interpolation, and the
    // exact range count all replayed — the signed error is the
    // within-bucket-skew audit
    "q222_histogram_selectivity" -> histogramSelectivityOracleSql,

    // VERBATIM the q222 oracle: the Spark side reads its bucket map
    // back from the persisted two-batch append path under frozen
    // bounds — maintained == direct through the gate (the q227/q208
    // family contract applied to the range tier)
    "q233_histogram_maintained" -> histogramSelectivityOracleSql,

    // the direct bucket map of the KEPT corpus (q230's delete selector)
    // under the FULL corpus's frozen bounds — deletion subtracts counts,
    // it never re-freezes ANALYZE bounds — crossed with the two phases:
    // the stored negative partial and the physical purge must both
    // equal it
    "q245_rtbf_histogram" ->
      """WITH b AS (SELECT min(l_orderkey) AS lo, max(l_orderkey) AS hi
        |  FROM lineitem),
        |h0 AS (SELECT ((l_orderkey - lo) * 16) // (hi - lo + 1) AS bucket,
        |    lo, (hi - lo + 1) AS span
        |  FROM lineitem CROSS JOIN b WHERE l_orderkey % 53 <> 0),
        |h AS (SELECT bucket, lo + (bucket * span + 15) // 16 AS b_lo,
        |    lo + ((bucket + 1) * span + 15) // 16 - 1 AS b_hi,
        |    count(*)::BIGINT AS cnt
        |  FROM h0 GROUP BY bucket, lo, span),
        |ph AS (SELECT unnest(['forgotten', 'purged']) AS phase)
        |SELECT phase, bucket::BIGINT AS bucket, b_lo::BIGINT AS b_lo,
        |  b_hi::BIGINT AS b_hi, cnt
        |FROM ph CROSS JOIN h ORDER BY phase, bucket""".stripMargin,

    // the bloom prefilter changes the PLAN (the fact exchange), never
    // the answer: the oracle is the plain selective join
    "q213_bloom_join" ->
      """SELECT p_brand, count(*)::BIGINT AS n_items,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size = 1
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    // the bucketed layout changes the PLAN, never the answer: the oracle
    // is the plain join aggregate over the raw parquet
    "q181_bucketed_join" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n_items,
        |  sum(l_quantity)::BIGINT AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // the oracle recomputes the exact values and asserts the Spark-side
    // sketches landed within tolerance (literal true columns)
    "q49_sketch_tolerance" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_nd,
        |  true AS nd_within_5pct,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_med,
        |  true AS med_within_5pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
  )

  /** Spark-side entries matching [[sql]]. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q40_ann_ivf" -> annIvf _,
    "q79_ann_ivf_batch" -> annIvfBatch _,
    "q176_ann_bq_ivf" -> annBqIvf _,
    "q237_rtbf_bq_ivf" -> rtbfBqIvfQ _,
    "q242_rtbf_ivf" -> rtbfIvfQ _,
    "q243_rtbf_ivfpq" -> rtbfIvfPqQ _,
    "q177_ann_bq_ivf_incremental" -> annBqIvfIncremental _,
    "q162_cross_modal_ivf" -> crossModalIvfBatch _,
    "q97_ann_pq" -> annPq _,
    "q98_ann_ivfpq" -> annIvfPq _,
    "q99_ann_pq_rerank" -> annPqRerank _,
    "q104_ann_ivfpq_batch" -> annIvfPqBatch _,
    "q55_kmeans_assign" -> kmeansAssign _,
    "q182_cluster_balance" -> clusterBalanceQ _,
    "q110_semdedup" -> semDedupQ _,
    "q113_semdedup_recall" -> semDedupRecallQ _,
    "q116_semdedup_incremental" -> semDedupIncrementalQ _,
    "q41_asof_join" -> asofJoin _,
    "q42_sessionize" -> sessionize _,
    "q52_streaming_session_window" -> streamingSessionWindow _,
    "q43_rollup" -> rollupAgg _,
    "q93_cube_agg" -> cubeAgg _,
    "q44_percentiles" -> percentiles _,
    "q45_outer_join" -> outerJoin _,
    "q46_pivot" -> pivotAgg _,
    "q47_cp_multiseries" -> cpMultiSeries _,
    "q48_skew_salted_agg" -> skewSaltedAgg _,
    "q213_bloom_join" -> bloomJoin _,
    "q220_column_stats" -> columnStatsQ _,
    "q221_stats_join_estimate" -> statsJoinEstimateQ _,
    "q222_histogram_selectivity" -> histogramSelectivityQ _,
    "q227_stats_maintained" -> statsMaintainedQ _,
    "q233_histogram_maintained" -> histogramMaintainedQ _,
    "q245_rtbf_histogram" -> rtbfHistogramQ _,
    "q228_stats_ndv_sketch" -> statsNdvSketchQ _,
    "q229_ri_audit" -> riAuditQ _,
    "q181_bucketed_join" -> bucketedJoin _,
    "q49_sketch_tolerance" -> sketchTolerance _,
  )
}
