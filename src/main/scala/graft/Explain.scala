package graft

/** Dumps `explain("formatted")` for the headline queries to a markdown file
  * — the plan-shape evidence (pushdown, broadcast, TakeOrderedAndProject,
  * codegen spans) in reviewable form. PlanSpec asserts the same properties
  * mechanically.
  *
  * Usage: runMain graft.Explain [sfDir] [outMd]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outMd = args.lift(1).getOrElse("/tmp/PLANS.md")
    val spark = GraftSession.build()
    val headline = Seq(
      "q01_scan_filter_project", "q03_agg_groupby", "q05_topk_orderby_limit",
      "q10_join_broadcast", "q13_semi_join", "q17_ts_window_avg",
      "q23_cp_refined_relax", "q31_dedup_minhash", "q35_ann_bruteforce",
      "q40_ann_ivf", "q41_asof_join", "q47_cp_multiseries",
      "q54_dedup_components", "q55_kmeans_assign", "q56_dedup_embed_pipeline",
      "q57_dedup_capped_verified", "q58_hash_split", "q60_vocab_topk",
      "q61_dedup_incremental", "q62_decontaminate", "q64_pack_chunks",
      "q65_quantile_filter", "q66_pii_redact", "q67_curation_pipeline",
      "q68_source_quota", "q69_token_budget", "q70_pack_text",
      "q71_ppm_decode", "q72_layout_roundtrip", "q73_decontaminate_frac",
      "q74_plane_features", "q76_decontaminate_bloom", "q77_plane_ann",
      "q78_ann_batch", "q79_ann_ivf_batch", "q80_dedup_keepers",
      "q81_mixed_decode", "q82_temperature_mix", "q83_pack_spans",
      "q84_dedup_keepers_by", "q85_temperature_repeat",
      "q86_mixed_decode_png", "q87_wav_decode", "q88_resize_box",
      "q89_wav_features", "q90_dedup_edit_verify", "q91_unigram_xent",
      "q92_ann_sq8", "q93_cube_agg", "q94_jsonl_roundtrip",
      "q95_unigram_xent_frozen", "q96_repeated_spans", "q97_ann_pq",
      "q98_ann_ivfpq", "q99_ann_pq_rerank", "q100_gopher_rules",
      "q101_dsir_weights", "q102_weighted_sample", "q103_top_ngram",
      "q104_ann_ivfpq_batch", "q105_contamination_spans",
      "q106_weighted_sample_strata", "q107_curriculum", "q108_bm25",
      "q109_minhash_estimate", "q110_semdedup", "q111_quality_logistic",
      "q112_mixture_allocation", "q113_semdedup_recall",
      "q114_winnow_fingerprints", "q115_shuffle_order",
      "q116_semdedup_incremental", "q117_mixture_apply",
      "q118_winnow_pairs", "q119_leak_safe_split", "q120_length_batches",
      "q121_image_dhash", "q122_image_neardup", "q123_oov_rate",
      "q124_bigram_xent", "q125_image_components",
      "q126_winnow_incremental", "q127_epoch_schedule",
      "q128_packing_efficiency", "q129_split_leakage",
      "q130_split_leakage_safe", "q131_image_dedup_incremental",
      "q132_audio_fingerprint", "q133_audio_neardup",
      "q134_image_neardup_capped", "q135_image_band_skipped",
      "q136_audio_neardup_capped", "q137_image_curation",
      "q138_component_profile", "q139_component_profile_tuned",
      "q140_bpe_tokens", "q141_token_count_bpe",
      "q142_length_batches_bpe", "q143_audio_spectral",
      "q144_audio_spectral_neardup", "q145_audio_curation",
      "q146_audio_spectral_incremental", "q147_simhash_neardup",
      "q148_mixture_bpe", "q149_video_frames", "q150_video_neardup",
      "q151_bpe_train", "q152_alignment_filter", "q153_alignment_quantile",
      "q154_video_winnow", "q155_pack_chunks_bpe",
      "q156_decontaminate_norm", "q157_dataloader_determinism",
      "q158_bpe_apply_merge_order", "q159_pair_curation",
      "q160_video_winnow_incremental", "q161_cross_modal_retrieval",
      "q162_cross_modal_ivf", "q163_strip_repeated",
      "q164_strip_contaminated", "q165_source_drift",
      "q166_source_attribution", "q167_source_drift_frozen",
      "q168_psi_drift", "q169_source_report", "q170_ann_matryoshka",
      "q171_ann_bq_rerank", "q172_ngram_novelty", "q173_cjk_dedup",
      "q174_url_dedup", "q175_quality_train", "q176_ann_bq_ivf",
      "q177_ann_bq_ivf_incremental", "q178_pack_bins_bfd",
      "q179_pack_discipline_report", "q180_line_dedup",
      "q181_bucketed_join", "q182_cluster_balance", "q183_unigram_train",
      "q184_unigram_tokens", "q185_wordpiece_train",
      "q186_wordpiece_tokens", "q187_host_report",
      "q188_tokenizer_fertility", "q189_quality_calibration",
      "q190_vocab_growth", "q191_shard_manifest",
      "q192_countmin_words", "q194_zorder_box",
      "q195_hll_registers", "q197_zorder_box_general",
      "q203_pagerank_hosts", "q204_authority_quota", "q205_kmv_sketch",
      "q207_kmv_overlap", "q209_card_redact", "q210_ppr_seed",
      "q211_snapshot_diff", "q212_hard_negatives", "q213_bloom_join",
      "q214_salt_plan", "q215_html_strip", "q216_rrf_fusion",
      "q218_url_filter", "q219_script_profile", "q220_column_stats",
      "q221_stats_join_estimate", "q222_histogram_selectivity",
      "q223_kanon_rollup", "q224_event_sequences",
      "q225_transition_matrix", "q226_langid_confusion",
      "q228_stats_ndv_sketch", "q229_ri_audit",
      "q230_countmin_delete", "q231_deletion_sweep",
      "q233_histogram_maintained", "q234_rtbf_band", "q235_rtbf_winnow",
      "q236_rtbf_dhash", "q237_rtbf_bq_ivf", "q238_rtbf_kmv",
      "q239_warc_read", "q240_langid_train", "q241_crawl_to_corpus",
      "q242_rtbf_ivf", "q243_rtbf_ivfpq", "q244_rtbf_edges",
      "q245_rtbf_histogram", "q246_warc_gz", "q247_warc_image_payloads",
      "q248_crawl_incremental", "q249_pagerank_dangling",
      "q250_rtbf_spectral", "q251_gif_frames")
    val sb = new StringBuilder(
      s"# PLANS — physical plans of headline queries ($sfDir)\n\n" +
        "Generated by `runMain graft.Explain`. The properties PlanSpec pins\n" +
        "(PushedFilters/ReadSchema pruning, BroadcastHashJoin, LeftSemi,\n" +
        "TakeOrderedAndProject, partial+final HashAggregate, codegen `*(n)`\n" +
        "stages) are visible inline.\n")
    headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // finalize AQE so the plan shown is the executed one
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode))
      sb.append("```\n")
      engine.Checkpoints.release(df) // q54's labels checkpoint, else no-op
    }

    // q54's outer plan is just the checkpointed labels scan (the loop's
    // result is lineage-free by design) — dump the two plans that carry the
    // scale story separately: (a) the one-shot edge generation (star edges,
    // evaluated exactly ONCE, into the pre-loop checkpoint), and (b) the
    // shape of a single label-propagation iteration, whose only leaves are
    // the checkpointed edge/label scans — no parquet, no signature recompute.
    {
      import org.apache.spark.sql.functions._
      import graft.operators.Dedup
      import graft.queries.LlmQueries.{NumHashes, Bands}
      import graft.engine.Checkpoints
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .where(col("text").isNotNull)
      val sig0 = docs.select(col("doc_id"),
        graft.functions.MinHashSig.minhash_sig(col("text"), NumHashes).as("__sig"))
        .select(col("doc_id") +:
          (0 until NumHashes).map(i => element_at(col("__sig"), i + 1).as(s"m$i")): _*)
      val banded = Dedup.lshBands(sig0, "doc_id", NumHashes, Bands)
      val star = Dedup.lshStarEdges(banded, "doc_id", Bands)
      star.collect()
      sb.append("\n## q54 edge generation (star edges — runs once, pre-loop)\n\n```\n")
      sb.append(star.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode))
      sb.append("```\n")
      val bi0 = Checkpoints.mark(
        star.select(col("a").cast("long").as("u"), col("b").cast("long").as("v")))
      val bi = Checkpoints.mark(
        bi0.union(bi0.select(col("v").as("u"), col("u").as("v"))))
      Checkpoints.release(bi0)
      val labels = Checkpoints.mark(
        docs.select(col("doc_id").cast("long").as("u")).distinct()
          .withColumn("l", col("u")))
      val msgs = bi.join(labels, "u").select(col("v").as("u"), col("l"))
      val nm0 = labels.union(msgs).groupBy("u").agg(min("l").as("l"))
      sb.append("\n## q54 iteration, step 1: neighbor-min (leaves = checkpoint scans only)\n\n```\n")
      nm0.collect()
      sb.append(nm0.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode))
      sb.append("```\n")
      val nm = Checkpoints.mark(nm0)
      val iter = nm.join(nm.select(col("u").as("l"), col("l").as("l2")), Seq("l"))
        .select(col("u"), col("l2").as("l"))
      iter.collect()
      sb.append("\n## q54 iteration, step 2: pointer jump (self-join over the materialized nm)\n\n```\n")
      sb.append(iter.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode))
      sb.append("```\n")
      Checkpoints.release(nm)
      Checkpoints.release(bi)
      Checkpoints.release(labels)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outMd), sb.toString)
    println(s"[explain] wrote $outMd")
    spark.stop()
  }
}
