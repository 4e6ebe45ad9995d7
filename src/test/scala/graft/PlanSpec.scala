package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions — the scale contract. These pin the
  * properties that make the engine viable at 100 TB: filter/projection
  * pushdown into the parquet scan, broadcast joins for small dims, top-k
  * without full sort, whole-stage codegen over the hot paths.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Every node of the FINAL physical plan — unwraps AQE's adaptive root
    * and leaf query stages ([[graft.plans.PlanWalk]]). */
  private def flattenPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    graft.plans.PlanWalk.flatten(p)

  test("q01: range predicate and projection push down to the parquet scan") {
    val p = plan("q01_scan_filter_project")
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThanOrEqual(l_orderkey,500)"), p.take(2000))
    // only the 3 projected columns reach the scan
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"),
      p.take(2000))
  }

  test("q10: small dimension join is a BroadcastHashJoin") {
    assert(plan("q10_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("q03: grouped agg runs partial+final hash aggregate under codegen") {
    val df = SparkEntry.queries("q03_agg_groupby")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
    // codegen spans only materialize in the final adaptive plan; in the
    // compact plan string a whole-stage-codegen stage prints as "*(n) Op"
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) HashAggregate""".r.findFirstIn(finalPlan).isDefined, finalPlan.take(2000))
  }

  test("q05: orderBy+limit compiles to TakeOrderedAndProject (no full sort)") {
    assert(plan("q05_topk_orderby_limit").contains("TakeOrderedAndProject"))
  }

  test("CP refined top-k also avoids a full sort") {
    import graft.engine.{LocalSolve, RefinementEngine}
    import graft.parser.QueryParser
    import spark.implicits._
    val series = (1 to 100).map(i => (i.toLong, i * 0.5)).toDF("t", "y")
    val spec = QueryParser.parse(
      "SELECT time_id, offset IN_DOMAIN [1, 50], [2, 5] FROM t.c " +
        "WHERE avg_amp() in [10, 20] MAX LIMIT REFINED 5")
    // the grid's 200 cells in chunks of at most 40
    val (cap, k) = (40L, 5)
    val b = RefinementEngine.bindDomains(spec, 1, 100)
    val chunks = LocalSolve.plan(LocalSolve.Grid(0L, 1, 100, b), LocalSolve.job(spec), cap).size
    assert(chunks >= 3)
    val df = RefinementEngine.execute(spark, series, spec, None, cap)
    val finalReads = graft.tools.Profile.record(spark)(assert(df.collect().length == k))
      .tasks.filter(_.taskType == "ResultTask").map(_.shReadRecs).sum
    // no Sort over the grid: each chunk keeps its best k, and the final
    // order reads at most k rows per chunk
    val plan = df.queryExecution.executedPlan.toString + df.rdd.toDebugString
    assert(!plan.contains("Sort") && !plan.contains("TakeOrderedAndProject"), plan)
    assert(finalReads > 0 && finalReads <= k * chunks, s"$finalReads rows")
  }

  private val cpQueries =
    Seq("q21_cp_unrefined", "q22_cp_refined_tighten", "q23_cp_refined_relax")
  /** The suite queries the CP kernel solves on the driver: the value grids
    * (ordered or aggregated there too) and the CP queries. */
  private val localQueries = Seq("q17_ts_window_avg", "q18_ts_excess_right",
    "q19_ts_excess_left", "q20_ts_grid_extrema") ++ cpQueries

  test("q17 to q23 each run no Spark job on a warm session") {
    // warm the session series index first: a one-time per-session build
    localQueries.foreach(q => SparkEntry.queries(q)(spark, sf).collect())
    localQueries.foreach { q =>
      val jobs = graft.tools.Profile.record(spark) {
        val df = SparkEntry.queries(q)(spark, sf)
        try df.collect() finally graft.engine.Checkpoints.release(df)
      }.jobs.size
      assert(jobs == 0, s"$q ran $jobs jobs")
    }
  }

  test("q24 builds on a warm session without starting a Spark job") {
    // warm the session series first: a one-time per-session build
    graft.queries.TimeSeriesQueries.cachedIndex(spark, sf)
    var df: org.apache.spark.sql.DataFrame = null
    val jobs = graft.tools.Profile.record(spark) {
      df = SparkEntry.queries("q24_ts_variability")(spark, sf)
    }.jobs.size
    assert(jobs == 0, s"building q24 ran $jobs jobs")
    assert(df.collect().nonEmpty)
  }

  test("releasing a local CP result keeps the session index cached; nothing accumulates") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import graft.queries.TimeSeriesQueries
    val idx = TimeSeriesQueries.cachedIndex(spark, sf)
    def runAll(): Seq[Seq[org.apache.spark.sql.Row]] = cpQueries.map { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      // solved on the driver
      assert(df.queryExecution.analyzed.isInstanceOf[LocalRelation], q)
      try df.collect().toSeq finally graft.engine.Checkpoints.release(df)
    }
    val first = runAll()
    (1 to 3).foreach { i =>
      val before = TestSpark.persistedIds()
      assert(runAll() == first, s"round $i")
      val left = TestSpark.persistedIds() -- before
      assert(left.isEmpty, s"round $i: $left")
    }
    assert(TimeSeriesQueries.cachedIndex(spark, sf) eq idx)
    assert(idx.df.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
  }

  test("q17: series-index hot path has no single-partition exchange") {
    // the partitioned two-pass build must leave no repartition(1)/global
    // row_number funnel anywhere in the flagship windowed-grid plan
    val df = SparkEntry.queries("q17_ts_window_avg")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"), p.take(3000))
  }

  test("q40: IVF probe scan is partition-pruned to the nprobe cells") {
    val df = SparkEntry.queries("q40_ann_ivf")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the bucketed corpus scan must carry a PartitionFilters entry on cell
    // (directory pruning), not a post-scan filter over all cells
    assert(p.contains("PartitionFilters") && p.contains("cell"), p.take(3000))
    assert("cell#\\d+L? IN".r.findFirstIn(p).isDefined ||
      p.contains("cell IN"), p.take(3000))
  }

  test("q176: BQ code scan partition-prunes to the probed cells; floats fetched by join, not scanned") {
    val df = SparkEntry.queries("q176_ann_bq_ivf")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the 8B code scan carries PartitionFilters on cell (directory
    // pruning to the probed cells) — the tier's whole point
    assert(p.contains("PartitionFilters: [cell"), p.take(3000))
    // phase 2 fetches shortlist floats through joins (broadcast routes +
    // shortlist), never a corpus-wide shuffle join or cartesian
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
    // per-query windows shuffle by q_id — batch size = parallelism
    assert(p.contains("hashpartitioning(q_id"), p.take(3000))
  }

  test("q79: batched IVF scan partition-prunes to the probed cells, ranks per query") {
    val df = SparkEntry.queries("q79_ann_ivf_batch")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // one pruned scan for the whole batch (directory pruning on cell)...
    assert(p.contains("PartitionFilters") && p.contains("cell"), p.take(3000))
    // ...scores routed by a broadcast of the tiny probe plan, never a
    // corpus shuffle join...
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    // ...and the per-query top-k shuffles BY QUERY id, never one task
    assert(p.contains("hashpartitioning(q_id"), p.take(3000))
    assert(!p.contains("SinglePartition"), p.take(3000))
  }

  test("q78/q79: rank<=k filter becomes a PARTIAL WindowGroupLimit before the exchange") {
    // the property that makes batched top-k scale: map-side partial
    // group-limit keeps per-partition top-k per query, so the rank
    // shuffle carries <= partitions x queries x k rows — NOT the full
    // (corpus x queries) score table
    Seq("q78_ann_batch", "q79_ann_ivf_batch").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert("WindowGroupLimit .*Partial".r.findFirstIn(p).isDefined,
        s"$name: ${p.take(3000)}")
    }
  }

  test("q36: LSH bucket column is computed map-side, before any exchange") {
    val df = SparkEntry.queries("q36_ann_lsh_buckets")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // no aggregation anywhere: the only exchange allowed is the final
    // display orderBy's range partitioning
    assert(!p.contains("HashAggregate") && !p.contains("Generate"), p.take(3000))
    assert("Exchange".r.findAllIn(p).size <= 1, p.take(3000))
  }

  test("annLsh plans as scan -> bucket filter -> top-k with zero joins") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.col
    // parquet-backed corpus: a local relation would constant-fold the whole
    // plan into a LocalTableScan and hide the shape under test
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = vecs.where(col("vec_id") === 5).head().getSeq[Float](1).toArray
    val p = Similarity.annLsh(spark, vecs, "vec_id", "embedding", q, 10)
      .queryExecution.executedPlan.toString
    // the corpus must NOT be joined to attach its own derived bucket column
    assert(!p.contains("Join"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("q56: embed near-dup candidates come from a bucket equi-join, never a cross join") {
    val p = plan("q56_dedup_embed_pipeline")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
    // the pair join is keyed on the bucket column
    assert("HashJoin.*bucket".r.findFirstIn(p).isDefined ||
      "SortMergeJoin.*bucket".r.findFirstIn(p).isDefined, p.take(3000))
  }

  test("q51: TF-IDF keeps both aggregations map-side combined, no term window") {
    val df = SparkEntry.queries("q51_text_tfidf")(spark, sf)
    df.collect()
    // inspect the ADAPTIVE final plan only (toString appends the initial
    // plan, which double-prints every subtree)
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // the dfreq branch must be partial+final hash aggregates (skew-safe),
    // NOT a count window partitioned by term; the only Window is the
    // per-doc top-1 (WindowGroupLimit-pruned)
    assert("Window \\[count".r.findFirstIn(p).isEmpty, p.take(3000))
    assert(p.contains("WindowGroupLimit"), p.take(3000))
    assert("partial_count".r.findAllIn(p).size >= 2, p.take(3000))
  }

  test("q29: exact-dedup exchanges carry the content hash, never the text bytes") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries("q29_dedup_exact")(spark, sf)
    df.collect()
    val shuffles = flattenPlan(df.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.nonEmpty)
    // the shuffle PAYLOAD (exchange output = partial-agg output) must be
    // (hash, partial min, partial count) — 32 B/doc; carrying the text
    // column here would ship the whole corpus through the exchange
    shuffles.foreach { s =>
      assert(!s.output.exists(_.name == "text"),
        s"exchange payload carries text: ${s.output.mkString(", ")}")
    }
    // and the agg shuffle is KEYED on the hash, not the raw text column —
    // Catalyst normalizes the groupBy-expression alias to
    // _groupingexpression; the hash itself is computed map-side (the
    // Project under the partial aggregate)
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("hashpartitioning\\((content_hash|_groupingexpression)".r
      .findFirstIn(p).isDefined, p.take(3000))
    assert(p.contains("sha2(cast(text"), p.take(3000))
    assert("partitioning\\(text".r.findFirstIn(p).isEmpty, p.take(3000))
  }

  test("q174: URL-dedup exchanges carry the 8B canonical hash, never the URL string") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries("q174_url_dedup")(spark, sf)
    df.collect()
    val shuffles = flattenPlan(df.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.nonEmpty)
    // the canonicalized URL and its hash are computed MAP-SIDE (the q29
    // discipline): the agg shuffle payload is (url_h, partial min,
    // partial count) — a url column here would ship every crawl URL's
    // bytes through the exchange
    shuffles.foreach { s =>
      assert(!s.output.exists(_.name == "url"),
        s"exchange payload carries the URL string: ${s.output.mkString(", ")}")
    }
  }

  test("q180: line-dedup frequency exchanges carry 8B hashes; document text moves at most once") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
    def stringy(t: DataType): Boolean = t match {
      case StringType => true
      case ArrayType(e, _) => stringy(e)
      case _ => false
    }
    val df = SparkEntry.queries("q180_line_dedup")(spark, sf)
    df.collect()
    val shuffles = flattenPlan(df.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.nonEmpty)
    // line strings never leave their document's row: the line-frequency
    // path exchanges only the 8B hash stream; the document text itself
    // (string or pre-split array) crosses at most ONE exchange — the
    // id-keyed join delivering the rewrite (zero when AQE broadcasts it)
    assert(shuffles.count(_.output.exists(a => stringy(a.dataType))) <= 1,
      shuffles.map(_.output.mkString(", ")).mkString("\n"))
    shuffles.filter(_.output.exists(_.name == "__lh")).foreach { s =>
      assert(!s.output.exists(a => stringy(a.dataType)),
        s"hash-path exchange carries line text: ${s.output.mkString(", ")}")
    }
  }

  test("q187: host report — exchanges carry the host key and integer stats, never the URL or the text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries("q187_host_report")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan
    flattenPlan(p).collect { case s: ShuffleExchangeLike => s }.foreach { s =>
      assert(!s.output.exists(a => a.name == "url" || a.name == "text"),
        s"exchange carries raw URL/text: ${s.output.mkString(", ")}")
    }
    val fp = p.toString.split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(fp).size == 1, fp.take(1500))
  }

  test("q192: the sketch side of the estimate join is broadcast — estimating is map-only over the keys") {
    val p = plan("q192_countmin_words")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q194: the quadrant box is a pushed zkey range on the z-ordered scan") {
    val df = SparkEntry.queries("q194_zorder_box")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(zkey), LessThan(zkey,4096)]"),
      p.take(3000))
  }

  test("q197: the general box is a pushed Or tree of zkey ranges — never a post-scan filter over raw columns") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = SparkEntry.queries("q197_zorder_box_general")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan
    assert(p.toString.contains("PushedFilters: [Or(Or("), p.toString.take(3000))
    // every scan-level filter references ONLY zkey — the box never
    // touches the raw columns Spark-side (exact cover, no residual)
    val scans = flattenPlan(p).collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    val filterRefs = scans.flatMap(_.dataFilters)
      .flatMap(_.references.toSeq.map(_.name)).toSet
    assert(filterRefs == Set("zkey"), s"scan filters touch: $filterRefs")
  }

  test("q188: fertility — ONE corpus scan computes all three learned tokenizers' counts map-side; exchanges carry the lang key and longs only") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
    def stringy(t: DataType): Boolean = t match {
      case StringType => true
      case ArrayType(e, _) => stringy(e)
      case _ => false
    }
    val df = SparkEntry.queries("q188_tokenizer_fertility")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan
    flattenPlan(p).collect { case s: ShuffleExchangeLike => s }.foreach { s =>
      assert(s.output.filter(a => stringy(a.dataType))
          .forall(_.name == "lang"),
        s"exchange carries text/token arrays: ${s.output.mkString(", ")}")
    }
    val fp = p.toString.split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(fp).size == 1, fp.take(1500))
  }

  test("q181: bucketed co-located join — the executed join runs with ZERO shuffle exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries("q181_bucketed_join")(spark, sf)
    df.collect()
    val plan = flattenPlan(df.queryExecution.executedPlan)
    val shuffles = plan.collect { case s: ShuffleExchangeLike => s }
    // the join keys are delivered co-located by the bucket-sorted
    // layout — the only permissible exchange is the 5-row final
    // aggregate on o_orderpriority
    shuffles.foreach { s =>
      assert(!s.output.exists(a =>
          a.name == "l_orderkey" || a.name == "o_orderkey"),
        s"join shuffled despite the bucketed layout: ${s.output.mkString(", ")}")
    }
    assert(plan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]))
    val rendered = df.queryExecution.executedPlan.toString
    assert(rendered.contains("Bucketed: true"), rendered.take(4000))
  }

  test("q30/q57/q63: no exchange carries shingle text — shingle ops shuffle 8B hashes") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    Seq("q30_dedup_jaccard", "q57_dedup_capped_verified",
        "q63_repetition", "q62_decontaminate",
        "q73_decontaminate_frac").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      try {
        df.collect()
        val shuffles = flattenPlan(df.queryExecution.executedPlan)
          .collect { case s: ShuffleExchangeLike => s }
        assert(shuffles.nonEmpty, name)
        shuffles.foreach { s =>
          assert(!s.output.exists(_.name == "shingle"),
            s"$name exchange carries shingle text: ${s.output.mkString(", ")}")
        }
      } finally graft.engine.Checkpoints.release(df)
    }
  }

  test("q71: PPM decode is map-only — one scan, display sort is the only exchange") {
    val df = SparkEntry.queries("q71_ppm_decode")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val stripped = p.replaceAll("Exchange rangepartitioning[^\n]*", "")
    assert(!stripped.contains("Exchange "), p.take(3000))
    assert("FileScan parquet".r.findAllIn(p).size == 1, p.take(3000))
  }

  test("q74/q75: decode-and-featurize pipelines are map-only — one scan, sort-only exchange") {
    Seq("q74_plane_features", "q75_bmp_decode").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val stripped = p.replaceAll("Exchange rangepartitioning[^\n]*", "")
      assert(!stripped.contains("Exchange "), s"$name: ${p.take(3000)}")
      assert("FileScan parquet".r.findAllIn(p).size == 1, s"$name: ${p.take(3000)}")
    }
  }

  test("q77: decode→features→ANN is one scan ending in TakeOrderedAndProject") {
    val df = SparkEntry.queries("q77_plane_ann")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the whole image pipeline reads the corpus once; the top-k is a
    // TakeOrderedAndProject (never a full sort of the scored corpus)
    assert("FileScan parquet".r.findAllIn(p).size <= 2, p.take(3000)) // corpus + broadcast query side
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("HashAggregate"),
      p.take(3000))
  }

  test("q76: Bloom membership is a partition filter — no join on the shingle hash at all") {
    val df = SparkEntry.queries("q76_decontaminate_bloom")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the scale property: unlike q62's broadcast JOIN (which silently
    // degrades to a corpus-wide SortMergeJoin past the broadcast
    // threshold), the Bloom probe is a typed partition filter — the only
    // join left in the whole plan is the doc_id flag join-back
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    val joinLines = p.linesIterator.filter(_.contains("Join")).toSeq
    assert(joinLines.nonEmpty && joinLines.forall(!_.contains("sh_h")),
      joinLines.mkString("\n"))
    assert(p.contains("MapPartitions"), p.take(3000))
  }

  test("q78: batched ANN broadcasts the query side, ranks per query — never one task") {
    val df = SparkEntry.queries("q78_ann_batch")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // query batch broadcast against the streamed corpus scan
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(3000))
    // the top-k window shuffles BY QUERY id — a single-partition window
    // here would funnel every (corpus x query) score through one task
    assert(p.contains("hashpartitioning(q_id"), p.take(3000))
    assert(!p.contains("SinglePartition"), p.take(3000))
  }

  test("q13/q14: semi and anti joins plan as semi/anti, not inner+distinct") {
    assert(plan("q13_semi_join").contains("LeftSemi"))
    assert(plan("q14_anti_join").contains("LeftAnti"))
  }

  test("q62/q73: eval set broadcasts, corpus shingle side joins without a shuffle") {
    Seq("q62_decontaminate", "q73_decontaminate_frac").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      // the membership join must be a broadcast of the (small) eval shingle
      // set — a sort-merge join here would shuffle the full corpus explode
      assert(p.contains("BroadcastHashJoin"), s"$name: ${p.take(3000)}")
      assert(!p.contains("SortMergeJoin"), s"$name: ${p.take(3000)}")
    }
  }

  test("q64: packing window partitions by source — never a single global sort") {
    val df = SparkEntry.queries("q64_pack_chunks")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the cumsum window must shuffle BY THE GROUP KEY (parallel across
    // sources); a SinglePartition exchange here would serialize the corpus
    // through one task — the exact bottleneck the operator exists to avoid
    assert(p.contains("hashpartitioning(source"), p.take(3000))
    assert(!p.replaceAll("rangepartitioning\\(doc_id[^)]*\\)", "")
      .contains("SinglePartition"), p.take(3000))
  }

  test("q68/q69/q70: selection and assembly windows shuffle by stratum, never one task") {
    // groupQuota / budgetSelect / packText all window per stratum — the
    // scale knob is group count, so the window exchange must be keyed on
    // the stratum column; a SinglePartition exchange would serialize the
    // corpus through one task
    Seq("q68_source_quota" -> "source", "q69_token_budget" -> "lang",
        "q70_pack_text" -> "source").foreach { case (name, key) =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(p.contains(s"hashpartitioning($key"), s"$name: ${p.take(3000)}")
      assert(!p.replaceAll("rangepartitioning\\([^)]*\\)", "")
        .contains("SinglePartition"), s"$name: ${p.take(3000)}")
    }
  }

  test("q65: per-stratum thresholds broadcast back onto the corpus scan") {
    val df = SparkEntry.queries("q65_quantile_filter")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("q66: PII redaction is map-only — no exchange except the display sort") {
    val df = SparkEntry.queries("q66_pii_redact")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // strip the display-sort range exchange; nothing else may shuffle
    val stripped = p.replaceAll("Exchange rangepartitioning[^\n]*", "")
    assert(!stripped.contains("Exchange "), p.take(3000))
    assert("FileScan parquet".r.findAllIn(p).size == 1, p.take(3000))
  }

  test("Layout.writeSorted: a key-range read decodes only the overlapping ranges") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.col
    // the 100 TB claim behind writeSorted: disjoint sorted ranges give
    // parquet min/max footer stats that let a key-range scan SKIP the
    // non-overlapping files' row groups entirely. File listing is static
    // (numFiles counts both layouts alike); the skip shows up as row
    // groups never decoded — the scan's numOutputRows metric.
    def tmp(name: String): String = {
      val p = java.nio.file.Files.createTempDirectory(name).toString
      graft.cli.Cleanup.deleteOnExit(p); p
    }
    val n = 40000L
    val df = spark.range(n).select(col("id").as("k"), (col("id") % 97).as("v"))
    val sortedPath = tmp("graft_plan_layout_sorted")
    val unsortedPath = tmp("graft_plan_layout_unsorted")
    graft.sources.Layout.writeSorted(df, sortedPath, Seq("k"), nRanges = 8)
    // same rows, same file count, but hash-partitioned: every file spans
    // the full key range, so footer stats can never exclude one
    df.repartition(8).write.mode("overwrite").parquet(unsortedPath)

    def scanRows(path: String): Long = {
      val q = spark.read.parquet(path).where(col("k").between(100, 200))
      assert(q.collect().length == 101)
      val p = q.queryExecution.executedPlan
      assert(p.toString.contains("PushedFilters: [IsNotNull(k), GreaterThanOrEqual(k,100)"),
        p.toString.take(2000))
      flattenPlan(p).collect { case s: FileSourceScanExec => s }
        .map(_.metrics("numOutputRows").value).sum
    }
    val sortedRows = scanRows(sortedPath)
    val unsortedRows = scanRows(unsortedPath)
    // unsorted decodes everything; sorted decodes ~one range's worth
    // (sampled split points make range sizes approximate, so allow slack —
    // the property is "a small fraction", not an exact eighth)
    assert(unsortedRows == n, s"unsorted layout decoded $unsortedRows")
    assert(sortedRows <= n / 4, s"sorted layout decoded $sortedRows of $n")
  }

  test("composed pipelines stay inside their corpus-scan budget") {
    // multi-branch pipelines materialize shared intermediates once; left
    // lazy, every branch re-derives its input back to the parquet scan
    // (q57 was 16 corpus scans in ONE plan before the checkpoint fix).
    // Budget = raw-corpus references that are CHEAPER as re-scans of
    // column-pruned parquet than as materializations (cosinePairs' two
    // vector lookups, TF-IDF's 1-row corpus count).
    val budget = Seq(
      "q57_dedup_capped_verified" -> 0,
      "q56_dedup_embed_pipeline" -> 3,
      "q51_text_tfidf" -> 2,
      "q30_dedup_jaccard" -> 0,
      // q67 materializes the dedup+band survivors once (they feed the
      // repetition semi-join's three branches); the final plan reads only
      // the checkpoint — any corpus scan means a leg got re-derived
      "q67_curation_pipeline" -> 0,
      "q62_decontaminate" -> 3,
      "q65_quantile_filter" -> 2,
      "q70_pack_text" -> 1)
    budget.foreach { case (name, maxScans) =>
      val df = SparkEntry.queries(name)(spark, sf)
      try {
        df.collect() // finalize AQE
        val p = df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        val scans = "FileScan parquet".r.findAllIn(p).size
        assert(scans <= maxScans,
          s"$name: $scans parquet scans (budget $maxScans)")
      } finally graft.engine.Checkpoints.release(df)
    }
  }

  /** Executed (AQE-final) plan text for a query, released after. */
  private def finalPlan(name: String)(check: String => Unit): Unit = {
    val df = SparkEntry.queries(name)(spark, sf)
    try {
      df.collect() // finalize AQE
      check(df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head)
    } finally graft.engine.Checkpoints.release(df)
  }

  test("q80/q84: keeper audits are one hash-agg over the checkpointed labels") {
    Seq("q80_dedup_keepers", "q84_dedup_keepers_by").foreach { name =>
      finalPlan(name) { p =>
        // the component labels come from the CC checkpoint — the audit
        // plan never re-derives the LSH/CC pipeline
        assert(p.contains("Scan ExistingRDD"), s"$name:\n${p.take(1500)}")
        // exactly ONE row-level shuffle: the component hash aggregate
        val ex = "Exchange hashpartitioning\\(component".r.findAllIn(p).size
        assert(ex == 1, s"$name: $ex component exchanges\n${p.take(1500)}")
        assert(!p.contains("SortMergeJoin"), s"$name joins must broadcast")
      }
    }
    // q84's score join specifically must broadcast the doc-score side,
    // not shuffle the labels
    finalPlan("q84_dedup_keepers_by") { p =>
      assert(p.contains("BroadcastHashJoin"), p.take(1500))
    }
  }

  test("q82/q85: temperature thresholds broadcast; the corpus flag stage is map-only") {
    Seq("q82_temperature_mix", "q85_temperature_repeat").foreach { name =>
      finalPlan(name) { p =>
        assert(p.contains("BroadcastHashJoin"), s"$name:\n${p.take(1500)}")
        assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
          s"$name: threshold join fell off broadcast")
        // every hash exchange is strata-keyed (the strata-sized count aggs
        // + the final per-stratum rollup) — no exchange ever carries
        // doc-level rows, so the per-doc flag is map-side at any corpus size
        val keys = "Exchange hashpartitioning\\((\\w+)".r
          .findAllMatchIn(p).map(_.group(1)).toSet
        assert(keys == Set("lang"), s"$name: exchange keys $keys")
      }
    }
  }

  test("q83: span packing has exactly one window exchange; the fan-out adds none") {
    finalPlan("q83_pack_spans") { p =>
      assert("Window \\[".r.findAllIn(p).size == 1, p.take(1500))
      // ONE hash exchange total: the per-source window partition — the
      // boundary-straddle explode is a map-side Generate above it
      val ex = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(ex == 1, s"$ex hash exchanges\n${p.take(1500)}")
      assert(p.contains("Generate explode"), p.take(1500))
    }
  }

  test("q81/q86-q89: decode/resize/feature pipelines are map-only — one scan, no pre-sort exchange") {
    Seq("q81_mixed_decode", "q86_mixed_decode_png", "q87_wav_decode",
        "q88_resize_box", "q89_wav_features").foreach { name =>
      finalPlan(name) { p =>
        assert("FileScan parquet".r.findAllIn(p).size == 1,
          s"$name: decode must be one corpus pass\n${p.take(1500)}")
        assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
          s"$name: decode path must not shuffle (display sort only)")
      }
    }
  }

  test("q90: edit verification is all equi-joins — never a cartesian pair blow-up") {
    finalPlan("q90_dedup_edit_verify") { p =>
      assert(p.contains("levenshtein"), p.take(1500))
      assert(!p.contains("CartesianProduct"),
        s"candidate/verify joins must stay equi-joins\n${p.take(1500)}")
      // the native per-row MinHash signature means no shingle explode
      // feeds the band join — no exchange anywhere carries shingle text
      assert(!p.contains("Generate explode(split"),
        s"signatures must be per-row, not exploded\n${p.take(1500)}")
    }
  }

  test("q91: LM scoring exchanges are keyed on term/doc — text never shuffles") {
    val df = SparkEntry.queries("q91_unigram_xent")(spark, sf)
    try {
      df.collect()
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      val shuffles = flattenPlan(df.queryExecution.executedPlan)
        .collect { case s: ShuffleExchangeLike => s }
      assert(shuffles.nonEmpty)
      shuffles.foreach { s =>
        assert(!s.output.exists(_.name == "text"),
          s"exchange carries document text: ${s.output.mkString(", ")}")
      }
      // the corpus total joins as a broadcast single row, never a shuffle
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    } finally graft.engine.Checkpoints.release(df)
  }

  test("q95: frozen-LM scoring joins a broadcast model — text never shuffles") {
    val df = SparkEntry.queries("q95_unigram_xent_frozen")(spark, sf)
    try {
      df.collect()
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      val shuffles = flattenPlan(df.queryExecution.executedPlan)
        .collect { case s: ShuffleExchangeLike => s }
      assert(shuffles.nonEmpty)
      shuffles.foreach { s =>
        assert(!s.output.exists(_.name == "text"),
          s"exchange carries document text: ${s.output.mkString(", ")}")
      }
      val p = df.queryExecution.executedPlan.toString
      // the vocab-sized model joins as a broadcast (left outer: OOV backoff)
      assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"),
        p.take(1500))
      // the corpus total joins as a broadcast single row, never a shuffle
      assert(p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    } finally graft.engine.Checkpoints.release(df)
  }

  test("q96: substring-dedup exchanges carry window hashes — never window text") {
    val df = SparkEntry.queries("q96_repeated_spans")(spark, sf)
    df.collect()
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val shuffles = flattenPlan(df.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.nonEmpty)
    shuffles.foreach { s =>
      assert(!s.output.exists(a => a.name == "text" || a.name == "__w"),
        s"exchange carries text: ${s.output.mkString(", ")}")
    }
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q163: strip exchanges — window machinery ships hashes; text shuffles ONCE (the rebuild join)") {
    val df = SparkEntry.queries("q163_strip_repeated")(spark, sf)
    df.collect()
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val shuffles = flattenPlan(df.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.nonEmpty)
    // window text never enters an exchange — the span machinery ships
    // (id, pos, wh) 8 B hashes exactly like q96
    shuffles.foreach { s =>
      assert(!s.output.exists(_.name == "__w"),
        s"exchange carries window text: ${s.output.mkString(", ")}")
    }
    // the corpus text crosses the wire AT MOST once: the rebuild join
    // co-locating each doc with its span list (a second text exchange
    // would mean the strip re-shuffled the corpus somewhere it didn't
    // need to). AQE may instead broadcast the span side, leaving zero.
    val textShuffles = shuffles.count(_.output.exists(a =>
      a.name == "text" || a.name == "n_tokens_before"))
    assert(textShuffles <= 1,
      s"corpus rows must shuffle at most once, found $textShuffles")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q165: drift exchanges carry (stratum, token, count) rows — never document text; totals broadcast") {
    val df = SparkEntry.queries("q165_source_drift")(spark, sf)
    df.collect()
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val shuffles = flattenPlan(df.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.nonEmpty)
    // per-occurrence token rows reduce map-side (partial hash agg) before
    // any exchange; document text never ships
    shuffles.foreach { s =>
      assert(!s.output.exists(_.name == "text"),
        s"exchange carries text: ${s.output.mkString(", ")}")
    }
    val p = df.queryExecution.executedPlan.toString
    // the 1-row corpus frame and the strata-sized totals join in as
    // broadcasts (BroadcastNestedLoopJoin for the grid cross joins);
    // the corpus never cartesians against itself
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q170/q171: query sides broadcast, shortlist fetch is a join, never a cartesian") {
    val p170 = plan("q170_ann_matryoshka")
    assert(p170.contains("BroadcastNestedLoopJoin") ||
      p170.contains("BroadcastHashJoin"), p170.take(2000))
    assert(!p170.contains("CartesianProduct"), p170.take(1500))
    val df = SparkEntry.queries("q171_ann_bq_rerank")(spark, sf)
    df.collect()
    val p171 = df.queryExecution.executedPlan.toString
    // phase 1: the broadcast cross against the tiny query-code frame;
    // phase 2: the shortlist fetches floats through equi-joins — never
    // a cartesian anywhere
    assert(p171.contains("BroadcastNestedLoopJoin"), p171.take(2000))
    assert(p171.contains("BroadcastHashJoin"), p171.take(2000))
    assert(!p171.contains("CartesianProduct"), p171.take(1500))
  }

  test("q92: int8 ANN is map-only quantize + broadcast + top-k without full sort") {
    finalPlan("q92_ann_sq8") { p =>
      assert(p.contains("TakeOrderedAndProject"), p.take(1500))
      assert(!p.contains("Exchange hashpartitioning"),
        s"quantized scan must not shuffle\n${p.take(1500)}")
      // query-side scan prunes to the one probe row at the parquet footer
      assert(p.contains("PushedFilters: [IsNotNull(vec_id), EqualTo(vec_id,0)]"),
        p.take(3000))
    }
  }

  test("q101: DSIR exchanges are keyed on term/doc — text never shuffles; models broadcast") {
    val df = SparkEntry.queries("q101_dsir_weights")(spark, sf)
    try {
      df.collect()
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      val shuffles = flattenPlan(df.queryExecution.executedPlan)
        .collect { case s: ShuffleExchangeLike => s }
      assert(shuffles.nonEmpty)
      shuffles.foreach { s =>
        assert(!s.output.exists(_.name == "text"),
          s"exchange carries document text: ${s.output.mkString(", ")}")
      }
      val p = df.queryExecution.executedPlan.toString
      // target model + raw model join as broadcasts; the totals as
      // broadcast single rows
      assert(p.contains("BroadcastHashJoin"), p.take(1500))
      assert(p.contains("BroadcastNestedLoopJoin"), p.take(1500))
      assert(!p.contains("SortMergeJoin"),
        s"vocab-sized models must broadcast\n${p.take(1500)}")
    } finally graft.engine.Checkpoints.release(df)
  }

  test("q102: weighted sample is map-only key derivation + TakeOrderedAndProject") {
    finalPlan("q102_weighted_sample") { p =>
      assert(p.contains("TakeOrderedAndProject"), p.take(1500))
      assert("FileScan parquet".r.findAllIn(p).size == 1, p.take(1500))
      assert(!p.contains("Join") && !p.contains("HashAggregate"),
        s"A-ES keys need no join/agg\n${p.take(1500)}")
      assert(!p.contains("Exchange hashpartitioning"),
        s"sampling must not shuffle\n${p.take(1500)}")
    }
  }

  test("q105: contamination exchanges carry window hashes — never window text; eval side broadcasts") {
    val df = SparkEntry.queries("q105_contamination_spans")(spark, sf)
    try {
      df.collect()
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      val shuffles = flattenPlan(df.queryExecution.executedPlan)
        .collect { case s: ShuffleExchangeLike => s }
      assert(shuffles.nonEmpty)
      shuffles.foreach { s =>
        assert(!s.output.exists(a => a.name == "text" || a.name == "__w"),
          s"exchange carries window text: ${s.output.mkString(", ")}")
      }
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), p.take(1500))
      assert(!p.contains("SortMergeJoin"),
        s"eval membership must broadcast\n${p.take(1500)}")
    } finally graft.engine.Checkpoints.release(df)
  }

  test("q106: per-stratum sample shuffles once on the stratum; q107: thresholds broadcast, no global sort") {
    finalPlan("q106_weighted_sample_strata") { p =>
      val ex = "Exchange hashpartitioning\\(lang".r.findAllIn(p).size
      assert(ex == 1, s"one stratum exchange, got $ex\n${p.take(1500)}")
      assert(!p.contains("Join"), p.take(1500))
    }
    finalPlan("q107_curriculum") { p =>
      // the 3-value threshold row joins back as a broadcast nested loop;
      // assignment is a projection — no rangepartitioning-for-ntile
      assert(p.contains("BroadcastNestedLoopJoin"), p.take(1500))
      assert(!p.contains("SortMergeJoin"), p.take(1500))
      assert(!"Window \\[ntile".r.findFirstIn(p).isDefined, p.take(1500))
    }
  }

  test("q108: BM25 filters to query terms before exploding; stats join as broadcasts") {
    val df = SparkEntry.queries("q108_bm25")(spark, sf)
    try {
      df.collect()
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      val shuffles = flattenPlan(df.queryExecution.executedPlan)
        .collect { case s: ShuffleExchangeLike => s }
      // document text never shuffles — only (id, len, term-hit) rows
      shuffles.foreach { s =>
        assert(!s.output.exists(_.name == "text"),
          s"exchange carries document text: ${s.output.mkString(", ")}")
      }
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin") &&
        p.contains("BroadcastNestedLoopJoin"), p.take(1500))
      assert(!p.contains("SortMergeJoin"),
        s"df/stats must broadcast\n${p.take(1500)}")
    } finally graft.engine.Checkpoints.release(df)
  }

  test("q109: estimator audit — signatures map-only, only hashed-shingle exchanges") {
    val df = SparkEntry.queries("q109_minhash_estimate")(spark, sf)
    try {
      df.collect()
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      val shuffles = flattenPlan(df.queryExecution.executedPlan)
        .collect { case s: ShuffleExchangeLike => s }
      shuffles.foreach { s =>
        assert(!s.output.exists(a => a.name == "text" || a.name == "shingle"),
          s"exchange carries text: ${s.output.mkString(", ")}")
      }
      assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    } finally graft.engine.Checkpoints.release(df)
  }

  test("q103: top-n-gram fraction is in-array — one scan, no explode, no shuffle") {
    finalPlan("q103_top_ngram") { p =>
      assert("FileScan parquet".r.findAllIn(p).size == 1, p.take(1500))
      assert(!p.contains("Generate explode"),
        s"grams stay in-array\n${p.take(1500)}")
      assert(!p.contains("Exchange hashpartitioning") &&
        !p.contains("HashAggregate"),
        s"per-doc statistic must be map-only\n${p.take(1500)}")
    }
  }

  test("q100: Gopher rules are one map-only projection over one scan") {
    finalPlan("q100_gopher_rules") { p =>
      assert("FileScan parquet".r.findAllIn(p).size == 1, p.take(1500))
      assert(!p.contains("Join"), s"rules must not join\n${p.take(1500)}")
      // only the display sort exchanges; the rules themselves are a
      // projection (no aggregate, no hash exchange)
      assert(!p.contains("Exchange hashpartitioning"),
        s"rules must be map-only\n${p.take(1500)}")
      assert(!p.contains("HashAggregate"),
        s"token/line rules fold inside the projection\n${p.take(1500)}")
    }
  }

  test("q104: batched IVF-PQ is one pruned code scan with broadcast routes") {
    finalPlan("q104_ann_ivfpq_batch") { p =>
      assert(p.contains("PartitionFilters: [cell"), p.take(2000))
      // routes broadcast onto the pruned scan — never a shuffle join
      assert(p.contains("BroadcastHashJoin"), p.take(2000))
      assert(!p.contains("SortMergeJoin"), p.take(2000))
      // the scan decodes codes; the float embedding column is read only
      // by the 3-row query side, never by the corpus scan
      val corpusLines = p.split('\n').filter(_.contains("/ivfpq_"))
      assert(corpusLines.nonEmpty, p.take(2000))
      corpusLines.foreach(l =>
        assert(!l.contains("embedding"),
          s"corpus scan must read codes, not floats: $l"))
    }
  }

  test("q98: IVF-PQ search partition-prunes to the probed cells, no join, no shuffle") {
    finalPlan("q98_ann_ivfpq") { p =>
      // the probe plan collected the 2 best cells as literals — the code
      // scan reads only those cell partitions
      assert(p.contains("PartitionFilters: [cell"), p.take(1500))
      assert(p.contains("TakeOrderedAndProject"), p.take(1500))
      // ADC dot + stored norms are a projection over the pruned scan:
      // no join, no exchange anywhere in the search
      assert(!p.contains("Join"), s"ADC search must be join-free\n${p.take(1500)}")
      assert(!p.contains("Exchange hashpartitioning"),
        s"pruned code scan must not shuffle\n${p.take(1500)}")
      // and the scan reads codes + norm, never the float embedding column
      assert(!p.contains("embedding"),
        s"IVF-PQ search must not touch float vectors\n${p.take(1500)}")
    }
  }

  test("q99: PQ re-rank fetches the shortlist through a broadcast join, no shuffle") {
    finalPlan("q99_ann_pq_rerank") { p =>
      // stage 1: corpus-wide ADC shortlist (TakeOrderedAndProject);
      // stage 2: float re-rank of the 50 survivors via broadcast id join
      assert(p.contains("BroadcastHashJoin"), p.take(1500))
      assert(p.contains("TakeOrderedAndProject"), p.take(1500))
      assert(!p.contains("SortMergeJoin"),
        s"shortlist join must broadcast\n${p.take(1500)}")
      assert(!p.contains("Exchange hashpartitioning"),
        s"re-rank must not shuffle\n${p.take(1500)}")
    }
  }

  test("q97: PQ search is one scan of the code column, no join, no shuffle") {
    finalPlan("q97_ann_pq") { p =>
      // codebooks and the query's ADC table are plan-time literals: the
      // whole search is encode (projection) + fold + TakeOrderedAndProject
      assert(p.contains("TakeOrderedAndProject"), p.take(1500))
      assert(!p.contains("Exchange hashpartitioning"),
        s"encoded scan must not shuffle\n${p.take(1500)}")
      assert(!p.contains("Join"), s"ADC search must be join-free\n${p.take(1500)}")
      assert("FileScan parquet".r.findAllIn(p).size == 1,
        s"one corpus scan\n${p.take(1500)}")
    }
  }

  test("q93: CUBE plans as one scan + Expand + partial/final hash aggregate") {
    finalPlan("q93_cube_agg") { p =>
      assert(p.contains("Expand"), p.take(1500))
      assert("FileScan parquet".r.findAllIn(p).size == 1,
        s"all four grouping sets must come from ONE scan\n${p.take(1500)}")
      assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
        s"one shuffle on the expanded keys\n${p.take(1500)}")
    }
  }

  test("q94: JSONL read carries the explicit schema; audit is one hash-agg") {
    finalPlan("q94_jsonl_roundtrip") { p =>
      assert(p.contains("FileScan json"), p.take(1500))
      // no inference pass (schema is declared), and column PRUNING reaches
      // the JSON scan: only the three consumed columns are parsed —
      // doc_id/source never leave the line parser
      assert(p.contains("ReadSchema: struct<text:string,lang:string,n_chars:bigint>"),
        p.take(3000))
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(1500))
    }
  }

  test("q111: logistic quality score is one map-only scan — weights are plan literals, tokens stay in-array") {
    finalPlan("q111_quality_logistic") { p =>
      assert("FileScan parquet".r.findAllIn(p).size == 1, p.take(1500))
      assert(!p.contains("Generate explode"),
        s"occurrences fold in-array\n${p.take(1500)}")
      assert(!p.contains("Join"), s"the model is literals, not a table\n${p.take(1500)}")
      assert(!p.contains("Exchange hashpartitioning") && !p.contains("HashAggregate"),
        s"inference must be map-only\n${p.take(1500)}")
    }
  }

  test("q112: mixture solver — one token aggregate, text never shuffles, solver math on the strata frame") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries("q112_mixture_allocation")(spark, sf)
    try {
      df.collect()
      val p = df.queryExecution.executedPlan
      // the only corpus work is the partial+final token-count aggregate;
      // exchanges carry (lang, count) — never document text
      flattenPlan(p).collect { case s: ShuffleExchangeLike => s }.foreach { s =>
        assert(!s.output.exists(_.name == "text"),
          s"exchange carries text: ${s.output.mkString(", ")}") }
      val fp = p.toString.split("== Initial Plan ==").head
      assert("FileScan parquet".r.findAllIn(fp).size == 1, fp.take(1500))
    } finally graft.engine.Checkpoints.release(df)
  }

  test("q117: mixture apply — strata allocation broadcasts back; the flag projection joins broadcast, never shuffles docs") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries("q117_mixture_apply")(spark, sf)
    try {
      df.collect()
      val p = df.queryExecution.executedPlan
      // only the token-count aggregate and the display sort shuffle; the
      // per-doc leg joins the strata-sized allocation via broadcast
      flattenPlan(p).collect { case s: ShuffleExchangeLike => s }.foreach { s =>
        assert(!s.output.exists(_.name == "text"),
          s"exchange carries text: ${s.output.mkString(", ")}") }
      val fp = p.toString.split("== Initial Plan ==").head
      assert(fp.contains("BroadcastHashJoin"), fp.take(2000))
      assert(!fp.contains("SortMergeJoin"), fp.take(2000))
      assert("Exchange hashpartitioning".r.findAllIn(fp).size == 1,
        s"only the strata count aggregate may hash-shuffle\n${fp.take(2000)}")
    } finally graft.engine.Checkpoints.release(df)
  }

  test("q118: winnow pairs — the fingerprint sketch materializes once; pair fan-out stays in-join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries("q118_winnow_pairs")(spark, sf)
    try {
      df.collect()
      val p = df.queryExecution.executedPlan
      flattenPlan(p).collect { case s: ShuffleExchangeLike => s }.foreach { s =>
        assert(!s.output.exists(a => a.name == "text" || a.name == "__g" ||
          a.name == "__toks"),
          s"exchange carries gram text: ${s.output.mkString(", ")}") }
      val fp = p.toString.split("== Initial Plan ==").head
      // the distinct (fp, id) sketch is materialized once up front: every
      // leg of the result plan reads the checkpointed RDD — the winnow
      // window and the parquet scan never re-run per leg
      assert(!fp.contains("FileScan parquet"),
        s"legs must read the materialized sketch, not re-scan\n${fp.take(2000)}")
      assert(!fp.contains("Window"),
        s"the winnow window must not re-run in the pair plan\n${fp.take(2000)}")
      assert(fp.contains("ExistingRDD") || fp.contains("Scan ExistingRDD"),
        s"expected checkpointed-sketch leaves\n${fp.take(2000)}")
      assert(!fp.contains("CartesianProduct"), fp.take(2000))
    } finally graft.engine.Checkpoints.release(df)
  }

  test("q121: dHash is one decode-stage pass — single scan, no hash exchange before the display sort") {
    finalPlan("q121_image_dhash") { p =>
      assert("FileScan parquet".r.findAllIn(p).size == 1, p.take(1500))
      assert(!p.contains("Exchange hashpartitioning"),
        s"hashing must ride the decode scan\n${p.take(1500)}")
      assert(!p.contains("Join"), p.take(1500))
    }
  }

  test("q122/q124: corpus exchanges carry hashes and counts — never pixels, payloads, or gram text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    for (q <- Seq("q122_image_neardup", "q124_bigram_xent")) {
      val df = SparkEntry.queries(q)(spark, sf)
      try {
        df.collect()
        flattenPlan(df.queryExecution.executedPlan)
          .collect { case s: ShuffleExchangeLike => s }.foreach { s =>
            assert(!s.output.exists(a => Seq("pixels", "payload", "text",
              "__g", "__toks", "__e").contains(a.name)),
              s"$q exchange carries bulk content: ${s.output.mkString(", ")}")
          }
      } finally graft.engine.Checkpoints.release(df)
    }
  }

  test("q126: incremental containment — the corpus side is the index SCAN; only the batch winnows") {
    finalPlan("q126_winnow_incremental") { p =>
      assert(p.contains("/fps"), s"index parquet must be scanned\n${p.take(2000)}")
      // exactly one winnow window (the batch's own); the indexed corpus
      // is never re-winnowed
      assert("Window \\[min".r.findAllIn(p).size <= 1,
        s"corpus must not re-winnow\n${p.take(2000)}")
      assert(!p.contains("CartesianProduct"), p.take(2000))
    }
  }

  test("q131: incremental image dedup — the corpus side is the index SCAN; only the batch decodes") {
    finalPlan("q131_image_dedup_incremental") { p =>
      assert(p.contains("/hashes"), s"index parquet must be scanned\n${p.take(2000)}")
      val docScans = "documents.parquet".r.findAllIn(p).size
      assert(docScans <= 1,
        s"only the batch leg may read documents (got $docScans scans)\n${p.take(2000)}")
      assert(!p.contains("CartesianProduct"), p.take(2000))
    }
  }

  test("q123: OOV rate is one map-only scan — the vocab is plan literals, tokens stay in-array") {
    finalPlan("q123_oov_rate") { p =>
      assert("FileScan parquet".r.findAllIn(p).size == 1, p.take(1500))
      assert(!p.contains("Generate explode"),
        s"the OOV count folds in-array\n${p.take(1500)}")
      assert(!p.contains("Join"), s"the vocab is literals, not a table\n${p.take(1500)}")
      assert(!p.contains("HashAggregate"),
        s"scoring must be map-only\n${p.take(1500)}")
    }
  }

  test("q116: incremental SemDeDup — corpus scan partition-prunes to the batch's cells; batch broadcasts") {
    finalPlan("q116_semdedup_incremental") { p =>
      assert(p.contains("PartitionFilters: [cell"),
        s"probe must prune to batch cells\n${p.take(2000)}")
      assert(p.contains("BroadcastHashJoin"), p.take(2000))
      assert(!p.contains("SortMergeJoin"), p.take(2000))
      assert(!p.contains("CartesianProduct"), p.take(2000))
    }
  }

  test("q114: winnowing — grams hash inside the explode; the window exchange carries hashes, never gram text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries("q114_winnow_fingerprints")(spark, sf)
    try {
      df.collect()
      val p = df.queryExecution.executedPlan
      flattenPlan(p).collect { case s: ShuffleExchangeLike => s }.foreach { s =>
        assert(!s.output.exists(a => a.name == "text" || a.name == "__g" ||
          a.name == "__toks"),
          s"exchange carries gram text: ${s.output.mkString(", ")}") }
      val fp = p.toString.split("== Initial Plan ==").head
      assert("FileScan parquet".r.findAllIn(fp).size == 1, fp.take(1500))
    } finally graft.engine.Checkpoints.release(df)
  }

  test("q110: SemDeDup — literal assignment is map-only; pairs equi-join on the cell, never a cross join") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import graft.operators.Similarity
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = (0L until 4L).map(c => c -> Seq.tabulate(64)(d =>
      if (d % 4 == c) 1.0 else 0.0))
    // 1. assignment: one scan, zero exchanges, zero joins/aggregates —
    //    the centroid table is plan literals, so nothing moves
    val asg = Similarity.assignCellsLit(vecs, "vec_id", "embedding", cents)
    asg.collect()
    val ap = asg.queryExecution.executedPlan.toString
    assert("FileScan parquet".r.findAllIn(ap).size == 1, ap.take(1500))
    assert(!ap.contains("Exchange") && !ap.contains("Join") &&
      !ap.contains("HashAggregate"),
      s"literal assignment must be map-only\n${ap.take(1500)}")
    // 2. edges: an EQUI-join keyed on the cell (the k-means partition
    //    bounds fan-out) — never a cartesian product; every exchange is
    //    cell-keyed and carries corpus ROWS (one crossing per side) —
    //    the Σ|cell|² candidate pairs expand only inside the join, so
    //    no exchange ever sees an (a, b) pair row
    val edges = Similarity.semDedupEdges(vecs, "vec_id", "embedding",
      cents, tau = 0.9)
    edges.collect()
    val pp = edges.queryExecution.executedPlan
    assert(!pp.toString.contains("CartesianProduct"), pp.toString.take(1500))
    // the join is keyed on the cell whatever strategy AQE picks (at this
    // scale it broadcasts; at corpus scale it shuffles cell-keyed)
    assert("""(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[cell"""
      .r.findFirstIn(pp.toString).isDefined, pp.toString.take(1500))
    flattenPlan(pp).collect { case s: ShuffleExchangeLike => s }.foreach { s =>
      assert(s.outputPartitioning.toString.contains("cell"),
        s"edge exchange must be cell-keyed: ${s.outputPartitioning}")
      val names = s.output.map(_.name).toSet
      assert(!(names.contains("a") && names.contains("b")),
        s"candidate pairs must never cross an exchange: $names") }
    // 3. end-to-end: the post-components plan (labels are a checkpointed
    //    leaf) shuffles 8 B labels for the keep window — embeddings never
    //    appear in any exchange of the final plan
    val df = SparkEntry.queries("q110_semdedup")(spark, sf)
    try {
      df.collect()
      flattenPlan(df.queryExecution.executedPlan)
        .collect { case s: ShuffleExchangeLike => s }.foreach { s =>
          assert(!s.output.exists(_.name == "embedding"),
            s"label exchange carries vectors: ${s.output.mkString(", ")}") }
      assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    } finally graft.engine.Checkpoints.release(df)
  }

  test("q110: the whole dedup scans the embeddings corpus exactly once (wide checkpoint feeds narrow + both edge legs)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // warm the session IVF memo first: index build/training scans are a
    // one-time per-session cost, not part of the dedup under test
    graft.engine.Checkpoints.release {
      val warm = SparkEntry.queries("q110_semdedup")(spark, sf)
      warm.collect(); warm
    }
    val actions = graft.tools.Profile.record(spark) {
      val df = SparkEntry.queries("q110_semdedup")(spark, sf)
      try df.collect() finally graft.engine.Checkpoints.release(df)
    }.actions.filterNot(_.failed)
    val scans = actions.flatMap(_.plan).map(p => flattenPlan(p).count {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains("embeddings"))
      case _ => false
    }).sum
    assert(scans == 1, s"semDedup must scan the embeddings corpus exactly once, saw $scans")
  }

  /** Drive `name` to completion and hand every shuffle exchange of the
    * FINAL plan to `check` (plus the whole plan string for global
    * assertions). Releases the query's checkpoints. */
  private def withExecuted(name: String)(
      check: (String, Seq[Set[String]]) => Unit): Unit = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries(name)(spark, sf)
    try {
      df.collect()
      val p = df.queryExecution.executedPlan
      val ex = flattenPlan(p).collect { case s: ShuffleExchangeLike =>
        s.output.map(_.name).toSet }
      check(p.toString, ex)
    } finally graft.engine.Checkpoints.release(df)
  }

  test("q122/q125/q134: image banded closure — no cartesian; exchanges never carry pixels/payload bytes") {
    // the pair stage itself: both self-join legs read the 32 B hash
    // checkpoint; candidates verify and collapse before anything wide
    // could move (the dhashNearDupPairs contract)
    Seq("q122_image_neardup", "q134_image_neardup_capped",
        "q125_image_components", "q137_image_curation").foreach { name =>
      withExecuted(name) { (p, ex) =>
        assert(!p.contains("CartesianProduct"), s"$name: ${p.take(1500)}")
        ex.foreach { names =>
          assert(!names.exists(Set("pixels", "payload", "pt", "text")),
            s"$name exchange carries decode bytes: $names")
        }
      }
    }
  }

  test("q154/q159/q156: round-12 pipelines — no cartesian; exchanges never carry pixels/payloads/text") {
    // q154: frame hashes (32 B) and gram fingerprints (8 B) are the only
    // per-frame data that moves; q159: the alignment verdict collapses
    // to a broadcast id list before any image decodes, so the dedup legs
    // shuffle hashes only; q156: both shingle definitions fuse to 8 B
    // hashes before their broadcast membership joins
    Seq("q154_video_winnow", "q159_pair_curation",
        "q156_decontaminate_norm").foreach { name =>
      withExecuted(name) { (p, ex) =>
        assert(!p.contains("CartesianProduct"), s"$name: ${p.take(1500)}")
        ex.foreach { names =>
          assert(!names.exists(Set("pixels", "payload", "pt", "text",
              "fseq")),
            s"$name exchange carries wide bytes: $names")
        }
      }
    }
  }

  test("q120/q127: distributed ordinal — no single-partition exchange; text never shuffles") {
    // the rank comes from the two-pass ordinal (range partition +
    // per-partition counts + zipWithIndex, offsets broadcast) — a global
    // window would print `Exchange SinglePartition` and serialize the
    // whole corpus through one task
    Seq("q120_length_batches", "q127_epoch_schedule",
        "q157_dataloader_determinism").foreach { name =>
      withExecuted(name) { (p, ex) =>
        assert(!p.contains("SinglePartition"),
          s"$name must not funnel through one partition: ${p.take(1500)}")
        ex.foreach { names =>
          assert(!names.contains("text"), s"$name exchange carries text: $names")
        }
      }
    }
  }

  test("q129/q130: decontamination-split audits — window text never crosses an exchange") {
    // the reference side fuses to hashes before any join; the corpus
    // side's token windows hash inside the explode — every exchange
    // carries 8 B hashes and labels, never window text
    Seq("q129_split_leakage", "q130_split_leakage_safe").foreach { name =>
      withExecuted(name) { (p, ex) =>
        ex.foreach { names =>
          assert(!names.exists(n => n == "text" || n.contains("__w") ||
              n.contains("__g")),
            s"$name exchange carries window text: $names")
        }
      }
    }
  }

  test("q132/q133/q143/q144: audio banded machine — exchanges carry the 32 B band rows, never pcm/payload") {
    Seq("q132_audio_fingerprint", "q133_audio_neardup",
        "q143_audio_spectral", "q144_audio_spectral_neardup").foreach { name =>
      withExecuted(name) { (p, ex) =>
        assert(!p.contains("CartesianProduct"), s"$name: ${p.take(1500)}")
        ex.foreach { names =>
          assert(!names.exists(Set("pcm", "payload", "text", "pt")),
            s"$name exchange carries audio bytes: $names")
        }
      }
    }
  }

  test("q152: alignment gate is map-only — zero exchanges added over the pair frame, none wider than the pair row") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def shuffles(df: org.apache.spark.sql.DataFrame) =
      flattenPlan(df.queryExecution.executedPlan)
        .collect { case s: ShuffleExchangeLike => s }
    val pairs = graft.queries.LlmQueries.alignmentPairs(spark, sf)
    val gated = graft.operators.Similarity.alignmentFilter(
      pairs, "cap_emb", "img_emb", 0.9)
    // the gate (cosine + threshold) is a projection: whatever exchanges
    // the PAIR build needs, the gate adds none
    assert(shuffles(gated).size == shuffles(pairs).size,
      s"gate added exchanges: ${shuffles(gated).size} vs ${shuffles(pairs).size}")
    // and no exchange output is wider than the pair row itself — the
    // embedding arrays cross only inside the pair-sized equi-join
    val pairWidth = pairs.schema.fieldNames.length
    shuffles(gated).foreach { s =>
      assert(s.output.length <= pairWidth,
        s"exchange wider than the pair row: ${s.output.mkString(", ")}")
    }
    // the quantile variant's only ADDED exchange is the strata-sized
    // threshold aggregate (broadcast back), never a corpus re-shuffle
    val quant = graft.operators.Similarity.alignmentQuantileKeep(
      pairs, "vec_id", "label", "cap_emb", "img_emb", 0.25)
    quant.collect()
    val qp = quant.queryExecution.executedPlan.toString
    assert(qp.contains("BroadcastHashJoin") ||
      qp.contains("BroadcastNestedLoopJoin"), qp.take(3000))
  }

  test("codegen health: payload/decode pipelines compile clean (no interpreted fallback)") {
    // Regression guard for the round-9 defect class: a `private` encoder
    // case class type-checks but Janino cannot reach its accessors, so
    // Catalyst logs `ERROR CodeGenerator ... CompileException` and falls
    // back to interpreted serialization — correct rows, wrong plan. The
    // guard appender counts exactly those ERRORs; driving the payload-
    // construction + decode queries end-to-end must record zero.
    graft.tools.CodegenGuard.reset()
    Seq("q75_bmp_decode", "q81_mixed_decode", "q71_ppm_decode",
        "q74_plane_features").foreach { name =>
      SparkEntry.queries(name)(spark, sf).collect()
    }
    graft.tools.CodegenGuard.assertHealthy("q75/q81/q71/q74 pipelines")
  }

  test("q203: five PageRank rounds — no cartesian product, scans pruned to (doc_id, source)") {
    // this pin is about the DISTRIBUTED round shape (the 100 TB plan);
    // at PlanSpec's tiny sf the scale-adaptive gate would otherwise
    // choose the single-task local solve (GraphSpec pins local ≡
    // distributed bit for bit), so force the rounds here
    spark.conf.set(graft.operators.Graph.LocalEdgeLimitKey, "0")
    val df =
      try SparkEntry.queries("q203_pagerank_hosts")(spark, sf)
      finally spark.conf.unset(graft.operators.Graph.LocalEdgeLimitKey)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the only nested-loop is the broadcast of the 1-row node count;
    // rank flow must stay hash-joined on the node key all five rounds
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // column pruning survives the iterative lineage: every documents
    // scan reads exactly the two columns the edge derivation needs
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = flattenPlan(df.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    scans.foreach { s =>
      assert(s.output.map(_.name).toSet.subsetOf(Set("doc_id", "source")),
        s"scan reads more than the edge columns: ${s.output.mkString(", ")}")
    }
  }

  test("q211: snapshot-diff exchanges carry (id, hash, source) — never document text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries("q211_snapshot_diff")(spark, sf)
    df.collect()
    val shuffles = flattenPlan(df.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.nonEmpty)
    shuffles.foreach { s =>
      assert(!s.output.exists(_.name == "text"),
        s"exchange carries document text: ${s.output.mkString(", ")}")
    }
  }

  test("q212/q216: retrieval rank windows partition by q_id — no single-partition window exchange") {
    Seq("q212_hard_negatives", "q216_rrf_fusion").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      // the only SinglePartition exchange allowed is the final display
      // sort of a <= 30-row result; the rank windows must not be one
      assert(!p.contains("Exchange SinglePartition"), s"$name:\n${p.take(3000)}")
    }
  }

  test("q220: the whole statistics pass reads the table once") {
    val df = SparkEntry.queries("q220_column_stats")(spark, sf)
    df.collect()
    val fp = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(fp).size == 1, fp.take(1500))
  }

  test("q222: the histogram build is aggregation-only — no sort, no window anywhere") {
    val df = SparkEntry.queries("q222_histogram_selectivity")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // equi-width was chosen over equi-depth precisely so the build is a
    // hash aggregate: a Sort or Window here means the quantile pass
    // crept back in (the 1-row bound aggregates legitimately finish on
    // a SinglePartition exchange; sorts do not appear at all)
    assert(!p.contains("WindowExec") && !p.contains(") Window") &&
      !p.contains("Sort "), p.take(3000))
  }

  test("q224/q225: behavior-sequence windows partition by user_id — never a single partition") {
    Seq("q224_event_sequences", "q225_transition_matrix").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!p.contains("Exchange SinglePartition"), s"$name:\n${p.take(3000)}")
    }
  }

  test("WARC record parse is map-only: no exchange between the container scan and the response filter") {
    import graft.sources.Warc
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_warcplan").toString
    graft.cli.Cleanup.deleteOnExit(dir)
    Warc.writeSyntheticWarc(
      (1L to 40L).map(i => (i, s"body text $i")).toDF("doc_id", "text"),
      s"$dir/warc")
    val df = Warc.httpResponses(Warc.records(spark, s"$dir/warc"))
      .where(col("http_status") === 200)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // one binaryFile scan per plan, zero exchanges: the container is the
    // parallelism unit and every record/HTTP field projects map-side
    assert(!p.contains("Exchange "), p.take(3000))
    assert("FileScan binaryFile".r.findAllIn(p).size == 1, p.take(3000))
  }

  test("gzip WARC parse keeps the same map-only shape: one container scan, zero exchanges to the response filter") {
    import graft.sources.Warc
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_warcgzplan").toString
    graft.cli.Cleanup.deleteOnExit(dir)
    Warc.writeSyntheticWarcGz(
      (1L to 40L).map(i => (i, s"bödy téxt $i")).toDF("doc_id", "text"),
      s"$dir/warc")
    val df = Warc.httpResponses(Warc.recordsGz(spark, s"$dir/warc"))
      .where(col("http_status") === 200)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the per-file gunzip + byte walk is a flatMap over the binaryFile
    // rows — still one scan, still zero exchanges before the first
    // filter (the 100 TB file-per-task contract survives the container
    // format upgrade)
    assert(!p.contains("Exchange "), p.take(3000))
    assert("FileScan binaryFile".r.findAllIn(p).size == 1, p.take(3000))
  }

  test("RTBF: an index with no tombstones keeps its exact pre-RTBF probe plan; tombstones add one anti-join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.Dedup
    val path = s"${sys.props("java.io.tmpdir")}/graft_test_rtbf_plan"
    graft.cli.Cleanup.deleteOnExit(path)
    def sig(df: org.apache.spark.sql.DataFrame) = {
      val s0 = df.select(col("doc_id"),
        graft.functions.MinHashSig.minhash_sig(col("text"), 8).as("__sig"))
      Dedup.lshBands(s0.select(col("doc_id") +:
        (0 until 8).map(i => element_at(col("__sig"), i + 1).as(s"m$i")): _*),
        "doc_id", 8, 4)
    }
    val corpus = (1L to 20L).map(i => (i, s"alpha beta gamma $i"))
      .toDF("doc_id", "text")
    Dedup.bandIndexWrite(sig(corpus), "doc_id", 4, path)
    def probePlan(): String = {
      val df = Dedup.bandIndexRead(spark, path)
      df.collect()
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    }
    val before = probePlan()
    assert(!before.contains("Join"), before.take(2000))
    Dedup.bandIndexForget(spark, path, Seq(1L).toDF("doc_id"), "doc_id")
    val after = probePlan()
    // exactly one anti-join against the (small) tombstone set — never an
    // index-sized rewrite on the probe path
    assert("LeftAnti".r.findAllIn(after).size == 1, after.take(3000))
    Dedup.bandIndexPurge(spark, path)
    val purged = probePlan()
    assert(!purged.contains("Join"), purged.take(2000))
  }

  test("q233: the maintained-histogram read scans the batch partials, never the fact table") {
    val df = SparkEntry.queries("q233_histogram_maintained")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // lineitem appears only for the range bounds + truth audit columns;
    // the BUCKET MAP comes from the <= 16-rows-per-batch parts files
    assert(p.contains("/histmaint_"), p.take(3000))
  }

  test("q205: KMV exchanges carry the 8-byte hash, never the word") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries("q205_kmv_sketch")(spark, sf)
    df.collect()
    val plan = flattenPlan(df.queryExecution.executedPlan)
    val shuffles = plan.collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.nonEmpty)
    shuffles.foreach { s =>
      assert(!s.output.exists(a => a.name == "w" || a.name == "text"),
        s"exchange carries raw words: ${s.output.mkString(", ")}")
    }
    val fp = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("FileScan parquet".r.findAllIn(fp).size == 1, fp.take(1500))
  }
}
