package graft.tools

/** Subtree-reuse accounting for any registered query's executed plan:
  * how many times the final physical plan re-derives a parquet scan vs
  * reusing an exchange — the "would this re-scan the corpus at 100 TB"
  * check ([[graft.queries.LlmQueries.dedupCappedVerified]]'s 16-scan bug
  * was found this way).
  *
  * Usage: `sbt "runMain graft.tools.PlanStats q57_dedup_capped_verified
  * [sfDir]"`
  */
object PlanStats {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q57_dedup_capped_verified")
    val d = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession.build()
    def stats(q: String, compact: Boolean): Unit = {
      val df = graft.SparkEntry.queries(q)(spark, d)
      try {
        df.collect()
        // final adaptive plan only — toString appends the initial plan,
        // double-printing every subtree
        val s = df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        def n(re: String): Int = re.r.findAllIn(s).size
        if (compact)
          println(f"$q%-34s scans=${n("FileScan parquet")}%2d " +
            f"ckpt=${n("Scan ExistingRDD")}%2d xchg=${n("Exchange (hash|range|Single)")}%2d " +
            f"reuse=${n("ReusedExchange")}%2d bhj=${n("BroadcastHashJoin")}%2d " +
            f"smj=${n("SortMergeJoin")}%2d")
        else {
          println(s"query:           $q")
          println(s"FileScan:        ${n("FileScan parquet")}")
          println(s"LogicalRDD scan: ${n("Scan ExistingRDD")}")
          println(s"Exchange:        ${n("Exchange (hash|range|Single)")}")
          println(s"ReusedExchange:  ${n("ReusedExchange")}")
          println(s"BroadcastHashJoin: ${n("BroadcastHashJoin")}")
          println(s"SortMergeJoin:   ${n("SortMergeJoin")}")
        }
      } finally graft.engine.Checkpoints.release(df)
    }
    if (name == "all")
      graft.SparkEntry.queries.keys.toSeq.sorted.foreach { q =>
        try stats(q, compact = true)
        catch { case e: Throwable => println(s"$q FAILED: ${e.getMessage}") }
      }
    else stats(name, compact = false)
    spark.stop()
  }
}
