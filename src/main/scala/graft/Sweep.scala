package graft

import graft.engine.{RefinementEngine, SeriesOps}
import graft.model.{Constraint, Domain, QuerySpec, Target}
import graft.queries.TimeSeriesQueries

/** Replication of the reference's scalability experiment
  * (scalability_experiment_scipt.py:12-53): run a REFINED query, then grow
  * the x- and lx-domain upper bounds alternately by +20 per iteration until
  * the series is exhausted, recording per-phase seconds against the grid
  * size (`udf_size` = candidate cells, the reference's x-axis,
  * server.py:37).
  *
  * Usage: runMain graft.Sweep [sfDir] [outCsv] [maxIters]
  * Emits csv: iter,udf_size,fix_domains_s,index_s,grid_s,refine_s,total_s
  */
object Sweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outCsv = args.lift(1).getOrElse("/tmp/graft_sweep.csv")
    val maxIters = args.lift(2).map(_.toInt).getOrElse(20)
    val spark = GraftSession.build()

    val series = TimeSeriesQueries.series(spark, sfDir).persist()
    val bounds = {
      val r = series.agg(org.apache.spark.sql.functions.min("t"),
        org.apache.spark.sql.functions.max("t")).head()
      (r.getLong(0), r.getLong(1))
    }
    // the reference's sweep query shape: 3 constraints, LIMIT REFINED 50
    // (scalability_experiment_scipt.py:13-19), domains grown alternately
    var xHi = 10L; var lxHi = 10L; var growX = true
    val rows = new StringBuilder("iter,udf_size,fix_domains_s,index_s,grid_s,refine_s,total_s\n")
    var iter = 0
    while (iter < maxIters && xHi <= bounds._2) {
      val spec = QuerySpec("events", "value",
        Domain(Some(1L), Some(xHi)), Domain(Some(5L), Some(lxHi)),
        Seq(
          Constraint("avg_amp", Nil, Some(50), Some(200), Target.Max),
          Constraint("max_amp_excess_left", Seq(4), Some(-2), Some(0), Target.Max),
          Constraint("max_amp_excess_right", Seq(4), Some(-2), Some(0), Target.Max)),
        limit = Some(50), refined = true)
      def t[A](body: => A): (A, Double) = {
        val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
      }
      val total0 = System.nanoTime()
      val (b, tFix) = t(RefinementEngine.bindDomains(spec, bounds._1, bounds._2))
      // the production build (the one IndexCache runs); it materializes
      // the index itself, so the phase attribution is honest
      val (idx, tIdx) = t(SeriesOps.indexFast(series, RefinementEngine.windowNeed(spec, b.lxHi)))
      val ((grid, cells), tGrid) = t {
        val g = RefinementEngine.constraintGrid(spark, idx, spec, b).persist()
        (g, g.count())
      }
      val (nOut, tRefine) = t(RefinementEngine.refinedTopK(grid, spec, Some(50)).count())
      val tTotal = (System.nanoTime() - total0) / 1e9
      grid.unpersist(); idx.df.unpersist()
      rows.append(f"$iter,$cells,$tFix%.4f,$tIdx%.4f,$tGrid%.4f,$tRefine%.4f,$tTotal%.4f\n")
      println(f"[sweep] iter=$iter cells=$cells k_out=$nOut total=$tTotal%.2fs " +
        f"(fix=$tFix%.3f idx=$tIdx%.3f grid=$tGrid%.3f refine=$tRefine%.3f)")
      if (growX) xHi += 20 else lxHi += 20
      growX = !growX
      iter += 1
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outCsv), rows.toString)
    println(s"[sweep] wrote $outCsv")
    spark.stop()
  }
}
