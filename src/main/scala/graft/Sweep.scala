package graft

import graft.engine.{Checkpoints, LocalSolve, RefinementEngine, SeriesOps}
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
  * Emits csv: iter,udf_size,fix_domains_s,execute_s
  *
  * `execute_s` is the production `RefinementEngine.execute(prebuilt)` wall
  * over the persisted series (collected): one task while the grid is one
  * chunk of at most `LocalSolve.CellCap` cell-constraints, one task per
  * chunk beyond. Nothing is built per iteration: the kernel reads the raw
  * rows.
  */
object Sweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outCsv = args.lift(1).getOrElse("/tmp/graft_sweep.csv")
    val maxIters = args.lift(2).map(_.toInt).getOrElse(20)
    val spark = GraftSession.build()

    val idx = SeriesOps.persisted(TimeSeriesQueries.series(spark, sfDir))
    val bounds = (idx.tMin, idx.tMax)
    // the reference's sweep query shape: 3 constraints, LIMIT REFINED 50
    // (scalability_experiment_scipt.py:13-19), domains grown alternately
    var xHi = 10L; var lxHi = 10L; var growX = true
    val rows = new StringBuilder(
      "iter,udf_size,fix_domains_s,execute_s\n")
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
      val (b, tFix) = t(RefinementEngine.bindDomains(spec, bounds._1, bounds._2))
      val cells = LocalSolve.gridCells(b, bounds._2)
      val (nOut, tExec) = t {
        val df = RefinementEngine.execute(spark, idx.df, spec, Some(idx))
        try df.collect().length finally Checkpoints.release(df)
      }
      rows.append(f"$iter,$cells,$tFix%.4f,$tExec%.4f\n")
      println(f"[sweep] iter=$iter cells=$cells k_out=$nOut fix=$tFix%.3f execute=$tExec%.3f")
      if (growX) xHi += 20 else lxHi += 20
      growX = !growX
      iter += 1
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outCsv), rows.toString)
    println(s"[sweep] wrote $outCsv")
    spark.stop()
  }
}
