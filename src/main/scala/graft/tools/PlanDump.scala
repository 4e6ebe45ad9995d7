package graft.tools

/** Dumps `explain("formatted")` for named queries into per-query text
  * files — the before/after plan evidence for optimization rounds
  * (`plans/r16/<query>_before.txt` / `..._after.txt`).
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>
  *
  * Uses the bench's session ([[graft.GraftSession]]) so the dumped plans
  * are the plans the bench actually runs. Frames are NOT executed:
  * the formatted output is the static physical plan (AQE-final shapes are
  * PlanSpec/bench territory); checkpoint-truncated returns (q54-style
  * label frames) show the checkpoint scan, as `.explain` on the returned
  * frame would.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args(3).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = graft.GraftSession.build()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
      graft.engine.Checkpoints.release(df)
      println(s"[plandump] $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
