package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-stage attribution for one or more declared queries — the guide §1
  * "where is the time actually going" instrument, headless (the bench
  * session runs with the UI off).
  *
  * Usage: runMain graft.tools.QueryProfile <q1,q2,...> [passes]
  *
  * Runs each query through the Bench session ([[graft.GraftSession]]) and action
  * (count + checkpoint release), one untimed warmup, then `passes`
  * profiled runs; prints per-stage rows (tasks, wall, executor cpu sum,
  * shuffle read/write bytes, input bytes) sorted by wall, plus totals —
  * job count, stage count, task count, sum-of-stage-walls vs query wall
  * (the gap is driver-side planning/scheduling/collect time, the
  * fixed-overhead signal).
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val passes = args.lift(1).map(_.toInt).getOrElse(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.build()
    // same session warmup as Bench
    try {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      li.groupBy("l_returnflag").count().collect()
      graft.queries.TimeSeriesQueries.cachedIndex(spark, sfDir).df.count()
    } catch { case _: Throwable => () }

    final case class St(id: Int, name: String, tasks: Int, wallMs: Long,
      runMs: Long, cpuMs: Long, shRead: Long, shWrite: Long, input: Long)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val wall = (for {a <- si.completionTime; b <- si.submissionTime}
          yield a - b).getOrElse(0L)
        val m = si.taskMetrics
        stages.add(St(si.stageId, si.name.takeWhile(_ != '\n').take(90),
          si.numTasks, wall, m.executorRunTime, m.executorCpuTime / 1000000,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead))
        ()
      }
    }

    def runOnce(name: String): Unit = {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      try df.count() finally graft.engine.Checkpoints.release(df)
    }

    names.foreach { name =>
      runOnce(name) // warmup (codegen cache, file listing)
      (1 to passes).foreach { p =>
        stages.clear(); jobs.set(0)
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        runOnce(name)
        val wallS = (System.nanoTime() - t0) / 1e9
        // let straggling listener events drain
        Thread.sleep(300)
        spark.sparkContext.removeSparkListener(listener)
        val ss = {
          import scala.jdk.CollectionConverters._
          stages.asScala.toSeq.sortBy(-_.wallMs)
        }
        val sumWall = ss.map(_.wallMs).sum / 1e3
        println(f"%n=== $name pass $p: wall $wallS%.3f s | jobs ${jobs.get}" +
          f" | stages ${ss.size} | tasks ${ss.map(_.tasks).sum}" +
          f" | sum(stage walls) $sumWall%.3f s | driver gap ${wallS - sumWall}%.3f s ===")
        println(f"${"stage"}%6s ${"tasks"}%5s ${"wall_ms"}%8s ${"run_ms"}%8s " +
          f"${"cpu_ms"}%8s ${"shR_kB"}%8s ${"shW_kB"}%8s ${"in_MB"}%7s  name")
        ss.take(28).foreach { s =>
          println(f"${s.id}%6d ${s.tasks}%5d ${s.wallMs}%8d ${s.runMs}%8d " +
            f"${s.cpuMs}%8d ${s.shRead / 1024}%8d ${s.shWrite / 1024}%8d " +
            f"${s.input / 1048576}%7d  ${s.name}")
        }
      }
    }
    spark.stop()
  }
}
