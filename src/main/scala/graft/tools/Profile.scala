package graft.tools

import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftShims, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** The one profiling instrument: a listener that keeps what Spark did while
  * it was attached — jobs with their job group, stages, tasks with their type
  * and metrics, AQE re-plans and each action's planning phases and final
  * executed plan — and derives from it counters ([[layers]]) and a plan
  * shape ([[plan]]). It only listens, so it adds no job.
  *
  * The counters carry the names and definitions of perfbench's
  * `SparkRecorder` (per-query execution statistics after Dremel, VLDB 2020).
  * [[Profile.record]] attaches one for the span of a body of code and
  * drains the listener bus around it, so nothing waits by sleeping. */
class Profile extends SparkListener with QueryExecutionListener {
  import Profile._

  private val jobBuf = ArrayBuffer.empty[Job]
  private val stageBuf = ArrayBuffer.empty[Stage]
  private val taskBuf = ArrayBuffer.empty[Task]
  private val aqeBuf = ArrayBuffer.empty[Long]
  private val actionBuf = ArrayBuffer.empty[Action]

  def jobs: Seq[Job] = synchronized(jobBuf.toList)
  def stages: Seq[Stage] = synchronized(stageBuf.toList)
  def tasks: Seq[Task] = synchronized(taskBuf.toList)
  /** Times (epoch ms) of the AQE plan updates. */
  def aqeUpdates: Seq[Long] = synchronized(aqeBuf.toList)
  def actions: Seq[Action] = synchronized(actionBuf.toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobBuf += Job(e.jobId,
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))), e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = e.stageInfo
    stageBuf += Stage(s.stageId, s.attemptNumber(), s.name, s.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) taskBuf += Task(e.stageId, e.taskType, i.launchTime, i.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate =>
      synchronized { aqeBuf += System.currentTimeMillis() }
    case _ => ()
  }

  private def action(name: String, qe: QueryExecution, failed: Boolean): Unit = {
    // a failed analysis or planning has no executed plan
    val plan = Try(qe.executedPlan).toOption
    val phases = qe.tracker.phases.map { case (k, p) => k -> p.durationMs }
    synchronized { actionBuf += Action(name, plan, phases, failed) }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    action(funcName, qe, failed = false)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    action(funcName, qe, failed = true)

  /** The recorded counters. `spark.busy_ms` is the time at least one task
    * ran; a caller that knows the recorded span's wall time derives the
    * driver gap from it, as perfbench does. */
  def layers: Map[String, Double] = synchronized {
    val ts = taskBuf
    var busy = 0L
    var (curS, curE) = (-1L, -1L)
    ts.map(t => (t.launchMs, t.finishMs)).filter(p => p._2 > p._1).sortBy(_._1).foreach {
      case (s, e) =>
        if (s > curE) { busy += curE - curS; curS = s; curE = e } else curE = curE max e
    }
    busy += curE - curS
    def sum(f: Task => Long): Double = ts.map(f).sum.toDouble
    Map(
      "spark.jobs" -> jobBuf.size.toDouble,
      "spark.stages" -> stageBuf.size.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.busy_ms" -> busy.toDouble,
      "spark.empty_tasks" ->
        ts.count(t => t.inRecs + t.shReadRecs + t.shWriteRecs + t.outRecs == 0).toDouble,
      "spark.executor_run_ms" -> sum(_.runMs),
      "spark.executor_cpu_ms" -> sum(_.cpuNs) / 1e6,
      "spark.gc_ms" -> sum(_.gcMs),
      "spark.input_bytes" -> sum(_.inBytes),
      "spark.output_bytes" -> sum(_.outBytes),
      "spark.shuffle_read_bytes" -> sum(_.shReadBytes),
      "spark.shuffle_write_bytes" -> sum(_.shWriteBytes),
      "spark.planning_ms" -> actionBuf.map(_.phases.values.sum).sum.toDouble,
      "spark.aqe_replans" -> aqeBuf.size.toDouble)
  }

  /** The recorded plan shape: [[Profile.shape]] summed over the final plans
    * of the actions, so a source read by two actions counts twice. */
  def plan: Map[String, Int] = synchronized {
    val shapes = actionBuf.flatMap(_.plan).map(shape)
    ShapeKeys.map(k => k -> shapes.map(_(k)).sum).toMap
  }
}

object Profile {
  final case class Job(id: Int, group: Option[String], timeMs: Long)
  final case class Stage(id: Int, attempt: Int, name: String, tasks: Int)
  final case class Task(stageId: Int, taskType: String, launchMs: Long, finishMs: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, inBytes: Long, inRecs: Long,
      outBytes: Long, outRecs: Long, shReadBytes: Long, shReadRecs: Long,
      shWriteBytes: Long, shWriteRecs: Long)
  /** One action (`collect`, `count`, a write, …): its final executed plan,
    * if it got one, and the ms of each of its planning phases (analysis,
    * optimization, planning). */
  final case class Action(name: String, plan: Option[SparkPlan], phases: Map[String, Long],
      failed: Boolean)

  val ShapeKeys: Seq[String] =
    Seq("file_scans", "checkpoint_scans", "exchanges", "reused_exchanges", "bhj", "smj")

  /** Waits until the session's listener bus has delivered every event posted
    * so far — the exact replacement for sleeping on the bus. */
  private def drain(spark: SparkSession): Unit = GraftShims.drainListenerBus(spark)

  /** A recorder holding exactly the events `body` caused: it starts
    * listening once the bus has delivered every earlier event and stops once
    * it has delivered every event of `body`. Both waits lie outside `body`,
    * so a time `body` takes of itself excludes them. */
  def record(spark: SparkSession)(body: => Unit): Profile = {
    drain(spark)
    val p = new Profile
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    try body
    finally {
      drain(spark)
      spark.sparkContext.removeSparkListener(p)
      spark.listenerManager.unregister(p)
    }
    p
  }

  /** The shape of a final physical plan, AQE internals included
    * ([[graft.plans.PlanWalk]]): parquet and other file scans, scans of a
    * checkpoint or other existing RDD, shuffle exchanges, reused exchanges,
    * broadcast-hash and sort-merge joins. A reused exchange is a leaf: the
    * subtree it reuses ran once and counts once. */
  def shape(plan: SparkPlan): Map[String, Int] = {
    val kinds = graft.plans.PlanWalk.flatten(plan).collect {
      case _: FileSourceScanExec    => "file_scans"
      case _: RDDScanExec           => "checkpoint_scans"
      case _: ShuffleExchangeLike   => "exchanges"
      case _: ReusedExchangeExec    => "reused_exchanges"
      case _: BroadcastHashJoinExec => "bhj"
      case _: SortMergeJoinExec     => "smj"
    }
    ShapeKeys.map(k => k -> kinds.count(_ == k)).toMap
  }
}
