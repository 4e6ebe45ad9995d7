package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region. Spans of one op share `op`; `parent` is the id of the
  * enclosing span (0 for an op's root span). Times are System.nanoTime. */
final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, end: Long)

/** In-memory span recorder. When disabled it only runs the body, so the
  * untraced run pays no bookkeeping. */
final class Spans(enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1
  var op = 0

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }
}

/** Runtime-layer counters from Spark's public listener interfaces. Events
  * carry driver wall-clock times (ms); they are attributed to the op whose
  * window contains them after `SparkSession.stop()` has drained the bus. */
final class SparkRecorder extends SparkListener with QueryExecutionListener {
  final case class TaskRec(launch: Long, finish: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, inBytes: Long, inRecs: Long, outBytes: Long,
      outRecs: Long, shReadBytes: Long, shReadRecs: Long, shWriteBytes: Long,
      shWriteRecs: Long)

  val jobs = ArrayBuffer.empty[Long]                   // job start times
  val stages = ArrayBuffer.empty[Long]                 // stage submission times
  val tasks = ArrayBuffer.empty[TaskRec]
  val phases = ArrayBuffer.empty[(Long, Long)]         // (start ms, duration ms)
  val aqeUpdates = ArrayBuffer.empty[Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += e.time }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages += e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) tasks += TaskRec(i.launchTime, i.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit =
    if (e.getClass.getSimpleName == "SparkListenerSQLAdaptiveExecutionUpdate")
      synchronized { aqeUpdates += System.currentTimeMillis() }

  private def planning(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.values.foreach(p => phases += ((p.startTimeMs, p.durationMs)))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planning(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planning(qe)

  /** Per-op layer numbers for the op window [from, to) in epoch ms. */
  def layer(from: Long, to: Long): Map[String, Double] = synchronized {
    def in(t: Long) = t >= from && t < to
    val ts = tasks.filter(t => in(t.launch))
    // time at least one task was running, clipped to the window
    val iv = ts.map(t => (t.launch max from, t.finish min to)).filter(p => p._2 > p._1)
      .sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e } else curE = curE max e
    }
    busy += curE - curS
    val empty = ts.count(t => t.inRecs + t.shReadRecs + t.shWriteRecs + t.outRecs == 0)
    Map(
      "spark.jobs" -> jobs.count(in).toDouble,
      "spark.stages" -> stages.count(in).toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.busy_ms" -> busy.toDouble,
      "spark.empty_tasks" -> empty.toDouble,
      "spark.executor_run_ms" -> ts.map(_.runMs).sum.toDouble,
      "spark.executor_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
      "spark.gc_ms" -> ts.map(_.gcMs).sum.toDouble,
      "spark.input_bytes" -> ts.map(_.inBytes).sum.toDouble,
      "spark.output_bytes" -> ts.map(_.outBytes).sum.toDouble,
      "spark.shuffle_read_bytes" -> ts.map(_.shReadBytes).sum.toDouble,
      "spark.shuffle_write_bytes" -> ts.map(_.shWriteBytes).sum.toDouble,
      "spark.planning_ms" -> phases.filter(p => in(p._1)).map(_._2).sum.toDouble,
      "spark.aqe_replans" -> aqeUpdates.count(in).toDouble)
  }
}
