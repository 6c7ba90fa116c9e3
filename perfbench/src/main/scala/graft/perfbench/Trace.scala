package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The traced run's recorder: a `SparkListener` plus in-memory spans.
  *
  * Every job the harness starts runs under a job group named
  * `p<pass>/<item>/<phase>`, so the jobs a query starts while it is being
  * built (eager checkpoints, sink writes) are attributed to it as well as
  * those of the final action. Spans (run → pass → query → build/action →
  * job → stage) are kept in memory and written out when the run ends.
  */
final class Trace extends SparkListener {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val groupSpan = mutable.Map.empty[String, Int]
  private val started = mutable.Map.empty[Int, (Long, String, Seq[Int])]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageTimes = mutable.Map.empty[Int, (String, Long, Long)]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val plans = mutable.ArrayBuffer.empty[String]

  /** Records a harness-side span (ms since the epoch); returns its id. */
  def span(parent: Int, kind: String, name: String, start: Long, end: Long): Int =
    synchronized {
      val id = spans.size + 1
      spans += Span(id, parent, kind, name, start, end)
      id
    }

  /** Sets the end of a span opened before its end was known. */
  def end(id: Int, end: Long): Unit = synchronized {
    spans(id - 1) = spans(id - 1).copy(end = end)
  }

  /** Makes `spanId` the parent of the jobs run under job group `group`. */
  def bindGroup(group: String, spanId: Int): Unit = synchronized {
    groupSpan(group) = spanId
  }

  /** Makes `spanId` the parent of the jobs without a bound group that start
    * within `[start, end]` (streaming micro-batches run their jobs on the
    * query's own thread, under the query's job group). */
  def bindWindow(start: Long, end: Long, spanId: Int): Unit = synchronized {
    windows += ((start, end, spanId))
  }
  private val windows = mutable.ArrayBuffer.empty[(Long, Long, Int)]

  /** Physical plan descriptions of the SQL executions started since the
    * last call. */
  def takePlans(): Seq[String] = synchronized {
    val p = plans.toList
    plans.clear()
    p
  }

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    started(e.jobId) = (e.time, g, e.stageIds)
    e.stageIds.foreach(stageGroup.getOrElseUpdate(_, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach { case (t0, g, st) =>
      jobs += JobRec(e.jobId, g, t0, e.time, st)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (s <- si.submissionTime; c <- si.completionTime)
      stageTimes(si.stageId) = (si.name, s, c)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null) tasks += TaskRec(
      stageGroup.getOrElse(e.stageId, ""), i.launchTime, i.finishTime,
      m.executorRunTime, m.executorCpuTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleReadMetrics.fetchWaitTime,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      plans += s.physicalPlanDescription
    }
    case _ =>
  }

  /** Stages that completed, among those of the given jobs. */
  def stagesOf(js: Seq[JobRec]): Int = synchronized {
    js.flatMap(_.stages).distinct.count(stageTimes.contains)
  }

  /** All spans, with jobs and stages hung under the phase that ran them.
    * Call once, after the listener bus has drained. */
  def allSpans(): Seq[Span] = synchronized {
    val seen = mutable.Set.empty[Int]
    jobs.sortBy(_.id).foreach { j =>
      groupSpan.get(j.group).orElse(windows.collectFirst {
        case (s, e, id) if j.start >= s && j.start <= e => id
      }).foreach { parent =>
        val id = span(parent, "job", s"job ${j.id}", j.start, j.end)
        j.stages.sorted.foreach { st =>
          if (seen.add(st)) stageTimes.get(st).foreach { case (name, s, c) =>
            span(id, "stage", s"stage $st: $name", s, c)
          }
        }
      }
    }
    spans.toList
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, kind: String, name: String,
      start: Long, end: Long)
  final case class JobRec(id: Int, group: String, start: Long, end: Long,
      stages: Seq[Int])
  /** One finished task, with the counters the layer metrics sum. */
  final case class TaskRec(group: String, start: Long, end: Long, runMs: Long,
      cpuNs: Long, shufWrite: Long, shufRead: Long, fetchWaitMs: Long,
      spill: Long, inBytes: Long, inRecords: Long)
}
