package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Span-attributed Spark accounting for the traced run.
  *
  * The client thread names its current span in the `perfbench.span` local
  * property. Every job carries the properties of the thread that launched
  * it, so each job, and every stage and task the job starts, is billed to
  * that span. Jobs that carry no span (launched on a helper thread that
  * never saw the property) are billed to `unattributed`. `total` counts
  * every event independently of attribution, so
  * `sum(spans) + unattributed == total` is a check on the bookkeeping.
  *
  * Events arrive on Spark's listener-bus thread; read the sums only after
  * the bus is drained (see `org.apache.spark.perfbench.Bus`). */
final class SpanListener extends SparkListener {
  import SpanListener.Acc

  private val stageSpan = mutable.HashMap[Int, String]()
  private val jobOpen = mutable.HashMap[Int, (String, Long)]()
  val spans: mutable.HashMap[String, Acc] = mutable.HashMap()
  val unattributed = new Acc
  val total = new Acc

  private def acc(span: String): Acc =
    if (span.isEmpty) unattributed else spans.getOrElseUpdate(span, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SpanListener.Key))).getOrElse("")
    jobOpen(e.jobId) = (span, e.time)
    e.stageIds.foreach(s => if (!stageSpan.contains(s)) stageSpan(s) = span)
    acc(span).jobs += 1
    total.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOpen.remove(e.jobId).foreach { case (span, t0) =>
      acc(span).jobIntervals += ((t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc(stageSpan.getOrElse(e.stageInfo.stageId, "")).stages += 1
    total.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageSpan.getOrElse(e.stageId, ""))
    Seq(a, total).foreach(_.add(e.taskMetrics))
  }
}

object SpanListener {
  val Key = "perfbench.span"

  final class Acc {
    var jobs, stages, tasks = 0L
    var taskMs, cpuNs, gcMs, inputBytes, shuffleWriteBytes, spillBytes = 0L
    val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer()

    def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
      tasks += 1
      if (m != null) {
        taskMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        inputBytes += m.inputMetrics.bytesRead
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.diskBytesSpilled
      }
    }

    def +=(o: Acc): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      taskMs += o.taskMs; cpuNs += o.cpuNs; gcMs += o.gcMs
      inputBytes += o.inputBytes; shuffleWriteBytes += o.shuffleWriteBytes
      spillBytes += o.spillBytes; jobIntervals ++= o.jobIntervals
    }

    /** Milliseconds of [from, to] covered by at least one job. */
    def busyMs(from: Long, to: Long): Long = {
      val clipped = jobIntervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var busy = 0L
      var end = Long.MinValue
      clipped.foreach { case (a, b) =>
        if (b > end) { busy += b - math.max(a, end); end = b }
      }
      busy
    }

    def toJson: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "task_s" -> taskMs / 1e3, "task_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
      "input_mb" -> inputBytes / 1048576.0,
      "shuffle_write_mb" -> shuffleWriteBytes / 1048576.0,
      "spill_mb" -> spillBytes / 1048576.0)
  }
}
