package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** The clock of spans and ops: epoch milliseconds with sub-millisecond
  * resolution. Spark's event times are whole `currentTimeMillis`
  * milliseconds, so nothing compares the two. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

final class Span(val id: Int, val parent: Int, val op: Int,
                 val name: String, val start: Double) {
  var end: Double = Double.NaN
}

/** Spans around the benchmark's calls into the engine. The single client
  * thread opens and closes them, so a plain stack gives the parent. The
  * open span's id is a local property of `sc`, which every job submitted
  * from that thread, or from threads it starts, carries: `Recorder`
  * reads it to attribute the job. Off, a span is just its body. */
final class Tracer {
  var on = false
  var op = -1
  var sc: SparkContext = _
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), op, name, Clock.ms)
      spans += s
      stack = s :: stack
      val outer = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        sc.setLocalProperty(Tracer.SpanKey, outer)
        s.end = Clock.ms
        stack = stack.tail
      }
    }
}

object Tracer {
  val SpanKey = "graftbench.span"
}

/** Everything the benchmark reads from Spark's listener bus. Task run
  * time is always summed (the untraced `task_s`); jobs, stages, tasks and
  * streaming progress are kept only while `detailed` is set. Streaming
  * progress arrives through `onOtherEvent` because the engine runs its
  * streams on derived sessions, whose StreamingQueryManager is not the
  * one a listener on the root session would be registered with. */
final class Recorder extends SparkListener {
  @volatile var detailed = false
  val taskRunMs = new java.util.concurrent.atomic.AtomicLong()

  final class Stage(val id: Int, val submit: Double) {
    val launch = ArrayBuffer.empty[Double]
    val runMs = ArrayBuffer.empty[Double]
    var gcMs, shuffleRead, shuffleWrite, spill, input = 0L
    var failedTasks = 0
  }
  final class Job(val id: Int, val span: Int, val start: Double) { var end = Double.NaN }

  val jobs = ArrayBuffer.empty[Job]
  val stages = scala.collection.mutable.LinkedHashMap.empty[(Int, Int), Stage]
  val progress = ArrayBuffer.empty[Map[String, Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (detailed) synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      jobs += new Job(e.jobId, span.fold(-1)(_.toInt), e.time.toDouble)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (detailed) synchronized {
      jobs.reverseIterator.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (detailed) synchronized {
      val i = e.stageInfo
      stages((i.stageId, i.attemptNumber())) = new Stage(i.stageId,
        i.submissionTime.getOrElse(System.currentTimeMillis()).toDouble)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) taskRunMs.addAndGet(m.executorRunTime)
    if (detailed) synchronized {
      stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
        val info = e.taskInfo
        s.launch += info.launchTime.toDouble
        if (!info.successful) s.failedTasks += 1
        if (m != null) {
          s.runMs += m.executorRunTime.toDouble
          s.gcMs += m.jvmGCTime
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.input += m.inputMetrics.bytesRead
        }
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent if detailed => synchronized {
      val d = p.progress.durationMs
      progress += Seq("triggerExecution", "queryPlanning", "addBatch", "walCommit")
        .map(k => k -> Option(d.get(k)).fold(0L)(_.longValue)).toMap
    }
    case _ => ()
  }

  def toJson: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.map(j => Map("id" -> j.id, "span" -> j.span, "start" -> j.start,
        "end" -> j.end)).toSeq,
      "stages" -> stages.values.map(s => Map(
        "id" -> s.id, "submit" -> s.submit,
        "launch" -> s.launch.toSeq, "run_ms" -> s.runMs.toSeq,
        "gc_ms" -> s.gcMs, "shuffle_read" -> s.shuffleRead,
        "shuffle_write" -> s.shuffleWrite, "spill" -> s.spill,
        "input" -> s.input, "failed_tasks" -> s.failedTasks)).toSeq,
      "streaming" -> progress.toSeq)
  }
}
