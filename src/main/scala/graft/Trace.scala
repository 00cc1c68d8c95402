package graft

import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable

import jdk.jfr.{Category, Event, Label, Name}
import org.apache.spark.SparkContext
import org.apache.spark.graftshim.TaskTimeListener
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One engine span as a Flight Recorder event: a `-XX:StartFlightRecording`
  * run ties driver CPU samples, thread parks and process forks to the
  * engine phase they fall in. */
@Name("graft.Span")
@Label("graft span")
@Category(Array("graft"))
private[graft] final class SpanEvent extends Event {
  @Label("Path") var path: String = _
}

/** The engine's tracer: named spans at its own phase boundaries, and a
  * recorder that attributes every Spark job to the span it ran under.
  *
  *  - [[span]] sets the local property [[SpanKey]] to `parent/name` for
  *    its body (jobs submitted from the thread, or from threads it
  *    creates, carry it) and emits one [[SpanEvent]]. A span re-entered
  *    under itself (`commitWithRetry` → `commit`) keeps the outer path.
  *    Without a [[record]] in progress it keeps no state.
  *  - [[record]] installs one listener for its body and totals, per
  *    span path: span wall time, jobs, stages, tasks, task time, shuffle
  *    and spill bytes, and the [[count]] counters. Jobs with no span go
  *    under [[Unattributed]].
  *
  * The benchmark harness's own `graftbench.span` property is a separate
  * key; nothing here reads or writes it. */
object Trace {

  val SpanKey = "graft.trace.span"
  val Unattributed = "unattributed"

  private val active = new AtomicReference[Recorder]()

  private def context: Option[SparkContext] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)

  /** Run `body` as span `name` under the thread's current span. */
  def span[T](name: String)(body: => T): T = {
    val sc = context.orNull
    val outer = if (sc == null) null else sc.getLocalProperty(SpanKey)
    if (outer != null && outer.split('/').contains(name)) return body
    val path = if (outer == null) name else s"$outer/$name"
    val rec = active.get
    val t0 = System.nanoTime()
    val ev = new SpanEvent
    ev.begin()
    if (sc != null) sc.setLocalProperty(SpanKey, path)
    try body
    finally {
      if (sc != null) sc.setLocalProperty(SpanKey, outer)
      if (rec != null) rec.spanEnd(path, System.nanoTime() - t0)
      ev.end()
      if (ev.shouldCommit()) {
        ev.path = path
        ev.commit()
      }
    }
  }

  /** Add `n` to counter `name` of the current span, iff a [[record]] is
    * in progress. */
  def count(name: String, n: Long = 1L): Unit = {
    val rec = active.get
    if (rec != null) rec.count(rec.sc.getLocalProperty(SpanKey), name, n)
  }

  /** One span path's totals. `wallMs` sums the path's span walls, which
    * include their children; the other figures are the path's own. */
  final case class Row(path: String, spans: Long = 0L, wallMs: Double = 0.0,
                       threads: Int = 0, jobs: Int = 0, stages: Int = 0,
                       tasks: Int = 0, taskMs: Long = 0L,
                       shuffleReadBytes: Long = 0L,
                       shuffleWriteBytes: Long = 0L, spillBytes: Long = 0L,
                       counts: Map[String, Long] = Map.empty) {
    def +(o: Row): Row = copy(jobs = jobs + o.jobs, stages = stages + o.stages,
      tasks = tasks + o.tasks, taskMs = taskMs + o.taskMs,
      shuffleReadBytes = shuffleReadBytes + o.shuffleReadBytes,
      shuffleWriteBytes = shuffleWriteBytes + o.shuffleWriteBytes,
      spillBytes = spillBytes + o.spillBytes,
      counts = (counts.keySet ++ o.counts.keySet).map(k =>
        k -> (counts.getOrElse(k, 0L) + o.counts.getOrElse(k, 0L))).toMap)
  }

  /** What one [[record]] saw: its wall time, every job the listener
    * counted, and one row per span path. */
  final case class Report(wallMs: Double, jobs: Int, rows: Seq[Row]) {
    def apply(path: String): Row = rows.find(_.path == path).getOrElse(Row(path))

    /** `path` with every span path under it folded in. */
    def subtree(path: String): Row =
      rows.filter(_.path.startsWith(path + "/")).foldLeft(apply(path))(_ + _)

    def taskMs: Long = rows.map(_.taskMs).sum
    def count(name: String): Long = rows.map(_.counts.getOrElse(name, 0L)).sum

    /** The span tree, one line per path, each with its subtree totals. */
    def tree: String = {
      val header = f"${"span"}%-48s ${"n"}%5s ${"wall ms"}%9s ${"jobs"}%5s " +
        f"${"stages"}%6s ${"tasks"}%6s ${"task ms"}%9s ${"shuf r/w KB"}%15s " +
        f"${"spill KB"}%8s  counters"
      import scala.math.Ordering.Implicits.seqOrdering
      val lines = rows.sortBy(_.path.split('/').toSeq).map { r =>
        val segs = r.path.split('/')
        val t = subtree(r.path)
        val label = "  " * (segs.length - 1) + segs.last
        val counters = t.counts.toSeq.sorted.map { case (k, v) => s"$k=$v" }
          .mkString(" ")
        f"$label%-48s ${r.spans}%5d ${r.wallMs}%9.1f ${t.jobs}%5d " +
          f"${t.stages}%6d ${t.tasks}%6d ${t.taskMs}%9d " +
          f"${s"${t.shuffleReadBytes / 1024}/${t.shuffleWriteBytes / 1024}"}%15s " +
          f"${t.spillBytes / 1024}%8d  $counters"
      }
      (header +: lines).mkString("\n")
    }
  }

  /** Run `body` with a listener on `spark`'s context and report what it
    * ran, span by span. The listener bus is drained before the report,
    * so every finished task is in it. Records do not nest. */
  def record[T](spark: SparkSession)(body: => T): (T, Report) = {
    val sc = spark.sparkContext
    val rec = new Recorder(sc)
    require(active.compareAndSet(null, rec), "Trace.record does not nest")
    sc.addSparkListener(rec)
    try {
      val t0 = System.nanoTime()
      val out = body
      val wallMs = (System.nanoTime() - t0) / 1e6
      TaskTimeListener.flush(sc)
      (out, rec.report(wallMs))
    } finally {
      sc.removeSparkListener(rec)
      active.set(null)
    }
  }

  private final class Recorder(val sc: SparkContext) extends SparkListener {
    private final class Acc {
      var spans, wallNs, taskMs, shuffleRead, shuffleWrite, spill = 0L
      var jobs, stages, tasks = 0
      val threads = mutable.Set.empty[String]
      val counts = mutable.Map.empty[String, Long]
    }
    private val accs = mutable.Map.empty[String, Acc]
    private val stagePath = mutable.Map.empty[Int, String]
    private var jobs = 0

    private def acc(path: String): Acc =
      accs.getOrElseUpdate(Option(path).getOrElse(Unattributed), new Acc)

    def spanEnd(path: String, nanos: Long): Unit = synchronized {
      val a = acc(path)
      a.spans += 1
      a.wallNs += nanos
      a.threads += Thread.currentThread().getName
    }

    def count(path: String, name: String, n: Long): Unit = synchronized {
      val c = acc(path).counts
      c(name) = c.getOrElse(name, 0L) + n
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val path = Option(e.properties).map(_.getProperty(SpanKey)).orNull
      jobs += 1
      acc(path).jobs += 1
      e.stageIds.foreach(id => stagePath.getOrElseUpdate(id,
        Option(path).getOrElse(Unattributed)))
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized { stagePath.get(e.stageInfo.stageId).foreach(acc(_).stages += 1) }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stagePath.get(e.stageId).foreach { p =>
        val a = acc(p)
        a.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          a.taskMs += m.executorRunTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

    def report(wallMs: Double): Report = synchronized {
      Report(wallMs, jobs, accs.toSeq.map { case (p, a) =>
        Row(p, a.spans, a.wallNs / 1e6, a.threads.size, a.jobs, a.stages,
          a.tasks, a.taskMs, a.shuffleRead, a.shuffleWrite, a.spill,
          a.counts.toMap)
      })
    }
  }
}
