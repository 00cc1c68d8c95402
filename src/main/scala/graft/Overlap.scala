package graft

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Bounded overlap of independent driver-side work: the engine's one
  * thread pool. Catalog commit staging, recluster segment writes,
  * per-column sidecar refreshes, replication copies and the pipeline's
  * branches are each a handful of scheduling-latency-bound jobs that do
  * not depend on each other, so running them side by side hides the
  * per-job latency. Callers keep their own widths.
  *
  * Contract of [[map]]:
  *  - width is `min(items, width)`; width ≤ 1 or at most one item runs
  *    inline on the caller's thread;
  *  - every call gets its own pool, whose threads the CALLER creates:
  *    Spark local properties (job group, `spark.job.description`, trace
  *    spans) reach a thread only by inheritance when it is created, so a
  *    shared executor would run jobs under whichever caller first
  *    started its threads;
  *  - every call runs its tasks under its own job group
  *    (`interruptOnCancel = true`, cleared when the task ends), and
  *    each task inside a [[Trace.span]] named by the call's label;
  *  - the first failure in COMPLETION order cancels the group (the
  *    siblings' running Spark jobs fail at once) and drops the tasks not
  *    yet started; the call then joins the tasks still in flight (they
  *    are not interrupted, so driver-side work is never torn mid-write)
  *    and rethrows the original exception, not its
  *    `ExecutionException` wrapper.
  *
  * A caller whose failures are data (a skipped sidecar, a failed
  * pipeline branch) catches inside its task function. */
private[graft] object Overlap {

  /** Prefix of every pool thread's name. */
  private[graft] val ThreadPrefix = "graft-overlap-"

  private val calls = new AtomicInteger()

  /** `f` over `items` with at most `width` in flight, results in input
    * order. Each pool task's job description is `label i/n`; `spark`,
    * when present, is the context whose jobs a failure cancels. */
  def map[A, B](spark: Option[SparkSession], items: Seq[A], width: Int,
                label: String)(f: A => B): Seq[B] = {
    val n = math.min(items.size, width)
    if (n <= 1) return items.map(f)
    val call = calls.incrementAndGet()
    val group = s"$ThreadPrefix$call"
    val started = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(n, (r: Runnable) => {
      val t = new Thread(r, s"$group-${started.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
    val done = new ExecutorCompletionService[B](pool)
    try {
      val futures = items.zipWithIndex.map { case (a, i) =>
        done.submit { () =>
          spark.foreach(_.sparkContext.setJobGroup(group,
            s"$label ${i + 1}/${items.size}", interruptOnCancel = true))
          try Trace.span(label)(f(a))
          finally spark.foreach(_.sparkContext.clearJobGroup())
        }
      }
      try items.foreach(_ => done.take().get())
      catch { case e: Throwable =>
        spark.foreach { s =>
          try s.sparkContext.cancelJobGroup(group)
          catch { case NonFatal(_) => () }
        }
        futures.foreach(_.cancel(false))
        throw (e match {
          case x: ExecutionException if x.getCause != null => x.getCause
          case other => other
        })
      }
      futures.map(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }

  /** Integer conf `key` of `spark`, or `dflt` when it is absent,
    * unparsable or below 1: a typo'd setting must never fail an
    * operation after its data is already staged. */
  def confInt(spark: SparkSession, key: String, dflt: Int): Int =
    spark.conf.getOption(key).flatMap(_.trim.toIntOption)
      .filter(_ >= 1).getOrElse(dflt)
}
