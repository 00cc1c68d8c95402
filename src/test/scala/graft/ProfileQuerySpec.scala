package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftshim.TaskTimeListener
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The one profiler, end to end on a registered query: the span tree
  * splits `q_layout_regrow` into its optimize and maintain phases,
  * accounts for every job, and leaves the query's rows as they are. */
class ProfileQuerySpec extends SparkSpec {

  test("q_layout_regrow: optimize and maintain rows, every job attributed, rows unchanged") {
    val sc = spark.sparkContext
    val seen = new AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.incrementAndGet()
    }
    TaskTimeListener.flush(sc)
    sc.addSparkListener(counter)
    val run =
      try ProfileQuery.profile(spark, "q_layout_regrow", sfDir, 1).head
      finally {
        TaskTimeListener.flush(sc)
        sc.removeSparkListener(counter)
      }
    val r = run.report
    Seq("sources.optimize", "sources.maintain").foreach { p =>
      assert(r(p).spans > 0 && r.subtree(p).jobs > 0, s"$p\n${r.tree}")
    }
    assert(r.rows.exists(_.path == "sources.optimize/sources.commit"), r.tree)
    assert(r.rows.map(_.jobs).sum == r.jobs, r.tree)
    assert(r.jobs == seen.get, s"the report saw ${r.jobs} of ${seen.get} jobs")
    val traced = run.frame.collect().toSeq
    val plain = SparkEntry.queries("q_layout_regrow")(spark, sfDir).collect().toSeq
    assert(traced == plain)
  }
}
