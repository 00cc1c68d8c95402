package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.graftshim.TaskTimeListener
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, udf}

/** The bounded-overlap helper: input-order results, the width bound,
  * the inline rung, and the failure contract — the first failure in
  * completion order cancels a sibling's running Spark job, every pool
  * thread is joined, the task's own exception is rethrown, and the
  * caller's local properties are untouched. */
class OverlapSpec extends SparkSpec {

  private val prop = "graft.spec.overlap"

  test("results keep input order; width bounds the threads; width 1 or one item runs inline") {
    val threads = ConcurrentHashMap.newKeySet[String]()
    val out = Overlap.map(None, 1 to 20, 3, "spec") { i =>
      threads.add(Thread.currentThread().getName)
      Thread.sleep(5)
      i * 2
    }
    assert(out == (1 to 20).map(_ * 2))
    assert(threads.size == 3, threads)
    assert(threads.asScala.forall(_.startsWith(Overlap.ThreadPrefix)), threads)
    val caller = Thread.currentThread().getName
    assert(Overlap.map(None, 1 to 5, 1, "spec")(_ => Thread.currentThread().getName)
      .toSet == Set(caller))
    assert(Overlap.map(None, Seq(1), 8, "spec")(_ => Thread.currentThread().getName) ==
      Seq(caller))
  }

  test("first failure cancels the sibling's running job, joins, rethrows the original") {
    val sc = spark.sparkContext
    // job id -> (job group, the caller's property as the job saw it)
    val started = new ConcurrentHashMap[Int, (String, String)]()
    val succeeded = ConcurrentHashMap.newKeySet[Int]()
    val ended = ConcurrentHashMap.newKeySet[Int]()
    val siblingRunning = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties).getOrElse(new java.util.Properties)
        val group = String.valueOf(p.getProperty("spark.jobGroup.id"))
        if (group.startsWith(Overlap.ThreadPrefix)) {
          started.put(e.jobId, (group, String.valueOf(p.getProperty(prop))))
          siblingRunning.countDown()
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        ended.add(e.jobId)
        if (e.jobResult == JobSucceeded) succeeded.add(e.jobId)
      }
    }
    // one row whose task sleeps in 100 ms steps for ~30 s and stops
    // when interrupted
    val sleepy = udf { (x: Long) => (1 to 300).foreach(_ => Thread.sleep(100)); x }
      .asNondeterministic()
    val boom = new IllegalStateException("boom")
    val poolThreads = ConcurrentHashMap.newKeySet[Thread]()
    val keys = Seq("spark.jobGroup.id", "spark.job.description",
      "spark.job.interruptOnCancel", prop)
    sc.addSparkListener(listener)
    sc.setJobGroup("spec-caller", "the caller's own group")
    sc.setLocalProperty(prop, "set-by-caller")
    val before = keys.map(sc.getLocalProperty)
    try {
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException] {
        Overlap.map(Some(spark), Seq(0, 1), 2, "spec") { i =>
          poolThreads.add(Thread.currentThread())
          if (i == 0) spark.range(1).select(sleepy(col("id"))).collect()
          else {
            siblingRunning.await(20, TimeUnit.SECONDS)
            throw boom
          }
        }
      }
      val secs = (System.nanoTime() - t0) / 1e9
      assert(e eq boom, s"expected the task's own exception, got $e")
      assert(secs < 15, s"the 30 s sibling must be cancelled, the call took $secs s")
      assert(poolThreads.size == 2 && poolThreads.asScala.forall(!_.isAlive),
        "every pool thread is joined before the call returns")
      TaskTimeListener.flush(sc)
      assert(sc.statusTracker.getActiveJobIds.isEmpty)
      // the sibling's job ran under the call's own group, carried the
      // property the caller set before the call (threads created by the
      // caller inherit it), and ended cancelled
      val jobs = started.asScala.toMap
      assert(jobs.size == 1, jobs)
      val (job, (group, seen)) = jobs.head
      assert(group != "spec-caller" && seen == "set-by-caller", jobs)
      assert(ended.contains(job) && !succeeded.contains(job))
      assert(keys.map(sc.getLocalProperty) == before)
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
      sc.setLocalProperty(prop, null)
    }
  }

  test("confInt falls back to the default on an absent, unparsable or < 1 value") {
    val key = "graft.spec.overlapWidth"
    try {
      assert(Overlap.confInt(spark, key, 4) == 4)
      Seq("four", "", "0", "-2").foreach { v =>
        spark.conf.set(key, v)
        assert(Overlap.confInt(spark, key, 4) == 4, v)
      }
      spark.conf.set(key, " 7 ")
      assert(Overlap.confInt(spark, key, 4) == 7)
    } finally spark.conf.unset(key)
  }
}
