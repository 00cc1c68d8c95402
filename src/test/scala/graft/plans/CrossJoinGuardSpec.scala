package graft.plans

import graft.SparkSpec
import org.apache.spark.SparkException
import org.apache.spark.sql.functions._

/** Specs for the cross-join tripwire: large unhinted cartesians fail at
  * planning; hinted, conditioned, small, or guard-off joins pass.
  */
class CrossJoinGuardSpec extends SparkSpec {

  import spark.implicits._

  private def big = spark.range(100000).select(col("id"),
    lit("x" * 64).as("pad"))

  private def withGuard[A](maxBytes: Long = 1024)(f: => A): A = {
    spark.conf.set("spark.graft.crossJoinGuard.enabled", "true")
    spark.conf.set("spark.graft.crossJoinGuard.maxBytes", maxBytes.toString)
    try f finally {
      spark.conf.set("spark.graft.crossJoinGuard.enabled", "false")
    }
  }

  test("an unhinted large-large cartesian fails at planning, not execution") {
    withGuard() {
      val e = intercept[Exception] {
        big.crossJoin(big).queryExecution.executedPlan
      }
      def rootMessage(t: Throwable): String =
        Option(t.getCause).map(rootMessage).getOrElse(t.getMessage)
      assert(rootMessage(e).contains("crossJoinGuard"), rootMessage(e))
    }
  }

  test("broadcast intent, join conditions, and small dims all pass") {
    withGuard() {
      // explicit broadcast = declared intent
      assert(big.crossJoin(broadcast(spark.range(3).toDF())).count() == 300000L)
      // a real join condition is never a cartesian
      assert(big.as("a").join(big.as("b"), col("a.id") === col("b.id")).count() == 100000L)
    }
    withGuard(maxBytes = 1024 * 1024 * 1024) {
      // both sides under the gate: grid/centroid-style crosses stay legal
      assert(spark.range(100).crossJoin(spark.range(100)).count() == 10000L)
    }
  }

  test("the guard is off by default") {
    assert(spark.range(2000).toDF().crossJoin(spark.range(2000).toDF()).count()
      == 4000000L)
  }
}
