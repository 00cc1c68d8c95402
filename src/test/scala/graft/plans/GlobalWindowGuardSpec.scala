package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Specs for the no-partition-window tripwire: a global window over a
  * large input fails at planning; partitioned windows, small inputs,
  * and guard-off all pass.
  */
class GlobalWindowGuardSpec extends SparkSpec {

  private def big = spark.range(100000).select(col("id"),
    (col("id") % 10).as("k"), lit("x" * 64).as("pad"))

  private def withGuard[A](maxBytes: Long = 1024)(f: => A): A = {
    spark.conf.set("spark.graft.globalWindowGuard.enabled", "true")
    spark.conf.set("spark.graft.globalWindowGuard.maxBytes", maxBytes.toString)
    try f finally {
      spark.conf.set("spark.graft.globalWindowGuard.enabled", "false")
    }
  }

  private def rootMessage(t: Throwable): String =
    Option(t.getCause).map(rootMessage).getOrElse(t.getMessage)

  test("a no-partition window over a large input fails at planning") {
    withGuard() {
      val e = intercept[Exception] {
        big.withColumn("rn", row_number().over(Window.orderBy("id")))
          .queryExecution.executedPlan
      }
      assert(rootMessage(e).contains("globalWindowGuard"), rootMessage(e))
    }
  }

  test("partitioned windows and small global windows pass") {
    withGuard() {
      // the _perkey form: shuffles on the key, no single-task funnel
      assert(big.withColumn("rn",
        row_number().over(Window.partitionBy("k").orderBy("id"))).count() == 100000L)
    }
    withGuard(maxBytes = 1024 * 1024 * 1024) {
      // dimension-sized global windows (the documented small-data forms)
      assert(spark.range(100).toDF()
        .withColumn("rn", row_number().over(Window.orderBy("id")))
        .count() == 100L)
    }
  }

  test("the guard is off by default") {
    assert(spark.range(100000).toDF()
      .withColumn("rn", row_number().over(Window.orderBy("id")))
      .count() == 100000L)
  }
}
