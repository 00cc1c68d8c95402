package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sessions derived from the engine session — a plain `newSession()` and
  * the streaming paths' state-partition session — plan with the parent's
  * rules and guards, because they share its session extensions. */
class DerivedSessionSpec extends SparkSpec {

  private def rootMessage(t: Throwable): String =
    Option(t.getCause).map(rootMessage).getOrElse(t.getMessage)

  private val derivations: Seq[(String, SparkSession => SparkSession)] = Seq(
    "newSession" -> (_.newSession()),
    "EventsStreaming.streamSession" -> (EventsStreaming.streamSession(_)))

  for ((name, derive) <- derivations) {
    test(s"$name: an unpartitioned window over a large input trips GlobalWindowGuard") {
      val s = derive(spark)
      s.conf.set("spark.graft.globalWindowGuard.enabled", "true")
      s.conf.set("spark.graft.globalWindowGuard.maxBytes", "1024")
      val e = intercept[Exception] {
        s.range(100000).withColumn("rn", row_number().over(Window.orderBy("id")))
          .queryExecution.executedPlan
      }
      assert(rootMessage(e).contains("globalWindowGuard"), rootMessage(e))
    }

    test(s"$name: a row_number() <= k filter plans TopKPerKey") {
      val s = derive(spark)
      val w = Window.partitionBy("k").orderBy(desc("id"))
      val plan = s.range(1000).select((col("id") % 10).as("k"), col("id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("k", "id")
        .queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerKey "), plan.take(2000))
    }
  }
}
