package graft

import graft.plans.TopKPerKeyNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Micro-bench: native WindowGroupLimit path vs the custom TopKPerKey
  * operator on the rank-limit idiom, same data, alternating runs. */
object TopKBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = GraftSession.create(32)
    spark.sparkContext.setLogLevel("WARN")

    def q() = {
      val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), col("o_orderkey"))
      Tables.orders(spark, sfDir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    }
    def time(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"[topk] $label%-10s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
    }
    def run(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    // the "native" runs measure the window path: the rewrite's kill switch
    // is on only while that query plans and runs
    def native(): Unit = {
      spark.conf.set("spark.graft.rankLimitRewrite.enabled", "false")
      try {
        val df = q()
        require(!df.queryExecution.optimizedPlan.exists(_.isInstanceOf[TopKPerKeyNode]),
          "native baseline planned TopKPerKey")
        run(df)
      } finally spark.conf.unset("spark.graft.rankLimitRewrite.enabled")
    }
    // warm-up
    native()
    (1 to 3).foreach { i =>
      time(s"native-$i")(native())
      time(s"custom-$i")(run(q()))
    }
    spark.stop()
  }
}
