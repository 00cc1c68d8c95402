package graft.plans

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class TopKPerKeySpec extends SparkSpec {
  import spark.implicits._

  private def rankQuery(k: Int): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("o_custkey", "o_orderkey", "o_totalprice")
  }

  private def collectSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** The window-path reference for [[rankQuery]]: the rewrite's kill
    * switch is on while the query plans and runs, and the plan must stay
    * on Window/WindowGroupLimit so the comparison is a real differential. */
  private def windowBaseline(k: Int): Set[(Long, Long)] = {
    spark.conf.set("spark.graft.rankLimitRewrite.enabled", "false")
    try {
      val q = rankQuery(k)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("TopKPerKey "), plan.take(800))
      assert(plan.contains("Window"), plan.take(800))
      collectSet(q)
    } finally spark.conf.unset("spark.graft.rankLimitRewrite.enabled")
  }

  test("RankLimitRewrite plans TopKPerKeyExec and matches the window result") {
    val baseline = windowBaseline(3)
    val rewritten = rankQuery(3)
    val plan = rewritten.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey "), plan.take(800))
    // native WindowGroupLimit must NOT remain underneath (double work)
    assert(!plan.contains("WindowGroupLimit"), plan.take(1200))
    assert(collectSet(rewritten) === baseline)
    // partial + final passes both present
    assert(plan.split("TopKPerKey ").length >= 3, plan.take(800))
  }

  test("rewrite leaves rank-projecting queries on the window path") {
    val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), col("o_orderkey"))
    val keepsRn = Tables.orders(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select("o_custkey", "rn") // rn survives → rewrite must NOT fire
    val plan = keepsRn.queryExecution.executedPlan.toString
    assert(!plan.contains("TopKPerKey "), plan.take(800))
    assert(keepsRn.count() > 0)
  }

  test("kill switch routes rank filters back to the native window path") {
    try {
      spark.conf.set("spark.graft.rankLimitRewrite.enabled", "false")
      val plan = rankQuery(3).queryExecution.executedPlan.toString
      assert(!plan.contains("TopKPerKey "), plan.take(800))
    } finally spark.conf.unset("spark.graft.rankLimitRewrite.enabled")
  }

  test("partial heap cap degrades to pass-through and stays exact") {
    val baseline = windowBaseline(3)
    try {
      // cap of 1: every partition prunes one key and ships the rest raw —
      // the memory-bounded degradation path must not change the answer
      spark.conf.set("spark.graft.topk.maxPartialKeys", "1")
      val rewritten = rankQuery(3)
      assert(rewritten.queryExecution.executedPlan.toString.contains("TopKPerKey "))
      assert(collectSet(rewritten) === baseline)
    } finally {
      spark.conf.unset("spark.graft.topk.maxPartialKeys")
    }
  }

  test("k=1 equality filter takes the top-k path and agrees with argmin") {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice"), col("o_orderkey"))
    val q = Tables.orders(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_custkey", "o_orderkey")
    assert(q.queryExecution.executedPlan.toString.contains("TopKPerKey "))
    val viaArgmin = Tables.orders(spark, sfDir)
      .groupBy("o_custkey")
      .agg(min(struct(col("o_totalprice"), col("o_orderkey"))).as("b"))
      .select(col("o_custkey"), col("b.o_orderkey"))
    assert(collectSet(q) === collectSet(viaArgmin))
  }
}
