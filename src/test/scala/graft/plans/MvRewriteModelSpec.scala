package graft.plans

import java.io.File

import graft.SparkSpec
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MODEL-BASED test of the MV auto-rewrite: a fixed-seed stream of random
  * aggregate queries (grouping subsets, key/measure/non-deterministic
  * filters, every supported and several unsupported aggregates) runs
  * twice — rule enabled and disabled — and must return identical rows
  * every time. The generator reaches shape combinations (filter × agg ×
  * grouping × multi-view choice) the targeted specs don't, and the
  * invariant is the rule's whole contract: REGISTERING A VIEW MUST NEVER
  * CHANGE AN ANSWER.
  */
class MvRewriteModelSpec extends SparkSpec {

  import spark.implicits._

  private val root = "/root/repo/target/tmp/spec_mv_model"

  test("random aggregate queries are invariant to the rewrite rule") {
    FileUtils.deleteQuietly(new File(root))
    val basePath = s"$root/mfacts_base.parquet"
    // keys ka(4) × kb(3), measures m (with nulls) and w; 500 rows
    (1L to 500L).map { i =>
      (s"k${i % 4}", s"s${i % 3}",
        if (i % 11 == 0) None else Some(i % 97), i % 13)
    }.toDF("ka", "kb", "m", "w").write.parquet(basePath)
    Mv.build(spark.read.parquet(basePath), Seq("ka", "kb"), Seq("m", "w"),
      s"$root/mv_fine.parquet")
    Mv.register(spark, "mfine", "mfacts_base.parquet",
      s"$root/mv_fine.parquet", Seq("ka", "kb"), Seq("m", "w"))
    Mv.build(spark.read.parquet(basePath), Seq("ka"), Seq("m"),
      s"$root/mv_coarse.parquet")
    Mv.register(spark, "mcoarse", "mfacts_base.parquet",
      s"$root/mv_coarse.parquet", Seq("ka"), Seq("m"))
    try {
      val rnd = new scala.util.Random(42L)
      def df = spark.read.parquet(basePath)
      val aggPool: Seq[Int => Column] = Seq(
        i => sum("m").as(s"a$i"), i => sum("w").as(s"a$i"),
        i => min("m").as(s"a$i"), i => max("m").as(s"a$i"),
        i => avg("m").as(s"a$i"), i => count(lit(1)).as(s"a$i"),
        i => avg("w").as(s"a$i"), i => max("w").as(s"a$i"),
        // unsupported shapes — must fall through, still correct
        i => countDistinct("m").as(s"a$i"), i => stddev("m").as(s"a$i"),
        i => sum(col("m") + col("w")).as(s"a$i"))
      // (column, isDeterministic) — Column.expr is gone in Spark 4, so
      // determinism is tracked by construction
      val filterPool: Seq[() => (Column, Boolean)] = Seq(
        () => (col("ka") =!= "k0", true), () => (col("kb") === "s1", true),
        () => (col("m") > 40, true), () => (col("ka").isin("k1", "k2"), true),
        () => (rand(5) < 0.9, false))
      var rewrites = 0
      (1 to 40).foreach { qi =>
        val groups = Seq("ka", "kb").filter(_ => rnd.nextBoolean())
        val aggs = (0 to rnd.nextInt(2)).map(i =>
          aggPool(rnd.nextInt(aggPool.size))(i))
        val filters = (0 until rnd.nextInt(2)).map(_ =>
          filterPool(rnd.nextInt(filterPool.size))())
        def run(): DataFrame = {
          val f = filters.foldLeft(df)((d, c) => d.filter(c._1))
          if (groups.isEmpty) f.agg(aggs.head, aggs.tail: _*)
          else f.groupBy(groups.map(col): _*).agg(aggs.head, aggs.tail: _*)
        }
        val q = run()
        val nonDet = filters.exists(!_._2)
        // probe the VIEW file names, not a bare "mv_" (the scratch dir
        // name spec_mv_model would false-positive on the base scan)
        def usesView(plan: String): Boolean =
          plan.contains("mv_fine.parquet") || plan.contains("mv_coarse.parquet")
        if (usesView(scanPlan(q))) rewrites += 1
        // a non-deterministic filter makes row-for-row comparison
        // meaningless (and must never rewrite — asserted instead)
        if (nonDet) assert(!usesView(scanPlan(q)), s"q$qi rewrote a rand() filter")
        else {
          val got = canon(q)
          spark.conf.set("spark.graft.mvRewrite.enabled", "false")
          val want = try canon(run())
          finally spark.conf.unset("spark.graft.mvRewrite.enabled")
          assert(got == want, s"q$qi diverged: groups=$groups aggs=${aggs.size} " +
            s"filters=${filters.size}\nplan: ${scanPlan(q).take(1500)}")
        }
      }
      // the walk must actually exercise the rewrite, not just fall through
      assert(rewrites >= 8, s"only $rewrites/40 queries rewrote — generator too weak")
    } finally { MvRewrite.deregister("mfine"); MvRewrite.deregister("mcoarse") }
  }

  private def scanPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString()

  /** Row multiset as sorted strings — doubles compare on rounded text
    * (the AVG rewrite is exact-or-better; at these magnitudes both sides
    * are exact, so full text equality holds). */
  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case d: Double => f"$d%.9f"
      case v => String.valueOf(v)
    }.mkString("|")).sorted.toSeq
}
