package graft.plans

import java.io.File

import graft.SparkSpec
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Behavior specs for the materialized-view auto-rewrite: answered-from-
  * summary equality, the scan really switching to the view, and every
  * soundness gate falling through to the base table.
  */
class MvRewriteSpec extends SparkSpec {

  import spark.implicits._

  private val root = "/root/repo/target/tmp/spec_mv"
  private val basePath = s"$root/facts_base.parquet"
  private val mvPath = s"$root/facts_mv.parquet"

  private def scanPaths(df: DataFrame): String =
    df.queryExecution.executedPlan.toString()

  override def beforeAll(): Unit = {
    super.beforeAll()
    FileUtils.deleteQuietly(new File(root))
    // 3 keys × values, integral measures; written as the "fact table"
    val base = (1L to 400L).map(i =>
      (s"k${i % 4}", s"s${i % 3}", i % 10, i)).toDF("ka", "kb", "m", "id")
    base.write.parquet(basePath)
    Mv.build(spark.read.parquet(basePath), Seq("ka", "kb"), Seq("m"), mvPath)
    Mv.register(spark, "facts", "facts_base.parquet", mvPath,
      Seq("ka", "kb"), Seq("m"))
  }

  override def afterAll(): Unit = {
    MvRewrite.clear()
    super.afterAll()
  }

  private def baseDf = spark.read.parquet(basePath)

  test("a subset group-by answers from the view — and answers correctly") {
    val q = baseDf.groupBy("ka")
      .agg(sum("m").as("sm"), count(lit(1)).as("n"))
    val plan = scanPaths(q)
    assert(plan.contains("facts_mv"), plan.take(2000))
    assert(!plan.contains("facts_base"), plan.take(2000))
    // ground truth computed with the rule disabled
    spark.conf.set("spark.graft.mvRewrite.enabled", "false")
    val want = try baseDf.groupBy("ka")
      .agg(sum("m").as("sm"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    finally spark.conf.unset("spark.graft.mvRewrite.enabled")
    val got = q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("key-column filters ride the view; non-key filters fall through") {
    val onKey = baseDf.filter(col("kb") =!= "s0").groupBy("ka")
      .agg(sum("m").as("sm"))
    assert(scanPaths(onKey).contains("facts_mv"))
    spark.conf.set("spark.graft.mvRewrite.enabled", "false")
    val want = try baseDf.filter(col("kb") =!= "s0").groupBy("ka")
      .agg(sum("m").as("sm")).collect().map(r => (r.getString(0), r.getLong(1))).toSet
    finally spark.conf.unset("spark.graft.mvRewrite.enabled")
    assert(onKey.collect().map(r => (r.getString(0), r.getLong(1))).toSet == want)

    // m is a measure, not a key: filtering on it must scan the base
    val onMeasure = baseDf.filter(col("m") > 5).groupBy("ka")
      .agg(sum("m").as("sm"))
    assert(scanPaths(onMeasure).contains("facts_base"))
  }

  test("unanswerable shapes fall through: non-key grouping, non-composable aggs, distinct") {
    val badGroup = baseDf.groupBy("m").agg(count(lit(1)).as("n"))
    assert(scanPaths(badGroup).contains("facts_base"))
    val badAgg = baseDf.groupBy("ka").agg(stddev("m").as("sd"))
    assert(scanPaths(badAgg).contains("facts_base"))
    val distinct = baseDf.groupBy("ka").agg(countDistinct("m").as("nd"))
    assert(scanPaths(distinct).contains("facts_base"))
    val unregistered = baseDf.groupBy("ka").agg(sum("id").as("si"))
    assert(scanPaths(unregistered).contains("facts_base"))
  }

  test("MIN/MAX/AVG answer from the view and match the base exactly") {
    val q = baseDf.filter(col("kb") =!= "s1").groupBy("ka")
      .agg(min("m").as("mn"), max("m").as("mx"), avg("m").as("av"),
        sum("m").as("sm"))
    val plan = scanPaths(q)
    assert(plan.contains("facts_mv"), plan.take(2000))
    assert(!plan.contains("facts_base"), plan.take(2000))
    spark.conf.set("spark.graft.mvRewrite.enabled", "false")
    val want = try baseDf.filter(col("kb") =!= "s1").groupBy("ka")
      .agg(min("m").as("mn"), max("m").as("mx"), avg("m").as("av"),
        sum("m").as("sm"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSet
    finally spark.conf.unset("spark.graft.mvRewrite.enabled")
    val got = q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getDouble(3), r.getLong(4))).toSet
    assert(got == want)
    // result types unchanged by the rewrite (min/max keep the base type)
    assert(q.schema("mn").dataType == baseDf.schema("m").dataType)
  }

  test("AVG preserves null semantics: cnt_col counts non-null measure rows") {
    val nb = s"$root/nulls_base.parquet"
    val nm = s"$root/nulls_mv.parquet"
    Seq(("a", Some(10L)), ("a", None), ("a", Some(20L)), ("b", None))
      .toDF("k", "m").write.parquet(nb)
    Mv.build(spark.read.parquet(nb), Seq("k"), Seq("m"), nm)
    Mv.register(spark, "nulls", "nulls_base.parquet", nm, Seq("k"), Seq("m"))
    try {
      val q = spark.read.parquet(nb).groupBy("k").agg(avg("m").as("av"))
      assert(scanPaths(q).contains("nulls_mv"))
      val rows = q.collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      assert(rows == Map("a" -> Some(15.0), "b" -> None))
    } finally MvRewrite.deregister("nulls")
  }

  test("COUNT(col) and DISTINCT-over-key answer from the view with exact null semantics") {
    val db = s"$root/dk_base.parquet"
    val dm = s"$root/dk_mv.parquet"
    // nulls in a string key, an integral key, AND the measure — every
    // null contract the rewrites must preserve in one fixture
    val rows = Seq[(Option[String], Option[Long], String, Option[Long])](
      (Some("a"), Some(1L), "x", Some(10L)), (Some("a"), Some(1L), "x", None),
      (Some("a"), Some(2L), "y", Some(20L)), (Some("b"), Some(2L), "x", Some(30L)),
      (None, Some(3L), "y", Some(40L)), (Some("b"), None, "y", None),
      (None, None, "x", Some(50L)), (Some("c"), Some(3L), "y", Some(60L)))
    rows.toDF("ka", "kn", "kb", "m").write.parquet(db)
    Mv.build(spark.read.parquet(db), Seq("ka", "kn", "kb"), Seq("m"), dm)
    Mv.register(spark, "dk", "dk_base.parquet", dm,
      Seq("ka", "kn", "kb"), Seq("m"))
    try {
      def check(q: => DataFrame): Unit = {
        val plan = scanPaths(q)
        assert(plan.contains("dk_mv"), plan.take(2000))
        assert(!plan.contains("dk_base"), plan.take(2000))
        spark.conf.set("spark.graft.mvRewrite.enabled", "false")
        val want = try q.collect().map(_.toSeq).toSet
        finally spark.conf.unset("spark.graft.mvRewrite.enabled")
        assert(q.collect().map(_.toSeq).toSet == want)
      }
      def base = spark.read.parquet(db)
      // COUNT(measure) → SUM(cnt_m); COUNT(key) → null-key groups excluded
      check(base.groupBy("kb").agg(count(col("m")).as("nm"),
        count(col("ka")).as("nka"), count(lit(1)).as("n")))
      // DISTINCT over keys: single, summed, and multi-column tuples
      check(base.groupBy("kb").agg(countDistinct(col("ka")).as("nd")))
      check(base.groupBy("kb").agg(sum_distinct(col("kn")).as("sd")))
      check(base.groupBy("kb").agg(countDistinct(col("ka"), col("kn")).as("ndt")))
      // global (no grouping) distinct also rides the view
      check(base.agg(countDistinct(col("ka")).as("nd")))
      // soundness: DISTINCT over the MEASURE is unrecoverable → base scan
      assert(scanPaths(base.groupBy("kb")
        .agg(countDistinct(col("m")).as("bad"))).contains("dk_base"))
      // result types unchanged (Count → LongType, Sum(distinct long) → long)
      val q = base.groupBy("kb").agg(sum_distinct(col("kn")).as("sd"))
      spark.conf.set("spark.graft.mvRewrite.enabled", "false")
      val wantT = try base.groupBy("kb").agg(sum_distinct(col("kn")).as("sd"))
        .schema("sd").dataType
      finally spark.conf.unset("spark.graft.mvRewrite.enabled")
      assert(q.schema("sd").dataType == wantT)
    } finally MvRewrite.deregister("dk")
  }

  test("ROLLUP/CUBE/GROUPING SETS answer from the view through the Expand") {
    def answered(q: => DataFrame): Unit = {
      val plan = scanPaths(q)
      assert(plan.contains("facts_mv"), plan.take(2000))
      assert(!plan.contains("facts_base"), plan.take(2000))
      spark.conf.set("spark.graft.mvRewrite.enabled", "false")
      val want = try q.collect().map(_.toSeq).toSet
      finally spark.conf.unset("spark.graft.mvRewrite.enabled")
      assert(q.collect().map(_.toSeq).toSet == want)
    }
    // rollup: every composable measure + the grouping flags
    answered(baseDf.rollup("ka", "kb").agg(sum("m").as("sm"),
      count(lit(1)).as("n"), min("m").as("mn"), max("m").as("mx"),
      avg("m").as("av"), count(col("m")).as("nm"),
      grouping_id().as("gid")))
    // cube, with a key filter riding the view
    answered(baseDf.filter(col("kb") =!= "s0").cube("ka", "kb")
      .agg(sum("m").as("sm"), grouping(col("ka")).cast("long").as("g_ka")))
    // explicit grouping sets via SQL on the same parquet
    baseDf.createOrReplaceTempView("facts_gs")
    answered(spark.sql(
      """SELECT ka, kb, sum(m) AS sm, count(*) AS n
        |FROM facts_gs GROUP BY GROUPING SETS ((ka, kb), (ka), ())"""
        .stripMargin))
    // DISTINCT over a key copy inside the rollup re-applies verbatim
    answered(baseDf.rollup("ka").agg(countDistinct(col("kb")).as("nd"),
      sum("m").as("sm")))
    // declines: a measure inside the grouping, distinct over a measure
    assert(scanPaths(baseDf.rollup("ka", "m").agg(count(lit(1)).as("n")))
      .contains("facts_base"))
    assert(scanPaths(baseDf.rollup("ka")
        .agg(countDistinct(col("m")).as("nd")))
      .contains("facts_base"))
    // a non-key filter declines even through the Expand
    assert(scanPaths(baseDf.filter(col("m") > 5).rollup("ka")
        .agg(sum("m").as("sm")))
      .contains("facts_base"))
  }

  test("a non-deterministic filter falls through to the base scan") {
    // rand() references no columns, so a reference-only gate would pass
    // it — and re-evaluate it per summary row, sampling GROUPS.
    // (An always-true rand(_) < 2.0 gets optimized away before the rule
    // runs and legitimately rewrites — the gate only sees live filters.)
    val q = baseDf.filter(rand(7) < 0.5).groupBy("ka").agg(sum("m").as("sm"))
    assert(scanPaths(q).contains("facts_base"))
  }

  test("the suffix anchors at a path segment: my_facts_base does not match") {
    val lookalike = s"$root/my_facts_base.parquet"
    // different content — a wrong match would silently answer from facts_mv
    Seq(("k0", "s0", 999L, 1L)).toDF("ka", "kb", "m", "id")
      .write.parquet(lookalike)
    val q = spark.read.parquet(lookalike).groupBy("ka").agg(sum("m").as("sm"))
    assert(scanPaths(q).contains("my_facts_base"))
    assert(q.head().getLong(1) == 999L)
  }

  test("multi-view selection: the smallest summary that can answer wins") {
    // a COARSER (ka)-keyed view over the same base: 4 rows vs 12
    val coarseMv = s"$root/facts_mv_coarse.parquet"
    Mv.build(spark.read.parquet(basePath), Seq("ka"), Seq("m"), coarseMv)
    Mv.register(spark, "facts_coarse", "facts_base.parquet", coarseMv,
      Seq("ka"), Seq("m"))
    try {
      // answerable by both → must pick the coarse (smaller) summary
      val q = baseDf.groupBy("ka").agg(sum("m").as("sm"))
      assert(scanPaths(q).contains("facts_mv_coarse"), scanPaths(q).take(2000))
      spark.conf.set("spark.graft.mvRewrite.enabled", "false")
      val want = try baseDf.groupBy("ka").agg(sum("m").as("sm"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      finally spark.conf.unset("spark.graft.mvRewrite.enabled")
      assert(q.collect().map(r => (r.getString(0), r.getLong(1))).toSet == want)
      // needs kb → only the fine view is sound; the coarse one declines
      val fine = baseDf.groupBy("ka", "kb").agg(sum("m").as("sm"))
      val fp = scanPaths(fine)
      assert(fp.contains("facts_mv") && !fp.contains("facts_mv_coarse"), fp.take(2000))
    } finally MvRewrite.deregister("facts_coarse")
  }

  test("ROLLUP/CUBE over the star join answer from the star summary") {
    val factPath = s"$root/rfact_base.parquet"
    val dimPath = s"$root/rdim_base.parquet"
    val rmv = s"$root/rstar_summary.parquet"
    (1L to 300L).map(i => (i % 20, i % 50)).toDF("fk", "m")
      .write.mode("overwrite").parquet(factPath)
    (0L until 20L).map(k => (k, s"g${k % 4}")).toDF("pk", "attr")
      .write.mode("overwrite").parquet(dimPath)
    def fact = spark.read.parquet(factPath)
    def dim = spark.read.parquet(dimPath)
    Mv.buildJoin(fact, dim, "fk", "pk", Seq("attr", "pk"), Seq("m"), rmv)
    Mv.registerJoin(spark, "rollstar", "rfact_base.parquet",
      "rdim_base.parquet", "fk", "pk", rmv, Seq("attr", "pk"), Seq("m"))
    try {
      def answered(q: => DataFrame): Unit = {
        val plan = scanPaths(q)
        assert(plan.contains("rstar_summary"), plan.take(2000))
        assert(!plan.contains("rfact_base") && !plan.contains("rdim_base"),
          plan.take(2000))
        spark.conf.set("spark.graft.mvRewrite.enabled", "false")
        val want = try q.collect().map(_.toSeq).toSet
        finally spark.conf.unset("spark.graft.mvRewrite.enabled")
        assert(q.collect().map(_.toSeq).toSet == want)
      }
      // NOTE: rollup/cube columns passed as col(...) — the String form
      // resolves via Dataset.col, whose dataset-id metadata trips
      // Spark's ambiguous-self-join detection on join+grouping-analytics
      // plans before any optimizer rule runs (plain groupBy is fine)
      def joined = fact.join(dim, col("fk") === col("pk"))
      answered(joined.rollup(col("attr"), col("pk"))
        .agg(sum("m").as("sm"), count(lit(1)).as("n"), min("m").as("mn"),
          grouping_id().as("gid")))
      answered(joined.filter(col("attr") =!= "g0").cube(col("attr"))
        .agg(sum("m").as("sm"), avg("m").as("av")))
      // a LEFT-join rollup is NOT the cached (inner) shape
      assert(scanPaths(fact.join(dim, col("fk") === col("pk"), "left")
          .rollup(col("attr")).agg(sum("m").as("sm")))
        .contains("rfact_base"))
      // a measure in the rollup keys falls through even over the star
      assert(scanPaths(joined.rollup(col("attr"), col("m"))
          .agg(count(lit(1)).as("n")))
        .contains("rfact_base"))
    } finally MvRewrite.deregister("rollstar")
  }

  test("HAVING above the aggregate rides the rewrite untouched") {
    // a HAVING plans as Filter ABOVE the Aggregate; the rule rewrites
    // the Aggregate in place (output names AND exprIds preserved), so
    // the filter — and any Project — never notices. Both API and SQL
    // forms pinned.
    def q = baseDf.groupBy("ka")
      .agg(sum("m").as("sm"), count(lit(1)).as("n"))
      .filter(col("sm") > 440)
    val plan = scanPaths(q)
    assert(plan.contains("facts_mv") && !plan.contains("facts_base"),
      plan.take(2000))
    spark.conf.set("spark.graft.mvRewrite.enabled", "false")
    val want = try q.collect().map(_.toSeq).toSet
    finally spark.conf.unset("spark.graft.mvRewrite.enabled")
    assert(q.collect().map(_.toSeq).toSet == want)
    baseDf.createOrReplaceTempView("having_base")
    val qs = spark.sql(
      "SELECT ka, SUM(m) AS sm FROM having_base GROUP BY ka HAVING SUM(m) > 440")
    assert(scanPaths(qs).contains("facts_mv") &&
      !scanPaths(qs).contains("facts_base"), scanPaths(qs).take(2000))
  }

  test("view subsumption: one wide LEFT-star view answers narrower sub-stars") {
    val factPath = s"$root/wfact_base.parquet"
    val dim1Path = s"$root/wdim1_base.parquet"
    val dim2Path = s"$root/wdim2_base.parquet"
    val wmv = s"$root/wstar_summary.parquet"
    // fk1 has NULLs and unmatched keys; dims are incomplete on purpose,
    // so dropping vs innerizing vs keeping an edge gives DIFFERENT rows
    (1L to 300L).map { i =>
      (i % 4, if (i % 5 == 0) None else Some(i % 20), i % 8, i % 50)
    }.toDF("g", "fk1", "fk2", "m")
      .write.mode("overwrite").parquet(factPath)
    (0L until 10L).map(k => (k, s"a${k % 3}")).toDF("pk1", "attr1")
      .write.mode("overwrite").parquet(dim1Path)
    (0L until 6L).map(k => (k, s"b${k % 2}")).toDF("pk2", "attr2")
      .write.mode("overwrite").parquet(dim2Path)
    def fact = spark.read.parquet(factPath)
    def dim1 = spark.read.parquet(dim1Path)
    def dim2 = spark.read.parquet(dim2Path)
    // pk2 deliberately NOT a view key — innerizing dim2 must refuse
    val keys = Seq("g", "pk1", "attr1", "attr2")
    Mv.buildStar(fact, Seq((dim1, "fk1", "pk1"), (dim2, "fk2", "pk2")),
      keys, Seq("m"), wmv, joinTypes = Seq("left", "left"))
    Mv.registerStar(spark, "widestar", "wfact_base.parquet",
      Seq(("wdim1_base.parquet", "fk1", "pk1"),
        ("wdim2_base.parquet", "fk2", "pk2")),
      wmv, keys, Seq("m"), joinTypes = Seq("left", "left"))
    def answered(q: => DataFrame): Unit = {
      val plan = scanPaths(q)
      assert(plan.contains("wstar_summary"), plan.take(2000))
      assert(!plan.contains("wfact_base") && !plan.contains("wdim1_base") &&
        !plan.contains("wdim2_base"), plan.take(2000))
      spark.conf.set("spark.graft.mvRewrite.enabled", "false")
      val want = try q.collect().map(_.toSeq).toSet
      finally spark.conf.unset("spark.graft.mvRewrite.enabled")
      assert(q.collect().map(_.toSeq).toSet == want)
    }
    try {
      // both dims DROPPED: the bare fact aggregate (null/unmatched fk1
      // rows included — they live in NULL-key summary groups)
      answered(fact.groupBy("g")
        .agg(sum("m").as("sm"), count(lit(1)).as("n"), min("m").as("mn")))
      // and the global no-grouping form
      answered(fact.agg(sum("m").as("sm"), count(lit(1)).as("n")))
      // dim1 INNERIZED (pk1 is a view key), dim2 dropped
      answered(fact.join(dim1, col("fk1") === col("pk1"))
        .groupBy("attr1").agg(sum("m").as("sm"), count(lit(1)).as("n")))
      // dim1 KEPT as left, dim2 dropped
      answered(fact.join(dim1, col("fk1") === col("pk1"), "left")
        .groupBy("attr1").agg(sum("m").as("sm")))
      // innerizing dim2 needs pk2 among the view keys — refuse
      assert(scanPaths(fact.join(dim2, col("fk2") === col("pk2"))
          .groupBy("attr2").agg(sum("m").as("sm")))
        .contains("wfact_base"))
      // a rollup with both dims dropped rides the same subsumption
      answered(fact.rollup(col("g")).agg(sum("m").as("sm"),
        count(lit(1)).as("n")))
    } finally MvRewrite.deregister("widestar")
    // an INNER edge is never droppable: an inner-built view refuses the
    // bare fact aggregate (removing the join would change the rows)
    val imv = s"$root/wstar_inner_summary.parquet"
    Mv.buildJoin(fact, dim1, "fk1", "pk1", Seq("g", "attr1"), Seq("m"), imv)
    Mv.registerJoin(spark, "wideinner", "wfact_base.parquet",
      "wdim1_base.parquet", "fk1", "pk1", imv, Seq("g", "attr1"), Seq("m"))
    try assert(scanPaths(fact.groupBy("g").agg(sum("m").as("sm")))
      .contains("wfact_base"))
    finally MvRewrite.deregister("wideinner")
  }

  test("join-aware view: aggregates over fact ⋈ dim answer from the star summary") {
    val factPath = s"$root/jfact_base.parquet"
    val dimPath = s"$root/jdim_base.parquet"
    val jmv = s"$root/jstar_summary.parquet"
    (1L to 300L).map(i => (i % 20, i % 50)).toDF("fk", "m")
      .write.mode("overwrite").parquet(factPath)
    (0L until 20L).map(k => (k, s"g${k % 4}")).toDF("pk", "attr")
      .write.mode("overwrite").parquet(dimPath)
    def fact = spark.read.parquet(factPath)
    def dim = spark.read.parquet(dimPath)
    Mv.buildJoin(fact, dim, "fk", "pk", Seq("attr"), Seq("m"), jmv)
    Mv.registerJoin(spark, "star", "jfact_base.parquet", "jdim_base.parquet",
      "fk", "pk", jmv, Seq("attr"), Seq("m"))
    try {
      def agg(df: DataFrame) = df.groupBy("attr")
        .agg(sum("m").as("sm"), count(lit(1)).as("n"), avg("m").as("av"))
      val q = agg(fact.join(dim, col("fk") === col("pk")))
      val plan = scanPaths(q)
      assert(plan.contains("jstar_summary"), plan.take(2000))
      assert(!plan.contains("jfact_base") && !plan.contains("jdim_base"),
        plan.take(2000))
      spark.conf.set("spark.graft.mvRewrite.enabled", "false")
      val want = try agg(fact.join(dim, col("fk") === col("pk")))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      finally spark.conf.unset("spark.graft.mvRewrite.enabled")
      assert(q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet == want)

      // the key pair matches in either written order
      val q2 = agg(fact.join(dim, col("pk") === col("fk")))
      assert(scanPaths(q2).contains("jstar_summary"), scanPaths(q2).take(2000))
      // a key filter rides the view; a measure filter falls through
      val q3 = agg(fact.join(dim, col("fk") === col("pk"))
        .filter(col("attr") =!= "g0"))
      assert(scanPaths(q3).contains("jstar_summary"), scanPaths(q3).take(2000))
      val q4 = agg(fact.join(dim, col("fk") === col("pk"))
        .filter(col("m") > 3))
      assert(scanPaths(q4).contains("jfact_base"), scanPaths(q4).take(2000))
      // a LEFT join is NOT the cached shape — unmatched fact rows would
      // be missing from the summary
      val q5 = agg(fact.join(dim, col("fk") === col("pk"), "left"))
      assert(scanPaths(q5).contains("jfact_base"), scanPaths(q5).take(2000))
      // a different join key must not match
      val q6 = agg(fact.join(dim, col("m") === col("pk")))
      assert(scanPaths(q6).contains("jfact_base"), scanPaths(q6).take(2000))
      // build refuses a fanning dim
      val dupDim = s"$root/jdim_dup.parquet"
      Seq((1L, "x"), (1L, "y")).toDF("pk", "attr")
        .write.mode("overwrite").parquet(dupDim)
      intercept[IllegalArgumentException] {
        Mv.buildJoin(fact, spark.read.parquet(dupDim), "fk", "pk",
          Seq("attr"), Seq("m"), s"$root/jmv_bad.parquet")
      }
    } finally MvRewrite.deregister("star")
  }

  test("snowflake view: a two-hop dim chain answers in any join order") {
    val factPath = s"$root/sfact_base.parquet"
    val d1Path = s"$root/sdim1_base.parquet"
    val d2Path = s"$root/sdim2_base.parquet"
    val smv = s"$root/ssnow_summary.parquet"
    (1L to 400L).map(i => (i % 24, i % 9)).toDF("fk", "m")
      .write.parquet(factPath)
    // dim1 keys the fact; dim2 keys DIM1 (the snowflake hop)
    (0L until 24L).map(k => (k, k % 6)).toDF("d1k", "d2fk")
      .write.parquet(d1Path)
    (0L until 6L).map(k => (k, s"r${k % 3}")).toDF("d2k", "region")
      .write.parquet(d2Path)
    def fact = spark.read.parquet(factPath)
    def d1 = spark.read.parquet(d1Path)
    def d2 = spark.read.parquet(d2Path)
    Mv.buildStar(fact, Seq((d1, "fk", "d1k"), (d2, "d2fk", "d2k")),
      Seq("region"), Seq("m"), smv)
    Mv.registerStar(spark, "snow", "sfact_base.parquet",
      Seq(("sdim1_base.parquet", "fk", "d1k"),
        ("sdim2_base.parquet", "d2fk", "d2k")),
      smv, Seq("region"), Seq("m"))
    try {
      // a Dataset memoizes its plan, so ground truth must REBUILD the
      // frame under the disabled conf (collecting the same frame twice
      // would compare the MV answer against itself)
      def check(build: () => DataFrame): Unit = {
        val q = build()
        val plan = scanPaths(q)
        assert(plan.contains("ssnow_summary"), plan.take(2000))
        assert(!plan.contains("sfact_base"), plan.take(2000))
        spark.conf.set("spark.graft.mvRewrite.enabled", "false")
        val want = try build().collect()
          .map(r => (r.getString(0), r.getLong(1))).toSet
        finally spark.conf.unset("spark.graft.mvRewrite.enabled")
        assert(q.collect().map(r => (r.getString(0), r.getLong(1))).toSet == want)
      }
      // canonical order: (fact ⋈ d1) ⋈ d2
      check(() => fact.join(d1, col("fk") === col("d1k"))
        .join(d2, col("d2fk") === col("d2k"))
        .groupBy("region").agg(sum("m").as("sm")))
      // user writes it dims-first: (d2 ⋈ d1) ⋈ fact — set matching holds
      check(() => d2.join(d1, col("d2k") === col("d2fk"))
        .join(fact, col("d1k") === col("fk"))
        .groupBy("region").agg(sum("m").as("sm")))
      // dropping one edge (a plain two-table join) must NOT match the
      // three-table registration
      val partial = fact.join(d1, col("fk") === col("d1k"))
        .groupBy("d2fk").agg(sum("m").as("sm"))
      assert(scanPaths(partial).contains("sfact_base"),
        scanPaths(partial).take(2000))
    } finally MvRewrite.deregister("snow")
  }

  test("left-outer view: the LEFT star answers with NULL-key groups; inner/left never cross-claim") {
    val factPath = s"$root/lfact_base.parquet"
    val dimPath = s"$root/ldim_base.parquet"
    val lmv = s"$root/lstar_summary.parquet"
    // dim covers only EVEN keys: odd-key fact rows are unmatched and
    // must group under NULL attr — the shape that distinguishes LEFT
    (1L to 300L).map(i => (i % 20, i % 50)).toDF("fk", "m")
      .write.mode("overwrite").parquet(factPath)
    (0L until 20L by 2).map(k => (k, s"g${k % 4}")).toDF("pk", "attr")
      .write.mode("overwrite").parquet(dimPath)
    def fact = spark.read.parquet(factPath)
    def dim = spark.read.parquet(dimPath)
    Mv.buildJoin(fact, dim, "fk", "pk", Seq("attr"), Seq("m"), lmv,
      joinType = "left")
    Mv.registerJoin(spark, "lstar", "lfact_base.parquet", "ldim_base.parquet",
      "fk", "pk", lmv, Seq("attr"), Seq("m"), joinType = "left")
    try {
      def agg(df: DataFrame) = df.groupBy("attr")
        .agg(sum("m").as("sm"), count(lit(1)).as("n"))
      def rows(df: DataFrame) = df.collect()
        .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
      val q = agg(fact.join(dim, col("fk") === col("pk"), "left"))
      val plan = scanPaths(q)
      assert(plan.contains("lstar_summary"), plan.take(2000))
      assert(!plan.contains("lfact_base") && !plan.contains("ldim_base"),
        plan.take(2000))
      spark.conf.set("spark.graft.mvRewrite.enabled", "false")
      val want = try rows(agg(fact.join(dim, col("fk") === col("pk"), "left")))
        finally spark.conf.unset("spark.graft.mvRewrite.enabled")
      assert(rows(q) == want, "LEFT rewrite must match base incl. NULL group")
      assert(want.exists(_._1.isEmpty), "the fixture must exercise a NULL group")

      // SOUNDNESS: a LEFT-built view refuses the INNER query (its summary
      // contains unmatched-fact groups an inner join would drop)
      val qInner = agg(fact.join(dim, col("fk") === col("pk")))
      assert(scanPaths(qInner).contains("lfact_base"),
        scanPaths(qInner).take(2000))
      // DIRECTION: dim LEFT JOIN fact shares the pair but null-extends
      // the other side — must not claim the view. (A fanning reversed
      // join also trips the CrossJoinGuard-free plan only at scan level;
      // the refusal must come from the matcher, so check the plan.)
      val qFlip = agg(dim.join(fact, col("fk") === col("pk"), "left"))
      assert(scanPaths(qFlip).contains("lfact_base"),
        scanPaths(qFlip).take(2000))
      // a REAL dim-side filter (not the inferred IsNotNull(key)) runs
      // before the join — unanswerable from the summary, falls through
      val qDimFilter = agg(fact.join(
        dim.filter(col("attr") =!= "g0"), col("fk") === col("pk"), "left"))
      assert(scanPaths(qDimFilter).contains("lfact_base"),
        scanPaths(qDimFilter).take(2000))
      // an IS NULL key filter above the join is a genuine predicate on
      // the left result (keeps only unmatched rows) and rides the view
      val qNullOnly = fact.join(dim, col("fk") === col("pk"), "left")
        .filter(col("attr").isNull)
        .groupBy("attr").agg(sum("m").as("sm"), count(lit(1)).as("n"))
      val planNull = scanPaths(qNullOnly)
      assert(planNull.contains("lstar_summary"), planNull.take(2000))
      spark.conf.set("spark.graft.mvRewrite.enabled", "false")
      val wantNull = try rows(fact.join(dim, col("fk") === col("pk"), "left")
          .filter(col("attr").isNull)
          .groupBy("attr").agg(sum("m").as("sm"), count(lit(1)).as("n")))
        finally spark.conf.unset("spark.graft.mvRewrite.enabled")
      assert(rows(qNullOnly) == wantNull)
    } finally MvRewrite.deregister("lstar")

    // ...and the mirror: an INNER-built view refuses a LEFT query even
    // when leaves and the key pair agree (already covered shape-wise in
    // the join-aware test, re-pinned here against the left registration
    // path: registering inner then querying left must fall through)
    val imv = s"$root/lstar_inner_summary.parquet"
    Mv.buildJoin(fact, dim, "fk", "pk", Seq("attr"), Seq("m"), imv)
    Mv.registerJoin(spark, "lstar_i", "lfact_base.parquet", "ldim_base.parquet",
      "fk", "pk", imv, Seq("attr"), Seq("m"))
    try {
      val qLeft = fact.join(dim, col("fk") === col("pk"), "left")
        .groupBy("attr").agg(sum("m").as("sm"))
      assert(scanPaths(qLeft).contains("lfact_base"),
        scanPaths(qLeft).take(2000))
    } finally MvRewrite.deregister("lstar_i")
  }

  test("a LEFT-built view answers the INNER query via the dim-key filter") {
    val factPath = s"$root/lifact_base.parquet"
    val dimPath = s"$root/lidim_base.parquet"
    val mv = s"$root/listar_summary.parquet"
    (1L to 300L).map(i => (i % 20, i % 50)).toDF("fk", "m")
      .write.mode("overwrite").parquet(factPath)
    (0L until 20L by 2).map(k => (k, s"g${k % 4}")).toDF("pk", "attr")
      .write.mode("overwrite").parquet(dimPath)
    def fact = spark.read.parquet(factPath)
    def dim = spark.read.parquet(dimPath)
    // dim KEY among the view keys — the innerized answer needs it to
    // tell matched groups (pk non-null) from unmatched (pk null)
    Mv.buildJoin(fact, dim, "fk", "pk", Seq("pk", "attr"), Seq("m"), mv,
      joinType = "left")
    Mv.registerJoin(spark, "listar", "lifact_base.parquet",
      "lidim_base.parquet", "fk", "pk", mv, Seq("pk", "attr"), Seq("m"),
      joinType = "left")
    try {
      def rows(df: DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      def innerQ() = fact.join(dim, col("fk") === col("pk"))
        .groupBy("attr").agg(sum("m").as("sm"), count(lit(1)).as("n"))
      def leftQ() = fact.join(dim, col("fk") === col("pk"), "left")
        .groupBy("attr").agg(sum("m").as("sm"), count(lit(1)).as("n"))
      val qi = innerQ()
      assert(scanPaths(qi).contains("listar_summary") &&
        !scanPaths(qi).contains("lifact_base"), scanPaths(qi).take(2000))
      val ql = leftQ()
      assert(scanPaths(ql).contains("listar_summary"),
        scanPaths(ql).take(2000))
      spark.conf.set("spark.graft.mvRewrite.enabled", "false")
      val (wantI, wantL) = try {
        (innerQ().collect().map(r =>
           (r.getString(0), r.getLong(1), r.getLong(2))).toSet,
         leftQ().collect().map(r =>
           (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet)
      } finally spark.conf.unset("spark.graft.mvRewrite.enabled")
      assert(rows(qi) == wantI,
        "innerized answer must equal the base inner join exactly")
      assert(ql.collect().map(r =>
        (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet == wantL)
    } finally MvRewrite.deregister("listar")

    // WITHOUT the dim key among the view keys, the innerized form is
    // unsound (a matched row may carry a null attr) — must fall back
    val mv2 = s"$root/listar2_summary.parquet"
    Mv.buildJoin(fact, dim, "fk", "pk", Seq("attr"), Seq("m"), mv2,
      joinType = "left")
    Mv.registerJoin(spark, "listar2", "lifact_base.parquet",
      "lidim_base.parquet", "fk", "pk", mv2, Seq("attr"), Seq("m"),
      joinType = "left")
    try {
      val qi = fact.join(dim, col("fk") === col("pk"))
        .groupBy("attr").agg(sum("m").as("sm"))
      assert(scanPaths(qi).contains("lifact_base"),
        scanPaths(qi).take(2000))
    } finally MvRewrite.deregister("listar2")
  }

  test("refreshTxnCdc: sum/count views survive deletes and updates; MIN/MAX decline") {
    import graft.sources.TxnTable
    import graft.operators.Merge
    val table = s"$root/cdcmv_table"
    val mvPath = s"$root/cdcmv_view.parquet"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    def rowsDf(ks: Seq[Long]) =
      ks.map(k => (k, k % 3, k)).toDF("k", "g", "v")
    TxnTable.commit(spark, rowsDf(0L until 30L).coalesce(1), table,
      overwrite = false)                                            // v1
    val v1 = Mv.registerTxn(spark, "cdcmv", table, mvPath,
      Seq("g"), Seq("v"))
    try {
      // v2: MERGE updates k=3 (v 3→300) and inserts k=100; v3: MOR-free
      // delete of k%5==0 — removals refreshTxn would refuse
      Merge.upsert(spark, table,
        Seq((3L, 0L, 300L), (100L, 1L, 100L)).toDF("k", "g", "v"), Seq("k"))
      TxnTable.deleteWhere(spark, table, col("k") % 5 === 0L)
      intercept[IllegalArgumentException] {
        Mv.refreshTxn(spark, "cdcmv", table, v1, mvPath, Seq("g"), Seq("v"))
      }
      Mv.refreshTxnCdc(spark, "cdcmv", table, v1, mvPath,
        Seq("g"), Seq("v"), rowKeys = Seq("k"))
      def agg() = TxnTable.read(spark, table)
        .groupBy("g").agg(sum("v").as("sv"), count(lit(1)).as("n"))
      val q = agg()
      assert(scanPaths(q).contains("cdcmv_view"), scanPaths(q).take(2000))
      spark.conf.set("spark.graft.mvRewrite.enabled", "false")
      val want = try agg().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        finally spark.conf.unset("spark.graft.mvRewrite.enabled")
      assert(q.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == want,
        "CDC-refreshed sums/counts must equal the full recompute")
      // the refreshed summary dropped min_/max_ — a MIN query DECLINES
      // (falls back to base), never answers wrong
      val qMin = TxnTable.read(spark, table)
        .groupBy("g").agg(min("v").as("mn"))
      assert(!scanPaths(qMin).contains("cdcmv_view"),
        scanPaths(qMin).take(2000))
      // an OPTIMIZE (layout-only rewrite) feeds zero row-level changes —
      // the payload-hash survivor suppression cancels the whole diff —
      // so a CDC refresh across it is a no-op merge that re-pins the view
      val v3 = TxnTable.currentVersion(table)
      TxnTable.optimize(spark, table, numFiles = 1)
      Mv.refreshTxnCdc(spark, "cdcmv", table, v3, mvPath,
        Seq("g"), Seq("v"), rowKeys = Seq("k"))
      val q2 = agg()
      assert(scanPaths(q2).contains("cdcmv_view"), scanPaths(q2).take(2000))
      spark.conf.set("spark.graft.mvRewrite.enabled", "false")
      val want2 = try agg().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        finally spark.conf.unset("spark.graft.mvRewrite.enabled")
      assert(q2.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == want2)
    } finally MvRewrite.deregister("cdcmv")
  }

  test("refreshTxnCdc(repairMinMax): MIN/MAX stay live through deletes; null keys repair too") {
    import graft.sources.TxnTable
    import graft.operators.Merge
    val table = s"$root/cdcmm_table"
    val mvPath = s"$root/cdcmm_view.parquet"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
    // nullable group key (k%7==0 → NULL group) and nullable measure
    def g(k: Long): Option[Long] = if (k % 7 == 0) None else Some(k % 3)
    def v(k: Long): Option[Long] = if (k == 13) None else Some(k)
    val base = (0L until 30L).map(k => (k, g(k), v(k))).toDF("k", "g", "v")
    TxnTable.commit(spark, base.coalesce(1), table, overwrite = false) // v1
    val v1 = Mv.registerTxn(spark, "cdcmm", table, mvPath,
      Seq("g"), Seq("v"))
    // the gold bar: the refreshed summary must EQUAL a from-scratch
    // build of the head snapshot, row for row, min/max included
    def assertEqualsFreshBuild(): Unit = {
      val fresh = s"$root/cdcmm_fresh.parquet"
      Mv.build(TxnTable.read(spark, table), Seq("g"), Seq("v"), fresh)
      val cols = spark.read.parquet(fresh).columns.sorted.toSeq
      def rows(p: String) = spark.read.parquet(p)
        .select(cols.map(col): _*).collect().map(_.toSeq).toSet
      assert(rows(mvPath) == rows(fresh),
        "repaired summary must equal a from-scratch build")
    }
    def minMaxAgg() = TxnTable.read(spark, table)
      .groupBy("g").agg(min("v").as("mn"), max("v").as("mx"),
        sum("v").as("sv"))
    def checkMinMaxFromView(): Unit = {
      val q = minMaxAgg()
      assert(scanPaths(q).contains("cdcmm_view"), scanPaths(q).take(2000))
      spark.conf.set("spark.graft.mvRewrite.enabled", "false")
      val want = try minMaxAgg().collect().map(_.toSeq).toSet
        finally spark.conf.unset("spark.graft.mvRewrite.enabled")
      assert(q.collect().map(_.toSeq).toSet == want)
    }
    try {
      // v2: MERGE lifts one row past every max AND rewrites a group min;
      // v3: delete the rows HOLDING extrema (k=29 is max of g=2, k=1 is
      // min of g=1, k=0 is min of the NULL group) plus ALL of g=2 except
      // one row — extremum retraction, null-group repair, and a near-
      // empty group in one wave
      Merge.upsert(spark, table,
        Seq((5L, Some(2L), Some(500L))).toDF("k", "g", "v"), Seq("k"))
      TxnTable.deleteWhere(spark, table,
        col("k").isin(29L, 1L, 0L) || (col("k") % 3 === 2L && col("k") > 20L))
      val h1 = Mv.refreshTxnCdc(spark, "cdcmm", table, v1, mvPath,
        Seq("g"), Seq("v"), rowKeys = Seq("k"), repairMinMax = true)
      assertEqualsFreshBuild()
      checkMinMaxFromView()
      // a plain refresh over the next delete DROPS the extrema — MIN
      // declines — and a later repair refresh UPGRADES the summary back
      // (the recompute-all path), equal to a fresh build again
      TxnTable.deleteWhere(spark, table, col("k") === 4L)
      Mv.refreshTxnCdc(spark, "cdcmm", table, h1, mvPath,
        Seq("g"), Seq("v"), rowKeys = Seq("k"))
      val declined = minMaxAgg()
      assert(!scanPaths(declined).contains("cdcmm_view"),
        scanPaths(declined).take(2000))
      val h2 = TxnTable.currentVersion(table)
      TxnTable.commit(spark,
        Seq((200L, Some(1L), Some(2L))).toDF("k", "g", "v"), table,
        overwrite = false)
      Mv.refreshTxnCdc(spark, "cdcmm", table, h2, mvPath,
        Seq("g"), Seq("v"), rowKeys = Seq("k"), repairMinMax = true)
      assertEqualsFreshBuild()
      checkMinMaxFromView()
    } finally MvRewrite.deregister("cdcmm")
  }

  test("txn-pinned STAR views: fact commits invalidate structurally; CDC refresh flows through the join") {
    import graft.sources.TxnTable
    import graft.operators.Merge
    val fact = s"$root/starmv_fact"
    val dimPath = s"$root/starmv_dim.parquet"
    val mvPath = s"$root/starmv_view.parquet"
    FileUtils.deleteQuietly(new File(fact))
    (0L until 10L).map(c => (c, s"seg${c % 4}")).toDF("pk", "seg")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val base = (0L until 60L).map(k => (k, k % 10, k)).toDF("k", "ck", "v")
    TxnTable.commit(spark, base.coalesce(1), fact, overwrite = false)
    val dims = Seq((dim, "starmv_dim.parquet", "ck", "pk"))
    val v1 = Mv.registerStarTxn(spark, "starmv", fact, dims, mvPath,
      Seq("seg"), Seq("v"))
    def q() = TxnTable.read(spark, fact)
      .join(spark.read.parquet(dimPath), col("ck") === col("pk"))
      .groupBy("seg").agg(sum("v").as("sv"), count(lit(1)).as("n"),
        min("v").as("mn"), max("v").as("mx"))
    def checkEqual(f: => DataFrame): Unit = {
      spark.conf.set("spark.graft.mvRewrite.enabled", "false")
      val want = try f.collect().map(_.toSeq).toSet
      finally spark.conf.unset("spark.graft.mvRewrite.enabled")
      assert(f.collect().map(_.toSeq).toSet == want)
    }
    try {
      // stage a: the star query answers from the view
      assert(scanPaths(q()).contains("starmv_view"), scanPaths(q()).take(2000))
      checkEqual(q())
      // ANY fact commit → different live-file set → structural fallback
      Merge.upsert(spark, fact,
        Seq((3L, 3L, 300L), (100L, 9L, 100L)).toDF("k", "ck", "v"), Seq("k"))
      TxnTable.deleteWhere(spark, fact, col("k") % 5 === 0)
      assert(!scanPaths(q()).contains("starmv_view"), scanPaths(q()).take(2000))
      checkEqual(q())
      // CDC refresh: the signed delta picks up dim attrs through the
      // broadcast join; repairMinMax keeps the full measure surface
      Mv.refreshStarTxnCdc(spark, "starmv", fact, v1, mvPath, dims,
        Seq("seg"), Seq("v"), rowKeys = Seq("k"), repairMinMax = true)
      assert(scanPaths(q()).contains("starmv_view"), scanPaths(q()).take(2000))
      checkEqual(q())
      // the refreshed summary equals a from-scratch star build
      val fresh = s"$root/starmv_fresh.parquet"
      Mv.buildStar(TxnTable.read(spark, fact), Seq((dim, "ck", "pk")),
        Seq("seg"), Seq("v"), fresh)
      val cols = spark.read.parquet(fresh).columns.sorted.toSeq
      def rows(p: String) = spark.read.parquet(p)
        .select(cols.map(col): _*).collect().map(_.toSeq).toSet
      assert(rows(mvPath) == rows(fresh))
      // a dim that grew a duplicate key fails the NEXT refresh loudly
      TxnTable.deleteWhere(spark, fact, col("k") === 2L)
      val dupDim = dim.unionByName(dim.limit(1))
      intercept[IllegalArgumentException] {
        Mv.refreshStarTxnCdc(spark, "starmv", fact,
          TxnTable.currentVersion(fact) - 1, mvPath,
          Seq((dupDim, "starmv_dim.parquet", "ck", "pk")),
          Seq("seg"), Seq("v"), rowKeys = Seq("k"))
      }
    } finally MvRewrite.deregister("starmv")
  }

  test("catalog-table views: pinned to the catalog snapshot, any txn invalidates") {
    import graft.sources.TxnCatalog
    import graft.sources.TxnCatalog.Write
    val cat = s"$root/catmv_cat"
    val mvPath = s"$root/catmv_view.parquet"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cat))
    def rowsDf(ks: Seq[Long]) = ks.map(k => (k, k % 3, k)).toDF("k", "g", "v")
    TxnCatalog.commitAll(spark, cat, Seq(
      Write("facts", rowsDf(0L until 30L))))                       // txn 1
    val t1 = Mv.registerCatalog(spark, "catmv", cat, "facts", mvPath,
      Seq("g"), Seq("v"))
    assert(t1 == 1)
    try {
      def agg() = TxnCatalog.read(spark, cat, "facts")
        .groupBy("g").agg(sum("v").as("sv"), count(lit(1)).as("n"))
      val q1 = agg()
      assert(scanPaths(q1).contains("catmv_view"), scanPaths(q1).take(2000))
      spark.conf.set("spark.graft.mvRewrite.enabled", "false")
      val want = try agg().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        finally spark.conf.unset("spark.graft.mvRewrite.enabled")
      assert(q1.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == want)
      // ANY catalog transaction that changes the table invalidates:
      // the live read resolves a different file set → base scan, fresh
      // numbers — a stale summary answer is structurally impossible
      TxnCatalog.commitAll(spark, cat, Seq(
        Write("facts", rowsDf(100L until 110L))))                  // txn 2
      val q2 = agg()
      assert(!scanPaths(q2).contains("catmv_view"), scanPaths(q2).take(2000))
      assert(q2.groupBy().sum("n").head().getLong(0) == 40L)
      // a RESTORE snaps the file set back to the pinned snapshot — the
      // view becomes valid again without re-registration
      TxnCatalog.restore(cat, toTxn = 1)                           // txn 3
      val q3 = agg()
      assert(scanPaths(q3).contains("catmv_view"), scanPaths(q3).take(2000))
      assert(q3.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == want)
    } finally MvRewrite.deregister("catmv")
  }

  test("recoverSwap restores the RETIRED old summary (retry re-applies the delta) and sweeps") {
    import org.apache.commons.io.FileUtils
    val mvPath = s"$root/swap_mv.parquet"
    def write(dir: String, tagV: Long): Unit =
      Seq((tagV, 1L)).toDF("g", "cnt").write.mode("overwrite").parquet(dir)
    // crash shape A: mvPath missing, only the retired old summary left
    FileUtils.deleteQuietly(new java.io.File(mvPath))
    write(mvPath + "_retired_v3", 3L)
    Mv.recoverSwap(mvPath)
    assert(new java.io.File(mvPath).exists())
    assert(spark.read.parquet(mvPath).select("g").head().getLong(0) == 3L)
    // crash shape B: retired AND a complete staged new summary — the
    // OLD one must win: the caller's retry re-applies the same delta
    // (same builtVersion), which on top of the staged already-refreshed
    // summary would DOUBLE-APPLY; the staged sibling sweeps
    FileUtils.deleteQuietly(new java.io.File(mvPath))
    write(mvPath + "_retired_v4", 4L)
    write(mvPath + "_v5", 5L)
    Mv.recoverSwap(mvPath)
    assert(spark.read.parquet(mvPath).select("g").head().getLong(0) == 4L)
    assert(!new java.io.File(mvPath + "_v5").exists(), "staging swept")
    assert(!new java.io.File(mvPath + "_retired_v4").exists(), "retired swept")
    // crash between the second rename and the retired delete: mvPath is
    // healthy, the leftover retired sibling sweeps (no leak, and no
    // stale dir a later manual mvPath delete could resurrect)
    write(mvPath + "_retired_v9", 9L)
    Mv.recoverSwap(mvPath)
    assert(spark.read.parquet(mvPath).select("g").head().getLong(0) == 4L)
    assert(!new java.io.File(mvPath + "_retired_v9").exists())
  }

  test("aggregate-below-join: the inner rollup rewrites in place under a join") {
    val factPath = s"$root/rfact_base.parquet"
    val dimPath = s"$root/rdim_base.parquet"
    val rmv = s"$root/rollup_summary.parquet"
    (1L to 300L).map(i => (i % 20, i % 50)).toDF("fk", "m")
      .write.mode("overwrite").parquet(factPath)
    (0L until 20L).map(k => (k, s"g${k % 4}")).toDF("pk", "attr")
      .write.mode("overwrite").parquet(dimPath)
    def fact = spark.read.parquet(factPath)
    def dim = spark.read.parquet(dimPath)
    Mv.build(fact, Seq("fk"), Seq("m"), rmv)
    Mv.register(spark, "rollup", "rfact_base.parquet", rmv,
      Seq("fk"), Seq("m"))
    try {
      def build() = fact.groupBy("fk").agg(sum("m").as("ps"))
        .join(dim, col("fk") === col("pk"))
        .groupBy("attr").agg(sum("ps").as("sm"), count(lit(1)).as("n"))
      val q = build()
      val plan = scanPaths(q)
      assert(plan.contains("rollup_summary") && !plan.contains("rfact_base"),
        plan.take(2000))
      assert(plan.contains("rdim_base"), "the dim join must stand untouched")
      spark.conf.set("spark.graft.mvRewrite.enabled", "false")
      val want = try build().collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        finally spark.conf.unset("spark.graft.mvRewrite.enabled")
      assert(q.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet == want)
    } finally MvRewrite.deregister("rollup")
  }

  test("refreshTxn across a metadata squash stays exact (live-diff, not log replay)") {
    import graft.sources.{TxnCatalog, TxnTable}
    import graft.sources.TxnCatalog.Write
    val cat = s"$root/squash_cat"
    val smv = s"$root/squash_mv.parquet"
    spark.conf.set("spark.graft.catalog.maxLineage", "1")
    try {
      TxnCatalog.commitAll(spark, cat,
        Seq(Write("t", Seq(("a", 1L), ("b", 2L)).toDF("k", "m"))))
      val table = TxnCatalog.tablePath(cat, "t")
      val v1 = Mv.registerTxn(spark, "squash", table, smv, Seq("k"), Seq("m"))
      // this commit pushes lineage past the cap → commitAll publishes a
      // RE-LIST squash version; a log-replay refresh would re-aggregate
      // the v1 rows and double the sums
      TxnCatalog.commitAll(spark, cat,
        Seq(Write("t", Seq(("a", 10L)).toDF("k", "m"))))
      Mv.refreshTxn(spark, "squash", table, v1, smv, Seq("k"), Seq("m"))
      val q = TxnTable.read(spark, table).groupBy("k")
        .agg(sum("m").as("sm"), count(lit(1)).as("n"))
      assert(scanPaths(q).contains("squash_mv"), scanPaths(q).take(2000))
      assert(q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
        Set(("a", 11L, 2L), ("b", 2L, 1L)))
    } finally {
      spark.conf.unset("spark.graft.catalog.maxLineage")
      MvRewrite.deregister("squash")
    }
  }

  test("txn-table views: exact-file-set match, structural staleness, additive refresh") {
    import graft.sources.TxnTable
    val table = s"$root/txn_facts"
    val tmv = s"$root/txn_facts_mv.parquet"
    TxnTable.commit(spark,
      Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("k", "m"),
      table, overwrite = false)
    val v1 = Mv.registerTxn(spark, "txn_facts", table, tmv, Seq("k"), Seq("m"))
    try {
      val q1 = TxnTable.read(spark, table).groupBy("k").agg(sum("m").as("sm"))
      assert(scanPaths(q1).contains("txn_facts_mv"), scanPaths(q1).take(2000))
      assert(q1.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("a", 3L), ("b", 3L)))

      // commit past the summarized version: the live read's file set no
      // longer matches, so the SAME query shape scans base — a stale
      // answer is structurally impossible, no deregistration needed
      TxnTable.commit(spark, Seq(("b", 10L), ("c", 5L)).toDF("k", "m"),
        table, overwrite = false)
      val q2 = TxnTable.read(spark, table).groupBy("k").agg(sum("m").as("sm"))
      assert(!scanPaths(q2).contains("txn_facts_mv"), scanPaths(q2).take(2000))
      assert(q2.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("a", 3L), ("b", 13L), ("c", 5L)))

      // O(Δ) refresh: aggregate only the appended files, merge
      // additively, re-register at the new head — rewrites again
      val v2 = Mv.refreshTxn(spark, "txn_facts", table, v1, tmv,
        Seq("k"), Seq("m"))
      assert(v2 == TxnTable.currentVersion(table))
      val q3 = TxnTable.read(spark, table).groupBy("k")
        .agg(sum("m").as("sm"), min("m").as("mn"), max("m").as("mx"))
      assert(scanPaths(q3).contains("txn_facts_mv"), scanPaths(q3).take(2000))
      assert(q3.collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet ==
        Set(("a", 3L, 1L, 2L), ("b", 13L, 3L, 10L), ("c", 5L, 5L, 5L)))
    } finally MvRewrite.deregister("txn_facts")
  }

  test("the kill switch and a global COUNT over an empty base behave") {
    spark.conf.set("spark.graft.mvRewrite.enabled", "false")
    try assert(scanPaths(baseDf.groupBy("ka").agg(sum("m").as("s")))
      .contains("facts_base"))
    finally spark.conf.unset("spark.graft.mvRewrite.enabled")

    // empty base: COUNT must stay 0, not NULL (the coalesce contract)
    val emptyBase = s"$root/empty_base.parquet"
    val emptyMv = s"$root/empty_mv.parquet"
    Seq.empty[(String, Long)].toDF("k", "m").write.parquet(emptyBase)
    Mv.build(spark.read.parquet(emptyBase), Seq("k"), Seq("m"), emptyMv)
    Mv.register(spark, "empty", "empty_base.parquet", emptyMv, Seq("k"), Seq("m"))
    val q = spark.read.parquet(emptyBase).agg(count(lit(1)).as("n"))
    assert(scanPaths(q).contains("empty_mv"))
    assert(q.head().getLong(0) == 0L)
    MvRewrite.deregister("empty")
  }

  test("build refuses non-integral measures") {
    intercept[IllegalArgumentException] {
      Mv.build(Seq((1.0, "a")).toDF("d", "k"), Seq("k"), Seq("d"), s"$root/bad_mv")
    }
  }
}
