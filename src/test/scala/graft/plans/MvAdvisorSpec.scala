package graft.plans

import java.io.File

import graft.SparkSpec
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The advisor's contract, including the closing of the loop: building
  * and registering EXACTLY what it recommends makes every servable
  * workload query answer from the summary. */
class MvAdvisorSpec extends SparkSpec {

  import spark.implicits._

  private val root = "/root/repo/target/tmp/spec_mvadvisor"
  private val basePath = s"$root/afact_base.parquet"

  override def beforeAll(): Unit = {
    super.beforeAll()
    FileUtils.deleteQuietly(new File(root))
    (1L to 500L).map(i => (s"k${i % 5}", s"s${i % 3}", i % 11, i % 7))
      .toDF("ka", "kb", "m1", "m2")
      .write.parquet(basePath)
  }

  override def afterAll(): Unit = {
    MvRewrite.clear()
    super.afterAll()
  }

  private def base = spark.read.parquet(basePath)

  test("candidate extraction: keys from groupings+filters+distincts, measures integral-only") {
    val c = MvAdvisor.candidate(
      base.filter(col("kb") === "s1").groupBy("ka")
        .agg(sum("m1").as("s"), count(lit(1)).as("n"),
          countDistinct("kb").as("d"))).get
    assert(c.base == "afact_base.parquet")
    assert(c.keys == Seq("ka", "kb")) // grouping + filter + distinct target
    assert(c.measures == Seq("m1"))   // COUNT(*) and DISTINCT add none
  }

  test("unservable shapes decline: join, expression grouping, nondeterministic filter") {
    assert(MvAdvisor.candidate(
      base.join(base.select(col("ka").as("ka2")), col("ka") === col("ka2"))
        .groupBy("ka").agg(sum("m1"))).isEmpty)
    assert(MvAdvisor.candidate(
      base.groupBy((col("m1") % 2).as("parity")).agg(sum("m2"))).isEmpty)
    assert(MvAdvisor.candidate(
      base.filter(rand() < 0.5).groupBy("ka").agg(sum("m1"))).isEmpty)
  }

  test("approx NDV pricing: sketch and exact agree on the verdict; band is one-sided") {
    // a cardinality where a sketch overshoot near the boundary matters:
    // 500 distinct keys over 1000 rows sits exactly AT fraction 0.5 —
    // exact admits (500 <= 500); the error-aware approx band must NOT
    // (est·1.1 > 500 even with a perfect sketch), because materializing
    // an overshooting view wastes the build forever while declining a
    // borderline fit merely skips a minor win
    import spark.implicits._
    val p = "/root/repo/target/tmp/spec_mvadv_band.parquet"
    (0L until 1000L).map(i => (s"k${i % 500}", i)).toDF("k", "v")
      .write.mode("overwrite").parquet(p)
    def q() = spark.read.parquet(p).groupBy("k").agg(sum("v").as("sv"))
    val exact = MvAdvisor.recommend(spark, Seq(q()), exactNdv = true).head()
    assert(exact.getAs[Long]("est_rows") == 500L)
    assert(exact.getAs[Boolean]("recommend"))
    val approx = MvAdvisor.recommend(spark, Seq(q())).head()
    // HLL++ error at this cardinality stays inside the declared rsd
    assert(math.abs(approx.getAs[Long]("est_rows") - 500L) <= 50L)
    assert(!approx.getAs[Boolean]("recommend"),
      "the one-sided band must decline an at-the-boundary view in approx mode")
    // far from the boundary the sketch never flips the verdict
    val pSmall = "/root/repo/target/tmp/spec_mvadv_band2.parquet"
    (0L until 1000L).map(i => (s"k${i % 8}", i)).toDF("k", "v")
      .write.mode("overwrite").parquet(pSmall)
    def qs() = spark.read.parquet(pSmall).groupBy("k").agg(sum("v").as("sv"))
    assert(MvAdvisor.recommend(spark, Seq(qs())).head().getAs[Boolean]("recommend"))
    assert(MvAdvisor.recommend(spark, Seq(qs()), exactNdv = true)
      .head().getAs[Boolean]("recommend"))
  }

  test("closing the loop: build what the advisor recommends and the workload rewrites") {
    // thunks: a Dataset memoizes its plan at creation, so the
    // from_mv probe and the rule-disabled ground truth each need a
    // FRESH frame built under the current registration state
    val workload = Seq[() => DataFrame](
      () => base.filter(col("kb") === "s1").groupBy("ka")
        .agg(sum("m1").as("s1")),
      () => base.groupBy("ka", "kb").agg(min("m2").as("mn"), avg("m1").as("av")),
      () => base.groupBy("kb").agg(count(lit(1)).as("n")))
    val rec = MvAdvisor.recommend(spark, workload.map(_())).collect()
    assert(rec.length == 1)
    val r = rec.head
    assert(r.getAs[String]("base") == "afact_base.parquet")
    assert(r.getAs[String]("view_keys") == "ka,kb")
    assert(r.getAs[String]("view_measures") == "m1,m2")
    assert(r.getAs[Long]("n_queries") == 3L)
    assert(r.getAs[Long]("est_rows") == 15L) // 5 ka × 3 kb, all present
    assert(r.getAs[Long]("base_rows") == 500L)
    assert(r.getAs[Boolean]("recommend"))
    // build + register EXACTLY the recommendation…
    val mvPath = s"$root/advised_mv.parquet"
    val keys = r.getAs[String]("view_keys").split(",").toSeq
    val measures = r.getAs[String]("view_measures").split(",").toSeq
    Mv.build(base, keys, measures, mvPath)
    Mv.register(spark, "advised", r.getAs[String]("base"), mvPath,
      keys, measures)
    try workload.foreach { mk =>
      // …and every workload query answers from the summary, correctly
      val q = mk()
      val plan = q.queryExecution.executedPlan.toString()
      assert(plan.contains("advised_mv") && !plan.contains("afact_base"),
        plan.take(2000))
      spark.conf.set("spark.graft.mvRewrite.enabled", "false")
      val want = try mk().collect().map(_.toSeq).toSet
      finally spark.conf.unset("spark.graft.mvRewrite.enabled")
      assert(q.collect().map(_.toSeq).toSet == want)
    } finally MvRewrite.deregister("advised")
  }

  test("star advisor: orientation by uniqueness probe, merging, closing loop") {
    val factPath = s"$root/sfact_base.parquet"
    val dimPath = s"$root/sdim_base.parquet"
    (1L to 400L).map(i => (i % 20, s"g${i % 4}", i % 9)).toDF("fk", "gf", "m")
      .write.mode("overwrite").parquet(factPath)
    (0L until 20L).map(k => (k, s"a${k % 5}")).toDF("pk", "attr")
      .write.mode("overwrite").parquet(dimPath)
    def fact = spark.read.parquet(factPath)
    def dim = spark.read.parquet(dimPath)
    val wl = Seq[() => DataFrame](
      () => fact.join(dim, col("fk") === col("pk"))
        .groupBy("attr").agg(sum("m").as("sm")),
      () => fact.join(dim, col("fk") === col("pk"))
        .groupBy("attr", "gf").agg(count(lit(1)).as("n")))
    val rec = MvAdvisor.recommendStars(spark, wl.map(_())).collect()
    assert(rec.length == 1) // the two queries MERGED into one star view
    val r = rec.head
    // dim side probed unique on pk, fact not unique on fk → oriented
    assert(r.getAs[String]("fact") == "sfact_base.parquet")
    assert(r.getAs[String]("star") == "sdim_base.parquet:fk=pk:inner")
    assert(r.getAs[String]("view_keys") == "attr,gf")
    assert(r.getAs[String]("view_measures") == "m")
    assert(r.getAs[Long]("n_queries") == 2L)
    assert(r.getAs[Boolean]("recommend"))
    // closing the loop: build + register EXACTLY the recommendation
    val mvPath = s"$root/advised_star_mv.parquet"
    val keys = r.getAs[String]("view_keys").split(",").toSeq
    val ms = r.getAs[String]("view_measures").split(",").toSeq
    Mv.buildJoin(fact, dim, "fk", "pk", keys, ms, mvPath)
    Mv.registerJoin(spark, "advised_star", "sfact_base.parquet",
      "sdim_base.parquet", "fk", "pk", mvPath, keys, ms)
    try wl.foreach { mk =>
      val q = mk()
      val plan = q.queryExecution.executedPlan.toString()
      assert(plan.contains("advised_star_mv") && !plan.contains("sfact_base"),
        plan.take(2000))
      spark.conf.set("spark.graft.mvRewrite.enabled", "false")
      val want = try mk().collect().map(_.toSeq).toSet
      finally spark.conf.unset("spark.graft.mvRewrite.enabled")
      assert(q.collect().map(_.toSeq).toSet == want)
    } finally MvRewrite.deregister("advised_star")
    // a LEFT-join query pins the dim to the null-extended side
    val lc = MvAdvisor.starCandidate(spark,
      fact.join(dim, col("fk") === col("pk"), "left")
        .groupBy("attr").agg(sum("m").as("sm"))).get
    assert(lc.factSuffix == "sfact_base.parquet")
    assert(lc.dims.map(d => (d.suffix, d.joinType)) ==
      Seq(("sdim_base.parquet", "left")))
    // a 1:1 edge (both sides unique) breaks the fact tie by suffix
    val onePath = s"$root/sone_base.parquet"
    (0L until 20L).map(k => (k, k % 3)).toDF("ok", "v")
      .write.mode("overwrite").parquet(onePath)
    val oc = MvAdvisor.starCandidate(spark,
      dim.join(spark.read.parquet(onePath), col("pk") === col("ok"))
        .groupBy("attr").agg(sum("v").as("sv"))).get
    assert(oc.factSuffix == "sdim_base.parquet") // 'sdim…' < 'sone…'
  }

  test("a fully-declared star prices from the fact alone — dims never read") {
    import graft.sources.TableConstraints
    val factP = s"$root/decl_fact"
    val dimP = s"$root/decl_dim"
    (1L to 200L).map(i => (i % 20 + 1, i)).toDF("fk", "m")
      .write.parquet(factP)
    (1L to 20L).map(k => (k, s"a${k % 4}")).toDF("k", "attr")
      .write.parquet(dimP)
    TableConstraints.declareUnique(dimP, Seq("k"), validate = Some(spark))
    TableConstraints.declareForeignKey(factP, Seq("fk"), dimP, Seq("k"),
      validate = Some(spark))
    // frame constructed (schema footers read) BEFORE the dim data is
    // removed — the pricing pass must never touch dim DATA pages
    val wl = spark.read.parquet(factP)
      .join(spark.read.parquet(dimP), col("fk") === col("k"))
      .groupBy("attr").agg(sum("m").as("sm"))
    new File(dimP).listFiles()
      .filter(f => f.getName.endsWith(".parquet") ||
        f.getName.endsWith(".crc"))
      .foreach(_.delete())
    // the PROBE COUNT on the dim is pinned at zero the hard way: any
    // dim read now fails loudly — a passing recommendStars IS the pin
    val rows = MvAdvisor.recommendStars(spark, Seq(wl), exactNdv = true)
      .collect()
    assert(rows.length == 1, rows.mkString(";"))
    val r = rows.head
    // est = NDV over the REMAPPED fact-side key (fk: 20 values) — the
    // provable upper bound of the 4-value attr grouping; fact-preserving
    // by the declared FK, so fact_rows is the honest base
    assert(r.getAs[Long]("est_rows") == 20L, r.toString)
    assert(r.getAs[Long]("fact_rows") == 200L)
    assert(r.getAs[Boolean]("recommend"))
    // control: an UNDECLARED star still runs the exact joined probe —
    // with dim data present it prices the true summary cardinality
    val factU = s"$root/undecl_fact"
    val dimU = s"$root/undecl_dim"
    (1L to 200L).map(i => (i % 20 + 1, i)).toDF("fku", "mu")
      .write.parquet(factU)
    (1L to 20L).map(k => (k, s"a${k % 4}")).toDF("ku", "attru")
      .write.parquet(dimU)
    val wlU = spark.read.parquet(factU)
      .join(spark.read.parquet(dimU), col("fku") === col("ku"))
      .groupBy("attru").agg(sum("mu").as("sm"))
    val rU = MvAdvisor.recommendStars(spark, Seq(wlU), exactNdv = true)
      .collect()
    assert(rU.length == 1 && rU.head.getAs[Long]("est_rows") == 4L,
      rU.mkString(";")) // the exact joined probe sees the 4 attr values
  }

  test("txn advisor: snapshot resolution, version pinning, closing loop") {
    import graft.sources.TxnTable
    val table = s"$root/txnadv_fact"
    FileUtils.deleteQuietly(new File(table))
    val mvP = s"$root/txnadv_mv.parquet"
    TxnTable.commit(spark,
      (1L to 300L).map(i => (i, s"g${i % 5}", i % 7)).toDF("id", "g", "m"),
      table, overwrite = false)
    def wl = Seq(
      TxnTable.read(spark, table).groupBy("g").agg(sum("m").as("sm")),
      TxnTable.read(spark, table).filter(col("g") =!= "g0")
        .groupBy("g").agg(count(lit(1)).as("n")))
    val rec = MvAdvisor.recommendTxn(spark, wl).collect()
    assert(rec.length == 1)
    val r = rec.head
    assert(r.getAs[String]("table") == "txnadv_fact")
    assert(r.getAs[Long]("version") == TxnTable.currentVersion(table).toLong)
    assert(r.getAs[String]("view_keys") == "g")
    assert(r.getAs[String]("view_measures") == "m")
    assert(r.getAs[Boolean]("recommend"))
    // a plain parquet scan is NOT a txn candidate
    assert(MvAdvisor.txnCandidate(
      spark.read.parquet(basePath).groupBy("ka").agg(sum("m1").as("s"))).isEmpty)
    // closing the loop: build + register EXACTLY the recommendation
    val v1 = Mv.registerTxn(spark, "txnadv", table, mvP,
      r.getAs[String]("view_keys").split(",").toSeq,
      r.getAs[String]("view_measures").split(",").toSeq)
    try {
      assert(v1.toLong == r.getAs[Long]("version"))
      val q = wl.head
      val plan = q.queryExecution.executedPlan.toString()
      assert(plan.contains("txnadv_mv") && !plan.contains("txnadv_fact"),
        plan.take(2000))
      spark.conf.set("spark.graft.mvRewrite.enabled", "false")
      val want = try wl.head.collect().map(_.toSeq).toSet
      finally spark.conf.unset("spark.graft.mvRewrite.enabled")
      assert(q.collect().map(_.toSeq).toSet == want)
      // version pinning: frames captured BEFORE a commit decline after it
      val captured = wl
      TxnTable.commit(spark,
        (301L to 330L).map(i => (i, s"g${i % 5}", i % 7)).toDF("id", "g", "m"),
        table, overwrite = false)
      assert(MvAdvisor.recommendTxn(spark, captured).collect().isEmpty)
    } finally MvRewrite.deregister("txnadv")
  }
}
