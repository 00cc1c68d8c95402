package graft.plans

import java.io.File

import graft.SparkSpec
import graft.sources.TxnTable
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._

/** The unified advisor's contract: repeated plans over STABLE pins are
  * cache rows, repeated plans whose pins MOVE are routed to the MV
  * family (the cache/MV handshake), every action is priced in
  * saved-row units, and `pos` ranks recommend-first by price. */
class WorkloadAdvisorSpec extends SparkSpec {

  import spark.implicits._

  private val root = "/root/repo/target/tmp/spec_wladv"

  override def beforeAll(): Unit = {
    super.beforeAll()
    FileUtils.deleteQuietly(new File(root))
  }

  test("stable repeats cache; churning repeats route to a view; prices rank") {
    val stable = s"$root/stable"
    val churn = s"$root/churn"
    TxnTable.commit(spark,
      (1L to 200L).map(i => (s"g${i % 4}", i)).toDF("g", "v"), stable,
      overwrite = false)
    TxnTable.commit(spark,
      (1L to 200L).map(i => (s"h${i % 4}", i)).toDF("g", "v"), churn,
      overwrite = false)
    def qs() = TxnTable.read(spark, stable).groupBy("g")
      .agg(sum("v").as("sv"))
    def qc() = TxnTable.read(spark, churn).groupBy("g")
      .agg(sum("v").as("sv"))
    // same template as qs over a DIFFERENT table — the family key is
    // (template, table set), so this must not merge with either family
    val a = qc()
    TxnTable.commit(spark, Seq(("h9", 9L)).toDF("g", "v"), churn,
      overwrite = false)
    val b = qc() // same template as `a`, pins moved by the commit
    val rep = WorkloadAdvisor.report(spark, Seq(qs(), qs(), a, b)).collect()
    val byKey = rep.map(r => (r.getAs[String]("family"),
      r.getAs[String]("target"), r.getAs[String]("action")) -> r).toMap
    // stable family: identical pins → cache, priced at the repeat's
    // skipped scan: (2 − 1) × 200 pinned rows
    val cacheRow = byKey(("result_cache", "stable", "cache"))
    assert(cacheRow.getAs[Boolean]("recommend"))
    assert(cacheRow.getAs[Long]("saved_rows") == 200L)
    // churning family: the cache can never hit → routed away…
    val routed = byKey(("result_cache", "churn", "route_to_view"))
    assert(!routed.getAs[Boolean]("recommend"))
    assert(routed.getAs[String]("detail") == "pins_moved")
    // …and the actionable recommendation is the maintained txn view of
    // the head-pinned run: 201 head rows − 5 distinct keys
    val view = byKey(("view", "churn", "materialize_txn"))
    assert(view.getAs[Boolean]("recommend"))
    assert(view.getAs[String]("detail") == "g|v")
    assert(view.getAs[Long]("saved_rows") == 196L)
    // pos is a permutation ranking recommend-first, price-descending
    val ordered = rep.sortBy(_.getAs[Long]("pos"))
    assert(ordered.map(_.getAs[Long]("pos")).toSeq ==
      (1L to rep.length.toLong))
    val ranked = ordered.map(r =>
      (r.getAs[Boolean]("recommend"), r.getAs[Long]("saved_rows")))
    assert(ranked.sliding(2).forall {
      case Array((r1, s1), (r2, s2)) => r1 > r2 || (r1 == r2 && s1 >= s2)
      case _ => true
    })
  }

  test("an all-NULL filtered column (ndv 0) prices to zero instead of crashing") {
    val p = s"$root/nullcol.parquet"
    (0L until 100L).map(i => (Option.empty[String], i)).toDF("c", "x")
      .write.mode("overwrite").parquet(p)
    def nq() = spark.read.parquet(p).filter(col("c") === "z").select("x")
    val rep = WorkloadAdvisor.report(spark, Seq(nq()),
      exactNdv = true).collect()
    val lay = rep.filter(_.getAs[String]("family") == "layout")
    assert(lay.length == 1)
    // ndv 0 → the divisor floors to 1 → rows − rows/1 = 0 saved: the
    // degenerate column is reported worthless, and the report survives
    assert(lay.head.getAs[Long]("saved_rows") == 0L)
  }

  test("churn no view family can express is flagged no_view, not silently dropped") {
    val t = s"$root/churn_dbl"
    TxnTable.commit(spark,
      (1L to 50L).map(i => (s"g${i % 4}", i.toDouble)).toDF("g", "v"), t,
      overwrite = false)
    // avg of a DOUBLE: every MV-family advisor declines the shape
    def q() = TxnTable.read(spark, t).groupBy("g").agg(avg("v").as("av"))
    val a = q()
    TxnTable.commit(spark, Seq(("g9", 9.0)).toDF("g", "v"), t,
      overwrite = false)
    val b = q()
    val rep = WorkloadAdvisor.report(spark, Seq(a, b)).collect()
    val routed = rep.filter(r => r.getAs[String]("family") == "result_cache" &&
      r.getAs[String]("target") == "churn_dbl")
    assert(routed.length == 1)
    assert(routed.head.getAs[String]("action") == "route_to_view")
    // the handshake's promise fails here — the report says so
    assert(routed.head.getAs[String]("detail") == "pins_moved,no_view")
    assert(!rep.exists(r => r.getAs[String]("family") == "view" &&
      r.getAs[String]("target") == "churn_dbl"))
  }

  test("a GROUP BY lattice over one snapshot emits cache_lattice; no-subsumer doesn't") {
    val t = s"$root/lat_t"
    TxnTable.commit(spark,
      (1L to 80L).map(i => (s"a${i % 4}", s"b${i % 5}", i)).toDF("ka", "kb", "m"),
      t, overwrite = false)
    def base() = TxnTable.read(spark, t)
    val broad = base().groupBy("ka", "kb")
      .agg(sum("m").as("sm"), count(lit(1)).as("n"))
    val nar1 = base().groupBy("ka").agg(sum("m").as("sm"))
    val nar2 = base().agg(count(lit(1)).as("n"))
    val rep = WorkloadAdvisor.report(spark, Seq(broad, nar1, nar2)).collect()
    val lat = rep.filter(_.getAs[String]("action") == "cache_lattice")
    assert(lat.length == 1)
    val r = lat.head
    assert(r.getAs[String]("target") == "lat_t")
    assert(r.getAs[String]("detail") == "broad=ka+kb,served=2")
    assert(r.getAs[Long]("weight") == 3L)
    // each narrower shape's scan is skipped: 2 × 80 pinned rows
    assert(r.getAs[Long]("saved_rows") == 160L)
    assert(r.getAs[Boolean]("recommend"))
    // shapes with no common broadest (disjoint measures) emit nothing
    val m1 = base().groupBy("ka").agg(sum("m").as("sm"))
    val m2 = base().groupBy("ka").agg(min("m").as("mn"))
    val rep2 = WorkloadAdvisor.report(spark, Seq(m1, m2)).collect()
    assert(!rep2.exists(_.getAs[String]("action") == "cache_lattice"))
  }

  test("txn tables contribute scan-free compaction and vacuum health rows") {
    val t = s"$root/health_t"
    TxnTable.commit(spark,
      (1L to 600L).map(i => (i, i % 7)).toDF("k", "v").repartition(6), t,
      overwrite = false)
    TxnTable.commit(spark,
      (1L to 100L).map(i => (i, i % 7)).toDF("k", "v").repartition(4), t,
      overwrite = true)
    val rep = WorkloadAdvisor.report(spark, Nil, txnTables = Seq(t),
      targetRowsPerFile = 1000L).collect()
    val comp = rep.filter(_.getAs[String]("action") == "compact_txn")
    assert(comp.length == 1)
    assert(comp.head.getAs[String]("target") == "health_t")
    assert(comp.head.getAs[String]("detail") == "files=4,avg_rows=25")
    assert(comp.head.getAs[Boolean]("recommend")) // 25 < 500
    val vac = rep.filter(_.getAs[String]("action") == "vacuum")
    assert(vac.length == 1)
    // retain head only: v1's 6 files (600 rows) are reclaimable debt
    assert(vac.head.getAs[String]("detail") == "retain_from=2,reclaim_files=6")
    assert(vac.head.getAs[Long]("saved_rows") == 600L)
    assert(vac.head.getAs[Boolean]("recommend")) // 600·2 ≥ 100
  }

  test("layout conflicts surface as one row with priced alternatives") {
    val p = s"$root/base.parquet"
    (0L until 1000L).map(i => (i % 10, i)).toDF("c", "x")
      .write.mode("overwrite").parquet(p)
    def lq() = spark.read.parquet(p)
      .filter(col("c") === 3L && col("c") >= 1L).select("x")
    val rep = WorkloadAdvisor.report(spark, Seq(lq())).collect()
    val lay = rep.filter(_.getAs[String]("family") == "layout")
    assert(lay.length == 1)
    val r = lay.head
    // eq + range at ndv 10: partition wins (2 uses × 900 pruned rows);
    // the losing-but-admissible actions ride along, each priced
    assert(r.getAs[String]("action") == "partition")
    assert(r.getAs[Long]("saved_rows") == 1800L)
    assert(r.getAs[String]("detail") ==
      "eq=1,range=1,join=0,ndv=10,alt=zorder:900/bloom:900")
  }

  test("constraint advice closes its loop: declare the recommendation, the join dies") {
    val fact = s"$root/cns_fact"
    val dim = s"$root/cns_dim"
    TxnTable.commit(spark,
      (1L to 300L).map(i => (i % 50 + 1, s"g${i % 3}")).toDF("fk", "g"), fact,
      overwrite = false)
    TxnTable.commit(spark,
      (1L to 50L).map(i => (i, s"n$i")).toDF("k", "nm"), dim,
      overwrite = false)
    def wl = Seq(
      TxnTable.read(spark, fact)
        .join(TxnTable.read(spark, dim), $"fk" === $"k")
        .groupBy("g").agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n")))
    val before = WorkloadAdvisor.report(spark, wl)
      .filter($"family" === "constraint").collect()
    assert(before.map(r => (r.getAs[String]("action"),
        r.getAs[Boolean]("recommend"))).toSet ==
      Set(("declare_unique", true), ("declare_fk", true),
        ("declare_notnull", true)))
    // unique/fk priced at occurrences × (dim rows + fact rows); the
    // NOT NULL rider at the fact rows its empty anti-join never scans
    assert(before.forall(r => r.getAs[Long]("saved_rows") ==
      (if (r.getAs[String]("action") == "declare_notnull") 300L else 350L)))
    // act on the advice — the workload's join disappears and the
    // advisor has nothing left to say
    graft.sources.TableConstraints.declareUnique(dim, Seq("k"),
      validate = Some(spark))
    graft.sources.TableConstraints.declareForeignKey(fact, Seq("fk"),
      dim, Seq("k"), validate = Some(spark))
    val plan = wl.head.queryExecution.executedPlan.toString()
    assert(!plan.contains("cns_dim"), plan.take(2000))
    assert(WorkloadAdvisor.report(spark, wl)
      .filter($"family" === "constraint").isEmpty)
  }

  test("sampled probes still refuse a false candidate; screened truths recommend") {
    val fact = s"$root/smp_fact"
    val dimDup = s"$root/smp_dimdup"   // every row the SAME key
    val dimOk = s"$root/smp_dimok"
    TxnTable.commit(spark,
      (1L to 200L).map(i => (7L, i)).toDF("fk", "m"), fact,
      overwrite = false)
    TxnTable.commit(spark,
      (1L to 300L).map(_ => (7L, "x")).toDF("k", "nm"), dimDup,
      overwrite = false)
    TxnTable.commit(spark,
      (1L to 50L).map(i => (i, s"n$i")).toDF("ko", "nmo"), dimOk,
      overwrite = false)
    def wl = Seq(
      TxnTable.read(spark, fact)
        .join(TxnTable.read(spark, dimDup), $"fk" === $"k", "left")
        .select("m"),
      TxnTable.read(spark, fact)
        .join(TxnTable.read(spark, dimOk), $"fk" === $"ko", "left")
        .select("m"))
    // a TINY sample must still catch the constant-key duplicate — any
    // two sampled rows collide — while the clean dim screens true
    val rows = WorkloadAdvisor.report(spark, wl, sampledProbes = true,
        sampleRows = 10)
      .filter($"family" === "constraint" && $"action" === "declare_unique")
      .collect()
      .map(r => (r.getAs[String]("target"), r.getAs[Boolean]("recommend"),
        r.getAs[String]("detail"))).toSet
    assert(rows == Set(
      ("smp_dimdup.k", false, "not_unique_in_data"),
      ("smp_dimok.ko", true, "joins=1")), rows.toString)
  }

  test("a fresh NDV sketch refutes a duplicate dim key from metadata") {
    val fact = s"$root/ndvref_fact"
    val dim = s"$root/ndvref_dim"
    TxnTable.commit(spark,
      (1L to 200L).map(i => (i % 40 + 1, i)).toDF("fk", "m"), fact,
      overwrite = false)
    // 300 rows over ~40 keys: NOT unique, and the sketch knows it
    TxnTable.commit(spark,
      (1L to 300L).map(i => (i % 40 + 1, s"n$i")).toDF("k", "nm"), dim,
      overwrite = false)
    graft.sources.TxnStats.refreshNdv(spark, dim, Seq("k"))
    // def, not val: a val frame pins the pre-overwrite snapshot and the
    // head-snapshot gate would (rightly) refuse the stale scan below
    def wl = Seq(
      TxnTable.read(spark, fact)
        .join(TxnTable.read(spark, dim), $"fk" === $"k", "left")
        .select("m"))
    val rows = WorkloadAdvisor.report(spark, wl)
      .filter($"family" === "constraint" && $"action" === "declare_unique")
      .collect()
    assert(rows.length == 1)
    assert(!rows.head.getAs[Boolean]("recommend"),
      "sketch-refuted key must not be recommended")
    assert(rows.head.getAs[String]("detail") == "not_unique_in_data")
    // stale sketches never refute: an overwrite that MAKES the key
    // unique invalidates the old sketch's completeness/version, so the
    // exact probe runs and recommends
    TxnTable.commit(spark,
      (1L to 40L).map(k => (k, s"n$k")).toDF("k", "nm"), dim,
      overwrite = true)
    val after = WorkloadAdvisor.report(spark, wl)
      .filter($"family" === "constraint" && $"action" === "declare_unique")
      .collect()
    assert(after.length == 1 && after.head.getAs[Boolean]("recommend"),
      "post-overwrite uniqueness must be probed exactly, not stale-refuted")
  }

  test("eager-agg advice prices the reorder and names the missing declaration") {
    val fact = s"$root/eg_fact"
    val dim = s"$root/eg_dim"         // declared unique
    val dimU = s"$root/eg_dimu"       // unique in data, undeclared
    TxnTable.commit(spark,
      (1L to 400L).map(i => (i % 10 + 1, i)).toDF("fk", "m"), fact,
      overwrite = false)
    TxnTable.commit(spark,
      (1L to 10L).map(k => (k, s"s${k % 2}")).toDF("k", "seg"), dim,
      overwrite = false)
    TxnTable.commit(spark,
      (1L to 10L).map(k => (k, s"t${k % 2}")).toDF("ku", "segu"), dimU,
      overwrite = false)
    graft.sources.TableConstraints.declareUnique(dim, Seq("k"),
      validate = Some(spark))
    def f = TxnTable.read(spark, fact)
    val wl = Seq(
      f.join(TxnTable.read(spark, dim), $"fk" === $"k")
        .groupBy("seg").agg(org.apache.spark.sql.functions.sum("m").as("sm")),
      f.join(TxnTable.read(spark, dimU), $"fk" === $"ku")
        .groupBy("segu").agg(org.apache.spark.sql.functions.sum("m").as("sm")))
    val rows = WorkloadAdvisor.report(spark, wl, exactNdv = true)
      .filter($"family" === "plan").collect()
      .map(r => (r.getAs[String]("target"), r.getAs[String]("detail"),
        r.getAs[Long]("saved_rows"), r.getAs[Boolean]("recommend"))).toSet
    // 400 rows compress to 10 partials: 40× ≥ the 8× bar → recommend;
    // the undeclared dim names its prerequisite but prices identically
    assert(rows == Set(
      ("eg_fact:eg_dim", "keys=fk,ndv=10,rows=400", 390L, true),
      ("eg_fact:eg_dimu", "declare_unique_first,keys=fk,ndv=10,rows=400",
        390L, true)), rows.toString)
    // a non-compressing key space keeps the row but recommends against
    // (a reference-free COUNT(*) makes BOTH orientations candidates —
    // filter to the fact-side one)
    val wide = WorkloadAdvisor.report(spark, Seq(
        f.join(TxnTable.read(spark, dim), $"m" === $"k")
          .groupBy("seg").agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"))),
      exactNdv = true)
      .filter($"family" === "plan" && $"target" === "eg_fact:eg_dim").collect()
    assert(wide.length == 1 && !wide.head.getAs[Boolean]("recommend") &&
      wide.head.getAs[Long]("saved_rows") == 0L)
  }

  test("sidecar-less equi-join columns advise refresh_stats; building the sidecar retires the row") {
    import spark.implicits._
    val fact = s"$root/stats_fact"; val dim = s"$root/stats_dim"
    Seq(fact, dim).foreach(p => FileUtils.deleteQuietly(new File(p)))
    TxnTable.commit(spark,
      (1L to 300L).map(i => (i, i % 50)).toDF("k", "g").repartition(3),
      fact, overwrite = false)
    TxnTable.commit(spark,
      (1L to 50L).map(i => (i, s"t$i")).toDF("dk", "tag"), dim,
      overwrite = false)
    def j() = TxnTable.read(spark, fact)
      .join(TxnTable.read(spark, dim), $"k" === $"dk")
    val st = WorkloadAdvisor.report(spark, Seq(j(), j())).collect()
      .filter(_.getAs[String]("family") == "stats")
    // BOTH sidecar-less join columns advise, each priced at
    // uses × (rows − rows/files)
    assert(st.map(r => (r.getAs[String]("target"),
      r.getAs[String]("action"))).toSet ==
      Set(("stats_fact.k", "refresh_stats"), ("stats_dim.dk", "refresh_stats")),
      st.mkString(";"))
    val fk = st.find(_.getAs[String]("target") == "stats_fact.k").get
    assert(fk.getAs[Long]("weight") == 2L)
    assert(fk.getAs[String]("detail") == "joins=2,files=3")
    assert(fk.getAs[Long]("saved_rows") == 2L * (300L - 300L / 3L))
    assert(fk.getAs[Boolean]("recommend"))
    // closed loop: the refresh the row names retires the row — the
    // auto-prune (AutoFilePrune) serves the same join from then on
    graft.sources.TxnStats.refresh(spark, fact, "k")
    val rep2 = WorkloadAdvisor.report(spark, Seq(j())).collect()
    assert(!rep2.exists(r => r.getAs[String]("family") == "stats" &&
      r.getAs[String]("target") == "stats_fact.k"))
    assert(rep2.exists(r => r.getAs[String]("family") == "stats" &&
      r.getAs[String]("target") == "stats_dim.dk"),
      "the still-unindexed dim column keeps its advice")
    // a FLOAT join column refuses with the workaround named, priced 0
    val ffact = s"$root/stats_ffact"
    FileUtils.deleteQuietly(new File(ffact))
    TxnTable.commit(spark,
      (1L to 60L).map(i => (i.toDouble, i)).toDF("fk", "v"), ffact,
      overwrite = false)
    val fdimDir = s"$root/stats_fdim"
    (1L to 10L).map(_.toDouble).toDF("fdk")
      .write.mode("overwrite").parquet(fdimDir)
    val fr = WorkloadAdvisor.report(spark, Seq(
        TxnTable.read(spark, ffact).join(spark.read.parquet(fdimDir),
          $"fk" === $"fdk"))).collect()
      .filter(r => r.getAs[String]("family") == "stats" &&
        r.getAs[String]("target") == "stats_ffact.fk")
    assert(fr.length == 1, fr.mkString(";"))
    assert(!fr.head.getAs[Boolean]("recommend") &&
      fr.head.getAs[Long]("saved_rows") == 0L)
    assert(fr.head.getAs[String]("detail")
      .startsWith("type_unsupported=double"), fr.head.toString)
  }
}
