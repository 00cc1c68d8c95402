package graft.plans

import java.io.File

import graft.{SparkSpec, Trace}
import graft.sources.{TxnStats, TxnTable}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Behavior specs for auto-injected dynamic file pruning: a PLAIN
  * `TxnTable.read(fact).join(dim)` opens strictly fewer files than the
  * live set with results identical to the unpruned join, outer joins
  * prune only the null-extending side, and every gate declines — kill
  * switch, dim size budget, non-deterministic dim, non-txn scans,
  * blocked walks (Aggregate between join and scan). */
class AutoFilePruneSpec extends SparkSpec {

  import spark.implicits._
  import AutoFilePrune.filesScanned

  private val root = "/root/repo/target/tmp/spec_autodfp"
  private val factT = s"$root/fact"

  // fact: 4 quartile files over k ∈ [0, 400); dim keys hit files 0/2/3
  // (nothing in [100, 200) — the exact-key gap prune under test)
  override def beforeAll(): Unit = {
    super.beforeAll()
    FileUtils.deleteQuietly(new File(root))
    val fact = spark.range(0, 400).select(col("id").as("k"),
      (col("id") * 7L).as("v"))
    Seq(col("k") < 100, col("k") >= 100 && col("k") < 200,
      col("k") >= 200 && col("k") < 300, col("k") >= 300).foreach(p =>
      TxnTable.commit(spark, fact.filter(p).coalesce(1), factT,
        overwrite = false))
    TxnStats.refresh(spark, factT, "k")
  }

  private val dimRows = Seq((5L, "a"), (250L, "b"), (399L, "c"))
  private def dim = dimRows.toDF("dk", "tag")

  test("plain inner join: 3 of 4 files open, result identical to unpruned") {
    def q = TxnTable.read(spark, factT).join(dim, col("k") === col("dk"))
    val expected = unpruned { q.collect().toSet }
    assert(unpruned { filesScanned(q, factT) } == 4)
    val pruned = q
    assert(filesScanned(pruned, factT) == 3, pruned.queryExecution.optimizedPlan)
    assert(pruned.collect().toSet == expected)
    assert(expected.size == 3)
  }

  test("filters and projections between join and scan don't block the prune") {
    def q = TxnTable.read(spark, factT)
      .filter(col("v") % 2 === 0)
      .select(col("k"), (col("v") + 1).as("v1"))
      .join(dim.filter(col("tag") =!= "zzz"), col("k") === col("dk"))
    assert(filesScanned(q, factT) == 3)
    assert(q.collect().toSet == unpruned { q.collect().toSet })
  }

  test("left outer: fact as null-extending side prunes, fact preserved does not") {
    val probe = Seq(5L, 250L, 399L, -1L).toDF("dk")
    def extending = probe.join(TxnTable.read(spark, factT),
      col("dk") === col("k"), "left")
    assert(filesScanned(extending, factT) == 3)
    val rows = extending.collect()
    assert(rows.length == 4 && rows.count(_.isNullAt(1)) == 1,
      "null-extended probe row must survive the prune")
    assert(rows.toSet == unpruned { extending.collect().toSet })
    // fact PRESERVED (left of a left join): every fact row must
    // surface, matched or not — never pruned
    def preserved = TxnTable.read(spark, factT).join(probe,
      col("k") === col("dk"), "left")
    assert(filesScanned(preserved, factT) == 4)
    assert(preserved.count() == 400)
  }

  test("left anti and semi prune the sound sides") {
    def anti = TxnTable.read(spark, factT).join(dim,
      col("k") === col("dk"), "left_anti")
    // fact is the preserved output of an anti join — right side is the
    // prunable one, but it's a LocalRelation; fact must stay 4 files
    assert(filesScanned(anti, factT) == 4)
    assert(anti.count() == 397)
    def semi = TxnTable.read(spark, factT).join(dim,
      col("k") === col("dk"), "left_semi")
    assert(filesScanned(semi, factT) == 3)
    assert(semi.collect().map(_.getLong(0)).toSet == Set(5L, 250L, 399L))
  }

  test("dim with no joinable key: scan collapses to one provably-dead file") {
    // a provably-EMPTY dim never reaches the rule: Spark's own
    // PropagateEmptyRelation folds the whole join first (factFiles 0)
    val noKeys = Seq.empty[Long].toDF("dk")
    def q = TxnTable.read(spark, factT).join(noKeys, col("k") === col("dk"))
    assert(filesScanned(q, factT) == 0)
    assert(q.count() == 0)
    // an all-NULL parquet dim (Catalyst can't fold a file scan): the
    // rule measures zero joinable keys → the scan keeps ONE provably
    // unjoinable file so the plan shape survives while nothing matches
    val nullDir = s"$root/nulldim"
    Seq(Option.empty[Long], Option.empty[Long]).toDF("dk")
      .coalesce(1).write.mode("overwrite").parquet(nullDir)
    def qn = TxnTable.read(spark, factT)
      .join(spark.read.parquet(nullDir), col("k") === col("dk"))
    assert(filesScanned(qn, factT) == 1)
    assert(qn.count() == 0)
  }

  test("gates decline: kill switch, dim budget, non-determinism, non-txn scan, blocked walk") {
    def q = TxnTable.read(spark, factT).join(dim, col("k") === col("dk"))
    unpruned { assert(filesScanned(q, factT) == 4) }
    spark.conf.set("spark.graft.autoDfp.maxDimBytes", "1")
    try assert(filesScanned(q, factT) == 4, "over-budget dim must decline")
    finally spark.conf.unset("spark.graft.autoDfp.maxDimBytes")
    assert(filesScanned(q, factT) == 3, "and prune again once the budget is back")

    // a non-deterministic FILTER below the join (it cannot move): the
    // plan-time key set could disagree with the runtime rows → decline.
    // Two Catalyst traps the scenario must dodge: over a LocalRelation
    // the optimizer evaluates even a rand() filter eagerly
    // (ConvertToLocalRelation) → dim must be parquet-backed; and an
    // always-true comparison (rand() < 2.0) folds away entirely →
    // the threshold must be < 1. The assertion is plan-level, so the
    // filter's random runtime outcome never matters.
    val dimDir = s"$root/dimp"
    dim.coalesce(1).write.mode("overwrite").parquet(dimDir)
    val pdim = spark.read.parquet(dimDir)
    def qr = TxnTable.read(spark, factT).join(pdim.filter(rand() < 0.999999),
      col("k") === col("dk"))
    assert(filesScanned(qr, factT) == 4, "non-deterministic dim filter must decline")
    def qs = TxnTable.read(spark, factT).join(pdim.sample(0.999999),
      col("k") === col("dk"))
    assert(filesScanned(qs, factT) == 4, "sampled dim must decline")
    // a non-deterministic COLUMN beside the key: whether Catalyst
    // hoists it above the join (prunable) or not (declined) the
    // result must match — pin correctness, not the plan
    def qc = TxnTable.read(spark, factT).join(pdim.withColumn("r", rand()),
      col("k") === col("dk"))
    assert(filesScanned(qc, factT) <= 4 &&
      qc.select("k", "dk", "tag").collect().toSet ==
        unpruned { qc.select("k", "dk", "tag").collect().toSet })

    // a plain (non-txn) parquet dir never prunes — no sidecar, no root
    val plainDir = s"$root/plain"
    TxnTable.read(spark, factT).write.mode("overwrite").parquet(plainDir)
    def qp = spark.read.parquet(plainDir).join(dim, col("k") === col("dk"))
    assert(filesScanned(qp, plainDir) ==
      spark.read.parquet(plainDir).inputFiles.length)

    // an Aggregate between the join and the scan blocks the walk —
    // pruning under it could change the aggregated values
    def qa = TxnTable.read(spark, factT).groupBy("k")
      .agg(sum("v").as("sv")).join(dim, col("k") === col("dk"))
    assert(filesScanned(qa, factT) == 4)
    assert(qa.count() == 3)
  }

  test("full outer and no-equality joins never prune") {
    def fo = TxnTable.read(spark, factT).join(dim,
      col("k") === col("dk"), "full_outer")
    assert(filesScanned(fo, factT) == 4)
    assert(fo.count() == 400 + 0) // every dim key matches a fact row
    def rng = TxnTable.read(spark, factT).join(dim,
      col("k") < col("dk"))
    assert(filesScanned(rng, factT) == 4)
  }

  test("SQL surface: a plain spark.sql star over a txn view prunes identically") {
    TxnTable.read(spark, factT).createOrReplaceTempView("autodfp_fact")
    dim.createOrReplaceTempView("autodfp_dim")
    def q = spark.sql(
      """SELECT f.k, f.v, d.tag FROM autodfp_fact f
        |JOIN autodfp_dim d ON f.k = d.dk""".stripMargin)
    assert(filesScanned(q, factT) == 3, q.queryExecution.optimizedPlan)
    assert(q.collect().toSet == unpruned { q.collect().toSet })
    // and through a derived VIEW with a filter — the walk descends the
    // SubqueryAlias/Project/Filter stack SQL planning builds
    spark.sql("SELECT k, v FROM autodfp_fact WHERE v >= 0")
      .createOrReplaceTempView("autodfp_fact_view")
    def qv = spark.sql(
      """SELECT f.k FROM autodfp_fact_view f
        |JOIN autodfp_dim d ON f.k = d.dk""".stripMargin)
    assert(filesScanned(qv, factT) == 3)
    assert(qv.count() == 3)
  }

  // a second fact clustered on BOTH (a, b): a 2×2 grid of files, stats
  // on a and b (not v). id 50 → (a=50, b=350) lives in the
  // (a<200, b>=200) cell only; a prune on a alone or b alone keeps its
  // half (2 files, values interleave inside the half)
  private lazy val gridT: String = {
    val t = s"$root/grid"
    FileUtils.deleteQuietly(new File(t))
    val g = spark.range(0, 400).select(col("id").as("a"),
      (col("id") * 7 % 400).as("b"), col("id").as("v"))
    Seq(col("a") < 200 && col("b") >= 200, col("a") < 200 && col("b") < 200,
      col("a") >= 200 && col("b") >= 200, col("a") >= 200 && col("b") < 200)
      .foreach(p => TxnTable.commit(spark, g.filter(p).coalesce(1), t,
        overwrite = false))
    TxnStats.refresh(spark, t, "a")
    TxnStats.refresh(spark, t, "b")
    t
  }

  test("conjunctive two-column keys compose: the auto form of multi-column DFP") {
    // the dim pins one (a-half, b-half) cell per conjunct — each
    // equality prunes its own column and the SAME scan narrows twice
    // (the per-column tag admits the second measurement), landing on
    // the one shared cell: strictly fewer files than either alone
    val d2 = Seq((50L, 350L)).toDF("da", "db")
    def q = TxnTable.read(spark, gridT).join(d2,
      col("a") === col("da") && col("b") === col("db"))
    assert(filesScanned(q, gridT) == 1, q.queryExecution.optimizedPlan)
    assert(q.select("v").collect().map(_.getLong(0)).toSeq == Seq(50L))
    // one indexed + one UNINDEXED column: only the indexed conjunct
    // prunes (2 of 4), the unindexed one declines — never blind-skips
    val d3 = Seq((50L, 999L)).toDF("da", "dv")
    def qu = TxnTable.read(spark, gridT).join(d3,
      col("a") === col("da") && col("v") === col("dv"))
    assert(filesScanned(qu, gridT) == 2, qu.queryExecution.optimizedPlan)
    assert(qu.count() == 0)
  }

  test("stacked star: two dims joined one after the other intersect their prunes") {
    // fact ⋈ dimA ⋈ dimB: the outer join's walk descends through the
    // inner join to the scan the inner join already pruned on a, and
    // prunes it again on b — the two-dim star lands on the one cell
    // both dims can reach
    val dimA = Seq(50L).toDF("da")
    val dimB = Seq(350L).toDF("db")
    def byA = TxnTable.read(spark, gridT).join(dimA, col("a") === col("da"))
    def byB = TxnTable.read(spark, gridT).join(dimB, col("b") === col("db"))
    def star = byA.join(dimB, col("b") === col("db"))
    assert(filesScanned(byA, gridT) == 2)
    assert(filesScanned(byB, gridT) == 2)
    assert(filesScanned(star, gridT) == 1, star.queryExecution.optimizedPlan)
    assert(star.select("v").collect().map(_.getLong(0)).toSeq == Seq(50L))
    assert(star.collect().toSet == unpruned { star.collect().toSet })
  }

  test("every decision on a txn scan is counted: pruned, or declined with its gate") {
    // the dfp.* outcome counters one optimization of `df` records
    def outcomes(df: DataFrame): Map[String, Long] =
      Trace.record(spark)(df.queryExecution.optimizedPlan)._2.rows
        .flatMap(_.counts).filter(_._1.startsWith("dfp.")).filterNot(
          _._1.startsWith("dfp.skipCache")).groupMapReduce(_._1)(_._2)(_ + _)
    def fact = TxnTable.read(spark, factT)
    assert(outcomes(fact.join(dim, col("k") === col("dk"))) ==
      Map("dfp.pruned" -> 1L))
    assert(outcomes(fact.join(dim, col("v") === col("dk"))) ==
      Map("dfp.declined.unindexed" -> 1L))
    assert(outcomes(fact.join(Seq(5L, 150L, 250L, 399L).toDF("dk"),
      col("k") === col("dk"))) == Map("dfp.declined.nothingSkippable" -> 1L))
    spark.conf.set("spark.graft.autoDfp.maxDimBytes", "1")
    try assert(outcomes(fact.join(dim, col("k") === col("dk"))) ==
      Map("dfp.declined.dimBytes" -> 1L))
    finally spark.conf.unset("spark.graft.autoDfp.maxDimBytes")
    val dimDir = s"$root/dimcount"
    dim.coalesce(1).write.mode("overwrite").parquet(dimDir)
    assert(outcomes(fact.join(spark.read.parquet(dimDir).sample(0.999999),
      col("k") === col("dk"))) == Map("dfp.declined.nondeterministic" -> 1L))
    val oneT = s"$root/onefile"
    FileUtils.deleteQuietly(new File(oneT))
    TxnTable.commit(spark, spark.range(0, 10).select(col("id").as("k"))
      .coalesce(1), oneT, overwrite = false)
    TxnStats.refresh(spark, oneT, "k")
    assert(outcomes(TxnTable.read(spark, oneT).join(dim,
      col("k") === col("dk"))) == Map("dfp.declined.fewFiles" -> 1L))
    // a plain parquet scan is no txn scan: nothing to count
    assert(outcomes(spark.read.parquet(dimDir).join(dim.select(
      col("dk").as("x")), col("dk") === col("x"))) == Map.empty)
  }

  test("mixed-width integral keys: the analyzer's widening cast doesn't block the prune") {
    val intT = s"$root/intfact"
    FileUtils.deleteQuietly(new File(intT))
    val f = spark.range(0, 400).select(col("id").cast("int").as("ik"),
      (col("id") * 7L).as("v"))
    Seq(col("ik") < 100, col("ik") >= 100 && col("ik") < 200,
      col("ik") >= 200 && col("ik") < 300, col("ik") >= 300).foreach(p =>
      TxnTable.commit(spark, f.filter(p).coalesce(1), intT,
        overwrite = false))
    TxnStats.refresh(spark, intT, "ik")
    // LONG dim keys against the INT fact column: Catalyst reconciles
    // with cast(ik AS BIGINT) — widening, monotone, prunable
    val dimL = Seq(5L, 250L, 399L).toDF("dk")
    def q = TxnTable.read(spark, intT).join(dimL, col("ik") === col("dk"))
    assert(filesScanned(q, intT) == 3, q.queryExecution.optimizedPlan)
    assert(q.collect().toSet == unpruned { q.collect().toSet })
    // a user-written NARROWING cast truncates — raw bounds cannot
    // decide post-cast equality, so it must decline
    def qn = TxnTable.read(spark, factT).join(dimL,
      col("k").cast("int") === col("dk").cast("int"))
    assert(filesScanned(qn, factT) == 4, qn.queryExecution.optimizedPlan)
  }

  test("micro-batch bodies decline: foreachBatch joins never pay plan-time dim evaluation") {
    // foreachBatch REPLANS per batch — paying the dim evaluation once
    // per batch against a batch-sized delta is the one regime where
    // plan-time pruning costs more than it saves (measured 3.5× on the
    // streaming bench family). The rule declines by thread; the same
    // join planned on the caller thread afterwards still prunes.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Long]
    @volatile var inBatch = -1
    val q = ms.toDF().writeStream.foreachBatch {
      (_: DataFrame, _: Long) =>
        inBatch = filesScanned(
          TxnTable.read(spark, factT).join(dim, col("k") === col("dk")), factT)
    }.start()
    try { ms.addData(1L); q.processAllAvailable() } finally q.stop()
    assert(inBatch == 4,
      s"a micro-batch body must keep the full scan, opened $inBatch")
    assert(filesScanned(TxnTable.read(spark, factT)
      .join(dim, col("k") === col("dk")), factT) == 3,
      "the same join on the caller thread still prunes")
  }

  test("skip cache: two actions of one query hit; a dim snapshot change misses and reprunes") {
    // the dim is a txn-backed parquet scan — an immutable-leaf plan the
    // cache may key on (LocalRelation dims in the other specs cover the
    // simplest immutable case)
    val dimT = s"$root/dimtxn"
    FileUtils.deleteQuietly(new File(dimT))
    TxnTable.commit(spark, Seq((5L, "a"), (250L, "b"), (399L, "c"))
      .toDF("dk", "tag").coalesce(1), dimT, overwrite = false)
    val q = TxnTable.read(spark, factT).join(TxnTable.read(spark, dimT),
      col("k") === col("dk"))
    val (hit, miss) = ("dfp.skipCache.hit", "dfp.skipCache.miss")
    val (rows1, r1) = Trace.record(spark)(q.collect().length)
    assert(rows1 == 3)
    assert(r1.count(miss) >= 1, "first action must evaluate the dim live")
    // SECOND action on the SAME DataFrame: same analyzed tree, same
    // canonicalized dim → every re-optimize hits
    val (rows2, r2) = Trace.record(spark)(q.count())
    assert(rows2 == 3)
    assert(r2.count(hit) > 0, "second action must hit the skip cache")
    assert(r2.count(miss) == 0,
      s"second action must not re-evaluate the dim (${r2.count(miss)} misses)")
    // dim snapshot CHANGES (new key 150 lands in the previously skipped
    // [100,200) file): a fresh read pins a new file index → cache MISS
    // → the prune sees the new key and keeps its file
    TxnTable.commit(spark, Seq((150L, "d")).toDF("dk", "tag").coalesce(1),
      dimT, overwrite = false)
    val q2 = TxnTable.read(spark, factT).join(TxnTable.read(spark, dimT),
      col("k") === col("dk"))
    val (files2, r3) = Trace.record(spark)(filesScanned(q2, factT))
    assert(files2 == 4, "the new dim key must defeat the old skip set")
    assert(r3.count(miss) > 0, "a changed dim snapshot must MISS, never reuse stale keys")
    assert(q2.collect().length == 4)
  }

  test("decline memoization stays sound: a table born after a negative lookup still prunes") {
    // 1) a plain parquet join DECLINES (no txn root) — and the decline
    //    path's root resolution is now memoized
    val plainRoot = s"$root/bornlater"
    FileUtils.deleteQuietly(new File(plainRoot))
    val fact2 = spark.range(0, 400).select(col("id").as("k"),
      (col("id") * 3L).as("v"))
    fact2.filter(col("k") < 200).coalesce(1).write.parquet(s"$plainRoot/data/seed")
    def plainQ = spark.read.parquet(s"$plainRoot/data/seed")
      .join(dim, col("k") === col("dk"))
    assert(filesScanned(plainQ, plainRoot) ==
      spark.read.parquet(s"$plainRoot/data/seed").inputFiles.length)
    // 2) a txn table is BORN under the previously-negative ancestry
    //    (publish invalidates the root cache) — its star must prune
    val bornT = s"$plainRoot/t"
    Seq(col("k") < 100, col("k") >= 100 && col("k") < 200,
      col("k") >= 200 && col("k") < 300, col("k") >= 300).foreach(p =>
      TxnTable.commit(spark, fact2.filter(p).coalesce(1), bornT,
        overwrite = false))
    TxnStats.refresh(spark, bornT, "k")
    def q = TxnTable.read(spark, bornT).join(dim, col("k") === col("dk"))
    assert(filesScanned(q, bornT) == 3,
      "a stale negative root resolution must not hide a newborn table")
    assert(q.collect().toSet == unpruned { q.collect().toSet })
    // 3) sidecar metadata memoization: a SECOND stats column refreshed
    //    after the first lookups must be seen (refresh invalidates)
    TxnStats.refresh(spark, bornT, "v")
    val dv = Seq(15L).toDF("dv") // v = 3k hits only the k<100 file
    def qv = TxnTable.read(spark, bornT).join(dv, col("v") === col("dv"))
    assert(filesScanned(qv, bornT) == 1,
      "a sidecar refreshed after a cached column listing must be seen")
  }

  test("stream-thread markers: Spark still names the thread AND sets QUERY_ID_KEY") {
    // the decline is gated on two ambient markers; this spec fails
    // LOUDLY on a Spark bump that renames either, instead of silently
    // re-opening the measured 3.5× streaming regression
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamExecution}
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Long]
    @volatile var threadName = ""
    @volatile var qid: String = null
    val q = ms.toDF().writeStream.foreachBatch {
      (_: DataFrame, _: Long) =>
        threadName = Thread.currentThread().getName
        qid = spark.sparkContext.getLocalProperty(StreamExecution.QUERY_ID_KEY)
    }.start()
    try { ms.addData(1L); q.processAllAvailable() } finally q.stop()
    assert(threadName.startsWith("stream execution thread"),
      s"Spark renamed its stream thread ('$threadName') — update " +
        "AutoFilePrune.onStreamThread's name check")
    assert(qid != null,
      "Spark no longer sets QUERY_ID_KEY on the stream thread — update " +
        "AutoFilePrune.onStreamThread's property check")
  }

  test("a star keeping 32+ of 40 files plans with no job but the dim's") {
    val wideT = s"$root/wide"
    // 40 files of 100 contiguous keys each
    TxnTable.commit(spark, spark.range(0, 4000, 1, 40).select(col("id").as("k")),
      wideT, overwrite = false)
    TxnStats.refresh(spark, wideT, "k")
    assert(TxnTable.liveFiles(wideT).size == 40)
    // one key in each of the 35 lowest files: the top 5 provably skip
    val keys = (0 until 35).map(i => i * 100L + 5L).toDF("dk")
    val q = TxnTable.read(spark, wideT).join(keys, col("k") === col("dk"))
    val (_, r) = Trace.record(spark)(q.queryExecution.optimizedPlan)
    assert(r.count("dfp.pruned") == 1, r.tree)
    // the narrowed index reuses the scan's statuses: no listing job
    assert(r.rows.filter(_.jobs > 0)
      .forall(_.path.split('/').contains("plans.dfp")), r.tree)
    assert(filesScanned(q, wideT) == 35)
    assert(q.count() == 35)
  }

  test("range regime: key count past maxExactKeys still range-prunes") {
    spark.conf.set("spark.graft.autoDfp.maxExactKeys", "2")
    try {
      // 3 distinct keys > cap → range regime [5, 399] overlaps files
      // 0/2/3 AND file 1 ([100,200)) — range alone cannot gap-prune,
      // so all 4 stay: the regime switch is the behavior under test
      def q = TxnTable.read(spark, factT).join(dim, col("k") === col("dk"))
      assert(filesScanned(q, factT) == 4)
      // a CONTIGUOUS low dim range-prunes to the one covering file
      val lowDim = Seq(1L, 2L, 3L).toDF("dk")
      def ql = TxnTable.read(spark, factT).join(lowDim, col("k") === col("dk"))
      assert(filesScanned(ql, factT) == 1)
      assert(ql.count() == 3)
    } finally spark.conf.unset("spark.graft.autoDfp.maxExactKeys")
  }
}
