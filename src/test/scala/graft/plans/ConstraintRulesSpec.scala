package graft.plans

import java.io.File

import graft.SparkSpec
import graft.sources.{TableConstraints, TxnTable}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Behavior specs for the constraint-driven rewrites: join elimination
  * (inner via FK, outer via uniqueness alone), dedup/distinct/group-by
  * elimination on declared-unique keys, and every soundness gate
  * refusing — non-RELY declarations, referenced dim columns, real
  * dim-side filters, missing FKs, extra join conjuncts, null-safe
  * equality, stale txn snapshots, fanning joins under a dedup. */
class ConstraintRulesSpec extends SparkSpec {

  import spark.implicits._

  private val root = "/root/repo/target/tmp/spec_constraints_rules"
  private val factT = s"$root/crfact"
  private val dimA = s"$root/crdima"      // unique + FK target (txn)
  private val dimB = s"$root/crdimb"      // unique, PARTIAL keys, no FK (txn)
  private val dimC = s"$root/crdimc"      // plain parquet dir, unique + FK target
  private val dimD = s"$root/crdimd"      // declared rely = false
  private val dimE = s"$root/crdime"      // two-version txn (stale-read gate)
  private val dimF = s"$root/crdimf"      // undeclared

  override def beforeAll(): Unit = {
    super.beforeAll()
    FileUtils.deleteQuietly(new File(root))
    new File(root).mkdirs()

    // fact: pk unique; fk ∈ 1..7 with NULLs every 10th row; m NULL every
    // 5th row (exercises the single-row null semantics of agg-elim)
    val fact = (1L to 100L).map { pk =>
      (pk,
        if (pk % 10 == 0) Option.empty[Long] else Some(pk % 7 + 1),
        s"g${pk % 3}",
        if (pk % 5 == 0) Option.empty[Long] else Some(pk * 3))
    }.toDF("pk", "fk", "grp", "m")
    TxnTable.commit(spark, fact, factT, overwrite = false)

    def dimDf(keys: Seq[Long], kName: String, aName: String) =
      keys.map(k => (k, s"attr$k")).toDF(kName, aName)

    TxnTable.commit(spark, dimDf(1L to 8L, "k", "attr"), dimA, overwrite = false)
    TxnTable.commit(spark, dimDf(Seq(2L, 4L, 6L), "kb", "attrb"), dimB, overwrite = false)
    dimDf(1L to 8L, "kc", "attrc").write.parquet(dimC)
    TxnTable.commit(spark, dimDf(1L to 8L, "kd", "attrd"), dimD, overwrite = false)
    TxnTable.commit(spark, dimDf(1L to 8L, "ke", "attre"), dimE, overwrite = false)
    TxnTable.commit(spark, dimDf(Seq(9L, 10L), "ke", "attre"), dimE, overwrite = false)
    TxnTable.commit(spark, dimDf(1L to 8L, "kf", "attrf"), dimF, overwrite = false)

    TableConstraints.declareUnique(factT, Seq("pk"), validate = Some(spark))
    TableConstraints.declareUnique(dimA, Seq("k"), validate = Some(spark))
    TableConstraints.declareForeignKey(factT, Seq("fk"), dimA, Seq("k"),
      validate = Some(spark))
    TableConstraints.declareUnique(dimB, Seq("kb"), validate = Some(spark))
    TableConstraints.declareUnique(dimC, Seq("kc"), validate = Some(spark))
    TableConstraints.declareForeignKey(factT, Seq("fk"), dimC, Seq("kc"),
      validate = Some(spark))
    TableConstraints.declareUnique(dimD, Seq("kd"), rely = false)
    TableConstraints.declareUnique(dimE, Seq("ke"), validate = Some(spark))
    TableConstraints.declareForeignKey(factT, Seq("fk"), dimE, Seq("ke"),
      validate = Some(spark))
  }

  private def factDf = TxnTable.read(spark, factT)
  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString()
  private def optimized(df: DataFrame) = df.queryExecution.optimizedPlan

  /** Rows with the rule off — the ground truth every rewrite must equal. */
  private def ruleOff[A](body: => A): A = {
    spark.conf.set("spark.graft.constraintRewrite.enabled", "false")
    try body
    finally spark.conf.unset("spark.graft.constraintRewrite.enabled")
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  // ── join elimination ───────────────────────────────────────────────

  test("INNER join to a unique FK-covered dim eliminates; null fact keys stay dropped") {
    def q = factDf.join(TxnTable.read(spark, dimA), $"fk" === $"k")
      .groupBy("grp").agg(sum("m").as("sm"), count(lit(1)).as("n"))
    val p = plan(q)
    assert(!p.contains("crdima"), p.take(3000))
    assert(p.contains("crfact"), p.take(3000))
    // the FK covers only non-null keys: 10 null-fk rows must still drop
    assert(q.agg(sum("n")).head.getLong(0) == 90L)
    assert(rows(q) == ruleOff(rows(q)))
  }

  test("LEFT join to a unique dim eliminates WITHOUT an FK — even a partial dim") {
    // dimB holds only keys {2,4,6}: an inner elimination here would be
    // wrong (and is refused below); the left form preserves fact rows
    def q = factDf.join(TxnTable.read(spark, dimB), $"fk" === $"kb", "left")
      .select("pk", "grp", "m")
    val p = plan(q)
    assert(!p.contains("crdimb"), p.take(3000))
    assert(q.count() == 100L)
    assert(rows(q) == ruleOff(rows(q)))
  }

  test("RIGHT join with the dim on the LEFT eliminates symmetrically") {
    def q = TxnTable.read(spark, dimB)
      .join(factDf, $"kb" === $"fk", "right").select("pk", "grp")
    val p = plan(q)
    assert(!p.contains("crdimb"), p.take(3000))
    assert(rows(q) == ruleOff(rows(q)))
  }

  test("INNER join to a PLAIN parquet dir dim eliminates via its declared FK") {
    def q = factDf.join(spark.read.parquet(dimC), $"fk" === $"kc")
      .groupBy("grp").agg(count(lit(1)).as("n"))
    val p = plan(q)
    assert(!p.contains("crdimc"), p.take(3000))
    assert(rows(q) == ruleOff(rows(q)))
  }

  test("refusals: dim column used / undeclared / rely=false / real dim filter") {
    val dA = TxnTable.read(spark, dimA)
    // dim column in the output → join must stay
    assert(plan(factDf.join(dA, $"fk" === $"k").select("pk", "attr"))
      .contains("crdima"))
    // undeclared dim → stays
    assert(plan(factDf.join(TxnTable.read(spark, dimF), $"fk" === $"kf", "left")
      .select("pk")).contains("crdimf"))
    // rely = false → stays (documentation, not a contract)
    assert(plan(factDf.join(TxnTable.read(spark, dimD), $"fk" === $"kd", "left")
      .select("pk")).contains("crdimd"))
    // a REAL dim-side filter could unmatch fact rows → stays
    assert(plan(factDf.join(dA.filter($"attr" =!= "attr3"), $"fk" === $"k", "left")
      .select("pk")).contains("crdima"))
  }

  test("refusals: inner without FK / extra conjunct / null-safe equality") {
    // unique alone does not license INNER elimination (dimB is partial:
    // the join genuinely drops fact rows)
    val inner = factDf.join(TxnTable.read(spark, dimB), $"fk" === $"kb")
      .select("pk")
    assert(plan(inner).contains("crdimb"))
    assert(ruleOff(inner.count()) < 100L)
    // an equality beyond the declared FK pairs is not guaranteed a match
    assert(plan(factDf.join(TxnTable.read(spark, dimA),
        $"fk" === $"k" && $"grp" === $"attr").select("pk"))
      .contains("crdima"))
    // <=> matches null keys — different elimination math, refused
    assert(plan(factDf.join(TxnTable.read(spark, dimA), $"fk" <=> $"k", "left")
      .select("pk")).contains("crdima"))
  }

  test("EXISTS/NOT-EXISTS under the FK become filters — no dim scan at all") {
    val dA = TxnTable.read(spark, dimA)
    // semi join (EXISTS): kept rows = non-null-fk rows, dim never read
    def semi = factDf.join(dA, $"fk" === $"k", "left_semi").select("pk")
    assert(!plan(semi).contains("crdima"), plan(semi).take(2000))
    assert(semi.count() == 90L)
    assert(rows(semi) == ruleOff(rows(semi)))
    // anti join (NOT EXISTS): kept rows = exactly the null-fk rows
    def anti = factDf.join(dA, $"fk" === $"k", "left_anti").select("pk", "fk")
    assert(!plan(anti).contains("crdima"), plan(anti).take(2000))
    assert(anti.count() == 10L)
    assert(anti.collect().forall(_.isNullAt(1)))
    assert(rows(anti) == ruleOff(rows(anti)))
    // no FK (dimB): both stay
    val dB = TxnTable.read(spark, dimB)
    assert(plan(factDf.join(dB, $"fk" === $"kb", "left_semi").select("pk"))
      .contains("crdimb"))
    assert(plan(factDf.join(dB, $"fk" === $"kb", "left_anti").select("pk"))
      .contains("crdimb"))
  }

  test("FK provenance: null-extended or unioned fact keys refuse elimination") {
    // the FK constrains the SCAN's values; a LEFT join above the scan
    // null-extends fk for unmatched probe rows. In a stock optimized
    // plan the dim equi-join's null-intolerance inner-izes that outer
    // join BEFORE this rule runs (EliminateOuterJoin), making the
    // provenance clean again — results must stay exact either way,
    // and the provenance walk guards the shapes that DON'T inner-ize
    // (the Union below, anti joins)
    val probe = Seq(("x1", 1L), ("x2", 2L), ("nohit", -1L))
      .toDF("tag", "pk2")
    val factSide = probe.join(factDf, $"pk2" === $"pk", "left")
    def q = factSide.join(TxnTable.read(spark, dimA), $"fk" === $"k")
      .select("tag")
    assert(rows(q) == ruleOff(rows(q)))
    // a UNION reuses its first child's exprIds — the second child's fk
    // values carry no FK contract, so elimination must refuse
    val unioned = factDf.unionByName(
      factDf.withColumn("fk", lit(999999L))) // 999999 matches no dim key
    def qu = unioned.join(TxnTable.read(spark, dimA), $"fk" === $"k")
      .groupBy("grp").agg(count(lit(1)).as("n"))
    assert(plan(qu).contains("crdima"), plan(qu).take(3000))
    assert(rows(qu) == ruleOff(rows(qu)))
    // same refusals on the semi/anti path (shared fkGate)
    assert(plan(unioned.join(TxnTable.read(spark, dimA), $"fk" === $"k",
      "left_semi").select("pk")).contains("crdima"))
  }

  test("declared NOT NULL: anti join provably empty, isnotnull filters drop") {
    val f2 = s"$root/crfact_nn"
    // fk2 is nullable-TYPED (Option) but never null in the data — the
    // shape every parquet-read column has, which only a declaration
    // can upgrade
    val fact2 = (1L to 50L).map(pk =>
      (pk, Some(pk % 7 + 1): Option[Long], s"g${pk % 3}"))
      .toDF("pk2", "fk2", "grp2")
    TxnTable.commit(spark, fact2, f2, overwrite = false)
    TableConstraints.declareForeignKey(f2, Seq("fk2"), dimA, Seq("k"),
      validate = Some(spark))
    TableConstraints.declareNotNull(f2, Seq("fk2"), validate = Some(spark))
    def fd = TxnTable.read(spark, f2)
    assert(fd.schema("fk2").nullable, "fixture must be nullable-typed")
    val dA = TxnTable.read(spark, dimA)
    // NOT EXISTS under FK + NOT NULL: provably empty — NOTHING scans
    def anti = fd.join(dA, $"fk2" === $"k", "left_anti").select("pk2")
    val pAnti = plan(anti)
    assert(!pAnti.contains("crdima") && !pAnti.contains("crfact_nn"),
      pAnti.take(2000))
    assert(anti.count() == 0 && ruleOff(anti.count()) == 0)
    // a user-written IS NOT NULL on the declared column is a tautology:
    // the filter conjunct drops from the plan, rows identical
    def flt = fd.filter($"fk2".isNotNull && $"pk2" <= 10L).select("pk2")
    val pFlt = plan(flt)
    assert(!pFlt.toLowerCase.contains("isnotnull(fk2"), pFlt.take(2000))
    assert(rows(flt) == ruleOff(rows(flt)))
    // a filter that is ONLY the tautology vanishes entirely
    def fltOnly = fd.filter($"fk2".isNotNull)
    assert(!plan(fltOnly).toLowerCase.contains("isnotnull(fk2"))
    assert(fltOnly.count() == 50L)
    // inner elimination under FK + NOT NULL: no dim, no residual planted
    def inner = fd.join(dA, $"fk2" === $"k")
      .groupBy("grp2").agg(count(lit(1)).as("n"))
    val pInner = plan(inner)
    assert(!pInner.contains("crdima"), pInner.take(3000))
    assert(!pInner.toLowerCase.contains("isnotnull(fk2"), pInner.take(3000))
    assert(rows(inner) == ruleOff(rows(inner)))
    // rely=false NOT NULL never feeds any of it
    val f3 = s"$root/crfact_nn_doc"
    TxnTable.commit(spark, fact2, f3, overwrite = false)
    TableConstraints.declareNotNull(f3, Seq("fk2"), rely = false)
    def fltDoc = TxnTable.read(spark, f3).filter($"fk2".isNotNull)
    assert(plan(fltDoc).toLowerCase.contains("isnotnull(fk2"))
  }

  test("a stale txn snapshot read refuses; the head read eliminates") {
    val stale = factDf.join(TxnTable.read(spark, dimE, asOf = Some(1)),
      $"fk" === $"ke").select("pk")
    assert(plan(stale).contains("crdime"))
    def head = factDf.join(TxnTable.read(spark, dimE), $"fk" === $"ke")
      .select("pk")
    assert(!plan(head).contains("crdime"))
    assert(rows(head) == ruleOff(rows(head)))
  }

  test("kill switch disables every rewrite") {
    ruleOff {
      assert(plan(factDf.join(TxnTable.read(spark, dimA), $"fk" === $"k", "left")
        .select("pk")).contains("crdima"))
    }
  }

  // ── dedup / distinct / group-by elimination ────────────────────────

  private def hasAggLike(df: DataFrame): Boolean =
    optimized(df).exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Deduplicate => true
      case _ => false
    }

  test("dropDuplicates on the declared key is a no-op; supersets too") {
    val q = factDf.dropDuplicates("pk")
    assert(!hasAggLike(q), optimized(q).toString)
    assert(q.count() == 100L)
    val q2 = factDf.filter($"grp" =!= "g9").dropDuplicates(Seq("pk", "grp"))
    assert(!hasAggLike(q2))
    // non-key dedup keeps the operator
    assert(hasAggLike(factDf.dropDuplicates("grp")))
    // a join between the scan and the dedup could fan the key — stays
    val fanned = factDf.join(TxnTable.read(spark, dimA), $"fk" === $"k")
      .dropDuplicates("pk")
    assert(hasAggLike(fanned))
  }

  test("distinct over a projection carrying the key is a no-op") {
    val q = factDf.select("pk", "grp").distinct()
    assert(!hasAggLike(q), optimized(q).toString)
    assert(q.count() == 100L)
    assert(hasAggLike(factDf.select("grp").distinct()))
  }

  test("group-by on the unique key becomes a projection, null semantics intact") {
    def q = factDf.groupBy("pk")
      .agg(sum("m").as("sm"), count($"m").as("cm"), count(lit(1)).as("n"),
        min("grp").as("mg"), avg("m").as("am"))
      .orderBy("pk")
    assert(!hasAggLike(q), optimized(q).toString)
    val got = rows(q)
    assert(got == ruleOff(rows(q)))
    // the null-m rows pin the semantics: SUM/AVG null, COUNT(m) 0, n 1
    val nullRow = q.filter($"pk" === 5L).head
    assert(nullRow.isNullAt(1) && nullRow.getLong(2) == 0L &&
      nullRow.getLong(3) == 1L && nullRow.isNullAt(5))
  }

  test("group-by elimination refuses FILTER clauses and unsupported aggregates") {
    val filtered = factDf.groupBy("pk")
      .agg(expr("sum(m) FILTER (WHERE grp = 'g1')").as("s"))
    assert(hasAggLike(filtered))
    assert(hasAggLike(factDf.groupBy("pk").agg(collect_list("grp").as("l"))))
    // grouping on a non-key column keeps the aggregate
    assert(hasAggLike(factDf.groupBy("grp").agg(sum("m").as("s"))))
  }

  test("validation never runs under the rewrite it validates") {
    // a VIOLATED unique declared RELY without validation: the group-by
    // elimination would rewrite the validation probe itself into a
    // constant count=1 projection, hiding the violation (caught live by
    // q_constraint_verify's oracle) — holdsUnique must see the data
    val t = s"$root/selfref"
    TxnTable.commit(spark, Seq((1L, "a"), (1L, "b")).toDF("k", "v"), t,
      overwrite = false)
    TableConstraints.declareUnique(t, Seq("k")) // false, asserted anyway
    assert(!TableConstraints.holdsUnique(spark, t, Seq("k")))
    assert(TableConstraints.verify(spark, t) ==
      Seq(("unique(k)", true, false)))
  }

  // ── advisor integration ────────────────────────────────────────────

  test("star BUILD trusts a declared RELY key instead of probing") {
    // requireDimUnique is the per-dim build/refresh gate: with a
    // declared key it must not scan — proven by declaring a knowingly
    // FALSE unique on a dup-keyed dim (RELY semantics: the declarer
    // owns it) and watching the probe get skipped; undeclared, the
    // same dim throws
    val dup = s"$root/mvdup"
    TxnTable.commit(spark, Seq((1L, "a"), (1L, "b")).toDF("dk", "v"), dup,
      overwrite = false)
    val dim = TxnTable.read(spark, dup)
    intercept[IllegalArgumentException] {
      Mv.requireDimUnique(dim, "dk", "spec")
    }
    TableConstraints.declareUnique(dup, Seq("dk")) // knowingly false, RELY
    Mv.requireDimUnique(TxnTable.read(spark, dup), "dk", "spec")
  }

  test("star orientation trusts a declared RELY key instead of probing") {
    // dim with a DUPLICATED key: the data probe refuses orientation
    val fDir = s"$root/adv_fact.parquet"
    val dDir = s"$root/adv_dim.parquet"
    (1L to 40L).map(i => (i % 4 + 1, i)).toDF("dk", "meas").write.parquet(fDir)
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (4L, "dup"))
      .toDF("dkk", "seg").write.parquet(dDir)
    def q = spark.read.parquet(fDir)
      .join(spark.read.parquet(dDir), $"dk" === $"dkk")
      .groupBy("seg").agg(sum("meas").as("sm"))
    assert(MvAdvisor.starCandidate(spark, q).isEmpty) // probe sees the dup
    // RELY declaration (knowingly unvalidated) short-circuits the probe —
    // proving orientation consulted metadata, not data
    TableConstraints.declareUnique(dDir, Seq("dkk"))
    assert(MvAdvisor.starCandidate(spark, q).isDefined)
  }

  // ── CHECK constraints ───────────────────────────────────────────────

  test("a declared RELY check drops its tautological filter conjunct") {
    val t = s"$root/ck_taut"
    TxnTable.commit(spark,
      (1L to 50L).map(i => (i, i % 7 + 1.0, s"g${i % 3}"))
        .toDF("pk", "amt", "grp"),
      t, overwrite = false)
    TableConstraints.declareCheck(t, "amt_pos", "amt > 0",
      validate = Some(spark))
    def q = TxnTable.read(spark, t)
      .filter($"amt" > 0 && $"grp" =!= "g9")
      .groupBy("grp").agg(count(lit(1)).as("n"))
    // the check conjunct is gone; the residual grp filter survives —
    // strongest pin: with amt unfiltered, pruning removes the column
    // from the scan entirely
    val p = plan(q)
    assert(!p.contains("amt"), p.take(3000))
    assert(p.contains("g9"), p.take(3000))
    assert(rows(q) == ruleOff(rows(q)))
  }

  test("NOT(check) makes the filter provably empty: no scan at all") {
    val t = s"$root/ck_empty"
    TxnTable.commit(spark,
      (1L to 30L).map(i => (i, i + 0.5)).toDF("pk", "amt"),
      t, overwrite = false)
    TableConstraints.declareCheck(t, "amt_pos", "amt > 0",
      validate = Some(spark))
    // the user's !(amt > 0) reaches the rule as amt <= 0
    // (BooleanSimplification) — the violation audit answers from
    // metadata: zero rows, neither file read
    def q = TxnTable.read(spark, t).filter(!($"amt" > 0))
      .agg(count(lit(1)).as("n"))
    assert(q.head.getLong(0) == 0L)
    val p = plan(q)
    assert(!p.contains("ck_empty"), p.take(3000))
    assert(ruleOff(q.head.getLong(0)) == 0L)
  }

  test("interval implication: a conjunct WEAKER than the check drops; empty on disjoint") {
    val t = s"$root/ck_interval"
    TxnTable.commit(spark,
      (1L to 50L).map(i => (i, i % 7 + 1.0, s"g${i % 3}"))
        .toDF("pk", "amt", "grp"),
      t, overwrite = false)
    // amt ∈ (0, 5]: two comparison conjuncts in ONE declared check
    TableConstraints.declareCheck(t, "amt_band", "amt > 0 AND amt <= 8",
      validate = Some(spark))
    // amt < 10 is implied by amt <= 8 — the conjunct drops and pruning
    // removes amt from the scan (same strongest pin as the exact match)
    def weaker = TxnTable.read(spark, t)
      .filter($"amt" < 10 && $"grp" =!= "g9")
      .groupBy("grp").agg(count(lit(1)).as("n"))
    assert(!plan(weaker).contains("amt"), plan(weaker).take(3000))
    assert(rows(weaker) == ruleOff(rows(weaker)))
    // amt >= -3 implied by amt > 0; boundary: amt >= 0 implied by amt > 0
    def ge = TxnTable.read(spark, t).filter($"amt" >= 0)
      .agg(count(lit(1)).as("n"))
    assert(!plan(ge).contains("amt"), plan(ge).take(3000))
    assert(ge.head.getLong(0) == 50L)
    // DISJOINT: amt > 12 under amt <= 8 is provably empty — no scan
    def empty = TxnTable.read(spark, t).filter($"amt" > 12)
      .agg(count(lit(1)).as("n"))
    assert(empty.head.getLong(0) == 0L)
    assert(!plan(empty).contains("ck_interval"), plan(empty).take(3000))
    // equality point outside the band is empty too (amt = 12)
    def eqOut = TxnTable.read(spark, t).filter($"amt" === 12.0)
      .agg(count(lit(1)).as("n"))
    assert(eqOut.head.getLong(0) == 0L)
    assert(!plan(eqOut).contains("ck_interval"), plan(eqOut).take(3000))
    // touching bounds: amt <= 0 under amt > 0 is empty (open endpoint)
    def touch = TxnTable.read(spark, t).filter($"amt" <= 0)
      .agg(count(lit(1)).as("n"))
    assert(touch.head.getLong(0) == 0L)
    assert(!plan(touch).contains("ck_interval"), plan(touch).take(3000))
  }

  test("interval implication refuses what the check does not imply") {
    val t = s"$root/ck_noimply"
    TxnTable.commit(spark,
      (1L to 50L).map(i => (i, i % 7 + 1.0)).toDF("pk", "amt"),
      t, overwrite = false)
    TableConstraints.declareCheck(t, "amt_band", "amt > 0 AND amt <= 8",
      validate = Some(spark))
    // NOT implied: amt < 5 genuinely filters (check allows up to 8)
    def narrower = TxnTable.read(spark, t).filter($"amt" < 5)
    assert(plan(narrower).contains("amt"),
      "a conjunct STRICTER than the check must survive")
    assert(narrower.count() == ruleOff(narrower.count()))
    // NOT disjoint: amt > 5 overlaps (5, 8] — must scan and filter
    def overlap = TxnTable.read(spark, t).filter($"amt" > 5)
    assert(plan(overlap).contains("amt"))
    assert(overlap.count() == ruleOff(overlap.count()))
    // boundary refusal: amt < 8 is NOT implied by amt <= 8 (8 itself)
    def openUnderClosed = TxnTable.read(spark, t).filter($"amt" < 8)
    assert(plan(openUnderClosed).contains("amt"),
      "x < 8 under check x <= 8 must survive — the check admits 8")
    // and a conjunct on a DIFFERENT column never matches
    def other = TxnTable.read(spark, t).filter($"pk" < 10)
    assert(plan(other).contains("pk"))
    assert(other.count() == 9L)
  }

  test("IN-list implication: declared sets compose with user IN/interval conjuncts") {
    val t = s"$root/ck_inlist"
    TxnTable.commit(spark,
      (1L to 60L).map(i => (i, s"m${i % 3}", (i % 3) * 2 + 2, i % 7 + 1.0))
        .toDF("pk", "mode", "sz", "amt"),
      t, overwrite = false)
    // declared finite sets (string and numeric) + a band + a point
    TableConstraints.declareCheck(t, "mode_known",
      "mode IN ('m0', 'm1', 'm2')", validate = Some(spark))
    TableConstraints.declareCheck(t, "sz_known", "sz IN (2, 4, 6)",
      validate = Some(spark))
    TableConstraints.declareCheck(t, "amt_band", "amt > 0 AND amt <= 8",
      validate = Some(spark))
    // user IN ⊇ declared set: tautology — the conjunct drops and the
    // column prunes from the scan
    def superset = TxnTable.read(spark, t)
      .filter($"mode".isin("m0", "m1", "m2", "m9") && $"pk" > 0)
      .agg(sum("pk").as("s"))
    assert(!plan(superset).contains("mode"), plan(superset).take(3000))
    assert(superset.head.getLong(0) == (1L to 60L).sum)
    // user IN disjoint from the declared set: provably empty, no scan
    def disjointIn = TxnTable.read(spark, t)
      .filter($"mode".isin("x1", "x2")).agg(count(lit(1)).as("n"))
    assert(disjointIn.head.getLong(0) == 0L)
    assert(!plan(disjointIn).contains("ck_inlist"), plan(disjointIn).take(3000))
    // declared numeric set under a CONTAINING user interval: drops
    def setUnderIv = TxnTable.read(spark, t).filter($"sz" < 10)
      .agg(count(lit(1)).as("n"))
    assert(!plan(setUnderIv).contains("sz"), plan(setUnderIv).take(3000))
    assert(setUnderIv.head.getLong(0) == 60L)
    // declared set with NO element satisfying the interval: empty
    def setOutIv = TxnTable.read(spark, t).filter($"sz" > 7)
      .agg(count(lit(1)).as("n"))
    assert(setOutIv.head.getLong(0) == 0L)
    assert(!plan(setOutIv).contains("ck_inlist"), plan(setOutIv).take(3000))
    // user IN-list entirely outside the declared interval: empty
    def inOutBand = TxnTable.read(spark, t).filter($"amt".isin(12.0, 20.0))
      .agg(count(lit(1)).as("n"))
    assert(inOutBand.head.getLong(0) == 0L)
    assert(!plan(inOutBand).contains("ck_inlist"), plan(inOutBand).take(3000))
    // refusals — never wrong, only conservative:
    // a user subset genuinely filters (the check admits m2)
    def narrower = TxnTable.read(spark, t).filter($"mode".isin("m0", "m1"))
    assert(plan(narrower).contains("mode"),
      "a STRICTER IN-list than the check must survive")
    assert(narrower.count() == ruleOff(narrower.count()))
    // a user IN-list overlapping the declared band must scan
    def overlap = TxnTable.read(spark, t).filter($"amt".isin(5.0, 12.0))
    assert(plan(overlap).contains("amt"))
    assert(overlap.count() == ruleOff(overlap.count()))
    // a declared non-point interval never implies a finite list
    def ivVsIn = TxnTable.read(spark, t).filter($"amt".isin(1.0, 2.0, 3.0,
      4.0, 5.0, 6.0, 7.0, 8.0))
    assert(plan(ivVsIn).contains("amt"),
      "amt ∈ (0, 8] is not provably inside a finite list")
  }

  test("a declared point check implies membership in any list containing it") {
    val t = s"$root/ck_point"
    TxnTable.commit(spark,
      (1L to 20L).map(i => (i, 5L)).toDF("pk", "flag"),
      t, overwrite = false)
    TableConstraints.declareCheck(t, "flag_five", "flag = 5",
      validate = Some(spark))
    def q = TxnTable.read(spark, t).filter($"flag".isin(3L, 5L, 9L))
      .agg(count(lit(1)).as("n"))
    assert(!plan(q).contains("flag"), plan(q).take(3000))
    assert(q.head.getLong(0) == 20L)
    // and a list NOT containing the point is empty
    def e = TxnTable.read(spark, t).filter($"flag".isin(3L, 9L))
      .agg(count(lit(1)).as("n"))
    assert(e.head.getLong(0) == 0L)
    assert(!plan(e).contains("ck_point"), plan(e).take(3000))
  }

  test("check gates: non-RELY never consumed; violated RELY is the user's lie") {
    val t = s"$root/ck_norely"
    TxnTable.commit(spark,
      (1L to 20L).map(i => (i, i - 10.0)).toDF("pk", "amt"), // amt spans 0
      t, overwrite = false)
    TableConstraints.declareCheck(t, "amt_pos", "amt > 0", rely = false)
    def q = TxnTable.read(spark, t).filter($"amt" > 0)
    assert(plan(q).contains("amt"), "non-RELY check must not drop the filter")
    assert(q.count() == 10L)
    // declared RELY but false: the rewrite fires and the count is wrong
    // — exactly the RELY contract (verify() reports the lie honestly)
    TableConstraints.declareCheck(t, "amt_pos", "amt > 0", rely = true)
    assert(TableConstraints.verify(spark, t)
      .contains(("check(amt_pos)", true, false)))
  }
}
