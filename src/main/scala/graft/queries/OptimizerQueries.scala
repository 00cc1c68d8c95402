package graft.queries

import java.io.File

import graft.{DerivedCache, QueryDef, Tables}
import graft.QueryDef.sql
import graft.sources.{TableConstraints, TxnTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Constraint-driven optimizer queries (engine-added): declared RELY
  * keys ([[graft.sources.TableConstraints]]) feeding the
  * [[graft.plans.ConstraintRules]] rewrites, each gated end-to-end —
  * the ORACLE always computes the UNREWRITTEN semantics (the real join,
  * the real distinct, the real aggregation), so a rewrite that changed
  * results would hash-mismatch, while the `elim` column pins the PLAN
  * fact that the operator is actually gone. At 100 TB these are the
  * rewrites with the largest single wins available to any engine: a
  * five-dimension view queried for fact columns only drops five
  * shuffles and five dimension scans.
  */
object OptimizerQueries {

  private final case class Fx(fact: String, ord: String, ordPartial: String,
                              part: String, supp: String)

  /** Per-sf txn-table fixture with declared constraints — ONE
    * deterministic declaration set, whatever order the queries run in
    * (the audit query q_constraint_verify enumerates the complete set):
    * a lineitem fact with three VALIDATED FKs (orders, part, supplier)
    * and one deliberately non-RELY unique (the 4-column tuple the
    * testdata generator genuinely duplicates); orders/part/supplier
    * dims with validated PKs; and a PARTIAL orders dim (even keys only
    * — the left-elimination witness: inner elimination against it would
    * be wrong and is refused, spec-pinned) carrying one deliberately
    * violated non-RELY declaration. Built once per sf, reused across
    * runs; a pre-existing cache missing a declaration is healed in
    * place (declarations replace by column set, so healing is
    * idempotent). */
  private def fixture(s: SparkSession, d: String): Fx = {
    val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
    val factDir = new File(s"/root/repo/target/constraints/optfact_$sfKey")
    val dimDir = new File(s"/root/repo/target/constraints/optdim_$sfKey")
    val partDir = new File(s"/root/repo/target/constraints/optdimpart_$sfKey")
    val partDim = new File(s"/root/repo/target/constraints/optdimpartkey_$sfKey")
    val suppDim = new File(s"/root/repo/target/constraints/optdimsupp_$sfKey")
    val srcs = Seq(new File(s"$d/lineitem.parquet"), new File(s"$d/orders.parquet"))
    val marker = "_graft_log/v00001.json"
    DerivedCache.ensure(dimDir, srcs, marker) {
      TxnTable.commit(s, Tables.orders(s, d), dimDir.getPath, overwrite = false)
      TableConstraints.declareUnique(dimDir.getPath, Seq("o_orderkey"),
        validate = Some(s))
    }
    DerivedCache.ensure(partDir, srcs, marker) {
      TxnTable.commit(s, Tables.orders(s, d).filter(col("o_orderkey") % 2 === 0),
        partDir.getPath, overwrite = false)
      TableConstraints.declareUnique(partDir.getPath, Seq("o_orderkey"),
        validate = Some(s))
      // knowingly violated, knowingly non-RELY: the verify-audit query
      // pins that the store reports it false without the optimizer ever
      // consuming it
      TableConstraints.declareUnique(partDir.getPath, Seq("o_orderpriority"),
        rely = false)
    }
    DerivedCache.ensure(partDim, Seq(new File(s"$d/part.parquet")), marker) {
      TxnTable.commit(s, Tables.part(s, d), partDim.getPath, overwrite = false)
      TableConstraints.declareUnique(partDim.getPath, Seq("p_partkey"),
        validate = Some(s))
    }
    DerivedCache.ensure(suppDim, Seq(new File(s"$d/supplier.parquet")), marker) {
      TxnTable.commit(s, Tables.supplier(s, d), suppDim.getPath, overwrite = false)
      TableConstraints.declareUnique(suppDim.getPath, Seq("s_suppkey"),
        validate = Some(s))
    }
    DerivedCache.ensure(factDir, srcs, marker) {
      TxnTable.commit(s, Tables.lineitem(s, d), factDir.getPath, overwrite = false)
    }
    // the fact's declarations, healed idempotently outside the cache
    // block (an older cache may predate a declaration; validation runs
    // only on first declare — re-declares replace by column set)
    val fact = factDir.getPath
    if (!TableConstraints.uniques(fact).exists(_.cols ==
        Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")))
      // non-RELY on purpose: the testdata generator DOES emit duplicate
      // tuples here — a documentation row the optimizer must ignore and
      // verify() must report honestly from the data (audit-pinned)
      TableConstraints.declareUnique(fact,
        Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
        rely = false)
    Seq((Seq("l_orderkey"), dimDir, Seq("o_orderkey")),
        (Seq("l_partkey"), partDim, Seq("p_partkey")),
        (Seq("l_suppkey"), suppDim, Seq("s_suppkey"))).foreach {
      case (cols, ref, refCols) =>
        if (!TableConstraints.fkCovers(fact,
            cols.zip(refCols).toSet, ref.getPath))
          TableConstraints.declareForeignKey(fact, cols, ref.getPath, refCols,
            validate = Some(s))
    }
    // NOT NULL on the orders FK column (validated — the generator never
    // nulls it): upgrades the nullable parquet type so the inner
    // elimination needs no residual and NOT EXISTS is provably empty
    if (!TableConstraints.notNulls(fact).exists(_.cols == Seq("l_orderkey")))
      TableConstraints.declareNotNull(fact, Seq("l_orderkey"),
        validate = Some(s))
    Fx(fact, dimDir.getPath, partDir.getPath, partDim.getPath,
      suppDim.getPath)
  }

  /** Per-sf txn fixture for the CHECK-consuming optimizer queries: a
    * lineitem slice carrying ONE validated strict check
    * (l_quantity > 0). Kept SEPARATE from [[fixture]] so the audit
    * query's complete-declaration-set oracle stays exact. */
  private def checkFixture(s: SparkSession, d: String): String = {
    val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
    val dir = new File(s"/root/repo/target/constraints/ckfact_$sfKey")
    DerivedCache.ensure(dir, Seq(new File(s"$d/lineitem.parquet")),
      "_graft_log/v00001.json") {
      TxnTable.commit(s, Tables.lineitem(s, d)
        .select("l_returnflag", "l_quantity"), dir.getPath, overwrite = false)
    }
    // healed idempotently like the fixture's declarations
    if (!TableConstraints.checks(dir.getPath).exists(_.name == "qty_pos"))
      TableConstraints.declareCheck(dir.getPath, "qty_pos",
        "l_quantity > 0", validate = Some(s))
    // the FINITE-SET family next to the interval one: TPC-H return
    // flags are exactly {A, N, R}
    if (!TableConstraints.checks(dir.getPath).exists(_.name == "rf_known"))
      TableConstraints.declareCheck(dir.getPath, "rf_known",
        "l_returnflag IN ('A', 'N', 'R')", validate = Some(s))
    dir.getPath
  }

  /** Stamp the PLAN fact that elimination happened: `elim = 1` iff the
    * executed plan scans every `mustHave` token and none of `mustNot`.
    * Same heuristic discipline as the MV family's from_mv stamp. */
  private def stamped(q: DataFrame, mustHave: Seq[String],
                      mustNot: Seq[String], orderCols: Seq[String]): DataFrame = {
    val p = q.queryExecution.executedPlan.toString()
    val ok = mustHave.forall(p.contains) && mustNot.forall(t => !p.contains(t))
    q.withColumn("elim", lit(if (ok) 1L else 0L))
      .orderBy(orderCols.map(col): _*)
  }

  /** `elim = 1` iff the OPTIMIZED plan holds no aggregation-shaped node
    * (Aggregate/Deduplicate) — the dedup/group-by elimination stamp. */
  private def stampedNoAgg(q: DataFrame, orderCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate}
    val ok = !q.queryExecution.optimizedPlan.exists {
      case _: Aggregate | _: Deduplicate => true
      case _ => false
    }
    q.withColumn("elim", lit(if (ok) 1L else 0L))
      .orderBy(orderCols.map(col): _*)
  }

  val all: Seq[QueryDef] = Seq(

    // ── INNER join elimination: the query joins orders but uses no
    //    orders column, so under PK(o_orderkey) + FK(l_orderkey) the
    //    join disappears — only the IsNotNull residue remains (pushed to
    //    the scan). The oracle computes the REAL join, so the rewrite
    //    must preserve semantics exactly (incl. dropping nothing: the
    //    FK is total here). At 100 TB this is a full shuffle of the
    //    fact table gone.
    sql("q_opt_join_elim",
      """SELECT l_returnflag AS rf, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
        |       CAST(1 AS BIGINT) AS elim
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag ORDER BY rf""".stripMargin) { (s, d) =>
      val fx = fixture(s, d)
      val q = TxnTable.read(s, fx.fact)
        .join(TxnTable.read(s, fx.ord), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag").as("rf"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("sq"))
      stamped(q, Seq("optfact_"), Seq("optdim_"), Seq("rf"))
    },

    // ── LEFT join elimination: uniqueness alone suffices (no FK), even
    //    against a dim missing half its keys — the left join preserves
    //    every fact row regardless, so dropping the join is sound
    //    exactly when no dim column is used. The oracle runs the real
    //    left join against the real partial dim.
    sql("q_opt_join_elim_left",
      """SELECT l_returnflag AS rf, COUNT(*) AS n, CAST(1 AS BIGINT) AS elim
        |FROM lineitem LEFT JOIN
        |  (SELECT * FROM orders WHERE o_orderkey % 2 = 0) d
        |  ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag ORDER BY rf""".stripMargin) { (s, d) =>
      val fx = fixture(s, d)
      val q = TxnTable.read(s, fx.fact)
        .join(TxnTable.read(s, fx.ordPartial),
          col("l_orderkey") === col("o_orderkey"), "left")
        .groupBy(col("l_returnflag").as("rf"))
        .agg(count(lit(1)).as("n"))
      stamped(q, Seq("optfact_"), Seq("optdimpart_"), Seq("rf"))
    },

    // ── dedup elimination: dropDuplicates on the declared PK is a
    //    no-op — the two-shuffle distinct vanishes from the plan while
    //    the oracle computes the real DISTINCT (equal because the key
    //    really is unique; the declaration was validated).
    sql("q_opt_dedup_elim",
      """SELECT DISTINCT o_orderkey, o_orderpriority,
        |       CAST(1 AS BIGINT) AS elim
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val fx = fixture(s, d)
      val q = TxnTable.read(s, fx.ord)
        .dropDuplicates("o_orderkey")
        .select("o_orderkey", "o_orderpriority")
      stampedNoAgg(q, Seq("o_orderkey"))
    },

    // ── group-by elimination: grouping on the declared PK has one row
    //    per group, so the aggregation becomes a projection — COUNT is
    //    a literal, SUM/MIN are the row's own values (null semantics
    //    preserved by construction, spec-pinned on a null-measure
    //    table). The oracle runs the real GROUP BY.
    sql("q_opt_agg_elim",
      """SELECT o_orderkey AS k, COUNT(*) AS n,
        |       CAST(SUM(o_custkey) AS BIGINT) AS sc,
        |       MIN(o_orderpriority) AS mp,
        |       CAST(1 AS BIGINT) AS elim
        |FROM orders GROUP BY o_orderkey ORDER BY k""".stripMargin) { (s, d) =>
      val fx = fixture(s, d)
      val q = TxnTable.read(s, fx.ord)
        .groupBy(col("o_orderkey").as("k"))
        .agg(count(lit(1)).as("n"), sum("o_custkey").as("sc"),
          min("o_orderpriority").as("mp"))
      stampedNoAgg(q, Seq("k"))
    },

    // ── EXISTS under the FK: the semi join the subquery decorrelates to
    //    keeps exactly the non-null-key fact rows, so it rewrites to a
    //    filter — the dim is never scanned (plan-pinned) while the
    //    oracle runs the real EXISTS.
    sql("q_opt_semi_elim",
      """SELECT l_returnflag AS rf, COUNT(*) AS n, CAST(1 AS BIGINT) AS elim
        |FROM lineitem
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_orderkey = lineitem.l_orderkey)
        |GROUP BY l_returnflag ORDER BY rf""".stripMargin) { (s, d) =>
      val fx = fixture(s, d)
      val q = TxnTable.read(s, fx.fact)
        .join(TxnTable.read(s, fx.ord),
          col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy(col("l_returnflag").as("rf"))
        .agg(count(lit(1)).as("n"))
      stamped(q, Seq("optfact_"), Seq("optdim_"), Seq("rf"))
    },

    // ── NOT EXISTS under the FK: the anti join keeps exactly the
    //    null-key rows — none here (the testdata FK is total), and the
    //    hash pins that BOTH engines agree on the empty complement
    //    without this engine ever scanning the dim.
    sql("q_opt_anti_elim",
      """SELECT COUNT(*) AS n, CAST(1 AS BIGINT) AS elim
        |FROM lineitem
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_orderkey = lineitem.l_orderkey)""".stripMargin) { (s, d) =>
      val fx = fixture(s, d)
      val q = TxnTable.read(s, fx.fact)
        .join(TxnTable.read(s, fx.ord),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n"))
      stamped(q, Seq.empty, Seq("optdim_"), Seq("n"))
    },

    // ── the WIDE-VIEW case — the single largest win informational
    //    constraints buy at 100 TB: a reusable four-relation star (fact
    //    ⋈ orders ⋈ part ⋈ supplier, every dim key a validated PK with
    //    a validated FK) queried for ONE dim's attribute. The two
    //    untouched dimension joins VANISH (their scans and shuffles with
    //    them — `elim` pins both dirs absent from the plan), the used
    //    one stays; the oracle executes the full three-join star, so the
    //    surviving semantics are hash-checked, not assumed. Per-query
    //    cost becomes proportional to the dims actually referenced —
    //    the property that makes one wide view servable as EVERY
    //    narrower query's access path.
    sql("q_opt_wide_view",
      """SELECT l_returnflag AS rf, o_orderpriority AS pri, COUNT(*) AS n,
        |       CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |         AS cents,
        |       CAST(1 AS BIGINT) AS elim
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1, 2 ORDER BY rf, pri""".stripMargin) { (s, d) =>
      val fx = fixture(s, d)
      val wide = TxnTable.read(s, fx.fact)
        .join(TxnTable.read(s, fx.ord), col("l_orderkey") === col("o_orderkey"))
        .join(TxnTable.read(s, fx.part), col("l_partkey") === col("p_partkey"))
        .join(TxnTable.read(s, fx.supp), col("l_suppkey") === col("s_suppkey"))
      val q = wide
        .groupBy(col("l_returnflag").as("rf"), col("o_orderpriority").as("pri"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("l_extendedprice") * 100).cast("long")).as("cents"))
      stamped(q, Seq("optfact_", "optdim_"),
        Seq("optdimpartkey_", "optdimsupp_"), Seq("rf", "pri"))
    },

    // ── EAGER AGGREGATION (join-aggregation reorder): GROUP BY a DIM
    //    attribute over fact⋈dim pre-aggregates the fact below the join
    //    keyed by the join key — the join and its shuffle then process
    //    |distinct keys| partials instead of |fact| rows, the classic
    //    Yan-Larson reorder no stock Spark rule performs, sound here
    //    because the declared unique key makes the join non-fanning.
    //    Cost-gated opt-in (a derived session enables it); the `eager`
    //    column pins the PLAN fact that a partial aggregate sits BELOW
    //    the join, while the oracle computes the plain join+aggregate.
    sql("q_opt_eager_agg",
      """SELECT o_orderpriority AS pri, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
        |       CAST(AVG(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS aq,
        |       CAST(1 AS BIGINT) AS eager
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY pri""".stripMargin) { (s, d) =>
      val fx = fixture(s, d)
      val ss = s.newSession()
      ss.conf.set("spark.graft.eagerAgg.enabled", "true")
      val q = TxnTable.read(ss, fx.fact)
        .join(TxnTable.read(ss, fx.ord), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority").as("pri"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("sq"),
          avg(col("l_quantity").cast("long")).as("aq"))
      val eager = q.queryExecution.optimizedPlan.collectFirst {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.exists(_.exists {
        case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => true
        case _ => false
      })
      q.withColumn("eager", lit(if (eager) 1L else 0L)).orderBy("pri")
    },

    // ── CONSTRAINT ADVICE: the workload advisor names the RELY keys
    //    that would erase joins — probed against the data before being
    //    recommended (declare_unique on the dim, declare_fk on the fact
    //    for inner joins), with a data-refuted candidate reported
    //    recommend=false, and a join against an ALREADY-declared dim
    //    contributing no row at all (the walk runs on optimized plans,
    //    where that join no longer exists — pinned by this oracle
    //    enumerating the complete row set). Priced at occurrences ×
    //    (dim rows + fact rows): the dim scan and the fact's trip
    //    through the join both vanish.
    sql("q_advisor_constraints",
      """SELECT * FROM (
        |  SELECT 'constraint' AS family, 'cns_fact.l_orderkey' AS target,
        |         'declare_fk' AS action, 'ref=cns_dim,joins=1' AS detail,
        |         CAST(1 AS BIGINT) AS weight,
        |         (SELECT COUNT(*) FROM orders) +
        |           (SELECT COUNT(*) FROM lineitem) AS saved_rows,
        |         TRUE AS recommend
        |  UNION ALL
        |  SELECT 'constraint', 'cns_fact.l_orderkey', 'declare_notnull',
        |         'joins=1', CAST(1 AS BIGINT),
        |         (SELECT COUNT(*) FROM lineitem), TRUE
        |  UNION ALL
        |  SELECT 'constraint', 'cns_bad.bk', 'declare_unique',
        |         'not_unique_in_data', CAST(1 AS BIGINT),
        |         CAST(0 AS BIGINT), FALSE
        |  UNION ALL
        |  SELECT 'constraint', 'cns_dim.o_orderkey', 'declare_unique',
        |         'joins=1', CAST(1 AS BIGINT),
        |         (SELECT COUNT(*) FROM orders) +
        |           (SELECT COUNT(*) FROM lineitem), TRUE
        |) ORDER BY action, target""".stripMargin) { (s, d) =>
      import graft.plans.WorkloadAdvisor
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val root = graft.Scratch.dir(s"/root/repo/target/tmp/cnsadv_$sfKey")
      val factNc = s"$root/cns_fact"
      val dimNc = s"$root/cns_dim"
      val dimBad = s"$root/cns_bad"
      TxnTable.commit(s, Tables.lineitem(s, d)
        .select("l_orderkey", "l_returnflag"), factNc, overwrite = false)
      TxnTable.commit(s, Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice"), dimNc, overwrite = false)
      TxnTable.commit(s, Tables.orders(s, d)
        .select(col("o_orderpriority").as("bk"), col("o_custkey")), dimBad,
        overwrite = false)
      val declaredDim = fixture(s, d).ord
      val workload = Seq(
        // inner join, no declarations anywhere → unique + fk candidates
        TxnTable.read(s, factNc)
          .join(TxnTable.read(s, dimNc), col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_returnflag").agg(count(lit(1)).as("n")),
        // left join to a key the data REFUTES → recommend=false row
        TxnTable.read(s, factNc)
          .join(TxnTable.read(s, dimBad), col("l_returnflag") === col("bk"),
            "left")
          .select("l_orderkey"),
        // control: the DECLARED dim — eliminated before the walk, no row
        TxnTable.read(s, factNc)
          .join(TxnTable.read(s, declaredDim),
            col("l_orderkey") === col("o_orderkey"), "left")
          .select("l_returnflag"))
      // the SAMPLED advisory path (the deployed configuration): probes
      // refute from a bounded sample — the data-refuted candidate is
      // still caught (a duplicate inside the sample is an exact
      // refutation) — while clean samples SCREEN; the recommendation's
      // own declare-with-validate is the exact gate
      WorkloadAdvisor.report(s, workload, exactNdv = true,
          sampledProbes = true)
        .filter(col("family") === "constraint")
        .select("family", "target", "action", "detail", "weight",
          "saved_rows", "recommend")
        .orderBy("action", "target")
    },

    // ── CHECK ADVICE: the advisor's fourth-family loop — recurring
    //    filter conjuncts probed against the data: `qty > 0` holds
    //    table-wide (a defensive tautology worth declaring — two
    //    queries carry it, priced at 2× the table's rows), `amt < 10`
    //    genuinely filters (recommend=false, saved 0), and the
    //    ALREADY-declared grp check contributes NO row at all — its
    //    conjunct was tautology-dropped from the optimized plan before
    //    the advisor's walk (the closed loop, pinned by this oracle
    //    enumerating the complete row set).
    sql("q_advisor_checks",
      """SELECT * FROM (
        |  SELECT 'ckadv_fact.amt' AS target, 'declare_check' AS action,
        |         'filter_is_selective' AS detail, CAST(1 AS BIGINT) AS weight,
        |         CAST(0 AS BIGINT) AS saved_rows, FALSE AS recommend
        |  UNION ALL
        |  SELECT 'ckadv_fact.qty', 'declare_check',
        |         'expr=(qty > 0L),filters=2', CAST(2 AS BIGINT),
        |         2 * (SELECT COUNT(*) FROM orders), TRUE
        |) ORDER BY target""".stripMargin) { (s, d) =>
      import graft.plans.WorkloadAdvisor
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val root = graft.Scratch.dir(s"/root/repo/target/tmp/ckadv_$sfKey")
      val fact = s"$root/ckadv_fact"
      TxnTable.commit(s, Tables.orders(s, d).select(
        (col("o_custkey") + 1).as("qty"),
        (col("o_custkey") % 100).as("amt"),
        concat(lit("g"), col("o_orderkey") % 3).as("grp")), fact,
        overwrite = false)
      TableConstraints.declareCheck(fact, "grp_known",
        "grp IN ('g0','g1','g2')", validate = Some(s))
      def t = TxnTable.read(s, fact)
      val workload = Seq(
        t.filter(col("qty") > 0).groupBy("grp").agg(count(lit(1)).as("n")),
        t.filter(col("qty") > 0 && col("amt") < 10).select("qty"),
        // control: the declared check's own conjunct — dropped from the
        // optimized plan before the advisor walks it → no advice row
        t.filter(col("grp").isin("g0", "g1", "g2")).select("amt"))
      WorkloadAdvisor.checkAdvice(s, workload, sampledProbes = true)
        .orderBy("target")
    },

    // ── EAGER-AGG ADVICE: the advisor measures the reorder's
    //    compression on the fact (exact NDV for the oracle; approx in
    //    deployment) and prices enabling the cost-gated rule — here
    //    lineitem compresses ~4× onto its order key, clearing a 2× bar,
    //    and DuckDB re-derives the NDV, the price, and the verdict from
    //    the same data.
    sql("q_advisor_eager",
      """SELECT 'plan' AS family, 'egq_fact:egq_dim' AS target,
        |       'eager_agg' AS action,
        |       'keys=l_orderkey,ndv=' ||
        |         CAST((SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS VARCHAR)
        |         || ',rows=' ||
        |         CAST((SELECT COUNT(*) FROM lineitem) AS VARCHAR) AS detail,
        |       CAST(1 AS BIGINT) AS weight,
        |       (SELECT COUNT(*) FROM lineitem) -
        |         (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS saved_rows,
        |       (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) * 2
        |         <= (SELECT COUNT(*) FROM lineitem) AS recommend""".stripMargin) { (s, d) =>
      import graft.plans.WorkloadAdvisor
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val root = graft.Scratch.dir(s"/root/repo/target/tmp/egadv_$sfKey")
      val fact = s"$root/egq_fact"
      val dim = s"$root/egq_dim"
      TxnTable.commit(s, Tables.lineitem(s, d)
        .select("l_orderkey", "l_quantity"), fact, overwrite = false)
      TxnTable.commit(s, Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority"), dim, overwrite = false)
      TableConstraints.declareUnique(dim, Seq("o_orderkey"),
        validate = Some(s))
      WorkloadAdvisor.report(s, Seq(
          TxnTable.read(s, fact)
            .join(TxnTable.read(s, dim), col("l_orderkey") === col("o_orderkey"))
            .groupBy("o_orderpriority").agg(sum("l_quantity").as("sq"))),
        exactNdv = true, eagerMinCompression = 2L)
        .filter(col("family") === "plan")
        .select("family", "target", "action", "detail", "weight",
          "saved_rows", "recommend")
    },

    // ── NOT NULL × anti join: under the exact-cover FK *plus* a
    //    declared NOT NULL on the fact key, NOT EXISTS is PROVABLY
    //    empty — the plan scans NEITHER the fact nor the dim (at 100 TB
    //    that is an audit query answered from metadata). The oracle
    //    runs the real NOT EXISTS; `elim` pins both scans absent.
    sql("q_opt_notnull_anti",
      """SELECT COUNT(*) AS n, CAST(1 AS BIGINT) AS elim
        |FROM lineitem
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_orderkey = lineitem.l_orderkey)""".stripMargin) { (s, d) =>
      val fx = fixture(s, d)
      val q = TxnTable.read(s, fx.fact)
        .join(TxnTable.read(s, fx.ord),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n"))
      stamped(q, Seq.empty, Seq("optdim_", "optfact_"), Seq("n"))
    },

    // ── NOT NULL × filter: a user-written IS NOT NULL on the declared
    //    column is a tautology — the conjunct drops from the plan
    //    (pinned: no isnotnull(l_orderkey) anywhere) while the oracle
    //    evaluates the real predicate.
    sql("q_opt_notnull_filter",
      """SELECT l_returnflag AS rf, COUNT(*) AS n, CAST(1 AS BIGINT) AS elim
        |FROM lineitem WHERE l_orderkey IS NOT NULL
        |GROUP BY l_returnflag ORDER BY rf""".stripMargin) { (s, d) =>
      val fx = fixture(s, d)
      val q = TxnTable.read(s, fx.fact)
        .filter(col("l_orderkey").isNotNull)
        .groupBy(col("l_returnflag").as("rf"))
        .agg(count(lit(1)).as("n"))
      stamped(q, Seq("optfact_"),
        Seq("isnotnull(l_orderkey", "IsNotNull(l_orderkey"), Seq("rf"))
    },

    // ── CHECK × filter: a user predicate equal to a declared RELY
    //    strict check is a tautology — the conjunct drops, and with it
    //    the IsNotNull the optimizer inferred from it (a TRUE strict
    //    check implies non-null through null-intolerant operators), so
    //    column pruning removes l_quantity from the scan entirely. The
    //    pin is the strongest available: the column NAME is absent from
    //    the executed plan. The oracle evaluates the real predicate.
    sql("q_opt_check_filter",
      """SELECT l_returnflag AS rf, COUNT(*) AS n, CAST(1 AS BIGINT) AS elim
        |FROM lineitem WHERE l_quantity > 0
        |GROUP BY l_returnflag ORDER BY rf""".stripMargin) { (s, d) =>
      val ck = checkFixture(s, d)
      val q = TxnTable.read(s, ck)
        .filter(col("l_quantity") > 0)
        .groupBy(col("l_returnflag").as("rf"))
        .agg(count(lit(1)).as("n"))
      stamped(q, Seq("ckfact_"), Seq("l_quantity"), Seq("rf"))
    },

    // ── CHECK × violation audit: `WHERE NOT(check)` is PROVABLY EMPTY
    //    under the declared strict check — the user's `!(qty > 0)`
    //    reaches the rule simplified to `qty <= 0` and the whole filter
    //    collapses to an empty relation: at 100 TB a violation audit
    //    answered from metadata, no fact scan. The oracle runs the real
    //    (empty) filter; `elim` pins the scan absent.
    sql("q_opt_check_empty",
      """SELECT COUNT(*) AS n, CAST(1 AS BIGINT) AS elim
        |FROM lineitem WHERE NOT (l_quantity > 0)""".stripMargin) { (s, d) =>
      val ck = checkFixture(s, d)
      val q = TxnTable.read(s, ck)
        .filter(!(col("l_quantity") > 0))
        .agg(count(lit(1)).as("n"))
      stamped(q, Seq.empty, Seq("ckfact_"), Seq("n"))
    },

    // ── CHECK × INTERVAL IMPLICATION, drop direction: the user's
    //    predicate is strictly WEAKER than the declared check
    //    (l_quantity > -5 under RELY CHECK l_quantity > 0 — not equal,
    //    so semantic matching alone would keep it) — interval
    //    subsumption proves it TRUE on every row, the conjunct drops,
    //    and column pruning removes l_quantity from the scan (pinned by
    //    name-absence, like q_opt_check_filter). Oracle evaluates the
    //    real predicate.
    sql("q_opt_check_implied",
      """SELECT l_returnflag AS rf, COUNT(*) AS n, CAST(1 AS BIGINT) AS elim
        |FROM lineitem WHERE l_quantity > -5
        |GROUP BY l_returnflag ORDER BY rf""".stripMargin) { (s, d) =>
      val ck = checkFixture(s, d)
      val q = TxnTable.read(s, ck)
        .filter(col("l_quantity") > -5)
        .groupBy(col("l_returnflag").as("rf"))
        .agg(count(lit(1)).as("n"))
      stamped(q, Seq("ckfact_"), Seq("l_quantity"), Seq("rf"))
    },

    // ── CHECK × INTERVAL IMPLICATION, empty direction: the user's
    //    predicate is DISJOINT from the declared check's interval
    //    (l_quantity < -1 under RELY CHECK l_quantity > 0 — not the
    //    check's negation, so the exact-violation match can't see it) —
    //    the filter is provably FALSE on every row and collapses to an
    //    empty relation with no fact scan, pinned by the table name's
    //    absence from the plan.
    sql("q_opt_check_disjoint",
      """SELECT COUNT(*) AS n, CAST(1 AS BIGINT) AS elim
        |FROM lineitem WHERE l_quantity < -1""".stripMargin) { (s, d) =>
      val ck = checkFixture(s, d)
      val q = TxnTable.read(s, ck)
        .filter(col("l_quantity") < -1)
        .agg(count(lit(1)).as("n"))
      stamped(q, Seq.empty, Seq("ckfact_"), Seq("n"))
    },

    // ── CHECK × IN-LIST IMPLICATION, drop direction: the declared
    //    finite set (l_returnflag IN ('A','N','R'), RELY) is a SUBSET
    //    of the user's IN-list — every row's value is in the declared
    //    set, hence in the superset: the conjunct is TRUE everywhere,
    //    drops, and column pruning removes l_returnflag from the scan
    //    (the strict set check also proves NOT NULL, so the inferred
    //    IsNotNull drops with it). Oracle evaluates the real IN.
    sql("q_opt_check_in_implied",
      """SELECT COUNT(*) AS n, CAST(1 AS BIGINT) AS elim
        |FROM lineitem
        |WHERE l_returnflag IN ('A', 'N', 'R', 'X')""".stripMargin) { (s, d) =>
      val ck = checkFixture(s, d)
      val q = TxnTable.read(s, ck)
        .filter(col("l_returnflag").isin("A", "N", "R", "X"))
        .agg(count(lit(1)).as("n"))
      stamped(q, Seq("ckfact_"), Seq("l_returnflag"), Seq("n"))
    },

    // ── CHECK × IN-LIST IMPLICATION, empty direction, both set
    //    algebras: (a) a user IN-list DISJOINT from the declared set —
    //    no listed flag is a possible value; (b) a user IN-list with no
    //    element inside the declared INTERVAL (qty > 0 admits neither
    //    -3 nor -7). Both filters are provably FALSE on every row and
    //    collapse to empty relations — no fact scan, pinned by the
    //    fixture name's absence from each stage's plan.
    sql("q_opt_check_in_disjoint",
      """SELECT 'a_set' AS stage,
        |  (SELECT COUNT(*) FROM lineitem WHERE l_returnflag IN ('X','Y')) AS n,
        |  CAST(1 AS BIGINT) AS elim
        |UNION ALL
        |SELECT 'b_interval',
        |  (SELECT COUNT(*) FROM lineitem WHERE l_quantity IN (-3, -7)),
        |  CAST(1 AS BIGINT)
        |ORDER BY stage""".stripMargin) { (s, d) =>
      val ck = checkFixture(s, d)
      def st(stage: String, c: org.apache.spark.sql.Column) = stamped(
        TxnTable.read(s, ck).filter(c).agg(count(lit(1)).as("n"))
          .select(lit(stage).as("stage"), col("n")),
        Seq.empty, Seq("ckfact_"), Seq("stage"))
      st("a_set", col("l_returnflag").isin("X", "Y"))
        .unionByName(st("b_interval", col("l_quantity").isin(-3, -7)))
        .orderBy("stage")
    },

    // ── EAGER AGGREGATION, AUTO MODE — the closed advisor loop: the
    //    advisor names the reorder (q_advisor_eager), refreshNdv
    //    persists the partial key's NDV as per-file HLL sketches, and
    //    `auto` then decides PER PLAN from two driver-side JSON reads —
    //    stage a fires at the measured ~4× compression (bar 2), stage b
    //    refuses a bar the same data cannot clear. No human flips a
    //    session-global flag; the oracle computes the plain join+agg for
    //    both stages and the `eager` column pins each decision.
    sql("q_opt_eager_auto",
      """WITH agg AS MATERIALIZED (
        |  SELECT o_orderpriority AS pri, COUNT(*) AS n,
        |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY o_orderpriority)
        |SELECT * FROM (
        |  SELECT 'a_auto_fired' AS stage, pri, n, sq,
        |         CAST(1 AS BIGINT) AS eager FROM agg
        |  UNION ALL
        |  SELECT 'b_bar_uncleared', pri, n, sq, CAST(0 AS BIGINT) FROM agg
        |) ORDER BY stage, pri""".stripMargin) { (s, d) =>
      import graft.sources.TxnStats
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val root = graft.Scratch.dir(s"/root/repo/target/tmp/egauto_$sfKey")
      val fact = s"$root/egauto_fact"
      val dim = s"$root/egauto_dim"
      TxnTable.commit(s, Tables.lineitem(s, d)
        .select("l_orderkey", "l_quantity"), fact, overwrite = false)
      TxnTable.commit(s, Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority"), dim, overwrite = false)
      TableConstraints.declareUnique(dim, Seq("o_orderkey"),
        validate = Some(s))
      TxnStats.refreshNdv(s, fact, Seq("l_orderkey"))
      def stage(ss: SparkSession, name: String, fires: Boolean) = {
        val q = TxnTable.read(ss, fact)
          .join(TxnTable.read(ss, dim),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority").as("pri"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("long")).as("sq"))
        val eager = q.queryExecution.optimizedPlan.collectFirst {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
        }.exists(_.exists {
          case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => true
          case _ => false
        })
        q.withColumn("stage", lit(name))
          .withColumn("eager", lit(if (eager == fires) {
            if (fires) 1L else 0L
          } else -1L))
      }
      val sa = s.newSession()
      sa.conf.set("spark.graft.eagerAgg.enabled", "auto")
      sa.conf.set("spark.graft.eagerAgg.minCompression", "2")
      val a = stage(sa, "a_auto_fired", fires = true)
      val sb = s.newSession()
      sb.conf.set("spark.graft.eagerAgg.enabled", "auto")
      sb.conf.set("spark.graft.eagerAgg.minCompression", "1000000")
      val b = stage(sb, "b_bar_uncleared", fires = false)
      a.unionByName(b)
        .select("stage", "pri", "n", "sq", "eager")
        .orderBy("stage", "pri")
    },

    // ── ENFORCE-AT-INGEST — the write-side half of RELY, completing
    //    the declared-constraint lifecycle: enforce here (batch-sized
    //    probes: a predicate for NOT NULL, a broadcast join against the
    //    dim's distinct keys for the FK), RELY in the optimizer
    //    (q_opt_*), audit in O(Δ) (q_constraint_verify_incr). Conforming
    //    rows append; the dangling-key and null-key rows quarantine with
    //    reasons; the post-ingest incremental audit is GREEN — pinned in
    //    the d_audit row — because violators never landed. The oracle
    //    recomputes the split from the same data plus the two injected
    //    violators.
    sql("q_constraint_enforce",
      """SELECT * FROM (
        |  SELECT 'a_good' AS bucket, COUNT(*) AS cnt,
        |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem
        |  UNION ALL SELECT 'b_fk', CAST(1 AS BIGINT), CAST(7 AS BIGINT)
        |  UNION ALL SELECT 'c_notnull', CAST(1 AS BIGINT), CAST(5 AS BIGINT)
        |  UNION ALL SELECT 'd_audit_green', CAST(2 AS BIGINT),
        |            CAST(1 AS BIGINT)
        |) ORDER BY bucket""".stripMargin) { (s, d) =>
      import s.implicits._
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val root = graft.Scratch.dir(s"/root/repo/target/tmp/cenf_$sfKey")
      val dim = s"$root/enf_dim"
      val fact = s"$root/enf_fact"
      val quar = s"$root/enf_quar"
      TxnTable.commit(s, Tables.orders(s, d).select("o_orderkey"), dim,
        overwrite = false)
      new File(fact).mkdirs()
      TableConstraints.declareUnique(dim, Seq("o_orderkey"),
        validate = Some(s))
      TableConstraints.declareForeignKey(fact, Seq("l_orderkey"), dim,
        Seq("o_orderkey"))
      TableConstraints.declareNotNull(fact, Seq("l_orderkey"))
      val batch = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity").cast("long").as("qty"))
        .unionByName(Seq((Some(-1L), 7L)).toDF("l_orderkey", "qty"))
        .unionByName(Seq((Option.empty[Long], 5L)).toDF("l_orderkey", "qty"))
      TableConstraints.commitEnforced(s, batch, fact, quar)
      val good = TxnTable.read(s, fact)
        .agg(count(lit(1)).as("cnt"), sum("qty").as("qty"))
        .select(lit("a_good").as("bucket"), col("cnt"), col("qty"))
      val bad = TxnTable.read(s, quar)
        .groupBy(when(col("reason").startsWith("fk"), "b_fk")
          .otherwise("c_notnull").as("bucket"))
        .agg(count(lit(1)).as("cnt"), sum("qty").as("qty"))
      val audit = TableConstraints.verifyIncremental(s, fact)
      val green = Seq(("d_audit_green", audit.size.toLong,
        if (audit.forall(_._3)) 1L else 0L)).toDF("bucket", "cnt", "qty")
      good.unionByName(bad).unionByName(green).orderBy("bucket")
    },

    // ── CHECK CONSTRAINTS, full lifecycle — the fourth declared family
    //    (unique / fk / notnull / check), STRICT semantics throughout
    //    (a row passes iff the predicate is TRUE; NULL fails — the form
    //    the optimizer rewrites rely on): a violated validate-at-declare
    //    REFUSES (a_refused); enforce-at-ingest appends the conforming
    //    rows and quarantines each violator under its check's NAME —
    //    including the NULL-qty row the strictness catches (c_qty
    //    counts it) and the unknown return flag (d_flag); the
    //    post-ingest O(Δ)
    //    audit is green by construction (e_audit_green). The oracle
    //    recomputes the whole split from the same data.
    sql("q_constraint_check",
      """SELECT * FROM (
        |  SELECT 'a_refused' AS bucket, CAST(1 AS BIGINT) AS cnt,
        |         CAST(0 AS BIGINT) AS qty
        |  UNION ALL
        |  SELECT 'b_good', COUNT(*),
        |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
        |  FROM lineitem
        |  UNION ALL SELECT 'c_qty', CAST(2 AS BIGINT), CAST(0 AS BIGINT)
        |  UNION ALL SELECT 'd_flag', CAST(1 AS BIGINT), CAST(9 AS BIGINT)
        |  UNION ALL SELECT 'e_audit_green', CAST(2 AS BIGINT),
        |            CAST(1 AS BIGINT)
        |) ORDER BY bucket""".stripMargin) { (s, d) =>
      import s.implicits._
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val root = graft.Scratch.dir(s"/root/repo/target/tmp/cck_$sfKey")
      val fact = s"$root/ck_fact"
      val quar = s"$root/ck_quar"
      val seeded = s"$root/ck_violated"
      // a validated declaration on data that violates it REFUSES
      TxnTable.commit(s, Seq((0L, "AIR")).toDF("qty", "mode"), seeded,
        overwrite = false)
      val refused =
        try {
          TableConstraints.declareCheck(seeded, "qty_pos", "qty > 0",
            validate = Some(s)); 0L
        } catch { case _: IllegalArgumentException => 1L }
      new File(fact).mkdirs()
      TableConstraints.declareCheck(fact, "qty_pos", "qty > 0")
      TableConstraints.declareCheck(fact, "flag_known",
        "flag IN ('A','N','R')")
      val batch = Tables.lineitem(s, d)
        .select(col("l_quantity").cast("long").as("qty"),
          col("l_returnflag").as("flag"))
        .unionByName(Seq((Some(0L), "A"), (Option.empty[Long], "N"))
          .toDF("qty", "flag"))
        .unionByName(Seq((9L, "X")).toDF("qty", "flag"))
      TableConstraints.commitEnforced(s, batch, fact, quar)
      val good = TxnTable.read(s, fact)
        .agg(count(lit(1)).as("cnt"), sum("qty").as("qty"))
        .select(lit("b_good").as("bucket"), col("cnt"), col("qty"))
      val bad = TxnTable.read(s, quar)
        .groupBy(when(col("reason") === "check(qty_pos)", "c_qty")
          .otherwise("d_flag").as("bucket"))
        .agg(count(lit(1)).as("cnt"), sum("qty").as("qty"))
      val audit = TableConstraints.verifyIncremental(s, fact)
      val stages = Seq(
        ("a_refused", refused, 0L),
        ("e_audit_green", audit.size.toLong,
          if (audit.forall(_._3)) 1L else 0L))
        .toDF("bucket", "cnt", "qty")
      good.unionByName(bad).unionByName(stages).orderBy("bucket")
    },

    // ── O(Δ) INCREMENTAL CONSTRAINT AUDIT — the honesty check priced
    //    for 100 TB: verify() re-shuffles the whole fact per audit;
    //    verifyIncremental audits ONLY the rows appended since the last
    //    all-green audit (watermark sidecar), anti-joining the Δ against
    //    the current ref for FKs and probing Δ alone for NOT NULL. The
    //    `mode` column pins which path ran (first audit full, appends
    //    incremental); the dangling append is caught FROM THE Δ — and
    //    the oracle re-derives every verdict, including that the
    //    injected key matches no order, from the same data in SQL.
    sql("q_constraint_verify_incr",
      """SELECT * FROM (
        |  SELECT 'a_first' AS stage, 'fk(l_orderkey)' AS con, 'full' AS mode,
        |         (SELECT COUNT(*) FROM lineitem l
        |          LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |          WHERE l.l_orderkey IS NOT NULL AND l.l_linenumber <= 3
        |            AND o.o_orderkey IS NULL) = 0 AS holds
        |  UNION ALL
        |  SELECT 'a_first', 'notnull(l_orderkey)', 'full',
        |         (SELECT COUNT(*) FROM lineitem
        |          WHERE l_linenumber <= 3 AND l_orderkey IS NULL) = 0
        |  UNION ALL
        |  SELECT 'b_append', 'fk(l_orderkey)', 'incremental',
        |         (SELECT COUNT(*) FROM lineitem l
        |          LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |          WHERE l.l_orderkey IS NOT NULL AND l.l_linenumber > 3
        |            AND o.o_orderkey IS NULL) = 0
        |  UNION ALL
        |  SELECT 'b_append', 'notnull(l_orderkey)', 'incremental',
        |         (SELECT COUNT(*) FROM lineitem
        |          WHERE l_linenumber > 3 AND l_orderkey IS NULL) = 0
        |  UNION ALL
        |  SELECT 'c_dangling', 'fk(l_orderkey)', 'incremental',
        |         EXISTS (SELECT 1 FROM orders WHERE o_orderkey = -1)
        |  UNION ALL
        |  SELECT 'c_dangling', 'notnull(l_orderkey)', 'incremental', TRUE
        |) ORDER BY stage, con""".stripMargin) { (s, d) =>
      import s.implicits._
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val root = graft.Scratch.dir(s"/root/repo/target/tmp/cvincr_$sfKey")
      val fact = s"$root/cvi_fact"
      val dim = s"$root/cvi_dim"
      TxnTable.commit(s, Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority"), dim, overwrite = false)
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_linenumber")
      TxnTable.commit(s, li.filter(col("l_linenumber") <= 3), fact,
        overwrite = false)
      TableConstraints.declareUnique(dim, Seq("o_orderkey"),
        validate = Some(s))
      TableConstraints.declareForeignKey(fact, Seq("l_orderkey"), dim,
        Seq("o_orderkey"), validate = Some(s))
      TableConstraints.declareNotNull(fact, Seq("l_orderkey"),
        validate = Some(s))
      def auditRows(stage: String) =
        TableConstraints.verifyIncremental(s, fact).map { case (c, _, h, m) =>
          (stage, c.split("->").head, m, h)
        }
      val a = auditRows("a_first")           // no watermark → full
      TxnTable.commit(s, li.filter(col("l_linenumber") > 3), fact,
        overwrite = false)
      val b = auditRows("b_append")          // Δ-only audit
      TxnTable.commit(s, Seq((-1L, 99)).toDF("l_orderkey", "l_linenumber"),
        fact, overwrite = false)
      val c = auditRows("c_dangling")        // Δ catches the dangling key
      (a ++ b ++ c).toDF("stage", "con", "mode", "holds")
        .orderBy("stage", "con")
    },

    // ── the RELY audit: verify() re-derives every declared constraint
    //    from the CURRENT data — the honesty half of informational
    //    constraints. The deliberately violated non-RELY declaration
    //    reports false; the oracle recomputes each verdict from the
    //    same relations in SQL.
    sql("q_constraint_verify",
      """SELECT con, rely, holds FROM (
        |  SELECT 'fk(l_orderkey)' AS con, TRUE AS rely,
        |         (SELECT COUNT(*) FROM lineitem l
        |          LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |          WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL) = 0 AS holds
        |  UNION ALL
        |  SELECT 'fk(l_partkey)', TRUE,
        |         (SELECT COUNT(*) FROM lineitem l
        |          LEFT JOIN part p ON l.l_partkey = p.p_partkey
        |          WHERE l.l_partkey IS NOT NULL AND p.p_partkey IS NULL) = 0
        |  UNION ALL
        |  SELECT 'fk(l_suppkey)', TRUE,
        |         (SELECT COUNT(*) FROM lineitem l
        |          LEFT JOIN supplier su ON l.l_suppkey = su.s_suppkey
        |          WHERE l.l_suppkey IS NOT NULL AND su.s_suppkey IS NULL) = 0
        |  UNION ALL
        |  SELECT 'unique(l_orderkey,l_linenumber,l_partkey,l_suppkey)', FALSE,
        |         (SELECT COUNT(*) = 0 FROM (
        |            SELECT 1 FROM lineitem
        |            GROUP BY l_orderkey, l_linenumber, l_partkey, l_suppkey
        |            HAVING COUNT(*) > 1))
        |  UNION ALL
        |  SELECT 'notnull(l_orderkey)', TRUE,
        |         (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL) = 0
        |  UNION ALL
        |  SELECT 'unique(o_orderkey)', TRUE,
        |         (SELECT COUNT(*) = COUNT(DISTINCT o_orderkey) FROM orders)
        |  UNION ALL
        |  SELECT 'unique(o_orderkey) [part]', TRUE,
        |         (SELECT COUNT(*) = COUNT(DISTINCT o_orderkey) FROM orders
        |          WHERE o_orderkey % 2 = 0)
        |  UNION ALL
        |  SELECT 'unique(o_orderpriority) [part]', FALSE,
        |         (SELECT COUNT(*) = COUNT(DISTINCT o_orderpriority) FROM orders
        |          WHERE o_orderkey % 2 = 0)
        |) ORDER BY con""".stripMargin) { (s, d) =>
      import s.implicits._
      val fx = fixture(s, d)
      val rows =
        TableConstraints.verify(s, fx.fact).map { case (c, r, h) =>
          (c.split("->").head, r, h) } ++
          TableConstraints.verify(s, fx.ord) ++
          TableConstraints.verify(s, fx.ordPartial).map { case (c, r, h) =>
            (s"$c [part]", r, h) }
      rows.toDF("con", "rely", "holds").orderBy("con")
    }
  )
}
