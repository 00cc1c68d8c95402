package graft.queries

import graft.{QueryDef, Tables}
import graft.QueryDef.sql
import graft.functions.{HistogramQuantileAgg, HllAggregator}
import org.apache.spark.sql.functions._

/** Scale-technique queries: sketch aggregation and bucketed co-located
  * joins — engine-added capabilities beyond reference parity. */
object ScaleQueries {

  /** DuckDB bit-spread mirror of Layout.spread16 (parenthesized —
    * << binds looser than & in some dialects). */
  private def spreadSql(e: String): String = {
    val s0 = s"($e & 65535)"
    val s1 = s"(($s0 | ($s0 << 8)) & 16711935)"
    val s2 = s"(($s1 | ($s1 << 4)) & 252645135)"
    val s3 = s"(($s2 | ($s2 << 2)) & 858993459)"
    s"(($s3 | ($s3 << 1)) & 1431655765)"
  }

  val all: Seq[QueryDef] = Seq(

    // ── Z-order (Morton) clustering code: integer bit-interleave of two
    //    16-bit coordinates — the multi-dim layout key zorderWrite sorts
    //    by so row-group stats prune box filters on BOTH columns
    sql("q_zorder_morton", {
      val x = spreadSql("(user_id % 65536)")
      val y = spreadSql("(event_id % 65536)")
      s"""SELECT event_id, CAST(($x | ($y << 1)) AS BIGINT) AS morton
         |FROM events ORDER BY event_id""".stripMargin
    }) { (s, d) =>
      graft.operators.Layout.mortonCode(
        col("user_id") % 65536, col("event_id") % 65536) match { case m =>
          Tables.events(s, d).select(col("event_id"), m.as("morton"))
            .orderBy("event_id")
      }
    },

    // ── A2 approximate variants: the typed HLL Aggregator (deterministic
    //    estimate, order-independent merge) next to the built-in HLL++ and
    //    the exact count. Sketch estimates can't be replayed by another
    //    engine, but the DERIVED output can: the exact count (DuckDB
    //    computes it too) plus a within-5% boolean per sketch, which the
    //    oracle pins to TRUE — a hash-gated accuracy contract instead of
    //    a rows-only shrug. Spec suite still measures the raw error.
    sql("q_agg_hll",
      """SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact,
        |       TRUE AS hll_within_bound, TRUE AS builtin_within_bound
        |FROM lineitem""".stripMargin) { (s, d) =>
      val hll = udaf(new HllAggregator(11))
      Tables.lineitem(s, d)
        .agg(
          countDistinct(col("l_partkey")).as("exact"),
          hll(col("l_partkey")).as("hll_estimate"),
          approx_count_distinct(col("l_partkey"), 0.02).as("builtin_estimate"))
        .select(col("exact"),
          (abs(col("hll_estimate") - col("exact")) / col("exact") < 0.05)
            .as("hll_within_bound"),
          (abs(col("builtin_estimate") - col("exact")) / col("exact") < 0.05)
            .as("builtin_within_bound"))
    },

    // ── mergeable quantile sketch (HistogramQuantileAgg): deterministic
    //    fixed-grid histogram, so unlike t-digest it CAN be hash-gated —
    //    the oracle replicates the identical grid/rank/midpoint arithmetic
    //    in SQL. Grid [0, 110000) × 4096 → max error ~27 on prices ~1e5.
    sql("q_agg_quantile_sketch",
      """WITH p AS (
        |  SELECT LEAST(GREATEST(CAST(FLOOR((l_extendedprice - 0.0) / ((110000.0 - 0.0) / 4096)) AS BIGINT), 0), 4095) AS bkt,
        |         COUNT(*) AS c
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT SUM(c) AS n FROM p),
        |cum AS (SELECT bkt, SUM(c) OVER (ORDER BY bkt) AS cum FROM p)
        |SELECT
        |  (SELECT MIN(0.0 + (bkt + 0.5) * ((110000.0 - 0.0) / 4096)) FROM cum, t WHERE cum >= CEIL(0.50 * n)) AS p50,
        |  (SELECT MIN(0.0 + (bkt + 0.5) * ((110000.0 - 0.0) / 4096)) FROM cum, t WHERE cum >= CEIL(0.90 * n)) AS p90,
        |  (SELECT MIN(0.0 + (bkt + 0.5) * ((110000.0 - 0.0) / 4096)) FROM cum, t WHERE cum >= CEIL(0.99 * n)) AS p99""".stripMargin) { (s, d) =>
      val sketch = udaf(new HistogramQuantileAgg(0.0, 110000.0, 4096, Seq(0.5, 0.9, 0.99)))
      Tables.lineitem(s, d)
        .agg(sketch(col("l_extendedprice")).as("qs"))
        .select(element_at(col("qs"), 1).as("p50"),
          element_at(col("qs"), 2).as("p90"),
          element_at(col("qs"), 3).as("p99"))
    },

    // ── skew-handling salted aggregation: two-phase salt split → merge.
    //    Result is salt-invariant (exact decimal-routed sums), so the
    //    oracle is the plain GROUP BY.
    sql("q_skew_salted_agg",
      """SELECT l_returnflag, COUNT(*) AS cnt,
        |       CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      graft.operators.Skew.saltedSumCount(
          Tables.lineitem(s, d), Seq("l_returnflag"),
          Seq("sum_qty" -> col("l_quantity"),
              "sum_price" -> col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))),
          saltFactor = 16)
        .select(col("l_returnflag"), col("cnt"),
          col("sum_qty").cast("double").as("sum_qty"),
          col("sum_price").cast("double").as("sum_price"))
        .orderBy("l_returnflag")
    },

    // ── salted skew JOIN: fact side salted by content hash, dim side
    //    replicated ×8, join on (key, salt) — result is exactly the plain
    //    join (the oracle), but a hot key spreads over 8 reducers
    sql("q_skew_salted_join",
      """SELECT l_orderkey, CAST(l_linenumber AS INT) AS l_linenumber,
        |       o_orderpriority
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      graft.operators.Skew.saltedJoin(
          Tables.lineitem(s, d).select("l_orderkey", "l_linenumber"),
          Tables.orders(s, d)
            .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority")),
          keys = Seq("l_orderkey"), saltFrom = "l_linenumber", saltFactor = 8)
        .select(col("l_orderkey"), col("l_linenumber").cast("int").as("l_linenumber"),
          col("o_orderpriority"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ── custom whole-operator stack: the W1 rank-limit idiom planned as
    //    TopKPerKeyExec (bounded per-partition heaps, partial/final like
    //    HashAggregate) via RankLimitRewrite + TopKPerKeyStrategy.
    //    Measured vs Spark's native WindowGroupLimit at sf0.1: ~20-25%
    //    faster (no per-partition full sort, no rank recompute). Results
    //    are identical to the window form — hence the window-SQL oracle.
    sql("q_topk_perkey",
      """WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |                  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |           FROM orders)
        |SELECT CAST(o_custkey AS BIGINT) AS o_custkey, CAST(o_orderkey AS BIGINT) AS o_orderkey, o_totalprice
        |FROM r WHERE rn <= 3 ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy(desc("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy(col("o_custkey"), desc("o_totalprice"), col("o_orderkey"))
    },

    // ── bucketed co-located join: both sides bucketed by the join key →
    //    SortMergeJoin with NO shuffle exchange (the 100 TB repeated-join
    //    pattern: pay the shuffle once at write time, never per query).
    //    Bucket tables live in the session warehouse (target/, scratch).
    sql("q_bucketed_join",
      """SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
        |       COUNT(*) AS n_items,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val ordersTbl = s"orders_bkt_$sfKey"
      val lineitemTbl = s"lineitem_bkt_$sfKey"
      // "pay the shuffle once at write time" includes across sessions: the
      // bucket FILES persist in a scratch dir keyed by sf, and a session
      // that finds them complete re-registers the (external) bucketed
      // table by DDL instead of rewriting — bucketing metadata lives in
      // the catalog entry, which the DDL recreates.
      def ensureBucketed(tbl: String, df: org.apache.spark.sql.DataFrame,
                         key: String, src: String): Unit =
        if (!s.catalog.tableExists(tbl)) {
          val dir = new java.io.File(s"/root/repo/target/bucketed/$tbl")
          val srcs = Seq(new java.io.File(src))
          if (graft.DerivedCache.fresh(dir, srcs, "_SUCCESS")) {
            s.sql(s"""CREATE TABLE $tbl (${df.schema.toDDL}) USING parquet
                     |CLUSTERED BY ($key) SORTED BY ($key) INTO 16 BUCKETS
                     |LOCATION '${dir.getAbsolutePath}'""".stripMargin)
          } else {
            graft.DerivedCache.ensure(dir, srcs, "_SUCCESS") {
              df.write.option("path", dir.getAbsolutePath)
                .bucketBy(16, key).sortBy(key).mode("overwrite").saveAsTable(tbl)
            }
          }
        }
      ensureBucketed(ordersTbl, Tables.orders(s, d), "o_orderkey",
        s"$d/orders.parquet")
      ensureBucketed(lineitemTbl, Tables.lineitem(s, d), "l_orderkey",
        s"$d/lineitem.parquet")
      s.table(ordersTbl)
        .join(s.table(lineitemTbl), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("revenue"))
        .orderBy("o_custkey")
    },

    // ── partition pruning: events written date-partitioned once per sf
    //    (the 100 TB layout — a day filter must touch one directory, not
    //    the table). The filter lands in the scan's PartitionFilters
    //    (asserted in PlanAuditSpec); the oracle is the same day filter
    //    over the unpartitioned table.
    sql("q_part_pruning",
      """SELECT event_type, COUNT(*) AS cnt
        |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-03'
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      s.read.parquet(partitionedEventsDir(s, d))
        .filter(col("event_date") === lit("2024-01-03"))
        .groupBy("event_type").agg(count(lit(1)).as("cnt"))
        .orderBy("event_type")
    },

    // ── DYNAMIC partition pruning: the partition values worth reading are
    //    only known at RUNTIME (top-5 busiest purchase days, computed from
    //    data), so no static filter can prune the fact scan — Spark's DPP
    //    inserts the dim's values as a runtime partition filter
    //    (dynamicpruningexpression, reusing the join's broadcast), and the
    //    fact scan opens 5 of ~30 date directories. At 100 TB this is THE
    //    star-schema pattern: dim filters prune fact partitions without a
    //    second planning pass. Plan audit asserts the dynamic filter; the
    //    oracle replays the same selection over the unpartitioned table.
    sql("q_dpp_prune",
      """WITH p AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, COUNT(*) AS c
        |           FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |top5 AS (SELECT d FROM p ORDER BY c DESC, d LIMIT 5)
        |SELECT t.d AS event_date, e.event_type, COUNT(*) AS cnt
        |FROM events e JOIN top5 t ON CAST(CAST(e.ts AS DATE) AS VARCHAR) = t.d
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val fact = s.read.parquet(partitionedEventsDir(s, d))
      val dim = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("d"))
        .agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), col("d")).limit(5)
        .select("d")
      fact.join(dim, fact("event_date") === dim("d"))
        .groupBy(col("event_date"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("event_date", "event_type")
    },

    // ── file-level min-max index + pruned scan: orders range-laid-out on
    //    o_orderkey, the stats-table listing stops non-intersecting files
    //    being OPENED at all (file skipping, not just row-group pruning);
    //    the oracle is the plain filter over the logical table. File-count
    //    reduction is asserted in LayoutSpec.
    sql("q_scan_minmax_index",
      """SELECT COUNT(*) AS cnt,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey BETWEEN 1000 AND 3000""".stripMargin) { (s, d) =>
      val dir = rangeLaidOrdersDir(s, d)
      val index = graft.operators.Layout.buildMinMaxIndex(s, dir, "o_orderkey")
      graft.operators.Layout.prunedRead(s, index, "o_orderkey", 1000L, 3000L)
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("sum_price"))
    },

    // ── bloom file-skipping index + needle lookup: the date-partitioned
    //    events table probed by event_id — partition pruning can't help
    //    (id isn't the partition key) and min-max only helps if ids
    //    happen to correlate with date; the per-file bloom names the
    //    candidate files for ANY column, clustered or not. Built once per
    //    sf (one distributed aggregate pass), persisted, reused — the
    //    index contract. False positives cost an opened file, never a
    //    wrong row (exact IN-filter follows); file-count cut asserted in
    //    LayoutSpec.
    sql("q_scan_bloom_index",
      """SELECT event_id, user_id, event_type FROM events
        |WHERE event_id IN (17, 423, 911) ORDER BY event_id""".stripMargin) { (s, d) =>
      val dir = partitionedEventsDir(s, d)
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val idxDir = new java.io.File(s"/root/repo/target/partitioned/events_bloomidx_$sfKey")
      graft.DerivedCache.ensure(idxDir,
          Seq(new java.io.File(s"$d/events.parquet")), "_SUCCESS") {
        graft.operators.Layout.buildBloomIndex(s, dir, "event_id")
          .write.mode("overwrite").parquet(idxDir.getAbsolutePath)
      }
      val index = s.read.parquet(idxDir.getAbsolutePath)
      graft.operators.Layout.bloomPrunedRead(s, index, "event_id",
          Seq(17L, 423L, 911L))
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    },

    // ── parquet AGGREGATE pushdown: COUNT/MIN/MAX answered from file
    //    FOOTERS (row-group statistics), zero data pages read — the
    //    metadata-only shape for table-level stats at 100 TB. Off by
    //    default in Spark; enabled on a derived session so the rest of
    //    the suite keeps the stock scan path. PlanAuditSpec asserts the
    //    scan really carries PushedAggregation.
    sql("q_scan_agg_pushdown",
      """SELECT COUNT(*) AS cnt,
        |       MIN(o_orderkey) AS min_k, MAX(o_orderkey) AS max_k
        |FROM orders""".stripMargin) { (s, d) =>
      val ss = s.newSession()
      // aggregate pushdown is a DSv2 capability — route parquet through
      // the V2 reader on this session only (V1 plans a full scan)
      ss.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      ss.conf.set("spark.sql.sources.useV1SourceList", "")
      Tables.orders(ss, d)
        .agg(count(lit(1)).as("cnt"),
          min("o_orderkey").as("min_k"), max("o_orderkey").as("max_k"))
    },

    // ── materialized-view auto-rewrite (plans.MvRewrite): the untouched
    //    user query — filter + group-by + sum/count over raw lineitem —
    //    is answered from the registered (returnflag, linestatus)
    //    summary by a Catalyst rule. `from_mv` hashes the PLAN fact that
    //    the scan switched to the view and never read the fact table;
    //    the oracle recomputes from base, so the summary must also be
    //    numerically exact. Registration is scoped to this query (built
    //    result is cached before deregistering).
    sql("q_scan_mv_rewrite",
      """SELECT l_returnflag,
        |       CAST(SUM(l_partkey) AS BIGINT) AS part_sum,
        |       COUNT(*) AS n, CAST(1 AS BIGINT) AS from_mv
        |FROM lineitem WHERE l_linestatus <> 'O'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      withLineitemMv(s, d) {
        graft.sources.SchemaCache.readDir(s, s"$d/lineitem.parquet")
          .filter(col("l_linestatus") =!= "O")
          .groupBy("l_returnflag")
          .agg(sum("l_partkey").as("part_sum"), count(lit(1)).as("n"))
      }
    },

    // ── MIN/MAX through the view: answered as MIN(min_col)/MAX(max_col)
    //    over the summary, result types identical to the base aggregate
    //    (the summary keeps min/max in the base column's own type).
    sql("q_scan_mv_rewrite_minmax",
      """SELECT l_returnflag,
        |       MIN(l_partkey) AS min_pk, MAX(l_partkey) AS max_pk,
        |       CAST(1 AS BIGINT) AS from_mv
        |FROM lineitem WHERE l_linestatus <> 'O'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      withLineitemMv(s, d) {
        graft.sources.SchemaCache.readDir(s, s"$d/lineitem.parquet")
          .filter(col("l_linestatus") =!= "O")
          .groupBy("l_returnflag")
          .agg(min("l_partkey").as("min_pk"), max("l_partkey").as("max_pk"))
      }
    },

    // ── AVG through the view: the rewrite answers it as the EXACT
    //    SUM(sum_col)/SUM(cnt_col) pair — both engines sum integers
    //    exactly (< 2⁵³, so the base's double accumulation is also
    //    exact) and divide once, so the hash holds bit-for-bit.
    sql("q_scan_mv_rewrite_avg",
      """SELECT l_returnflag,
        |       CAST(SUM(l_partkey) AS DOUBLE) / CAST(COUNT(l_partkey) AS DOUBLE)
        |         AS avg_pk,
        |       CAST(1 AS BIGINT) AS from_mv
        |FROM lineitem WHERE l_linestatus <> 'O'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      withLineitemMv(s, d) {
        graft.sources.SchemaCache.readDir(s, s"$d/lineitem.parquet")
          .filter(col("l_linestatus") =!= "O")
          .groupBy("l_returnflag")
          .agg(avg("l_partkey").as("avg_pk"))
      }
    },

    // ── COUNT(DISTINCT key) + COUNT(measure) through the view: the
    //    summary's grain preserves the exact distinct set of every key
    //    subset within any coarser group, so the distinct re-applies
    //    over thousands of summary rows instead of the fact scan (at
    //    100 TB the two-shuffle distinct runs on the summary, not the
    //    table); COUNT(measure) reads the stored non-null counts.
    //    DISTINCT over a MEASURE declines (spec-pinned) — this query is
    //    the sound half.
    sql("q_scan_mv_distinct",
      """SELECT l_returnflag,
        |       COUNT(DISTINCT l_linestatus) AS nd_ls,
        |       COUNT(l_partkey) AS n_pk,
        |       CAST(1 AS BIGINT) AS from_mv
        |FROM lineitem WHERE l_linestatus <> 'O'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      withLineitemMv(s, d) {
        graft.sources.SchemaCache.readDir(s, s"$d/lineitem.parquet")
          .filter(col("l_linestatus") =!= "O")
          .groupBy("l_returnflag")
          .agg(countDistinct(col("l_linestatus")).as("nd_ls"),
            count(col("l_partkey")).as("n_pk"))
      }
    },

    // ── ROLLUP through the view: Spark plans grouping analytics as
    //    Aggregate(Expand(base)); the rewrite replays the SAME Expand
    //    over the summary (nulled key copies, grouping-id literals kept
    //    verbatim), so at 100 TB the ×|grouping sets| row multiplier
    //    applies to a few thousand summary rows, not the fact scan.
    //    Per-column GROUPING flags (cast BIGINT both sides) pin the
    //    subtotal rows; the row-sorting hash makes the engines' NULL
    //    ordering difference irrelevant.
    sql("q_scan_mv_rollup",
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(l_partkey) AS BIGINT) AS sp,
        |       MIN(l_partkey) AS mn, MAX(l_partkey) AS mx, COUNT(*) AS n,
        |       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
        |       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
        |       CAST(1 AS BIGINT) AS from_mv
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      withLineitemMv(s, d) {
        graft.sources.SchemaCache.readDir(s, s"$d/lineitem.parquet")
          .rollup("l_returnflag", "l_linestatus")
          .agg(sum("l_partkey").as("sp"),
            min("l_partkey").as("mn"), max("l_partkey").as("mx"),
            count(lit(1)).as("n"),
            grouping(col("l_returnflag")).cast("long").as("g_rf"),
            grouping(col("l_linestatus")).cast("long").as("g_ls"))
          .orderBy("g_rf", "g_ls", "l_returnflag", "l_linestatus")
      }
    },

    // ── CAPSTONE: the MV lifecycle against a LIVE txn table — register
    //    a snapshot-pinned view (rewrites, from_mv=1), commit a delta
    //    (the SAME query silently falls back to base because the live
    //    file set no longer matches — stale answers structurally
    //    impossible, from_mv=0 with FULL-data numbers), then refreshTxn
    //    O(Δ) and rewrite again (from_mv=1, full data). One row per
    //    (stage, returnflag); a stale rewrite, a missed fallback, or a
    //    drifting refresh each breaks a stage hash.
    sql("q21_mv_lifecycle",
      """WITH v1 AS (SELECT * FROM lineitem WHERE l_orderkey % 3 <> 0)
        |SELECT 'a_mv' AS stage, l_returnflag,
        |       CAST(SUM(l_partkey) AS BIGINT) AS part_sum,
        |       COUNT(*) AS n, CAST(1 AS BIGINT) AS from_mv
        |FROM v1 WHERE l_linestatus <> 'O' GROUP BY l_returnflag
        |UNION ALL
        |SELECT 'b_stale', l_returnflag, CAST(SUM(l_partkey) AS BIGINT),
        |       COUNT(*), CAST(0 AS BIGINT)
        |FROM lineitem WHERE l_linestatus <> 'O' GROUP BY l_returnflag
        |UNION ALL
        |SELECT 'c_refreshed', l_returnflag, CAST(SUM(l_partkey) AS BIGINT),
        |       COUNT(*), CAST(1 AS BIGINT)
        |FROM lineitem WHERE l_linestatus <> 'O' GROUP BY l_returnflag
        |ORDER BY stage, l_returnflag""".stripMargin) { (s, d) =>
      import graft.plans.{Mv, MvRewrite}
      import graft.sources.TxnTable
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val table = graft.Scratch.dir(s"/root/repo/target/tmp/mvlc_table_$sfKey")
      val mvDir = graft.Scratch.dir(s"/root/repo/target/tmp/mvlc_view_$sfKey")
      val li = graft.sources.SchemaCache.readDir(s, s"$d/lineitem.parquet")
      TxnTable.commit(s, li.filter(col("l_orderkey") % 3 =!= 0), table,
        overwrite = false)
      val keys = Seq("l_returnflag", "l_linestatus")
      val v1 = Mv.registerTxn(s, "mvlc", table, mvDir, keys, Seq("l_partkey"))
      def staged(stage: String) = {
        val q = TxnTable.read(s, table)
          .filter(col("l_linestatus") =!= "O")
          .groupBy("l_returnflag")
          .agg(sum("l_partkey").as("part_sum"), count(lit(1)).as("n"))
        val plan = q.queryExecution.executedPlan.toString()
        val fromMv = plan.contains("mvlc_view") && !plan.contains("mvlc_table")
        // localCheckpoint, not cache: refreshTxn later DELETES and
        // replaces the MV directory this stage's plan reads — a cached
        // partition lost to eviction would recompute against vanished
        // files (or silently read empty); the checkpoint pins the rows
        // and fails loudly instead
        q.select(lit(stage).as("stage"), col("l_returnflag"),
            col("part_sum"), col("n"),
            lit(if (fromMv) 1L else 0L).as("from_mv"))
          .localCheckpoint(true)
      }
      try {
        val a = staged("a_mv")
        TxnTable.commit(s, li.filter(col("l_orderkey") % 3 === 0), table,
          overwrite = false)
        val b = staged("b_stale")
        Mv.refreshTxn(s, "mvlc", table, v1, mvDir, keys, Seq("l_partkey"))
        val c = staged("c_refreshed")
        a.unionByName(b).unionByName(c).orderBy("stage", "l_returnflag")
      } finally MvRewrite.deregister("mvlc")
    },

    // ── JOIN-AWARE MV rewrite (plans.MvRewrite.MvJoinDef): the untouched
    //    star query — lineitem ⋈ orders grouped by a DIM attribute — is
    //    answered from the pre-joined summary; neither base table is
    //    scanned (from_mv hashes the plan fact). At 100 TB this is the
    //    difference between re-running the fact-side shuffle join and
    //    reading a few hundred summary rows. Orders' key uniqueness
    //    (the soundness bedrock) is enforced at build time.
    sql("q_scan_mv_join",
      """SELECT o_orderpriority,
        |       CAST(SUM(l_partkey) AS BIGINT) AS part_sum,
        |       COUNT(*) AS n, CAST(1 AS BIGINT) AS from_mv
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      import graft.plans.{Mv, MvRewrite}
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val mvDir = new java.io.File(s"/root/repo/target/mv/li_ord_star_$sfKey")
      graft.DerivedCache.ensure(mvDir,
          Seq(new java.io.File(s"$d/lineitem.parquet"),
            new java.io.File(s"$d/orders.parquet")), "_SUCCESS") {
        Mv.buildJoin(graft.sources.SchemaCache.readDir(s, s"$d/lineitem.parquet"),
          graft.sources.SchemaCache.readDir(s, s"$d/orders.parquet"),
          "l_orderkey", "o_orderkey", Seq("o_orderpriority"),
          Seq("l_partkey"), mvDir.getAbsolutePath)
      }
      Mv.registerJoin(s, "li_ord_star", "lineitem.parquet", "orders.parquet",
        "l_orderkey", "o_orderkey", mvDir.getAbsolutePath,
        Seq("o_orderpriority"), Seq("l_partkey"))
      try {
        val q = graft.sources.SchemaCache.readDir(s, s"$d/lineitem.parquet")
          .join(graft.sources.SchemaCache.readDir(s, s"$d/orders.parquet"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(sum("l_partkey").as("part_sum"), count(lit(1)).as("n"))
        mvStamped(q, "li_ord_star",
          Seq("lineitem.parquet", "orders.parquet"), "o_orderpriority")
      } finally MvRewrite.deregister("li_ord_star")
    },

    // ── the OLAP capstone: ROLLUP over the star schema answered from
    //    the summary cache. Spark plans GROUP BY ROLLUP as
    //    Aggregate(Expand(join)); the rewrite replays the identical
    //    Expand (nulled key copies, grouping-id literals) over the
    //    pre-joined summary, so the ×|grouping sets| multiplier applies
    //    to summary rows — at 100 TB the subtotal cube costs thousands
    //    of rows, not a fact⋈dim join. Plain SQL in, untouched.
    sql("q_scan_mv_star_rollup",
      """SELECT c_mktsegment, o_orderpriority,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS sk,
        |       MIN(o_orderkey) AS mn, COUNT(*) AS n,
        |       CAST(GROUPING(c_mktsegment) AS BIGINT) AS g1,
        |       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g2,
        |       CAST(1 AS BIGINT) AS from_mv
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY ROLLUP(c_mktsegment, o_orderpriority)
        |ORDER BY g1, g2, c_mktsegment, o_orderpriority""".stripMargin) { (s, d) =>
      import graft.plans.{Mv, MvRewrite}
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val mvDir = new java.io.File(s"/root/repo/target/mv/ord_cust_roll_$sfKey")
      graft.DerivedCache.ensure(mvDir,
          Seq(new java.io.File(s"$d/orders.parquet"),
            new java.io.File(s"$d/customer.parquet")), "_SUCCESS") {
        Mv.buildJoin(graft.sources.SchemaCache.readDir(s, s"$d/orders.parquet"),
          graft.sources.SchemaCache.readDir(s, s"$d/customer.parquet"),
          "o_custkey", "c_custkey",
          Seq("c_mktsegment", "o_orderpriority"), Seq("o_orderkey"),
          mvDir.getAbsolutePath)
      }
      Mv.registerJoin(s, "ord_cust_roll", "orders.parquet",
        "customer.parquet", "o_custkey", "c_custkey",
        mvDir.getAbsolutePath, Seq("c_mktsegment", "o_orderpriority"),
        Seq("o_orderkey"))
      try {
        graft.sources.SchemaCache.readDir(s, s"$d/orders.parquet")
          .createOrReplaceTempView("mvroll_orders")
        graft.sources.SchemaCache.readDir(s, s"$d/customer.parquet")
          .createOrReplaceTempView("mvroll_customer")
        val q = s.sql(
          """SELECT c_mktsegment, o_orderpriority,
            |       CAST(SUM(o_orderkey) AS BIGINT) AS sk,
            |       MIN(o_orderkey) AS mn, COUNT(*) AS n,
            |       CAST(GROUPING(c_mktsegment) AS BIGINT) AS g1,
            |       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g2
            |FROM mvroll_orders JOIN mvroll_customer
            |  ON o_custkey = c_custkey
            |GROUP BY ROLLUP(c_mktsegment, o_orderpriority)""".stripMargin)
        mvStamped(q, "ord_cust_roll",
          Seq("orders.parquet", "customer.parquet"), "g1")
      } finally MvRewrite.deregister("ord_cust_roll")
    },

    // ── SNOWFLAKE MV rewrite: lineitem ⋈ orders ⋈ customer — customer
    //    keys ORDERS' o_custkey, not the fact (the snowflake hop) — and
    //    the whole two-hop chain answers from one pre-joined summary
    //    keyed by the outermost dim attribute. The match compares leaf
    //    and edge SETS, so Catalyst may reorder the joins freely.
    sql("q_scan_mv_snowflake",
      """SELECT c_mktsegment,
        |       CAST(SUM(l_partkey) AS BIGINT) AS part_sum,
        |       COUNT(*) AS n, CAST(1 AS BIGINT) AS from_mv
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      import graft.plans.{Mv, MvRewrite}
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val mvDir = new java.io.File(s"/root/repo/target/mv/li_snow_$sfKey")
      graft.DerivedCache.ensure(mvDir,
          Seq(new java.io.File(s"$d/lineitem.parquet"),
            new java.io.File(s"$d/orders.parquet"),
            new java.io.File(s"$d/customer.parquet")), "_SUCCESS") {
        Mv.buildStar(graft.sources.SchemaCache.readDir(s, s"$d/lineitem.parquet"),
          Seq((graft.sources.SchemaCache.readDir(s, s"$d/orders.parquet"), "l_orderkey", "o_orderkey"),
            (graft.sources.SchemaCache.readDir(s, s"$d/customer.parquet"), "o_custkey", "c_custkey")),
          Seq("c_mktsegment"), Seq("l_partkey"), mvDir.getAbsolutePath)
      }
      Mv.registerStar(s, "li_snow", "lineitem.parquet",
        Seq(("orders.parquet", "l_orderkey", "o_orderkey"),
          ("customer.parquet", "o_custkey", "c_custkey")),
        mvDir.getAbsolutePath, Seq("c_mktsegment"), Seq("l_partkey"))
      try {
        val q = graft.sources.SchemaCache.readDir(s, s"$d/lineitem.parquet")
          .join(graft.sources.SchemaCache.readDir(s, s"$d/orders.parquet"),
            col("l_orderkey") === col("o_orderkey"))
          .join(graft.sources.SchemaCache.readDir(s, s"$d/customer.parquet"),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(sum("l_partkey").as("part_sum"), count(lit(1)).as("n"))
        mvStamped(q, "li_snow",
          Seq("lineitem.parquet", "orders.parquet", "customer.parquet"),
          "c_mktsegment")
      } finally MvRewrite.deregister("li_snow")
    },

    // ── LEFT-OUTER MV rewrite: the reference's own dimension joins are
    //    LEFT joins (listings keep rows whose enrichment lookup missed),
    //    so this is the first star shape a real summary-cache user asks
    //    for. The dim is DELIBERATELY incomplete (even orderkeys only):
    //    half the fact rows are unmatched and land in a NULL-key group,
    //    which the summary carries as a NULL-key row — the rewrite
    //    answers the LEFT query, null group included, without touching
    //    either base scan. Left edges register DIRECTIONALLY (pair + the
    //    null-extended side), so an inner-built view can never claim
    //    this query nor this view an inner query (spec'd in
    //    MvRewriteSpec).
    sql("q_scan_mv_join_left",
      """WITH ord2 AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT o_orderpriority,
        |       CAST(SUM(l_partkey) AS BIGINT) AS part_sum,
        |       COUNT(*) AS n, CAST(1 AS BIGINT) AS from_mv
        |FROM lineitem LEFT JOIN ord2 ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      import graft.plans.{Mv, MvRewrite}
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val dimDir = new java.io.File(s"/root/repo/target/mv/orders_even_$sfKey")
      val mvDir = new java.io.File(s"/root/repo/target/mv/li_ord_left_$sfKey")
      val srcs = Seq(new java.io.File(s"$d/lineitem.parquet"),
        new java.io.File(s"$d/orders.parquet"))
      graft.DerivedCache.ensure(dimDir, srcs, "_SUCCESS") {
        graft.sources.SchemaCache.readDir(s, s"$d/orders.parquet")
          .filter(col("o_orderkey") % 2 === 0)
          .write.mode("overwrite").parquet(dimDir.getAbsolutePath)
      }
      graft.DerivedCache.ensure(mvDir, srcs, "_SUCCESS") {
        Mv.buildJoin(graft.sources.SchemaCache.readDir(s, s"$d/lineitem.parquet"),
          s.read.parquet(dimDir.getAbsolutePath),
          "l_orderkey", "o_orderkey", Seq("o_orderpriority"),
          Seq("l_partkey"), mvDir.getAbsolutePath, joinType = "left")
      }
      Mv.registerJoin(s, "li_ord_left", "lineitem.parquet",
        dimDir.getName, "l_orderkey", "o_orderkey", mvDir.getAbsolutePath,
        Seq("o_orderpriority"), Seq("l_partkey"), joinType = "left")
      try {
        val q = graft.sources.SchemaCache.readDir(s, s"$d/lineitem.parquet")
          .join(s.read.parquet(dimDir.getAbsolutePath),
            col("l_orderkey") === col("o_orderkey"), "left")
          .groupBy("o_orderpriority")
          .agg(sum("l_partkey").as("part_sum"), count(lit(1)).as("n"))
        mvStamped(q, "li_ord_left",
          Seq("lineitem.parquet", "orders_even"), "o_orderpriority")
      } finally MvRewrite.deregister("li_ord_left")
    },

    // ── VIEW SUBSUMPTION, narrowest form: ONE wide LEFT-star summary
    //    (lineitem left⋈ odd-suppliers left⋈ even-orders) answers the
    //    BARE fact aggregate — both dims dropped. Sound because left
    //    edges are fact-preserving and non-fanning: removing them
    //    leaves the fact-row multiset the summary aggregated unchanged.
    //    At 100 TB one maintained wide summary serves the whole family
    //    of narrower rollups instead of one view per query shape.
    sql("q_scan_mv_narrow",
      """SELECT l_linestatus,
        |       CAST(SUM(l_partkey) AS BIGINT) AS part_sum,
        |       COUNT(*) AS n, CAST(1 AS BIGINT) AS from_mv
        |FROM lineitem GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin) { (s, d) =>
      withWideLeftStar(s, d) {
        val q = graft.sources.SchemaCache.readDir(s, s"$d/lineitem.parquet")
          .groupBy("l_linestatus")
          .agg(sum("l_partkey").as("part_sum"), count(lit(1)).as("n"))
        mvStamped(q, "li_wide", Seq("lineitem.parquet"), "l_linestatus")
      }
    },

    // ── VIEW SUBSUMPTION, mixed form: the SAME wide LEFT-star view —
    //    the query INNER-joins the supplier dim (innerized: matched
    //    rows are exactly the summary groups with a non-null s_suppkey)
    //    and never mentions the orders dim (dropped). The dim is odd
    //    suppliers only, so the inner join genuinely filters — the
    //    NULL-key groups the rewrite excludes carry real rows.
    sql("q_scan_mv_narrow_mixed",
      """WITH sup2 AS (SELECT * FROM supplier WHERE s_suppkey % 2 = 1)
        |SELECT s_suppkey,
        |       CAST(SUM(l_partkey) AS BIGINT) AS part_sum,
        |       COUNT(*) AS n, CAST(1 AS BIGINT) AS from_mv
        |FROM lineitem JOIN sup2 ON l_suppkey = s_suppkey
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      withWideLeftStar(s, d) {
        val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
        val q = graft.sources.SchemaCache.readDir(s, s"$d/lineitem.parquet")
          .join(s.read.parquet(s"/root/repo/target/mv/sup_odd_$sfKey"),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy("s_suppkey")
          .agg(sum("l_partkey").as("part_sum"), count(lit(1)).as("n"))
        mvStamped(q, "li_wide", Seq("lineitem.parquet", "sup_odd"),
          "s_suppkey")
      }
    },

    // ── WORKLOAD-DRIVEN MV ADVISOR: feed the advisor the queries a
    //    deployment actually runs; it extracts each one's summary shape
    //    from the PLAN (grouping + filter columns → keys, integral
    //    agg children → measures, DISTINCT targets → keys), merges one
    //    recommendation per base (the key-subset rewrite makes the
    //    union view serve every contributor), prices it with the exact
    //    summary cardinality, and flags recommend iff the summary is
    //    ≤ half the base. A non-deterministic-filter query is skipped
    //    (no view could ever serve it) — the oracle pins n_queries
    //    counting only the three servable lineitem queries.
    sql("q_mv_advisor",
      """SELECT 'lineitem.parquet' AS base,
        |       'l_linestatus,l_returnflag' AS view_keys,
        |       'l_partkey,l_suppkey' AS view_measures,
        |       CAST(3 AS BIGINT) AS n_queries,
        |       (SELECT COUNT(*) FROM
        |          (SELECT DISTINCT l_linestatus, l_returnflag FROM lineitem)) AS est_rows,
        |       (SELECT COUNT(*) FROM lineitem) AS base_rows,
        |       TRUE AS recommend
        |UNION ALL
        |SELECT 'orders.parquet', 'o_orderpriority', 'o_custkey',
        |       CAST(1 AS BIGINT),
        |       (SELECT COUNT(*) FROM
        |          (SELECT DISTINCT o_orderpriority FROM orders)),
        |       (SELECT COUNT(*) FROM orders), TRUE
        |ORDER BY base""".stripMargin) { (s, d) =>
      import graft.plans.MvAdvisor
      val li = graft.sources.SchemaCache.readDir(s, s"$d/lineitem.parquet")
      val ord = graft.sources.SchemaCache.readDir(s, s"$d/orders.parquet")
      MvAdvisor.recommend(s, Seq(
        li.filter(col("l_linestatus") === "F")
          .groupBy("l_returnflag").agg(sum("l_partkey").as("ps")),
        li.groupBy("l_returnflag", "l_linestatus")
          .agg(avg("l_suppkey").as("asup"), min("l_partkey").as("mp")),
        li.groupBy("l_linestatus")
          .agg(countDistinct("l_returnflag").as("nrf"),
            count(lit(1)).as("n")),
        ord.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), sum("o_custkey").as("sc")),
        // unservable: sampling filter — no summary answers it
        li.filter(rand() < 0.5)
          .groupBy("l_returnflag").agg(sum("l_partkey").as("ps"))),
        exactNdv = true)
        .orderBy("base")
    },

    // ── STAR ADVISOR: the same workload analysis over JOIN-aggregate
    //    queries. Edges orient by DATA: the advisor roots the join tree
    //    at each fact candidate and probes the would-be dim keys for
    //    uniqueness (orders unique on o_orderkey, customer on
    //    c_custkey, lineitem on neither → fact = lineitem, dims in
    //    chain order). Two queries over lineitem⋈orders merge into one
    //    recommendation (key-subset rewrites serve both); the snowflake
    //    query recommends its own two-hop view. Output rows feed
    //    straight into Mv.buildStar/registerStar — the closing loop is
    //    spec-pinned in MvAdvisorSpec.
    sql("q_mv_advisor_star",
      """SELECT 'lineitem.parquet' AS fact,
        |       'orders.parquet:l_orderkey=o_orderkey:inner' AS star,
        |       'l_linestatus,o_orderpriority' AS view_keys,
        |       'l_partkey,l_suppkey' AS view_measures,
        |       CAST(2 AS BIGINT) AS n_queries,
        |       (SELECT COUNT(*) FROM
        |          (SELECT DISTINCT l_linestatus, o_orderpriority
        |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey)) AS est_rows,
        |       (SELECT COUNT(*) FROM lineitem) AS fact_rows,
        |       TRUE AS recommend
        |UNION ALL
        |SELECT 'lineitem.parquet',
        |       'orders.parquet:l_orderkey=o_orderkey:inner,customer.parquet:o_custkey=c_custkey:inner',
        |       'c_mktsegment', 'l_partkey', CAST(1 AS BIGINT),
        |       (SELECT COUNT(*) FROM
        |          (SELECT DISTINCT c_mktsegment
        |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |           JOIN customer ON o_custkey = c_custkey)),
        |       (SELECT COUNT(*) FROM lineitem), TRUE
        |ORDER BY star""".stripMargin) { (s, d) =>
      import graft.plans.MvAdvisor
      val li = graft.sources.SchemaCache.readDir(s, s"$d/lineitem.parquet")
      val ord = graft.sources.SchemaCache.readDir(s, s"$d/orders.parquet")
      val cust = graft.sources.SchemaCache.readDir(s, s"$d/customer.parquet")
      MvAdvisor.recommendStars(s, Seq(
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority").agg(sum("l_partkey").as("ps")),
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(sum("l_partkey").as("ps"), count(lit(1)).as("n")),
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority", "l_linestatus")
          .agg(min("l_suppkey").as("ms"))),
        exactNdv = true)
        .orderBy("star")
    },

    // ── THE SELF-DRIVING SUMMARY CACHE (capstone): the advisor observes
    //    a LAKEHOUSE workload (TxnTable snapshot scans — txnCandidate
    //    resolves the scan's file set back to the table + version),
    //    recommends the version-pinned view, registerTxn builds EXACTLY
    //    the recommendation (from_mv=1), a commit drifts the live file
    //    set (structural staleness → from_mv=0 with full-data numbers),
    //    refreshTxn O(Δ) re-serves (from_mv=1). The rec column pins WHAT
    //    was recommended; each stage hash pins that the recommended view
    //    actually answered.
    sql("q_mv_advisor_lifecycle",
      """WITH v1 AS (SELECT * FROM orders WHERE o_orderkey % 3 <> 0)
        |SELECT 'a_mv' AS stage, o_orderpriority,
        |       CAST(SUM(o_custkey) AS BIGINT) AS cust_sum, COUNT(*) AS n,
        |       CAST(1 AS BIGINT) AS from_mv,
        |       'o_orderpriority,o_orderstatus|o_custkey' AS rec
        |FROM v1 WHERE o_orderstatus <> 'P' GROUP BY o_orderpriority
        |UNION ALL
        |SELECT 'b_stale', o_orderpriority, CAST(SUM(o_custkey) AS BIGINT),
        |       COUNT(*), CAST(0 AS BIGINT),
        |       'o_orderpriority,o_orderstatus|o_custkey'
        |FROM orders WHERE o_orderstatus <> 'P' GROUP BY o_orderpriority
        |UNION ALL
        |SELECT 'c_refreshed', o_orderpriority, CAST(SUM(o_custkey) AS BIGINT),
        |       COUNT(*), CAST(1 AS BIGINT),
        |       'o_orderpriority,o_orderstatus|o_custkey'
        |FROM orders WHERE o_orderstatus <> 'P' GROUP BY o_orderpriority
        |ORDER BY stage, o_orderpriority""".stripMargin) { (s, d) =>
      import graft.plans.{Mv, MvAdvisor, MvRewrite}
      import graft.sources.TxnTable
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val table = graft.Scratch.dir(s"/root/repo/target/tmp/mvadv_table_$sfKey")
      val mvDir = graft.Scratch.dir(s"/root/repo/target/tmp/mvadv_view_$sfKey")
      val ord = graft.sources.SchemaCache.readDir(s, s"$d/orders.parquet")
      TxnTable.commit(s, ord.filter(col("o_orderkey") % 3 =!= 0), table,
        overwrite = false)
      // the observed workload: two aggregates over the LIVE snapshot
      val rec = MvAdvisor.recommendTxn(s, Seq(
        TxnTable.read(s, table).groupBy("o_orderpriority")
          .agg(sum("o_custkey").as("cs")),
        TxnTable.read(s, table).filter(col("o_orderstatus") =!= "P")
          .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))),
        exactNdv = true).head()
      require(rec.getAs[Boolean]("recommend"),
        s"advisor declined the lifecycle view: $rec")
      val keys = rec.getAs[String]("view_keys").split(",").toSeq
      val ms = rec.getAs[String]("view_measures").split(",")
        .filter(_.nonEmpty).toSeq
      val recStr =
        s"${rec.getAs[String]("view_keys")}|${rec.getAs[String]("view_measures")}"
      val v1 = Mv.registerTxn(s, "mvadv", table, mvDir, keys, ms)
      require(v1.toLong == rec.getAs[Long]("version"),
        s"head moved between advise and build: $v1 vs $rec")
      def staged(stage: String) = {
        val q = TxnTable.read(s, table)
          .filter(col("o_orderstatus") =!= "P")
          .groupBy("o_orderpriority")
          .agg(sum("o_custkey").as("cust_sum"), count(lit(1)).as("n"))
        val plan = q.queryExecution.executedPlan.toString()
        val fromMv = plan.contains("mvadv_view") && !plan.contains("mvadv_table")
        // localCheckpoint, not cache: refreshTxn deletes and replaces the
        // MV directory this stage's plan reads (q21's documented choice)
        q.select(lit(stage).as("stage"), col("o_orderpriority"),
            col("cust_sum"), col("n"),
            lit(if (fromMv) 1L else 0L).as("from_mv"),
            lit(recStr).as("rec"))
          .localCheckpoint(true)
      }
      try {
        val a = staged("a_mv")
        TxnTable.commit(s, ord.filter(col("o_orderkey") % 3 === 0), table,
          overwrite = false)
        val b = staged("b_stale")
        Mv.refreshTxn(s, "mvadv", table, v1, mvDir, keys, ms)
        val c = staged("c_refreshed")
        a.unionByName(b).unionByName(c).orderBy("stage", "o_orderpriority")
      } finally MvRewrite.deregister("mvadv")
    },

    // ── LAYOUT ADVISOR: the data-placement sibling of the MV advisor —
    //    extract each query's predicate uses from the PLAN (equality /
    //    range / join-key per base column), measure NDV on the actual
    //    data, and recommend the layout move that makes the workload
    //    prune: low-cardinality filters → partition (directory pruning),
    //    range filters → zorder (+min-max file skipping), high-NDV point
    //    lookups → bloom index, join-only keys → bucketing. The oracle
    //    recomputes NDV from the same parquet and must land on the same
    //    action — the decision is data-derived, not hardcoded.
    sql("q_layout_advisor",
      """WITH u(base, col_name, n_eq, n_range, n_join) AS (
        |  VALUES ('lineitem.parquet', 'l_linestatus', 1, 0, 0),
        |         ('lineitem.parquet', 'l_orderkey', 0, 0, 1),
        |         ('lineitem.parquet', 'l_partkey', 1, 0, 0),
        |         ('orders.parquet', 'o_orderdate', 0, 2, 0),
        |         ('orders.parquet', 'o_orderkey', 0, 0, 1)),
        |st AS (
        |  SELECT 'lineitem.parquet' AS base, 'l_linestatus' AS col_name,
        |         COUNT(DISTINCT l_linestatus) AS ndv, COUNT(*) AS base_rows
        |  FROM lineitem
        |  UNION ALL SELECT 'lineitem.parquet', 'l_orderkey',
        |         COUNT(DISTINCT l_orderkey), COUNT(*) FROM lineitem
        |  UNION ALL SELECT 'lineitem.parquet', 'l_partkey',
        |         COUNT(DISTINCT l_partkey), COUNT(*) FROM lineitem
        |  UNION ALL SELECT 'orders.parquet', 'o_orderdate',
        |         COUNT(DISTINCT o_orderdate), COUNT(*) FROM orders
        |  UNION ALL SELECT 'orders.parquet', 'o_orderkey',
        |         COUNT(DISTINCT o_orderkey), COUNT(*) FROM orders)
        |SELECT u.base, u.col_name, CAST(n_eq AS BIGINT) AS n_eq,
        |       CAST(n_range AS BIGINT) AS n_range,
        |       CAST(n_join AS BIGINT) AS n_join, ndv, base_rows,
        |       CASE WHEN n_eq + n_range > 0 AND ndv <= 1024 THEN 'partition'
        |            WHEN n_range > 0 THEN 'zorder'
        |            WHEN n_eq > 0 THEN 'bloom'
        |            ELSE 'bucket' END AS action
        |FROM u JOIN st ON u.base = st.base AND u.col_name = st.col_name
        |ORDER BY u.base, u.col_name""".stripMargin) { (s, d) =>
      import graft.plans.LayoutAdvisor
      val li = graft.sources.SchemaCache.readDir(s, s"$d/lineitem.parquet")
      val ord = graft.sources.SchemaCache.readDir(s, s"$d/orders.parquet")
      LayoutAdvisor.recommend(s, Seq(
        li.filter(col("l_linestatus") === "F")
          .groupBy("l_returnflag").agg(sum("l_quantity").as("sq")),
        li.filter(col("l_partkey") === 500)
          .select("l_orderkey", "l_quantity"),
        ord.filter(col("o_orderdate") >= expr("TIMESTAMP '1996-01-01'") &&
            col("o_orderdate") < expr("TIMESTAMP '1997-01-01'"))
          .groupBy("o_orderpriority").agg(count(lit(1)).as("n")),
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))),
        // exact NDV pinned: the oracle recomputes COUNT(DISTINCT);
        // deployments default to the approx path (LayoutAdvisorSpec)
        exactNdv = true)
        .orderBy("base", "col_name")
    },

    // ── N-COLUMN Z-ORDER apply path: a 3-dimension box-filter workload
    //    over a zorderWriteN layout — per-file min/max tighten on EVERY
    //    clustered column, so the multi-col index opens a STRICT subset
    //    of the files (the pruned_strict pin rides the hash; a layout
    //    that stopped clustering would flip it false). Content equals
    //    the plain filter — pruning may never drop a row.
    sql("q_layout_zorder",
      """WITH e AS (
        |  SELECT event_id, event_id % 251 AS x, user_id,
        |         CAST(FLOOR(value * 100) AS BIGINT) % 263 AS v
        |  FROM events)
        |SELECT event_id, v, TRUE AS pruned_strict
        |FROM e
        |WHERE x BETWEEN 20 AND 90 AND user_id BETWEEN 2 AND 8
        |  AND v BETWEEN 30 AND 150
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      import graft.operators.Layout
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val dir = graft.Scratch.dir(s"/root/repo/target/tmp/zorder3_$sfKey")
      val cols = Seq("x", "user_id", "v")
      Layout.zorderWriteN(Tables.events(s, d).select(
          col("event_id"),
          (col("event_id") % 251).as("x"),
          col("user_id"),
          (floor(col("value") * 100) % 263).as("v")),
        cols, dir, numFiles = 16)
      val idx = Layout.buildMinMaxIndexN(s, dir, cols).localCheckpoint(true)
      val bounds = Seq(("x", 20L, 90L), ("user_id", 2L, 8L), ("v", 30L, 150L))
      val opened = idx.filter(bounds.map { case (c, lo, hi) =>
        col(s"min_$c") <= hi && col(s"max_$c") >= lo }.reduce(_ && _)).count()
      Layout.prunedReadBox(s, idx, bounds)
        .select(col("event_id"), col("v"),
          lit(opened < idx.count()).as("pruned_strict"))
        .orderBy("event_id")
    },

    // ── HILBERT-curve clustering, same box workload as q_layout_zorder:
    //    the locality-preserving alternative the advisor names for 3+
    //    dimensions (consecutive Hilbert codes are always spatially
    //    adjacent — Morton jumps diagonally at power-of-two boundaries,
    //    widening per-file intervals). The native hilbert_code
    //    expression (Skilling transpose, whole-stage codegen) is the
    //    clustering key; content must equal the plain filter and the
    //    box must open a strict file subset, pinned on the hash.
    sql("q_layout_hilbert",
      """WITH e AS (
        |  SELECT event_id, event_id % 251 AS x, user_id,
        |         CAST(FLOOR(value * 100) AS BIGINT) % 263 AS v
        |  FROM events)
        |SELECT event_id, v, TRUE AS pruned_strict
        |FROM e
        |WHERE x BETWEEN 20 AND 90 AND user_id BETWEEN 2 AND 8
        |  AND v BETWEEN 30 AND 150
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      import graft.operators.Layout
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val dir = graft.Scratch.dir(s"/root/repo/target/tmp/hilbert3_$sfKey")
      val cols = Seq("x", "user_id", "v")
      Layout.hilbertWriteN(Tables.events(s, d).select(
          col("event_id"),
          (col("event_id") % 251).as("x"),
          col("user_id"),
          (floor(col("value") * 100) % 263).as("v")),
        cols, dir, numFiles = 16)
      val idx = Layout.buildMinMaxIndexN(s, dir, cols).localCheckpoint(true)
      val bounds = Seq(("x", 20L, 90L), ("user_id", 2L, 8L), ("v", 30L, 150L))
      val opened = idx.filter(bounds.map { case (c, lo, hi) =>
        col(s"min_$c") <= hi && col(s"max_$c") >= lo }.reduce(_ && _)).count()
      Layout.prunedReadBox(s, idx, bounds)
        .select(col("event_id"), col("v"),
          lit(opened < idx.count()).as("pruned_strict"))
        .orderBy("event_id")
    },

    // ── RANGE-QUANTIZED Z-ORDER on RAW wide domains — the aliasing
    //    regime the masked curves cannot serve: both clustering columns
    //    (event_id·1000003, user_id·999983) span domains ≫ 2^16, so the
    //    unscaled code's low-16-bit mask SCRAMBLES them (odd multiplier
    //    mod 65536 ≈ a bijection on consecutive ids) and every file's
    //    true [min, max] goes domain-wide — box pruning collapses.
    //    zorderWriteRanged measures each column's [min, max] and scales
    //    it to [0, 2^16) first (monotone), so per-file intervals
    //    tighten again. TWO pins ride the hash: the quantized layout
    //    opens a strict subset of its files (pruned_strict), and
    //    STRICTLY FEWER files than the same write without quantization
    //    on the same data, box, and file count (beats_aliased) —
    //    content equality with the plain filter proves pruning never
    //    cost a row.
    sql("q_layout_zorder_raw",
      """WITH e AS (
        |  SELECT event_id, event_id * 1000003 AS x, user_id * 999983 AS y
        |  FROM events),
        |b AS (SELECT (MAX(event_id) // 5) * 1000003 AS xlo,
        |             ((MAX(event_id) * 2) // 5) * 1000003 AS xhi,
        |             (MAX(user_id) // 5) * 999983 AS ylo,
        |             ((MAX(user_id) * 4) // 5) * 999983 AS yhi
        |      FROM events)
        |SELECT event_id, CAST(x AS BIGINT) AS x,
        |       TRUE AS pruned_strict, TRUE AS beats_aliased
        |FROM e, b
        |WHERE x BETWEEN b.xlo AND b.xhi AND y BETWEEN b.ylo AND b.yhi
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      import graft.operators.Layout
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val dirR = graft.Scratch.dir(s"/root/repo/target/tmp/zraw_ranged_$sfKey")
      val dirA = graft.Scratch.dir(s"/root/repo/target/tmp/zraw_aliased_$sfKey")
      val cols = Seq("x", "y")
      val src = Tables.events(s, d).select(
        col("event_id"),
        (col("event_id") * 1000003L).as("x"),
        (col("user_id") * 999983L).as("y"))
      val m = Tables.events(s, d)
        .agg(max(col("event_id").cast("long")), max(col("user_id").cast("long")))
        .head()
      val (maxId, maxU) = (m.getLong(0), m.getLong(1))
      Layout.zorderWriteRanged(src, cols, dirR, numFiles = 16)
      Layout.zorderWriteN(src, cols, dirA, numFiles = 16)
      val bounds = Seq(
        ("x", (maxId / 5) * 1000003L, (maxId * 2 / 5) * 1000003L),
        ("y", (maxU / 5) * 999983L, (maxU * 4 / 5) * 999983L))
      def indexOf(dir: String) =
        Layout.buildMinMaxIndexN(s, dir, cols).localCheckpoint(true)
      def openedIn(idx: org.apache.spark.sql.DataFrame): Long =
        idx.filter(bounds.map { case (c, lo, hi) =>
          col(s"min_$c") <= hi && col(s"max_$c") >= lo }.reduce(_ && _)).count()
      val idxR = indexOf(dirR)
      val (openR, totR) = (openedIn(idxR), idxR.count())
      val openA = openedIn(indexOf(dirA))
      Layout.prunedReadBox(s, idxR, bounds)
        .select(col("event_id"), col("x"),
          lit(openR < totR).as("pruned_strict"),
          lit(openR < openA).as("beats_aliased"))
        .orderBy("event_id")
    },

    // ── RANGE-QUANTIZED HILBERT on RAW wide domains — the hilbert
    //    sibling of q_layout_zorder_raw (the advisor's curve choice for
    //    3+ dimensions rides the same rangeScale composition): same
    //    aliasing regime, same head-to-head pins — the quantized
    //    hilbert layout opens a strict subset of its files AND strictly
    //    fewer than the same write without quantization; content equals
    //    the plain filter.
    sql("q_layout_hilbert_raw",
      """WITH e AS (
        |  SELECT event_id, event_id * 1000003 AS x, user_id * 999983 AS y
        |  FROM events),
        |b AS (SELECT (MAX(event_id) // 5) * 1000003 AS xlo,
        |             ((MAX(event_id) * 2) // 5) * 1000003 AS xhi,
        |             (MAX(user_id) // 5) * 999983 AS ylo,
        |             ((MAX(user_id) * 4) // 5) * 999983 AS yhi
        |      FROM events)
        |SELECT event_id, CAST(x AS BIGINT) AS x,
        |       TRUE AS pruned_strict, TRUE AS beats_aliased
        |FROM e, b
        |WHERE x BETWEEN b.xlo AND b.xhi AND y BETWEEN b.ylo AND b.yhi
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      import graft.operators.Layout
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val dirR = graft.Scratch.dir(s"/root/repo/target/tmp/hraw_ranged_$sfKey")
      val dirA = graft.Scratch.dir(s"/root/repo/target/tmp/hraw_aliased_$sfKey")
      val cols = Seq("x", "y")
      val src = Tables.events(s, d).select(
        col("event_id"),
        (col("event_id") * 1000003L).as("x"),
        (col("user_id") * 999983L).as("y"))
      val m = Tables.events(s, d)
        .agg(max(col("event_id").cast("long")), max(col("user_id").cast("long")))
        .head()
      val (maxId, maxU) = (m.getLong(0), m.getLong(1))
      Layout.zorderWriteRanged(src, cols, dirR, numFiles = 16,
        curve = "hilbert")
      Layout.hilbertWriteN(src, cols, dirA, numFiles = 16)
      val bounds = Seq(
        ("x", (maxId / 5) * 1000003L, (maxId * 2 / 5) * 1000003L),
        ("y", (maxU / 5) * 999983L, (maxU * 4 / 5) * 999983L))
      def indexOf(dir: String) =
        Layout.buildMinMaxIndexN(s, dir, cols).localCheckpoint(true)
      def openedIn(idx: org.apache.spark.sql.DataFrame): Long =
        idx.filter(bounds.map { case (c, lo, hi) =>
          col(s"min_$c") <= hi && col(s"max_$c") >= lo }.reduce(_ && _)).count()
      val idxR = indexOf(dirR)
      val (openR, totR) = (openedIn(idxR), idxR.count())
      val openA = openedIn(indexOf(dirA))
      Layout.prunedReadBox(s, idxR, bounds)
        .select(col("event_id"), col("x"),
          lit(openR < totR).as("pruned_strict"),
          lit(openR < openA).as("beats_aliased"))
        .orderBy("event_id")
    },

    // ── WINSORIZED quantization under OUTLIER SKEW: two sentinel rows
    //    near 2^62 stretch the true [min, max] so far that plain range
    //    scaling squeezes the whole bulk into bucket 0 — pruning
    //    collapses exactly like the unquantized regime. clipQuantile
    //    measures the [1%, 99%] bounds instead (one approx-percentile
    //    pass); the bulk keeps full bucket resolution and the sentinels
    //    clamp to the edge buckets. Pins ride the hash: the clipped
    //    layout's box scan reads under half the rows the plain-scaled
    //    one must (rows, not files — the collapsed layout also
    //    degenerates to fewer files), and the clamped sentinel rows
    //    provably round-trip (outliers_kept).
    sql("q_layout_zorder_clip",
      """WITH e AS (
        |  SELECT event_id, event_id * 1000003 AS x, user_id * 999983 AS y
        |  FROM events),
        |b AS (SELECT (MAX(event_id) // 20) * 1000003 AS xlo,
        |             (MAX(event_id) // 5) * 1000003 AS xhi,
        |             (MAX(user_id) // 2) * 999983 AS yhi
        |      FROM events)
        |SELECT event_id, CAST(x AS BIGINT) AS x,
        |       TRUE AS clip_in_bulk, TRUE AS beats_plain,
        |       TRUE AS outliers_kept
        |FROM e, b
        |WHERE x BETWEEN b.xlo AND b.xhi AND y BETWEEN 0 AND b.yhi
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      import graft.operators.Layout
      import s.implicits._
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val dirP = graft.Scratch.dir(s"/root/repo/target/tmp/zclip_plain_$sfKey")
      val dirC = graft.Scratch.dir(s"/root/repo/target/tmp/zclip_clip_$sfKey")
      val cols = Seq("x", "y")
      val big = 1L << 62
      val src = Tables.events(s, d).select(
          col("event_id"),
          (col("event_id") * 1000003L).as("x"),
          (col("user_id") * 999983L).as("y"))
        .unionByName(Seq((-1L, big, big), (-2L, big + 1, big))
          .toDF("event_id", "x", "y"))
      val mm = Tables.events(s, d)
        .agg(max(col("event_id").cast("long")),
          max(col("user_id").cast("long"))).head()
      val (maxId, maxU) = (mm.getLong(0), mm.getLong(1))
      Layout.zorderWriteRanged(src, cols, dirP, numFiles = 16)
      val clipped = Layout.zorderWriteRanged(src, cols, dirC, numFiles = 16,
        clipQuantile = 0.01)
      // the "bounds landed in the bulk, not on the sentinels" pin is
      // derived from the MEASURED bulk domain (the 99th percentile can
      // never exceed twice the bulk max while the sentinels sit at
      // 2^62) — a fixed absolute constant would flip FALSE at larger
      // scale factors once max(event_id)·1000003 outgrows it, failing
      // the oracle even though clipping worked
      val bulkMax = Map("x" -> maxId * 1000003L, "y" -> maxU * 999983L)
      val clipInBulk = clipped.forall { case (c, _, hi) => hi <= 2 * bulkMax(c) }
      // open-box rows metric: BOTH dimensions bounded (an x-only box
      // inflates through y-straddling files — repartitionByRange's
      // SAMPLED boundaries shift run to run, so the margin must not
      // depend on where they land), x narrow enough to sit inside one
      // x-quarter of the morton layout
      val bounds = Seq(
        ("x", (maxId / 20) * 1000003L, (maxId / 5) * 1000003L),
        ("y", 0L, (maxU / 2) * 999983L))
      def openedRows(dir: String): Long =
        Layout.buildMinMaxIndexN(s, dir, cols).localCheckpoint(true)
          .filter(bounds.map { case (c, lo, hi) =>
            col(s"min_$c") <= hi && col(s"max_$c") >= lo }.reduce(_ && _))
          .agg(coalesce(sum("n_rows"), lit(0L))).head().getLong(0)
      val (rowsP, rowsC) = (openedRows(dirP), openedRows(dirC))
      // the clamped outliers never vanish: both land in the clipped
      // layout's edge file and read back
      val outliersKept = s.read.parquet(dirC)
        .filter(col("x") >= lit(big)).count() == 2L
      val idxC = Layout.buildMinMaxIndexN(s, dirC, cols).localCheckpoint(true)
      Layout.prunedReadBox(s, idxC, bounds)
        .select(col("event_id"), col("x"),
          lit(clipInBulk).as("clip_in_bulk"),
          lit(rowsC * 2 < rowsP).as("beats_plain"),
          lit(outliersKept).as("outliers_kept"))
        .orderBy("event_id")
    },

    // ── COMPOSITE Z-ORDER ADVISOR: a workload range-filtering SEVERAL
    //    high-NDV columns of one base gets ONE multi-column layout
    //    recommendation (k single-column zorder rows would fight over
    //    the physical sort order); low-NDV range columns stay with
    //    `partition`. Data-derived like q_layout_advisor: the oracle
    //    recomputes NDV and must assemble the same column set — at
    //    sf0.001 l_partkey (ndv 200) partitions OUT of the composite,
    //    at sf0.01 (ndv 2000) it joins it, both engines agreeing.
    sql("q_layout_zorder_advice",
      """WITH u(base, col_name, n_range) AS (
        |  VALUES ('lineitem.parquet', 'l_extendedprice', 1),
        |         ('lineitem.parquet', 'l_orderkey', 2),
        |         ('lineitem.parquet', 'l_partkey', 1)),
        |st AS (
        |  SELECT 'l_extendedprice' AS col_name,
        |         COUNT(DISTINCT l_extendedprice) AS ndv,
        |         COUNT(*) AS base_rows,
        |         (MAX(l_extendedprice) - MIN(l_extendedprice)) >
        |           10 * (quantile_cont(l_extendedprice, 0.99) -
        |                 quantile_cont(l_extendedprice, 0.01)) AS skewed,
        |         quantile_cont(l_extendedprice, 0.75) =
        |           quantile_cont(l_extendedprice, 0.25) AS conc
        |  FROM lineitem
        |  UNION ALL SELECT 'l_orderkey', COUNT(DISTINCT l_orderkey),
        |         COUNT(*),
        |         (MAX(l_orderkey) - MIN(l_orderkey)) >
        |           10 * (quantile_cont(l_orderkey, 0.99) -
        |                 quantile_cont(l_orderkey, 0.01)),
        |         quantile_cont(l_orderkey, 0.75) =
        |           quantile_cont(l_orderkey, 0.25) FROM lineitem
        |  UNION ALL SELECT 'l_partkey', COUNT(DISTINCT l_partkey),
        |         COUNT(*),
        |         (MAX(l_partkey) - MIN(l_partkey)) >
        |           10 * (quantile_cont(l_partkey, 0.99) -
        |                 quantile_cont(l_partkey, 0.01)),
        |         quantile_cont(l_partkey, 0.75) =
        |           quantile_cont(l_partkey, 0.25) FROM lineitem),
        |z AS (SELECT u.base, u.col_name, u.n_range, st.base_rows,
        |             st.skewed, st.conc
        |      FROM u JOIN st USING (col_name) WHERE st.ndv > 1024)
        |SELECT base, COALESCE(string_agg(col_name, ',' ORDER BY col_name)
        |         FILTER (WHERE col_name <> 'l_extendedprice'), '') AS cols,
        |       COUNT(*) FILTER (WHERE col_name <> 'l_extendedprice') AS n_cols,
        |       CAST(COALESCE(SUM(n_range)
        |         FILTER (WHERE col_name <> 'l_extendedprice'), 0) AS BIGINT)
        |         AS n_range,
        |       MAX(base_rows) AS base_rows,
        |       COUNT(*) FILTER (WHERE col_name <> 'l_extendedprice')
        |         BETWEEN 2 AND 4 AS recommend,
        |       CAST(LEAST(16, FLOOR(63 / GREATEST(1,
        |         COUNT(*) FILTER (WHERE col_name <> 'l_extendedprice'))))
        |         AS BIGINT) AS bits,
        |       COALESCE(BOOL_OR(skewed)
        |         FILTER (WHERE col_name <> 'l_extendedprice'), FALSE)
        |         AS clip_recommended,
        |       CASE WHEN COALESCE(BOOL_OR(conc)
        |              FILTER (WHERE col_name <> 'l_extendedprice'), FALSE)
        |            THEN 'equidepth' ELSE 'range' END AS quant_mode,
        |       CASE WHEN COUNT(*) FILTER (WHERE col_name <> 'l_extendedprice') >= 3
        |            THEN 'hilbert' ELSE 'morton' END AS curve,
        |       CASE WHEN COUNT(*) FILTER (WHERE col_name = 'l_extendedprice') > 0
        |            THEN 'l_extendedprice (floating-point has no ' ||
        |                 'total-order ordinal (NaN, -0.0); cast to ' ||
        |                 'DECIMAL(18,s) or a scaled LONG surrogate)'
        |            ELSE '' END AS unsupported_cols
        |FROM z GROUP BY base ORDER BY base""".stripMargin) { (s, d) =>
      import graft.plans.LayoutAdvisor
      val li = graft.sources.SchemaCache.readDir(s, s"$d/lineitem.parquet")
      LayoutAdvisor.zorderAdvice(s, Seq(
        li.filter(col("l_orderkey") >= 100 && col("l_orderkey") < 5000)
          .select("l_orderkey", "l_quantity"),
        li.filter(col("l_partkey") <= 150).select("l_partkey"),
        li.filter(col("l_extendedprice") > 1000.0)
          .select("l_extendedprice")),
        exactNdv = true)
        .orderBy("base")
    },

    // ── SMALL-FILE / COMPACTION ADVISOR: rows-per-file health of a
    //    directory (deterministic — byte sizes vary by encoder, row
    //    counts don't), and the apply path: a 64-way fragmented write
    //    is flagged, Layout.compact (crash-safe swap) collapses it to
    //    one file, the re-measure clears the flag. The oracle derives
    //    the SAME verdict from the row count and the advisor's rule —
    //    at the sf where 600k rows make 64 files respectable, both
    //    engines agree the flag drops.
    sql("q_layout_compaction",
      """SELECT 'a_fragmented' AS stage, CAST(64 AS BIGINT) AS n_files,
        |       (SELECT COUNT(*) FROM lineitem) AS total_rows,
        |       (SELECT COUNT(*) FROM lineitem) // 64 AS avg_rows_per_file,
        |       ((SELECT COUNT(*) FROM lineitem) // 64) < 4096 AS recommend_compact
        |UNION ALL
        |SELECT 'b_compacted', CAST(1 AS BIGINT),
        |       (SELECT COUNT(*) FROM lineitem),
        |       (SELECT COUNT(*) FROM lineitem), FALSE
        |ORDER BY stage""".stripMargin) { (s, d) =>
      import graft.operators.Layout
      import graft.plans.LayoutAdvisor
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val dir = graft.Scratch.dir(s"/root/repo/target/tmp/compadv_$sfKey")
      graft.sources.SchemaCache.readDir(s, s"$d/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .repartition(64).write.parquet(dir)
      def staged(stage: String) =
        LayoutAdvisor.compactionAdvice(s, dir, targetRowsPerFile = 8192L)
          .select(lit(stage).as("stage"), col("n_files"), col("total_rows"),
            col("avg_rows_per_file"), col("recommend_compact"))
          .localCheckpoint(true)
      val a = staged("a_fragmented")
      Layout.compact(s, dir, targetBytes = 1L << 40) // → one file
      val b = staged("b_compacted")
      a.unionByName(b).orderBy("stage")
    },

    // ── compaction advice WITHOUT a scan (compactionAdviceTxn): the
    //    same verdict off the txn log's commit-time stats sidecars —
    //    at 100 TB the health check must be a metadata read, because
    //    the table it diagnoses is the one too big to rescan. Two
    //    fragmented commits (4 + 3 pinned files) → advise → OPTIMIZE
    //    to one file → advise again; both verdicts replayed by DuckDB
    //    from the deterministic file counts and orders' row count.
    sql("q_layout_compaction_txn",
      """SELECT 'a_fragmented' AS stage, CAST(7 AS BIGINT) AS n_files,
        |       (SELECT COUNT(*) FROM orders) AS total_rows,
        |       (SELECT COUNT(*) FROM orders) // 7 AS avg_rows_per_file,
        |       ((SELECT COUNT(*) FROM orders) // 7) < 4096 AS recommend_compact
        |UNION ALL
        |SELECT 'b_optimized', CAST(1 AS BIGINT),
        |       (SELECT COUNT(*) FROM orders),
        |       (SELECT COUNT(*) FROM orders), FALSE
        |ORDER BY stage""".stripMargin) { (s, d) =>
      import graft.plans.LayoutAdvisor
      import graft.sources.TxnTable
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val t = graft.Scratch.dir(s"/root/repo/target/tmp/compadvtxn_$sfKey")
      val ord = graft.sources.SchemaCache.readDir(s, s"$d/orders.parquet")
      TxnTable.commit(s, ord.filter(col("o_orderkey") % 3 === 0)
        .repartition(4), t, overwrite = false)
      TxnTable.commit(s, ord.filter(col("o_orderkey") % 3 =!= 0)
        .repartition(3), t, overwrite = false)
      def staged(stage: String) =
        LayoutAdvisor.compactionAdviceTxn(s, t, targetRowsPerFile = 8192L)
          .select(lit(stage).as("stage"), col("n_files"), col("total_rows"),
            col("avg_rows_per_file"), col("recommend_compact"))
          .localCheckpoint(true)
      val a = staged("a_fragmented")
      TxnTable.optimize(s, t, numFiles = 1)
      val b = staged("b_optimized")
      a.unionByName(b).orderBy("stage")
    },

    // ── VACUUM advisor (LayoutAdvisor.vacuumAdvice): what a retention
    //    choice would reclaim, priced from the log's dry-run orphan set
    //    and footer row counts — nothing deleted, nothing scanned. An
    //    overwrite leaves the whole v1 snapshot as time-travel debt:
    //    retaining only the head prices it reclaimable (and worth it —
    //    dead rows outweigh live); retaining from v1 reclaims nothing.
    sql("q_layout_vacuum",
      """SELECT 'a_retain_head' AS stage, CAST(2 AS BIGINT) AS n_referenced_files,
        |       CAST(3 AS BIGINT) AS n_reclaimable_files,
        |       (SELECT COUNT(*) FROM orders) AS reclaimable_rows,
        |       TRUE AS recommend_vacuum
        |UNION ALL
        |SELECT 'b_retain_all', CAST(5 AS BIGINT), CAST(0 AS BIGINT),
        |       CAST(0 AS BIGINT), FALSE
        |ORDER BY stage""".stripMargin) { (s, d) =>
      import graft.plans.LayoutAdvisor
      import graft.sources.TxnTable
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val t = graft.Scratch.dir(s"/root/repo/target/tmp/vacadv_$sfKey")
      val ord = graft.sources.SchemaCache.readDir(s, s"$d/orders.parquet")
      TxnTable.commit(s, ord.repartition(3), t, overwrite = false)
      TxnTable.commit(s, ord.filter(col("o_orderkey") % 2 === 0)
        .repartition(2), t, overwrite = true)
      def staged(stage: String, retainFrom: Int) =
        LayoutAdvisor.vacuumAdvice(s, t, retainFrom)
          .select(lit(stage).as("stage"), col("n_referenced_files"),
            col("n_reclaimable_files"), col("reclaimable_rows"),
            col("recommend_vacuum"))
          .localCheckpoint(true)
      val a = staged("a_retain_head", retainFrom = 2)
      val b = staged("b_retain_all", retainFrom = 1)
      a.unionByName(b).orderBy("stage")
    },

    // ── AGGREGATE-BELOW-JOIN rewrite: the two-level rollup — per-order
    //    partials joined to a dim, re-rolled to a dim attribute. The
    //    INNER aggregate alone is the registered view shape, and the
    //    rule's transformUp rewrites it IN PLACE under the join: the
    //    fact scan disappears while the join and outer rollup stand
    //    untouched. At 100 TB the per-key partial is the expensive leg
    //    (full fact shuffle); the dim join over the summary is cheap.
    sql("q_scan_mv_rollup_join",
      """WITH x AS (SELECT l_orderkey, CAST(SUM(l_partkey) AS BIGINT) AS ps
        |           FROM lineitem GROUP BY l_orderkey)
        |SELECT o_orderpriority, CAST(SUM(ps) AS BIGINT) AS part_sum,
        |       COUNT(*) AS n_orders, CAST(1 AS BIGINT) AS from_mv
        |FROM x JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      import graft.plans.{Mv, MvRewrite}
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val mvDir = new java.io.File(s"/root/repo/target/mv/li_by_order_$sfKey")
      graft.DerivedCache.ensure(mvDir,
          Seq(new java.io.File(s"$d/lineitem.parquet")), "_SUCCESS") {
        Mv.build(graft.sources.SchemaCache.readDir(s, s"$d/lineitem.parquet"),
          Seq("l_orderkey"), Seq("l_partkey"), mvDir.getAbsolutePath)
      }
      Mv.register(s, "li_by_order", "lineitem.parquet",
        mvDir.getAbsolutePath, Seq("l_orderkey"), Seq("l_partkey"))
      try {
        val inner = graft.sources.SchemaCache.readDir(s, s"$d/lineitem.parquet")
          .groupBy("l_orderkey").agg(sum("l_partkey").as("ps"))
        val q = inner
          .join(graft.sources.SchemaCache.readDir(s, s"$d/orders.parquet"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(sum("ps").as("part_sum"), count(lit(1)).as("n_orders"))
        mvStamped(q, "li_by_order", Seq("lineitem.parquet"), "o_orderpriority")
      } finally MvRewrite.deregister("li_by_order")
    },

    // ── MV refresh UNDER DELETES/UPDATES via the change feed: the
    //    lifecycle refreshTxn refuses (removed files) stays O(Δ) for
    //    SUM/COUNT views — each removed row's contribution retracts by
    //    the signed CDC aggregate. Stage a: snapshot-pinned view
    //    answers. Stage b: a MERGE doubles every 11th order's v and a
    //    DELETE drops every 7th, then refreshTxnCdc folds the row-level
    //    feed into the summary — the SAME untouched query answers
    //    from_mv=1 with post-change numbers. The refreshed summary
    //    drops min_/max_ (unretractable), so MIN/MAX queries decline —
    //    spec-pinned, never a wrong answer.
    sql("q_scan_mv_cdc_refresh",
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS g,
        |         CAST(o_custkey AS BIGINT) AS v
        |  FROM orders),
        |s1 AS (SELECT g, CAST(SUM(v) AS BIGINT) AS sv, COUNT(*) AS n
        |       FROM base GROUP BY g),
        |s2 AS (SELECT g,
        |              CAST(SUM(CASE WHEN k % 11 = 0 THEN v * 2 ELSE v END) AS BIGINT) AS sv,
        |              COUNT(*) AS n
        |       FROM base WHERE k % 7 <> 0 GROUP BY g)
        |SELECT 'a_mv' AS stage, g, sv, n, CAST(1 AS BIGINT) AS from_mv FROM s1
        |UNION ALL
        |SELECT 'b_refreshed', g, sv, n, CAST(1 AS BIGINT) FROM s2
        |ORDER BY stage, g""".stripMargin) { (s, d) =>
      import graft.plans.{Mv, MvRewrite}
      import graft.sources.TxnTable
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val table = graft.Scratch.dir(
        s"/root/repo/target/tmp/cdcmv_table_$sfKey")
      val mvDir = graft.Scratch.dir(
        s"/root/repo/target/tmp/cdcmv_view_$sfKey")
      val base = graft.sources.SchemaCache.readDir(s, s"$d/orders.parquet")
        .select(col("o_orderkey").as("k"),
          col("o_orderpriority").as("g"),
          col("o_custkey").cast("long").as("v"))
      TxnTable.commit(s, base, table, overwrite = false)
      val v1 = Mv.registerTxn(s, "cdcmv_q", table, mvDir, Seq("g"), Seq("v"))
      def staged(stage: String) = {
        val q = TxnTable.read(s, table)
          .groupBy("g").agg(sum("v").as("sv"), count(lit(1)).as("n"))
        val plan = q.queryExecution.executedPlan.toString()
        val fromMv = plan.contains("cdcmv_view") && !plan.contains("cdcmv_table")
        q.select(lit(stage).as("stage"), col("g"), col("sv"), col("n"),
            lit(if (fromMv) 1L else 0L).as("from_mv"))
          .localCheckpoint(true)
      }
      try {
        val a = staged("a_mv")
        graft.operators.Merge.upsert(s, table,
          base.filter(col("k") % 11 === 0)
            .select(col("k"), col("g"), (col("v") * 2).as("v")),
          Seq("k"))
        TxnTable.deleteWhere(s, table, col("k") % 7 === 0)
        Mv.refreshTxnCdc(s, "cdcmv_q", table, v1, mvDir,
          Seq("g"), Seq("v"), rowKeys = Seq("k"))
        val b = staged("b_refreshed")
        a.unionByName(b).orderBy("stage", "g")
      } finally MvRewrite.deregister("cdcmv_q")
    },

    // ── MIN/MAX surviving deletes: refreshTxnCdc(repairMinMax) keeps
    //    the FULL measure surface live through a MERGE + DELETE wave by
    //    recomputing extrema for exactly the feed-touched groups from
    //    the head snapshot (null-safe semi-join, pruned scan) while
    //    sums/counts retract additively. The same untouched
    //    SUM/MIN/MAX/COUNT query answers from_mv=1 both before the wave
    //    and after the repair refresh — where the plain refresh would
    //    have declined MIN/MAX forever after the first delete.
    sql("q_scan_mv_cdc_repair",
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS g,
        |         CAST(o_custkey AS BIGINT) AS v
        |  FROM orders),
        |post AS (SELECT k, g, CASE WHEN k % 11 = 0 THEN v * 2 ELSE v END AS v
        |         FROM base WHERE k % 7 <> 0),
        |s1 AS (SELECT g, CAST(SUM(v) AS BIGINT) AS sv, MIN(v) AS mn,
        |              MAX(v) AS mx, COUNT(*) AS n
        |       FROM base GROUP BY g),
        |s2 AS (SELECT g, CAST(SUM(v) AS BIGINT) AS sv, MIN(v) AS mn,
        |              MAX(v) AS mx, COUNT(*) AS n
        |       FROM post GROUP BY g)
        |SELECT 'a_mv' AS stage, g, sv, mn, mx, n,
        |       CAST(1 AS BIGINT) AS from_mv FROM s1
        |UNION ALL
        |SELECT 'b_repaired', g, sv, mn, mx, n, CAST(1 AS BIGINT) FROM s2
        |ORDER BY stage, g""".stripMargin) { (s, d) =>
      import graft.plans.{Mv, MvRewrite}
      import graft.sources.TxnTable
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val table = graft.Scratch.dir(
        s"/root/repo/target/tmp/cdcmvr_table_$sfKey")
      val mvDir = graft.Scratch.dir(
        s"/root/repo/target/tmp/cdcmvr_view_$sfKey")
      val base = graft.sources.SchemaCache.readDir(s, s"$d/orders.parquet")
        .select(col("o_orderkey").as("k"),
          col("o_orderpriority").as("g"),
          col("o_custkey").cast("long").as("v"))
      TxnTable.commit(s, base, table, overwrite = false)
      val v1 = Mv.registerTxn(s, "cdcmvr_q", table, mvDir, Seq("g"), Seq("v"))
      def staged(stage: String) = {
        val q = TxnTable.read(s, table)
          .groupBy("g").agg(sum("v").as("sv"), min("v").as("mn"),
            max("v").as("mx"), count(lit(1)).as("n"))
        val plan = q.queryExecution.executedPlan.toString()
        val fromMv = plan.contains("cdcmvr_view") && !plan.contains("cdcmvr_table")
        q.select(lit(stage).as("stage"), col("g"), col("sv"), col("mn"),
            col("mx"), col("n"), lit(if (fromMv) 1L else 0L).as("from_mv"))
          .localCheckpoint(true)
      }
      try {
        val a = staged("a_mv")
        graft.operators.Merge.upsert(s, table,
          base.filter(col("k") % 11 === 0)
            .select(col("k"), col("g"), (col("v") * 2).as("v")),
          Seq("k"))
        TxnTable.deleteWhere(s, table, col("k") % 7 === 0)
        Mv.refreshTxnCdc(s, "cdcmvr_q", table, v1, mvDir,
          Seq("g"), Seq("v"), rowKeys = Seq("k"), repairMinMax = true)
        val b = staged("b_repaired")
        a.unionByName(b).orderBy("stage", "g")
      } finally MvRewrite.deregister("cdcmvr_q")
    },

    // ── txn-pinned STAR view lifecycle: the summary of fact⋈customer
    //    pins the FACT's exact live-file set, so stage a answers the
    //    join-aggregate from the view (from_mv=1); a MERGE+DELETE commit
    //    changes the file set and the SAME query falls back structurally
    //    (from_mv=0, fresh numbers — stale answers impossible); then
    //    refreshStarTxnCdc folds the signed change feed THROUGH the
    //    broadcast dim join (O(Δ), min/max repaired from touched groups)
    //    and the query answers from the view again (from_mv=1,
    //    post-change numbers). At 100 TB: the star query reads thousands
    //    of summary rows; the refresh reads the feed, never the fact.
    sql("q_scan_mv_star_lifecycle",
      """WITH fact AS (
        |  SELECT o_orderkey AS k, o_custkey,
        |         CAST(o_custkey AS BIGINT) AS v
        |  FROM orders),
        |post AS (SELECT k, o_custkey,
        |                CASE WHEN k % 11 = 0 THEN v * 2 ELSE v END AS v
        |         FROM fact WHERE k % 7 <> 0),
        |s1 AS (SELECT c_mktsegment, CAST(SUM(v) AS BIGINT) AS sv,
        |              MIN(v) AS mn, MAX(v) AS mx, COUNT(*) AS n
        |       FROM fact JOIN customer ON o_custkey = c_custkey
        |       GROUP BY c_mktsegment),
        |s2 AS (SELECT c_mktsegment, CAST(SUM(v) AS BIGINT) AS sv,
        |              MIN(v) AS mn, MAX(v) AS mx, COUNT(*) AS n
        |       FROM post JOIN customer ON o_custkey = c_custkey
        |       GROUP BY c_mktsegment)
        |SELECT 'a_mv' AS stage, c_mktsegment, sv, mn, mx, n,
        |       CAST(1 AS BIGINT) AS from_mv FROM s1
        |UNION ALL
        |SELECT 'b_live', c_mktsegment, sv, mn, mx, n, CAST(0 AS BIGINT) FROM s2
        |UNION ALL
        |SELECT 'c_refreshed', c_mktsegment, sv, mn, mx, n, CAST(1 AS BIGINT) FROM s2
        |ORDER BY stage, c_mktsegment""".stripMargin) { (s, d) =>
      import graft.plans.{Mv, MvRewrite}
      import graft.sources.TxnTable
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val table = graft.Scratch.dir(
        s"/root/repo/target/tmp/starmv_fact_$sfKey")
      val mvDir = graft.Scratch.dir(
        s"/root/repo/target/tmp/starmv_view_$sfKey")
      val fact = graft.sources.SchemaCache.readDir(s, s"$d/orders.parquet")
        .select(col("o_orderkey").as("k"), col("o_custkey"),
          col("o_custkey").cast("long").as("v"))
      TxnTable.commit(s, fact, table, overwrite = false)
      val dim = graft.sources.SchemaCache.readDir(s, s"$d/customer.parquet")
      val dims = Seq((dim, "customer.parquet", "o_custkey", "c_custkey"))
      val v1 = Mv.registerStarTxn(s, "starmv_q", table, dims, mvDir,
        Seq("c_mktsegment"), Seq("v"))
      def staged(stage: String) = {
        val q = TxnTable.read(s, table)
          .join(graft.sources.SchemaCache.readDir(s, s"$d/customer.parquet"),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(sum("v").as("sv"), min("v").as("mn"), max("v").as("mx"),
            count(lit(1)).as("n"))
        val plan = q.queryExecution.executedPlan.toString()
        val fromMv = plan.contains("starmv_view") && !plan.contains("starmv_fact")
        q.select(lit(stage).as("stage"), col("c_mktsegment"), col("sv"),
            col("mn"), col("mx"), col("n"),
            lit(if (fromMv) 1L else 0L).as("from_mv"))
          .localCheckpoint(true)
      }
      try {
        val a = staged("a_mv")
        graft.operators.Merge.upsert(s, table,
          fact.filter(col("k") % 11 === 0)
            .select(col("k"), col("o_custkey"), (col("v") * 2).as("v")),
          Seq("k"))
        TxnTable.deleteWhere(s, table, col("k") % 7 === 0)
        val b = staged("b_live")
        Mv.refreshStarTxnCdc(s, "starmv_q", table, v1, mvDir, dims,
          Seq("c_mktsegment"), Seq("v"), rowKeys = Seq("k"),
          repairMinMax = true)
        val c = staged("c_refreshed")
        a.unionByName(b).unionByName(c).orderBy("stage", "c_mktsegment")
      } finally MvRewrite.deregister("starmv_q")
    },

    // ── WAREHOUSE-level MV: the summary pins the CATALOG transaction's
    //    file set for its table, so every protocol action invalidates
    //    or re-validates it structurally — stage a answers from the
    //    view; stage b (a catalog append txn) falls back to base with
    //    FULL fresh numbers; stage c (catalog RESTORE to txn 1) snaps
    //    the file set back to the pinned snapshot and the SAME view
    //    answers again without re-registration. Stale answers are
    //    impossible by construction, not by registrar discipline.
    sql("q_scan_mv_catalog",
      """WITH base AS (
        |  SELECT o_orderpriority AS g, CAST(o_custkey AS BIGINT) AS v
        |  FROM orders),
        |extra AS (
        |  SELECT o_orderpriority AS g, CAST(o_custkey * 2 AS BIGINT) AS v
        |  FROM orders WHERE o_orderkey % 5 = 0),
        |s1 AS (SELECT g, CAST(SUM(v) AS BIGINT) AS sv, COUNT(*) AS n
        |       FROM base GROUP BY g),
        |s2 AS (SELECT g, CAST(SUM(v) AS BIGINT) AS sv, COUNT(*) AS n
        |       FROM (SELECT * FROM base UNION ALL SELECT * FROM extra)
        |       GROUP BY g)
        |SELECT 'a_mv' AS stage, g, sv, n, CAST(1 AS BIGINT) AS from_mv FROM s1
        |UNION ALL
        |SELECT 'b_live', g, sv, n, CAST(0 AS BIGINT) FROM s2
        |UNION ALL
        |SELECT 'c_restored', g, sv, n, CAST(1 AS BIGINT) FROM s1
        |ORDER BY stage, g""".stripMargin) { (s, d) =>
      import graft.plans.{Mv, MvRewrite}
      import graft.sources.TxnCatalog
      import graft.sources.TxnCatalog.Write
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val cat = graft.Scratch.dir(s"/root/repo/target/tmp/catmv_cat_$sfKey")
      val mvDir = graft.Scratch.dir(s"/root/repo/target/tmp/catmv_view_$sfKey")
      val ord = graft.sources.SchemaCache.readDir(s, s"$d/orders.parquet")
      val base = ord.select(col("o_orderpriority").as("g"),
        col("o_custkey").cast("long").as("v"))
      TxnCatalog.commitAll(s, cat, Seq(Write("facts", base)))     // txn 1
      Mv.registerCatalog(s, "catmv_q", cat, "facts", mvDir, Seq("g"), Seq("v"))
      def staged(stage: String) = {
        val q = TxnCatalog.read(s, cat, "facts")
          .groupBy("g").agg(sum("v").as("sv"), count(lit(1)).as("n"))
        val plan = q.queryExecution.executedPlan.toString()
        val fromMv = plan.contains("catmv_view") && !plan.contains("catmv_cat")
        q.select(lit(stage).as("stage"), col("g"), col("sv"), col("n"),
            lit(if (fromMv) 1L else 0L).as("from_mv"))
          .localCheckpoint(true)
      }
      try {
        val a = staged("a_mv")
        TxnCatalog.commitAll(s, cat, Seq(Write("facts",               // txn 2
          ord.filter(col("o_orderkey") % 5 === 0)
            .select(col("o_orderpriority").as("g"),
              (col("o_custkey") * 2).cast("long").as("v")))))
        val b = staged("b_live")
        TxnCatalog.restore(cat, toTxn = 1)                            // txn 3
        val c = staged("c_restored")
        a.unionByName(b).unionByName(c).orderBy("stage", "g")
      } finally MvRewrite.deregister("catmv_q")
    },

    // ── PLAN-KEYED RESULT CACHE over txn snapshots (the other half of
    //    the self-driving warehouse: the MV family answers DIFFERENT
    //    queries from one summary; the result cache answers the SAME
    //    query again for free). The key = canonicalized plan with scans
    //    replaced by placeholders + the scans' (table, version) pins, so
    //    the key IS the validity check: re-run → hit; commit to an
    //    UNRELATED table → still a hit (no pin moved); commit to the
    //    scanned table → the re-planned query pins the new version →
    //    miss, recompute, fresh numbers. Every stage requires the served
    //    plan reads ONLY cache storage (never the fact table) — the
    //    from_cache flag then records whether compute happened.
    sql("q_result_cache",
      """WITH v1 AS (SELECT * FROM orders WHERE o_orderkey % 3 <> 0)
        |SELECT 'a_miss' AS stage, o_orderpriority,
        |       CAST(SUM(o_custkey) AS BIGINT) AS cust_sum, COUNT(*) AS n,
        |       CAST(0 AS BIGINT) AS from_cache
        |FROM v1 WHERE o_orderstatus <> 'P' GROUP BY o_orderpriority
        |UNION ALL
        |SELECT 'b_hit', o_orderpriority, CAST(SUM(o_custkey) AS BIGINT),
        |       COUNT(*), CAST(1 AS BIGINT)
        |FROM v1 WHERE o_orderstatus <> 'P' GROUP BY o_orderpriority
        |UNION ALL
        |SELECT 'c_unrelated_commit', o_orderpriority,
        |       CAST(SUM(o_custkey) AS BIGINT), COUNT(*), CAST(1 AS BIGINT)
        |FROM v1 WHERE o_orderstatus <> 'P' GROUP BY o_orderpriority
        |UNION ALL
        |SELECT 'd_invalidated', o_orderpriority,
        |       CAST(SUM(o_custkey) AS BIGINT), COUNT(*), CAST(0 AS BIGINT)
        |FROM orders WHERE o_orderstatus <> 'P' GROUP BY o_orderpriority
        |ORDER BY stage, o_orderpriority""".stripMargin) { (s, d) =>
      import graft.plans.ResultCache
      import graft.sources.TxnTable
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val fact = graft.Scratch.dir(s"/root/repo/target/tmp/rescache_fact_$sfKey")
      val other = graft.Scratch.dir(s"/root/repo/target/tmp/rescache_other_$sfKey")
      val cache = graft.Scratch.dir(s"/root/repo/target/tmp/rescache_store_$sfKey")
      val ord = graft.sources.SchemaCache.readDir(s, s"$d/orders.parquet")
      TxnTable.commit(s, ord.filter(col("o_orderkey") % 3 =!= 0), fact,
        overwrite = false)
      TxnTable.commit(s, graft.sources.SchemaCache.readDir(s, s"$d/customer.parquet"), other,
        overwrite = false)
      def q() = TxnTable.read(s, fact)
        .filter(col("o_orderstatus") =!= "P")
        .groupBy("o_orderpriority")
        .agg(sum("o_custkey").cast("long").as("cust_sum"),
          count(lit(1)).as("n"))
      def staged(stage: String) = {
        val out = ResultCache.run(s, q(), cache)
        val plan = out.df.queryExecution.executedPlan.toString()
        // hit or miss, the SERVED frame reads only the installed entry
        require(plan.contains("rescache_store") &&
          !plan.contains("rescache_fact"),
          s"$stage not served from cache storage")
        out.df.select(lit(stage).as("stage"), col("o_orderpriority"),
            col("cust_sum"), col("n"),
            lit(if (out.hit) 1L else 0L).as("from_cache"))
          .localCheckpoint(true)
      }
      val a = staged("a_miss")
      val b = staged("b_hit")
      TxnTable.commit(s, graft.sources.SchemaCache.readDir(s, s"$d/customer.parquet")
        .filter(col("c_custkey") % 7 === 0), other, overwrite = false)
      val c = staged("c_unrelated_commit")
      TxnTable.commit(s, ord.filter(col("o_orderkey") % 3 === 0), fact,
        overwrite = false)
      val e = staged("d_invalidated")
      a.unionByName(b).unionByName(c).unionByName(e)
        .orderBy("stage", "o_orderpriority")
    },

    // ── result-cache ADMISSION (ResultCache.run's maxResultFraction):
    //    a result bigger than the cap (vs the pinned snapshots' rows,
    //    measured from log/footer metadata) is computed and SERVED but
    //    never installed — one identity projection must not crowd the
    //    cache — while a genuinely reducing aggregate passes the same
    //    cap, installs, and hits on re-run. Stages emit (n_rows,
    //    from_cache, installed) so DuckDB re-derives the whole ledger.
    sql("q_result_cache_admission",
      """WITH v1 AS MATERIALIZED (
        |  SELECT * FROM orders WHERE o_orderkey % 3 <> 0)
        |SELECT 'a_install_agg' AS stage,
        |       (SELECT COUNT(DISTINCT o_orderpriority) FROM v1) AS n_rows,
        |       CAST(0 AS BIGINT) AS from_cache, CAST(1 AS BIGINT) AS installed
        |UNION ALL
        |SELECT 'b_decline_wide',
        |       (SELECT COUNT(*) FROM v1 WHERE o_orderkey % 2 = 0),
        |       CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |UNION ALL
        |SELECT 'c_decline_wide_again',
        |       (SELECT COUNT(*) FROM v1 WHERE o_orderkey % 2 = 0),
        |       CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |UNION ALL
        |SELECT 'd_hit_agg',
        |       (SELECT COUNT(DISTINCT o_orderpriority) FROM v1),
        |       CAST(1 AS BIGINT), CAST(1 AS BIGINT)
        |ORDER BY stage""".stripMargin) { (s, d) =>
      import graft.plans.ResultCache
      import graft.sources.TxnTable
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val fact = graft.Scratch.dir(s"/root/repo/target/tmp/rescadm_fact_$sfKey")
      val cache = graft.Scratch.dir(s"/root/repo/target/tmp/rescadm_store_$sfKey")
      TxnTable.commit(s,
        graft.sources.SchemaCache.readDir(s, s"$d/orders.parquet")
          .filter(col("o_orderkey") % 3 =!= 0), fact, overwrite = false)
      def agg() = TxnTable.read(s, fact).groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
      def wide() = TxnTable.read(s, fact)
        .filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_custkey")
      def staged(stage: String, out: ResultCache.Outcome) =
        out.df.agg(count(lit(1)).as("n_rows"))
          .select(lit(stage).as("stage"), col("n_rows"),
            lit(if (out.hit) 1L else 0L).as("from_cache"),
            lit(if (out.installed) 1L else 0L).as("installed"))
          .localCheckpoint(true)
      val cap = 0.4 // wide keeps ~half the snapshot → over; 5 agg rows → under
      val a = staged("a_install_agg",
        ResultCache.run(s, agg(), cache, maxResultFraction = cap))
      val b = staged("b_decline_wide",
        ResultCache.run(s, wide(), cache, maxResultFraction = cap))
      val c = staged("c_decline_wide_again",
        ResultCache.run(s, wide(), cache, maxResultFraction = cap))
      val e = staged("d_hit_agg",
        ResultCache.run(s, agg(), cache, maxResultFraction = cap))
      a.unionByName(b).unionByName(c).unionByName(e).orderBy("stage")
    },

    // ── SEMANTIC CACHE (ResultCache.runOrRollup): where the result
    //    cache and the MV rewriter converge — a cached broad aggregate
    //    doubles as a version-pinned summary view of its subplan, and a
    //    narrower GROUP BY over the SAME snapshot is served by
    //    re-aggregating the (tiny) entry, never rescanning the base:
    //    SUM of SUMs, SUM of COUNTs, the GROUP BY lattice walked
    //    top-down. Every rollup stage requires its served plan to read
    //    ONLY cache storage; the rolled result installs under its own
    //    key so the repeat is a plain hit.
    sql("q_result_cache_rollup",
      """WITH v1 AS MATERIALIZED (
        |  SELECT * FROM orders WHERE o_orderkey % 3 <> 0)
        |SELECT 'a_wide' AS stage, o_orderpriority, o_orderstatus,
        |       CAST(SUM(o_custkey) AS BIGINT) AS cs, COUNT(*) AS n,
        |       CAST(0 AS BIGINT) AS from_cache
        |FROM v1 GROUP BY o_orderpriority, o_orderstatus
        |UNION ALL
        |SELECT 'b_rollup_priority', o_orderpriority, CAST(NULL AS VARCHAR),
        |       CAST(SUM(o_custkey) AS BIGINT), COUNT(*), CAST(1 AS BIGINT)
        |FROM v1 GROUP BY o_orderpriority
        |UNION ALL
        |SELECT 'c_rollup_total', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |       CAST(SUM(o_custkey) AS BIGINT), COUNT(*), CAST(1 AS BIGINT)
        |FROM v1
        |UNION ALL
        |SELECT 'd_exact_hit', o_orderpriority, CAST(NULL AS VARCHAR),
        |       CAST(SUM(o_custkey) AS BIGINT), COUNT(*), CAST(1 AS BIGINT)
        |FROM v1 GROUP BY o_orderpriority
        |UNION ALL
        |SELECT 'e_rollup_filtered', CAST(NULL AS VARCHAR), o_orderstatus,
        |       CAST(SUM(o_custkey) AS BIGINT), COUNT(*), CAST(1 AS BIGINT)
        |FROM v1 WHERE o_orderpriority = '1-URGENT' GROUP BY o_orderstatus
        |ORDER BY stage, o_orderpriority, o_orderstatus""".stripMargin) { (s, d) =>
      import graft.plans.ResultCache
      import graft.sources.TxnTable
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val fact = graft.Scratch.dir(s"/root/repo/target/tmp/rescroll_fact_$sfKey")
      val cache = graft.Scratch.dir(s"/root/repo/target/tmp/rescroll_store_$sfKey")
      TxnTable.commit(s,
        graft.sources.SchemaCache.readDir(s, s"$d/orders.parquet")
          .filter(col("o_orderkey") % 3 =!= 0), fact, overwrite = false)
      def base() = TxnTable.read(s, fact)
      def staged(stage: String, out: ResultCache.Outcome,
                 requireCacheOnly: Boolean) = {
        if (requireCacheOnly) {
          val plan = out.df.queryExecution.executedPlan.toString()
          require(out.hit && plan.contains("rescroll_store") &&
            !plan.contains("rescroll_fact"),
            s"$stage not served from cache storage")
        }
        val cols = out.df.columns.toSet
        out.df.select(lit(stage).as("stage"),
            (if (cols("o_orderpriority")) col("o_orderpriority")
             else lit(null).cast("string")).as("o_orderpriority"),
            (if (cols("o_orderstatus")) col("o_orderstatus")
             else lit(null).cast("string")).as("o_orderstatus"),
            col("cs"), col("n"),
            lit(if (out.hit) 1L else 0L).as("from_cache"))
          .localCheckpoint(true)
      }
      val a = staged("a_wide", ResultCache.runOrRollup(s,
        base().groupBy("o_orderpriority", "o_orderstatus")
          .agg(sum("o_custkey").as("cs"), count(lit(1)).as("n")),
        cache), requireCacheOnly = false)
      val b = staged("b_rollup_priority", ResultCache.runOrRollup(s,
        base().groupBy("o_orderpriority")
          .agg(sum("o_custkey").as("cs"), count(lit(1)).as("n")),
        cache), requireCacheOnly = true)
      val c = staged("c_rollup_total", ResultCache.runOrRollup(s,
        base().agg(sum("o_custkey").as("cs"), count(lit(1)).as("n")),
        cache), requireCacheOnly = true)
      val e = staged("d_exact_hit", ResultCache.runOrRollup(s,
        base().groupBy("o_orderpriority")
          .agg(sum("o_custkey").as("cs"), count(lit(1)).as("n")),
        cache), requireCacheOnly = true)
      // FILTER SUBSUMPTION: WHERE on one grouping key of the cached
      // wide entry, GROUP BY the other — replayed on the entry, the
      // base never rescanned
      val f = staged("e_rollup_filtered", ResultCache.runOrRollup(s,
        base().filter(col("o_orderpriority") === "1-URGENT")
          .groupBy("o_orderstatus")
          .agg(sum("o_custkey").as("cs"), count(lit(1)).as("n")),
        cache), requireCacheOnly = true)
      a.unionByName(b).unionByName(c).unionByName(e).unionByName(f)
        .orderBy("stage", "o_orderpriority", "o_orderstatus")
    },

    // ── UNIFIED WORKLOAD ADVISOR (capstone): one call over an observed
    //    workload → one ranked, PRICED action plan, merging every
    //    advisor the engine grew — repeated-plan detection (result
    //    cache, with churn routed to the MV family), flat + txn + star
    //    MV recommendations, predicate-driven layout moves with costed
    //    alternatives, and small-file health. saved_rows prices each
    //    action in row-units of scanning avoided (deterministic integer
    //    arithmetic over measured counts) and pos ranks by it, so
    //    DuckDB re-derives the ENTIRE report — prices, alternatives,
    //    and ordering included — from the same parquet and rules.
    //    The churning repeat (same template, pins moved by a commit
    //    between runs) must come out `route_to_view` recommend=false,
    //    with the actionable `materialize_txn` view row beside it —
    //    the cache/MV handshake.
    sql("q_advisor_unified",
      """WITH r(family, target, action, detail, weight, saved_rows, recommend) AS (
        |  SELECT 'result_cache', 'wl_fact', 'cache', 'repeated_plan',
        |         CAST(2 AS BIGINT), (SELECT COUNT(*) FROM orders), TRUE
        |  UNION ALL SELECT 'result_cache', 'wl_churn', 'route_to_view',
        |         'pins_moved', CAST(2 AS BIGINT), CAST(0 AS BIGINT), FALSE
        |  UNION ALL SELECT 'view', 'lineitem.parquet', 'materialize',
        |         'l_linestatus,l_returnflag|l_partkey', CAST(2 AS BIGINT),
        |         2 * ((SELECT COUNT(*) FROM lineitem) -
        |              (SELECT COUNT(*) FROM (SELECT DISTINCT l_linestatus,
        |                 l_returnflag FROM lineitem))),
        |         (SELECT COUNT(*) FROM (SELECT DISTINCT l_linestatus,
        |            l_returnflag FROM lineitem))
        |           <= 0.5 * (SELECT COUNT(*) FROM lineitem)
        |  UNION ALL SELECT 'view', 'wl_churn', 'materialize_txn',
        |         'o_orderpriority|o_custkey', CAST(1 AS BIGINT),
        |         (SELECT COUNT(*) FROM orders)
        |           + (SELECT COUNT(*) FROM orders WHERE o_custkey % 7 = 0)
        |           - (SELECT COUNT(DISTINCT o_orderpriority) FROM orders),
        |         (SELECT COUNT(DISTINCT o_orderpriority) FROM orders)
        |           <= 0.5 * ((SELECT COUNT(*) FROM orders)
        |              + (SELECT COUNT(*) FROM orders WHERE o_custkey % 7 = 0))
        |  UNION ALL SELECT 'star_view', 'lineitem.parquet', 'materialize_star',
        |         'orders.parquet:l_orderkey=o_orderkey:inner|o_orderpriority|l_partkey',
        |         CAST(1 AS BIGINT),
        |         (SELECT COUNT(*) FROM lineitem) -
        |           (SELECT COUNT(*) FROM (SELECT DISTINCT o_orderpriority
        |              FROM lineitem JOIN orders ON l_orderkey = o_orderkey)),
        |         (SELECT COUNT(*) FROM (SELECT DISTINCT o_orderpriority
        |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey))
        |           <= 0.5 * (SELECT COUNT(*) FROM lineitem)
        |  UNION ALL SELECT 'layout', 'lineitem.parquet.l_linestatus', 'partition',
        |         'eq=1,range=0,join=0,ndv=' ||
        |           CAST((SELECT COUNT(DISTINCT l_linestatus) FROM lineitem) AS VARCHAR) ||
        |           ',alt=bloom:' ||
        |           CAST((SELECT COUNT(*) FROM lineitem) -
        |                (SELECT COUNT(*) FROM lineitem)
        |                  // (SELECT COUNT(DISTINCT l_linestatus) FROM lineitem) AS VARCHAR),
        |         CAST(1 AS BIGINT),
        |         (SELECT COUNT(*) FROM lineitem) -
        |           (SELECT COUNT(*) FROM lineitem)
        |             // (SELECT COUNT(DISTINCT l_linestatus) FROM lineitem),
        |         TRUE
        |  UNION ALL SELECT 'layout', 'lineitem.parquet.l_orderkey', 'bucket',
        |         'eq=0,range=0,join=1,ndv=' ||
        |           CAST((SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS VARCHAR)
        |           || ',alt=',
        |         CAST(1 AS BIGINT), (SELECT COUNT(*) FROM lineitem), TRUE
        |  UNION ALL SELECT 'layout', 'orders.parquet.o_orderkey', 'bucket',
        |         'eq=0,range=0,join=1,ndv=' ||
        |           CAST((SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS VARCHAR)
        |           || ',alt=',
        |         CAST(1 AS BIGINT), (SELECT COUNT(*) FROM orders), TRUE
        |  UNION ALL SELECT 'compaction', 'frag', 'compact',
        |         'files=64,avg_rows=' ||
        |           CAST((SELECT COUNT(*) FROM orders) // 64 AS VARCHAR),
        |         CAST(64 AS BIGINT),
        |         (64 - ((SELECT COUNT(*) FROM orders) + 8191) // 8192) * 1024,
        |         ((SELECT COUNT(*) FROM orders) // 64) < 4096
        |)
        |SELECT ROW_NUMBER() OVER (ORDER BY recommend DESC, saved_rows DESC,
        |         family, target, action, detail) AS pos,
        |       family, target, action, detail, weight,
        |       CAST(saved_rows AS BIGINT) AS saved_rows, recommend
        |FROM r ORDER BY pos""".stripMargin) { (s, d) =>
      import graft.plans.WorkloadAdvisor
      import graft.sources.TxnTable
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val root = graft.Scratch.dir(s"/root/repo/target/tmp/wladv_$sfKey")
      val fact = s"$root/wl_fact"
      val churn = s"$root/wl_churn"
      val frag = s"$root/frag"
      val ord = graft.sources.SchemaCache.readDir(s, s"$d/orders.parquet")
      TxnTable.commit(s,
        ord.select("o_orderkey", "o_orderpriority", "o_totalprice"), fact,
        overwrite = false)
      TxnTable.commit(s, ord.select("o_orderpriority", "o_custkey"), churn,
        overwrite = false)
      ord.select("o_orderkey").repartition(64).write.parquet(frag)
      val li = graft.sources.SchemaCache.readDir(s, s"$d/lineitem.parquet")
      // repeated dashboard query over a STABLE snapshot: DOUBLE measure,
      // so only the result cache claims it (every MV advisor declines)
      def rep() = TxnTable.read(s, fact).groupBy("o_orderpriority")
        .agg(sum("o_totalprice").as("rev"))
      // the CHURNING repeat: same template, but the table commits
      // between runs → pins move → the cache can never hit; routed to
      // the MV family (integral measure, so recommendTxn claims the
      // head-pinned run)
      def rep2() = TxnTable.read(s, churn).groupBy("o_orderpriority")
        .agg(sum("o_custkey").as("sc"))
      val churnA = rep2() // pins v1 (read resolves files eagerly)
      TxnTable.commit(s, ord.filter(col("o_custkey") % 7 === 0)
        .select("o_orderpriority", "o_custkey"), churn, overwrite = false)
      val churnB = rep2() // pins v2 = head
      WorkloadAdvisor.report(s, Seq(
        li.filter(col("l_linestatus") === "F").groupBy("l_returnflag")
          .agg(sum("l_partkey").as("sp")),
        li.groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n")),
        rep(), rep(), churnA, churnB,
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority").agg(sum("l_partkey").as("sp"))),
        dataDirs = Seq(frag),
        // exact NDV pinned for the DuckDB re-derivation; deployments
        // default to the approx path
        exactNdv = true)
    },

    // ── ADVISOR: LATTICE + TXN HEALTH (the round-11 families): a
    //    GROUP BY lattice over one snapshot (broad ⊇ narrow ⊇ global)
    //    emits ONE cache_lattice row — cache the broadest, the
    //    semantic cache rolls up the rest — beside the MV family's
    //    merged view row; and a txn table with small-file state AND
    //    time-travel debt contributes the scan-free compact_txn and
    //    vacuum rows, all priced so DuckDB re-derives every number.
    // ── ADVISOR: STATS family (WorkloadAdvisor `stats` rows) — the
    //    auto-prune closed loop: an equi-join over a txn fact whose
    //    join column has NO min-max sidecar is exactly the scan
    //    plans.AutoFilePrune must decline today; the advisor names the
    //    one refresh that turns every future run into O(selected
    //    files), priced at uses × (rows − rows/files). After the
    //    refresh the SAME workload contributes no stats row — the
    //    prune is live, advice converges. Both stages golden-pinned.
    sql("q_advisor_stats_dfp",
      """SELECT 'a_missing' AS stage, 'wlstats_fact.o_custkey' AS target,
        |       'refresh_stats' AS action, 'joins=1,files=4' AS detail,
        |       CAST(1 AS BIGINT) AS weight,
        |       (SELECT COUNT(*) - COUNT(*) // 4 FROM orders) AS saved_rows,
        |       TRUE AS recommend
        |UNION ALL
        |SELECT 'b_indexed', 'rows=0', 'none', '', 0, 0, FALSE
        |ORDER BY stage""".stripMargin) { (s, d) =>
      import graft.plans.WorkloadAdvisor
      import graft.sources.{TxnStats, TxnTable}
      import s.implicits._
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      // nested so the table NAME (the advice row's target prefix) is
      // sf-independent while the scratch dir stays per-sf
      val fact = graft.Scratch.dir(
        s"/root/repo/target/tmp/wlstats_$sfKey") + "/wlstats_fact"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(fact))
      TxnTable.commit(s, Tables.orders(s, d)
        .select("o_orderkey", "o_custkey").repartition(4), fact,
        overwrite = false)
      val dim = Tables.customer(s, d).select("c_custkey")
      def jq() = TxnTable.read(s, fact)
        .join(dim, col("o_custkey") === col("c_custkey"))
      val before = WorkloadAdvisor.report(s, Seq(jq()))
        .filter(col("family") === "stats")
        .select(lit("a_missing").as("stage"), col("target"), col("action"),
          col("detail"), col("weight"), col("saved_rows"), col("recommend"))
      TxnStats.refresh(s, fact, "o_custkey")
      val after = WorkloadAdvisor.report(s, Seq(jq()))
        .filter(col("family") === "stats").count()
      before.union(Seq(("b_indexed", s"rows=$after", "none", "", 0L, 0L,
          false))
        .toDF("stage", "target", "action", "detail", "weight", "saved_rows",
          "recommend"))
        .orderBy("stage")
    },

    sql("q_advisor_health",
      """WITH v1 AS MATERIALIZED (
        |  SELECT * FROM orders WHERE o_orderkey % 3 <> 0),
        |half AS MATERIALIZED (
        |  SELECT * FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT 'result_cache' AS family, 'adv_fact' AS target,
        |       'cache_lattice' AS action,
        |       'broad=o_orderpriority+o_orderstatus,served=2' AS detail,
        |       CAST(3 AS BIGINT) AS weight,
        |       2 * (SELECT COUNT(*) FROM v1) AS saved_rows, TRUE AS recommend
        |UNION ALL
        |SELECT 'view', 'adv_fact', 'materialize_txn',
        |       'o_orderpriority,o_orderstatus|o_custkey', CAST(3 AS BIGINT),
        |       3 * ((SELECT COUNT(*) FROM v1) -
        |            (SELECT COUNT(*) FROM (SELECT DISTINCT o_orderpriority,
        |               o_orderstatus FROM v1))),
        |       (SELECT COUNT(*) FROM (SELECT DISTINCT o_orderpriority,
        |          o_orderstatus FROM v1))
        |         <= 0.5 * (SELECT COUNT(*) FROM v1)
        |UNION ALL
        |SELECT 'compaction', 'adv_frag', 'compact_txn',
        |       'files=4,avg_rows=' ||
        |         CAST((SELECT COUNT(*) FROM half) // 4 AS VARCHAR),
        |       CAST(4 AS BIGINT),
        |       (4 - CAST(CEIL((SELECT COUNT(*) FROM half) / 8192.0) AS BIGINT))
        |         * 1024,
        |       ((SELECT COUNT(*) FROM half) // 4) < 4096
        |UNION ALL
        |SELECT 'vacuum', 'adv_frag', 'vacuum',
        |       'retain_from=2,reclaim_files=6', CAST(6 AS BIGINT),
        |       (SELECT COUNT(*) FROM orders),
        |       2 * (SELECT COUNT(*) FROM orders) >=
        |         (SELECT COUNT(*) FROM half)
        |ORDER BY family, target, action""".stripMargin) { (s, d) =>
      import graft.plans.WorkloadAdvisor
      import graft.sources.TxnTable
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val root = graft.Scratch.dir(s"/root/repo/target/tmp/wlhealth_$sfKey")
      val fact = s"$root/adv_fact"
      val frag = s"$root/adv_frag"
      val ord = graft.sources.SchemaCache.readDir(s, s"$d/orders.parquet")
      TxnTable.commit(s, ord.filter(col("o_orderkey") % 3 =!= 0), fact,
        overwrite = false)
      TxnTable.commit(s, ord.repartition(6), frag, overwrite = false)
      TxnTable.commit(s, ord.filter(col("o_orderkey") % 2 === 0)
        .repartition(4), frag, overwrite = true)
      def base() = TxnTable.read(s, fact)
      WorkloadAdvisor.report(s, Seq(
          base().groupBy("o_orderpriority", "o_orderstatus")
            .agg(sum("o_custkey").as("cs"), count(lit(1)).as("n")),
          base().groupBy("o_orderpriority").agg(sum("o_custkey").as("cs")),
          base().agg(count(lit(1)).as("n"))),
        txnTables = Seq(frag), exactNdv = true)
        .select("family", "target", "action", "detail", "weight",
          "saved_rows", "recommend")
        .orderBy("family", "target", "action")
    }
  )

  /** Stage the two deliberately-incomplete dims (odd suppliers, even
    * orders), build ONE wide all-LEFT star summary of lineitem over
    * them (keys cover the narrow queries' groupings plus the supplier
    * key so that edge is innerizable), register it as `li_wide`, run
    * `body`, deregister. Shared by the subsumption queries — the point
    * is both answer from the SAME registered view. */
  private def withWideLeftStar(s: org.apache.spark.sql.SparkSession,
                               d: String)(
      body: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.plans.{Mv, MvRewrite}
    val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
    val supDir = new java.io.File(s"/root/repo/target/mv/sup_odd_$sfKey")
    val ordDir = new java.io.File(s"/root/repo/target/mv/ord_even_$sfKey")
    val mvDir = new java.io.File(s"/root/repo/target/mv/li_wide_$sfKey")
    val srcs = Seq(new java.io.File(s"$d/lineitem.parquet"),
      new java.io.File(s"$d/supplier.parquet"),
      new java.io.File(s"$d/orders.parquet"))
    graft.DerivedCache.ensure(supDir, srcs, "_SUCCESS") {
      graft.sources.SchemaCache.readDir(s, s"$d/supplier.parquet")
        .filter(col("s_suppkey") % 2 === 1)
        .write.mode("overwrite").parquet(supDir.getAbsolutePath)
    }
    graft.DerivedCache.ensure(ordDir, srcs, "_SUCCESS") {
      graft.sources.SchemaCache.readDir(s, s"$d/orders.parquet")
        .filter(col("o_orderkey") % 2 === 0)
        .write.mode("overwrite").parquet(ordDir.getAbsolutePath)
    }
    graft.DerivedCache.ensure(mvDir, srcs, "_SUCCESS") {
      Mv.buildStar(graft.sources.SchemaCache.readDir(s, s"$d/lineitem.parquet"),
        Seq((s.read.parquet(supDir.getAbsolutePath), "l_suppkey", "s_suppkey"),
          (s.read.parquet(ordDir.getAbsolutePath), "l_orderkey", "o_orderkey")),
        Seq("l_linestatus", "s_suppkey"), Seq("l_partkey"),
        mvDir.getAbsolutePath, joinTypes = Seq("left", "left"))
    }
    Mv.registerStar(s, "li_wide", "lineitem.parquet",
      Seq((supDir.getName, "l_suppkey", "s_suppkey"),
        (ordDir.getName, "l_orderkey", "o_orderkey")),
      mvDir.getAbsolutePath, Seq("l_linestatus", "s_suppkey"),
      Seq("l_partkey"), joinTypes = Seq("left", "left"))
    try body finally MvRewrite.deregister("li_wide")
  }

  /** Stamp the PLAN fact that `q` was answered from the view: from_mv=1
    * iff the executed plan references `viewToken` and none of
    * `baseTokens`. Orders and PINS the rows (cache+count) so the result
    * survives the caller's deregistration. One implementation for every
    * MV-gated query — the heuristic must not drift per call site. */
  private def mvStamped(q: org.apache.spark.sql.DataFrame, viewToken: String,
                        baseTokens: Seq[String], orderCol: String)
      : org.apache.spark.sql.DataFrame = {
    val plan = q.queryExecution.executedPlan.toString()
    val fromMv = plan.contains(viewToken) && baseTokens.forall(t => !plan.contains(t))
    val out = q.withColumn("from_mv", lit(if (fromMv) 1L else 0L))
      .orderBy(orderCol)
      .cache()
    out.count() // materialize before the view deregisters
    out
  }

  /** Build (cached per sf) and register the (l_returnflag, l_linestatus)
    * lineitem summary, run `q` under the rewrite rule, stamp the PLAN
    * fact that the scan switched to the view (`from_mv`), deregister. */
  private def withLineitemMv(s: org.apache.spark.sql.SparkSession, d: String)(
      q: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import graft.plans.{Mv, MvRewrite}
    val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
    // _v2 layout: the r9 summary added cnt_/min_/max_ measure columns
    val mvDir = new java.io.File(s"/root/repo/target/mv/lineitem_rf_ls_v2_$sfKey")
    graft.DerivedCache.ensure(mvDir,
        Seq(new java.io.File(s"$d/lineitem.parquet")), "_SUCCESS") {
      Mv.build(graft.sources.SchemaCache.readDir(s, s"$d/lineitem.parquet"),
        Seq("l_returnflag", "l_linestatus"), Seq("l_partkey"),
        mvDir.getAbsolutePath)
    }
    Mv.register(s, "lineitem_rf_ls", "lineitem.parquet",
      mvDir.getAbsolutePath, Seq("l_returnflag", "l_linestatus"),
      Seq("l_partkey"))
    try mvStamped(q, "lineitem_rf_ls_v2", Seq("lineitem.parquet"),
      "l_returnflag")
    finally MvRewrite.deregister("lineitem_rf_ls")
  }

  /** orders.parquet rewritten repartitionByRange(o_orderkey) — the layout
    * a min-max file index prunes well — written once per sf, reused. */
  def rangeLaidOrdersDir(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
    val dir = new java.io.File(s"/root/repo/target/partitioned/orders_range_$sfKey")
    graft.DerivedCache.ensure(dir,
        Seq(new java.io.File(s"$d/orders.parquet")), "_SUCCESS") {
      Tables.orders(s, d)
        .repartitionByRange(16, col("o_orderkey"))
        .write.mode("overwrite").parquet(dir.getAbsolutePath)
    }
    dir.getAbsolutePath
  }

  /** events.parquet rewritten `partitionBy(event_date)` into a scratch dir
    * keyed by sf — written once, reused across sessions (same persistence
    * discipline as the bucketed tables above). */
  def partitionedEventsDir(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
    val dir = new java.io.File(s"/root/repo/target/partitioned/events_$sfKey")
    graft.DerivedCache.ensure(dir,
        Seq(new java.io.File(s"$d/events.parquet")), "_SUCCESS") {
      Tables.events(s, d)
        .withColumn("event_date", date_format(col("ts"), "yyyy-MM-dd"))
        .write.partitionBy("event_date").mode("overwrite")
        .parquet(dir.getAbsolutePath)
    }
    dir.getAbsolutePath
  }
}
