package graft.queries

import graft.{SparkSpec, SparkEntry, Tables}
import graft.operators.Dedup

/** Physical-plan audits: the properties that make the flagship pipelines
  * scale are asserted, not assumed — filter pushdown reaching the parquet
  * scan, dimension joins broadcasting, aggregations reusing the
  * repartition exchange, and native expressions staying inside
  * whole-stage codegen. */
class PlanAuditSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  /** The rank-limit idiom plans as the engine's TopKPerKey pair: a
    * partial bounded heap below the exchange and a final one above it,
    * with no native WindowGroupLimit left underneath. */
  private def assertTopKPair(plan: String): Unit = {
    assert("TopKPerKey .*, true, ".r.findFirstIn(plan).isDefined, plan.take(3000))
    assert("TopKPerKey .*, false, ".r.findFirstIn(plan).isDefined, plan.take(3000))
    assert(!plan.contains("WindowGroupLimit"), plan.take(3000))
  }

  test("q01_flagship: quantity filter is pushed to the scan, dims broadcast") {
    val plan = planOf("q01_flagship")
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity"),
      plan.take(2000))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan.take(2000))
  }

  test("q02_air_flagship: aggregates join the bridge via broadcast") {
    val plan = planOf("q02_air_flagship")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan.take(2000))
    // the NN bridge's cross join broadcasts the sites dimension
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("q_nn_broadcast: one hash exchange feeds both the join and the argmin") {
    val plan = planOf("q_nn_broadcast")
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // repartition(keys) satisfies the aggregate's distribution — a second
    // hash exchange would mean the argmin reshuffles what we just placed
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges === 1, s"expected 1 hash exchange, plan:\n${plan.take(2000)}")
  }

  test("native sketch expressions run inside whole-stage codegen") {
    val docs = Tables.documents(spark, sfDir)
    val sigPlan = Dedup.minHashSignatures(docs, "doc_id", "text", 5, 64)
      .queryExecution.executedPlan.toString
    val sigLine = sigPlan.linesIterator.find(_.contains("minhash_sigs")).getOrElse("")
    assert(sigLine.contains("*("), s"minhash_sigs not codegen'd: $sigLine")
    // simHashNearDups returns an eagerly-checkpointed frame (cache
    // ownership stays inside the operator), so audit the signature
    // projection it builds internally rather than the final plan
    import org.apache.spark.sql.functions._
    val simPlan = docs
      .filter(size(graft.functions.TextFns.tokens(col("text"))) >= lit(5))
      .select(col("doc_id"),
        call_function("simhash64", Dedup.shingleHashes(col("text"), 5)).as("simhash"))
      .queryExecution.executedPlan.toString
    val simLine = simPlan.linesIterator.find(_.contains("simhash64")).getOrElse("")
    assert(simLine.contains("*("), s"simhash64 not codegen'd: $simLine")
  }

  test("q_part_pruning: the date filter prunes partitions at the scan") {
    val df = SparkEntry.queries("q_part_pruning")(spark, sfDir)
    df.collect()
    val scan = df.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(scan.contains("event_date"), s"no partition filter on the scan: $scan")
    // pruning must reach file selection, not just the filter node: the
    // scanned partition count is 1 (one date directory), not all dates.
    // AQE nests the scan inside query stages — recurse through them.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: QueryStageExec => allScans(q.plan)
    }.flatten
    val scans = allScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    assert(scans.forall(_.selectedPartitions.partitionCount == 1),
      s"expected 1 selected partition, got ${scans.map(_.selectedPartitions.partitionCount).mkString(",")}")
  }

  test("q_dpp_prune: runtime dim values prune fact partitions (DPP)") {
    val df = SparkEntry.queries("q_dpp_prune")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the fact scan's partition filter is a DYNAMIC expression fed by the
    // dim subquery at runtime — no static filter could know the top-5 days
    assert(plan.contains("dynamicpruningexpression"), plan.take(3000))
    // and the pruning reached file selection: 5 of ~30 date directories
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: QueryStageExec => allScans(q.plan)
    }.flatten
    val factScans = allScans(df.queryExecution.executedPlan)
      .filter(_.toString.contains("dynamicpruning"))
    val partsRead = factScans.flatMap(_.metrics.get("numPartitions").map(_.value))
    assert(partsRead.contains(5L),
      s"expected a 5-partition dynamic selection, got ${partsRead.mkString(",")}")
  }

  test("q13: correlated scalar subqueries decorrelate into aggregate joins") {
    val plan = planOf("q13_avg_quantity_subquery")
    // decorrelation = per-part grouped aggregates joined back on the key;
    // a nested-loop re-execution per outer row would be the scale killer
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(3000))
  }

  test("q14: EXISTS / NOT EXISTS plan as left-semi / left-anti joins") {
    val plan = planOf("q14_lone_return_supplier")
    assert(plan.contains("LeftSemi"), plan.take(3000))
    assert(plan.contains("LeftAnti"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("interval merge windows partition by key; linreg is one hash aggregate") {
    val merge = planOf("q_time_interval_merge")
    // both window passes must partition by the key — a partition-less
    // window here would globally sort every interval at 100 TB
    assert(!merge.contains("Window [") ||
      !merge.contains("windowspecdefinition()"), merge.take(2000))
    assert(merge.contains("hashpartitioning(k"), merge.take(3000))
    val lr = planOf("q_feat_linreg")
    // the OLS components are ONE map-side-combined aggregate — no join,
    // no window, no second scan
    assert(!lr.contains("Join"), lr.take(3000))
    assert(!lr.contains("Window"), lr.take(3000))
    assert("HashAggregate".r.findAllIn(lr).size >= 2, lr.take(3000)) // partial+final
  }

  test("q18/q19/q20: the new subquery flagships all decorrelate — no nested loops") {
    // q18's correlated MIN over a 4-table join, q19's correlated HAVING
    // aggregate, q20's scalar-average + NOT EXISTS: each must plan as
    // grouped aggregates / semi/anti joins joined back on the key — a
    // BroadcastNestedLoopJoin here is a per-outer-row re-execution that
    // dies at scale
    for (q <- Seq("q18_min_cost_shipper", "q19_excess_shippers",
                  "q20_quiet_customers")) {
      val plan = planOf(q)
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q:\n" + plan.take(3000))
    }
    assert(planOf("q20_quiet_customers").contains("LeftAnti"),
      planOf("q20_quiet_customers").take(3000))
  }

  test("q_sql_recursive_cte plans as UnionLoop; lateral top-2 decorrelates") {
    val rec = planOf("q_sql_recursive_cte")
    assert(rec.contains("UnionLoop"), rec.take(2000))
    val lat = planOf("q_sql_lateral_topk")
    // the correlated LIMIT becomes a per-key top-k after a join, never
    // a per-outer-row subquery
    assertTopKPair(lat)
    assert(!lat.contains("BroadcastNestedLoopJoin"), lat.take(3000))
  }

  test("join strategy hints are honored; AQE coalesces small shuffles") {
    import org.apache.spark.sql.functions.col
    val l = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
    val r = Tables.customer(spark, sfDir).select("c_custkey")
    def planWith(hint: String): String =
      l.join(r.hint(hint), col("o_custkey") === col("c_custkey"))
        .queryExecution.executedPlan.toString
    // the three physical strategies a 100 TB planner chooses between —
    // each must be FORCIBLE when the optimizer's estimate is wrong
    assert(planWith("broadcast").contains("BroadcastHashJoin"))
    assert(planWith("merge").contains("SortMergeJoin"))
    assert(planWith("shuffle_hash").contains("ShuffledHashJoin"))
    // AQE folds the 4 configured shuffle partitions of a tiny aggregate
    // down to fewer at runtime (coalescePartitions) — the knob that keeps
    // small stages from paying big-cluster task counts
    val agg = l.groupBy("o_custkey").count()
    agg.collect()
    val n = agg.rdd.getNumPartitions
    assert(n < spark.conf.get("spark.sql.shuffle.partitions").toInt,
      s"AQE should coalesce below the configured count, got $n")
  }

  test("lsh bucketing is one fused expression, not a quantized_dot forest") {
    val planes = graft.operators.Similarity.hyperplanes(64, 8, 16, seed = 7L)
    val plan = graft.operators.Similarity.lshBuckets(
        Tables.embeddings(spark, sfDir), planes)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("quantized_dot"), plan.take(2000))
    assert("lsh_bucket_array".r.findAllIn(plan).size === 1, plan.take(2000))
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("stripBoilerplate: blacklist is a distributed anti-join, never a driver literal") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val qe = graft.operators.Curation
      .stripBoilerplate(docs, "doc_id", "text", minDocs = 3)
      .queryExecution
    // building the plan must not run jobs (the old impl collect()ed the
    // blacklist at plan-construction time); reaching here without an
    // action already proves laziness. Now assert the join shape:
    val plan = qe.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan.take(3000))
    // no literal-array membership probe anywhere in the plan
    assert(!plan.contains("array_contains"), plan.take(3000))
  }

  test("q_search_bm25: corpus never exploded by token; stats and df broadcast") {
    val plan = planOf("q_search_bm25")
    // the only Generate is the posexplode of the |terms|+1 counts array —
    // assert nothing explodes the raw token split
    val generates = plan.linesIterator.filter(_.contains("Generate")).toSeq
    assert(generates.nonEmpty && generates.forall(!_.contains("split")),
      generates.mkString("\n"))
    // dfreq equi-join broadcasts; the 1-row stats frame joins as a
    // broadcast nested loop — the matched-docs side is never re-shuffled
    // for either
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("minhash signatures are a pure scan-side projection: no shuffle at all") {
    // the old formulation exploded shingles and aggregated 64 mins — a
    // full pre-banding shuffle; the native path must have no exchange and
    // no aggregate anywhere below the signature projection
    val plan = Dedup.minHashSignatures(
        Tables.documents(spark, sfDir), "doc_id", "text", 5, 64)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
    assert(!plan.contains("HashAggregate"), plan.take(2000))
  }

  test("q_mix_token_budget: prefixes broadcast; no single-stratum window funnel") {
    val plan = planOf("q_mix_token_budget")
    // the driver-prefix table joins as a broadcast — the data rows are
    // never re-shuffled for it
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    // the only window partitioning is (stratum, bucket) — 256-way
    // parallel per stratum; a bare per-stratum window would funnel "web"
    // through one task at 100 TB
    val windows = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.exists(_.contains("__bucket")), windows.mkString("\n"))
  }

  test("q_dedup_spans: gram traffic is hashed equi-joins, never a cross product") {
    val plan = planOf("q_dedup_spans")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // dup-gram membership joins on the 8-byte hash
    assert(plan.contains("xxhash64"), plan.take(2000))
  }

  test("q_ann_pq: the query LUT broadcasts; codes side never re-shuffles for it") {
    val plan = planOf("q_ann_pq")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("q_ann_ivfpq_index: model joins broadcast; only the centroid probe crosses") {
    val plan = planOf("q_ann_ivfpq_index")
    // LUT and probe/shortlist joins broadcast the model-sized side
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan.take(2000))
    // the ONLY nested-loop is the |Q|×nClusters centroid probe (an
    // explicit broadcast cross over a ≤16-row table); the corpus-sized
    // lists/codes traffic must all be equi-joins
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 1, plan.take(2000))
  }

  test("q_geo_pip: cell equi-join broadcasts the polygon dim — no cross product") {
    val plan = planOf("q_geo_pip")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("q_src_table_diff: payloads reduce to hashes before the full-outer join") {
    val plan = planOf("q_src_table_diff")
    assert(plan.contains("FullOuter"), plan.take(2000))
    assert(plan.contains("xxhash64"), plan.take(2000))
  }

  test("q_table_diff_partitioned: digests prune via a broadcast semi-join") {
    val plan = planOf("q_table_diff_partitioned")
    // the per-partition digest is the xor aggregate…
    assert(plan.contains("bit_xor"), plan.take(2000))
    // …and the tiny suspect set broadcasts into BOTH row-level sides
    assert("BroadcastHashJoin .*LeftSemi".r.findAllIn(plan).size >= 2,
      plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q_table_diff: narrow hash pass first; payloads semi-join to changed keys") {
    val plan = planOf("q_table_diff")
    // the classification join is still the narrow (key, xxhash64) form…
    assert(plan.contains("FullOuter"), plan.take(2000))
    assert(plan.contains("xxhash64"), plan.take(2000))
    // …and full payloads only travel AFTER a LeftSemi prune to the
    // changed-key set — attribution costs what changed, not the table
    assert(plan.contains("LeftSemi"), plan.take(2000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("q_text_subword: tokenization is scan-side — no shuffle below the sort") {
    val plan = planOf("q_text_subword")
    assert(plan.contains("greedy_tokenize"), plan.take(2000))
    // only the final orderBy exchanges; the token stats never shuffle
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(2000))
  }

  test("q_time_ffill: the fill window partitions by series — no global funnel") {
    val plan = planOf("q_time_ffill")
    // WindowExec prints 'Window [fns], [partition spec], [order spec]' —
    // an empty partition spec (the single-task trap) would print '], ['
    // straight into the order spec with no series column
    assert("Window \\[[^\\]]*last[^\\]]*\\], \\[series#".r
      .findFirstIn(plan).isDefined, plan.take(3000))
  }

  test("q_funnel_stages: stage gating is joins + aggregates, never a window") {
    val plan = planOf("q_funnel_stages")
    assert(!plan.contains("Window"), plan.take(2000))
    assert("HashAggregate".r.findAllIn(plan).size >= 3, plan.take(2000))
  }

  test("q_search_mmr: anchors and candidate list broadcast; corpus is never built") {
    val plan = planOf("q_search_mmr")
    // candidate generation broadcasts the 8 anchors over the corpus scan
    assert(plan.contains("BroadcastNestedLoopJoin BuildRight"), plan.take(3000))
    // top-16 prunes map-side before the shuffle: the partial TopKPerKey
    // bounded heap
    assertTopKPair(plan)
    // the eq-vector join BUILDS the |Q|·kCand candidate list, not the
    // corpus projection — building corpus-side is the 100 TB OOM
    assert("BroadcastHashJoin \\[n_id".r.findFirstIn(plan).isDefined, plan.take(3000))
    val buildSide = plan.linesIterator.find(_.contains("BroadcastHashJoin")).get
    assert(buildSide.contains("BuildRight"), buildSide)
    // right subtree of that join is the windowed candidate list (rel col)
    assert(plan.contains("sim"), plan.take(3000))
  }

  test("q_profile_quantile_hist: model-sized stats broadcast, one pruned window") {
    val plan = planOf("q_profile_quantile_hist")
    // histogram stats + rank targets ride as broadcast local relations
    assert("BroadcastExchange".r.findAllIn(plan).size >= 2, plan.take(3000))
    assert(plan.contains("LocalTableScan"), plan.take(3000))
    // exactly one window, partitioned by (group, q) — never global
    assert("Window \\[row_number".r.findAllIn(plan).size === 1, plan.take(3000))
    assert(!plan.contains("Window [row_number() windowspecdefinition()"), plan.take(3000))
  }

  test("q_embed_triplets: both picks from ONE window; anchors broadcast") {
    val plan = planOf("q_embed_triplets")
    assert(plan.contains("BroadcastNestedLoopJoin BuildRight"), plan.take(3000))
    // a naive two-branch mine would window (or re-scan) twice; the rank
    // window plans as one TopKPerKey pair (partial+final) — exactly one
    // ranked pass over the candidates
    assert(!plan.contains("Window [row_number"), plan.take(3000))
    assert("TopKPerKey .*, false, ".r.findAllIn(plan).size === 1, plan.take(3000))
    assertTopKPair(plan)
  }

  test("q_profile_drift: reference stats broadcast; both sides pre-aggregate map-side") {
    val plan = planOf("q_profile_drift")
    // per-side bucket counts combine before their exchange
    assert("partial_count".r.findAllIn(plan).size >= 2, plan.take(3000))
    // reference min/max and group totals ride as broadcasts
    assert("BroadcastExchange".r.findAllIn(plan).size >= 3, plan.take(3000))
  }

  test("q_sessionize: per-user windows only — no global-order funnel") {
    val plan = planOf("q_sessionize")
    // the lag flag and the running sum both partition by user_id
    assert(!plan.contains("windowspecdefinition()"), plan.take(3000))
    assert("windowspecdefinition\\(user_id".r.findFirstIn(plan).isDefined,
      plan.take(3000))
  }

  test("q_join_fuzzy: candidates come from an equi-join on the block key") {
    val plan = planOf("q_join_fuzzy")
    // blocking must plan as a hash join on __blk, never a cartesian scan
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("__blk"), plan.take(3000))
  }

  test("q_src_incremental_join: the dimension broadcasts on both legs") {
    val plan = planOf("q_src_incremental_join")
    assert("BroadcastHashJoin".r.findAllIn(plan).size === 2, plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("q_scan_agg_pushdown: COUNT/MIN/MAX answered from parquet footers") {
    val plan = planOf("q_scan_agg_pushdown")
    assert(plan.contains("PushedAggregation: [COUNT(*), MIN(o_orderkey), MAX(o_orderkey)]"),
      plan.take(3000))
  }

  test("q09_shipping_priority: both date filters push to their scans, customer broadcasts") {
    val plan = planOf("q09_shipping_priority")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    // the two timestamp bounds must reach the parquet scans
    assert("PushedFilters: \\[.*o_orderdate".r.findFirstIn(plan).isDefined ||
      plan.contains("LessThan(o_orderdate"), plan.take(3000))
    assert(plan.contains("GreaterThan(l_shipdate"), plan.take(3000))
  }

  test("q_scd2_asof: version lookup is the merge-scan window, never an inequality join") {
    val plan = planOf("q_scd2_asof")
    // the as-of match must plan as one per-key window over the tagged
    // union — a range/theta join here would be the quadratic shape
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert("windowspecdefinition\\(user_id".r.findFirstIn(plan).isDefined,
      plan.take(3000))
  }

  test("q_src_txn_incremental: the delta scan reads only the new version's files") {
    val plan = planOf("q_src_txn_incremental")
    // two scans by design: the base snapshot (v1+v2, 2 paths) and the
    // DELTA — which must be a single-file scan of v3's commit dir
    val deltaScan = plan.linesIterator
      .find(l => l.contains("FileScan") && l.contains("v00003"))
    assert(deltaScan.isDefined, plan.take(4000))
    assert(deltaScan.get.contains("InMemoryFileIndex(1 paths)"), deltaScan.get)
    assert(!deltaScan.get.contains("v00001") && !deltaScan.get.contains("v00002"),
      deltaScan.get)
  }

  test("q_scd2_dim: the dimension never shuffles — both legs broadcast") {
    val plan = planOf("q_scd2_dim")
    // the current-slice join broadcasts the batch; the insert leg is a
    // broadcast left-anti on the matched-key set (batch-bounded)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan.take(3000))
    assert(plan.contains("LeftAnti"), plan.take(3000))
    // a SortMergeJoin here would mean the full-outer formulation crept
    // back in and the dimension is being shuffled
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("graph wave shapes: LPA's rank-1 window is per-node, kCore prunes via semi-joins") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.Graph
    // the PRODUCTION wave builders (the same code the iterative loops
    // checkpoint), not replicas — a regression in the operator fails here
    val sym = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val labels = sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    // the window must be PARTITIONed by node — a global row_number would
    // funnel the whole vocabulary of (node,label) pairs through one task
    val wavePlan = Graph.lpaWave(labels, sym)
      .queryExecution.executedPlan.toString
    // the rank-1 filter plans as the engine's TopKPerKey pair keyed by
    // node
    assertTopKPair(wavePlan)
    val perKeyLine = wavePlan.linesIterator
      .find(_.contains("TopKPerKey")).getOrElse("")
    assert(perKeyLine.contains("node"), s"wave not per-node: $perKeyLine")
    // survivors prune edges through two LeftSemi joins — an inner join
    // against the degree table would duplicate edges
    val prunedPlan = Graph.kCorePrune(sym, 1)
      .queryExecution.executedPlan.toString
    assert("LeftSemi".r.findAllIn(prunedPlan).size >= 2, prunedPlan.take(2000))
  }

  test("CountMin.topK: sketch broadcasts, top-k is a heap take, never a global sort") {
    import graft.operators.CountMin
    val ev = Tables.events(spark, sfDir)
    val plan = CountMin.topK(ev, CountMin.sketch(ev, "user_id"),
      "user_id", 10).queryExecution.executedPlan.toString
    // the Depth·Width sketch is the broadcast side of the estimate join
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    // orderBy+limit must plan the bounded heap, not a full sort of the
    // candidate estimates (the global row_number then ranks only k rows)
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
  }

  test("q22/q23/q26: EXISTS decorrelates to a semi join; OLAP dims broadcast") {
    val p22 = planOf("q22_order_priority_exists")
    // the correlated EXISTS must plan as a semi join on o_orderkey, never
    // a per-row subquery or a nested loop over lineitem
    assert(p22.contains("LeftSemi"), p22.take(2000))
    assert(!p22.contains("BroadcastNestedLoopJoin"), p22.take(2000))
    // Q5 shape: supplier + nation + region ride broadcast; the top-20
    // ranking is a bounded heap in Q10's shape
    val p23 = planOf("q23_local_supplier_volume")
    assert("BroadcastHashJoin".r.findAllIn(p23).size >= 3, p23.take(3000))
    val p26 = planOf("q26_returned_items")
    assert(p26.contains("BroadcastHashJoin"), p26.take(3000))
    assert(p26.contains("TakeOrderedAndProject"), p26.take(3000))
  }

  test("q29_revenue_delta: date, discount, and quantity all push to the scan") {
    val plan = planOf("q29_revenue_delta")
    // the rendered PushedFilters list is elided mid-string, so pin the
    // stable prefix (all three columns present) + the full predicate row
    // in the Filter node (the scan-level filters are a superset re-check)
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "IsNotNull(l_discount), IsNotNull(l_quantity), GreaterThanOrEqual"),
      plan.take(3000))
    assert("l_quantity#\\d+ < 24".r.findFirstIn(plan).isDefined, plan.take(3000))
    assert("l_discount#\\d+ >= 0\\.05".r.findFirstIn(plan).isDefined,
      plan.take(3000))
  }

  test("q30/q31/q32: outer-join histogram, semi-over-agg, and NOT-IN anti shapes") {
    // Q13 shape: the priority filter lives in the LEFT join condition —
    // zero-order customers must survive to the histogram, so the join
    // stays outer (an optimizer pushing the filter to WHERE would turn
    // it inner and silently drop them)
    val p30 = planOf("q30_customer_orders_dist")
    assert(p30.contains("LeftOuter"), p30.take(3000))
    assert(!p30.contains("BroadcastNestedLoopJoin"), p30.take(3000))
    // Q18 shape: the IN-over-HAVING plans as a semi join against the
    // pre-aggregated lineitem, never a per-row subquery
    val p31 = planOf("q31_big_quantity_orders")
    assert(p31.contains("LeftSemi"), p31.take(3000))
    assert(!p31.contains("BroadcastNestedLoopJoin"), p31.take(3000))
    assert(p31.contains("TakeOrderedAndProject"), p31.take(3000))
    // Q16 shape: the NOT-IN exclusion is an anti join (null-aware or
    // plain — keys are non-nullable), and the part filters push down
    val p32 = planOf("q32_supplier_part_breadth")
    assert(p32.contains("LeftAnti"), p32.take(3000))
    assert(p32.contains("PushedFilters: [IsNotNull(p_type), Not(EqualTo(p_type,PROMO)), In(p_size"),
      p32.take(3000))
  }

  test("constraint elimination: joins and shuffles are really GONE from the plans") {
    // inner elimination leaves a join-free plan — and since r12 the
    // fixture declares NOT NULL on l_orderkey, so even the IsNotNull
    // residue is gone: the fact scan runs bare
    val pJoin = planOf("q_opt_join_elim")
    assert(!pJoin.contains("Join"), pJoin.take(3000))
    assert(!pJoin.contains("IsNotNull(l_orderkey"), pJoin.take(3000))
    // the wide view keeps EXACTLY the one join whose dim the query uses
    val pWide = planOf("q_opt_wide_view")
    assert("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin".r
      .findAllIn(pWide).size == 1, pWide.take(3000))
    assert(!pWide.contains("optdimpartkey_") && !pWide.contains("optdimsupp_"),
      pWide.take(3000))
    // dedup/group-by elimination: no aggregate EXCHANGE anywhere — the
    // scan feeds the projection directly
    val pAgg = planOf("q_opt_agg_elim")
    assert(!pAgg.contains("HashAggregate") && !pAgg.contains("SortAggregate"),
      pAgg.take(3000))
    val pDedup = planOf("q_opt_dedup_elim")
    assert(!pDedup.contains("HashAggregate") && !pDedup.contains("SortAggregate"),
      pDedup.take(3000))
  }
}
