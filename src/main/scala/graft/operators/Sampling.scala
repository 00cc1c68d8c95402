package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines (engine-added).
  *
  * Spark's `df.sample()` draws from a per-partition RNG: the selected set
  * changes with partition layout, retries, and scale-ups — useless for a
  * reproducible training corpus. These operators hash row CONTENT instead:
  * the same row is in or out of the sample on every run, every cluster
  * size, every engine (the oracle recomputes the same md5 arithmetic in
  * DuckDB).
  *
  * At 100 TB both are embarrassingly parallel: `bernoulli` is a pure
  * scan-side filter (no shuffle at all); `stratifiedCap` shuffles once on
  * the stratum key — and because it is the rank-limit window idiom, it
  * plans as this engine's TopKPerKeyExec (Spark's WindowGroupLimit with
  * the rewrite off) instead of sorting whole strata.
  */
object Sampling {

  /** Stable per-row bucket in [0, buckets): first 8 md5 hex chars of the
    * id rendered AS TEXT (text form is engine-portable; raw integer bytes
    * are not). */
  def hashBucket(id: Column, buckets: Int = 10000): Column =
    conv(substring(md5(id.cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long") % buckets

  /** Bernoulli-style deterministic sample: keeps the rows whose bucket
    * falls below `rate`·10000 (rate quantized to 1/10000ths). */
  def bernoulli(df: DataFrame, idCol: String, rate: Double): DataFrame = {
    require(rate >= 0 && rate <= 1, "rate in [0,1]")
    df.filter(hashBucket(col(idCol)) < math.round(rate * 10000).toInt)
  }

  /** Stratified cap: at most `k` rows per stratum, chosen as the k
    * smallest (md5(id), id) — a deterministic class-balancing downsample
    * (cap the over-represented language/source, keep small strata whole). */
  def stratifiedCap(df: DataFrame, strataCols: Seq[String], idCol: String,
                    k: Int): DataFrame = {
    val w = Window.partitionBy(strataCols.map(col): _*)
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Temperature resampling across strata (the multilingual-corpus
    * rebalance: train on lang l with probability ∝ n_l^α, α<1 flattening
    * the distribution). Filter-only realization: every stratum keeps
    * rate_l = (n_min/n_l)^(1−α) of its rows — the smallest stratum keeps
    * everything, the biggest is downsampled hardest; α=1 keeps all, α=0
    * equalizes stratum sizes (in expectation).
    *
    * Deterministic: row selection is the same content-hash bucket as
    * [[bernoulli]] against a per-stratum cap. The stratum-count aggregate
    * is tiny (|langs| rows), so the plan is: one partial-agg shuffle to
    * build the rate table, broadcast it back, filter at the scan — the
    * 100 TB side is never re-shuffled. Rate arithmetic sticks to IEEE
    * sqrt/division (exactly reproducible in the DuckDB oracle); only
    * α = 0.5 is exposed, as `sqrtTemperature`, for that reason.
    */
  def sqrtTemperatureSample(df: DataFrame, stratumCol: String, idCol: String): DataFrame = {
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("__n"))
    val minN = counts.agg(min(col("__n")).as("__n_min"))
    val caps = counts.crossJoin(broadcast(minN))
      .select(col(stratumCol),
        floor(sqrt(col("__n_min").cast("double") / col("__n")) * 10000)
          .cast("long").as("__cap"))
    df.join(broadcast(caps), stratumCol)
      .filter(hashBucket(col(idCol)) < col("__cap"))
      .drop("__cap")
  }

  /** Weight-proportional Bernoulli sampling with a RATIONAL exponent —
    * the general weight-exponent sampler (keep probability
    * p_i = rate · (w_i / w_max)^(p/q)) in an INTEGER-EXACT formulation.
    *
    * The blocker for this family was cross-engine `pow` determinism
    * (IEEE pow is not correctly rounded; Spark and DuckDB can disagree
    * on boundary buckets). The trick: never compute the power. The
    * inclusion test  bucket/B < rate·(w/W)^(p/q)  raised to the q-th
    * power (monotone for non-negatives) becomes
    *
    *   bucket^q · W^p  <  w^p · rateQ^q      (rateQ = round(rate·B))
    *
    * — pure integer products both engines evaluate bit-identically, for
    * ANY rational exponent. The driver-side scalar is one max(weight)
    * fetch (a model read, never data); the filter itself is scan-side,
    * shuffle-free, and layout-invariant like [[bernoulli]].
    *
    * Width routing, checked EXACTLY (BigInt) against the actual
    * W/rate/exponent before the job runs: products that fit 63 bits run
    * as codegen'd LONG arithmetic; up to 10^38 they route through
    * DECIMAL(38,0) (Spark's exact 128-bit integers — DuckDB mirrors
    * with HUGEINT casts, comparisons stay bit-identical); beyond that
    * the combination fails loudly, never wraps. Scale invariance comes
    * free: (c·w / c·W)^α ≡ (w/W)^α, so pre-scaled weights select the
    * SAME rows (spec-pinned). */
  def weightedBernoulli(df: DataFrame, idCol: String, weightCol: String,
                        rate: Double = 1.0, expNum: Int = 1,
                        expDen: Int = 1): DataFrame = {
    require(rate >= 0 && rate <= 1, "rate in [0,1]")
    require(expNum >= 1 && expDen >= 1, "exponent p/q must be positive")
    val b = 10000L
    val rateQ = math.round(rate * b)
    val wMax = df.agg(max(col(weightCol).cast("long"))).head().getLong(0)
    require(wMax >= 1, s"max($weightCol) must be >= 1, got $wMax")
    val lhsMax = BigInt(b - 1).pow(expDen) * BigInt(wMax).pow(expNum)
    val rhsMax = BigInt(wMax).pow(expNum) * BigInt(rateQ).pow(expDen)
    val bound = lhsMax.max(rhsMax)
    require(bound < BigInt(10).pow(38),
      s"weight/exponent combination overflows DECIMAL(38): max product " +
        s"$bound — lower the exponent or pre-scale the weight down")
    val useDec = bound > Long.MaxValue
    def cc(c: Column) =
      if (useDec) c.cast(org.apache.spark.sql.types.DecimalType(38, 0)) else c
    def bigLit(v: BigInt) =
      if (useDec) lit(new java.math.BigDecimal(v.bigInteger))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))
      else lit(v.toLong)
    def powC(c: Column, e: Int) = Seq.fill(e)(c).reduce(_ * _)
    val w = col(weightCol).cast("long")
    df.filter(w >= 1 &&
      powC(cc(hashBucket(col(idCol), b.toInt)), expDen) *
        bigLit(BigInt(wMax).pow(expNum)) <
      powC(cc(w), expNum) * bigLit(BigInt(rateQ).pow(expDen)))
  }

  /** Temperature resampling with a RATIONAL keep exponent — the general
    * form of [[sqrtTemperatureSample]] (which is pinned to α = 0.5):
    * every stratum keeps rate_l = (n_min / n_l)^(p/q) of its rows, via
    * the same raised-to-the-q integer comparison as
    * [[weightedBernoulli]]:
    *
    *   bucket^q · n_l^p  <  n_min^p · B^q
    *
    * One tiny count aggregate builds the per-stratum table, broadcast
    * back; the corpus-side filter is scan-side and shuffle-free. */
  def rationalTemperatureSample(df: DataFrame, stratumCol: String,
                                idCol: String, expNum: Int,
                                expDen: Int): DataFrame = {
    require(expNum >= 1 && expDen >= 1, "exponent p/q must be positive")
    val b = 10000L
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("__n"))
    val nMax = counts.agg(max(col("__n"))).head().getLong(0)
    val lhsMax = BigInt(b - 1).pow(expDen) * BigInt(nMax).pow(expNum)
    val rhsMax = BigInt(nMax).pow(expNum) * BigInt(b).pow(expDen)
    require(lhsMax < Long.MaxValue && rhsMax < Long.MaxValue,
      s"stratum-count/exponent combination overflows 64-bit ($lhsMax/$rhsMax)")
    def powC(c: Column, e: Int) = Seq.fill(e)(c).reduce(_ * _)
    val minN = counts.agg(min(col("__n")).as("__n_min"))
    val caps = counts.crossJoin(broadcast(minN))
    df.join(broadcast(caps), stratumCol)
      .filter(powC(hashBucket(col(idCol), b.toInt), expDen) * powC(col("__n"), expNum) <
        powC(col("__n_min"), expNum) * lit(Seq.fill(expDen)(b).product))
      .drop("__n", "__n_min")
  }

  /** Leakage-safe train/val/test split: the split is assigned by hashing
    * the GROUP key, not the row, so every row of a group (a near-dup
    * cluster, a source domain, a user's documents) lands in the same
    * split — row-hash splits leak near-duplicates of training documents
    * into eval sets. `fractions` are (label, fraction) in declaration
    * order, quantized to 1/10000ths on cumulative bucket thresholds;
    * they must sum to 1. Pure scan-side projection + filterless select:
    * no shuffle, layout-invariant, reproducible on any cluster. */
  def groupSplit(df: DataFrame, groupCol: String,
                 fractions: Seq[(String, Double)]): DataFrame = {
    require(fractions.nonEmpty && math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val cuts = fractions.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(f => math.round(f * 10000).toInt)
    val bucket = hashBucket(col(groupCol))
    val split = fractions.map(_._1).zip(cuts).init
      .foldRight(lit(fractions.last._1)) { case ((label, cut), els) =>
        when(bucket < cut, lit(label)).otherwise(els)
      }
    df.withColumn("split", split)
  }

  /** Deterministic PER-EPOCH shuffle order — the training-export need
    * RNG shuffles can't meet: epoch e's order is the sort by
    * md5(e || ':' || id), a different but bit-reproducible permutation
    * per epoch on every run, cluster size, and engine. Exposed as the
    * order KEY (write exports with repartitionByRange + sortWithin on
    * it — global order across files, no single-partition window). */
  def epochShuffleKey(idCol: Column, epoch: Int): Column =
    md5(concat_ws(":", lit(epoch.toString), idCol.cast("string")))

  /** The first `k` rows of epoch `epoch`'s shuffle order — the
    * curriculum head. orderBy + limit plans as TakeOrderedAndProject
    * (per-partition top-k, then a k-row merge on the driver side of the
    * exchange) — no global sort, no single-partition window. */
  def epochShuffleHead(df: DataFrame, idCol: String, epoch: Int,
                       k: Int): DataFrame =
    df.withColumn("shuffle_key", epochShuffleKey(col(idCol), epoch))
      .orderBy("shuffle_key").limit(k)

  /** Deterministic shard id in [0, nShards) — the export key for writing
    * a training corpus as N balanced files/streams. Content-hashed like
    * everything above: re-running the export on a different cluster
    * layout yields byte-identical shards. */
  def shardId(id: Column, nShards: Int): Column =
    hashBucket(id, nShards)

  /** Chunk-boundary sequence packing: within each shard, lay documents in
    * a deterministic pseudo-random order (md5(id), id) and cut bins every
    * `capacityTokens` cumulative tokens — the distributed approximation of
    * training-batch packing (a doc may straddle a boundary; the trainer
    * concatenates bins downstream). One shuffle on the shard key; the
    * cumulative sum is a partition-local running window, and shards bound
    * partition size by construction, so the sort is bounded and spillable.
    */
  def packBins(df: DataFrame, idCol: String, tokenCol: String,
               nShards: Int, capacityTokens: Long): DataFrame = {
    val w = Window.partitionBy(col("shard_id"))
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("shard_id", shardId(col(idCol), nShards))
      .withColumn("__cum", sum(col(tokenCol)).over(w))
      .withColumn("bin_id",
        floor((col("__cum") - col(tokenCol)) / lit(capacityTokens.toDouble))
          .cast("long"))
      .drop("__cum")
  }

  /** Token-budget mixture: per stratum (language, source domain, quality
    * tier), keep documents — in the deterministic content-hash order
    * (md5(id), id) — while the stratum's running `sizeCol` total stays
    * within its budget from `targets`. This is the data-mixing step of a
    * training pipeline ("this run: 30% web, 30% code, 40% books, by
    * tokens"), made reproducible: the selected set is a pure function of
    * content, not of cluster layout or scan order.
    *
    * The naive realization is one running-sum window per stratum — at
    * 100 TB a single stratum ("web") can be most of the corpus funneled
    * into ONE window partition. This operator goes two-pass instead:
    *
    *  1. per (stratum, hash-bucket) size sums — an aggregate shuffle whose
    *     output is |strata|·`buckets` rows, collected to the driver and
    *     turned into per-bucket PREFIX sums (the only driver step, on a
    *     bounded aggregate, never on data rows);
    *  2. each row's exact running total = its bucket's prefix + a
    *     within-(stratum, bucket) running window — `buckets`-way parallel
    *     per stratum, so no single task ever sees a whole stratum.
    *
    * Selection order is equivalently ORDER BY (bucket, md5(id), id) —
    * what the DuckDB oracle replays as one window. Rows whose stratum has
    * no target are dropped. A row that would cross its budget is cut
    * (keep-while `cum <= target`). */
  def tokenBudgetMix(df: DataFrame, stratumCol: String, idCol: String,
                     sizeCol: String, targets: Map[String, Long],
                     buckets: Int = 256): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bucketed = df.withColumn("__bucket", hashBucket(col(idCol), buckets))
    val perBucket = bucketed
      .filter(col(stratumCol).isin(targets.keys.toSeq: _*))
      .groupBy(col(stratumCol).as("__stratum"), col("__bucket"))
      .agg(sum(col(sizeCol).cast("long")).as("__sz"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val prefixes = perBucket.groupBy(_._1).toSeq.flatMap { case (stratum, rows) =>
      val sorted = rows.sortBy(_._2)
      val prefix = sorted.map(_._3).scanLeft(0L)(_ + _)
      sorted.map(_._2).zip(prefix).map { case (b, p) =>
        (stratum, b, p, targets(stratum))
      }
    }.toDF("__stratum", "__pbucket", "__prefix", "__target")
    val w = Window.partitionBy(col(stratumCol), col("__bucket"))
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed
      .join(broadcast(prefixes),
        col(stratumCol) === col("__stratum") && col("__bucket") === col("__pbucket"))
      .withColumn("__cum", col("__prefix") + sum(col(sizeCol).cast("long")).over(w))
      .filter(col("__cum") <= col("__target"))
      .withColumn("cum_size", col("__cum"))
      .drop("__stratum", "__bucket", "__pbucket", "__prefix", "__target", "__cum")
  }

  /** Topic-balanced cap: k-means the embedding space
    * ([[Similarity.ivfCentroids]]'s all-integer Lloyd — deterministic,
    * replay-oracle-able) and keep at most `perTopic` vectors per
    * EMERGENT cluster, chosen in content-hash order ([[stratifiedCap]]).
    * The mixture-curation step when no label exists to balance on:
    * web corpora are dominated by a few content genres, and capping by
    * semantic cluster flattens the topic distribution the way
    * [[stratifiedCap]] flattens a labeled language/source column.
    * (SemDeDup's observation applied to sampling: cluster structure is
    * the balance key, not metadata.)
    *
    * Scale shape: clustering is broadcast-centroid map-side work; the
    * cap is one rank-limit window per cluster (WindowGroupLimit prunes
    * below the cap). Returns (vec_id, cluster) for the survivors. */
  def topicBalancedCap(corpus: DataFrame, perTopic: Int,
                       nClusters: Int = 16, iters: Int = 2): DataFrame = {
    // quantize is a map-side projection — the training collect reads a
    // TakeOrdered sample and assignment recomputes it in-scan; caching
    // a corpus-sized frame for that would be the memory-pressure bug
    val corpusQ = Similarity.quantizeCorpus(corpus)
    val centroids = Similarity.ivfCentroidsQ(corpusQ, nClusters, iters)
    val member = Similarity.assignClustersQ(corpusQ, centroids)
    stratifiedCap(member, Seq("cluster"), "vec_id", perTopic)
  }

  /** Curriculum phase assignment: split each group's rows into `phases`
    * difficulty tiers by EXACT per-group quantile cuts of `valueCol`
    * (sequence length is the standard first-order difficulty proxy —
    * short rows first, long-tail rows last). Cuts come from
    * [[Profiling.exactQuantilesByHistogram]] (integer percents
    * `i·100/phases`), so the tier boundaries are exact order statistics,
    * not approx-percentile guesses; a row lands in
    * `1 + |{cuts strictly below it}|`, so rows equal to a cut stay in
    * the lower tier and degenerate groups (fewer distinct values than
    * phases) collapse tiers instead of misassigning.
    *
    * Scale shape: the cut table is ≤ groups×(phases−1) rows — broadcast
    * as a model — and labeling is one scan-side HOF over it; the only
    * shuffle is the final (group, phase) rollup. Output:
    * (group, phase, n_rows, sum_v). */
  def curriculumPhases(df: DataFrame, groupCol: String, valueCol: String,
                       phases: Int): DataFrame = {
    require(phases >= 2, s"need >= 2 phases, got $phases")
    val qPcts = (1 until phases).map(i => (i * 100) / phases)
    val cuts = Profiling.exactQuantilesByHistogram(df, groupCol, valueCol, qPcts)
      .groupBy(groupCol).agg(sort_array(collect_list("v")).as("__cuts"))
    df.filter(col(valueCol).isNotNull)
      .join(broadcast(cuts), groupCol)
      .withColumn("phase",
        lit(1L) + aggregate(col("__cuts"), lit(0L),
          (acc, c) => acc + when(col(valueCol) > c, 1L).otherwise(0L)))
      .groupBy(col(groupCol), col("phase"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col(valueCol).cast("long")).as("sum_v"))
  }
}
