package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication family for the LLM-data-pipeline surface: exact
  * (fingerprint hash-groupBy), MinHash+LSH banded near-dup, SimHash.
  *
  * Scale shape: every operator is a hash-partitioned groupBy/equi-join on a
  * short key (16-byte digest, 8-byte band hash, 8-byte simhash chunk) —
  * never an all-pairs comparison, never a driver-side collect. Candidate
  * pairs are verified with exact Jaccard before being reported, so LSH
  * recall/precision tuning can't produce false positives.
  */
object Dedup {

  /** Exact dedup: group by content fingerprint, keep the smallest id
    * (deterministic keep-first, SURVEY §7.5). Output:
    * (fingerprint, keeper_id, n_copies). */
  def exactByFingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fp", TextFns.fingerprint(col(textCol)))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Incremental exact dedup: keep only the rows of a NEW batch whose
    * fingerprint does not already exist in the corpus — how a pipeline
    * admits a fresh crawl against trillions of already-ingested documents
    * without re-deduplicating the world.
    *
    * `corpus` may be the full document table; only its 16-byte digests
    * flow into the anti-join, so at 100 TB the corpus side is a compact
    * fingerprint index scan (store it pre-bucketed on `fp` and the
    * exchange on the index side disappears), and the batch side — the
    * small one — shuffles its digests to meet it. Output carries the
    * batch row id plus its fingerprint.
    */
  def incrementalNew(batch: DataFrame, corpus: DataFrame,
                     idCol: String, textCol: String): DataFrame = {
    val corpusFps = corpus.select(TextFns.fingerprint(col(textCol)).as("fp"))
    batch
      .select(col(idCol), TextFns.fingerprint(col(textCol)).as("fp"))
      .join(corpusFps, Seq("fp"), "left_anti")
      .select(col(idCol), col("fp"))
  }

  /** One-time (or incrementally maintained) MinHash/LSH index of a
    * corpus, persisted as two parquet tables under `dir`:
    * `bands` = (idCol, band, band_hash) — the LSH candidate-lookup side —
    * and `shingles` = (idCol, sh: array<long>) — the exact-verify side.
    * This is what makes near-dup dedup INCREMENTAL at 100 TB: the corpus
    * text is shingled and signed exactly once; every subsequent batch
    * joins these compact tables (≤ a few hundred bytes/doc) instead of
    * re-reading documents. In production both tables would be bucketed
    * on their join keys (band_hash, idCol) so the daily lookup shuffles
    * only the batch side. */
  def writeMinHashIndex(corpus: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int, numHashes: Int, bands: Int,
                        dir: String): Unit = {
    lshBands(minHashSignatures(corpus, idCol, textCol, shingleSize, numHashes),
        idCol, "sig", bands)
      .write.mode("overwrite").parquet(s"$dir/bands")
    corpus.filter(size(TextFns.tokens(col(textCol))) >= lit(shingleSize))
      .select(col(idCol), shingleHashes(col(textCol), shingleSize).as("sh"))
      .write.mode("overwrite").parquet(s"$dir/shingles")
  }

  /** Near-dups of a NEW batch against an indexed corpus (the
    * [[minHashNearDups]] semantics, without touching corpus text): sign
    * and band the batch, equi-join band hashes against the index's
    * `bands` table for candidates, exact-verify against the index's
    * precomputed shingle sets. Index params (shingleSize, numHashes,
    * bands) must match [[writeMinHashIndex]]'s. Output:
    * (id_new, id_corpus, jac), jac ≥ tau exact.
    *
    * Daily-batch cost is O(|batch| signatures + matched candidates); the
    * corpus contributes only index scans. After admission, append the
    * batch's own band/shingle rows to the index and it stays current. */
  def incrementalNearDups(batch: DataFrame, indexDir: String,
                          idCol: String, textCol: String,
                          shingleSize: Int, numHashes: Int, bands: Int,
                          tau: Double): DataFrame = {
    val spark = batch.sparkSession
    val bNew = lshBands(
        minHashSignatures(batch, idCol, textCol, shingleSize, numHashes),
        idCol, "sig", bands)
      .select(col(idCol).as("id_new"), col("band"), col("band_hash"))
    val idxBands = graft.sources.SchemaCache.readDir(spark, s"$indexDir/bands")
      .select(col(idCol).as("id_corpus"), col("band"), col("band_hash"))
    val cand = bNew.join(idxBands, Seq("band", "band_hash"))
      .select("id_new", "id_corpus").distinct()
    val shNew = batch
      .filter(size(TextFns.tokens(col(textCol))) >= lit(shingleSize))
      .select(col(idCol).as("id_new"),
        shingleHashes(col(textCol), shingleSize).as("sh_new"))
    val shIdx = graft.sources.SchemaCache.readDir(spark, s"$indexDir/shingles")
      .select(col(idCol).as("id_corpus"), col("sh").as("sh_corpus"))
    cand.join(shNew, "id_new").join(shIdx, "id_corpus")
      .withColumn("jac", jaccard(col("sh_new"), col("sh_corpus")))
      .filter(col("jac") >= tau)
      .select("id_new", "id_corpus", "jac")
  }

  /** Hashed n-token shingles as ONE array<long> per row via the native
    * [[graft.plans.ShingleHashes]] expression: each window folds its
    * tokens through XXH64 in a fused loop — no per-shingle string
    * building, no HOF (which would be CodegenFallback and drop the whole
    * sketch projection out of whole-stage codegen). NULL when the doc is
    * too short to shingle. Distinctness is taken on the 64-bit hashes; a
    * collision (birthday odds ~1e-7 at 10⁶ distinct shingles) only
    * perturbs candidate recall, never the exact verify. */
  def shingleHashes(text: Column, n: Int): Column =
    call_function("shingle_hashes", TextFns.tokens(text), lit(n))

  /** MinHash signatures via the native [[graft.plans.MinHashSigs]]
    * expression: one pass over the row's shingle-hash array computes all
    * `numHashes` minima — no row explosion, no shuffle, whole-stage
    * codegen. The shingle array has exactly one consumer, so Catalyst's
    * projection collapse (which re-inlined shingling into each of 64
    * aggregate columns in the exploded formulation, measured ~10³×
    * recompute) cannot multiply work. Output: (idCol, sig array<long>),
    * unshingleable docs dropped. */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int, numHashes: Int): DataFrame = {
    // too-short docs are dropped by a cheap token-count predicate BEFORE
    // the projection: filtering on sig IS NOT NULL instead would be pushed
    // below the project by substitution and evaluate the signature twice
    df.filter(size(TextFns.tokens(col(textCol))) >= lit(shingleSize))
      .select(col(idCol),
        call_function("minhash_sigs",
          shingleHashes(col(textCol), shingleSize), lit(numHashes)).as("sig"))
  }

  /** LSH banding: split the signature into `bands` bands and hash each —
    * docs sharing any band hash become candidates. Returns
    * (idCol, band, band_hash), one row per band. */
  def lshBands(df: DataFrame, idCol: String, sigCol: String, bands: Int): DataFrame = {
    // `/` on Columns is DOUBLE division — a fractional rowsPerBand would
    // silently overlap/skip signature positions; floor to int and let
    // minHashNearDups enforce divisibility up front
    val rowsPerBand = floor(size(col(sigCol)) / bands).cast("int")
    df.select(col(idCol),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(b, slice(col(sigCol), b * rowsPerBand + 1, rowsPerBand)))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
  }

  /** Candidate pairs from banded signatures: equi-join on (band, band_hash),
    * `a < b` to orient, distinct to collapse multi-band hits. The join key
    * is 12 bytes — this is the shuffle, and the only one. */
  def candidatePairs(bandsDf: DataFrame, idCol: String): DataFrame = {
    val a = bandsDf.select(col(idCol).as("id_a"), col("band"), col("band_hash"))
    val b = bandsDf.select(col(idCol).as("id_b"), col("band"), col("band_hash"))
    a.join(b, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact Jaccard between two pre-deduplicated shingle arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** Exact shingle-set verification of candidate pairs: build shingle
    * sets ONLY for docs that appear in a candidate pair (a left-semi
    * join — the candidate set is tiny relative to the corpus by LSH
    * construction), join both sides onto the pairs, keep exact
    * Jaccard ≥ tau. Shared by the MinHash and SimHash pipelines so both
    * report exact, byte-identical-to-brute-force pairs.
    *
    * The sets compared are the 64-bit shingle HASHES, not the shingle
    * strings: set sizes (and therefore Jaccard) are identical unless two
    * distinct shingles collide in 64 bits (birthday odds ~1e-7 at 10⁶
    * distinct shingles — and a collision would have to hit a candidate
    * doc to matter), and long-array intersection is several times cheaper
    * than string-array intersection. */
  def verifyPairsExact(
      df: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, shingleSize: Int, tau: Double): DataFrame = {
    val candIds = pairs.select(col("id_a").as(idCol))
      .union(pairs.select(col("id_b").as(idCol))).distinct()
    // candIds is small by construction → broadcast semi-join, so the
    // corpus is never shuffled; shingles are computed for candidate docs
    // only. (At a pathological dup-rate where candidates ≈ corpus, drop
    // the hint and let AQE pick the join.)
    // persisted: both sides of the pair join consume this frame — without
    // the barrier the corpus semi-join + shingling runs twice
    val candSh = df.join(broadcast(candIds), Seq(idCol), "left_semi")
      .filter(size(TextFns.tokens(col(textCol))) >= lit(shingleSize))
      .select(col(idCol), shingleHashes(col(textCol), shingleSize).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val verified = pairs
      .join(candSh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(candSh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jac", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jac") >= tau)
      .select("id_a", "id_b", "jac")
    // The verified pair set is tiny by LSH construction — materialize it
    // eagerly (localCheckpoint truncates lineage) so the candidate shingle
    // cache can be released NOW instead of living for the session. Callers
    // composing pipelines (near-dup clustering, corpus curation) otherwise
    // accumulate cached blocks per invocation.
    val out = verified.localCheckpoint()
    candSh.unpersist(false)
    out
  }

  /** Full MinHash/LSH near-dup pipeline over (idCol, textCol):
    * hash-shingle → sign → band → candidate equi-join → exact-Jaccard
    * verify ≥ tau. Output: (id_a, id_b, jac), one row per verified
    * near-dup pair.
    *
    * With numHashes=64, bands=16 (4 rows/band) the miss probability for a
    * true pair at J=0.8 is (1-0.8⁴)¹⁶ ≈ 2e-4, and at J=0.9 ≈ 3e-8 — the
    * verify step then makes reported pairs exact. Every candidate goes
    * straight to the exact verify (no signature-estimate prune: it saved
    * little once candidates were measured in the hundreds, and its
    * probabilistic cut could drop a borderline true pair).
    */
  def minHashNearDups(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5, numHashes: Int = 64, bands: Int = 16,
      tau: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands) — " +
        "fractional banding skips signature positions")
    // persisted: the band table feeds both sides of the candidate
    // self-join (id + 64 longs per doc — the signature table, not the
    // corpus; exchange reuse would cover it, but an explicit persist
    // doesn't depend on plan canonicalization)
    val signed = minHashSignatures(df, idCol, textCol, shingleSize, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // persisted: consumed by the candidate-id semi-join and the verify join
    val pairs = candidatePairs(lshBands(signed, idCol, "sig", bands), idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // verifyPairsExact returns an eagerly-materialized frame, so the
    // intermediates can be released before returning (cache ownership
    // stays inside the operator; composed pipelines don't leak blocks)
    val out = verifyPairsExact(df, idCol, textCol, pairs, shingleSize, tau)
    pairs.unpersist(false)
    signed.unpersist(false)
    out
  }

  /** 64-bit SimHash over unigram token hashes via the native
    * [[graft.plans.SimHash64]] expression — one pass per row, no explode,
    * no shuffle. Docs with no tokens are dropped (no feature → no hash),
    * matching the old aggregation form's semantics; values are identical
    * to it too (same xxhash64 token features, same majority-bit rule). */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.filter(col(textCol).isNotNull) // null text has no features
      .select(col(idCol),
        call_function("simhash64",
          transform(TextFns.tokens(col(textCol)), t => xxhash64(t))).as("simhash"))
  }

  /** SimHash near-dup pipeline: 64-bit simhash over the SAME hashed
    * n-gram shingle features MinHash uses, banded into 64/bandBits
    * chunks; docs sharing any chunk are candidates, pruned by full-hash
    * Hamming distance, then exact-verified like MinHash.
    *
    * Shingle features (not unigram tokens) are what make the banding
    * usable: near-dup docs share most shingles (Hamming ≈ 0-12) while
    * background pairs share only vocabulary, whose shingle sets are
    * nearly disjoint (Hamming ≈ 32) — measured at sf0.1, switching the
    * feature space cut raw 8-bit-band candidates 5.1M → 400k and
    * Hamming≤12 candidates 951k → 258 (≈ exactly the true pairs).
    */
  /** @param bandBits width of each simhash band. Candidate generation is
    *                  pigeonhole-complete for pairs at Hamming < 64/bandBits
    *                  and probabilistic beyond; 8 (complete to Hamming 7)
    *                  suits ~10³-10⁵ docs, widen to 16 for ~10⁶+ corpora.
    *                  Must divide 64.
    * @param hammingMax full-simhash Hamming cutoff before the exact verify.
    *                   Measured shingle-feature geometry on the sf0.1
    *                   corpus: true J≥0.5 pairs sit at Hamming 0-12,
    *                   background at ≈32; the default 16 keeps every true
    *                   pair with 4 bits of margin while admitting only
    *                   ~600 candidates (of 12.5M possible pairs). */
  def simHashNearDups(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5, tau: Double = 0.5, bandBits: Int = 8,
      hammingMax: Int = 16): DataFrame = {
    // The simhash table feeds a self-join plus the Hamming prefilter —
    // persisted so the scan+sketch runs once per consumer. The cached
    // table is id + one long per doc — at 100 TB this is the (tiny)
    // signature table, not the corpus.
    val sim = df
      .filter(size(TextFns.tokens(col(textCol))) >= lit(shingleSize))
      .select(col(idCol),
        call_function("simhash64",
          shingleHashes(col(textCol), shingleSize)).as("simhash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nBands = 64 / bandBits
    val mask = (1L << bandBits) - 1
    val banded = sim.select(col(idCol),
        posexplode(array((0 until nBands).map(b =>
          shiftright(col("simhash"), b * bandBits).bitwiseAND(lit(mask))): _*)))
      .select(col(idCol), col("pos").as("band"), col("col").as("band_hash"))
    val pairs = candidatePairs(banded, idCol)
    // 8-bit bands collide freely at corpus scale (256 values/band), so
    // candidates ≫ true pairs. Prune with the full-simhash Hamming
    // distance (two longs, a popcount — trivially cheap) before the
    // exact-Jaccard verify touches shingle arrays.
    val hams = sim.select(col(idCol), col("simhash"))
    val prefiltered = pairs
      .join(hams.select(col(idCol).as("id_a"), col("simhash").as("h_a")), "id_a")
      .join(hams.select(col(idCol).as("id_b"), col("simhash").as("h_b")), "id_b")
      .filter(bit_count(col("h_a").bitwiseXOR(col("h_b"))) <= hammingMax)
      .select("id_a", "id_b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // same cache-ownership contract as minHashNearDups: the verify is
    // eager, so intermediates are released before returning
    val out = verifyPairsExact(df, idCol, textCol, prefiltered, shingleSize, tau)
    prefiltered.unpersist(false)
    sim.unpersist(false)
    out
  }

  /** Connected components over verified near-dup pairs → cluster id
    * (= min member doc id) per member: the step that turns a pair list
    * into a dedup decision — keep `cluster_id`, drop the rest.
    *
    * Two regimes, chosen by measured edge count:
    *  - pair graphs up to `maxDriverEdges` (the overwhelmingly common
    *    case — LSH bounds pairs to a sliver of the corpus) are collected
    *    and solved with driver union-find: one collect, zero iterative
    *    jobs. 4M edges ≈ 64 MB on the driver.
    *  - larger graphs run synchronous min-label propagation WITH
    *    POINTER DOUBLING: each round joins the edge list against
    *    current labels for the neighborhood min, then follows each
    *    label one hop (label := min(label, label(label))) — the
    *    path-halving step that turns O(component diameter) rounds into
    *    O(log diameter), so a pathological near-dup CHAIN (pairwise-
    *    similar drift sequences — real in crawl data) converges inside
    *    `maxIter` instead of failing at the diameter bound; the same
    *    round-bounding job large-star/small-star does, one join
    *    cheaper. Every third round the label frame is EAGERLY
    *    localCheckpoint'd — each round's plan otherwise references
    *    every prior round's (persist caches data, not lineage), and
    *    the accumulated DAG is the round-8 OOM class. `maxIter` still
    *    bounds the loop and the operator fails loudly rather than
    *    returning partial components. Per-round state is (id, label)
    *    pairs, never corpus rows — the GraphX CC shape.
    * Only docs appearing in ≥1 pair are returned — everything else is
    * trivially its own keeper. Ids must be integral (they are doc ids).
    * Output: (doc_id, cluster_id). */
  def nearDupClusters(pairs: DataFrame, maxIter: Int = 20,
                      maxDriverEdges: Long = 1L << 22): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val spark = pairs.sparkSession
    val rawEdges = pairs.select(col("id_a").cast("long").as("src"),
        col("id_b").cast("long").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edgeCount = rawEdges.count()

    if (edgeCount <= maxDriverEdges) {
      // union-find with path compression; root label = component min
      val parent = scala.collection.mutable.LongMap.empty[Long]
      val nodes = scala.collection.mutable.LongMap.empty[Unit]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      val collected = rawEdges.collect()
      rawEdges.unpersist(false) // edges live on the driver now
      collected.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        nodes.update(a, ()); nodes.update(b, ())
        val (ra, rb) = (find(a), find(b))
        // union by min id keeps the invariant root == component min
        if (ra < rb) parent(rb) = ra
        else if (rb < ra) parent(ra) = rb
      }
      import spark.implicits._
      nodes.keysIterator.toArray.map(id => (id, find(id))).toSeq
        .toDF("doc_id", "cluster_id")
    } else {
      val edges = rawEdges
        .unionByName(rawEdges.select(col("dst").as("src"), col("src").as("dst")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      var labels = edges.select(col("src").as("doc_id")).distinct()
        .select(col("doc_id"), col("doc_id").as("cluster_id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      var converged = false
      var round = 0
      while (!converged && round < maxIter) {
        val nbrMin = edges
          .join(labels.select(col("doc_id").as("dst"),
            col("cluster_id").as("nbr_label")), "dst")
          .groupBy("src").agg(min("nbr_label").as("nbr_min"))
        val stepped = labels
          .join(nbrMin.select(col("src").as("doc_id"), col("nbr_min")),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("cluster_id"),
              coalesce(col("nbr_min"), col("cluster_id"))).as("cluster_id"))
        // pointer doubling: follow each label one hop through the label
        // table itself (label values are node ids, so every hop
        // resolves). Labels only decrease and stay inside the
        // component, so every invariant holds — and a distance-2^k
        // pointer becomes distance-2^(k+1), the O(log diameter) bound.
        val lbl2 = stepped.select(col("doc_id").as("__lid"),
          col("cluster_id").as("__lval"))
        val updated = stepped.withColumnRenamed("cluster_id", "__cur")
          .join(lbl2, col("__cur") === col("__lid"), "left")
          .select(col("doc_id"),
            least(col("__cur"), coalesce(col("__lval"), col("__cur")))
              .as("cluster_id"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val changed = updated
          .join(labels.withColumnRenamed("cluster_id", "old"), "doc_id")
          .filter(col("cluster_id") < col("old")).count()
        labels.unpersist()
        // an eager checkpoint every third round cuts the accumulated
        // lineage (each round's plan otherwise chains every prior
        // round's joins — the OOM-by-DAG class, not data size)
        labels =
          if (round % 3 == 2) {
            val cut = updated.localCheckpoint(true)
            updated.unpersist(false)
            cut
          } else updated
        converged = changed == 0
        round += 1
      }
      if (!converged) throw new IllegalStateException(
        s"nearDupClusters did not converge within $maxIter rounds — " +
          "component diameter exceeds the bound; raise maxIter")
      // labels is a tiny (id, label) frame and fully materialized by the
      // convergence counts — pin it via localCheckpoint and release the
      // edge caches (cache ownership stays inside the operator)
      val out = labels.localCheckpoint()
      labels.unpersist(false)
      edges.unpersist(false)
      rawEdges.unpersist(false)
      out
    }
  }

  /** Duplicated-span detection — the exact-substring side of training-data
    * dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better": repeated ≥n-token runs are memorization fuel even
    * when whole documents differ). For every position whose n-token gram
    * also occurs in ANOTHER document, the covering token interval
    * [pos, pos+n-1] is a hit; overlapping/adjacent hits merge into maximal
    * spans (the trim-list a curation pipeline subtracts from each doc).
    *
    * Scale shape: grams travel as 8-byte xxhash64 keys, never strings —
    * the duplicated-gram set is one hash groupBy, hits are an equi-join
    * back on the hash, and the island merge windows per document (bounded
    * by doc length, never by corpus size). A 64-bit collision can only
    * add a false span (birthday odds ~1e-7 at 10⁶ distinct grams); the
    * string-keyed DuckDB oracle agreeing IS the collision check at test
    * scale. Output: (idCol, span_start, span_end), token positions
    * 1-based inclusive. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     n: Int): DataFrame = {
    val toks = df.select(col(idCol), TextFns.tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= n)
    val grams = toks.select(col(idCol),
        posexplode(transform(sequence(lit(1), size(col("__t")) - (n - 1)),
          i => xxhash64(slice(col("__t"), i, lit(n))))).as(Seq("__p", "__h")))
      .select(col(idCol), (col("__p") + 1).cast("long").as("__s"), col("__h"))
    val dup = grams.groupBy("__h")
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") > 1)
      .select("__h")
    val hits = grams.join(dup, "__h")
      .select(col(idCol), col("__s"), (col("__s") + (n - 1)).as("__e"))
    val wOrder = Window.partitionBy(col(idCol)).orderBy(col("__s"))
    val prevMax = max(col("__e")).over(
      wOrder.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("__brk",
        when(col("__s") > coalesce(prevMax, lit(-1L)) + 1, 1L).otherwise(0L))
      .withColumn("__isle", sum(col("__brk")).over(
        wOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__isle"))
      .agg(min(col("__s")).as("span_start"), max(col("__e")).as("span_end"))
      .drop("__isle")
  }

  /** Brute-force n-gram Jaccard pairs — the small-data oracle baseline the
    * LSH paths are tested against (never the 100 TB path; documented as
    * such). */
  def bruteForceJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, tau: Double): DataFrame = {
    val sh = df.select(col(idCol), TextFns.shingles(col(textCol), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)
    // spread the STREAMED side of the broadcast nested loop across the
    // core count: the bounded corpus this baseline runs on arrives as a
    // single parquet split, so the whole quadratic probe otherwise runs
    // in ONE task — and a global orderBy above runs it TWICE (the range
    // partitioner's sampling pass re-executes the child). Hash
    // partitioning on the id keeps the spread deterministic; row set
    // and jac values are untouched. Measured 4.6 s -> 0.5 s at sf0.1.
    val a = sh.select(col(idCol).as("id_a"), col("sh").as("sh_a"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("id_a"))
    val b = sh.select(col(idCol).as("id_b"), col("sh").as("sh_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("jac", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jac") >= tau)
      .select("id_a", "id_b", "jac")
  }

  /** QUALITY-AWARE keeper selection over near-dup clusters — the curation
    * decision [[nearDupClusters]]' min-id canonical dodges: inside a
    * duplicate cluster you keep the BEST copy (longest, least
    * boilerplate, highest LM score), not the lowest id. `clusters` is
    * (doc_id, cluster_id) as nearDupClusters emits; `quality` carries a
    * per-doc integral score (integral so the argmax — and therefore the
    * kept corpus — replays exactly on any engine; ties break to the
    * smallest doc id, fully deterministic).
    *
    * One user-keyed equi-join + one window PARTITIONed by cluster (dup
    * clusters are small — the window sorts a handful of rows per key,
    * never a global order) + one hash aggregate. Output: one row per
    * cluster — (cluster_id, n_members, keeper_id, keeper_quality). */
  def keepBest(clusters: DataFrame, quality: DataFrame, docCol: String,
               qualityCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // LEFT join: a member missing from the quality table must stay a
    // MEMBER (an inner join would silently shrink n_members and could
    // shift the keeper); desc ordering ranks its null quality last, so
    // it can only keep a cluster in which nothing is scored
    val w = Window.partitionBy("cluster_id")
      .orderBy(col(qualityCol).desc, col(docCol))
    // defensive per-doc dedup: a duplicate doc_id in `quality` would fan
    // the left join, inflating n_members and potentially shifting the
    // keeper — collapse to the max score per doc (the determinism the
    // docstring promises holds regardless of the caller's hygiene)
    val q1 = quality.groupBy(docCol).agg(
      max(col(qualityCol)).as(qualityCol))
    clusters.join(q1, Seq(docCol), "left")
      .withColumn("__rn", row_number().over(w))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(when(col("__rn") === 1, col(docCol))).as("keeper_id"),
        max(when(col("__rn") === 1, col(qualityCol))).as("keeper_quality"))
  }
}
