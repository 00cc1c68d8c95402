package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>).
  *
  * Two paths, same contract:
  *  - `bruteForceTopK` — exact: queries × corpus, dot product, windowed
  *    top-k. Correct at any recall but O(|Q|·|C|): the baseline and the
  *    small-|Q| path (broadcast the queries, stream the corpus).
  *  - `lshTopK` — random-hyperplane LSH: L tables × B bits per table;
  *    vectors sharing a bucket in any table are candidates, then exact
  *    rank within candidates. Scale shape: equi-join on (table, bucket) —
  *    shuffle on an 8-byte key instead of all-pairs.
  *
  * Embeddings in the testdata are unit-normalized, so dot product == cosine.
  */
object Similarity {

  /** Exact double-precision dot product (engine-native path). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  /** Quantized dot product: floor(x·1e6) per element, integer products,
    * long sum. Exact and summation-order-independent — the form used for
    * oracle-checked queries (a double sum's low bits depend on partition
    * order; integers don't). Unit vectors → value ≈ cosine · 1e12.
    *
    * Dispatches to the native `QuantizedDot` expression (fused primitive
    * loop, whole-stage codegen) — the HOF form below allocates a zipped
    * intermediate array per pair. */
  def quantizedDot(a: Column, b: Column): Column =
    call_function("quantized_dot", a, b)

  /** HOF reference implementation of `quantizedDot` — kept as the
    * differential-test baseline for the native expression. */
  def quantizedDotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        floor(x * 1000000.0d).cast("long") * floor(y * 1000000.0d).cast("long")),
      lit(0L), (acc, v) => acc + v)

  /** Exact top-k: for each query vector, the k nearest corpus vectors by
    * `sim` (descending, id tie-break), self-pairs excluded.
    * Output: (q_id, rank, n_id, sim). */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      sim: (Column, Column) => Column = quantizedDot): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val w = Window.partitionBy("q_id").orderBy(desc("sim"), col("n_id"))
    c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("sim", sim(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "n_id", "sim")
  }

  /** Deterministic random hyperplanes: L tables × bits planes each, unit
    * Gaussian components from a fixed seed. */
  def hyperplanes(dim: Int, tables: Int, bits: Int, seed: Long = 42L): Seq[Seq[Seq[Double]]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(tables)(Seq.fill(bits)(Seq.fill(dim)(rng.nextGaussian())))
  }

  /** (id, table, bucket) signature rows: bucket = sign-bit integer of the
    * table's hyperplane dots, all tables computed by ONE fused
    * `lsh_bucket_array` expression per row (quantizes the embedding once,
    * loops over a precomputed quantized plane matrix). The previous form
    * carried tables×bits separate `quantized_dot` expressions (128 for
    * near-dup), each re-quantizing the embedding — the expression forest
    * dominated both Janino compile time and the scan. Bucket bits are
    * arithmetically identical (`Σ floor(eᵢ·10⁶)·floor(pᵢ·10⁶) > 0`,
    * differential spec), so candidates and measured recall are unchanged.
    * Sign quantization can only flip a bit for dots within ~1e-6 of the
    * hyperplane, which changes nothing structural (any consistent sign
    * function is a valid LSH; identical vectors still collide
    * everywhere). Null vectors (none in the corpus contract) drop out of
    * the explode rather than hashing to bucket 0. */
  def lshBuckets(df: DataFrame, planes: Seq[Seq[Seq[Double]]]): DataFrame = {
    val bits = planes.head.size
    val flat: Seq[Seq[Float]] = planes.flatten.map(_.map(_.toFloat))
    val buckets = call_function("lsh_bucket_array",
      col("embedding"), typedLit(flat), lit(bits))
    df.select(col("vec_id"), posexplode(buckets).as(Seq("table", "bucket")))
  }

  /** ANN top-k via LSH candidates + exact re-rank. Candidates are corpus
    * vectors sharing any (table, bucket) with the query. Recall depends on
    * (tables, bits); the spec tests measure it against bruteForceTopK.
    *
    * Default 16×4 is tuned for the near-orthogonal random testdata (top-5
    * cosines ≈ 0.3 → per-bit agreement ≈ 0.61, so long buckets miss):
    * p(candidate) = 1-(1-0.61⁴)¹⁶ ≈ 0.9. Real embedding corpora cluster
    * far tighter; raise `bits` there for selectivity. */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      tables: Int = 16, bits: Int = 4, dim: Int = 64,
      sim: (Column, Column) => Column = quantizedDot): DataFrame = {
    val planes = hyperplanes(dim, tables, bits)
    val cB = lshBuckets(corpus, planes)
      .select(col("vec_id").as("n_id"), col("table"), col("bucket"))
    val qB = lshBuckets(queries, planes)
      .select(col("vec_id").as("q_id"), col("table"), col("bucket"))
    val cand = qB.join(cB, Seq("table", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select("q_id", "n_id").distinct()
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val w = Window.partitionBy("q_id").orderBy(desc("sim"), col("n_id"))
    cand.join(broadcast(q), "q_id").join(c, "n_id")
      .withColumn("sim", sim(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "n_id", "sim")
  }

  /** Whole-vector quantization: floor(x·1e6) per element, array<float> →
    * array<long> — the QuantizedDot discipline applied to vectors that
    * participate in *training* (centroids, codebooks), not just scoring. */
  def quantizeVec(c: Column): Column =
    transform(c, x => floor(x.cast("double") * 1000000.0d).cast("long"))

  /** The quantized corpus view (vec_id, __eq: array<long>) that Lloyd
    * training, list assignment, and the PQ subvector decomposition all
    * consume. A pure map-side projection — deliberately NOT cached: each
    * consumer recomputes the floor(x·1e6) transform inside its own scan
    * stage, which is cheaper than a cache round-trip and never holds a
    * corpus-sized frame in executor memory. */
  def quantizeCorpus(df: DataFrame): DataFrame =
    df.select(col("vec_id"), quantizeVec(col("embedding")).as("__eq"))

  /** Integer dot of two pre-quantized long vectors — exact, reduction-
    * order independent, and replayable verbatim by the DuckDB oracle. */
  def dotQVec(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** IVF (inverted-file) ANN — the clustering alternative to
    * hyperplane LSH. Centroids come from a deterministic k-means
    * (first `k` vectors seed, `iters` Lloyd rounds) trained driver-side
    * on the bounded [[trainSample]]; corpus-scale work stays
    * distributed (assignment is a broadcast-centroid argmin). Queries
    * probe the `nprobe` nearest centroids and exact-rank only those
    * lists — the corpus-side shuffle is one groupBy on cluster id.
    *
    * The whole training loop is INTEGER arithmetic: vectors quantize to
    * floor(x·1e6) longs once, the assignment metric is the integer dot,
    * and the centroid update is the per-dimension `sum div count`
    * (truncating long division) at the same 1e6 scale. Exact and
    * reduction-order independent — so q_ann_ivf's DuckDB oracle replays
    * the two Lloyd rounds bit-for-bit (`//` truncates toward zero like
    * `div`), where any float/decimal mean would drift in the last bit.
    * The 1e-6 metric quantization is far below the inter-centroid
    * spacing, so cluster quality is unchanged (recall specs). Returns
    * (cluster: int, cq: array<long>). */
  /** Training-sample ceiling: k-means models (IVF centroids, PQ
    * codebooks) train on the `trainCap` SMALLEST vec_ids, collected to
    * the driver once — the FAISS lifecycle, where codebooks come from a
    * bounded training set on one node and only corpus-scale work
    * (assignment, codes, probes) is distributed. 2¹⁷ 64-dim long
    * vectors ≈ 67 MB — a bounded model input, never "the data". The
    * deterministic smallest-id rule keeps the sample (and so the
    * model) replayable by the DuckDB oracle, which trains on the same
    * relation; below the cap (every test SF) driver training is
    * bit-identical to the previous distributed Lloyd rounds. */
  val trainCap: Int = 1 << 17

  /** Collect the training sample: ascending-vec_id (id, quantized
    * vector) pairs, at most [[trainCap]] rows (TakeOrdered — never a
    * full-corpus collect). */
  private def trainSample(corpusQ: DataFrame): Array[(Long, Array[Long])] =
    corpusQ.orderBy("vec_id").limit(trainCap).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)

  private def dotL(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  def ivfCentroids(corpus: DataFrame, k: Int, iters: Int): DataFrame =
    ivfCentroidsQ(quantizeCorpus(corpus), k, iters)

  /** [[ivfCentroids]] over a pre-quantized (vec_id, __eq) frame — the
    * form the entry points call after persisting [[quantizeCorpus]].
    *
    * Lloyd runs ON THE DRIVER over the [[trainSample]]: one Spark job
    * collects the capped sample, then `iters` rounds of pure-Scala
    * integer argmax-dot assignment (tie → smaller cluster) and per-dim
    * `sum / count` truncating-long means — the EXACT arithmetic the
    * previous distributed rounds ran, so centroids (and every oracle
    * downstream) are bit-identical. A cluster that loses all members
    * drops out, exactly like the old groupBy. Distributing a
    * nClusters×dim model update was all scheduling: at sf0.1 the two
    * DataFrame-job rounds cost ~3 s of shuffles and codegen for ~4 M
    * long multiplies that the driver does in single-digit ms. */
  def ivfCentroidsQ(corpusQ: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = corpusQ.sparkSession
    val sample = trainSample(corpusQ)
    // seeds: the k smallest ids; cluster id = vec_id (matches the old
    // `col("vec_id").cast("int").as("cluster")` seeding)
    var cents: Array[(Int, Array[Long])] =
      sample.take(k).map { case (id, v) => (id.toInt, v) }
    (1 to iters).foreach { _ =>
      val sums = scala.collection.mutable.HashMap.empty[Int, (Array[Long], Array[Long])]
      sample.foreach { case (_, v) =>
        var bestC = -1; var bestD = Long.MinValue
        cents.foreach { case (c, cq) =>
          val d = dotL(v, cq)
          if (d > bestD || (d == bestD && c < bestC)) { bestD = d; bestC = c }
        }
        val (acc, cnt) = sums.getOrElseUpdate(bestC, (new Array[Long](v.length), new Array[Long](1)))
        var i = 0; while (i < v.length) { acc(i) += v(i); i += 1 }
        cnt(0) += 1
      }
      cents = sums.toArray.sortBy(_._1).map { case (c, (acc, cnt)) =>
        (c, acc.map(_ / cnt(0)))
      }
    }
    spark.createDataFrame(cents.toSeq.map { case (c, cq) => (c, cq.toSeq) })
      .toDF("cluster", "cq")
  }

  /** The centroid MODEL pulled to the driver: (cluster, codeword)
    * ascending. Bounded by construction (nClusters rows — whether it
    * arrives as [[ivfCentroidsQ]]'s local relation or re-read from a
    * persisted index dir), so this is a model fetch, never a data
    * collect. */
  private def centroidLocal(centroids: DataFrame): Array[(Int, Array[Long])] =
    centroids.select("cluster", "cq").collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)

  /** The centroids as ONE array<struct<_1: cluster, _2: cq>> literal —
    * the scoring loop then rides `transform` over it inside the scan
    * projection. One literal + one lambda keeps the generated code
    * size independent of nClusters (16 unrolled dot-product
    * expressions would not). */
  private def centroidLit(cents: Array[(Int, Array[Long])]): Column =
    typedLit(cents.map { case (c, cq) => (c, cq.toSeq) }.toSeq)

  /** array<struct<nd: −dot(vec, centroid), cluster>> — ascending struct
    * order = best centroid first (max dot, tie → smaller cluster). */
  private def centroidScores(vec: Column, centsLit: Column): Column =
    transform(centsLit, p => struct(
      (-dotQVec(vec, p.getField("_2"))).as("nd"),
      p.getField("_1").as("cluster")))

  /** (vec_id, cluster) assignment: nearest centroid by integer dot of
    * the quantized vectors (inlined-model argmin, map-side only). */
  def assignClusters(corpus: DataFrame, centroids: DataFrame): DataFrame =
    assignClustersQ(quantizeCorpus(corpus), centroids)

  /** [[assignClusters]] over a pre-quantized frame. The centroid model
    * is inlined as a literal and the argmin is `array_min` over the
    * per-centroid (−d, cluster) scores — a pure projection in the scan
    * stage: no crossJoin row expansion, no broadcast exchange, no
    * shuffle at all, where the previous form paid a |corpus|×nClusters
    * blow-up plus a hash aggregate. Identical semantics: max dot wins,
    * smaller cluster breaks ties. */
  def assignClustersQ(corpusQ: DataFrame, centroids: DataFrame): DataFrame = {
    val cl = centroidLit(centroidLocal(centroids))
    corpusQ.select(col("vec_id"),
      array_min(centroidScores(col("__eq"), cl)).getField("cluster").as("cluster"))
  }

  /** (q_id, cluster) probe set: the `nprobe` nearest centroids per
    * query — sort the inlined model's score array in the projection,
    * slice, explode. Map-side only, like [[assignClustersQ]]. */
  def probeClusters(queries: DataFrame, centroids: DataFrame,
                    nprobe: Int): DataFrame = {
    val cl = centroidLit(centroidLocal(centroids))
    queries.select(col("vec_id").as("q_id"),
        quantizeVec(col("embedding")).as("__qq"))
      .select(col("q_id"), explode(transform(
        slice(array_sort(centroidScores(col("__qq"), cl)), 1, nprobe),
        x => x.getField("cluster"))).as("cluster"))
  }

  /** IVF top-k: probe the `nprobe` closest centroids per query, exact
    * re-rank within their lists. Recall measured in specs vs brute. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nClusters: Int = 16, iters: Int = 2, nprobe: Int = 4): DataFrame = {
    // NOTHING here persists: the quantize pass is a map-side projection
    // (recomputing it per consumer is cheaper than a cache round-trip,
    // and caching a 100 TB quantized corpus would be a memory-pressure
    // bug); the training collect reads only a TakeOrdered sample;
    // centroids are a driver-local model; lists has a single consumer
    val corpusQ = quantizeCorpus(corpus)
    val centroids = ivfCentroidsQ(corpusQ, nClusters, iters)
    val lists = assignClustersQ(corpusQ, centroids)
    val probes = probeClusters(queries, centroids, nprobe)
    // no distinct: lists maps each n_id to exactly ONE cluster and
    // probes holds unique (q_id, cluster) rows, so the join cannot
    // produce a duplicate (q_id, n_id) — a distinct here is a pure
    // extra shuffle (LSH's multi-table candidates DO need one)
    val cand = probes
      .join(lists.withColumnRenamed("vec_id", "n_id"), "cluster")
      .filter(col("q_id") =!= col("n_id"))
      .select("q_id", "n_id")
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val w = Window.partitionBy("q_id").orderBy(desc("sim"), col("n_id"))
    cand.join(broadcast(q), "q_id").join(c, "n_id")
      .withColumn("sim", quantizedDot(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "n_id", "sim")
  }

  /** Embedding-cosine near-dup pairs above `tauQ` (quantized threshold,
    * ≈ cosine·1e12), exact within the given frame. The native expression
    * fuses quantize+multiply+sum into one primitive loop per pair — no
    * intermediate arrays in the 2M-pair inner join.
    *
    * This is the all-pairs crossJoin: O(N²), correct at any threshold,
    * right only when exactness IS the contract (oracle baselines, small
    * frames). For a corpus, use [[nearDupPairsLsh]] — same output contract,
    * bucketed candidate generation instead of all pairs. */
  def nearDupPairs(df: DataFrame, tauQ: Long): DataFrame = {
    val a = df.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val b = df.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("sim", quantizedDot(col("emb_a"), col("emb_b")))
      .filter(col("sim") >= tauQ)
      .select("id_a", "id_b", "sim")
  }

  /** Near-dup pairs via LSH candidate generation + exact verify — the
    * 100 TB shape of [[nearDupPairs]]. Candidates are pairs sharing any
    * (table, bucket): an equi-join on an 8-byte key, never all pairs; each
    * candidate is then exact-verified with the native quantized dot, so a
    * surviving pair is never a false positive.
    *
    * Completeness is probabilistic in general: a true pair must agree on
    * all `bits` hyperplane signs of at least one table
    * (p = 1-(1-aᵇⁱᵗˢ)ᵗᵃᵇˡᵉˢ, a = 1 - θ/π). Exact duplicates collide in
    * every table, so on corpora whose near-dups are copies (the planted-
    * copy oracle; common-crawl-style exact reposts) the output is
    * deterministically identical to the brute-force path. Defaults: 16-bit
    * buckets (selective even for ~uniform random vectors), 8 tables. */
  def nearDupPairsLsh(df: DataFrame, tauQ: Long,
                      tables: Int = 8, bits: Int = 16, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(dim, tables, bits, seed = 7L)
    val buckets = lshBuckets(df, planes)
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.table") === col("y.table") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct()
    val a = df.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val b = df.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    cand.join(a, "id_a").join(b, "id_b")
      .withColumn("sim", quantizedDot(col("emb_a"), col("emb_b")))
      .filter(col("sim") >= tauQ)
      .select("id_a", "id_b", "sim")
  }

  /** (vec_id, j, sq): the corpus exploded into `m` contiguous subvectors
    * of dim/m components each, pre-quantized to floor(x·1e6) longs — the
    * product-quantization decomposition in the integer domain. */
  def pqSubvectors(df: DataFrame, m: Int, dim: Int): DataFrame =
    pqSubvectorsQ(quantizeCorpus(df), m, dim)

  /** [[pqSubvectors]] over a pre-quantized (vec_id, __eq) frame. */
  def pqSubvectorsQ(corpusQ: DataFrame, m: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    corpusQ.select(col("vec_id"),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        j => slice(col("__eq"), j * sub + 1, lit(sub))))
        .as(Seq("j", "sq")))
  }

  /** Squared L2 between two quantized long arrays — exact integers
    * (assignment metric for PQ codebooks; subvectors are not unit, so
    * dot won't do). Magnitude ≤ (dim/m)·(2e6)² ≈ 3e13 — no overflow. */
  private def l2sqQ(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  /** (vec_id, j, code): each subvector assigned to its nearest codeword
    * (integer L2, code tie-break) — the exploded-subvector form: a
    * broadcast join + per-(vec_id, j) hash-aggregate argmin. Kept as the
    * differential baseline for [[pqAssignQ]], which computes the same
    * codes without the m·ksub row expansion or the shuffle. */
  def pqAssign(subs: DataFrame, codebooks: DataFrame): DataFrame =
    subs.join(broadcast(codebooks), "j")
      .withColumn("d", l2sqQ(col("sq"), col("cq")))
      .groupBy("vec_id", "j")
      .agg(min_by(col("code"), struct(col("d").as("d"), col("code").as("c")))
        .as("code"))
      .select("vec_id", "j", "code")

  /** Map-side PQ code assignment straight from the quantized corpus: the
    * codebook MODEL (≤ m·ksub rows — whether a local relation from
    * [[pqCodebooksQ]] or re-read from an index dir) inlines as one
    * nested-array literal, and every row's m codes resolve as
    * `array_min` over per-codeword (L2, code) scores inside the scan
    * projection — no posexplode row expansion, no broadcast exchange, no
    * per-(vec_id, j) shuffle. Identical arithmetic and tie-break to
    * [[pqAssign]] (differential spec); same output contract
    * (vec_id, j, code). The [[assignClustersQ]] idiom, applied per
    * subspace. */
  def pqAssignQ(corpusQ: DataFrame, codebooks: DataFrame,
                m: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val byJ: Seq[Seq[(Int, Seq[Long])]] = {
      val rows = codebooks.select("j", "code", "cq").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2)))
      (0 until m).map(j =>
        rows.filter(_._1 == j).sortBy(_._2).map(t => (t._2, t._3)).toSeq)
    }
    val cbLit = typedLit(byJ)
    corpusQ.select(col("vec_id"),
      posexplode(transform(sequence(lit(0), lit(m - 1)), j => {
        val sv = slice(col("__eq"), j * lit(sub) + 1, lit(sub))
        array_min(transform(element_at(cbLit, j + 1),
          p => struct(l2sqQ(sv, p.getField("_2")).as("d"),
            p.getField("_1").as("code"))))
          .getField("code")
      })).as(Seq("j", "code")))
  }

  /** Product-quantization codebooks: `ksub` codewords per subspace,
    * trained by the same deterministic Lloyd scheme as [[ivfCentroids]]
    * (seeds = the ksub smallest vec_ids' subvectors; per-dimension
    * `sum div count` integer means at the 1e6 scale), ALL subspaces in
    * one DataFrame job per iteration — the subspace id `j` is just
    * another grouping key. A codeword that loses every member simply
    * drops out (standard k-means shrinkage). All-integer training makes
    * q_ann_pq's DuckDB oracle an exact unrolled replay.
    * Returns (j, code, cq: array<long>). At 100 TB codebooks train on
    * the bounded [[trainSample]], never the full data. */
  def pqCodebooks(corpus: DataFrame, m: Int, ksub: Int, iters: Int,
                  dim: Int): DataFrame =
    pqCodebooksQ(quantizeCorpus(corpus), m, ksub, iters, dim)

  /** [[pqCodebooks]] over a pre-quantized (vec_id, __eq) frame.
    * Driver-side Lloyd over the [[trainSample]], like [[ivfCentroidsQ]]
    * — seeds are the ksub smallest ids' subvectors (code = rank in that
    * order), assignment minimizes (integer L2, code), the update is the
    * per-dim truncating `sum / count`; a codeword that loses every
    * member drops out. Bit-identical to the previous distributed
    * rounds, so q_ann_pq's unrolled DuckDB replay still hash-matches. */
  def pqCodebooksQ(corpusQ: DataFrame, m: Int, ksub: Int, iters: Int,
                   dim: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val spark = corpusQ.sparkSession
    val sub = dim / m
    val sample = trainSample(corpusQ)
    def subvec(v: Array[Long], j: Int): Array[Long] =
      java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub)
    def l2L(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // cb(j) = (code, codeword) pairs, ascending code
    var cb: Array[Array[(Int, Array[Long])]] = Array.tabulate(m) { j =>
      sample.take(ksub).zipWithIndex.map { case ((_, v), code) => (code, subvec(v, j)) }
    }
    (1 to iters).foreach { _ =>
      cb = Array.tabulate(m) { j =>
        val sums = scala.collection.mutable.HashMap.empty[Int, (Array[Long], Array[Long])]
        val codes = cb(j)
        sample.foreach { case (_, v) =>
          val sv = subvec(v, j)
          var bestC = -1; var bestD = Long.MaxValue
          codes.foreach { case (c, cq) =>
            val d = l2L(sv, cq)
            if (d < bestD || (d == bestD && c < bestC)) { bestD = d; bestC = c }
          }
          val (acc, cnt) = sums.getOrElseUpdate(bestC, (new Array[Long](sub), new Array[Long](1)))
          var i = 0; while (i < sub) { acc(i) += sv(i); i += 1 }
          cnt(0) += 1
        }
        sums.toArray.sortBy(_._1).map { case (c, (acc, cnt)) => (c, acc.map(_ / cnt(0))) }
      }
    }
    val rows = for { j <- 0 until m; (code, cq) <- cb(j) } yield (j, code, cq.toSeq)
    spark.createDataFrame(rows).toDF("j", "code", "cq")
  }

  /** Per-query ADC lookup table: (q_id, j, code, partial) where partial
    * is the INTEGER dot of the quantized query subvector and the
    * quantized codeword (both at the 1e6 scale → partial ≈ cos·1e12/m)
    * — exact longs, so downstream sums are summation-order-independent
    * and the oracle replays them. |Q|·m·ksub rows — always
    * broadcastable. */
  private def pqLut(queries: DataFrame, cb: DataFrame, m: Int,
                    dim: Int): DataFrame =
    pqSubvectors(queries, m, dim)
      .withColumnRenamed("vec_id", "q_id").withColumnRenamed("sq", "qsq")
      .join(broadcast(cb), "j")
      .select(col("q_id"), col("j"), col("code"),
        dotQVec(col("qsq"), col("cq")).as("partial"))

  /** PQ-compressed ANN (asymmetric distance computation): the corpus is
    * stored as `m` byte-ish codes per vector — at 100 TB this is the
    * memory story (64 floats → 8 codes, a 32× shrink; real deployments
    * keep codes in RAM and raw vectors only for the re-rank). A query
    * builds its per-(subspace, codeword) dot-product lookup table
    * (|Q|·m·ksub rows, broadcast), the approximate score is one
    * equi-join + sum over the codes table — no vector math per
    * candidate — and the top `rerank` candidates are re-scored exactly.
    * Partial LUT dots are floor-quantized to longs so the approx ranking
    * is summation-order-independent (the repo's determinism discipline).
    * Recall vs [[bruteForceTopK]] is measured in specs. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 8, ksub: Int = 16, iters: Int = 2,
             rerank: Int = 64, dim: Int = 64): DataFrame = {
    val corpusQ = quantizeCorpus(corpus)
    val cb = pqCodebooksQ(corpusQ, m, ksub, iters, dim)
    val codes = pqAssignQ(corpusQ, cb, m, dim)
      .withColumnRenamed("vec_id", "n_id")
    val lut = pqLut(queries, cb, m, dim)
    val wA = Window.partitionBy("q_id").orderBy(desc("approx"), col("n_id"))
    val cand = codes.join(broadcast(lut), Seq("j", "code"))
      .groupBy("q_id", "n_id").agg(sum("partial").as("approx"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("rn", row_number().over(wA))
      .filter(col("rn") <= rerank)
      .select("q_id", "n_id")
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val w = Window.partitionBy("q_id").orderBy(desc("sim"), col("n_id"))
    cand.join(broadcast(q), "q_id").join(c, "n_id")
      .withColumn("sim", quantizedDot(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "n_id", "sim")
  }

  /** IVFPQ — the production ANN shape (Jégou et al., the FAISS default):
    * IVF cluster lists prune the candidate set, PQ codes score what's
    * left. The corpus is touched as (cluster id, m codes) only; raw
    * vectors surface for the final exact re-rank. This variant encodes
    * raw vectors, not residuals (one codebook pass instead of per-list
    * residual training — documented simplification; recall is measured,
    * not assumed, in specs). Scale: candidates = nprobe/nClusters of the
    * corpus, each scored by m LUT lookups — both knobs independent. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                nClusters: Int = 16, iters: Int = 2, nprobe: Int = 4,
                m: Int = 8, ksub: Int = 16, rerank: Int = 64,
                dim: Int = 64): DataFrame = {
    val corpusQ = quantizeCorpus(corpus)
    val centroids = ivfCentroidsQ(corpusQ, nClusters, iters)
    val lists = assignClustersQ(corpusQ, centroids)
    val probes = probeClusters(queries, centroids, nprobe)
    val cb = pqCodebooksQ(corpusQ, m, ksub, iters, dim)
    val codes = pqAssignQ(corpusQ, cb, m, dim)
      .withColumnRenamed("vec_id", "n_id")
    val lut = pqLut(queries, cb, m, dim)
    val cand = probes
      .join(lists.withColumnRenamed("vec_id", "n_id"), "cluster")
      .filter(col("q_id") =!= col("n_id"))
      .select("q_id", "n_id")
    val wA = Window.partitionBy("q_id").orderBy(desc("approx"), col("n_id"))
    val shortlist = cand
      .join(codes, "n_id")
      .join(broadcast(lut), Seq("q_id", "j", "code"))
      .groupBy("q_id", "n_id").agg(sum("partial").as("approx"))
      .withColumn("rn", row_number().over(wA))
      .filter(col("rn") <= rerank)
      .select("q_id", "n_id")
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val w = Window.partitionBy("q_id").orderBy(desc("sim"), col("n_id"))
    shortlist.join(broadcast(q), "q_id").join(c, "n_id")
      .withColumn("sim", quantizedDot(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "n_id", "sim")
  }

  /** Persist the IVFPQ index — build ONCE, query many (the production
    * deployment shape; the sibling of `Dedup.writeMinHashIndex`). Five
    * tables: `centroids` (nClusters rows) and `codebooks` (≤ m·ksub
    * rows) are the trained model; `lists` (vec_id → cluster) and
    * `codes` (vec_id, j, code — m rows/vector, the 32× compressed
    * corpus) are the scan-side state; `vectors` holds raw embeddings
    * for the exact re-rank (in production that's the corpus table
    * itself, bucketed by vec_id — kept here so a query session needs
    * only the index dir). Training cost is paid once; the recurring
    * cost is [[ivfPqTopKIndexed]]'s probe + code join. */
  def writeIvfPqIndex(corpus: DataFrame, dir: String,
                      nClusters: Int = 16, iters: Int = 2,
                      m: Int = 8, ksub: Int = 16, dim: Int = 64): Unit = {
    val corpusQ = quantizeCorpus(corpus)
    val centroids = ivfCentroidsQ(corpusQ, nClusters, iters)
    val cb = pqCodebooksQ(corpusQ, m, ksub, iters, dim)
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    cb.write.mode("overwrite").parquet(s"$dir/codebooks")
    assignClustersQ(corpusQ, centroids)
      .write.mode("overwrite").parquet(s"$dir/lists")
    pqAssignQ(corpusQ, cb, m, dim)
      .write.mode("overwrite").parquet(s"$dir/codes")
    corpus.select("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/vectors")
    // every non-embedding corpus column rides the index as `meta` —
    // the FILTERED-search side table ([[ivfPqTopKIndexed]]'s
    // `predicate`): production vector search is almost always
    // "top-k WHERE lang='en' AND license='ok'", and post-filtering the
    // k results silently under-returns. In a real deployment this is
    // the corpus table itself (no copy); kept here so a query session
    // needs only the index dir, same rationale as `vectors`.
    corpus.drop("embedding")
      .write.mode("overwrite").parquet(s"$dir/meta")
    // stamp the base row count — [[indexHealth]]'s appendFraction
    // denominator; read back from the written lists (metadata-cheap)
    // instead of re-running the corpus scan
    val spark = corpus.sparkSession
    val n = spark.read.parquet(s"$dir/lists").count()
    spark.createDataFrame(Seq(Tuple1(n))).toDF("base_total")
      .write.mode("overwrite").parquet(s"$dir/base_stats")
  }

  /** IVFPQ top-k against a [[writeIvfPqIndex]] directory: probes and the
    * ADC LUT come from the persisted model (broadcast-sized), candidates
    * from the persisted lists × codes — the corpus is never re-read and
    * nothing is re-trained. Output is IDENTICAL to [[ivfPqTopK]] over
    * the indexed corpus (differential spec; q_ann_ivfpq_index shares
    * q_ann_ivfpq's replay oracle verbatim).
    *
    * FILTERED search: `predicate` (over the index's `meta` columns —
    * every non-embedding corpus column) is pushed into CANDIDATE
    * GENERATION — the lists semi-join the eligible ids before any code
    * is scored, so the rerank window ranks k ELIGIBLE vectors, where
    * post-filtering a finished top-k silently under-returns (the
    * reference's flagship has the same filter-before-aggregate shape:
    * distance < 1 km before AVG). No broadcast hint on the eligible
    * set: a selective predicate yields a broadcast-sized id list and a
    * loose one yields most of the corpus, where a shuffled semi-join is
    * the right plan — Spark/AQE picks per actual size. Recall under a
    * selective predicate is recovered by `autoWiden`: the rerank
    * window widens by the measured global selectivity
    * ([[widenedKnobs]]) and probing goes PER-QUERY ADAPTIVE
    * ([[adaptiveProbes]]) — each query probes nearest lists until the
    * nearer lists' ELIGIBLE mass covers the window, so a predicate
    * correlated with the embedding space (the common case) deepens
    * exactly the starved queries instead of scaling one global factor
    * that under-probes them. */
  def ivfPqTopKIndexed(queries: DataFrame, dir: String, k: Int,
                       nprobe: Int = 4, rerank: Int = 64,
                       m: Int = 8, dim: Int = 64,
                       predicate: Option[Column] = None,
                       autoWiden: Boolean = false): DataFrame = {
    val spark = queries.sparkSession
    val lists0 = graft.sources.SchemaCache.readDir(spark, s"$dir/lists")
    val meta = predicate.map(_ => graft.sources.SchemaCache.readDir(spark, s"$dir/meta"))
    val eligible = predicate.map(p => meta.get.filter(p).select("vec_id"))
    val lists = eligible.fold(lists0)(e =>
      lists0.join(e, Seq("vec_id"), "left_semi"))
    val centroids = graft.sources.SchemaCache.readDir(spark, s"$dir/centroids")
    val (np, rr, probes) =
      if (!autoWiden || predicate.isEmpty) (nprobe, rerank, None)
      else {
        // ONE pass over the already-constructed meta frame measures
        // both counts (total, eligible)
        val c = meta.get
          .agg(count(lit(1)), count(when(predicate.get, 1))).head()
        val (total, elig) = (c.getLong(0), c.getLong(1))
        // zero eligible rows: the semi-joined lists are EMPTY and the
        // result is provably empty — widening to the cap would only
        // buy a 64× probe of a guaranteed-empty join
        if (elig == 0L) (nprobe, rerank, None)
        else {
          val nClusters = centroids.count().toInt
          // only the widened RERANK window survives from the global
          // factor — probing is per-query now (the adaptive walk's
          // floor is the user's UNwidened nprobe, its depth the
          // eligible mass), so widenedKnobs' nprobe component is
          // deliberately unused here.
          val wrr = widenedKnobs(nprobe, rerank, total, elig, nClusters)._2
          // listElig is ONE deliberate measure pass over the
          // semi-joined lists (|clusters| rows out) — the same
          // measure-then-join shape as the selectivity aggregate
          // above. Persisting the semi-joined lists to dodge the
          // second scan would materialize a corpus-sized frame; two
          // column-pruned scans are the cheaper trade at scale.
          (nprobe, wrr, Some(adaptiveProbes(queries, centroids,
            npFloor = nprobe,
            npCap = math.min(nClusters.toLong, 64L * nprobe).toInt.max(nprobe),
            listElig = lists.groupBy("cluster")
              .agg(count(lit(1)).as("n_elig")),
            target = wrr.toLong)))
        }
      }
    ivfPqTopKFrames(queries,
      centroids,
      graft.sources.SchemaCache.readDir(spark, s"$dir/codebooks"),
      lists,
      graft.sources.SchemaCache.readDir(spark, s"$dir/codes"),
      graft.sources.SchemaCache.readDir(spark, s"$dir/vectors"),
      k, np, rr, m, dim, probes)
  }

  /** SELECTIVITY-driven widening for filtered ANN search: with an
    * s-selective predicate, a probed list's ELIGIBLE population is
    * ~s × its size, so holding recall needs ~1/s more probed lists and
    * a ~1/s wider rerank window. The factor is measured (two counts
    * over the id-only meta projection — never the vectors), capped at
    * 64× (a sub-2% predicate should move to its own partition/index,
    * not a 64-probe scan), nprobe clamped to the cluster count. The
    * user's explicit knobs are the floor, never reduced. */
  private[graft] def widenedKnobs(nprobe: Int, rerank: Int, total: Long,
                                  eligible: Long, nClusters: Int): (Int, Int) = {
    val f = math.min(64L,
      (total + math.max(1L, eligible) - 1) / math.max(1L, eligible))
    (math.min(nClusters.toLong, nprobe * f).toInt.max(nprobe min nClusters),
      math.min(1000000L, rerank * f).toInt.max(rerank))
  }

  /** PER-QUERY ADAPTIVE probing for filtered search — the fix for
    * predicates CORRELATED with the embedding space (language, domain,
    * license all cluster): a single global widening factor measures
    * selectivity over the WHOLE corpus, but a query whose nearest
    * lists hold ~no eligible vectors needs far deeper probing than the
    * global factor says, while a query in a predicate-rich region
    * needs none. Each query probes its nearest lists IN ORDER and
    * keeps a list while the ELIGIBLE mass of the strictly-nearer lists
    * is still below `target` (floor `npFloor` lists always probed,
    * hard cap `npCap`) — starved queries deepen, well-served queries
    * stop at the floor, nobody pays for the other's region.
    *
    * `listElig` is the per-list eligible count — one group-by over the
    * ALREADY-SEMI-JOINED lists, |clusters| rows, broadcast here. The
    * running-mass window is over |queries| × npCap rows, model-sized
    * per query, never corpus-sized. */
  private[graft] def adaptiveProbes(queries: DataFrame, centroids: DataFrame,
                                    npFloor: Int, npCap: Int,
                                    listElig: DataFrame,
                                    target: Long): DataFrame = {
    val cl = centroidLit(centroidLocal(centroids))
    val ranked = queries.select(col("vec_id").as("q_id"),
        quantizeVec(col("embedding")).as("__qq"))
      .select(col("q_id"), posexplode(transform(
        slice(array_sort(centroidScores(col("__qq"), cl)), 1, npCap),
        x => x.getField("cluster"))))
      .toDF("q_id", "pos", "cluster")
    val nearer = Window.partitionBy("q_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    ranked.join(broadcast(listElig), Seq("cluster"), "left")
      .withColumn("__elig", coalesce(col("n_elig"), lit(0L)))
      .withColumn("__before", coalesce(sum("__elig").over(nearer), lit(0L)))
      .filter(col("pos") < npFloor || col("__before") < target)
      .select("q_id", "cluster")
  }

  /** The IVFPQ query plan over ALREADY-LOADED index frames — shared by
    * the directory-backed and the transactional index readers, so the
    * probe/LUT/shortlist/re-rank shape cannot drift between them.
    * `probeOverride` substitutes the (q_id, cluster) probe set — the
    * filtered-search adaptive prober rides here. */
  private def ivfPqTopKFrames(queries: DataFrame, centroids: DataFrame,
                              cb: DataFrame, lists: DataFrame,
                              rawCodes: DataFrame, vectors: DataFrame,
                              k: Int, nprobe: Int, rerank: Int,
                              m: Int, dim: Int,
                              probeOverride: Option[DataFrame] = None): DataFrame = {
    val codes = rawCodes.withColumnRenamed("vec_id", "n_id")
    val probes = probeOverride.getOrElse(probeClusters(queries, centroids, nprobe))
    val lut = pqLut(queries, cb, m, dim)
    val cand = probes
      .join(lists.withColumnRenamed("vec_id", "n_id"), "cluster")
      .filter(col("q_id") =!= col("n_id"))
      .select("q_id", "n_id")
    val wA = Window.partitionBy("q_id").orderBy(desc("approx"), col("n_id"))
    val shortlist = cand
      .join(codes, "n_id")
      .join(broadcast(lut), Seq("q_id", "j", "code"))
      .groupBy("q_id", "n_id").agg(sum("partial").as("approx"))
      .withColumn("rn", row_number().over(wA))
      .filter(col("rn") <= rerank)
      .select("q_id", "n_id")
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = vectors.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val w = Window.partitionBy("q_id").orderBy(desc("sim"), col("n_id"))
    shortlist.join(broadcast(q), "q_id").join(c, "n_id")
      .withColumn("sim", quantizedDot(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "n_id", "sim")
  }

  /** TRANSACTIONAL IVFPQ index — the five index tables committed through
    * ONE [[graft.sources.TxnCatalog]] transaction, the Lance-style
    * versioned vector store: an index version is all-or-nothing (a crash
    * mid-build leaves only catalog-invisible orphans, never a model that
    * disagrees with its lists), appends are atomic across
    * lists/codes/vectors ([[appendToIvfPqIndexTxn]]), and every past
    * index version stays QUERYABLE via `asOf` — "search yesterday's
    * index" is a catalog read, not a restore. Model staleness under
    * appends is the same documented IVF trade as the directory index. */
  def writeIvfPqIndexTxn(spark: org.apache.spark.sql.SparkSession,
                         corpus: DataFrame, catalog: String,
                         nClusters: Int = 16, iters: Int = 2,
                         m: Int = 8, ksub: Int = 16, dim: Int = 64): Int = {
    import graft.sources.TxnCatalog
    import graft.sources.TxnCatalog.Write
    val corpusQ = quantizeCorpus(corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val centroids = ivfCentroidsQ(corpusQ, nClusters, iters)
      val cb = pqCodebooksQ(corpusQ, m, ksub, iters, dim)
      // base_total rides the same txn — [[indexHealthTxn]]'s
      // appendFraction denominator, exactly like the dir index's stamp
      val n = corpusQ.count()
      TxnCatalog.commitAll(spark, catalog, Seq(
        Write("centroids", centroids, overwrite = true),
        Write("codebooks", cb, overwrite = true),
        Write("lists", assignClustersQ(corpusQ, centroids), overwrite = true),
        Write("codes", pqAssignQ(corpusQ, cb, m, dim), overwrite = true),
        Write("vectors", corpus.select("vec_id", "embedding"),
          overwrite = true),
        // the filtered-search side table (see [[writeIvfPqIndex]])
        Write("meta", corpus.drop("embedding"), overwrite = true),
        Write("base_stats",
          spark.createDataFrame(Seq(Tuple1(n))).toDF("base_total"),
          overwrite = true),
        // a (re)build starts from a clean slate: everything previously
        // tombstoned is simply absent from the fresh lists/codes/vectors
        Write("tombstones",
          spark.range(0).select(col("id").as("vec_id")),
          overwrite = true)) ++
        // …and the upsert delta overlay folds in the same way: the
        // caller's corpus is the source of truth (corrections included),
        // so the overlay tables clear with the rebuild — the compaction
        // half of the deltaFraction trigger. Emptied AT THEIR OWN SCHEMA
        // (a limit-0 read, no scan) so later upserts keep appending.
        Seq("dlists", "dcodes", "dvectors", "dmeta", "dtombs")
          .filter(TxnCatalog.tableVersions(catalog).contains)
          .map(n => Write(n, TxnCatalog.read(spark, catalog, n).limit(0),
            overwrite = true)),
        tag = Some("index-build"))
    } finally { corpusQ.unpersist(); () }
  }

  /** DELETE vectors from a transactional index — the LSM-style
    * tombstone: ONE catalog txn appends the ids to a `tombstones`
    * table; queries anti-join it from the same snapshot they read the
    * lists from, so an `asOf` search BEFORE this txn still returns the
    * vectors (deletes are versioned like every other index mutation)
    * and a search after never does. O(Δ ids) per delete — the
    * lists/codes/vectors rows stay on disk until the next full
    * [[writeIvfPqIndexTxn]] rebuild clears the marker table, the only
    * shape that stays O(Δ) at 100 TB (an in-place purge would rewrite
    * the whole index per delete). [[indexHealthTxn]]'s deleteFraction
    * is the "compact now" trigger. RE-INSERTING or CORRECTING an id
    * between rebuilds is [[upsertIntoIvfPqIndexTxn]]'s job (the delta
    * overlay); [[appendToIvfPqIndexTxn]] still assumes NEW ids.
    * When the index carries a delta overlay, the delete also lands a
    * generation-stamped `dtombs` row so it kills the delta versions
    * written BEFORE it while a later upsert (higher generation)
    * revives the id. Returns the catalog txn. */
  def deleteFromIvfPqIndexTxn(spark: org.apache.spark.sql.SparkSession,
                              ids: DataFrame, catalog: String): Int = {
    import graft.sources.TxnCatalog
    import graft.sources.TxnCatalog.Write
    val gen = TxnCatalog.currentTxn(catalog) + 1
    val dt =
      if (TxnCatalog.tableVersions(catalog).contains("dlists"))
        Seq(Write("dtombs",
          ids.select("vec_id").withColumn("gen", lit(gen))))
      else Nil
    TxnCatalog.commitAll(spark, catalog,
      Seq(Write("tombstones", ids.select("vec_id"))) ++ dt,
      tag = Some("index-delete"))
  }

  /** UPSERT into a transactional index WITHOUT a rebuild — the delta
    * overlay (the verdict-r10 "the index has no upsert" gap): the batch
    * assigns against the CURRENT model and lands as generation-stamped
    * rows in parallel delta tables (`dlists`/`dcodes`/`dvectors`, plus
    * `dmeta` when the index carries metadata), all in ONE catalog txn.
    * Read-side semantics ([[ivfPqTopKIndexedTxn]]):
    *
    *  - any delta generation SHADOWS the id's base rows entirely (a
    *    corrected vector replaces, never duplicates — the reason plain
    *    [[appendToIvfPqIndexTxn]] cannot express this);
    *  - the NEWEST generation wins within the delta (upsert-again);
    *  - a delete stamped with a HIGHER generation kills the delta row
    *    (upsert → delete → gone), while a later upsert revives it
    *    (insert → delete → reinsert — the id returns with the new
    *    vector, and base rows stay dead under the id's tombstone);
    *  - `asOf` reads resolve the delta tables at the pinned txn, so
    *    every historical answer is exact.
    *
    * Cost is O(batch) per upsert and O(delta) per search (the overlay
    * is an anti-join + union over generation-pruned delta rows — both
    * sides bounded by rebuild policy: [[indexHealthTxn]].deltaFraction
    * feeds [[rebuildTxnIfStale]], and the rebuild folds the corrections
    * into the base and clears the overlay, exactly like tombstone
    * compaction). Generations are stamped `currentTxn + 1` — the
    * single-writer assumption every mutation of one index already
    * carries. Returns the catalog txn. */
  def upsertIntoIvfPqIndexTxn(spark: org.apache.spark.sql.SparkSession,
                              batch: DataFrame, catalog: String,
                              m: Int = 8, dim: Int = 64): Int = {
    import graft.sources.TxnCatalog
    import graft.sources.TxnCatalog.Write
    val gen = TxnCatalog.currentTxn(catalog) + 1
    val centroids = TxnCatalog.read(spark, catalog, "centroids")
    val cb = TxnCatalog.read(spark, catalog, "codebooks")
    val batchQ = quantizeCorpus(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val meta =
      if (TxnCatalog.tableVersions(catalog).contains("meta")) {
        // fail at the MUTATION, not at some later filtered search: a
        // narrow batch would land a column-poor dmeta whose unionByName
        // with meta only blows up at query time, far from the cause
        val metaCols = TxnCatalog.read(spark, catalog, "meta")
          .columns.toSet
        val batchMeta = batch.drop("embedding")
        require(batchMeta.columns.toSet == metaCols,
          s"upsert batch metadata columns ${batchMeta.columns.sorted.mkString(",")} " +
            s"must match the index's meta table ${metaCols.toSeq.sorted.mkString(",")}")
        Seq(Write("dmeta", batchMeta.withColumn("gen", lit(gen))))
      } else Nil
    try TxnCatalog.commitAll(spark, catalog, Seq(
      Write("dlists",
        assignClustersQ(batchQ, centroids).withColumn("gen", lit(gen))),
      Write("dcodes",
        pqAssignQ(batchQ, cb, m, dim).withColumn("gen", lit(gen))),
      Write("dvectors",
        batch.select("vec_id", "embedding").withColumn("gen", lit(gen)))) ++
      meta,
      tag = Some("index-upsert"))
    finally { batchQ.unpersist(); () }
  }

  /** A delta-overlay table at the pinned txn — None when the index has
    * no overlay (no upsert ever ran) or the table didn't exist yet at
    * `asOf` (historical reads see no later upserts, by construction). */
  private def deltaTableAt(spark: SparkSession, catalog: String,
                           name: String, asOf: Option[Int]): Option[DataFrame] =
    try Some(graft.sources.TxnCatalog.read(spark, catalog, name, asOf))
    catch { case _: IllegalArgumentException => None }

  /** [[deltaTableAt]] that also returns None for a provably-EMPTY
    * table, decided from the catalog's metadata row count (commit-time
    * stats / cached footers) instead of a `df.isEmpty` Spark job — the
    * per-search emptiness probes were scheduling-latency, not data. */
  private def deltaTableNonEmptyAt(spark: SparkSession, catalog: String,
                                   name: String,
                                   asOf: Option[Int]): Option[DataFrame] =
    try {
      if (graft.sources.TxnCatalog.rowCount(catalog, name, asOf) == 0L) None
      else Some(graft.sources.TxnCatalog.read(spark, catalog, name, asOf))
    } catch { case _: IllegalArgumentException => None }

  /** The tombstone set of a transactional index at `asOf` — None when
    * the index predates the delete capability (no marker table). */
  private def tombstonesAt(spark: SparkSession, catalog: String,
                           asOf: Option[Int]): Option[DataFrame] =
    try Some(graft.sources.TxnCatalog.read(spark, catalog, "tombstones", asOf)
      .select("vec_id"))
    catch { case _: IllegalArgumentException => None }

  /** Commit a prebuilt DIR-layout index ([[writeIvfPqIndex]]) into a
    * catalog as the same ONE atomic build txn [[writeIvfPqIndexTxn]]
    * produces. The six tables are deterministic functions of the
    * corpus, so a caller that caches the dir (build once, the
    * q_ann_ivfpq_index pattern) gets the transactional lifecycle —
    * atomic versions, as-of search, tombstone deletes — without
    * retraining the model per run. Returns the catalog txn. */
  def commitIvfPqIndexTxnFromDir(spark: SparkSession, dir: String,
                                 catalog: String): Int = {
    import graft.sources.TxnCatalog
    import graft.sources.TxnCatalog.Write
    // read each index table by its explicit part-file list through the
    // memoized schema (part names are UUID-stamped, so the key is
    // immutable): the seven per-table schema-inference jobs this commit
    // paid were scheduling latency, not data
    def t(name: String) = {
      val d = new java.io.File(s"$dir/$name")
      val parts = Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(_.getPath).sorted.toSeq
      if (parts.isEmpty) spark.read.parquet(s"$dir/$name")
      else graft.sources.SchemaCache.read(spark, parts)
    }
    // `meta` only exists on dirs written since filtered search landed —
    // an older cached dir commits without it (filtered queries on such
    // a catalog fail loudly at the meta read, never silently)
    val meta =
      if (new java.io.File(s"$dir/meta").isDirectory)
        Seq(Write("meta", t("meta"), overwrite = true))
      else Nil
    TxnCatalog.commitAll(spark, catalog, Seq(
      Write("centroids", t("centroids"), overwrite = true),
      Write("codebooks", t("codebooks"), overwrite = true),
      Write("lists", t("lists"), overwrite = true),
      Write("codes", t("codes"), overwrite = true),
      Write("vectors", t("vectors"), overwrite = true),
      Write("base_stats", t("base_stats"), overwrite = true)) ++ meta ++ Seq(
      Write("tombstones",
        spark.range(0).select(col("id").as("vec_id")),
        overwrite = true)), tag = Some("index-build"))
  }

  /** Atomic append to a transactional index: the batch assigns against
    * the CURRENT model and lists/codes/vectors land in one catalog
    * transaction — a reader never sees a vector whose codes are missing.
    * Returns the new catalog txn. */
  def appendToIvfPqIndexTxn(spark: org.apache.spark.sql.SparkSession,
                            batch: DataFrame, catalog: String,
                            m: Int = 8, dim: Int = 64): Int = {
    import graft.sources.TxnCatalog
    import graft.sources.TxnCatalog.Write
    val centroids = TxnCatalog.read(spark, catalog, "centroids")
    val cb = TxnCatalog.read(spark, catalog, "codebooks")
    // batchQ feeds lists AND codes — pin it so the quantization scan of
    // the batch runs once per append, not twice (the hot, repeated op)
    val batchQ = quantizeCorpus(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // an index built before filtered search landed has no meta table —
    // appends stay compatible (no meta row for the batch either)
    val meta =
      if (TxnCatalog.tableVersions(catalog).contains("meta"))
        Seq(Write("meta", batch.drop("embedding")))
      else Nil
    try TxnCatalog.commitAll(spark, catalog, Seq(
      Write("lists", assignClustersQ(batchQ, centroids)),
      Write("codes", pqAssignQ(batchQ, cb, m, dim)),
      Write("vectors", batch.select("vec_id", "embedding"))) ++ meta,
      tag = Some("index-append"))
    finally { batchQ.unpersist(); () }
  }

  /** Query a transactional index — optionally AS OF a past catalog txn:
    * the five tables resolve from that transaction's pinned snapshot, so
    * the search runs against exactly the index that existed then. Same
    * plan as [[ivfPqTopKIndexed]] ([[ivfPqTopKFrames]]), including the
    * filtered-search `predicate` (over the `meta` table AT THE SAME
    * pinned txn — an as-of filtered search evaluates the predicate
    * against the metadata as it stood then, composing with the
    * tombstones of that same snapshot). */
  def ivfPqTopKIndexedTxn(spark: org.apache.spark.sql.SparkSession,
                          queries: DataFrame, catalog: String, k: Int,
                          asOf: Option[Int] = None, nprobe: Int = 4,
                          rerank: Int = 64, m: Int = 8,
                          dim: Int = 64,
                          predicate: Option[Column] = None,
                          autoWiden: Boolean = false): DataFrame = {
    import graft.sources.TxnCatalog
    // resolve the head ONCE and pin every table read to it — six
    // independently-resolved head reads would leave a torn-read window
    // (a rebuild committing mid-search could pair new-model centroids
    // with old-model lists, or cleared tombstones with stale lists)
    val at = asOf.orElse(Some(TxnCatalog.currentTxn(catalog)))
    // tombstoned ids leave candidate generation at the LISTS — the
    // cheapest point (codes/ADC/rerank never see them); the anti-join
    // broadcasts (tombstones are ids-only and bounded by rebuild policy).
    // An EMPTY tombstone set (the committed marker table before any
    // delete) is decided from catalog metadata and skips the anti-join
    // outright — every base search otherwise paid a broadcast build +
    // a per-row probe over the full lists for a provably-empty set.
    val lists0 = TxnCatalog.read(spark, catalog, "lists", at)
    val lists1 = tombstonesAt(spark, catalog, at)
      .filter(_ => scala.util.Try(
        TxnCatalog.rowCount(catalog, "tombstones", at)).getOrElse(1L) != 0L)
      .map(t => lists0.join(broadcast(t), Seq("vec_id"), "left_anti"))
      .getOrElse(lists0)
    // the UPSERT delta overlay ([[upsertIntoIvfPqIndexTxn]]): any delta
    // generation shadows the id's base rows; the newest generation not
    // killed by a later delete wins. The overlay is bounded by rebuild
    // policy (deltaFraction trigger), so the anti-joins broadcast like
    // the tombstones do.
    val overlay: (DataFrame, String) => DataFrame =
      // an emptied overlay (post-rebuild) must cost nothing: without
      // the emptiness short-circuit every later search would forever
      // pay two eager checkpoint jobs plus three anti-join/union plans
      // over empty frames. The check is a catalog-metadata row count —
      // the previous df.isEmpty ran a Spark job per search.
      deltaTableNonEmptyAt(spark, catalog, "dlists", at) match {
        case None => (base, _) => base
        case Some(dl) =>
          val winners = dl.groupBy("vec_id").agg(max("gen").as("gen"))
          val live = deltaTableNonEmptyAt(spark, catalog, "dtombs", at)
            .fold(winners) { t =>
              val kills = t.select(col("vec_id").as("t_id"),
                col("gen").as("t_gen"))
              winners.join(kills, winners("vec_id") === kills("t_id") &&
                kills("t_gen") > winners("gen"), "left_anti")
            }.localCheckpoint(true) // small; reused by all four overlays
          val deltaIds = dl.select("vec_id").distinct().localCheckpoint(true)
          // the delta table is NAMED by the caller — inferring it from
          // base column names would mis-route an index whose metadata
          // happens to carry a 'cluster' or 'code' column
          (base, dTable) => {
            // base rows of every upserted id vanish (even a killed delta
            // keeps them dead: the upsert shadowed, the delete killed)
            val winning = deltaTableAt(spark, catalog, dTable, at).map(
              _.join(broadcast(live), Seq("vec_id", "gen")).drop("gen"))
            val pruned = base.join(broadcast(deltaIds), Seq("vec_id"),
              "left_anti")
            winning.fold(pruned)(w => pruned.unionByName(w))
          }
      }
    // the filter prunes at the same point (no broadcast hint: the
    // eligible set's size is the predicate's selectivity — see
    // [[ivfPqTopKIndexed]]); the meta it reads is the OVERLAID meta, so
    // a predicate evaluates against an upserted row's NEW metadata
    val lists2 = overlay(lists1, "dlists")
    val metaAt = predicate.map(_ =>
      overlay(TxnCatalog.read(spark, catalog, "meta", at), "dmeta"))
    val lists = predicate.fold(lists2) { p =>
      lists2.join(metaAt.get.filter(p).select("vec_id"),
        Seq("vec_id"), "left_semi")
    }
    // auto-widening measures selectivity on the SAME overlaid,
    // same-pinned meta the filter consults — ONE aggregate pass for
    // both counts (the overlay pipeline is not free to re-run) — then
    // probes per-query adaptively, exactly like the directory index
    val centroids = TxnCatalog.read(spark, catalog, "centroids", at)
    val (np, rr, probes) =
      if (!autoWiden || predicate.isEmpty) (nprobe, rerank, None)
      else {
        val c = metaAt.get
          .agg(count(lit(1)), count(when(predicate.get, 1))).head()
        val (total, elig) = (c.getLong(0), c.getLong(1))
        // zero eligible: the semi-joined lists are empty — don't pay a
        // capped-out probe of a provably-empty join
        if (elig == 0L) (nprobe, rerank, None)
        else {
          val nClusters = centroids.count().toInt
          // as in the directory reader: only the widened rerank is
          // used; probing is the per-query adaptive walk. The listElig
          // aggregate re-runs the overlaid semi-joined lists pipeline
          // once as a MEASURE pass (|clusters| rows out) — persisting
          // that frame to avoid it would materialize corpus-scale
          // state, the wrong trade at 100 TB.
          val wrr = widenedKnobs(nprobe, rerank, total, elig, nClusters)._2
          (nprobe, wrr, Some(adaptiveProbes(queries, centroids,
            npFloor = nprobe,
            npCap = math.min(nClusters.toLong, 64L * nprobe).toInt.max(nprobe),
            listElig = lists.groupBy("cluster")
              .agg(count(lit(1)).as("n_elig")),
            target = wrr.toLong)))
        }
      }
    ivfPqTopKFrames(queries,
      centroids,
      TxnCatalog.read(spark, catalog, "codebooks", at),
      lists,
      overlay(TxnCatalog.read(spark, catalog, "codes", at), "dcodes"),
      overlay(TxnCatalog.read(spark, catalog, "vectors", at), "dvectors"),
      k, np, rr, m, dim, probes)
  }

  /** Index-health snapshot for a persisted IVFPQ dir — the measurements
    * that decide "rebuild now" (VERDICT r6 #2; the reference's analogous
    * lifecycle decision is its monthly drop-and-reload, pipeline.py:59).
    *
    *  - `skewRatio` — largest list ÷ mean list size. Appends assign
    *    against yesterday's centroids, so a drifting distribution piles
    *    into few lists; probe cost is proportional to the probed lists'
    *    sizes, so skew IS the query-latency regression.
    *  - `appendFraction` — rows appended since the last full build ÷
    *    total. Bounds recall drift even when appends happen to spread
    *    evenly (the model has seen none of them). */
  final case class IndexHealth(nLists: Int, total: Long, baseTotal: Long,
                               maxList: Long, skewRatio: Double,
                               appendFraction: Double,
                               deleteFraction: Double = 0.0,
                               deltaFraction: Double = 0.0)

  /** Measure a persisted index: one aggregate over `lists` (per-cluster
    * cardinalities — never touches codes or vectors) + the base row
    * count stamped by [[writeIvfPqIndex]]. Indexes written before the
    * stamp existed read as appendFraction 0. */
  def indexHealth(spark: SparkSession, dir: String): IndexHealth =
    indexHealthFrames(graft.sources.SchemaCache.readDir(spark, s"$dir/lists"),
      try Some(graft.sources.SchemaCache.readDir(spark, s"$dir/base_stats"))
      catch { case _: org.apache.spark.sql.AnalysisException => None })

  /** [[indexHealth]] for the transactional index: the same measurements
    * from the catalog's (optionally as-of) snapshot — the rebuild
    * decision works identically on both storage forms. */
  def indexHealthTxn(spark: SparkSession, catalog: String,
                     asOf: Option[Int] = None): IndexHealth = {
    import graft.sources.TxnCatalog
    // deleteFraction = tombstoned ids ÷ listed rows: the probed lists
    // still pay for every tombstoned row (filtered only after candidate
    // generation), so this is the compaction trigger the same way
    // skewRatio is the rebuild trigger. Reads pin to ONE resolved txn —
    // a denominator and numerator from different snapshots would skew
    // the fraction across a concurrent delete/rebuild.
    val at = asOf.orElse(Some(TxnCatalog.currentTxn(catalog)))
    val h = indexHealthFrames(TxnCatalog.read(spark, catalog, "lists", at),
      Some(TxnCatalog.read(spark, catalog, "base_stats", at)))
    val nDead = tombstonesAt(spark, catalog, at)
      .map(_.distinct().count()).getOrElse(0L)
    // deltaFraction = distinct upserted ids ÷ listed rows: every search
    // pays the overlay's anti-join + union over these, so like
    // deleteFraction it is a compaction trigger — the rebuild folds the
    // corrections into the base and clears the delta tables.
    val nDelta = deltaTableAt(spark, catalog, "dlists", at)
      .map(_.select("vec_id").distinct().count()).getOrElse(0L)
    h.copy(
      deleteFraction = if (h.total == 0) 0.0 else nDead.toDouble / h.total,
      deltaFraction = if (h.total == 0) 0.0 else nDelta.toDouble / h.total)
  }

  private def indexHealthFrames(lists: DataFrame,
                                baseStats: Option[DataFrame]): IndexHealth = {
    val byList = lists
      .groupBy("cluster").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("lists"), sum("n").as("total"), max("n").as("mx"))
      .collect()(0)
    val (nLists, total, mx) = (byList.getLong(0).toInt, byList.getLong(1), byList.getLong(2))
    val baseTotal = baseStats.map(_.collect()(0).getLong(0)).getOrElse(total)
    IndexHealth(
      nLists = nLists, total = total, baseTotal = baseTotal, maxList = mx,
      skewRatio = if (total == 0) 0.0 else mx.toDouble * nLists / total,
      appendFraction =
        if (total == 0) 0.0 else (total - baseTotal).toDouble / total)
  }

  /** The maintenance trigger: re-train + rewrite the index when either
    * health threshold trips, else leave it untouched. `corpus` is the
    * CURRENT full corpus (base ∪ everything appended) — passed by the
    * caller rather than re-read from `$dir/vectors`, because rebuilding
    * a dir from a lazy scan of itself is a read-overwrite hazard; the
    * corpus table is the source of truth the appends came from anyway.
    * Returns true iff a rebuild ran. Defaults: a list 4× its fair share
    * or one-third appended rows ⇒ rebuild (FAISS-style rule of thumb —
    * both knobs are per-deployment policy). */
  def rebuildIfStale(corpus: DataFrame, dir: String,
                     maxSkewRatio: Double = 4.0,
                     maxAppendFraction: Double = 1.0 / 3,
                     nClusters: Int = 16, iters: Int = 2,
                     m: Int = 8, ksub: Int = 16, dim: Int = 64): Boolean = {
    val h = indexHealth(corpus.sparkSession, dir)
    val stale = h.skewRatio > maxSkewRatio || h.appendFraction > maxAppendFraction
    if (stale) writeIvfPqIndex(corpus, dir, nClusters, iters, m, ksub, dim)
    stale
  }

  /** [[rebuildIfStale]] for the TRANSACTIONAL index, with the third
    * trigger the txn form adds: `maxDeleteFraction` — tombstoned rows
    * still sit in every probed list (filtered only after candidate
    * generation), so past the threshold the rebuild IS the compaction
    * that reclaims them. `corpus` must be the LIVE corpus (tombstoned
    * ids excluded by the caller's source-of-truth table — the rebuild
    * clears the marker table, so anything in the corpus resurrects by
    * design). The rebuild lands as one atomic catalog txn; concurrent
    * readers keep searching the prior version until it commits, then
    * see the compacted index whole. Returns true iff a rebuild ran. */
  def rebuildTxnIfStale(spark: SparkSession, corpus: DataFrame,
                        catalog: String,
                        maxSkewRatio: Double = 4.0,
                        maxAppendFraction: Double = 1.0 / 3,
                        maxDeleteFraction: Double = 0.2,
                        maxDeltaFraction: Double = 0.2,
                        nClusters: Int = 16, iters: Int = 2,
                        m: Int = 8, ksub: Int = 16, dim: Int = 64): Boolean =
    maintainTxnIndex(spark, corpus, catalog, maxSkewRatio,
      maxAppendFraction, maxDeleteFraction, maxDeltaFraction,
      nClusters, iters, m, ksub, dim).decision != "rest"

  /** The named outcome of one [[maintainTxnIndex]] pass — the ANN
    * sibling of the layout ladder's clusterAdvice rows: which rung ran
    * and why, so operators (and specs) see the DECISION, not just a
    * boolean. */
  final case class IndexMaintenance(decision: String, reason: String,
                                    listsSplit: Int = 0)

  /** THE ANN MAINTENANCE LADDER — cheapest sufficient repair first,
    * the decision named ([[IndexMaintenance]]):
    *
    *  - `rest`: no threshold tripped — touch nothing.
    *  - `rebalance`: SKEW-ONLY staleness (skewRatio past the bar,
    *    append/delete/delta all under theirs, no upsert overlay) —
    *    [[rebalanceIvfPqTxn]] splits just the oversized lists,
    *    O(oversized rows), codes and vectors untouched. A skewed
    *    ingest used to pay a FULL retrain here; at 100 TB that is the
    *    difference between minutes over the fat lists and hours over
    *    the corpus.
    *  - `rebuild`: structural staleness (append / delete / delta
    *    fractions) — only the full retrain compacts tombstones and
    *    folds the overlay, so it stays the answer; skew-with-overlay
    *    also lands here (rebalance refuses over an overlay by
    *    contract — splitting lists would orphan delta rows).
    *
    * The rebalance rung maps `maxSkewRatio` straight onto
    * [[rebalanceIvfPqTxn]]'s `maxListFactor` — both measure max-list ÷
    * mean, so the lists the trigger saw are exactly the lists the
    * repair splits. */
  def maintainTxnIndex(spark: SparkSession, corpus: DataFrame,
                       catalog: String,
                       maxSkewRatio: Double = 4.0,
                       maxAppendFraction: Double = 1.0 / 3,
                       maxDeleteFraction: Double = 0.2,
                       maxDeltaFraction: Double = 0.2,
                       nClusters: Int = 16, iters: Int = 2,
                       m: Int = 8, ksub: Int = 16, dim: Int = 64,
                       subK: Int = 4): IndexMaintenance = {
    val h = indexHealthTxn(spark, catalog)
    val structural = Seq(
      "appendFraction" -> (h.appendFraction, maxAppendFraction),
      "deleteFraction" -> (h.deleteFraction, maxDeleteFraction),
      "deltaFraction" -> (h.deltaFraction, maxDeltaFraction)
    ).collect { case (n, (v, mx)) if v > mx => f"$n $v%.3f > $mx%.3f" }
    val skewed = h.skewRatio > maxSkewRatio
    val overlay = !deltaTableAt(spark, catalog, "dlists", None)
      .forall(_.isEmpty)
    if (structural.nonEmpty || (skewed && overlay)) {
      writeIvfPqIndexTxn(spark, corpus, catalog, nClusters, iters, m, ksub, dim)
      val why =
        if (structural.nonEmpty) structural.mkString(", ")
        else f"skewRatio ${h.skewRatio}%.2f > $maxSkewRatio%.2f with an " +
          "upsert overlay — rebalance would orphan delta rows"
      IndexMaintenance("rebuild", why)
    } else if (skewed) {
      val split = rebalanceIvfPqTxn(spark, catalog,
        maxListFactor = maxSkewRatio, subK = subK, iters = iters)
      IndexMaintenance("rebalance",
        f"skewRatio ${h.skewRatio}%.2f > $maxSkewRatio%.2f, structure " +
          "healthy — split oversized lists only", listsSplit = split)
    } else IndexMaintenance("rest", "all health thresholds clear")
  }

  /** IVF LIST REBALANCE — split oversized lists WITHOUT retraining the
    * index (the cheap sibling of [[rebuildTxnIfStale]]'s full rebuild).
    * Centroids train on a capped sample, so a skewed corpus piles into
    * few mega-lists and every probe touching one pays its whole length
    * — [[indexHealthTxn]].skewRatio (max list ÷ mean) is exactly this
    * regression. The fix is local: for each list exceeding
    * `maxListFactor` × mean, train `subK` SUB-CENTROIDS on that list's
    * own vectors only (same capped-sample Lloyd) and reassign just its
    * members — O(oversized lists' rows), never the corpus. Because PQ
    * codes encode RAW vectors (not residuals — the documented
    * simplification), codes, vectors, and meta are untouched; the new
    * `centroids` + `lists` land as ONE atomic catalog txn, so
    * concurrent readers see the old index or the rebalanced one, never
    * a mix. Fresh sub-cluster ids are allocated past the current max
    * (probing and assignment key on id equality only — ids are labels,
    * not positions).
    *
    * REFUSED while a delta overlay exists: dlists rows were assigned
    * against the OLD centroids, and silently leaving them pointed at a
    * split cluster would orphan them from every probe — run the
    * rebuild (it compacts the overlay) first. Tombstones are fine
    * (they filter after candidate generation and never reference a
    * centroid). Returns the number of lists split (0 = healthy, no
    * txn committed). */
  def rebalanceIvfPqTxn(spark: SparkSession, catalog: String,
                        maxListFactor: Double = 4.0, subK: Int = 4,
                        iters: Int = 2): Int = {
    import graft.sources.TxnCatalog
    import graft.sources.TxnCatalog.Write
    require(maxListFactor > 1.0, "maxListFactor must exceed 1")
    require(subK >= 2, "subK must be at least 2")
    require(deltaTableAt(spark, catalog, "dlists", None)
        .forall(_.isEmpty),
      s"$catalog carries an upsert overlay — rebalancing would orphan " +
        "delta rows from their (split) lists; rebuild to compact first")
    val lists = TxnCatalog.read(spark, catalog, "lists", None)
    val sizes = lists.groupBy("cluster").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    if (sizes.length < 2) return 0
    val mean = sizes.map(_._2).sum.toDouble / sizes.length
    val oversized = sizes.filter(_._2 > maxListFactor * mean).map(_._1)
    if (oversized.isEmpty) return 0
    val centroids = TxnCatalog.read(spark, catalog, "centroids", None)
    val vectors = TxnCatalog.read(spark, catalog, "vectors", None)
    // fresh ids must clear EVERY existing cluster id — `lists` alone is
    // not enough: k-means can leave a centroid with zero members, and a
    // memberless centroid whose id exceeds every listed id would
    // otherwise collide with the first allocated sub-cluster, committing
    // duplicate ids in `centroids` and making probe/assignment ambiguous
    val maxCentroidId = centroids.agg(max(col("cluster"))).head().getInt(0)
    var nextId = math.max(sizes.map(_._1).max, maxCentroidId) + 1
    val overCol = oversized.map(Integer.valueOf).toSeq
    // one scan of the oversized lists' vectors, shared by every split's
    // training collect and assignment
    val memberQ = quantizeCorpus(
      vectors.join(lists.filter(col("cluster").isin(overCol: _*)), "vec_id")
        .select("vec_id", "embedding"))
      .persist()
    try {
      val parts = oversized.toSeq.map { c =>
        val members = memberQ
          .join(lists.filter(col("cluster") === c).select("vec_id"), "vec_id")
        val n = sizes.find(_._1 == c).get._2
        val k = math.min(subK.toLong, n).toInt
        val trained = ivfCentroidsQ(members, k, iters).collect()
          .map(r => (r.getInt(0), r.getSeq[Long](1)))
        // remap the trained ids (seed vec_ids) to FRESH labels past
        // the current max so they collide with no surviving cluster
        val remap = trained.map(_._1).sorted.zipWithIndex
          .map { case (old, i) => old -> (nextId + i) }.toMap
        nextId += trained.length
        val subFrame = spark.createDataFrame(
            trained.toSeq.map { case (c0, cq) => (remap(c0), cq) })
          .toDF("cluster", "cq")
        (subFrame, assignClustersQ(members, subFrame))
      }
      val newCentroids = centroids
        .filter(!col("cluster").isin(overCol: _*))
        .unionByName(parts.map(_._1).reduce(_.unionByName(_)))
      val newLists = lists
        .filter(!col("cluster").isin(overCol: _*))
        .unionByName(parts.map(_._2).reduce(_.unionByName(_)))
      TxnCatalog.commitAll(spark, catalog, Seq(
        Write("centroids", newCentroids, overwrite = true),
        Write("lists", newLists, overwrite = true)))
    } finally memberQ.unpersist()
    oversized.length
  }

  /** Johnson–Lindenstrauss random projection: dim → outDim via a seeded
    * Gaussian plane matrix (the same deterministic family as the LSH
    * hyperplanes — JL is what LSH sign-buckets before truncating to a
    * bit), computed in the quantized-integer domain: out_j =
    * Σᵢ floor(xᵢ·10⁶)·floor(pⱼᵢ·10⁶) ≈ (x·pⱼ)·10¹². The standard
    * dimensionality-reduction preprocessing before clustering/ANN when
    * the raw embedding dim is large — distances concentrate within
    * (1±ε) at outDim = O(log n / ε²), and the integer output keeps the
    * projected vectors engine-exact for the replay oracle.
    *
    * Returns the EXPLODED form (vec_id, dim, value_q) — one row per
    * projected component, scan-side, zero shuffle. NOTE the scale:
    * value_q ≈ projection·10¹², so rescale (e.g. `value_q div 10⁶`)
    * before feeding projected vectors to an integer dot — squaring
    * 10¹²-scale longs overflows. */
  def randomProject(df: DataFrame, outDim: Int, dim: Int = 64,
                    seed: Long = 99L): DataFrame = {
    val planesQ: Seq[Seq[Long]] = projectionPlanesQ(outDim, dim, seed)
    df.select(col("vec_id"),
      posexplode(transform(typedLit(planesQ),
        p => dotQVec(quantizeVec(col("embedding")), p))).as(Seq("dim", "value_q")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"), col("value_q"))
  }

  /** The quantized JL plane matrix (outDim rows × dim longs at the 1e6
    * scale) — exposed so the oracle inlines the exact same literals. */
  def projectionPlanesQ(outDim: Int, dim: Int, seed: Long = 99L): Seq[Seq[Long]] =
    hyperplanes(dim, 1, outDim, seed).head
      .map(_.map(p => math.floor(p * 1000000.0d).toLong))

  /** Scalar int8 quantization (the FAISS SQ8 shape): each component
    * maps to floor(x·127 + 0.5) — unit-normalized corpus, so the scale
    * is the STATIC 127, no per-vector min/max state to carry. 4×
    * compression vs float32 next to PQ's 32×, with far better raw
    * fidelity — the first rung of the memory ladder. Deterministic
    * integer output (the float→double widening and FLOOR are exact),
    * so SQ8 scoring replays in the oracle like everything else. */
  def sq8Encode(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * 127.0d + 0.5d).cast("int"))

  /** ANN top-k over the SQ8-compressed corpus: approximate scores are
    * the integer dot of the int8 codes (≈ cosine·127², exact longs),
    * the top `rerank` per query re-score with the full-precision
    * quantized dot. No training and no bucketing — the corpus IS
    * scanned per query batch (one broadcast-LUT-free pass), which is
    * the honest trade SQ8 makes: memory shrinks 4×, scan cost stays
    * O(|corpus|·dim/4 bytes); compose with IVF lists when scan cost
    * matters too. Recall vs brute is spec-measured. */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
              rerank: Int = 64): DataFrame = {
    val c8 = corpus.select(col("vec_id").as("n_id"),
      sq8Encode(col("embedding")).as("c8"))
    val q8 = queries.select(col("vec_id").as("q_id"),
      sq8Encode(col("embedding")).as("q8"))
    val approxDot = aggregate(zip_with(col("q8"), col("c8"),
      (x, y) => (x.cast("long")) * (y.cast("long"))), lit(0L), (acc, v) => acc + v)
    val wA = Window.partitionBy("q_id").orderBy(desc("approx"), col("n_id"))
    val shortlist = c8.crossJoin(broadcast(q8))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("approx", approxDot)
      .withColumn("rn", row_number().over(wA))
      .filter(col("rn") <= rerank)
      .select("q_id", "n_id")
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val w = Window.partitionBy("q_id").orderBy(desc("sim"), col("n_id"))
    shortlist.join(broadcast(q), "q_id").join(c, "n_id")
      .withColumn("sim", quantizedDot(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "n_id", "sim")
  }

  /** SQ8-within-IVF-lists — the pruned-scan form of [[sq8TopK]]
    * (VERDICT r6 #7): IVF probes narrow each query to nprobe cluster
    * lists, the int8 codes score only those candidates, the top
    * `rerank` re-score exactly. Same compression rung (4×), scan cost
    * drops from O(|corpus|) to O(nprobe/nClusters·|corpus|) per query —
    * the composition [[sq8TopK]]'s doc points at when flat-scan cost
    * starts to matter. Training, assignment, and probing are the exact
    * IVF integer path, and SQ8 scoring is integer too, so the whole
    * pipeline replays in q_ann_ivfsq8's DuckDB oracle. */
  def ivfSq8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 nClusters: Int = 16, iters: Int = 2, nprobe: Int = 4,
                 rerank: Int = 64): DataFrame = {
    val corpusQ = quantizeCorpus(corpus)
    val centroids = ivfCentroidsQ(corpusQ, nClusters, iters)
    val lists = assignClustersQ(corpusQ, centroids)
    val probes = probeClusters(queries, centroids, nprobe)
    val c8 = corpus.select(col("vec_id").as("n_id"), sq8Encode(col("embedding")).as("c8"))
    val q8 = queries.select(col("vec_id").as("q_id"), sq8Encode(col("embedding")).as("q8"))
    val approxDot = aggregate(zip_with(col("q8"), col("c8"),
      (x, y) => (x.cast("long")) * (y.cast("long"))), lit(0L), (acc, v) => acc + v)
    // candidates: nprobe lists per query (no distinct needed — each n_id
    // lives in exactly one list, like ivfTopK)
    val cand = probes
      .join(lists.withColumnRenamed("vec_id", "n_id"), "cluster")
      .filter(col("q_id") =!= col("n_id"))
      .select("q_id", "n_id")
    val wA = Window.partitionBy("q_id").orderBy(desc("approx"), col("n_id"))
    val shortlist = cand.join(c8, "n_id").join(broadcast(q8), "q_id")
      .withColumn("approx", approxDot)
      .withColumn("rn", row_number().over(wA))
      .filter(col("rn") <= rerank)
      .select("q_id", "n_id")
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val w = Window.partitionBy("q_id").orderBy(desc("sim"), col("n_id"))
    shortlist.join(broadcast(q), "q_id").join(c, "n_id")
      .withColumn("sim", quantizedDot(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "n_id", "sim")
  }

  /** Append a NEW batch to a persisted IVFPQ index WITHOUT re-training
    * (the daily-ingest half of the index lifecycle, paired with a
    * periodic [[writeIvfPqIndex]] rebuild): the batch is assigned to
    * the EXISTING centroids and codebooks — broadcast map-side work,
    * O(|batch|) — and its lists/codes/vectors rows append. Queries then
    * see base ∪ batch through the original model; model staleness is
    * the standard IVF trade (rebuild cadence), orthogonal to
    * correctness, and the assignment arithmetic is the same integer
    * path, so an appended index stays replay-oracle-able
    * (q_ann_index_append trains its CTEs on the base slice and
    * lists/codes the union). */
  def appendToIvfPqIndex(batch: DataFrame, dir: String,
                         m: Int = 8, dim: Int = 64,
                         dedupe: Boolean = false): Unit = {
    val spark = batch.sparkSession
    val centroids = spark.read.parquet(s"$dir/centroids")
    val cb = spark.read.parquet(s"$dir/codebooks")
    // batchQ feeds lists AND codes — pin it so the quantization scan of
    // the batch runs once per append, not twice
    val batchQ = quantizeCorpus(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // dedupe = true makes the append IDEMPOTENT for a batch of distinct
    // vec_ids: each sub-table independently skips ids it already holds,
    // so a retry after a crash ANYWHERE mid-append (this dir layout has
    // no transaction — that is appendToIvfPqIndexTxn's job) completes
    // the torn pieces instead of duplicating the done ones. Cost: one
    // ids-only read per sub-table, streaming-sink scale.
    def fresh(df: DataFrame, sub: String) =
      if (!dedupe) df
      else df.join(spark.read.parquet(s"$dir/$sub").select("vec_id"),
        Seq("vec_id"), "left_anti")
    try {
      fresh(assignClustersQ(batchQ, centroids), "lists")
        .write.mode("append").parquet(s"$dir/lists")
      fresh(pqAssignQ(batchQ, cb, m, dim), "codes")
        .write.mode("append").parquet(s"$dir/codes")
      fresh(batch.select("vec_id", "embedding"), "vectors")
        .write.mode("append").parquet(s"$dir/vectors")
      // keep the filtered-search side table in sync (pre-meta dirs
      // stay meta-less — same compatibility rule as the txn append)
      if (new java.io.File(s"$dir/meta").isDirectory)
        fresh(batch.drop("embedding"), "meta")
          .write.mode("append").parquet(s"$dir/meta")
    } finally { batchQ.unpersist(); () }
  }

  /** Semantic dedup (the SemDeDup shape: arXiv:2303.09540): k-means the
    * embedding space, then prune near-duplicates ONLY within each cluster
    * — the all-pairs O(N²) becomes k independent O((N/k)²) blocks, the
    * third candidate-generation strategy next to hyperplane LSH
    * ([[nearDupPairsLsh]]) and banded MinHash (text-side `Dedup`).
    *
    * Deterministic contract: a vector is dropped iff some SMALLER-id
    * vector in its cluster has quantized cosine >= `tauQ` (greedy keep-
    * min-id; identical vectors always share a cluster, because identical
    * dots give the identical argmin centroid). Clusters come from
    * [[ivfCentroids]] — seeded by the k smallest vec_ids, integer
    * `sum div count` means — so the output is a pure function of the
    * corpus.
    *
    * Scale shape: clustering is broadcast-centroid map-side work; the
    * pair join shuffles on the cluster id, and k scales with the corpus
    * to bound each block (SemDeDup used k = O(√N) on LAION). Returns the
    * SURVIVORS (vec_id), one row per kept vector. */
  def semanticDedup(corpus: DataFrame, tauQ: Long,
                    nClusters: Int = 16, iters: Int = 2): DataFrame = {
    val corpusQ = quantizeCorpus(corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val centroids = ivfCentroidsQ(corpusQ, nClusters, iters)
    val member = assignClustersQ(corpusQ, centroids)
      .join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
    val dropped = member.as("x").join(member.as("y"),
        col("x.cluster") === col("y.cluster") &&
          col("x.vec_id") < col("y.vec_id"))
      .filter(quantizedDot(col("x.embedding"), col("y.embedding")) >= tauQ)
      .select(col("y.vec_id").as("vec_id"))
      .distinct()
    corpus.select("vec_id").join(dropped, Seq("vec_id"), "left_anti")
  }

  /** Quantized mean-pooling: chunk embeddings → one parent embedding per
    * `groupCol` (doc from its chunks, doc from its frames — the step that
    * turns a chunk-level index into a doc-level one). Elements quantize to
    * floor(x·10⁶) longs FIRST (the QuantizedDot discipline), so per-
    * dimension sums are order-independent and the pooled vector is
    * hash-stable across engines and partitionings; mean_q is one integer
    * division.
    *
    * Output is the exploded form (group, dim, n_vecs, sum_q, mean_q) —
    * one row per dimension. Scale shape: posexplode → hash aggregate on
    * (group, dim); map-side combine collapses each group's chunks before
    * the shuffle, and no row ever carries more than 16 bytes of state.
    * (`array_agg(... ORDER BY dim)` back into vectors is one more
    * hash-free projection if a consumer needs arrays; comparisons and
    * oracles want the exploded form.) */
  def meanPoolQuantized(chunks: DataFrame, groupCol: String,
                        vecCol: String): DataFrame = {
    chunks
      .select(col(groupCol), posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .groupBy(col(groupCol), col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(floor(col("__x").cast("double") * 1000000.0d).cast("long")).as("sum_q"))
      .select(col(groupCol), col("dim"), col("n_vecs"),
        col("sum_q"), expr("sum_q div n_vecs").as("mean_q"))
  }

  /** Triplet mining for embedding-model training data: for each anchor,
    * the single best POSITIVE (most similar corpus vector at or above
    * `posT` — a believed-same-content pair) and the single HARDEST
    * NEGATIVE (most similar vector strictly below `negT` — the closest
    * thing that is NOT the same content, exactly the negative a
    * contrastive loss learns most from). The band [negT, posT) is an
    * ambiguity margin and mines nothing; anchors missing either side are
    * dropped (a triplet needs both legs). Thresholds are on the
    * quantized-dot scale (cosine·10¹²).
    *
    * Scale shape: ONE similarity pass (anchors broadcast against the
    * corpus scan — swap in an ANN shortlist for web-scale corpora, same
    * contract), both picks resolved by a single (q_id, side) window over
    * the in-band rows, one shuffle keyed on q_id. Integer sims and
    * (sim DESC, n_id) tie-breaks keep the whole mine DuckDB-replayable.
    * Output: (q_id, pos_id, pos_sim, neg_id, neg_sim). */
  def tripletMine(corpus: DataFrame, anchors: DataFrame,
                  posT: Long, negT: Long): DataFrame = {
    require(negT <= posT, s"need negT <= posT, got negT=$negT posT=$posT")
    val q = anchors.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val sims = c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("sim", quantizedDot(col("q_emb"), col("n_emb")))
      .withColumn("side",
        when(col("sim") >= posT, "pos")
          .when(col("sim") < negT, "neg"))
      .filter(col("side").isNotNull)
    val w = Window.partitionBy("q_id", "side").orderBy(desc("sim"), col("n_id"))
    sims.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy("q_id")
      .agg(
        max(when(col("side") === "pos", struct(col("n_id"), col("sim")))).as("p"),
        max(when(col("side") === "neg", struct(col("n_id"), col("sim")))).as("n"))
      .filter(col("p").isNotNull && col("n").isNotNull)
      .select(col("q_id"),
        col("p.n_id").as("pos_id"), col("p.sim").as("pos_sim"),
        col("n.n_id").as("neg_id"), col("n.sim").as("neg_sim"))
  }

  // private[operators], not private: Spark's deserializer codegen
  // instantiates these reflectively and needs a bytecode-public ctor
  private[operators] case class MmrCand(q_id: Long, n_id: Long, rel: Long, eq: Array[Long])
  private[operators] case class MmrPick(q_id: Long, mmr_rank: Long, n_id: Long, rel: Long, score: Long)

  /** MMR (maximal-marginal-relevance) diversified re-rank — the retrieval
    * step after candidate generation: from each query's `kCand` most
    * relevant candidates, greedily select `kSelect` that balance
    * relevance against redundancy with what's already selected
    * (Carbonell & Goldstein 1998). λ is fixed at ½ and the whole
    * criterion is scaled ×2 to stay in integers:
    * `score = 2·rel − max_{s∈selected} sim(c, s)`; the first pick has no
    * selected set, so its score is `2·rel`. Both `rel` and `sim` are the
    * quantized integer dot, and ties break (score DESC, n_id) — fully
    * deterministic, so a DuckDB oracle replays the selection rounds.
    *
    * Scale shape: candidate generation is the existing top-k (brute here;
    * swap in `ivfTopK`/`lshTopK` at scale — same contract), so MMR's own
    * cost is ONE shuffle of |Q|·kCand short rows by q_id, then a
    * per-group greedy loop over ≤kCand candidates in `mapGroups` —
    * O(kSelect·kCand) integer dots per query, no driver involvement, no
    * cross-query work. The selection is inherently sequential per query
    * (each pick changes the next round's scores), which is exactly what
    * `KeyValueGroupedDataset.mapGroups` expresses. */
  def mmrRerank(corpus: DataFrame, queries: DataFrame,
                kCand: Int = 16, kSelect: Int = 4): DataFrame = {
    require(kCand >= kSelect, s"need kCand >= kSelect, got kCand=$kCand kSelect=$kSelect")
    mmrRerankCandidates(corpus, bruteForceTopK(corpus, queries, kCand), kSelect)
  }

  /** [[mmrRerank]] over an EXTERNAL candidate list (q_id, n_id, sim) —
    * the composition point: any generator with the top-k contract
    * (brute, [[ivfTopK]], [[lshTopK]], a persisted index) feeds the same
    * greedy selection. Spec-pinned against the brute-fed form. */
  def mmrRerankCandidates(corpus: DataFrame, candidates: DataFrame,
                          kSelect: Int = 4): DataFrame = {
    require(kSelect >= 1, s"need kSelect >= 1, got $kSelect")
    val spark = corpus.sparkSession
    import spark.implicits._
    // the candidate list (|Q|·kCand short rows) is the broadcast side —
    // unhinted, Spark guesses sizes and can pick the corpus projection
    // to build, which is exactly the 100 TB mistake
    val cands = corpus
      .select(col("vec_id").as("n_id"), quantizeVec(col("embedding")).as("eq"))
      .join(broadcast(candidates.select("q_id", "n_id", "sim")), Seq("n_id"))
      .select(col("q_id"), col("n_id"), col("sim").as("rel"), col("eq"))
      .as[MmrCand]
    cands.groupByKey(_.q_id).flatMapGroups { (qId, it) =>
      val all = it.toArray.sortBy(c => (-c.rel, c.n_id))
      val dim = if (all.isEmpty) 0 else all(0).eq.length
      val selected = scala.collection.mutable.ArrayBuffer.empty[MmrCand]
      val picks = scala.collection.mutable.ArrayBuffer.empty[MmrPick]
      val taken = scala.collection.mutable.HashSet.empty[Long]
      var round = 1
      while (round <= kSelect && selected.length < all.length) {
        var best: MmrCand = null
        var bestScore = Long.MinValue
        all.foreach { c =>
          if (!taken.contains(c.n_id)) {
            var maxSim = Long.MinValue
            selected.foreach { s =>
              var d = 0L; var i = 0
              while (i < dim) { d += c.eq(i) * s.eq(i); i += 1 }
              if (d > maxSim) maxSim = d
            }
            val score = if (selected.isEmpty) 2L * c.rel else 2L * c.rel - maxSim
            if (score > bestScore || (score == bestScore && c.n_id < best.n_id)) {
              best = c; bestScore = score
            }
          }
        }
        selected += best
        taken += best.n_id
        picks += MmrPick(qId, round.toLong, best.n_id, best.rel, bestScore)
        round += 1
      }
      picks.iterator
    }.toDF()
  }
}
