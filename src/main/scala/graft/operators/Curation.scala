package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators a training-data pipeline runs between raw
  * ingest and export (engine-added, builder brief): benchmark
  * decontamination and repetition/boilerplate quality signals.
  */
object Curation {

  /** Benchmark decontamination: find training documents that share at
    * least one word n-gram with the evaluation set — the overlap filter
    * every serious LLM corpus applies so test questions don't leak into
    * training data.
    *
    * Output: one row per contaminated training doc —
    * (idCol, n_hit_shingles = distinct eval n-grams it contains).
    *
    * Scale shape: the eval side (benchmarks, ~1e6-1e8 n-grams) is
    * `distinct`-ed and broadcast; the 100 TB training side streams
    * scan → explode → broadcast-hash semi-match → partial-agg count, so
    * the big side never shuffles full documents, only the (id, hit)
    * survivors. If the eval n-gram set outgrows broadcast range, drop the
    * `broadcast` hint and the same plan degrades to a shuffled semi-join
    * on the n-gram key. Joining on the raw n-gram string keeps the DuckDB
    * oracle exact; at scale you'd map shingles through xxhash64 first
    * (8-byte keys, ~1e-7 false-hit odds per billion pairs).
    */
  def decontaminate(train: DataFrame, eval: DataFrame,
                    idCol: String, textCol: String,
                    shingleSize: Int): DataFrame = {
    val evalShingles = eval
      .select(explode(TextFns.shingles(col(textCol), shingleSize)).as("sh"))
      .distinct()
    val trainShingles = train
      .select(col(idCol), explode(TextFns.shingles(col(textCol), shingleSize)).as("sh"))
    trainShingles
      .join(broadcast(evalShingles), "sh")
      .groupBy(idCol)
      .agg(count_distinct(col("sh")).as("n_hit_shingles"))
  }

  /** Bloom-prefiltered decontamination — same contract as [[decontaminate]]
    * but the training side's exploded n-grams hit a BROADCAST BLOOM FILTER
    * before any join: a scan-side `might_contain` probe (pure expression,
    * stays in the explode's codegen span) discards the overwhelming
    * majority of grams, and only the ≤fpp false-positive survivors plus
    * true hits reach the exact semi-join that keeps the result EXACT.
    *
    * This is the manual form of the runtime-filter pattern, worth doing
    * explicitly because at 100 TB the join input itself is the cost: the
    * bloom bits (~1.2 MB per 1e6 grams at 1% fpp) replace shipping the
    * whole candidate gram stream into a join. The filter is built with one
    * aggregate over the (small) eval side (`stat.bloomFilter` — bit
    * positions are a pure function of the items, insertion-order
    * independent) and embedded as a binary literal; correctness never
    * depends on it, only the prefilter selectivity does.
    */
  def decontaminateBloomExact(train: DataFrame, eval: DataFrame,
                              idCol: String, textCol: String,
                              shingleSize: Int, fpp: Double = 0.01): DataFrame = {
    val shCol = TextFns.shingles(col(textCol), shingleSize)
    // capacity = total (pre-distinct) gram count — one cheap aggregate, no
    // extra distinct pass or persist; over-provisioning a bloom only
    // lowers its fpp, and duplicate puts are no-ops
    val nUpper = math.max(
      eval.select(coalesce(sum(size(shCol).cast("long")), lit(0L))).head().getLong(0), 1L)
    val bloom = eval.select(explode(shCol).as("sh"))
      .select(xxhash64(col("sh")).as("h"))
      .stat.bloomFilter("h", nUpper, fpp)
    val bloomBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val trainShingles = train
      .select(col(idCol), explode(TextFns.shingles(col(textCol), shingleSize)).as("sh"))
      .filter(call_function("graft_might_contain", lit(bloomBytes), xxhash64(col("sh"))))
    trainShingles
      .join(broadcast(eval.select(explode(shCol).as("sh")).distinct()), "sh")
      .groupBy(idCol)
      .agg(count_distinct(col("sh")).as("n_hit_shingles"))
  }

  /** Gopher-family repetition signals per document:
    *
    *  - `total_tokens`  — whitespace token count;
    *  - `dup_2gram_frac` — fraction of repeated word bigrams,
    *    1 − distinct/total (0 for single-token docs) — high values mean
    *    looping/boilerplate text;
    *  - `top_token_frac` — the most frequent token's share of all tokens —
    *    high values mean keyword-stuffed or degenerate text.
    *
    * The bigram signal is a linear per-row expression (stays in the scan's
    * codegen span). The token mode is computed by explode → two partial
    * aggregations — NOT a per-row O(len²) nested HOF — so a 100 KB
    * document costs O(len) and map-side combine absorbs the explosion
    * before the (id, token) shuffle. The final join is id-to-id on
    * co-partitioned aggregates.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = df.select(col(idCol), TextFns.tokens(col(textCol)).as("ws"))
    val perDoc = base.select(
      col(idCol),
      size(col("ws")).cast("long").as("total_tokens"),
      when(size(col("ws")) >= 2,
        lit(1.0) - size(array_distinct(
            transform(sequence(lit(1), size(col("ws")) - 1),
              i => array_join(slice(col("ws"), i, lit(2)), " "))))
          .cast("double") / (size(col("ws")) - 1))
        .otherwise(lit(0.0)).as("dup_2gram_frac"))
    val mode = base
      .select(col(idCol), explode(col("ws")).as("t"))
      .groupBy(col(idCol), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(
        max(col("c")).as("top_c"), sum(col("c")).as("tot"))
      .select(col(idCol),
        (col("top_c").cast("double") / col("tot")).as("top_token_frac"))
    perDoc.join(mode, idCol)
  }

  /** Sliding-window document chunking — long documents cut into
    * `chunkTokens`-token windows every `strideTokens` tokens (overlap =
    * chunk − stride), the unit a training pipeline feeds a
    * fixed-context-length model and a RAG index stores. Output:
    * (idCol, chunk_id, chunk_text, n_tokens); the tail chunk may be
    * short; docs shorter than one chunk yield exactly one chunk.
    *
    * Shape: pure per-row explode — no shuffle, no state; 100 TB scales
    * linearly. The token array is materialized as its own projection
    * column and the window lambda slices THAT attribute: handing the
    * lambda the raw `split(...)` tree would re-tokenize per chunk after
    * projection collapse (the rollingFingerprint lesson — multi-use
    * aliases are exempt from collapse, single-use trees are not). */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
                     chunkTokens: Int, strideTokens: Int,
                     carryCols: Seq[String] = Nil): DataFrame = {
    require(chunkTokens >= 1 && strideTokens >= 1 && strideTokens <= chunkTokens,
      s"need 1 <= stride <= chunk, got ($chunkTokens, $strideTokens)")
    // doc-level metadata (source, lang, …) rides the explode via carryCols
    // — at scale that beats re-joining chunks back to a doc dimension
    val carried = carryCols.map(col)
    docs.select(col(idCol) +: carried :+ TextFns.tokens(col(textCol)).as("__w"): _*)
      .select(col(idCol) +: carried :+
        posexplode(transform(
          sequence(lit(1), size(col("__w")), lit(strideTokens)),
          s => slice(col("__w"), s, lit(chunkTokens)))).as(Seq("chunk_id", "__c")): _*)
      .select(col(idCol) +: carried :+ col("chunk_id").cast("long").as("chunk_id") :+
        array_join(col("__c"), " ").as("chunk_text") :+
        size(col("__c")).cast("long").as("n_tokens"): _*)
  }

  /** C4/CCNet-style boilerplate removal: a line that appears (normalized)
    * in at least `minDocs` distinct documents is boilerplate — nav menus,
    * cookie banners, footers — and is stripped from every document.
    *
    * Fully distributed shape, chosen for 100 TB (the boilerplate set of a
    * web corpus is unbounded — millions of distinct nav/footer lines — so
    * it must NEVER be collected to the driver or inlined as a literal):
    *
    *  1. line → doc-frequency aggregation. Only (normalized-line, doc-id)
    *     pairs shuffle (map-side `distinct` partials), never documents;
    *     the blacklist stays a DataFrame.
    *  2. LEFT ANTI equi-join of the exploded (doc, pos, line) stream
    *     against the blacklist on the normalized line. AQE converts the
    *     join to broadcast-hash at runtime whenever the blacklist lands
    *     under `spark.sql.autoBroadcastJoinThreshold`; above it, it is a
    *     plain shuffled hash/sort-merge join — either way no driver state.
    *  3. per-doc reassembly (min-struct ordered collect), the same shape
    *     as [[dedupLinesKeepFirst]].
    *
    * Output: (idCol, clean_text, n_kept, n_dropped), line order preserved;
    * a document whose every line is boilerplate comes back with
    * clean_text = ''. Empty lines are never treated as boilerplate (they
    * are structure, not content). */
  def stripBoilerplate(pages: DataFrame, idCol: String, textCol: String,
                       minDocs: Int): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = pages
      .select(col(idCol).as("__id"),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
      .select(col("__id"), col("__pos"), col("__line"),
        trim(lower(col("__line"))).as("__norm"))
    val blacklist = lines.where(col("__norm") =!= "")
      .select("__norm", "__id")
      .distinct()
      .groupBy("__norm").agg(count(lit(1)).as("__ndocs"))
      .where(col("__ndocs") >= minDocs)
      .select("__norm")
    // "" never appears in the blacklist (filtered above), so empty lines
    // always survive the anti-join — structure is preserved for free
    val kept = lines
      .join(blacklist, Seq("__norm"), "left_anti")
      .groupBy("__id")
      .agg(array_sort(collect_list(struct(col("__pos"), col("__line")))).as("__k"))
      .select(col("__id"),
        array_join(transform(col("__k"), x => x.getField("__line")), "\n")
          .as("clean_text"),
        size(col("__k")).cast("long").as("n_kept"))
    pages
      .select(col(idCol).as("__id"),
        size(split(col(textCol), "\n")).cast("long").as("__total"))
      .join(kept, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__total") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** C4-style global line dedup: every duplicated (normalized) line keeps
    * exactly its FIRST occurrence — ordered by (doc, position) — and loses
    * every other copy, corpus-wide. The complement of
    * [[stripBoilerplate]]: that drops ALL copies of corpus-frequent lines;
    * this keeps one copy of anything duplicated (C4 §2.2 does both).
    *
    * Shape: explode → min(struct(doc, pos)) per line — a HASH aggregate
    * whose map-side partials collapse duplicate-heavy corpora before the
    * shuffle (a window row_number would shuffle-and-SORT every line) —
    * then an equi-join back on the line key and a per-doc reassembly.
    * Three hash shuffles, no sort, no driver state; the winner table is
    * |distinct lines|, not |lines|. Empty lines are structure, not
    * content: always kept, never deduped.
    *
    * Output: (idCol, clean_text, n_kept, n_dropped), line order preserved;
    * a document whose every line loses comes back with clean_text = ''. */
  def dedupLinesKeepFirst(pages: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    val lines = pages
      .select(col(idCol).as("__id"),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
      .select(col("__id"), col("__pos"), col("__line"),
        trim(lower(col("__line"))).as("__norm"))
    val winners = lines.where(col("__norm") =!= "")
      .groupBy("__norm")
      .agg(min(struct(col("__id").as("wid"), col("__pos").as("wpos"))).as("__w"))
    val kept = lines
      .join(winners, Seq("__norm"), "left")
      .where(col("__norm") === "" ||
        (col("__w.wid") === col("__id") && col("__w.wpos") === col("__pos")))
      .groupBy("__id")
      .agg(array_sort(collect_list(struct(col("__pos"), col("__line")))).as("__k"))
      .select(col("__id"),
        array_join(transform(col("__k"), x => x.getField("__line")), "\n")
          .as("clean_text"),
        size(col("__k")).cast("long").as("n_kept"))
    pages
      .select(col(idCol).as("__id"),
        size(split(col(textCol), "\n")).cast("long").as("__total"))
      .join(kept, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__total") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Unigram language-model surprisal per document — the KenLM-quality-
    * filter step of a training pipeline, in an engine-portable integer
    * form. The corpus unigram model is add-one smoothed; each token's
    * surprisal is taken in WHOLE BITS:
    *
    *   bits(t) = floor(log2((N + V) / (c(t) + 1)))
    *           = length(bin((N + V) div (c(t) + 1))) - 1
    *
    * — integer division + binary-digit count, so Spark and any oracle
    * engine agree bit-for-bit (a floating ln() is not correctly rounded
    * and WOULD diverge across engines; this is within 1 bit of -log2 p,
    * which is plenty for a keep/drop quality gate). Per-doc totals are
    * integer sums (order-independent); the single closing division to
    * bits/token is one exact IEEE op.
    *
    * Scale shape: the vocabulary is capped at the `maxVocab` most frequent
    * terms (rank-limit idiom); everything rarer scores as an unseen token
    * (c = 0). The capped vocab broadcasts; the token stream joins it
    * map-side and aggregates per doc with map-side combine — documents
    * never shuffle, only (id, partial-sum) pairs. */
  def unigramSurprisal(docs: DataFrame, idCol: String, textCol: String,
                       maxVocab: Int = 100000): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(TextFns.tokens(lower(col(textCol)))).as("__t"))
    val counts = toks.groupBy("__t").agg(count(lit(1)).as("__c"))
    val vocab = counts
      .withColumn("__r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("__c").desc, col("__t"))))
      .where(col("__r") <= maxVocab).drop("__r")
    // N and V are model constants: FULL corpus totals (not vocab-capped),
    // so the smoothing denominator doesn't move when maxVocab changes
    val totals = counts.agg(
      sum("__c").cast("long").as("__n"), count(lit(1)).cast("long").as("__v"))
    val bits = length(bin(
      floor((col("__n") + col("__v")) / (coalesce(col("__c"), lit(0L)) + lit(1)))
        .cast("long"))) - lit(1)
    toks
      .join(broadcast(vocab), Seq("__t"), "left")
      .crossJoin(broadcast(totals))
      .select(col(idCol), bits.cast("long").as("__bits"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), sum("__bits").as("surprisal_bits"))
      .select(col(idCol), col("n_tokens"), col("surprisal_bits"),
        (col("surprisal_bits").cast("double") / col("n_tokens")).as("bits_per_token"))
  }

  /** fastText-style linear quality classifier over hashed token features —
    * the model-based keep/drop filter of a curation pipeline, reduced to
    * its engine-portable core. Each token hashes to a feature id in
    * [0, dim) (first-8-md5-hex-chars bucket — the repo's portable hash);
    * the classifier weight for feature f is the fixed integer
    *
    *   w(f) = (f · 2654435761) mod 20001 − 10000   ∈ [−10000, 10000]
    *
    * (a Knuth-multiplicative pseudo-weight standing in for trained
    * weights, so the oracle can replay scoring exactly; swap `weightOf`
    * for a broadcast weight-table join when a real model ships). The doc
    * score is the integer sum of token weights — order-independent, so
    * hash-stable — and the decision is score > threshold.
    *
    * Scale shape: ONE per-row array-aggregate expression, zero shuffle,
    * zero model table — the whole classifier lives inside the scan's
    * projection (the reason fastText-style filters are the ones that
    * actually run at 100 TB). */
  def hashedLinearScore(docs: DataFrame, idCol: String, textCol: String,
                        dim: Int = 4096, thresholdQ: Long = 0L): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    def weightOf(t: Column): Column =
      (Sampling.hashBucket(t, dim) * lit(2654435761L)) % 20001 - 10000
    val toksCol = TextFns.tokens(lower(col(textCol)))
    docs
      .select(col(idCol), toksCol.as("__ws"))
      .select(col(idCol),
        size(col("__ws")).cast("long").as("n_tokens"),
        aggregate(col("__ws"), lit(0L), (acc, t) => acc + weightOf(t))
          .as("score_q"))
      .select(col(idCol), col("n_tokens"), col("score_q"),
        when(col("score_q") > thresholdQ, lit("keep")).otherwise(lit("drop"))
          .as("decision"))
  }

  /** URL canonicalization + host-level policy: every crawl row gets its
    * canonical URL ([[TextFns.canonicalUrl]] — dedup keys and host stats
    * must run on the canonical form or one page counts as many) and a
    * keep/block decision against a host blocklist. The blocklist is a
    * literal array (policy lists are small and ship with the job); the
    * whole operator is scan-side expressions — zero shuffle, zero join.
    * Output: (idCol, canon_url, host, decision). */
  def urlPolicyFilter(df: DataFrame, idCol: String, urlCol: String,
                      blockedHosts: Seq[String]): DataFrame = {
    val blocked =
      if (blockedHosts.isEmpty) array().cast("array<string>")
      else array(blockedHosts.map(lit): _*)
    df.select(col(idCol),
        TextFns.canonicalUrl(col(urlCol)).as("canon_url"),
        TextFns.urlHost(col(urlCol)).as("host"))
      .select(col(idCol), col("canon_url"), col("host"),
        when(array_contains(blocked, col("host")), lit("block"))
          .otherwise(lit("keep")).as("decision"))
  }

  /** k-anonymity screen over quasi-identifier columns — the privacy pass
    * a dataset takes before release/training when PII *redaction* (see
    * redactPii) isn't enough: a row whose (quasi-identifier) combination
    * is shared by fewer than k rows re-identifies its subject even with
    * direct identifiers gone, so those rows are marked for suppression.
    *
    * Shape: one hash aggregate over the quasi columns (map-side combine
    * absorbs the fact side) + an equi-join of the counts back — a
    * |groups|-row dim against the fact scan, broadcast when small,
    * plain hash join when the quasi space itself is huge. No window, so
    * no per-group sort and no skew funnel on a dominant combination.
    * Output: input columns + group_n + action ('keep' | 'suppress'). */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 1, s"k must be >= 1, got $k")
    val counts = df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__group_n"))
    df.join(counts, quasiCols)
      .withColumn("action",
        when(col("__group_n") < k, lit("suppress")).otherwise(lit("keep")))
      .withColumnRenamed("__group_n", "group_n")
  }

  /** Deterministic column tokenization — the PII treatment between
    * redaction (destroys the value) and leaving it raw: each value maps
    * to `sha2(pepper ‖ value)`, so the same input always yields the same
    * token (joins, group-bys, and frequency analysis still work across
    * tables tokenized with the same pepper) while the raw value never
    * leaves the scan. Nulls stay null. The pepper is the secret: without
    * it a dictionary attack on low-entropy columns (names, phones) is
    * trivial — rotate it and every token rotates. Pure scan-side
    * projection, no shuffle. */
  def tokenizeColumns(df: DataFrame, cols: Seq[String],
                      pepper: String): DataFrame = {
    require(cols.nonEmpty, "need at least one column to tokenize")
    cols.foldLeft(df) { (acc, c) =>
      acc.withColumn(c,
        when(col(c).isNull, lit(null).cast("string"))
          .otherwise(sha2(concat(lit(pepper), col(c).cast("string")), 256)))
    }
  }

  /** 60-bit domain and round keys of the [[fpeEncrypt]] Feistel network.
    * Keys are schedule constants (base key + i·2654435761, masked to 30
    * bits) inlined as literals so the SQL replay is textual. */
  private[operators] val FpeMask = (1L << 30) - 1
  private[operators] val FpeKeys =
    Seq(630408902L, 63619191L, 570571304L, 3781593L)

  private def fpeRoundF(r: Column, k: Long): Column =
    ((r * lit(40503L) + lit(k)).bitwiseAND(lit(FpeMask)))
      .bitwiseXOR(shiftright(r, 15))

  /** Format-preserving pseudonymization — a 4-round Feistel permutation
    * of the 60-bit integer domain: every id maps to a unique pseudonym
    * THAT IS STILL AN ID of the same shape, and [[fpeDecrypt]] inverts
    * it exactly (Feistel networks are bijections for ANY round function
    * — decryption replays the rounds backwards). The treatment between
    * [[tokenizeColumns]] (one-way, string-typed) and raw: re-keyable,
    * reversible by the key holder, joinable across tables, and
    * numeric-typed so downstream schemas never change.
    *
    * Every operation is 30-bit multiply/add/mask/xor/shift on BIGINTs —
    * no overflow on any engine (products stay under 2^47), so an SQL
    * replay is bit-exact. Pure scan-side projection; whole-stage
    * codegen keeps it free at 100 TB. NOT cryptographically hardened
    * (4 rounds, public mixing) — the threat model is accidental
    * re-identification in analytics surfaces, not an adversary with
    * the key schedule; swap the round keys to rotate the mapping. */
  def fpeEncrypt(c: Column): Column = {
    var l = shiftright(c, 30).bitwiseAND(lit(FpeMask))
    var r = c.bitwiseAND(lit(FpeMask))
    for (k <- FpeKeys) {
      val nl = r
      val nr = l.bitwiseXOR(fpeRoundF(r, k))
      l = nl; r = nr
    }
    shiftleft(l, 30) + r
  }

  /** Inverse of [[fpeEncrypt]]: the same rounds, backwards. */
  def fpeDecrypt(c: Column): Column = {
    var l = shiftright(c, 30).bitwiseAND(lit(FpeMask))
    var r = c.bitwiseAND(lit(FpeMask))
    for (k <- FpeKeys.reverse) {
      val nr = l
      val nl = r.bitwiseXOR(fpeRoundF(l, k))
      l = nl; r = nr
    }
    shiftleft(l, 30) + r
  }

  /** Replace `idCols` with their Feistel pseudonyms, failing loudly on
    * a value outside [0, 2^60) — out-of-domain bits would silently
    * collide instead of permuting. */
  def pseudonymizeIds(df: DataFrame, idCols: Seq[String]): DataFrame = {
    require(idCols.nonEmpty, "need at least one id column")
    idCols.foldLeft(df) { (acc, c) =>
      acc.withColumn(c,
        when(col(c).isNull, lit(null).cast("long"))
          .when(col(c) < 0 || col(c) >= lit(1L << 60),
            expr(s"raise_error(concat('fpe domain is [0, 2^60): ', $c))").cast("long"))
          .otherwise(fpeEncrypt(col(c).cast("long"))))
    }
  }

  /** l-diversity screen — [[kAnonymity]]'s stronger sibling: a
    * quasi-identifier group can satisfy k-anonymity yet still leak the
    * SENSITIVE attribute if everyone in the group shares one value
    * (the homogeneity attack). A group is l-diverse when its sensitive
    * column takes at least `l` distinct values; rows in under-diverse
    * groups are marked for suppression.
    *
    * Same scale shape as kAnonymity — one hash aggregate (count +
    * distinct-count per quasi group) joined back to the fact scan; the
    * distinct-count is exact per group (groups are the release unit, so
    * their cardinality is the quantity being certified — a sketch would
    * certify the wrong thing). */
  def lDiversity(df: DataFrame, quasiCols: Seq[String],
                 sensitiveCol: String, l: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(l >= 1, s"l must be >= 1, got $l")
    val stats = df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__group_n"),
        countDistinct(col(sensitiveCol)).as("__n_sensitive"))
    df.join(stats, quasiCols)
      .withColumn("action",
        when(col("__n_sensitive") < l, lit("suppress")).otherwise(lit("keep")))
      .withColumnRenamed("__group_n", "group_n")
      .withColumnRenamed("__n_sensitive", "n_sensitive")
  }

  /** Corpus-level heavy-hitter tokens: every token with frequency
    * > 1/thetaDen of all tokens, EXACTLY — via the two-pass
    * candidates-then-verify shape. Pass 1 runs the
    * [[graft.functions.MisraGriesAggregator]] sketch (shuffles `capacity`
    * entries per partition, never the vocabulary); its survivors are a
    * guaranteed superset of the θ-heavy items when
    * capacity + 1 ≥ thetaDen (enforced). Pass 2 exact-counts only the
    * ≤ capacity candidates (scan + tiny groupBy) and applies the
    * threshold as an integer compare (cnt·thetaDen > n — no float
    * boundary). The candidate set is driver-collected by construction
    * (bounded by `capacity`, like the cluster-count boundary in
    * nearDupClusters). Output: (term, cnt, frac), frac = one exact IEEE
    * division. */
  def heavyHitterTokens(docs: DataFrame, textCol: String,
                        thetaDen: Int, capacity: Int): DataFrame = {
    require(capacity + 1 >= thetaDen,
      s"superset guarantee needs capacity+1 >= thetaDen, got ($capacity, $thetaDen)")
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(
      explode(TextFns.tokens(lower(col(textCol)))).as("term"))
    val mg = new graft.functions.MisraGriesAggregator(capacity)
    val candidates = toks.as[String].select(mg.toColumn).head().keys.toSeq
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "term string, cnt bigint, frac double"))
    if (candidates.isEmpty) empty
    else {
      val total = toks.agg(count(lit(1)).as("__n"))
      toks.filter(col("term").isin(candidates: _*))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(total))
        .filter(col("cnt") * thetaDen > col("__n"))
        .select(col("term"), col("cnt"),
          (col("cnt").cast("double") / col("__n")).as("frac"))
    }
  }

  /** Top-k bigram collocations by pointwise mutual information —
    * PMI(x,y) = log(p(xy) / (p(x)·p(y))), the classic multiword-
    * expression detector a corpus pipeline runs to find phrases worth
    * treating as vocabulary units (tokenizer merges, stopphrase lists).
    * Emitted as the quantized MONOTONE transform
    * `pmi_q = floor(cxy·Nu² / (Nb·cx·cy) · 10⁶)` (the exp of PMI) — the
    * same IEEE doubles in the same operation order on any engine, so the
    * ranking and the scores replay exactly (the tfidfTopTerms idiom);
    * a log would add a transcendental no two libms agree on.
    *
    * Scale shape: bigram extraction is scan-side (one whitespace split,
    * one indexed transform per doc — no shuffle, no self-join); unigram
    * and bigram counts map-side combine; the count joins are hash
    * equi-joins on the term (vocabulary-sized, not corpus-sized); the
    * two corpus totals ride a broadcast. `minCount` prunes the hapax
    * tail BEFORE the joins — PMI is degenerate on count-1 pairs and
    * they dominate the bigram type count. */
  def pmiCollocations(docs: DataFrame, textCol: String,
                      minCount: Long, k: Int): DataFrame = {
    require(minCount >= 1 && k >= 1, s"bad parameters ($minCount, $k)")
    val toks = docs.select(
      graft.functions.TextFns.tokens(lower(col(textCol))).as("t"))
    val uni = toks.select(explode(col("t")).as("w"))
    val uc = uni.groupBy("w").agg(count(lit(1)).as("c"))
    val bi = toks.select(explode(expr(
        "transform(slice(t, 1, greatest(size(t) - 1, 0)), " +
          "(w, i) -> struct(w AS x, t[i + 1] AS y))")).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
    val tot = uni.agg(count(lit(1)).as("nu"))
      .crossJoin(bi.agg(count(lit(1)).as("nb")))
    bi.groupBy("x", "y").agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= minCount)
      .join(uc.select(col("w").as("x"), col("c").as("cx")), "x")
      .join(uc.select(col("w").as("y"), col("c").as("cy")), "y")
      .crossJoin(broadcast(tot))
      .select(col("x"), col("y"), col("cxy"),
        floor(col("cxy").cast("double") * col("nu") * col("nu") /
          (col("nb").cast("double") * col("cx") * col("cy")) *
          lit(1000000.0)).cast("long").as("pmi_q"))
      .orderBy(desc("pmi_q"), col("x"), col("y"))
      .limit(k)
  }
}
