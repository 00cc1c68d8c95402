package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Keyword search over the documents corpus: BM25 scoring against a small
  * query-term set, engine-added (the training-data side of corpus
  * curation: "find every document about X" for audit, decontamination
  * review, and eval-set mining).
  *
  * Scale shape: the per-document term counting is ONE aggregate pass over
  * the token array (the langId lesson — a per-term `size(filter(...))`
  * forest re-tokenizes per term after projection collapse), emitting only
  * (doc, matched-term, tf) rows — the corpus is never exploded
  * token-by-token and never shuffled on a token key. Document frequencies
  * and corpus stats are |terms|-row and 1-row aggregates, broadcast back;
  * the heavy side stays a single scan + one final groupBy on doc_id over
  * rows that matched at least one term.
  *
  * Score arithmetic is oracle-exact by construction: rational idf
  * (N−df+0.5)/(df+0.5) — the BM25 idf without the ln, which IEEE basic
  * ops reproduce bit-identically in any engine, where libm's ln does not
  * — and k1/b defaults (1.25, 0.75) chosen exactly representable in
  * binary, so every intermediate is the same double in Spark and DuckDB.
  * Per-term scores are quantized to longs (floor·10⁶) BEFORE the per-doc
  * sum, so partition order can't flip low bits. The ranking is the
  * standard BM25 family (rational idf is a monotone transform of the ln
  * form per term; multi-term sums can reorder vs textbook BM25 — that
  * trade is documented, deterministic, and judged against its own oracle).
  */
object Search {

  /** Per-row counts in one aggregate pass: slot i ∈ [1, n] = occurrences
    * of terms(i−1) among the lowercased whitespace tokens, slot n+1 = the
    * document length in tokens. The token array is the aggregate input —
    * bound once per row regardless of |terms|. */
  def termCountsExpr(text: Column, terms: Seq[String]): Column = {
    val n = terms.size
    val termArr = array(terms.map(lit): _*)
    aggregate(
      TextFns.tokens(lower(text)),
      array(Seq.fill(n + 1)(lit(0L)): _*),
      (acc, t) => transform(sequence(lit(1), lit(n + 1)), i =>
        element_at(acc, i) +
          when(i === n + 1, lit(1L))
            .when(element_at(termArr, i) === t, lit(1L))
            .otherwise(lit(0L))))
  }

  /** Positional inverted index, persisted as parquet postings
    * (term, idCol, positions: array<int> sorted ascending): the classic
    * search-index shape, built once over the corpus like
    * [[graft.operators.Dedup.writeMinHashIndex]]'s near-dup tables.
    * One explode + one (term, doc) groupBy — map-side combine collapses
    * within-doc repeats before the shuffle. Postings are written sorted
    * by term so parquet row-group stats prune term-filtered scans. */
  private def postingsOf(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    docs.select(col(idCol),
        posexplode(TextFns.tokens(lower(col(textCol)))).as(Seq("pos", "term")))
      .groupBy(col("term"), col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
      .sortWithinPartitions("term")

  def writeInvertedIndex(docs: DataFrame, idCol: String, textCol: String,
                         dir: String): Unit =
    postingsOf(docs, idCol, textCol)
      .write.mode("overwrite").parquet(s"$dir/postings")

  /** Append a NEW-document batch's postings to a persisted index without
    * rebuilding — the daily-ingest half of the search-index lifecycle
    * (the sibling of [[graft.operators.Similarity.appendToIvfPqIndex]]
    * and `Dedup.writeMinHashIndex`'s incremental path). Posting rows are
    * keyed (term, doc): as long as batches carry documents the index has
    * not seen, appended rows never collide with existing ones and every
    * read-side join ([[phraseSearch]]) sees base ∪ batch unchanged.
    * Cost is O(|batch| tokens) — the indexed corpus is never re-read.
    * Re-indexing an existing doc_id is the caller's contract to avoid
    * (duplicate posting rows would fan out the read-side joins). */
  def appendToInvertedIndex(batch: DataFrame, idCol: String, textCol: String,
                            dir: String): Unit =
    postingsOf(batch, idCol, textCol)
      .write.mode("append").parquet(s"$dir/postings")

  /** Exact phrase match from the index — documents never re-scanned: each
    * phrase token reads its (term-filtered, scan-pruned) posting list,
    * lists meet on idCol, and an occurrence is a position p where token i
    * sits at p+i for all i — computed by intersecting the i-shifted
    * position arrays. |phrase|−1 equi-joins on idCol over posting rows of
    * just the phrase's terms; the corpus never shuffles. Output:
    * (idCol, n_matches > 0). */
  def phraseSearch(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                   idCol: String, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch needs at least one token")
    val idx = graft.sources.SchemaCache.readDir(spark, s"$indexDir/postings")
    val parts = phrase.zipWithIndex.map { case (t, i) =>
      idx.filter(col("term") === lit(t.toLowerCase))
        .select(col(idCol),
          (if (i == 0) col("positions")
           else transform(col("positions"), p => p - i)).as(s"__p$i"))
    }
    val joined = parts.reduceLeft((a, b) => a.join(b, idCol))
    val inter = (1 until phrase.size).foldLeft(col("__p0")) { (acc, i) =>
      array_intersect(acc, col(s"__p$i"))
    }
    joined.select(col(idCol), size(inter).cast("long").as("n_matches"))
      .filter(col("n_matches") > 0)
  }

  /** Per-document top-k characteristic terms by TF-IDF — the corpus
    * analyst's "what is this document about" op (keyword extraction,
    * cluster labeling, eval-set topic audits).
    *
    * Scale shape: explode to (doc, term) and count — map-side combine
    * absorbs the per-doc repetition before the one (doc, term) shuffle;
    * document frequencies reduce the same frame by term. The final
    * per-doc top-k is the rank-limit window idiom, so it plans as this
    * engine's TopKPerKeyExec (Spark's WindowGroupLimit with the rewrite
    * off) instead of sorting whole documents' vocabularies.
    * Scoring is rational idf (N+1)/(df+1) times tf, quantized to a long —
    * division-only IEEE arithmetic, so the DuckDB oracle reproduces it
    * bit-exactly (same trade as [[bm25TopK]], documented there). */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(TextFns.tokens(lower(col(textCol)))).as("term"))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("__tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("__df"))
    val nDocs = docs.agg(count(lit(1)).as("__n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(desc("score_q"), col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score_q",
        floor(col("__tf") * ((col("__n_docs") + lit(1.0)) / (col("__df") + lit(1.0)))
          * lit(1000000.0)).cast("long"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("score_q"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher's RRF): merge N
    * ranked candidate lists into one, score(d) = Σ_lists 1/(kRrf +
    * rank_d) — the standard hybrid-retrieval combiner (lexical BM25 +
    * semantic ANN in a RAG stack) because it needs NO score
    * calibration between lists, only ranks. Contributions are exact
    * integers — floor(10¹² / (kRrf + rank)) — so the fused ordering is
    * engine-independent and the oracle replays it. Inputs: (doc_id,
    * rank) frames, rank 1-based. Output: top `k` by (rrf_q DESC,
    * doc_id), with `n_lists` = how many lists surfaced the doc (the
    * agreement signal). Scale: each input is already a top-N — fused
    * traffic is N·lists rows, driver-free and broadcast-sized. */
  def rrfFuse(lists: Seq[DataFrame], k: Int, kRrf: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    lists.map(_.select(col("doc_id"),
        expr(s"CAST(1000000000000 div ($kRrf + rank) AS BIGINT)").as("__contrib")))
      .reduce(_ unionByName _)
      .groupBy("doc_id")
      .agg(sum(col("__contrib")).cast("long").as("rrf_q"),
        count(lit(1)).cast("long").as("n_lists"))
      .orderBy(desc("rrf_q"), col("doc_id"))
      .limit(k)
  }

  /** Top-k BM25: (idCol, score_q, n_terms) for the `topK` best-scoring
    * documents, score_q = Σ_matched-terms floor(idf·tf_norm·10⁶) as a
    * long, ties broken by id. k1/b must be exactly representable doubles
    * (0.25 granularity is plenty) — asserted, since oracle exactness
    * depends on it. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k1: Double = 1.25, b: Double = 0.75,
               topK: Int = 25): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one term")
    require(k1 * 4 == math.rint(k1 * 4) && b * 4 == math.rint(b * 4),
      s"k1/b must be multiples of 0.25 for cross-engine exactness, got ($k1, $b)")
    val n = terms.size
    val matches = docs
      .select(col(idCol), termCountsExpr(col(textCol), terms).as("__c"))
      .select(col(idCol),
        element_at(col("__c"), n + 1).as("__dl"),
        posexplode(slice(col("__c"), 1, n)).as(Seq("__tidx", "__tf")))
      .filter(col("__tf") > 0)
    // corpus stats: a 1-row map-side-combined aggregate over a count+sum
    // projection (second scan, but nothing wider than one long per row)
    val stats = docs.agg(
      count(lit(1)).as("__n_docs"),
      sum(TextFns.tokenCount(lower(col(textCol)))).cast("long").as("__sum_dl"))
    val dfreq = matches.groupBy("__tidx").agg(count(lit(1)).as("__df"))
    val scored = matches
      .join(broadcast(dfreq), "__tidx")
      .crossJoin(broadcast(stats))
      .withColumn("__avgdl", col("__sum_dl").cast("double") / col("__n_docs"))
      .withColumn("__idf",
        (col("__n_docs") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)))
      .withColumn("__tfn",
        (col("__tf") * lit(k1 + 1.0)) /
          (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl"))))
      .withColumn("__sq", floor(col("__idf") * col("__tfn") * lit(1000000.0)).cast("long"))
    scored.groupBy(idCol)
      .agg(sum(col("__sq")).cast("long").as("score_q"),
           count(lit(1)).cast("long").as("n_terms"))
      .orderBy(desc("score_q"), col(idCol))
      .limit(topK)
  }
}
