package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Similarity

/** Streaming enrichment against a persisted ANN index: new embedding
  * vectors arrive as a stream and leave tagged with their top-k nearest
  * corpus neighbours — the online half of the batch-built
  * [[Similarity.writeIvfPqIndex]] (tag-incoming-docs-for-dedup /
  * retrieval-candidates-at-ingest, the same deployment split as
  * `Dedup.writeMinHashIndex` + `incrementalNearDups`).
  *
  * Shape: file source → foreachBatch(ivfPqTopKIndexed(batch, index))
  * → append sink. The index is static across batches (daily rebuild in
  * production); each micro-batch probes nprobe lists and scores m codes
  * per candidate, so per-batch cost is O(|batch| · corpus/nClusters ·
  * rerank) — independent of how many batches came before, unlike any
  * stream-stream self-join formulation. Top-k per query vector is a
  * pure per-row enrichment, so batch boundaries cannot change results
  * (asserted by running the fixture as TWO micro-batches and oracling
  * against the one-shot batch answer).
  */
object AnnStreaming {

  /** Enrich the `vec_id < 10` query slice of `sfDir`'s embeddings with
    * their top-5 neighbours from the full-corpus IVFPQ index, as a
    * 2-micro-batch stream (maxFilesPerTrigger=1 over two staged files).
    * Output contract == `Similarity.ivfPqTopKIndexed` == `ivfPqTopK`:
    * (q_id, rank, n_id, sim). */
  def enrichTopK(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    val ss = EventsStreaming.streamSession(spark)
    val sfKey = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val idxDir = s"${sys.props("user.dir")}/target/ann_index_${sfKey}_c16i2m8k16"
    graft.DerivedCache.ensure(new java.io.File(idxDir),
        Seq(new java.io.File(s"$sfDir/embeddings.parquet")), "codes/_SUCCESS") {
      Similarity.writeIvfPqIndex(graft.Tables.embeddings(ss, sfDir), idxDir)
    }

    val base = s"${sys.props("user.dir")}/target/tmp/stream/ann_$sfKey"
    val (in, out, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    // two files → two micro-batches: proves per-batch enrichment, and
    // since top-k is per-row the union equals the one-shot answer
    val queries = graft.Tables.embeddings(ss, sfDir).filter(col("vec_id") < 10)
    queries.filter(col("vec_id") < 5)
      .coalesce(1).write.parquet(s"$in/batch_a")
    queries.filter(col("vec_id") >= 5)
      .coalesce(1).write.parquet(s"$in/batch_b")

    val schema = queries.schema
    val src = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(in)
    val q = src.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Similarity.ivfPqTopKIndexed(batch, idxDir, k)
          .write.mode("append").parquet(out)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.read.parquet(out)
  }

  /** FRESH streaming enrichment: each micro-batch is (1) enriched
    * against the index as of the PREVIOUS batch, then (2) folded into
    * the index via [[Similarity.appendToIvfPqIndex]] — so batch N+1's
    * lookups see batch N's vectors without a restart or rebuild (the r9
    * gap: [[enrichTopK]]'s index is static for the run). Enrich-then-
    * append inside one foreachBatch keeps the semantics exact and
    * deterministic: a batch never matches itself, and the enrichment is
    * materialized to the sink BEFORE the index mutates. The index is a
    * PER-RUN working copy (base trained on `baseFilter` rows only), so
    * the shared DerivedCache index other queries read stays immutable.
    * Model staleness is the standard IVF append trade — assignments use
    * the base-trained centroids/codebooks; a skew/appendFraction
    * threshold ([[Similarity.indexHealth]]) decides the rebuild, exactly
    * as in the batch lifecycle.
    *
    * Streams the `vec_id < 10` slice in two micro-batches (ids < 5,
    * then 5..9) against a base index of `vec_id >= 10` — batch 2's
    * queries CAN and do hit batch 1's vectors (spec-pinned). Output:
    * (q_id, rank, n_id, sim). `extraBatches` lets a spec append custom
    * fixture batches after the two slices. */
  def enrichTopKFresh(spark: SparkSession, sfDir: String, k: Int = 5,
                      extraBatches: Seq[DataFrame] = Nil): DataFrame = {
    val ss = EventsStreaming.streamSession(spark)
    val sfKey = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val base = s"${sys.props("user.dir")}/target/tmp/stream/annfresh_$sfKey"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val (idx, in, out, ckpt) =
      (s"$base/idx", s"$base/in", s"$base/out", s"$base/ckpt")
    val embs = graft.Tables.embeddings(ss, sfDir)
    Similarity.writeIvfPqIndex(embs.filter(col("vec_id") >= 10), idx)
    val queries = embs.filter(col("vec_id") < 10)
    // file mtimes order the micro-batches: a, b, then any extras. Local
    // FS mtimes are ms-granular, so two back-to-back writes can TIE and
    // FileStreamSource's tie order is unspecified — unlike enrichTopK
    // (static index, order-irrelevant) ordering here changes OUTPUT, so
    // pin strictly increasing mtimes explicitly.
    val stagedDirs =
      Seq(s"$in/batch_a", s"$in/batch_b") ++
        extraBatches.indices.map(i => s"$in/batch_x$i")
    queries.filter(col("vec_id") < 5)
      .coalesce(1).write.parquet(s"$in/batch_a")
    queries.filter(col("vec_id") >= 5)
      .coalesce(1).write.parquet(s"$in/batch_b")
    extraBatches.zipWithIndex.foreach { case (b, i) =>
      b.coalesce(1).write.parquet(s"$in/batch_x$i")
    }
    stagedDirs.zipWithIndex.foreach { case (dir, i) =>
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .foreach(f => f.setLastModified(1000000L * (i + 1)))
    }
    val src = ss.readStream.schema(queries.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(in)
    val q = src.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the batch feeds two jobs (enrich + append): pin it once.
        // RETRY idempotence (a micro-batch re-fires after a failure
        // between these side effects and the checkpoint commit): the
        // enrichment lands in a per-batch dir, and a COMPLETED one
        // (_SUCCESS present) is never recomputed — it always predates
        // the index append, so a retry that finds it cannot re-enrich
        // against an index already holding the batch's own vectors
        // (which would self-match at sim=1 and displace real
        // neighbours). The index append then dedupes by vec_id per
        // sub-table, so a torn append completes instead of
        // double-adding the batch's vectors.
        val pinned = batch.localCheckpoint(true)
        val bDir = new java.io.File(s"$out/b$batchId")
        if (!new java.io.File(bDir, "_SUCCESS").isFile) {
          org.apache.commons.io.FileUtils.deleteQuietly(bDir) // torn write
          Similarity.ivfPqTopKIndexed(pinned, idx, k)
            .write.parquet(bDir.getPath)
        }
        Similarity.appendToIvfPqIndex(pinned, idx, dedupe = true)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // localCheckpoint, not cache: CacheManager matches file scans by
    // root path (InMemoryFileIndex equality), so a cached read of this
    // per-run scratch path can serve STALE rows to a later run over
    // the same sfDir; a checkpoint pins the rows without entering the
    // plan cache at all
    spark.read.option("recursiveFileLookup", "true").parquet(out)
      .localCheckpoint(true)
  }
}
