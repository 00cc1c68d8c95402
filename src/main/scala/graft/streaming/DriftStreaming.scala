package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Profiling

/** Continuous distribution-drift monitoring: each arriving micro-batch is
  * scored against a STATIC reference corpus with
  * [[Profiling.histogramDrift]] — the streaming deployment of the batch
  * ingest gate ("does this batch still look like the corpus?"), the same
  * static-model-vs-stream split as [[AnnStreaming]] (reference stats are
  * the model; the stream only ever sees its own micro-batch).
  *
  * Per-batch cost is one scan of the batch + a bounded bucket join —
  * independent of stream history, no streaming state at all. Batches are
  * labeled by their content (the staged files are split by doc_id
  * parity, so `min(doc_id % 2)` identifies the slice), which makes the
  * output deterministic regardless of micro-batch arrival order — the
  * property the DuckDB oracle needs. */
object DriftStreaming {

  /** Drift of each of two parity-staged document micro-batches against
    * the full corpus (lang × n_chars, 64 reference bins). Output:
    * (batch_key, lang, n_ref, n_cur, tv_q, top_bucket, top_delta_q). */
  def batchDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = EventsStreaming.streamSession(spark)
    val sfKey = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val base = s"${sys.props("user.dir")}/target/tmp/stream/drift_$sfKey"
    val (in, out, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))

    val docs = graft.Tables.documents(ss, sfDir)
    // two files → two micro-batches, split by parity so each batch can
    // label itself from its own content
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$in/batch_a")
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write.parquet(s"$in/batch_b")

    val src = ss.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(in)
    val q = src.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val key = batch.agg(min(col("doc_id") % 2)).head().getLong(0)
          Profiling.histogramDrift(docs, batch, "lang", "n_chars", buckets = 64)
            .withColumn("batch_key", lit(key))
            .write.mode("append").parquet(out)
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.read.parquet(out)
      .select("batch_key", "lang", "n_ref", "n_cur", "tv_q",
        "top_bucket", "top_delta_q")
  }
}
