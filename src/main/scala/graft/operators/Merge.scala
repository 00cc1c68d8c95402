package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Trace
import graft.sources.TxnTable

/** Keyed MERGE (upsert) into a [[graft.sources.TxnTable]] — the Delta
  * `MERGE INTO` essentials (engine-added; the reference's closest shape is
  * pandas `to_sql(if_exists='replace')`, a full-table swap —
  * reference pipeline.py:1068-1144): matched target rows take the source
  * row, unmatched source rows insert, everything else is untouched.
  *
  * The 100 TB shape is FILE-LEVEL rewrite pruning: a merge of a small
  * changeset into a huge table must not rewrite the table. Phase 1 finds
  * the files that actually CONTAIN a matched key (one semi-join of the
  * target scan against the broadcast source keys, grouped by
  * `input_file_name()` — |files| rows back to the driver, a model fetch,
  * never data). Phase 2 rewrites ONLY those files (anti-join out the
  * matched keys, union the source) and commits via
  * [[TxnTable.commitRewrite]], which removes exactly the affected files.
  * Untouched files stay byte-identical — no data movement, full time
  * travel, and snapshot isolation for concurrent readers.
  */
object Merge {

  final case class MergeResult(version: Int, filesRewritten: Int)

  /** Upsert `source` into `table` on equality of `keys`.
    *
    * Requires `source` keys be unique (multiple source rows matching one
    * target row is the ambiguous-merge error Delta throws too) and its
    * schema to cover the table's columns by name. `source` is broadcast
    * for the probe — merges are small-changeset by design; a giant
    * source should go through overwrite instead.
    *
    * `evolveSchema = true` lets the source carry NEW columns (Delta's
    * merge-with-autoMerge): rewritten survivors null-extend; files the
    * merge never touched keep their old footer, so subsequent snapshots
    * read with `TxnTable.read(mergeSchema = true)` — schema evolution
    * without rewriting history, same contract as q_src_txn_evolution. */
  def upsert(spark: SparkSession, table: String, source: DataFrame,
             keys: Seq[String],
             expectedVersion: Option[Int] = None,
             evolveSchema: Boolean = false): MergeResult = Trace.span("sources.merge") {
    require(keys.nonEmpty, "merge needs at least one key column")
    val src = source.cache()
    // ONE driver-side key pass for everything that needs the keys: the
    // source keys must fit in memory by contract (both phases broadcast
    // them), so collect them once — the validation counts, the phase-1
    // probe and the phase-2 anti-join all reuse the collected set,
    // instead of paying a separate aggregation job plus TWO independent
    // distinct+broadcast-build job chains over the source.
    val keyFrame = src.select(keys.map(col): _*)
    val keyRows = keyFrame.collect()
    val nSrc = keyRows.length.toLong
    // distinctness exactly as Spark's aggregation sees it: NaN == NaN,
    // -0.0 == 0.0, binary/nested values compare by value. Floating keys
    // become canonical BIT PATTERNS (doubleToLongBits collapses every
    // NaN to one pattern) because Scala's collection equality compares
    // boxed numbers numerically (NaN != NaN would under-dedup); -0.0 is
    // normalized first since its bits differ from 0.0's. A key column's
    // type is fixed, so bits-vs-long can never collide across rows.
    def norm(v: Any): Any = v match {
      case d: java.lang.Double =>
        val x = d.doubleValue()
        java.lang.Double.doubleToLongBits(if (x == 0.0d) 0.0d else x)
      case f: java.lang.Float =>
        val x = f.floatValue()
        java.lang.Float.floatToIntBits(if (x == 0.0f) 0.0f else x)
      case b: Array[Byte] => b.toIndexedSeq
      case r: org.apache.spark.sql.Row =>
        r.toSeq.map(norm).toIndexedSeq
      case s: scala.collection.Seq[_] => s.map(norm).toIndexedSeq
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, v2) => (norm(k), norm(v2)) }.toMap
      case x => x
    }
    val distinctRows = new java.util.LinkedHashMap[IndexedSeq[Any],
      org.apache.spark.sql.Row]
    keyRows.foreach { r =>
      distinctRows.putIfAbsent(
        IndexedSeq.tabulate(r.length)(i => norm(r.get(i))), r)
    }
    val nSrcKeys = distinctRows.size.toLong
    require(nSrc == nSrcKeys,
      s"ambiguous merge: $nSrc source rows but $nSrcKeys distinct keys — " +
        "a target row would match more than one source row")

    TxnTable.requireNoDv(table, "MERGE")
    val target = TxnTable.read(spark, table, mergeSchema = evolveSchema)
    if (evolveSchema)
      require(target.columns.toSet.subsetOf(src.columns.toSet),
        s"evolveSchema source must cover every table column; missing " +
          target.columns.toSet.diff(src.columns.toSet).mkString(","))
    else
      require(target.columns.sorted.sameElements(src.columns.sorted),
        s"merge schema mismatch: table has ${target.columns.sorted.mkString(",")} " +
          s"vs source ${src.columns.sorted.mkString(",")}")
    // LocalRelation of the distinct keys: broadcasting it builds from
    // driver-local rows — no distinct exchange, no broadcast-build job,
    // and the one relation serves both phases
    val srcKeys = spark.createDataFrame(
      java.util.Arrays.asList(distinctRows.values.toArray(
        Array.empty[org.apache.spark.sql.Row]): _*),
      keyFrame.schema)

    // phase 1 — which live files hold a matched key? |files| rows max.
    val affectedAbs = target
      .withColumn("__file", input_file_name())
      .join(broadcast(srcKeys), keys, "left_semi")
      .select("__file").distinct()
      .collect().map(_.getString(0))

    val tableAbs = new java.io.File(table).getAbsolutePath
    def toRel(uri: String): String = {
      val p = if (uri.startsWith("file:"))
        new java.io.File(new java.net.URI(uri)).getAbsolutePath
      else uri
      require(p.startsWith(tableAbs + "/"),
        s"matched file outside the table root: $p")
      p.stripPrefix(tableAbs + "/")
    }
    val removedRel = affectedAbs.map(toRel).toSeq.sorted

    // phase 2 — rewrite only the affected files; pure append when the
    // merge matched nothing (every source row is an insert)
    val version =
      if (removedRel.isEmpty)
        TxnTable.commit(spark, src, table, overwrite = false,
          expectedVersion = expectedVersion)
      else {
        val survivors = graft.sources.SchemaCache
          .read(spark, affectedAbs.toIndexedSeq, mergeSchema = evolveSchema)
          .join(broadcast(srcKeys), keys, "left_anti")
        TxnTable.commitRewrite(spark,
          survivors.unionByName(src, allowMissingColumns = evolveSchema),
          table, removedRel, expectedVersion = expectedVersion)
      }
    src.unpersist()
    MergeResult(version, removedRel.size)
  }
}
