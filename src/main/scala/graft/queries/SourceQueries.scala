package graft.queries

import graft.{QueryDef, Tables}
import graft.QueryDef.sql
import graft.operators.{Incremental, Multimodal}
import graft.plans.AutoFilePrune
import graft.sources.{Sources, TxnTable}
import graft.streaming.{EventsStreaming, TwsStreaming}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink, catalog-SQL, streaming and multimodal queries
  * (SURVEY §2.1-§2.2, §2.11, §3.2). Round-trip queries write under
  * target/tmp (build scratch space) and read back with explicit schemas;
  * the oracle sees only the logical content, which must survive the trip
  * bit-for-bit.
  */
object SourceQueries {

  private def tmp(name: String): String = {
    val p = graft.Scratch.register(s"/root/repo/target/tmp/$name")
    new java.io.File(p).getParentFile.mkdirs()
    p
  }

  val all: Seq[QueryDef] = Seq(

    // ── K1 CSV sink + S8 CSV scan: S3-staging round trip (pipeline.py:312,
    //    :844). Integer/string columns — CSV is not a typed format.
    sql("q_src_csv_roundtrip",
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey") { (s, d) =>
      val path = tmp("csv_nation")
      Sources.writeCsv(Tables.nation(s, d), path)
      val schema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))
      Sources.readCsv(s, path, schema).orderBy("n_nationkey")
    },

    // ── K4 JSON sink + S9 JSON scan (dexters_scraper.ipynb:1661, :1671)
    sql("q_src_json_roundtrip",
      "SELECT p_partkey, p_name, p_brand, p_size FROM part ORDER BY p_partkey") { (s, d) =>
      val path = tmp("json_part")
      Sources.writeJson(Tables.part(s, d).select("p_partkey", "p_name", "p_brand", "p_size"), path)
      val schema = StructType(Seq(
        StructField("p_partkey", LongType),
        StructField("p_name", StringType),
        StructField("p_brand", StringType),
        StructField("p_size", IntegerType)))
      Sources.readJson(s, path, schema).orderBy("p_partkey")
    },

    // ── tolerant JSON ingest with in-band quarantine: one PERMISSIVE pass
    //    tags unparseable and partially-parseable lines with their raw
    //    text; golden oracle pins the exact split on the messy fixture
    //    (record 4 parses record_id/name but its value won't cast — it
    //    keeps the parseable fields AND lands in quarantine)
    sql("q_src_quarantine",
      """SELECT record_id, name, CAST(value AS DOUBLE) AS value, status, raw
        |FROM (VALUES
        |  (1, 'alpha', 10.5, 'ok', NULL),
        |  (2, 'beta', NULL, 'ok', NULL),
        |  (4, 'gamma', NULL, 'quarantined',
        |   '{"record_id": 4, "name": "gamma", "value": "not-a-number"}'),
        |  (5, 'delta', 7.0, 'ok', NULL),
        |  (6, NULL, 3.25, 'ok', NULL),
        |  (7, 'epsilon', -2.75, 'ok', NULL),
        |  (NULL, NULL, NULL, 'quarantined', '{record_id: 3, this line is not json'),
        |  (NULL, NULL, NULL, 'quarantined', 'complete garbage line')
        |) t(record_id, name, value, status, raw)
        |ORDER BY COALESCE(record_id, 999), COALESCE(raw, '')""".stripMargin) { (s, _) =>
      val schema = StructType(Seq(
        StructField("record_id", LongType),
        StructField("name", StringType),
        StructField("value", DoubleType)))
      Sources.readJsonQuarantined(s,
          "/root/repo/fixtures/messy_records.jsonl", schema)
        .select(col("record_id"), col("name"), col("value"),
          when(col("_corrupt_record").isNull, "ok")
            .otherwise("quarantined").as("status"),
          col("_corrupt_record").as("raw"))
        .orderBy(coalesce(col("record_id"), lit(999L)),
          coalesce(col("raw"), lit("")))
    },

    // ── streaming tolerant ingest: the quarantine split as a continuous
    //    pipeline — each micro-batch appends clean rows to the table and
    //    corrupt rows to the quarantine sink; same golden contract as the
    //    batch q_src_quarantine
    sql("q_stream_quarantine",
      """SELECT record_id, name, CAST(value AS DOUBLE) AS value, status, raw
        |FROM (VALUES
        |  (1, 'alpha', 10.5, 'ok', NULL),
        |  (2, 'beta', NULL, 'ok', NULL),
        |  (4, 'gamma', NULL, 'quarantined',
        |   '{"record_id": 4, "name": "gamma", "value": "not-a-number"}'),
        |  (5, 'delta', 7.0, 'ok', NULL),
        |  (6, NULL, 3.25, 'ok', NULL),
        |  (7, 'epsilon', -2.75, 'ok', NULL),
        |  (NULL, NULL, NULL, 'quarantined', '{record_id: 3, this line is not json'),
        |  (NULL, NULL, NULL, 'quarantined', 'complete garbage line')
        |) t(record_id, name, value, status, raw)
        |ORDER BY COALESCE(record_id, 999), COALESCE(raw, '')""".stripMargin) { (s, _) =>
      val schema = StructType(Seq(
        StructField("record_id", LongType),
        StructField("name", StringType),
        StructField("value", DoubleType)))
      EventsStreaming.quarantinedIngest(s,
          "/root/repo/fixtures/messy_records.jsonl", schema)
        .select(col("record_id"), col("name"), col("value"), col("status"), col("raw"))
        .orderBy(coalesce(col("record_id"), lit(999L)),
          coalesce(col("raw"), lit("")))
    },

    // ── small-file compaction: a 64-fragment write compacted to a
    //    handful of files with a shuffle-free coalesce rewrite + the
    //    crash-safe swap; rows/schema byte-identical to the source table
    sql("q_src_compact",
      """SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val path = tmp("compact_documents")
      Tables.documents(s, d).select("doc_id", "lang", "source", "n_chars")
        .repartition(64)
        .write.mode("overwrite").parquet(path)
      graft.operators.Layout.compact(s, path, targetBytes = 512L * 1024)
      s.read.parquet(path)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    // ── transaction-log table (TxnTable): four commits — append, append,
    //    OVERWRITE, append — then a time-travel read of v2 (pre-overwrite
    //    state, keys %5∈{0,1}) next to the latest snapshot (%5∈{2,3}).
    //    The overwrite only marks files removed in the log, so v2's bytes
    //    are still there to read; the oracle derives both snapshots from
    //    the source table.
    sql("q_src_timetravel",
      """SELECT 'v2' AS snap, o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 5 IN (0, 1)
        |UNION ALL
        |SELECT 'latest', o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 5 IN (2, 3)
        |ORDER BY snap, o_orderkey""".stripMargin) { (s, d) =>
      val table = tmp("txn_orders")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val slice = (m: Int) => Tables.orders(s, d)
        .filter(col("o_orderkey") % 5 === m).select("o_orderkey", "o_totalprice")
      TxnTable.commit(s, slice(0), table, overwrite = false) // v1
      TxnTable.commit(s, slice(1), table, overwrite = false) // v2
      TxnTable.commit(s, slice(2), table, overwrite = true)  // v3 replaces all
      TxnTable.commit(s, slice(3), table, overwrite = false) // v4
      TxnTable.read(s, table, asOf = Some(2)).withColumn("snap", lit("v2"))
        .unionByName(TxnTable.read(s, table).withColumn("snap", lit("latest")))
        .select("snap", "o_orderkey", "o_totalprice")
        .orderBy("snap", "o_orderkey")
    },

    // ── vacuum lifecycle (TxnTable.vacuum + checkpoint): three commits
    //    (overwrite, overwrite, append — each coalesce(1), so file
    //    counts are pinned), a log CHECKPOINT, then vacuum(retainFrom=2)
    //    physically deletes exactly v1's one overwritten file. The
    //    output pins the deleted count, the latest snapshot, AND that
    //    v2 still time-travels through the checkpointed log — the
    //    "trade history-before-N for space, keep everything after"
    //    contract as one hash-gated row.
    sql("q_src_vacuum",
      """SELECT CAST(1 AS BIGINT) AS files_deleted,
        |       (SELECT COUNT(*) FROM events WHERE event_id % 3 <> 0) AS n_latest,
        |       (SELECT COUNT(*) FROM events WHERE event_id % 3 = 1) AS n_v2""".stripMargin) { (s, d) =>
      import s.implicits._
      val table = tmp("txn_vacuum")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val slice = (m: Int) => Tables.events(s, d)
        .filter(col("event_id") % 3 === m)
        .select("event_id", "event_type").coalesce(1)
      TxnTable.commit(s, slice(0), table, overwrite = true)  // v1
      TxnTable.commit(s, slice(1), table, overwrite = true)  // v2 replaces v1
      TxnTable.commit(s, slice(2), table, overwrite = false) // v3 appends
      TxnTable.checkpoint(table) // checkpoint at v3; reads replay from it
      val deleted = TxnTable.vacuum(table, retainFrom = 2)
      val nLatest = TxnTable.read(s, table).count()
      val nV2 = TxnTable.read(s, table, asOf = Some(2)).count()
      Seq((deleted.toLong, nLatest, nV2))
        .toDF("files_deleted", "n_latest", "n_v2")
    },

    // ── log-driven incremental aggregation (TxnTable.addedFiles ×
    //    Incremental.mergeAdditive): the downstream job processed the
    //    table through v2 and refreshes by aggregating ONLY the files v3
    //    added — O(delta), never re-reading history; the merge is the
    //    additive-monoid combine. addedFiles refuses ranges containing
    //    removals (an overwrite would invalidate processed rows), so the
    //    fallback to full recompute is forced, never silent.
    sql("q_src_txn_incremental",
      """SELECT event_type, COUNT(*) AS cnt,
        |       CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS sum_q
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val table = tmp("txn_incr")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val slice = (m: Int) => Tables.events(s, d)
        .filter(col("event_id") % 3 === m)
        .select("event_id", "event_type", "value")
      def aggOf(df: org.apache.spark.sql.DataFrame) = df
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          sum(floor(col("value") * 1000).cast("long")).as("sum_q"))
      TxnTable.commit(s, slice(0), table, overwrite = false) // v1
      TxnTable.commit(s, slice(1), table, overwrite = false) // v2
      val baseAgg = aggOf(TxnTable.read(s, table, asOf = Some(2)))
      TxnTable.commit(s, slice(2), table, overwrite = false) // v3 lands later
      val delta = s.read.parquet(
        TxnTable.addedFiles(table, fromExclusive = 2, toInclusive = 3)
          .map(f => new java.io.File(table, f).getPath): _*)
      graft.operators.Incremental
        .mergeAdditive(baseAgg, aggOf(delta), keys = Seq("event_type"))
        .orderBy("event_type")
    },

    // ── schema evolution inside the txn table (TxnTable.read mergeSchema):
    //    v2 appends a column v1 never had; the merged read reconciles the
    //    per-commit footers by name and v1's rows null-extend — add a
    //    column without rewriting committed history.
    sql("q_src_txn_evolution",
      """SELECT o_orderkey, o_totalprice,
        |       CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val table = tmp("txn_evolution")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val orders = Tables.orders(s, d)
      TxnTable.commit(s,
        orders.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_totalprice"),
        table, overwrite = false) // v1: two columns
      TxnTable.commit(s,
        orders.filter(col("o_orderkey") % 2 === 1)
          .select("o_orderkey", "o_totalprice", "o_orderpriority"),
        table, overwrite = false) // v2: adds a column
      TxnTable.read(s, table, mergeSchema = true)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    },

    // ── schema-evolving MERGE (Merge.upsert evolveSchema): the source
    //    brings a column the table never had; rewritten survivors and
    //    untouched history null-extend through the mergeSchema read —
    //    Delta's autoMerge, composed with the file-pruned rewrite.
    sql("q_src_merge_evolve",
      """SELECT c_custkey,
        |       CASE WHEN c_custkey % 4 IN (1, 3) THEN c_nationkey + 100
        |            ELSE c_nationkey END AS val,
        |       CASE WHEN c_custkey % 4 IN (1, 3) THEN c_custkey % 9 END AS score
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val table = tmp("txn_merge_evolve")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey").as("val"))
      TxnTable.commit(s,
        cust.filter((col("c_custkey") % 4).isin(0, 1, 2)).repartition(4),
        table, overwrite = false)
      graft.operators.Merge.upsert(s, table,
        Tables.customer(s, d).filter((col("c_custkey") % 4).isin(1, 3))
          .select(col("c_custkey"), (col("c_nationkey") + 100).as("val"),
            (col("c_custkey") % 9).as("score")),
        Seq("c_custkey"), evolveSchema = true)
      TxnTable.read(s, table, mergeSchema = true)
        .select("c_custkey", "val", "score")
        .orderBy("c_custkey")
    },

    // ── zero-copy RESTORE (TxnTable.restore): ingest → bad overwrite →
    //    rollback as a NEW commit that just re-references the good
    //    files. The output reads the restored head next to the
    //    still-travelable bad version — history is append-only even
    //    through a rollback.
    sql("q_src_restore",
      """SELECT 'restored' AS snap, COUNT(*) AS cnt,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |UNION ALL
        |SELECT 'bad', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
        |FROM orders WHERE o_orderkey % 3 = 2
        |ORDER BY snap""".stripMargin) { (s, d) =>
      val table = tmp("txn_restore")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val ord = Tables.orders(s, d).select("o_orderkey")
      TxnTable.commit(s, ord.filter(col("o_orderkey") % 3 === 0),
        table, overwrite = false)                           // v1
      TxnTable.commit(s, ord.filter(col("o_orderkey") % 3 === 1),
        table, overwrite = false)                           // v2: good head
      TxnTable.commit(s, ord.filter(col("o_orderkey") % 3 === 2),
        table, overwrite = true)                            // v3: bad load
      TxnTable.restore(s, table, toVersion = 2)             // v4
      def agg(df: org.apache.spark.sql.DataFrame, snap: String) =
        df.agg(count(lit(1)).as("cnt"), sum("o_orderkey").as("key_sum"))
          .select(lit(snap).as("snap"), col("cnt"), col("key_sum"))
      agg(TxnTable.read(s, table), "restored")
        .unionByName(agg(TxnTable.read(s, table, asOf = Some(3)), "bad"))
        .orderBy("snap")
    },

    // ── zero-copy SHALLOW CLONE (TxnTable.cloneShallow): the snapshot
    //    hard-links into a new table (no data copied — inode identity is
    //    spec-proven), then BOTH sides diverge: the source gains a third
    //    of the rows, the clone deletes its odd keys. Three snapshots out
    //    of two independent histories — the clone's genesis v1 must still
    //    equal the pre-divergence source.
    sql("q_src_clone",
      """SELECT 'clone' AS snap, COUNT(*) AS cnt,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 2 = 0
        |UNION ALL
        |SELECT 'clone_genesis', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |UNION ALL
        |SELECT 'src', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
        |FROM orders
        |ORDER BY snap""".stripMargin) { (s, d) =>
      val src = tmp("txn_clone_src")
      val dst = tmp("txn_clone_dst")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dst))
      val ord = Tables.orders(s, d).select("o_orderkey")
      TxnTable.commit(s, ord.filter(col("o_orderkey") % 3 === 0),
        src, overwrite = false)                               // src v1
      TxnTable.commit(s, ord.filter(col("o_orderkey") % 3 === 1),
        src, overwrite = false)                               // src v2
      TxnTable.cloneShallow(src, dst)                         // dst v1
      TxnTable.commit(s, ord.filter(col("o_orderkey") % 3 === 2),
        src, overwrite = false)                               // src diverges
      TxnTable.deleteWhere(s, dst, col("o_orderkey") % 2 === 1) // dst diverges
      def agg(df: org.apache.spark.sql.DataFrame, snap: String) =
        df.agg(count(lit(1)).as("cnt"), sum("o_orderkey").as("key_sum"))
          .select(lit(snap).as("snap"), col("cnt"),
            col("key_sum").cast("long").as("key_sum"))
      agg(TxnTable.read(s, dst), "clone")
        .unionByName(agg(TxnTable.read(s, dst, asOf = Some(1)), "clone_genesis"))
        .unionByName(agg(TxnTable.read(s, src), "src"))
        .orderBy("snap")
    },

    // ── zero-copy CATALOG CLONE (TxnCatalog.cloneCatalog): the whole
    //    warehouse — tables, logs, txn entries — hard-links into a dev
    //    sandbox with version numbers intact; the sandbox overwrites a
    //    table, prod keeps loading, and neither sees the other. The
    //    sandbox's PRE-CLONE time travel must still resolve (full
    //    metadata fidelity, not a snapshot collapse).
    sql("q_src_catalog_clone",
      """SELECT 'a_t1' AS snap, COUNT(*) AS cnt,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders
        |UNION ALL
        |SELECT 'b_t1', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |UNION ALL
        |SELECT 'b_t2', COUNT(*), CAST(SUM(c_custkey) AS BIGINT)
        |FROM customer WHERE c_custkey % 2 = 0
        |UNION ALL
        |SELECT 'b_t2_preclone', COUNT(*), CAST(SUM(c_custkey) AS BIGINT)
        |FROM customer
        |ORDER BY snap""".stripMargin) { (s, d) =>
      import graft.sources.TxnCatalog
      import graft.sources.TxnCatalog.Write
      val srcCat = tmp("cat_clone_src")
      val dstCat = tmp("cat_clone_dst")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcCat))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dstCat))
      val ord = Tables.orders(s, d).select("o_orderkey")
      val cust = Tables.customer(s, d).select("c_custkey")
      TxnCatalog.commitAll(s, srcCat, Seq(
        Write("t1", ord.filter(col("o_orderkey") % 3 === 0)),
        Write("t2", cust)))                                       // txn 1
      TxnCatalog.commitAll(s, srcCat, Seq(
        Write("t1", ord.filter(col("o_orderkey") % 3 === 1))))    // txn 2
      TxnCatalog.cloneCatalog(srcCat, dstCat)
      TxnCatalog.commitAll(s, srcCat, Seq(
        Write("t1", ord.filter(col("o_orderkey") % 3 === 2))))    // prod txn 3
      TxnCatalog.commitAll(s, dstCat, Seq(
        Write("t2", cust.filter(col("c_custkey") % 2 === 0),
          overwrite = true)))                                     // sandbox txn 3
      def agg(df: org.apache.spark.sql.DataFrame, snap: String, k: String) =
        df.agg(count(lit(1)).as("cnt"), sum(k).as("key_sum"))
          .select(lit(snap).as("snap"), col("cnt"),
            col("key_sum").cast("long").as("key_sum"))
      agg(TxnCatalog.read(s, srcCat, "t1"), "a_t1", "o_orderkey")
        .unionByName(agg(TxnCatalog.read(s, dstCat, "t1"), "b_t1", "o_orderkey"))
        .unionByName(agg(TxnCatalog.read(s, dstCat, "t2"), "b_t2", "c_custkey"))
        .unionByName(agg(TxnCatalog.read(s, dstCat, "t2", asOf = Some(2)),
          "b_t2_preclone", "c_custkey"))
        .orderBy("snap")
    },

    // ── CATALOG-LEVEL replication (TxnCatalog.replicate): the
    //    multi-table DR mirror — full fidelity (per-table logs keep
    //    their numbering, so every catalog entry's version lineage
    //    resolves at the replica: time travel and restore both work
    //    there), O(Δ) per sync (lineage DELTAS only: the one-table txn
    //    ships 3 files — its log entry, stats sidecar, data file — and
    //    the source-side RESTORE ships zero, its entry re-lists known
    //    versions), and cross-table snapshot atomicity (the catalog txn
    //    entry publishes LAST; a replica reader never sees half a
    //    transaction — spec-pinned with a staged crash window). Copy
    //    counts and replica txn heads ride the hash; the oracle
    //    re-derives each stage's table contents from raw orders.
    sql("q_src_catalog_replicate",
      """SELECT * FROM (
        |  SELECT 'a_seed' AS stage,
        |         (SELECT COUNT(*) FROM orders) +
        |         (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 = 0) AS cnt,
        |         CAST(9 AS BIGINT) AS copied, CAST(2 AS BIGINT) AS txn
        |  UNION ALL
        |  SELECT 'b_sync', (SELECT COUNT(*) FROM orders),
        |         CAST(3 AS BIGINT), CAST(3 AS BIGINT)
        |  UNION ALL
        |  SELECT 'c_restore',
        |         (SELECT COUNT(*) FROM orders) +
        |         (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 = 0),
        |         CAST(0 AS BIGINT), CAST(4 AS BIGINT)
        |) ORDER BY stage""".stripMargin) { (s, d) =>
      import graft.sources.TxnCatalog
      import graft.sources.TxnCatalog.Write
      val root = graft.Scratch.dir(s"/root/repo/target/tmp/catrepl_" +
        d.replaceAll("[^A-Za-z0-9]", "_"))
      val src = s"$root/cat_src"; val dst = s"$root/cat_mirror"
      val o = Tables.orders(s, d)
        .select(col("o_orderkey").as("k"), col("o_custkey").as("v"))
      TxnCatalog.commitAll(s, src, Seq(
        Write("c", o.filter(col("k") % 2 === 0).coalesce(1)),
        Write("o", o.filter(col("k") % 3 === 0).coalesce(1))))
      TxnCatalog.commitAll(s, src, Seq(
        Write("c", o.filter(col("k") % 2 =!= 0).coalesce(1))))
      val (seedTxn, seedCopied) = TxnCatalog.replicate(src, dst)
      val aCnt = TxnCatalog.read(s, dst, "c").count() +
        TxnCatalog.read(s, dst, "o").count()
      TxnCatalog.commitAll(s, src, Seq(
        Write("o", o.filter(col("k") % 3 =!= 0).coalesce(1))))
      val (syncTxn, syncCopied) = TxnCatalog.replicate(src, dst)
      val bCnt = TxnCatalog.read(s, dst, "o").count()
      TxnCatalog.restore(src, toTxn = 2)
      val (rTxn, rCopied) = TxnCatalog.replicate(src, dst)
      val cCnt = TxnCatalog.read(s, dst, "c").count() +
        TxnCatalog.read(s, dst, "o").count()
      import s.implicits._
      Seq(("a_seed", aCnt, seedCopied.toLong, seedTxn.toLong),
          ("b_sync", bCnt, syncCopied.toLong, syncTxn.toLong),
          ("c_restore", cCnt, rCopied.toLong, rTxn.toLong))
        .toDF("stage", "cnt", "copied", "txn").orderBy("stage")
    },

    // ── catalog-level WRITE-AUDIT-PUBLISH (TxnCatalog.publishFrom): a
    //    cloned warehouse branch takes TWO audit transactions (a load
    //    into an existing table and a brand-new table) and lands on main
    //    as ONE squashed catalog entry — `txns` hashes the proof that
    //    main gained exactly one txn, and main's pre-publish time travel
    //    still shows the un-audited state.
    sql("q_src_catalog_wap",
      """SELECT 'main_t1' AS snap, COUNT(*) AS cnt,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |       CAST(2 AS BIGINT) AS txns
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |UNION ALL
        |SELECT 'main_t2', COUNT(*), CAST(SUM(c_custkey) AS BIGINT),
        |       CAST(2 AS BIGINT)
        |FROM customer WHERE c_custkey % 2 = 0
        |UNION ALL
        |SELECT 'pre', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
        |       CAST(2 AS BIGINT)
        |FROM orders WHERE o_orderkey % 3 = 0
        |ORDER BY snap""".stripMargin) { (s, d) =>
      import graft.sources.TxnCatalog
      import graft.sources.TxnCatalog.Write
      val mainCat = tmp("cat_wap_main")
      val auditCat = tmp("cat_wap_audit")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(mainCat))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(auditCat))
      val ord = Tables.orders(s, d).select("o_orderkey")
      val cust = Tables.customer(s, d).select("c_custkey")
      TxnCatalog.commitAll(s, mainCat, Seq(
        Write("t1", ord.filter(col("o_orderkey") % 3 === 0))))    // txn 1
      TxnCatalog.cloneCatalog(mainCat, auditCat)
      TxnCatalog.commitAll(s, auditCat, Seq(
        Write("t1", ord.filter(col("o_orderkey") % 3 === 1))))    // audit txn 2
      TxnCatalog.commitAll(s, auditCat, Seq(
        Write("t2", cust.filter(col("c_custkey") % 2 === 0))))    // audit txn 3
      TxnCatalog.publishFrom(auditCat, mainCat, Some("wap"))      // main txn 2
      val txns = TxnCatalog.currentTxn(mainCat).toLong
      def agg(df: org.apache.spark.sql.DataFrame, snap: String, k: String) =
        df.agg(count(lit(1)).as("cnt"), sum(k).as("key_sum"))
          .select(lit(snap).as("snap"), col("cnt"),
            col("key_sum").cast("long").as("key_sum"), lit(txns).as("txns"))
      agg(TxnCatalog.read(s, mainCat, "t1"), "main_t1", "o_orderkey")
        .unionByName(agg(TxnCatalog.read(s, mainCat, "t2"), "main_t2", "c_custkey"))
        .unionByName(agg(TxnCatalog.read(s, mainCat, "t1", asOf = Some(1)),
          "pre", "o_orderkey"))
        .orderBy("snap")
    },

    // ── WRITE-AUDIT-PUBLISH (TxnTable.publishFrom): the monthly load
    //    stages on an audit branch (clone), gets appended + CoW-deleted
    //    + contract-validated there, and lands on main as ONE atomic
    //    version. Main's pre-publish snapshot ('pre') must still read
    //    the original rows — proof the multi-commit audit was invisible
    //    until the single publish.
    sql("q_src_wap",
      """SELECT 'pre' AS snap, COUNT(*) AS cnt,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT 'published', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
        |FROM orders WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 2 = 0
        |ORDER BY snap""".stripMargin) { (s, d) =>
      val main = tmp("txn_wap_main")
      val audit = tmp("txn_wap_audit")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(main))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(audit))
      val ord = Tables.orders(s, d).select("o_orderkey")
      TxnTable.commit(s, ord.filter(col("o_orderkey") % 3 === 0),
        main, overwrite = false)                              // main v1
      TxnTable.cloneShallow(main, audit)                      // fork
      TxnTable.commit(s, ord.filter(col("o_orderkey") % 3 === 1),
        audit, overwrite = false)                             // audit load
      TxnTable.deleteWhere(s, audit, col("o_orderkey") % 2 === 1) // audit fix
      // the audit gate: a violated contract would abort before publish
      val report = graft.operators.Contracts.validate(
        TxnTable.read(s, audit),
        Seq(graft.operators.Contracts.NotNull("o_orderkey")))
      require(report.filter(col("n_violations") > 0).isEmpty,
        "audit contract violated — branch must not publish")
      TxnTable.publishFrom(audit, main, tag = Some("wap"))    // main v2
      def agg(df: org.apache.spark.sql.DataFrame, snap: String) =
        df.agg(count(lit(1)).as("cnt"), sum("o_orderkey").as("key_sum"))
          .select(lit(snap).as("snap"), col("cnt"),
            col("key_sum").cast("long").as("key_sum"))
      agg(TxnTable.read(s, main, asOf = Some(1)), "pre")
        .unionByName(agg(TxnTable.read(s, main), "published"))
        .orderBy("snap")
    },

    // ── copy-on-write DELETE (TxnTable.deleteWhere): a range predicate
    //    that lives entirely in the first of three range-clustered files
    //    deletes by rewriting exactly that one file (files_rewritten=1
    //    is in the hash); SQL NULL semantics — only predicate-TRUE rows
    //    go. The oracle is the complement scan.
    sql("q_src_delete",
      """WITH m AS (SELECT (MAX(event_id) // 3) // 2 AS h FROM events)
        |SELECT COUNT(*) AS cnt,
        |       CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS sum_q,
        |       CAST(1 AS BIGINT) AS files_rewritten
        |FROM events, m WHERE event_id >= m.h""".stripMargin) { (s, d) =>
      val table = tmp("txn_delete")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val ev = Tables.events(s, d).select("event_id", "value")
      val maxId = ev.agg(max("event_id")).head().getLong(0)
      val t1 = maxId / 3
      TxnTable.commit(s, ev.filter(col("event_id") < t1).coalesce(1),
        table, overwrite = false)
      TxnTable.commit(s,
        ev.filter(col("event_id") >= t1 && col("event_id") < 2 * t1).coalesce(1),
        table, overwrite = false)
      TxnTable.commit(s, ev.filter(col("event_id") >= 2 * t1).coalesce(1),
        table, overwrite = false)
      val (_, rewritten) = TxnTable.deleteWhere(s, table,
        col("event_id") < t1 / 2)
      TxnTable.read(s, table)
        .agg(count(lit(1)).as("cnt"),
          sum(floor(col("value") * 1000).cast("long")).as("sum_q"))
        .withColumn("files_rewritten", lit(rewritten.toLong))
    },

    // ── DEAD-LETTER commit (the row-level contract outcome between
    //    reject-the-batch and let-it-through): rows violating any rule
    //    land in a quarantine table tagged with the pipe-joined rule
    //    names; the clean remainder commits. Violations are planted
    //    deterministically (%11 nulls the FK, %13 corrupts the enum —
    //    %143 rows break BOTH and the tag must list both).
    sql("q_src_quarantine_commit",
      """WITH x AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE o_custkey END AS ck,
        |         CASE WHEN o_orderkey % 13 = 0 THEN 'XX' ELSE o_orderpriority END AS pr
        |  FROM orders),
        |t AS (
        |  SELECT o_orderkey, ck, pr,
        |         CASE WHEN ck IS NULL AND pr = 'XX'
        |                THEN 'not_null(ck)|in_set(pr)'
        |              WHEN ck IS NULL THEN 'not_null(ck)'
        |              WHEN pr = 'XX' THEN 'in_set(pr)'
        |              ELSE '' END AS broke
        |  FROM x)
        |SELECT 'a_clean' AS grp, COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        |FROM t WHERE broke = ''
        |UNION ALL
        |SELECT 'q_' || broke, COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
        |FROM t WHERE broke <> '' GROUP BY broke
        |ORDER BY grp""".stripMargin) { (s, d) =>
      import graft.operators.Contracts
      val table = tmp("txn_quarantine_main")
      val qt = tmp("txn_quarantine_dead")
      Seq(table, qt).foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
      val dirty = Tables.orders(s, d).select(
        col("o_orderkey"),
        when(col("o_orderkey") % 11 === 0, lit(null))
          .otherwise(col("o_custkey")).as("ck"),
        when(col("o_orderkey") % 13 === 0, lit("XX"))
          .otherwise(col("o_orderpriority")).as("pr"))
      TxnTable.commitQuarantined(s, dirty, table, qt, Seq(
        Contracts.NotNull("ck"),
        Contracts.InSet("pr", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW"))))
      val clean = TxnTable.read(s, table)
        .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
        .select(lit("a_clean").as("grp"), col("n"), col("key_sum"))
      val dead = TxnTable.read(s, qt)
        .groupBy(concat(lit("q_"), col("violated_rules")).as("grp"))
        .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
      clean.unionByName(dead).orderBy("grp")
    },

    // ── DESCRIBE HISTORY (the log's audit surface): append ×2, tagged
    //    append, overwrite, MOR delete — five commits whose
    //    add/remove/class/tag rows are fully determined, so the golden
    //    oracle is a VALUES literal. The dv classification and the
    //    overwrite's removal count are what the hash pins.
    sql("q_src_history",
      """SELECT * FROM (VALUES
        |  (1, 2, 0, 'data', CAST(NULL AS VARCHAR)),
        |  (2, 1, 0, 'data', 'nightly'),
        |  (3, 1, 3, 'data', CAST(NULL AS VARCHAR)),
        |  (4, 1, 0, 'dv',   CAST(NULL AS VARCHAR))
        |) t(version, n_added, n_removed, kind, tag)
        |ORDER BY version""".stripMargin) { (s, d) =>
      val table = tmp("txn_history")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val ord = Tables.orders(s, d).select("o_orderkey")
        .filter(col("o_orderkey") < 200)
      TxnTable.commit(s, ord.repartition(2), table, overwrite = false)
      TxnTable.commit(s, ord.coalesce(1), table, overwrite = false,
        tag = Some("nightly"))
      TxnTable.commit(s, ord.coalesce(1), table, overwrite = true)
      TxnTable.deleteWhereMor(s, table, col("o_orderkey") % 2 === 0)
      TxnTable.history(s, table).orderBy("version")
    },

    // ── MERGE-ON-READ delete with a deletion vector (the write-cheap
    //    sibling of q_src_delete's copy-on-write): the delete commits one
    //    dv/ parquet of (file, row_index) addresses — ZERO data files
    //    move (dv_files/data_files hashed as literals prove it) — and the
    //    read applies the vector as an anti-join; time travel before the
    //    delete sees the rows again; OPTIMIZE materializes the filtered
    //    table and purges the vector.
    sql("q_src_delete_mor",
      """SELECT 'a_after_mor' AS stage, CAST(3 AS BIGINT) AS data_files,
        |       CAST(1 AS BIGINT) AS dv_files, COUNT(*) AS cnt,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders WHERE o_orderkey % 7 <> 0
        |UNION ALL
        |SELECT 'b_travel', CAST(3 AS BIGINT), CAST(0 AS BIGINT),
        |       COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
        |FROM orders
        |UNION ALL
        |SELECT 'c_optimized', CAST(1 AS BIGINT), CAST(0 AS BIGINT),
        |       COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
        |FROM orders WHERE o_orderkey % 7 <> 0
        |ORDER BY stage""".stripMargin) { (s, d) =>
      val table = tmp("txn_delete_mor")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val ord = Tables.orders(s, d).select("o_orderkey")
      TxnTable.commit(s, ord.repartition(3), table, overwrite = false)
      TxnTable.deleteWhereMor(s, table, col("o_orderkey") % 7 === 0)
      def files(asOf: Option[Int]) = graft.sources.TxnTable.liveSplit(table, asOf)
      def stage(name: String, asOf: Option[Int]) = {
        val (dataF, dvF) = files(asOf)
        TxnTable.read(s, table, asOf)
          .agg(count(lit(1)).as("cnt"), sum("o_orderkey").as("key_sum"))
          .select(lit(name).as("stage"), lit(dataF.size.toLong).as("data_files"),
            lit(dvF.size.toLong).as("dv_files"), col("cnt"), col("key_sum"))
      }
      val afterMor = stage("a_after_mor", None)
      val travel = stage("b_travel", Some(1))
      TxnTable.optimize(s, table, numFiles = 1)
      afterMor
        .unionByName(travel)
        .unionByName(stage("c_optimized", None))
        .orderBy("stage")
    },

    // ── incremental data-skipping stats under the txn log (TxnStats):
    //    three range-clustered ingest commits, one O(new-files) stats
    //    refresh, then a range scan that must open exactly ONE of the
    //    three files — Delta's skipping stats with an explicit freshness
    //    watermark (an unindexed live file is always read, never
    //    skipped). files_read=1 is part of the hash: a pruning miss or a
    //    false skip both fail the oracle.
    sql("q_scan_txn_skipping",
      """WITH m AS (SELECT MAX(event_id) // 3 AS t FROM events)
        |SELECT COUNT(*) AS cnt,
        |       CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS sum_q,
        |       CAST(3 AS BIGINT) AS files_total,
        |       CAST(1 AS BIGINT) AS files_read
        |FROM events, m WHERE event_id < m.t""".stripMargin) { (s, d) =>
      import graft.sources.TxnStats
      val table = tmp("txn_skipping")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val ev = Tables.events(s, d).select("event_id", "value")
      val maxId = ev.agg(max("event_id")).head().getLong(0)
      val t1 = maxId / 3
      val t2 = 2 * (maxId / 3)
      TxnTable.commit(s, ev.filter(col("event_id") < t1).coalesce(1),
        table, overwrite = false)
      TxnTable.commit(s,
        ev.filter(col("event_id") >= t1 && col("event_id") < t2).coalesce(1),
        table, overwrite = false)
      TxnTable.commit(s, ev.filter(col("event_id") >= t2).coalesce(1),
        table, overwrite = false)
      TxnStats.refresh(s, table, "event_id")
      val (toRead, nLive) = TxnStats.pruneFiles(s, table, "event_id", 0L, t1 - 1)
      TxnStats.prunedRead(s, table, "event_id", 0L, t1 - 1)
        .agg(count(lit(1)).as("cnt"),
          sum(floor(col("value") * 1000).cast("long")).as("sum_q"))
        .withColumn("files_total", lit(nLive.toLong))
        .withColumn("files_read", lit(toRead.size.toLong))
    },

    // ── FOOTER-fed skipping stats (TxnStats.refreshFromFooters): the
    //    metadata-only twin of q_scan_txn_skipping — min/max/rows come
    //    from the new files' parquet FOOTER statistics, no data pages
    //    read, so at 100 TB the stats refresh costs O(Δ files) of
    //    footer IO instead of an O(Δ rows) scan job (the same economics
    //    as the commit-time row-count sidecars). The pruning contract
    //    is unchanged and hash-pinned: the mid-range scan opens exactly
    //    ONE of three range-clustered files.
    sql("q_scan_stats_footer",
      """WITH m AS (SELECT MAX(event_id) // 3 AS t FROM events)
        |SELECT COUNT(*) AS cnt,
        |       CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS sum_q,
        |       CAST(3 AS BIGINT) AS files_total,
        |       CAST(1 AS BIGINT) AS files_read
        |FROM events, m WHERE event_id >= m.t AND event_id < 2 * m.t""".stripMargin) { (s, d) =>
      import graft.sources.TxnStats
      val table = tmp("stats_footer")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val ev = Tables.events(s, d).select("event_id", "value")
      val maxId = ev.agg(max("event_id")).head().getLong(0)
      val t1 = maxId / 3
      val t2 = 2 * (maxId / 3)
      TxnTable.commit(s, ev.filter(col("event_id") < t1).coalesce(1),
        table, overwrite = false)
      TxnTable.commit(s,
        ev.filter(col("event_id") >= t1 && col("event_id") < t2).coalesce(1),
        table, overwrite = false)
      TxnTable.commit(s, ev.filter(col("event_id") >= t2).coalesce(1),
        table, overwrite = false)
      TxnStats.refreshFromFooters(s, table, "event_id")
      val (toRead, nLive) = TxnStats.pruneFiles(s, table, "event_id", t1, t2 - 1)
      TxnStats.prunedRead(s, table, "event_id", t1, t2 - 1)
        .agg(count(lit(1)).as("cnt"),
          sum(floor(col("value") * 1000).cast("long")).as("sum_q"))
        .withColumn("files_total", lit(nLive.toLong))
        .withColumn("files_read", lit(toRead.size.toLong))
    },

    // ── TYPED skipping stats, DATE column from parquet footers: the
    //    dominant pruning predicate on an unpartitioned 100 TB fact is
    //    a date window (every TPC-H flagship), and footer row-group
    //    stats already carry date bounds — min/max here are stored AS
    //    DateType and compared under date ordering, no BIGINT detour.
    //    Three date-tercile-clustered files; the middle window opens
    //    exactly ONE (hash-pinned via files_read).
    sql("q_scan_stats_date",
      """WITH b AS (SELECT MIN(CAST(o_orderdate AS DATE)) AS mn,
        |                  MAX(CAST(o_orderdate AS DATE)) AS mx FROM orders),
        |     w AS (SELECT mn + CAST((mx - mn) // 3 AS INTEGER) AS t1,
        |                  mn + CAST(2 * ((mx - mn) // 3) AS INTEGER) AS t2 FROM b)
        |SELECT COUNT(*) AS cnt, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |       CAST(3 AS BIGINT) AS files_total,
        |       CAST(1 AS BIGINT) AS files_read
        |FROM orders, w
        |WHERE CAST(o_orderdate AS DATE) >= w.t1
        |  AND CAST(o_orderdate AS DATE) < w.t2""".stripMargin) { (s, d) =>
      import graft.sources.TxnStats
      val table = tmp("stats_date")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("od"))
      val b = o.agg(min("od").as("mn"), max("od").as("mx")).head()
      val mn = b.getDate(0).toLocalDate
      val span = java.time.temporal.ChronoUnit.DAYS
        .between(mn, b.getDate(1).toLocalDate)
      val t1 = java.sql.Date.valueOf(mn.plusDays(span / 3))
      val t2 = java.sql.Date.valueOf(mn.plusDays(2 * (span / 3)))
      TxnTable.commit(s, o.filter(col("od") < lit(t1)).coalesce(1),
        table, overwrite = false)
      TxnTable.commit(s,
        o.filter(col("od") >= lit(t1) && col("od") < lit(t2)).coalesce(1),
        table, overwrite = false)
      TxnTable.commit(s, o.filter(col("od") >= lit(t2)).coalesce(1),
        table, overwrite = false)
      TxnStats.refreshFromFooters(s, table, "od")
      val hi = java.sql.Date.valueOf(t2.toLocalDate.minusDays(1))
      val (toRead, nLive) = TxnStats.pruneFiles(s, table, "od", t1, hi)
      TxnStats.prunedRead(s, table, "od", t1, hi)
        .agg(count(lit(1)).as("cnt"), sum("o_orderkey").as("key_sum"))
        .withColumn("files_total", lit(nLive.toLong))
        .withColumn("files_read", lit(toRead.size.toLong))
    },

    // ── TYPED skipping stats, STRING column via the scan refresh:
    //    priority-clustered files pruned by a lexicographic range
    //    (binary collation in both engines). The '3' ≤ p ≤ '3~' window
    //    covers every '3-…' priority and opens exactly one file.
    sql("q_scan_stats_string",
      """SELECT COUNT(*) AS cnt, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |       CAST(3 AS BIGINT) AS files_total,
        |       CAST(1 AS BIGINT) AS files_read
        |FROM orders
        |WHERE o_orderpriority >= '3' AND o_orderpriority <= '3~'""".stripMargin) { (s, d) =>
      import graft.sources.TxnStats
      val table = tmp("stats_string")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val o = Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
      TxnTable.commit(s, o.filter(col("o_orderpriority") < "3").coalesce(1),
        table, overwrite = false)
      TxnTable.commit(s,
        o.filter(col("o_orderpriority") >= "3" && col("o_orderpriority") < "4")
          .coalesce(1),
        table, overwrite = false)
      TxnTable.commit(s, o.filter(col("o_orderpriority") >= "4").coalesce(1),
        table, overwrite = false)
      TxnStats.refresh(s, table, "o_orderpriority")
      val (toRead, nLive) =
        TxnStats.pruneFiles(s, table, "o_orderpriority", "3", "3~")
      TxnStats.prunedRead(s, table, "o_orderpriority", "3", "3~")
        .agg(count(lit(1)).as("cnt"), sum("o_orderkey").as("key_sum"))
        .withColumn("files_total", lit(nLive.toLong))
        .withColumn("files_read", lit(toRead.size.toLong))
    },

    // ── JOIN-DRIVEN dynamic file pruning (plans.AutoFilePrune on a
    //    plain join): the fact is key-clustered into four quartile
    //    files and joined to a three-key dim known only at RUNTIME (min
    //    key, smallest key ≥ 2·quartile, max key) — a static range
    //    filter can't exist, and the range envelope [min,max] spans ALL
    //    four files.
    //    Exact-key gap pruning is the win being pinned: the dim's keys
    //    land in files 0/2/3, so the scan opens THREE of four — the
    //    second-quartile file is skipped because no dim key falls in
    //    its [min,max]. The star-join shape at 100 TB: dim selectivity
    //    → fact file list, before any fact bytes move. files_read is
    //    measured off the OPTIMIZED PLAN of the plain join and rides the
    //    hash; the oracle replays the same join unpruned.
    sql("q_scan_dfp",
      """WITH t AS (SELECT MAX(o_orderkey) // 4 AS q FROM orders),
        |d AS (SELECT MIN(o_orderkey) AS k FROM orders
        |      UNION ALL
        |      SELECT MIN(o_orderkey) FROM orders, t WHERE o_orderkey >= 2 * t.q
        |      UNION ALL
        |      SELECT MAX(o_orderkey) FROM orders)
        |SELECT COUNT(*) AS cnt, CAST(SUM(o_custkey) AS BIGINT) AS cust_sum,
        |       CAST(4 AS BIGINT) AS files_total,
        |       CAST(3 AS BIGINT) AS files_read
        |FROM orders JOIN d ON o_orderkey = d.k""".stripMargin) { (s, d) =>
      import graft.sources.TxnStats
      val table = tmp("txn_dfp")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      val mx = o.agg(max("o_orderkey")).head().getLong(0)
      val q = mx / 4
      TxnTable.commit(s, o.filter(col("o_orderkey") < q).coalesce(1),
        table, overwrite = false)
      TxnTable.commit(s,
        o.filter(col("o_orderkey") >= q && col("o_orderkey") < 2 * q).coalesce(1),
        table, overwrite = false)
      TxnTable.commit(s,
        o.filter(col("o_orderkey") >= 2 * q && col("o_orderkey") < 3 * q).coalesce(1),
        table, overwrite = false)
      TxnTable.commit(s, o.filter(col("o_orderkey") >= 3 * q).coalesce(1),
        table, overwrite = false)
      TxnStats.refresh(s, table, "o_orderkey")
      val dim = o.agg(min("o_orderkey").as("k"))
        .union(o.filter(col("o_orderkey") >= 2 * q).agg(min("o_orderkey")))
        .union(o.agg(max("o_orderkey")))
      val star = TxnTable.read(s, table)
        .join(dim, col("o_orderkey") === col("k"))
      star.agg(count(lit(1)).as("cnt"), sum("o_custkey").as("cust_sum"))
        .withColumn("files_total", lit(TxnTable.liveFiles(table).size.toLong))
        .withColumn("files_read",
          lit(AutoFilePrune.filesScanned(star, table).toLong))
    },

    // ── MULTI-COLUMN dynamic file pruning (plans.AutoFilePrune on a
    //    stacked star): the fact probed by TWO filtered dims at once —
    //    the common star shape (date dim AND customer dim both
    //    filtered). The fact is a
    //    3×3 grid of files over (o_orderkey, o_custkey) terciles; the
    //    orderkey dim alone keeps one ROW of the grid (3 files), the
    //    custkey dim alone one COLUMN (3 files), and the intersection —
    //    sound because each single-column prune is individually sound
    //    for the inner fact side — opens exactly their ONE shared cell:
    //    strictly fewer files than either single-column prune. All
    //    three prune counts, each measured off the optimized plan of
    //    its plain join, ride the hash; the oracle replays the two-dim
    //    join unpruned.
    sql("q_scan_dfp_multi",
      """WITH t AS (SELECT MAX(o_orderkey) // 3 AS qk,
        |                  MAX(o_custkey) // 3 AS qc FROM orders)
        |SELECT COUNT(*) AS cnt,
        |       CAST(SUM(o_orderkey + o_custkey) AS BIGINT) AS key_sum,
        |       CAST(9 AS BIGINT) AS files_total,
        |       CAST(3 AS BIGINT) AS files_a,
        |       CAST(3 AS BIGINT) AS files_b,
        |       CAST(1 AS BIGINT) AS files_multi
        |FROM orders, t
        |WHERE o_orderkey < t.qk
        |  AND o_custkey >= t.qc AND o_custkey < 2 * t.qc""".stripMargin) { (s, d) =>
      import graft.sources.TxnStats
      val table = tmp("txn_dfp_multi")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      val m = o.agg(max("o_orderkey"), max("o_custkey")).head()
      val (qk, qc) = (m.getLong(0) / 3, m.getLong(1) / 3)
      def band(c: org.apache.spark.sql.Column, q: Long, i: Int) =
        if (i < 2) c >= i * q && c < (i + 1) * q else c >= 2 * q
      for (i <- 0 to 2; j <- 0 to 2)
        TxnTable.commit(s,
          o.filter(band(col("o_orderkey"), qk, i) &&
            band(col("o_custkey"), qc, j)).coalesce(1),
          table, overwrite = false)
      TxnStats.refresh(s, table, "o_orderkey")
      TxnStats.refresh(s, table, "o_custkey")
      val dimA = o.filter(col("o_orderkey") < qk)
        .select(col("o_orderkey").as("ka")).distinct()
      val dimB = o.filter(col("o_custkey") >= qc && col("o_custkey") < 2 * qc)
        .select(col("o_custkey").as("kb")).distinct()
      val fact = TxnTable.read(s, table)
      val byA = fact.join(dimA, col("o_orderkey") === col("ka"))
      val byB = fact.join(dimB, col("o_custkey") === col("kb"))
      val star = byA.join(dimB, col("o_custkey") === col("kb"))
      def files(df: org.apache.spark.sql.DataFrame) =
        lit(AutoFilePrune.filesScanned(df, table).toLong)
      star.agg(count(lit(1)).as("cnt"),
          sum(col("o_orderkey") + col("o_custkey")).as("key_sum"))
        .withColumn("files_total", lit(TxnTable.liveFiles(table).size.toLong))
        .withColumn("files_a", files(byA))
        .withColumn("files_b", files(byB))
        .withColumn("files_multi", files(star))
    },

    // ── OUTER-JOIN dynamic file pruning (plans.AutoFilePrune on a
    //    plain left join): the left-outer star probe. The probe side is
    //    PRESERVED — a key with no fact match (-1 here) must still
    //    surface null-extended, so the probe is never pruned — but the
    //    fact table is the NULL-EXTENDING side: a fact row only reaches
    //    the output by matching, so the same gap pruning as q_scan_dfp
    //    applies and the second-quartile file skips. Pins: files_read = 3 of 4 AND
    //    cnt = matched + 1 (the null-extended probe row survives the
    //    pruned read — the oracle replays the LEFT join unpruned).
    sql("q_scan_dfp_outer",
      """WITH t AS (SELECT MAX(o_orderkey) // 4 AS q FROM orders),
        |d AS (SELECT MIN(o_orderkey) AS k FROM orders
        |      UNION ALL
        |      SELECT MIN(o_orderkey) FROM orders, t WHERE o_orderkey >= 2 * t.q
        |      UNION ALL
        |      SELECT MAX(o_orderkey) FROM orders
        |      UNION ALL
        |      SELECT -1)
        |SELECT COUNT(*) AS cnt, COUNT(o_orderkey) AS matched,
        |       CAST(SUM(o_custkey) AS BIGINT) AS cust_sum,
        |       CAST(4 AS BIGINT) AS files_total,
        |       CAST(3 AS BIGINT) AS files_read
        |FROM d LEFT JOIN orders ON d.k = o_orderkey""".stripMargin) { (s, d) =>
      import graft.sources.TxnStats
      import s.implicits._
      val table = tmp("txn_dfp_outer")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      val mx = o.agg(max("o_orderkey")).head().getLong(0)
      val q = mx / 4
      Seq(col("o_orderkey") < q,
        col("o_orderkey") >= q && col("o_orderkey") < 2 * q,
        col("o_orderkey") >= 2 * q && col("o_orderkey") < 3 * q,
        col("o_orderkey") >= 3 * q).foreach(p =>
        TxnTable.commit(s, o.filter(p).coalesce(1), table, overwrite = false))
      TxnStats.refresh(s, table, "o_orderkey")
      val probe = o.agg(min("o_orderkey").as("k"))
        .union(o.filter(col("o_orderkey") >= 2 * q).agg(min("o_orderkey")))
        .union(o.agg(max("o_orderkey")))
        .union(Seq(-1L).toDF("k"))
      val fact = TxnTable.read(s, table)
      val star = probe.join(fact, probe("k") === fact("o_orderkey"), "left")
      star.agg(count(lit(1)).as("cnt"),
          count(col("o_orderkey")).as("matched"),
          sum("o_custkey").as("cust_sum"))
        .withColumn("files_total", lit(TxnTable.liveFiles(table).size.toLong))
        .withColumn("files_read",
          lit(AutoFilePrune.filesScanned(star, table).toLong))
    },

    // ── OUTER MULTI-COLUMN dynamic file pruning (plans.AutoFilePrune
    //    on a plain two-key left join): the left-outer star probed on
    //    TWO fact columns at once — `probe LEFT JOIN fact ON ka = okey
    //    AND kb = ckey`. The probe is preserved (its unmatched (-1,-1)
    //    row must surface null-extended), the fact null-extends on BOTH
    //    conjuncts, so each column's prune is sound and the
    //    intersection opens exactly the probe's one grid cell: 1 of 9
    //    files, strictly fewer than either single-column prune. Counts
    //    ride the hash; the oracle replays the outer join unpruned.
    sql("q_scan_dfp_outer_multi",
      """WITH t AS (SELECT MAX(o_orderkey) // 3 AS qk,
        |                  MAX(o_custkey) // 3 AS qc FROM orders),
        |p AS (SELECT o_orderkey AS ka, o_custkey AS kb FROM orders, t
        |      WHERE o_orderkey < t.qk
        |        AND o_custkey >= t.qc AND o_custkey < 2 * t.qc
        |      UNION ALL SELECT -1, -1),
        |f AS (SELECT o_orderkey, o_custkey FROM orders)
        |SELECT COUNT(*) AS cnt, COUNT(f.o_orderkey) AS matched,
        |       CAST(SUM(f.o_orderkey + f.o_custkey) AS BIGINT) AS key_sum,
        |       CAST(9 AS BIGINT) AS files_total,
        |       CAST(1 AS BIGINT) AS files_multi
        |FROM p LEFT JOIN f
        |  ON p.ka = f.o_orderkey AND p.kb = f.o_custkey""".stripMargin) { (s, d) =>
      import graft.sources.TxnStats
      import s.implicits._
      val table = tmp("txn_dfp_outer_multi")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      val m = o.agg(max("o_orderkey"), max("o_custkey")).head()
      val (qk, qc) = (m.getLong(0) / 3, m.getLong(1) / 3)
      def band(c: org.apache.spark.sql.Column, q: Long, i: Int) =
        if (i < 2) c >= i * q && c < (i + 1) * q else c >= 2 * q
      for (i <- 0 to 2; j <- 0 to 2)
        TxnTable.commit(s,
          o.filter(band(col("o_orderkey"), qk, i) &&
            band(col("o_custkey"), qc, j)).coalesce(1),
          table, overwrite = false)
      TxnStats.refresh(s, table, "o_orderkey")
      TxnStats.refresh(s, table, "o_custkey")
      val probe = o.filter(col("o_orderkey") < qk &&
          col("o_custkey") >= qc && col("o_custkey") < 2 * qc)
        .select(col("o_orderkey").as("ka"), col("o_custkey").as("kb"))
        .union(Seq((-1L, -1L)).toDF("ka", "kb"))
      val fact = TxnTable.read(s, table)
      val star = probe.join(fact, probe("ka") === fact("o_orderkey") &&
          probe("kb") === fact("o_custkey"), "left")
      star.agg(count(lit(1)).as("cnt"),
          count(fact("o_orderkey")).as("matched"),
          sum(fact("o_orderkey") + fact("o_custkey")).as("key_sum"))
        .withColumn("files_total", lit(TxnTable.liveFiles(table).size.toLong))
        .withColumn("files_multi",
          lit(AutoFilePrune.filesScanned(star, table).toLong))
    },

    // ── AUTO-injected dynamic file pruning, SQL surface: the SAME star
    //    shape as q_scan_dfp, but the program is `spark.sql` over temp
    //    views of the txn read and the dim. The optimizer rule
    //    recognizes the txn scan under the SQL equi-join, evaluates the
    //    three-key dim at plan time, and swaps in a scan over the three
    //    reachable files; files_read is measured off the OPTIMIZED PLAN
    //    of that query and rides the hash, so a SQL star that stops
    //    pruning (4 files) hash-fails. Oracle replays the join unpruned.
    sql("q_scan_dfp_auto",
      """WITH t AS (SELECT MAX(o_orderkey) // 4 AS q FROM orders),
        |d AS (SELECT MIN(o_orderkey) AS k FROM orders
        |      UNION ALL
        |      SELECT MIN(o_orderkey) FROM orders, t WHERE o_orderkey >= 2 * t.q
        |      UNION ALL
        |      SELECT MAX(o_orderkey) FROM orders)
        |SELECT COUNT(*) AS cnt, CAST(SUM(o_custkey) AS BIGINT) AS cust_sum,
        |       CAST(4 AS BIGINT) AS files_total,
        |       CAST(3 AS BIGINT) AS files_read
        |FROM orders JOIN d ON o_orderkey = d.k""".stripMargin) { (s, d) =>
      import graft.sources.TxnStats
      val table = tmp("txn_dfp_auto")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      val mx = o.agg(max("o_orderkey")).head().getLong(0)
      val q = mx / 4
      Seq(col("o_orderkey") < q,
        col("o_orderkey") >= q && col("o_orderkey") < 2 * q,
        col("o_orderkey") >= 2 * q && col("o_orderkey") < 3 * q,
        col("o_orderkey") >= 3 * q).foreach(p =>
        TxnTable.commit(s, o.filter(p).coalesce(1), table, overwrite = false))
      TxnStats.refresh(s, table, "o_orderkey")
      val dim = o.agg(min("o_orderkey").as("k"))
        .union(o.filter(col("o_orderkey") >= 2 * q).agg(min("o_orderkey")))
        .union(o.agg(max("o_orderkey")))
      TxnTable.read(s, table).createOrReplaceTempView("dfp_auto_fact")
      dim.createOrReplaceTempView("dfp_auto_dim")
      val star = s.sql(
        """SELECT COUNT(*) AS cnt, SUM(o_custkey) AS cust_sum
          |FROM dfp_auto_fact JOIN dfp_auto_dim ON o_orderkey = k""".stripMargin)
      star.withColumn("files_total", lit(TxnTable.liveFiles(table).size.toLong))
        .withColumn("files_read",
          lit(AutoFilePrune.filesScanned(star, table).toLong))
    },

    // ── small-file-only compaction (TxnTable.compactSmall): one healthy
    //    ingest file plus four micro-batch-sized stragglers; the
    //    compaction merges ONLY the stragglers (5 files → 2, the big
    //    file byte-identical) — the steady-state streaming-sink
    //    lifecycle without the O(table) full-optimize rewrite. File
    //    counts ride the hash.
    sql("q_src_compact_small",
      """SELECT COUNT(*) AS cnt, CAST(SUM(event_id) AS BIGINT) AS id_sum,
        |       CAST(5 AS BIGINT) AS files_before,
        |       CAST(2 AS BIGINT) AS files_after
        |FROM events WHERE event_id % 2 = 0 OR event_id IN (1, 3, 5, 7)""".stripMargin) { (s, d) =>
      val table = tmp("txn_compact_small")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val ev = Tables.events(s, d).select("event_id")
      TxnTable.commit(s, ev.filter(col("event_id") % 2 === 0).coalesce(1),
        table, overwrite = false)
      val bigSize = new java.io.File(table,
        TxnTable.liveFiles(table).head).length()
      Seq(1, 3, 5, 7).foreach(k =>
        TxnTable.commit(s, ev.filter(col("event_id") === k).coalesce(1),
          table, overwrite = false))
      val before = TxnTable.liveFiles(table).size.toLong
      TxnTable.compactSmall(s, table, smallBytes = bigSize)
      val after = TxnTable.liveFiles(table).size.toLong
      TxnTable.read(s, table)
        .agg(count(lit(1)).as("cnt"), sum("event_id").as("id_sum"))
        .withColumn("files_before", lit(before))
        .withColumn("files_after", lit(after))
    },

    // ── INCREMENTAL clustered maintenance (TxnLayout.optimizeClustered /
    //    reclusterIncremental): the steady-state layout lifecycle at
    //    100 TB — one full Z-order rewrite records per-file code ranges,
    //    then each maintenance pass rewrites ONLY the files ingest
    //    staled plus the clustered files their codes land in, never the
    //    table. Staged pins ride the hash: the far-range append
    //    reclusters exactly ONE file with all four clustered files kept
    //    (r1/k1), the in-range append pulls exactly its ONE covering
    //    clustered file into the rewrite (r2, with k2 = 5-1 survivors:
    //    the 4 seed-round files + round-1's output minus the hit).
    //    Content equality proves every round moved layout, not data.
    sql("q_src_recluster",
      """WITH base AS (
        |  SELECT o_orderkey % 32768 AS x, o_custkey % 32768 AS y,
        |         o_orderkey AS v FROM orders
        |  UNION ALL
        |  SELECT * FROM (VALUES (0, 0, -100), (40000, 40000, 1),
        |                        (40001, 40001, 2), (40002, 40002, 3),
        |                        (0, 0, -101)) AS t(x, y, v))
        |SELECT COUNT(*) AS cnt, CAST(SUM(v) AS BIGINT) AS v_sum,
        |       CAST(SUM(x + y) AS BIGINT) AS xy_sum,
        |       CAST(1 AS BIGINT) AS r1, CAST(4 AS BIGINT) AS k1,
        |       CAST(2 AS BIGINT) AS r2, CAST(4 AS BIGINT) AS k2
        |FROM base""".stripMargin) { (s, d) =>
      import graft.sources.TxnLayout
      import s.implicits._
      val table = tmp("txn_recluster")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val o = Tables.orders(s, d).select(
        (col("o_orderkey") % 32768).as("x"),
        (col("o_custkey") % 32768).as("y"),
        col("o_orderkey").as("v"))
      // the (0,0,-100) literal pins the global-min morton code so the
      // in-range stage below provably lands inside the first file
      TxnTable.commit(s, o.union(Seq((0L, 0L, -100L)).toDF("x", "y", "v")),
        table, overwrite = false)
      TxnLayout.optimizeClustered(s, table, Seq("x", "y"), numFiles = 4)
      TxnTable.commit(s,
        Seq((40000L, 40000L, 1L), (40001L, 40001L, 2L), (40002L, 40002L, 3L))
          .toDF("x", "y", "v").coalesce(1), table, overwrite = false)
      val (_, r1, k1) = TxnLayout.reclusterIncremental(s, table)
      TxnTable.commit(s, Seq((0L, 0L, -101L)).toDF("x", "y", "v").coalesce(1),
        table, overwrite = false)
      val (_, r2, k2) = TxnLayout.reclusterIncremental(s, table)
      TxnTable.read(s, table)
        .agg(count(lit(1)).as("cnt"), sum("v").as("v_sum"),
          sum(col("x") + col("y")).as("xy_sum"))
        .withColumn("r1", lit(r1.toLong)).withColumn("k1", lit(k1.toLong))
        .withColumn("r2", lit(r2.toLong)).withColumn("k2", lit(k2.toLong))
    },

    // ── RANGE-QUANTIZED clustering on RAW wide-domain keys, txn
    //    lifecycle (TxnLayout.optimizeClustered quantize=true — the
    //    default): both clustering columns span domains ≫ 2^16
    //    (o_orderkey·1000003, o_custkey·999983), the regime where the
    //    curve's low-16-bit mask would alias and box pruning would
    //    collapse. optimizeClustered measures each column's [min, max],
    //    scales to [0, 2^16), and RECORDS the bounds in the cluster
    //    sidecar so incremental rounds map stale rows into the same
    //    code space. Staged pins ride the hash: the skipping stats
    //    prune a strict file subset for an x-range box on the RAW
    //    values (prune_strict); the far append CLAMPS to the top edge
    //    bucket — the (qmax,qmax) literal pins the max code — so it
    //    provably pulls exactly the top clustered file (r1=2, k1=3);
    //    the (0,0) append lands in the min-pinned first file (r2=2,
    //    k2=3). Content equality proves every round moved layout only.
    sql("q_src_recluster_raw",
      """WITH base AS (
        |  SELECT o_orderkey * 1000003 AS x, o_custkey * 999983 AS y,
        |         o_orderkey AS v FROM orders
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (0, 0, -100),
        |    (20000060000, 19999660000, -102),
        |    (30000090000, 29999490000, 1),
        |    (30001090003, 29999490000, 2),
        |    (30000090000, 30000489983, 3),
        |    (0, 0, -101)) AS t(x, y, v))
        |SELECT COUNT(*) AS cnt, CAST(SUM(v) AS BIGINT) AS v_sum,
        |       CAST(SUM(x + y) AS BIGINT) AS xy_sum,
        |       CAST(2 AS BIGINT) AS r1, CAST(3 AS BIGINT) AS k1,
        |       CAST(2 AS BIGINT) AS r2, CAST(3 AS BIGINT) AS k2,
        |       TRUE AS prune_strict
        |FROM base""".stripMargin) { (s, d) =>
      import graft.sources.{TxnLayout, TxnStats}
      import s.implicits._
      val table = tmp("txn_recluster_raw")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val o = Tables.orders(s, d).select(
        (col("o_orderkey") * 1000003L).as("x"),
        (col("o_custkey") * 999983L).as("y"),
        col("o_orderkey").as("v"))
      val maxOk = Tables.orders(s, d)
        .agg(max(col("o_orderkey").cast("long"))).head().getLong(0)
      // (0,0) pins the min code; (20000·m_x, 20000·m_y) pins the max —
      // 20000 clears o_orderkey at every test sf, so later far appends
      // clamp INTO the top file's recorded range, deterministically
      TxnTable.commit(s, o.union(Seq(
          (0L, 0L, -100L),
          (20000L * 1000003L, 20000L * 999983L, -102L)).toDF("x", "y", "v")),
        table, overwrite = false)
      TxnLayout.optimizeClustered(s, table, Seq("x", "y"), numFiles = 4)
      TxnStats.refresh(s, table, "x")
      // strict-subset pruning on the RAW values: the quantized layout
      // keeps per-file x intervals tight, so a quarter-domain box
      // cannot open every file (the aliased regime would)
      val (toRead, nLive) = TxnStats.pruneFiles(s, table, "x",
        0L, (maxOk / 4) * 1000003L)
      val pruneStrict = toRead.size < nLive
      TxnTable.commit(s, Seq(
          (30000L * 1000003L, 30000L * 999983L, 1L),
          (30001L * 1000003L, 30000L * 999983L, 2L),
          (30000L * 1000003L, 30001L * 999983L, 3L))
        .toDF("x", "y", "v").coalesce(1), table, overwrite = false)
      val (_, r1, k1) = TxnLayout.reclusterIncremental(s, table, numFiles = 1)
      TxnTable.commit(s, Seq((0L, 0L, -101L)).toDF("x", "y", "v").coalesce(1),
        table, overwrite = false)
      val (_, r2, k2) = TxnLayout.reclusterIncremental(s, table, numFiles = 1)
      TxnTable.read(s, table)
        .agg(count(lit(1)).as("cnt"), sum("v").as("v_sum"),
          sum(col("x") + col("y")).as("xy_sum"))
        .withColumn("r1", lit(r1.toLong)).withColumn("k1", lit(k1.toLong))
        .withColumn("r2", lit(r2.toLong)).withColumn("k2", lit(k2.toLong))
        .withColumn("prune_strict", lit(pruneStrict))
    },

    // ── IRREDUCIBLE TIED VALUES → SALT escalation (maintainClustered
    //    rung 2): half the rows share ONE value — a mega key no
    //    value-monotone code can separate (equi-depth's documented
    //    residue), so the range partitioner leaves one file holding it
    //    all regardless of the requested count. The policy detects the
    //    skew on an (unsalted) equi-depth layout and re-optimizes with
    //    the PARTITIONER-ONLY whole-row tiebreak: file sizes bound
    //    again while the code space — and so every pruning decision —
    //    is untouched. Pins ride the hash: the escalation fired and
    //    recorded salt mode, the skew collapsed (>3 → <2.5), and the
    //    tied-point content READ THROUGH the pruned salted layout
    //    equals the oracle's plain filter.
    sql("q_layout_tied_salt",
      """WITH t AS (
        |  SELECT CASE WHEN o_orderkey % 2 = 0 THEN 777000000
        |              ELSE o_orderkey * 1000003 END AS x,
        |         o_orderkey AS v
        |  FROM orders)
        |SELECT COUNT(*) AS cnt, CAST(SUM(v) AS BIGINT) AS v_sum,
        |       TRUE AS escalated_salt, TRUE AS skew_bounded
        |FROM t WHERE x = 777000000""".stripMargin) { (s, d) =>
      import graft.sources.{TxnLayout, TxnStats}
      val table = tmp("txn_tied_salt")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      TxnTable.commit(s, Tables.orders(s, d).select(
          when(col("o_orderkey") % 2 === 0, 777000000L)
            .otherwise(col("o_orderkey") * 1000003L).as("x"),
          col("o_orderkey").as("v"))
          .withColumn("y", col("x")).select("x", "y", "v"),
        table, overwrite = false)
      TxnLayout.optimizeClustered(s, table, Seq("x", "y"), numFiles = 16,
        quantMode = "equidepth")
      val skew1 = TxnLayout.fileSkew(table)
      val r = TxnLayout.maintainClustered(s, table,
        maxStaleFraction = 1e18, maxFileSkew = 3.0)
      val sp = TxnLayout.readSpec(table).get
      val skew2 = TxnLayout.fileSkew(table)
      TxnStats.prunedRead(s, table, "x", 777000000L, 777000000L)
        .agg(count(lit(1)).as("cnt"), sum("v").as("v_sum"))
        .withColumn("escalated_salt",
          lit(r.isDefined && sp.salt && sp.qbounds.nonEmpty))
        .withColumn("skew_bounded", lit(skew1 > 3.0 && skew2 < 2.5))
    },

    // ── TEMPORAL clustering on the RAW timestamp column — no manual
    //    epoch-cast: optimizeClustered quantizes o_orderdate on its
    //    micro-second ORDINAL (Layout.ordinalExpr), the leading
    //    clustering column of any real 100 TB fact. Pins ride the hash:
    //    a quarter-long time window prunes a STRICT file subset through
    //    the typed skipping stats (pruned_strict) and the pruned read's
    //    content equals the oracle's plain filter; then time marches on
    //    — a far-future append lands wholly CLAMPED beyond the recorded
    //    bounds (the Timestamp sidecars convert to ordinals), the
    //    maintenance policy re-optimizes with re-measured bounds
    //    covering the new epoch, and the window still prunes (regrown).
    sql("q_layout_time_raw",
      """SELECT o_orderkey, CAST(epoch_us(o_orderdate) AS BIGINT) AS od_us,
        |       TRUE AS pruned_strict, TRUE AS regrown
        |FROM orders
        |WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01'
        |                      AND TIMESTAMP '1996-03-31'
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      import graft.sources.{TxnLayout, TxnStats}
      val table = tmp("txn_layout_time")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderdate")
      TxnTable.commit(s, o, table, overwrite = false)
      TxnLayout.optimizeClustered(s, table,
        Seq("o_orderdate", "o_custkey"), numFiles = 8)
      val dt = TxnTable.read(s, table).schema("o_orderdate").dataType
      // the testdata's physical micros land as LTZ or NTZ depending on
      // generation (TESTDATA gotcha) — bounds must match the column
      def b(day: String): Any = dt match {
        case org.apache.spark.sql.types.TimestampNTZType =>
          java.time.LocalDateTime.parse(s"${day}T00:00:00")
        case _ => java.sql.Timestamp.valueOf(s"$day 00:00:00")
      }
      // time marches on: a bulk 7+ years past the measured bounds is
      // fully clamped; the policy's clamped-mass trigger re-optimizes
      // with RE-MEASURED bounds (the stale path is disabled by the
      // huge maxStaleFraction, so only regrow can explain the rewrite)
      TxnTable.commit(s,
        s.range(1, 601).select(
          (-col("id")).as("o_orderkey"), col("id").as("o_custkey"),
          lit("2005-06-01 00:00:00").cast(dt).as("o_orderdate")),
        table, overwrite = false)
      val (clamped, _) = TxnLayout.boundsStaleness(s, table)
      val r = TxnLayout.maintainClustered(s, table,
        maxStaleFraction = 1e18, maxClampedFraction = 1e-6)
      val hi2005 = TxnLayout.readSpec(table).get.quant
        .find(_._1 == "o_orderdate").get._3
      val regrown = clamped == 600L && r.isDefined &&
        hi2005 == java.time.LocalDateTime.parse("2005-06-01T00:00:00")
          .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
      val (toRead, nLive) = TxnStats.pruneFiles(s, table, "o_orderdate",
        b("1996-01-01"), b("1996-03-31"))
      TxnStats.prunedRead(s, table, "o_orderdate",
          b("1996-01-01"), b("1996-03-31"))
        .select(col("o_orderkey"),
          graft.operators.Layout.ordinalExpr(col("o_orderdate"), dt)
            .cast("long").as("od_us"),
          lit(toRead.size < nLive).as("pruned_strict"),
          lit(regrown).as("regrown"))
        .orderBy("o_orderkey")
    },

    // ── STRING clustering on the RAW column — no manual surrogate:
    //    optimizeClustered quantizes a host/label dimension through the
    //    truncated-binary-prefix ordinal (Layout.ordinalExpr: first 8
    //    UTF-8 bytes, big-endian, unsigned→signed shift — monotone
    //    exactly like binary string order). The reference's own
    //    subway_station dimension is this shape. Pins ride the hash: a
    //    letter-range box prunes a STRICT file subset through the
    //    string skipping stats, and the pruned read's content equals
    //    the oracle's plain BETWEEN — both engines compare strings in
    //    binary collation, so the box edges agree exactly.
    sql("q_layout_string",
      """WITH u AS (
        |  SELECT o_orderkey,
        |         substring('abcdefghijklmnopqrstuvwxyz',
        |                   CAST(o_orderkey % 26 AS INT) + 1, 1) ||
        |           '-shop.example/' || o_orderkey AS url
        |  FROM orders)
        |SELECT o_orderkey, url, TRUE AS pruned_strict
        |FROM u WHERE url BETWEEN 'c' AND 'g'
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      import graft.sources.{TxnLayout, TxnStats}
      val table = tmp("txn_layout_string")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val data = Tables.orders(s, d).select(
        col("o_orderkey"),
        concat(lit("abcdefghijklmnopqrstuvwxyz")
            .substr((col("o_orderkey") % 26 + 1).cast("int"), lit(1)),
          lit("-shop.example/"), col("o_orderkey").cast("string")).as("url"),
        col("o_custkey"))
      TxnTable.commit(s, data, table, overwrite = false)
      TxnLayout.optimizeClustered(s, table, Seq("url", "o_custkey"),
        numFiles = 8)
      val (toRead, nLive) = TxnStats.pruneFiles(s, table, "url", "c", "g")
      TxnStats.prunedRead(s, table, "url", "c", "g")
        .select(col("o_orderkey"), col("url"),
          lit(toRead.size < nLive).as("pruned_strict"))
        .orderBy("o_orderkey")
    },

    // ── EQUI-DEPTH clustering quantization (TxnLayout.optimizeClustered
    //    quantMode="equidepth", the native RankBucket expression): the
    //    value-concentration regime range scaling cannot serve — 90% of
    //    the rows tie over 100 small values while a 10% tail stretches
    //    the domain ~3·10^7×, so range scaling maps the dense mass to
    //    ONE bucket (a tied code repartitionByRange cannot split: one
    //    fat file, and any dense-region box reads it whole), where
    //    equi-depth boundaries are the column's own quantiles and the
    //    dense mass spreads over most buckets. Pins ride the hash: the
    //    range layout reads over half the table for the dense box
    //    (dense_collapsed), equi-depth under half of that
    //    (equidepth_wins), and the box content — read THROUGH the
    //    pruned scan — equals the oracle's plain filter.
    sql("q_layout_equidepth",
      """WITH d AS (
        |  SELECT CASE WHEN o_orderkey % 10 < 9 THEN o_orderkey % 100
        |              ELSE o_orderkey * 3000000 END AS x,
        |         o_orderkey AS v
        |  FROM orders)
        |SELECT COUNT(*) AS cnt, CAST(SUM(v) AS BIGINT) AS v_sum,
        |       TRUE AS dense_collapsed, TRUE AS equidepth_wins
        |FROM d WHERE x BETWEEN 40 AND 60""".stripMargin) { (s, d) =>
      import graft.sources.{TxnLayout, TxnStats}
      val tR = tmp("txn_eqd_range"); val tE = tmp("txn_eqd_equi")
      Seq(tR, tE).foreach(t =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t)))
      val data = Tables.orders(s, d).select(
          when(col("o_orderkey") % 10 < 9, col("o_orderkey") % 100)
            .otherwise(col("o_orderkey") * 3000000L).as("x"),
          col("o_orderkey").cast("long").as("v"))
        .withColumn("y", col("x"))
        .select("x", "y", "v")
      Seq(tR, tE).foreach(t =>
        TxnTable.commit(s, data, t, overwrite = false))
      TxnLayout.optimizeClustered(s, tR, Seq("x", "y"), numFiles = 16)
      TxnLayout.optimizeClustered(s, tE, Seq("x", "y"), numFiles = 16,
        quantMode = "equidepth")
      def rowsRead(t: String): (Long, Long) = {
        val (toRead, _) = TxnStats.pruneFiles(s, t, "x", 40L, 60L)
        val counts = TxnTable.liveFileRowCounts(t).toMap
        (toRead.map(counts).sum, counts.values.sum)
      }
      val (rR, tot) = rowsRead(tR)
      val (rE, _) = rowsRead(tE)
      TxnStats.prunedRead(s, tE, "x", 40L, 60L)
        .agg(count(lit(1)).as("cnt"), sum("v").as("v_sum"))
        .withColumn("dense_collapsed", lit(rR * 2 > tot))
        .withColumn("equidepth_wins", lit(rE * 2 < rR))
    },

    // ── GROWING-DOMAIN maintenance (TxnLayout.boundsStaleness /
    //    maintainClustered maxClampedFraction): quantization bounds are
    //    measured once, so time-correlated ingest (timestamps, monotone
    //    ids — the common 100 TB case) eventually lands EVERY new row
    //    beyond them, clamped into one edge bucket no incremental
    //    round can spread back out. The policy measures the clamped
    //    mass from footer metadata (fresh ingest files fully outside
    //    the bounds) and RE-OPTIMIZES with re-measured bounds when it
    //    crosses the threshold. Staged pins: clamped counts before/
    //    after (b_clamped = the whole shifted batch, d_clamped = 0),
    //    the full-rewrite shape (kept = 0), the re-measured upper
    //    bound covering the grown domain, and a grown-region x-box
    //    pruning a strict file subset — impossible under the old
    //    bounds. Content equality proves only layout moved.
    sql("q_layout_regrow",
      """WITH shift AS (SELECT MAX(o_orderkey) + 1 AS k FROM orders),
        |grown AS (
        |  SELECT o_orderkey * 1000003 AS x, o_orderkey AS v FROM orders
        |  UNION ALL
        |  SELECT (o_orderkey + k) * 1000003, o_orderkey + k
        |  FROM orders, shift)
        |SELECT COUNT(*) AS cnt, CAST(SUM(v) AS BIGINT) AS v_sum,
        |       (SELECT COUNT(*) FROM orders) AS b_clamped,
        |       CAST(0 AS BIGINT) AS d_clamped,
        |       CAST(0 AS BIGINT) AS kept,
        |       (SELECT (2 * MAX(o_orderkey) + 1) * 1000003 FROM orders)
        |         AS new_qhi,
        |       TRUE AS prune_strict
        |FROM grown""".stripMargin) { (s, d) =>
      import graft.sources.{TxnLayout, TxnStats}
      val table = tmp("txn_regrow")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val o = Tables.orders(s, d).select(
        (col("o_orderkey") * 1000003L).as("x"),
        col("o_orderkey").cast("long").as("v"))
      TxnTable.commit(s, o.withColumn("y", col("v") * 999983L)
        .select("x", "y", "v"), table, overwrite = false)
      TxnLayout.optimizeClustered(s, table, Seq("x", "y"), numFiles = 4)
      val maxOk = Tables.orders(s, d)
        .agg(max(col("o_orderkey").cast("long"))).head().getLong(0)
      // the domain grows: a same-sized batch entirely beyond the bounds,
      // shifted past the largest key at every scale factor
      val shift = maxOk + 1
      TxnTable.commit(s, Tables.orders(s, d).select(
          ((col("o_orderkey") + shift) * 1000003L).as("x"),
          ((col("o_orderkey") + shift) * 999983L).as("y"),
          (col("o_orderkey") + shift).as("v")),
        table, overwrite = false)
      val (bClamped, _) = TxnLayout.boundsStaleness(s, table)
      val r = TxnLayout.maintainClustered(s, table,
        maxStaleFraction = 1e-9, maxClampedFraction = 0.4).get
      val (dClamped, _) = TxnLayout.boundsStaleness(s, table)
      val qhi = TxnLayout.readSpec(table).get
        .quant.find(_._1 == "x").get._3
      // a box in the GROWN region prunes only after the re-measure
      val (toRead, nLive) = TxnStats.pruneFiles(s, table, "x",
        (shift + maxOk / 2) * 1000003L, (shift + maxOk) * 1000003L)
      TxnTable.read(s, table)
        .agg(count(lit(1)).as("cnt"), sum("v").as("v_sum"))
        .withColumn("b_clamped", lit(bClamped))
        .withColumn("d_clamped", lit(dClamped))
        .withColumn("kept", lit(r._3.toLong))
        .withColumn("new_qhi", lit(qhi))
        .withColumn("prune_strict", lit(toRead.size < nLive))
    },

    // ── CLUSTER-HEALTH advice + maintenance policy
    //    (LayoutAdvisor.clusterAdvice / TxnLayout.maintainClustered):
    //    the metadata-only row that decides WHEN to recluster. Clean
    //    layout reports zero staleness and declines; a far-range append
    //    makes one stale file whose rows cross the (deliberately tiny)
    //    threshold and recommends; the policy then reclusters and the
    //    follow-up row is clean again with the rewrite's output counted
    //    clustered (4 seed files + 1 reclustered = 5). Every number is
    //    derived from metadata sidecars — no data scan prices the
    //    advice — and the oracle re-derives all three stages.
    sql("q_layout_cluster_advice",
      """SELECT * FROM (
        |  SELECT 'a_clean' AS stage, 'morton' AS curve,
        |         CAST(4 AS BIGINT) AS n_clustered, CAST(0 AS BIGINT) AS n_stale,
        |         CAST(0 AS BIGINT) AS stale_rows,
        |         (SELECT COUNT(*) FROM orders) AS total_rows,
        |         CAST(0 AS BIGINT) AS rec,
        |         CAST(0 AS BIGINT) AS clamped, 'healthy' AS action
        |  UNION ALL
        |  SELECT 'b_stale', 'morton', CAST(4 AS BIGINT), CAST(1 AS BIGINT),
        |         CAST(3 AS BIGINT),
        |         (SELECT COUNT(*) + 3 FROM orders), CAST(1 AS BIGINT),
        |         CAST(3 AS BIGINT), 'recluster_incremental'
        |  UNION ALL
        |  SELECT 'c_maintained', 'morton', CAST(5 AS BIGINT), CAST(0 AS BIGINT),
        |         CAST(0 AS BIGINT),
        |         (SELECT COUNT(*) + 3 FROM orders), CAST(0 AS BIGINT),
        |         CAST(3 AS BIGINT), 'healthy'
        |) ORDER BY stage""".stripMargin) { (s, d) =>
      import graft.sources.TxnLayout
      import s.implicits._
      val table = tmp("cluster_advice")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      TxnTable.commit(s, Tables.orders(s, d).select(
        (col("o_orderkey") % 32768).as("x"),
        (col("o_custkey") % 32768).as("y"),
        col("o_orderkey").as("v")), table, overwrite = false)
      TxnLayout.optimizeClustered(s, table, Seq("x", "y"), numFiles = 4)
      def advice(stage: String) = graft.plans.LayoutAdvisor
        .clusterAdvice(s, table, maxStaleFraction = 1e-9)
        .select(lit(stage).as("stage"), col("curve"),
          col("n_clustered_files").as("n_clustered"),
          col("n_stale_files").as("n_stale"),
          col("stale_rows"), col("total_rows"),
          col("recommend_recluster").cast("long").as("rec"),
          col("clamped_rows").as("clamped"), col("action"))
      val a = advice("a_clean")
      TxnTable.commit(s,
        Seq((40000L, 40000L, 1L), (40001L, 40001L, 2L), (40002L, 40002L, 3L))
          .toDF("x", "y", "v").coalesce(1), table, overwrite = false)
      val b = advice("b_stale")
      assert(TxnLayout.maintainClustered(s, table,
        maxStaleFraction = 1e-9).isDefined)
      val c = advice("c_maintained")
      a.unionByName(b).unionByName(c).orderBy("stage")
    },

    // ── O(Δ) cross-site replication (TxnTable.replicate): seed = the
    //    source's live snapshot copied + published as the replica's
    //    genesis; each sync ships ONLY the log suffix — here the third
    //    slice's file plus the single survivor file a one-file
    //    copy-on-write DELETE rewrote (2 files, pinned), never the
    //    whole table. The replica ends at v3 = seed + two replayed
    //    versions; its v1 time-travel count is the two seeded slices.
    //    Content equality with the source's final state rides the hash.
    sql("q_src_replicate",
      """SELECT COUNT(*) AS cnt, CAST(SUM(o_custkey) AS BIGINT) AS cust_sum,
        |       (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 < 2) AS seed_cnt,
        |       CAST(2 AS BIGINT) AS seed_copied,
        |       CAST(2 AS BIGINT) AS sync_copied,
        |       CAST(3 AS BIGINT) AS dst_version
        |FROM orders
        |WHERE NOT (o_orderkey % 3 = 0 AND o_custkey % 10 = 3)""".stripMargin) { (s, d) =>
      val src = tmp("replica_src"); val dst = tmp("replica_dst")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dst))
      val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      TxnTable.commit(s, o.filter(col("o_orderkey") % 3 === 0).coalesce(1),
        src, overwrite = false)
      TxnTable.commit(s, o.filter(col("o_orderkey") % 3 === 1).coalesce(1),
        src, overwrite = false)
      val (_, seedCopied) = TxnTable.replicate(src, dst)
      TxnTable.commit(s, o.filter(col("o_orderkey") % 3 === 2).coalesce(1),
        src, overwrite = false, tag = Some("slice_c"))
      // the delete matches rows in the FIRST slice's file only, so the
      // sync ships exactly two files: the new slice + one survivor
      TxnTable.deleteWhere(s, src,
        col("o_orderkey") % 3 === 0 && col("o_custkey") % 10 === 3)
      val (dstV, syncCopied) = TxnTable.replicate(src, dst)
      val seedCnt = TxnTable.read(s, dst, asOf = Some(1)).count()
      TxnTable.read(s, dst)
        .agg(count(lit(1)).as("cnt"), sum("o_custkey").as("cust_sum"))
        .withColumn("seed_cnt", lit(seedCnt))
        .withColumn("seed_copied", lit(seedCopied.toLong))
        .withColumn("sync_copied", lit(syncCopied.toLong))
        .withColumn("dst_version", lit(dstV.toLong))
    },

    // ── REPLICA FAILOVER lifecycle (TxnTable.promoteReplica /
    //    demoteToReplica): the half of DR a one-way mirror lacks. The
    //    replica promotes to writable primary (the dead source's sync
    //    attempt REFUSES — pinned), takes an append + a copy-on-write
    //    delete, then the old source demotes under it and the REVERSE
    //    sync ships exactly the post-promotion commits. Pins: the
    //    refusal, the heads (dst v3: seed + 2 post-failover commits;
    //    src v4: its own 2 commits + the 2 replayed — the seed collapse
    //    offsets the numbering by design), and
    //    src/dst content equality after failback (the old source's
    //    rows, read back FROM the old source, must equal the new
    //    primary's state — the oracle recomputes it from scratch).
    sql("q_src_replicate_failover",
      """WITH state AS (
        |  SELECT o_orderkey, o_custkey FROM orders
        |  UNION ALL SELECT * FROM (VALUES (900001, 11), (900002, 12),
        |                                  (900003, 13)) t(o_orderkey, o_custkey))
        |SELECT COUNT(*) AS cnt, CAST(SUM(o_custkey) AS BIGINT) AS cust_sum,
        |       CAST(3 AS BIGINT) AS dst_version,
        |       CAST(4 AS BIGINT) AS src_version,
        |       TRUE AS old_sync_refused, TRUE AS content_equal
        |FROM state WHERE o_custkey % 10 <> 3""".stripMargin) { (s, d) =>
      import s.implicits._
      val src = tmp("failover_src"); val dst = tmp("failover_dst")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dst))
      val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      TxnTable.commit(s, o.filter(col("o_orderkey") % 2 === 0).coalesce(1),
        src, overwrite = false)
      TxnTable.commit(s, o.filter(col("o_orderkey") % 2 === 1).coalesce(1),
        src, overwrite = false)
      TxnTable.replicate(src, dst)
      // source dies → promote; new primary appends and deletes
      TxnTable.promoteReplica(dst)
      TxnTable.commit(s,
        Seq((900001L, 11L), (900002L, 12L), (900003L, 13L))
          .toDF("o_orderkey", "o_custkey").coalesce(1),
        dst, overwrite = false, tag = Some("post_failover"))
      TxnTable.deleteWhere(s, dst, col("o_custkey") % 10 === 3)
      val refused =
        try { TxnTable.replicate(src, dst); false }
        catch { case _: IllegalArgumentException => true }
      // failback: demote the old source, reverse the sync direction
      TxnTable.demoteToReplica(src, dst)
      val (srcV, _) = TxnTable.replicate(dst, src)
      val back = TxnTable.read(s, src)
      val live = TxnTable.read(s, dst)
      val equal = back.exceptAll(live).isEmpty && live.exceptAll(back).isEmpty
      back.agg(count(lit(1)).as("cnt"), sum("o_custkey").as("cust_sum"))
        .withColumn("dst_version", lit(TxnTable.currentVersion(dst).toLong))
        .withColumn("src_version", lit(srcV.toLong))
        .withColumn("old_sync_refused", lit(refused))
        .withColumn("content_equal", lit(equal))
    },

    // ── SQL over one consistent catalog snapshot (TxnCatalog
    //    .registerViews): both tables' views pin file lists from the
    //    SAME catalog entry, so the spark.sql join can never mix a new
    //    version of one table with an old version of the other — the
    //    cross-table consistency the reference's independent to_sql
    //    loads lack.
    sql("q_sql_catalog_snapshot",
      """SELECT c_nationkey AS nation, COUNT(*) AS cnt
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 2 = 0 AND c_custkey % 2 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import graft.sources.TxnCatalog
      import graft.sources.TxnCatalog.Write
      val cat = tmp("txn_sql_catalog")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cat))
      TxnCatalog.commitAll(s, cat, Seq(
        Write("customer", Tables.customer(s, d)
          .filter(col("c_custkey") % 2 === 0)
          .select("c_custkey", "c_nationkey")),
        Write("orders", Tables.orders(s, d)
          .filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_custkey"))))
      TxnCatalog.registerViews(s, cat, prefix = "g8cat_")
      s.sql("""SELECT c.c_nationkey AS nation, COUNT(*) AS cnt
              |FROM g8cat_orders o JOIN g8cat_customer c
              |  ON o.o_custkey = c.c_custkey
              |GROUP BY 1 ORDER BY 1""".stripMargin)
    },

    // ── OPTIMIZE under the txn log (TxnTable.optimize): three one-file
    //    ingest commits compact into ONE file in one atomic rewrite
    //    version. The output hashes the content (unchanged), the file
    //    counts (3 → 1), and the change-feed row count across the
    //    optimize version (0 — every rewritten row cancels as a payload-
    //    hash survivor): layout moved, data did not.
    sql("q_src_optimize",
      """SELECT event_type, COUNT(*) AS cnt,
        |       CAST(3 AS BIGINT) AS files_before,
        |       CAST(1 AS BIGINT) AS files_after,
        |       CAST(0 AS BIGINT) AS n_changes
        |FROM events WHERE event_id % 2 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val table = tmp("txn_optimize")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val ev = Tables.events(s, d).select("event_id", "event_type", "value")
      Seq(0, 2, 4).foreach(m =>
        TxnTable.commit(s, ev.filter(col("event_id") % 6 === m).coalesce(1),
          table, overwrite = false))
      val filesBefore = TxnTable.liveFiles(table).size.toLong
      val v = TxnTable.optimize(s, table, numFiles = 1)
      val filesAfter = TxnTable.liveFiles(table).size.toLong
      val nChanges = TxnTable.changeFeed(s, table, v - 1, v,
        Seq("event_id")).count()
      TxnTable.read(s, table)
        .groupBy("event_type").agg(count(lit(1)).as("cnt"))
        .withColumn("files_before", lit(filesBefore))
        .withColumn("files_after", lit(filesAfter))
        .withColumn("n_changes", lit(nChanges))
        .orderBy("event_type")
    },

    // ── row-level change feed (TxnTable.changeFeed — the Delta CDF
    //    read-side shape) across an insert→merge→overwrite lifecycle:
    //    v2's MERGE rewrites files whose byte-identical survivors must
    //    CANCEL by payload hash (only the real update and insert
    //    surface); v3's overwrite emits pre-image deletes for everything
    //    it drops and suppresses what it kept unchanged.
    sql("q_src_cdf",
      """SELECT CAST(2 AS BIGINT) AS version, 'insert' AS change,
        |       c_custkey, c_nationkey + 100 AS val
        |FROM customer WHERE c_custkey % 3 = 2
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'update', c_custkey, c_nationkey + 100
        |FROM customer WHERE c_custkey % 3 = 1
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'delete', c_custkey, c_nationkey + 100
        |FROM customer WHERE c_custkey % 3 IN (1, 2)
        |ORDER BY version, change, c_custkey""".stripMargin) { (s, d) =>
      val table = tmp("txn_cdf")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey").as("val"))
      TxnTable.commit(s,                                   // v1: %3∈{0,1}
        cust.filter((col("c_custkey") % 3).isin(0, 1)).repartition(4),
        table, overwrite = false)
      graft.operators.Merge.upsert(s, table,               // v2: upd 1, ins 2
        Tables.customer(s, d).filter((col("c_custkey") % 3).isin(1, 2))
          .select(col("c_custkey"), (col("c_nationkey") + 100).as("val")),
        Seq("c_custkey"))
      TxnTable.commit(s,                                   // v3: keep %3=0
        cust.filter(col("c_custkey") % 3 === 0), table, overwrite = true)
      TxnTable.changeFeed(s, table, 1, 3, Seq("c_custkey"))
        .select(col("version").cast("long").as("version"), col("change"),
          col("c_custkey"), col("val"))
        .orderBy("version", "change", "c_custkey")
    },

    // ── CDC-driven incremental VIEW maintenance (Incremental.applyCdc ×
    //    changeFeed(updateImages)): a per-nation (cnt, sum_spend) view
    //    refreshed ONLY from the change feed across a merge (stage 2:
    //    updates retract old contributions via pre-images, inserts add)
    //    and an overwrite (stage 3: deletes retract; view equals the
    //    %3=0 remainder). The oracle recomputes both stages from
    //    scratch — O(|feed|) maintenance vs O(history), same rows.
    sql("q_src_cdf_view",
      """WITH c AS (SELECT c_custkey, c_nationkey AS nation,
        |                  c_custkey % 100 AS spend FROM customer)
        |SELECT CAST(2 AS BIGINT) AS stage, nation, COUNT(*) AS cnt,
        |       CAST(SUM(CASE WHEN c_custkey % 3 = 1 THEN spend + 1000
        |                     ELSE spend END) AS BIGINT) AS sum_spend
        |FROM c GROUP BY nation
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), nation, COUNT(*),
        |       CAST(SUM(spend) AS BIGINT)
        |FROM c WHERE c_custkey % 3 = 0 GROUP BY nation
        |ORDER BY stage, nation""".stripMargin) { (s, d) =>
      import graft.operators.{Incremental, Merge}
      val table = tmp("txn_cdf_view")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey").as("nation"),
          (col("c_custkey") % 100).as("spend"))
      TxnTable.commit(s,                                    // v1: %3∈{0,1}
        cust.filter((col("c_custkey") % 3).isin(0, 1)).repartition(4),
        table, overwrite = false)
      def refresh(view: org.apache.spark.sql.DataFrame, from: Int, to: Int) =
        Incremental.applyCdc(view,
          TxnTable.changeFeed(s, table, from, to, Seq("c_custkey"),
            updateImages = true),
          Seq("nation"), "cnt", Map("sum_spend" -> "spend"))
      val view1 = TxnTable.read(s, table).groupBy("nation")
        .agg(count(lit(1)).as("cnt"), sum("spend").as("sum_spend"))
        .cache()
      view1.count()                                         // pin the v1 base
      Merge.upsert(s, table,                                // v2: upd 1, ins 2
        cust.filter((col("c_custkey") % 3).isin(1, 2))
          .withColumn("spend",
            when(col("c_custkey") % 3 === 1, col("spend") + 1000)
              .otherwise(col("spend"))),
        Seq("c_custkey"))
      val view2 = refresh(view1, 1, 2).cache()
      view2.count()                                         // pin pre-overwrite
      TxnTable.commit(s,                                    // v3: keep %3=0
        cust.filter(col("c_custkey") % 3 === 0), table, overwrite = true)
      val view3 = refresh(view2, 2, 3)
      view2.withColumn("stage", lit(2L))
        .unionByName(view3.withColumn("stage", lit(3L)))
        .select("stage", "nation", "cnt", "sum_spend")
        .orderBy("stage", "nation")
    },

    // ── CHANGE FEED × SCD2 composition: the warehouse's own row-level
    //    diffs drive dimension-history maintenance — each version's feed
    //    (survivor-suppressed, so ONLY real changes flow) folds through
    //    scd2Apply with the version as the effective time. The oracle
    //    derives the full version-history analytically from the planted
    //    update predicates; matching it proves feed minimality AND the
    //    SCD2 transition logic end to end.
    sql("q_src_cdf_scd2",
      """WITH st AS (
        |  SELECT c_custkey AS k, c_mktsegment AS s1,
        |         CASE WHEN c_custkey % 5 = 0 THEN 'SEG_A'
        |              ELSE c_mktsegment END AS s2
        |  FROM customer),
        |s3t AS (SELECT k, s1, s2,
        |               CASE WHEN k % 7 = 0 THEN 'SEG_B' ELSE s2 END AS s3
        |        FROM st),
        |hist AS (
        |  SELECT k, s1 AS seg, CAST(1 AS BIGINT) AS valid_from,
        |         CAST(CASE WHEN s2 <> s1 THEN 2
        |                   WHEN s3 <> s2 THEN 3 END AS BIGINT) AS valid_to,
        |         s2 = s1 AND s3 = s2 AS is_current
        |  FROM s3t
        |  UNION ALL
        |  SELECT k, s2, 2, CAST(CASE WHEN s3 <> s2 THEN 3 END AS BIGINT),
        |         s3 = s2
        |  FROM s3t WHERE s2 <> s1
        |  UNION ALL
        |  SELECT k, s3, 3, CAST(NULL AS BIGINT), TRUE
        |  FROM s3t WHERE s3 <> s2)
        |SELECT k, seg, valid_from, valid_to, is_current
        |FROM hist ORDER BY k, valid_from""".stripMargin) { (s, d) =>
      val table = tmp("txn_cdf_scd2")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      // one partition + one materialization: base feeds three commits,
      // and a single-file table keeps every change-feed diff a
      // single-task join instead of 32 near-empty shuffle tasks
      val base = Tables.customer(s, d)
        .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
        .coalesce(1).localCheckpoint(true)
      TxnTable.commit(s, base, table, overwrite = false)          // v1
      graft.operators.Merge.upsert(s, table,
        base.filter(col("k") % 5 === 0).withColumn("seg", lit("SEG_A")),
        Seq("k"))                                                 // v2
      graft.operators.Merge.upsert(s, table,
        base.filter(col("k") % 7 === 0).withColumn("seg", lit("SEG_B")),
        Seq("k"))                                                 // v3
      var dim = TxnTable.read(s, table, asOf = Some(1))
        .select(col("k"), col("seg"), lit(1L).as("valid_from"),
          lit(null).cast("long").as("valid_to"), lit(true).as("is_current"))
      for (v <- 2 to 3) {
        // checkpoint BOTH fold inputs: scd2Apply references `changes` in
        // two legs and `dim` in three, so an un-cut fold re-runs each
        // version's full-outer feed diff 2^depth times (the iterative-
        // lineage trap — see Graph.shortestPaths)
        val changes = TxnTable
          .changeFeed(s, table, fromExclusive = v - 1, toInclusive = v,
            keys = Seq("k"))
          .filter(col("change").isin("insert", "update"))
          .select(col("k"), col("seg"))
          .localCheckpoint(true)
        dim = graft.operators.Scd.scd2Apply(dim, changes, "k", Seq("seg"),
          effectiveTs = lit(v.toLong))
          .localCheckpoint(true)
      }
      dim.select("k", "seg", "valid_from", "valid_to", "is_current")
        .orderBy("k", "valid_from")
    },

    // ── contract-gated commit (TxnTable.commitChecked × Contracts):
    //    CHECK constraints enforced at the write boundary in ONE pass
    //    (violation counters ride the write job as Observation metrics).
    //    The clean slice publishes; the second commit violates its range
    //    rule and must leave NO trace — the output hashes the surviving
    //    table state plus the rejection, so a leaked bad commit fails
    //    the oracle.
    sql("q_src_commit_checked",
      """SELECT COUNT(*) AS n, COUNT(DISTINCT event_type) AS n_types,
        |       CAST(1 AS BIGINT) AS rejected
        |FROM events WHERE event_id % 2 = 0""".stripMargin) { (s, d) =>
      import graft.operators.Contracts
      import s.implicits._
      val table = tmp("txn_checked")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val ev = Tables.events(s, d).select("event_id", "event_type", "user_id")
      TxnTable.commitChecked(s, ev.filter(col("event_id") % 2 === 0), table,
        overwrite = false,
        rules = Seq(Contracts.NotNull("event_type"),
          Contracts.InRange("event_id", 0L, Long.MaxValue)))
      val rejected =
        try {
          TxnTable.commitChecked(s, ev.filter(col("event_id") % 2 === 1),
            table, overwrite = false,
            rules = Seq(Contracts.InRange("user_id", 0L, 5L)))
          0L
        } catch { case _: IllegalStateException => 1L }
      TxnTable.read(s, table)
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_type")).as("n_types"))
        .withColumn("rejected", lit(rejected))
    },

    // ── keyed MERGE / upsert (Merge.upsert × TxnTable.commitRewrite):
    //    matched keys (%4∈{1}) take the source row, unmatched source keys
    //    (%4∈{3}) insert, and ONLY files containing a matched key are
    //    rewritten — the Delta MERGE essentials. The final snapshot is
    //    one anti-join ∪ source away from the base table, which is
    //    exactly what the oracle replays.
    sql("q_src_merge",
      """SELECT c_custkey, c_nationkey AS val
        |FROM customer WHERE c_custkey % 4 IN (0, 2)
        |UNION ALL
        |SELECT c_custkey, c_nationkey + 100 AS val
        |FROM customer WHERE c_custkey % 4 IN (1, 3)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val table = tmp("txn_merge")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey").as("val"))
      TxnTable.commit(s,
        cust.filter((col("c_custkey") % 4).isin(0, 1)).repartition(4),
        table, overwrite = false)                       // v1: 4 files
      TxnTable.commit(s,
        cust.filter(col("c_custkey") % 4 === 2).repartition(2),
        table, overwrite = false)                       // v2: +2 files
      val source = Tables.customer(s, d)
        .filter((col("c_custkey") % 4).isin(1, 3))
        .select(col("c_custkey"), (col("c_nationkey") + 100).as("val"))
      graft.operators.Merge.upsert(s, table, source, Seq("c_custkey"))
      TxnTable.read(s, table).orderBy("c_custkey")
    },

    // ── MULTI-TABLE atomic commit (TxnCatalog): the reference's
    //    schema-gated DAG loads six warehouse tables "together"
    //    (pipeline.py:1068-1074) but each to_sql lands alone — a crash
    //    mid-run leaves the warehouse half-updated. Here txn 1 commits
    //    cust+ord in ONE catalog transaction, a simulated crash strands
    //    an orphan cust version (table-log committed, catalog entry never
    //    published), and txn 2 appends cust / overwrites ord. The output
    //    reads every (table × txn) snapshot through the catalog: the
    //    orphan's keys (%3=1) must appear NOWHERE — that invisibility is
    //    what the hash gates.
    sql("q_src_txn_multi",
      """SELECT 'cust' AS tbl, CAST(1 AS BIGINT) AS txn, COUNT(*) AS n,
        |       CAST(SUM(c_custkey) AS BIGINT) AS key_sum
        |FROM customer WHERE c_custkey % 3 = 0
        |UNION ALL
        |SELECT 'cust', CAST(2 AS BIGINT), COUNT(*), CAST(SUM(c_custkey) AS BIGINT)
        |FROM customer WHERE c_custkey % 3 IN (0, 2)
        |UNION ALL
        |SELECT 'ord', CAST(1 AS BIGINT), COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
        |FROM orders WHERE o_orderkey % 4 = 0
        |UNION ALL
        |SELECT 'ord', CAST(2 AS BIGINT), COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
        |FROM orders WHERE o_orderkey % 4 IN (1, 2)
        |ORDER BY tbl, txn""".stripMargin) { (s, d) =>
      import graft.sources.TxnCatalog
      import graft.sources.TxnCatalog.Write
      val cat = tmp("txn_catalog")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cat))
      val cust = (ms: Seq[Int]) => Tables.customer(s, d)
        .filter((col("c_custkey") % 3).isin(ms: _*)).select("c_custkey")
      val ord = (ms: Seq[Int]) => Tables.orders(s, d)
        .filter((col("o_orderkey") % 4).isin(ms: _*)).select("o_orderkey")
      TxnCatalog.commitAll(s, cat, Seq(              // txn 1, atomic pair
        Write("cust", cust(Seq(0))), Write("ord", ord(Seq(0)))))
      TxnTable.commit(s, cust(Seq(1)),               // crash: orphan version
        TxnCatalog.tablePath(cat, "cust"), overwrite = false)
      TxnCatalog.commitAll(s, cat, Seq(              // txn 2
        Write("cust", cust(Seq(2))),
        Write("ord", ord(Seq(1, 2)), overwrite = true)))
      def snap(tbl: String, txn: Int, key: String) =
        TxnCatalog.read(s, cat, tbl, asOf = Some(txn))
          .agg(count(lit(1)).as("n"), sum(col(key)).as("key_sum"))
          .select(lit(tbl).as("tbl"), lit(txn.toLong).as("txn"),
            col("n"), col("key_sum"))
      snap("cust", 1, "c_custkey")
        .unionByName(snap("cust", 2, "c_custkey"))
        .unionByName(snap("ord", 1, "o_orderkey"))
        .unionByName(snap("ord", 2, "o_orderkey"))
        .orderBy("tbl", "txn")
    },

    // ── zero-rewrite COLUMN RENAME (Delta column mapping, minimal honest
    //    form): physical parquet names never change; one metadata entry
    //    remaps physical→logical, reads rename at scan time, appends
    //    written under the LOGICAL name land on the physical schema, and
    //    a logical-name delete predicate resolves through the map. The
    //    hashed `cols` string pins the schema each stage presents —
    //    including the pre-rename snapshot keeping its old name.
    sql("q_src_rename",
      """SELECT 'a_renamed' AS stage, 'o_orderkey,buyer_id' AS cols,
        |       COUNT(*) AS n, CAST(SUM(o_custkey) AS BIGINT) AS key_sum
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |UNION ALL
        |SELECT 'b_append', 'o_orderkey,buyer_id', COUNT(*), CAST(SUM(o_custkey) AS BIGINT)
        |FROM orders
        |UNION ALL
        |SELECT 'c_delete', 'o_orderkey,buyer_id', COUNT(*), CAST(SUM(o_custkey) AS BIGINT)
        |FROM orders WHERE o_custkey % 7 <> 0
        |UNION ALL
        |SELECT 'd_travel', 'o_orderkey,o_custkey', COUNT(*), CAST(SUM(o_custkey) AS BIGINT)
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |ORDER BY stage""".stripMargin) { (s, d) =>
      import graft.sources.TxnCatalog
      import graft.sources.TxnCatalog.Write
      val cat = tmp("txn_rename")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cat))
      val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      TxnCatalog.commitAll(s, cat, Seq(                       // txn 1
        Write("ord", ord.filter((col("o_orderkey") % 3).isin(0, 1)))))
      TxnCatalog.renameColumn(s, cat, "ord", "o_custkey", "buyer_id") // txn 2
      def stage(name: String, asOf: Option[Int], keyCol: String) = {
        val df = TxnCatalog.read(s, cat, "ord", asOf)
        df.agg(count(lit(1)).as("n"), sum(col(keyCol)).as("key_sum"))
          .select(lit(name).as("stage"),
            lit(df.columns.mkString(",")).as("cols"), col("n"), col("key_sum"))
      }
      val a = stage("a_renamed", Some(2), "buyer_id")
      TxnCatalog.commitAll(s, cat, Seq(                       // txn 3: append
        Write("ord", ord.filter(col("o_orderkey") % 3 === 2)
          .withColumnRenamed("o_custkey", "buyer_id"))))
      val b = stage("b_append", Some(3), "buyer_id")
      TxnCatalog.deleteWhereMor(s, cat, "ord",                // txn 4
        col("buyer_id") % 7 === 0)
      a.unionByName(b)
        .unionByName(stage("c_delete", None, "buyer_id"))
        .unionByName(stage("d_travel", Some(1), "o_custkey"))
        .orderBy("stage")
    },

    // ── zero-rewrite DROP COLUMN (the third schema-evolution leg next to
    //    mergeSchema-add and q_src_rename): one metadata entry hides the
    //    physical column; post-drop appends simply omit it (mixed files
    //    reconcile deterministically), time travel still shows it, and
    //    the hashed `cols` string pins each stage's schema.
    sql("q_src_drop",
      """SELECT 'a_dropped' AS stage, 'o_orderkey,o_custkey' AS cols,
        |       COUNT(*) AS n, CAST(SUM(o_custkey) AS BIGINT) AS key_sum
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT 'b_append', 'o_orderkey,o_custkey', COUNT(*), CAST(SUM(o_custkey) AS BIGINT)
        |FROM orders
        |UNION ALL
        |SELECT 'c_travel', 'o_orderkey,o_custkey,o_orderpriority', COUNT(*),
        |       CAST(SUM(o_custkey) AS BIGINT)
        |FROM orders WHERE o_orderkey % 2 = 0
        |ORDER BY stage""".stripMargin) { (s, d) =>
      import graft.sources.TxnCatalog
      import graft.sources.TxnCatalog.Write
      val cat = tmp("txn_drop")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cat))
      val ord = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderpriority")
      TxnCatalog.commitAll(s, cat, Seq(                        // txn 1
        Write("ord", ord.filter(col("o_orderkey") % 2 === 0))))
      TxnCatalog.dropColumn(s, cat, "ord", "o_orderpriority")  // txn 2
      def stage(name: String, asOf: Option[Int]) = {
        val df = TxnCatalog.read(s, cat, "ord", asOf)
        df.agg(count(lit(1)).as("n"), sum("o_custkey").as("key_sum"))
          .select(lit(name).as("stage"),
            lit(df.columns.mkString(",")).as("cols"), col("n"), col("key_sum"))
      }
      val a = stage("a_dropped", Some(2))
      TxnCatalog.commitAll(s, cat, Seq(                        // txn 3
        Write("ord", ord.filter(col("o_orderkey") % 2 === 1)
          .drop("o_orderpriority"))))
      a.unionByName(stage("b_append", None))
        .unionByName(stage("c_travel", Some(1)))
        .orderBy("stage")
    },

    // ── multi-table atomic FORGET (right to be forgotten): one subject
    //    predicate per table, each staged as a deletion-vector version,
    //    ALL published through one catalog entry — readers see the
    //    subject erased everywhere or nowhere. Zero data movement (DV
    //    semantics); time travel to the pre-forget transaction still
    //    resurrects, until vacuum retires it (the GDPR retention trade,
    //    same as Delta's).
    sql("q_privacy_forget",
      """SELECT 'cust' AS tbl, COUNT(*) AS n,
        |       CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
        |       (SELECT COUNT(*) FROM customer WHERE c_custkey % 9 = 0) AS forgotten
        |FROM customer WHERE c_custkey % 9 <> 0
        |UNION ALL
        |SELECT 'ord', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
        |       (SELECT COUNT(*) FROM orders WHERE o_custkey % 9 = 0)
        |FROM orders WHERE o_custkey % 9 <> 0
        |ORDER BY tbl""".stripMargin) { (s, d) =>
      import graft.sources.TxnCatalog
      import graft.sources.TxnCatalog.Write
      val cat = tmp("txn_forget")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cat))
      TxnCatalog.commitAll(s, cat, Seq(
        Write("cust", Tables.customer(s, d).select("c_custkey")),
        Write("ord", Tables.orders(s, d).select("o_orderkey", "o_custkey"))))
      val (_, counts) = TxnCatalog.forgetWhere(s, cat, Map(
        "cust" -> (col("c_custkey") % 9 === 0),
        "ord" -> (col("o_custkey") % 9 === 0)))
      def stage(tbl: String, key: String) =
        TxnCatalog.read(s, cat, tbl)
          .agg(count(lit(1)).as("n"), sum(col(key)).as("key_sum"))
          .select(lit(tbl).as("tbl"), col("n"), col("key_sum"),
            lit(counts(tbl)).as("forgotten"))
      stage("cust", "c_custkey")
        .unionByName(stage("ord", "o_orderkey"))
        .orderBy("tbl")
    },

    // ── zero-copy lineage CHECKPOINT (TxnCatalog.compactLineage): an
    //    append-per-micro-batch table's catalog lineage grows O(txns) —
    //    after 4 appends the entry lists 4 versions; the checkpoint
    //    publishes ONE metadata-only version re-listing the live files
    //    (no data written) and the lineage truncates to 1. The output
    //    hashes the lineage LENGTH at each stage next to the content —
    //    both that compaction bounded the metadata and that no row moved;
    //    time travel to the pre-compact entry still replays the long
    //    lineage.
    sql("q_src_lineage_compact",
      """SELECT 'a_pre' AS stage, CAST(4 AS BIGINT) AS lineage_len,
        |       COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders WHERE o_orderkey % 5 IN (0, 1, 2, 3)
        |UNION ALL
        |SELECT 'b_compact', CAST(1 AS BIGINT), COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
        |FROM orders WHERE o_orderkey % 5 IN (0, 1, 2, 3)
        |UNION ALL
        |SELECT 'c_append', CAST(2 AS BIGINT), COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
        |FROM orders WHERE o_orderkey % 5 IN (0, 1, 2, 3, 4)
        |UNION ALL
        |SELECT 'd_travel', CAST(4 AS BIGINT), COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
        |FROM orders WHERE o_orderkey % 5 IN (0, 1, 2, 3)
        |ORDER BY stage""".stripMargin) { (s, d) =>
      import graft.sources.TxnCatalog
      import graft.sources.TxnCatalog.Write
      val cat = tmp("txn_catalog_compact")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cat))
      val slice = (m: Int) => Tables.orders(s, d)
        .filter(col("o_orderkey") % 5 === m).select("o_orderkey")
      (0 to 3).foreach(m =>
        TxnCatalog.commitAll(s, cat, Seq(Write("ev", slice(m)))))
      val preTxn = TxnCatalog.currentTxn(cat)
      val preLen = TxnCatalog.lineageLength(cat, "ev")
      TxnCatalog.compactLineage(s, cat, "ev")
      val postLen = TxnCatalog.lineageLength(cat, "ev")
      TxnCatalog.commitAll(s, cat, Seq(Write("ev", slice(4))))
      val appendLen = TxnCatalog.lineageLength(cat, "ev")
      val travelLen = TxnCatalog.lineageLength(cat, "ev", Some(preTxn))
      def stage(name: String, len: Int, asOf: Option[Int]) =
        TxnCatalog.read(s, cat, "ev", asOf)
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
          .select(lit(name).as("stage"), lit(len.toLong).as("lineage_len"),
            col("n"), col("key_sum"))
      stage("a_pre", preLen, Some(preTxn))
        .unionByName(stage("b_compact", postLen, Some(preTxn + 1)))
        .unionByName(stage("c_append", appendLen, None))
        .unionByName(stage("d_travel", travelLen, Some(preTxn)))
        .orderBy("stage")
    },

    // ── keyed snapshot diff over two txn-table versions (TableDiff ×
    //    TxnTable): v1 holds keys %5∈{0,1}; the overwrite keeps %5=1 with a
    //    doubled price and brings in %5=2 — so the diff is exactly one
    //    removed / one changed / one added class. Payloads never travel:
    //    each side reduces to (key, xxhash64) before the full-outer join.
    sql("q_src_table_diff",
      """SELECT o_orderkey, 'removed' AS change FROM orders WHERE o_orderkey % 5 = 0
        |UNION ALL
        |SELECT o_orderkey, 'changed' FROM orders WHERE o_orderkey % 5 = 1
        |UNION ALL
        |SELECT o_orderkey, 'added' FROM orders WHERE o_orderkey % 5 = 2
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val table = tmp("txn_diff_orders")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table))
      val orders = Tables.orders(s, d)
      val v1 = orders.filter((col("o_orderkey") % 5).isin(0, 1))
        .select("o_orderkey", "o_totalprice")
      val v2 = orders.filter((col("o_orderkey") % 5).isin(1, 2))
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 5 === 1, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      TxnTable.commit(s, v1, table, overwrite = false)
      TxnTable.commit(s, v2, table, overwrite = true)
      graft.operators.TableDiff.diff(
          TxnTable.read(s, table, asOf = Some(1)), TxnTable.read(s, table),
          Seq("o_orderkey"))
        .orderBy("o_orderkey")
    },

    // ── incremental aggregate maintenance (Incremental.mergeAdditive):
    //    the first 20 days' rollup is a materialized snapshot; the
    //    remaining days arrive as a delta batch and merge WITHOUT
    //    rescanning the base — the oracle is the full recompute, so the
    //    check is exactly "incremental == from-scratch". Sums travel as
    //    quantized longs (QueryDef discipline).
    sql("q_src_incremental_agg",
      """SELECT event_type, COUNT(*) AS cnt,
        |       CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS sum_q
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d).select(col("event_type"), col("ts"),
        floor(col("value") * 1000).cast("long").as("q"))
      val cutoff = "2024-01-20"
      def rollup(df: org.apache.spark.sql.DataFrame) = df
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sum("q").as("sum_q"))
      val baseSnapshot = rollup(ev.filter(to_date(col("ts")) < lit(cutoff)))
      val deltaBatch = rollup(ev.filter(to_date(col("ts")) >= lit(cutoff)))
      Incremental.mergeAdditive(baseSnapshot, deltaBatch, Seq("event_type"))
        .orderBy("event_type")
    },

    // ── schema evolution: two parquet batches written under different
    //    schemas into one table dir; the mergeSchema read reconciles by
    //    name and null-extends old files — add-a-column without a rewrite
    sql("q_src_schema_evolution",
      """SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderstatus
        |FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT o_orderkey, CAST(NULL AS DOUBLE), o_orderstatus
        |FROM orders WHERE o_orderkey % 3 = 1
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val path = tmp("schema_evo_orders")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      Tables.orders(s, d).filter(col("o_orderkey") % 3 === 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("append").parquet(path)
      Tables.orders(s, d).filter(col("o_orderkey") % 3 === 1)
        .select("o_orderkey", "o_orderstatus")
        .write.mode("append").parquet(path)
      Sources.readParquetMergedSchema(s, path)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
    },

    // ── ORC sink + scan roundtrip (engine-added second columnar format):
    //    typed columns survive as-is, so the oracle is the source table
    sql("q_src_orc_roundtrip",
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      val path = tmp("orc_supplier")
      Sources.writeOrc(
        Tables.supplier(s, d).select("s_suppkey", "s_name", "s_nationkey", "s_acctbal"), path)
      Sources.readOrc(s, path).orderBy("s_suppkey")
    },

    // ── keyed parquet upsert (MERGE): seed nation, then an update batch
    //    that rewrites 5 names and inserts 2 new keys; the oracle derives
    //    the same merged state from the source table directly
    sql("q_src_upsert",
      """SELECT n_nationkey,
        |       CASE WHEN n_nationkey < 5 THEN upper(n_name) ELSE n_name END AS n_name,
        |       n_regionkey
        |FROM nation
        |UNION ALL
        |SELECT * FROM (VALUES (900, 'ATLANTIS', 0), (901, 'ELBONIA', 1)) t(n_nationkey, n_name, n_regionkey)
        |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      import s.implicits._
      val path = tmp("upsert_nation")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path + ".staging"))
      val base = Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
      Sources.upsertParquet(s, path, base, Seq("n_nationkey")) // seed
      val updates = base.filter($"n_nationkey" < 5)
        .withColumn("n_name", upper($"n_name"))
        .unionByName(Seq((900, "ATLANTIS", 0), (901, "ELBONIA", 1))
          .toDF("n_nationkey", "n_name", "n_regionkey")
          .select($"n_nationkey".cast(base.schema("n_nationkey").dataType),
            $"n_name",
            $"n_regionkey".cast(base.schema("n_regionkey").dataType)))
      Sources.upsertParquet(s, path, updates, Seq("n_nationkey"))
      s.read.parquet(path).orderBy("n_nationkey")
    },

    // ── K2 JDBC sink + S10 JDBC scan through embedded Derby — one batched
    //    write vs the reference's commit-per-row loop (pipeline.py:871-885)
    sql("q_src_jdbc_roundtrip",
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey") { (s, d) =>
      val url = Sources.derbyUrl("graftdb")
      Sources.writeJdbc(Tables.nation(s, d), url, "nation_jdbc")
      Sources.readJdbc(s, url, "nation_jdbc")
        .select(col("n_nationkey").cast("int"), col("n_name"),
                col("n_regionkey").cast("int"))
        .orderBy("n_nationkey")
    },

    // ── K3 catalog/DDL + §3.2 ad-hoc SQL entry point: register the logical
    //    schema, answer SQL through Catalyst
    sql("q_sql_catalog",
      """SELECT r_name, COUNT(*) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, d) =>
      Tables.registerAll(s, d)
      s.sql("""SELECT r_name, COUNT(*) AS n_nations
              |FROM nation JOIN region ON n_regionkey = r_regionkey
              |GROUP BY r_name ORDER BY r_name""".stripMargin)
    },

    // ── ST1 streaming tumbling-window agg (file source, AvailableNow,
    //    watermark, memory sink) — must equal the batch hourly rollup
    sql("q_stream_hourly",
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour_ts,
        |       event_type, COUNT(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      EventsStreaming.hourlyCounts(s, d).orderBy("hour_ts", "event_type")
    },

    // ── streaming cross-run dedup (pipeline.py:215 semantics): event_id is
    //    unique in the testdata so the dedup is a pass-through — the
    //    duplicate-bearing case is covered in the spec suite
    sql("q_stream_dedup",
      """SELECT event_type, COUNT(DISTINCT event_id) AS cnt
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      EventsStreaming.streamingDedupCounts(s, d).orderBy("event_type")
    },

    // ── BOUNDED-state cross-batch dedup (dropDuplicatesWithinWatermark):
    //    a planted file re-delivers the earliest hour of events in a
    //    separate micro-batch (maxFilesPerTrigger=1) and the watermarked
    //    state drops every re-delivery — exact distinct counts with state
    //    that evicts instead of growing forever (what plain dropDuplicates
    //    can't promise a forever-running ingest)
    sql("q_stream_dedup_wm",
      """SELECT event_type, COUNT(DISTINCT event_id) AS cnt
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      EventsStreaming.dedupWithinWatermarkCounts(s, d).orderBy("event_type")
    },

    // ── CDC-style streaming snapshot: foreachBatch merges latest event
    //    per user into a keyed parquet snapshot (staged-swap upsert);
    //    latest-wins by (event time at micros, event_id), so the final
    //    state equals the batch window regardless of batch split
    sql("q_stream_cdc_upsert",
      """WITH r AS (
        |  SELECT user_id, event_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_id AS last_event_id, event_type AS last_type,
        |       value AS last_value
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin) { (s, d) =>
      EventsStreaming.cdcUserSnapshot(s, d).orderBy("user_id")
    },

    // ── ST sliding-window agg (SURVEY §2.11's second window form): 1-hour
    //    windows advancing every 15 min — each event lands in 4 overlapping
    //    windows. Oracle replicates by fanning each event to
    //    time_bucket(15min) - k·15min for k in 0..3; both engines align
    //    window origins on multiples of 900 s, so boundaries agree.
    sql("q_stream_sliding",
      """WITH w AS (
        |  SELECT event_type,
        |         time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
        |           - k * INTERVAL '15 minutes' AS ws
        |  FROM events CROSS JOIN (SELECT unnest(range(4)) AS k))
        |SELECT strftime(ws, '%Y-%m-%d %H:%M') AS win_start, event_type, COUNT(*) AS cnt
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      EventsStreaming.slidingCounts(s, d).orderBy("win_start", "event_type")
    },

    // ── stream-stream inner join: click → purchases within 30 min per
    //    user, time-bounded condition + both-side watermarks (the state-
    //    retention constraint). gap_us is exact: both engines truncate the
    //    parquet nano timestamps to micros the same way.
    sql("q_stream_join",
      """SELECT c.user_id AS user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        |       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM events c JOIN events p ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |ORDER BY click_id, purchase_id""".stripMargin) { (s, d) =>
      EventsStreaming.clickPurchaseJoin(s, d, withinMinutes = 30)
        .orderBy("click_id", "purchase_id")
    },

    // ── LEFT OUTER stream-stream join: q_stream_join's attribution form
    //    that also emits clicks with NO purchase in the window. Null rows
    //    can only emit once the watermark proves no match can still
    //    arrive (state eviction), so sentinel rows push both watermarks
    //    past every real event and the terminal no-data batch flushes the
    //    held clicks — the bounded run equals the batch LEFT JOIN.
    sql("q_stream_join_outer",
      """SELECT c.user_id AS user_id, c.event_id AS click_id,
        |       p.event_id AS purchase_id,
        |       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM events c LEFT JOIN events p ON c.user_id = p.user_id
        | AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |WHERE c.event_type = 'click'
        |ORDER BY click_id, purchase_id""".stripMargin) { (s, d) =>
      EventsStreaming.clickPurchaseLeftJoin(s, d, withinMinutes = 30)
        .orderBy("click_id", "purchase_id")
    },

    // ── FULL OUTER stream-stream join: both unmatched sides flush — a
    //    click with no purchase in-window AND a purchase no click claims
    //    each emit one null-padded row at watermark passage. The sort
    //    key COALESCEs the nullable ids (real event ids are >= 0), so
    //    the row order is total under both engines' null placement.
    sql("q_stream_join_full",
      """WITH c AS (SELECT user_id, event_id, ts FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT user_id AS p_user, event_id AS p_id, ts AS p_ts
        |      FROM events WHERE event_type = 'purchase')
        |SELECT COALESCE(c.user_id, p.p_user) AS user_id,
        |       c.event_id AS click_id, p.p_id AS purchase_id,
        |       epoch_us(p.p_ts) - epoch_us(c.ts) AS gap_us
        |FROM c FULL JOIN p ON c.user_id = p.p_user
        | AND p.p_ts >= c.ts AND p.p_ts <= c.ts + INTERVAL 30 MINUTE
        |ORDER BY user_id, COALESCE(c.event_id, -1), COALESCE(p.p_id, -1)""".stripMargin) { (s, d) =>
      EventsStreaming.clickPurchaseFullJoin(s, d, withinMinutes = 30)
        .orderBy(col("user_id"), coalesce(col("click_id"), lit(-1L)),
          coalesce(col("purchase_id"), lit(-1L)))
    },

    // ── custom streaming state: mapGroupsWithState sessionization (30-min
    //    gap); oracle = batch gaps-and-islands SQL. FLOOR(epoch()) matches
    //    Spark's truncating timestamp→long cast.
    sql("q_stream_sessions",
      """WITH e AS (SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_sec FROM events),
        |d AS (SELECT user_id, ts_sec,
        |             CASE WHEN lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec) IS NULL
        |                       OR ts_sec - lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec) > 1800
        |                  THEN 1 ELSE 0 END AS new_s
        |      FROM e)
        |SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
        |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      EventsStreaming.userSessions(s, d, gapMinutes = 30).orderBy("user_id")
    },

    // ── transformWithState (Spark 4's arbitrary-state API, RocksDB-only):
    //    per-user running profile held in NAMED typed state variables — a
    //    ValueState for the (n_events, value_cents) totals, a MapState for
    //    per-type counts (per-entry updates, not a monolithic blob rewrite).
    //    Values quantize to integer cents before summing, so the running
    //    totals are exact and batch-split-invariant; multi-batch equality
    //    is spec-pinned. Oracle = the batch GROUP BY replay.
    sql("q_stream_tws_profile",
      """WITH per AS (
        |  SELECT user_id, event_type, COUNT(*) AS c,
        |         CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS vc
        |  FROM events GROUP BY 1, 2),
        |agg AS (
        |  SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events,
        |         CAST(SUM(vc) AS BIGINT) AS value_cents,
        |         COUNT(*) AS n_types
        |  FROM per GROUP BY 1),
        |top AS (
        |  SELECT user_id, event_type AS top_type, c AS top_cnt,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY c DESC, event_type) AS rn
        |  FROM per)
        |SELECT a.user_id, a.n_events, a.value_cents, a.n_types,
        |       t.top_type, t.top_cnt
        |FROM agg a JOIN top t ON a.user_id = t.user_id AND t.rn = 1
        |ORDER BY a.user_id""".stripMargin) { (s, d) =>
      TwsStreaming.userProfiles(s, d).orderBy("user_id")
    },

    // ── streaming HLL distinct count (transformWithState ValueState of
    //    sketch registers): per-type distinct users over an unbounded
    //    stream in 2 KiB of state per key. Register-max merging makes
    //    the streaming estimate BIT-EQUAL to the batch HllAggregator
    //    (spec-pinned across batchings), so the oracle gates both the
    //    accuracy bound AND stream==batch — the q_agg_hll hash-gated
    //    contract, streamed.
    sql("q_stream_hll",
      """SELECT event_type,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
        |       TRUE AS within_bound, TRUE AS stream_eq_batch
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val streamEst = TwsStreaming.typeDistinctUsers(s, d)
      val hll = udaf(new graft.functions.HllAggregator(11))
      Tables.events(s, d).groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_distinct"),
          hll(col("user_id")).as("batch_est"))
        .join(streamEst, "event_type")
        .select(col("event_type"), col("exact_distinct"),
          (abs(col("est") - col("exact_distinct")) / col("exact_distinct") < 0.05)
            .as("within_bound"),
          (col("est") === col("batch_est")).as("stream_eq_batch"))
        .orderBy("event_type")
    },

    // ── streaming HEAVY HITTERS via count-min sketch (EventsStreaming
    //    .cmsSketch × operators.CountMin): top-10 users by estimated
    //    event count off a sketch ACCUMULATED BY THE STREAM. The sketch
    //    is a vector sum over fixed integer hashes, so it is merge-order-
    //    independent — the batch replay is bit-equal (hashed in
    //    stream_eq_batch) and the DuckDB oracle recomputes the identical
    //    cells from the same constants. The order-sensitive Misra-Gries
    //    counts could never gate this way (its counts depend on reduce
    //    order); this is the streamable form, with state bounded at
    //    Depth·Width counters no matter the user cardinality.
    sql("q_stream_topk",
      """WITH h(r, a, b) AS (VALUES (0, 1103515245, 12345), (1, 22695477, 1),
        |                           (2, 1664525, 1013904223), (3, 69069, 362437)),
        |sk AS (
        |  SELECT (h.r * 4096 + ((e.user_id * h.a + h.b) % 2147483647) % 4096) AS cell,
        |         COUNT(*) AS cnt
        |  FROM events e CROSS JOIN h GROUP BY 1),
        |est AS (
        |  SELECT c.user_id, MIN(sk.cnt) AS est_cnt
        |  FROM (SELECT DISTINCT user_id FROM events) c CROSS JOIN h
        |  JOIN sk ON sk.cell =
        |    h.r * 4096 + ((c.user_id * h.a + h.b) % 2147483647) % 4096
        |  GROUP BY 1),
        |ex AS (SELECT user_id, COUNT(*) AS exact_cnt FROM events GROUP BY 1),
        |ranked AS (
        |  SELECT est.user_id, est.est_cnt, ex.exact_cnt,
        |         row_number() OVER (ORDER BY est.est_cnt DESC, est.user_id) AS rank
        |  FROM est JOIN ex ON est.user_id = ex.user_id)
        |SELECT CAST(rank AS BIGINT) AS rank, user_id,
        |       CAST(est_cnt AS BIGINT) AS est_cnt,
        |       CAST(exact_cnt AS BIGINT) AS exact_cnt,
        |       TRUE AS stream_eq_batch
        |FROM ranked WHERE rank <= 10 ORDER BY rank""".stripMargin) { (s, d) =>
      import graft.operators.CountMin
      val streamSk = EventsStreaming.cmsSketch(s, d)
      val ev = Tables.events(s, d)
      val batchSk = CountMin.sketch(ev, "user_id")
      val identical = batchSk.withColumnRenamed("cnt", "bcnt")
        .join(streamSk.withColumnRenamed("cnt", "scnt"), Seq("cell"), "full")
        .filter(!(col("bcnt") <=> col("scnt"))).count() == 0
      // the k-row top side broadcasts; exact counts stay a shuffled agg
      val exact = ev.groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
      exact.join(broadcast(CountMin.topK(ev, streamSk, "user_id", 10)),
          "user_id")
        .select(col("rank"), col("user_id"), col("est_cnt"), col("exact_cnt"),
          lit(identical).as("stream_eq_batch"))
        .orderBy("rank")
    },

    // ── FULLY-streaming top-k (the r9 gap closed): candidates live in
    //    transformWithState alongside the per-bucket count-min sketch —
    //    no batch-side probe anywhere; the stream is FORCED through 4
    //    micro-batches (repartitioned stage + maxFilesPerTrigger=1) and
    //    still hashes against the pure-batch oracle because every state
    //    transition is a vector sum or a deterministic re-estimate.
    //    Buckets (user_id % 32) keep each key's full history on one
    //    state key and spread the universe across partitions; the
    //    safety-net flag re-derives the same top-k from a batch replay
    //    of the bucketed sketches.
    sql("q_stream_topk_tws",
      """WITH h(r, a, b) AS (VALUES (0, 1103515245, 12345), (1, 22695477, 1),
        |                           (2, 1664525, 1013904223), (3, 69069, 362437)),
        |sk AS (
        |  SELECT e.user_id % 32 AS bkt,
        |         (h.r * 4096 + ((e.user_id * h.a + h.b) % 2147483647) % 4096) AS cell,
        |         COUNT(*) AS cnt
        |  FROM events e CROSS JOIN h GROUP BY 1, 2),
        |est AS (
        |  SELECT c.user_id, MIN(sk.cnt) AS est_cnt
        |  FROM (SELECT DISTINCT user_id FROM events) c CROSS JOIN h
        |  JOIN sk ON sk.bkt = c.user_id % 32 AND sk.cell =
        |    h.r * 4096 + ((c.user_id * h.a + h.b) % 2147483647) % 4096
        |  GROUP BY 1),
        |ranked AS (
        |  SELECT user_id, est_cnt,
        |         row_number() OVER (ORDER BY est_cnt DESC, user_id) AS rank
        |  FROM est)
        |SELECT CAST(rank AS BIGINT) AS rank, user_id,
        |       CAST(est_cnt AS BIGINT) AS est_cnt, TRUE AS stream_eq_batch
        |FROM ranked WHERE rank <= 10 ORDER BY rank""".stripMargin) { (s, d) =>
      import graft.operators.CountMin
      import graft.streaming.TwsStreaming
      val streamTop = TwsStreaming.cmsTopKTws(s, d, 10)
      // batch replay of the SAME bucketed sketches — the in-Spark safety
      // net proving the stream state transitions lost nothing
      val ev = Tables.events(s, d)
      val probe = ev.select(col("user_id")).distinct()
        .select(col("user_id"), (col("user_id") % 32).as("bkt"),
          explode(array((0 until CountMin.Depth)
            .map(r => CountMin.cell(col("user_id"), r)): _*)).as("cell"))
      val skB = ev.select(col("user_id"), (col("user_id") % 32).as("bkt"))
        .select(col("bkt"), explode(array((0 until CountMin.Depth)
          .map(r => CountMin.cell(col("user_id"), r)): _*)).as("cell"))
        .groupBy("bkt", "cell").agg(count(lit(1)).as("cnt"))
      val estB = probe.join(broadcast(skB), Seq("bkt", "cell"), "left")
        .groupBy("user_id").agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))
      val topB = estB.orderBy(col("est_cnt").desc, col("user_id")).limit(10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val topS = streamTop.collect()
        .map(r => (r.getLong(1), r.getLong(2))).toSet
      streamTop
        .withColumn("stream_eq_batch", lit(topB == topS))
        .orderBy("rank")
    },

    // ── streaming DEAD-LETTER ingest (contracts at the stream boundary):
    //    each micro-batch splits on the rule expressions and BOTH routes
    //    land through ONE atomic catalog transaction — clean table and
    //    quarantine version-locked, replay adjudicated by tag. The
    //    'error' event type and any user_id below 1 quarantine with
    //    their pipe-joined rule names.
    sql("q_stream_quarantine_sink",
      """WITH t AS (
        |  SELECT event_id, user_id, event_type,
        |         CASE WHEN (user_id IS NULL OR user_id < 1 OR user_id > 10000000)
        |                   AND event_type NOT IN ('click','purchase','view','signup')
        |                THEN 'in_range(user_id)|in_set(event_type)'
        |              WHEN user_id IS NULL OR user_id < 1 OR user_id > 10000000
        |                THEN 'in_range(user_id)'
        |              WHEN event_type NOT IN ('click','purchase','view','signup')
        |                THEN 'in_set(event_type)'
        |              ELSE '' END AS broke
        |  FROM events)
        |SELECT 'a_clean' AS grp, COUNT(*) AS n,
        |       CAST(SUM(event_id) AS BIGINT) AS key_sum
        |FROM t WHERE broke = ''
        |UNION ALL
        |SELECT 'q_' || broke, COUNT(*), CAST(SUM(event_id) AS BIGINT)
        |FROM t WHERE broke <> '' GROUP BY broke
        |ORDER BY grp""".stripMargin) { (s, d) =>
      import graft.operators.Contracts
      val (clean, quarantine) = EventsStreaming.quarantineSinkIngest(s, d,
        Seq(Contracts.InRange("user_id", 1L, 10000000L),
          Contracts.InSet("event_type",
            Seq("click", "purchase", "view", "signup"))))
      val a = clean
        .agg(count(lit(1)).as("n"), sum("event_id").as("key_sum"))
        .select(lit("a_clean").as("grp"), col("n"), col("key_sum"))
      val dead = quarantine
        .groupBy(concat(lit("q_"), col("violated_rules")).as("grp"))
        .agg(count(lit(1)).as("n"), sum("event_id").as("key_sum"))
      a.unionByName(dead).orderBy("grp")
    },

    // ── streaming ENFORCE-AT-INGEST (declared constraints at the stream
    //    boundary — the cross-TABLE sibling of q_stream_quarantine_sink's
    //    row-local contracts): each micro-batch splits by the target's
    //    declared RELY constraints — the FK probe joins the DIM's
    //    distinct keys, something a row-local rule can never express —
    //    conforming rows append as txn versions (replay-idempotent by
    //    batch tag), violators quarantine with reasons.
    sql("q_stream_enforced_ingest",
      """SELECT * FROM (
        |  SELECT 'a_good' AS bucket, COUNT(*) AS cnt,
        |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem
        |  UNION ALL SELECT 'b_fk', CAST(1 AS BIGINT), CAST(7 AS BIGINT)
        |  UNION ALL SELECT 'c_notnull', CAST(1 AS BIGINT), CAST(5 AS BIGINT)
        |) ORDER BY bucket""".stripMargin) { (s, d) =>
      import graft.sources.TableConstraints
      import graft.streaming.EventsStreaming
      import s.implicits._
      import org.apache.spark.sql.types.{LongType, StructType}
      val sfKey = d.replaceAll("[^A-Za-z0-9]", "_")
      val root = graft.Scratch.dir(s"/root/repo/target/tmp/senf_$sfKey")
      val dim = s"$root/dim"
      val fact = s"$root/fact"
      val quar = s"$root/quar"
      val in = s"$root/in"
      TxnTable.commit(s, Tables.orders(s, d).select("o_orderkey"), dim,
        overwrite = false)
      new java.io.File(fact).mkdirs()
      TableConstraints.declareUnique(dim, Seq("o_orderkey"),
        validate = Some(s))
      TableConstraints.declareForeignKey(fact, Seq("l_orderkey"), dim,
        Seq("o_orderkey"))
      TableConstraints.declareNotNull(fact, Seq("l_orderkey"))
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity").cast("long").as("qty"))
        .unionByName(Seq((Some(-1L), 7L)).toDF("l_orderkey", "qty"))
        .unionByName(Seq((Option.empty[Long], 5L)).toDF("l_orderkey", "qty"))
        .write.parquet(in)
      val schema = new StructType()
        .add("l_orderkey", LongType).add("qty", LongType)
      val (goodT, quarT) = EventsStreaming.constrainedIngest(s, in, schema,
        fact, quar)
      val good = goodT.agg(count(lit(1)).as("cnt"), sum("qty").as("qty"))
        .select(lit("a_good").as("bucket"), col("cnt"), col("qty"))
      val bad = quarT
        .groupBy(when(col("reason").startsWith("fk"), "b_fk")
          .otherwise("c_notnull").as("bucket"))
        .agg(count(lit(1)).as("cnt"), sum("qty").as("qty"))
      good.unionByName(bad).orderBy("bucket")
    },

    // ── transformWithState INITIAL STATE (the batch→streaming migration
    //    path): history before 2024-01-15 folds into per-user state by ONE
    //    batch aggregation, only later events stream — the old APIs could
    //    only replay all of history through the stream. Output = users
    //    active in the stream window, profile over their FULL history;
    //    oracle = the whole-table replay filtered to stream-active users.
    sql("q_stream_tws_bootstrap",
      """WITH per AS (
        |  SELECT user_id, event_type, COUNT(*) AS c,
        |         CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS vc
        |  FROM events GROUP BY 1, 2),
        |agg AS (
        |  SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events,
        |         CAST(SUM(vc) AS BIGINT) AS value_cents,
        |         COUNT(*) AS n_types
        |  FROM per GROUP BY 1),
        |top AS (
        |  SELECT user_id, event_type AS top_type, c AS top_cnt,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY c DESC, event_type) AS rn
        |  FROM per),
        |active AS (
        |  SELECT DISTINCT user_id FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-15')
        |SELECT a.user_id, a.n_events, a.value_cents, a.n_types,
        |       t.top_type, t.top_cnt
        |FROM agg a
        |JOIN top t ON a.user_id = t.user_id AND t.rn = 1
        |JOIN active ac ON a.user_id = ac.user_id
        |ORDER BY a.user_id""".stripMargin) { (s, d) =>
      TwsStreaming.userProfilesWarmStart(s, d).orderBy("user_id")
    },

    // ── transformWithState EVENT-TIME TIMERS: sessions a later event
    //    never closes are emitted by a registered timer when the
    //    watermark passes last+gap — the capability GroupStateTimeout
    //    only approximated. Every real session emits (in-batch closures
    //    immediately, tail sessions by timer at the sentinel's watermark
    //    push), so the oracle is the FULL batch gaps-and-islands rollup —
    //    including each user's final session, which q_stream_closed_sessions'
    //    emit-on-close form structurally cannot produce.
    sql("q_stream_tws_timers",
      """WITH e AS (SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_sec
        |           FROM events),
        |d AS (SELECT user_id, ts_sec,
        |             CASE WHEN lag(ts_sec) OVER w IS NULL
        |                       OR ts_sec - lag(ts_sec) OVER w > 1800
        |                  THEN 1 ELSE 0 END AS ns
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec)),
        |t AS (SELECT user_id, ts_sec,
        |             SUM(ns) OVER (PARTITION BY user_id ORDER BY ts_sec
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM d)
        |SELECT user_id, MIN(ts_sec) AS start_sec, MAX(ts_sec) AS end_sec,
        |       COUNT(*) AS n_events
        |FROM t GROUP BY user_id, sid
        |ORDER BY user_id, start_sec""".stripMargin) { (s, d) =>
      TwsStreaming.timedSessions(s, d, gapMinutes = 30)
        .orderBy("user_id", "start_sec")
    },

    // ── NATIVE streaming session_window aggregation (§2.11's incremental
    //    window made first-class): Spark's merging session state store
    //    under a watermark, append mode, AvailableNow — flushed
    //    deterministically by a far-future sentinel so every real session
    //    emits (see EventsStreaming.sessionWindowAgg). Oracle = the same
    //    gaps-and-islands replay as the batch q_sessionize_native;
    //    streaming-vs-batch equality is additionally spec-pinned across
    //    multi-batch chunked runs.
    sql("q_stream_session_window",
      """WITH seq AS (
        |  SELECT user_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000
        |              THEN 1 ELSE 0 END AS ns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |tagged AS (
        |  SELECT user_id, ts,
        |         SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM seq)
        |SELECT user_id,
        |       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |       strftime(MAX(ts) + INTERVAL 6 HOUR, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
        |       COUNT(*) AS n_events
        |FROM tagged GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
      EventsStreaming.sessionWindowAgg(s, d, gapHours = 6)
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("session_end"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    },

    // ── flatMapGroupsWithState emit-on-close sessionization: every session
    //    CLOSED by a later event (gap > 30 min); each user's still-open
    //    final island is dropped on both sides.
    sql("q_stream_closed_sessions",
      """WITH e AS (SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS t FROM events),
        |d AS (SELECT user_id, t,
        |             CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800
        |                  THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |s AS (SELECT user_id, t, SUM(new_s) OVER (PARTITION BY user_id ORDER BY t) AS sid FROM d),
        |g AS (SELECT user_id, sid, MIN(t) AS session_start, MAX(t) AS session_end,
        |             COUNT(*) AS n_events
        |      FROM s GROUP BY 1, 2),
        |mx AS (SELECT user_id, MAX(sid) AS last_sid FROM g GROUP BY 1)
        |SELECT g.user_id, g.session_start, g.session_end, g.n_events
        |FROM g JOIN mx ON g.user_id = mx.user_id AND g.sid < mx.last_sid
        |ORDER BY 1, 2""".stripMargin) { (s, d) =>
      EventsStreaming.completedSessions(s, d, gapMinutes = 30)
        .orderBy("user_id", "session_start")
    },

    // ── streaming drift monitoring (DriftStreaming.batchDrift): two
    //    parity-staged document micro-batches each scored against the
    //    static full-corpus reference histogram — the continuous form of
    //    q_profile_drift, state-free across batches. Batches label
    //    themselves from content (min(doc_id % 2)), so the output is
    //    arrival-order-independent and the oracle is one batch replay
    //    per slice, unioned.
    sql("q_stream_drift",
      s"""SELECT * FROM (
         |${RelationalQueries.driftReplaySql("doc_id % 2 = 0", Some(0))})
         |UNION ALL
         |SELECT * FROM (
         |${RelationalQueries.driftReplaySql("doc_id % 2 = 1", Some(1))})
         |ORDER BY batch_key, lang""".stripMargin) { (s, d) =>
      graft.streaming.DriftStreaming.batchDrift(s, d)
        .orderBy("batch_key", "lang")
    },

    // ── multimodal: binary media column + metadata struct, imperative
    //    per-partition decode (deterministic fake) → typed features
    sql("q_multimodal_features",
      // head_byte/checksum are BYTE-derived; a SQL oracle over ord()
      // compares CODEPOINTS and would silently diverge on non-ASCII text —
      // those features are byte-exact-verified in MultimodalSpec instead
      """SELECT doc_id,
        |       CASE WHEN doc_id % 3 = 0 THEN 'image'
        |            WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       CAST(octet_length(encode(text)) // 1000 + 1 AS BIGINT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.decodeFeatures(Multimodal.mediaTable(Tables.documents(s, d)))
        .select("doc_id", "kind", "n_bytes", "n_frames")
        .orderBy("doc_id")
    },

    // ── REAL image codec: synthetic PNGs (pixel channels are closed-form
    //    in doc_id/x/y) encoded AND decoded through javax.imageio inside
    //    mapPartitions; the oracle recomputes the decoded pixel sums from
    //    the formula — PNG is lossless, so any codec deviation breaks the
    //    hash. channels = 3 pins the decoded color model.
    sql("q_multimodal_image",
      """WITH g AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |           FROM documents),
        |px AS (SELECT doc_id, w, h, x, y
        |       FROM g CROSS JOIN range(0, 17) rx(x) CROSS JOIN range(0, 15) ry(y)
        |       WHERE x < w AND y < h)
        |SELECT doc_id, CAST(MIN(w) AS INT) AS width, CAST(MIN(h) AS INT) AS height,
        |       3 AS channels,
        |       CAST(SUM((doc_id * 31 + x * 7 + y * 13) % 256) AS BIGINT) AS sum_r,
        |       CAST(SUM((doc_id + x * y) % 256) AS BIGINT) AS sum_g,
        |       CAST(SUM((x + 3 * y) % 256) AS BIGINT) AS sum_b
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.decodeImageFeatures(Multimodal.imageTable(Tables.documents(s, d)))
        .orderBy("doc_id")
    },

    // ── image RESIZE (decode → nearest-neighbor thumbnail → re-encode):
    //    the sampling map is integer floor division, so the oracle
    //    recomputes the RESIZED image's exact RGB sums from the source
    //    pixel formula — an image TRANSFORM gated arithmetically, not
    //    just a decode. Per-image cost is O(thumbnail), not O(source).
    sql("q_multimodal_resize",
      """WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |           FROM documents),
        |px AS (SELECT doc_id, (x * w) // 6 AS sx, (y * h) // 5 AS sy
        |       FROM d CROSS JOIN range(0, 6) t1(x) CROSS JOIN range(0, 5) t2(y))
        |SELECT doc_id, CAST(6 AS INT) AS width, CAST(5 AS INT) AS height,
        |       CAST(SUM((doc_id * 31 + sx * 7 + sy * 13) % 256) AS BIGINT) AS sum_r,
        |       CAST(SUM((doc_id + sx * sy) % 256) AS BIGINT) AS sum_g,
        |       CAST(SUM((sx + 3 * sy) % 256) AS BIGINT) AS sum_b
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.resizeImages(
          Multimodal.imageTable(Tables.documents(s, d)), 6, 5)
        .select("doc_id", "width", "height", "sum_r", "sum_g", "sum_b")
        .orderBy("doc_id")
    },

    // ── perceptual dHash fingerprint (the image near-dup key): 8×8
    //    nearest-neighbor grayscale grid, one bit per horizontal neighbor
    //    pair — 56 bits, BIGINT-positive. The oracle replays the whole
    //    hash arithmetically (sample map, integer gray, bit packing);
    //    dedup over the hash is then an exact groupBy, no pairwise pass.
    sql("q_multimodal_phash",
      """WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |           FROM documents),
        |g AS (SELECT doc_id, x, y,
        |             (((doc_id * 31 + ((x*w)//8) * 7 + ((y*h)//8) * 13) % 256)
        |            + ((doc_id + ((x*w)//8) * ((y*h)//8)) % 256)
        |            + ((((x*w)//8) + 3 * ((y*h)//8)) % 256)) // 3 AS gray
        |      FROM d CROSS JOIN range(0, 8) t1(x) CROSS JOIN range(0, 8) t2(y)),
        |b AS (SELECT g1.doc_id, g1.x AS x, g1.y AS y,
        |             CASE WHEN g2.gray > g1.gray THEN 1 ELSE 0 END AS bit
        |      FROM g g1 JOIN g g2 ON g2.doc_id = g1.doc_id AND g2.y = g1.y
        |                         AND g2.x = g1.x + 1
        |      WHERE g1.x < 7)
        |SELECT doc_id,
        |       CAST(SUM(bit * (CAST(1 AS BIGINT) << (y * 7 + x))) AS BIGINT) AS dhash
        |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.dHashImages(Multimodal.imageTable(Tables.documents(s, d)))
        .orderBy("doc_id")
    },

    // ── REAL audio codec: synthetic 16-bit PCM WAVs (sample i is
    //    closed-form in doc_id) encoded AND decoded through
    //    javax.sound.sampled inside mapPartitions; the oracle recomputes
    //    the decoded amplitude stats from the formula and pins the
    //    header fields — PCM-in-WAV is lossless, so any codec deviation
    //    breaks the hash. The audio sibling of q_multimodal_image.
    sql("q_multimodal_audio",
      """WITH g AS (SELECT doc_id, 40 + doc_id % 81 AS n FROM documents),
        |s AS (SELECT doc_id, n, (doc_id * 31 + x * 7919) % 65536 - 32768 AS v
        |      FROM g CROSS JOIN range(0, 121) rx(x) WHERE x < n)
        |SELECT doc_id,
        |       CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
        |       1 AS channels, 16 AS bits,
        |       CAST(MIN(n) AS BIGINT) AS n_samples,
        |       CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
        |       CAST(MAX(ABS(v)) AS BIGINT) AS max_abs
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.decodeAudioFeatures(Multimodal.audioTable(Tables.documents(s, d)))
        .orderBy("doc_id")
    },

    // ── REAL video codec: synthetic animated GIFs (2–6 solid-color
    //    frames, RGB closed-form in doc_id/frame) encoded AND decoded
    //    through the javax.imageio GIF sequence reader/writer inside
    //    mapPartitions, sampling every 2nd frame; the oracle recomputes
    //    frame count, dimensions, and sampled RGB mass from the formula —
    //    GIF is palette-lossless for solid frames, so any codec or
    //    sampling deviation breaks the hash. Completes the modality
    //    ladder: PNG (image) / WAV (audio) / GIF (video).
    sql("q_multimodal_video",
      """WITH g AS (SELECT doc_id, 4 + doc_id % 5 AS w, 4 + doc_id % 3 AS h,
        |                  2 + doc_id % 5 AS n
        |           FROM documents),
        |fr AS (SELECT doc_id, w, h, n, f
        |       FROM g CROSS JOIN range(0, 7) rf(f)
        |       WHERE f < n AND f % 2 = 0)
        |SELECT doc_id, CAST(MIN(n) AS BIGINT) AS n_frames,
        |       CAST(MIN(w) AS INT) AS width, CAST(MIN(h) AS INT) AS height,
        |       COUNT(*) AS n_sampled,
        |       CAST(SUM(w * h * ((doc_id * 31 + f * 7) % 256
        |                       + (doc_id + f * 11) % 256
        |                       + (doc_id * 5 + f * 3) % 256)) AS BIGINT) AS sum_rgb
        |FROM fr GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.decodeVideoFeatures(
        Multimodal.videoTable(Tables.documents(s, d)), stride = 2)
        .orderBy("doc_id")
    },

    // ── frame-offset sampling stub (pure expression, no codec): summary
    //    per kind so the array column is exercised without list-compare
    sql("q_multimodal_frames",
      """SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
        |            WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |       CAST(SUM((octet_length(encode(text)) - 1) // 100 + 1) AS BIGINT) AS total_frames
        |FROM documents GROUP BY 1 ORDER BY kind""".stripMargin) { (s, d) =>
      Multimodal.frameOffsets(Multimodal.mediaTable(Tables.documents(s, d)), stride = 100)
        .groupBy(col("meta.kind").as("kind"))
        .agg(sum(size(col("frame_offsets"))).as("total_frames"))
        .orderBy("kind")
    }
  )
}
