package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.SparkSpec
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._

/** Catalog-level replication: full-fidelity mirror (per-table logs keep
  * their numbering, so every catalog entry's version lineage resolves at
  * the replica), O(Δ) sync, cross-table snapshot atomicity (the txn
  * entry publishes LAST), fork refusal, and restore fidelity.
  */
class CatalogReplicateSpec extends SparkSpec {

  import spark.implicits._
  import graft.sources.TxnCatalog.Write
  import ReplicateSpec.copyRung

  private def fresh(name: String): String = {
    val p = s"/root/repo/target/tmp/spec_catrepl_$name"
    FileUtils.deleteQuietly(new File(p))
    p
  }

  private def contentOf(cat: String, name: String,
                        at: Option[Int] = None): Set[(Long, Long)] =
    TxnCatalog.read(spark, cat, name, at).select("k", "v")
      .as[(Long, Long)].collect().toSet

  private def df(lo: Long, hi: Long) =
    spark.range(lo, hi).select(col("id").as("k"), (col("id") * 2).as("v"))
      .coalesce(1)

  test("seed, O(Δ) sync, cross-table consistency, time travel, restore") {
    val src = fresh("src"); val dst = fresh("dst")
    TxnCatalog.commitAll(spark, src, Seq(
      Write("cust", df(0, 50)), Write("ord", df(100, 180))))
    TxnCatalog.commitAll(spark, src, Seq(
      Write("cust", df(50, 60)), Write("ord", df(180, 200))))

    val (t1, copied1) = TxnCatalog.replicate(src, dst)
    assert(t1 == 2)
    // 2 tables × 2 versions × (log entry + data file) = 8 + best-effort
    // stats sidecars; the exact data+log floor is what we pin
    assert(copied1 >= 8, s"seed must copy both tables' history, got $copied1")
    Seq("cust", "ord").foreach { n =>
      assert(contentOf(dst, n) == contentOf(src, n))
      assert(contentOf(dst, n, Some(1)) == contentOf(src, n, Some(1)),
        "the replica time-travels to every synced txn")
    }

    // idempotent no-op
    assert(TxnCatalog.replicate(src, dst) == ((2, 0)))

    // Δ sync: one txn touching ONE table ships only its delta
    TxnCatalog.commitAll(spark, src, Seq(Write("cust", df(60, 70))))
    val (t3, copied3) = TxnCatalog.replicate(src, dst)
    assert(t3 == 3)
    assert(copied3 <= 3,
      s"a one-table txn must sync O(its delta), copied $copied3")
    assert(contentOf(dst, "cust") == contentOf(src, "cust"))

    // catalog RESTORE is a lineage re-list: the sync ships the entry
    // alone (every pinned version is already at the replica)
    TxnCatalog.restore(src, toTxn = 1)
    val (t4, copied4) = TxnCatalog.replicate(src, dst)
    assert(t4 == 4 && copied4 == 0,
      s"a restore entry re-lists known versions: zero files, got $copied4")
    Seq("cust", "ord").foreach(n =>
      assert(contentOf(dst, n) == contentOf(dst, n, Some(1)),
        "the replica's head follows the source's restore"))
  }

  test("a crashed sync is invisible to replica readers and resumes") {
    val src = fresh("crash_src"); val dst = fresh("crash_dst")
    TxnCatalog.commitAll(spark, src, Seq(Write("t", df(0, 30))))
    TxnCatalog.commitAll(spark, src, Seq(Write("t", df(30, 50))))
    TxnCatalog.replicate(src, dst)
    // simulate the crash window of a THIRD txn's sync: table files and
    // log entries copied, the catalog entry NOT yet published
    TxnCatalog.commitAll(spark, src, Seq(Write("t", df(50, 60))))
    val entry = new File(s"$dst/_graft_txn/t00003.json")
    TxnCatalog.replicate(src, dst)
    assert(entry.isFile)
    entry.delete() // roll the commit point back: pre-publish crash state
    Files.write(new File(dst, "_graft_replica.json").toPath,
      (s"""{"src":"${new File(src).getAbsolutePath}",""" +
        """"syncedTxn":2}""").getBytes(StandardCharsets.UTF_8))
    // the replica reader sees the LAST WHOLE transaction — never a
    // half-synced one (the data files for txn 3 are on disk, invisible)
    assert(contentOf(dst, "t") == contentOf(src, "t", Some(2)))
    // and the re-run completes exactly (copies skip, entry re-links)
    val (t, _) = TxnCatalog.replicate(src, dst)
    assert(t == 3 && contentOf(dst, "t") == contentOf(src, "t"))
  }

  test("constraints travel on data-less syncs; a replica ahead of the source refuses") {
    val src = fresh("dl_src"); val dst = fresh("dl_dst")
    TxnCatalog.commitAll(spark, src, Seq(Write("t", df(0, 20))))
    TxnCatalog.replicate(src, dst)
    // declaration between transactions: the next sync ships it even
    // though no txn moved
    TableConstraints.declareUnique(TxnCatalog.tablePath(src, "t"), Seq("k"),
      validate = Some(spark))
    TxnCatalog.replicate(src, dst)
    assert(TableConstraints.uniques(TxnCatalog.tablePath(dst, "t"))
      .map(_.cols).contains(Seq("k")),
      "a data-less sync must still ship the declaration set")
    // a replica that advanced PAST the source's head is a fork even
    // when the source never catches up to collide on a slot
    TxnCatalog.commitAll(spark, dst, Seq(Write("t", df(500, 510))))
    intercept[IllegalArgumentException] { TxnCatalog.replicate(src, dst) }
  }

  test("a locally-written replica catalog is a fork: sync refuses") {
    val src = fresh("fork_src"); val dst = fresh("fork_dst")
    TxnCatalog.commitAll(spark, src, Seq(Write("t", df(0, 10))))
    TxnCatalog.replicate(src, dst)
    TxnCatalog.commitAll(spark, dst, Seq(Write("t", df(900, 910))))
    TxnCatalog.commitAll(spark, src, Seq(Write("t", df(10, 20))))
    intercept[IllegalArgumentException] { TxnCatalog.replicate(src, dst) }
  }

  test("replica identity pins the source; constraints travel") {
    val a = fresh("id_a"); val b = fresh("id_b"); val dst = fresh("id_dst")
    TxnCatalog.commitAll(spark, a, Seq(Write("t", df(0, 10))))
    TxnCatalog.commitAll(spark, b, Seq(Write("t", df(0, 10))))
    TableConstraints.declareUnique(TxnCatalog.tablePath(a, "t"), Seq("k"),
      validate = Some(spark))
    TxnCatalog.replicate(a, dst)
    assert(TableConstraints.uniques(TxnCatalog.tablePath(dst, "t"))
      .map(_.cols).contains(Seq("k")))
    intercept[IllegalArgumentException] { TxnCatalog.replicate(b, dst) }
  }

  test("catalog failover: promote, local txns, demote + reverse-sync, fork refusals") {
    val src = fresh("promo_src"); val dst = fresh("promo_dst")
    TxnCatalog.commitAll(spark, src, Seq(
      Write("cust", df(0, 50)), Write("ord", df(100, 150))))
    TxnCatalog.replicate(src, dst)
    TxnCatalog.commitAll(spark, src, Seq(Write("cust", df(50, 70))))
    TxnCatalog.replicate(src, dst)

    // source dies → promote; the new primary commits cross-table txns
    assert(TxnCatalog.promoteReplica(dst) == 2)
    TxnCatalog.commitAll(spark, dst, Seq(
      Write("cust", df(70, 90)), Write("ord", df(150, 170))))
    // the old source can no longer sync into the promoted catalog
    intercept[IllegalArgumentException] { TxnCatalog.replicate(src, dst) }

    // failback: demote the old source, reverse the direction
    TxnCatalog.demoteToReplica(src, dst)
    val (t, copied) = TxnCatalog.replicate(dst, src)
    assert(t == 3 && copied >= 4,
      s"reverse sync ships the post-promotion txn, got t=$t copied=$copied")
    Seq("cust", "ord").foreach { n =>
      assert(contentOf(src, n) == contentOf(dst, n))
    }
    // the demoted source is fork-checked: a local txn occupies the next
    // slot and the sync refuses
    TxnCatalog.commitAll(spark, src, Seq(Write("cust", df(900, 910))))
    TxnCatalog.commitAll(spark, dst, Seq(Write("cust", df(90, 95))))
    intercept[Exception] { TxnCatalog.replicate(dst, src) }
  }

  test("catalog demote tolerates the sync's publish-before-marker crash window") {
    val src = fresh("window_src"); val dst = fresh("window_dst")
    TxnCatalog.commitAll(spark, src, Seq(Write("t", df(0, 50))))
    TxnCatalog.replicate(src, dst)
    TxnCatalog.commitAll(spark, src, Seq(Write("t", df(50, 70))))
    TxnCatalog.replicate(src, dst)
    TxnCatalog.promoteReplica(dst)
    // simulate the crash: the promoted marker says one txn LESS than
    // what was actually mirrored — t2 landed at dst byte-identically
    // but the marker never advanced
    val pm = new File(dst, "_graft_promoted.json")
    val body = new String(Files.readAllBytes(pm.toPath), StandardCharsets.UTF_8)
    Files.write(pm.toPath, body.replace("\"syncedTxn\":2", "\"syncedTxn\":1")
      .getBytes(StandardCharsets.UTF_8))
    // demote recognizes t2 as provably synced (byte-equal entries)
    TxnCatalog.demoteToReplica(src, dst)
    TxnCatalog.commitAll(spark, dst, Seq(Write("t", df(70, 90))))
    TxnCatalog.replicate(dst, src)
    assert(contentOf(src, "t") == contentOf(dst, "t"))
  }

  test("catalog demote refuses lost writes, wrong lineage, and double states") {
    val src = fresh("lost_src"); val dst = fresh("lost_dst")
    TxnCatalog.commitAll(spark, src, Seq(Write("t", df(0, 10))))
    TxnCatalog.replicate(src, dst)
    TxnCatalog.commitAll(spark, src, Seq(Write("t", df(10, 20)))) // unsynced
    TxnCatalog.promoteReplica(dst)
    val e = intercept[IllegalArgumentException] {
      TxnCatalog.demoteToReplica(src, dst)
    }
    assert(e.getMessage.contains("never saw"), e.getMessage)
    val other = fresh("lost_other")
    TxnCatalog.commitAll(spark, other, Seq(Write("t", df(0, 5))))
    intercept[IllegalArgumentException] { TxnCatalog.demoteToReplica(other, dst) }
    intercept[IllegalArgumentException] { TxnCatalog.promoteReplica(other) }
    intercept[IllegalArgumentException] { TxnCatalog.promoteReplica(dst) }
  }

  test("catalog promotion landing mid-sync wins: the sync aborts, the marker stays gone") {
    val src = fresh("race_src"); val dst = fresh("race_dst")
    TxnCatalog.commitAll(spark, src, Seq(Write("t", df(0, 20))))
    TxnCatalog.replicate(src, dst)
    TxnCatalog.commitAll(spark, src, Seq(Write("t", df(20, 30))))
    TxnCatalog.commitAll(spark, src, Seq(Write("t", df(30, 40))))
    TxnCatalog.replicateMidSyncHook = t =>
      if (t == 2) TxnCatalog.promoteReplica(dst)
    try {
      val e = intercept[IllegalArgumentException] { TxnCatalog.replicate(src, dst) }
      assert(e.getMessage.contains("promotion wins"), e.getMessage)
    } finally TxnCatalog.replicateMidSyncHook = _ => ()
    assert(!new File(dst, "_graft_replica.json").isFile,
      "the sync must not resurrect the replica marker on a promoted catalog")
    assert(new File(dst, "_graft_promoted.json").isFile)
    // t2 published inside the window is visible and whole at the new
    // primary (the entry is the commit point); t3 never shipped
    assert(TxnCatalog.currentTxn(dst) == 2)
    assert(contentOf(dst, "t") == contentOf(src, "t", Some(2)))
    // and the old source can never sync into the promoted catalog again
    val e2 = intercept[IllegalArgumentException] { TxnCatalog.replicate(src, dst) }
    assert(e2.getMessage.contains("promoted to primary"), e2.getMessage)
  }

  test("a many-file txn's data copies fan out; the catalog entry still publishes last") {
    val src = fresh("par_src"); val dst = fresh("par_dst")
    // one txn, two tables, 30 data files total — the copies are
    // order-free among themselves; only the catalog entry is ordered
    TxnCatalog.commitAll(spark, src, Seq(
      Write("fact", spark.range(0, 2000)
        .select(col("id").as("k"), (col("id") * 2).as("v")).repartition(24)),
      Write("dim", df(0, 60).repartition(6))))
    val ((t, copied), _, width) = copyRung(spark)(TxnCatalog.replicate(src, dst))
    assert(t == 1)
    assert(copied >= 32, s"30 data files + 2 log entries, got $copied")
    assert(width > 1, s"a 30-file txn must fan out, used $width thread(s)")
    Seq("fact", "dim").foreach(n => assert(contentOf(dst, n) == contentOf(src, n)))
    // resume semantics unchanged: a re-sync copies nothing
    assert(TxnCatalog.replicate(src, dst) == ((1, 0)))
  }

  test("a bulk txn's data copies run as a Spark job; the catalog entry still publishes last") {
    val src = fresh("dist_src"); val dst = fresh("dist_dst")
    TxnCatalog.commitAll(spark, src, Seq(
      Write("fact", spark.range(0, 2000)
        .select(col("id").as("k"), (col("id") * 2).as("v")).repartition(24)),
      Write("dim", df(0, 60).repartition(6))))
    spark.conf.set("spark.graft.replicate.distributedThreshold", "2")
    try {
      val ((t, copied), rung, _) = copyRung(spark)(TxnCatalog.replicate(src, dst))
      assert(t == 1)
      assert(copied >= 32, s"30 data files + 2 log entries, got $copied")
      assert(rung == "distributed",
        s"a 30-file txn over the threshold must run as a Spark job, ran $rung")
      // resume: a re-sync copies nothing, distributed or not
      assert(TxnCatalog.replicate(src, dst) == ((1, 0)))
    } finally
      spark.conf.unset("spark.graft.replicate.distributedThreshold")
    Seq("fact", "dim").foreach(n => assert(contentOf(dst, n) == contentOf(src, n)))
  }
}
