package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.{SparkSpec, Trace}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** O(Δ) cross-site replication on the txn log: seed snapshot, suffix
  * sync shipping only new files, change-feed equality over the synced
  * range, fork refusal, deletion vectors, and crash-resume idempotency.
  */
class ReplicateSpec extends SparkSpec {

  import spark.implicits._
  import ReplicateSpec.copyRung

  private def fresh(name: String): String = {
    val p = s"/root/repo/target/tmp/spec_replica_$name"
    FileUtils.deleteQuietly(new File(p))
    p
  }

  private def contentOf(t: String): Set[(Long, Long)] =
    TxnTable.read(spark, t).select("k", "p")
      .as[(Long, Long)].collect().toSet

  private def commitRange(t: String, lo: Long, hi: Long,
                          tag: Option[String] = None): Int =
    TxnTable.commit(spark,
      spark.range(lo, hi).select(col("id").as("k"), (col("id") % 7).as("p"))
        .coalesce(1),
      t, overwrite = false, tag = tag)

  test("seed snapshot, O(Δ) sync, tags and change feed travel") {
    val src = fresh("src"); val dst = fresh("dst")
    commitRange(src, 0, 100)
    commitRange(src, 100, 200)

    val (v1, copied1) = TxnTable.replicate(src, dst)
    assert(v1 == 1 && copied1 == 2, "seed copies the two live files")
    assert(contentOf(dst) == contentOf(src))
    assert(TxnTable.commitTag(dst, 1).contains("replica_seed"))

    // re-sync with nothing new: copies nothing, publishes nothing
    assert(TxnTable.replicate(src, dst) == ((1, 0)))

    // src advances: one tagged append + one copy-on-write delete
    commitRange(src, 200, 250, tag = Some("batch_x"))
    TxnTable.deleteWhere(spark, src, col("k") < 10)
    val (v2, copied2) = TxnTable.replicate(src, dst)
    assert(v2 == 3, "two src versions become two dst versions")
    assert(copied2 == 2,
      s"only the appended file and the delete's rewrite copy, got $copied2")
    assert(contentOf(dst) == contentOf(src))
    assert(TxnTable.commitTag(dst, 2).contains("batch_x"),
      "writer tags travel with the entries")

    // change feed over the synced range is identical (byte-equal files)
    def feed(t: String, from: Int) = TxnTable
      .changeFeed(spark, t, from, TxnTable.currentVersion(t), Seq("k"))
      .select("k", "p", "change")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(x => (x._1, x._3)).toSeq
    assert(feed(dst, 1) == feed(src, 2),
      "the replica's post-seed feed replays the source's post-seed feed")

    // time travel on the replica: the seed is its genesis snapshot
    assert(TxnTable.read(spark, dst, asOf = Some(1)).count() == 200)
  }

  test("deletion vectors replicate; replica reads apply them") {
    val src = fresh("dv_src"); val dst = fresh("dv_dst")
    commitRange(src, 0, 100)
    TxnTable.replicate(src, dst)
    TxnTable.deleteWhereMor(spark, src, col("k") % 10 === 0L)
    TxnTable.replicate(src, dst)
    assert(contentOf(dst) == contentOf(src))
    assert(TxnTable.read(spark, dst).count() == 90,
      "dv rows must not resurface in the replica")
  }

  test("a locally-written replica is a fork: sync refuses its slot") {
    val src = fresh("fork_src"); val dst = fresh("fork_dst")
    commitRange(src, 0, 50)
    TxnTable.replicate(src, dst)
    commitRange(dst, 1000, 1010) // local write occupies dst v2
    commitRange(src, 50, 60)
    intercept[java.util.ConcurrentModificationException] {
      TxnTable.replicate(src, dst)
    }
  }

  test("replica refuses a different source; marker pins identity") {
    val a = fresh("id_a"); val b = fresh("id_b"); val dst = fresh("id_dst")
    commitRange(a, 0, 10); commitRange(b, 0, 10)
    TxnTable.replicate(a, dst)
    intercept[IllegalArgumentException] { TxnTable.replicate(b, dst) }
  }

  test("seed-crash recovery: a marker without a published v1 completes") {
    val src = fresh("crash_src"); val dst = fresh("crash_dst")
    commitRange(src, 0, 30)
    commitRange(src, 30, 60)
    // simulate the crash window: marker durable, nothing else happened
    new File(dst).mkdirs()
    Files.write(new File(dst, "_graft_replica.json").toPath,
      (s"""{"src":"${new File(src).getAbsolutePath}",""" +
        s""""seedSrcVersion":1,"syncedSrcVersion":1}""")
        .getBytes(StandardCharsets.UTF_8))
    val (v, copied) = TxnTable.replicate(src, dst)
    assert(v == 2, "seed at src v1 + one synced version")
    assert(copied == 2, "the seed file and the second commit's file")
    assert(contentOf(dst) == contentOf(src))
  }

  test("constraints travel on seed and on sync") {
    val src = fresh("con_src"); val dst = fresh("con_dst")
    commitRange(src, 0, 40)
    TableConstraints.declareUnique(src, Seq("k"), validate = Some(spark))
    TxnTable.replicate(src, dst)
    assert(TableConstraints.uniques(dst).map(_.cols).contains(Seq("k")),
      "seed carries the declared constraints")
    // a declaration BETWEEN syncs travels even when no data moved — a
    // "successful sync" must never leave the replica auditing stale
    TableConstraints.declareNotNull(src, Seq("p"), validate = Some(spark))
    TxnTable.replicate(src, dst)
    assert(TableConstraints.notNulls(dst).map(_.cols).contains(Seq("p")),
      "a data-less sync still ships the current declaration set")
  }

  test("a local write inside the seed-crash window is a fork, refused") {
    val src = fresh("winfork_src"); val dst = fresh("winfork_dst")
    commitRange(src, 0, 20)
    // the crash window: marker durable, seed v1 never published —
    // then a LOCAL write lands dst v1 (no replica_seed tag)
    new File(dst).mkdirs()
    Files.write(new File(dst, "_graft_replica.json").toPath,
      (s"""{"src":"${new File(src).getAbsolutePath}",""" +
        s""""seedSrcVersion":1,"syncedSrcVersion":1}""")
        .getBytes(StandardCharsets.UTF_8))
    commitRange(dst, 500, 510)
    commitRange(src, 20, 40)
    intercept[IllegalArgumentException] { TxnTable.replicate(src, dst) }
  }

  test("a source-side vacuum of an add-then-removed file never wedges the sync") {
    val src = fresh("vac_src"); val dst = fresh("vac_dst")
    commitRange(src, 0, 100)
    TxnTable.replicate(src, dst)
    // between syncs: a file is added (v2) and fully rewritten away
    // (v3's optimize removes it), then src vacuums history — the v2
    // file is GONE at src. The sync must skip it (the mirror reflects
    // the source's retention), not throw and re-hit it on every retry.
    commitRange(src, 100, 120)
    TxnTable.optimize(spark, src, numFiles = 1)
    TxnTable.vacuum(src, retainFrom = TxnTable.currentVersion(src))
    val (v, _) = TxnTable.replicate(src, dst)
    assert(v == 3, s"sync must advance past the vacuumed version, got v$v")
    assert(contentOf(dst) == contentOf(src))
    // and a FURTHER sync still works (the marker advanced)
    commitRange(src, 120, 130)
    TxnTable.replicate(src, dst)
    assert(contentOf(dst) == contentOf(src))
  }

  test("a live-at-head file missing at src is corruption: the sync throws, never mirrors") {
    val src = fresh("corrupt_src"); val dst = fresh("corrupt_dst")
    commitRange(src, 0, 100)
    TxnTable.replicate(src, dst)
    commitRange(src, 100, 120)
    // simulate corruption/bad manual vacuum: the v2 file is LIVE at
    // src's head but gone on disk — a silent skip would publish a
    // replica head referencing a nonexistent file and advance the
    // marker past it forever
    val v2File = TxnTable.liveFiles(src).filterNot(
      TxnTable.liveFiles(src, Some(1)).toSet)
    assert(v2File.size == 1)
    new File(src, v2File.head).delete()
    val e = intercept[IllegalArgumentException] { TxnTable.replicate(src, dst) }
    assert(e.getMessage.contains("corruption"), e.getMessage)
    // the replica stayed at its last good state and still reads
    assert(contentOf(dst) == (0L until 100L).map(i => (i, i % 7)).toSet)
  }

  test("demote tolerates the sync's publish-before-marker crash window") {
    val src = fresh("window_src"); val dst = fresh("window_dst")
    commitRange(src, 0, 100)
    TxnTable.replicate(src, dst)
    commitRange(src, 100, 150)
    TxnTable.replicate(src, dst)
    TxnTable.promoteReplica(dst)
    // simulate the crash: the marker (now the promoted record) says one
    // version LESS than what was actually published — src v2 was synced
    // (dst v2 holds the identical entry) but the marker never advanced
    val pm = new File(dst, "_graft_promoted.json")
    val body = new String(Files.readAllBytes(pm.toPath), StandardCharsets.UTF_8)
    Files.write(pm.toPath,
      body.replace("\"syncedSrcVersion\":2", "\"syncedSrcVersion\":1")
        .getBytes(StandardCharsets.UTF_8))
    // demote must recognize v2 as provably synced (entry equality), not
    // demand a pointless export from a dead source
    TxnTable.demoteToReplica(src, dst)
    commitRange(dst, 150, 170)
    TxnTable.replicate(dst, src)
    assert(contentOf(src) == contentOf(dst))
  }

  test("failover: promote the replica, write locally, demote + reverse-sync the old source") {
    val src = fresh("promo_src"); val dst = fresh("promo_dst")
    commitRange(src, 0, 100)
    TxnTable.replicate(src, dst)
    commitRange(src, 100, 150)
    TxnTable.replicate(src, dst)

    // source dies; the replica PROMOTES and accepts local writes
    val head = TxnTable.promoteReplica(dst)
    assert(head == 2)
    commitRange(dst, 150, 200, tag = Some("post_failover"))
    TxnTable.deleteWhere(spark, dst, col("k") < 5)
    // the old source can no longer sync into the promoted table
    intercept[IllegalArgumentException] { TxnTable.replicate(src, dst) }

    // FAILBACK: the old source demotes under the new primary and the
    // reverse sync ships the post-promotion commits
    TxnTable.demoteToReplica(src, dst)
    val (v, copied) = TxnTable.replicate(dst, src)
    assert(copied >= 2, s"the append and the delete's rewrite must ship, got $copied")
    assert(contentOf(src) == contentOf(dst))
    assert(TxnTable.commitTag(src, v - 1).contains("post_failover"),
      "tags travel on the reverse sync too")
    // further new-primary commits keep flowing
    commitRange(dst, 200, 210)
    TxnTable.replicate(dst, src)
    assert(contentOf(src) == contentOf(dst))
    // and the demoted source is fork-checked like any replica: a local
    // write occupies the next slot and the sync refuses it
    commitRange(src, 900, 910)
    commitRange(dst, 210, 220)
    intercept[Exception] { TxnTable.replicate(dst, src) }
  }

  test("demote refuses an old source holding commits the new primary never saw") {
    val src = fresh("lost_src"); val dst = fresh("lost_dst")
    commitRange(src, 0, 100)
    TxnTable.replicate(src, dst)
    // the outage window: src commits AFTER the last sync
    commitRange(src, 100, 120)
    TxnTable.promoteReplica(dst)
    val e = intercept[IllegalArgumentException] {
      TxnTable.demoteToReplica(src, dst)
    }
    assert(e.getMessage.contains("never saw"), e.getMessage)
    // a table that was never the promoted one's source also refuses
    val other = fresh("lost_other"); commitRange(other, 0, 10)
    intercept[IllegalArgumentException] { TxnTable.demoteToReplica(other, dst) }
    // and promoting a non-replica refuses
    intercept[IllegalArgumentException] { TxnTable.promoteReplica(other) }
  }

  test("a parallel copy task failure propagates its ORIGINAL exception; nothing publishes") {
    val src = fresh("fail_src"); val dst = fresh("fail_dst")
    TxnTable.commit(spark,
      spark.range(0, 3000).select(col("id").as("k"), (col("id") % 7).as("p"))
        .repartition(30),
      src, overwrite = false)
    // one seed file vanishes (disk fault): the pool must surface the
    // real NoSuchFileException — not an ExecutionException wrapper —
    // cancel the remaining tasks, and leave the replica unpublished
    // (the marker-then-publish order makes the state resumable once
    // the source heals)
    new File(src, TxnTable.liveFiles(src).head).delete()
    intercept[java.nio.file.NoSuchFileException] {
      TxnTable.replicate(src, dst)
    }
    assert(TxnTable.currentVersion(dst) == 0,
      "a failed seed must never publish v1")
  }

  test("promotion landing mid-sync wins: the sync aborts and never resurrects the marker") {
    val src = fresh("race_src"); val dst = fresh("race_dst")
    commitRange(src, 0, 50)
    TxnTable.replicate(src, dst)
    commitRange(src, 50, 80)
    commitRange(src, 80, 100)
    // the race, deterministically: promote lands in the window between
    // the FIRST replayed version's publish and its marker write
    TxnTable.replicateMidSyncHook = v =>
      if (v == 2) TxnTable.promoteReplica(dst)
    try {
      val e = intercept[IllegalArgumentException] { TxnTable.replicate(src, dst) }
      assert(e.getMessage.contains("promotion wins"), e.getMessage)
    } finally TxnTable.replicateMidSyncHook = _ => ()
    // the marker was NOT resurrected: dst is a primary, local commits
    // are legitimate, and the old source can never sync into it again
    assert(!new File(dst, "_graft_replica.json").isFile)
    assert(new File(dst, "_graft_promoted.json").isFile)
    commitRange(dst, 1000, 1010) // a local write on the new primary: fine
    val e2 = intercept[IllegalArgumentException] { TxnTable.replicate(src, dst) }
    assert(e2.getMessage.contains("promoted to primary"), e2.getMessage)
    // the version published inside the window is the same
    // publish-before-marker state the demote path tolerates: src sits
    // at the synced v2 slot with the identical entry, so after
    // exporting nothing (src holds one version past the promote — the
    // outage window) demote refuses loudly, exactly the data-loss gate
    val e3 = intercept[IllegalArgumentException] {
      TxnTable.demoteToReplica(src, dst)
    }
    assert(e3.getMessage.contains("never saw"), e3.getMessage)
  }

  test("many-file seed fans out over a thread pool and a mid-copy crash resumes cleanly") {
    val src = fresh("par_src"); val dst = fresh("par_dst")
    // one commit, 40 data files — the bulk-copy shape where a
    // driver-serial sync is the 100 TB wall
    TxnTable.commit(spark,
      spark.range(0, 4000).select(col("id").as("k"), (col("id") % 7).as("p"))
        .repartition(40),
      src, overwrite = false)
    val live = TxnTable.liveFiles(src)
    assert(live.size == 40)

    // ── the mid-copy crash state, exactly what an interrupted parallel
    // seed leaves behind: marker durable, SOME copies finished (whole
    // files, atomically moved), one in-flight copy dead as a private
    // tmp, v1 never published
    new File(dst).mkdirs()
    Files.write(new File(dst, "_graft_replica.json").toPath,
      (s"""{"src":"${new File(src).getAbsolutePath}",""" +
        s""""seedSrcVersion":1,"syncedSrcVersion":1}""")
        .getBytes(StandardCharsets.UTF_8))
    live.take(17).foreach { rel =>
      val to = new File(dst, rel)
      to.getParentFile.mkdirs()
      Files.copy(new File(src, rel).toPath, to.toPath)
    }
    val straggler = new File(dst, live(17))
    straggler.getParentFile.mkdirs()
    val tmp = new File(straggler.getParentFile,
      s".${straggler.getName}-deadbeef.tmp")
    Files.write(tmp.toPath, Array[Byte](1, 2, 3)) // truncated in-flight copy

    // resume: the 17 finished copies skip, the 23 missing ones (the
    // tmp-only straggler included) copy fresh, v1 publishes once
    val ((v, copied), _, width) = copyRung(spark)(TxnTable.replicate(src, dst))
    assert(v == 1)
    assert(copied == 23, s"resume must copy exactly the missing files, got $copied")
    assert(width > 1, s"a 23-file batch must fan out, used $width thread(s)")
    assert(contentOf(dst) == contentOf(src))
    assert(tmp.isFile,
      "the dead tmp is an inert orphan — never promoted, never mistaken for the target")

    // and a later Δ sync of a many-file version fans out too
    TxnTable.commit(spark,
      spark.range(4000, 5000).select(col("id").as("k"), (col("id") % 7).as("p"))
        .repartition(20),
      src, overwrite = false)
    val ((v2, copied2), _, width2) = copyRung(spark)(TxnTable.replicate(src, dst))
    assert(v2 == 2 && copied2 == 20)
    assert(width2 > 1)
    assert(contentOf(dst) == contentOf(src))
  }

  private def distributed[A](body: => A): A = {
    spark.conf.set("spark.graft.replicate.distributedThreshold", "2")
    try body
    finally spark.conf.unset("spark.graft.replicate.distributedThreshold")
  }

  test("distributed rung: bulk seed and Δ sync run as a Spark job with identical results") {
    val src = fresh("dist_src"); val dst = fresh("dist_dst")
    TxnTable.commit(spark,
      spark.range(0, 4000).select(col("id").as("k"), (col("id") % 7).as("p"))
        .repartition(40),
      src, overwrite = false)
    distributed {
      val ((v, copied), rung, width) = copyRung(spark)(TxnTable.replicate(src, dst))
      assert(v == 1 && copied == 40)
      assert(rung == "distributed",
        s"a 40-file seed over the threshold must run as a Spark job, ran $rung")
      assert(width > 1)
    }
    assert(contentOf(dst) == contentOf(src))
    // Δ sync over the threshold distributes too; resume re-sync is a no-op
    TxnTable.commit(spark,
      spark.range(4000, 5000).select(col("id").as("k"), (col("id") % 7).as("p"))
        .repartition(20),
      src, overwrite = false)
    distributed {
      val (synced, rung, _) = copyRung(spark)(TxnTable.replicate(src, dst))
      assert(synced == ((2, 20)) && rung == "distributed")
      assert(TxnTable.replicate(src, dst) == ((2, 0)))
    }
    assert(contentOf(dst) == contentOf(src))
    // a ONE-file Δ never pays job scheduling even under the forced
    // threshold: the inline rung still catches the steady state
    commitRange(src, 5000, 5010)
    distributed {
      assert(copyRung(spark)(TxnTable.replicate(src, dst)) ==
        (((3, 1), "inline", 1)))
    }
  }

  test("distributed rung: mid-copy crash resumes, original exception propagates, corruption refuses") {
    val src = fresh("dist_crash_src"); val dst = fresh("dist_crash_dst")
    TxnTable.commit(spark,
      spark.range(0, 4000).select(col("id").as("k"), (col("id") % 7).as("p"))
        .repartition(40),
      src, overwrite = false)
    val live = TxnTable.liveFiles(src)
    // the interrupted-parallel-seed state: marker durable, 17 copies
    // landed whole, one dead private tmp, v1 never published
    new File(dst).mkdirs()
    Files.write(new File(dst, "_graft_replica.json").toPath,
      (s"""{"src":"${new File(src).getAbsolutePath}",""" +
        s""""seedSrcVersion":1,"syncedSrcVersion":1}""")
        .getBytes(StandardCharsets.UTF_8))
    live.take(17).foreach { rel =>
      val to = new File(dst, rel)
      to.getParentFile.mkdirs()
      Files.copy(new File(src, rel).toPath, to.toPath)
    }
    val tmp = new File(new File(dst, live(17)).getParentFile,
      s".${new File(live(17)).getName}-deadbeef.tmp")
    Files.write(tmp.toPath, Array[Byte](1, 2, 3))
    distributed {
      val ((v, copied), rung, _) = copyRung(spark)(TxnTable.replicate(src, dst))
      assert(v == 1)
      assert(copied == 23,
        s"distributed resume must copy exactly the missing files, got $copied")
      assert(rung == "distributed")
    }
    assert(contentOf(dst) == contentOf(src))
    assert(tmp.isFile, "the dead tmp stays an inert orphan under the job path")

    // a vanished seed file: the job surfaces the task's ORIGINAL
    // NoSuchFileException (not Spark's wrapper), nothing publishes
    val src2 = fresh("dist_fail_src"); val dst2 = fresh("dist_fail_dst")
    TxnTable.commit(spark,
      spark.range(0, 3000).select(col("id").as("k"), (col("id") % 7).as("p"))
        .repartition(30),
      src2, overwrite = false)
    new File(src2, TxnTable.liveFiles(src2).head).delete()
    distributed {
      intercept[java.nio.file.NoSuchFileException] {
        TxnTable.replicate(src2, dst2)
      }
    }
    assert(TxnTable.currentVersion(dst2) == 0,
      "a failed distributed seed must never publish v1")

    // live-at-snapshot-but-missing during a distributed Δ replay is
    // corruption: the driver-resolved policy refuses with the same
    // message the serial path throws
    val src3 = fresh("dist_corr_src"); val dst3 = fresh("dist_corr_dst")
    commitRange(src3, 0, 50)
    TxnTable.replicate(src3, dst3)
    TxnTable.commit(spark,
      spark.range(50, 2050).select(col("id").as("k"), (col("id") % 7).as("p"))
        .repartition(20),
      src3, overwrite = false)
    val v2live = TxnTable.liveFiles(src3, Some(2))
      .filterNot(TxnTable.liveFiles(src3, Some(1)).toSet)
    new File(src3, v2live.head).delete()
    distributed {
      val e = intercept[IllegalArgumentException] {
        TxnTable.replicate(src3, dst3)
      }
      assert(e.getMessage.contains("replication source corruption"),
        e.getMessage)
    }
  }

  test("spark.graft.replicate.parallelism bounds the driver pool width") {
    val src = fresh("knob_src"); val dst = fresh("knob_dst")
    TxnTable.commit(spark,
      spark.range(0, 2000).select(col("id").as("k"), (col("id") % 7).as("p"))
        .repartition(20),
      src, overwrite = false)
    spark.conf.set("spark.graft.replicate.parallelism", "2")
    try {
      val ((v, copied), rung, width) = copyRung(spark)(TxnTable.replicate(src, dst))
      assert(v == 1 && copied == 20)
      assert(rung == "pool")
      assert(width <= 2, s"a width-2 conf must bound the pool, used $width")
    } finally spark.conf.unset("spark.graft.replicate.parallelism")
    assert(contentOf(dst) == contentOf(src))
  }
}

object ReplicateSpec {

  /** Run `body` under [[Trace.record]] and tell which rung its
    * replication copies ran on, with their width: "distributed" is a
    * copy job under `sources.replicate` (width = its tasks), "pool" is
    * Overlap task spans under it (width = their distinct threads), and
    * "inline" is neither (width 1). */
  def copyRung[A](spark: SparkSession)(body: => A): (A, String, Int) = {
    val (out, report) = Trace.record(spark)(body)
    val job = report("sources.replicate")
    val pool = report("sources.replicate/replicate copy")
    if (job.jobs > 0) (out, "distributed", job.tasks)
    else if (pool.spans > 0) (out, "pool", pool.threads)
    else (out, "inline", 1)
  }
}
