package graft.sources

import java.io.File

import graft.SparkSpec
import org.apache.commons.io.FileUtils

/** [[TxnTable.resolveVersion]]'s contract: any version's live-file set
  * resolves from ONE pass over the log (the index) plus one
  * verification replay — never one replay per candidate version — and
  * a table recreated at the same path (same version numbers, new
  * content) rebuilds rather than serving stale resolutions. */
class TxnVersionIndexSpec extends SparkSpec {

  import spark.implicits._

  private val root = "/root/repo/target/tmp/spec_vindex"

  override def beforeAll(): Unit = {
    super.beforeAll()
    FileUtils.deleteQuietly(new File(root))
  }

  test("deep asOf pins resolve from the one-pass index, not per-version replays") {
    val t = s"$root/t50"
    (1 to 50).foreach { i =>
      TxnTable.commit(spark, Seq((i, i.toLong)).toDF("k", "v"), t,
        overwrite = false)
    }
    val set25 = TxnTable.liveFiles(t, Some(25)).toSet
    val cold0 = TxnTable.logEntryParses.get()
    assert(TxnTable.resolveVersion(t, set25).contains(25))
    val cold = TxnTable.logEntryParses.get() - cold0
    // cold = one full index pass (50 entries) + one verification replay
    // of v25 (25 entries); a per-version probe from the head would cost
    // sum(50..25) ≈ 975 parses
    assert(cold <= 80, s"cold resolution parsed $cold entries")

    val set10 = TxnTable.liveFiles(t, Some(10)).toSet
    val warm0 = TxnTable.logEntryParses.get()
    assert(TxnTable.resolveVersion(t, set10).contains(10))
    val warm = TxnTable.logEntryParses.get() - warm0
    // warm = verification replay of v10 only — the index is memoized
    assert(warm <= 11, s"warm resolution parsed $warm entries")

    // the newest matching version wins, same as a newest-first probe
    assert(TxnTable.resolveVersion(t, TxnTable.liveFiles(t, None).toSet)
      .contains(50))
    // a foreign file set matches no version
    assert(TxnTable.resolveVersion(t,
      Set("data/v00001/part-nope.parquet")).isEmpty)
    assert(TxnTable.resolveVersion(t, Set.empty[String]).isEmpty)
  }

  test("a recreated table at the same path rebuilds the index") {
    val t = s"$root/recreate"
    TxnTable.commit(spark, Seq((1, 1L)).toDF("k", "v"), t, overwrite = false)
    TxnTable.commit(spark, Seq((2, 2L)).toDF("k", "v"), t, overwrite = false)
    val oldSet = TxnTable.liveFiles(t, Some(2)).toSet
    assert(TxnTable.resolveVersion(t, oldSet).contains(2))
    // warm the snapshot and the stats rows of the old table
    assert(TxnTable.read(spark, t).count() == 2)
    assert(TxnTable.snapshotRowCount(t) == 2)
    TxnStats.refresh(spark, t, "k")
    assert(TxnStats.pruneFiles(spark, t, "k", 1, 1)._1.size == 1)

    FileUtils.deleteQuietly(new File(t))
    TxnTable.commit(spark, Seq((10, 10L)).toDF("k", "v"), t, overwrite = false)
    TxnTable.commit(spark, Seq((20, 20L), (30, 30L)).toDF("k", "v").coalesce(1),
      t, overwrite = false)
    val newSet = TxnTable.liveFiles(t, Some(2)).toSet
    assert(newSet != oldSet) // part-file names carry fresh UUIDs
    assert(TxnTable.resolveVersion(t, newSet).contains(2))
    assert(TxnTable.resolveVersion(t, oldSet).isEmpty)
    // the same version numbers must not serve the old table's snapshot
    assert(TxnTable.read(spark, t).as[(Int, Long)].collect().toSet ==
      Set((10, 10L), (20, 20L), (30, 30L)))
    assert(TxnTable.snapshotRowCount(t) == 3)
    TxnStats.refresh(spark, t, "k") // the same watermark (2) as before
    val (toRead, nLive) = TxnStats.pruneFiles(spark, t, "k", 10, 10)
    assert(nLive == 2 && toRead.size == 1 && newSet.contains(toRead.head),
      s"pruned to $toRead of $newSet")
  }

  test("overwrites and restores keep the index consistent with liveFiles") {
    val t = s"$root/ow"
    TxnTable.commit(spark, Seq((1, 1L)).toDF("k", "v"), t, overwrite = false)
    TxnTable.commit(spark, Seq((2, 2L)).toDF("k", "v"), t, overwrite = true)
    TxnTable.commit(spark, Seq((3, 3L)).toDF("k", "v"), t, overwrite = false)
    (1 to 3).foreach { v =>
      assert(TxnTable.resolveVersion(t, TxnTable.liveFiles(t, Some(v)).toSet)
        .contains(v), s"version $v did not resolve")
    }
  }
}
