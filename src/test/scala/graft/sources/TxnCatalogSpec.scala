package graft.sources

import java.io.File

import graft.SparkSpec
import org.apache.commons.io.FileUtils
import org.apache.spark.graftshim.TaskTimeListener
import org.apache.spark.sql.functions.{col, udf}

/** Behavior specs for the multi-table catalog transaction: all-or-none
  * visibility across tables, orphan invisibility (crash and lost-race
  * shapes), per-transaction time travel, and overwrite semantics through
  * the catalog replay.
  */
class TxnCatalogSpec extends SparkSpec {

  import spark.implicits._
  import TxnCatalog.Write
  import ReplicateSpec.copyRung

  private def freshCatalog(name: String): String = {
    val p = s"/root/repo/target/tmp/spec_cat_$name"
    FileUtils.deleteQuietly(new File(p))
    p
  }

  private def ids(c: String, t: String, asOf: Option[Int] = None): Set[Long] =
    TxnCatalog.read(spark, c, t, asOf).select("id").as[Long].collect().toSet

  test("one transaction commits N tables atomically; time travel per txn") {
    val c = freshCatalog("basic")
    assert(TxnCatalog.commitAll(spark, c, Seq(
      Write("cust", Seq(1L, 2L).toDF("id")),
      Write("ord", Seq(10L).toDF("id")))) == 1)
    assert(TxnCatalog.commitAll(spark, c, Seq(
      Write("cust", Seq(3L).toDF("id")),                    // append
      Write("ord", Seq(20L).toDF("id"), overwrite = true))) == 2)
    // only one table in txn 3 — the other carries over
    assert(TxnCatalog.commitAll(spark, c, Seq(
      Write("cust", Seq(4L).toDF("id")))) == 3)

    assert(ids(c, "cust") == Set(1L, 2L, 3L, 4L))
    assert(ids(c, "ord") == Set(20L))
    // append lineage grows; an overwrite TRUNCATES it to one version
    // (its removal list covers everything visible), bounding entry size
    assert(TxnCatalog.entry(c, None).versions("cust").size == 3)
    assert(TxnCatalog.entry(c, None).versions("ord").size == 1)
    assert(ids(c, "cust", Some(1)) == Set(1L, 2L))
    assert(ids(c, "ord", Some(1)) == Set(10L))
    assert(ids(c, "cust", Some(2)) == Set(1L, 2L, 3L))
    assert(ids(c, "ord", Some(2)) == Set(20L))
    assert(ids(c, "ord", Some(3)) == Set(20L))
    assert(TxnCatalog.tableVersions(c) == Map("cust" -> 3, "ord" -> 2))
  }

  test("a crash between table commits and catalog publish is invisible") {
    val c = freshCatalog("crash")
    TxnCatalog.commitAll(spark, c, Seq(Write("t", Seq(1L).toDF("id"))))
    // simulate: a second transaction staged its table write (the per-table
    // commit LANDED in the table's own log) but died before the catalog
    // entry — exactly the half-updated-warehouse shape the reference has
    TxnTable.commit(spark, Seq(99L).toDF("id"),
      TxnCatalog.tablePath(c, "t"), overwrite = false)
    assert(TxnTable.currentVersion(TxnCatalog.tablePath(c, "t")) == 2)
    assert(TxnCatalog.currentTxn(c) == 1)
    assert(ids(c, "t") == Set(1L), "orphan version must stay invisible")
    // and the NEXT committed transaction does not resurrect the orphan:
    // its rows never appear even though the orphan version sits below
    // the new pinned version in the same per-table log
    TxnCatalog.commitAll(spark, c, Seq(Write("t", Seq(2L).toDF("id"))))
    assert(ids(c, "t") == Set(1L, 2L))
    // an overwrite after the orphan clears catalog-visible history too
    TxnCatalog.commitAll(spark, c, Seq(
      Write("t", Seq(7L).toDF("id"), overwrite = true)))
    assert(ids(c, "t") == Set(7L))
    assert(ids(c, "t", Some(2)) == Set(1L, 2L), "time travel intact")
  }

  test("racing transactions: exactly one publishes, the loser stays invisible") {
    val c = freshCatalog("race")
    TxnCatalog.commitAll(spark, c, Seq(Write("t", Seq(1L).toDF("id"))))
    // both writers pin expectedTxn = 2; A lands first
    assert(TxnCatalog.commitAll(spark, c,
      Seq(Write("t", Seq(2L).toDF("id"))), expectedTxn = Some(2)) == 2)
    intercept[java.util.ConcurrentModificationException] {
      TxnCatalog.commitAll(spark, c,
        Seq(Write("t", Seq(666L).toDF("id"))), expectedTxn = Some(2))
    }
    assert(ids(c, "t") == Set(1L, 2L), "loser's rows must never surface")
    assert(TxnCatalog.currentTxn(c) == 2)
    // the winner's lineage continues cleanly past the orphan
    TxnCatalog.commitAll(spark, c, Seq(Write("t", Seq(3L).toDF("id"))))
    assert(ids(c, "t") == Set(1L, 2L, 3L))
  }

  test("catalog restore snaps every table back together, zero table commits") {
    val c = freshCatalog("restore")
    TxnCatalog.commitAll(spark, c, Seq(
      Write("a", Seq(1L).toDF("id")), Write("b", Seq(10L).toDF("id"))))
    TxnCatalog.commitAll(spark, c, Seq(
      Write("a", Seq(2L).toDF("id")),
      Write("b", Seq(20L).toDF("id"), overwrite = true)))
    val aV = TxnTable.currentVersion(TxnCatalog.tablePath(c, "a"))
    val bV = TxnTable.currentVersion(TxnCatalog.tablePath(c, "b"))
    assert(TxnCatalog.restore(c, toTxn = 1) == 3)
    // both tables roll back together…
    assert(ids(c, "a") == Set(1L) && ids(c, "b") == Set(10L))
    // …without a single new per-table version (zero copy)
    assert(TxnTable.currentVersion(TxnCatalog.tablePath(c, "a")) == aV)
    assert(TxnTable.currentVersion(TxnCatalog.tablePath(c, "b")) == bV)
    // the rolled-back state stays travelable
    assert(ids(c, "a", Some(2)) == Set(1L, 2L))
    assert(ids(c, "b", Some(2)) == Set(20L))
    // and life continues on top of the restore
    TxnCatalog.commitAll(spark, c, Seq(Write("a", Seq(3L).toDF("id"))))
    assert(ids(c, "a") == Set(1L, 3L))
    intercept[IllegalArgumentException] {
      TxnCatalog.restore(c, toTxn = 4) // current head
    }
  }

  test("registerViews pins one consistent SQL snapshot across later commits") {
    val c = freshCatalog("views")
    TxnCatalog.commitAll(spark, c, Seq(
      Write("aa", Seq(1L, 2L).toDF("id")), Write("bb", Seq(1L).toDF("id"))))
    TxnCatalog.registerViews(spark, c, asOf = Some(1), prefix = "snap1_")
    TxnCatalog.commitAll(spark, c, Seq(
      Write("aa", Seq(9L).toDF("id"), overwrite = true),
      Write("bb", Seq(9L).toDF("id"), overwrite = true)))
    // the pinned views still join to txn 1's state after txn 2 landed
    val joined = spark.sql(
      "SELECT a.id FROM snap1_aa a JOIN snap1_bb b ON a.id = b.id")
      .collect().map(_.getLong(0)).toSet
    assert(joined == Set(1L))
    TxnCatalog.registerViews(spark, c, prefix = "cur_")
    assert(spark.sql("SELECT id FROM cur_aa").collect()
      .map(_.getLong(0)).toSet == Set(9L))
  }

  test("reads fail loudly for unknown tables and unborn catalogs") {
    val c = freshCatalog("empty")
    intercept[IllegalArgumentException] { ids(c, "t") }
    TxnCatalog.commitAll(spark, c, Seq(Write("t", Seq(1L).toDF("id"))))
    intercept[IllegalArgumentException] { ids(c, "nope") }
    intercept[IllegalArgumentException] {
      TxnCatalog.commitAll(spark, c, Seq(
        Write("t", Seq(1L).toDF("id")), Write("t", Seq(2L).toDF("id"))))
    }
  }

  test("compactLineage truncates an append lineage zero-copy; history still travels") {
    val c = freshCatalog("compact")
    (1 to 5).foreach(i =>
      TxnCatalog.commitAll(spark, c, Seq(Write("ev", Seq(i.toLong).toDF("id")))))
    assert(TxnCatalog.lineageLength(c, "ev") == 5)
    val before = ids(c, "ev")
    def parquetFiles = org.apache.commons.io.FileUtils
      .listFiles(new File(TxnCatalog.tablePath(c, "ev"), "data"),
        Array("parquet"), true).size
    val filesBefore = parquetFiles

    val txn = TxnCatalog.compactLineage(spark, c, "ev")
    assert(txn == 6)
    // lineage bounded to ONE version, content identical, ZERO data written
    assert(TxnCatalog.lineageLength(c, "ev") == 1)
    assert(ids(c, "ev") == before)
    assert(parquetFiles == filesBefore, "compaction must not write data")
    // pre-compact entries still replay their own (long) lineage
    assert(TxnCatalog.lineageLength(c, "ev", Some(5)) == 5)
    assert(ids(c, "ev", Some(5)) == before)
    // later appends extend the truncated lineage
    TxnCatalog.commitAll(spark, c, Seq(Write("ev", Seq(99L).toDF("id"))))
    assert(TxnCatalog.lineageLength(c, "ev") == 2)
    assert(ids(c, "ev") == before + 99L)
    // vacuum keeps every file some entry references: nothing is orphaned
    assert(TxnCatalog.vacuum(c) == 0)
    assert(ids(c, "ev", Some(3)) == Set(1L, 2L, 3L))
  }

  test("entry lineage self-caps past spark.graft.catalog.maxLineage (streaming-sink shape)") {
    val c = freshCatalog("lincap")
    spark.conf.set("spark.graft.catalog.maxLineage", "8")
    try {
      // an append-only micro-batch sink: 20 one-row commits
      (1 to 20).foreach(i =>
        TxnCatalog.commitAll(spark, c, Seq(Write("ev", Seq(i.toLong).toDF("id")))))
      // without the cap the entry would list 20 versions; with it, every
      // entry stays ≤ cap+1 (the squash itself counts one)
      (1 to 20).foreach { t =>
        assert(TxnCatalog.lineageLength(c, "ev", Some(t)) <= 9,
          s"entry t$t lineage ${TxnCatalog.lineageLength(c, "ev", Some(t))}")
      }
      // content is complete at the head and EVERY squash boundary travels
      assert(ids(c, "ev") == (1L to 20L).toSet)
      assert(ids(c, "ev", Some(8)) == (1L to 8L).toSet)
      assert(ids(c, "ev", Some(9)) == (1L to 9L).toSet)
      assert(ids(c, "ev", Some(10)) == (1L to 10L).toSet)
      // squashes are metadata-only: one data dir per commit, none extra
      val dataDirs = Option(new File(TxnCatalog.tablePath(c, "ev"), "data")
        .listFiles()).getOrElse(Array.empty).count(_.isDirectory)
      assert(dataDirs == 20, s"squash must not rewrite data ($dataDirs dirs)")
      // vacuum keeps everything any entry references
      assert(TxnCatalog.vacuum(c) == 0)
      assert(ids(c, "ev", Some(15)) == (1L to 15L).toSet)
      // a squash version RE-LISTS live files — addedFiles must refuse a
      // range containing one (treating it as an append would silently
      // double-count every pre-existing row downstream)
      val t = TxnCatalog.tablePath(c, "ev")
      val head = TxnTable.currentVersion(t)
      intercept[IllegalArgumentException] {
        TxnTable.addedFiles(t, 0, head)
      }
      // a squash-free tail range still reads as appends
      assert(TxnTable.addedFiles(t, head - 1, head).nonEmpty)
    } finally spark.conf.unset("spark.graft.catalog.maxLineage")
  }

  test("compactLineage rejects unknown tables and races like any commit") {
    val c = freshCatalog("compact_err")
    TxnCatalog.commitAll(spark, c, Seq(Write("t", Seq(1L).toDF("id"))))
    intercept[IllegalArgumentException] {
      TxnCatalog.compactLineage(spark, c, "nope")
    }
    // a stale expectedTxn loses the put-if-absent publish
    TxnCatalog.commitAll(spark, c, Seq(Write("t", Seq(2L).toDF("id"))))
    intercept[java.util.ConcurrentModificationException] {
      TxnCatalog.compactLineage(spark, c, "t", expectedTxn = Some(2))
    }
    assert(ids(c, "t") == Set(1L, 2L))
  }

  test("catalog MOR delete addresses the catalog snapshot, not table-local orphans") {
    val c = freshCatalog("mor")
    TxnCatalog.commitAll(spark, c, Seq(Write("t", (1L to 10L).toDF("id"))))
    // orphan: a table-local commit no catalog entry references — its rows
    // must be invisible to the predicate AND to reads
    TxnTable.commit(spark, Seq(99L).toDF("id"),
      TxnCatalog.tablePath(c, "t"), overwrite = false)
    val (txn, n) = TxnCatalog.deleteWhereMor(spark, c, "t", $"id" % 2 === 0L)
    assert(txn == 2 && n == 5)
    assert(ids(c, "t") == Set(1L, 3L, 5L, 7L, 9L))
    // time travel to txn 1 resurrects; lineage grew by exactly the vector
    assert(ids(c, "t", Some(1)) == (1L to 10L).toSet)
    assert(TxnCatalog.lineageLength(c, "t") == 2)
    // compacting the lineage materializes nothing but keeps the filter
    TxnCatalog.compactLineage(spark, c, "t")
    assert(ids(c, "t") == Set(1L, 3L, 5L, 7L, 9L))
    // no-op predicate publishes nothing
    assert(TxnCatalog.deleteWhereMor(spark, c, "t", $"id" === 42L) ==
      ((TxnCatalog.currentTxn(c), 0L)))
  }

  test("forgetWhere erases the subject from every table atomically") {
    val c = freshCatalog("forget")
    TxnCatalog.commitAll(spark, c, Seq(
      Write("a", (1L to 20L).toDF("id")),
      Write("b", (1L to 20L).map(i => (i, i % 5)).toDF("k", "uid"))))
    val (txn, counts) = TxnCatalog.forgetWhere(spark, c, Map(
      "a" -> ($"id" % 5 === 0L),
      "b" -> ($"uid" === 0L)))
    assert(txn == 2 && counts == Map("a" -> 4L, "b" -> 4L))
    assert(ids(c, "a") == (1L to 20L).filterNot(_ % 5 == 0).toSet)
    assert(TxnCatalog.read(spark, c, "b").select("k").as[Long]
      .collect().toSet == (1L to 20L).filterNot(_ % 5 == 0).toSet)
    // pre-forget snapshot resurrects both subjects together
    assert(ids(c, "a", Some(1)) == (1L to 20L).toSet)
    // nothing-matched anywhere: no transaction published
    assert(TxnCatalog.forgetWhere(spark, c, Map(
      "a" -> ($"id" === 999L), "b" -> ($"uid" === 999L))) ==
      ((2, Map("a" -> 0L, "b" -> 0L))))
    assert(TxnCatalog.currentTxn(c) == 2)
    // partial match: untouched table keeps its version inside the txn
    val (txn3, counts3) = TxnCatalog.forgetWhere(spark, c, Map(
      "a" -> ($"id" === 7L), "b" -> ($"uid" === 999L)))
    assert(txn3 == 3 && counts3 == Map("a" -> 1L, "b" -> 0L))
    assert(TxnCatalog.tableVersions(c)("b") ==
      TxnCatalog.tableVersions(c, Some(2))("b"))
    assert(ids(c, "a") == (1L to 20L).filterNot(i => i % 5 == 0 || i == 7).toSet)
  }

  test("renameColumn: zero-rewrite rename; reads, writes, deletes, travel all resolve") {
    val c = freshCatalog("rename")
    TxnCatalog.commitAll(spark, c, Seq(
      Write("t", (1L to 10L).map(i => (i, i * 10)).toDF("id", "val"))))
    def files = org.apache.commons.io.FileUtils
      .listFiles(new File(TxnCatalog.tablePath(c, "t"), "data"),
        Array("parquet"), true).size
    val before = files
    assert(TxnCatalog.renameColumn(spark, c, "t", "val", "amount") == 2)
    assert(files == before, "rename must not touch data")
    // reads show the logical name
    assert(TxnCatalog.read(spark, c, "t").columns.toSeq == Seq("id", "amount"))
    // pre-rename snapshots keep the old name
    assert(TxnCatalog.read(spark, c, "t", Some(1)).columns.toSeq == Seq("id", "val"))
    // appends written with LOGICAL names land on the physical schema —
    // mixed pre/post-rename versions read as one coherent table
    TxnCatalog.commitAll(spark, c, Seq(
      Write("t", Seq((11L, 110L)).toDF("id", "amount"))))
    val all = TxnCatalog.read(spark, c, "t")
      .select("id", "amount").as[(Long, Long)].collect().toMap
    assert(all == (1L to 11L).map(i => i -> i * 10).toMap)
    // predicate-taking ops speak the logical name too
    val (_, n) = TxnCatalog.deleteWhereMor(spark, c, "t", $"amount" > 100L)
    assert(n == 1)
    assert(TxnCatalog.read(spark, c, "t").count() == 10)
    // rename twice more: back to the physical name drops the map entry
    TxnCatalog.renameColumn(spark, c, "t", "amount", "pennies")
    assert(TxnCatalog.read(spark, c, "t").columns.contains("pennies"))
    TxnCatalog.renameColumn(spark, c, "t", "pennies", "val")
    assert(TxnCatalog.entry(c, None).colmap.getOrElse("t", Map.empty).isEmpty)
    // invalid renames fail loudly
    intercept[IllegalArgumentException] {
      TxnCatalog.renameColumn(spark, c, "t", "nope", "x")
    }
    intercept[IllegalArgumentException] {
      TxnCatalog.renameColumn(spark, c, "t", "id", "val")
    }
    // restore across the rename resolves names from the restored entry
    TxnCatalog.restore(c, toTxn = 2)
    assert(TxnCatalog.read(spark, c, "t").columns.toSeq == Seq("id", "amount"))
    assert(TxnCatalog.read(spark, c, "t").count() == 10)
  }

  test("dropColumn: zero-rewrite drop; reads hide, re-add refused, travel shows") {
    val c = freshCatalog("drop")
    TxnCatalog.commitAll(spark, c, Seq(
      Write("t", (1L to 5L).map(i => (i, i * 10, s"u$i")).toDF("id", "val", "who"))))
    def files = org.apache.commons.io.FileUtils
      .listFiles(new File(TxnCatalog.tablePath(c, "t"), "data"),
        Array("parquet"), true).size
    val before = files
    assert(TxnCatalog.dropColumn(spark, c, "t", "who") == 2)
    assert(files == before, "drop must not touch data")
    assert(TxnCatalog.read(spark, c, "t").columns.toSeq == Seq("id", "val"))
    // pre-drop snapshot still shows the column
    assert(TxnCatalog.read(spark, c, "t", Some(1)).columns.contains("who"))
    // appends WITHOUT the column are the normal post-drop shape; the
    // mixed pre/post files read deterministically
    TxnCatalog.commitAll(spark, c, Seq(
      Write("t", Seq((6L, 60L)).toDF("id", "val"))))
    assert(TxnCatalog.read(spark, c, "t")
      .select("id").as[Long].collect().toSet == (1L to 6L).toSet)
    // silently re-adding the dropped physical name is refused
    intercept[IllegalArgumentException] {
      TxnCatalog.commitAll(spark, c, Seq(
        Write("t", Seq((7L, 70L, "x")).toDF("id", "val", "who"))))
    }
    // a RENAMED column drops by its physical carrier and stays dropped
    TxnCatalog.renameColumn(spark, c, "t", "val", "amount")
    TxnCatalog.dropColumn(spark, c, "t", "amount")
    assert(TxnCatalog.read(spark, c, "t").columns.toSeq == Seq("id"))
    // the last visible column cannot be dropped
    intercept[IllegalArgumentException] {
      TxnCatalog.dropColumn(spark, c, "t", "id")
    }
    // restore across the drops resolves schema from the restored entry
    TxnCatalog.restore(c, toTxn = 2)
    assert(TxnCatalog.read(spark, c, "t").columns.toSeq == Seq("id", "val"))
  }

  test("commitAllWithRetry: racing catalog committers all land exactly once") {
    val c = freshCatalog("retry")
    TxnCatalog.commitAll(spark, c, Seq(Write("t", Seq(0L).toDF("id"))))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val futures = (1 to 6).map { i =>
      pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = TxnCatalog.commitAllWithRetry(spark, c,
          Seq(Write("t", Seq(i.toLong).toDF("id"))), maxAttempts = 20)
      })
    }
    futures.foreach(_.get())
    pool.shutdown()
    assert(ids(c, "t") == (0L to 6L).toSet)
    assert(TxnCatalog.currentTxn(c) == 7)
    // losing attempts strand orphan table versions — vacuum may sweep
    // bytes, every committed snapshot stays intact
    TxnCatalog.vacuum(c)
    assert(ids(c, "t") == (0L to 6L).toSet)
  }

  test("a failed write cancels its slow sibling: commitAll throws it at once, publishes nothing") {
    val c = freshCatalog("first_failure")
    TxnCatalog.commitAll(spark, c, Seq(
      Write("slow", Seq(1L).toDF("id")), Write("bad", Seq(1L).toDF("id"))))
    val before = TxnCatalog.tableVersions(c)
    // sleeps in 100 ms steps for ~30 s and stops when interrupted
    val sleepy = udf { (x: Long) => (1 to 300).foreach(_ => Thread.sleep(100)); x }
      .asNondeterministic()
    val poison = udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException("bad write"); x
    }.asNondeterministic()
    val t0 = System.nanoTime()
    val e = intercept[Exception] {
      TxnCatalog.commitAll(spark, c, Seq(
        Write("slow", spark.range(1).select(sleepy(col("id")).as("id"))),
        Write("bad", spark.range(1).select(poison(col("id")).as("id")))))
    }
    val secs = (System.nanoTime() - t0) / 1e9
    // the bad write's own failure, not the pool's wrapper nor the slow
    // write's cancellation
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException], e)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => t.isInstanceOf[IllegalStateException] &&
        t.getMessage == "bad write"), e)
    assert(secs < 10, s"the first failure must not wait for the 30 s write: $secs s")
    assert(TxnCatalog.tableVersions(c) == before)
    TaskTimeListener.flush(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
  }

  test("non-numeric maxLineage and replicate widths fall back to their defaults") {
    val keys = Seq("spark.graft.catalog.maxLineage",
      "spark.graft.replicate.parallelism",
      "spark.graft.replicate.distributedThreshold")
    keys.foreach(spark.conf.set(_, "lots"))
    try {
      val c = freshCatalog("conf_typo")
      assert(TxnCatalog.commitAll(spark, c, Seq(
        Write("a", Seq(1L).toDF("id")), Write("b", Seq(2L).toDF("id")))) == 1)
      assert(ids(c, "a") == Set(1L) && ids(c, "b") == Set(2L))
      val src = freshCatalog("conf_typo_src")
      val dst = freshCatalog("conf_typo_dst")
      TxnTable.commit(spark, spark.range(0, 200).repartition(8).toDF("id"),
        src, overwrite = false)
      // the default width fans out on driver threads; the default
      // threshold (256 files) keeps 8 files off the distributed rung
      val ((v, copied), rung, width) = copyRung(spark)(TxnTable.replicate(src, dst))
      assert((v, copied) == ((1, 8)))
      assert(rung == "pool" && width > 1)
    } finally keys.foreach(spark.conf.unset)
  }

  test("vacuum reclaims dead tmps: a torn catalog entry and a cut-short replica copy") {
    val c = freshCatalog("vacuum_tmps")
    TxnCatalog.commitAll(spark, c, Seq(
      Write("a", Seq(1L, 2L).toDF("id")), Write("b", Seq(10L).toDF("id"))))
    TxnCatalog.commitAll(spark, c, Seq(Write("a", Seq(3L).toDF("id"))))
    def files(): Set[String] = {
      val root = new File(c).toPath
      val walk = java.nio.file.Files.walk(root)
      try walk.filter(p => java.nio.file.Files.isRegularFile(p)).toArray
        .map(p => root.relativize(p.asInstanceOf[java.nio.file.Path]).toString).toSet
      finally walk.close()
    }
    def reads() = Seq(Some(1), Some(2), None).flatMap(t => Seq(ids(c, "a", t), ids(c, "b", t)))
    val (filesBefore, readsBefore) = (files(), reads())
    val versionsBefore = TxnCatalog.tableVersions(c)
    // a crash inside the catalog publish: its private entry tmp, never linked
    val torn = new File(c, "_graft_txn/.t00003-deadbeef.json.tmp")
    FileUtils.writeStringToFile(torn, """{"txn":3,"tables":{"a":9}}""",
      java.nio.charset.StandardCharsets.UTF_8)
    // a crash mid replica copy: the copy's private tmp beside its target
    val a = TxnCatalog.tablePath(c, "a")
    val part = new File(a, TxnTable.liveFiles(a).head)
    val copyTmp = new File(part.getParentFile, s".${part.getName}-deadbeef.tmp")
    java.nio.file.Files.write(copyTmp.toPath, Array[Byte](1, 2, 3))
    // and a torn per-table log entry
    val tornLog = new File(a, "_graft_log/.v00003.json.tmp")
    FileUtils.writeStringToFile(tornLog, "{}", java.nio.charset.StandardCharsets.UTF_8)
    assert(files() == filesBefore ++ Set(torn, copyTmp, tornLog)
      .map(f => new File(c).toPath.relativize(f.toPath).toString))

    assert(TxnCatalog.vacuum(c) == 0, "no data file is unreferenced")
    assert(!torn.exists() && !copyTmp.exists() && !tornLog.exists())
    assert(files() == filesBefore, "every live file is untouched")
    assert(reads() == readsBefore)
    assert(TxnCatalog.currentTxn(c) == 2)
    assert(TxnCatalog.tableVersions(c) == versionsBefore)
  }

  /** Every regular file under `c`, as paths relative to it. */
  private def treeFiles(c: String): Set[String] = {
    val root = new File(c).toPath
    val walk = java.nio.file.Files.walk(root)
    try walk.filter(p => java.nio.file.Files.isRegularFile(p)).toArray
      .map(p => root.relativize(p.asInstanceOf[java.nio.file.Path]).toString).toSet
    finally walk.close()
  }

  test("vacuum deletes the deletion vector of a delete that lost its catalog publish") {
    val c = freshCatalog("vacuum_dv")
    TxnCatalog.commitAll(spark, c, Seq(Write("t", (1L to 10L).toDF("id"))))
    TxnCatalog.commitAll(spark, c, Seq(Write("t", Seq(11L, 12L).toDF("id"))))
    def reads() = Seq(Some(1), Some(2), None).map(t => ids(c, "t", t))
    val readsBefore = reads()
    // built on t1's snapshot, the delete stages its vector as a table
    // version, then loses the catalog publish to the existing t2
    intercept[java.util.ConcurrentModificationException] {
      TxnCatalog.deleteWhereMor(spark, c, "t", $"id" % 2 === 0L,
        expectedTxn = Some(2))
    }
    val staged = treeFiles(c)
    val orphanDv = staged.filter(f =>
      f.startsWith("tables/t/dv/") && f.matches(".*/part-[^/]*\\.parquet"))
    assert(orphanDv.size == 1, s"one orphan vector file: $staged")
    assert(reads() == readsBefore, "the lost delete is invisible")

    // the vector's commit dir (its .crc and _SUCCESS markers with it)
    val orphanDir = orphanDv.head.split('/').take(4).mkString("/")
    assert(orphanDir.matches("tables/t/dv/v00003-[^/]*"), orphanDir)

    assert(TxnCatalog.vacuum(c) == 1)
    assert(!new File(c, orphanDir).exists, s"$orphanDir must go whole")
    assert(treeFiles(c) == staged.filterNot(_.startsWith(orphanDir + "/")),
      "only the orphan vector's commit dir goes")
    assert(reads() == readsBefore)
    assert(TxnCatalog.currentTxn(c) == 2)
  }

  // Captured from the parent format's writer: replicas byte-compare
  // entries, so the codec must reproduce these bytes exactly.
  private val goldenPlain =
    """{"txn":1,"tables":{"a":1,"b":1},"versions":{"a":[1],"b":[1]}}"""
  private val goldenFull =
    """{"txn":5,"tables":{"a":2,"b":1},"versions":{"a":[1,2],"b":[1]},""" +
      """"colmap":{"a|val":"amount","b|w":"weight"},"coldrop":{"a|extra":1},""" +
      """"tag":"golden"}"""

  test("Entry: golden entries parse and serialize back to the same bytes") {
    import TxnCatalog.Entry
    for (g <- Seq(goldenPlain, goldenFull)) assert(Entry.parse(g).json == g)
    assert(Entry.parse(goldenPlain) ==
      Entry(1, Map("a" -> 1, "b" -> 1), Map("a" -> Seq(1), "b" -> Seq(1))))
    assert(Entry.parse(goldenFull) == Entry(5, Map("a" -> 2, "b" -> 1),
      Map("a" -> Seq(1, 2), "b" -> Seq(1)),
      Map("a" -> Map("val" -> "amount"), "b" -> Map("w" -> "weight")),
      Map("a" -> Set("extra")), Some("golden")))
    // empty per-table maps serialize like absent ones
    assert(Entry.parse(goldenPlain).copy(colmap = Map("a" -> Map.empty),
      drops = Map("b" -> Set.empty)).json == goldenPlain)
    intercept[IllegalArgumentException](Entry.parse("""{"txn":1,"tables":{}}"""))

    // the operations that wrote the golden entries still write them
    val c = freshCatalog("golden")
    TxnCatalog.commitAll(spark, c, Seq(
      Write("a", Seq((1L, 10L, 7L)).toDF("id", "val", "extra")),
      Write("b", Seq((1L, 2L)).toDF("id", "w"))))
    TxnCatalog.commitAll(spark, c, Seq(
      Write("a", Seq((2L, 20L, 8L)).toDF("id", "val", "extra"))))
    TxnCatalog.renameColumn(spark, c, "a", "val", "amount")
    TxnCatalog.renameColumn(spark, c, "b", "w", "weight")
    TxnCatalog.dropColumn(spark, c, "a", "extra", tag = Some("golden"))
    def bytes(t: Int) = FileUtils.readFileToString(
      new File(c, f"_graft_txn/t$t%05d.json"), java.nio.charset.StandardCharsets.UTF_8)
    assert(bytes(1) == goldenPlain)
    assert(bytes(5) == goldenFull)
  }

  test("Entry.overlay takes a table's whole state from the other entry") {
    import TxnCatalog.Entry
    val main = Entry(4, Map("a" -> 2, "b" -> 1), Map("a" -> Seq(1, 2), "b" -> Seq(1)),
      Map("a" -> Map("v" -> "w")), Map("b" -> Set("z")), Some("m"))
    val branch = Entry(6, Map("a" -> 3, "c" -> 1), Map("a" -> Seq(3), "c" -> Seq(1)))
    assert(branch.changedFrom(main) == Set("a", "b", "c"))
    assert(main.changedFrom(main).isEmpty)
    assert(main.overlay(branch, Set("a", "c")) == Entry(4,
      Map("a" -> 3, "b" -> 1, "c" -> 1), Map("a" -> Seq(3), "b" -> Seq(1), "c" -> Seq(1)),
      Map.empty, Map("b" -> Set("z")), Some("m")))
  }

  test("a read racing restores sees one entry's lineage and column map together") {
    val c = freshCatalog("torn_read")
    TxnCatalog.commitAll(spark, c, Seq(Write("t", Seq(1L).toDF("a"))))   // t1: a {1}
    TxnCatalog.commitAll(spark, c, Seq(Write("t", Seq(2L).toDF("a"))))   // t2: a {1, 2}
    TxnCatalog.renameColumn(spark, c, "t", "a", "x")                     // t3: x {1, 2}
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writer = new Thread(() => {
      var i = 0
      while (!done.get && i < 4000) {
        TxnCatalog.restore(c, if (i % 2 == 0) 1 else 3)
        i += 1
      }
    })
    writer.start()
    val seen = try (1 to 60).map { _ =>
      val df = TxnCatalog.read(spark, c, "t")
      (df.columns.toSeq, df.as[Long].collect().toSet)
    } finally { done.set(true); writer.join() }
    val valid = Set((Seq("a"), Set(1L)), (Seq("x"), Set(1L, 2L)))
    assert(seen.filterNot(valid).isEmpty, s"torn reads: ${seen.filterNot(valid).distinct}")
  }
}
