package graft.sources

import java.io.File

import graft.SparkSpec
import graft.plans.AutoFilePrune.filesScanned
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

/** Incremental min-max stats under the txn log: O(Δ) refresh, pruning
  * correctness, the never-skip-blind freshness rule, and stale-stats
  * inertness across overwrites.
  */
class TxnStatsSpec extends SparkSpec {

  import spark.implicits._

  private def fresh(name: String): String = {
    val p = s"/root/repo/target/tmp/spec_stats_$name"
    FileUtils.deleteQuietly(new File(p))
    p
  }

  private def commitRange(t: String, lo: Long, hi: Long): Unit =
    TxnTable.commit(spark,
      spark.range(lo, hi).select(col("id"), (col("id") % 7).as("payload"))
        .coalesce(1),
      t, overwrite = false)

  test("stats prune range scans exactly; refresh is O(new files); stale rows inert") {
    val t = fresh("basic")
    Seq((0L, 100L), (100L, 200L), (200L, 300L), (300L, 400L))
      .foreach { case (lo, hi) => commitRange(t, lo, hi) }
    assert(TxnStats.refresh(spark, t, "id") == 4)
    assert(TxnStats.indexedVersion(t, "id") == 4)
    assert(TxnStats.refresh(spark, t, "id") == 0, "fresh refresh is a no-op")

    val (toRead, nLive) = TxnStats.pruneFiles(spark, t, "id", 150L, 160L)
    assert(nLive == 4 && toRead.size == 1, s"want 1 of 4 files, got $toRead")
    def ids(lo: Long, hi: Long) =
      TxnStats.prunedRead(spark, t, "id", lo, hi)
        .select("id").as[Long].collect().sorted.toSeq
    assert(ids(150, 160) == (150L to 160L))
    assert(ids(95, 105) == (95L to 105L), "range spanning two files")
    assert(ids(900, 950).isEmpty, "out-of-range reads nothing")

    // a commit the stats have not seen is READ, never skipped
    commitRange(t, 400L, 500L)
    assert(ids(450, 455) == (450L to 455L),
      "unindexed live file must not be skipped")
    assert(TxnStats.refresh(spark, t, "id") == 1, "only the new file indexed")
    val (afterRefresh, _) = TxnStats.pruneFiles(spark, t, "id", 450L, 455L)
    assert(afterRefresh.size == 1)

    // overwrite: stale stats rows for dead files are inert
    TxnTable.commit(spark,
      spark.range(1000L, 1100L).select(col("id"), (col("id") % 7).as("payload")),
      t, overwrite = true)
    assert(ids(150, 160).isEmpty, "overwritten rows must not resurface")
    assert(TxnStats.pruneFiles(spark, t, "id", 0L, 5000L)._2 ==
      TxnTable.liveFiles(t).size)
    TxnStats.refresh(spark, t, "id")
    assert(ids(1000, 1004) == (1000L to 1004L))
  }

  test("footer refresh records the same stats as the scan refresh, metadata-only") {
    val ta = fresh("foot_a")
    val tb = fresh("foot_b")
    Seq((0L, 100L), (100L, 250L), (250L, 300L)).foreach { case (lo, hi) =>
      commitRange(ta, lo, hi); commitRange(tb, lo, hi)
    }
    assert(TxnStats.refresh(spark, ta, "id") == 3)
    assert(TxnStats.refreshFromFooters(spark, tb, "id") == 3)
    def statsOf(t: String) = spark.read
      .parquet(s"$t/_graft_stats/id")
      .collect().map(r => (r.getString(0).split("/").last.take(0), // file names differ per table
        r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(statsOf(ta).map { case (_, mn, mx, n) => (mn, mx, n) } ==
      statsOf(tb).map { case (_, mn, mx, n) => (mn, mx, n) })
    assert(statsOf(tb).map { case (_, mn, mx, n) => (mn, mx, n) } ==
      Set((0L, 99L, 100L), (100L, 249L, 150L), (250L, 299L, 50L)))
    // pruning behaves identically
    assert(TxnStats.pruneFiles(spark, tb, "id", 120L, 130L)._1.size == 1)
    assert(TxnStats.refreshFromFooters(spark, tb, "id") == 0, "idempotent")
    // incremental: one more commit, one more footer read
    commitRange(tb, 300L, 350L)
    assert(TxnStats.refreshFromFooters(spark, tb, "id") == 1)
    assert(TxnStats.prunedRead(spark, tb, "id", 310L, 312L)
      .select("id").as[Long].collect().sorted.toSeq == (310L to 312L))
    // the two refresh flavors INTERLEAVE on one table: scan path picks
    // up where the footer watermark left off
    commitRange(tb, 350L, 400L)
    assert(TxnStats.refresh(spark, tb, "id") == 1)
    assert(TxnStats.prunedRead(spark, tb, "id", 360L, 361L)
      .select("id").as[Long].collect().sorted.toSeq == (360L to 361L))
  }

  test("an all-NULL column file indexes a null bound and is skipped (BETWEEN is null-rejecting)") {
    val t = fresh("foot_null")
    TxnTable.commit(spark,
      spark.range(0L, 50L).select(col("id"),
        org.apache.spark.sql.functions.lit(null).cast("long").as("maybe"))
        .coalesce(1),
      t, overwrite = false)
    TxnTable.commit(spark,
      spark.range(50L, 100L).select(col("id"), col("id").as("maybe"))
        .coalesce(1),
      t, overwrite = false)
    // the all-null file records a (null, null) stats row: a range read
    // can never select its rows, so it is soundly SKIPPED
    assert(TxnStats.refreshFromFooters(spark, t, "maybe") == 2)
    val (toRead, nLive) = TxnStats.pruneFiles(spark, t, "maybe", 60L, 70L)
    assert(nLive == 2 && toRead.size == 1,
      s"all-null file must be pruned from the read set: $toRead")
    assert(TxnStats.prunedRead(spark, t, "maybe", 60L, 70L)
      .select("maybe").as[Long].collect().sorted.toSeq == (60L to 70L))
  }

  test("deleteWhere rewrites only matching files and keeps NULL-predicate rows") {
    val t = fresh("delete")
    Seq((0L, 100L), (100L, 200L), (200L, 300L))
      .foreach { case (lo, hi) => commitRange(t, lo, hi) }
    // payload IS NULL for one row via a fourth commit with a null
    TxnTable.commit(spark,
      Seq((300L, Some(1L)), (301L, None)).toDF("id", "payload"), t,
      overwrite = false)
    val filesBefore = TxnTable.liveFiles(t).toSet
    // delete WHERE payload = 0 AND id < 100 — matches only file 1; the
    // null-payload row's predicate is NULL → KEPT
    val (v, rewritten) = TxnTable.deleteWhere(spark, t,
      col("payload") === 0L && col("id") < 100L)
    assert(v == 5 && rewritten == 1)
    assert(filesBefore.intersect(TxnTable.liveFiles(t).toSet).size ==
      filesBefore.size - 1, "only the matching file rewritten")
    val ids = TxnTable.read(spark, t).select("id").as[Long].collect().toSet
    assert(!(0L until 100L).filter(_ % 7 == 0).exists(ids.contains))
    assert((0L until 100L).filterNot(_ % 7 == 0).forall(ids.contains))
    assert(ids.contains(301L), "NULL-predicate row must be kept")
    // a predicate matching nothing is a no-op, not an empty commit
    val (v2, r2) = TxnTable.deleteWhere(spark, t, col("id") === 99999L)
    assert(v2 == 5 && r2 == 0)
    assert(TxnTable.currentVersion(t) == 5)
  }

  test("optimizeZorder clusters both dimensions for stats pruning") {
    val t = fresh("zorder")
    // 4 ingest commits clustered on x ONLY: every file spans all of y
    val grid = spark.range(0, 16384).select(
      (col("id") / 128).cast("long").as("x"),
      (col("id") % 128).as("y"))
    (0 until 4).foreach(i =>
      TxnTable.commit(spark,
        grid.filter(col("x") >= i * 32 && col("x") < (i + 1) * 32).coalesce(1),
        t, overwrite = false))
    TxnStats.refresh(spark, t, "y")
    val (preY, n) = TxnStats.pruneFiles(spark, t, "y", 0L, 15L)
    assert(n == 4 && preY.size == 4, "x-clustered layout cannot prune on y")

    val v = TxnTable.optimizeZorder(spark, t, "x", "y", numFiles = 16)
    assert(TxnTable.changeFeed(spark, t, v - 1, v, Seq("x", "y")).count() == 0L)
    TxnStats.refresh(spark, t, "y")
    TxnStats.refresh(spark, t, "x")
    val (postY, nLive) = TxnStats.pruneFiles(spark, t, "y", 0L, 15L)
    val (postX, _) = TxnStats.pruneFiles(spark, t, "x", 0L, 15L)
    assert(postY.size < nLive, s"y-scan must prune post-zorder: ${postY.size}/$nLive")
    assert(postX.size < nLive, s"x-scan must prune post-zorder: ${postX.size}/$nLive")
    // content identical through the clustered rewrite
    assert(TxnStats.prunedRead(spark, t, "y", 0L, 15L).count() ==
      grid.filter(col("y") <= 15L).count())
  }

  test("float/double stats columns are refused (NaN-polluted footer bounds)") {
    val t = fresh("type")
    TxnTable.commit(spark,
      spark.range(0, 10).select(col("id").cast("double").as("id")),
      t, overwrite = false)
    intercept[IllegalArgumentException] {
      TxnStats.refresh(spark, t, "id")
    }
    intercept[IllegalArgumentException] {
      TxnStats.refreshFromFooters(spark, t, "id")
    }
  }

  test("typed stats: DATE, STRING, TIMESTAMP, DECIMAL, INT — scan and footer agree") {
    import java.sql.Date
    val mk = (i: Long) => (
      Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)),
      f"s$i%04d",
      java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z")
        .plusSeconds(i * 3600)),
      new java.math.BigDecimal(java.math.BigInteger.valueOf(i * 100 + 7), 2),
      i.toInt)
    def commitBatch(t: String, lo: Long, hi: Long): Unit =
      TxnTable.commit(spark, (lo until hi).map(mk)
        .toDF("d", "s", "ts", "dec", "i").coalesce(1), t, overwrite = false)
    val ta = fresh("typed_scan")
    val tb = fresh("typed_foot")
    // INT96 timestamps carry no usable footer stats (the footer path
    // declines them safely); pin the modern INT64-micros layout so the
    // footer assertions are about the conversion, not the writer conf
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try Seq((0L, 40L), (40L, 80L), (80L, 120L)).foreach { case (lo, hi) =>
      commitBatch(ta, lo, hi); commitBatch(tb, lo, hi)
    } finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    for (c <- Seq("d", "s", "ts", "dec", "i")) {
      assert(TxnStats.refresh(spark, ta, c) == 3)
      assert(TxnStats.refreshFromFooters(spark, tb, c) == 3)
      // footer path records the exact same bounds the scan path does
      def statsOf(t: String) = spark.read.parquet(s"$t/_graft_stats/$c")
        .collect().map(r => (r.get(1), r.get(2), r.getLong(3))).toSet
      assert(statsOf(ta) == statsOf(tb), s"column $c: scan != footer stats")
    }
    // DATE range prune: days 50..59 live in file 2 only
    val (dRead, dLive) = TxnStats.pruneFiles(spark, tb, "d",
      Date.valueOf("2024-02-20"), Date.valueOf("2024-02-28"))
    assert(dLive == 3 && dRead.size == 1, s"date prune: $dRead")
    assert(TxnStats.prunedRead(spark, tb, "d",
        Date.valueOf("2024-02-20"), Date.valueOf("2024-02-28"))
      .count() == 9)
    // STRING prune
    val (sRead, _) = TxnStats.pruneFiles(spark, tb, "s", "s0050", "s0059")
    assert(sRead.size == 1, s"string prune: $sRead")
    assert(TxnStats.prunedRead(spark, tb, "s", "s0050", "s0059").count() == 10)
    // TIMESTAMP prune (hour 90..95 → file 3)
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val (tsRead, _) = TxnStats.pruneFiles(spark, tb, "ts",
      t0.plusSeconds(90 * 3600), t0.plusSeconds(95 * 3600))
    assert(tsRead.size == 1, s"timestamp prune: $tsRead")
    assert(TxnStats.prunedRead(spark, tb, "ts",
      t0.plusSeconds(90 * 3600), t0.plusSeconds(95 * 3600)).count() == 6)
    // DECIMAL prune: dec = i*100+7 / 100 → [10.07, 15.07] in file 1
    val (decRead, _) = TxnStats.pruneFiles(spark, tb, "dec",
      new java.math.BigDecimal("10.07"), new java.math.BigDecimal("15.07"))
    assert(decRead.size == 1, s"decimal prune: $decRead")
    assert(TxnStats.prunedRead(spark, tb, "dec",
      new java.math.BigDecimal("10.07"),
      new java.math.BigDecimal("15.07")).count() == 6)
    // INT prune
    val (iRead, _) = TxnStats.pruneFiles(spark, tb, "i", 100, 110)
    assert(iRead.size == 1, s"int prune: $iRead")
    assert(TxnStats.prunedRead(spark, tb, "i", 100, 110).count() == 11)
  }

  test("NDV sketches: O(Δ) refresh, live-set merge across overwrites, completeness flag") {
    val t = fresh("ndv")
    TxnTable.commit(spark,
      spark.range(0, 300).select((col("id") % 50).as("k"), col("id").as("v"))
        .coalesce(1), t, overwrite = false)
    val n1 = TxnStats.refreshNdv(spark, t, Seq("k"))
    assert(math.abs(n1 - 50L) <= 3, s"~50 expected, got $n1")
    assert(TxnStats.ndvOf(t, Seq("k")).exists {
      case (n, v, complete) => n == n1 && v == 1 && complete })
    // append 25 NEW keys: only the new file is sketched (watermark),
    // the merged estimate covers both
    TxnTable.commit(spark,
      spark.range(0, 100).select((col("id") % 25 + 100).as("k"),
        col("id").as("v")).coalesce(1), t, overwrite = false)
    val n2 = TxnStats.refreshNdv(spark, t, Seq("k"))
    assert(math.abs(n2 - 75L) <= 4, s"~75 expected, got $n2")
    // an overwrite orphans old sketches: the merge intersects with the
    // LIVE set, no index surgery
    TxnTable.commit(spark,
      spark.range(0, 40).select((col("id") % 10).as("k"), col("id").as("v"))
        .coalesce(1), t, overwrite = true)
    val n3 = TxnStats.refreshNdv(spark, t, Seq("k"))
    assert(math.abs(n3 - 10L) <= 2, s"~10 expected, got $n3")
    assert(TxnStats.ndvOf(t, Seq("k")).exists(_._3), "live set fully sketched")
    // multi-column tuples sketch independently
    val nt = TxnStats.refreshNdv(spark, t, Seq("k", "v"))
    assert(math.abs(nt - 40L) <= 3, s"~40 expected, got $nt")
    assert(TxnStats.ndvOf(t, Seq("v", "k")) ==
      TxnStats.ndvOf(t, Seq("k", "v")), "tuple key is order-insensitive")
  }

  test("pruned read applies live deletion vectors; refresh skips dv files") {
    val t = "/root/repo/target/tmp/spec_stats_dv"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(t))
    TxnTable.commit(spark, (1L to 100L).toDF("k").repartition(2), t,
      overwrite = false)
    TxnStats.refresh(spark, t, "k")
    TxnTable.deleteWhereMor(spark, t, $"k" % 10 === 0L)
    // refresh after the dv commit must not crash on the vector's schema
    TxnStats.refresh(spark, t, "k")
    val got = TxnStats.prunedRead(spark, t, "k", 1L, 40L)
      .select("k").as[Long].collect().toSet
    assert(got == (1L to 40L).filter(_ % 10 != 0).toSet,
      "deleted rows must not resurface through the stats-pruned read")
  }

  // The dfp tests below pin the per-file decision TxnStats.dfpSkipSet
  // makes, seen through the AutoFilePrune rule on a plain join (the
  // files its optimized plan scans), or called directly where the rule
  // declines first (a one-file scan, a refused key type).

  private def quartiles(name: String): String = {
    val t = fresh(name)
    Seq((0L, 100L), (100L, 200L), (200L, 300L), (300L, 400L))
      .foreach { case (lo, hi) => commitRange(t, lo, hi) }
    TxnStats.refresh(spark, t, "id")
    t
  }

  test("dfp: exact-key gap pruning skips files the range envelope keeps") {
    val t = quartiles("dfp")
    // keys 5 / 250 / 399 land in files 0, 2, 3 — the [100, 200) file
    // holds none, but the range envelope [5, 399] covers all four
    val dim = Seq(5L, 250L, 399L).toDF("k")
    def star = TxnTable.read(spark, t).join(dim, col("id") === col("k"))
    assert(filesScanned(star, t) == 3,
      "gap pruning should skip exactly the keyless file")
    assert(TxnStats.pruneFiles(spark, t, "id", 5L, 399L)._1.size == 4,
      "the range envelope alone keeps every file — the gap is the win")
    // soundness: the pruned join equals the full join, row for row
    def rows = star.select("id", "payload").as[(Long, Long)].collect()
      .sorted.toSeq
    val pruned = rows
    assert(pruned == unpruned(rows) && pruned.size == 3)
  }

  test("dfp: key-count gate falls back to range pruning; empty dim reads nothing") {
    val t = quartiles("dfp_gate")
    val dim = Seq(5L, 250L, 399L).toDF("k")
    def star = TxnTable.read(spark, t).join(dim, col("id") === col("k"))
    // cap below the key count: no driver collect of keys, range-only
    spark.conf.set("spark.graft.autoDfp.maxExactKeys", "2")
    try assert(filesScanned(star, t) == 4,
      "above the cap only the [min,max] envelope prunes")
    finally spark.conf.unset("spark.graft.autoDfp.maxExactKeys")
    assert(filesScanned(star, t) == 3)
    // empty dim: an inner join can match nothing — no joinable key,
    // and the join reads no fact file at all
    val none = Seq.empty[Long].toDF("k")
    assert(TxnStats.dfpSkipSet(spark, t, "id", LongType, none, 1000000L).isEmpty)
    def emptyStar = TxnTable.read(spark, t).join(none, col("id") === col("k"))
    assert(filesScanned(emptyStar, t) == 0 && emptyStar.count() == 0)
    // all-NULL dim keys are identical to an empty dim under inner-join
    val nulls = Seq[Option[Long]](None, None).toDF("k")
    assert(TxnStats.dfpSkipSet(spark, t, "id", LongType, nulls, 1000000L).isEmpty)
  }

  test("dfp: unindexed live files are always read; int keys cast to the fact type") {
    val t = fresh("dfp_unidx")
    Seq((0L, 100L), (100L, 200L)).foreach { case (lo, hi) =>
      commitRange(t, lo, hi) }
    TxnStats.refresh(spark, t, "id")
    commitRange(t, 200L, 300L) // never indexed
    // Int dim keys against a BIGINT fact column: key 5 hits file 0 only,
    // but the unindexed third file must still be read (never skip blind)
    val dim = Seq(5).toDF("k")
    def star = TxnTable.read(spark, t).join(dim, col("id") === col("k"))
    assert(filesScanned(star, t) == 2, "file 0 (key hit) + the unindexed file")
    assert(star.count() == 1)
  }

  test("dfp: cross-type keys refuse; integral pairs widen soundly either way") {
    val t = fresh("dfp_types")
    // INT fact column — a LONG dim key must not cast-narrow (overflow
    // would wrap); both sides widen to long instead
    TxnTable.commit(spark,
      spark.range(0, 100).select(col("id").cast("int").as("id"),
        col("id").as("payload")).coalesce(1),
      t, overwrite = false)
    TxnTable.commit(spark,
      spark.range(100, 200).select(col("id").cast("int").as("id"),
        col("id").as("payload")).coalesce(1),
      t, overwrite = false)
    TxnStats.refresh(spark, t, "id")
    // a key beyond int range can never match an int fact — and must
    // not WRAP into a false file hit (2^33 + 5 wraps to 5)
    val dim = Seq(5L, (1L << 33) + 5L).toDF("k")
    def star = TxnTable.read(spark, t).join(dim, col("id") === col("k"))
    assert(filesScanned(star, t) == 1,
      "key 5 hits file 0 only; the overflowing key hits nothing")
    assert(star.count() == 1)
    // a STRING dim against the int fact is refused loudly: the join's
    // own coercion compares numerically ('07' matches 7), which a
    // cast-to-fact-type prune would get wrong
    val e = intercept[IllegalArgumentException] {
      TxnStats.dfpSkipSet(spark, t, "id", IntegerType, Seq("07").toDF("k"),
        1000000L)
    }
    assert(e.getMessage.contains("fact column type"), e.getMessage)
    // ... and the plain join over that key never prunes, so '07' still
    // finds its row
    def strStar = TxnTable.read(spark, t)
      .join(Seq("07").toDF("k"), col("id") === col("k"))
    assert(filesScanned(strStar, t) == 2)
    assert(strStar.count() == 1)
  }

  test("dfp outer: the null-extending fact side prunes, preserved probe rows survive") {
    val t = quartiles("dfp_outer")
    // probe keys land in files 0/2/3 plus one key matching NOTHING —
    // the fact (null-extending) side skips the keyless file, while the
    // unmatched probe row must still null-extend identically
    val probe = Seq(5L, 250L, 399L, -1L).toDF("k")
    def star = probe.join(TxnTable.read(spark, t), col("k") === col("id"),
      "left")
    assert(filesScanned(star, t) == 3)
    def rows = star.select("k", "id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -999L else r.getLong(1)))
      .sorted.toSeq
    val pruned = rows
    assert(pruned == unpruned(rows),
      "outer-join results must be identical pruned vs full")
    assert(pruned.contains((-1L, -999L)),
      "the unmatched probe key must surface null-extended")
  }

  test("dfp: string keys prune under lexicographic file bounds") {
    val t = fresh("dfp_str")
    Seq("a", "b", "c").foreach { p =>
      TxnTable.commit(spark,
        spark.range(0, 50).select(concat(lit(p), lpad(col("id").cast("string"),
          3, "0")).as("s"), col("id")).coalesce(1),
        t, overwrite = false)
    }
    TxnStats.refresh(spark, t, "s")
    val dim = Seq("a007", "c031").toDF("k")
    def star = TxnTable.read(spark, t).join(dim, col("s") === col("k"))
    assert(filesScanned(star, t) == 2,
      "the all-b middle file holds neither key")
    assert(star.select("id").as[Long].collect().sorted.toSeq == Seq(7L, 31L))
  }

  test("dfp: string keys compare in Spark's UTF-8 byte order, not UTF-16") {
    val t = fresh("dfp_utf8")
    // one file holding U+FFFF and U+1F600: Spark's byte-order stats put
    // min=U+FFFF, max=U+1F600 (0xF0.. > 0xEF..); Java compareTo calls
    // the emoji SMALLER than that min — a UTF-16 search would skip the
    // file and silently lose its join row
    TxnTable.commit(spark,
      Seq("￿", "😀").toDF("s").coalesce(1),
      t, overwrite = false)
    TxnStats.refresh(spark, t, "s")
    val dim = Seq("😀").toDF("k")
    assert(TxnStats.dfpSkipSet(spark, t, "s", StringType, dim, 1000000L) ==
      Some(Set.empty[String]),
      "the file holds the key — skipping it loses the matching row")
    assert(TxnTable.read(spark, t).join(dim, col("s") === col("k"))
      .count() == 1)
  }

  test("dfp multi: per-column prunes intersect soundly; unindexed and empty-dim edges") {
    val t = fresh("dfp_multi")
    // 2×2 grid of files over (a, b) value bands
    val cells = Seq((0L, 0L), (0L, 100L), (100L, 0L), (100L, 100L))
    cells.foreach { case (ab, bb) =>
      TxnTable.commit(spark,
        (0L until 10L).map(i => (ab + i, bb + i)).toDF("a", "b").coalesce(1),
        t, overwrite = false)
    }
    TxnStats.refresh(spark, t, "a")
    TxnStats.refresh(spark, t, "b")
    val dimA = Seq(5L).toDF("ka")   // a-low band
    val dimB = Seq(105L).toDF("kb") // b-high band
    def byA = TxnTable.read(spark, t).join(dimA, col("a") === col("ka"))
    def star(db: DataFrame) = byA.join(db, col("b") === col("kb"))
    assert(filesScanned(byA, t) == 2)
    assert(filesScanned(TxnTable.read(spark, t)
      .join(dimB, col("b") === col("kb")), t) == 2)
    assert(filesScanned(star(dimB), t) == 1,
      "the intersection is the one shared grid cell")
    assert(star(dimB).count() == 1L, "the (5, 105) row lives in the kept cell")
    // an UNINDEXED live file survives every per-column prune, so it
    // survives the intersection — never skipped blind
    TxnTable.commit(spark, Seq((5L, 105L)).toDF("a", "b").coalesce(1),
      t, overwrite = false)
    assert(filesScanned(star(dimB), t) == 2, "kept cell + the unindexed file")
    assert(star(dimB).count() == 2L)
    // a dim with NO joinable key empties the intersection: the inner
    // star is provably empty, no fact bytes move
    val noKeys = spark.range(0).select(col("id").as("kb"))
    val (scanned, planning) =
      graft.Trace.record(spark)(filesScanned(star(noKeys), t))
    assert(scanned == 1)
    assert(planning.subtree("plans.dfp").jobs == 0,
      "a provably empty dim needs no plan-time job")
    assert(star(noKeys).count() == 0L)
  }

  test("INT96 timestamps decline footer stats — never misread as all-null (row-loss guard)") {
    val t = fresh("int96")
    // legacy INT96 writers emit a stats object with hasNonNullValue =
    // false and numNulls = 0 over REAL data. Misclassifying that as an
    // all-null chunk stores null bounds, and the range pruner then
    // SKIPS a file full of live rows — silent row loss. The only sound
    // verdict is DECLINE: file unindexed, always read.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try TxnTable.commit(spark,
      spark.range(0, 50)
        .select(expr("timestamp_seconds(1600000000 + id * 60)").as("ts"),
          col("id").as("v")).coalesce(1),
      t, overwrite = false)
    finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    TxnStats.refreshFromFooters(spark, t, "ts")
    assert(TxnStats.fileBounds(spark, t, "ts").isEmpty,
      "an INT96 file must stay unindexed, not carry null bounds")
    val lo = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(1600000000L + 600))
    val hi = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(1600000000L + 1200))
    val (toRead, nLive) = TxnStats.pruneFiles(spark, t, "ts", lo, hi)
    assert(nLive == 1 && toRead.size == 1,
      "unindexed live files are always read — never skipped blind")
    assert(TxnStats.prunedRead(spark, t, "ts", lo, hi).count() == 11)
    // a GENUINELY all-null column still records the skippable null bound
    val tn = fresh("int96_allnull")
    TxnTable.commit(spark,
      spark.range(0, 20)
        .select(lit(null).cast("timestamp").as("ts"), col("id").as("v"))
        .coalesce(1),
      tn, overwrite = false)
    TxnStats.refreshFromFooters(spark, tn, "ts")
    val b = TxnStats.fileBounds(spark, tn, "ts")
    assert(b.size == 1 && b.head._2 == null && b.head._3 == null,
      s"an all-null chunk (numNulls == values) still indexes as skippable: $b")
  }
}
