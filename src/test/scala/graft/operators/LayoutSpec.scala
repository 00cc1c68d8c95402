package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("mortonCode matches a bit-by-bit reference interleave") {
    def ref(x: Int, y: Int): Long = {
      var out = 0L
      (0 until 16).foreach { i =>
        out |= ((x >> i) & 1).toLong << (2 * i)
        out |= ((y >> i) & 1).toLong << (2 * i + 1)
      }
      out
    }
    val rng = new scala.util.Random(11)
    val pts = Seq.fill(200)((rng.nextInt(65536), rng.nextInt(65536))) ++
      Seq((0, 0), (65535, 65535), (65535, 0), (0, 65535), (1, 2))
    val out = pts.toDF("x", "y")
      .select($"x", $"y", Layout.mortonCode($"x", $"y").as("m"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    pts.foreach { case (x, y) =>
      assert(out((x, y)) === ref(x, y), s"($x, $y)")
    }
  }

  test("mortonCodeN: n=2 bit-identical to mortonCode; n=3 matches the reference interleave") {
    val rng = new scala.util.Random(7)
    val pts = Seq.fill(100)(
      (rng.nextInt(65536), rng.nextInt(65536), rng.nextInt(65536))) ++
      Seq((0, 0, 0), (65535, 65535, 65535), (1, 2, 4))
    val df = pts.toDF("x", "y", "z")
    assert(df.filter(Layout.mortonCode($"x", $"y") =!=
      Layout.mortonCodeN(Seq($"x", $"y"))).count() === 0,
      "2-column N-form must be bit-identical to the magic-mask form")
    def ref3(x: Int, y: Int, z: Int): Long = {
      var out = 0L
      (0 until 16).foreach { j =>
        out |= ((x >> j) & 1).toLong << (3 * j)
        out |= ((y >> j) & 1).toLong << (3 * j + 1)
        out |= ((z >> j) & 1).toLong << (3 * j + 2)
      }
      out
    }
    val got = df.select($"x", $"y", $"z",
        Layout.mortonCodeN(Seq($"x", $"y", $"z")).as("m"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getLong(3)).toMap
    pts.foreach { case (x, y, z) =>
      assert(got((x, y, z)) === ref3(x, y, z), s"($x, $y, $z)") }
    intercept[IllegalArgumentException] {
      Layout.mortonCodeN(Seq($"x", $"y", $"z", $"x", $"y"), bits = 16)
    } // 5 × 16 bits overflows a long
  }

  test("zorderWrite: files own disjoint morton ranges, content round-trips") {
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    val events = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type")
    Layout.zorderWrite(events, "user_id", "event_id", dir, numFiles = 4)
    val back = spark.read.parquet(dir)
    assert(back.count() === events.count())
    // per-file [min, max] morton intervals must not overlap — the property
    // that lets row-group stats prune two-sided box filters
    val ranges = back
      .withColumn("z", Layout.mortonCode($"user_id" % 65536, $"event_id" % 65536))
      .withColumn("f", input_file_name())
      .groupBy("f").agg(min("z").as("lo"), max("z").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length > 1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi <= lo, s"overlap: $hi > $lo")
      case _ =>
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("rangeScale: monotone into [0, 2^bits), clamps outside the bounds, null-propagates") {
    val mn = -1000000000L
    val mx = 7000000000L // spans > 2^32 — the long path would alias
    val vals = Seq(Long.MinValue, mn - 1, mn, mn + 1, -1L, 0L, 123456789L,
      mx / 2, mx - 1, mx, mx + 1, Long.MaxValue)
    val got = vals.toDF("v")
      .select(Layout.rangeScale(col("v"), mn, mx, 16).as("b"))
      .collect().map(_.getLong(0))
    assert(got.forall(b => b >= 0 && b < 65536), got.mkString(","))
    // monotone over in-range inputs (the property pruning rests on)
    assert(got.toSeq == got.sorted.toSeq)
    // edges: below-min clamps to 0, above-max to the top bucket
    assert(got.take(2).forall(_ == 0L) && got.takeRight(2).forall(_ == 65535L))
    // min→bucket 0, max→top bucket (the measured bounds span the space)
    assert(got(2) == 0L && got(9) == 65535L)
    // NULL in → NULL out, matching the curve codes
    val nul = Seq[Option[Long]](None).toDF("v")
      .select(Layout.rangeScale(col("v"), mn, mx, 16).as("b")).head()
    assert(nul.isNullAt(0))
    // degenerate bounds: a constant column buckets to 0, never divides by 0
    assert(Seq(5L).toDF("v").select(Layout.rangeScale(col("v"), 5L, 5L, 16))
      .head().getLong(0) == 0L)
  }

  test("zorderWriteRanged: wide natural domains prune where the masked code aliases") {
    // both coordinates span ≫ 2^16, the regime where mortonCodeN's
    // low-bit mask scrambles the layout (odd multiplier mod 65536)
    val df = spark.range(0, 4000).select(
      (col("id") * 1000003L).as("x"), (col("id") * 999983L).as("y"))
    val dirR = java.nio.file.Files.createTempDirectory("zranged").toString
    val dirA = java.nio.file.Files.createTempDirectory("zaliased").toString
    val ranges = Layout.zorderWriteRanged(df, Seq("x", "y"), dirR, numFiles = 16)
    assert(ranges == Seq(("x", 0L, 3999L * 1000003L), ("y", 0L, 3999L * 999983L)),
      s"measured bounds must be the true [min, max]: $ranges")
    Layout.zorderWriteN(df, Seq("x", "y"), dirA, numFiles = 16)
    val bounds = Seq(("x", 800L * 1000003L, 1600L * 1000003L),
      ("y", 800L * 999983L, 1600L * 999983L))
    def opened(dir: String): (Long, Long) = {
      val idx = Layout.buildMinMaxIndexN(spark, dir, Seq("x", "y"))
        .localCheckpoint(true)
      (idx.filter(bounds.map { case (c, lo, hi) =>
        col(s"min_$c") <= hi && col(s"max_$c") >= lo }.reduce(_ && _)).count(),
        idx.count())
    }
    val (openR, totR) = opened(dirR)
    val (openA, totA) = opened(dirA)
    // the aliased layout's per-file [min, max] go domain-wide: every
    // file overlaps the box; the quantized layout opens a strict subset
    assert(openA == totA, s"aliased regime unexpectedly pruned: $openA/$totA")
    assert(openR < totR, s"quantized layout failed to prune: $openR/$totR")
    assert(openR < openA)
    // and pruning costs no rows
    val idx = Layout.buildMinMaxIndexN(spark, dirR, Seq("x", "y"))
      .localCheckpoint(true)
    assert(Layout.prunedReadBox(spark, idx, bounds).count() ==
      df.filter(col("x").between(bounds(0)._2, bounds(0)._3) &&
        col("y").between(bounds(1)._2, bounds(1)._3)).count())
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dirR))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dirA))
  }

  test("clipQuantile: winsorized bounds survive outlier skew that collapses plain range scaling") {
    // bulk in [0, 4e9], two sentinel outliers near 2^62: plain min/max
    // scaling maps the ENTIRE bulk to bucket 0 (4e9 / 2^62 of the
    // range) and pruning collapses like the unquantized regime;
    // clipped bounds keep resolution for the bulk and clamp the
    // outliers to the top bucket
    val df = spark.range(0, 4000).select(
        (col("id") * 1000003L).as("x"), (col("id") * 999983L).as("y"))
      .union(Seq((1L << 62, 1L << 62), ((1L << 62) + 1, 1L << 62))
        .toDF("x", "y"))
    val dirP = java.nio.file.Files.createTempDirectory("zplain").toString
    val dirC = java.nio.file.Files.createTempDirectory("zclip").toString
    Layout.zorderWriteRanged(df, Seq("x", "y"), dirP, numFiles = 16)
    val clipped = Layout.zorderWriteRanged(df, Seq("x", "y"), dirC,
      numFiles = 16, clipQuantile = 0.01)
    // the clipped bounds sit in the bulk, not at the sentinels
    assert(clipped.forall { case (_, _, hi) => hi < (1L << 40) },
      s"clip must ignore the sentinels: $clipped")
    val bounds = Seq(("x", 800L * 1000003L, 1600L * 1000003L),
      ("y", 800L * 999983L, 1600L * 999983L))
    // metric = ROWS the pruned scan must read (plain scaling collapses
    // the bulk into one bucket-0 file, so FILE counts aren't comparable
    // across the two layouts — rows are)
    def openedRows(dir: String): (Long, Long) = {
      val idx = Layout.buildMinMaxIndexN(spark, dir, Seq("x", "y"))
        .localCheckpoint(true)
      val open = idx.filter(bounds.map { case (c, lo, hi) =>
        col(s"min_$c") <= hi && col(s"max_$c") >= lo }.reduce(_ && _))
        .agg(sum("n_rows")).head().getLong(0)
      (open, idx.agg(sum("n_rows")).head().getLong(0))
    }
    val (rowsP, _) = openedRows(dirP)
    val (rowsC, totC) = openedRows(dirC)
    assert(rowsP > totC / 2,
      s"plain scaling should have collapsed (bulk in one bucket), read $rowsP of $totC")
    assert(rowsC < rowsP / 2,
      s"clipped must read far fewer rows than outlier-collapsed plain scaling: $rowsC vs $rowsP")
    // pruning still costs no rows — outliers clamp to the edge, they
    // don't vanish
    val idx = Layout.buildMinMaxIndexN(spark, dirC, Seq("x", "y"))
      .localCheckpoint(true)
    assert(Layout.prunedReadBox(spark, idx, bounds).count() ==
      df.filter(col("x").between(bounds(0)._2, bounds(0)._3) &&
        col("y").between(bounds(1)._2, bounds(1)._3)).count())
    assert(spark.read.parquet(dirC).count() == 4002L,
      "the outlier rows must round-trip")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dirP))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dirC))
  }

  test("rank_bucket SQL surface: integral arrays widen, bad arrays refuse cleanly") {
    // SQL's bare array(1,2,3) folds to array<int> — must widen, not CCE
    assert(spark.sql("SELECT rank_bucket(5, array(1, 2, 3))")
      .head().getLong(0) == 3L)
    assert(spark.sql("SELECT rank_bucket(CAST(2 AS BIGINT), array(1, 2, 3))")
      .head().getLong(0) == 2L)
    assert(spark.sql("SELECT rank_bucket(0, array(1, 2, 3))")
      .head().getLong(0) == 0L)
    // non-integral and null-holding arrays are clean argument errors
    intercept[Exception] { spark.sql("SELECT rank_bucket(1, array('a'))").collect() }
    intercept[Exception] {
      spark.sql("SELECT rank_bucket(1, array(1, NULL, 3))").collect() }
    // NULL value in → NULL out
    assert(spark.sql("SELECT rank_bucket(CAST(NULL AS BIGINT), array(1, 2))")
      .head().isNullAt(0))
  }

  test("rangeScale clamps far-out-of-domain values instead of ANSI-overflowing") {
    // a sentinel at 2^62 against narrow measured bounds scales to a
    // double beyond the long range — the clamp must happen in double
    // space or the ANSI double→long cast throws ARITHMETIC_OVERFLOW
    // where the contract promises the edge bucket
    val df = Seq(-5000000000L, 0L, 50L, 100L, Long.MaxValue / 2).toDF("x")
    val got = df.select(col("x"),
        Layout.rangeScale(col("x"), 0L, 100L, 16).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(0L) == 0L && got(-5000000000L) == 0L)
    assert(got(Long.MaxValue / 2) == 65535L, s"top-edge clamp: $got")
    assert(got(50L) == 32768L && got(100L) == 65535L)
  }

  test("rank_bucket refinement: composed code is exact, monotone, edge-clamping") {
    // boundaries (100, 200), subBits=4, domain [0, 300]:
    // code = (rank << 4) | floor((v - lo)/(hi - lo) · 16) clamped
    val expect = Seq(
      0L -> 0L, 50L -> 8L, 99L -> 15L,      // bucket 0 over [0, 100)
      100L -> 16L, 150L -> 24L, 199L -> 31L, // bucket 1 over [100, 200)
      200L -> 32L, 250L -> 40L, 299L -> 47L, // bucket 2 over [200, 300]
      400L -> 47L,                           // past domHi: clamps to top pos
      -50L -> 0L)                            // below domLo: clamps to pos 0
    expect.foreach { case (v, want) =>
      val got = spark.sql(
        s"SELECT rank_bucket(CAST($v AS BIGINT), array(100, 200), 4, 0, 300)")
        .head().getLong(0)
      assert(got == want, s"v=$v: got $got, want $want")
    }
    // monotone over a dense sweep (the recluster-consistency property)
    val sweep = spark.sql(
      """SELECT v, rank_bucket(CAST(v AS BIGINT), array(100, 200), 4, 0, 300) AS c
        |FROM (SELECT explode(sequence(-20, 320)) AS v) ORDER BY v""".stripMargin)
      .collect().map(_.getLong(1))
    sweep.sliding(2).foreach {
      case Array(a, b) => assert(a <= b, s"non-monotone: $a > $b")
      case _ => ()
    }
    // a degenerate bucket interval (tied boundary = domain edge)
    // positions 0 instead of dividing by zero
    assert(spark.sql(
      "SELECT rank_bucket(CAST(100 AS BIGINT), array(100), 4, 100, 100)")
      .head().getLong(0) == 16L)
    // 2-arg form unchanged; NULL propagates through the 5-arg form
    assert(spark.sql(
      "SELECT rank_bucket(CAST(NULL AS BIGINT), array(1, 2), 4, 0, 10)")
      .head().isNullAt(0))
    // a FRACTIONAL literal in any integral slot must REJECT, never
    // silently truncate (2.5 is not sub_bits 2) — byte/short/int/long
    // boxes only
    Seq("2.5, 0, 300", "4, 0.5, 300", "4, 0, 300.25").foreach { bad =>
      val e = intercept[Exception] {
        spark.sql(s"SELECT rank_bucket(CAST(5 AS BIGINT), array(1, 2), $bad)")
          .collect()
      }
      assert(e.getMessage.contains("integral literal"),
        s"args ($bad): ${e.getMessage}")
    }
    // but every integral WIDTH still folds (int literal, bigint cast)
    assert(spark.sql(
      "SELECT rank_bucket(CAST(5 AS BIGINT), array(1, 2), CAST(4 AS INT), CAST(0 AS BIGINT), 300)")
      .head().getLong(0) >= 0L)
  }

  test("hilbertCode: bijective onto the cell grid, unit-step continuous, codegen == encoder") {
    // 2D, bits=4: the code must be a BIJECTION onto [0, 256) AND
    // unit-step continuous — consecutive codes decode to Manhattan-
    // adjacent cells. Bijection + unit steps is the defining Hilbert
    // property (Morton fails it: code 1→2 jumps diagonally), so this
    // is an algorithm-independent correctness check, not a replay.
    def gridCheck(dims: Int, bits: Int): Unit = {
      val side = 1 << bits
      val cells = Seq.tabulate(math.pow(side, dims).toInt) { i =>
        Array.tabulate(dims)(d =>
          ((i / math.pow(side, d).toInt) % side).toLong)
      }
      val codes = cells.map(c =>
        c.toSeq -> graft.plans.HilbertCode.encode(c, bits))
      assert(codes.map(_._2).toSet == (0L until cells.size.toLong).toSet,
        s"${dims}D/bits=$bits not a bijection onto the grid")
      codes.sortBy(_._2).map(_._1).sliding(2).foreach {
        case Seq(a, b) =>
          val dist = a.zip(b).map { case (p, q) => math.abs(p - q) }.sum
          assert(dist == 1, s"${dims}D jump between $a and $b")
        case _ =>
      }
    }
    gridCheck(dims = 2, bits = 4)
    gridCheck(dims = 3, bits = 3) // the 3-dim continuity Morton lacks
    // the codegen'd column equals the driver encoder on random coords
    val rng = new scala.util.Random(19)
    val pts = Seq.fill(200)((rng.nextInt(65536).toLong,
      rng.nextInt(65536).toLong, rng.nextInt(65536).toLong))
    val got = pts.toDF("x", "y", "z")
      .select($"x", $"y", $"z",
        Layout.hilbertCode(Seq($"x", $"y", $"z")).as("h"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
    got.foreach { case ((x, y, z), h) =>
      assert(h === graft.plans.HilbertCode.encode(Array(x, y, z), 16),
        s"codegen/encoder divergence at ($x, $y, $z)")
    }
    // null coordinate → null code (layout keys group nulls together)
    val n = Seq((Some(1L), None: Option[Long])).toDF("x", "y")
      .select(Layout.hilbertCode(Seq($"x", $"y")).as("h")).head()
    assert(n.isNullAt(0))
  }

  test("hilbertWriteN: content round-trips and a 3-dim box opens a strict file subset") {
    val dir = java.nio.file.Files.createTempDirectory("hilbert3_spec").toString
    val rng = new scala.util.Random(23)
    val src = Seq.tabulate(4000)(i =>
      (i.toLong, rng.nextInt(4000).toLong, rng.nextInt(4000).toLong))
      .toDF("a", "b", "c")
    Layout.hilbertWriteN(src, Seq("a", "b", "c"), dir, numFiles = 16)
    val back = spark.read.parquet(dir)
    assert(back.count() === 4000L)
    val idx = Layout.buildMinMaxIndexN(spark, dir, Seq("a", "b", "c"))
      .localCheckpoint(true)
    val bounds = Seq(("a", 100L, 899L), ("b", 0L, 499L), ("c", 2000L, 2600L))
    val opened = idx.filter(bounds.map { case (cn, lo, hi) =>
      col(s"min_$cn") <= hi && col(s"max_$cn") >= lo }.reduce(_ && _)).count()
    assert(opened < idx.count(), s"box opened $opened of ${idx.count()}")
    val want = src.filter($"a".between(100, 899) && $"b".between(0, 499) &&
      $"c".between(2000, 2600)).count()
    assert(want > 0 &&
      Layout.prunedReadBox(spark, idx, bounds).count() === want)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("pruned reads that miss every file keep the data schema") {
    val dir = java.nio.file.Files.createTempDirectory("zorder_empty").toString
    val src = Seq((1L, 10L, 100L), (2L, 20L, 200L)).toDF("a", "b", "c")
    Layout.zorderWriteN(src, Seq("a", "b", "c"), dir, numFiles = 2)
    val idx = Layout.buildMinMaxIndexN(spark, dir, Seq("a", "b", "c"))
    // a box outside the data domain prunes EVERY file — the result must
    // still be selectable/filterable (schema-less emptyDataFrame throws)
    val out = Layout.prunedReadBox(spark, idx,
      Seq(("a", 900L, 999L), ("b", 0L, 5L), ("c", 0L, 5L)))
    assert(out.columns.toSeq == Seq("a", "b", "c"))
    assert(out.select("a").filter(col("b") > 0).count() === 0)
    val idx1 = Layout.buildMinMaxIndex(spark, dir, "a")
    assert(Layout.prunedRead(spark, idx1, "a", 900L, 999L)
      .select("c").count() === 0)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("min-max index prunes files on a range layout and loses no rows") {
    val dir = "/root/repo/target/tmp/layout_minmax_spec"
    val orders = graft.Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_totalprice")
    orders.repartitionByRange(16, $"o_orderkey")
      .write.mode("overwrite").parquet(dir)
    val index = Layout.buildMinMaxIndex(spark, dir, "o_orderkey")
    val total = index.count()
    val hit = index.filter($"min_v" <= 300L && $"max_v" >= 100L).count()
    assert(total === 16)
    assert(hit < total, s"range layout should localize [100,300]: $hit of $total files")
    val got = Layout.prunedRead(spark, index, "o_orderkey", 100L, 300L)
      .select("o_orderkey").collect().map(_.getLong(0)).sorted
    val want = orders.filter($"o_orderkey" >= 100 && $"o_orderkey" <= 300)
      .select("o_orderkey").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === want.toSeq)
    // an empty intersection reads nothing and returns an empty frame
    assert(Layout.prunedRead(spark, index, "o_orderkey", -500L, -100L).isEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("compaction shrinks the file count, preserves rows, and no-ops when compact") {
    val dir = "/root/repo/target/tmp/layout_compact_spec"
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "n_chars")
    docs.repartition(32).write.mode("overwrite").parquet(dir)
    def partFiles = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-")).length
    assert(partFiles === 32)
    val before = docs.orderBy("doc_id").collect().toSeq
    val n = Layout.compact(spark, dir, targetBytes = 10L * 1024 * 1024)
    assert(n < 32 && n === partFiles)
    val after = spark.read.parquet(dir).orderBy("doc_id").collect().toSeq
    assert(after === before)
    // second call: already at or under the target file count — no rewrite
    val files = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
    val mtimes = files.map(f => f.getName -> f.lastModified).toMap
    assert(Layout.compact(spark, dir, targetBytes = 10L * 1024 * 1024) === n)
    val mtimes2 = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map(f => f.getName -> f.lastModified).toMap
    assert(mtimes2 === mtimes, "no-op compaction must not rewrite files")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("bloom index prunes point lookups to a fraction of the files") {
    import org.apache.spark.sql.functions._
    val dir = "/root/repo/target/tmp/bloom_idx_spec"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    // 16 files, ids hashed across them → NOT clustered by id: min-max
    // skipping is useless here by construction; only the bloom can prune
    val df = spark.range(0, 8000)
      .select(col("id"), (col("id") % 97).as("payload"))
      .repartition(16, xxhash64(col("id")))
    df.write.parquet(dir)
    val nFiles = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("part-"))
    assert(nFiles === 16)
    val index = Layout.buildBloomIndex(spark, dir, "id",
      expectedPerFile = 1024, fpp = 0.01)
    val keys = Seq(5L, 1234L, 7777L)
    val pruned = Layout.bloomPrunedFiles(index, keys)
    // each key lives in exactly one file; 1% fpp leaves slack for a few
    // false-positive files, never most of the table
    assert(pruned.length <= 6, s"pruned to ${pruned.length} of $nFiles files")
    // correctness: the pruned read returns exactly the keyed rows
    val rows = Layout.bloomPrunedRead(spark, index, "id", keys)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(rows === keys.sorted)
    // absent key → bloom may false-positive a file, but never a row
    val miss = Layout.bloomPrunedRead(spark, index, "id", Seq(999999L))
    assert(miss.isEmpty || miss.count() === 0)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("bloom index refuses a non-BIGINT column (probe hash parity)") {
    import org.apache.spark.sql.functions._
    val dir = "/root/repo/target/tmp/bloom_idx_type_spec"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    // xxhash64(INT) != xxhash64(BIGINT) for the same value: an INT index
    // column would make every probe a false negative — files silently
    // dropped, rows silently missing. The build must fail loudly instead.
    spark.range(0, 100)
      .select(col("id").cast("int").as("id_int"))
      .write.parquet(dir)
    val ex = intercept[IllegalArgumentException] {
      Layout.buildBloomIndex(spark, dir, "id_int", expectedPerFile = 128)
    }
    assert(ex.getMessage.contains("BIGINT"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
