package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Storage-layout operators: multi-dimensional clustering for 100 TB scan
  * pruning. A table range-partitioned and sorted by a Z-order (Morton)
  * code keeps rows that are close in BOTH dimensions close on disk, so
  * parquet row-group min/max stats prune two-sided box filters — where a
  * lexicographic sort only ever prunes its leading column. The code is
  * pure integer bit-twiddling (shifts/masks), exactly reproducible in any
  * engine, and computed scan-side — the only cost of a z-ordered write is
  * the range shuffle the write needs anyway.
  */
object Layout {

  /** Bit-spread via the standard magic masks: 16-bit `v` → 32-bit value
    * with input bit i at output bit 2i (Morton building block). */
  private def spread16(v: Column): Column = {
    val m = Seq(
      (8, 0x00FF00FFL), (4, 0x0F0F0F0FL), (2, 0x33333333L), (1, 0x55555555L))
    m.foldLeft(v.bitwiseAND(lit(0xFFFFL))) { case (acc, (sh, mask)) =>
      (acc.bitwiseOR(shiftleft(acc, sh))).bitwiseAND(lit(mask))
    }
  }

  /** 32-bit Morton code of two 16-bit coordinates (x in even bits, y in
    * odd): interleaves the low 16 bits of each input (callers quantize
    * wider domains down first — `% 65536` or a range-scaled bucket). */
  def mortonCode(x: Column, y: Column): Column =
    spread16(x).bitwiseOR(shiftleft(spread16(y), 1)).cast("long")

  /** N-column Morton code: column i's bit j lands at output bit
    * j·n + i, so column 0 owns the even-most lanes — for n = 2 this is
    * bit-identical to [[mortonCode]] (spec-pinned). Built as explicit
    * shift/mask/or terms (16·n of them): all scan-side integer ops
    * inside whole-stage codegen, no UDF. n·bits must fit a signed
    * long; callers quantize wide domains down first, same contract as
    * the 2-column form. This is the composite-layout key for the
    * 3-plus-dimension box-filter workloads [[graft.plans.LayoutAdvisor
    * .zorderAdvice]] prices — a lexicographic sort serves only its
    * leading column, 2-D Morton only two. */
  def mortonCodeN(cols: Seq[Column], bits: Int = 16): Column = {
    val n = cols.size
    require(n >= 2, s"z-order needs at least 2 columns, got $n")
    require(n * bits <= 63, s"$n columns × $bits bits overflows a long")
    val mask = (1L << bits) - 1
    val terms = for {
      (c, i) <- cols.zipWithIndex
      j <- 0 until bits
    } yield shiftleft(
      shiftright(c.cast("long").bitwiseAND(lit(mask)), j).bitwiseAND(lit(1L)),
      j * n + i)
    terms.reduce(_.bitwiseOR(_)).cast("long")
  }

  /** Monotone RANGE QUANTIZATION of a clustering column to [0, 2^bits):
    * `v ↦ clamp(floor((v − mn) / (mx − mn) · 2^bits))`. This is what
    * makes curve clustering work on NATURAL domains — [[mortonCodeN]] /
    * [[hilbertCode]] mask each coordinate to its low `bits`, so a raw
    * column whose domain exceeds 2^bits ALIASES mod 2^bits: rows far
    * apart in true value share code neighborhoods, every file's true
    * [min, max] goes wide, and box pruning collapses (exactly the
    * high-NDV columns — order keys, timestamps — clustering targets).
    * Scaling first is monotone, so near-in-value stays near-in-bucket
    * and per-file intervals tighten again (LayoutSpec pins the aliased
    * regime head-to-head).
    *
    * The arithmetic runs in doubles: `(v − mn)` in longs can overflow
    * when the recorded bounds span most of the long range, while the
    * double path is overflow-free and still MONOTONE (long→double
    * conversion, division by a positive constant, and floor are each
    * monotone non-decreasing) — sub-2^53 domains bucket exactly, wider
    * ones merely fuzz bucket boundaries, never their order. Values
    * OUTSIDE [mn, mx] clamp to the edge buckets: bounds are measured
    * once at clustering time, and later ingest beyond them lands in an
    * edge bucket and is swept up by the next incremental recluster —
    * layout quality, never correctness (reads never consult the
    * quantization). NULL in → NULL out, matching the curve codes'
    * null propagation. */
  def rangeScale(c: Column, mn: Long, mx: Long, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"rangeScale bits=$bits out of [1,31]")
    if (mn >= mx) when(c.isNull, lit(null).cast("long")).otherwise(lit(0L))
    else {
      val top = (1L << bits) - 1
      // clamp IN DOUBLE SPACE, cast after: a value far outside [mn, mx]
      // (a 2^62 sentinel against winsorized bounds) scales to a double
      // beyond the long range, and under ANSI the double→long cast of
      // the unclamped value would throw ARITHMETIC_OVERFLOW instead of
      // landing in the edge bucket the clamping contract promises
      val raw = floor((c.cast("double") - lit(mn.toDouble)) /
        lit(mx.toDouble - mn.toDouble) * lit((1L << bits).toDouble))
      when(c.isNull, lit(null).cast("long"))
        .otherwise(least(lit(top.toDouble), greatest(lit(0.0), raw))
          .cast("long"))
    }
  }

  /** The LONG ORDINAL of a clustering column — the monotone injection
    * every quantization path (range scaling, winsorized bounds,
    * equi-depth rank buckets) runs on, extended beyond integrals to the
    * temporal and decimal types a real 100 TB fact clusters on first
    * (`events.ts`, `o_orderdate`, a price):
    *
    *  - integrals → the value itself (widened to long);
    *  - DATE → days since epoch (`unix_date`; pre-1970 dates are
    *    negative ordinals — ordinary longs, spec-pinned);
    *  - TIMESTAMP → microseconds since epoch (`unix_micros`);
    *  - TIMESTAMP_NTZ → microseconds of the session-zone instant (cast
    *    to TIMESTAMP first). For fixed-offset zones this is exactly
    *    monotone; a DST-observing session zone wobbles by one hour at
    *    transitions, which can only cost LAYOUT quality for rows inside
    *    the transition hour, never correctness — reads never consult
    *    the quantization;
    *  - DECIMAL(p ≤ 18, s) → the unscaled long (`v · 10^s`, exact in
    *    decimal arithmetic because p ≤ 18 means the unscaled value
    *    fits a long; the multiply-then-cast IS the unscaled
    *    representation). Wider decimals refuse — their unscaled values
    *    do not fit the 63-bit curve domain.
    *
    * Every branch is scan-side, codegen-friendly, and NULL-propagating
    * (matching the curve codes). Anything else (strings, floats)
    * refuses loudly: floats carry NaN into footer stats and strings
    * have no bounded ordinal — neither belongs in a curve coordinate. */
  def ordinalExpr(c: Column, dt: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => c.cast("long")
      case DateType => call_function("unix_date", c).cast("long")
      case TimestampType => call_function("unix_micros", c)
      case TimestampNTZType =>
        call_function("unix_micros", c.cast(TimestampType))
      case d: DecimalType if d.precision <= 18 =>
        (c * lit(BigInt(10).pow(d.scale).toLong)).cast("long")
      case StringType =>
        // TRUNCATED-BINARY-PREFIX ordinal: the first 8 UTF-8 bytes as
        // a big-endian unsigned word, shifted to signed order
        // (u − 2^63). Monotone because UTF-8 byte order IS code-point
        // order (the multi-byte lead/continuation layout sorts
        // byte-wise) and zero-padding a shorter string can only tie
        // with, never pass, a longer one sharing its prefix — so
        // min/max footer stats, range scaling, and equi-depth ranks
        // all order exactly like Spark's binary string comparison.
        // Strings sharing an 8-byte prefix TIE; the standing tie
        // ladder (equi-depth refinement → partitioner salt) already
        // handles irreducible tie mass. All built-ins, codegen'd,
        // NULL-propagating: hex(UTF-8 bytes) → first 16 nibbles,
        // right-zero-padded → unsigned via conv → signed shift.
        (conv(rpad(substring(hex(c.cast(BinaryType)), 1, 16), 16, "0"),
          16, 10).cast(DecimalType(20, 0)) -
          lit(new java.math.BigDecimal("9223372036854775808")))
          .cast(LongType)
      case other => throw new IllegalArgumentException(
        s"clustering column type $other has no monotone long ordinal — " +
          "supported: integral, DATE, TIMESTAMP, TIMESTAMP_NTZ, " +
          "DECIMAL(p<=18), STRING (8-byte binary prefix)")
    }
  }

  /** [[ordinalExpr]] resolved from a frame's schema — the form the
    * measure/write paths use (refuses on a missing column). */
  private[graft] def ordinalOfCol(df: DataFrame, c: String): Column =
    ordinalExpr(col(c), df.schema.find(_.name == c)
      .getOrElse(throw new IllegalArgumentException(
        s"clustering column '$c' is not in the schema " +
          s"[${df.schema.fieldNames.mkString(", ")}]")).dataType)

  /** Per-column [min, max] of `cols` in ONE aggregate pass — the
    * quantization bounds [[zorderWriteRanged]] and
    * [[graft.sources.TxnLayout.optimizeClustered]] scale against (one
    * row to the driver, any table size). All-NULL columns record
    * (0, 0) — every real value of such a column is NULL and codes NULL
    * regardless of bounds.
    *
    * `clipQuantile` > 0 WINSORIZES the bounds to the
    * [clip, 1 − clip] quantiles (one `approx_percentile` pass) — the
    * outlier-skew defence: a column whose true [min, max] is stretched
    * by a handful of extreme values (a sentinel 2^62, one corrupt
    * timestamp) would otherwise squeeze the entire real distribution
    * into a few buckets and pruning would collapse exactly like the
    * unquantized regime. Clipped bounds keep full bucket resolution for
    * the bulk; the outliers clamp to the edge buckets ([[rangeScale]]),
    * which costs layout quality for those few rows only, never
    * correctness. */
  def measureRanges(df: DataFrame, cols: Seq[String],
                    clipQuantile: Double = 0.0): Seq[(String, Long, Long)] = {
    require(cols.nonEmpty, "need at least one clustering column")
    require(clipQuantile >= 0.0 && clipQuantile < 0.5,
      s"clipQuantile must be in [0, 0.5), got $clipQuantile")
    // bounds are measured over each column's LONG ORDINAL
    // ([[ordinalExpr]]) — identical to the raw value for integrals, and
    // the monotone epoch/unscaled mapping for temporal/decimal columns,
    // so [[rangeScale]] buckets every supported type the same way
    val aggs =
      if (clipQuantile == 0.0)
        cols.flatMap(c => Seq(
          min(ordinalOfCol(df, c)).as(s"__mn_$c"),
          max(ordinalOfCol(df, c)).as(s"__mx_$c")))
      else
        cols.flatMap(c => Seq(
          percentile_approx(ordinalOfCol(df, c), lit(clipQuantile), lit(10000))
            .as(s"__mn_$c"),
          percentile_approx(ordinalOfCol(df, c), lit(1.0 - clipQuantile),
            lit(10000)).as(s"__mx_$c")))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    cols.zipWithIndex.map { case (c, i) =>
      if (r.isNullAt(2 * i)) (c, 0L, 0L)
      else (c, r.getLong(2 * i), r.getLong(2 * i + 1))
    }
  }

  /** [[zorderWriteN]] / [[hilbertWriteN]] over RANGE-QUANTIZED
    * coordinates: measures each clustering column's [min, max]
    * ([[measureRanges]]), scales it to [0, 2^bits) ([[rangeScale]]),
    * and clusters by the curve code of the SCALED coordinates — the
    * natural-domain form of the write (the unscaled variants serve
    * already-bucketed inputs). Returns the measured bounds so callers
    * can persist them (a sidecar, an index row) and re-derive the same
    * codes later. */
  def zorderWriteRanged(df: DataFrame, cols: Seq[String], path: String,
                        numFiles: Int = 8, curve: String = "morton",
                        bits: Int = 16,
                        clipQuantile: Double = 0.0): Seq[(String, Long, Long)] = {
    val ranges = measureRanges(df, cols, clipQuantile)
    val scaled = ranges.map { case (c, mn, mx) =>
      rangeScale(ordinalOfCol(df, c), mn, mx, bits) }
    val code = curve match {
      case "morton" => mortonCodeN(scaled, bits)
      case "hilbert" => hilbertCode(scaled, bits)
      case other => throw new IllegalArgumentException(
        s"unknown clustering curve '$other' (morton|hilbert)")
    }
    clusteredWrite(df, code, path, numFiles)
    ranges
  }

  /** Write `df` z-ordered on (xCol, yCol): range-partition + sort by the
    * Morton code so every output file owns a disjoint morton range and
    * row-group stats tighten on BOTH columns. The morton column itself is
    * dropped — layout is a storage property, not schema. */
  def zorderWrite(df: DataFrame, xCol: String, yCol: String, path: String,
                  numFiles: Int = 8): Unit =
    zorderWriteN(df, Seq(xCol, yCol), path, numFiles)

  /** [[zorderWrite]] for ANY number of clustering columns (each
    * quantized to its low 16 bits): one range shuffle + sort by the
    * N-column Morton code, every output file owning a disjoint code
    * range so per-file min/max tighten on EVERY clustered column. */
  def zorderWriteN(df: DataFrame, cols: Seq[String], path: String,
                   numFiles: Int = 8): Unit =
    clusteredWrite(df, mortonCodeN(cols.map(col)), path, numFiles)

  /** N-column HILBERT-curve code (the native
    * [[graft.plans.HilbertCode]] expression, whole-stage codegen): the
    * locality-preserving alternative to [[mortonCodeN]] — consecutive
    * Hilbert codes are always spatially ADJACENT (the Morton curve
    * jumps diagonally at power-of-two boundaries), so a file's code
    * range covers a tighter box and per-dimension min/max prune more,
    * increasingly so past 2 dimensions. */
  def hilbertCode(cols: Seq[Column], bits: Int = 16): Column =
    call_function("hilbert_code", lit(bits) +: cols: _*)

  /** [[zorderWriteN]] with the Hilbert curve as the clustering key. */
  def hilbertWriteN(df: DataFrame, cols: Seq[String], path: String,
                    numFiles: Int = 8): Unit =
    clusteredWrite(df, hilbertCode(cols.map(col)), path, numFiles)

  private def clusteredWrite(df: DataFrame, code: Column, path: String,
                             numFiles: Int): Unit =
    df.withColumn("__z", code)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Bloom file-skipping index: one bloom filter PER DATA FILE over
    * `column`, built executor-side in a single pass (the distributed
    * `graft_bloom_agg` — `stat.bloomFilter` would need one driver job
    * per file). The point-lookup complement of [[buildMinMaxIndex]]:
    * min-max skipping needs the column CLUSTERED by the layout; a bloom
    * answers "which files could hold THIS key" for any column, clustered
    * or not — the needle-in-100 TB shape. ~1.2 MB per 10⁶ distinct keys
    * at 1% fpp, stored as an index-table row per file. */
  def buildBloomIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      column: String, expectedPerFile: Long = 1L << 20,
                      fpp: Double = 0.01): DataFrame = {
    // numBits = -n·ln(p)/ln2² — the standard sizing formula
    val numBits = math.max(64L,
      (-expectedPerFile * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val src = spark.read.parquet(path)
    // xxhash64 is TYPE-sensitive: the probe side hashes LongType keys, so
    // an INT/STRING indexed column would insert DIFFERENT hashes and the
    // bloom's false negatives would silently DROP true-positive files
    // (missing rows, not just extra I/O). Fail loudly instead.
    val dt = src.schema(column).dataType
    require(dt == org.apache.spark.sql.types.LongType,
      s"bloom index column '$column' must be BIGINT (xxhash64 probe parity); got $dt")
    src
      .groupBy(input_file_name().as("file"))
      .agg(call_function("graft_bloom_agg",
          xxhash64(col(column)), lit(expectedPerFile), lit(numBits))
        .as("bloom"),
        count(lit(1)).as("n_rows"))
  }

  /** The files the bloom index cannot rule out for `keys` — the prune
    * decision [[bloomPrunedRead]] acts on, exposed for audits.
    *
    * The probe runs on the DRIVER over the collected index
    * (`BloomFilterMightContain` only accepts a constant sketch, not a
    * per-row column) — the same |files|-rows envelope as
    * [[prunedRead]]'s min-max listing: a model fetch, never data. Key
    * hashes come from one trivial Spark job so they are bit-identical
    * to the `xxhash64` the build side inserted. */
  def bloomPrunedFiles(index: DataFrame, keys: Seq[Long]): Array[String] = {
    require(keys.nonEmpty, "need at least one lookup key")
    val spark = index.sparkSession
    import spark.implicits._
    val hashes = spark.createDataset(keys)
      .select(xxhash64(col("value"))).collect().map(_.getLong(0))
    index.select("file", "bloom").collect().flatMap { r =>
      val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bloom")))
      if (hashes.exists(bf.mightContainLong)) Some(r.getString(0)) else None
    }
  }

  /** Point-lookup scan pruned by the bloom index: only files whose bloom
    * MIGHT contain one of `keys` are opened (false positives open a
    * file, never emit a row — the exact filter follows). */
  def bloomPrunedRead(spark: org.apache.spark.sql.SparkSession,
                      index: DataFrame, column: String,
                      keys: Seq[Long]): DataFrame = {
    val files = bloomPrunedFiles(index, keys)
    if (files.isEmpty)
      emptyLike(spark, index) // schema-preserving (see prunedReadBox)
    else graft.sources.SchemaCache.read(spark, files.toIndexedSeq)
      .filter(col(column).isin(keys: _*))
  }

  /** Partition backfill — re-materialize EXACTLY the partitions present
    * in `df` of a `partitionBy(partCol)` parquet table, leaving every
    * other partition's files untouched. This is the warehouse repair
    * idiom for "day X landed wrong, recompute day X": Spark's DYNAMIC
    * partition-overwrite mode scopes the overwrite to the partitions the
    * incoming frame actually contains (static mode would drop the whole
    * table). Cost is O(one partition), not O(table) — at 100 TB that is
    * the difference between a backfill and an outage. Idempotent:
    * re-running the same backfill rewrites the same partition to the
    * same content. */
  def backfillPartitions(df: DataFrame, table: String, partCol: String): Unit = {
    val spark = df.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = try Some(spark.conf.get(key)) catch { case _: Exception => None }
    spark.conf.set(key, "dynamic")
    try df.write.partitionBy(partCol)
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(table)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Small-file compaction — the table-maintenance pass every streaming
    * or micro-batch ingest needs: thousands of kilobyte part-files (one
    * per trigger per partition) destroy scan throughput (open/footer
    * overhead per file, starved vectorized reads). Rewrites the table
    * into ceil(totalBytes / targetBytes) files via `coalesce` — a
    * shuffle-FREE narrow rewrite (readers concatenate input splits;
    * rows and schema are untouched) — then promotes it with the same
    * crash-safe rename-aside swap as the upsert sink. A no-op (returns
    * the current count without rewriting) when the table already has
    * that few files. Returns the resulting data-file count. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetBytes: Long): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    def dataFiles(p: java.io.File): Array[java.io.File] =
      Option(p.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.startsWith("part-"))
    val dir = new java.io.File(path)
    val files = dataFiles(dir)
    require(files.nonEmpty, s"no data files under $path")
    val total = files.map(_.length).sum
    val nOut = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    if (nOut >= files.length) return files.length
    val staging = path + ".staging"
    spark.read.parquet(path).coalesce(nOut)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(staging)
    graft.sources.AtomicFile.swapDir(new java.io.File(staging), dir)
    dataFiles(dir).length
  }

  /** File-level min-max index — the poor-man's Delta/Iceberg stats table:
    * one row per data file with the column's [min, max]. Built with a
    * single scan (`input_file_name()` groupBy); at 100 TB the index is
    * |files| rows against billions, and it's the piece that turns a
    * z-ordered or range-partitioned layout into actual FILE SKIPPING —
    * Spark's parquet reader prunes row groups after opening a file, but
    * only a file listing can stop it opening them at all. */
  def buildMinMaxIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                       column: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(column)).as("min_v"), max(col(column)).as("max_v"),
        count(lit(1)).as("n_rows"))

  /** [[buildMinMaxIndex]] over SEVERAL columns in the same single scan:
    * one row per file with `[min_c, max_c]` per column — the stats
    * table a [[zorderWriteN]] layout needs, since a box filter prunes
    * on every dimension's interval at once. */
  def buildMinMaxIndexN(spark: org.apache.spark.sql.SparkSession,
                        path: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one indexed column")
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"),
        cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"),
          max(col(c)).as(s"max_$c"))): _*)
  }

  /** Box-filter scan pruned by a [[buildMinMaxIndexN]] index: only
    * files whose per-column [min, max] intersects EVERY bound are
    * opened (driver-side listing over |files| index rows), then the
    * exact conjunctive filter applies. On a z-ordered layout each
    * dimension's interval tightens per file, so a k-dim box opens a
    * vanishing fraction of the files — the pruning a lexicographic
    * sort only gives its leading column. */
  def prunedReadBox(spark: org.apache.spark.sql.SparkSession,
                    index: DataFrame,
                    bounds: Seq[(String, Long, Long)]): DataFrame = {
    require(bounds.nonEmpty, "need at least one box bound")
    val hit = bounds.map { case (c, lo, hi) =>
      col(s"min_$c") <= hi && col(s"max_$c") >= lo
    }.reduce(_ && _)
    val files = index.filter(hit).select("file").collect().map(_.getString(0))
    if (files.isEmpty) emptyLike(spark, index)
    else graft.sources.SchemaCache.read(spark, files.toIndexedSeq)
      .filter(bounds.map { case (c, lo, hi) =>
        col(c) >= lo && col(c) <= hi }.reduce(_ && _))
  }

  /** A zero-row frame WITH the indexed table's schema — a pruned read
    * whose box missed every file must still select/filter downstream
    * (the schema-less `spark.emptyDataFrame` throws on the first
    * column reference). One file's footer supplies the schema. */
  private def emptyLike(spark: org.apache.spark.sql.SparkSession,
                        index: DataFrame): DataFrame = {
    val any = index.select("file").limit(1).collect()
    require(any.nonEmpty, "empty min-max index: nothing was ever indexed")
    spark.read.parquet(any(0).getString(0)).limit(0)
  }

  /** Index-pruned scan: reads ONLY the files whose [min, max] intersects
    * `[lo, hi]` (driver-side file listing from the index — |files| rows,
    * never data), then applies the exact filter. Same rows as the full
    * filter scan, touching a fraction of the files when the layout
    * clusters the column ([[zorderWrite]] / repartitionByRange). */
  def prunedRead(spark: org.apache.spark.sql.SparkSession, index: DataFrame,
                 column: String, lo: Long, hi: Long): DataFrame = {
    val files = index
      .filter(col("min_v") <= hi && col("max_v") >= lo)
      .select("file").collect().map(_.getString(0))
    if (files.isEmpty)
      emptyLike(spark, index) // schema-preserving (see prunedReadBox)
    else
      graft.sources.SchemaCache.read(spark, files.toIndexedSeq)
        .filter(col(column) >= lo && col(column) <= hi)
  }
}
