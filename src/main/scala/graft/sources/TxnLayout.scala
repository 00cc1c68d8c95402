package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.{Overlap, Trace}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CLUSTERED-LAYOUT MAINTENANCE for transactional tables — the lifecycle
  * that keeps a multi-dimensional clustering useful while the table keeps
  * ingesting (engine-added; Delta's `OPTIMIZE ZORDER BY`, liquid-
  * clustering shape).
  *
  * [[graft.operators.Layout.zorderWriteN]] clusters a STATIC directory
  * once; [[TxnTable.optimizeZorder]] re-clusters a whole txn table. At
  * 100 TB neither is the steady state: every micro-batch commit lands
  * files that ignore the layout, and a FULL re-cluster per maintenance
  * cycle is an O(table) rewrite nobody can afford. The fix is the same
  * watermark idea the skipping stats use, applied to layout:
  *
  *  - [[optimizeClustered]] performs the one full clustered rewrite —
  *    RANGE-QUANTIZING each clustering column to [0, 2^bits) against
  *    its measured [min, max] by default, so natural wide domains
  *    (order keys, timestamps) don't alias mod 2^bits — and records a
  *    SIDECAR (`_graft_stats/cluster.json`) naming the curve, the
  *    columns, the quantization bounds, and each clustered file's
  *    [lo, hi] CODE RANGE — the clustering's own metadata, |files|
  *    entries, never data.
  *  - [[reclusterIncremental]] then maintains it in O(Δ): live files the
  *    sidecar doesn't know are STALE (post-clustering ingest, or some
  *    other rewrite's output). One scan of the stale files computes
  *    their codes; a broadcast range-join against the sidecar's ranges
  *    names the clustered files whose range some stale code lands in;
  *    ONLY stale + hit files rewrite. Clustered files the new data never
  *    touches are not read, not rewritten — at steady state (time-
  *    correlated ingest into a time-leading layout) that is almost all
  *    of them.
  *
  * The disjointness invariant — live clustered files have pairwise
  * disjoint code ranges — is preserved by construction: a stale code
  * either pulls its covering file into the rewrite or lies in a gap no
  * surviving range covers, and the rewrite range-partitions each
  * inter-survivor GAP independently (one output file never spans codes
  * from gaps on both sides of a survivor). So box-filter pruning
  * quality survives any number of incremental rounds (spec-pinned).
  *
  * Single-writer like the other sidecar maintainers: the sidecar is
  * advisory metadata (a wrong one costs rewrite IO, never rows — reads
  * never consult it), written atomically by [[AtomicFile.replace]].
  */
object TxnLayout {

  /** `quant` — the per-column RANGE-QUANTIZATION bounds the codes were
    * computed under (column → measured [min, max], scaled to
    * [0, 2^bits) by [[graft.operators.Layout.rangeScale]]); empty for
    * a clustering of already-bucketed coordinates. Recording the
    * bounds in the spec is what keeps [[reclusterIncremental]]
    * consistent with the baseline clustering: stale rows must map to
    * the SAME code space as the recorded file ranges, so the bounds
    * are measured once at [[optimizeClustered]] time and reused —
    * never re-measured — until the next full rewrite (later ingest
    * beyond them clamps to the edge buckets and is swept up by the
    * next incremental round; layout quality, never correctness). */
  /** `qbounds` — EQUI-DEPTH boundary arrays per column (quantMode =
    * "equidepth"): strictly-increasing quantile cut points the
    * [[graft.plans.RankBucket]] expression binary-searches, taking
    * precedence over `quant` for its columns. Recorded whole so
    * incremental rounds bucket stale rows identically. */
  /** `raw` — each clustering column's UNCLIPPED [min, max] at measure
    * time: the domain [[boundsStaleness]] judges clamping against.
    * Winsorized and equi-depth modes deliberately leave in-distribution
    * outliers outside their scaling bounds — judging staleness against
    * the SCALING bounds would count that by-design residue as clamped
    * mass and loop the re-optimize policy forever on a healthy layout. */
  /** `subBits` — the within-bucket REFINEMENT width composed under the
    * equi-depth rank ([[graft.plans.RankBucket]] `code`): bucket codes
    * alone cap at ~256 distinct values per column (one
    * approx-percentile pass), which caps the layout's file count at
    * ~256 target-sized files — the sub-position range-scales each
    * value inside its bucket's interval so `repartitionByRange` can
    * cut inside dense buckets and file counts scale to 2^bits again.
    * Recorded so incremental rounds compose the IDENTICAL code; 0 for
    * pre-r15 sidecars (bare-rank legacy space). */
  /** `salt` — the TIE-BREAK write mode for irreducible tied codes: a
    * mega-VALUE no value-monotone code can separate (equi-depth's one
    * residue) ties at one code, and `repartitionByRange` places equal
    * keys in one partition — one file swallows the tie regardless of
    * the requested file count. With salt, the write range-partitions
    * on (code, xxhash64(every column)) — a PARTITIONER-ONLY tiebreak:
    * the code space, the sidecar ranges, and every pruning decision
    * are unchanged (tied files share a boundary code, which the
    * disjointness invariant `hi ≤ next lo` already admits), but file
    * sizes are bounded again. Recorded so incremental rounds write the
    * same way. Exact full-row duplicates share a salt — the residue
    * behind the residue, irreducible by anything short of random
    * assignment, which would break write determinism. */
  /** `ordSpace` — which ORDINAL SPACE the recorded bounds (quant /
    * qbounds / raw / ranges) were measured in. 1 = the typed ordinal
    * ([[graft.operators.Layout.ordinalExpr]]: DATE epoch days,
    * TIMESTAMP epoch micros, DECIMAL unscaled), the space every r15+
    * write uses. 0 = the pre-r15 legacy space (`cast("long")` —
    * SECONDS for timestamps), the parse default for sidecars that
    * never recorded the field. The two differ ONLY for temporal /
    * decimal clustering columns; recomposing codes in micros space
    * against seconds-space bounds would mis-map every stale row, so
    * a legacy-space sidecar over such columns refuses incremental
    * maintenance and reports fully clamped — one documented full
    * re-optimize re-measures the bounds and upgrades the sidecar. */
  final case class ClusterSpec(cols: Seq[String], curve: String, bits: Int,
                               version: Int, ranges: Map[String, (Long, Long)],
                               quant: Seq[(String, Long, Long)] = Nil,
                               clip: Double = 0.0,
                               qbounds: Seq[(String, Seq[Long])] = Nil,
                               raw: Seq[(String, Long, Long)] = Nil,
                               subBits: Int = 0,
                               salt: Boolean = false,
                               ordSpace: Int = 1)

  private def sidecarFile(table: String) =
    new File(table, "_graft_stats/cluster.json")

  /** The clustering key expression for a (cols, curve, bits, quant)
    * choice — morton ([[graft.operators.Layout.mortonCodeN]]) or
    * hilbert ([[graft.operators.Layout.hilbertCode]]) over the
    * range-quantized coordinates, all pure whole-stage-codegen terms.
    * Columns without a `quant` entry pass through raw (the
    * pre-bucketed legacy contract — low-`bits` masking applies).
    *
    * `types` carries each column's DataType so quantized coordinates
    * run on their LONG ORDINAL ([[graft.operators.Layout.ordinalExpr]])
    * — how DATE/TIMESTAMP/DECIMAL columns cluster without a manual
    * epoch-cast column. A column absent from the map is treated as
    * integral (the pre-r15 behavior; recorded bounds stay valid). */
  def codeExpr(cols: Seq[String], curve: String, bits: Int,
               quant: Seq[(String, Long, Long)] = Nil,
               qbounds: Seq[(String, Seq[Long])] = Nil,
               types: Map[String, org.apache.spark.sql.types.DataType] =
                 Map.empty,
               subBits: Int = 0,
               domain: Map[String, (Long, Long)] = Map.empty): Column = {
    val q = quant.map { case (c, mn, mx) => c -> ((mn, mx)) }.toMap
    val qb = qbounds.toMap
    def ordinal(c: String): Column = types.get(c) match {
      case Some(dt) => graft.operators.Layout.ordinalExpr(col(c), dt)
      case None => col(c).cast("long")
    }
    val coords = cols.map { c =>
      qb.get(c) match {
        case Some(bs) if bs.nonEmpty =>
          // equi-depth: binary-searched quantile bucket (RankBucket),
          // monotone like rangeScale, (|bs|+1)·2^subBits ≤ 2^bits so no
          // aliasing; with subBits > 0 the within-bucket range position
          // composes under the rank (edge buckets scale over the
          // recorded raw domain) — the >255-file granularity path
          if (subBits > 0) {
            val (dl, dh) = domain.getOrElse(c, (bs.head, bs.last))
            call_function("rank_bucket", ordinal(c), lit(bs.toArray),
              lit(subBits), lit(dl), lit(dh))
          } else
            call_function("rank_bucket", ordinal(c), lit(bs.toArray))
        case _ => q.get(c) match {
          case Some((mn, mx)) =>
            graft.operators.Layout.rangeScale(ordinal(c), mn, mx, bits)
          case None => col(c)
        }
      }
    }
    curve match {
      case "morton" => graft.operators.Layout.mortonCodeN(coords, bits)
      case "hilbert" => graft.operators.Layout.hilbertCode(coords, bits)
      case other => throw new IllegalArgumentException(
        s"unknown clustering curve '$other' (morton|hilbert)")
    }
  }

  /** The clustering columns' current DataTypes — what [[codeExpr]]'s
    * ordinal mapping keys on. Derived from the live schema each time
    * (the sidecar deliberately does not freeze types: a type-changing
    * overwrite is already a re-optimize event). */
  private def clusterTypes(spark: SparkSession, table: String,
                           cols: Seq[String]): Map[String, org.apache.spark.sql.types.DataType] =
    TxnTable.read(spark, table).schema.fields
      .filter(f => cols.contains(f.name))
      .map(f => f.name -> f.dataType).toMap

  /** True iff `spec`'s recorded bounds live in the LEGACY cast("long")
    * ordinal space while the live schema would quantize through a
    * TYPED ordinal that disagrees with it (temporal: seconds vs
    * micros/days; decimal: double-ish cast vs exact unscaled).
    * Integral columns are identical in both spaces, so a legacy
    * sidecar over plain longs never trips this. Only quantized specs
    * can mismatch — an unquantized layout's code never consults the
    * ordinal. */
  private def legacyOrdinalMismatch(spark: SparkSession, table: String,
                                    spec: ClusterSpec): Boolean = {
    import org.apache.spark.sql.types._
    spec.ordSpace == 0 && (spec.quant.nonEmpty || spec.qbounds.nonEmpty) &&
      clusterTypes(spark, table, spec.cols).values.exists {
        case DateType | TimestampType | TimestampNTZType => true
        case _: DecimalType => true
        case _ => false
      }
  }

  private def legacyOrdinalMessage(table: String): String =
    s"$table carries a pre-r15 cluster sidecar whose quantization " +
      "bounds were recorded in cast-long ordinal space, but its " +
      "clustering columns are temporal/decimal (typed-ordinal space " +
      "since r15) — recomposing codes against those bounds would " +
      "mis-map stale rows. Run optimizeClustered (or let " +
      "maintainClustered fire) once to re-measure the bounds and " +
      "upgrade the sidecar."

  def readSpec(table: String): Option[ClusterSpec] = {
    val f = sidecarFile(table)
    if (!f.isFile) None
    else {
      val s = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      for {
        colsM <- "\"cols\":\\[([^\\]]*)\\]".r.findFirstMatchIn(s)
        curve <- "\"curve\":\"([^\"]+)\"".r.findFirstMatchIn(s).map(_.group(1))
        bits <- "\"bits\":(\\d+)".r.findFirstMatchIn(s).map(_.group(1).toInt)
        version <- "\"version\":(\\d+)".r.findFirstMatchIn(s).map(_.group(1).toInt)
      } yield {
        val cols = "\"([^\"]*)\"".r.findAllMatchIn(colsM.group(1))
          .map(_.group(1)).toSeq
        val ranges = "\\{\"file\":\"([^\"]+)\",\"lo\":(-?\\d+),\"hi\":(-?\\d+)\\}".r
          .findAllMatchIn(s)
          .map(m => m.group(1) -> (m.group(2).toLong, m.group(3).toLong))
          .toMap
        val quant = "\\{\"col\":\"([^\"]+)\",\"qlo\":(-?\\d+),\"qhi\":(-?\\d+)\\}".r
          .findAllMatchIn(s)
          .map(m => (m.group(1), m.group(2).toLong, m.group(3).toLong))
          .toSeq
        val clip = "\"clip\":([0-9.eE+-]+)".r.findFirstMatchIn(s)
          .map(_.group(1).toDouble).getOrElse(0.0)
        val qbounds = "\\{\"col\":\"([^\"]+)\",\"bs\":\\[([^\\]]*)\\]\\}".r
          .findAllMatchIn(s)
          .map(m => (m.group(1),
            m.group(2).split(",").filter(_.nonEmpty).map(_.toLong).toSeq))
          .toSeq
        val raw = "\\{\"col\":\"([^\"]+)\",\"rlo\":(-?\\d+),\"rhi\":(-?\\d+)\\}".r
          .findAllMatchIn(s)
          .map(m => (m.group(1), m.group(2).toLong, m.group(3).toLong))
          .toSeq
        val subBits = "\"subbits\":(\\d+)".r.findFirstMatchIn(s)
          .map(_.group(1).toInt).getOrElse(0)
        val salt = s.contains("\"salt\":true")
        // parse-default 0 = legacy cast("long") ordinal space: a
        // sidecar that never recorded the field predates typed ordinals
        val ordSpace = "\"ordspace\":(\\d+)".r.findFirstMatchIn(s)
          .map(_.group(1).toInt).getOrElse(0)
        ClusterSpec(cols, curve, bits, version, ranges, quant, clip,
          qbounds, raw, subBits, salt, ordSpace)
      }
    }
  }

  private def writeSpec(table: String, spec: ClusterSpec): Unit = {
    val files = spec.ranges.toSeq.sortBy(_._1).map { case (f, (lo, hi)) =>
      s"""{"file":"$f","lo":$lo,"hi":$hi}"""
    }.mkString("[", ",", "]")
    val quant = spec.quant.map { case (c, mn, mx) =>
      s"""{"col":"$c","qlo":$mn,"qhi":$mx}"""
    }.mkString("[", ",", "]")
    val qbounds = spec.qbounds.map { case (c, bs) =>
      s"""{"col":"$c","bs":${bs.mkString("[", ",", "]")}}"""
    }.mkString("[", ",", "]")
    val raw = spec.raw.map { case (c, lo, hi) =>
      s"""{"col":"$c","rlo":$lo,"rhi":$hi}"""
    }.mkString("[", ",", "]")
    val body =
      s"""{"cols":${spec.cols.map(c => s""""$c"""").mkString("[", ",", "]")},""" +
        s""""curve":"${spec.curve}","bits":${spec.bits},""" +
        s""""version":${spec.version},"clip":${spec.clip},""" +
        s""""subbits":${spec.subBits},"salt":${spec.salt},""" +
        s""""ordspace":${spec.ordSpace},""" +
        s""""quant":$quant,"qbounds":$qbounds,"raw":$raw,"files":$files}"""
    val f = sidecarFile(table)
    f.getParentFile.mkdirs()
    AtomicFile.replace(f, body.getBytes(StandardCharsets.UTF_8))
  }

  /** Per-file [min, max] of `code` over exactly `files` (table-relative)
    * — one scan of those files, grouped by provenance. */
  private def rangesOf(spark: SparkSession, table: String,
                       files: Seq[String], code: Column): Map[String, (Long, Long)] = {
    if (files.isEmpty) return Map.empty
    val tableAbs = new File(table).getAbsolutePath
    val abs = files.map(f => new File(table, f).getPath)
    // SchemaCache also SEEDS the snapshot's fileset key: after a full
    // rewrite these files ARE the live set every later read re-opens
    SchemaCache.read(spark, abs)
      .groupBy(input_file_name().as("file"))
      .agg(min(code).as("lo"), max(code).as("hi"))
      .collect().map { r =>
        val uri = r.getString(0)
        val p = if (uri.startsWith("file:"))
          new File(new java.net.URI(uri)).getAbsolutePath else uri
        require(p.startsWith(tableAbs + "/"),
          s"scanned file outside the table root: $p")
        // a file holding only NULL-coded rows (NULL cluster columns)
        // has no code range: the sentinel is disjoint from every real
        // code (curves emit >= 0) and marks it for re-merge
        val range = if (r.isNullAt(1)) (Long.MinValue, Long.MinValue)
                    else (r.getLong(1), r.getLong(2))
        p.stripPrefix(tableAbs + "/") -> range
      }.toMap
  }

  /** FULL clustered rewrite: every live row re-sorted by the curve code
    * and range-partitioned into `numFiles`, one atomic
    * [[TxnTable.commitRewrite]] (same ACID shape as optimize: snapshots
    * intact, empty change feed), plus the cluster sidecar recording each
    * new file's code range — the baseline [[reclusterIncremental]]
    * maintains. Returns the committed version. */
  /** ALL of [[optimizeClustered]]'s measurements in ONE aggregate pass
    * over the table: the equi-depth boundary arrays (up to
    * min(2^bits − 1, 255) quantile cut points per column, deduplicated
    * to strict increase — value ties beyond quantile resolution
    * collapse, the only residue equi-depth carries), the winsorized
    * scaling bounds when `clipQuantile` > 0, and the UNCLIPPED
    * [min, max] domain [[boundsStaleness]] judges clamping against.
    * These were three separate full scans (quantiles, clipped bounds,
    * raw bounds); every value is a per-column aggregate of the same
    * ordinal, so one job produces all of them — identical results, one
    * table pass instead of two. Returns (qbounds, quant, raw) exactly
    * as the separate calls did: qbounds empty unless equi-depth, quant
    * empty under equi-depth (the boundary arrays take precedence), and
    * quant ≡ raw when nothing is clipped. */
  private def measureForOptimize(df: org.apache.spark.sql.DataFrame,
                                 cols: Seq[String], bits: Int,
                                 equidepth: Boolean, clipQuantile: Double)
      : (Seq[(String, Seq[Long])], Seq[(String, Long, Long)],
         Seq[(String, Long, Long)]) = {
    // the validation Layout.measureRanges enforced before the fusion:
    // clip ≥ 0.5 would compute percentile(clip) > percentile(1-clip)
    // and record INVERTED bounds the incremental rounds perpetuate
    require(clipQuantile >= 0.0 && clipQuantile < 0.5,
      s"clipQuantile must be in [0, 0.5), got $clipQuantile")
    val ords = cols.map(c =>
      c -> graft.operators.Layout.ordinalOfCol(df, c)).toMap
    val b = math.min((1 << bits) - 1, 255)
    val fracs = (1 to b).map(i => i.toDouble / (b + 1))
    val qAggs =
      if (equidepth) cols.map(c =>
        percentile_approx(ords(c), typedLit(fracs), lit(10000)).as(s"__q_$c"))
      else Nil
    val clipped = !equidepth && clipQuantile > 0.0
    val clipAggs =
      if (clipped) cols.flatMap(c => Seq(
        percentile_approx(ords(c), lit(clipQuantile), lit(10000)).as(s"__cl_$c"),
        percentile_approx(ords(c), lit(1.0 - clipQuantile), lit(10000))
          .as(s"__ch_$c")))
      else Nil
    val rawAggs = cols.flatMap(c => Seq(
      min(ords(c)).as(s"__mn_$c"), max(ords(c)).as(s"__mx_$c")))
    val aggs = qAggs ++ clipAggs ++ rawAggs
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    // all-NULL columns: percentile slots are NULL (→ empty boundaries),
    // min/max slots are NULL (→ the (0, 0) sentinel) — byte-for-byte
    // the prior per-call behavior
    def bounds(at: Int): Seq[(String, Long, Long)] =
      cols.zipWithIndex.map { case (c, i) =>
        if (r.isNullAt(at + 2 * i)) (c, 0L, 0L)
        else (c, r.getLong(at + 2 * i), r.getLong(at + 2 * i + 1))
      }
    val qbounds =
      if (equidepth) cols.zipWithIndex.map { case (c, i) =>
        (c, if (r.isNullAt(i)) Seq.empty[Long]
            else r.getSeq[Long](i).distinct.sorted)
      } else Nil
    val raw = bounds(qAggs.size + clipAggs.size)
    val quant =
      if (equidepth) Nil
      else if (clipped) bounds(qAggs.size)
      else raw
    (qbounds, quant, raw)
  }

  def optimizeClustered(spark: SparkSession, table: String,
                        cols: Seq[String], curve: String = "morton",
                        numFiles: Int = 8, bits: Int = 16,
                        quantize: Boolean = true,
                        clipQuantile: Double = 0.0,
                        quantMode: String = "range",
                        tieSalt: Boolean = false): Int = Trace.span("sources.optimize") {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    require(quantMode == "range" || quantMode == "equidepth",
      s"unknown quantMode '$quantMode' (range|equidepth)")
    TxnTable.requireNoDv(table, "clustered optimize")
    val live = TxnTable.liveSplit(table)._1
    require(live.nonEmpty, s"nothing to cluster in $table")
    // range-quantize by default: curve codes mask each coordinate to
    // its low `bits`, so a natural domain wider than 2^bits would
    // ALIAS mod 2^bits and box pruning would collapse — scale every
    // column to [0, 2^bits) against its measured [min, max] (one
    // aggregate pass) and RECORD the bounds so incremental rounds map
    // stale rows into the same code space. quantize=false keeps the
    // raw-coordinate contract for pre-bucketed inputs.
    // clipQuantile > 0 winsorizes the measured bounds (outlier-skew
    // defence — see Layout.measureRanges); the CLIPPED bounds are what
    // the sidecar records, so incremental rounds and the baseline agree.
    // quantMode = "equidepth" replaces range scaling with quantile
    // buckets ([[graft.plans.RankBucket]]) — the value-concentration
    // defence winsorizing can't give (90% of rows on a handful of
    // values leaves range scaling with one fat bucket no
    // repartitionByRange can split; equi-depth spreads it).
    val equidepth = quantize && quantMode == "equidepth"
    val measured =
      if (quantize)
        measureForOptimize(TxnTable.read(spark, table), cols, bits,
          equidepth, clipQuantile)
      else (Nil, Nil, Nil)
    val qbounds = measured._1
    val quant = measured._2
    // the UNCLIPPED domain at measure time — what boundsStaleness
    // judges clamping against (the winsorized/quantile scaling bounds
    // deliberately exclude in-distribution outliers; counting those as
    // clamped would loop the re-optimize policy on a healthy layout).
    // When nothing was clipped the clean quant bounds ARE the domain.
    val raw = measured._3
    // equi-depth REFINEMENT width: the rank occupies ceil(log2(B+1))
    // bits for the REQUESTED cut count B (dedup collapse only lowers
    // actual ranks, never overflows), and whatever remains of `bits`
    // range-scales WITHIN each bucket — without it the ~255-cut ceiling
    // caps the layout at ~256 target-sized files per column
    // (repartitionByRange cannot cut inside a tied rank code), a hard
    // wall at 100 TB file counts. Derived from the same deterministic
    // inputs the sidecar records, so stale rows always re-compose the
    // identical code.
    val subBits =
      if (!equidepth) 0
      else {
        val b = math.min((1 << bits) - 1, 255)
        math.max(0, bits - (64 - java.lang.Long.numberOfLeadingZeros(b.toLong)))
      }
    val domain = raw.map { case (c, lo, hi) => c -> ((lo, hi)) }.toMap
    val code = codeExpr(cols, curve, bits, quant, qbounds,
      clusterTypes(spark, table, cols), subBits, domain)
    // tieSalt: the partitioner (and only the partitioner) breaks tied
    // codes on a whole-row hash — see [[ClusterSpec.salt]]
    val src0 = TxnTable.read(spark, table).withColumn("__z", code)
    val rewritten =
      (if (tieSalt)
        src0.withColumn("__s",
            xxhash64(TxnTable.read(spark, table).columns.map(col): _*))
          .repartitionByRange(numFiles, col("__z"), col("__s"))
          .sortWithinPartitions("__z", "__s")
          .drop("__s")
      else
        src0.repartitionByRange(numFiles, col("__z"))
          .sortWithinPartitions("__z"))
      .drop("__z")
    val v = TxnTable.commitRewrite(spark, rewritten, table, live)
    val now = TxnTable.liveSplit(table)._1
    val rng = rangesOf(spark, table, now, code)
    writeSpec(table, ClusterSpec(cols, curve, bits, v,
      rng, quant, clipQuantile, qbounds, raw,
      subBits, tieSalt))
    // index the clustering columns' min-max stats: they are exactly the
    // box-filter columns the layout serves (the whole point of the
    // rewrite is that their per-file intervals now prune), and the
    // metadata [[boundsStaleness]] reads. Unsupported column types
    // (float/double stats are refused) simply skip.
    TxnStats.refreshFromFootersMulti(spark, table, cols)
    refreshStats(spark, table)
    v
  }

  /** Maintenance leaves the SKIPPING STATS fresh: re-freshen every
    * min-max sidecar whose column still EXISTS in the current schema —
    * an orphaned sidecar (its column dropped by a schema-changing
    * overwrite) is skipped, never a crash: the rewrite it follows is
    * already committed, and a maintenance policy must not fail its
    * cycle over stale metadata. */
  private def refreshStats(spark: SparkSession, table: String): Unit = {
    val cols = TxnTable.read(spark, table).schema.fieldNames.toSet
    TxnStats.refreshFromFootersMulti(spark, table,
      TxnStats.indexedColumns(table).filter(cols.contains))
  }

  /** INCREMENTAL cluster maintenance — O(Δ), never O(table):
    * rewrites ONLY (a) live data files the sidecar doesn't list (stale:
    * ingested or rewritten since the last clustering) and (b) the
    * clustered files whose recorded code range some stale row's code
    * lands in. Everything else is untouched — not rewritten, not even
    * read. No-op when nothing is stale. `numFiles` sizes the rewrite's
    * output; 0 (default) keeps the rewrite set's own file count.
    * Returns (version, filesRewritten, filesKept) — version is the
    * current head when nothing needed doing. */
  def reclusterIncremental(spark: SparkSession, table: String,
                           numFiles: Int = 0): (Int, Int, Int) = Trace.span("sources.recluster") {
    val spec = readSpec(table).getOrElse(throw new IllegalStateException(
      s"$table has no cluster sidecar — run optimizeClustered first"))
    if (legacyOrdinalMismatch(spark, table, spec))
      throw new IllegalStateException(legacyOrdinalMessage(table))
    TxnTable.requireNoDv(table, "incremental recluster")
    val live = TxnTable.liveSplit(table)._1
    val clustered = live.filter(spec.ranges.contains)
    val stale = live.filterNot(spec.ranges.contains)
    if (stale.isEmpty) return (TxnTable.currentVersion(table), 0, clustered.size)
    val code = codeExpr(spec.cols, spec.curve, spec.bits, spec.quant,
      spec.qbounds, clusterTypes(spark, table, spec.cols), spec.subBits,
      spec.raw.map { case (c, lo, hi) => c -> ((lo, hi)) }.toMap)
    // which clustered files does the stale data land in? |files| ranges
    // broadcast against one scan of the STALE files only. NULL-code
    // files (sentinel range) always fold in: new null-coded stale rows
    // can never range-match them, and re-merging keeps exactly one
    // null-segment file at steady state instead of one per round.
    val nullFiles = clustered
      .filter(f => spec.ranges(f) == ((Long.MinValue, Long.MinValue))).toSet
    val hit: Set[String] = nullFiles ++ (
      if (clustered.isEmpty) Set.empty[String]
      else {
        val ranges = spark.createDataFrame(
          clustered.map(f => (f, spec.ranges(f)._1, spec.ranges(f)._2)))
          .toDF("file", "lo", "hi")
        // DISTINCT codes before the interval join: the join must be a
        // broadcast nested loop (interval condition), and the stale
        // scan is one task per stale file — a single bulk ingest file
        // probed every range once PER ROW on one core (measured 2.4 s
        // of the regrow lifecycle). Hit files depend only on the SET
        // of stale codes (≤ 2^bits per column, far below row counts),
        // and the distinct's exchange spreads the loop join across the
        // full core count. Same hit set, O(distinct codes) work.
        //
        // coalesce-to-sentinel makes __z NON-NULLABLE: the join's
        // interval condition otherwise has the optimizer infer
        // isnotnull(__z) and push it below the distinct as a Filter
        // over the FULL curve-code tree — and FilterExec codegen does
        // no subexpression elimination, so every interleave term
        // re-pays the whole range-scale CASE subtree (measured 2.5 s
        // of single-task CPU on a 150 k-row stale file, 12× the
        // project's own cost). Non-nullable __z constant-folds the
        // inferred filter away. Hit set unchanged: a NULL code maps to
        // Long.MinValue, which can only match the (MinValue, MinValue)
        // sentinel ranges of null-files — already unconditionally in
        // the hit set via `nullFiles`.
        TxnTable.readFileList(spark, table, stale)
          .select(coalesce(code, lit(Long.MinValue)).as("__z")).distinct()
          .join(broadcast(ranges), col("__z").between(col("lo"), col("hi")))
          .select("file").distinct()
          .collect().map(_.getString(0)).toSet
      })
    var hitSet = hit
    var rewriteSet = stale ++ clustered.filter(hitSet.contains)
    // ── disjointness by construction. Every rewrite row's code sits
    // strictly OUTSIDE the surviving ranges (a code touching one pulled
    // its file into the rewrite), but ONE output file could still span
    // codes from gaps on BOTH SIDES of a survivor — its [lo, hi] would
    // then cover the survivor's and box pruning would open both
    // forever. So the rewrite is SEGMENTED: rows are tagged with which
    // inter-survivor gap their code falls in (broadcast range join,
    // |survivors|+1 intervals) and each present segment range-partitions
    // INDEPENDENTLY — a file holds one gap's codes only. When the stale
    // data is scattered across more than `maxSegments` gaps, the
    // survivors inside the stale hull fold into the rewrite instead
    // (one contiguous region, one segment) — the degenerate case
    // genuinely needs the broad recluster it gets.
    val maxSegments = 16
    def survivorRanges(h: Set[String]): Seq[(Long, Long)] =
      clustered.filterNot(h.contains).map(spec.ranges).sortBy(_._1)
    def segmentsDf(h: Set[String]) = {
      val rs = survivorRanges(h)
      val bounds = (Long.MinValue +: rs.map(_._2)).zipWithIndex.map {
        case (prevHi, i) =>
          (i.toLong, prevHi,
            if (i < rs.size) rs(i)._1 else Long.MaxValue)
      }
      spark.createDataFrame(bounds).toDF("__seg", "glo", "ghi")
    }
    // LEFT join + coalesce(-1): the curve code of a row with a NULL
    // cluster column is NULL (the expressions null-propagate), which an
    // inner range join would DROP — and publishRewrite then removes its
    // source file: silent data loss. NULL-coded rows get their own
    // segment instead and rewrite like any other.
    def taggedRows(set: Seq[String], h: Set[String]) = {
      val base = TxnTable.readFileList(spark, table, set)
      // a salted baseline keeps salting through maintenance: the same
      // whole-row partitioner tiebreak, or the rewrite would re-grow
      // the fat tied file the salt existed to split
      val salted =
        if (spec.salt)
          base.withColumn("__s", xxhash64(base.columns.map(col): _*))
        else base
      salted.withColumn("__z", code)
        .join(broadcast(segmentsDf(h)),
          col("__z") > col("glo") && col("__z") < col("ghi"), "left")
        .withColumn("__seg", coalesce(col("__seg"), lit(-1L)))
        .drop("glo", "ghi")
    }
    var tagged = taggedRows(rewriteSet, hitSet)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var segs = tagged.select("__seg").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    if (segs.size > maxSegments) {
      // hull fallback: pull every survivor inside [min, max] of the
      // stale codes — afterwards all rewrite codes share one gap
      val b = tagged.agg(min(col("__z")), max(col("__z"))).head()
      tagged.unpersist()
      val (zLo, zHi) = (b.getLong(0), b.getLong(1))
      hitSet = hitSet ++ clustered.filter { f =>
        val (l, h) = spec.ranges(f); l <= zHi && h >= zLo
      }
      rewriteSet = stale ++ clustered.filter(hitSet.contains)
      tagged = taggedRows(rewriteSet, hitSet)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      segs = tagged.select("__seg").distinct()
        .collect().map(_.getLong(0)).sorted.toSeq
    }
    val perSeg = math.max(1,
      (if (numFiles >= 1) numFiles else rewriteSet.size) / math.max(1, segs.size))
    // ONE WRITE JOB PER SEGMENT: a single unioned write would let the
    // engine merge output partitions across segments (observed under
    // AQE), producing exactly the gap-bridging file the segmentation
    // exists to prevent. Each job's dir is staged under the anticipated
    // version; the publish below is the atomic commit point and a
    // crashed/raced attempt leaves ordinary vacuum orphans.
    val version = TxnTable.currentVersion(table) + 1
    val stamp = java.util.UUID.randomUUID.toString.take(8)
    def writeSeg(df: DataFrame, i: Int): Seq[String] = {
      val dir = new File(table, f"data/v$version%05d-$stamp-s$i")
      df.write.mode(org.apache.spark.sql.SaveMode.ErrorIfExists)
        .parquet(dir.getPath)
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
        .map(f => s"data/${dir.getName}/${f.getName}").sorted.toSeq
    }
    val v =
      try {
        def segJob(sg: Long, i: Int): Seq[String] = {
          val part = tagged.filter(col("__seg") === sg)
          val ranged =
            if (spec.salt)
              part.repartitionByRange(perSeg, col("__z"), col("__s"))
                .sortWithinPartitions("__z", "__s").drop("__s")
            else part.repartitionByRange(perSeg, col("__z"))
              .sortWithinPartitions("__z")
          writeSeg(ranged.drop("__z", "__seg"), i)
        }
        // the one-write-job-per-segment contract stands (a single
        // unioned write merges output partitions across segments), but
        // the segment jobs are INDEPENDENT — each reads the persisted
        // tagged frame and writes its own staging dir — so they overlap
        // (a couple of jobs in flight back-fills the cores a segment's
        // straggler tail leaves idle; N segments previously paid N full
        // job latencies end to end). Content is submission-order-
        // independent and `added` keeps segment order, so the commit is
        // byte-identical to the sequential form; a failed segment
        // cancels the others and propagates its ORIGINAL exception, and
        // the staged dirs stay ordinary vacuum orphans.
        val added = Overlap.map(Some(spark), segs.zipWithIndex, 4,
          "recluster segment") { case (sg, i) => segJob(sg, i) }.flatten
        TxnTable.publishRewrite(table, added, rewriteSet, Some(version))
      } finally tagged.unpersist() // incl. a failed segment write
    // sidecar: surviving entries stay as recorded; only the rewrite's
    // own new files are scanned for their ranges — O(rewritten)
    val survivors = spec.ranges.filter { case (f, _) =>
      clustered.contains(f) && !hitSet.contains(f) }
    val fresh = TxnTable.liveSplit(table)._1
      .filterNot(f => survivors.contains(f))
    writeSpec(table, spec.copy(version = v,
      ranges = survivors ++ rangesOf(spark, table, fresh, code)))
    // the rewrite's new files would otherwise sit unindexed (read by
    // every pruned scan) until someone remembers to refresh — each
    // refresh is O(new files) under the stats' own watermark
    refreshStats(spark, table)
    (v, rewriteSet.size, survivors.size)
  }

  /** Cluster-staleness measurement, METADATA-ONLY (sidecar + the log's
    * row-count stats, footers for pre-stats files — never a scan): the
    * live set split into clustered/stale file and row counts. Stale
    * files are opened by EVERY pruned scan (the pruner never skips
    * blind), so staleRows / totalRows is exactly the fraction of the
    * table clustering no longer shields. Counts are FILE-level (footer
    * rows): live deletion vectors are not subtracted — a DV'd table
    * can't recluster anyway (see [[maintainClustered]]). (0,0,0,0) when
    * the table was never clustered. */
  def staleness(table: String): (Int, Int, Long, Long) =
    stalenessOf(table, readSpec(table))

  private[graft] def stalenessOf(table: String,
                                 spec: Option[ClusterSpec]): (Int, Int, Long, Long) =
    spec match {
      case None => (0, 0, 0L, 0L)
      case Some(sp) =>
        val counts = TxnTable.liveFileRowCounts(table)
        val (cl, st) = counts.partition { case (f, _) => sp.ranges.contains(f) }
        (cl.size, st.size, st.map(_._2).sum, counts.map(_._2).sum)
    }

  /** BOUNDS staleness — the GROWING-DOMAIN measure [[staleness]] cannot
    * see: quantization bounds are measured once at [[optimizeClustered]]
    * and reused, so time-correlated ingest (timestamps, monotone ids —
    * the common 100 TB case) eventually lands EVERY new row beyond the
    * recorded [qlo, qhi], clamped into one edge bucket. Incremental
    * reclustering cannot fix that — the rows are "clustered", just all
    * in the same degenerate bucket — only re-measuring the bounds can.
    *
    * Footer-metadata cost only: the quant columns' min-max sidecars
    * (which [[optimizeClustered]] seeds for its own columns) freshen
    * under their own watermark FIRST — O(files committed since the last
    * refresh), never a data scan — precisely because fresh ingest is
    * what carries the clamped mass; then the per-file bounds name the
    * live files lying ENTIRELY outside the recorded quantization
    * bounds, and their row counts (log/footer) sum to the clamped mass.
    * Conservative: a file partially outside counts 0, a missing
    * sidecar or non-numeric bounds count 0 — the measure only ever
    * under-triggers, never fires on healthy layout. Returns
    * (clampedRows, totalRows); (0, 0) when unclustered or unquantized.
    *
    * `refresh = false` makes the call STRICTLY read-only: the sidecar
    * freshening (which WRITES into the table directory) is skipped and
    * only already-indexed files are judged — files committed since the
    * last refresh count 0, so the measure under-triggers further, never
    * falsely fires. This is the path for advisory callers on read-only
    * mounts ([[graft.plans.LayoutAdvisor.clusterAdvice]] exposes it);
    * the maintenance policy itself keeps the default. */
  def boundsStaleness(spark: SparkSession, table: String,
                      refresh: Boolean = true): (Long, Long) = {
    val spec = readSpec(table).getOrElse(return (0L, 0L))
    // a legacy-space sidecar over typed-ordinal columns has NO usable
    // bounds (seconds vs micros/days) — the one deliberate exception
    // to "under-trigger": reporting the whole table clamped makes
    // [[maintainClustered]] run the single full re-optimize that
    // re-measures the bounds and upgrades the sidecar to ordSpace 1
    if (legacyOrdinalMismatch(spark, table, spec)) {
      val total = TxnTable.liveFileRowCounts(table).map(_._2).sum
      return (total, total)
    }
    // judge against the recorded UNCLIPPED domain (`raw`): the
    // winsorized/quantile SCALING bounds deliberately exclude
    // in-distribution outliers, and counting that by-design residue as
    // clamped would re-trigger a full re-optimize on a healthy layout
    // forever. Pre-`raw` sidecars fall back to the scaling bounds —
    // conservative for clip = 0 (identical), over-eager only for old
    // clipped sidecars until their next rewrite records the domain.
    val bounds =
      if (spec.raw.nonEmpty) spec.raw
      else spec.quant ++ spec.qbounds.collect {
        case (c, bs) if bs.nonEmpty => (c, bs.head, bs.last)
      }
    if (bounds.isEmpty) return (0L, 0L)
    if (refresh)
      TxnStats.refreshFromFootersMulti(spark, table, bounds.map(_._1))
    val counts = TxnTable.liveFileRowCounts(table)
    val total = counts.map(_._2).sum
    val zone = java.time.ZoneId.of(
      spark.sessionState.conf.sessionLocalTimeZone)
    val clamped = scala.collection.mutable.Set.empty[String]
    bounds.foreach { case (c, qlo, qhi) =>
      TxnStats.fileBounds(spark, table, c).foreach {
        case (f, mn, mx) =>
          (ordinalOf(mn, zone), ordinalOf(mx, zone)) match {
            case (Some(lo), Some(hi)) =>
              if (lo > qhi || hi < qlo) clamped += f
            case _ => () // null/unordinal bounds: conservative skip
          }
      }
    }
    (counts.collect { case (f, n) if clamped(f) => n }.sum, total)
  }

  /** Driver-side replica of [[graft.operators.Layout.ordinalExpr]] for
    * the EXTERNAL values a stats sidecar collect yields — how temporal
    * and decimal clustering columns' per-file bounds compare against
    * the recorded (ordinal-space) quantization bounds. TIMESTAMP_NTZ
    * bounds resolve through the SESSION zone — the same zone the
    * scan-side ordinal cast used; a DST-observing zone can wobble an
    * edge file's verdict by an hour, which only ever under- or
    * over-counts this conservative maintenance trigger, never a read. */
  private def ordinalOf(v: AnyRef, zone: java.time.ZoneId): Option[Long] = {
    def micros(i: java.time.Instant): Long =
      Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
        i.getNano / 1000L)
    v match {
      case null => None
      case bd: java.math.BigDecimal =>
        scala.util.Try(bd.unscaledValue.longValueExact).toOption
      case bd: scala.math.BigDecimal =>
        scala.util.Try(bd.underlying.unscaledValue.longValueExact).toOption
      case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
      case d: java.time.LocalDate => Some(d.toEpochDay)
      case t: java.sql.Timestamp => Some(micros(t.toInstant))
      case i: java.time.Instant => Some(micros(i))
      case ldt: java.time.LocalDateTime =>
        Some(micros(ldt.atZone(zone).toInstant))
      case s: String =>
        // the scan-side truncated-binary-prefix ordinal, replicated:
        // first 8 UTF-8 bytes big-endian as unsigned, shifted to
        // signed order (u XOR min-long == u − 2^63 in two's complement)
        val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var u = 0L
        var i = 0
        while (i < 8) {
          u = (u << 8) | (if (i < b.length) b(i) & 0xffL else 0L)
          i += 1
        }
        Some(u ^ Long.MinValue)
      case n: java.lang.Number => Some(n.longValue)
      case _ => None
    }
  }

  /** CLUSTERED-FILE population skew, metadata-only (sidecar file set ×
    * log/footer row counts): max clustered-file rows ÷ mean. A healthy
    * range-partitioned layout is row-balanced by construction
    * (`repartitionByRange` splits on code quantiles), so a fat file
    * can only mean TIED CODES the partitioner could not split — the
    * value-concentration regime where range quantization degenerates
    * (most rows on one bucket) and every box touching the dense region
    * reads the fat file whole. 0.0 when unclustered or fewer than 2
    * clustered files. */
  def fileSkew(table: String): Double = {
    val spec = readSpec(table).getOrElse(return 0.0)
    val counts = TxnTable.liveFileRowCounts(table)
      .collect { case (f, n) if spec.ranges.contains(f) => n }
    if (counts.size < 2) return 0.0
    val mean = counts.sum.toDouble / counts.size
    if (mean == 0.0) 0.0 else counts.max / mean
  }

  /** The steady-state maintenance policy, three metadata-only measures
    * in escalation order:
    *
    *  1. CLAMPED MASS > `maxClampedFraction` ([[boundsStaleness]]):
    *     rows beyond the recorded quantization bounds pile into one
    *     edge bucket no incremental round can spread out → full
    *     re-optimize with RE-MEASURED bounds, same mode/clip.
    *  2. FILE SKEW > `maxFileSkew` ([[fileSkew]], range-quantized
    *     tables with ≥ `minFilesForSkew` clustered files): a fat file
    *     means tied codes the range partitioner could not split —
    *     re-measuring the same range bounds would reproduce it, so the
    *     policy ESCALATES the mode to equi-depth (quantile buckets
    *     split the tie mass by construction). Self-healing: the
    *     degenerate layout is detected and repaired from metadata,
    *     no operator in the loop.
    *  3. STALE ROWS ≥ `maxStaleFraction` ([[staleness]]): the ordinary
    *     incremental recluster — below it the pruning loss is cheaper
    *     than the rewrite IO, the small-file-compaction economics.
    *
    * A table carrying live deletion vectors DECLINES rather than
    * throws (a periodic policy must not crash its cycle) — run
    * `TxnTable.optimize` to materialize the vectors first. Returns
    * Some((version, filesRewritten, filesKept)) when it ran (kept = 0
    * for the full re-optimizes), None when the clustering is still
    * healthy, absent, or DV-blocked. */
  def maintainClustered(spark: SparkSession, table: String,
                        maxStaleFraction: Double = 0.2,
                        numFiles: Int = 0,
                        maxClampedFraction: Double = 0.5,
                        maxFileSkew: Double = 8.0,
                        minFilesForSkew: Int = 4): Option[(Int, Int, Int)] = Trace.span("sources.maintain") {
    require(maxStaleFraction > 0.0, "maxStaleFraction must be positive")
    require(maxClampedFraction > 0.0, "maxClampedFraction must be positive")
    require(maxFileSkew > 1.0, "maxFileSkew must exceed 1")
    if (TxnTable.liveSplit(table)._2.nonEmpty) return None
    val spec = readSpec(table)
    def reoptimize(sp: ClusterSpec, mode: String,
                   salt: Boolean): Some[(Int, Int, Int)] = {
      val nf = if (numFiles >= 1) numFiles else math.max(1, sp.ranges.size)
      val rewritten = TxnTable.liveSplit(table)._1.size
      val v = optimizeClustered(spark, table, sp.cols, sp.curve, nf,
        sp.bits, quantize = true, clipQuantile = sp.clip, quantMode = mode,
        tieSalt = salt)
      Some((v, rewritten, 0))
    }
    if (spec.exists(sp => sp.quant.nonEmpty || sp.qbounds.nonEmpty)) {
      val (clampedRows, totalRows) = boundsStaleness(spark, table)
      if (totalRows > 0 && clampedRows > maxClampedFraction * totalRows)
        return reoptimize(spec.get,
          if (spec.get.qbounds.nonEmpty) "equidepth" else "range",
          salt = spec.get.salt)
    }
    spec match {
      // skew escalation ladder. Rung 1: a RANGE-quantized layout's fat
      // file means tied CODES quantile buckets can split → escalate to
      // equi-depth. Rung 2: an EQUI-DEPTH layout still skewed means
      // tied VALUES past quantile resolution — no value-monotone code
      // can separate them, so the remaining lever is the partitioner
      // tiebreak (tieSalt: sizes bound, pruning unchanged). A layout
      // already salted and still skewed is exact full-row duplication
      // — accepted residue, nothing a deterministic write can split.
      // Unquantized layouts are the pre-bucketed legacy contract whose
      // coordinates the caller owns.
      case Some(sp) if sp.quant.nonEmpty && sp.ranges.size >= minFilesForSkew &&
          fileSkew(table) > maxFileSkew =>
        return reoptimize(sp, "equidepth", salt = sp.salt)
      case Some(sp) if sp.qbounds.nonEmpty && !sp.salt &&
          sp.ranges.size >= minFilesForSkew &&
          fileSkew(table) > maxFileSkew =>
        return reoptimize(sp, "equidepth", salt = true)
      case _ => ()
    }
    val (_, staleFiles, staleRows, totalRows) = staleness(table)
    if (staleFiles == 0 || staleRows < maxStaleFraction * totalRows) None
    else Some(reclusterIncremental(spark, table, numFiles))
  }
}
