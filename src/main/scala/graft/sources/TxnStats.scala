package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.{Overlap, Trace}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-file min-max statistics maintained INCREMENTALLY under the
  * transaction log — Delta's data-skipping stats, kept honest about
  * freshness (engine-added; the closest thing the reference has is a
  * full-table re-read per run).
  *
  * [[graft.operators.Layout.buildMinMaxIndex]] indexes a static
  * directory; a committed table outgrows that: every commit adds files,
  * and re-scanning the table to rebuild the index defeats its purpose.
  * Here the stats table carries a VERSION WATERMARK: `refresh` scans
  * ONLY the files added since the last indexed version — O(Δ) like
  * every other incremental consumer of the log — and appends their
  * (file, min, max, n_rows) rows. Removed files' rows simply go stale;
  * reads intersect stats with the LIVE file set, so stale rows are
  * inert and an overwrite needs no index surgery.
  *
  * Freshness is a safety property, not a liveness one: a live file the
  * stats don't know yet (commits since the last refresh) is always
  * READ, never skipped — a stale index costs I/O, never rows.
  *
  * TYPED stats: min/max are stored AS THE COLUMN'S OWN TYPE (the stats
  * parquet schema is `file STRING, min <dt>, max <dt>, n_rows BIGINT`),
  * so range pruning compares under Spark's native type ordering — no
  * lossy canonical encoding. Supported: all integrals, STRING, DATE,
  * TIMESTAMP / TIMESTAMP_NTZ, DECIMAL — the dominant pruning predicates
  * on an unpartitioned 100 TB fact (every TPC-H date window). FLOAT /
  * DOUBLE are refused: parquet footers may carry NaN-polluted bounds
  * the format itself documents as unreliable, and a wrong bound here
  * skips ROWS, not I/O. Files whose indexed column is ALL NULL store a
  * (null, null) bound and are SKIPPED by range reads — sound because
  * `BETWEEN` is null-rejecting.
  */
object TxnStats {

  private def statsDir(table: String, column: String) =
    new File(table, s"_graft_stats/$column")

  private def wmFile(table: String, column: String) =
    new File(statsDir(table, column), "_watermark.json")

  /** The parquet parts of a column's stats dir, sorted. Empty for a
    * dir carrying only its watermark (every file so far DECLINED footer
    * indexing, e.g. an INT96-timestamp table): that reads as "nothing
    * indexed", not a read of an empty file list. */
  private def statsParts(sd: File): Seq[String] =
    Option(sd.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getName).sorted.toSeq

  /** The stats-storable types. Bounds under every one of these are
    * exact total orders; floats are excluded (NaN), binary/complex are
    * excluded (no useful range predicates reach them). */
  private[graft] def supported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | StringType |
         DateType | TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** The table version the stats cover (0 = never refreshed). */
  def indexedVersion(table: String, column: String): Int = {
    val f = wmFile(table, column)
    if (!f.isFile) 0
    else "\"version\":(\\d+)".r
      .findFirstMatchIn(new String(Files.readAllBytes(f.toPath),
        StandardCharsets.UTF_8))
      .map(_.group(1).toInt).getOrElse(0)
  }

  /** Every file ADDED in (fromExclusive, toInclusive] — unlike
    * `TxnTable.addedFiles` this tolerates removal versions: stats for a
    * since-removed file are just stale rows the live-set intersection
    * ignores. */
  private def addedInRange(table: String, fromExclusive: Int,
                           toInclusive: Int): Seq[String] =
    TxnTable.logFiles(table)
      .filter(f => TxnTable.versionOf(f) > fromExclusive &&
        TxnTable.versionOf(f) <= toInclusive)
      .flatMap(f => TxnTable.parseEntry(f)._1)
      // deletion vectors carry no stats column — they are not data
      .filterNot(_.startsWith("dv/"))

  /** Append `rows` as one small parquet under `dir` — |new files| rows
    * of driver metadata per refresh, shared by the min-max and NDV
    * sidecar families. */
  private def writeSidecarRows(spark: SparkSession, dir: File,
                               schema: StructType, rows: Seq[Row]): Unit = {
    dir.mkdirs()
    spark.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters
          .SeqHasAsJava(rows).asJava), schema)
      .coalesce(1).write.mode("append").parquet(dir.getPath)
  }

  private def writeStatsRows(spark: SparkSession, table: String,
                             column: String, dt: DataType,
                             rows: Seq[Row]): Unit = {
    writeSidecarRows(spark, statsDir(table, column), StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("min", dt), StructField("max", dt),
      StructField("n_rows", LongType, nullable = false))), rows)
  }

  /** The column's stats sidecar as a DRIVER-LOCAL frame, memoized in
    * [[MetaStore]] on (table, column, the sidecar's part-file names).
    * Two costs disappear versus re-reading the sidecar's parts on every
    * call: the path resolution and the collect JOB — a
    * LocalRelation's select/filter/collect run entirely on the driver
    * (ConvertToLocalRelation), zero scheduling. The sidecar holds
    * |files| rows of driver metadata, read by every pruned scan, every
    * staleness probe, and every DFP evaluation — at sf0.1 those jobs
    * dominate the layout-lifecycle queries, at 100 TB they are repeated
    * object-store reads of the same immutable rows. Each refresh
    * appends a new UUID-named part, so the one listing that builds the
    * key sees a refresh by any process, and a table recreated at the
    * same path has other parts. None = the column has no stats rows. */
  private def statsFrame(spark: SparkSession, table: String,
                         column: String): Option[DataFrame] = {
    val sd = statsDir(table, column)
    val parts = statsParts(sd)
    if (parts.isEmpty) return None
    val (schema, rows) = MetaStore.memo[(StructType, Seq[Row])]("meta.stats",
        (sd.getAbsolutePath, parts))(_._2.size.toLong) {
      val df = SchemaCache.read(spark, parts.map(new File(sd, _).getPath))
      (df.schema, df.collect().toSeq)
    }
    Some(spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema))
  }

  private def writeWatermark(table: String, column: String,
                             version: Int): Unit = {
    val dir = statsDir(table, column)
    dir.mkdirs()
    Files.write(new File(dir, "_watermark.json").toPath,
      s"""{"version":$version}""".getBytes(StandardCharsets.UTF_8))
  }

  /** `input_file_name()` → the table-relative path, refusing files
    * outside the table root — ONE definition for every sidecar
    * refresher. */
  private def relFile(tableAbs: String, p: String): String = {
    val abs0 = if (p.startsWith("file:"))
      new File(new java.net.URI(p)).getAbsolutePath else p
    require(abs0.startsWith(tableAbs + "/"),
      s"sidecar file outside table root: $abs0")
    abs0.stripPrefix(tableAbs + "/")
  }

  /** Bring the stats for `column` up to the table's current version by
    * scanning ONLY the newly added files. Returns the number of files
    * indexed (0 when already fresh). Idempotent per version. */
  def refresh(spark: SparkSession, table: String,
              column: String): Int = Trace.span("sources.stats") {
    val current = TxnTable.currentVersion(table)
    val wm = indexedVersion(table, column)
    if (wm >= current) return 0
    val newRel = addedInRange(table, wm, current)
    if (newRel.nonEmpty) {
      val abs = newRel.map(p => new File(table, p).getPath)
      val src = SchemaCache.read(spark, abs)
      val dt = src.schema(column).dataType
      require(supported(dt),
        s"stats column '$column' must be an exactly-ordered type " +
          s"(integral/string/date/timestamp/decimal); got $dt")
      val tableAbs = new File(table).getAbsolutePath
      // |new files| rows — a model fetch, never data
      val rows = src.groupBy(input_file_name().as("file"))
        .agg(min(col(column)).as("min"), max(col(column)).as("max"),
          count(lit(1)).as("n_rows"))
        .collect().map(r => Row(relFile(tableAbs, r.getString(0)),
          r.get(1), r.get(2), r.getLong(3)))
      writeStatsRows(spark, table, column, dt, rows.toSeq)
    }
    writeWatermark(table, column, current)
    newRel.size
  }

  /** Map one parquet footer statistics value to the EXTERNAL Scala
    * value the stats table stores, verifying the footer's physical +
    * logical type actually is the representation Spark writes for
    * `dt` — any mismatch (INT96 timestamps, foreign encodings) returns
    * None and the file stays unindexed: always read, never wrong. */
  private def footerValue(v: AnyRef, dt: DataType,
                          pt: org.apache.parquet.schema.PrimitiveType)
      : Option[Any] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.io.api.Binary
    val ann = pt.getLogicalTypeAnnotation
    (dt, v) match {
      case (LongType, x: java.lang.Long) => Some(x.longValue)
      case (IntegerType, x: java.lang.Integer) => Some(x.intValue)
      case (ShortType, x: java.lang.Integer) => Some(x.intValue.toShort)
      case (ByteType, x: java.lang.Integer) => Some(x.intValue.toByte)
      case (StringType, b: Binary)
          if ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        Some(new String(b.getBytes, StandardCharsets.UTF_8))
      case (DateType, x: java.lang.Integer)
          if ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] =>
        Some(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(x.longValue)))
      case (TimestampType | TimestampNTZType, x: java.lang.Long)
          if pt.getPrimitiveTypeName == INT64 &&
            ann.isInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation] =>
        val ta = ann.asInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation]
        val micros = ta.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.MICROS => Some(x.longValue)
          case LogicalTypeAnnotation.TimeUnit.MILLIS =>
            Some(Math.multiplyExact(x.longValue, 1000L))
          case _ => None // NANOS: sub-micro truncation could move a bound
        }
        micros.map { us =>
          val inst = java.time.Instant.ofEpochSecond(
            Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
          if (dt == TimestampType) inst
          else java.time.LocalDateTime.ofInstant(inst, java.time.ZoneOffset.UTC)
        }
      case (d: DecimalType, _)
          if ann.isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation] &&
            ann.asInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
              .getScale == d.scale =>
        v match {
          case x: java.lang.Integer =>
            Some(java.math.BigDecimal.valueOf(x.longValue, d.scale))
          case x: java.lang.Long =>
            Some(java.math.BigDecimal.valueOf(x.longValue, d.scale))
          case b: Binary => Some(new java.math.BigDecimal(
            new java.math.BigInteger(b.getBytes), d.scale))
          case _ => None
        }
      case _ => None
    }
  }

  /** Bring several columns' footer stats up to head CONCURRENTLY: each
    * column's refresh is independent (its own sidecar dir and
    * watermark), and with the footer cache absorbing the shared parses
    * the per-column cost is one scheduling-latency-bound sidecar write
    * job — they overlap, four at a time. Per-column NonFatal failures
    * skip that column (the pruner always reads unindexed files, so a
    * skipped refresh costs IO, never rows) — the same contract the
    * per-column call sites already applied. */
  def refreshFromFootersMulti(spark: SparkSession, table: String,
                              columns: Seq[String]): Unit = Trace.span("sources.stats") {
    def one(c: String): Unit =
      try { refreshFromFooters(spark, table, c); () }
      catch { case scala.util.control.NonFatal(_) => () }
    Overlap.map(Some(spark), columns.distinct, 4, "sidecar refresh")(one)
  }

  /** The one Hadoop `Configuration` of the driver's footer reads and
    * file stats. A new one per call parsed Hadoop's default XML again
    * on its first read — milliseconds per footer, paid for every file a
    * commit adds. */
  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  /** The local file system as Spark resolves `file:` paths: its
    * qualification and block size are what Spark's listing reports. */
  private[sources] lazy val localFs =
    org.apache.hadoop.fs.FileSystem.getLocal(hadoopConf)

  /** Parsed parquet FOOTERS, memoized in [[MetaStore]] per absolute
    * path: a clustered optimize refreshes one sidecar per clustering
    * column, and each single-column refresh re-opened and re-parsed the
    * SAME new files' footers. Every parquet file this engine reads is
    * immutable under its path (Spark part files and the engine's
    * staging dirs embed a job/txn UUID; testdata is read-only), so the
    * path is the footer's identity. Weighed by column chunks, the bulk
    * of a footer's heap. */
  private[sources] def footerOf(f: File)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata =
    MetaStore.memo[org.apache.parquet.hadoop.metadata.ParquetMetadata](
        "meta.footer", f.getAbsolutePath)(md =>
      md.getBlocks.stream.mapToLong(_.getColumns.size.toLong).sum) {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toURI), hadoopConf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter finally r.close()
    }

  /** Per-file (min, max, rows) for a supported column straight from the
    * parquet FOOTER's row-group statistics — metadata IO only, no data
    * pages, the same read class as [[TxnTable.footerRowCount]]. None
    * when any row group lacks usable stats for the column (then the
    * file stays unindexed, which the pruner treats as always-read), or
    * when the footer's physical representation is not the one `dt`
    * expects (INT96 timestamps, scale drift). A file whose every value
    * is NULL yields (None, None, rows) — stored as a null bound the
    * range pruner SKIPS. */
  private def footerMinMax(f: File, dt: DataType, column: String)
      : Option[(Option[Any], Option[Any], Long)] = {
    {
      import scala.jdk.CollectionConverters._
      val blocks = footerOf(f).getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      // per chunk: None = unusable (missing stats / foreign encoding —
      // the whole file declines); Some(None) = all-null chunk (no
      // bound); Some(Some((mn, mx))) = a converted bound
      val perBlock: Seq[Option[Option[(Any, Any)]]] = blocks.map { b =>
        b.getColumns.asScala
          .find(_.getPath.toDotString == column)
          .map(c => (c.getStatistics, c.getPrimitiveType, c.getValueCount))
          .filter { case (s, _, _) => s != null && !s.isEmpty } match {
          case None => None
          case Some((s, pt, nVals)) =>
            // "no non-null value" is only an ALL-NULL chunk when the
            // null count PROVES it (numNulls == chunk values). A writer
            // that records no min/max at all — INT96 timestamps are the
            // canonical case: parquet-mr emits a stats object with
            // hasNonNullValue=false and numNulls=0 over real data —
            // must DECLINE (file unindexed, always read). Treating it
            // as all-null would let the range pruner skip a file full
            // of live rows: silent row loss, not lost IO.
            if (!s.hasNonNullValue)
              if (s.isNumNullsSet && s.getNumNulls == nVals) Some(None)
              else None
            else (for {
              mn <- footerValue(s.genericGetMin.asInstanceOf[AnyRef], dt, pt)
              mx <- footerValue(s.genericGetMax.asInstanceOf[AnyRef], dt, pt)
            } yield (mn, mx)) match {
              case None => None // footer encoding is not dt's — decline
              case some => Some(some)
            }
        }
      }
      // every chunk must CARRY usable stats (else the file can't be
      // summarized soundly); all-null chunks contribute no bound
      if (perBlock.exists(_.isEmpty)) None
      else {
        val bounds: Seq[(Any, Any)] = perBlock.flatten.flatten
        if (bounds.isEmpty) Some((None, None, rows)) // all rows null
        else {
          val ord = boundOrdering(dt)
          Some((Some(bounds.map(_._1).min(ord)),
            Some(bounds.map(_._2).max(ord)), rows))
        }
      }
    }
  }

  /** Total order over the EXTERNAL representations [[footerValue]]
    * emits — used only to merge per-row-group bounds into one file
    * bound. */
  private def boundOrdering(dt: DataType): Ordering[Any] = {
    val o: Ordering[_] = dt match {
      case LongType => Ordering.Long
      case IntegerType => Ordering.Int
      case ShortType => Ordering.Short
      case ByteType => Ordering.Byte
      case StringType => Ordering.String
      case DateType => Ordering.fromLessThan[java.sql.Date](_.compareTo(_) < 0)
      case TimestampType =>
        Ordering.fromLessThan[java.time.Instant](_.compareTo(_) < 0)
      case TimestampNTZType =>
        Ordering.fromLessThan[java.time.LocalDateTime](_.compareTo(_) < 0)
      case _: DecimalType =>
        Ordering.fromLessThan[java.math.BigDecimal](_.compareTo(_) < 0)
      case other => throw new IllegalArgumentException(s"unsupported $other")
    }
    o.asInstanceOf[Ordering[Any]]
  }

  /** [[refresh]]'s METADATA-ONLY twin: bring the stats up to head by
    * reading the new files' parquet footers instead of their data pages
    * — at 100 TB the difference between an O(Δ rows) scan job and
    * O(Δ files) footer reads, the same economics as the commit-time
    * row-count sidecars. A new file whose footer lacks usable stats is
    * simply left unindexed (the pruner always reads unindexed live
    * files — safety is never delegated to the footer). Interchangeable
    * with [[refresh]] per file: both record the exact same
    * (file, min, max, n_rows) row (spec-pinned). `column`'s Spark type
    * is resolved from the table schema; the footer's physical type must
    * agree or the file stays unindexed. */
  def refreshFromFooters(spark: SparkSession, table: String,
                         column: String): Int = Trace.span("sources.stats") {
    val current = TxnTable.currentVersion(table)
    val wm = indexedVersion(table, column)
    if (wm >= current) return 0
    val newRel = addedInRange(table, wm, current)
    if (newRel.nonEmpty) {
      val dt = TxnTable.read(spark, table).schema(column).dataType
      require(supported(dt),
        s"stats column '$column' must be an exactly-ordered type " +
          s"(integral/string/date/timestamp/decimal); got $dt")
      val rows = newRel.flatMap { rel =>
        footerMinMax(new File(table, rel), dt, column)
          .map { case (mn, mx, n) =>
            Row(rel, mn.orNull, mx.orNull, n) }
      }
      if (rows.nonEmpty) writeStatsRows(spark, table, column, dt, rows)
      writeWatermark(table, column, current)
      rows.size
    } else {
      writeWatermark(table, column, current)
      0
    }
  }

  /** The live files a `[lo, hi]` range lookup must read: stats-known
    * files whose [min, max] overlaps the range, plus every live file
    * the stats have not indexed yet (never skip blind). Indexed files
    * whose column is ALL NULL are skipped — `BETWEEN` can never select
    * their rows. Bounds are compared under the COLUMN'S OWN type
    * (`lo`/`hi` must be literal-able as that type: Long for BIGINT,
    * java.sql.Date / LocalDate for DATE, String, java.math.BigDecimal,
    * Instant / Timestamp…). Returns (filesToRead, nLive) — both
    * table-relative. */
  def pruneFiles(spark: SparkSession, table: String, column: String,
                 lo: Any, hi: Any): (Seq[String], Int) = {
    val live = TxnTable.liveSplit(table)._1
    val stats = statsFrame(spark, table, column)
      .getOrElse(return (live, live.size))
    val rows = stats.select(col("file"),
        (col("min") <= lit(hi) && col("max") >= lit(lo)).as("overlap"))
      .collect()
    val indexed = rows.map(_.getString(0)).toSet
    val overlapping = rows.filter(r => !r.isNullAt(1) && r.getBoolean(1))
      .map(_.getString(0)).toSet
    val toRead = live.filter(f =>
      !indexed.contains(f) || overlapping.contains(f))
    (toRead, live.size)
  }

  // ── persisted NDV sketches ───────────────────────────────────────────

  private def ndvDir(table: String, cols: Seq[String]) =
    new File(table, s"_graft_stats/ndv/${cols.sorted.mkString(",")}")

  /** Sketch-format version: bumped whenever the per-file hash changes
    * (the register spaces are then incompatible and a live-set merge
    * of old+new sketches would inflate NDV). A sidecar whose watermark
    * lacks the current marker is REBUILT from scratch on the next
    * refresh instead of appended to. */
  private val NdvFmt = "xxh64-sorted-null-2"

  private def ndvFmtCurrent(dir: File): Boolean = {
    val f = new File(dir, "_watermark.json")
    !f.isFile || new String(Files.readAllBytes(f.toPath),
      StandardCharsets.UTF_8).contains(s""""fmt":"$NdvFmt"""")
  }

  private def ndvSummaryFile(table: String, cols: Seq[String]) =
    new File(ndvDir(table, cols), "_summary.json")

  /** The table version the NDV sketches cover (0 = never refreshed). */
  def ndvIndexedVersion(table: String, cols: Seq[String]): Int = {
    val f = new File(ndvDir(table, cols), "_watermark.json")
    if (!f.isFile) 0
    else "\"version\":(\\d+)".r
      .findFirstMatchIn(new String(Files.readAllBytes(f.toPath),
        StandardCharsets.UTF_8))
      .map(_.group(1).toInt).getOrElse(0)
  }

  /** Bring the PER-FILE HLL sketches for the `cols` tuple up to head —
    * one Datasketches register set per new file over
    * `xxhash64(cols…)` — then merge the LIVE files' sketches into one
    * table-level NDV estimate persisted as a summary sidecar. The
    * cost model that makes this 100 TB-shaped:
    *  - refresh reads ONLY the files added since the watermark (O(Δ),
    *    the same incrementality as the min-max stats);
    *  - removals need no surgery — the merge intersects sketches with
    *    the live set, so overwrites just orphan stale rows;
    *  - the merge job itself reads |files| sketch rows, never data.
    * The summary records `complete` = every live file is sketched; an
    * incomplete estimate (files committed before the first refresh of
    * some overwritten lineage) is still written but flagged, so a
    * cost-based consumer ([[graft.plans.EagerAggregation]]'s auto
    * mode) can decline rather than mis-price. Returns the merged
    * estimate. */
  def refreshNdv(spark: SparkSession, table: String,
                 cols: Seq[String]): Long = Trace.span("sources.stats") {
    require(cols.nonEmpty, "ndv needs at least one column")
    val cur = TxnTable.currentVersion(table)
    val dir = ndvDir(table, cols)
    // a pre-format-bump sidecar is register-incompatible — rebuild
    if (!ndvFmtCurrent(dir))
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    val wm = ndvIndexedVersion(table, cols)
    val newRel = if (wm >= cur) Nil else addedInRange(table, wm, cur)
    if (newRel.nonEmpty) {
      val abs = newRel.map(p => new File(table, p).getPath)
      val tableAbs = new File(table).getAbsolutePath
      // hash the SORTED column order — the sketch dir is keyed by
      // cols.sorted, so two refreshes invoked with different caller
      // orders must land register-compatible sketches (a caller-order
      // hash would union two incompatible hash spaces and inflate NDV).
      // Each column is paired with its isNull flag: Spark's xxhash64
      // SKIPS a null input (the running hash passes through unchanged),
      // so without the flag the distinct tuples (5,null) and (null,5)
      // collide into one register and the deflated estimate can falsely
      // refute a truly-unique composite key (advisor
      // not_unique_in_data on null-bearing keys).
      val hashIn = cols.sorted.flatMap(c => Seq(col(c), col(c).isNull))
      val rows = SchemaCache.read(spark, abs)
        .groupBy(input_file_name().as("file"))
        .agg(hll_sketch_agg(xxhash64(hashIn: _*)).as("sketch"),
          count(lit(1)).as("n_rows"))
        .collect().map(r => Row(relFile(tableAbs, r.getString(0)),
          r.getAs[Array[Byte]](1), r.getLong(2)))
      writeSidecarRows(spark, dir, StructType(Seq(
        StructField("file", StringType, nullable = false),
        StructField("sketch", BinaryType),
        StructField("n_rows", LongType, nullable = false))), rows.toSeq)
    }
    dir.mkdirs()
    Files.write(new File(dir, "_watermark.json").toPath,
      s"""{"version":$cur,"fmt":"$NdvFmt"}"""
        .getBytes(StandardCharsets.UTF_8))
    // merge the LIVE files' sketches into the summary
    val live = TxnTable.liveSplit(table)._1.toSet
    val hasSketches = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .exists(f => f.isFile && f.getName.endsWith(".parquet"))
    val (ndv, complete) =
      if (!hasSketches) (0L, live.isEmpty)
      else {
        val sketches = SchemaCache.readDir(spark, dir.getPath)
          .filter(col("file").isin(live.toSeq: _*))
        val indexedLive = sketches.select("file").distinct()
          .collect().map(_.getString(0)).toSet
        val est = sketches
          .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("ndv"))
          .head()
        (if (est.isNullAt(0)) 0L else est.getLong(0), indexedLive == live)
      }
    Files.write(ndvSummaryFile(table, cols).toPath,
      s"""{"ndv":$ndv,"version":$cur,"complete":$complete}"""
        .getBytes(StandardCharsets.UTF_8))
    ndv
  }

  /** The persisted (ndv, version, complete) summary for the `cols`
    * tuple — pure driver-side metadata IO (one small JSON), safe to
    * consult from inside an optimizer rule. None until [[refreshNdv]]
    * has run. The estimate describes the summary's `version`; a head
    * that moved since is advisory staleness, not unsoundness — NDV
    * feeds COST decisions only. */
  def ndvOf(table: String, cols: Seq[String]): Option[(Long, Int, Boolean)] = {
    val f = ndvSummaryFile(table, cols)
    if (!f.isFile) None
    else {
      val s = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      for {
        n <- "\"ndv\":(\\d+)".r.findFirstMatchIn(s).map(_.group(1).toLong)
        v <- "\"version\":(\\d+)".r.findFirstMatchIn(s).map(_.group(1).toInt)
        c <- "\"complete\":(true|false)".r.findFirstMatchIn(s)
          .map(_.group(1) == "true")
      } yield (n, v, c)
    }
  }

  /** Range scan pruned by the stats: only overlapping (or unindexed)
    * live files are opened; the exact filter follows, so a skipped file
    * never costs a row and an opened file never leaks one. */
  def prunedRead(spark: SparkSession, table: String, column: String,
                 lo: Any, hi: Any): DataFrame = {
    val (toRead, _) = pruneFiles(spark, table, column, lo, hi)
    val (live, dvFiles) = TxnTable.liveSplit(table)
    require(live.nonEmpty, s"no live files in $table")
    val pick = if (toRead.nonEmpty) toRead else live.take(1)
    // route through the DV-aware file-list read: live deletion vectors
    // must anti-join the picked files or deleted rows resurface here
    val df = TxnTable.readFileList(spark, table, pick ++ dvFiles)
      .filter(col(column).between(lit(lo), lit(hi)))
    if (toRead.nonEmpty) df else df.filter(lit(false))
  }

  // ── join-driven dynamic file pruning ─────────────────────────────────

  /** JOIN-DRIVEN dynamic file pruning: the set of stats-INDEXED files
    * of `table` provably holding no row an equi-join on `column`
    * against `dimKeys` can match, decided at plan time from the dim
    * side by the [[graft.plans.AutoFilePrune]] optimizer rule (its only
    * caller, which also owns the soundness envelope: the fact side must
    * be filtering-only or null-extending, never preserved). Spark's own
    * DPP prunes directory partitions; this is its file-level sibling
    * for an UNPARTITIONED fact whose layout clusters the join column
    * (range/Z-order/Hilbert writes).
    *
    * Two pruning modes, both sound because a skipped file provably
    * holds no joinable row:
    *  1. RANGE: one (min, max, approx-distinct) aggregate over the dim
    *     keys — always bounded (one row to the driver, any dim size) —
    *     and each indexed file whose [min, max] misses [lo, hi] skips.
    *  2. EXACT-KEY (gap pruning), while the approximate distinct-key
    *     count stays within `maxExactKeys`: the sorted distinct keys
    *     come to the driver and each indexed file is kept only if SOME
    *     key lands inside its [min, max] — a binary search per file,
    *     O(|files|·log|keys|) driver work on metadata only. This skips
    *     the files BETWEEN key islands a single envelope must keep.
    * Past the cap (a high-NDV dim) mode 1 alone applies, so the collect
    * stays bounded by construction. Unindexed files are never in the
    * set (stats freshness is a safety property), and NULL keys are
    * dropped — an equi-join never matches them.
    *
    * Decisions are per-file against the column's IMMUTABLE sidecar
    * bounds (txn data files are never rewritten in place — a rewrite
    * commits new names), so the set is sound to subtract from ANY
    * pinned file list over this table, current snapshot or not. Returns
    * None when the dim carries NO non-null key at all (every fact row
    * is provably unjoinable). `dimKeys` is the single key column; it is
    * persisted for the two passes run over it. `factDt` is the fact
    * column's type, which must pass [[dfpTypesOk]] against the keys'. */
  private[graft] def dfpSkipSet(spark: SparkSession, table: String,
                                column: String, factDt: DataType,
                                dimKeys: DataFrame,
                                maxExactKeys: Long): Option[Set[String]] = {
    require(dimKeys.columns.length == 1,
      s"dfpSkipSet wants the single join-key column, got ${dimKeys.columns.length}")
    val dimDt = dimKeys.schema.head.dataType
    require(dfpTypesOk(factDt, dimDt),
      s"dfp key type $dimDt does not equal fact column type $factDt " +
        "(and they are not both integral) — the join's comparison type " +
        "may differ from the cast, which can unsoundly skip files")
    val keyDt: DataType = if (dimDt == factDt) factDt else LongType
    // sidecar min/max collect in the FACT type; lift them to the key
    // comparison type (exact for integral widening)
    val liftBound: AnyRef => AnyRef =
      if (keyDt == factDt) identity
      else v => java.lang.Long.valueOf(v.asInstanceOf[Number].longValue())
    val keyed = dimKeys
      .select(col(dimKeys.columns.head).cast(keyDt).as("k")).na.drop()
      .persist()
    try {
      // the gate measures DISTINCT keys (approximate, one pass): a
      // 10M-row dim with 50 distinct keys is exactly the filtered-dim
      // star shape this feature targets and must not lose gap pruning
      // to a row-count gate. The gate is a resource guard, not a
      // correctness line — HLL's ±2% just moves the cutoff slightly.
      val agg = keyed
        .agg(min(col("k")).as("lo"), max(col("k")).as("hi"),
          approx_count_distinct(col("k")).as("n")).head()
      if (agg.isNullAt(0)) return None // no joinable key
      val (lo, hi, n) = (agg.get(0), agg.get(1), agg.getLong(2))
      val stats = statsFrame(spark, table, column)
        .getOrElse(return Some(Set.empty)) // unindexed: keep all
      if (n > maxExactKeys) {
        // range regime: skip = indexed files whose [min, max] provably
        // misses [lo, hi] (NULL bounds = all-null file, never joins)
        val rows = stats
          .select(col("file"),
            (col("min") <= lit(hi) && col("max") >= lit(lo)).as("overlap"))
          .collect()
        return Some(rows.filter(r => r.isNullAt(1) || !r.getBoolean(1))
          .map(_.getString(0)).toSet)
      }
      // exact-key regime: sorted distinct keys, binary search per file.
      // Both sides collect from the SAME Spark type; comparisons run
      // under dfpOrdering — the driver-side replica of SPARK's ordering
      // for that type (for strings, unsigned UTF-8 bytes, NOT Java's
      // UTF-16 compareTo: they diverge above the BMP, and a mismatched
      // order here would unsoundly SKIP a file holding a joinable row).
      val cmp = dfpOrdering(keyDt)
      val keys: Array[AnyRef] = keyed.distinct().collect()
        .map(_.get(0).asInstanceOf[AnyRef])
      java.util.Arrays.sort(keys, cmp)
      def someKeyIn(mn: AnyRef, mx: AnyRef): Boolean = {
        // lower bound: first key >= mn
        var loI = 0; var hiI = keys.length
        while (loI < hiI) {
          val mid = (loI + hiI) >>> 1
          if (cmp.compare(keys(mid), mn) < 0) loI = mid + 1
          else hiI = mid
        }
        loI < keys.length && cmp.compare(keys(loI), mx) <= 0
      }
      val rows = stats.select("file", "min", "max").collect()
      // skip = indexed && NOT hit (all-NULL-bounds files never join)
      Some(rows.filter(r => r.isNullAt(1) ||
          !someKeyIn(liftBound(r.get(1).asInstanceOf[AnyRef]),
            liftBound(r.get(2).asInstanceOf[AnyRef])))
        .map(_.getString(0)).toSet)
    } finally keyed.unpersist()
  }

  /** The key/fact type pairs [[dfpSkipSet]] prunes soundly: identical
    * types, or both integral, where both sides WIDEN to LongType
    * (exact, matching the join's own promotion). Any other pair is
    * refused: silently casting dim keys to the fact type is UNSOUND
    * when the join coerces both sides to a different common type (a
    * string fact column compared against numeric keys compares
    * numerically, so fact '07' matches key 7; cast-to-string pruning
    * would skip its file). */
  private[graft] def dfpTypesOk(factDt: DataType, keyDt: DataType): Boolean = {
    def integral(t: DataType): Boolean = t match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    factDt == keyDt || (integral(factDt) && integral(keyDt))
  }

  /** Per-file [min, max] rows of `column`'s stats sidecar (empty when
    * the column is not indexed) — metadata only, the inputs
    * [[graft.sources.TxnLayout.boundsStaleness]] folds. */
  def fileBounds(spark: SparkSession, table: String,
                 column: String): Seq[(String, AnyRef, AnyRef)] =
    statsFrame(spark, table, column).fold(
      Seq.empty[(String, AnyRef, AnyRef)])(
      _.select("file", "min", "max").collect()
        .map(r => (r.getString(0), r.get(1).asInstanceOf[AnyRef],
          r.get(2).asInstanceOf[AnyRef])).toSeq)

  /** The columns carrying a min-max stats sidecar — the set a
    * maintenance rewrite must re-freshen so its new files prune (a
    * stale index is safe but unpruned: unindexed live files are always
    * read). `ndv` holds the sketch sidecars, not a column. */
  def indexedColumns(table: String): Seq[String] =
    Option(new File(table, "_graft_stats").listFiles())
      .getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName != "ndv")
      .map(_.getName).sorted.toSeq

  /** Driver-side replica of Spark's ordering for the external
    * representations a collect() of `dt` yields. Every type here is
    * Comparable with itself in the SAME order Spark sorts it — except
    * STRING: UTF8String compares unsigned UTF-8 bytes while Java's
    * String.compareTo compares UTF-16 code units, and the two disagree
    * above the BMP (a supplementary character sorts above U+FFFF in
    * byte order, below it in code-unit order). */
  private def dfpOrdering(dt: DataType): java.util.Comparator[AnyRef] =
    dt match {
      case StringType => (a: AnyRef, b: AnyRef) => {
        val x = a.asInstanceOf[String]
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val y = b.asInstanceOf[String]
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var i = 0
        val m = math.min(x.length, y.length)
        var r = 0
        while (r == 0 && i < m) {
          r = (x(i) & 0xFF) - (y(i) & 0xFF)
          i += 1
        }
        if (r != 0) r else x.length - y.length
      }
      case _ => (a: AnyRef, b: AnyRef) =>
        a.asInstanceOf[Comparable[AnyRef]].compareTo(b)
    }
}
