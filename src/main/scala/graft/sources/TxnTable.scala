package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.Trace

/** Versioned parquet table behind a transaction log — the Delta/Iceberg
  * pattern in its minimal honest form (engine-added, builder brief). The
  * reference overwrites its warehouse tables in place (pipeline.py's
  * to_sql(if_exists=...)); at 100 TB a table needs atomic commits, readers
  * that never see half a write, snapshot isolation, and time travel — all
  * of which fall out of ONE idea: data files are immutable, and the only
  * mutable thing is an append-only log of {added, removed} file lists.
  *
  * Layout:
  * {{{
  *   table/
  *     data/v00001/part-*.parquet     -- one immutable dir per commit
  *     _graft_log/v00001.json         -- {"version":1,"added":[...],"removed":[...]}
  * }}}
  *
  * Commit protocol: write the data dir first, then publish the log entry
  * with [[AtomicFile.putIfAbsent]]. A crash before the link leaves invisible
  * orphan data (vacuum's job), never a torn table. Readers list the log
  * (|commits| entries — metadata, not data), replay add/remove driver-side,
  * and hand Spark the exact file list: an old reader mid-scan keeps its
  * snapshot because nothing it references is ever rewritten.
  */
object TxnTable {

  private[sources] def logDir(table: String) = new File(table, "_graft_log")

  private[sources] def versionOf(f: File): Int =
    f.getName.stripPrefix("v").stripSuffix(".json").toInt

  private[sources] def logFiles(table: String): Seq[File] =
    Option(logDir(table).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.matches("v\\d{5}\\.json"))
      .sortBy(versionOf).toSeq

  /** Latest committed version, 0 if the table is empty/unborn. */
  def currentVersion(table: String): Int =
    logFiles(table).lastOption.map(versionOf).getOrElse(0)

  private def relDataFiles(table: String, dataDir: File,
                           cls: String = "data"): Seq[String] =
    Option(dataDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map(f => s"$cls/${dataDir.getName}/${f.getName}")
      .sorted.toSeq

  /** The live set split into (data files, deletion-vector files).
    * Classification is STRUCTURAL — the `dv/` path prefix — so it
    * survives restore, checkpointing, and any other zero-copy
    * re-listing of existing files. */
  def liveSplit(table: String, asOf: Option[Int] = None): (Seq[String], Seq[String]) = {
    val s = snapshot(table, asOf)
    (s.data, s.dv)
  }

  /** Ascend from a directory to the nearest enclosing txn-table root
    * (the dir owning a `_graft_log`), if any — the ONE definition of
    * "this path reads txn-table files", shared by the result cache's
    * snapshot resolution, the advisors' base classification and the
    * auto-DFP rule. Never memoized: a table born under a plain dir, by
    * this process or another, resolves on the next call. */
  def tableRootOf(f: File): Option[File] =
    Option(f).flatMap { dir =>
      if (new File(dir, "_graft_log").isDirectory) Some(dir)
      else tableRootOf(dir.getParentFile)
    }

  /** Parquet footer row count — metadata IO only (footer bytes), no
    * row-group reads; served from the shared immutable-footer cache. */
  private[graft] def footerRowCount(f: File): Long = {
    import scala.jdk.CollectionConverters._
    TxnStats.footerOf(f).getBlocks.asScala.map(_.getRowCount).sum
  }

  // named OUTSIDE the v*.json namespace: the commit-watch streams glob
  // the log dir for entries (`_graft_log/v*.json`), and a sidecar
  // matching that glob would feed them schema-less rows
  private def statsFile(table: String, version: Int) =
    new File(logDir(table), f"stats_v$version%05d.json")

  /** COMMIT-TIME per-file statistics sidecar: each published version
    * records its added files' parquet-footer row counts beside the log
    * entry (`stats_vNNNNN.json`). Best-effort and ADVISORY — a crash
    * between the commit link and the sidecar write, or a pre-stats
    * table, just means [[snapshotRowCount]] falls back to reading the
    * footers; the files themselves remain the truth. Cost at commit is
    * O(added files) local footer reads of bytes just written. */
  private def writeStats(table: String, version: Int,
                         added: Seq[String]): Unit =
    try {
      // metadata-only RE-LISTS (lineage compaction, restore, clone)
      // "add" files earlier commits already measured — recording them
      // again would turn an O(1)-intent commit into a footer sweep of
      // the whole live set; only genuinely new files are read
      val known = recordedRowCounts(table)
      val fresh = added.filterNot(known.contains)
      if (fresh.nonEmpty) {
        val body = fresh.map { rel =>
          s""""$rel":${footerRowCount(new File(table, rel))}"""
        }.mkString("{", ",", "}")
        AtomicFile.replace(statsFile(table, version),
          s"""{"rows":$body}""".getBytes(StandardCharsets.UTF_8))
      }
    } catch { case _: Exception => () } // advisory; footers stay the truth

  /** Every row count the log's stats sidecars recorded, file → rows.
    * Files are immutable, so re-listings (lineage compaction, restore)
    * can only repeat identical values; later entries never change
    * earlier files. Pure log-dir IO — O(versions) small JSON reads. */
  private def recordedRowCounts(table: String): Map[String, Long] = {
    val re = """"((?:[^"\\]|\\.)*)"\s*:\s*(\d+)""".r
    logFiles(table).flatMap { f =>
      val sf = statsFile(table, versionOf(f))
      if (!sf.isFile) Nil
      else re.findAllMatchIn(
          new String(Files.readAllBytes(sf.toPath), StandardCharsets.UTF_8))
        .map(m => m.group(1) -> m.group(2).toLong).toSeq
    }.toMap
  }

  /** Each file's row count: the commit-time sidecar's where recorded,
    * the parquet footer's for the rest — driver-side metadata IO
    * either way, never a data scan. */
  private[sources] def fileRowCounts(table: String,
                                     files: Seq[String]): Map[String, Long] = {
    val recorded = recordedRowCounts(table)
    files.map(f => f -> recorded.getOrElse(f, footerRowCount(new File(table, f))))
      .toMap
  }

  /** Rows of a live set, minus deletion-vector rows (one DV row per
    * deleted address; stacked vectors are built against the DV-applied
    * snapshot, so they never overlap). */
  private[sources] def netRows(counts: Map[String, Long]): Long =
    counts.iterator.map { case (f, n) => if (f.startsWith("dv/")) -n else n }.sum

  /** A snapshot's live DATA files with their row counts. The per-file
    * health input a compaction advisor reads WITHOUT scanning
    * ([[graft.plans.LayoutAdvisor.compactionAdviceTxn]]). */
  def liveFileRowCounts(table: String,
                        asOf: Option[Int] = None): Seq[(String, Long)] = {
    val s = snapshot(table, asOf)
    s.data.map(f => f -> s.rowCounts(f))
  }

  /** Total rows of a snapshot, deletion vectors applied: the row count
    * a 100 TB advisor prices with. A real catalog would hold these as
    * table statistics; here the log + immutable files ARE the
    * statistics store. */
  def snapshotRowCount(table: String, asOf: Option[Int] = None): Long =
    snapshot(table, asOf).rows

  private def jsonArr(paths: Seq[String]): String =
    paths.map(p => "\"" + p + "\"").mkString("[", ",", "]")

  /** Log-entry parse count — test instrumentation for the version
    * index's complexity guarantees (see [[resolveVersion]]); the specs
    * assert a deep-pin resolution costs one pass, not one per version. */
  private[sources] val logEntryParses =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Parse one log entry without a JSON library: paths are part-file names
    * we wrote ourselves (no quotes/escapes), so a quoted-string scan is
    * exact. Kept dependency-free on purpose — the log format is the
    * contract here, not the parser. */
  private[sources] def parseEntry(f: File): (Seq[String], Seq[String]) = {
    logEntryParses.incrementAndGet()
    val s = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
    def arr(key: String): Seq[String] = {
      val i = s.indexOf("\"" + key + "\":[")
      require(i >= 0, s"malformed log entry ${f.getName}: missing $key")
      val body = s.substring(s.indexOf('[', i) + 1, s.indexOf(']', i))
      "\"([^\"]*)\"".r.findAllMatchIn(body).map(_.group(1)).toSeq
    }
    (arr("added"), arr("removed"))
  }

  /** The writer tag published with `version`, if any — the conflict-
    * adjudication read for [[commit]]'s `tag`. None if the version does
    * not exist or carries no tag. */
  def commitTag(table: String, version: Int): Option[String] = {
    val f = new File(logDir(table), f"v$version%05d.json")
    if (!f.isFile) None
    else {
      val s = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      "\"tag\":\"([^\"]*)\"".r.findFirstMatchIn(s).map(_.group(1))
    }
  }

  /** Incrementally-maintained tag index: the writer tags published in
    * versions (floor, scanned] of `table`'s log, plus the digest of the
    * last-scanned entry so a table deleted and recreated at the same
    * path (version numbers are not identity) is detected and the index
    * rebuilt. `floor` bounds DRIVER MEMORY: a long-lived stream commits
    * one uniquely-tagged version per micro-batch, and an uncapped set
    * would grow with the entire log's lifetime — once the window
    * exceeds [[MaxTagWindow]] versions the oldest are dropped and a
    * set miss falls back to scanning versions ≤ floor (the rare path:
    * replayed tags are overwhelmingly recent). */
  private final case class TagIndex(scanned: Int, floor: Int,
                                    scannedDigest: String,
                                    tags: Set[String])

  /** Versions of tag history kept in memory per table (~tens of MB at
    * worst-case tag sizes); beyond it, older tags resolve by log scan. */
  private val MaxTagWindow = 100000

  /** Has any committed version of `table` published `tag`? The replay-
    * adjudication read for enforce-at-ingest: the common case is a
    * FRESH tag (every new micro-batch), which a plain reverse scan
    * proves absent only after reading EVERY log entry — O(versions²)
    * driver IO over a long-lived stream's lifetime. This index scans
    * each log entry once per JVM (O(new versions) per head bump,
    * O(1) per lookup), kept in [[MetaStore]] per canonical root and
    * replaced as it is extended — an evicted table pays one fresh log
    * sweep on its next lookup. A digest mismatch on the last-scanned entry
    * (table recreated at the same path) rebuilds from scratch, so a
    * stale index can never claim a tag the current log doesn't hold —
    * the failure mode that would silently drop a batch. */
  def tagLanded(table: String, tag: String): Boolean = {
    val cur = currentVersion(table)
    if (cur == 0) return false
    val key = new File(table).getCanonicalPath
    def digestOk(c: TagIndex) = c.scanned == 0 || {
      val f = new File(logDir(table), f"v${c.scanned}%05d.json")
      f.isFile && entryDigest(f) == c.scannedDigest
    }
    val base = MetaStore.get[TagIndex]("meta.tagIndex", key)
      .filter(c => c.scanned <= cur && digestOk(c))
    val idx =
      if (base.exists(c => cur - c.floor > MaxTagWindow)) {
        // window overflow: rebuild from only the newest MaxTagWindow
        // versions — amortized O(1) per head bump, bounded memory
        val floor = cur - MaxTagWindow
        TagIndex(cur, floor,
          entryDigest(new File(logDir(table), f"v$cur%05d.json")),
          ((floor + 1) to cur).flatMap(v => commitTag(table, v)).toSet)
      } else {
        val from = base.map(_.scanned).getOrElse(math.max(0, cur - MaxTagWindow))
        val floor = base.map(_.floor).getOrElse(math.max(0, cur - MaxTagWindow))
        val tags = base.map(_.tags).getOrElse(Set.empty[String]) ++
          ((from + 1) to cur).flatMap(v => commitTag(table, v))
        TagIndex(cur, floor,
          entryDigest(new File(logDir(table), f"v$cur%05d.json")), tags)
      }
    MetaStore.put("meta.tagIndex", key, idx, idx.tags.size.toLong)
    idx.tags.contains(tag) ||
      // below-window history: the rare path (a replayed tag is almost
      // always recent); proves absence exactly, never from the index
      (idx.floor > 0 && (idx.floor to 1 by -1)
        .exists(v => commitTag(table, v).contains(tag)))
  }

  private def checkpointFiles(table: String): Seq[File] =
    Option(logDir(table).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.matches("c\\d{5}\\.json"))
      .sortBy(f => f.getName.stripPrefix("c").stripSuffix(".json").toInt)
      .toSeq

  private def checkpointVersion(f: File): Int =
    f.getName.stripPrefix("c").stripSuffix(".json").toInt

  /** Write a CHECKPOINT of the current snapshot's live-file set — the
    * Delta `_last_checkpoint` idea: log replay is driver-side
    * O(|commits|), which is fine for days and wrong for years; a
    * checkpoint caps the replay at O(commits since last checkpoint).
    * Time travel is unaffected (per-version log entries stay; a read
    * older than the newest checkpoint just starts from an older one or
    * from zero). Published with the same put-if-absent link as commits —
    * checkpointing the same version twice is a benign no-op. Returns
    * the checkpointed version. */
  def checkpoint(table: String): Int = {
    val v = currentVersion(table)
    require(v >= 1, s"nothing to checkpoint in $table")
    val live = liveFiles(table, Some(v))
    val entry = s"""{"version":$v,"added":${jsonArr(live)},"removed":[]}"""
    AtomicFile.putIfAbsent(new File(logDir(table), f"c$v%05d.json"),
      entry.getBytes(StandardCharsets.UTF_8))
    v
  }

  /** The live file list of the snapshot as of `asOf` (inclusive; latest
    * when None), in log order. */
  def liveFiles(table: String, asOf: Option[Int] = None): Seq[String] =
    snapshot(table, asOf).files

  /** One committed version's resolved metadata: its live files in log
    * order, split into data and deletion-vector files, and, computed on
    * first use, each live file's row count. */
  private[sources] final class Snapshot(table: String, val files: Seq[String]) {
    lazy val (data, dv) = files.partition(!_.startsWith("dv/"))
    lazy val rowCounts: Map[String, Long] = fileRowCounts(table, files)
    lazy val rows: Long = netRows(rowCounts)
  }

  /** The snapshot of `table` as of `asOf` (latest when None), memoized
    * in [[MetaStore]] on (canonical root, version, digest of that
    * version's log entry) — the identity [[resolveVersion]] already
    * trusts. A commit by any process lists as a new version, and a
    * table recreated at the same path publishes entries naming fresh
    * UUID-stamped files, so its digest differs. A lookup costs one
    * listing of the log dir and one read of one entry; a miss replays
    * the log once. */
  private[sources] def snapshot(table: String,
                                asOf: Option[Int] = None): Snapshot =
    logFiles(table).takeWhile(f => asOf.forall(versionOf(f) <= _))
      .lastOption.fold(new Snapshot(table, Seq.empty)) { f =>
        val v = versionOf(f)
        MetaStore.memo[Snapshot]("meta.snapshot",
            (new File(table).getCanonicalPath, v, entryDigest(f)))(
          _.files.size.toLong)(new Snapshot(table, replay(table, v)))
      }

  /** Replay the log through `version` (inclusive), starting from the
    * newest checkpoint ≤ `version` (the full set at that version) and
    * replaying only the commits after it — O(commits since
    * checkpoint), never data. */
  private def replay(table: String, version: Int): Seq[String] = {
    val base = checkpointFiles(table)
      .filter(checkpointVersion(_) <= version).lastOption
    val baseVersion = base.map(checkpointVersion).getOrElse(0)
    // a checkpoint removes nothing, so it folds as the first entry
    replayLog(base.toSeq ++ logFiles(table)
      .filter(f => versionOf(f) > baseVersion && versionOf(f) <= version))
  }

  /** The live set `entries` compose, folded in order: each entry's
    * removals leave, then its additions join, keeping log order. */
  private[sources] def replayLog(entries: Seq[File]): Seq[String] = {
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    entries.foreach { f =>
      val (added, removed) = parseEntry(f)
      live --= removed
      live ++= added
    }
    live.toSeq
  }

  // ───────────────────────── version-set index ─────────────────────────

  /** Incrementally-maintained per-JVM index over one table's log:
    * 128-bit XOR set-hash of each version's live-file set → the NEWEST
    * version with that set. `live`/`xl`/`xh` carry the running state at
    * `head` so a head bump extends in O(new entries); `headDigest`
    * fingerprints the head log entry so a table deleted and recreated
    * at the same path (same version numbers, different content — version
    * numbers are not identity) is detected and the index rebuilt. */
  private final case class SetIndex(head: Int, headDigest: String,
                                    live: Set[String], xl: Long, xh: Long,
                                    byKey: Map[(Long, Long, Int), Int])

  /** First 128 bits of MD5 — per-path mixing for the XOR set-hash.
    * XOR makes the set hash incrementally maintainable: add/remove a
    * file = one XOR, independent of set size or order. */
  private def pathHash128(p: String): (Long, Long) = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(p.getBytes(StandardCharsets.UTF_8))
    val bb = java.nio.ByteBuffer.wrap(d)
    (bb.getLong, bb.getLong)
  }

  private def entryDigest(f: File): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(Files.readAllBytes(f.toPath))
      .map("%02x".format(_)).mkString

  private def extendIndex(table: String, prev: Option[SetIndex],
                          head: Int): SetIndex = {
    var live = prev.map(_.live).getOrElse(Set.empty[String])
    var xl = prev.map(_.xl).getOrElse(0L)
    var xh = prev.map(_.xh).getOrElse(0L)
    var byKey = prev.map(_.byKey).getOrElse(Map.empty[(Long, Long, Int), Int])
    val from = prev.map(_.head).getOrElse(0)
    logFiles(table)
      .filter(f => versionOf(f) > from && versionOf(f) <= head)
      .foreach { f =>
        val (added, removed) = parseEntry(f)
        removed.foreach { r =>
          if (live(r)) {
            live -= r; val (a, b) = pathHash128(r); xl ^= a; xh ^= b
          }
        }
        added.foreach { a =>
          if (!live(a)) {
            live += a; val (l, h) = pathHash128(a); xl ^= l; xh ^= h
          }
        }
        byKey += ((xl, xh, live.size) -> versionOf(f))
      }
    SetIndex(head, entryDigest(new File(logDir(table), f"v$head%05d.json")),
      live, xl, xh, byKey)
  }

  /** Which committed version's live-file set equals `files`
    * (table-relative paths, as the log records them)? The NEWEST such
    * version when several tie (a restore re-publishes an old set) —
    * the same answer a newest-first [[liveFiles]] probe would give, at
    * a different cost: the probe replays the log once PER candidate
    * version (O(versions × entries) driver IO for a deep `asOf` pin —
    * the [[graft.plans.ResultCache]] lookup cost on a long-lived
    * table), while this resolves any pin from the one-pass index:
    * O(total log entries) once per JVM per table, O(new entries) per
    * head bump, O(1) per lookup, plus ONE verification replay of the
    * candidate version. The verification keeps correctness structural —
    * a (2⁻¹²⁸-improbable) set-hash collision yields a miss, never a
    * wrong version. Returns None when no version matches (foreign
    * files, a DV-bearing snapshot's marker view, a mid-race head). */
  def resolveVersion(table: String, files: Set[String]): Option[Int] = {
    if (currentVersion(table) == 0) return None
    // kept in MetaStore per canonical root and replaced as it extends:
    // a long-lived driver resolving pins across MANY tables (the
    // result-cache deployment) must not retain every table's full
    // live-file set forever — an evicted table merely pays one fresh log
    // replay on its next lookup, never a wrong answer
    val key = new File(table).getCanonicalPath
    val head = currentVersion(table)
    def digestOk(c: SetIndex) = {
      val f = new File(logDir(table), f"v${c.head}%05d.json")
      f.isFile && entryDigest(f) == c.headDigest
    }
    val idx = MetaStore.get[SetIndex]("meta.setIndex", key) match {
      case Some(c) if c.head == head && digestOk(c) => c
      case Some(c) if c.head < head && digestOk(c) =>
        extendIndex(table, Some(c), head)
      case _ => extendIndex(table, None, head) // cold or recreated table
    }
    MetaStore.put("meta.setIndex", key, idx,
      (idx.live.size + idx.byKey.size).toLong)
    var xl = 0L; var xh = 0L
    files.foreach { p => val (a, b) = pathHash128(p); xl ^= a; xh ^= b }
    idx.byKey.get((xl, xh, files.size))
      .filter(v => liveFiles(table, Some(v)).toSet == files)
  }

  /** Commit `df` as the next version. `overwrite = true` logically removes
    * every currently-live file (their bytes stay for time travel);
    * `overwrite = false` is a pure append. Returns the committed version.
    *
    * Optimistic concurrency: pass `expectedVersion` to pin the version
    * this writer computed its snapshot against + 1; if another writer
    * published it first, the publish rename refuses the existing target
    * and the commit fails with `ConcurrentModificationException` instead
    * of clobbering the winner — re-read and retry, the standard
    * lakehouse loop. Without it the next free version is taken.
    *
    * `tag` stamps a writer-supplied identity into the log entry (e.g. a
    * streaming batch id). On a version conflict the loser can then ask
    * [[commitTag]] whether the published version IS its own earlier
    * attempt (retry ⇒ benign no-op) or a foreign writer's commit
    * (⇒ data loss if silently swallowed). */
  def commit(spark: SparkSession, df: DataFrame, table: String,
             overwrite: Boolean, expectedVersion: Option[Int] = None,
             tag: Option[String] = None): Int = Trace.span("sources.commit") {
    val version = expectedVersion.getOrElse(currentVersion(table) + 1)
    require(version >= 1, s"expectedVersion must be >= 1, got $version")
    val removed = if (overwrite) liveFiles(table, Some(version - 1)) else Seq.empty
    commitWithRemovals(spark, df, table, version, removed, tag)
  }

  /** The standard lakehouse OCC RETRY loop around [[commit]]: re-read
    * the head and re-stage on every `ConcurrentModificationException`,
    * up to `maxAttempts`. Each attempt recomputes its removal list
    * against the fresh head, so an overwrite never clobbers a racer's
    * rows; the data written by a losing attempt stays an ordinary
    * vacuum orphan. Use for writers that may genuinely race (parallel
    * ingest jobs); single-writer pipelines can call [[commit]] direct. */
  def commitWithRetry(spark: SparkSession, df: DataFrame, table: String,
                      overwrite: Boolean, maxAttempts: Int = 3,
                      tag: Option[String] = None): Int = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    var attempt = 0
    while (true) {
      attempt += 1
      try {
        return commit(spark, df, table, overwrite,
          expectedVersion = Some(currentVersion(table) + 1), tag = tag)
      } catch {
        case e: java.util.ConcurrentModificationException =>
          if (attempt >= maxAttempts) throw e
      }
    }
    -1 // unreachable
  }

  /** Commit `df` while logically removing exactly `removedFiles`
    * (table-relative paths, a subset of the current live set) — the
    * FILE-LEVEL rewrite primitive: MERGE rewrites only the files that
    * contain a matched key and leaves the rest of a 100 TB table
    * untouched; plain `overwrite` can only swap everything. */
  def commitRewrite(spark: SparkSession, df: DataFrame, table: String,
                    removedFiles: Seq[String],
                    expectedVersion: Option[Int] = None,
                    tag: Option[String] = None): Int = Trace.span("sources.commit") {
    val version = expectedVersion.getOrElse(currentVersion(table) + 1)
    require(version >= 1, s"expectedVersion must be >= 1, got $version")
    val live = liveFiles(table, Some(version - 1)).toSet
    val unknown = removedFiles.filterNot(live.contains)
    require(unknown.isEmpty,
      s"cannot remove files that are not live in $table at v${version - 1}: " +
        unknown.take(3).mkString(", "))
    commitWithRemovals(spark, df, table, version, removedFiles, tag)
  }

  /** Publish a REWRITE whose data files were already written under the
    * table root — the multi-writer-job sibling of [[commitRewrite]],
    * for rewrites that need MORE THAN ONE write job to control file
    * boundaries (the per-gap segmented recluster: a single unioned
    * write lets the engine merge output partitions across segments).
    * Same guarantees: added files must exist, removed must be live at
    * the expected version, the publish is the atomic commit point, and
    * a loser's pre-written dirs are ordinary vacuum orphans. */
  private[sources] def publishRewrite(table: String, added: Seq[String],
                                      removed: Seq[String],
                                      expectedVersion: Option[Int] = None): Int = {
    val version = expectedVersion.getOrElse(currentVersion(table) + 1)
    require(version >= 1, s"expectedVersion must be >= 1, got $version")
    added.foreach(p => require(new File(table, p).isFile,
      s"rewrite commit references a missing file: $table/$p"))
    val live = liveFiles(table, Some(version - 1)).toSet
    val unknown = removed.filterNot(live.contains)
    require(unknown.isEmpty,
      s"cannot remove files that are not live in $table at v${version - 1}: " +
        unknown.take(3).mkString(", "))
    publish(table, version, added, removed, None)
  }

  private def commitWithRemovals(spark: SparkSession, df: DataFrame,
                                 table: String, version: Int,
                                 removed: Seq[String],
                                 tag: Option[String]): Int = {
    val added = writeData(df, table, version)
    publish(table, version, added, removed, tag)
  }

  /** Write the attempt's immutable data dir; returns the added
    * table-relative files. NOT yet visible — [[publish]] is the commit
    * point; an unpublished dir is a vacuum orphan. */
  private def writeData(df: DataFrame, table: String,
                        version: Int): Seq[String] = {
    // unique data dir per ATTEMPT: racing writers never collide on data,
    // only on the log rename — the loser's dir becomes a vacuum orphan
    val dataPath = new File(table,
      f"data/v$version%05d-" + java.util.UUID.randomUUID.toString.take(8))
    df.write.mode(SaveMode.ErrorIfExists).parquet(dataPath.getPath)
    relDataFiles(table, dataPath)
  }

  private def publish(table: String, version: Int, added: Seq[String],
                      removed: Seq[String], tag: Option[String]): Int = {
    tag.foreach(t => require(t.matches("[A-Za-z0-9._-]+"),
      s"tag must be [A-Za-z0-9._-]+ (the log parser is quote-scan exact): '$t'"))
    val tagField = tag.map(t => s""","tag":"$t"""").getOrElse("")
    val entry = s"""{"version":$version,"added":${jsonArr(added)},"removed":${jsonArr(removed)}$tagField}"""
    logDir(table).mkdirs()
    // publish: the atomic put-if-absent is the commit point. The loser
    // of a race throws; its data dir stays orphaned for vacuum.
    if (!AtomicFile.putIfAbsent(new File(logDir(table), f"v$version%05d.json"),
        entry.getBytes(StandardCharsets.UTF_8)))
      throw new java.util.ConcurrentModificationException(
        s"commit conflict: version $version of $table was published by another writer")
    // the commit is durable; record the added files' row counts beside
    // it so later pricing/advice is a log read, not a footer sweep
    writeStats(table, version, added)
    version
  }

  /** Publish a METADATA-ONLY commit whose `added` list is exactly `files`
    * (table-relative paths that must already exist on disk) — no data is
    * written or moved. The primitive behind [[TxnCatalog.compactLineage]]:
    * one log entry that re-lists a snapshot's live set so a reader can
    * replay THAT VERSION ALONE and see the full snapshot. Distinct from
    * [[checkpoint]] (a cache for full-log replay, not a version): this IS
    * a version, addressable from a catalog entry's lineage. */
  private[sources] def publishFileList(table: String, files: Seq[String],
                                       tag: Option[String] = None,
                                       expectedVersion: Option[Int] = None): Int = {
    require(files.nonEmpty, s"refusing to publish an empty file list for $table")
    files.foreach(p => require(new File(table, p).isFile,
      s"file-list commit references a missing file: $table/$p"))
    val version = expectedVersion.getOrElse(currentVersion(table) + 1)
    require(version >= 1, s"expectedVersion must be >= 1, got $version")
    publish(table, version, files, Seq.empty, tag)
  }

  /** OPTIMIZE — compact the current snapshot into `numFiles` without
    * changing a row: one [[commitRewrite]] that removes every live file
    * and adds the coalesced rewrite, atomically. The small-file problem
    * is the lakehouse tax of streaming ingest (every micro-batch commit
    * is a file); this is the cure that keeps ACID: readers mid-scan keep
    * their snapshot (bytes die only at vacuum), time travel still sees
    * every pre-optimize version, and the CHANGE FEED across an optimize
    * version cancels to EMPTY — the payload-hash survivor suppression
    * proving the rewrite moved layout, not data. */
  def optimize(spark: SparkSession, table: String, numFiles: Int,
               expectedVersion: Option[Int] = None): Int = Trace.span("sources.optimize") {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val live = liveFiles(table, None)
    require(live.nonEmpty, s"nothing to optimize in $table")
    commitRewrite(spark, read(spark, table).coalesce(numFiles), table,
      live, expectedVersion)
  }

  /** INCREMENTAL compaction — [[optimize]] scoped to the SMALL files
    * only: live files under `smallBytes` coalesce into `numFiles`;
    * every file already at a healthy size is untouched (not rewritten,
    * not even read). This is the steady-state lifecycle for streaming
    * sinks — one small file lands per micro-batch, and periodic
    * small-only compaction keeps the file count bounded WITHOUT the
    * O(table) rewrite a full optimize pays. No-op (returns current
    * version, commits nothing) when fewer than two small files exist. */
  def compactSmall(spark: SparkSession, table: String, smallBytes: Long,
                   numFiles: Int = 1,
                   expectedVersion: Option[Int] = None): Int = Trace.span("sources.optimize") {
    require(numFiles >= 1 && smallBytes > 0, "bad compaction parameters")
    requireNoDv(table, "small-file compaction")
    val small = liveFiles(table, None)
      .filter(f => new File(table, f).length() < smallBytes)
    if (small.size < 2) return currentVersion(table)
    val df = SchemaCache.read(spark,
      small.map(f => new File(table, f).getPath))
    commitRewrite(spark, df.coalesce(numFiles), table, small, expectedVersion)
  }

  /** RESTORE — roll the table back to `toVersion` as a NEW commit, with
    * ZERO data movement: the entry removes the current live set and
    * re-adds `toVersion`'s files (replay order is remove-then-add, so
    * files live in both snapshots survive the round trip). History is
    * append-only — the bad versions stay time-travelable, the restore
    * is itself a version, and vacuum keeps the restored files alive as
    * long as any retained snapshot (including the restore) references
    * them. Delta's RESTORE semantics in one log entry. */
  def restore(spark: SparkSession, table: String, toVersion: Int,
              expectedVersion: Option[Int] = None,
              tag: Option[String] = None): Int = {
    val version = expectedVersion.getOrElse(currentVersion(table) + 1)
    require(toVersion >= 1 && toVersion < version - 1,
      s"cannot restore $table to v$toVersion from v${version - 1} — the " +
        "target must be strictly before the current head")
    val target = liveFiles(table, Some(toVersion))
    require(target.nonEmpty, s"v$toVersion of $table has no live files")
    val cur = liveFiles(table, Some(version - 1))
    publish(table, version, added = target, removed = cur, tag)
  }

  /** Resolve the newest version whose log entry was PUBLISHED at or
    * before `ts` (epoch millis) — timestamp time travel, resolved from
    * the commit files' own mtimes (the publish rename sets them; they
    * are never rewritten afterwards). None if the table did not exist
    * yet at `ts`. */
  def versionAt(table: String, ts: Long): Option[Int] =
    logFiles(table).filter(_.lastModified() <= ts)
      .lastOption.map(versionOf)

  /** SHALLOW CLONE — materialize `src`'s snapshot (`asOf`, or the head)
    * as a brand-new table at `dst` with ZERO data copied: every live
    * file (deletion vectors included — their recorded row addresses are
    * table-RELATIVE, so they keep resolving inside the clone) is
    * hard-linked into the clone's identical relative layout and
    * published as the clone's v1 in one metadata entry. Delta's
    * SHALLOW CLONE semantics on a POSIX store: link(2) shares the
    * immutable bytes the way an object-store clone shares absolute
    * URIs, and O(cost) is |files| metadata operations, never data.
    *
    * Divergence is free by construction — both tables only ever ADD
    * files in their own commit dirs and remove files LOGICALLY, and
    * [[vacuum]] unlinks only its own table's directory entries, so the
    * shared inodes live until BOTH sides drop them. The clone is a
    * full first-class table: append, delete, optimize, restore and
    * time travel all work, with v1 as its genesis snapshot. Returns
    * the clone's version (always 1). */
  def cloneShallow(src: String, dst: String, asOf: Option[Int] = None): Int = {
    require(currentVersion(dst) == 0,
      s"clone target $dst already exists (v${currentVersion(dst)})")
    val files = liveFiles(src, asOf)
    require(files.nonEmpty,
      s"nothing to clone: $src${asOf.fold("")(v => s" as of v$v")} has no live files")
    files.foreach { p =>
      val to = new File(dst, p)
      to.getParentFile.mkdirs()
      if (!AtomicFile.link(new File(src, p).toPath, to.toPath))
        throw new java.nio.file.FileAlreadyExistsException(to.getPath)
    }
    // declared constraints describe the data being cloned — they travel
    // (COPIED, not linked: each side re-declares independently after)
    val constraints = new File(src, "_graft_constraints.json")
    if (constraints.isFile)
      Files.copy(constraints.toPath,
        new File(dst, "_graft_constraints.json").toPath)
    publishFileList(dst, files, tag = Some("clone"), expectedVersion = Some(1))
  }

  /** WRITE-AUDIT-PUBLISH — atomically fast-forward `main` to a `branch`'s
    * head, where `branch` was [[cloneShallow]]d from `main` (the WAP
    * pattern: stage a load on an audit branch, run the quality gates
    * there, and only a validated branch ever becomes visible to `main`'s
    * readers; an abandoned or crashed audit is invisible forever).
    *
    * The branch's genesis (v1, the clone entry) IS the fork snapshot, so
    * the net change is pure set arithmetic on file lists: added =
    * head − fork, removed = fork − head (relative paths are shared by
    * clone construction). New files hard-link into `main` first (crash
    * here = vacuum orphans), then ONE log entry publishes the whole
    * branch delta — appends, deletes, compactions, deletion vectors,
    * however many audit commits produced it. Concurrency is the commit
    * protocol's: the fork-set equality check pins the expected head, and
    * the put-if-absent publish refuses if any writer advanced `main`
    * meanwhile (re-clone and retry — a publish must never clobber rows
    * the audit never saw). Returns `main`'s new version (current one if
    * the branch never diverged). */
  def publishFrom(branch: String, main: String,
                  tag: Option[String] = None): Int = {
    require(commitTag(branch, 1).contains("clone"),
      s"$branch is not an audit branch (v1 is not a clone entry)")
    val fork = liveFiles(branch, Some(1)).toSet
    val head = liveFiles(branch, None)
    val mainV = currentVersion(main)
    require(liveFiles(main, Some(mainV)).toSet == fork,
      s"$main advanced since $branch forked — re-clone and replay the audit")
    val added = head.filterNot(fork.contains)
    val removed = fork.diff(head.toSet).toSeq.sorted
    if (added.isEmpty && removed.isEmpty) return mainV
    added.foreach { p =>
      val to = new File(main, p)
      to.getParentFile.mkdirs()
      AtomicFile.link(new File(branch, p).toPath, to.toPath)
    }
    publish(main, mainV + 1, added, removed, tag)
  }

  private def replicaFile(dst: String) = new File(dst, "_graft_replica.json")

  /** A replica or promoted marker (table or catalog) as read back: its
    * `src` path ("" when absent) and its integer fields. A missing field
    * fails as "malformed <kind> marker in <dir>: missing <k>". */
  private[sources] final class Marker(f: File, kind: String, dir: String) {
    val text = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
    val src: String = "\"src\":\"([^\"]+)\"".r.findFirstMatchIn(text)
      .map(_.group(1)).getOrElse("")
    def int(k: String): Int = s""""$k":(-?\\d+)""".r.findFirstMatchIn(text)
      .map(_.group(1).toInt).getOrElse(throw new IllegalStateException(
        s"malformed $kind marker in $dir: missing $k"))
  }

  /** CROSS-SITE REPLICATION — mirror `src` into `dst` with O(Δ) work per
    * sync, the lakehouse DR/locality story (Delta deep clone + AS OF
    * incremental re-sync, done honestly on the log):
    *
    *  - FIRST call SEEDS the replica: src's current live set (deletion
    *    vectors included — their addresses are table-relative) is
    *    physically COPIED (bytes, not links — a replica that shares
    *    inodes with its source protects against nothing) and published
    *    as dst's v1, a genesis snapshot exactly like a clone's. History
    *    BELOW the seed point intentionally collapses — replicating a
    *    table is not replaying its every dead byte.
    *  - Each LATER call ships only the log suffix: for every src version
    *    since the last sync, copy that entry's newly-added files and
    *    publish the same {added, removed} lists (and writer tag) as the
    *    next dst version. Removals always resolve: any file a
    *    post-seed entry removes was either live at the seed or added by
    *    a replayed entry, so the replica has it. Cost is O(new versions
    *    + new files) — a sync with nothing new copies nothing.
    *
    * The replica is a real table: reads, time travel back to the seed,
    * change feeds over the synced range (identical to src's, file
    * contents are byte-equal), and its OWN downstream writes all work —
    * though local writes FORK the replica (the next sync finds its slot
    * occupied by a foreign entry and refuses rather than silently
    * interleave histories). Declared constraints travel on every sync,
    * like clones. Re-running against an already-current replica is a
    * no-op; a sync interrupted anywhere resumes idempotently — the
    * marker sidecar watermarks the synced src version after each
    * publish, copies skip files already present, and a re-landed
    * publish is accepted iff its content lists match. Returns
    * (dst head version, files copied). */
  def replicate(src: String, dst: String): (Int, Int) = Trace.span("sources.replicate") {
    val srcHead = currentVersion(src)
    require(srcHead >= 1, s"nothing to replicate: $src is empty")
    val srcAbs = new File(src).getAbsolutePath
    var copied = 0
    // the liveness set the vacuum-tolerance guard judges against is the
    // snapshot this sync REPLICATES (the srcHead captured at entry), not
    // whatever the source's head is by the time a copy task runs: a
    // removal committed + vacuumed at src DURING the sync would make a
    // file the replica's published head still references look "not
    // live" under a current-head check, and the skip would publish a
    // replica head pointing at a missing file. (lazy: only a replay
    // that actually hits a missing file pays the log walk; Scala lazy
    // vals are synchronized, so the parallel copy tasks race safely.)
    lazy val srcHeadLive: Set[String] = liveFiles(src, Some(srcHead)).toSet
    def copyConstraints(): Unit = {
      val c = new File(src, "_graft_constraints.json")
      if (c.isFile)
        AtomicFile.replace(new File(dst, "_graft_constraints.json"),
          Files.readAllBytes(c.toPath))
    }
    def writeMarker(seed: Int, synced: Int, adopted: Boolean = false): Unit = {
      // PROMOTION RACE: [[promoteReplica]] moves the replica marker
      // aside while a sync is mid-flight (the marker was read at
      // entry). Writing here would RESURRECT it — the promoted primary
      // would silently become "a replica" again and its legitimate
      // local commits would start refusing as forks. The promotion
      // wins: abort without touching the marker. A version this sync
      // already published past the promoted marker's watermark is the
      // same publish-before-marker window the demote path already
      // tolerates (its slot holds the identical entry).
      require(!promotedFile(dst).isFile,
        s"$dst was promoted to primary mid-sync — the promotion wins; " +
          "aborting without resurrecting the replica marker")
      writeReplicaMarker(dst, srcAbs, seed, synced, adopted)
    }
    // seed publish is re-runnable: copies are skip-if-present, and a
    // racing/previous publish of the same v1 is accepted as done
    def seedPublish(seed: Int): Unit = {
      val live = liveFiles(src, Some(seed))
      require(live.nonEmpty, s"nothing to replicate: $src has no live files")
      // the seed is the sync's bulk-copy phase (the whole live
      // snapshot); every copy lands before the publish below. Seed files
      // are live at the seed snapshot, so a missing one fails verbatim.
      copied += ParallelCopy.copyAll(src, dst, live)(_ => ParallelCopy.FailMissing)
      copyConstraints()
      try publishFileList(dst, live, tag = Some("replica_seed"),
        expectedVersion = Some(1))
      catch { case _: java.util.ConcurrentModificationException => () }
    }
    // a PROMOTED table is a primary now — the old source must never
    // sync into it again (clear refusal here; without it the missing
    // marker would fall into the generic "not a replica" message)
    require(!promotedFile(dst).isFile,
      s"$dst was promoted to primary — the old source can no longer sync into it; " +
        "demote it under the new primary instead")
    val marker = replicaFile(dst)
    if (!marker.isFile) {
      require(currentVersion(dst) == 0,
        s"replica target $dst already exists and is not a replica of $srcAbs")
      // marker BEFORE the publish: a crash in between leaves an empty-
      // logged dst the next sync's recovery step completes
      new File(dst).mkdirs()
      writeMarker(srcHead, srcHead)
      seedPublish(srcHead)
      (1, copied)
    } else {
      val m = new Marker(marker, "replica", dst)
      require(m.src == srcAbs,
        s"$dst replicates ${m.src}, refusing to sync from $srcAbs")
      val seed = m.int("seedSrcVersion")
      val synced = m.int("syncedSrcVersion")
      // an ADOPTED replica (a demoted old primary, [[demoteToReplica]])
      // carries its own full history: v1 is its original genesis, not a
      // seed entry, and version 0 is impossible — the seed-recovery and
      // v1-tag checks below only apply to seeded replicas
      val adopted = m.text.contains("\"adopted\":true")
      if (currentVersion(dst) == 0) {
        require(!adopted, s"adopted replica $dst has an empty log — corrupt")
        seedPublish(seed) // seed-crash recovery
      } else if (!adopted)
        require(commitTag(dst, 1).contains("replica_seed"),
          // a local write landing dst v1 inside the marker→publish crash
          // window is a FORK the per-version slot check below can't see
          // (v1 is the seed's slot, never re-published): refuse here
          s"$dst v1 is not a replica seed — the replica was forked by a local write")
      ((synced + 1) to srcHead).foreach { v =>
        val entry = new File(logDir(src), f"v$v%05d.json")
        require(entry.isFile,
          s"replication gap: $src has no log entry for v$v")
        val (added, removed) = parseEntry(entry)
        // within one version the copies are order-free; the version's
        // publish (the commit point) waits for the whole batch. A
        // replayed file can be legitimately GONE at src: added then
        // removed between syncs and VACUUMED there. Skipping mirrors the
        // source's retention (the catalog replicator's contract) —
        // refusing would wedge the replica on that version forever. But
        // vacuum never removes files live at the head it ran under, so a
        // file live at the replicated snapshot (v$srcHead) yet missing is
        // real corruption: skipping it would publish a replica head that
        // references a nonexistent file.
        copied += ParallelCopy.copyAll(src, dst, added) { rel =>
          if (srcHeadLive(rel)) ParallelCopy.CorruptMissing(
            s"replication source corruption: $src/$rel is live at the " +
              s"replicated snapshot (v$srcHead) but missing on disk — " +
              "refusing to mirror a table that cannot be read")
          else ParallelCopy.SkipMissing
        }
        val dstV = 1 + (v - seed)
        try publish(dst, dstV, added, removed, commitTag(src, v))
        catch {
          case e: java.util.ConcurrentModificationException =>
            // a resumed sync re-lands on its own entry (accept); a LOCAL
            // dst write occupying the slot is a forked replica (refuse)
            val have = parseEntry(new File(logDir(dst), f"v$dstV%05d.json"))
            if (have != ((added, removed))) throw e
        }
        replicateMidSyncHook(v)
        writeMarker(seed, v, adopted)
      }
      // unconditional: declarations move without data commits, and a
      // "successful sync" must never leave the replica auditing against
      // a stale constraint set
      copyConstraints()
      (currentVersion(dst), copied)
    }
  }

  private def promotedFile(t: String) = new File(t, "_graft_promoted.json")

  /** Spec-only interleaving point: invoked between a replayed version's
    * publish and its marker write, with the src version just landed —
    * the window a concurrent [[promoteReplica]] can race into. A no-op
    * in production. */
  private[graft] var replicateMidSyncHook: Int => Unit = _ => ()

  private def writeReplicaMarker(dst: String, srcAbs: String, seed: Int,
                                 synced: Int, adopted: Boolean): Unit = {
    val flag = if (adopted) ""","adopted":true""" else ""
    AtomicFile.replace(replicaFile(dst),
      (s"""{"src":"$srcAbs","seedSrcVersion":$seed,""" +
        s""""syncedSrcVersion":$synced$flag}""").getBytes(StandardCharsets.UTF_8))
  }

  /** FAILOVER, step 1 — PROMOTE a replica to a writable primary: the
    * replica marker comes off (local commits stop being "forks" and the
    * old source can no longer sync into it — its next [[replicate]]
    * refuses on the missing marker), and the marker's lineage fields
    * are preserved as `_graft_promoted.json` — the record
    * [[demoteToReplica]] needs to later turn the OLD source into this
    * table's replica (failback). Returns the promoted head version.
    * Idempotent-hostile by design: promoting twice is a state error. */
  def promoteReplica(dst: String): Int = {
    val marker = replicaFile(dst)
    require(marker.isFile, s"$dst is not a replica — nothing to promote")
    require(currentVersion(dst) >= 1,
      s"$dst has no published versions — seed before promoting")
    AtomicFile.move(marker, promotedFile(dst))
    currentVersion(dst)
  }

  /** FAILOVER, step 2 — DEMOTE the old source under the promoted
    * replica, reversing the replication direction: after
    * `promoteReplica(dst)`, `demoteToReplica(oldSrc, dst)` makes
    * `oldSrc` a fork-checked replica of `dst`, and `replicate(dst,
    * oldSrc)` then ships everything the new primary committed since
    * promotion. Version arithmetic: the old source's version v maps to
    * the promoted table's version 1 + v − seed (the seed collapse), so
    * the adopted marker records seed' = 2 − seed / synced' = 1 + y −
    * seed in the NEW primary's coordinates — the ordinary sync replay
    * then lands dst's v+1 as oldSrc's next local version.
    *
    * FORK CHECK, refused loudly: the old source must sit EXACTLY at the
    * last version the promoted replica ever synced (`y`). Anything past
    * it is a commit the new primary never saw — silently adopting would
    * un-happen those writes; export them manually first. */
  def demoteToReplica(oldSrc: String, newPrimary: String): Unit = {
    val pm = promotedFile(newPrimary)
    require(pm.isFile,
      s"$newPrimary was never promoted from a replica — cannot demote $oldSrc under it")
    val m = new Marker(pm, "promoted", newPrimary)
    val oldAbs = new File(oldSrc).getAbsolutePath
    require(m.src == oldAbs,
      s"$newPrimary was promoted from a replica of ${m.src}, not of $oldAbs")
    require(!replicaFile(oldSrc).isFile,
      s"$oldSrc is already a replica — demoting it again is a state error")
    val seed = m.int("seedSrcVersion")
    val synced = m.int("syncedSrcVersion")
    val head = currentVersion(oldSrc)
    require(head >= synced,
      s"$oldSrc is at v$head but the promoted replica synced v$synced — " +
        "it lost synced history; re-seed a fresh replica instead")
    // a sync that crashed between its publish and its marker write left
    // the marker one (or more) versions behind versions the replica DID
    // land — the resume path the live sync tolerates. Those versions
    // are provably synced when the new primary's corresponding slots
    // hold the SAME {added, removed} lists; anything else is a commit
    // the new primary never saw and must refuse loudly.
    ((synced + 1) to head).foreach { v =>
      val se = new File(logDir(oldSrc), f"v$v%05d.json")
      val de = new File(logDir(newPrimary), f"v${1 + v - seed}%05d.json")
      require(se.isFile && de.isFile && parseEntry(se) == parseEntry(de),
        s"$oldSrc holds v$v the new primary never saw; " +
          "export it before demoting")
    }
    writeReplicaMarker(oldSrc, new File(newPrimary).getAbsolutePath,
      seed = 2 - seed, synced = 1 + head - seed, adopted = true)
  }

  /** OPTIMIZE ZORDER — [[optimize]] with a CLUSTERED rewrite: rows sort
    * by the Morton interleave of (`xCol`, `yCol`) and range-partition
    * into `numFiles`, so every output file owns a disjoint morton range
    * and per-file min-max stats tighten on BOTH columns at once —
    * after a [[TxnStats]] refresh, range scans prune on either
    * dimension, which no single-column sort can give. Same ACID shape
    * as optimize: one atomic rewrite version, empty change feed,
    * snapshots intact. Coordinates must fit 16 bits (the morton
    * spread's contract, as in Layout.zorderWrite). */
  def optimizeZorder(spark: SparkSession, table: String, xCol: String,
                     yCol: String, numFiles: Int,
                     expectedVersion: Option[Int] = None): Int = Trace.span("sources.optimize") {
    import org.apache.spark.sql.functions.col
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val live = liveFiles(table, None)
    require(live.nonEmpty, s"nothing to optimize in $table")
    val rewritten = read(spark, table)
      .withColumn("__z", graft.operators.Layout.mortonCode(col(xCol), col(yCol)))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    commitRewrite(spark, rewritten, table, live, expectedVersion)
  }

  /** Copy-on-write DELETE: drop every row matching `predicate`,
    * rewriting ONLY the files that contain a match (found by one
    * filtered scan grouped by `input_file_name` — |files| rows to the
    * driver). Untouched files stay byte-identical; a predicate matching
    * nothing commits nothing. NULL predicate rows are KEPT (DELETE
    * removes rows where the predicate IS TRUE — SQL semantics; a bare
    * `!pred` filter would silently drop them). Returns
    * (newVersion — or the current one on a no-op — and files
    * rewritten). */
  def deleteWhere(spark: SparkSession, table: String,
                  predicate: org.apache.spark.sql.Column,
                  expectedVersion: Option[Int] = None): (Int, Int) = Trace.span("sources.delete") {
    import org.apache.spark.sql.functions.{coalesce => cls, input_file_name, lit, not}
    requireNoDv(table, "copy-on-write DELETE")
    val affectedAbs = read(spark, table)
      .withColumn("__file", input_file_name())
      .filter(predicate)
      .select("__file").distinct()
      .collect().map(_.getString(0))
    if (affectedAbs.isEmpty) return (currentVersion(table), 0)
    val tableAbs = new File(table).getAbsolutePath
    val removedRel = affectedAbs.map { uri =>
      val p = if (uri.startsWith("file:"))
        new File(new java.net.URI(uri)).getAbsolutePath else uri
      require(p.startsWith(tableAbs + "/"),
        s"matched file outside the table root: $p")
      p.stripPrefix(tableAbs + "/")
    }.toSeq.sorted
    val survivors = SchemaCache.read(spark, affectedAbs.toIndexedSeq)
      .filter(not(cls(predicate, lit(false))))
    (commitRewrite(spark, survivors, table, removedRel, expectedVersion),
      removedRel.size)
  }

  /** MERGE-ON-READ DELETE with a deletion vector — the write-cheap
    * sibling of [[deleteWhere]]: instead of rewriting every file that
    * contains a match (O(matched files) of WRITE), one commit adds a
    * `dv/` parquet listing the doomed (file, row_index) pairs and no
    * data file moves — O(matches) write, the Delta deletion-vector
    * trade. [[read]] applies live vectors as a (file, row_index)
    * anti-join; [[optimize]] materializes the filtered table and purges
    * the vectors (its rewrite removes every live file, `dv/` included);
    * time travel before the delete sees the rows again; vacuum keeps
    * referenced vectors like any file.
    *
    * The predicate is evaluated over the DV-APPLIED snapshot, so
    * already-deleted rows are never re-listed. SQL DELETE semantics
    * (rows where the predicate IS TRUE go; NULL rows stay). Writers
    * that re-read data files directly (MERGE, compactSmall, the CoW
    * deleteWhere) refuse to run while vectors are live — OPTIMIZE
    * first. Returns (version — current on a no-op — and rows marked). */
  def deleteWhereMor(spark: SparkSession, table: String,
                     predicate: org.apache.spark.sql.Column,
                     expectedVersion: Option[Int] = None): (Int, Long) = Trace.span("sources.delete") {
    import org.apache.spark.sql.functions.col
    val version = expectedVersion.getOrElse(currentVersion(table) + 1)
    require(version >= 1, s"expectedVersion must be >= 1, got $version")
    val doomed = readWithAddress(spark, table, snapshot(table, Some(version - 1)))
      .filter(predicate)
      .select(col("__fp").as("file_path"), col("__ri").as("row_index"))
    commitDv(spark, table, doomed, version, tag = None)
  }

  /** Commit a deletion vector from an explicit (file_path, row_index)
    * frame — the shared write half of [[deleteWhereMor]] and
    * [[TxnCatalog.deleteWhereMor]] (which addresses its own
    * lineage-pinned snapshot). No-op (nothing published) on an empty
    * vector. */
  private[sources] def commitDv(spark: SparkSession, table: String,
                                doomed: DataFrame, version: Int,
                                tag: Option[String]): (Int, Long) = {
    val cached = doomed.cache()
    try {
      val n = cached.count()
      if (n == 0) return (currentVersion(table), 0L)
      val dvDir = new File(table,
        f"dv/v$version%05d-" + java.util.UUID.randomUUID.toString.take(8))
      cached.coalesce(1).write.mode(SaveMode.ErrorIfExists).parquet(dvDir.getPath)
      (publish(table, version, relDataFiles(table, dvDir, cls = "dv"),
        Seq.empty, tag), n)
    } finally cached.unpersist()
  }

  /** The `_metadata.file_path` URI prefix of this table's files. */
  private def fileUriPrefix(table: String): String =
    "file://" + new File(table).getAbsolutePath + "/"

  private[graft] def requireNoDv(table: String, op: String): Unit = {
    val dv = liveSplit(table, None)._2
    require(dv.isEmpty,
      s"$op on $table would re-read data files under ${dv.size} live " +
        "deletion vector file(s) and resurrect deleted rows — OPTIMIZE " +
        "first (it applies and purges the vectors)")
  }

  /** DEAD-LETTER commit — the row-level outcome of a violated contract:
    * instead of rejecting the whole batch ([[commitChecked]]) or letting
    * bad rows through, rows violating ANY rule land in a QUARANTINE
    * table (tagged with the rule names they broke, pipe-joined) and the
    * clean remainder commits to the main table — both committed, each
    * atomically. One logical pass: the rule expressions evaluate once
    * per row in the scan projection; the two filtered writes share it.
    * Returns (main version — current when everything quarantined —
    * and quarantined row count). The batch-level gate stays the right
    * tool when ANY violation must abort; this is the ingest-must-
    * continue shape (tolerant pipelines, the reference's messy scrape
    * rows). */
  def commitQuarantined(spark: SparkSession, df: DataFrame, table: String,
                        quarantineTable: String,
                        rules: Seq[graft.operators.Contracts.Rule],
                        tag: Option[String] = None): (Int, Long) = {
    import graft.operators.Contracts
    import org.apache.spark.sql.functions.{array, array_join, col, concat_ws, lit, when}
    require(rules.nonEmpty, "commitQuarantined needs at least one rule")
    require(!rules.exists(_.isInstanceOf[Contracts.Unique]),
      "Unique needs a global aggregate — pre-validate with Contracts.validate")
    val flags = rules.map(r =>
      when(Contracts.violation(r) === 1L, lit(r.name)).otherwise(lit(null)))
    val tagged = df.withColumn("__broke",
      array_join(array(flags: _*), "|"))
    val bad = tagged.filter(col("__broke") =!= "")
      .withColumnRenamed("__broke", "violated_rules")
    val clean = tagged.filter(col("__broke") === "").drop("__broke")
    val nBad = bad.count()
    if (nBad > 0)
      commit(spark, bad, quarantineTable, overwrite = false, tag = tag)
    val version =
      if (clean.isEmpty) currentVersion(table)
      else commit(spark, clean, table, overwrite = false, tag = tag)
    (version, nBad)
  }

  /** Contract-gated commit — CHECK constraints at the write boundary,
    * in ONE pass: the per-rule violation counters ride the write job as
    * `Observation` metrics, so the data is never scanned twice. If any
    * rule is violated the log entry is NEVER published — readers never
    * see the bad data; the already-written attempt dir is an ordinary
    * vacuum orphan (the same crash shape every failed commit has).
    *
    * Scan-evaluable rules only ([[graft.operators.Contracts.Unique]]
    * needs a global aggregate a streaming observation cannot compute —
    * run it through `Contracts.validate` as a pre-pass instead). */
  def commitChecked(spark: SparkSession, df: DataFrame, table: String,
                    overwrite: Boolean,
                    rules: Seq[graft.operators.Contracts.Rule],
                    expectedVersion: Option[Int] = None,
                    tag: Option[String] = None): Int = {
    import graft.operators.Contracts
    require(rules.nonEmpty, "commitChecked needs at least one rule")
    val unique = rules.filter(_.isInstanceOf[Contracts.Unique])
    require(unique.isEmpty,
      s"${unique.map(_.name).mkString(",")}: Unique needs a global " +
        "aggregate — pre-validate with Contracts.validate instead")
    val version = expectedVersion.getOrElse(currentVersion(table) + 1)
    require(version >= 1, s"expectedVersion must be >= 1, got $version")
    val removed = if (overwrite) liveFiles(table, Some(version - 1)) else Seq.empty
    val obs = org.apache.spark.sql.Observation(
      "graft_check_" + java.util.UUID.randomUUID.toString.take(8))
    import org.apache.spark.sql.functions.{coalesce, count, lit, sum}
    val metrics = count(lit(1)).as("__n") +: rules.zipWithIndex.map {
      case (r, i) => coalesce(sum(Contracts.violation(r)), lit(0L)).as(s"__v$i")
    }
    val added = writeData(df.observe(obs, metrics.head, metrics.tail: _*),
      table, version)
    val row = obs.get
    val bad = rules.zipWithIndex
      .map { case (r, i) => r -> row(s"__v$i").asInstanceOf[Long] }
      .filter(_._2 > 0)
    if (bad.nonEmpty)
      throw new IllegalStateException(
        s"contract violation on commit to $table (nothing published): " +
          bad.map { case (r, n) => s"${r.name}=$n" }.mkString(", "))
    publish(table, version, added, removed, tag)
  }

  /** Files ADDED in versions (`fromExclusive`, `toInclusive`] — the
    * incremental read set for append-only consumers: a downstream job
    * that processed the table up to version N refreshes by reading ONLY
    * these files, O(delta) instead of O(table). Refuses a range that
    * REMOVES files (an overwrite invalidates previously-processed rows;
    * the caller must fall back to a full recompute — silently ignoring
    * the removal would double-count). */
  def addedFiles(table: String, fromExclusive: Int,
                 toInclusive: Int): Seq[String] = {
    // a metadata-only RE-LIST version (checkpoint-style squash:
    // publishFileList / the catalog lineage cap) "adds" the whole live
    // set with removed=[] — it passes an empty-removals check but is NOT
    // an append, and treating it as one double-counts every pre-existing
    // row downstream (mergeAdditive-style refreshes). Refuse any version
    // whose additions intersect the files already live at the range
    // start, exactly like a removal.
    val seen = scala.collection.mutable.Set.empty[String]
    seen ++= liveFiles(table, Some(fromExclusive))
    logFiles(table)
      .filter(f => versionOf(f) > fromExclusive && versionOf(f) <= toInclusive)
      .flatMap { f =>
        val (added, removed) = parseEntry(f)
        require(removed.isEmpty,
          s"version ${versionOf(f)} of $table removes files — the range is " +
            "not append-only; recompute from the snapshot instead")
        val relist = added.filter(seen)
        require(relist.isEmpty,
          s"version ${versionOf(f)} of $table re-lists ${relist.size} " +
            "already-live file(s) (a checkpoint/squash, not an append) — " +
            "the range is not append-only; recompute from the snapshot " +
            "instead")
        seen ++= added
        added
      }
  }

  /** Row-level CHANGE FEED between two versions — Delta CDF's read-side
    * shape: for every version in (`fromExclusive`, `toInclusive`], diff
    * the files it removed against the files it added, KEYED by `keys`,
    * and emit (version, change ∈ insert|update|delete, key…, payload…).
    * Inserts/updates carry the post-image, deletes the pre-image.
    *
    * The payload-hash compare is what makes file-level rewrites honest:
    * a MERGE or compaction rewrites whole files, so most rewritten rows
    * are byte-identical SURVIVORS — a naive file diff would report them
    * all as updates; here identical (key, payload-hash) pairs cancel and
    * only real changes surface.
    *
    * Contract: `keys` must be unique within every snapshot (the keyed-
    * table contract MERGE maintains — enforce at the write boundary via
    * `Contracts.validate(Unique)`; a duplicate key makes the diff
    * multiset-ambiguous). Cost is
    * one keyed full-outer join per version over JUST that version's
    * touched files — O(Δ) for appends and merges; an overwrite's diff is
    * genuinely O(table) (Delta avoids that by writing CDF files at
    * commit time — a write-side trade this read-side form keeps out of
    * the hot commit path).
    *
    * `updateImages = true` emits Delta's four change types instead of a
    * single `update` row: `update_preimage` (the old payload) and
    * `update_postimage` (the new) — the form a downstream INCREMENTAL
    * VIEW needs, since maintaining an aggregate under an update means
    * retracting the old contribution and adding the new one
    * ([[graft.operators.Incremental.applyCdc]]). */
  def changeFeed(spark: SparkSession, table: String, fromExclusive: Int,
                 toInclusive: Int, keys: Seq[String],
                 updateImages: Boolean = false): DataFrame = Trace.span("sources.open") {
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty, "changeFeed needs key columns")
    require(fromExclusive >= 0 && fromExclusive < toInclusive &&
      toInclusive <= currentVersion(table),
      s"bad version range ($fromExclusive, $toInclusive] for $table " +
        s"at v${currentVersion(table)}")
    def readRel(fs: Seq[String]): Option[DataFrame] =
      if (fs.isEmpty) None
      else Some(SchemaCache.read(spark,
        fs.map(p => new File(table, p).getPath)))
    // live-set at (v-1), maintained INCREMENTALLY as the versions replay
    // in order — the re-list guard below needs it per version, and a
    // fresh liveFiles() call there would replay the whole log once per
    // version (O(N²) driver IO over a streaming-ingested range); same
    // seen-set idiom as addedFiles
    val seen = scala.collection.mutable.Set.empty[String]
    seen ++= liveFiles(table, Some(fromExclusive))
    val frames = logFiles(table)
      .filter(f => versionOf(f) > fromExclusive && versionOf(f) <= toInclusive)
      .flatMap { f =>
        val v = versionOf(f)
        val (added, removed) = parseEntry(f)
        val liveBefore = seen.toSet
        // mirror liveFiles' replay exactly (dv/ paths included)
        seen --= removed
        seen ++= added
        val payloadOf = (df: DataFrame) =>
          df.columns.filterNot(keys.contains).toSeq
        def tagged(df: DataFrame, side: String): DataFrame = {
          val payload = payloadOf(df)
          df.select((keys.map(col) ++
            payload.map(c => col(c).as(s"__${side}_$c")) :+
            xxhash64((lit(0L) +: payload.map(col)): _*).as(s"__h$side")): _*)
        }
        // a deletion-vector commit adds no data — its change feed is the
        // DELETE pre-images: the rows of the (v-1)-live data files the
        // vector addresses (prior vectors already applied, so a stacked
        // delete feeds only the NEWLY deleted rows)
        if (added.nonEmpty && added.forall(_.startsWith("dv/")) && removed.isEmpty) {
          val dv = SchemaCache
            .read(spark, added.map(p => new File(table, p).getPath))
            .select(col("file_path").as("__fp"), col("row_index").as("__ri"))
          val pre = fileListWithAddress(spark, table,
              liveBefore.toSeq.sorted)
            .join(dv, Seq("__fp", "__ri"), "left_semi")
            .drop("__fp", "__ri")
          Some(pre.select((lit(v).as("version") +:
            lit("delete").as("change") +: pre.columns.toSeq.map(col)): _*))
        } else if (removed.isEmpty && added.nonEmpty && {
          // a metadata-only RE-LIST (checkpoint/squash: publishFileList,
          // the catalog lineage cap) "adds" files that were already live
          // at v-1 — zero row-level changes, but a naive diff would feed
          // every pre-existing row as an insert and an incremental view
          // maintained via applyCdc would double-count. Skip a full
          // re-list; refuse a PARTIAL overlap (neither a pure append nor
          // a pure squash — the row-level delta is ambiguous).
          val relisted = added.count(liveBefore)
          require(relisted == 0 || relisted == added.size,
            s"version $v of $table mixes $relisted re-listed live file(s) " +
              s"with ${added.size - relisted} new file(s) — change feed " +
              "cannot attribute row-level changes; recompute from snapshots")
          relisted == added.size
        }) None // full re-list: no row-level changes
        else (readRel(removed), readRel(added)) match {
          case (None, None) => None
          case (None, Some(post)) =>
            Some(post.select((lit(v).as("version") +:
              lit("insert").as("change") +: post.columns.toSeq.map(col)): _*))
          case (Some(pre), None) =>
            Some(pre.select((lit(v).as("version") +:
              lit("delete").as("change") +: pre.columns.toSeq.map(col)): _*))
          case (Some(pre), Some(post)) =>
            val payload = payloadOf(post)
            val diff = tagged(pre, "pre")
              .join(tagged(post, "post"), keys.toSeq, "full_outer")
              .filter(col("__hpre").isNull || col("__hpost").isNull ||
                col("__hpre") =!= col("__hpost"))
            def img(label: String, side: String,
                    pred: org.apache.spark.sql.Column): DataFrame =
              diff.filter(pred).select((lit(v).as("version") +:
                lit(label).as("change") +:
                (keys.map(col) ++
                  payload.map(c => col(s"__${side}_$c").as(c)))): _*)
            val isUpd = col("__hpre").isNotNull && col("__hpost").isNotNull
            val updates =
              if (updateImages)
                Seq(img("update_preimage", "pre", isUpd),
                  img("update_postimage", "post", isUpd))
              else Seq(img("update", "post", isUpd))
            Some((Seq(img("insert", "post", col("__hpre").isNull),
              img("delete", "pre", col("__hpost").isNull)) ++ updates)
              .reduce(_ unionByName _))
        }
      }
    if (frames.isEmpty) {
      // the range held only metadata-only versions (re-list squashes):
      // the honest feed is ZERO rows, with the snapshot's schema
      val snap = read(spark, table, Some(toInclusive))
      val payload = snap.columns.filterNot(keys.contains).toSeq
      snap.limit(0).select((lit(0).as("version") +:
        lit("insert").as("change") +:
        (keys.map(col) ++ payload.map(col))): _*)
    } else frames.reduce(_ unionByName _)
  }

  /** Read a snapshot: the table as of `asOf` (latest when None). An empty
    * table reads as an empty frame only via the caller's schema knowledge —
    * fail loudly instead, an unborn table is a bug at every call site.
    * `mergeSchema = true` reconciles per-commit footer schemas by name —
    * a later commit may ADD columns and earlier snapshots' rows
    * null-extend (schema evolution without rewriting history). */
  def read(spark: SparkSession, table: String, asOf: Option[Int] = None,
           mergeSchema: Boolean = false): DataFrame = Trace.span("sources.open") {
    val snap = snapshot(table, asOf)
    require(snap.data.nonEmpty,
      s"no live files in $table${asOf.fold("")(v => s" as of v$v")}")
    if (snap.dv.isEmpty)
      // SchemaCache: the snapshot pins its file list, so the inferred
      // schema is memoizable — drops the per-read footer-inference JOB
      // the lifecycle queries paid on every re-open of the same table
      SchemaCache.read(spark, snap.data.map(f => new File(table, f).getPath),
        mergeSchema)
    else readWithAddress(spark, table, snap, mergeSchema).drop("__fp", "__ri")
  }

  /** The DV-applied snapshot with each row's STABLE address retained as
    * (__fp table-relative file, __ri row index) — what a stacked
    * [[deleteWhereMor]] needs: `_metadata` is only addressable on the
    * scan itself, so the address columns must be captured before the
    * vector anti-join. */
  private def readWithAddress(spark: SparkSession, table: String,
                              snap: Snapshot,
                              mergeSchema: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    require(snap.data.nonEmpty, s"no live files in $table")
    val prefixLen = fileUriPrefix(table).length
    val base = SchemaCache
      .read(spark, snap.data.map(f => new File(table, f).getPath), mergeSchema)
      .select(col("*"),
        expr(s"substring(_metadata.file_path, ${prefixLen + 1})").as("__fp"),
        col("_metadata.row_index").as("__ri"))
    if (snap.dv.isEmpty) base
    else {
      // deletion vectors: anti-join on the stable row address — data
      // files were never rewritten, so recorded addresses still hold
      val dv = SchemaCache
        .read(spark, snap.dv.map(f => new File(table, f).getPath))
        .select(col("file_path").as("__fp"), col("row_index").as("__ri"))
      base.join(dv, Seq("__fp", "__ri"), "left_anti")
    }
  }

  /** DESCRIBE HISTORY — the audit surface of the log: one row per
    * committed version with its add/remove file counts, commit class
    * (`dv` = a deletion-vector-only commit, else `data`), and writer
    * tag. Driver-side metadata (|commits| rows), never data. */
  def history(spark: SparkSession, table: String): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("n_added", IntegerType, nullable = false),
      StructField("n_removed", IntegerType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("tag", StringType, nullable = true)))
    val rows = logFiles(table).map { f =>
      val v = versionOf(f)
      val (added, removed) = parseEntry(f)
      org.apache.spark.sql.Row(v, added.size, removed.size,
        if (added.nonEmpty && added.forall(_.startsWith("dv/"))) "dv" else "data",
        commitTag(table, v).orNull)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** DV-applied read over an EXPLICIT live file list (table-relative
    * paths) — the form catalog snapshots need: [[TxnCatalog.read]]
    * resolves its own lineage-pinned file set, and deletion vectors in
    * it must anti-join exactly as in [[read]], not scan as data. */
  private[sources] def readFileList(spark: SparkSession, table: String,
                                    files: Seq[String],
                                    mergeSchema: Boolean = false): DataFrame = {
    val (dataFiles, dvFiles) = files.partition(!_.startsWith("dv/"))
    if (dvFiles.isEmpty) {
      // no deletion vectors → no anti-join → the (__fp, __ri) address
      // projection would be dropped unread, but column pruning does NOT
      // remove requested _metadata fields from the scan (observed: the
      // FileScan still materializes file_path/row_index per row after
      // the drop). Read plain, through the memoized schema.
      require(dataFiles.nonEmpty, s"no live data files for $table")
      SchemaCache.read(spark,
        dataFiles.map(f => new File(table, f).getPath), mergeSchema)
    } else
      fileListWithAddress(spark, table, files, mergeSchema)
        .drop("__fp", "__ri")
  }

  /** [[readFileList]] with each row's stable (__fp, __ri) address
    * retained — what a lineage-pinned MOR delete filters on. */
  private[sources] def fileListWithAddress(spark: SparkSession, table: String,
                                           files: Seq[String],
                                           mergeSchema: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val (dataFiles, dvFiles) = files.partition(!_.startsWith("dv/"))
    require(dataFiles.nonEmpty, s"no live data files for $table")
    val prefixLen = fileUriPrefix(table).length
    val base = SchemaCache
      .read(spark, dataFiles.map(f => new File(table, f).getPath), mergeSchema)
      .select(col("*"),
        expr(s"substring(_metadata.file_path, ${prefixLen + 1})").as("__fp"),
        col("_metadata.row_index").as("__ri"))
    if (dvFiles.isEmpty) base
    else {
      val dv = SchemaCache
        .read(spark, dvFiles.map(f => new File(table, f).getPath))
        .select(col("file_path").as("__fp"), col("row_index").as("__ri"))
      base.join(dv, Seq("__fp", "__ri"), "left_anti")
    }
  }

  /** DRY-RUN of [[vacuum]]: (the referenced file set a
    * `vacuum(retainFrom)` would keep, the physical orphans it would
    * delete) — the shared computation behind the delete itself and the
    * advisor that prices it ([[graft.plans.LayoutAdvisor.vacuumAdvice]])
    * without touching a byte. Driver-side log replay + dir listing. */
  private[graft] def reclaimable(table: String,
                                 retainFrom: Int): (Set[String], Seq[File]) = {
    val keep = logFiles(table).map(versionOf).filter(_ >= retainFrom)
      .flatMap(v => liveFiles(table, Some(v))).toSet ++
      liveFiles(table, None).toSet
    (keep, unreferenced(table, keep))
  }

  /** Every `part-` parquet file under `table`'s `data` and `dv` commit
    * dirs whose table-relative path `keep` does not name — what both
    * vacuums delete. */
  private[sources] def unreferenced(table: String, keep: Set[String]): Seq[File] =
    commitDirs(table)
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      .filter(f => f.isFile && f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .filter(f => !keep.contains(
        s"${f.getParentFile.getParentFile.getName}/${f.getParentFile.getName}/${f.getName}"))

  /** Every commit dir under `table`'s `data` and `dv` dirs. */
  private def commitDirs(table: String): Seq[File] =
    Seq("data", "dv").flatMap(cls =>
      Option(new File(table, cls).listFiles()).getOrElse(Array.empty[File])
        .filter(_.isDirectory))

  /** Delete the dead tmps of crashed writers (torn log entries and
    * sidecars, cut-short replica copies): invisible to readers, but they
    * would otherwise accumulate. Not part of [[reclaimable]], so the
    * vacuum advice counts only data files. */
  private def sweepTmps(table: String): Unit =
    (logDir(table) +: commitDirs(table)).foreach(AtomicFile.deleteTmps)

  /** The delete step of both vacuums: each `doomed` part file with its
    * `.crc`, the dead tmps ([[sweepTmps]]), then every commit dir left
    * holding nothing but its `_SUCCESS` marker (a dir with `_temporary`,
    * a write in flight, holds more and stays). */
  private[sources] def purge(table: String, doomed: Seq[File]): Unit = {
    // deletes are order-free and idempotent (a missing file deletes to
    // false, never throws) — fan them out like the replication copies:
    // at 100 TB file counts a driver-serial delete loop is the same
    // wall the serial copy was
    ParallelCopy.mapPar(doomed) { f =>
      f.delete()
      new File(f.getParentFile, s".${f.getName}.crc").delete()
    }
    sweepTmps(table)
    val markers = Set("_SUCCESS", "._SUCCESS.crc")
    commitDirs(table).foreach { d =>
      val names = Option(d.list()).getOrElse(Array.empty[String])
      if (names.forall(markers)) {
        names.foreach(n => new File(d, n).delete())
        d.delete()
      }
    }
  }

  /** Physically delete data files no snapshot >= `retainFrom` references.
    * This is the step that gives up time travel before `retainFrom` in
    * exchange for space — exactly Delta's VACUUM trade. Orphans from
    * crashed commits (data dir without a log entry), dead tmps and
    * emptied commit dirs ([[purge]]) die here too. Returns the deleted
    * data-file count. */
  def vacuum(table: String, retainFrom: Int): Int = Trace.span("sources.vacuum") {
    val (_, doomed) = reclaimable(table, retainFrom)
    purge(table, doomed)
    doomed.length
  }
}
