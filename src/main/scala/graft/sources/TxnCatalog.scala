package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.{Overlap, Trace}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multi-table ATOMIC commit over a set of [[TxnTable]]s — the missing
  * piece the reference's warehouse DAG needs: its schema-gated run
  * (reference `pipeline.py:1068-1074`) loads six tables "together", but
  * each `to_sql` lands independently, so a crash mid-run leaves the
  * warehouse half-updated. Here the unit of visibility is a CATALOG
  * transaction: N per-table commits become visible to catalog readers
  * through ONE atomic log-entry publish — all or none, the metastore/
  * Nessie idea in its minimal honest form.
  *
  * Layout:
  * {{{
  *   catalog/
  *     tables/<name>/             -- each a TxnTable (data + _graft_log)
  *     _graft_txn/t00001.json     -- {"txn":1,"tables":{"cust":2,"ord":1},
  *                                --  "versions":{"cust":[2],"ord":[1]},
  *                                --  "colmap":{"cust|nm":"name"},
  *                                --  "coldrop":{"ord|tmp":1},"tag":"etl"}
  * }}}
  * `colmap`, `coldrop` and `tag` are absent when empty. [[Entry]] is the
  * one codec: `Entry.parse` reads an entry, `Entry.json` writes one, and
  * its field order and separators are the on-disk format (replicas
  * byte-compare entries).
  *
  * Protocol: stage every table write as a normal TxnTable commit (each
  * atomic per-table, but INVISIBLE to catalog readers), then publish one
  * catalog entry — the same put-if-absent link(2) commit point TxnTable
  * uses. A crash or a lost race between the table commits and the
  * catalog publish leaves committed-but-unreferenced table versions:
  * catalog readers replay ONLY entry-listed versions, so orphans are
  * invisible (and die in the per-table vacuum), never half a
  * transaction.
  *
  * Every entry is a SELF-CONTAINED snapshot: `tables` pins each table's
  * head version, and `versions` lists the exact per-table version
  * LINEAGE composing the snapshot — reads replay those log entries and
  * nothing else. Self-containment is what makes [[restore]] sound: a
  * rolled-back transaction's versions sit in the per-table log below a
  * later head, and any cross-entry "all versions ever created" scan
  * would resurrect them (a bug this module's spec caught in an earlier
  * design). Every operation reads ONE entry, so its lineage, column map
  * and drop set always come from the same snapshot.
  */
object TxnCatalog {

  /** One table write inside a transaction. `overwrite = true` replaces
    * the table's catalog-visible content; `false` appends. */
  final case class Write(name: String, df: DataFrame, overwrite: Boolean = false)

  /** One catalog entry: the whole multi-table snapshot of transaction
    * `txn`. `tables` pins each table's head version and `versions` its
    * lineage. `colmap` is the per-table column MAPPING (rename without
    * rewrite): physical parquet column name → logical name, serialized
    * flat as `"tbl|phys":"logical"` (`|` is outside both name grammars,
    * so the split is exact). `drops` holds the DROPPED physical columns
    * per table, serialized as `"tbl|phys":1`: they vanish from reads, the
    * bytes stay, and older snapshots still show them. Each entry carries
    * the FULL maps for its snapshot, so restore and time travel resolve
    * everything from the entry alone. An unborn catalog reads as
    * `Entry(0)`. */
  private[sources] final case class Entry(
      txn: Int,
      tables: Map[String, Int] = Map.empty,
      versions: Map[String, Seq[Int]] = Map.empty,
      colmap: Map[String, Map[String, String]] = Map.empty,
      drops: Map[String, Set[String]] = Map.empty,
      tag: Option[String] = None) {

    /** `name`'s whole state: version, lineage, column map and drop set. */
    private def state(name: String) =
      (tables.get(name), versions.get(name), colmap.get(name), drops.get(name))

    /** Tables whose state differs from `base`'s — restores and
      * metadata-only schema ops all surface here. */
    def changedFrom(base: Entry): Set[String] =
      (tables.keySet ++ base.tables.keySet).filter(n => state(n) != base.state(n))

    /** This snapshot with the state of every table in `names` taken from
      * `from` (a table `from` lacks is dropped here too). */
    def overlay(from: Entry, names: Set[String]): Entry = {
      def pick[V](mine: Map[String, V], theirs: Map[String, V]) =
        (mine -- names) ++ theirs.filter(kv => names(kv._1))
      copy(tables = pick(tables, from.tables),
        versions = pick(versions, from.versions),
        colmap = pick(colmap, from.colmap), drops = pick(drops, from.drops))
    }

    /** The entry's bytes on disk: keys sorted, empty maps omitted. */
    def json: String = {
      def obj[V](m: Map[String, V])(fields: (String, V) => Seq[String]) =
        m.toSeq.sortBy(_._1).flatMap(fields.tupled).mkString("{", ",", "}")
      def opt(key: String, body: String) =
        if (body == "{}") "" else s""","$key":$body"""
      val lineages = obj(versions)((t, vs) => Seq(s""""$t":${vs.mkString("[", ",", "]")}"""))
      s"""{"txn":$txn,"tables":${obj(tables)((t, v) => Seq(s""""$t":$v"""))},""" +
        s""""versions":$lineages""" +
        opt("colmap", obj(colmap)((t, cols) =>
          cols.toSeq.sortBy(_._1).map { case (p, l) => s""""$t|$p":"$l"""" })) +
        opt("coldrop", obj(drops)((t, cols) =>
          cols.toSeq.sorted.map(c => s""""$t|$c":1"""))) +
        tag.fold("")(t => s""","tag":"$t"""") + "}"
    }
  }

  private[sources] object Entry {
    /** Dependency-free quote-scan parse, the same contract as TxnTable's
      * log parser: each object's body ends at its first `}` (lists use
      * brackets), and names never contain quotes. */
    def parse(s: String): Entry = {
      def body(key: String, required: Boolean = false): String = {
        val i = s.indexOf("\"" + key + "\":{")
        require(i >= 0 || !required, s"malformed catalog entry: missing $key")
        if (i < 0) "" else s.substring(s.indexOf('{', i) + 1, s.indexOf('}', i))
      }
      def perTable(key: String, value: String) =
        s"\"([A-Za-z0-9._-]+)\\|([A-Za-z0-9_]+)\":$value".r
          .findAllMatchIn(body(key)).toSeq.groupBy(_.group(1))
      Entry(
        txn = "\"txn\":(\\d+)".r.findFirstMatchIn(s).map(_.group(1).toInt)
          .getOrElse(throw new IllegalArgumentException(
            "malformed catalog entry: missing txn")),
        tables = "\"([A-Za-z0-9._-]+)\":(\\d+)".r
          .findAllMatchIn(body("tables", required = true))
          .map(m => m.group(1) -> m.group(2).toInt).toMap,
        versions = "\"([A-Za-z0-9._-]+)\":\\[([0-9,]*)\\]".r
          .findAllMatchIn(body("versions", required = true))
          .map(m => m.group(1) ->
            m.group(2).split(',').filter(_.nonEmpty).map(_.toInt).toSeq).toMap,
        colmap = perTable("colmap", "\"([A-Za-z0-9_]+)\"").map { case (t, ms) =>
          t -> ms.map(m => m.group(2) -> m.group(3)).toMap },
        drops = perTable("coldrop", "1").map { case (t, ms) =>
          t -> ms.map(_.group(2)).toSet },
        tag = "\"tag\":\"([^\"]*)\"".r.findFirstMatchIn(s).map(_.group(1)))
    }
  }

  def tablePath(catalog: String, name: String): String =
    new File(new File(catalog, "tables"), name).getPath

  private def txnDir(catalog: String) = new File(catalog, "_graft_txn")

  private def entryFile(catalog: String, txn: Int) =
    new File(txnDir(catalog), f"t$txn%05d.json")

  private def txnOf(f: File): Int =
    f.getName.stripPrefix("t").stripSuffix(".json").toInt

  private def txnFiles(catalog: String): Seq[File] =
    Option(txnDir(catalog).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.matches("t\\d{5}\\.json"))
      .sortBy(txnOf).toSeq

  private def load(f: File): Entry =
    Entry.parse(new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))

  /** The snapshot as of `asOf` (latest when None): one listing of
    * `_graft_txn` and one read of one entry; `Entry(0)` when no entry is
    * that old. */
  private[sources] def entry(catalog: String, asOf: Option[Int]): Entry =
    txnFiles(catalog).filter(f => asOf.forall(txnOf(f) <= _)).lastOption
      .fold(Entry(0))(load)

  /** Every entry, in txn order, from one listing. */
  private def entries(catalog: String): Seq[Entry] = txnFiles(catalog).map(load)

  /** The txn a writer publishes and the entry it builds on: `expectedTxn`
    * pins the snapshot it read (+ 1); by default the head. */
  private def nextTxn(catalog: String, expectedTxn: Option[Int]): (Int, Entry) = {
    val e = entry(catalog, expectedTxn.map(_ - 1))
    (expectedTxn.getOrElse(e.txn + 1), e)
  }

  /** Latest committed transaction, 0 if the catalog is unborn. */
  def currentTxn(catalog: String): Int =
    txnFiles(catalog).lastOption.map(txnOf).getOrElse(0)

  /** Table names are path segments AND log-parser tokens — keep both
    * honest with one grammar. */
  private def checkName(name: String): Unit =
    require(name.matches("[A-Za-z0-9._-]+"),
      s"table name must be [A-Za-z0-9._-]+: '$name'")

  private def asOfText(asOf: Option[Int]): String =
    asOf.fold("")(t => s" as of t$t")

  /** `name`'s lineage in `e`, or the error naming a missing table. */
  private def lineageOf(catalog: String, e: Entry, name: String,
                        asOf: Option[Int] = None): Seq[Int] =
    e.versions.getOrElse(name, throw new IllegalArgumentException(
      s"table '$name' does not exist in $catalog${asOfText(asOf)}"))

  /** Rename `df`'s columns by `names` (from → to), skipping absent ones. */
  private def renamed(df: DataFrame, names: Map[String, String]): DataFrame =
    names.foldLeft(df) { case (d, (from, to)) =>
      if (d.columns.contains(from)) d.withColumnRenamed(from, to) else d
    }

  /** Per-table lineage LENGTH of a snapshot — the number of log entries a
    * read of `name` replays (the metadata cost [[compactLineage]] bounds).
    * 0 if the table is absent. */
  def lineageLength(catalog: String, name: String, asOf: Option[Int] = None): Int =
    entry(catalog, asOf).versions.get(name).fold(0)(_.length)

  /** The full table→version mapping as of `asOf` (latest when None). */
  def tableVersions(catalog: String, asOf: Option[Int] = None): Map[String, Int] =
    entry(catalog, asOf).tables

  /** The writer tag published with transaction `txn`, if any. */
  def commitTag(catalog: String, txn: Int): Option[String] = {
    val f = entryFile(catalog, txn)
    if (f.isFile) load(f).tag else None
  }

  /** Commit every write in `writes` as ONE catalog transaction and
    * return its number. Readers see all of them or none of them.
    *
    * Optimistic concurrency mirrors [[TxnTable.commit]]: pass
    * `expectedTxn` to pin the snapshot this writer built on + 1; a lost
    * race throws `ConcurrentModificationException` AFTER the per-table
    * commits — those versions stay orphaned (catalog-invisible, swept by
    * per-table vacuum), the standard re-read-and-retry loop applies. */
  def commitAll(spark: SparkSession, catalog: String, writes: Seq[Write],
                expectedTxn: Option[Int] = None,
                tag: Option[String] = None): Int = Trace.span("sources.commit") {
    require(writes.nonEmpty, "a transaction needs at least one write")
    require(writes.map(_.name).distinct.size == writes.size,
      s"one version per table per txn: duplicate names in ${writes.map(_.name)}")
    writes.foreach(w => checkName(w.name))
    val (txn, e) = nextTxn(catalog, expectedTxn)
    require(txn >= 1, s"expectedTxn must be >= 1, got $txn")
    // stage: per-table commits, catalog-invisible until the entry lands.
    // An overwrite must remove exactly the CATALOG-visible files, not the
    // table-local live set (which may include orphans a failed txn added
    // and this replay never saw) — so overwrites land as append commits
    // and the removal is carried by the catalog replay: a created version
    // with "overwrite" semantics resets the reader's file set. Encode
    // that by committing through TxnTable with overwrite = w.overwrite:
    // TxnTable's removal list is a superset of the catalog-visible files
    // (same files plus orphans), and replay subtracts only what it added,
    // so both ledgers agree on the catalog-visible outcome.
    def stage(w: Write): (String, Int) = {
      // the caller writes LOGICAL column names; physical parquet names
      // never change across a rename, so reverse-map before the write
      val phys = renamed(w.df, e.colmap.getOrElse(w.name, Map.empty).map(_.swap))
      // a DROPPED physical name cannot be re-added in place — reads would
      // silently hide it again; re-introduce the data under a new name
      val clash = phys.columns.filter(
        e.drops.getOrElse(w.name, Set.empty).contains)
      require(clash.isEmpty,
        s"column(s) ${clash.mkString(", ")} of '${w.name}' were DROPPED — " +
          "re-adding needs a new column name")
      w.name -> TxnTable.commit(spark, phys, tablePath(catalog, w.name),
        overwrite = w.overwrite, tag = tag)
    }
    // The per-table staged commits are INDEPENDENT — each lands in its
    // own table dir and stays catalog-invisible until the entry below
    // publishes — and each is a small scheduling-latency-bound write
    // job, so they overlap (an 8-table index build paid 8 job latencies
    // end to end). The (name -> version) map is order-independent;
    // versions come from each table's own log. A failed write cancels
    // the others' in-flight jobs and propagates its ORIGINAL exception;
    // completed siblings stay catalog-invisible orphans for vacuum,
    // exactly as a sequential mid-transaction failure leaves its
    // predecessors.
    val created: Map[String, Int] = Overlap.map(Some(spark), writes,
      Overlap.confInt(spark, "spark.graft.catalog.commitParallelism", 4),
      "catalog commit")(stage).toMap
    val byName = writes.map(w => w.name -> w.overwrite).toMap
    val lists = e.versions ++ created.map { case (name, v) =>
      // an overwrite's removal list covers every catalog-visible file
      // (it removes the table-local live superset), so replaying [v]
      // alone is exact — the lineage TRUNCATES instead of growing,
      // bounding entry size for overwrite-style tables
      name -> (if (byName(name)) Seq(v)
               else e.versions.getOrElse(name, Seq.empty) :+ v)
    }
    // Append-heavy sinks (one version per streaming micro-batch) would
    // otherwise grow every subsequent ENTRY by one version forever —
    // O(txns) metadata per entry. Past the cap, squash the lineage to a
    // single metadata-only file-list version (the [[compactLineage]]
    // move applied automatically at commit time): O(|live files|)
    // driver work, zero data rewritten, time travel unaffected (older
    // entries keep replaying their own lineages).
    val maxLineage =
      Overlap.confInt(spark, "spark.graft.catalog.maxLineage", 64)
    var tables = e.tables ++ created
    val capped = lists.map { case (name, lin) =>
      if (lin.length <= maxLineage) name -> lin
      else {
        val table = tablePath(catalog, name)
        val v = TxnTable.publishFileList(table, liveForLineage(table, lin), tag)
        tables += name -> v
        name -> Seq(v)
      }
    }
    publishEntry(catalog,
      e.copy(txn = txn, tables = tables, versions = capped, tag = tag))
  }

  /** Zero-copy CATALOG CLONE — the dev-sandbox-from-prod move: every
    * regular file under `src` (table data, deletion vectors, per-table
    * logs and checkpoints, catalog entries — the FULL metadata tree)
    * hard-links into the identical relative layout at `dst`. Unlike
    * [[TxnTable.cloneShallow]] (which collapses a snapshot to a fresh
    * v1), the clone keeps every version number and txn entry intact, so
    * per-table lineages in catalog entries keep resolving and TIME
    * TRAVEL works on the clone across the entire pre-clone history.
    * O(|files|) metadata operations, zero data copied.
    *
    * Divergence is free for the same reason as cloneShallow: both sides
    * only ever ADD files, and each side's vacuum unlinks only its own
    * directory entries. Torn `.tmp` staging files are skipped — a clone
    * taken mid-crash never resurrects a torn entry.
    *
    * The clone is PINNED to the source head observed on entry: catalog
    * entries past that txn and per-table log/checkpoint entries past the
    * highest version any pinned entry references are skipped, so a
    * commit racing the walk can never produce a TORN clone (a linked
    * entry whose data files the walk had already passed by). Everything
    * a pinned entry references existed before the pin, so the walk is
    * complete for it; data files a racer stages mid-walk link over as
    * harmless catalog-invisible orphans (the clone's vacuum sweeps
    * them). Returns the cloned head txn (= the pin). */
  def cloneCatalog(src: String, dst: String): Int = {
    val all = entries(src)
    val head = all.lastOption.fold(0)(_.txn)
    require(head >= 1, s"nothing to clone: $src has no txns")
    require(currentTxn(dst) == 0 && !new File(dst).exists(),
      s"clone target $dst already exists")
    // highest table version ANY entry ≤ head references (not just the
    // head's mapping — a restore's head maps to OLD versions while
    // earlier entries still travel to newer ones)
    val pinned: Map[String, Int] = all
      .flatMap(e => e.versions.map { case (n, lin) => n -> (lin ++ e.tables.get(n)).max })
      .groupMapReduce(_._1)(_._2)(math.max)
    val srcPath = new File(src).toPath
    val dstPath = new File(dst).toPath
    val txnRel = srcPath.relativize(txnDir(src).toPath)
    def pastPin(p: java.nio.file.Path): Boolean = {
      val name = p.getFileName.toString
      val rel = srcPath.relativize(p)
      if (rel.startsWith(txnRel) && name.matches("t\\d{5}\\.json"))
        txnOf(p.toFile) > head
      else if (rel.getNameCount == 3 &&
          rel.getName(1).toString == "_graft_log" &&
          name.matches("[vc]\\d{5}\\.json"))
        name.drop(1).stripSuffix(".json").toInt >
          pinned.getOrElse(rel.getName(0).toString, 0)
      else false
    }
    val stream = Files.walk(srcPath)
    try {
      stream.filter(p => Files.isRegularFile(p)).forEach { p =>
        if (!AtomicFile.isTmp(p.getFileName.toString) && !pastPin(p)) {
          val to = dstPath.resolve(srcPath.relativize(p))
          Files.createDirectories(to.getParent)
          if (!AtomicFile.link(p, to))
            throw new java.nio.file.FileAlreadyExistsException(to.toString)
        }
      }
    } finally stream.close()
    currentTxn(dst)
  }

  /** Catalog WRITE-AUDIT-PUBLISH — [[TxnTable.publishFrom]] raised to
    * the whole warehouse: `branch` is a [[cloneCatalog]] of `main`,
    * audited with any number of [[commitAll]] transactions (loads,
    * merges, deletes, schema changes — anything), and the entire audit
    * becomes visible on `main` as ONE catalog entry: `main`'s head
    * snapshot overlaid with the branch's state for every table the
    * audit TOUCHED, squashed to `main`'s next txn. Only the touched
    * tables' new files and log entries hard-link over (crash =
    * invisible orphans); the put-if-absent entry publish is the single
    * commit point, so readers see the audit entirely or not at all.
    *
    * Concurrency is TABLE-SCOPED: the fork point is the longest prefix
    * of txn entries the two catalogs share BY INODE IDENTITY (txn
    * numbers can collide across a divergence and even serialize
    * identically — content and numbering comparisons are not sound;
    * inodes are). Two audits forked from the same head may both publish
    * as long as the table sets they touched are DISJOINT from what
    * `main` accumulated since each one's fork — the lakehouse norm
    * (Delta/Iceberg serialize on conflicting tables only, not the
    * warehouse). A touched-table conflict refuses: re-clone and replay
    * the audit. Within a touched table, every file `main` holds must
    * still be the branch's same inode — an out-of-band mutation the
    * entry diff cannot see also refuses. A concurrent `main` writer
    * racing the publish itself loses to the same link(2) adjudication
    * every commit uses. Returns the published txn (`main`'s head when
    * the branch never diverged). */
  def publishFrom(branch: String, main: String,
                  tag: Option[String] = None): Int = {
    val mainTxn = currentTxn(main)
    val branchTxn = currentTxn(branch)
    require(mainTxn >= 1 && branchTxn >= 1,
      s"$branch (t$branchTxn) / $main (t$mainTxn): nothing to publish")
    val fork = forkTxn(branch, main, branchTxn, mainTxn)
    if (branchTxn == fork) return mainTxn // audit committed nothing
    // the fork entry is one file both catalogs share
    val forkE = entry(branch, Some(fork))
    val (branchE, mainE) = (entry(branch, Some(branchTxn)), entry(main, Some(mainTxn)))
    val auditTables = branchE.changedFrom(forkE)
    // an audit whose NET state equals the fork (e.g. commits then a
    // restore back) has nothing to publish — don't burn a txn on a
    // byte-identical duplicate entry
    if (auditTables.isEmpty) return mainTxn
    val conflicts = auditTables.intersect(mainE.changedFrom(forkE))
    if (conflicts.nonEmpty) throw new WapConflictException(
      s"table(s) ${conflicts.toSeq.sorted.mkString(", ")} changed on BOTH " +
        s"$main and $branch since the fork (t$fork) — re-clone and replay " +
        "the audit")
    // scoped inode fork-safety: within each audited table, anything main
    // holds must be the very file the branch inherited
    for (t <- auditTables) {
      val mDir = new File(tablePath(main, t)).toPath
      val bDir = new File(tablePath(branch, t)).toPath
      if (Files.isDirectory(mDir)) {
        val walk = Files.walk(mDir)
        try walk.filter(p => Files.isRegularFile(p)).forEach { p =>
          if (!AtomicFile.isTmp(p.getFileName.toString)) {
            val b = bDir.resolve(mDir.relativize(p))
            require(Files.isRegularFile(b) &&
              Files.getAttribute(p, "unix:ino") == Files.getAttribute(b, "unix:ino"),
              s"table '$t' of $main diverged from $branch since the fork " +
                s"(${mDir.relativize(p)}) — re-clone and replay the audit")
          }
        } finally walk.close()
      }
    }
    // link the audited tables' files over; pre-existing paths are the
    // shared clone inodes already (verified above), so only new files land
    for (t <- auditTables; if Files.isDirectory(new File(tablePath(branch, t)).toPath))
      AtomicFile.linkTree(new File(tablePath(branch, t)).toPath,
        new File(tablePath(main, t)).toPath)
    publishEntry(main,
      mainE.overlay(branchE, auditTables).copy(txn = mainTxn + 1, tag = tag))
  }

  /** [[publishFrom]]'s refusal when an audited table also changed on
    * main since the fork — TYPED so [[publishFromOrRebase]]'s dispatch
    * doesn't hang off exception prose. Extends IllegalArgumentException
    * to keep `require`-style handling at existing call sites. */
  final class WapConflictException(msg: String)
      extends IllegalArgumentException(msg)

  /** The last catalog txn `branch` shares with `main` BY INODE — version
    * numbers are not fork identity (two catalogs can both be "at t3" with
    * different histories); the shared hard-linked entry file is. */
  private def forkTxn(branch: String, main: String,
                      branchTxn: Int, mainTxn: Int): Int = {
    def entryIno(cat: String, t: Int): Option[AnyRef] = {
      val f = entryFile(cat, t)
      if (f.isFile) Some(Files.getAttribute(f.toPath, "unix:ino")) else None
    }
    val fork = (1 to math.min(mainTxn, branchTxn)).takeWhile { t =>
      val (m, b) = (entryIno(main, t), entryIno(branch, t))
      m.isDefined && m == b
    }.lastOption.getOrElse(0)
    require(fork >= 1,
      s"$branch is not a clone of $main — no shared txn entry")
    fork
  }

  /** WAP AUTO-REBASE — [[publishFrom]] with the manual re-clone-and-
    * replay loop automated: when the publish refuses because a table
    * changed on BOTH sides since the fork, re-fork a fresh clone from
    * `main`'s CURRENT head, replay the audit's kept writes onto it, and
    * publish that. The replay is mechanical because the branch's ledgers
    * hold everything needed:
    *
    *  - a NON-conflicted audited table's state in the new clone equals
    *    its fork state, so its branch log entries (version numbers and
    *    all) and data files link over verbatim;
    *  - a CONFLICTED table rebases only if the audit's versions are PURE
    *    APPENDS (no removals, no re-lists — [[TxnTable.addedFiles]]'s
    *    contract): the appended files re-publish as fresh versions on
    *    top of main's advanced head. An audit that overwrote, deleted,
    *    or remapped columns on a table main also changed is a GENUINE
    *    conflict — it refuses, because replaying a removal computed
    *    against the fork's file set onto a different head would remove
    *    the wrong rows.
    *
    * The rebase clone lands beside the branch (`<branch>_rebase<k>`) and
    * is published with ONE catalog txn, then [[publishFrom]] completes
    * as usual. Returns main's new head txn. The original branch is left
    * untouched (still a valid audit trail). */
  def publishFromOrRebase(branch: String, main: String,
                          tag: Option[String] = None): Int = {
    try publishFrom(branch, main, tag)
    catch {
      case _: WapConflictException => rebaseAndPublish(branch, main, tag)
    }
  }

  private def rebaseAndPublish(branch: String, main: String,
                               tag: Option[String]): Int = {
    val mainTxn = currentTxn(main)
    val branchTxn = currentTxn(branch)
    val fork = forkTxn(branch, main, branchTxn, mainTxn)
    val forkE = entry(branch, Some(fork))
    val (branchE, mainE) = (entry(branch, Some(branchTxn)), entry(main, Some(mainTxn)))
    val auditTables = branchE.changedFrom(forkE)
    val conflicts = auditTables.intersect(mainE.changedFrom(forkE))
    // the audit's colmap/drop changes on a conflicted table cannot be
    // re-applied over main's independent changes — genuine conflict
    for (t <- conflicts)
      require(branchE.colmap.get(t) == forkE.colmap.get(t) &&
          branchE.drops.get(t) == forkE.drops.get(t),
        s"table '$t' changed on both sides AND the audit remapped/dropped " +
          "columns on it — cannot rebase; re-run the audit on a new clone")
    // conflicted tables must be pure appends on the audit side, and the
    // appended files must not collide with anything main now holds
    val appended: Map[String, Seq[Seq[String]]] = conflicts.toSeq.map { t =>
      val tPath = tablePath(branch, t)
      // a table the FORK never had but both sides now hold was CREATED
      // independently on each — same name, unrelated content; replaying
      // the audit's rows on top of main's would silently union two
      // different tables. Genuine conflict.
      require(forkE.tables.contains(t),
        s"table '$t' was created independently on both $main and the " +
          "audit since the fork — cannot rebase; re-run the audit on a " +
          "new clone")
      val from = forkE.tables(t)
      val to = branchE.tables.getOrElse(t,
        throw new IllegalArgumentException(
          s"table '$t' was dropped by the audit but changed on $main — " +
            "cannot rebase"))
      require(to > from,
        s"table '$t': audit moved it backwards (restore) while $main " +
          "changed it — cannot rebase; re-run the audit on a new clone")
      val perVersion = (from + 1 to to).map { v =>
        val f = new File(TxnTable.logDir(tPath), f"v$v%05d.json")
        require(f.isFile, s"table '$t': missing branch log entry v$v")
        val (added, removed) = TxnTable.parseEntry(f)
        require(removed.isEmpty,
          s"table '$t' changed on both sides and the audit REMOVED files " +
            s"in v$v — a removal computed against the fork cannot replay " +
            "onto main's head; re-run the audit on a new clone")
        // a deletion-vector commit (MOR delete) has removed=[] but is a
        // ROW REMOVAL addressed at fork-era (file, row) positions — on
        // main's advanced head those addresses may point at rewritten or
        // vanished files, silently deleting nothing (or the wrong rows)
        require(added.forall(!_.startsWith("dv/")),
          s"table '$t' changed on both sides and the audit added a " +
            s"DELETION VECTOR in v$v — row addresses computed against " +
            "the fork cannot replay onto main's head; re-run the audit " +
            "on a new clone")
        added
      }
      // a re-list (squash) re-adds fork-live files — refuse like addedFiles
      val forkLive = TxnTable.liveFiles(tPath, Some(from)).toSet
      perVersion.foreach { vs =>
        val relist = vs.filter(forkLive)
        require(relist.isEmpty,
          s"table '$t': the audit squashed its lineage (re-list of " +
            s"${relist.size} file(s)) — cannot rebase; re-run the audit")
      }
      t -> perVersion
    }.toMap
    // fresh clone of main's head — the rebase target
    var k = 1
    while (new File(s"${branch}_rebase$k").exists()) k += 1
    val reb = s"${branch}_rebase$k"
    val rebTxnAtClone = cloneCatalog(main, reb)
    // replay: non-conflicted tables link verbatim (log entries included —
    // their base state in the clone equals the fork state); conflicted
    // tables re-publish their appended files as fresh versions
    for (t <- auditTables -- conflicts) {
      val bDir = new File(tablePath(branch, t)).toPath
      if (Files.isDirectory(bDir))
        AtomicFile.linkTree(bDir, new File(tablePath(reb, t)).toPath)
    }
    val newVersions = appended.map { case (t, perVersion) =>
      val bPath = tablePath(branch, t)
      val rPath = tablePath(reb, t)
      perVersion.flatten.foreach { rel =>
        val from = new File(bPath, rel).toPath
        val to = new File(rPath, rel).toPath
        require(!Files.exists(to) ||
            Files.getAttribute(to, "unix:ino") ==
              Files.getAttribute(from, "unix:ino"),
          s"table '$t': audit file $rel collides with a different file " +
            s"on $main — cannot rebase")
        if (!Files.exists(to)) {
          Files.createDirectories(to.getParent)
          AtomicFile.link(from, to)
        }
      }
      t -> perVersion.map(files =>
        TxnTable.publishFileList(rPath, files, tag = Some("rebase")))
    }
    // one catalog txn on the rebase clone carrying the whole audit
    val rebE = entry(reb, Some(rebTxnAtClone))
    val out = rebE.overlay(branchE, auditTables -- conflicts)
    publishEntry(reb, out.copy(txn = rebTxnAtClone + 1, tag = tag,
      tables = out.tables ++ newVersions.map { case (t, vs) => t -> vs.max },
      versions = out.versions ++ newVersions.map { case (t, vs) =>
        t -> (rebE.versions.getOrElse(t, Seq.empty) ++ vs) }))
    publishFrom(reb, main, tag)
  }

  /** The catalog's OCC RETRY loop — [[TxnTable.commitWithRetry]]'s
    * multi-table sibling: on a lost catalog-entry race, re-read the head
    * and re-stage the whole transaction. Each attempt writes fresh table
    * versions; a losing attempt's versions stay catalog-invisible
    * orphans for vacuum, exactly the documented crash shape. */
  def commitAllWithRetry(spark: SparkSession, catalog: String,
                         writes: Seq[Write], maxAttempts: Int = 3,
                         tag: Option[String] = None): Int = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    var attempt = 0
    while (true) {
      attempt += 1
      try {
        return commitAll(spark, catalog, writes,
          expectedTxn = Some(currentTxn(catalog) + 1), tag = tag)
      } catch {
        case e: java.util.ConcurrentModificationException =>
          if (attempt >= maxAttempts) throw e
      }
    }
    -1 // unreachable
  }

  /** Zero-copy catalog ROLLBACK: a new transaction whose table mapping
    * equals `toTxn`'s — no per-table commits at all, every table snaps
    * back together. The rolled-back transactions stay travelable
    * (history is append-only), and reads through the restore resolve
    * each table's files from the ORIGINAL creating entries, exactly as
    * any other snapshot read. The multi-table sibling of
    * [[TxnTable.restore]]. */
  def restore(catalog: String, toTxn: Int,
              expectedTxn: Option[Int] = None,
              tag: Option[String] = None): Int = {
    val txn = expectedTxn.getOrElse(currentTxn(catalog) + 1)
    require(toTxn >= 1 && toTxn < txn - 1,
      s"cannot restore $catalog to t$toTxn from t${txn - 1} — the target " +
        "must be strictly before the current head")
    publishEntry(catalog, entry(catalog, Some(toTxn)).copy(txn = txn, tag = tag))
  }

  /** Register every table of ONE catalog snapshot as a temp view
    * (`<prefix><name>`) — the SQL façade: `spark.sql` joins across the
    * views see a single consistent transaction, because each view's
    * file list was pinned by the same entry. Returns the snapshot's
    * transaction number. */
  def registerViews(spark: SparkSession, catalog: String,
                    asOf: Option[Int] = None,
                    prefix: String = ""): Int = {
    val e = entry(catalog, asOf)
    if (e.txn == 0)
      throw new IllegalArgumentException(s"no committed transaction in $catalog")
    e.versions.keys.foreach { n =>
      readAt(spark, catalog, e, n, Some(e.txn)).createOrReplaceTempView(prefix + n)
    }
    e.txn
  }

  /** Zero-copy LINEAGE CHECKPOINT for one table: an append-heavy table
    * (e.g. the streaming catalog sink at one version per micro-batch)
    * grows its per-entry `versions` list O(txns) — after 10k batches
    * every new catalog entry re-lists 10k versions and reads replay 10k
    * log entries. This publishes ONE metadata-only table version whose
    * log entry re-lists the snapshot's live files
    * ([[TxnTable.publishFileList]] — no data written, no bytes moved)
    * and a catalog entry whose lineage for `name` is just `[that
    * version]`. Every later transaction inherits the truncated lineage;
    * older entries still travel (their lineages are untouched); vacuum
    * keeps every file any entry references, exactly as before. The
    * overwrite-truncation idea extended to append-only tables. */
  def compactLineage(spark: SparkSession, catalog: String, name: String,
                     expectedTxn: Option[Int] = None,
                     tag: Option[String] = None): Int = {
    checkName(name)
    val (txn, e) = nextTxn(catalog, expectedTxn)
    require(txn >= 2,
      s"no committed transaction in $catalog to compact from")
    val table = tablePath(catalog, name)
    val live = liveForLineage(table, lineageOf(catalog, e, name))
    require(live.nonEmpty, s"no live files for '$name' in $catalog")
    // the squash version must come AFTER every lineage version (readers
    // replay in version order); a racing table writer loses on the
    // put-if-absent publish exactly like any commit
    val v = TxnTable.publishFileList(table, live, tag)
    publishEntry(catalog, e.copy(txn = txn, tables = e.tables + (name -> v),
      versions = e.versions + (name -> Seq(v)), tag = tag))
  }

  /** Catalog-level MERGE-ON-READ DELETE: one metadata-light transaction
    * whose only table change is a deletion-vector version — the predicate
    * addresses the CATALOG-visible snapshot (lineage-pinned; a plain
    * `TxnTable.deleteWhereMor` would address the table-local live set,
    * which may include orphans from failed transactions). The vector
    * version appends to the lineage; reads anti-join it exactly as
    * TxnTable does; no data file moves. No-op (no entry published,
    * current txn returned) when nothing matches. Returns
    * (txn, rows marked). */
  def deleteWhereMor(spark: SparkSession, catalog: String, name: String,
                     predicate: org.apache.spark.sql.Column,
                     expectedTxn: Option[Int] = None,
                     tag: Option[String] = None): (Int, Long) = {
    val (txn, counts) =
      forgetWhere(spark, catalog, Map(name -> predicate), expectedTxn, tag)
    (txn, counts(name))
  }

  /** RENAME COLUMN without rewriting a byte — Delta column-mapping in
    * its minimal honest form: physical parquet column names NEVER
    * change; one catalog entry updates the table's physical→logical
    * map, [[read]] renames at scan time, [[commitAll]] reverse-maps
    * incoming logical frames back to the physical schema, and
    * predicate-taking operations ([[deleteWhereMor]], [[forgetWhere]])
    * resolve logical names before filtering. Time travel and restore
    * resolve names from their own entry, so pre-rename snapshots read
    * under the old name. Zero table commits — a pure metadata
    * transaction. */
  def renameColumn(spark: SparkSession, catalog: String, name: String,
                   from: String, to: String,
                   expectedTxn: Option[Int] = None,
                   tag: Option[String] = None): Int = {
    checkName(name)
    require(to.matches("[A-Za-z0-9_]+"),
      s"logical column name must be [A-Za-z0-9_]+: '$to'")
    val (txn, e) = nextTxn(catalog, expectedTxn)
    require(txn >= 2, s"no committed transaction in $catalog to rename in")
    val tmap = e.colmap.getOrElse(name, Map.empty)
    val snapshot = readAt(spark, catalog, e, name, Some(txn - 1))
    require(snapshot.columns.contains(from),
      s"column '$from' does not exist in '$name' " +
        s"(has: ${snapshot.columns.mkString(", ")})")
    require(!snapshot.columns.contains(to),
      s"column '$to' already exists in '$name'")
    // `from` is the current LOGICAL name: find its physical carrier
    // (identity when never renamed)
    val phys = tmap.collectFirst { case (p, l) if l == from => p }
      .getOrElse(from)
    val newTmap =
      if (phys == to) tmap - phys // renamed back to the physical name
      else tmap + (phys -> to)
    require(!e.drops.getOrElse(name, Set.empty).contains(to),
      s"'$to' is a DROPPED physical column of '$name' — reads would hide " +
        "the renamed column; pick another name")
    publishEntry(catalog,
      e.copy(txn = txn, colmap = e.colmap + (name -> newTmap), tag = tag))
  }

  /** DROP COLUMN without rewriting a byte — the third leg of zero-
    * rewrite schema evolution (add = mergeSchema, rename = [[renameColumn]]):
    * one metadata entry marks the PHYSICAL column dropped; reads hide
    * it, [[commitAll]] refuses a frame that would silently re-add it,
    * and older snapshots (time travel, restore) still show it. The
    * bytes stay until the files themselves are rewritten (optimize) or
    * vacuumed with their snapshots. */
  def dropColumn(spark: SparkSession, catalog: String, name: String,
                 colName: String,
                 expectedTxn: Option[Int] = None,
                 tag: Option[String] = None): Int = {
    checkName(name)
    val (txn, e) = nextTxn(catalog, expectedTxn)
    require(txn >= 2, s"no committed transaction in $catalog to drop from")
    val snapshot = readAt(spark, catalog, e, name, Some(txn - 1))
    require(snapshot.columns.contains(colName),
      s"column '$colName' does not exist in '$name' " +
        s"(has: ${snapshot.columns.mkString(", ")})")
    require(snapshot.columns.length > 1,
      s"cannot drop the last visible column of '$name'")
    val tmap = e.colmap.getOrElse(name, Map.empty)
    // resolve logical -> physical; a renamed column drops by its carrier
    val phys = tmap.collectFirst { case (p, l) if l == colName => p }
      .getOrElse(colName)
    publishEntry(catalog, e.copy(txn = txn, colmap = e.colmap + (name -> (tmap - phys)),
      drops = e.drops + (name -> (e.drops.getOrElse(name, Set.empty) + phys)),
      tag = tag))
  }

  private def catReplicaFile(dst: String) = new File(dst, "_graft_replica.json")

  /** CATALOG-LEVEL replication — the multi-table DR story: mirror `src`
    * into `dst` with O(Δ txns) per sync and the consistency guarantee a
    * warehouse actually needs, CROSS-TABLE SNAPSHOT ATOMICITY. For each
    * unsynced catalog transaction: every per-table log entry in its
    * version lineage copies first (atomic tmp+move; equality-verified
    * if the slot is somehow occupied — a foreign entry is a fork and
    * refuses), then that version's data files (skip-if-present,
    * skip-if-src-vacuumed: the mirror reflects the source's retention),
    * then — LAST — the catalog txn entry via the same put-if-absent
    * link(2) every commit here uses. A replica reader therefore sees
    * whole transactions or nothing, even mid-sync, even mid-crash; a
    * crashed sync resumes idempotently from the marker's watermark.
    *
    * Unlike [[TxnTable.replicate]] there is NO seed collapse: catalog
    * entries pin per-table version LINEAGES by NUMBER, so the per-table
    * logs must replay with their original numbering — the mirror is
    * full-fidelity (catalog restore, time travel, and per-table as-of
    * reads all work at the replica). Constraints files travel per sync.
    * Returns (replica head txn, files copied). */
  def replicate(src: String, dst: String): (Int, Int) = Trace.span("sources.replicate") {
    val head = currentTxn(src)
    require(head >= 1, s"nothing to replicate: $src has no txns")
    val srcAbs = new File(src).getAbsolutePath
    var copied = 0
    def copyVerified(rel: String): Unit = {
      val from = new File(src, rel)
      val to = new File(dst, rel)
      if (AtomicFile.copyIfAbsent(from, to)) copied += 1
      else require(java.util.Arrays.equals(Files.readAllBytes(from.toPath),
        Files.readAllBytes(to.toPath)),
        s"replica fork: $dst/$rel differs from the source's entry")
    }
    require(!catPromotedFile(dst).isFile,
      s"$dst was promoted to primary — the old source can no longer sync into it; " +
        "demote it under the new primary instead")
    val marker = catReplicaFile(dst)
    val synced =
      if (marker.isFile) {
        val m = new TxnTable.Marker(marker, "catalog replica", dst)
        require(m.src == srcAbs,
          s"$dst replicates ${m.src}, refusing to sync from $srcAbs")
        val sy = m.int("syncedTxn")
        // a replica forked AHEAD of the source (local txns past the
        // source's head) would otherwise report a clean no-op sync; a
        // legitimate crash-resume is at most one entry past the marker
        // and never past the source's head
        require(currentTxn(dst) <= head,
          s"$dst has local transactions past the source's head t$head — " +
            "a forked replica, refusing to sync")
        sy
      } else {
        require(currentTxn(dst) == 0,
          s"replica target $dst already exists and is not a replica of $srcAbs")
        new File(dst).mkdirs()
        0
      }
    def writeMarker(t: Int): Unit = {
      // promotion race (see TxnTable.replicate's writeMarker): a
      // concurrent promoteReplica moved the marker aside — writing here
      // would resurrect it on a now-primary catalog. The promotion wins.
      require(!catPromotedFile(dst).isFile,
        s"$dst was promoted to primary mid-sync — the promotion wins; " +
          "aborting without resurrecting the replica marker")
      AtomicFile.replace(marker,
        s"""{"src":"$srcAbs","syncedTxn":$t}""".getBytes(StandardCharsets.UTF_8))
    }
    if (!marker.isFile) writeMarker(0)
    // entries carry CUMULATIVE lineages; syncing copies only each
    // entry's DELTA against its predecessor — O(new versions) per txn,
    // not O(history) (a restore's re-listed old versions are in the
    // prior lineage and skip here)
    var prevLin: Map[String, Seq[Int]] =
      if (synced == 0) Map.empty else entry(src, Some(synced)).versions
    ((synced + 1) to head).foreach { t =>
      val file = entryFile(src, t)
      require(file.isFile, s"replication gap: $src has no txn entry t$t")
      // the lineage comes from the very bytes the replica receives
      val bytes = Files.readAllBytes(file.toPath)
      val lin = Entry.parse(new String(bytes, StandardCharsets.UTF_8)).versions
      // the txn's DATA files are the bulk and are order-free among
      // themselves — gather them across every table/version in the
      // lineage delta and fan the copies out; the tiny fork-checked log
      // entries copy serially first, and the catalog entry below (the
      // cross-table commit point) waits for the whole batch
      val dataRels = Seq.newBuilder[String]
      lin.toSeq.sortBy(_._1).foreach { case (name, vs) =>
        val srcTable = tablePath(src, name)
        val known = prevLin.getOrElse(name, Seq.empty).toSet
        vs.filterNot(known.contains).foreach { v =>
          val logRel = f"_graft_log/v$v%05d.json"
          val srcLog = new File(srcTable, logRel)
          require(srcLog.isFile,
            s"replication gap: $src table $name has no log entry v$v")
          copyVerified(s"tables/$name/$logRel")
          val stats = f"_graft_log/stats_v$v%05d.json"
          if (new File(srcTable, stats).isFile)
            dataRels += s"tables/$name/$stats"
          TxnTable.parseEntry(srcLog)._1
            .foreach(f => dataRels += s"tables/$name/$f")
        }
      }
      // missing at src = vacuumed there: the mirror reflects the
      // source's retention
      copied += ParallelCopy.copyAll(src, dst, dataRels.result())(
        _ => ParallelCopy.SkipMissing)
      prevLin = lin
      // the catalog entry LAST — the cross-table commit point: a reader
      // of the replica never sees half a transaction
      txnDir(dst).mkdirs()
      val target = entryFile(dst, t)
      if (!AtomicFile.putIfAbsent(target, bytes))
        require(java.util.Arrays.equals(bytes, Files.readAllBytes(target.toPath)),
          s"replica fork: $dst txn t$t was published by a local writer")
      replicateMidSyncHook(t)
      writeMarker(t)
    }
    // constraints travel UNCONDITIONALLY and ATOMICALLY, once per table
    // per sync (not per txn — a backlog sync would re-copy them per
    // entry), data-less syncs included: a declaration moved between
    // transactions must never leave the replica auditing a stale set.
    // `prevLin` holds the head's lineage now.
    prevLin.keys.toSeq.sorted.foreach { name =>
      val cons = new File(tablePath(src, name), "_graft_constraints.json")
      if (cons.isFile) {
        val to = new File(tablePath(dst, name), "_graft_constraints.json")
        to.getParentFile.mkdirs()
        AtomicFile.replace(to, Files.readAllBytes(cons.toPath))
      }
    }
    (currentTxn(dst), copied)
  }

  private def catPromotedFile(t: String) = new File(t, "_graft_promoted.json")

  /** Spec-only interleaving point, the catalog sibling of
    * [[TxnTable.replicateMidSyncHook]]: invoked between a synced txn's
    * entry publish and its marker write. A no-op in production. */
  private[graft] var replicateMidSyncHook: Int => Unit = _ => ()

  /** FAILOVER, step 1 — PROMOTE a catalog replica to a writable
    * primary: the replica marker moves aside to `_graft_promoted.json`
    * (preserving the lineage [[demoteToReplica]] checks), local commits
    * become legitimate, and the old source can no longer sync in (its
    * next [[replicate]] refuses on the missing marker). Returns the
    * promoted head txn. */
  def promoteReplica(dst: String): Int = {
    val marker = catReplicaFile(dst)
    require(marker.isFile, s"$dst is not a catalog replica — nothing to promote")
    require(currentTxn(dst) >= 1,
      s"$dst has no replicated transactions — sync before promoting")
    AtomicFile.move(marker, catPromotedFile(dst))
    currentTxn(dst)
  }

  /** FAILOVER, step 2 — DEMOTE the old source catalog under its
    * promoted replica, reversing the sync direction: afterwards
    * `replicate(newPrimary, oldSrc)` ships every txn the new primary
    * committed since promotion. Catalog replication is full-fidelity
    * (shared txn numbering), so the adopted marker is exactly the
    * promoted marker with the roles swapped — no version arithmetic.
    *
    * FORK CHECK, refused loudly: the old source's head must equal the
    * last txn the promoted replica ever synced; anything past it is a
    * commit the new primary never saw (the outage's data-loss window) —
    * export it manually before demoting. */
  def demoteToReplica(oldSrc: String, newPrimary: String): Unit = {
    val pm = catPromotedFile(newPrimary)
    require(pm.isFile,
      s"$newPrimary was never promoted from a catalog replica — cannot demote $oldSrc under it")
    val m = new TxnTable.Marker(pm, "promoted", newPrimary)
    val oldAbs = new File(oldSrc).getAbsolutePath
    require(m.src == oldAbs,
      s"$newPrimary was promoted from a replica of ${m.src}, not of $oldAbs")
    require(!catReplicaFile(oldSrc).isFile,
      s"$oldSrc is already a catalog replica — demoting it again is a state error")
    val synced = m.int("syncedTxn")
    val head = currentTxn(oldSrc)
    require(head >= synced,
      s"$oldSrc is at t$head but the promoted replica synced t$synced — " +
        "it lost synced history; re-seed a fresh replica instead")
    // tolerate the sync's publish→marker crash window: a txn past the
    // marker counts as synced iff the new primary's slot holds the
    // byte-identical entry; anything else is a commit the new primary
    // never saw and refuses loudly
    ((synced + 1) to head).foreach { t =>
      val se = entryFile(oldSrc, t)
      val de = entryFile(newPrimary, t)
      require(se.isFile && de.isFile && java.util.Arrays.equals(
        Files.readAllBytes(se.toPath), Files.readAllBytes(de.toPath)),
        s"$oldSrc holds transaction t$t the new primary never saw; " +
          "export it before demoting")
    }
    AtomicFile.replace(catReplicaFile(oldSrc),
      s"""{"src":"${new File(newPrimary).getAbsolutePath}","syncedTxn":$head}"""
        .getBytes(StandardCharsets.UTF_8))
  }

  /** Multi-table atomic FORGET — the right-to-be-forgotten transaction:
    * one predicate per table, each staged as a deletion-vector version
    * against the CATALOG-visible snapshot, all made visible through ONE
    * catalog entry. Readers see the subject erased from every table or
    * from none; a crash between the vector commits and the publish
    * leaves catalog-invisible orphans, exactly like [[commitAll]].
    * Tables whose predicate matches nothing stay at their current
    * version inside the same transaction. Returns (txn, rows marked per
    * table); no entry is published when nothing matched anywhere. */
  def forgetWhere(spark: SparkSession, catalog: String,
                  predicates: Map[String, org.apache.spark.sql.Column],
                  expectedTxn: Option[Int] = None,
                  tag: Option[String] = None): (Int, Map[String, Long]) =
    Trace.span("sources.delete") {
      require(predicates.nonEmpty, "forgetWhere needs at least one table")
      predicates.keys.foreach(checkName)
      val (txn, e) = nextTxn(catalog, expectedTxn)
      require(txn >= 2, s"no committed transaction in $catalog to delete from")
      import org.apache.spark.sql.functions.col
      val staged = predicates.toSeq.sortBy(_._1).map { case (name, pred) =>
        val table = tablePath(catalog, name)
        val addressed = TxnTable
          .fileListWithAddress(spark, table,
            liveForLineage(table, lineageOf(catalog, e, name)))
          .drop(e.drops.getOrElse(name, Set.empty).toSeq: _*)
        // the predicate speaks LOGICAL names; addresses are name-agnostic
        val doomed = renamed(addressed, e.colmap.getOrElse(name, Map.empty))
          .filter(pred)
          .select(col("__fp").as("file_path"), col("__ri").as("row_index"))
        val (v, n) = TxnTable.commitDv(spark, table, doomed,
          TxnTable.currentVersion(table) + 1, tag)
        (name, v, n)
      }
      val counts = staged.map { case (name, _, n) => name -> n }.toMap
      val touched = staged.collect { case (name, v, n) if n > 0L => name -> v }
      if (touched.isEmpty) (currentTxn(catalog), counts)
      else {
        publishEntry(catalog, e.copy(txn = txn, tables = e.tables ++ touched,
          versions = e.versions ++ touched.map { case (name, v) =>
            name -> (e.versions(name) :+ v) },
          tag = tag))
        (txn, counts)
      }
    }

  /** Replay exactly `lineage`'s log entries, in order — the snapshot
    * those versions compose. */
  private def liveForLineage(table: String, lineage: Seq[Int]): Seq[String] = {
    val wanted = lineage.toSet
    TxnTable.replayLog(
      TxnTable.logFiles(table).filter(f => wanted.contains(TxnTable.versionOf(f))))
  }

  /** Catalog-wide VACUUM: physically delete every table data and
    * deletion-vector file that NO catalog entry's lineage references —
    * the bytes crashed and losing transactions stranded (their versions
    * appear in a per-table log but in no published entry). Unlike `TxnTable.vacuum` this
    * keeps EVERY catalog-travelable snapshot intact: any version listed
    * in any entry's lineage keeps all the files its log entry added
    * (even files a later overwrite removed — an older entry still
    * replays them). Dead tmps of crashed writers in `_graft_txn` and in
    * each table, and the commit dirs left empty, go too
    * ([[TxnTable.purge]]). Returns the deleted data and vector file
    * count. */
  def vacuum(catalog: String): Int = Trace.span("sources.vacuum") {
    val keepByTable: Map[String, Set[Int]] = entries(catalog)
      .flatMap(_.versions).groupMapReduce(_._1)(_._2.toSet)(_ ++ _)
    AtomicFile.deleteTmps(txnDir(catalog))
    val tablesDir = new File(catalog, "tables")
    Option(tablesDir.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map { td =>
        val name = td.getName
        val keepVersions = keepByTable.getOrElse(name, Set.empty[Int])
        val keepFiles: Set[String] = TxnTable.logFiles(td.getPath)
          .filter(f => keepVersions.contains(TxnTable.versionOf(f)))
          .flatMap(f => TxnTable.parseEntry(f)._1).toSet
        val doomed = TxnTable.unreferenced(td.getPath, keepFiles)
        TxnTable.purge(td.getPath, doomed)
        doomed.length
      }.sum
  }

  private def publishEntry(catalog: String, e: Entry): Int = {
    e.tag.foreach(t => require(t.matches("[A-Za-z0-9._-]+"),
      s"tag must be [A-Za-z0-9._-]+: '$t'"))
    txnDir(catalog).mkdirs()
    if (!AtomicFile.putIfAbsent(entryFile(catalog, e.txn),
        e.json.getBytes(StandardCharsets.UTF_8)))
      throw new java.util.ConcurrentModificationException(
        s"catalog txn ${e.txn} of $catalog was published by another writer " +
          "(this writer's staged table versions stay orphaned)")
    e.txn
  }

  /** Read `name` as of catalog transaction `asOf` (latest when None).
    *
    * NOT `TxnTable.read(asOf = pinnedVersion)`: the per-table log may
    * hold versions no committed entry references (failed/racing
    * transactions) or versions a [[restore]] rolled off the current
    * branch — a plain head-pinned replay would resurrect either.
    * Replay here walks EXACTLY the entry's own version lineage, in
    * order: the entry IS the snapshot. */
  def read(spark: SparkSession, catalog: String, name: String,
           asOf: Option[Int] = None): DataFrame = {
    checkName(name)
    val e = entry(catalog, asOf)
    require(e.txn > 0, s"no committed transaction in $catalog${asOfText(asOf)}")
    readAt(spark, catalog, e, name, asOf)
  }

  /** [[read]] of `name` from the one entry `e`; `asOf` only labels errors. */
  private def readAt(spark: SparkSession, catalog: String, e: Entry,
                     name: String, asOf: Option[Int]): DataFrame =
    Trace.span("sources.open") {
      val table = tablePath(catalog, name)
      val live = liveForLineage(table, lineageOf(catalog, e, name, asOf))
      require(live.nonEmpty,
        s"no live files for '$name' in $catalog${asOfText(asOf)}")
      // deletion vectors in the lineage apply exactly as in TxnTable.read;
      // dropped physical columns vanish (mergeSchema reconciles pre/post-
      // drop files deterministically), then the column map renames
      val dropped = e.drops.getOrElse(name, Set.empty)
      val base = TxnTable
        .readFileList(spark, table, live, mergeSchema = dropped.nonEmpty)
        .drop(dropped.toSeq: _*)
      renamed(base, e.colmap.getOrElse(name, Map.empty))
    }

  /** Snapshot row count of a catalog table, METADATA-ONLY: the same
    * per-file counts and deletion-vector subtraction as
    * [[TxnTable.snapshotRowCount]], over the lineage-pinned live set —
    * never a Spark job. The emptiness probe a search
    * overlay consults before planning anti-joins/unions over a table
    * that is provably empty. Throws IllegalArgumentException when the
    * table does not exist in the snapshot (same contract as [[read]]). */
  def rowCount(catalog: String, name: String,
               asOf: Option[Int] = None): Long = {
    checkName(name)
    val table = tablePath(catalog, name)
    TxnTable.netRows(TxnTable.fileRowCounts(table,
      liveForLineage(table, lineageOf(catalog, entry(catalog, asOf), name, asOf))))
  }
}
