package graft.plans

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.types._

import graft.Trace
import graft.sources.{MetaStore, SchemaCache, TxnStats, TxnTable}

/** AUTO-INJECTED dynamic file pruning, the engine's one join-driven
  * file prune: a user writing the PLAIN star shape
  *
  *   TxnTable.read(spark, fact).join(dim.filter(...), cond)
  *
  * opens only the fact files the dim's keys can reach, with no bespoke
  * call. The rule recognizes a txn-table parquet scan under one side
  * of an equi-join, evaluates the OTHER side's join keys at planning
  * time (one bounded aggregate, plus at most one gated distinct-key
  * collect — metadata-scale work, never fact bytes), asks
  * [[TxnStats.dfpSkipSet]] which of the scan's files provably hold no
  * joinable row (exact-key gap pruning, or range-only pruning once the
  * dim's distinct-key count passes the cap), and swaps in a scan over
  * the surviving files. Spark's own DPP prunes directory partitions;
  * this is its file-granular sibling for an unpartitioned fact whose
  * LAYOUT clusters the join column — at 100 TB, the difference between
  * opening a handful of files and opening all of them. The reference's
  * flagship query (a fact joined to a filtered dim) is exactly this
  * shape.
  *
  * SOUNDNESS. A side S may be pruned with the other side O's keys only
  * when S's rows reach the output exclusively BY MATCHING — S is
  * filtering-only or null-extending, never preserved:
  *   Inner / LeftSemi → either side; LeftAnti / LeftOuter → right only;
  *   RightOuter → left only; FullOuter / Existence / Cross → neither.
  * The per-file skip decision itself is snapshot-independent (immutable
  * sidecar bounds keyed by file name), so subtracting the skip set from
  * the FILE LIST THE SCAN ALREADY PINS is sound even for time-travel
  * reads. The walk from the join down to the scan descends only
  * through row-preserving-or-filtering nodes (Filter / Project /
  * SubqueryAlias / Join) where removing unjoinable-key rows commutes
  * with the operator; an Aggregate, Window, Limit or Union BLOCKS the
  * walk — through those, early removal could change surviving rows'
  * values. Null-aware anti joins (NOT IN) never match: their condition
  * carries the Or(IsNull…) form, not a bare equality conjunct.
  *
  * GATES (all must pass, cheapest first — the rule must cost ~nothing
  * on the queries it cannot help):
  *  - `spark.graft.autoDfp.enabled` (default true; the kill switch),
  *  - neither join side streaming, every expression under O
  *    deterministic (a non-deterministic dim evaluated at plan time
  *    would disagree with its runtime rows — unsound),
  *  - the scan's column carries a min-max stats sidecar (file-system
  *    check, no IO beyond a listing),
  *  - key/fact types identical or both integral
  *    ([[TxnStats.dfpTypesOk]]), the join key a BARE column of each
  *    side — or a column under the integral WIDENING cast Catalyst
  *    inserts to reconcile mixed-width keys ([[bareKey]]; narrowing
  *    declines),
  *  - O's estimated size ≤ `spark.graft.autoDfp.maxDimBytes` (default
  *    64 MiB) — the plan-time evaluation budget; a huge dim declines
  *    rather than scans. `spark.graft.autoDfp.maxExactKeys` (default
  *    10^6) caps the exact-key mode of [[TxnStats.dfpSkipSet]].
  *
  * Several equalities on one scan prune it once per column and the
  * skips intersect: a conjunctive key (`ON a = x AND b = y`) and a
  * stacked star (`fact ⋈ dimA ⋈ dimB`, the walk descending through
  * the inner join) both land on the cells every dim can reach. Every
  * decision on a txn-table scan is counted under the current
  * [[Trace]] span: `dfp.pruned`, or `dfp.declined.<reason>` with one
  * reason per gate (`unindexed`, `types`, `nondeterministic`,
  * `dimBytes`, `fewFiles`, `nothingSkippable`, `error`).
  *
  * Each pruned (or measured-unprunable) scan is TAGGED with the column
  * so the optimizer's fixed-point re-runs never re-evaluate the dim;
  * a thread-local guards against recursion when the dim evaluation
  * itself plans under this rule. Plan-time evaluation runs the dim
  * subplan once more than the join itself would — the trade is O(dim)
  * metadata-scale work for O(skipped fact files) of IO, the same
  * economics as Spark's own runtime DPP subquery. */
object AutoFilePrune extends Rule[LogicalPlan] with PredicateHelper {

  /** Columns already measured for this scan (pruned or measured-
    * unprunable) — fixed-point re-runs and stacked multi-dim joins
    * skip them instead of re-running the dim. */
  private val prunedTag = TreeNodeTag[Set[String]]("graft.autoDfp.cols")

  private val inFlight = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  /** MEMOIZED skip sets, in [[MetaStore]] under `dfp.skipCache`. The
    * same logical join is re-optimized several times per query — every
    * action wraps the shared analyzed tree in a fresh QueryExecution (a
    * pruned scan lives only in the rewritten output tree, so the tag
    * that stops re-evaluation can't ride along), and a lifecycle query
    * replans its star after every commit — and each re-run re-paid the
    * plan-time dim evaluation (2 small Spark jobs + a sidecar read). The
    * key pins everything the answer depends on: the table root and
    * column, the stats WATERMARK VERSION read live from the sidecar (a
    * refresh by any process bumps it → miss), the exact-key cap, and the
    * CANONICALIZED dim subplan — canonical equality is semantic equality
    * (same rows ⇒ same keys ⇒ same skip set), and a dim whose underlying
    * relation instance changed (new files, new LocalRelation data) never
    * compares equal. Per-file sidecar bounds are immutable facts about
    * immutable files, so a hit can never be unsound — at worst a
    * vacuumed file stays in the set, where subtracting it from the
    * scan's pinned list is a no-op. Values are file-name sets weighed by
    * their size; a set past the store's per-entry bound still prunes,
    * it just re-evaluates live. */
  private final case class SkipKey(root: String, column: String,
                                   watermark: Int, maxKeys: Long,
                                   dim: LogicalPlan)

  /** Canonicalized-plan equality implies identical ROWS only when every
    * leaf is provably immutable: a LocalRelation pins its data, a
    * Range/OneRowRelation is pure, and a HadoopFsRelation over an
    * InMemoryFileIndex pins its file list (immutable files). Catalog /
    * DSv2 relations compare equal by IDENTIFIER across reads that can
    * return different rows — caching a skip set keyed on such a dim
    * could prune files that NOW hold joinable keys. Those dims still
    * prune; they just re-evaluate live on every plan. */
  private def cacheableDim(dim: LogicalPlan): Boolean =
    dim.collectLeaves().forall {
      case _: LocalRelation => true
      case _: Range => true
      case _: OneRowRelation => true
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.isInstanceOf[InMemoryFileIndex]
        case _ => false
      }
      case _ => false
    }

  private def enabled: Boolean =
    conf.getConfString("spark.graft.autoDfp.enabled", "true").toBoolean
  private def maxDimBytes: Long =
    conf.getConfString("spark.graft.autoDfp.maxDimBytes",
      (64L * 1024 * 1024).toString).toLong
  private def maxExactKeys: Long =
    conf.getConfString("spark.graft.autoDfp.maxExactKeys", "1000000").toLong

  /** Micro-batch work replans EVERY batch: a foreachBatch maintenance
    * join (the streaming-sink lifecycle) would re-pay the plan-time
    * dim evaluation once per batch against a batch-sized delta — the
    * one regime where O(dim) planning work can exceed the pruned IO,
    * measured as a 3.5× wall-time regression on the streaming bench
    * family. The rule declines by THREAD, the only ambient marker a
    * foreachBatch body carries (its plans are ordinary batch plans,
    * indistinguishable structurally). Two
    * independent markers, either declines: the thread NAME prefix, and
    * the `StreamExecution.QUERY_ID_KEY` local property Spark sets on
    * the stream thread before running batches (referenced as the class
    * CONSTANT, so a Spark rename breaks the build loudly instead of
    * silently re-opening the 3.5× regression; local properties are
    * thread-inherited, so pool threads spawned inside a batch decline
    * with it). */
  private def onStreamThread: Boolean =
    Thread.currentThread().getName.startsWith("stream execution thread") ||
      SparkSession.getActiveSession.exists(_.sparkContext.getLocalProperty(
        org.apache.spark.sql.execution.streaming.runtime.StreamExecution
          .QUERY_ID_KEY) != null)

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled || inFlight.get() || onStreamThread) plan
    else plan.transformUp {
      case j: Join if j.condition.isDefined &&
          !j.left.isStreaming && !j.right.isStreaming =>
        rewriteJoin(j)
    }

  /** The attribute under a join-key expression, iff pruning on it is
    * sound: bare columns, and integral WIDENING casts only — the form
    * Catalyst itself inserts to reconcile an int fact key with a long
    * dim key. Widening is monotone and injective, so file bounds on
    * the raw column decide exactly what bounds on the cast value
    * would; a NARROWING cast (user-written) truncates — a raw-bounds
    * prune against post-cast keys could skip a matching file — and
    * declines, as does everything else (arithmetic, string ops). */
  private def bareKey(e: Expression): Option[Attribute] = {
    def width(dt: DataType): Option[Int] = dt match {
      case ByteType => Some(1); case ShortType => Some(2)
      case IntegerType => Some(4); case LongType => Some(8)
      case _ => None
    }
    e match {
      case a: AttributeReference => Some(a)
      case c: Cast => c.child match {
        case a: AttributeReference =>
          (width(a.dataType), width(c.dataType)) match {
            case (Some(f), Some(t)) if f <= t => Some(a)
            case _ => None
          }
        case _ => None
      }
      case _ => None
    }
  }

  private def rewriteJoin(j: Join): Join = {
    val eqs: Seq[(Attribute, Attribute)] =
      splitConjunctivePredicates(j.condition.get).flatMap {
        case EqualTo(l, r) =>
          for (a <- bareKey(l); b <- bareKey(r)) yield (a, b)
        case _ => None
      }
    if (eqs.isEmpty) return j
    val (pruneLeft, pruneRight) = j.joinType match {
      case Inner | LeftSemi => (true, true)
      case LeftAnti | LeftOuter => (false, true)
      case RightOuter => (true, false)
      case _ => (false, false)
    }
    var (left, right) = (j.left, j.right)
    eqs.foreach { case (a, b) =>
      // orient each equality: (attr of left side, attr of right side)
      val oriented: Option[(Attribute, Attribute)] =
        if (left.outputSet.contains(a) && right.outputSet.contains(b))
          Some((a, b))
        else if (left.outputSet.contains(b) && right.outputSet.contains(a))
          Some((b, a))
        else None
      oriented.foreach { case (la, ra) =>
        if (pruneLeft) left = pruneSide(left, la, right, ra)
        if (pruneRight) right = pruneSide(right, ra, left, la)
      }
    }
    if ((left eq j.left) && (right eq j.right)) j
    else j.copy(left = left, right = right)
  }

  /** Try to prune the txn scan under `side` that produces `sAttr`,
    * using the keys `oAttr` takes over `other`. Returns `side`
    * unchanged (same reference) when any gate declines. */
  private def pruneSide(side: LogicalPlan, sAttr: Attribute,
                        other: LogicalPlan, oAttr: Attribute): LogicalPlan = {
    val scan = scanFor(side, sAttr).getOrElse(return side)
    val fsRel = scan.relation match {
      // InMemoryFileIndex only: the txn read path's pinned-list index,
      // whose inputFiles is a memory read. Other indexes either pay IO
      // per listing (MetadataLogFileIndex replays the sink log) or are
      // partition-pruned catalogs Spark's own DPP already serves.
      case fs: HadoopFsRelation
          if fs.fileFormat.isInstanceOf[
            org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] &&
            fs.location.isInstanceOf[InMemoryFileIndex] => fs
      case _ => return side
    }
    val already = scan.getTagValue(prunedTag).getOrElse(Set.empty[String])
    val column = sAttr.name
    if (already.contains(column)) return side
    val root = txnRootOf(fsRel).getOrElse(return side)
    // a txn-table scan from here on: every exit counts its outcome
    def decline(reason: String): LogicalPlan = {
      Trace.count(s"dfp.declined.$reason")
      side
    }
    if (!TxnStats.indexedColumns(root).contains(column))
      return decline("unindexed")
    if (!TxnStats.dfpTypesOk(sAttr.dataType, oAttr.dataType))
      return decline("types")
    // non-determinism anywhere under O: plan-time keys could disagree
    // with O's runtime rows. Sample carries its non-determinism in the
    // OPERATOR (partition-layout-dependent), not its expressions.
    if (other.exists {
      case _: Sample => true
      case p => p.expressions.exists(e => !e.deterministic)
    }) return decline("nondeterministic")
    if (other.stats.sizeInBytes > BigInt(maxDimBytes))
      return decline("dimBytes")

    val spark = SparkSession.active
    val rootAbs = new File(root).getAbsolutePath
    val scanFiles = fsRel.location.inputFiles.toSeq
    if (scanFiles.size < 2) return decline("fewFiles")

    val dimPlan = Project(Seq(oAttr), other)
    def evaluate(): Option[Set[String]] = {
      inFlight.set(true)
      try {
        val keys = org.apache.spark.sql.graftshim.PlanDataFrame.ofRows(
          spark, dimPlan)
        Trace.span("plans.dfp")(
          TxnStats.dfpSkipSet(spark, root, column, sAttr.dataType, keys,
            maxExactKeys))
      } finally inFlight.set(false)
    }
    val skipOpt =
      // a provably empty dim has no joinable key: no plan-time job
      if (other.maxRows.contains(0L)) None
      else try {
        // failures are never cached, nor are mutable-leaf dims
        // (cacheableDim); an uncacheable dim counts as a miss
        if (cacheableDim(other))
          MetaStore.memo[Option[Set[String]]]("dfp.skipCache",
            SkipKey(rootAbs, column, TxnStats.indexedVersion(root, column),
              maxExactKeys, dimPlan.canonicalized))(
            _.fold(0L)(_.size.toLong))(evaluate())
        else { Trace.count("dfp.skipCache.miss"); evaluate() }
      } catch {
        // the prune is an optimization: any surprise (concurrent
        // vacuum of the sidecar, type drift) declines, never fails
        // the query
        case scala.util.control.NonFatal(_) =>
          markMeasured(scan, already + column)
          return decline("error")
      }

    val keep = skipOpt match {
      case None => Seq.empty // dim has no joinable key: nothing matches
      case Some(skip) => scanFiles.filterNot(f =>
        skip.contains(localPath(f).stripPrefix(rootAbs + "/")))
    }
    if (keep.size == scanFiles.size) {
      // measured, nothing skippable — remember so fixed-point re-runs
      // don't re-run the dim aggregate
      markMeasured(scan, already + column)
      return decline("nothingSkippable")
    }
    // all-skippable still reads one (skipped ⇒ provably unjoinable ⇒
    // the join drops its rows): the scan keeps its schema and the
    // plan shape stays a plain parquet read
    val pick = (if (keep.nonEmpty) keep else scanFiles.take(1)).toSet
    // the scan's own statuses: the narrowed index stats nothing again
    val newIndex = SchemaCache.fileIndex(fsRel.sparkSession,
      fsRel.location.asInstanceOf[InMemoryFileIndex].allFiles()
        .filter(f => pick.contains(f.getPath.toUri.toString)),
      fsRel.options, Some(fsRel.dataSchema))
    val newRel = fsRel.copy(location = newIndex)(fsRel.sparkSession)
    val newScan = scan.copy(relation = newRel)
    newScan.copyTagsFrom(scan)
    markMeasured(newScan, already + column)
    Trace.count("dfp.pruned")
    side.transformUp { case l if l eq scan => newScan }
  }

  private def markMeasured(scan: LogicalRelation, cols: Set[String]): Unit =
    scan.setTagValue(prunedTag, cols)

  /** Descend from the prunable side's root to the txn scan producing
    * `attr`, through nodes where removing unjoinable-key rows commutes:
    * Filter and Project only filter/rename rows; a Join only
    * filters/duplicates/null-extends per-side rows (a null-extended
    * replacement row carries a NULL key and dies at the pruning join
    * itself). Anything else — Aggregate, Window, Limit, Union,
    * Generate — blocks: through those, early removal can change
    * SURVIVING rows' values or selection. */
  private[plans] def scanFor(p: LogicalPlan, attr: Attribute): Option[LogicalRelation] =
    p match {
      case lr: LogicalRelation if lr.outputSet.contains(attr) => Some(lr)
      case f: Filter => scanFor(f.child, attr)
      case pr: Project if pr.outputSet.contains(attr) => scanFor(pr.child, attr)
      case s: SubqueryAlias => scanFor(s.child, attr)
      case jn: Join =>
        if (jn.left.outputSet.contains(attr)) scanFor(jn.left, attr)
        else if (jn.right.outputSet.contains(attr)) scanFor(jn.right, attr)
        else None
      case _ => None
    }

  /** The txn-table root owning EVERY file of the scan (the dir with a
    * `_graft_log`), if one exists. Resolved live on every call, one
    * ancestry walk per distinct parent dir, so a table another process
    * creates under a previously plain dir prunes on its next plan. */
  private[plans] def txnRootOf(fs: HadoopFsRelation): Option[String] = {
    val files = fs.location.inputFiles
    if (files.isEmpty) return None
    // ancestry-walk per DISTINCT parent dir, not per file — a txn scan
    // pins hundreds of siblings of the one table root
    val parents = files.toSeq.map(f => new File(localPath(f)).getParentFile)
      .distinct
    val roots = parents.map(TxnTable.tableRootOf(_).map(_.getAbsolutePath))
    if (roots.forall(_.isDefined) && roots.flatten.distinct.size == 1)
      roots.head
    else None
  }

  /** A scan's file URI as a local absolute path. */
  private def localPath(uri: String): String =
    if (uri.startsWith("file:")) new File(new java.net.URI(uri)).getAbsolutePath
    else uri

  /** The distinct files under `table` that `df`'s optimized plan scans:
    * the observable effect of this rule on a join over that table. */
  private[graft] def filesScanned(df: DataFrame, table: String): Int = {
    val prefix = new File(table).getAbsolutePath + "/"
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.inputFiles.toSeq
        case _ => Nil
      }
    }.flatten.map(localPath).filter(_.startsWith(prefix)).distinct.size
  }
}
