package graft.plans

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, countDistinct, lit, max, min, sum}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Materialized-view auto-rewrite (engine-added): an optimizer rule that
  * answers GROUP-BY aggregates over a registered base table FROM its
  * pre-aggregated summary — the classic OLAP cube/rollup-cache trade,
  * done where a Spark-native engine should do it: in Catalyst, so USER
  * QUERIES DON'T CHANGE. A query that groups by a subset of the view's
  * keys re-aggregates the summary (sums of sums, min of mins, sum of
  * counts) and never touches the fact scan — at 100 TB that is the
  * difference between re-reading the table and reading a few thousand
  * rows.
  *
  * Soundness gates (anything else falls through to the base scan):
  *  - grouping columns ⊆ the view's key columns;
  *  - WHERE clauses are DETERMINISTIC and reference key columns only
  *    (filter-then-aggregate commutes with re-aggregation exactly when
  *    the predicate is constant within each summary row; a
  *    non-deterministic predicate such as rand() < 0.5 would silently
  *    sample GROUPS instead of rows, so it is refused outright);
  *  - aggregates over registered measure columns:
  *    `SUM(intCol)` → `SUM(sum_col)` (views store BIGINT sums — integer
  *    SUM composes losslessly, which is why [[Mv.build]] refuses
  *    non-integral inputs); `MIN`/`MAX` → `MIN(min_col)`/`MAX(max_col)`
  *    (kept in the base column's type, so result types are unchanged);
  *    `AVG` → exact `SUM(sum_col) / SUM(cnt_col)` pair (cnt_col counts
  *    the NON-NULL measure rows, preserving AVG's null semantics; the
  *    integer sums are exact, so the single final division is
  *    bit-reproducible); `COUNT(*)`/`COUNT(lit)` → `COALESCE(SUM(cnt),
  *    0)` (the coalesce preserves COUNT's zero-on-empty contract);
  *    `COUNT(measureCol)` → `SUM(cnt_col)` (the per-group non-null
  *    count already stored for AVG); `COUNT(keyCol)` →
  *    `SUM(IF(key IS NOT NULL, cnt, 0))` (null key rows live in
  *    NULL-key summary groups);
  *  - DISTINCT aggregates over KEY columns re-apply verbatim on the
  *    summary — the view's grain partitions base rows by the full key
  *    tuple, so the distinct set of any key subset within any coarser
  *    group is exactly its distinct set over the summary rows:
  *    `COUNT(DISTINCT k…)`/`SUM(DISTINCT k)` read thousands of summary
  *    rows instead of the fact scan Spark would otherwise need (the
  *    expensive two-shuffle distinct runs over the summary). DISTINCT
  *    over a MEASURE column is unrecoverable from sums → declines.
  *    A summary built before a capability existed simply lacks the
  *    column and the rewrite declines — never a wrong answer.
  *
  * JOIN-AWARE rewrites ([[MvStarDef]]): a summary built over a
  * star/snowflake join answers aggregates over that same all-INNER
  * equi-join tree — the OLAP summary cache. The match compares the
  * flattened LEAF SET and CONDITION SET (unordered name pairs), so
  * Catalyst's join reordering cannot break it; every soundness gate
  * above then applies with the joined relation as "the base". Each
  * dimension's key uniqueness is enforced at build time — the one
  * property that makes pre-aggregating through joins sound.
  *
  * The rewrite preserves every output name AND exprId, so the
  * downstream plan never knows. Staleness: a view registered against a
  * plain parquet path is the registrar's contract (rebuild +
  * re-register after base loads); a view registered against a
  * [[graft.sources.TxnTable]] via [[Mv.registerTxn]] matches the scan's
  * exact FILE SET, so the moment the table commits past the
  * summarized version the live read's files differ and queries fall
  * back to the base scan automatically — stale answers are structurally
  * impossible, and [[Mv.refreshTxn]] (additive merge over the appended
  * files, [[graft.operators.Incremental.mergeAdditive]]) is the
  * re-validation path. Kill switch:
  * `spark.graft.mvRewrite.enabled=false`.
  */
object MvRewrite extends Rule[LogicalPlan] {

  /** One registered summary. A `fileSet` registration (txn tables)
    * matches scans whose root-path set is EXACTLY those files; a
    * `baseSuffix` registration matches scans whose root path ends with
    * the suffix at a path-segment boundary (so `lineitem.parquet`
    * cannot claim `my_lineitem.parquet`). `template` is the analyzed
    * relation of the summary parquet (re-instanced per rewrite so
    * attribute ids never collide across subtrees). */
  final case class MvDef(baseSuffix: String, keys: Seq[String],
                         sumCols: Seq[String], template: LogicalRelation,
                         fileSet: Option[Set[String]] = None)

  /** A JOIN-AWARE summary: a pre-aggregated star/snowflake join — the
    * OLAP summary cache. `suffixes` names every participating scan
    * (fact + dims, each segment-anchored, all distinct); `edges` is the
    * INNER join equi-condition set as UNORDERED column-name pairs.
    * Matches an Aggregate over an equi-join tree whose LEAF SET and
    * CONDITION SETS equal the registration — set equality, so Catalyst's
    * join reordering cannot break the match. Column names must be
    * unique across the star (the build projects them into one flat
    * summary; TPC-H-style per-table prefixes give this for free), and
    * every join must be non-fanning on its dimension side
    * ([[Mv.buildStar]] enforces key uniqueness per dim at build time) —
    * the one property that makes pre-aggregating through joins sound.
    *
    * `leftEdges` carries the LEFT-OUTER dimension joins as
    * (unordered pair, dim suffix, dim-side key): unlike an inner edge,
    * a left edge is DIRECTIONAL (which relation null-extends matters —
    * `F LEFT JOIN D` and `D LEFT JOIN F` share the pair but differ
    * semantically), so the registration also names the null-extended
    * side and the match verifies the query's preserved/extended sides
    * agree. The summary then holds NULL-key groups for unmatched fact
    * rows, exactly as the query would produce them, so re-aggregation
    * stays exact. A view built all-INNER refuses a LEFT query — but a
    * LEFT-built view ALSO answers the INNER form when every left dim's
    * KEY is among the view keys: matched rows are exactly the summary
    * groups with a non-null dim key (an equi-join never matches a null
    * key), so the rewrite adds `IsNotNull(dimKey)` and re-aggregates —
    * one summary serving both join shapes. Left edges are also
    * DROPPABLE (view subsumption): fact-preserving and non-fanning, a
    * left dim the query never joins does not change the fact-row
    * multiset the summary aggregated, so one wide LEFT-star summary
    * answers every narrower sub-star — down to the bare fact
    * aggregate — as long as the query only references view keys and
    * measures. Inner edges are never droppable (removing one changes
    * which fact rows survive).
    *
    * `factFileSet` pins the FACT leaf to an exact root-path set (a
    * [[graft.sources.TxnTable]] snapshot's live files — the star
    * sibling of [[MvDef.fileSet]]): the moment the fact table commits
    * past the summarized version, live reads scan a different file set
    * and the star falls back to base — structural staleness protection
    * for join views, no registrar discipline. Dims stay suffix-matched
    * (the static-dimension contract). */
  final case class MvStarDef(suffixes: Seq[String],
                             edges: Set[Set[String]],
                             keys: Seq[String], sumCols: Seq[String],
                             template: LogicalRelation,
                             leftEdges: Set[(Set[String], String, String)] =
                               Set.empty,
                             factFileSet: Option[Set[String]] = None)

  private val registry = new ConcurrentHashMap[String, MvDef]()
  private val starRegistry = new ConcurrentHashMap[String, MvStarDef]()

  def register(name: String, d: MvDef): Unit = registry.put(name, d)
  def registerStar(name: String, d: MvStarDef): Unit = starRegistry.put(name, d)
  def deregister(name: String): Unit = {
    registry.remove(name); starRegistry.remove(name); ()
  }
  def clear(): Unit = { registry.clear(); starRegistry.clear() }

  private def enabled: Boolean =
    conf.getConfString("spark.graft.mvRewrite.enabled", "true").toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled || (registry.isEmpty && starRegistry.isEmpty)) plan
    else plan.transformUp {
      case agg: Aggregate =>
        tryRewrite(agg).orElse(tryStarRewrite(agg))
          .orElse(tryExpandRewrite(agg)).getOrElse(agg)
    }

  /** Peel pure-projection and filter nodes off the aggregate's child;
    * anything else disqualifies the subtree. */
  private def strip(p: LogicalPlan, fs: Seq[Expression])
      : Option[(LogicalRelation, Seq[Expression])] = p match {
    case lr: LogicalRelation => Some((lr, fs))
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      strip(c, fs)
    case Filter(cond, c) => strip(c, fs :+ cond)
    case _ => None
  }

  private def suffixMatches(lr: LogicalRelation, suffix: String): Boolean =
    lr.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.map(_.toString)
          .exists(p => p == suffix || p.endsWith("/" + suffix))
      case _ => false
    }

  private def baseMatches(lr: LogicalRelation, d: MvDef): Boolean =
    d.fileSet match {
      case Some(files) => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.map(_.toString).toSet == files
        case _ => false
      }
      case None => suffixMatches(lr, d.baseSuffix)
    }

  /** Several views may summarize the same base (a coarse (region) rollup
    * next to a fine (region, day) one); all that MATCH are tried in
    * ascending summary size — optimizer file-stats, name tie-break for
    * determinism — and the first whose soundness gates pass wins, so a
    * query answerable by both reads the smallest summary that can serve
    * it. */
  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] =
    strip(agg.child, Nil).flatMap { case (lr, filters) =>
      registry.asScala.toSeq
        .filter { case (_, d) => baseMatches(lr, d) }
        .sortBy { case (name, d) =>
          (d.template.computeStats().sizeInBytes, name) }
        .iterator
        .map { case (_, d) => rewriteWith(agg, filters, d) }
        .collectFirst { case Some(p) => p }
    }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** The equi-condition name pairs of a join condition, or None if any
    * conjunct is not a plain column-to-column equality. */
  private def equiPairs(cond: Expression): Option[Set[Set[String]]] = {
    val cs = conjuncts(cond).map {
      case EqualTo(x: AttributeReference, y: AttributeReference) =>
        Some(Set(x.name, y.name))
      case _ => None
    }
    if (cs.forall(_.isDefined)) Some(cs.flatten.toSet) else None
  }

  /** The bare dimension leaf of a LEFT join's null-extended side:
    * projections peel; the ONLY admissible filter is a conjunction of
    * `IsNotNull(<join key>)` — the optimizer infers exactly that on the
    * right side of a left outer join (null-keyed dim rows never match,
    * so dropping them is free) and it carries no semantics the summary
    * must honor. ANY other dim-side node disqualifies: a real dim-side
    * filter runs BEFORE the join (turning matched rows into null-extended
    * ones), which re-applying above the summary cannot express. */
  private def leftDimLeaf(p: LogicalPlan, keyNames: Set[String])
      : Option[LogicalRelation] = p match {
    case lr: LogicalRelation => Some(lr)
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      leftDimLeaf(c, keyNames)
    case Filter(cond, c) if conjuncts(cond).forall {
        case IsNotNull(ar: AttributeReference) => keyNames.contains(ar.name)
        case _ => false
      } => leftDimLeaf(c, keyNames)
    case _ => None
  }

  /** Flatten a projection/filter/equi-join tree to its leaf scans, its
    * INNER equi-condition name pairs, its LEFT-OUTER edges (pair + the
    * null-extended leaf), and every filter predicate found on the
    * preserved spine. Inner joins recurse on both sides (filters commute
    * freely through them); a LEFT join recurses only on its PRESERVED
    * side — the null-extended side must be a bare leaf (modulo inferred
    * IsNotNull prefilters, see [[leftDimLeaf]]), which both pins the
    * direction the match must verify and excludes the nested-outer
    * shapes where set-matching stops being sound. Any other join type,
    * non-equi condition, or foreign node disqualifies the subtree. */
  private[plans] def flattenJoin(p: LogicalPlan)
      : Option[(Seq[LogicalRelation], Set[Set[String]],
                Set[(Set[String], LogicalRelation)], Seq[Expression])] = {
    import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    p match {
      case j: Join if j.joinType == Inner =>
        for {
          cond <- j.condition
          pairs <- equiPairs(cond)
          (lLeaves, lPairs, lLeft, lFs) <- flattenJoin(j.left)
          (rLeaves, rPairs, rLeft, rFs) <- flattenJoin(j.right)
        } yield (lLeaves ++ rLeaves, pairs ++ lPairs ++ rPairs,
          lLeft ++ rLeft, lFs ++ rFs)
      case j: Join if j.joinType == LeftOuter =>
        for {
          cond <- j.condition
          pairs <- equiPairs(cond)
          if pairs.size == 1 // one single-column key per dimension
          dim <- leftDimLeaf(j.right, pairs.head)
          (lLeaves, lPairs, lLeft, lFs) <- flattenJoin(j.left)
        } yield (lLeaves :+ dim, lPairs,
          lLeft + ((pairs.head, dim)), lFs)
      // plain column projections peel; so do the SELF-alias copies
      // grouping analytics plants above the join (`ka AS ka#n` — same
      // name, new id, no semantics; a RENAMING alias would break the
      // name-keyed matching, so only alias == column peels)
      case Project(pl, c) if pl.forall {
          case _: AttributeReference => true
          case Alias(ar: AttributeReference, n) => ar.name == n
          case _ => false
        } => flattenJoin(c)
      case Filter(cond, c) =>
        flattenJoin(c).map { case (ls, ps, le, fs) => (ls, ps, le, fs :+ cond) }
      case lr: LogicalRelation => Some((Seq(lr), Set.empty, Set.empty, Nil))
      case _ => None
    }
  }

  /** Rewrite `Aggregate(…, star-join)` from a registered star summary:
    * the flattened leaf set must match the registered suffixes one-to-one
    * and the equi-condition set must equal the registered edges — SET
    * comparisons, so the optimizer's join reordering is irrelevant. The
    * aggregate/filter gates of [[rewriteWith]] then apply unchanged (the
    * joined relation is just "the base table" from the summary's view);
    * constraint-inferred IsNotNull conjuncts on join keys are tautologies
    * over the summarized rows (inner joins proved the keys non-null) and
    * drop before gating. */
  private def tryStarRewrite(agg: Aggregate): Option[LogicalPlan] =
    // a SINGLE leaf is admissible: an all-LEFT star view answers the
    // bare fact aggregate by dropping every dimension (subsumption)
    flattenJoin(agg.child).flatMap {
      case (leaves, pairs, leftPairs, filters) =>
        starCandidates(leaves, pairs, leftPairs, filters)
          .map { case (d, fs) => rewriteWith(agg, fs, d) }
          .collectFirst { case Some(p) => p }
    }

  /** The star-candidate selection shared by [[tryStarRewrite]] and the
    * grouping-analytics form ([[tryExpandRewrite]]): given a flattened
    * join tree, yield every matching registered star as a flat
    * single-base [[MvDef]] plus its ADJUSTED filter list (tautological
    * IsNotNull conjuncts dropped; the innerized dim-key IsNotNull
    * added), smallest summary first. */
  private def starCandidates(leaves: Seq[LogicalRelation],
                             pairs: Set[Set[String]],
                             leftPairs: Set[(Set[String], LogicalRelation)],
                             filters: Seq[Expression])
      : Iterator[(MvDef, Seq[Expression])] = {
        // the fact slot (suffixes.head) matches by exact file set when
        // pinned to a txn snapshot, by segment-anchored suffix otherwise;
        // dim slots always suffix-match
        def slotMatches(d: MvStarDef, i: Int)(lr: LogicalRelation): Boolean =
          if (i == 0 && d.factFileSet.isDefined) lr.relation match {
            case fs: HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString).toSet == d.factFileSet.get
            case _ => false
          } else suffixMatches(lr, d.suffixes(i))
        // Classify the view's edges against the query's join tree.
        // Every INNER view edge must appear as an inner query edge —
        // removing one would change which fact rows the summary
        // aggregated. Each LEFT view edge may be
        //  - KEPT: the query LEFT-joins the same dim (direction
        //    verified — the null-extended leaf is the registered dim);
        //  - INNERIZED: the query INNER-joins it; matched rows are
        //    exactly the summary groups whose dim key is non-null (an
        //    equi-join never matches a null key), so the rewrite adds
        //    IsNotNull(dimKey) — sound when the dim key is a view key;
        //  - DROPPED: the query never touches the dim. Sound because a
        //    left edge is fact-preserving and non-fanning (key
        //    uniqueness enforced at build), so removing the dim leaves
        //    the fact-row multiset the summary aggregated unchanged —
        //    one wide LEFT-star summary answers its narrower sub-stars
        //    down to the bare fact aggregate (view subsumption).
        // Yields (innerized edges, kept pairs, dropped pairs) or None.
        def classify(d: MvStarDef)
            : Option[(Set[(Set[String], String, String)],
                      Set[Set[String]], Set[Set[String]])] = {
          if (!d.edges.subsetOf(pairs)) return None
          val keptOk = leftPairs.forall { case (p, leaf) =>
            d.leftEdges.exists { case (pair, dimSfx, _) =>
              pair == p && suffixMatches(leaf, dimSfx) } }
          if (!keptOk) return None
          val keptPairs = leftPairs.map(_._1)
          // inner query edges beyond the view's inner set must be
          // innerized left edges (and a pair can't also be kept-left)
          val innerizedPairs = pairs -- d.edges
          if (innerizedPairs.exists(keptPairs)) return None
          val innerized = d.leftEdges.filter(e => innerizedPairs(e._1))
          if (innerized.map(_._1) != innerizedPairs) return None
          if (!innerized.forall { case (_, _, dk) => d.keys.contains(dk) })
            return None
          val droppedSfx = d.leftEdges
            .filterNot(e => keptPairs(e._1) || innerizedPairs(e._1))
            .map(_._2)
          // the present slots claim the query's leaves one-to-one
          val presentIdx = d.suffixes.indices
            .filterNot(i => i > 0 && droppedSfx.contains(d.suffixes(i)))
          if (presentIdx.size != leaves.size) return None
          val claimed = presentIdx.map(i => leaves.filter(slotMatches(d, i)))
          if (!(claimed.forall(_.size == 1) &&
              claimed.map(_.head).distinct.size == leaves.size)) return None
          Some((innerized,
            keptPairs,
            d.leftEdges.map(_._1) -- keptPairs -- innerizedPairs))
        }
        starRegistry.asScala.toSeq
          .flatMap { case (name, d) => classify(d).map((name, d, _)) }
          .sortBy { case (name, d, _) =>
            (d.template.computeStats().sizeInBytes, name) }
          .iterator
          .flatMap { case (_, d, (innerized, keptPairs, droppedPairs)) =>
            // IsNotNull(key) conjuncts are tautologies over the edges
            // the QUERY joins inner (the join proved those keys
            // non-null) — the view's own inner edges plus the innerized
            // ones. A kept-left or dropped edge's keys CAN be null in
            // the result (fact-side null keys survive, dim-side keys
            // null-extend), so an IsNotNull there is a real predicate
            // and stays for rewriteWith's gates; names shared with an
            // inner edge subtract out conservatively (kept = at worst a
            // declined rewrite, never a wrong answer).
            val innerKeyNames =
              (d.edges ++ innerized.map(_._1)).flatten --
                (keptPairs ++ droppedPairs).flatten
            val fs = filters.flatMap(conjuncts).filterNot {
              case IsNotNull(ar: AttributeReference) =>
                innerKeyNames.contains(ar.name)
              case _ => false
            }
            // resolve the innerized dim-key attrs from the leaves; a
            // miss fails THIS candidate only (Option, not return — a
            // non-local return would abort the whole iteration)
            val extra: Option[Seq[Expression]] = {
              val es = innerized.toSeq.map { case (_, _, dimKey) =>
                leaves.flatMap(_.output).find(_.name == dimKey)
                  .map(IsNotNull(_): Expression)
              }
              if (es.forall(_.isDefined)) Some(es.flatten) else None
            }
            extra.map(ex =>
              (MvDef(d.suffixes.head, d.keys, d.sumCols, d.template),
                fs ++ ex))
          }
  }

  /** [[strip]] that ALSO peels the self-alias Project grouping analytics
    * plants under its Expand (`ka AS ka#n` copies of the grouping
    * columns — same name, new id, no semantics). A RENAMING alias would
    * break the name-keyed view mapping, so only `alias == column` peels. */
  private def stripAliased(p: LogicalPlan, fs: Seq[Expression])
      : Option[(LogicalRelation, Seq[Expression])] = p match {
    case lr: LogicalRelation => Some((lr, fs))
    case Project(pl, c) if pl.forall {
        case _: AttributeReference => true
        case Alias(ar: AttributeReference, n) => ar.name == n
        case _ => false
      } => stripAliased(c, fs)
    case Filter(cond, c) => stripAliased(c, fs :+ cond)
    case _ => None
  }

  /** Answer ROLLUP / CUBE / GROUPING SETS from a registered summary.
    * Spark plans grouping analytics as `Aggregate(Expand(base))`: the
    * Expand replays every row once per grouping set, nulling out the
    * keys that set drops and stamping a grouping-id literal. The same
    * replay over the SUMMARY is exact for the composable measures —
    * expansion commutes with re-aggregation — so the rewrite keeps the
    * Expand's key and grouping-id output positions verbatim (the
    * aggregate's references stay valid untouched) and swaps each
    * measure pass-through for the needed summary columns:
    * `SUM(m)`→`SUM(sum_m)`, `COUNT(*)`→`SUM(cnt)`, `COUNT(m)`→
    * `SUM(cnt_m)`, `MIN`/`MAX`→over `min_`/`max_`, `AVG`→exact
    * sum/cnt pair, and DISTINCT aggregates over expanded KEY copies
    * pass through unchanged (duplication-insensitive, grain-preserved).
    * At 100 TB a CUBE over the fact table becomes a CUBE over a few
    * thousand summary rows — the Expand's ×|grouping sets| row
    * multiplier applies to the summary, not the scan. Every soundness
    * gate of [[rewriteWith]] applies: nulled positions must be view
    * keys, filters deterministic over keys, unknown shapes decline. */
  private def tryExpandRewrite(agg: Aggregate): Option[LogicalPlan] =
    agg.child match {
      case expand: Expand if expand.projections.nonEmpty =>
        val flat = stripAliased(expand.child, Nil).flatMap {
          case (lr, filters) =>
            registry.asScala.toSeq
              .filter { case (_, d) => baseMatches(lr, d) }
              .sortBy { case (name, d) =>
                (d.template.computeStats().sizeInBytes, name) }
              .iterator
              .map { case (_, d) =>
                rewriteExpandWith(agg, expand, filters, d) }
              .collectFirst { case Some(p) => p }
        }
        // ROLLUP/CUBE over a STAR: the same Expand replay over the
        // pre-joined summary — the grouping-set multiplier applies to
        // summary rows instead of the fact⋈dims join
        flat.orElse(
          flattenJoin(expand.child).flatMap {
            case (leaves, pairs, leftPairs, filters) =>
              starCandidates(leaves, pairs, leftPairs, filters)
                .map { case (d, fs) => rewriteExpandWith(agg, expand, fs, d) }
                .collectFirst { case Some(p) => p }
          })
      case _ => None
    }

  private def rewriteExpandWith(agg: Aggregate, expand: Expand,
                                filters: Seq[Expression],
                                d: MvDef): Option[LogicalPlan] = {
    if (!filters.forall(f => f.deterministic &&
        f.references.forall(r => d.keys.contains(r.name))))
      return None
    val fresh = d.template.newInstance()
    val mvAttr: Map[String, Attribute] = fresh.output.map(a => a.name -> a).toMap

    // classify each Expand output position by its column down the
    // projections: KEY (one attr, nulled in some sets — must be a view
    // key), GID (all non-null literals), MEASURE (one attr in every set,
    // never nulled, a registered measure)
    sealed trait Pos
    case class KeyPos(name: String) extends Pos
    case object GidPos extends Pos
    case class MeasurePos(name: String) extends Pos
    val positions: Seq[Pos] = expand.output.indices.map { i =>
      val elems = expand.projections.map(_(i))
      val attrs = elems.collect { case ar: AttributeReference => ar }
      val nulls = elems.collect { case l: Literal if l.value == null => l }
      if (attrs.size + nulls.size == elems.size && attrs.nonEmpty &&
          attrs.map(_.exprId).distinct.size == 1) {
        val n = attrs.head.name
        if (d.keys.contains(n)) KeyPos(n)
        else if (nulls.isEmpty && d.sumCols.contains(n)) MeasurePos(n)
        else return None
      } else if (elems.forall {
          case l: Literal => l.value != null; case _ => false })
        GidPos
      else return None
    }
    val kept: Set[ExprId] = expand.output.zip(positions).collect {
      case (a, KeyPos(_)) => a.exprId
      case (a, GidPos) => a.exprId
    }.toSet
    val measureOf: Map[ExprId, String] = expand.output.zip(positions)
      .collect { case (a, MeasurePos(n)) => a.exprId -> n }.toMap
    // grouping must live entirely on kept positions — a query grouping
    // by a MEASURE copy would reference an output the rewrite drops
    if (!agg.groupingExpressions.forall(
        _.references.forall(r => kept.contains(r.exprId))))
      return None

    def attr(n: String): Option[Attribute] = mvAttr.get(n)
    val needed = scala.collection.mutable.LinkedHashSet[String]()
    // None when the summary lacks the column (older view) → the
    // caller's `.getOrElse(return None)` declines the whole candidate
    def need(n: String): Option[Attribute] =
      attr(n).map { a => needed += n; a }
    def isPlain(ae: AggregateExpression): Boolean =
      ae.mode == Complete && !ae.isDistinct && ae.filter.isEmpty
    def measure(e: Expression): Option[String] = e match {
      case ar: AttributeReference => measureOf.get(ar.exprId)
      case _ => None
    }
    def onlyKept(e: Expression): Boolean =
      e.references.forall(r => kept.contains(r.exprId))

    val newAggList: Seq[NamedExpression] = agg.aggregateExpressions.map {
      // grouping keys, grouping()/grouping_id() towers, plain key
      // aliases: reference only kept attrs, carry no aggregate → verbatim
      case ne if onlyKept(ne) &&
          !ne.exists(_.isInstanceOf[AggregateExpression]) => ne
      case al @ Alias(ae: AggregateExpression, name) if isPlain(ae) =>
        ae.aggregateFunction match {
          case s: Sum =>
            val c = measure(s.child).getOrElse(return None)
            Alias(Sum(need(s"sum_$c").getOrElse(return None)).toAggregateExpression(),
              name)(exprId = al.exprId)
          case m: Min =>
            val c = measure(m.child).getOrElse(return None)
            Alias(Min(need(s"min_$c").getOrElse(return None)).toAggregateExpression(),
              name)(exprId = al.exprId)
          case m: Max =>
            val c = measure(m.child).getOrElse(return None)
            Alias(Max(need(s"max_$c").getOrElse(return None)).toAggregateExpression(),
              name)(exprId = al.exprId)
          case a: Average =>
            val c = measure(a.child).getOrElse(return None)
            Alias(Divide(
              Cast(Sum(need(s"sum_$c").getOrElse(return None)).toAggregateExpression(), DoubleType),
              Cast(Sum(need(s"cnt_$c").getOrElse(return None)).toAggregateExpression(), DoubleType)),
              name)(exprId = al.exprId)
          case c: Count if c.children.forall(
              ch => ch.isInstanceOf[Literal] && ch.asInstanceOf[Literal].value != null) =>
            Alias(Coalesce(Seq(
              Sum(need("cnt").getOrElse(return None)).toAggregateExpression(), Literal(0L))),
              name)(exprId = al.exprId)
          case c: Count => c.children match {
            case Seq(m) if measure(m).isDefined =>
              Alias(Coalesce(Seq(
                Sum(need(s"cnt_${measure(m).get}").getOrElse(return None)).toAggregateExpression(),
                Literal(0L))), name)(exprId = al.exprId)
            case _ => return None
          }
          case _ => return None
        }
      // DISTINCT over expanded KEY copies: duplication-insensitive and
      // grain-preserved — the expression re-applies over the summary
      // replay untouched
      case al @ Alias(ae: AggregateExpression, _)
          if ae.mode == Complete && ae.isDistinct && ae.filter.isEmpty &&
            (ae.aggregateFunction match {
              case c: Count => c.children.nonEmpty && c.children.forall(onlyKept)
              case s: Sum => onlyKept(s.child)
              case _ => false
            }) => al
      case _ => return None
    }

    val newChild = filters.foldRight(fresh: LogicalPlan) { (c, p) =>
      Filter(c.transform {
        case ar: AttributeReference => mvAttr(ar.name)
      }, p)
    }
    val extraAttrs = needed.toSeq.map(mvAttr)
    val newOutput = expand.output.zip(positions).collect {
      case (a, KeyPos(_)) => a
      case (a, GidPos) => a
    } ++ extraAttrs
    val newProjections = expand.projections.map { proj =>
      proj.zip(positions).collect {
        case (e, KeyPos(n)) => e.transform {
          case _: AttributeReference => mvAttr(n)
        }
        case (e, GidPos) => e
      } ++ extraAttrs
    }
    Some(Aggregate(agg.groupingExpressions, newAggList,
      Expand(newProjections, newOutput, newChild)))
  }

  private def rewriteWith(agg: Aggregate, filters: Seq[Expression],
                          d: MvDef): Option[LogicalPlan] = {
    val gAttrs = agg.groupingExpressions.map {
      case ar: AttributeReference if d.keys.contains(ar.name) => ar
      case _ => return None
    }
    if (!filters.forall(f => f.deterministic &&
        f.references.forall(r => d.keys.contains(r.name))))
      return None
    val fresh = d.template.newInstance()
    val mvAttr: Map[String, Attribute] = fresh.output.map(a => a.name -> a).toMap
    // a measure rewrite needs its summary column to EXIST (older views
    // lack min_/max_/cnt_ columns) — missing column = decline, not crash
    // (the `return None` evaluates in the caller's closure, escaping
    // rewriteWith)
    def attr(n: String): Option[Attribute] = mvAttr.get(n)

    def isPlain(ae: AggregateExpression): Boolean =
      ae.mode == Complete && !ae.isDistinct && ae.filter.isEmpty

    def measure(e: Expression): Option[String] = e match {
      case ar: AttributeReference if d.sumCols.contains(ar.name) => Some(ar.name)
      case _ => None
    }

    val newAggList: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case ar: AttributeReference if d.keys.contains(ar.name) =>
        Alias(mvAttr(ar.name), ar.name)(exprId = ar.exprId)
      case al @ Alias(ar: AttributeReference, name)
          if d.keys.contains(ar.name) =>
        Alias(mvAttr(ar.name), name)(exprId = al.exprId)
      case al @ Alias(ae: AggregateExpression, name) if isPlain(ae) =>
        ae.aggregateFunction match {
          case s: Sum =>
            val c = measure(s.child).getOrElse(return None)
            Alias(Sum(attr(s"sum_$c").getOrElse(return None)).toAggregateExpression(),
              name)(exprId = al.exprId)
          case m: Min =>
            val c = measure(m.child).getOrElse(return None)
            Alias(Min(attr(s"min_$c").getOrElse(return None)).toAggregateExpression(),
              name)(exprId = al.exprId)
          case m: Max =>
            val c = measure(m.child).getOrElse(return None)
            Alias(Max(attr(s"max_$c").getOrElse(return None)).toAggregateExpression(),
              name)(exprId = al.exprId)
          case a: Average =>
            val c = measure(a.child).getOrElse(return None)
            // exact integer sums, one final IEEE division — numerator is
            // NULL exactly when cnt_c sums to 0, matching AVG's
            // null-on-no-rows contract without a zero-divide. NOTE:
            // Spark's own Average accumulates integral inputs in DOUBLE,
            // so past 2^53 of per-group sum its low bits depend on
            // partitioning; this rewrite is the exact value instead —
            // equal whenever the base AVG is itself exact (sums < 2^53),
            // strictly more accurate beyond.
            Alias(Divide(
              Cast(Sum(attr(s"sum_$c").getOrElse(return None)).toAggregateExpression(), DoubleType),
              Cast(Sum(attr(s"cnt_$c").getOrElse(return None)).toAggregateExpression(), DoubleType)),
              name)(exprId = al.exprId)
          case c: Count if c.children.forall(
              ch => ch.isInstanceOf[Literal] && ch.asInstanceOf[Literal].value != null) =>
            Alias(Coalesce(Seq(
              Sum(attr("cnt").getOrElse(return None)).toAggregateExpression(), Literal(0L))),
              name)(exprId = al.exprId)
          case c: Count => c.children match {
            // COUNT(measure): the non-null row count IS cnt_<c> (what AVG
            // divides by) — summed across summary rows
            case Seq(ar: AttributeReference) if d.sumCols.contains(ar.name) =>
              Alias(Coalesce(Seq(
                Sum(attr(s"cnt_${ar.name}").getOrElse(return None))
                  .toAggregateExpression(), Literal(0L))),
                name)(exprId = al.exprId)
            // COUNT(key): a key column passes through groupBy unaggregated,
            // so its null rows sit in NULL-key summary groups — count rows
            // of groups whose key is non-null
            case Seq(ar: AttributeReference) if d.keys.contains(ar.name) =>
              Alias(Coalesce(Seq(
                Sum(If(IsNotNull(mvAttr(ar.name)),
                  attr("cnt").getOrElse(return None), Literal(0L)))
                  .toAggregateExpression(), Literal(0L))),
                name)(exprId = al.exprId)
            case _ => return None
          }
          case _ => return None
        }
      // DISTINCT over a view KEY: the summary's grain partitions base
      // rows by the full key tuple, so within any coarser group the
      // distinct set of a key column equals the distinct set of that
      // column over the summary rows — COUNT/SUM(DISTINCT k) re-apply
      // verbatim (both ignore NULLs on both levels). DISTINCT over a
      // MEASURE is unrecoverable from sums and declines.
      case al @ Alias(ae: AggregateExpression, name)
          if ae.mode == Complete && ae.isDistinct && ae.filter.isEmpty =>
        def keyChild(e: Expression): Option[Attribute] = e match {
          case ar: AttributeReference if d.keys.contains(ar.name) =>
            attr(ar.name)
          case _ => None
        }
        ae.aggregateFunction match {
          case c: Count if c.children.nonEmpty =>
            Alias(Count(c.children.map(ch =>
                keyChild(ch).getOrElse(return None)))
              .toAggregateExpression(isDistinct = true),
              name)(exprId = al.exprId)
          case s: Sum =>
            Alias(Sum(keyChild(s.child).getOrElse(return None))
              .toAggregateExpression(isDistinct = true),
              name)(exprId = al.exprId)
          case _ => return None
        }
      case _ => return None
    }
    val newChild = filters.foldRight(fresh: LogicalPlan) { (c, p) =>
      Filter(c.transform {
        case ar: AttributeReference => mvAttr(ar.name)
      }, p)
    }
    Some(Aggregate(gAttrs.map(a => mvAttr(a.name)), newAggList, newChild))
  }
}

/** Build + register half of the materialized-view surface. */
object Mv {

  /** Write the summary parquet for `base` grouped by `keys`: per
    * requested measure column a BIGINT `sum_<col>`, a BIGINT
    * `cnt_<col>` (non-null rows — what AVG divides by), and
    * `min_<col>`/`max_<col>` kept in the column's own type (so
    * rewritten MIN/MAX result types match the base exactly); plus the
    * group row count `cnt`. Integral inputs only — integer SUM composes
    * losslessly across the two aggregation levels; a double sum would
    * re-associate and drift. */
  def build(base: DataFrame, keys: Seq[String], sumCols: Seq[String],
            mvPath: String): Unit = {
    require(keys.nonEmpty, "a materialized view needs at least one key")
    val schema = base.schema
    sumCols.foreach { c =>
      val dt = schema(c).dataType
      require(dt == LongType || dt == IntegerType,
        s"mv sum column $c must be integral, got $dt")
    }
    val aggs = count(lit(1)).as("cnt") +:
      sumCols.flatMap(c => Seq(
        sum(col(c)).cast("long").as(s"sum_$c"),
        count(col(c)).as(s"cnt_$c"),
        min(col(c)).as(s"min_$c"),
        max(col(c)).as(s"max_$c")))
    base.groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(mvPath)
  }

  private def analyzedRelation(spark: SparkSession,
                               mvPath: String): LogicalRelation =
    graft.sources.SchemaCache.readDir(spark, mvPath).queryExecution.analyzed
      .collectFirst { case lr: LogicalRelation => lr }
      .getOrElse(throw new IllegalStateException(
        s"$mvPath did not analyze to a file relation"))

  private def requireCols(rel: LogicalRelation, mvPath: String,
                          keys: Seq[String], sumCols: Seq[String]): Unit = {
    val missing = (keys ++ sumCols.map("sum_" + _) :+ "cnt")
      .filterNot(rel.output.map(_.name).toSet)
    require(missing.isEmpty, s"mv at $mvPath lacks columns: $missing")
  }

  /** Register `mvPath` as the summary of the base table whose scan root
    * ends with `baseSuffix` (segment-anchored: the suffix must cover
    * whole path segments). Reads the summary once to capture its
    * relation; queries rewrite from the NEXT planning on. */
  def register(spark: SparkSession, name: String, baseSuffix: String,
               mvPath: String, keys: Seq[String],
               sumCols: Seq[String]): Unit = {
    val rel = analyzedRelation(spark, mvPath)
    requireCols(rel, mvPath, keys, sumCols)
    MvRewrite.register(name,
      MvRewrite.MvDef(baseSuffix, keys, sumCols, rel))
  }

  /** Shared star-dimension plumbing: build, CDC refresh, and the
    * streaming maintenance
    * ([[graft.streaming.EventsStreaming]].cdcStarViewMaintenance) must
    * agree on these — ONE copy so the soundness checks can't drift. */
  private[graft] def checkJoinTypes(joinTypes: Seq[String], nDims: Int): Seq[String] = {
    val jts = if (joinTypes.isEmpty) Seq.fill(nDims)("inner") else joinTypes
    require(jts.size == nDims,
      s"joinTypes must align with dims: ${jts.size} types for $nDims dims")
    jts.foreach(jt => require(jt == "inner" || jt == "left",
      s"star join type must be 'inner' or 'left', got '$jt'"))
    jts
  }

  /** Require `dim` unique on its join key — the one property that makes
    * pre-aggregating (or folding deltas) through a star join sound; a
    * fanning join would silently multiply rows. Non-null keys must be
    * distinct (null keys never equi-match, so they cannot fan).
    * `consequence` names what would go wrong at THIS call site. */
  private[graft] def requireDimUnique(dim: DataFrame, dimKey: String,
                                      consequence: String): Unit = {
    // a declared RELY unique key answers from METADATA (strict
    // uniqueness implies the non-null form needed here) — at 100 TB
    // the probe below is a full shuffle of the dim per build/refresh,
    // which is exactly what TableConstraints exists to avoid; absence
    // of a declaration proves nothing, so fall through to the probe
    val declared = ConstraintRules.chaseScan(dim.queryExecution.analyzed)
      .flatMap(ConstraintRules.constraintRoot(_))
      .exists(root =>
        graft.sources.TableConstraints.isUniqueOn(root, Set(dimKey)))
    if (!declared) {
      val r = dim.agg(count(col(dimKey)).as("nk"),
        countDistinct(col(dimKey)).as("nd")).head()
      require(r.getLong(0) == r.getLong(1),
        s"dim is not unique on $dimKey (${r.getLong(0)} non-null keys, " +
          s"${r.getLong(1)} distinct) — $consequence")
    }
  }

  /** Fold `f` through the BROADCAST dimension joins in chain order —
    * delta/feed rows pick up their dim attributes exactly as the fact
    * rows did at build time. `jts` from [[checkJoinTypes]]. */
  private[graft] def joinThroughDims(f: DataFrame,
                                     dims: Seq[(DataFrame, String, String)],
                                     jts: Seq[String]): DataFrame =
    dims.zip(jts).foldLeft(f) {
      case (acc, ((dim, leftKey, dimKey), jt)) =>
        acc.join(org.apache.spark.sql.functions.broadcast(dim),
          acc(leftKey) === dim(dimKey),
          if (jt == "left") "left" else "inner")
    }

  /** Build the STAR/SNOWFLAKE summary: `fact` joined with each
    * `(dim, leftKey, dimKey)` in chain order (leftKey resolves against
    * the accumulated join, so a snowflake dim may key off an earlier
    * dim's column). Every dim must be unique on its join key (checked
    * here: a fanning join would multiply fact rows and the summary
    * would be silently wrong) and the star's column names must be
    * globally unambiguous. Same summary layout as [[build]]
    * (sum_/cnt_/min_/max_ per measure + cnt).
    *
    * `joinTypes` (aligned with `dims`; empty = all inner) admits "left"
    * per dim — the reference's own dimension joins are LEFT joins
    * (unmatched fact rows kept with null dim attributes), and the
    * summary then carries NULL-key groups for them, which is exactly
    * what re-aggregation needs to answer the LEFT query. Key uniqueness
    * matters identically (a fanning left join multiplies matched rows). */
  def buildStar(fact: DataFrame, dims: Seq[(DataFrame, String, String)],
                keys: Seq[String], sumCols: Seq[String],
                mvPath: String, joinTypes: Seq[String] = Nil): Unit = {
    require(dims.nonEmpty, "a star needs at least one dimension")
    val jts = checkJoinTypes(joinTypes, dims.size)
    dims.foreach { case (dim, _, dimKey) =>
      requireDimUnique(dim, dimKey,
        "the join would fan out fact rows and the summary would be wrong")
    }
    val joined = dims.zip(jts).foldLeft(fact) {
      case (acc, ((dim, leftKey, dimKey), jt)) =>
        acc.join(dim, acc(leftKey) === dim(dimKey),
          if (jt == "left") "left" else "inner")
    }
    val dup = joined.columns.groupBy(identity)
      .collect { case (n, a) if a.length > 1 => n }
    require(dup.isEmpty,
      s"star column names must be unique, duplicated: ${dup.mkString(", ")}")
    build(joined, keys, sumCols, mvPath)
  }

  /** One-dimension convenience form of [[buildStar]]. */
  def buildJoin(fact: DataFrame, dim: DataFrame, factKey: String,
                dimKey: String, keys: Seq[String], sumCols: Seq[String],
                mvPath: String, joinType: String = "inner"): Unit =
    buildStar(fact, Seq((dim, factKey, dimKey)), keys, sumCols, mvPath,
      Seq(joinType))

  /** Register `mvPath` as the summary of the star `factSuffix ⋈ dims`
    * (each dim as (dimSuffix, leftKey, dimKey); all suffixes
    * segment-anchored and distinct). Queries aggregating that exact
    * equi-join tree — in ANY join order — rewrite from the NEXT
    * planning on. `joinTypes` (aligned with `dims`; empty = all inner)
    * must state the SAME types the summary was built with: a left edge
    * registers directionally (pair + dim suffix) so an inner-built view
    * refuses a LEFT query and vice versa. */
  def registerStar(spark: SparkSession, name: String, factSuffix: String,
                   dims: Seq[(String, String, String)], mvPath: String,
                   keys: Seq[String], sumCols: Seq[String],
                   joinTypes: Seq[String] = Nil): Unit = {
    val suffixes = factSuffix +: dims.map(_._1)
    require(suffixes.distinct.size == suffixes.size,
      s"star suffixes must be distinct: $suffixes")
    val jts = checkJoinTypes(joinTypes, dims.size)
    val allEdges = dims.map(d => Set(d._2, d._3))
    require(allEdges.toSet.size == dims.size,
      "star join edges must be distinct unordered key pairs")
    val edges = dims.zip(jts).collect {
      case ((_, lk, dk), "inner") => Set(lk, dk) }.toSet
    val leftEdges = dims.zip(jts).collect {
      case ((sfx, lk, dk), "left") => (Set(lk, dk), sfx, dk) }.toSet
    val rel = analyzedRelation(spark, mvPath)
    requireCols(rel, mvPath, keys, sumCols)
    MvRewrite.registerStar(name,
      MvRewrite.MvStarDef(suffixes, edges, keys, sumCols, rel, leftEdges))
  }

  /** One-dimension convenience form of [[registerStar]]. */
  def registerJoin(spark: SparkSession, name: String, factSuffix: String,
                   dimSuffix: String, factKey: String, dimKey: String,
                   mvPath: String, keys: Seq[String],
                   sumCols: Seq[String], joinType: String = "inner"): Unit =
    registerStar(spark, name, factSuffix,
      Seq((dimSuffix, factKey, dimKey)), mvPath, keys, sumCols, Seq(joinType))

  /** Build AND register a STAR summary whose FACT is a
    * [[graft.sources.TxnTable]] snapshot, pinned to the snapshot's exact
    * live-file set ([[MvRewrite.MvStarDef.factFileSet]]): queries
    * aggregating the fact⋈dims tree rewrite while the table sits at
    * this version; the moment ANY commit advances it, live reads scan a
    * different file set and fall back to base — structural staleness
    * protection extended to JOIN views. `dims` rows are
    * `(dim frame, dim scan suffix, leftKey, dimKey)`: the frame builds
    * the summary, the suffix matches the query's dim scans. Dims are
    * the STATIC side of the contract (a changed dim invalidates history
    * the fact feed can't see — rebuild, or model it as SCD). Returns
    * the summarized fact version (feed it to [[refreshStarTxnCdc]]). */
  def registerStarTxn(spark: SparkSession, name: String, factTable: String,
                      dims: Seq[(DataFrame, String, String, String)],
                      mvPath: String, keys: Seq[String],
                      sumCols: Seq[String],
                      joinTypes: Seq[String] = Nil): Int = {
    import graft.sources.TxnTable
    val v = TxnTable.currentVersion(factTable)
    buildStar(TxnTable.read(spark, factTable, asOf = Some(v)),
      dims.map(t => (t._1, t._3, t._4)), keys, sumCols, mvPath, joinTypes)
    registerStarTxnAt(spark, name, factTable, v,
      dims.map(t => (t._2, t._3, t._4)), mvPath, keys, sumCols, joinTypes)
    v
  }

  private def registerStarTxnAt(spark: SparkSession, name: String,
                                factTable: String, version: Int,
                                dims: Seq[(String, String, String)],
                                mvPath: String, keys: Seq[String],
                                sumCols: Seq[String],
                                joinTypes: Seq[String]): Unit = {
    import graft.sources.TxnTable
    recoverSwap(mvPath)
    val snap = TxnTable.read(spark, factTable, asOf = Some(version))
    val files = snap.queryExecution.analyzed
      .collect { case lr: LogicalRelation => lr.relation }
      .collect { case fs: HadoopFsRelation =>
        fs.location.rootPaths.map(_.toString) }
      .flatten.toSet
    require(files.nonEmpty, s"$factTable v$version reads no files")
    require(dims.map(_._1).distinct.size == dims.size,
      s"star dim suffixes must be distinct: ${dims.map(_._1)}")
    val jts = checkJoinTypes(joinTypes, dims.size)
    val allEdges = dims.map(d => Set(d._2, d._3))
    require(allEdges.toSet.size == dims.size,
      "star join edges must be distinct unordered key pairs")
    val edges = dims.zip(jts).collect {
      case ((_, lk, dk), "inner") => Set(lk, dk) }.toSet
    val leftEdges = dims.zip(jts).collect {
      case ((sfx, lk, dk), "left") => (Set(lk, dk), sfx, dk) }.toSet
    val rel = analyzedRelation(spark, mvPath)
    requireCols(rel, mvPath, keys, sumCols)
    MvRewrite.registerStar(name,
      MvRewrite.MvStarDef(factTable +: dims.map(_._1), edges, keys,
        sumCols, rel, leftEdges, factFileSet = Some(files)))
  }

  /** Advance a txn-fact STAR view across ANY keyed fact mutation via
    * the row-level change feed: the signed delta flows THROUGH the
    * dimension join — each change row picks up its dim attributes
    * exactly as the fact row did at build — then the same additive
    * monoid as [[refreshTxnCdc]] folds it into the summary. Cost is
    * O(Δ-rows · broadcast dim lookup), never the fact history; at
    * 100 TB the refresh reads the feed and the summary, nothing else.
    * Sound while dims are STATIC between refreshes (the
    * [[graft.operators.Incremental.appendJoinView]] contract); dim-key
    * uniqueness is re-checked so a dim that grew a duplicate key fails
    * loudly instead of silently fanning the delta. `min_`/`max_` drop
    * unless `repairMinMax` (recomputed for exactly the feed-touched
    * groups from the head snapshot re-joined through the dims).
    * Re-registers against the head's file set and returns it. */
  def refreshStarTxnCdc(spark: SparkSession, name: String,
                        factTable: String, builtVersion: Int,
                        mvPath: String,
                        dims: Seq[(DataFrame, String, String, String)],
                        keys: Seq[String], sumCols: Seq[String],
                        rowKeys: Seq[String],
                        joinTypes: Seq[String] = Nil,
                        repairMinMax: Boolean = false): Int = {
    import graft.sources.TxnTable
    recoverSwap(mvPath)
    val head = TxnTable.currentVersion(factTable)
    require(head >= builtVersion,
      s"$factTable is at v$head, below the view's v$builtVersion — " +
        "restore rewinds are not refreshable; rebuild via registerStarTxn")
    val jts = checkJoinTypes(joinTypes, dims.size)
    def throughDims(f: DataFrame): DataFrame =
      joinThroughDims(f, dims.map(t => (t._1, t._3, t._4)), jts)
    if (head != builtVersion) {
      dims.foreach { case (dim, sfx, _, dimKey) =>
        requireDimUnique(dim, dimKey, s"dim $sfx is no longer unique: " +
          "the delta join would fan out change rows; rebuild via " +
          "registerStarTxn")
      }
      val feed0 = throughDims(TxnTable.changeFeed(spark, factTable,
        builtVersion, head, rowKeys, updateImages = true))
      cdcRefreshCore(name, mvPath, head, keys, sumCols, feed0,
        throughDims(TxnTable.read(spark, factTable, Some(head))),
        repairMinMax)
    }
    registerStarTxnAt(spark, name, factTable, head,
      dims.map(t => (t._2, t._3, t._4)), mvPath, keys, sumCols, joinTypes)
    head
  }

  /** Build AND register a summary of txn table `table`'s CURRENT
    * snapshot, keyed to the snapshot's exact live-file set: a query
    * reading the table at this version rewrites; the moment a commit
    * advances the table, live reads scan a different file set and fall
    * back to base — structural staleness protection, no registrar
    * discipline needed. Returns the summarized version (feed it to
    * [[refreshTxn]]). */
  def registerTxn(spark: SparkSession, name: String, table: String,
                  mvPath: String, keys: Seq[String],
                  sumCols: Seq[String]): Int = {
    import graft.sources.TxnTable
    val v = TxnTable.currentVersion(table)
    build(TxnTable.read(spark, table, asOf = Some(v)), keys, sumCols, mvPath)
    registerTxnAt(spark, name, table, v, mvPath, keys, sumCols)
    v
  }

  /** Advance a txn-table view from `builtVersion` to the current head
    * by aggregating ONLY the appended files and additively merging into
    * the existing summary (sum/cnt add, min/max re-min/re-max) — the
    * O(Δ) refresh. The delta is the LIVE-FILE DIFF between the two
    * snapshots, not a log replay: a metadata-only re-list version in
    * the range (checkpoint squash, the catalog lineage cap) would make
    * `TxnTable.addedFiles` re-count every pre-existing row, while the
    * diff stays exactly the appends. Any file REMOVED since
    * `builtVersion` (delete/overwrite/compaction) fails loudly —
    * min/max cannot be retracted additively; rebuild via
    * [[registerTxn]]. Re-registers against the new head's file set and
    * returns it. */
  def refreshTxn(spark: SparkSession, name: String, table: String,
                 builtVersion: Int, mvPath: String, keys: Seq[String],
                 sumCols: Seq[String]): Int = {
    import graft.sources.TxnTable
    recoverSwap(mvPath)
    val head = TxnTable.currentVersion(table)
    if (head != builtVersion) {
      val preLive = TxnTable.liveFiles(table, Some(builtVersion)).toSet
      val headLive = TxnTable.liveFiles(table, Some(head))
      val gone = preLive.diff(headLive.toSet)
      require(gone.isEmpty,
        s"$table removed ${gone.size} file(s) since v$builtVersion — the " +
          "range is not append-only; rebuild the view via registerTxn")
      val added = headLive.filterNot(preLive)
        .map(f => new java.io.File(table, f).getPath)
      if (added.nonEmpty) {
        val deltaDir = mvPath + s"_delta_v$head"
        build(graft.sources.SchemaCache.read(spark, added), keys, sumCols, deltaDir)
        val merges = sumCols.flatMap(c => Seq(
          s"min_$c" -> "min", s"max_$c" -> "max")).toMap
        val merged = graft.operators.Incremental.mergeAdditive(
          graft.sources.SchemaCache.readDir(spark, mvPath),
          graft.sources.SchemaCache.readDir(spark, deltaDir),
          keys, merges)
        // stage the merge (it READS mvPath), then install via the
        // recoverable rename-swap ([[installSwap]]); sweep the delta
        // scratch last
        val staging = new java.io.File(mvPath + s"_v$head")
        merged.write.mode("overwrite").parquet(staging.getPath)
        MvRewrite.deregister(name)
        installSwap(mvPath, staging, head)
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(deltaDir))
      }
    }
    registerTxnAt(spark, name, table, head, mvPath, keys, sumCols)
    head
  }

  /** Install `staging` at `mvPath` by renaming the old summary aside,
    * moving staging in, then deleting the old dir. The two renames are
    * not jointly atomic: a crash between them leaves mvPath ABSENT with
    * both halves intact on disk — which is why every entry point runs
    * [[recoverSwap]] first, making the DURABLE contract "old or new
    * summary after recovery", never a half-written dir and never silent
    * data loss. */
  private def installSwap(mvPath: String, staging: java.io.File,
                          head: Int): Unit = {
    val target = new java.io.File(mvPath)
    val retired = new java.io.File(mvPath + s"_retired_v$head")
    org.apache.commons.io.FileUtils.deleteQuietly(retired)
    org.apache.commons.io.FileUtils.moveDirectory(target, retired)
    org.apache.commons.io.FileUtils.moveDirectory(staging, target)
    org.apache.commons.io.FileUtils.deleteDirectory(retired)
  }

  /** Heal a crashed [[installSwap]]: when mvPath is missing, restore the
    * newest RETIRED old summary (`<mv>_retired_vN` — complete by
    * construction, and always present mid-swap: the old dir is renamed
    * aside BEFORE staging moves in, and retired is deleted only after
    * mvPath is whole again). The OLD summary — never the staged new
    * one — is the correct recovery: the caller's retry still passes the
    * pre-crash `builtVersion` and re-applies the same delta, which on
    * top of an already-refreshed staging would DOUBLE-APPLY (doubled
    * sums, double-retracted deletes) and re-register silently wrong.
    * Once mvPath is healthy, every stale retired/staged sibling sweeps —
    * a crash between the second rename and the retired delete must not
    * leak a summary copy per refresh, nor leave an old sibling a later
    * manual mvPath delete would resurrect. */
  private[graft] def recoverSwap(mvPath: String): Unit = {
    val target = new java.io.File(mvPath)
    val (parent, base) = (target.getParentFile, target.getName)
    def siblings(prefix: String): Seq[java.io.File] =
      Option(parent.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith(prefix) &&
          f.getName.stripPrefix(prefix).forall(_.isDigit) &&
          f.getName.length > prefix.length)
        .sortBy(f => f.getName.stripPrefix(prefix).toInt).toSeq
    if (!target.exists())
      siblings(base + "_retired_v").lastOption
        .foreach(f => org.apache.commons.io.FileUtils.moveDirectory(f, target))
    if (target.exists())
      (siblings(base + "_retired_v") ++ siblings(base + "_v"))
        .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }

  /** Advance a txn-table view across commits that REMOVE or REWRITE
    * rows — the refresh [[refreshTxn]] refuses. Deletes, MERGE updates,
    * and compactions retract additively for SUM/COUNT (a removed row's
    * contribution subtracts exactly), so the view stays O(Δ-rows) via
    * the row-level change feed; MIN/MAX cannot retract without history,
    * so by default the refreshed summary DROPS its `min_`/`max_`
    * columns — a MIN/MAX query then declines the rewrite (missing
    * column = fall back to base, never a wrong answer) while
    * SUM/AVG/COUNT keep answering from the view. `repairMinMax = true`
    * instead RECOMPUTES the extrema for exactly the feed-touched groups
    * from the head snapshot ([[repairedMinMax]] — O(touched-group rows)
    * extra), keeping the full measure surface live through deletes.
    * `rowKeys` is the table's unique row key
    * ([[graft.sources.TxnTable.changeFeed]]'s keyed-table contract — the
    * MERGE invariant). Re-registers against the head's file set and
    * returns it.
    *
    * Cost caveat: O(Δ-rows) holds for deletes/MERGEs, but a COMPACTION
    * or OPTIMIZE version in the range makes the underlying change feed
    * diff every rewritten file (the survivor suppression is a full-outer
    * join over that version's touched files) — the result is still an
    * exact no-op merge, but the refresh pays O(rewritten bytes) for that
    * version. Refresh BEFORE routine compaction, or re-register after
    * it, when the table is large. */
  def refreshTxnCdc(spark: SparkSession, name: String, table: String,
                    builtVersion: Int, mvPath: String, keys: Seq[String],
                    sumCols: Seq[String], rowKeys: Seq[String],
                    repairMinMax: Boolean = false): Int = {
    import graft.sources.TxnTable
    recoverSwap(mvPath)
    val head = TxnTable.currentVersion(table)
    require(head >= builtVersion,
      s"$table is at v$head, below the view's v$builtVersion — restore " +
        "rewinds are not refreshable; rebuild via registerTxn")
    if (head != builtVersion) {
      val feed0 = TxnTable.changeFeed(spark, table, builtVersion, head,
        rowKeys, updateImages = true)
      cdcRefreshCore(name, mvPath, head, keys, sumCols, feed0,
        TxnTable.read(spark, table, Some(head)), repairMinMax)
    }
    registerTxnAt(spark, name, table, head, mvPath, keys, sumCols)
    head
  }

  /** The shared CDC-refresh body of [[refreshTxnCdc]] and
    * [[refreshStarTxnCdc]]: signed-aggregate the (possibly dim-joined)
    * change feed, merge additively into the slim summary, optionally
    * repair min/max from `snapForRepair`, then stage + rename-swap. */
  private def cdcRefreshCore(name: String, mvPath: String, head: Int,
                             keys: Seq[String], sumCols: Seq[String],
                             feed0: DataFrame, snapForRepair: => DataFrame,
                             repairMinMax: Boolean): Unit = {
    val spark = feed0.sparkSession
    // per-measure non-null indicator rides the feed so cnt_<c> (what
    // AVG divides by) retracts with the same signed aggregate as cnt
    val feed = sumCols.foldLeft(feed0) { (f, c) =>
      f.withColumn(s"__nn_$c",
        org.apache.spark.sql.functions.when(col(c).isNotNull, 1L)
          .otherwise(0L))
    }
    val mv = graft.sources.SchemaCache.readDir(spark, mvPath)
    val slimCols = (keys :+ "cnt") ++
      sumCols.flatMap(c => Seq(s"sum_$c", s"cnt_$c"))
    val slim = mv.select(slimCols.map(col): _*)
    val sums = sumCols.flatMap(c =>
      Seq(s"sum_$c" -> c, s"cnt_$c" -> s"__nn_$c")).toMap
    val additive = graft.operators.Incremental.applyCdc(
      slim, feed, keys, "cnt", sums)
    val merged =
      if (!repairMinMax) additive
      else repairedMinMax(snapForRepair, mv, feed, additive, keys, sumCols)
    val staging = new java.io.File(mvPath + s"_v$head")
    merged.write.mode("overwrite").parquet(staging.getPath)
    MvRewrite.deregister(name)
    installSwap(mvPath, staging, head)
  }

  /** The `repairMinMax` half of [[refreshTxnCdc]]: MIN/MAX cannot
    * retract additively (a deleted row may BE the extremum), so the
    * refreshed summary recomputes `min_`/`max_` for EXACTLY the groups
    * the feed touched — a null-safe semi-joined scan of the head
    * snapshot, pruned to the touched keys — and keeps the stored values
    * everywhere else. Cost: O(|feed| + rows of touched groups), never
    * the full table (at scale the semi-join's key filter rides the scan,
    * and a table clustered/partitioned by group key prunes to the
    * touched files). A summary whose min/max columns were already
    * dropped by a prior plain refresh upgrades by recomputing ALL
    * surviving groups — a one-time full-snapshot aggregate, flagged here
    * so callers choose the moment. All key joins are null-safe: NULL
    * group keys are real groups ([[Mv.build]] keeps them) and an
    * equi-join would silently strip their repaired extrema. `snap` is
    * the view's CURRENT base frame — the head snapshot for a flat view,
    * the head snapshot joined through the dimensions for a star. */
  private def repairedMinMax(snap0: DataFrame,
                             mv: DataFrame, feed: DataFrame,
                             additive: DataFrame, keys: Seq[String],
                             sumCols: Seq[String]): DataFrame = {
    val mmCols = sumCols.flatMap(c => Seq(s"min_$c", s"max_$c"))
    val hasStored = mmCols.forall(mv.columns.contains)
    // every frame joined below shares lineage with mv or the snapshot —
    // RENAMED key columns + name-based conditions sidestep the self-join
    // exprId ambiguity df-reference resolution would trip on
    val touched =
      (if (hasStored) feed.select(keys.map(col): _*).distinct()
       else additive.select(keys.map(col): _*))
        .select(keys.map(k => col(k).as(s"__tk_$k")): _*)
    def touchedOn = keys.map(k => col(k) <=> col(s"__tk_$k")).reduce(_ && _)
    val snap = snap0.select((keys ++ sumCols).map(col): _*)
    val mmAggs = sumCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    val recomputed = snap.join(touched, touchedOn, "left_semi")
      .groupBy(keys.map(col): _*)
      .agg(mmAggs.head, mmAggs.tail: _*)
    val minmax =
      if (!hasStored) recomputed
      else {
        val stored = mv.select((keys ++ mmCols).map(col): _*)
        stored.join(touched, touchedOn, "left_anti")
          .unionByName(recomputed)
      }
    val mmKeyed = minmax.select(
      keys.map(k => col(k).as(s"__mmk_$k")) ++
        mmCols.map(c => col(c).as(c)): _*)
    // every additive group is either untouched (stored row) or touched
    // and surviving (recomputed row) — the left join is total; the final
    // select restores [[Mv.build]]'s exact column layout
    additive.join(mmKeyed,
        keys.map(k => col(k) <=> col(s"__mmk_$k")).reduce(_ && _), "left")
      .select(((keys :+ "cnt") ++ sumCols.flatMap(c =>
        Seq(s"sum_$c", s"cnt_$c", s"min_$c", s"max_$c"))).map(col): _*)
  }

  /** Build AND register a summary of a [[graft.sources.TxnCatalog]]
    * table's CURRENT snapshot, pinned to the exact file set the
    * catalog's head transaction resolves for it — the warehouse-level
    * sibling of [[registerTxn]]: the moment ANY catalog transaction
    * changes the table (commitAll, restore, WAP publish, forget), a
    * live read's file set differs and queries fall back to base —
    * stale answers structurally impossible across the whole catalog
    * protocol, with zero registrar discipline. Returns the summarized
    * catalog txn (re-register after it advances). */
  def registerCatalog(spark: SparkSession, name: String, catalog: String,
                      table: String, mvPath: String, keys: Seq[String],
                      sumCols: Seq[String]): Int = {
    import graft.sources.TxnCatalog
    val txn = TxnCatalog.currentTxn(catalog)
    val snap = TxnCatalog.read(spark, catalog, table, Some(txn))
    // a snapshot with live DELETION VECTORS reads through an anti-join —
    // a plan shape the rewrite's matcher can never strip, so the view
    // would build, register, and silently never fire. Fail fast instead
    // (compact the MOR deletes away, then register).
    val rels = snap.queryExecution.analyzed
      .collect { case lr: LogicalRelation => lr.relation }
    require(rels.size == 1,
      s"$catalog/$table txn $txn has live deletion vectors (MOR deletes) " +
        "— its snapshot plan cannot match the rewrite; compact the " +
        "deletes into the data files first")
    build(snap, keys, sumCols, mvPath)
    val files = rels
      .collect { case fs: HadoopFsRelation =>
        fs.location.rootPaths.map(_.toString) }
      .flatten.toSet
    require(files.nonEmpty, s"$catalog/$table txn $txn reads no files")
    val rel = analyzedRelation(spark, mvPath)
    requireCols(rel, mvPath, keys, sumCols)
    MvRewrite.register(name,
      MvRewrite.MvDef(table, keys, sumCols, rel, fileSet = Some(files)))
    txn
  }

  private def registerTxnAt(spark: SparkSession, name: String, table: String,
                            version: Int, mvPath: String, keys: Seq[String],
                            sumCols: Seq[String]): Unit = {
    import graft.sources.TxnTable
    recoverSwap(mvPath)
    val snap = TxnTable.read(spark, table, asOf = Some(version))
    val files = snap.queryExecution.analyzed
      .collect { case lr: LogicalRelation => lr.relation }
      .collect { case fs: HadoopFsRelation =>
        fs.location.rootPaths.map(_.toString) }
      .flatten.toSet
    require(files.nonEmpty, s"$table v$version reads no files")
    val rel = analyzedRelation(spark, mvPath)
    requireCols(rel, mvPath, keys, sumCols)
    MvRewrite.register(name,
      MvRewrite.MvDef(table, keys, sumCols, rel, fileSet = Some(files)))
  }
}
