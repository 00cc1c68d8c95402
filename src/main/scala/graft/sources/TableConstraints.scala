package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, expr, lit}

/** Declared table constraints (engine-added): UNIQUE/PRIMARY-KEY,
  * FOREIGN-KEY, and NOT NULL declarations an optimizer may RELY on —
  * the lakehouse
  * informational-constraint surface (Delta/Snowflake `RELY`, Trino's
  * `NOT ENFORCED` keys). At 100 TB the optimizer cannot AFFORD to
  * discover these properties per query (a uniqueness probe is a full
  * shuffle of the dimension; an FK probe is an anti-join of the fact),
  * yet they unlock the rewrites that matter most at that scale: a
  * dimension join the query only uses for existence DISAPPEARS
  * ([[graft.plans.ConstraintRules]]), a `dropDuplicates` on an ingest
  * key becomes a no-op, and the MV advisor orients star edges from
  * metadata instead of probing every candidate dimension.
  *
  * Storage: one `_graft_constraints.json` at the table root — beside
  * `_graft_log` for a [[TxnTable]], directly inside a plain parquet
  * directory otherwise (the underscore prefix keeps it invisible to
  * file-listing scans, like `_SUCCESS`). Writes are
  * [[AtomicFile.replace]]; [[TxnTable.cloneShallow]] and
  * [[TxnCatalog.cloneCatalog]] copy the file with the rest of the root,
  * so constraints travel with clones. The file is NOT in the `v*.json` log namespace the CDC
  * streams glob.
  *
  * Semantics: a constraint with `rely = true` is an OPTIMIZER CONTRACT
  * asserted by the declarer — exactly Delta's RELY. `declare*` can
  * optionally validate against the current data first (refusing the
  * declaration on violation), and [[verify]] re-checks every declared
  * constraint on demand, but nothing re-validates at commit time: like
  * every informational-constraint system, a writer that breaks a RELY
  * constraint afterward owns the consequences. `rely = false` records
  * documentation the optimizer must ignore (spec-pinned).
  *
  * Uniqueness here is STRICT: at most one row per full column tuple,
  * null tuples included (stronger than SQL UNIQUE, which admits
  * duplicate nulls) — the form both the dedup-elimination and
  * group-by-elimination rewrites need. The FK form is standard SQL:
  * every fact row whose FK columns are ALL non-null has a match in the
  * referenced table (null-keyed fact rows are unconstrained, which is
  * why the inner-join elimination keeps an `IsNotNull` filter).
  */
object TableConstraints {

  final case class Unique(cols: Seq[String], rely: Boolean)
  final case class ForeignKey(cols: Seq[String], refTable: String,
                              refCols: Seq[String], rely: Boolean)
  final case class NotNull(cols: Seq[String], rely: Boolean)

  /** Row-predicate (CHECK) constraint. STRICT semantics, deliberately
    * stronger than SQL's (which passes UNKNOWN): a row satisfies the
    * check iff `expr` evaluates to TRUE — a NULL result fails. The
    * optimizer rewrites need exactly that invariant (a tautology drop
    * of `Filter(expr)` is only sound when every row is TRUE, not merely
    * not-FALSE), and enforcement/validation probe the same form, so the
    * declared meaning and the consumed meaning never diverge. */
  final case class Check(name: String, expr: String, rely: Boolean)

  private def file(dir: String) = new File(dir, "_graft_constraints.json")

  /** Declarations are a read-modify-write of one JSON file; two threads
    * declaring on one table concurrently (parallel spec suites, two
    * queries healing a shared fixture) must not drop each other's rows.
    * One JVM-wide lock serializes writers — cheap (declarations are
    * rare control-plane events) and honest about scope: cross-PROCESS
    * racing declarations remain the operator's problem, like every
    * other registrar-contract surface here. */
  private val writeLock = new Object

  private def canon(dir: String): String = new File(dir).getCanonicalPath

  /** Parse without a JSON library — we wrote the file ourselves and
    * column/path strings never contain quotes (house rule shared with
    * the txn log parser, [[TxnTable.parseEntry]]). */
  private def parse(dir: String)
      : (Seq[Unique], Seq[ForeignKey], Seq[NotNull], Seq[Check]) = {
    val f = file(dir)
    if (!f.isFile) (Nil, Nil, Nil, Nil)
    else {
      val s = new String(Files.readAllBytes(f.toPath), UTF_8)
      def cols(body: String): Seq[String] =
        "\"([^\"]*)\"".r.findAllMatchIn(body).map(_.group(1)).toSeq
      val uRe =
        """\{"cols":\[([^\]]*)\],"rely":(true|false)\}""".r
      val fkRe =
        """\{"cols":\[([^\]]*)\],"ref":"([^"]*)","refCols":\[([^\]]*)\],"rely":(true|false)\}""".r
      val ckRe =
        """\{"name":"([^"]*)","expr":"([^"]*)","rely":(true|false)\}""".r
      // a notnull row has the SAME shape as a unique row, so section
      // boundaries carry the family (unique, then fk, then notnull,
      // then check; files written before a family existed simply lack
      // its section)
      val uSec = s.indexOf("\"unique\":[")
      val fkSec = s.indexOf("\"fk\":[")
      val nnSec = s.indexOf("\"notnull\":[")
      val ckSec = s.indexOf("\"check\":[")
      val uEnd = Seq(fkSec, nnSec, ckSec, s.length).filter(_ > uSec).min
      val fkEnd = Seq(nnSec, ckSec, s.length).filter(_ > fkSec).min
      val nnEnd = Seq(ckSec, s.length).filter(_ > nnSec).min
      val uBody = if (uSec < 0) "" else s.substring(uSec, uEnd)
      val fkBody = if (fkSec < 0) "" else s.substring(fkSec, fkEnd)
      val nnBody = if (nnSec < 0) "" else s.substring(nnSec, nnEnd)
      val ckBody = if (ckSec < 0) "" else s.substring(ckSec)
      val us = uRe.findAllMatchIn(uBody)
        .map(m => Unique(cols(m.group(1)), m.group(2) == "true")).toSeq
      val fks = fkRe.findAllMatchIn(fkBody)
        .map(m => ForeignKey(cols(m.group(1)), m.group(2),
          cols(m.group(3)), m.group(4) == "true")).toSeq
      val nns = uRe.findAllMatchIn(nnBody)
        .map(m => NotNull(cols(m.group(1)), m.group(2) == "true")).toSeq
      val cks = ckRe.findAllMatchIn(ckBody)
        .map(m => Check(m.group(1), m.group(2), m.group(3) == "true")).toSeq
      (us, fks, nns, cks)
    }
  }

  private def render(us: Seq[Unique], fks: Seq[ForeignKey],
                     nns: Seq[NotNull], cks: Seq[Check]): String = {
    def arr(cs: Seq[String]) = cs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val u = us.map(x => s"""{"cols":${arr(x.cols)},"rely":${x.rely}}""")
      .mkString("[", ",", "]")
    val f = fks.map(x =>
        s"""{"cols":${arr(x.cols)},"ref":"${x.refTable}","refCols":${arr(x.refCols)},"rely":${x.rely}}""")
      .mkString("[", ",", "]")
    val n = nns.map(x => s"""{"cols":${arr(x.cols)},"rely":${x.rely}}""")
      .mkString("[", ",", "]")
    val c = cks.map(x =>
        s"""{"name":"${x.name}","expr":"${x.expr}","rely":${x.rely}}""")
      .mkString("[", ",", "]")
    s"""{"unique":$u,"fk":$f,"notnull":$n,"check":$c}"""
  }

  private def write(dir: String, us: Seq[Unique], fks: Seq[ForeignKey],
                    nns: Seq[NotNull], cks: Seq[Check]): Unit = {
    val target = file(dir)
    require(target.getParentFile.isDirectory,
      s"constraint target is not a directory: $dir")
    AtomicFile.replace(target, render(us, fks, nns, cks).getBytes(UTF_8))
  }

  private def readDir(spark: SparkSession, dir: String) =
    if (TxnTable.logDir(dir).isDirectory) TxnTable.read(spark, dir)
    else spark.read.parquet(dir)

  /** Validation must NEVER run under the rewrites it validates: with
    * [[graft.plans.ConstraintRules]] active, a (violated) RELY unique
    * declaration would rewrite the validation's own `GROUP BY keys
    * HAVING COUNT > 1` probe into a constant `count = 1` projection —
    * the constraint hiding its own violation. Caught live by
    * q_constraint_verify's oracle before this guard existed. */
  private def withRewriteOff[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.graft.constraintRewrite.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** True iff the current data satisfies strict uniqueness on `cols`.
    * With `sampleRows`, only the first N rows are probed — a duplicate
    * inside the sample is an EXACT refutation, a clean sample is a
    * SCREEN (the advisory contract: declare-with-validate is the exact
    * gate). Runs under [[withRewriteOff]] either way, so a violated
    * RELY declaration can never rewrite its own probe. */
  def holdsUnique(spark: SparkSession, dir: String, cols: Seq[String],
                  sampleRows: Option[Int] = None): Boolean =
    withRewriteOff(spark) {
      val src = readDir(spark, dir)
      sampleRows.fold(src)(src.limit(_))
        .groupBy(cols.map(col): _*).count()
        .filter(col("count") > 1).limit(1).count() == 0
    }

  /** True iff every row of `dir` with all-non-null `cols` matches a row
    * of `refDir` on `refCols` (standard SQL FK). `sampleRows` limits
    * the PROBED side (the fact) — same screen-or-exact-refute contract
    * as [[holdsUnique]]; the ref is always read whole. */
  def holdsForeignKey(spark: SparkSession, dir: String, cols: Seq[String],
                      refDir: String, refCols: Seq[String],
                      sampleRows: Option[Int] = None): Boolean =
    withRewriteOff(spark) {
      val src = readDir(spark, dir)
      val fact = sampleRows.fold(src)(src.limit(_))
        .select(cols.map(col): _*).na.drop("any")
      val ref = readDir(spark, refDir)
        .select(refCols.zip(cols).map { case (rc, c) => col(rc).as(c) }: _*)
      fact.join(ref, cols, "left_anti").limit(1).count() == 0
    }

  /** True iff no row of `dir` has a NULL in any of `cols` (`sampleRows`:
    * screen-or-exact-refute, as above). */
  def holdsNotNull(spark: SparkSession, dir: String, cols: Seq[String],
                   sampleRows: Option[Int] = None): Boolean =
    withRewriteOff(spark) {
      val src = readDir(spark, dir)
      sampleRows.fold(src)(src.limit(_))
        .filter(cols.map(col(_).isNull).reduce(_ || _))
        .limit(1).count() == 0
    }

  /** True iff EVERY row satisfies `exprSql` STRICTLY (evaluates TRUE —
    * a NULL result fails, see [[Check]]); `sampleRows`:
    * screen-or-exact-refute, as above. */
  def holdsCheck(spark: SparkSession, dir: String, exprSql: String,
                 sampleRows: Option[Int] = None): Boolean =
    withRewriteOff(spark) {
      val src = readDir(spark, dir)
      sampleRows.fold(src)(src.limit(_))
        .filter(!coalesce(expr(exprSql), lit(false)))
        .limit(1).count() == 0
    }

  /** Declare strict uniqueness on `cols`. With `validate`, the current
    * data is checked first and a violation REFUSES the declaration —
    * without it this is a pure RELY assertion. Re-declaring the same
    * column set replaces the prior row (rely flag updates). */
  def declareUnique(dir: String, cols: Seq[String], rely: Boolean = true,
                    validate: Option[SparkSession] = None): Unit = {
    require(cols.nonEmpty, "unique constraint needs at least one column")
    validate.foreach { s =>
      require(holdsUnique(s, dir, cols),
        s"unique(${cols.mkString(",")}) does not hold in $dir — declaration refused")
    }
    writeLock.synchronized {
      val (us, fks, nns, cks) = parse(dir)
      write(dir, us.filterNot(_.cols.sorted == cols.sorted) :+ Unique(cols, rely),
        fks, nns, cks)
    }
  }

  /** Declare NOT NULL on every column of `cols`. With `validate`, the
    * current data is checked first (a present NULL refuses). Same RELY
    * semantics and replacement-by-column-set as [[declareUnique]]. */
  def declareNotNull(dir: String, cols: Seq[String], rely: Boolean = true,
                     validate: Option[SparkSession] = None): Unit = {
    require(cols.nonEmpty, "not-null constraint needs at least one column")
    validate.foreach { s =>
      require(holdsNotNull(s, dir, cols),
        s"notnull(${cols.mkString(",")}) does not hold in $dir — declaration refused")
    }
    writeLock.synchronized {
      val (us, fks, nns, cks) = parse(dir)
      write(dir, us, fks,
        nns.filterNot(_.cols.sorted == cols.sorted) :+ NotNull(cols, rely), cks)
    }
  }

  /** Declare a named STRICT row-predicate (see [[Check]]): with
    * `validate`, a present violating row (expr not TRUE) refuses the
    * declaration. The expression must parse NOW (a malformed predicate
    * fails at declare time, not at its first enforcement) and must not
    * contain double quotes (the file parser is quote-scan exact — use
    * single-quoted SQL string literals). Re-declaring a name replaces
    * its row. */
  def declareCheck(dir: String, name: String, exprSql: String,
                   rely: Boolean = true,
                   validate: Option[SparkSession] = None,
                   resolve: Option[SparkSession] = None): Unit = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"check name must be [A-Za-z0-9._-]+: '$name'")
    require(!exprSql.contains("\""),
      "check expression must not contain double quotes; use single-quoted SQL literals")
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(exprSql)
    // RESOLVE against the table's schema when one is readable: a typo'd
    // column name must refuse NOW, not as an AnalysisException at every
    // later commitEnforced/verify. The probe is the exact plan shape
    // enforcement builds (filter(expr(...)) over the schema, zero rows
    // created, nothing scanned — schema comes from the log/footers).
    // A table with no readable schema yet (declare-before-first-commit)
    // skips the probe — the parse check above still gates syntax.
    // The probe runs ONLY under an EXPLICITLY passed session (`validate`
    // or `resolve`) — never the ambient getActiveSession: whether a
    // declaration is refused must not depend on which environment
    // happens to hold an active session or whether the table is
    // readable from it (the same call succeeding here and throwing
    // there is config drift, not a contract).
    validate.orElse(resolve)
      .foreach { s =>
        val schemaOpt =
          try Some(TxnTable.read(s, dir).schema)
          catch {
            case scala.util.control.NonFatal(_) =>
              try Some(s.read.parquet(dir).schema)
              catch { case scala.util.control.NonFatal(_) => None }
          }
        schemaOpt.foreach { schema =>
          try s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
            schema).filter(org.apache.spark.sql.functions.expr(exprSql))
          catch {
            case e: org.apache.spark.sql.AnalysisException =>
              throw new IllegalArgumentException(
                s"check $name ($exprSql) does not resolve against $dir's " +
                  s"schema [${schema.fieldNames.mkString(", ")}] — " +
                  s"declaration refused: ${e.getMessage}")
          }
        }
      }
    validate.foreach { s =>
      require(holdsCheck(s, dir, exprSql),
        s"check $name ($exprSql) does not hold in $dir — declaration refused")
    }
    writeLock.synchronized {
      val (us, fks, nns, cks) = parse(dir)
      write(dir, us, fks, nns,
        cks.filterNot(_.name == name) :+ Check(name, exprSql, rely))
    }
  }

  /** Declare an FK from `dir`.`cols` to `refDir`.`refCols` (positional
    * pairing). Paths are stored canonical so the optimizer can match
    * the referenced table by identity. */
  def declareForeignKey(dir: String, cols: Seq[String], refDir: String,
                        refCols: Seq[String], rely: Boolean = true,
                        validate: Option[SparkSession] = None): Unit = {
    require(cols.nonEmpty && cols.size == refCols.size,
      "foreign key needs matching non-empty column lists")
    validate.foreach { s =>
      require(holdsForeignKey(s, dir, cols, refDir, refCols),
        s"fk(${cols.mkString(",")}) -> $refDir(${refCols.mkString(",")}) does not hold — declaration refused")
    }
    writeLock.synchronized {
      val (us, fks, nns, cks) = parse(dir)
      val fk = ForeignKey(cols, canon(refDir), refCols, rely)
      write(dir, us,
        fks.filterNot(x => x.cols == cols && x.refTable == fk.refTable) :+ fk,
        nns, cks)
    }
  }

  def uniques(dir: String): Seq[Unique] = parse(dir)._1

  def foreignKeys(dir: String): Seq[ForeignKey] = parse(dir)._2

  def notNulls(dir: String): Seq[NotNull] = parse(dir)._3

  def checks(dir: String): Seq[Check] = parse(dir)._4

  /** True when some RELY NOT NULL declaration covers `column` — the
    * optimizer's view (non-RELY rows are documentation). */
  def isNotNullOn(dir: String, column: String): Boolean =
    notNulls(dir).exists(n => n.rely && n.cols.contains(column))

  def clear(dir: String): Unit = { file(dir).delete(); () }

  /** True when some RELY unique constraint's columns are a SUBSET of
    * `cols` — a key unique on fewer columns is unique on more. */
  def isUniqueOn(dir: String, cols: Set[String]): Boolean =
    uniques(dir).exists(u => u.rely && u.cols.forall(cols.contains))

  /** True when a RELY FK exists whose (col → refCol) pairs are EXACTLY
    * `pairs` and whose referenced table is `refDir` (canonical-path
    * identity). Exact cover, not subset: a join on extra column pairs
    * beyond the FK is NOT guaranteed a match per fact row. */
  def fkCovers(dir: String, pairs: Set[(String, String)], refDir: String): Boolean = {
    val refC = canon(refDir)
    foreignKeys(dir).exists(fk => fk.rely && fk.refTable == refC &&
      fk.cols.zip(fk.refCols).toSet == pairs)
  }

  /** Re-check every declared constraint against the CURRENT data — the
    * audit half of RELY: (description, rely, holds) per constraint. */
  def verify(spark: SparkSession, dir: String): Seq[(String, Boolean, Boolean)] = {
    val (us, fks, nns, cks) = parse(dir)
    us.map(u => (s"unique(${u.cols.mkString(",")})", u.rely,
        holdsUnique(spark, dir, u.cols))) ++
      fks.map(fk => (s"fk(${fk.cols.mkString(",")})->${fk.refTable}(${fk.refCols.mkString(",")})",
        fk.rely, holdsForeignKey(spark, dir, fk.cols, fk.refTable, fk.refCols))) ++
      nns.map(n => (s"notnull(${n.cols.mkString(",")})", n.rely,
        holdsNotNull(spark, dir, n.cols))) ++
      cks.map(ck => (s"check(${ck.name})", ck.rely,
        holdsCheck(spark, dir, ck.expr)))
  }

  // ── enforced ingest ──────────────────────────────────────────────────

  /** True when `table` already holds rows a uniqueness probe must
    * collide against (a fresh target has nothing to collide with).
    * Plain directories are walked RECURSIVELY — a partitionBy layout
    * nests its files under key= subdirectories, and treating such a
    * table as empty would skip the collision probe entirely. */
  private def hasData(table: String): Boolean =
    // the LIVE file set, not currentVersion > 0: a rewrite commit that
    // removes every file while adding none leaves the version positive
    // but the table empty, and readDir's require(files.nonEmpty) would
    // crash the uniqueness probe instead of skipping the snapshot join
    if (TxnTable.logDir(table).isDirectory)
      TxnTable.liveSplit(table)._1.nonEmpty
    else {
      def walk(d: File): Boolean =
        Option(d.listFiles()).getOrElse(Array.empty[File]).exists { f =>
          (f.isFile && f.getName.endsWith(".parquet")) ||
            (f.isDirectory && !f.getName.startsWith("_") &&
              !f.getName.startsWith(".") && walk(f))
        }
      walk(new File(table))
    }

  /** FK enforcement broadcasts the parent's distinct keys only below
    * this metadata ROW count; above it the probe semi-prunes the parent
    * by the batch's keys instead (see [[enforceSplit]]). The knob is
    * rows, not bytes — the size a metadata read can know. The 1M
    * default keeps even a 64-byte composite string key under ~64 MB
    * broadcast; a deployment with wide keys tunes it DOWN (the
    * semi-prune fallback is always correct, a failed broadcast is a
    * driver OOM — the asymmetry that sizes the default small). */
  val BroadcastMaxRowsKey = "spark.graft.enforce.broadcastMaxRows"
  private val BroadcastMaxRowsDefault = "1000000"

  private def walkParquet(d: File): Seq[File] =
    Option(d.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap { f =>
      if (f.isFile && f.getName.endsWith(".parquet")) Seq(f)
      else if (f.isDirectory && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")) walkParquet(f)
      else Nil
    }

  /** Row count of a table from METADATA alone — the memoized snapshot
    * for a txn table, a footer sweep for a plain parquet dir; never a
    * data scan (this gates a per-micro-batch probe). A plain dir's sum
    * is memoized in [[MetaStore]] on its walk stamp (path, length and
    * mtime of every file — the listing without the footer reads), so a
    * 10k-file static parent is not re-swept per 5-second trigger.
    * Anything unreadable counts as LARGE: the semi-prune fallback is
    * always correct, a failed broadcast is an OOM. */
  private def metadataRowCount(table: String): Long =
    try {
      if (TxnTable.logDir(table).isDirectory) TxnTable.snapshotRowCount(table)
      else {
        val files = walkParquet(new File(table))
        val stamp = files.map(f => s"${f.getAbsolutePath}:${f.length}:${f.lastModified}")
          .sorted
        MetaStore.memo[Long]("meta.rowCount", stamp)(_ => files.size.toLong)(
          files.map(TxnTable.footerRowCount).sum)
      }
    } catch { case _: Exception => Long.MaxValue }

  /** Split an incoming batch by `table`'s declared RELY constraints:
    * (conforming rows, violators + a `reason` column naming every
    * violated constraint, comma-joined). The write-side half of RELY:
    * [[graft.plans.ConstraintRules]] RELIES, [[verifyIncremental]]
    * audits in O(Δ), and this gate keeps the declarations TRUE at the
    * only place rows enter. Probes are batch-sized:
    *  - NOT NULL: a predicate over the batch alone;
    *  - FK: the batch left-joins the referenced table's DISTINCT keys
    *    (a dim-sized build side — broadcastable at 100 TB);
    *  - UNIQUE: a batch-keyed window counts within-batch duplicates,
    *    and a null-SAFE join flags collisions with the CURRENT table
    *    (strict uniqueness counts null tuples, which an equi-join
    *    would silently admit). Every row of a violating key
    *    quarantines — keeping "first of the dupes" would make the
    *    outcome partitioning-dependent.
    * Non-RELY declarations are documentation and do not gate ingest.
    *
    * The FK probe is SIZE-GATED (`spark.graft.enforce.broadcastMaxRows`,
    * metadata row count from the log/footers — never a scan): a
    * dim-sized ref broadcasts its distinct keys; a high-NDV parent
    * (user_id-style FK at 100 TB) would OOM the driver as a broadcast,
    * so it is instead SEMI-PRUNED by the batch's own keys first — one
    * pass over the ref, candidates bounded by the batch — and only the
    * pruned hit set joins back. */
  def enforceSplit(spark: SparkSession, batch: DataFrame, table: String)
      : (DataFrame, DataFrame) = withRewriteOff(spark) {
    val (tagged0, keep) = enforceTagged(spark, batch, table)
    // EAGER checkpoint inside the rewrite-off scope: the probe pipeline
    // (FK joins, uniqueness window + snapshot join) evaluates HERE, not
    // when the caller acts on the lazy frames — by which time the
    // constraint rewrites are back on and a violated RELY declaration
    // could rewrite its own enforcement probe (the hazard
    // commitEnforced's comment documents; it persists + counts for the
    // same reason). The returned frames scan checkpointed blocks, so no
    // later optimizer pass can reach into the probe plan.
    val tagged = tagged0.localCheckpoint(true)
    (tagged.filter(col("__reason") === "").select(keep.map(col): _*),
      tagged.filter(col("__reason") =!= "")
        .select(keep.map(col) :+ col("__reason").as("reason"): _*))
  }

  /** The shared core of [[enforceSplit]]/[[commitEnforced]]: the batch
    * with every probe folded into one `__reason` column — ONE frame the
    * committer can persist so the probe pipeline (FK joins, uniqueness
    * window + snapshot join) runs once, not once per count/commit. */
  private[sources] def enforceTagged(spark: SparkSession, batch: DataFrame,
                                     table: String)
      : (DataFrame, Seq[String]) = withRewriteOff(spark) {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{concat_ws, count => cnt, when}
    val (us, fks, nns, cks) = parse(table)
    val keep = batch.columns.toSeq
    var flagged = batch
    val reasons = scala.collection.mutable.ArrayBuffer.empty[(String, Column)]
    nns.filter(_.rely).foreach { n =>
      reasons += (s"notnull(${n.cols.mkString(",")})" ->
        n.cols.map(col(_).isNull).reduce(_ || _))
    }
    // checks are row-local predicates like NOT NULL — no joins, one
    // batch pass; STRICT semantics (a NULL result quarantines)
    cks.filter(_.rely).foreach { ck =>
      reasons += (s"check(${ck.name})" ->
        !coalesce(expr(ck.expr), lit(false)))
    }
    fks.filter(_.rely).zipWithIndex.foreach { case (fk, i) =>
      val hit = s"__fk_hit_$i"
      val rkCols = fk.refCols.indices.map(j => s"__rk_${i}_$j")
      val refKeys = readDir(spark, fk.refTable)
        .select(fk.refCols.zipWithIndex.map { case (rc, j) =>
          col(rc).as(rkCols(j)) }: _*)
      val maxRows = spark.conf
        .get(BroadcastMaxRowsKey, BroadcastMaxRowsDefault).toLong
      val ref =
        if (metadataRowCount(fk.refTable) <= maxRows)
          // dim-sized parent: one distinct + explicit broadcast — the
          // batch never shuffles, the probe is a map-side lookup
          broadcast(refKeys.distinct()).withColumn(hit, lit(1))
        else {
          // high-NDV parent: broadcasting its distinct keys would OOM
          // the driver, and distinct() alone is a full shuffle of the
          // parent PER BATCH. Instead the ref is semi-joined down to
          // the keys the batch actually carries (batch keys are the
          // small side — Spark/AQE broadcasts them), so the parent is
          // READ once but never shuffled or broadcast, and the hit set
          // that joins back is bounded by the batch's distinct keys.
          val batchKeys = batch
            .select(fk.cols.zipWithIndex.map { case (c, j) =>
              col(c).as(rkCols(j)) }: _*)
            .na.drop("any").distinct()
          refKeys.join(batchKeys, rkCols, "left_semi")
            .distinct().withColumn(hit, lit(1))
        }
      val cond = fk.cols.zipWithIndex.map { case (c, j) =>
        col(c) === col(s"__rk_${i}_$j") }.reduce(_ && _)
      flagged = flagged.join(ref, cond, "left")
        .drop(fk.cols.indices.map(j => s"__rk_${i}_$j"): _*)
      // SQL FK: null-keyed rows are unconstrained
      reasons += (s"fk(${fk.cols.mkString(",")})" ->
        (fk.cols.map(col(_).isNotNull).reduce(_ && _) && col(hit).isNull))
    }
    us.filter(_.rely).zipWithIndex.foreach { case (u, i) =>
      val w = s"__u_cnt_$i"
      flagged = flagged.withColumn(w,
        cnt(lit(1)).over(Window.partitionBy(u.cols.map(col): _*)))
      val hit = s"__u_hit_$i"
      var dup: Column = col(w) > 1
      if (hasData(table)) {
        val exist = readDir(spark, table)
          .select(u.cols.zipWithIndex.map { case (c, j) =>
            col(c).as(s"__uk_${i}_$j") }: _*)
          .distinct()
          .withColumn(hit, lit(1))
        val cond = u.cols.zipWithIndex.map { case (c, j) =>
          col(c) <=> col(s"__uk_${i}_$j") }.reduce(_ && _)
        flagged = flagged.join(exist, cond, "left")
          .drop(u.cols.indices.map(j => s"__uk_${i}_$j"): _*)
        dup = dup || col(hit).isNotNull
      }
      reasons += (s"unique(${u.cols.mkString(",")})" -> dup)
    }
    val reasonCol: Column =
      if (reasons.isEmpty) lit("")
      else concat_ws(",", reasons.toSeq.map { case (name, cond) =>
        when(cond, name) }: _*) // concat_ws skips the null (passing) arms
    (flagged.withColumn("__reason", reasonCol), keep)
  }

  /** Enforce-at-ingest: append `batch`'s conforming rows to `table` and
    * its violators (with `reason`) to `quarantineTable`, both as txn
    * commits. Returns (goodRows, badRows) — (0, 0) for a replayed
    * batch. With `tag`, the WHOLE batch is replay-idempotent: a tag
    * that already landed in EITHER table skips both commits, because a
    * replayed split re-evaluates against the post-append state — the
    * batch's own keys are installed by then, and a per-table guard
    * would re-classify the good rows as uniqueness collisions and
    * quarantine them spuriously. The two commits are not atomic: a
    * crash between them loses that batch's quarantine rows on replay
    * (the good-table invariant — every declared RELY constraint stays
    * TRUE — holds regardless; quarantine is diagnostics). A deployment
    * needing the two routes version-locked writes through
    * [[TxnCatalog.commitAll]] instead, the
    * [[graft.streaming.EventsStreaming.quarantineSinkIngest]] shape. */
  def commitEnforced(spark: SparkSession, batch: DataFrame, table: String,
                     quarantineTable: String,
                     tag: Option[String] = None): (Long, Long) = {
    // indexed adjudication: the common case is a FRESH tag (every new
    // micro-batch), and proving absence by reverse scan reads every log
    // entry per batch — O(versions²) over a long-lived stream. The
    // per-JVM tag index scans each entry once (recreate-detected by
    // entry digest, so a reset table can never false-claim a tag).
    def landed(t: String): Boolean = tag.exists(TxnTable.tagLanded(t, _))
    if (landed(table) || landed(quarantineTable)) return (0L, 0L)
    // the ENTIRE evaluation — split, counts, commits — runs with the
    // constraint rewrites off: the probe frames are lazy, and a
    // withRewriteOff scoped to plan CONSTRUCTION would expire before
    // the optimizer reads the conf at count()/commit time, handing a
    // violated RELY declaration its own enforcement probe to rewrite
    withRewriteOff(spark) {
      // the probe pipeline (FK joins, uniqueness window + snapshot
      // join) runs ONCE: the tagged frame persists, and the counts and
      // both commits read the materialized split instead of
      // re-executing it per consumer
      val (tagged0, keep) = enforceTagged(spark, batch, table)
      val tagged = tagged0
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val good = tagged.filter(col("__reason") === "")
          .select(keep.map(col): _*)
        val bad = tagged.filter(col("__reason") =!= "")
          .select(keep.map(col) :+ col("__reason").as("reason"): _*)
        // both counts BEFORE any commit: a txn read pins its snapshot's
        // file list at construction, but counting first keeps the split
        // manifestly pre-append even if a future probe loses that
        // property (the persist also materializes it here)
        val g = good.count()
        val b = bad.count()
        if (g > 0)
          TxnTable.commit(spark, good, table, overwrite = false, tag = tag)
        if (b > 0)
          TxnTable.commit(spark, bad, quarantineTable, overwrite = false,
            tag = tag)
        (g, b)
      } finally { tagged.unpersist(); () }
    }
  }

  // ── O(Δ) incremental audit ───────────────────────────────────────────

  private def auditFile(dir: String) = new File(dir, "_graft_constraints_audit.json")

  /** Digest of the constraints FILE — the audit watermark covers a
    * specific declared set. A constraint declared (or re-RELY'd, or
    * dropped) after the last all-green audit moves the digest, and the
    * next audit runs FULLY: old rows were never checked against the
    * new declaration, so an incremental Δ-only pass would report a
    * false green (the whole-table data may already violate it). */
  private def constraintsDigest(dir: String): String = {
    val f = file(dir)
    if (!f.isFile) "none"
    else java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(f.toPath)).map("%02x".format(_)).mkString
  }

  /** The audit watermark: the table version the last all-green audit
    * covered, each FK target's version at that moment, and the digest
    * of the constraint set it audited. */
  private def readAudit(dir: String): Option[(Int, Map[String, Int], String)] = {
    val f = auditFile(dir)
    if (!f.isFile) None
    else {
      val s = new String(Files.readAllBytes(f.toPath), UTF_8)
      val v = "\"version\":(\\d+)".r.findFirstMatchIn(s).map(_.group(1).toInt)
      val refs = """\{"ref":"([^"]*)","version":(\d+)\}""".r
        .findAllMatchIn(s).map(m => m.group(1) -> m.group(2).toInt).toMap
      val cons = "\"cons\":\"([0-9a-f]+|none)\"".r
        .findFirstMatchIn(s).map(_.group(1)).getOrElse("")
      v.map((_, refs, cons))
    }
  }

  private def writeAudit(dir: String, version: Int,
                         refs: Map[String, Int]): Unit = {
    val rs = refs.toSeq.sortBy(_._1)
      .map { case (r, v) => s"""{"ref":"$r","version":$v}""" }
      .mkString("[", ",", "]")
    AtomicFile.replace(auditFile(dir),
      s"""{"version":$version,"cons":"${constraintsDigest(dir)}","refs":$rs}"""
        .getBytes(UTF_8))
  }

  /** True when every version in (fromExclusive, toInclusive] only ADDED
    * data files — the shape under which "the rows that changed" is
    * exactly "the rows in the added files". A DELETION-VECTOR commit
    * (`deleteWhereMor`) removes no files yet removes ROWS, so a version
    * adding any `dv/` entry is NOT append-only. */
  private def appendOnly(table: String, fromExclusive: Int,
                         toInclusive: Int): Boolean =
    TxnTable.logFiles(table)
      .filter(f => TxnTable.versionOf(f) > fromExclusive &&
        TxnTable.versionOf(f) <= toInclusive)
      .forall { f =>
        val (added, removed) = TxnTable.parseEntry(f)
        removed.isEmpty && !added.exists(_.startsWith("dv/"))
      }

  /** The rows appended in (fromExclusive, toInclusive] as a DataFrame —
    * only meaningful under [[appendOnly]]. */
  private def appendedRows(spark: SparkSession, table: String,
                           fromExclusive: Int, toInclusive: Int) = {
    val files = TxnTable.logFiles(table)
      .filter(f => TxnTable.versionOf(f) > fromExclusive &&
        TxnTable.versionOf(f) <= toInclusive)
      .flatMap(f => TxnTable.parseEntry(f)._1)
      .filterNot(_.startsWith("dv/"))
    TxnTable.readFileList(spark, table, files)
  }

  /** The O(Δ) half of the RELY honesty check — [[verify]] re-derives
    * every constraint from the COMPLETE data, a full shuffle of a
    * 100 TB fact per audit; this form audits ONLY the rows appended
    * since the last all-green audit (recorded in an
    * `_graft_constraints_audit.json` watermark beside the constraints):
    *
    *  - UNIQUE: the appended rows must be duplicate-free among
    *    themselves AND not collide with the pre-append snapshot — a
    *    broadcast-sized probe of Δ against one streaming pass of the
    *    old snapshot (null-SAFE equality: strict uniqueness counts null
    *    tuples, which a plain equi-join would silently admit);
    *  - FK: the appended fact rows anti-join the CURRENT referenced
    *    table. Sound while the ref only grew since the watermark (a
    *    superset preserves old matches); a ref that REMOVED files since
    *    then re-audits that FK fully;
    *  - NOT NULL: the appended rows alone are probed.
    *
    * Any removal version on the audited table itself (overwrite,
    * compaction, delete — INCLUDING a deletion-vector commit, which
    * removes rows without removing files) falls back to the full
    * [[verify]] — "what changed" is no longer "the appended rows"; so
    * does any change to the DECLARED SET since the green audit (a
    * constraint declared afterward was never checked against the old
    * rows — Δ-only would false-green it). The watermark advances ONLY
    * when every constraint holds, so a violation keeps being
    * re-audited until healed (or the declaration is withdrawn); a
    * non-txn directory always audits fully.
    *
    * Returns (description, rely, holds, mode) with mode ∈
    * {"incremental", "full"} per constraint. */
  def verifyIncremental(spark: SparkSession, dir: String)
      : Seq[(String, Boolean, Boolean, String)] = {
    val (us, fks, nns, cks) = parse(dir)
    val isTxn = TxnTable.logDir(dir).isDirectory
    val cur = if (isTxn) TxnTable.currentVersion(dir) else 0
    val audit = if (isTxn) readAudit(dir) else None
    // each FK ref's version is captured ONCE, before any probe runs,
    // and this same snapshot is what the green audit records: a ref
    // removal committed by a concurrent writer between the probe and
    // the watermark write then lands ABOVE the recorded version, so the
    // next audit's appendOnly(refWm, refCur) check sees it and falls
    // back to the full FK verify. Recording an older-than-probed
    // version is safe (extra re-audit); recording a newer one would
    // silently skip the removal — the false-green this ordering closes.
    val refSnapshot: Map[String, Int] = fks.map { fk =>
      canon(fk.refTable) -> (
        if (TxnTable.logDir(fk.refTable).isDirectory)
          TxnTable.currentVersion(fk.refTable)
        else 0)
    }.toMap
    def full(): Seq[(String, Boolean, Boolean, String)] =
      verify(spark, dir).map { case (c, r, h) => (c, r, h, "full") }
    val out: Seq[(String, Boolean, Boolean, String)] = audit match {
      case None => full()
      // the declared set moved since the green audit: old rows were
      // never checked against the new declarations — full re-audit
      case Some((_, _, cons)) if cons != constraintsDigest(dir) => full()
      case Some((wm, _, _)) if !appendOnly(dir, wm, cur) => full()
      case Some((wm, refVs, _)) => withRewriteOff(spark) {
        // NOT cached/checkpointed: at 100 TB a day's Δ can be big, and
        // each probe is one clean re-scan of the Δ files — spill-safe
        val delta =
          if (wm >= cur) None
          else Some(appendedRows(spark, dir, wm, cur))
        def deltaUniqueHolds(cols: Seq[String]): Boolean = delta match {
          case None => true // nothing appended since the green audit
          case Some(d) =>
            val dupWithin = d.groupBy(cols.map(col): _*).count()
              .filter(col("count") > 1).limit(1).count() > 0
            if (dupWithin) false
            else {
              // null-safe overlap probe against the PRE-append snapshot
              val old = TxnTable.read(spark, dir, asOf = Some(wm))
              val cond = cols.map(c => d(c) <=> old(c)).reduce(_ && _)
              d.join(old, cond, "left_semi").limit(1).count() == 0
            }
        }
        def deltaFkHolds(fk: ForeignKey): (Boolean, String) = {
          val refIsTxn = TxnTable.logDir(fk.refTable).isDirectory
          if (!refIsTxn)
            // an untracked ref can shrink invisibly — audit fully
            (holdsForeignKey(spark, dir, fk.cols, fk.refTable, fk.refCols),
              "full")
          else {
            val refCur = refSnapshot(canon(fk.refTable))
            val refWm = refVs.getOrElse(canon(fk.refTable), 0)
            if (!appendOnly(fk.refTable, refWm, refCur))
              // ref removals may dangle OLD fact rows — full re-audit
              (holdsForeignKey(spark, dir, fk.cols, fk.refTable, fk.refCols),
                "full")
            else delta match {
              case None => (true, "incremental")
              case Some(d) =>
                val fact = d.select(fk.cols.map(col): _*).na.drop("any")
                val ref = readDir(spark, fk.refTable)
                  .select(fk.refCols.zip(fk.cols)
                    .map { case (rc, c) => col(rc).as(c) }: _*)
                (fact.join(ref, fk.cols, "left_anti").limit(1).count() == 0,
                  "incremental")
            }
        }
        }
        def deltaNotNullHolds(cols: Seq[String]): Boolean = delta match {
          case None => true
          case Some(d) =>
            d.filter(cols.map(col(_).isNull).reduce(_ || _))
              .limit(1).count() == 0
        }
        // row-local like NOT NULL: appended rows alone decide (old rows
        // passed the audit that set the watermark; appends can't break
        // a predicate that only reads the row itself)
        def deltaCheckHolds(exprSql: String): Boolean = delta match {
          case None => true
          case Some(d) =>
            d.filter(!coalesce(expr(exprSql), lit(false)))
              .limit(1).count() == 0
        }
        us.map(u => (s"unique(${u.cols.mkString(",")})", u.rely,
            deltaUniqueHolds(u.cols), "incremental")) ++
          fks.map { fk =>
            val (h, mode) = deltaFkHolds(fk)
            (s"fk(${fk.cols.mkString(",")})->${fk.refTable}(${fk.refCols.mkString(",")})",
              fk.rely, h, mode)
          } ++
          nns.map(n => (s"notnull(${n.cols.mkString(",")})", n.rely,
            deltaNotNullHolds(n.cols), "incremental")) ++
          cks.map(ck => (s"check(${ck.name})", ck.rely,
            deltaCheckHolds(ck.expr), "incremental"))
      }
    }
    // the watermark advances only on an all-green audit: a violation
    // keeps the same Δ (or the full set) under audit until healed.
    // The recorded ref versions are the PRE-probe snapshot, never a
    // re-read (see refSnapshot above).
    if (isTxn && out.forall(_._3)) writeAudit(dir, cur, refSnapshot)
    out
  }
}
