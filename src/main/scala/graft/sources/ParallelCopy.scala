package graft.sources

import java.io.File

import graft.Overlap
import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession

/** Bounded-parallel fan-out for replication file copies. Each copy is
  * [[AtomicFile.copyIfAbsent]], which also holds the crash-safety
  * argument: a copy cut short leaves only an inert tmp, and a re-run
  * skips finished targets. Copies are order-free (each lands its own
  * target through its own tmp); the caller publishes only after
  * [[copyAll]] returns, so every file of a batch lands first.
  *
  * Three copy paths, picked by batch size:
  *  - at most one file: inline on the caller's thread;
  *  - a small batch: driver threads through [[graft.Overlap]];
  *  - at least `spark.graft.replicate.distributedThreshold` files
  *    (default 256) with an active session: one Spark job over the copy
  *    manifest, so the bytes flow through executors, not the driver.
  *    Copies are idempotent, so task retries and speculation are safe.
  *
  * On every path the first failure propagates its ORIGINAL exception
  * (not Spark's or the pool's wrapper) and the rest of the batch is
  * cancelled; the driver path joins its in-flight copies first.
  */
private[graft] object ParallelCopy {

  /** What a copy does when its SOURCE file is missing. A distributed
    * task carries it by value, so the decision ships to executors as
    * data. */
  sealed trait OnMissing extends Serializable
  /** Attempt the copy anyway: the natural NoSuchFileException is the
    * contract (a seed file is live at the seed snapshot — its absence
    * is a real fault the caller wants verbatim). */
  case object FailMissing extends OnMissing
  /** Vacuumed at src between syncs: the mirror reflects the source's
    * retention — skip silently. */
  case object SkipMissing extends OnMissing
  /** Live at the replicated snapshot but gone on disk: source
    * corruption — refuse with the caller's message. */
  final case class CorruptMissing(msg: String) extends OnMissing

  /** One file copy, by value: absolute source path, absolute target
    * path, and the missing-source policy. */
  final case class CopyTask(from: String, to: String, onMissing: OnMissing)
      extends Serializable

  /** IO-bound fan-out width: capped well below the shuffle-partition
    * scale (copies contend on disk/network, not CPU) and by the batch
    * size itself. `spark.graft.replicate.parallelism` overrides per
    * deployment (driver threads AND vacuum deletes); an absent,
    * unparsable or < 1 value keeps the cores-derived default. */
  private def defaultParallelism: Int = confInt(
    "spark.graft.replicate.parallelism",
    math.min(16, math.max(2, Runtime.getRuntime.availableProcessors / 2)))

  /** Batch size at which a copy manifest becomes a Spark job. Small
    * enough that a real bulk seed distributes, large enough that the
    * steady-state Δ sync never pays job-scheduling overhead. */
  private def distributedThreshold: Int =
    confInt("spark.graft.replicate.distributedThreshold", 256)

  private def confInt(key: String, dflt: Int): Int =
    SparkSession.getActiveSession.fold(dflt)(Overlap.confInt(_, key, dflt))

  /** The session a distributed batch would run on, iff this batch is
    * big enough and a session exists. */
  private def distributedFor(batchSize: Int): Option[SparkSession] =
    if (batchSize >= math.max(2, distributedThreshold))
      SparkSession.getActiveSession
    else None

  /** Copy every table-relative path in `rels` from `src` to `dst`,
    * skipping targets already present; returns the files physically
    * copied. `onMissing` decides what a missing source file means. The
    * driver paths call it only for a source found missing (a policy may
    * be costly to build, e.g. a live-set walk); the distributed path
    * resolves it per file when it builds the manifest, so tasks ship as
    * pure data. */
  def copyAll(src: String, dst: String, rels: Seq[String])(
      onMissing: String => OnMissing): Int =
    distributedFor(rels.size) match {
      case Some(sess) =>
        copyDistributed(sess, rels.map(rel => CopyTask(
          new File(src, rel).getPath, new File(dst, rel).getPath, onMissing(rel))))
      case None =>
        mapPar(rels)(rel =>
          copyOne(new File(src, rel), new File(dst, rel), onMissing(rel))).sum
    }

  /** One copy: 1 iff this call physically copied. `onMissing` is only
    * evaluated when `from` is missing. */
  private def copyOne(from: File, to: File, onMissing: => OnMissing): Int = {
    if (!from.isFile) onMissing match {
      case SkipMissing => return 0
      case CorruptMissing(msg) => throw new IllegalArgumentException(msg)
      case FailMissing => () // fall through: Files.copy throws the NSFE
    }
    if (AtomicFile.copyIfAbsent(from, to)) 1 else 0
  }

  /** EXECUTOR-distributed batch copy: one Spark job over the manifest,
    * `mapPartitions(copy)` with per-partition copy counts summed on the
    * driver. The caller only proceeds (publishes) once the job — every
    * copy — has landed, the same join-before-publish contract as the
    * pool. A task failure fails the job; the ORIGINAL exception is
    * unwrapped from Spark's wrapper chain so callers and specs see the
    * same fault the serial path would have thrown. */
  private def copyDistributed(spark: SparkSession, tasks: Seq[CopyTask]): Int = {
    val slices = math.min(tasks.size,
      math.max(defaultParallelism, spark.sparkContext.defaultParallelism))
    try
      spark.sparkContext.parallelize(tasks, slices)
        .mapPartitions(it => Iterator.single(it.map(t =>
          copyOne(new File(t.from), new File(t.to), t.onMissing)).sum))
        .collect().sum
    catch { case e: SparkException => throw originalOf(e) }
  }

  /** Walk Spark's wrapper chain to the task's original exception. A
    * SparkException with no deeper cause stays as-is (a genuine
    * scheduler fault is not ours to rewrite). */
  private def originalOf(e: Throwable): Throwable = e match {
    case s: SparkException if s.getCause != null => originalOf(s.getCause)
    case other => other
  }

  /** Run `f` over `items` on bounded driver threads, joining every
    * task before returning its results in input order — the caller's
    * next step (a log publish) must only ever see a fully-landed batch.
    * Single-item and empty batches run inline (no pool spin-up for the
    * steady-state O(Δ) sync that ships one file). */
  def mapPar[A, B](items: Seq[A])(f: A => B): Seq[B] =
    Overlap.map(SparkSession.getActiveSession, items, defaultParallelism,
      "replicate copy")(f)
}
