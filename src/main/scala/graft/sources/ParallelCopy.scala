package graft.sources

import java.io.File
import java.nio.file.Files

import graft.Overlap
import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession

/** Bounded-parallel fan-out for replication file copies.
  *
  * [[TxnTable.replicate]] and [[TxnCatalog.replicate]] copy every data
  * file through the same crash-safe primitive (tmp + ATOMIC_MOVE,
  * skip-if-present resume) — but running those copies one at a time on
  * the driver thread is the 100 TB wall for the whole DR family: a
  * sync's wall-clock is Σ(file latencies) instead of Σ/parallelism, and
  * at real file counts the sync simply cannot complete. The copies are
  * trivially parallel — each lands its OWN target path via its own tmp
  * file, so no two tasks ever touch the same destination, and the
  * skip-if-present check is a per-path read — and the ordering that
  * matters for crash safety (all of a version's files BEFORE its
  * publish, all of a txn's data BEFORE its catalog entry) is preserved
  * by the caller joining the whole batch before publishing.
  *
  * THREE rungs, dispatched by batch size:
  *  - ≤1 file: inline on the caller thread (the steady-state O(Δ) sync
  *    that ships one file never spins anything up);
  *  - small batch: driver threads through [[graft.Overlap]], the
  *    engine's one bounded pool — parallel latency hiding with zero
  *    job-scheduling overhead;
  *  - ≥ `spark.graft.replicate.distributedThreshold` files (default
  *    256) with an active session: a SPARK JOB over the copy manifest
  *    ([[copyDistributed]]) — every byte flows through an EXECUTOR's
  *    NIC, not the driver's. At 100 TB the driver threads cap sync
  *    throughput at one machine's IO; the manifest job scales it with
  *    the cluster. Tasks are idempotent (skip-if-present, private
  *    UUID-tmp), so Spark's task retries and speculation are safe.
  *
  * Failure contract (all rungs): the first task failure propagates its
  * ORIGINAL exception (not the ExecutionException / SparkException
  * wrapper) and remaining work is cancelled/failed. On the driver rung
  * that is [[graft.Overlap]]'s contract: copies not yet started are
  * dropped, and the batch JOINS its in-flight copies before it
  * rethrows, so nothing of the failed batch is still writing when the
  * caller sees the fault. A copy cut short (a crash, or a distributed
  * task killed mid-copy) leaves at most its private tmp file — an
  * ordinary vacuum orphan the resume path never mistakes for a finished
  * copy (the atomic move is what publishes a target). This is exactly
  * the crash window the serial path already had, so the resume
  * semantics are unchanged: re-running the sync skips completed targets
  * and re-copies the rest.
  */
private[graft] object ParallelCopy {

  /** What a copy task does when its SOURCE file is missing — resolved
    * by the caller at manifest build, so a task is pure data and the
    * decision ships to executors by value. */
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
  final case class CopyTask(from: String, to: String,
                            onMissing: OnMissing = FailMissing)
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
    * big enough and a session exists. Callers dispatch on this so the
    * small-batch path never constructs a full manifest (e.g. never
    * forces the live-at-snapshot set the corruption policy needs). */
  private[graft] def distributedFor(batchSize: Int): Option[SparkSession] =
    if (batchSize >= math.max(2, distributedThreshold))
      SparkSession.getActiveSession
    else None

  /** The crash-safe copy primitive every rung shares: skip-if-present
    * (resume), private UUID tmp + ATOMIC_MOVE (a crash leaves an inert
    * orphan, never a half-published target). Returns 1 iff this call
    * physically copied. */
  private def copyOne(t: CopyTask): Long = {
    val from = new File(t.from)
    val to = new File(t.to)
    if (!from.isFile) t.onMissing match {
      case SkipMissing => return 0L
      case CorruptMissing(msg) => throw new IllegalArgumentException(msg)
      case FailMissing => () // fall through: Files.copy throws the NSFE
    }
    if (to.isFile) return 0L
    to.getParentFile.mkdirs()
    val tmp = new File(to.getParentFile,
      s".${to.getName}-${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    Files.copy(from.toPath, tmp.toPath)
    Files.move(tmp.toPath, to.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    1L
  }

  /** EXECUTOR-distributed batch copy: one Spark job over the manifest,
    * `mapPartitions(copy)` with per-partition copy counts summed on the
    * driver. The caller only proceeds (publishes) once the job — every
    * copy — has landed, the same join-before-publish contract as the
    * pool. A task failure fails the job; the ORIGINAL exception is
    * unwrapped from Spark's wrapper chain so callers and specs see the
    * same fault the serial path would have thrown. */
  private[graft] def copyDistributed(spark: SparkSession,
                                     tasks: Seq[CopyTask]): Long = {
    val slices = math.min(tasks.size,
      math.max(defaultParallelism, spark.sparkContext.defaultParallelism))
    try
      spark.sparkContext.parallelize(tasks, slices)
        .mapPartitions(it => Iterator.single(it.map(copyOne).sum))
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
    * task before returning — the caller's next step (a log publish) must
    * only ever see a fully-landed batch. Single-item and empty batches
    * run inline (no pool spin-up for the steady-state O(Δ) sync that
    * ships one file). */
  def foreachPar[A](items: Seq[A])(f: A => Unit): Unit =
    Overlap.map(SparkSession.getActiveSession, items, defaultParallelism,
      "replicate copy")(f)
}
