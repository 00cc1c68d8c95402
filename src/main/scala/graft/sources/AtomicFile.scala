package graft.sources

import java.io.{File, IOException}
import java.nio.file.{FileAlreadyExistsException, Files, Path, StandardCopyOption}

/** The storage layer's one crash-safe file primitive. Every log entry,
  * catalog entry, checkpoint, stats or cluster sidecar, constraints
  * file, replica marker and replica copy becomes visible through a
  * private tmp file beside its target plus ONE link(2) or rename(2): a
  * reader sees the whole file or none of it, and a crash at any step
  * leaves at most a dead tmp ([[isTmp]]) that the vacuums sweep.
  *
  * This is the only code that names a tmp, links a file or renames one
  * atomically. Callers keep their own policy for a lost race (a
  * conflict exception, a byte-compare fork check, or a benign no-op).
  * Nothing here fsyncs; only [[copyIfAbsent]] and [[linkTree]] create
  * directories.
  */
private[graft] object AtomicFile {

  /** A private tmp beside `target`, unique per call: a tmp name shared
    * by racing writers would let one overwrite the winner's bytes
    * between write and publish, or delete it from under the link. */
  private def tmpFor(target: File): File =
    new File(target.getParentFile,
      s".${target.getName}-${java.util.UUID.randomUUID.toString.take(8)}.tmp")

  /** True for a name this module makes, or an older writer made: a
    * dot-prefixed `*.tmp`. Readers and data listings never match one. */
  def isTmp(name: String): Boolean =
    name.startsWith(".") && name.endsWith(".tmp")

  /** Delete the [[isTmp]] files directly under `dir`: dead tmps of
    * crashed writers, invisible to readers. */
  def deleteTmps(dir: File): Unit =
    Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && isTmp(f.getName))
      .foreach(_.delete())

  /** Atomic put-if-absent, the commit point of every log and catalog
    * entry: write a private tmp, link(2) it to `target`, drop the tmp.
    * False when `target` already exists (a racer won).
    *
    * Why link and not rename: `Files.move` without ATOMIC_MOVE only
    * CHECKS the target before rename() on POSIX, so two writers racing
    * through the check would both rename and the second would silently
    * replace the winner. link(2) is the genuinely atomic
    * O_CREAT|O_EXCL-style primitive: it fails with EEXIST if the target
    * appeared meanwhile, and linking a fully-written tmp means readers
    * never see a torn entry. */
  def putIfAbsent(target: File, bytes: Array[Byte]): Boolean = {
    val tmp = tmpFor(target)
    Files.write(tmp.toPath, bytes)
    try { Files.createLink(target.toPath, tmp.toPath); true }
    catch { case _: FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp.toPath)
  }

  /** Atomic replace: write a private tmp and rename(2) it over
    * `target`. A concurrent reader sees the old file or the new one,
    * never a missing or short one (a non-atomic replace unlinks the
    * target before its rename). */
  def replace(target: File, bytes: Array[Byte]): Unit = {
    val tmp = tmpFor(target)
    Files.write(tmp.toPath, bytes)
    try move(tmp, target)
    catch { case e: IOException => Files.deleteIfExists(tmp.toPath); throw e }
  }

  /** Atomic rename(2) of `from` to `to`, replacing `to` if present. */
  def move(from: File, to: File): Unit =
    Files.move(from.toPath, to.toPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)

  /** Skip-if-present copy: false when `to` is already a file (a resumed
    * copy), else copy `from` into a private tmp and rename it to `to`.
    * A copy cut short leaves only its tmp, which the resume never
    * mistakes for a finished target. */
  def copyIfAbsent(from: File, to: File): Boolean =
    !to.isFile && {
      to.getParentFile.mkdirs()
      val tmp = tmpFor(to)
      Files.copy(from.toPath, tmp.toPath)
      move(tmp, to)
      true
    }

  /** Hard-link `from` as `to`; false when `to` already exists. Strict
    * callers fail on false, idempotent ones ignore it. */
  def link(from: Path, to: Path): Boolean =
    try { Files.createLink(to, from); true }
    catch { case _: FileAlreadyExistsException => false }

  /** Hard-link every regular non-tmp file under `fromDir` to the same
    * relative path under `toDir`, skipping paths that already exist. */
  def linkTree(fromDir: Path, toDir: Path): Unit = {
    val walk = Files.walk(fromDir)
    try walk.filter(p => Files.isRegularFile(p)).forEach { p =>
      if (!isTmp(p.getFileName.toString)) {
        val to = toDir.resolve(fromDir.relativize(p))
        if (!Files.exists(to)) {
          Files.createDirectories(to.getParent)
          link(p, to)
        }
      }
    } finally walk.close()
  }

  /** Promote a fully written `staging` dir to `live` by a rename-aside
    * swap: `live` moves to `<live>.old` before `staging` takes its name,
    * so no moment leaves the only copy gone. If the promote fails, the
    * previous copy is intact at `.old` and recovery is renaming it back. */
  def swapDir(staging: File, live: File): Unit = {
    val old = new File(live.getPath + ".old")
    if (old.exists()) org.apache.commons.io.FileUtils.deleteDirectory(old)
    if (live.exists() && !live.renameTo(old))
      throw new IOException(s"swap failed: $live -> $old (live copy untouched)")
    if (!staging.renameTo(live))
      throw new IOException(
        s"swap failed: $staging -> $live — previous copy preserved at $old")
    org.apache.commons.io.FileUtils.deleteDirectory(old)
  }
}
