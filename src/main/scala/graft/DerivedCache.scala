package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** Freshness guard for derived-dataset caches (partitioned/bucketed
  * rewrites, search and ANN indexes) that live under `target/` keyed by
  * sf dir. The driver REGENERATES the testdata between rounds — this
  * round the events timestamp unit changed — so a bare `_SUCCESS` check
  * would happily serve bytes derived from last round's files. Every
  * cache therefore stamps its source files' (path, size, mtime) and
  * rebuilds the moment the stamp stops matching; a cache without a
  * stamp (pre-guard vintage) counts as stale.
  */
object DerivedCache {

  private def stampOf(srcs: Seq[File]): String =
    srcs.map(f => s"${f.getAbsolutePath}:${f.length}:${f.lastModified}")
      .mkString("\n")

  /** True iff `dir` holds a COMPLETE build (its `marker` path exists)
    * derived from exactly these `srcs`. */
  def fresh(dir: File, srcs: Seq[File], marker: String): Boolean = {
    val stampFile = new File(dir, "_SRC_STAMP")
    new File(dir, marker).exists() && stampFile.exists() &&
      new String(Files.readAllBytes(stampFile.toPath), UTF_8) == stampOf(srcs)
  }

  /** Run `build` unless the cache is fresh: a stale dir is deleted
    * first, and the source stamp is written only after `build` returns
    * (a crashed build leaves no stamp → next caller rebuilds). */
  def ensure(dir: File, srcs: Seq[File], marker: String)(build: => Unit): Unit =
    if (!fresh(dir, srcs, marker)) {
      if (dir.exists()) org.apache.commons.io.FileUtils.deleteDirectory(dir)
      Trace.span("derived.build")(build)
      Files.write(new File(dir, "_SRC_STAMP").toPath,
        stampOf(srcs).getBytes(UTF_8))
    }
}
