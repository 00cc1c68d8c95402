package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

/** Runs a main class in a fresh JVM built like this one: the same
  * `java`, `java.class.path` and JVM input arguments (the `--add-opens`
  * set and `-D` properties the build passes to forked tests), with a
  * 1 GiB heap. Specs use it for a second process against the same
  * tables — a writer the test JVM's in-memory state knows nothing of.
  * The child's stdout and stderr go to `log`. */
object ChildJvm {

  /** Fails with the log's tail when the child runs past `timeoutSec`
    * (it is killed) or exits non-zero. */
  def run(mainClass: String, args: Seq[String], log: File,
          timeoutSec: Long = 300): Unit = {
    val javaBin = new File(System.getProperty("java.home"), "bin/java").getPath
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    log.getParentFile.mkdirs()
    val p = new ProcessBuilder((Seq(javaBin) ++ jvmArgs ++ Seq("-Xmx1g", "-cp",
        System.getProperty("java.class.path"), mainClass) ++ args).asJava)
      .redirectErrorStream(true)
      .redirectOutput(log)
      .start()
    def tail: String =
      java.nio.file.Files.readAllLines(log.toPath).asScala.takeRight(40).mkString("\n")
    if (!p.waitFor(timeoutSec, TimeUnit.SECONDS)) {
      p.destroyForcibly().waitFor()
      throw new AssertionError(
        s"$mainClass ran past ${timeoutSec}s and was killed:\n$tail")
    }
    if (p.exitValue != 0)
      throw new AssertionError(s"$mainClass exited ${p.exitValue}:\n$tail")
  }
}
