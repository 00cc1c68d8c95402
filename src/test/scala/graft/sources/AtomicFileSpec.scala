package graft.sources

import java.io.File
import java.nio.file.{Files, NoSuchFileException}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite

/** The crash-safe file primitive: put-if-absent races, replace under a
  * concurrent reader, skip-if-present copies and links, the tmp-name
  * predicate, and a guard that keeps the protocol in this one module. */
class AtomicFileSpec extends AnyFunSuite {

  private def withDir[A](body: File => A): A = {
    val dir = Files.createTempDirectory("atomicfile").toFile
    try body(dir) finally FileUtils.deleteQuietly(dir)
  }

  private def tmps(dir: File): Seq[String] =
    dir.list().toSeq.filter(AtomicFile.isTmp)

  test("eight racing putIfAbsent calls: one wins, its bytes land, no tmp is left") {
    withDir { dir =>
      val target = new File(dir, "v00001.json")
      val n = 8
      val pool = Executors.newFixedThreadPool(n)
      val start = new CountDownLatch(1)
      try {
        val results = (0 until n).map { i =>
          pool.submit(() => {
            start.await()
            AtomicFile.putIfAbsent(target, s"writer-$i".getBytes("UTF-8"))
          })
        }
        start.countDown()
        val won = results.map(_.get(30, TimeUnit.SECONDS)).zipWithIndex
          .collect { case (true, i) => i }
        assert(won.size == 1, s"exactly one writer must win: $won")
        assert(new String(Files.readAllBytes(target.toPath), "UTF-8") ==
          s"writer-${won.head}")
        assert(tmps(dir).isEmpty)
      } finally pool.shutdownNow()
    }
  }

  test("a reader never sees a missing or short file while replace runs") {
    withDir { dir =>
      val target = new File(dir, "_graft_replica.json")
      val size = 4096
      def body(i: Int) = Array.fill[Byte](size)((i % 100).toByte)
      AtomicFile.replace(target, body(0))
      val done = new AtomicBoolean(false)
      val reads = new AtomicInteger(0)
      @volatile var bad: Option[String] = None
      val reader = new Thread(() => {
        while (!done.get && bad.isEmpty) {
          try {
            val got = Files.readAllBytes(target.toPath)
            if (got.length != size || got.exists(_ != got(0)))
              bad = Some(s"torn read of ${got.length} bytes")
            reads.incrementAndGet()
          } catch { case _: NoSuchFileException => bad = Some("missing file") }
        }
      })
      reader.start()
      try (1 to 1000).foreach(i => AtomicFile.replace(target, body(i)))
      finally { done.set(true); reader.join(30000) }
      assert(bad.isEmpty, bad)
      assert(reads.get > 0)
      assert(Files.readAllBytes(target.toPath).sameElements(body(1000)))
      assert(tmps(dir).isEmpty)
    }
  }

  test("copyIfAbsent skips an existing target and leaves a stray tmp alone") {
    withDir { dir =>
      val from = new File(dir, "src/part-0.parquet")
      val to = new File(dir, "dst/data/v00001/part-0.parquet")
      from.getParentFile.mkdirs()
      Files.write(from.toPath, "fresh".getBytes("UTF-8"))
      assert(AtomicFile.copyIfAbsent(from, to))
      assert(new String(Files.readAllBytes(to.toPath), "UTF-8") == "fresh")
      // a dead tmp of an earlier cut-short copy sits beside the target
      val stray = new File(to.getParentFile, s".${to.getName}-deadbeef.tmp")
      Files.write(stray.toPath, Array[Byte](1, 2, 3))
      Files.write(from.toPath, "changed".getBytes("UTF-8"))
      assert(!AtomicFile.copyIfAbsent(from, to))
      assert(new String(Files.readAllBytes(to.toPath), "UTF-8") == "fresh")
      assert(Files.readAllBytes(stray.toPath).sameElements(Array[Byte](1, 2, 3)))
      assert(tmps(to.getParentFile) == Seq(stray.getName))
    }
  }

  test("link returns false on an existing target") {
    withDir { dir =>
      val from = new File(dir, "a")
      val to = new File(dir, "b")
      Files.write(from.toPath, "a".getBytes("UTF-8"))
      assert(AtomicFile.link(from.toPath, to.toPath))
      assert(!AtomicFile.link(from.toPath, to.toPath))
      assert(Files.isSameFile(from.toPath, to.toPath))
    }
  }

  test("isTmp matches every tmp name and no published one") {
    Seq(".v00002.json.tmp", ".v00009-deadbeef.stats.tmp",
      ".part-00000-abc.snappy.parquet-deadbeef.tmp",
      ".t00003-deadbeef.json.tmp", ".v00001.json-0a1b2c3d.tmp")
      .foreach(n => assert(AtomicFile.isTmp(n), n))
    Seq("part-00000-abc.snappy.parquet", "v00001.json", "_graft_replica.json",
      "stats_v00001.json", "c00004.json", "t00001.json")
      .foreach(n => assert(!AtomicFile.isTmp(n), n))
  }

  test("no main source outside AtomicFile links, renames atomically or names a tmp") {
    val main = new File("src/main")
    val sources = FileUtils.listFiles(main, Array("scala", "java"), true)
      .toArray(Array.empty[File]).toSeq
    assert(sources.exists(_.getName == "AtomicFile.scala"),
      s"run from the repository root: no AtomicFile.scala under ${main.getAbsolutePath}")
    val offenders = for {
      f <- sources if f.getName != "AtomicFile.scala"
      (line, i) <- FileUtils.readLines(f, "UTF-8").toArray.toSeq
        .map(_.toString).zipWithIndex
      word <- Seq("createLink", "ATOMIC_MOVE", ".tmp\"") if line.contains(word)
    } yield s"${f.getPath}:${i + 1}: $word"
    assert(offenders.isEmpty,
      "route the file through graft.sources.AtomicFile:\n" + offenders.mkString("\n"))
  }
}
