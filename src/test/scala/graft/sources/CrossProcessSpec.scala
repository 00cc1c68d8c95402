package graft.sources

import java.io.File

import graft.{ChildJvm, SparkSpec}
import graft.plans.AutoFilePrune.filesScanned
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The writer of [[CrossProcessSpec]], run in a child JVM: it appends
  * k ∈ [400, 500) to the fact table, builds the fact's stats sidecar on
  * a second column `v`, and turns the plain parquet dir into a txn
  * table (its existing files re-listed as version 1) with stats on `k`. */
object CrossProcessWriter {
  def main(args: Array[String]): Unit = {
    val Array(fact, plain) = args
    val spark = SparkSession.builder().master("local[2]")
      .appName("graft-child-writer")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try {
      TxnTable.commit(spark, spark.range(400, 500).select(col("id").as("k"),
        (col("id") * 7L).as("v")).coalesce(1), fact, overwrite = false)
      TxnStats.refresh(spark, fact, "v")
      val seed = new File(plain, "data/seed").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(f => s"data/seed/${f.getName}")
      TxnTable.publishFileList(plain, seed.sorted.toSeq)
      TxnStats.refresh(spark, plain, "k")
    } finally spark.stop()
  }
}

/** Metadata the driver memoizes is keyed on what the files and the log
  * say, so another process's writes are seen on the next read: an
  * append, a stats sidecar on a new column, and a txn table born at a
  * path this JVM already resolved as a plain dir. */
class CrossProcessSpec extends SparkSpec {

  import spark.implicits._

  private val root = new File("target/tmp/spec_xproc").getAbsolutePath
  private val fact = s"$root/fact"
  private val plain = s"$root/plain"

  private val quartiles = Seq(col("k") < 100, col("k") >= 100 && col("k") < 200,
    col("k") >= 200 && col("k") < 300, col("k") >= 300)
  private def rows = spark.range(0, 400).select(col("id").as("k"),
    (col("id") * 7L).as("v"))

  // dim keys hit the first, third and fourth quartile and the child's
  // appended range
  private def dim = Seq(5L, 250L, 399L, 450L).toDF("dk")

  override def beforeAll(): Unit = {
    super.beforeAll()
    FileUtils.deleteQuietly(new File(root))
    quartiles.foreach(p =>
      TxnTable.commit(spark, rows.filter(p).coalesce(1), fact, overwrite = false))
    TxnStats.refresh(spark, fact, "k")
    quartiles.foreach(p => rows.filter(p).coalesce(1).write.mode("append")
      .parquet(s"$plain/data/seed"))
  }

  test("a second process's append, stats sidecar and new table are seen on the next read") {
    // warm every memo the writer's changes must get past
    assert(TxnTable.read(spark, fact).count() == 400)
    assert(TxnTable.snapshotRowCount(fact) == 400)
    def star = TxnTable.read(spark, fact).join(dim, col("k") === col("dk"))
    assert(filesScanned(star, fact) == 3)
    assert(star.count() == 3)
    def byV = TxnTable.read(spark, fact).join(Seq(105L).toDF("dv"),
      col("v") === col("dv"))
    assert(filesScanned(byV, fact) == 4, "no stats on v yet: nothing prunes")
    def plainStar = spark.read.parquet(s"$plain/data/seed")
      .join(dim, col("k") === col("dk"))
    assert(filesScanned(plainStar, plain) == 4, "a plain dir never prunes")

    ChildJvm.run("graft.sources.CrossProcessWriter", Seq(fact, plain),
      new File(s"$root/child.log"))

    assert(TxnTable.read(spark, fact).count() == 500)
    assert(TxnTable.snapshotRowCount(fact) == 500)
    // the appended file has no k stats, so it is read, never skipped
    assert(star.collect().toSet == unpruned(star.collect().toSet))
    assert(star.count() == 4)
    assert(filesScanned(byV, fact) == 1, "the child's stats on v must prune")
    assert(byV.collect().toSeq.map(_.getAs[Long]("k")) == Seq(15L))
    def bornStar = TxnTable.read(spark, plain).join(dim, col("k") === col("dk"))
    assert(filesScanned(bornStar, plain) == 3,
      "a table another process created at a plain dir must prune")
    assert(bornStar.collect().toSet == unpruned(bornStar.collect().toSet))
  }
}
