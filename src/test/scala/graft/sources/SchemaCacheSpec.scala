package graft.sources

import java.io.File

import graft.{SparkSpec, Trace}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Behavior specs for the file-list reader and the metadata caches: the
  * relation SchemaCache.read/readDir builds (parity with
  * `spark.read.parquet` over the same list, and no job to open one),
  * the metadata-only catalog row count (TxnCatalog.rowCount), and the
  * cached footer row count. Each trades a Spark job for driver
  * metadata — the specs pin that the TRADED result is identical,
  * including the staleness edges (overwritten dirs, partitioned dirs,
  * schema change across commits). */
class SchemaCacheSpec extends SparkSpec {

  import spark.implicits._

  private def fresh(name: String): String = {
    val p = s"/root/repo/target/tmp/spec_schemacache_$name"
    FileUtils.deleteQuietly(new File(p))
    p
  }

  test("readDir on a flat dir matches the plain reader (rows + schema)") {
    val d = fresh("flat")
    spark.range(0, 100).select(col("id"), (col("id") % 7).as("g"))
      .write.parquet(d)
    val plain = spark.read.parquet(d)
    val cached = SchemaCache.readDir(spark, d)
    assert(cached.schema == plain.schema)
    assert(cached.orderBy("id").collect().toSeq ==
      plain.orderBy("id").collect().toSeq)
    // repeated read (the memoized path) stays identical
    assert(SchemaCache.readDir(spark, d).count() == 100)
  }

  test("an overwritten dir serves the NEW schema, never a stale one") {
    val d = fresh("overwrite")
    spark.range(0, 10).select(col("id")).write.parquet(d)
    assert(SchemaCache.readDir(spark, d).schema.fieldNames.toSeq == Seq("id"))
    // overwrite with a DIFFERENT schema: new UUID part names → new key
    spark.range(0, 10).select(col("id"), lit("x").as("tag"))
      .write.mode("overwrite").parquet(d)
    val after = SchemaCache.readDir(spark, d)
    assert(after.schema.fieldNames.toSeq == Seq("id", "tag"),
      "overwritten dir must re-infer under its new part names")
    assert(after.count() == 10)
  }

  test("readDir on a PARTITIONED dir keeps partition discovery") {
    val d = fresh("part")
    spark.range(0, 20).select(col("id"), (col("id") % 2).as("p"))
      .write.partitionBy("p").parquet(d)
    val df = SchemaCache.readDir(spark, d)
    assert(df.columns.contains("p"),
      "partitioned dirs must fall back to the discovering reader")
    assert(df.filter(col("p") === 1).count() == 10)
  }

  test("readDir on a single parquet FILE path works (testdata layout)") {
    val d = fresh("single")
    spark.range(0, 5).coalesce(1).write.parquet(d)
    val part = new File(d).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head.getPath
    assert(SchemaCache.readDir(spark, part).count() == 5)
  }

  /** [[SchemaCache.read]] of `paths` against `spark.read.parquet` of the
    * same list: schema, analyzed plan (modulo expression ids) and every
    * row's `_metadata.file_path`. */
  private def assertParity(paths: Seq[String], mergeSchema: Boolean = false): Unit = {
    val ours = SchemaCache.read(spark, paths, mergeSchema)
    val theirs = (if (mergeSchema) spark.read.option("mergeSchema", "true")
      else spark.read).parquet(paths: _*)
    assert(ours.schema == theirs.schema, paths)
    assert(ours.queryExecution.analyzed.canonicalized ==
      theirs.queryExecution.analyzed.canonicalized,
      s"${ours.queryExecution.analyzed}\nvs\n${theirs.queryExecution.analyzed}")
    def filePaths(df: DataFrame) = df.select(col("_metadata.file_path"))
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    assert(filePaths(ours) == filePaths(theirs))
  }

  test("read matches spark.read.parquet: every testdata table") {
    val tables = new File(sfDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(tables.length >= 10)
    tables.foreach(t => assertParity(Seq(t)))
  }

  test("read matches spark.read.parquet: added column, DV set, flat dir") {
    val t = fresh("parity_txn")
    TxnTable.commit(spark, spark.range(0, 20).select(col("id")).coalesce(1), t,
      overwrite = false)
    TxnTable.commit(spark, spark.range(20, 30)
      .select(col("id"), lit("x").as("tag")).coalesce(1), t, overwrite = false)
    val live = TxnTable.liveFiles(t).map(f => new File(t, f).getPath)
    assert(live.size == 2)
    assertParity(live)
    assertParity(live, mergeSchema = true)
    assert(SchemaCache.read(spark, live, mergeSchema = true)
      .schema.fieldNames.toSeq == Seq("id", "tag"))

    TxnTable.deleteWhereMor(spark, t, col("id") % 3 === 0L)
    val dv = TxnTable.liveSplit(t)._2.map(f => new File(t, f).getPath)
    assert(dv.nonEmpty)
    assertParity(dv)

    val d = fresh("parity_flat")
    spark.range(0, 90).repartition(3).write.parquet(d)
    val parts = new File(d).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted.toSeq
    assert(parts.size == 3)
    assertParity(parts)
  }

  test("opening a pinned snapshot runs no job: a fresh one, and 40 files") {
    val t = fresh("zero_jobs")
    TxnTable.commit(spark, spark.range(0, 50)
      .select(col("id"), (col("id") * 2).as("v")), t, overwrite = false)
    val (fields, r) = Trace.record(spark)(TxnTable.read(spark, t).schema)
    assert(fields.fieldNames.toSeq == Seq("id", "v"))
    assert(r.jobs == 0, r.tree)
    assert(r.count("meta.schema.miss") == 1,
      "the new file set's schema must come from its footer")

    val wide = fresh("zero_jobs_40")
    TxnTable.commit(spark, spark.range(0, 400).toDF().repartition(40), wide,
      overwrite = false)
    assert(TxnTable.liveFiles(wide).size == 40)
    val (n, r40) = Trace.record(spark)(TxnTable.read(spark, wide).schema.size)
    assert(n == 1)
    assert(r40.jobs == 0, r40.tree)
  }

  test("a missing file fails the open, naming the file") {
    val t = fresh("missing")
    TxnTable.commit(spark, spark.range(0, 5).toDF().coalesce(1), t, overwrite = false)
    val f = new File(t, TxnTable.liveFiles(t).head)
    assert(f.delete())
    val e = intercept[java.io.FileNotFoundException](TxnTable.read(spark, t))
    assert(e.getMessage.contains(f.getName), e.getMessage)
  }

  test("source guard: the txn layer reads pinned file lists only through SchemaCache") {
    for (name <- Seq("TxnTable.scala", "TxnCatalog.scala", "TxnStats.scala")) {
      val src = new String(java.nio.file.Files.readAllBytes(
        new File("src/main/scala/graft/sources", name).toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      val hits = src.linesIterator.zipWithIndex.collect {
        case (line, i) if line.contains("spark.read") => s"$name:${i + 1}"
      }.toSeq
      assert(hits.isEmpty, s"spark.read at $hits: open a pinned parquet " +
        "file list with SchemaCache.read, which resolves no path and runs no job")
    }
  }

  test("catalog rowCount is metadata-exact across append/overwrite/empty") {
    import TxnCatalog.Write
    val c = fresh("rowcount_cat")
    TxnCatalog.commitAll(spark, c, Seq(
      Write("t", Seq(1L, 2L, 3L).toDF("id"))))
    assert(TxnCatalog.rowCount(c, "t") == 3L)
    TxnCatalog.commitAll(spark, c, Seq(Write("t", Seq(4L).toDF("id"))))
    assert(TxnCatalog.rowCount(c, "t") == 4L)
    assert(TxnCatalog.rowCount(c, "t", asOf = Some(1)) == 3L,
      "as-of row count must resolve the pinned lineage")
    TxnCatalog.commitAll(spark, c, Seq(
      Write("t", Seq(9L).toDF("id"), overwrite = true)))
    assert(TxnCatalog.rowCount(c, "t") == 1L)
    // emptied at its own schema: the ANN overlay-clear shape
    TxnCatalog.commitAll(spark, c, Seq(
      Write("t", TxnCatalog.read(spark, c, "t").limit(0), overwrite = true)))
    assert(TxnCatalog.rowCount(c, "t") == 0L)
    intercept[IllegalArgumentException] {
      TxnCatalog.rowCount(c, "absent")
    }
    // the count always agrees with what a read would produce
    assert(TxnCatalog.rowCount(c, "t", asOf = Some(2)) ==
      TxnCatalog.read(spark, c, "t", asOf = Some(2)).count())
  }

  test("parallel catalog commit publishes the same entry as sequential") {
    import TxnCatalog.Write
    val cp = fresh("par_cat")
    val cs = fresh("seq_cat")
    def writes = ('a' to 'f').map(n =>
      Write(s"t_$n", spark.range(0, 10 + n.toInt).select(col("id"))))
    spark.conf.set("spark.graft.catalog.commitParallelism", "4")
    try TxnCatalog.commitAll(spark, cp, writes)
    finally spark.conf.set("spark.graft.catalog.commitParallelism", "4")
    spark.conf.set("spark.graft.catalog.commitParallelism", "1")
    try TxnCatalog.commitAll(spark, cs, writes)
    finally spark.conf.unset("spark.graft.catalog.commitParallelism")
    assert(TxnCatalog.tableVersions(cp) == TxnCatalog.tableVersions(cs))
    ('a' to 'f').foreach { n =>
      assert(TxnCatalog.read(spark, cp, s"t_$n").count() ==
        TxnCatalog.read(spark, cs, s"t_$n").count())
      assert(TxnCatalog.rowCount(cp, s"t_$n") ==
        TxnCatalog.rowCount(cs, s"t_$n"))
    }
  }

  test("cached footer row count equals the scan count, repeatedly") {
    val t = fresh("footer_rows")
    TxnTable.commit(spark, spark.range(0, 123).select(col("id")),
      t, overwrite = false)
    val f = new File(t, TxnTable.liveFiles(t).head)
    assert(TxnTable.footerRowCount(f) == TxnTable.footerRowCount(f))
    assert(TxnTable.snapshotRowCount(t) == 123L)
  }
}
