package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** MEMOIZED parquet schema inference for immutable file sets.
  *
  * `spark.read.parquet(paths…)` without an explicit schema runs a
  * footer-reading Spark JOB before the first action — one scheduling
  * round-trip (~100 ms at local[32], a listing+HEAD storm against an
  * object store) per read. The lifecycle operators re-read the same
  * pinned snapshot dozens of times per query (every commit/merge/
  * changeFeed/maintenance step opens the table again), so at sf0.1 the
  * bench pays MORE for schema inference than for the data. The r17
  * profile measured 16 jobs per 4-file `optimizeClustered`, a third of
  * them footer/schema jobs.
  *
  * The key is the EXACT file list (order-insensitive) plus the
  * mergeSchema flag and the one conf that changes parquet type mapping
  * (`nanosAsLong`): parquet files are immutable and a txn snapshot pins
  * its list, so the same key can never map to a different schema, and
  * a changed snapshot (new or removed files, whichever process wrote
  * them) is a different key and re-infers. Entries live in
  * [[MetaStore]], weighed by their path count. Inference itself still
  * runs exactly once per distinct file set, via the ordinary reader, so
  * the cached value is byte-identical to what every subsequent read
  * would have inferred. */
object SchemaCache {

  private def nanosConf(spark: SparkSession): String =
    try spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
    catch { case scala.util.control.NonFatal(_) => "false" }

  def schemaOf(spark: SparkSession, paths: Seq[String],
               mergeSchema: Boolean = false): StructType = {
    val key = (paths.sorted.toVector, mergeSchema, nanosConf(spark))
    MetaStore.memo[StructType]("meta.schema", key)(_ => paths.size.toLong) {
      val reader =
        if (mergeSchema) spark.read.option("mergeSchema", "true")
        else spark.read
      reader.parquet(paths: _*).schema
    }
  }

  /** The memoized-schema read: same rows, same schema, same plan shape
    * as `spark.read.parquet(paths…)` — minus the inference job after
    * the first read of a file set. */
  def read(spark: SparkSession, paths: Seq[String],
           mergeSchema: Boolean = false): DataFrame = {
    val reader =
      if (mergeSchema) spark.read.option("mergeSchema", "true")
      else spark.read
    reader.schema(schemaOf(spark, paths, mergeSchema)).parquet(paths: _*)
  }

  /** Directory read through the memoized schema when the directory is
    * FLAT (part files only, no subdirectories): the cache keys on the
    * LISTED file names — Spark part files are UUID-stamped, so an
    * overwritten dir re-infers under its new names and a repeated read
    * of the same output (index dirs, postings, sidecars) skips the
    * inference job. A dir with subdirectories (partitioned table) falls
    * back to the ordinary reader: partition discovery must see the
    * directory structure. */
  def readDir(spark: SparkSession, dir: String): DataFrame = {
    val f = new java.io.File(dir)
    // a single parquet FILE path (the read-only testdata layout) keys
    // on itself — immutable content, same contract as a file list
    if (f.isFile) return read(spark, Seq(dir))
    val entries = Option(f.listFiles())
      .getOrElse(Array.empty[java.io.File])
    val parts = entries.filter(f =>
      f.isFile && f.getName.endsWith(".parquet")).map(_.getPath)
    if (parts.nonEmpty && !entries.exists(_.isDirectory))
      read(spark, parts.sorted.toIndexedSeq)
    else spark.read.parquet(dir)
  }
}
