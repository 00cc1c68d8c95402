package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink layer (SURVEY §2.1-§2.2): CSV, JSON, JDBC. The reference
  * stages CSV to S3 (pipeline.py:312-327) and loads Postgres row-by-row
  * (pipeline.py:870-885); here both directions are single batched
  * DataFrame writes/scans. Explicit schemas everywhere — schema inference
  * is a full extra pass over the data at 100 TB.
  */
object Sources {

  /** K1 CSV sink: headered, overwrite — the S3-staging shape. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** S8 CSV scan with a declared schema (pipeline.py:844). */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** K4 JSON sink (dexters_scraper.ipynb:1661-1662). */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** S9 JSON scan (dexters_scraper.ipynb:1671). */
  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Tolerant JSON ingest with in-band quarantine (engine-native form of
    * the reference's per-row try/except during scraping, pipeline.py's
    * load loop): ONE pass over the input parses every line PERMISSIVEly;
    * a line that fails outright, or parses only partially (a field that
    * won't cast), carries its raw text in `_corrupt_record`. No separate
    * validation job, no second scan — at 100 TB the quarantine routing is
    * a filter on a column that's already there (good rows → the table,
    * bad rows → a quarantine sink for replay). The declared `schema`
    * must NOT itself contain `_corrupt_record`; it is appended here.
    *
    * Spark (by design) rejects any downstream plan whose referenced
    * columns prune to ONLY the corrupt column — always project at least
    * one data column next to it (or cache the parse first). */
  def readJsonQuarantined(spark: SparkSession, path: String,
                          schema: StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** ORC sink (engine-added: the second columnar format next to parquet —
    * typed, compressed, predicate-pushdown-capable). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** ORC scan — columnar, so it prunes columns and pushes filters like
    * the parquet scan does. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Schema-evolution scan: read a parquet directory whose files were
    * written under DIFFERENT (compatible) schemas and reconcile them by
    * column NAME — old files null-extend the columns they predate. This is
    * the read side of adding a column to a 100 TB table without rewriting
    * it: mergeSchema unions footer schemas at planning time (a per-FILE
    * metadata pass, not a data pass), and each file's reader projects into
    * the merged row shape. Default Spark reads take one footer's schema
    * and would silently drop the new column from a mixed listing. */
  def readParquetMergedSchema(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Keyed upsert (MERGE) into a parquet snapshot — the engine's form of
    * the reference's warehouse maintenance split (drop-and-reload tables
    * vs append-only tables, pipeline.py:59/88): rows in `updates` replace
    * current rows with the same key, the rest insert. Implemented as
    * anti-join ∪ updates staged to a side directory, then swapped in — the
    * read is fully materialized before the old snapshot is dropped, and at
    * cluster scale the same shape is one shuffle on the key. */
  def upsertParquet(spark: SparkSession, path: String, updates: DataFrame,
                    keys: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.col
    val dir = new java.io.File(path)
    val merged =
      if (dir.exists()) {
        val current = spark.read.parquet(path)
        current.join(updates.select(keys.map(col): _*), keys, "left_anti")
          .unionByName(updates)
      } else updates
    val staging = path + ".staging"
    merged.write.mode(SaveMode.Overwrite).parquet(staging) // materializes the read
    AtomicFile.swapDir(new java.io.File(staging), dir)
  }

  /** In-memory embedded Derby — the JDBC warehouse stand-in (the Derby
    * driver ships with Spark's jars; zero-egress container has no
    * Postgres). */
  def derbyUrl(db: String): String = s"jdbc:derby:memory:$db;create=true"

  private val derbyProps = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  /** K2 JDBC sink: one batched write (vs the reference's per-row INSERT +
    * commit, pipeline.py:871-885). */
  def writeJdbc(df: DataFrame, url: String, table: String): Unit =
    df.write.mode(SaveMode.Overwrite).jdbc(url, table, derbyProps)

  /** S10 JDBC scan (query_testing.ipynb:103). */
  def readJdbc(spark: SparkSession, url: String, table: String): DataFrame =
    spark.read.jdbc(url, table, derbyProps)
}
