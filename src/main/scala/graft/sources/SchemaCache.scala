package graft.sources

import java.io.{File, FileNotFoundException}

import org.apache.hadoop.fs.{BlockLocation, FileStatus, LocatedFileStatus, Path}
import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The reader of an immutable parquet FILE LIST: txn snapshots, catalog
  * reads, index dirs and the testdata tables (through [[readDir]]).
  *
  * `spark.read.parquet(paths…)` works out again what the caller already
  * knows. It tests every path for existence on a pool of up to 40
  * threads, stats every file (a Spark listing JOB at 32 or more paths),
  * and without an explicit schema runs a footer-reading inference JOB —
  * ~100 ms of scheduling per job at local[32], a HEAD storm against an
  * object store. The lifecycle operators re-open the same pinned
  * snapshot dozens of times per query, so at sf0.1 those jobs cost more
  * than the data.
  *
  * [[read]] builds the relation itself instead. Each path is statted
  * once on the driver; a missing file throws [[FileNotFoundException]]
  * at open, so a read of a vacuumed version still fails loudly. The
  * statuses carry the same qualified `file:` paths and block locations
  * Spark's listing produces, so `_metadata.file_path`, deletion-vector
  * addresses and [[graft.plans.AutoFilePrune]]'s index match are
  * unchanged, and the plan is the one `spark.read.parquet(paths…)`
  * analyzes to.
  *
  * The schema is memoized in [[MetaStore]] on the EXACT file set
  * (order-insensitive), the mergeSchema flag and the one conf that
  * changes parquet type mapping (`nanosAsLong`): parquet files are
  * immutable and a txn snapshot pins its list, so the same key can never
  * map to a different schema, and a changed snapshot (new or removed
  * files, whichever process wrote them) is a different key. On a miss
  * without mergeSchema it comes from the footer of the file Spark's
  * inference would pick — the smallest qualified path — through the
  * memoized [[TxnStats.footerOf]] (a commit has usually read it already)
  * and Spark's own footer converter: no job. `mergeSchema = true` keeps
  * Spark's inference job, which must read every footer. */
object SchemaCache {

  private def nanosConf(spark: SparkSession): String =
    try spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
    catch { case scala.util.control.NonFatal(_) => "false" }

  /** One stat per path, in the form Spark's local listing produces: the
    * qualified path, and the single `localhost` block location
    * `FileSystem.getFileBlockLocations` reports for a local file. */
  private def statuses(paths: Seq[String]): Seq[FileStatus] = {
    val fs = TxnStats.localFs
    paths.map { p =>
      val path = fs.makeQualified(new Path(p))
      val f = new File(path.toUri)
      if (!f.isFile) throw new FileNotFoundException(s"no such parquet file: $path")
      val len = f.length()
      val blocks =
        if (len == 0) Array.empty[BlockLocation]
        else Array(new BlockLocation(Array("localhost:9866"), Array("localhost"), 0L, len))
      new LocatedFileStatus(len, false, 1, fs.getDefaultBlockSize(path),
        f.lastModified(), 0L, null, null, null, null, path, blocks)
    }
  }

  /** An [[InMemoryFileIndex]] over exactly `files`, whose status cache
    * serves their statuses: building it lists and stats nothing. */
  private[graft] def fileIndex(spark: SparkSession, files: Seq[FileStatus],
                               options: Map[String, String],
                               schema: Option[StructType]): InMemoryFileIndex = {
    val byPath = files.map(f => f.getPath -> Array(f)).toMap
    new InMemoryFileIndex(spark, files.map(_.getPath), options, schema,
      new FileStatusCache {
        override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
          byPath.get(path)
        def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
        def invalidateAll(): Unit = ()
      })
  }

  private def schemaOf(spark: SparkSession, files: Seq[FileStatus],
                       mergeSchema: Boolean): StructType = {
    val names = files.map(_.getPath.toString)
    val key = (names.sorted.toVector, mergeSchema, nanosConf(spark))
    MetaStore.memo[StructType]("meta.schema", key)(_ => files.size.toLong) {
      val schema =
        if (mergeSchema)
          new ParquetFileFormat()
            .inferSchema(spark, Map("mergeSchema" -> "true"), files).get
        else {
          val first = files.minBy(_.getPath.toString).getPath
          ParquetFileFormat.readSchemaFromFooter(
            new Footer(first, TxnStats.footerOf(new File(first.toUri))),
            new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        }
      nullable(schema).asInstanceOf[StructType]
    }
  }

  /** What Spark's `asNullable` does to a relation's data schema. */
  private def nullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** `spark.read.parquet(paths…)` over an immutable file list: same
    * rows, schema and plan, without the path resolution and, after the
    * first read of a file set (or always, without mergeSchema), without
    * the inference job. */
  def read(spark: SparkSession, paths: Seq[String],
           mergeSchema: Boolean = false): DataFrame = {
    require(paths.nonEmpty, "no parquet files to read")
    val files = statuses(paths)
    val schema = schemaOf(spark, files, mergeSchema)
    // a session that routes parquet through DSv2 (aggregate pushdown is
    // a V2 capability) gets Spark's V2 relation, given the schema: a
    // HadoopFsRelation here would silently plan the V1 scan instead
    if (!parquetIsV1(spark)) {
      val reader = spark.read.schema(schema)
      return (if (mergeSchema) reader.option("mergeSchema", "true") else reader)
        .parquet(paths: _*)
    }
    // the options DataFrameReader would pass: its "path" for one path
    val options = CaseInsensitiveMap(
      (if (mergeSchema) Map("mergeSchema" -> "true") else Map.empty[String, String]) ++
        (if (paths.size == 1) Map("path" -> paths.head) else Map.empty))
    val index = fileIndex(spark, files, options, None)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      schema, None, new ParquetFileFormat, options)(spark))
  }

  /** Whether the session reads parquet through the V1 file source, as
    * `DataSource.lookupDataSourceV2` decides it. */
  private def parquetIsV1(spark: SparkSession): Boolean =
    spark.sessionState.conf.getConf(SQLConf.USE_V1_SOURCE_LIST)
      .toLowerCase(java.util.Locale.ROOT).split(",").map(_.trim).contains("parquet")

  /** Directory read through [[read]] when the directory is FLAT (part
    * files only, no subdirectories): the schema key is the LISTED file
    * names — Spark part files are UUID-stamped, so an overwritten dir
    * re-infers under its new names and a repeated read of the same
    * output (index dirs, postings, sidecars) costs no job. A dir with
    * subdirectories (partitioned table) falls back to the ordinary
    * reader: partition discovery must see the directory structure. */
  def readDir(spark: SparkSession, dir: String): DataFrame = {
    val f = new File(dir)
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
