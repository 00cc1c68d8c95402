package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Merge
import graft.sources.{TxnCatalog, TxnStats, TxnTable}
import graft.streaming.EventsStreaming

/** `lakehouse`: a monthly ETL over transaction-log tables in the
  * benchmark's scratch root, with reads between the writes.
  *
  * Row values are closed-form functions of (key, salt), so `run.py` can
  * replay the same script against a model. Every write records
  * the table version (or catalog transaction) it produced; time-travel
  * and change-feed reads name only those recorded versions, so the model
  * knows the content of every version a read can name.
  *
  * Tables: `sales` (fact; each append holds one customer segment, so
  * its files are clustered on `cust`), `events` (streaming
  * sink, staged parquet files in, quarantine table beside it) and the
  * catalog `wh` holding `customers` (static dimension), `payments` and
  * `rates` (committed together by one catalog transaction).
  */
final class Lakehouse(spark: SparkSession, tracer: Tracer, plan: JsonNode, setupRound: Int)
    extends Workload {
  import Lakehouse._

  private val root = new File(plan.get("scratch").asText, "lake")
  private val base = new File(root, s"r$setupRound")
  private val sales = new File(base, "sales").getPath
  private val events = new File(base, "events").getPath
  private val eventsQ = new File(base, "events_quarantine").getPath
  private val wh = new File(base, "wh").getPath
  private val incoming = new File(base, "incoming")
  private val pool = new File(plan.get("events_pool").asText)
  private val versions = mutable.ArrayBuffer.empty[Int]
  private val txns = mutable.ArrayBuffer.empty[Int]
  private val history = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var bytesBefore = 0L

  def stage(): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(root)
    incoming.mkdirs()
    val customers = spark.range(0, Customers).select(
      col("id").as("c_id"), (col("id") / SegmentWidth).cast("int").as("c_segment"),
      (col("id") % 5).cast("int").as("c_region"))
    val t = TxnCatalog.commitAll(spark, wh, Seq(
      TxnCatalog.Write("customers", customers),
      TxnCatalog.Write("payments", payments(0, 1, 0)),
      TxnCatalog.Write("rates", rates(0), overwrite = true)))
    txns += t
    history += Map("op" -> "catalog_init", "txn" -> t)
  }

  /** The table history time travel reaches back into. */
  override def load(): Unit = {
    plan.get("history").elements().asScala.foreach { op =>
      val r = mutable.LinkedHashMap[String, Any]("op" -> op.get("op").asText)
      run(op, r)
      history += r.toMap
    }
    bytesBefore = treeBytes(base)
  }

  private def salesRows(op: JsonNode): DataFrame = {
    val (lo, n, seg, salt) = (op.get("lo").asLong, op.get("n").asLong,
      op.get("seg").asLong, op.get("salt").asLong)
    spark.range(lo, lo + n, 1, 1).select(
      col("id").as("k"),
      (lit(seg * SegmentWidth) + pmod(col("id") * 7 + salt, lit(SegmentWidth))).as("cust"),
      pmod(col("id") * 13 + salt, lit(365)).cast("int").as("day"),
      pmod(col("id") * 7919 + salt * 104729, lit(100000)).as("amount"),
      (pmod(col("id") * 31 + salt, lit(50)) + 1).cast("int").as("qty"))
  }

  private def payments(lo: Long, n: Long, salt: Long): DataFrame =
    spark.range(lo, lo + n, 1, 1).select(
      col("id").as("pay_id"),
      pmod(col("id") * 11 + salt, lit(Customers)).as("cust"),
      pmod(col("id") * 104723 + salt * 7919, lit(50000)).as("amount"))

  private def rates(salt: Long): DataFrame =
    spark.range(0, Segments, 1, 1).select(
      col("id").cast("int").as("segment"),
      pmod(col("id") * 37 + salt, lit(1000)).as("rate"))

  private def sumsOf(df: DataFrame, cols: (String, Column)*): Map[String, Any] = {
    val agg = df.agg(count(lit(1)).as("count"), cols.map { case (n, c) =>
      coalesce(sum(c), lit(0L)).as(n) }: _*)
    tracer.span("plans.plan")(agg.queryExecution.executedPlan)
    val row = tracer.span("exec")(agg.collect().head)
    agg.columns.zipWithIndex.map { case (n, i) => n -> row.getLong(i) }.toMap
  }

  /** Files the scans of `sales` read, against its live files: what the
    * star join's file pruning saved. */
  private var scanned = (0L, 0L)
  private def scanRatio(df: DataFrame): Unit = {
    val scans = ScanNodes.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(s"$sales/")) => s
    }
    if (scans.nonEmpty) {
      val read = scans.map(_.metrics.get("numFiles").fold(0L)(_.value)).sum
      scanned = (scanned._1 + read, scanned._2 + TxnTable.liveSplit(sales)._1.size)
    }
  }

  private def noteVersion(r: mutable.Map[String, Any], v: Int): Unit = {
    r("version") = v
    if (versions.isEmpty || v > versions.last) versions += v
  }

  def run(op: JsonNode, r: mutable.Map[String, Any]): Unit = op.get("op").asText match {
    case "append" =>
      r("before") = TxnTable.currentVersion(sales)
      noteVersion(r, tracer.span("sources.commit")(
        TxnTable.commit(spark, salesRows(op), sales, overwrite = false)))
    case "merge" =>
      r("before") = TxnTable.currentVersion(sales)
      noteVersion(r, tracer.span("sources.merge")(
        Merge.upsert(spark, sales, salesRows(op), Seq("k")).version))
    case "delete" =>
      r("before") = TxnTable.currentVersion(sales)
      val (lo, hi) = (op.get("lo").asLong, op.get("hi").asLong)
      noteVersion(r, tracer.span("sources.delete")(
        TxnTable.deleteWhere(spark, sales, col("k").between(lo, hi))._1))
    case "pay_commit" =>
      val (lo, n, salt) = (op.get("lo").asLong, op.get("n").asLong, op.get("salt").asLong)
      val t = tracer.span("sources.commit")(TxnCatalog.commitAll(spark, wh, Seq(
        TxnCatalog.Write("payments", payments(lo, n, salt)),
        TxnCatalog.Write("rates", rates(salt), overwrite = true))))
      r("txn") = t
      txns += t
    case "pay_delete" =>
      val (lo, hi) = (op.get("lo").asLong, op.get("hi").asLong)
      val (t, marked) = tracer.span("sources.delete")(
        TxnCatalog.deleteWhereMor(spark, wh, "payments", col("pay_id").between(lo, hi)))
      r("txn") = t
      r("marked") = marked
      if (t > txns.last) txns += t
    case "ingest" =>
      val name = op.get("file").asText
      Files.copy(new File(pool, name).toPath, new File(incoming, name).toPath,
        StandardCopyOption.REPLACE_EXISTING)
      tracer.span("streaming.ingest")(
        EventsStreaming.constrainedIngest(spark, incoming.getPath, EventSchema, events, eventsQ))
      r("version") = TxnTable.currentVersion(events)
    case "maintain" =>
      r("events_version") = tracer.span("sources.maintain")(
        TxnTable.compactSmall(spark, events, 1L << 20))
      r("indexed") = tracer.span("sources.stats")(TxnStats.refreshFromFooters(spark, sales, "cust"))
    case "sales_agg" | "sales_asof" =>
      val v = if (!op.has("pick")) versions.last
        else versions(math.min(versions.size - 1, (op.get("pick").asDouble * versions.size).toInt))
      r("version") = v
      val df = tracer.span("sources.open")(TxnTable.read(spark, sales, Some(v)))
      r ++= sumsOf(df, "amount" -> col("amount"), "qty" -> col("qty"))
    case "sales_meta" =>
      r("version") = versions.last
      r("count") = tracer.span("sources.open")(TxnTable.snapshotRowCount(sales))
      r("live_files") = tracer.span("sources.open")(TxnTable.liveFiles(sales).size)
    case "pay_meta" =>
      r("txn") = txns.last
      r("count") = tracer.span("sources.open")(TxnCatalog.rowCount(wh, "payments"))
    case "star" =>
      r("version") = versions.last
      val seg = op.get("seg").asInt
      val fact = tracer.span("sources.open")(TxnTable.read(spark, sales))
      val dim = tracer.span("sources.open")(TxnCatalog.read(spark, wh, "customers"))
      val df = fact.join(dim.filter(col("c_segment") === seg), col("cust") === col("c_id"))
        .groupBy("c_region").agg(count(lit(1)).as("count"), sum("amount").as("amount"))
        .orderBy("c_region")
      tracer.span("plans.plan")(df.queryExecution.executedPlan)
      val rows = tracer.span("exec")(df.collect())
      if (tracer.on) scanRatio(df)
      r("groups") = rows.map(x => Seq(x.getInt(0).toLong, x.getLong(1), x.getLong(2))).toSeq
    case "changes" =>
      // the last three commits of `sales`, a fixed span of the history
      val (a, b) = (versions(versions.size - 4), versions.last)
      r("from") = a
      r("to") = b
      val df = tracer.span("sources.open")(TxnTable.changeFeed(spark, sales, a, b, Seq("k")))
        .groupBy("change").agg(count(lit(1)).as("count"), sum("amount").as("amount"))
      tracer.span("plans.plan")(df.queryExecution.executedPlan)
      r("changes") = tracer.span("exec")(df.collect())
        .map(x => x.getString(0) -> Seq(x.getLong(1), x.getLong(2))).toMap
    case "pay_asof" =>
      val t = txns(math.max(0, txns.size - 3))
      r("txn") = t
      val pay = tracer.span("sources.open")(TxnCatalog.read(spark, wh, "payments", Some(t)))
      r ++= sumsOf(pay, "amount" -> col("amount"))
      val rt = tracer.span("sources.open")(TxnCatalog.read(spark, wh, "rates", Some(t)))
      r("rate_sum") = sumsOf(rt, "rate" -> col("rate"))("rate")
    case "events_agg" =>
      r("version") = TxnTable.currentVersion(events)
      val df = tracer.span("sources.open")(TxnTable.read(spark, events))
      r ++= sumsOf(df, "value_cents" -> round(col("value") * 100).cast("long"))
  }

  def finish(): Map[String, Any] = {
    val tables = Seq(sales, events, eventsQ) ++
      Seq("customers", "payments", "rates").map(TxnCatalog.tablePath(wh, _))
    val live = tables.filter(t => new File(t).exists).flatMap { t =>
      val (data, dv) = TxnTable.liveSplit(t)
      (data ++ dv).map(f => new File(t, f).length)
    }
    val total = treeBytes(base)
    Map("history" -> history.toSeq, "live_files" -> live.size,
      "live_bytes" -> live.sum, "root_bytes" -> total,
      "written_bytes" -> (total - bytesBefore),
      "scan_files" -> scanned._1, "scan_live_files" -> scanned._2)
  }
}

object Lakehouse {
  val Customers = 5000L
  val Segments = 10L
  val SegmentWidth: Long = Customers / Segments

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum
    else f.length

  private object ScanNodes extends AdaptiveSparkPlanHelper
}
