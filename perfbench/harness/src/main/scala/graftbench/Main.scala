package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.graftshim.TaskTimeListener
import org.apache.spark.sql.{Row, SparkSession}

import graft.GraftSession

/** One workload's op script against a live session. `run` executes one op
  * and records its outcome in `r`; it throws when the op fails. */
trait Workload {
  def stage(): Unit
  def load(): Unit = ()
  def run(op: JsonNode, r: mutable.Map[String, Any]): Unit
  def finish(): Map[String, Any]
}

object Json {
  def read(path: String): JsonNode = new ObjectMapper().readTree(new File(path))

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case other => other.toString
  }
}

/** The benchmark's JVM side: runs one workload's setup rounds, an untimed
  * warm pass and closed-loop passes of its op script for the requested
  * seconds, and writes every raw sample as JSON. All statistics are
  * computed by `run.py` from that file.
  *
  * Usage: graftbench.Main <plan.json> <raw-out.json>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val plan = Json.read(args(0))
    val threads = plan.get("threads").asInt
    val trace = plan.get("trace").asBoolean
    val smoke = plan.get("smoke").asBoolean
    val seconds = plan.get("seconds").asDouble
    val passes = plan.get("passes")
    val mainMs = System.currentTimeMillis()
    val tracer = new Tracer
    var spark: SparkSession = null
    var rec: Recorder = null
    var workload: Workload = null

    // Set-up rounds: each one starts from nothing (fresh session, derived
    // caches and workload state deleted), so their median is the set-up
    // cost every run pays. The last round's state is the one measured.
    val setupMs = (1 to plan.get("setup_rounds").asInt).map { round =>
      val t0 = Clock.ms
      if (spark != null) spark.stop()
      clearDerived(new File(plan.get("derived_root").asText))
      spark = GraftSession.create(threads)
      spark.sparkContext.setLogLevel("ERROR")
      rec = new Recorder
      spark.sparkContext.addSparkListener(rec)
      tracer.sc = spark.sparkContext
      workload = plan.get("workload").asText match {
        case "lakehouse" => new Lakehouse(spark, tracer, plan, round)
        case _ => new Queries(spark, tracer, plan.get("data").asText, plan.get("results").asText)
      }
      workload.stage()
      Clock.ms - t0
    }

    // One-time loading after the rounds: work that is deterministic and
    // too slow to repeat, counted in set-up once.
    val l0 = Clock.ms
    workload.load()
    val loadMs = Clock.ms - l0

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum
    var opIndex = 0
    def runOp(op: JsonNode, pass: Int): Map[String, Any] = {
      val r = mutable.LinkedHashMap[String, Any](
        "i" -> opIndex, "pass" -> pass, "op" -> op.get("op").asText)
      tracer.op = opIndex
      opIndex += 1
      val t0 = Clock.ms
      try {
        tracer.span("op") {
          try workload.run(op, r)
          finally spark.catalog.clearCache()
        }
        r("ok") = true
      } catch {
        case NonFatal(e) =>
          r("ok") = false
          r("error") = s"${e.getClass.getName}: ${e.getMessage}".take(300)
      }
      r("start") = t0
      r("end") = Clock.ms
      r.toMap
    }
    var passIndex = 0
    def runPass(traced: Boolean): Map[String, Any] = {
      require(passIndex < passes.size, s"op script has only ${passes.size} passes")
      val ops = passes.get(passIndex).elements().asScala.toSeq
      TaskTimeListener.flush(spark.sparkContext)
      rec.detailed = traced
      tracer.on = traced
      val (task0, gc0, wall0, t0) = (rec.taskRunMs.get, gcMs, System.currentTimeMillis, Clock.ms)
      val records = ops.map(runOp(_, passIndex))
      val (t1, wall1) = (Clock.ms, System.currentTimeMillis)
      TaskTimeListener.flush(spark.sparkContext)
      rec.detailed = false
      tracer.on = false
      passIndex += 1
      // wall_* are on Spark's event clock, for the time no job ran
      Map("index" -> (passIndex - 1), "traced" -> traced, "start" -> t0, "end" -> t1,
        "wall_start" -> wall0, "wall_end" -> wall1,
        "task_ms" -> (rec.taskRunMs.get - task0), "driver_gc_ms" -> (gcMs - gc0),
        "ops" -> records)
    }

    val warm = (1 to plan.get("warm_passes").asInt).map(_ => runPass(traced = false))
    // A traced run has the same passes as an untraced one, all traced, so
    // its pass time less the untraced run's is the tracing overhead.
    val measured = mutable.ArrayBuffer.empty[Map[String, Any]]
    val w0 = Clock.ms
    do measured += runPass(trace)
    while (!smoke && (Clock.ms - w0 < seconds * 1000 ||
      measured.size < plan.get("min_passes").asInt))

    val heapMb = retainedHeapMb()
    val facts = workload.finish()
    val rt = Runtime.getRuntime
    val out = Map(
      "meta" -> Map("threads" -> threads, "spark" -> spark.version,
        "max_heap_mb" -> rt.maxMemory / (1 << 20),
        "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
        "main_ms" -> mainMs),
      "setup_round_ms" -> setupMs,
      "load_ms" -> loadMs,
      "warm" -> warm,
      "passes" -> measured,
      "retained_heap_mb" -> heapMb,
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start" -> s.start, "end" -> s.end)),
      "spark" -> rec.toJson,
      "workload" -> facts)
    java.nio.file.Files.writeString(new File(args(1)).toPath, Json.write(out))
    spark.stop()
    sys.exit(0)
  }

  /** Used driver heap after full collections: what the engine's caches
    * and the session keep alive between ops. */
  private def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  /** Delete the derived-data caches the engine keeps under `target/` so
    * their rebuild lands in set-up on every run. */
  private def clearDerived(target: File): Unit = {
    val del = org.apache.commons.io.FileUtils.deleteQuietly(_: File)
    Seq("mv", "partitioned", "bucketed", "tmp/stream")
      .foreach(d => del(new File(target, d)))
    Option(target.listFiles()).toSeq.flatten
      .filter(_.getName.contains("_index_")).foreach(del)
  }

  /** Order-insensitive digest of a result: equal rows, equal digest. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().take(12).map(b => f"$b%02x").mkString
  }
}

/** `query_mix` and `scan_x10`: registered queries over the shipped sf0.1
  * tables or their scale-up.
  * Each op builds the query, forces its physical plan, then collects. The
  * last result of every query is written out after the run for the DuckDB
  * oracle; every other run of it must have the same digest. */
final class Queries(spark: SparkSession, tracer: Tracer, data: String, results: String)
    extends Workload {
  private val fns = graft.SparkEntry.queries
  private val oracle = graft.SparkEntry.oracleSql
  private val last = mutable.Map.empty[String, org.apache.spark.sql.DataFrame]

  def stage(): Unit = ()

  def run(op: JsonNode, r: mutable.Map[String, Any]): Unit = {
    val name = op.get("name").asText
    r("name") = name
    val df = tracer.span("queries.build")(fns(name)(spark, data))
    tracer.span("plans.plan")(df.queryExecution.executedPlan)
    val rows = tracer.span("exec")(df.collect())
    r("rows") = rows.length
    r("digest") = Main.digest(rows)
    last(name) = spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  def finish(): Map[String, Any] = {
    Map("results" -> last.toSeq.sortBy(_._1).map { case (name, df) =>
      val path = new File(results, name).getPath
      df.coalesce(1).write.mode("overwrite").parquet(path)
      Map("name" -> name, "path" -> path, "digest" -> Main.digest(df.collect()),
        "oracle" -> oracle(name))
    })
  }
}
