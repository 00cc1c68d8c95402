package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's profiler: runs named registered queries as Bench does
  * (noop sink, `clearCache` between reps) under [[Trace.record]], prints
  * one line per rep, then the last rep's span tree — which engine phase
  * ran which jobs, for how long, at what task time.
  * `runMain graft.ProfileQuery <q1,q2,...> [sfDir] [reps]`; the local
  * thread count is `SPARK_GRAFT_CPUS`, or the host's cores when unset. */
object ProfileQuery {

  /** One repetition: its GC time, its trace, and the frame it wrote. */
  final case class Rep(gcS: Double, report: Trace.Report, frame: DataFrame)

  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum

  /** Run registered query `name` at `sfDir` `reps` times, each under its
    * own [[Trace.record]]. */
  def profile(spark: SparkSession, name: String, sfDir: String,
              reps: Int): Seq[Rep] = {
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
    (1 to reps).map { _ =>
      val g0 = gcMs
      val (frame, report) = Trace.record(spark) {
        val df = fn(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        df
      }
      val rep = Rep((gcMs - g0) / 1e3, report, frame)
      spark.catalog.clearCache()
      rep
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileQuery <q1,q2,...> [sfDir] [reps]")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = GraftSession.create(cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir).limit(1).collect()
    names.foreach { name =>
      val runs = profile(spark, name, sfDir, reps)
      runs.zipWithIndex.foreach { case (r, i) =>
        println(f"[pq] $name%-30s rep${i + 1} wall ${r.report.wallMs / 1e3}%6.2f s  " +
          f"jobs ${r.report.jobs}%3d  task ${r.report.taskMs / 1e3}%7.2f s  " +
          f"gc ${r.gcS}%5.2f s")
      }
      println(s"[pq] $name rep$reps span tree ($cpus threads):")
      println(runs.last.report.tree)
    }
    Scratch.sweep()
    spark.stop()
  }
}
