package graft.jobs

import graft.{GraftSession, Overlap}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's primary entry point re-expressed on Spark (SURVEY
  * §1.5/§3.1): pipeline.py:1142-1144 kicks off three independent
  * scrape→stage→load branches in parallel under Airflow; here each branch
  * is a named Spark JOB GROUP running on its own driver thread — the
  * scheduler interleaves their stages across the shared executors, the
  * Spark UI groups them exactly like the reference DAG's task boxes, and
  * `sc.cancelJobGroup(name)` can kill one branch without touching the
  * others (Airflow's per-task retry/kill semantics, driver-side).
  *
  * Failure semantics mirror the reference DAG's `retries=1` /
  * `retry_delay` (pipeline.py:32-33): each branch gets one retry, and a
  * branch that exhausts its retries does NOT abort the DAG — the other
  * branches stage, the fan-in runs over whatever staged, and the report
  * names every failure per stage (Airflow's partial-success run view).
  *
  * Fan-in (the reference's warehouse load + reporting views) follows once
  * every branch has settled: the flagship price aggregate and the
  * air-quality join read the staged parquet, not the scrape lineage —
  * the same stage→load cut pipeline.py makes at :842-844.
  */
object PipelineMain {

  /** Per-stage outcome: `rows` staged (None if the stage never landed),
    * attempts consumed, and the terminal error message if it failed. */
  final case class StageStatus(rows: Option[Long], attempts: Int,
                               error: Option[String]) {
    def ok: Boolean = error.isEmpty
  }

  /** Run the DAG: 3 concurrent named branches (1 retry each) → barrier →
    * volume gates on every staged table → 2 fan-in aggregates. Returns
    * per-stage status by stage name. */
  def run(spark: SparkSession, outDir: String): Map[String, StageStatus] = {
    def atLeast(table: String, n: Long): () => Option[String] = () => {
      val c = spark.read.parquet(s"$outDir/$table").count()
      if (c >= n) None else Some(s"$table staged $c rows, need >= $n")
    }
    runWith(spark, outDir,
      branches = Seq(
        ("zoopla_listings", () => Jobs.zooplaListings(spark)),
        ("dexters_listings", () => Jobs.dextersListings(spark)),
        ("air_quality", () => Jobs.airQualityReadings(spark))),
      gates = Seq(
        ("gate_zoopla_volume", atLeast("zoopla_listings", 1L)),
        ("gate_dexters_volume", atLeast("dexters_listings", 1L)),
        ("gate_air_volume", atLeast("air_quality", 1L))),
      marts = Seq(
        ("flagship_avg_price", () => Jobs.flagshipAvgPrice(spark)),
        ("air_quality_by_station", () => Jobs.airQualityByStation(spark))))
  }

  /** [[run]] with injectable stages (specs poison a branch to prove the
    * partial-failure contract). `maxRetries` mirrors the reference DAG's
    * `retries=1`; `retryDelayMs` stands in for its 5-minute
    * `retry_delay` (0 here — an embedded runner re-attempts immediately;
    * the knob exists because the delay is deployment policy, not
    * semantics).
    *
    * Data-quality GATES sit between the staging barrier and the fan-in —
    * the Airflow sensor/check-task slot. A gate returns None to pass or
    * Some(reason) to trip; a TRIPPED gate does not throw, it reports,
    * and every mart is SKIPPED (attempts = 0, error names the gate) —
    * bad data must never reach the warehouse tables, but the run report
    * still shows everything that staged. Volume floors and
    * [[graft.operators.Profiling.histogramDrift]] thresholds are the
    * expected residents of this slot. */
  def runWith(spark: SparkSession, outDir: String,
              branches: Seq[(String, () => DataFrame)],
              marts: Seq[(String, () => DataFrame)],
              gates: Seq[(String, () => Option[String])] = Seq.empty,
              maxRetries: Int = 1,
              retryDelayMs: Long = 0L): Map[String, StageStatus] = {
    val sc = spark.sparkContext

    // stage one sink with retry — used by branches and marts alike.
    // The row count rides an Observation on the WRITE job itself
    // (collected by the executors as the rows stream to parquet) — the
    // old read-back count() was a full second scan of every staged
    // table, which at 100 TB doubles the pipeline's read volume for a
    // metric the write already saw.
    def attemptStage(name: String, mk: () => DataFrame): StageStatus = {
      var attempt = 0
      var last: Option[String] = None
      while (attempt <= maxRetries) {
        attempt += 1
        try {
          val obs = org.apache.spark.sql.Observation(
            s"stage_${name}_a$attempt")
          mk().observe(obs, org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("rows"))
            .write.mode("overwrite").parquet(s"$outDir/$name")
          return StageStatus(
            Some(obs.get("rows").asInstanceOf[Long]), attempt, None)
        } catch {
          case scala.util.control.NonFatal(e) =>
            last = Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(500))
            if (attempt <= maxRetries && retryDelayMs > 0) Thread.sleep(retryDelayMs)
        }
      }
      StageStatus(None, attempt, last)
    }

    // one thread per branch: setJobGroup is THREAD-local, so each branch's
    // Spark jobs carry its own group id concurrently. The barrier joins
    // every branch; a branch never throws — failure is DATA in the report
    val staged = Overlap.map(Some(spark), branches, branches.size,
        "pipeline branch") { case (name, mk) =>
      sc.setJobGroup(name, s"branch $name: scrape -> clean -> stage",
        interruptOnCancel = true)
      try name -> attemptStage(name, mk)
      finally sc.clearJobGroup()
    }
    // quality gates: run between the barrier and the fan-in; a gate
    // check that itself crashes counts as tripped (fail-closed)
    sc.setJobGroup("quality_gates", "data-quality gates on staged tables",
      interruptOnCancel = true)
    val gateStatus =
      try gates.map { case (name, check) =>
        val err =
          try check()
          catch {
            case scala.util.control.NonFatal(e) =>
              Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(500))
          }
        name -> StageStatus(None, 1, err)
      }
      finally sc.clearJobGroup()
    val tripped = gateStatus.collect { case (n, s) if !s.ok => n }
    // fan-in: aggregates over the staged branches, one job group. A mart
    // whose upstream branch failed fails here too — reported, not thrown.
    // If any gate tripped, marts are SKIPPED, not attempted.
    val martStatus =
      if (tripped.nonEmpty)
        marts.map { case (name, _) =>
          name -> StageStatus(None, 0,
            Some(s"skipped: gate(s) ${tripped.mkString(", ")} tripped"))
        }
      else {
        sc.setJobGroup("warehouse_load", "fan-in: flagship + air-quality marts",
          interruptOnCancel = true)
        try marts.map { case (name, mk) => name -> attemptStage(name, mk) }
        finally sc.clearJobGroup()
      }
    (staged ++ gateStatus ++ martStatus).toMap
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("target/pipeline_out")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.create(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val statuses = run(spark, outDir)
    statuses.toSeq.sortBy(_._1).foreach {
      case (n, StageStatus(Some(rows), attempts, None)) =>
        println(s"$n: $rows rows (attempt $attempts)")
      case (n, StageStatus(_, attempts, err)) =>
        println(s"$n: FAILED after $attempts attempts: ${err.getOrElse("?")}")
    }
    // Airflow marks the run failed if any task failed; exit code mirrors it
    if (statuses.values.exists(!_.ok)) sys.exit(1)
    spark.stop()
  }
}
