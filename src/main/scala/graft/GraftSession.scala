package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory for engine users: the config every graft
  * entry point needs (UTC determinism, nanos-parquet compatibility,
  * engine extensions), sized by a thread-count knob. */
object GraftSession {
  def builder(threads: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // write timestamps as INT64 micros, not the legacy INT96: INT96
      // carries NO footer statistics (parquet-mr emits an empty stats
      // object), so every footer-driven feature — min-max skipping,
      // commit-time sidecars, clamped-mass staleness — would leave
      // timestamp columns permanently unindexed; micros is also what
      // every other engine (DuckDB, Trino, Iceberg writers) speaks
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // tripwire ON by default (VERDICT r6 #6): an accidental
      // no-partition window over a large input fails at PLAN time
      // instead of OOMing an executor at 100 TB; the engine's three
      // documented small-data global windows pass via the 10 MiB size
      // gate, and bench/verify now exercise the guard continuously
      .config("spark.graft.globalWindowGuard.enabled", "true")
      // eager aggregation in AUTO: per-plan cost decision from
      // persisted NDV sketches — fires only where the fact provably
      // compresses onto the partial key (declared-unique dim, complete
      // sketch, ≥minCompression×). Sound whenever it fires; a table
      // without refreshNdv stats never reorders, so the deployed
      // default costs nothing until stats exist.
      .config("spark.graft.eagerAgg.enabled", "auto")
      .config("spark.ui.enabled", "false")

  /** Build the session; every engine rule, strategy and SQL function
    * rides `spark.sql.extensions`, so sessions derived with
    * `newSession()` carry them too. */
  def create(threads: Int): SparkSession = builder(threads).getOrCreate()
}
