package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for the spec suites (sf0.001 data — seconds,
  * not minutes; correctness at scale is the driver's DuckDB gate). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // INT64 micros, matching GraftSession: INT96 carries no footer
    // statistics, which would leave timestamp columns unindexable
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // the engine's rules, strategy and SQL functions, as GraftSession sets
    // them: every suite plans with them whichever one builds the session
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** `body` planned with join-driven file pruning off: the reference a
    * pruned plan's rows are compared against. */
  def unpruned[A](body: => A): A = {
    spark.conf.set("spark.graft.autoDfp.enabled", "false")
    try body finally spark.conf.unset("spark.graft.autoDfp.enabled")
  }

  override def afterAll(): Unit = {
    // shared across suites in one forked JVM — don't stop it per-suite
    super.afterAll()
  }
}
