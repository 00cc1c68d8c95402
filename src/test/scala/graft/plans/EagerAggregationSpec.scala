package graft.plans

import java.io.File

import graft.SparkSpec
import graft.sources.{TableConstraints, TxnTable}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Behavior specs for eager aggregation: the partial aggregate really
  * lands below the join, results equal the unrewritten plan across
  * inner/outer joins and null measures, and every gate refuses —
  * default-off, undeclared dims, distinct/avg/decimal aggregates,
  * dim-side aggregate inputs, double application. */
class EagerAggregationSpec extends SparkSpec {

  import spark.implicits._

  private val root = "/root/repo/target/tmp/spec_eager"
  private val factT = s"$root/egfact"
  private val dimT = s"$root/egdim"      // unique key 1..6 (partial: fact fk reaches 8)
  private val dimDup = s"$root/egdup"    // duplicated key, undeclared

  override def beforeAll(): Unit = {
    super.beforeAll()
    FileUtils.deleteQuietly(new File(root))
    // fk ∈ 1..8 (7,8 unmatched in dimT); m NULL every 5th row
    val fact = (1L to 120L).map { i =>
      (i % 8 + 1, s"g${i % 3}",
        if (i % 5 == 0) Option.empty[Long] else Some(i))
    }.toDF("fk", "grp", "m")
    TxnTable.commit(spark, fact, factT, overwrite = false)
    TxnTable.commit(spark,
      (1L to 6L).map(k => (k, s"seg${k % 2}")).toDF("k", "seg"), dimT,
      overwrite = false)
    TableConstraints.declareUnique(dimT, Seq("k"), validate = Some(spark))
    TxnTable.commit(spark,
      Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("k2", "seg2"), dimDup,
      overwrite = false)
  }

  private def withEager[A](body: => A): A = {
    spark.conf.set("spark.graft.eagerAgg.enabled", "true")
    try body
    finally spark.conf.unset("spark.graft.eagerAgg.enabled")
  }

  private def aggCount(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.size

  /** True when the optimized plan holds an Aggregate BELOW the join. */
  private def partialBelowJoin(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.exists(_.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => true
      case _ => false
    })

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  private def factDf = TxnTable.read(spark, factT)
  private def dimDf = TxnTable.read(spark, dimT)

  test("inner join: partials below the join, results identical, nulls intact") {
    def q = factDf.join(dimDf, $"fk" === $"k")
      .groupBy("seg")
      .agg(sum("m").as("sm"), count($"m").as("cm"), count(lit(1)).as("n"),
        min("m").as("mn"), max("m").as("mx"), avg("m").as("am"))
      .orderBy("seg")
    val (got, eager) = withEager((rows(q), q))
    assert(withEager(partialBelowJoin(eager)))
    assert(withEager(aggCount(eager)) == 2)
    assert(got == rows(q)) // plain run, rule off by default
  }

  test("LEFT join: unmatched partials null-extend into the NULL-dim group") {
    def q = factDf.join(dimDf, $"fk" === $"k", "left")
      .groupBy("seg")
      .agg(count(lit(1)).as("n"), sum("m").as("sm"))
      .orderBy("seg")
    val got = withEager {
      assert(partialBelowJoin(q))
      rows(q)
    }
    assert(got == rows(q))
    // fk 7,8 rows really exist and really land in the null group
    assert(q.filter($"seg".isNull).head.getLong(1) == 30L)
  }

  test("mixed grouping (fact grp + dim seg) keys the partial by both") {
    def q = factDf.join(dimDf, $"fk" === $"k")
      .groupBy("grp", "seg").agg(sum("m").as("sm"))
      .orderBy("grp", "seg")
    val got = withEager {
      assert(partialBelowJoin(q))
      rows(q)
    }
    assert(got == rows(q))
  }

  test("gates: default-off, undeclared dim, distinct, avg, dim-side input, filter") {
    def base = factDf.join(dimDf, $"fk" === $"k")
    // default OFF — no partial below the join
    assert(!partialBelowJoin(base.groupBy("seg").agg(sum("m").as("s"))))
    withEager {
      // dup-key dim, undeclared → a fanning pre-aggregate would be wrong
      assert(!partialBelowJoin(
        factDf.join(TxnTable.read(spark, dimDup), $"fk" === $"k2")
          .groupBy("seg2").agg(sum("m").as("s"))))
      // non-decomposable aggregates decline
      assert(!partialBelowJoin(
        base.groupBy("seg").agg(countDistinct($"m").as("s"))))
      assert(!partialBelowJoin(base.groupBy("seg")
        .agg(expr("sum(m) FILTER (WHERE grp = 'g1')").as("s"))))
      // aggregate over a DIM column cannot pre-aggregate on the fact
      assert(!partialBelowJoin(base.groupBy("grp")
        .agg(countDistinct($"seg").as("s"))))
      // one application only: the rewritten plan holds exactly 2
      // aggregates however many fixed-point rounds run
      assert(aggCount(base.groupBy("seg").agg(sum("m").as("s"))) == 2)
    }
  }

  test("AVG decomposes; an all-null measure group stays NULL under ANSI") {
    // a fact whose fk=9 rows are ALL null-measured: the merged AVG's
    // count is 0 (not null) for that group — the zero-count guard must
    // return NULL, not raise DIVIDE_BY_ZERO
    val t = s"$root/egnull"
    TxnTable.commit(spark,
      (1L to 40L).map(i =>
        (i % 2 + 8L, if (i % 2 == 1) Option.empty[Long] else Some(i)))
        .toDF("fk", "m"),
      t, overwrite = false)
    val dimN = s"$root/egnulldim"
    TxnTable.commit(spark,
      Seq((8L, "even"), (9L, "odd")).toDF("k", "seg"), dimN,
      overwrite = false)
    graft.sources.TableConstraints.declareUnique(dimN, Seq("k"),
      validate = Some(spark))
    def q = TxnTable.read(spark, t)
      .join(TxnTable.read(spark, dimN), $"fk" === $"k")
      .groupBy("seg").agg(avg("m").as("am")).orderBy("seg")
    val got = withEager {
      assert(partialBelowJoin(q))
      q.collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) null else r.getDouble(1))).toSeq
    }
    assert(got == q.collect().map(r => (r.getString(0),
      if (r.isNullAt(1)) null else r.getDouble(1))).toSeq)
    assert(got.find(_._1 == "odd").get._2 == null) // all-null group
  }

  test("AVG over huge longs survives where an exact long partial would overflow") {
    // native Average sums non-decimal input as DOUBLE: group sums past
    // Long.MaxValue succeed natively, so the eager partial must also
    // sum a double-cast — a Sum(long) partial would raise ANSI
    // ARITHMETIC_OVERFLOW on exactly the inputs the plain plan handles
    val t = s"$root/eghuge"
    val dimH = s"$root/eghugedim"
    TxnTable.commit(spark,
      (1L to 40L).map(i => (i % 2 + 1L, Long.MaxValue / 4)).toDF("fk", "m"),
      t, overwrite = false)
    TxnTable.commit(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "seg"), dimH, overwrite = false)
    TableConstraints.declareUnique(dimH, Seq("k"), validate = Some(spark))
    def q = TxnTable.read(spark, t)
      .join(TxnTable.read(spark, dimH), $"fk" === $"k")
      .groupBy("seg").agg(avg("m").as("am")).orderBy("seg")
    val plain = q.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val got = withEager {
      assert(partialBelowJoin(q))
      q.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    }
    assert(got == plain)
    assert(got.forall(_._2 == (Long.MaxValue / 4).toDouble))
  }

  test("interval AVG declines (its sum type is not the double decomposition)") {
    def q = factDf
      .withColumn("iv", expr("make_ym_interval(0, cast(m % 6 as int))"))
      .join(dimDf, $"fk" === $"k")
      .groupBy("seg").agg(avg($"iv").as("a"))
    withEager(assert(!partialBelowJoin(q)))
  }

  test("auto mode fires from persisted NDV stats exactly where it compresses") {
    import graft.sources.TxnStats
    def q = factDf.join(dimDf, $"fk" === $"k")
      .groupBy("seg").agg(sum("m").as("sm"))
    def withConf[A](kvs: (String, String)*)(body: => A): A = {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
    }
    // no NDV stats persisted yet → auto declines (conservative)
    withConf("spark.graft.eagerAgg.enabled" -> "auto") {
      assert(!partialBelowJoin(q), "auto must decline without stats")
    }
    // refresh: fact has 120 rows over 8 fk keys — ~15× compression.
    // The partial key tuple is (fk) alone for a dim-attr grouping.
    val ndv = TxnStats.refreshNdv(spark, factT, Seq("fk"))
    assert(ndv >= 7 && ndv <= 10, s"~8-9 expected (8 keys + null), got $ndv")
    val autoRows = withConf("spark.graft.eagerAgg.enabled" -> "auto") {
      assert(partialBelowJoin(q), "auto must fire at 15x compression")
      rows(q)
    }
    assert(autoRows == rows(q), "auto-fired plan must equal rule-off rows")
    // a higher bar than the data clears → auto declines
    withConf("spark.graft.eagerAgg.enabled" -> "auto",
        "spark.graft.eagerAgg.minCompression" -> "100") {
      assert(!partialBelowJoin(q), "auto must respect the compression bar")
    }
    // mixed grouping widens the partial key to (grp, fk): NDV for that
    // tuple is NOT persisted → decline until it is
    def qm = factDf.join(dimDf, $"fk" === $"k")
      .groupBy("grp", "seg").agg(sum("m").as("sm"))
    withConf("spark.graft.eagerAgg.enabled" -> "auto") {
      assert(!partialBelowJoin(qm), "per-tuple stats: (grp,fk) unknown")
      TxnStats.refreshNdv(spark, factT, Seq("grp", "fk"))
      assert(partialBelowJoin(qm), "fires once the tuple NDV is persisted")
    }
  }

  test("decimal sums decline (double widening would change the result type)") {
    def q = factDf.withColumn("dm", $"m".cast("decimal(10,2)"))
      .join(dimDf, $"fk" === $"k")
      .groupBy("seg").agg(sum("dm").as("s"), avg("dm").as("a"))
    val got = withEager {
      assert(!partialBelowJoin(q))
      rows(q)
    }
    assert(got == rows(q)) // eager-on equals rule-off
  }
}
