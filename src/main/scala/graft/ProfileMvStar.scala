package graft

import org.apache.spark.sql.functions._

/** Phase decomposition of q_scan_mv_star_lifecycle (~6 s in the r17
  * mid-round sweep): register (MV build+write), three staged checks
  * (each a localCheckpoint), merge, deleteWhere, CDC refresh.
  * `runMain graft.ProfileMvStar [sfDir] [reps]`. */
object ProfileMvStar {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 2
    val spark = GraftSession.create(32)
    spark.sparkContext.setLogLevel("WARN")
    import graft.plans.{Mv, MvRewrite}
    import graft.sources.TxnTable
    @volatile var jobs = 0
    @volatile var trace = false
    val t00 = System.nanoTime()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs += 1
          if (trace) starts.put(j.jobId, (System.nanoTime(),
            j.stageInfos.map(_.name).mkString(" | ").take(100)))
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          if (trace) Option(starts.get(j.jobId)).foreach { case (t0, n) =>
            println(f"[mvstar]      job ${j.jobId}%3d " +
              f"${(System.nanoTime() - t0) / 1e9}%6.3f s  $n")
          }
      })
    def t[A](label: String)(f: => A): A = {
      val j0 = jobs
      val t0 = System.nanoTime(); val r = f
      println(f"[mvstar] $label%-26s ${(System.nanoTime() - t0) / 1e9}%7.2f s" +
        f"  jobs=${jobs - j0}%3d")
      r
    }

    for (rep <- 1 to reps) {
      println(s"[mvstar] ── rep $rep ──")
      val table = Scratch.dir(s"/root/repo/target/tmp/profile_mvstar_fact_$rep")
      val mvDir = Scratch.dir(s"/root/repo/target/tmp/profile_mvstar_view_$rep")
      val fact = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey").as("k"), col("o_custkey"),
          col("o_custkey").cast("long").as("v"))
      t("commit fact")(TxnTable.commit(spark, fact, table, overwrite = false))
      val dim = spark.read.parquet(s"$sfDir/customer.parquet")
      val dims = Seq((dim, "customer.parquet", "o_custkey", "c_custkey"))
      val v1 = t("registerStarTxn")(Mv.registerStarTxn(spark, "pmvstar_q",
        table, dims, mvDir, Seq("c_mktsegment"), Seq("v")))
      def staged(stage: String) = {
        val q = TxnTable.read(spark, table)
          .join(spark.read.parquet(s"$sfDir/customer.parquet"),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(sum("v").as("sv"), min("v").as("mn"), max("v").as("mx"),
            count(lit(1)).as("n"))
        val plan = q.queryExecution.executedPlan.toString()
        val fromMv = plan.contains("pmvstar_view") &&
          !plan.contains("pmvstar_fact")
        q.select(lit(stage).as("stage"), col("c_mktsegment"), col("sv"),
            col("mn"), col("mx"), col("n"),
            lit(if (fromMv) 1L else 0L).as("from_mv"))
          .localCheckpoint(true)
      }
      try {
        val a = t("staged a")(staged("a_mv"))
        t("merge upsert")(graft.operators.Merge.upsert(spark, table,
          fact.filter(col("k") % 11 === 0)
            .select(col("k"), col("o_custkey"), (col("v") * 2).as("v")),
          Seq("k")))
        t("deleteWhere")(TxnTable.deleteWhere(spark, table, col("k") % 7 === 0))
        val b = t("staged b")(staged("b_live"))
        trace = rep == reps
        t("refreshStarTxnCdc")(Mv.refreshStarTxnCdc(spark, "pmvstar_q",
          table, v1, mvDir, dims, Seq("c_mktsegment"), Seq("v"),
          rowKeys = Seq("k"), repairMinMax = true))
        trace = false
        val c = t("staged c")(staged("c_refreshed"))
        t("final union")(a.unionByName(b).unionByName(c)
          .orderBy("stage", "c_mktsegment")
          .write.format("noop").mode("overwrite").save())
      } finally MvRewrite.deregister("pmvstar_q")
    }
    Scratch.sweep()
    spark.stop()
  }
}
