package graft.tools

import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}

/** Phase-level timing of a representative matview lifecycle (the
  * q_matview_incremental shape): createTable → create MV → insert →
  * refresh → serve, then a delete wave and an update wave, each followed
  * by its O(delta) refresh. Every phase prints wall time, Spark jobs and
  * stages, so each refresh path (`incremental`, `incremental_delete`,
  * `incremental_update`) has its own per-path counters. The measure is
  * made non-nullable with `coalesce`, which the subtractive paths need.
  * Usage: runMain graft.tools.MvPhaseProbe [sfDir] [reps]
  */
object MvPhaseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.LocalSession.builder("graft-mv-phase-probe", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val g = GraftSession(spark)

    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size)
        if (sys.env.contains("MVPHASE_TRACE"))
          println(s"[mvjob] stages=${j.stageInfos.size} :: " +
            j.stageInfos.map(_.name.takeWhile(_ != '\n')).mkString(" | ").take(160))
      }
    })

    def t[A](label: String)(f: => A): A = {
      val j0 = jobs.get; val s0 = stages.get
      val t0 = System.nanoTime(); val r = f
      println(f"[mvphase] $label%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s  " +
        s"jobs=${jobs.get - j0} stages=${stages.get - s0}")
      r
    }

    (1 to reps).foreach { rep =>
      println(s"[mvphase] --- rep $rep ---")
      if (org.apache.spark.sql.graft.store.MatViews.isMatView("p_mv_sum"))
        g.dropMaterializedView("p_mv_sum")
      if (g.isManaged("p_mv_base")) g.dropTable("p_mv_base")
      val orders = Tables.load(spark, sfDir, "orders")
      val old = orders.filter(col("o_orderkey") % 10 =!= 0)
      val delta = orders.filter(col("o_orderkey") % 10 === 0)
      def withAmt(df: org.apache.spark.sql.DataFrame) = df.withColumn("amt",
        coalesce(col("o_totalprice").cast("decimal(18,4)"),
          lit(0).cast("decimal(18,4)")))
      val oldAmt = withAmt(old)
      val deltaAmt = withAmt(delta)
      t("createTable(base 90%)") {
        g.createTable("p_mv_base", oldAmt)
      }
      t("create MV (group by prio)") {
        g.sql("CREATE MATERIALIZED VIEW p_mv_sum AS " +
          "SELECT o_orderpriority, sum(amt) AS s, " +
          "count(*) AS n FROM p_mv_base GROUP BY o_orderpriority")
      }
      t("insert delta (10%)") {
        g.insert("p_mv_base", deltaAmt)
      }
      def refresh(path: String): Unit = t(s"refresh ($path)") {
        val p = g.refreshMaterializedView("p_mv_sum")
        require(p == path, s"expected $path, got $p")
      }
      refresh("incremental")
      t("serve (rewritten query)") {
        spark.sql("SELECT o_orderpriority, sum(amt) AS s " +
          "FROM p_mv_base GROUP BY o_orderpriority")
          .write.format("noop").mode("overwrite").save()
      }
      // every base batch keeps live rows, so the batch set is unchanged
      t("delete wave (10%)") {
        g.delete("p_mv_base", col("o_orderkey") % 10 === 1)
      }
      refresh("incremental_delete")
      t("update wave (10%)") {
        g.update("p_mv_base", col("o_orderkey") % 10 === 2,
          "amt" -> (col("amt") + lit(1)))
      }
      refresh("incremental_update")
    }
    spark.stop()
  }
}
