package graft


/** Dev tool: dump formatted physical plans for selected queries so plan
  * regressions (lost pushdown, surprise SortMergeJoin, broken codegen)
  * are visible. `runMain graft.Explain [query ...]`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = LocalSession.builder("graft-explain", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val wanted = if (args.nonEmpty) args.toSet else Set(
      "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
      "q_ann_bruteforce", "q_dedup_minhash_lsh", "q_events_hourly",
      "q_column_store", "q_point_lookup", "q_dedup_embedding",
      "q_matview_rewrite", "q_matview_join")
    SparkEntry.allDefs.filter(d => wanted(d.name)).foreach { d =>
      println(s"\n========== ${d.name} ==========")
      println(d.fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
