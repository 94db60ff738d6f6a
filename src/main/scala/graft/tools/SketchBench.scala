package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.store.GraftStoreOps

/** Cost/benefit measurement for the `sketch_columns` stats-row digests:
  *  - ingest overhead: same table written with 0 vs 2 vs 4 sketched
  *    columns (the per-value HLL update is the only delta);
  *  - query side: whole-table approx_count_distinct answered by the
  *    StatsApproxDistinctRule metadata rewrite vs the same query forced
  *    down the scan path (rule conf off) vs exact count(DISTINCT).
  * Results recorded in PERF_NOTES (run: runMain graft.tools.SketchBench).
  */
object SketchBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.LocalSession.builder("graft-sketch-bench", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fmt = "org.apache.spark.sql.graft.store.GraftColumnSource"
    val li = graft.Tables.load(spark, sfDir, "lineitem")
    li.write.format("noop").mode("overwrite").save() // warm parquet read

    def time(tag: String)(f: => Unit): Double = {
      val runs = (0 until 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(f"$tag%-34s ${runs.min}%.3f s (min of ${runs.size})")
      runs.min
    }

    // ---- ingest overhead ----
    for ((tag, cols) <- Seq(
        ("none", ""),
        ("2 cols", "l_returnflag,l_suppkey"),
        ("4 cols", "l_returnflag,l_suppkey,l_partkey,l_shipdate"))) {
      time(s"ingest sketch=$tag") {
        val w = li.write.format(fmt).option("table", "skb")
          .option("batch_size", "16384")
        (if (cols.isEmpty) w else w.option("sketch_columns", cols))
          .mode("overwrite").save()
      }
    }
    // table now has 4 sketched columns (last arm)

    // ---- query side ----
    val df = spark.read.format(fmt).option("table", "skb").load()
    def acd(): Long = df
      .agg(approx_count_distinct(col("l_partkey")).as("nd"))
      .head().getLong(0)
    var r = 0L
    time("acd via metadata rewrite") { r = acd() }
    println(s"  -> estimate $r")
    spark.conf.set("spark.sql.graft.statsApproxDistinct", "false")
    time("acd via scan (rule off)") { r = acd() }
    println(s"  -> estimate $r")
    spark.conf.unset("spark.sql.graft.statsApproxDistinct")
    time("exact count(DISTINCT)") {
      r = df.select(countDistinct(col("l_partkey"))).head().getLong(0)
    }
    println(s"  -> exact $r")
    time("GraftStoreOps.approxDistinct") {
      r = GraftStoreOps.approxDistinct(spark, "skb", "l_partkey")
    }
    println(s"  -> estimate $r")
    spark.stop()
  }
}
