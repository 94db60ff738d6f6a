package graft.tools

import org.apache.spark.sql.functions._

/** The reference's HEADLINE benchmark, reproduced at its own protocol:
  * `SELECT sym, avg(id) FROM t GROUP BY sym` over (id BIGINT, sym
  * VARCHAR) with 100 distinct syms, timed via collect(), average of 10
  * runs after 6 warmups (reference
  * examples/quickstart/scripts/Quickstart.scala:31-84 and
  * docs/quickstart/performance_apache_spark.md:2-7, which claims 16-20×
  * vs a CACHED Spark 2.1.1 DataFrame).
  *
  * Arms, same JVM/session:
  *  - spark_cache: Spark's own cached DataFrame (the baseline's
  *    comparator, now Spark 4's columnar cache + codegen agg)
  *  - graft_store: the same rows in a graft column table read through
  *    the catalog (dict-encoded sym → GraftAggScan code-indexed
  *    grouping + agg pushdown)
  *
  * QS_ROWS tunes size (default 100M, the reference's own N).
  * `runMain graft.tools.QuickstartBench`.
  */
object QuickstartBench {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession.builder("graft-quickstart-bench", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = sys.env.getOrElse("QS_ROWS", "100000000").toLong
    val fmt = "org.apache.spark.sql.graft.store.GraftColumnSource"

    val src = spark.range(n).selectExpr("id",
      "concat('sym', CAST(id % 100 AS STRING)) AS sym")

    // arm 1: Spark cached DataFrame (the reference's comparator)
    val cached = src.cache()
    cached.count() // materialize the cache

    // arm 2: graft column table (dict-encoded sym)
    src.write.format(fmt).option("table", "qs_t").mode("overwrite").save()
    val store = spark.table("graft.qs_t")

    def protocolTime(df: => org.apache.spark.sql.DataFrame): (Double, Double) = {
      def once(): Double = {
        val t0 = System.nanoTime()
        val r = df.groupBy("sym").agg(avg("id")).collect()
        require(r.length == 100)
        (System.nanoTime() - t0) / 1e9
      }
      (1 to 6).foreach(_ => once()) // reference: 6 warmups
      val runs = (1 to 10).map(_ => once()) // reference: avg of 10
      (runs.sum / runs.size, runs.min)
    }

    val (cacheAvg, cacheMin) = protocolTime(cached)
    val (storeAvg, storeMin) = protocolTime(store)
    // attribution arm: same store scan with the agg pushdown off —
    // what the dict-code grouped GraftAggScan buys over plain scan+agg
    spark.conf.set(org.apache.spark.sql.graft.store.GraftAggPushdown.CONF_KEY, "false")
    val (plainAvg, plainMin) = protocolTime(store)
    spark.conf.set(org.apache.spark.sql.graft.store.GraftAggPushdown.CONF_KEY, "true")
    println(f"rows=$n")
    println(f"spark_cache     avg=$cacheAvg%7.3f s  min=$cacheMin%7.3f s")
    println(f"graft_store     avg=$storeAvg%7.3f s  min=$storeMin%7.3f s")
    println(f"graft_no_push   avg=$plainAvg%7.3f s  min=$plainMin%7.3f s")
    println(f"speedup_vs_cache avg=${cacheAvg / storeAvg}%5.2fx  min=${cacheMin / storeMin}%5.2fx")
    spark.stop()
  }
}
