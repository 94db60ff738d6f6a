package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1.0 TPC-H rehearsal (dev tool, not a driver gate): materialize a
  * 10× replica of the sf0.1 tables as parquet under /tmp — foreign keys
  * offset CONSISTENTLY per replica (each replica's lineitem joins its
  * own orders/part/supplier copy, so join fan-out and group counts scale
  * honestly; nation/region stay shared dims like real TPC-H) — then run
  * the 22 TPC-H contract queries at both scales, min-of-N interleaved.
  *
  * The point is scale HEADROOM evidence: per-query sf1.0/sf0.1 ratios
  * near the 10× data ratio (or below it, for selective scans) mean no
  * super-linear step — driver collect, global sort, broadcast blowup —
  * hides below bench scale. Results land in PERF_NOTES.
  *
  * Run: SPARK_GRAFT_SRC=/root/testdata/sf0.1 sbt "runMain graft.tools.TpchSf1Rehearsal"
  */
object TpchSf1Rehearsal {
  private val KO = 10000000000L // orderkey stride per replica
  private val KC = 1000000000L // custkey stride
  private val KP = 1000000000L // partkey stride
  private val KS = 1000000000L // suppkey stride

  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession.builder("graft-tpch-sf1-rehearsal", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val src = sys.env.getOrElse("SPARK_GRAFT_SRC", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1")
    val mult = sys.env.getOrElse("SPARK_GRAFT_MULT", "10").toInt
    val runs = sys.env.getOrElse("BENCH_RUNS", "3").toInt

    if (!new java.io.File(s"$out/lineitem.parquet").exists()) {
      println(s"== building ${mult}x replica of $src under $out")
      def reps = spark.range(mult).toDF("__rep")
      def shift(c: String, stride: Long) =
        (col(c) + col("__rep") * lit(stride)).as(c)
      def write(name: String, df: DataFrame): Unit = {
        df.write.mode("overwrite").parquet(s"$out/$name.parquet")
        println(s"  $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
      }
      def load(name: String) = spark.read.parquet(s"$src/$name.parquet")
      write("lineitem", load("lineitem").crossJoin(reps).select(
        shift("l_orderkey", KO) +: shift("l_partkey", KP) +:
          shift("l_suppkey", KS) +:
          load("lineitem").columns.filterNot(Set("l_orderkey", "l_partkey",
            "l_suppkey")).map(col).toSeq: _*))
      write("orders", load("orders").crossJoin(reps).select(
        shift("o_orderkey", KO) +: shift("o_custkey", KC) +:
          load("orders").columns.filterNot(Set("o_orderkey", "o_custkey"))
            .map(col).toSeq: _*))
      write("customer", load("customer").crossJoin(reps).select(
        shift("c_custkey", KC) +:
          load("customer").columns.filterNot(_ == "c_custkey").map(col).toSeq: _*))
      write("part", load("part").crossJoin(reps).select(
        shift("p_partkey", KP) +:
          load("part").columns.filterNot(_ == "p_partkey").map(col).toSeq: _*))
      write("supplier", load("supplier").crossJoin(reps).select(
        shift("s_suppkey", KS) +:
          load("supplier").columns.filterNot(_ == "s_suppkey").map(col).toSeq: _*))
      // shared dims, copied verbatim (real TPC-H keeps nation/region
      // constant across scale factors too)
      Seq("nation", "region").foreach(n => write(n, load(n)))
    }

    val tpch = Seq(
      "q1_pricing_summary", "q2_min_cost_supplier", "q3_shipping_priority",
      "q4_order_priority", "q5_local_supplier", "q6_forecast_revenue",
      "q7_volume_shipping", "q8_market_share", "q9_product_profit",
      "q10_returned_items", "q11_important_stock", "q12_quantity_bands",
      "q13_customer_distribution", "q14_promo_revenue", "q15_top_supplier",
      "q16_parts_supplier", "q17_small_quantity", "q18_large_volume",
      "q19_disjunct_revenue", "q20_potential_promotion",
      "q21_waiting_suppliers", "q22_sales_opportunity")
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // warm both scales once (codegen + footer caches), then
    // interleave: (q at sf0.1, q at sf1.0) per round, min-of-N
    val dirs = Seq("sf0.1" -> src, "sf1.0" -> out)
    for ((_, d) <- dirs; q <- tpch) SparkEntry.queries(q)(spark, d).count()
    val best = scala.collection.mutable.Map.empty[(String, String), Double]
    for (_ <- 1 to runs; q <- tpch; (label, d) <- dirs) {
      val t = time(SparkEntry.queries(q)(spark, d).collect())
      val k = (label, q)
      best(k) = math.min(best.getOrElse(k, Double.MaxValue), t)
      System.gc()
    }
    println(f"\n== TPC-H sf0.1 vs sf1.0 (x$mult data), min-of-$runs, local[32]")
    println(f"${"query"}%-26s ${"sf0.1"}%8s ${"sf1.0"}%8s ${"ratio"}%6s")
    var s01 = 0.0; var s10 = 0.0
    tpch.foreach { q =>
      val a = best(("sf0.1", q)); val b = best(("sf1.0", q))
      s01 += a; s10 += b
      println(f"$q%-26s $a%8.3f $b%8.3f ${b / a}%6.2f")
    }
    println(f"${"TOTAL"}%-26s $s01%8.3f $s10%8.3f ${s10 / s01}%6.2f")
    spark.stop()
  }
}
