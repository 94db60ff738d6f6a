package graft.tools

import graft.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.store.{GraftColumnStore, GraftStoreOps}

/** Z-order scale rehearsal (dev tool): ingests 1×/4×/16× multiples of
  * sf0.1 lineitem into TWO graftstore tables — arrival-order vs
  * `zorderBy(l_quantity, l_extendedprice)` — and times the same
  * 2-column box-predicate count on both, recording batches scanned vs
  * skipped. The point at scale: the z-table's scanned-batch count grows
  * with the BOX's data share, the plain table's with the WHOLE table, so
  * the speedup ratio should hold (or grow) as data multiplies — the
  * property that makes clustering worth an O(table) rewrite at 100 TB.
  */
object ZorderProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession.builder("graft-zorder-probe", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val li = Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val box = col("l_quantity").between(10.0, 20.0) &&
      col("l_extendedprice").between(20000.0, 40000.0)

    println("mult,plain_sec,z_sec,plain_scanned,z_scanned,z_skipped,scan_ratio")
    Seq(1, 4, 16).foreach { m =>
      val df = li.crossJoin(spark.range(m).toDF("__rep"))
        .withColumn("l_orderkey", col("l_orderkey") + col("__rep") * lit(100000000L))
        .drop("__rep")
      df.write.format(GraftStoreOps.FORMAT).option("table", "zp_plain")
        .mode("overwrite").save()
      df.write.format(GraftStoreOps.FORMAT).option("table", "zp_z")
        .mode("overwrite").save()
      GraftStoreOps.zorderBy(spark, "zp_z", Seq("l_quantity", "l_extendedprice"))
      def measure(t: String): (Double, Long, Long) = {
        // warmup + min-of-3 (host noise phases, see PERF_NOTES)
        GraftStoreOps.read(spark, t).filter(box).count()
        var best = Double.MaxValue
        var scanned = 0L
        var skipped = 0L
        (1 to 3).foreach { _ =>
          val s0 = GraftColumnStore.batchesScanned.get()
          val k0 = GraftColumnStore.batchesSkipped.get()
          val sec = time(GraftStoreOps.read(spark, t).filter(box).count())
          if (sec < best) best = sec
          scanned = GraftColumnStore.batchesScanned.get() - s0
          skipped = GraftColumnStore.batchesSkipped.get() - k0
        }
        (best, scanned, skipped)
      }
      val (ps, pScan, _) = measure("zp_plain")
      val (zs, zScan, zSkip) = measure("zp_z")
      println(f"$m,$ps%.3f,$zs%.3f,$pScan,$zScan,$zSkip,${pScan.toDouble / math.max(zScan, 1)}%.1f")
      GraftColumnStore.drop("zp_plain"); GraftColumnStore.drop("zp_z")
    }
    spark.stop()
  }
}
