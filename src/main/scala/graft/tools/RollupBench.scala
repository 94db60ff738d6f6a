package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.store.{GraftColumnStore, GraftStoreOps}

/** Dev micro-bench for the row-buffer roll-up (not part of the driver
  * contract): quantifies (a) what a fragmented small-seal layout costs a
  * scan, and (b) what the roll-up pass itself costs — the trade a
  * streaming ingest loop makes when `spark.sql.graft.rollupThreshold`
  * is on. Results in PERF_NOTES §21.
  */
object RollupBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.LocalSession.builder("graft-rollup-bench", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fmt = GraftStoreOps.FORMAT
    val li = graft.Tables.load(spark, sfDir, "lineitem").cache()
    val n = li.count() // materialize

    def time(tag: String)(f: => Unit): Double = {
      val runs = (0 until 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(f"$tag%-44s ${runs.min}%.3f s (min of 3)")
      runs.min
    }
    def scanAgg(table: String): Unit =
      spark.read.format(fmt).option("table", table).load()
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)), sum("l_quantity"), avg("l_extendedprice"))
        .collect()

    // fragmented ingest: many small appends (the streaming shape) vs one
    // bulk write, same data, same batch size
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val slices = 200
    val per = (n / slices).toInt
    val sliced = li.withColumn("__s",
      (monotonically_increasing_id() % slices).cast("int")).cache()
    sliced.count()
    println(s"rows=$n slices=$slices (~$per rows per micro-append)")

    GraftColumnStore.drop("rb_frag")
    time(s"ingest: $slices micro-appends") {
      GraftColumnStore.drop("rb_frag")
      (0 until slices).foreach { s =>
        sliced.filter(col("__s") === s).drop("__s")
          .coalesce(1)
          .write.format(fmt).option("table", "rb_frag")
          .option("batch_size", "65536").mode("append").save()
      }
    }
    val fragRefs = GraftColumnStore("rb_frag").snapshot.liveRefs
    println(s"fragmented layout: ${fragRefs.size} batches " +
      s"(${fragRefs.count(_.isDelta)} small seals)")
    val tFrag = time("scan-agg over fragmented layout")(scanAgg("rb_frag"))

    // single-shot: the pass is idempotent, a min-of-3 would time no-ops
    val tRoll = {
      val t0 = System.nanoTime()
      GraftStoreOps.rollupSmallBatches(spark, "rb_frag", minBatches = 2)
      val t = (System.nanoTime() - t0) / 1e9
      println(f"${"rollupSmallBatches pass (single-shot)"}%-44s $t%.3f s")
      t
    }
    val rolledRefs = GraftColumnStore("rb_frag").snapshot.liveRefs
    println(s"rolled-up layout: ${rolledRefs.size} batches " +
      s"(${rolledRefs.count(_.isDelta)} small seals)")
    val tRolled = time("scan-agg after roll-up")(scanAgg("rb_frag"))

    GraftColumnStore.drop("rb_bulk")
    time("ingest: one bulk write (reference layout)") {
      li.write.format(fmt).option("table", "rb_bulk")
        .option("batch_size", "65536").mode("overwrite").save()
    }
    val tBulk = time("scan-agg over bulk layout")(scanAgg("rb_bulk"))

    println(f"summary: fragmented $tFrag%.3f s -> rolled $tRolled%.3f s " +
      f"(${tFrag / tRolled}%.2fx), bulk baseline $tBulk%.3f s, " +
      f"roll-up pass cost $tRoll%.3f s")
    spark.stop()
  }
}
