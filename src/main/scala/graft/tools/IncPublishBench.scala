package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.store.{GraftColumnStore, GraftStoreOps, LiveCheckpoint}

/** Measures the incremental-publish claim: after a small append to a
  * large published table, `publish(incremental = true)` must cost
  * O(batches touched), not O(table). Prints full-vs-incremental publish
  * times for the SAME logical epochs so the ratio is apples-to-apples.
  * (Evidence for PERF_NOTES; run via
  * `sbt -batch "runMain graft.tools.IncPublishBench"`.)
  */
object IncPublishBench {

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession.builder("inc-publish-bench", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fmt = GraftStoreOps.FORMAT
    val n = args.headOption.map(_.toLong).getOrElse(4000000L)

    def fresh(table: String): Unit =
      spark.range(n)
        .select((col("id") % 32).as("k"), (col("id") * 3).as("v"),
          concat(lit("payload_string_"), col("id")).as("s"))
        .write.format(fmt).option("table", table)
        .option("partition_by", "k").option("buckets", "32")
        .mode("overwrite").save()

    def append(table: String, rows: Long): Unit =
      spark.range(n, n + rows)
        .select((col("id") % 32).as("k"), (col("id") * 3).as("v"),
          concat(lit("payload_string_"), col("id")).as("s"))
        .write.format(fmt).option("table", table).mode("append").save()

    Seq("full", "incremental").foreach { mode =>
      val inc = mode == "incremental"
      val root = java.nio.file.Files.createTempDirectory(s"incb_$mode").toString
      fresh("incb")
      val (_, t0) = time(LiveCheckpoint.publish(spark, "incb", root, incremental = inc))
      // steady-state epochs: 0.25% appended between publishes
      val deltas = (1 to 3).map { _ =>
        append("incb", n / 400)
        val (_, t) = time(LiveCheckpoint.publish(spark, "incb", root, incremental = inc))
        t
      }
      println(f"INCBENCH mode=$mode%-11s rows=$n epoch0=${t0}%.2fs " +
        f"steady=${deltas.map(d => f"$d%.2f").mkString("/")}s")
      // reader-side cost at the same size: attachTable restores a full
      // store copy (O(table)); attachView re-points a lazy frame
      // (O(manifest)) — the query pays per scan instead
      val g = graft.GraftSession(spark)
      val (_, tCopy) = time(g.attachTable("incb_srv", root))
      val (_, tView) = time(g.attachView("incb_view", root))
      val (cnt, tQ) = time(g.table("incb_view").count())
      println(f"ATTACH   mode=$mode%-11s rows=$n copy=${tCopy}%.2fs " +
        f"view=${tView}%.3fs view_count=${tQ}%.2fs ($cnt rows)")
      g.dropTable("incb_srv"); g.dropTable("incb_view")
      GraftColumnStore.drop("incb")
    }

    // ROW-table arm (r12): the PK-keyed serving-table shape — same
    // full-vs-incremental protocol, pack-granularity reuse
    import org.apache.spark.sql.graft.store.{GraftRowOps, GraftRowStore}
    val rn = math.min(n, 8000000L) // row packs are heavier per row
    Seq("full", "incremental").foreach { mode =>
      val inc = mode == "incremental"
      val root = java.nio.file.Files.createTempDirectory(s"incbr_$mode").toString
      spark.range(rn)
        .select(col("id").as("rk"), (col("id") * 3).as("rv"),
          concat(lit("payload_string_"), col("id")).as("rs"))
        .write.format(GraftRowOps.FORMAT).option("table", "incbr")
        .option("key_columns", "rk").option("partition_by", "rk")
        .option("buckets", "32").mode("overwrite").save()
      val (_, t0) = time(LiveCheckpoint.publish(spark, "incbr", root, incremental = inc))
      val deltas = (1 to 3).map { i =>
        spark.range(rn + i * rn / 400, rn + (i + 1) * rn / 400)
          .select(col("id").as("rk"), (col("id") * 3).as("rv"),
            concat(lit("payload_string_"), col("id")).as("rs"))
          .write.format(GraftRowOps.FORMAT).option("table", "incbr")
          .mode("append").save()
        val (_, t) = time(LiveCheckpoint.publish(spark, "incbr", root, incremental = inc))
        t
      }
      println(f"INCBENCH mode=row_$mode%-7s rows=$rn epoch0=${t0}%.2fs " +
        f"steady=${deltas.map(d => f"$d%.2f").mkString("/")}s")
      GraftRowStore.drop("incbr")
    }
    spark.stop()
  }
}
