package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession

/** The reference's ColumnCacheBenchmark, reproduced at its shape
  * (reference `cluster/.../benchmark/ColumnCacheBenchmark.scala`):
  *
  *  - "cache with randomized keys — query": `select avg(k), avg(id)`
  *    over 50M rows of (id BIGINT, k DOUBLE), snappy column table vs
  *    Spark's cached DataFrame, avg-of-N after warmup (:276-340).
  *  - "PutInto Vs Insert": the same 50M rows written into a keyed
  *    bucketed column table by plain insert vs keyed upsert, fresh
  *    table per iteration (:232-267 — the reference expects putInto
  *    ≈2× insert).
  *
  * CKB_ROWS / CKB_ITERS / CKB_WRITE_ITERS tune shape.
  * `runMain graft.tools.CacheKeysBench`.
  */
object CacheKeysBench {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession.builder("graft-cache-keys-bench", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val g = GraftSession(spark)
    val n = sys.env.getOrElse("CKB_ROWS", "50000000").toLong
    val iters = sys.env.getOrElse("CKB_ITERS", "10").toInt
    val writeIters = sys.env.getOrElse("CKB_WRITE_ITERS", "3").toInt

    // deterministic stand-in for the reference's rand()*1000 key
    val src = spark.range(n).select(col("id"),
      (((col("id") * 2654435761L) % 1000000L).cast("double") / 1000.0).as("k"))

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def protocol(iters: Int)(f: => Unit): Double = {
      f; (1 to iters).map(_ => time(f)).sum / iters
    }

    // ---- query arm ----
    g.createTable("ckb_t", src)
    val store = spark.table("graft.ckb_t")
    val cached = src.cache(); cached.count()
    val qStore = protocol(iters) {
      store.agg(avg("k"), avg("id")).collect()
    }
    val qCache = protocol(iters) {
      cached.agg(avg("k"), avg("id")).collect()
    }
    println(f"rows=$n iters=$iters")
    println(f"query graft_store avg=$qStore%7.3f s  spark_cache avg=$qCache%7.3f s  ${qCache / qStore}%5.2fx")
    cached.unpersist(blocking = true)
    g.dropTable("ckb_t")

    // ---- insert vs putInto arm (fresh keyed table per iteration) ----
    val fmt = "org.apache.spark.sql.graft.store.GraftColumnSource"
    def freshKeyed(): Unit = {
      org.apache.spark.sql.graft.store.GraftColumnStore.drop("ckb_put")
      spark.range(0).select(col("id"), lit(0.0).as("k"))
        .write.format(fmt).option("table", "ckb_put")
        .option("partition_by", "id").option("buckets", "32")
        .option("key_columns", "id").mode("overwrite").save()
    }
    def once(put: Boolean): Double = {
      freshKeyed()
      time {
        if (put) org.apache.spark.sql.graft.store.GraftStoreOps.putInto(spark, "ckb_put", src)
        else src.write.format(fmt).option("table", "ckb_put").mode("append").save()
      }
    }
    once(put = false) // warm
    val ins = (1 to writeIters).map(_ => once(put = false)).sum / writeIters
    once(put = true)
    val put = (1 to writeIters).map(_ => once(put = true)).sum / writeIters
    println(f"write insert avg=$ins%7.3f s  putInto avg=$put%7.3f s  ratio=${put / ins}%5.2fx " +
      "(reference expectation: putInto ~2x insert)")
    spark.stop()
  }
}
