package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession

/** The reference's TAQ (quotes/trades) benchmark, reproduced at its
  * local-mode shape: 34M quotes + 5M trades over 100 symbols and one
  * trading day, the three harness queries verbatim, avg-of-N after
  * warmup (reference `cluster/.../benchmark/TAQTest.scala:56-78,
  * 195-260`). Quotes/trades land in sym-bucketed column tables (the
  * reference partitions both on sym too); S is the 100-row symbol dim.
  *
  * A `spark_cache` arm runs the same queries over cached DataFrames —
  * the reference harness's own comparator (`cacheQueries`).
  *
  * Query 4 is the one the reference SHIPS COMMENTED OUT (a correlated
  * max-subquery as-of join, TAQTest.scala:222-228): trades matched to
  * the latest quote at-or-before their time. Our `AsofJoin` runs it as
  * one windowed merge — no correlated subquery, no range join blowup.
  *
  * TAQ_QUOTES / TAQ_TRADES / TAQ_ITERS tune shape.
  * `runMain graft.tools.TaqBench`.
  */
object TaqBench {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession.builder("graft-taq-bench", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val g = GraftSession(spark)
    val nQ = sys.env.getOrElse("TAQ_QUOTES", "34000000").toLong
    val nT = sys.env.getOrElse("TAQ_TRADES", "5000000").toLong
    val iters = sys.env.getOrElse("TAQ_ITERS", "5").toInt
    val day = "2016-06-06"
    val open = java.sql.Timestamp.valueOf(s"$day 09:30:00").getTime / 1000

    // deterministic synthesis (Weyl-style mix for price-ish values)
    def sym = concat(lit("SY"), lpad((col("id") % 100).cast("string"), 2, "0"))
    def mix(m: Long) = (col("id") * lit(2654435761L)) % m
    val quotes = spark.range(nQ).select(
      sym.as("sym"),
      concat(lit("EX"), (col("id") % 8).cast("string")).as("ex"),
      (mix(1000000L).cast("double") / 100.0).as("bid"),
      timestamp_seconds(lit(open) + (col("id") % 23400)).as("time"),
      to_date(lit(day)).as("date"))
    val trades = spark.range(nT).select(
      sym.as("sym"),
      concat(lit("EX"), (col("id") % 8).cast("string")).as("ex"),
      (mix(1000000L).cast("double") / 100.0).cast("decimal(10,4)").as("price"),
      timestamp_seconds(lit(open) + (col("id") % 23400)).as("time"),
      to_date(lit(day)).as("date"),
      (mix(10000L).cast("double") + 1.0).as("size"))
    val symDim = spark.range(100).select(
      concat(lit("SY"), lpad(col("id").cast("string"), 2, "0")).as("sym"))

    g.createTable("taq_quote", quotes, partitionBy = Seq("sym"), buckets = 32)
    g.createTable("taq_trade", trades, partitionBy = Seq("sym"), buckets = 32)
    g.createTable("taq_s", symDim)

    // the reference's three harness queries, verbatim shape
    val queries = Seq(
      "q1_last_bid" ->
        (s"select taq_quote.sym, last(bid) from taq_quote join taq_s " +
          s"on (taq_quote.sym = taq_s.sym) where date='$day' group by taq_quote.sym"),
      "q2_last_price_by_ex" ->
        (s"select taq_trade.sym, ex, last(price) from taq_trade join taq_s " +
          s"on (taq_trade.sym = taq_s.sym) where date='$day' group by taq_trade.sym, ex"),
      "q3_hourly_avg_size" ->
        (s"select taq_trade.sym, hour(time), avg(size) from taq_trade join taq_s " +
          s"on (taq_trade.sym = taq_s.sym) where date='$day' group by taq_trade.sym, hour(time)"))

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def protocol(f: => Unit): Double = {
      f; (1 to iters).map(_ => time(f)).sum / iters // reference: avg of N after warmup
    }

    println(f"quotes=$nQ trades=$nT iters=$iters")
    val storeTimes = queries.map { case (nm, q) =>
      nm -> protocol { spark.sql(q).collect() }
    }

    // comparator arm: Spark's own cache (the harness's cacheQueries)
    quotes.createOrReplaceTempView("c_quote"); trades.createOrReplaceTempView("c_trade")
    val cq = spark.table("c_quote").cache(); cq.count()
    val ct = spark.table("c_trade").cache(); ct.count()
    symDim.createOrReplaceTempView("c_s")
    val cacheTimes = queries.map { case (nm, q) =>
      nm -> protocol {
        spark.sql(q.replace("taq_quote", "c_quote")
          .replace("taq_trade", "c_trade").replace("taq_s", "c_s")).collect()
      }
    }
    storeTimes.zip(cacheTimes).foreach { case ((nm, st), (_, ct2)) =>
      println(f"$nm%-22s store=$st%7.3f s  spark_cache=$ct2%7.3f s  ${ct2 / st}%5.2fx")
    }

    // q4: the as-of join the reference ships commented out — ours runs it
    val tFrame = g.table("taq_trade").select("sym", "time", "price")
    val qFrame = g.table("taq_quote").select("sym", "time", "bid")
    val asof = protocol {
      graft.operators.AsofJoin.asofJoin(tFrame, qFrame,
        by = Seq("sym"), leftTs = "time", rightTs = "time")
        .filter(col("price") < col("asof_bid"))
        .agg(count(lit(1))).collect()
    }
    println(f"q4_asof_join (reference ships it commented out) store=$asof%7.3f s")
    spark.stop()
  }
}
