package graft.tools

import org.apache.spark.sql.functions._

/** Retention-loop probe for the Hokusai topk store at a REALISTIC epoch
  * count: build 1,440 one-minute epochs (a day of minute-grain
  * sketches), then run the retention sweep an operator would cron —
  * advance the cutoff epoch-interval by epoch-interval, folding each
  * age band to its generation (a ladder: older ⇒ coarser) through the
  * idempotent target-stated [[graft.GraftSession.decayApproxTSTopK]] —
  * and record total sketch state vs the no-decay control, plus the
  * no-op cost of RE-RUNNING the final sweep (the retried-job case).
  * Results → PERF_NOTES §37. Run: runMain graft.tools.DecayRetentionProbe
  */
object DecayRetentionProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession.builder("graft-decay-retention-probe", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val g = graft.GraftSession(spark)

    // a day of minute epochs: 1440 buckets × ~200 events each; key space
    // per epoch is ~120 keys, CMS width 1024 (≳8× cardinality)
    val epochs = 1440
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val events = spark.range(epochs.toLong * 200).select(
      col("id").as("event_id"),
      (lit(base) / 1000 + (col("id") / 200) * 60).cast("timestamp").as("ts"),
      concat(lit("k"), pmod(col("id") * 2654435761L, lit(120))).as("user_key"))
    def totalBytes(): Long = g.table("tk_ret_sketches")
      .agg(sum(length(col("sketch")).cast("long"))).head().getLong(0)

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    g.createApproxTSTopK("tk_ret", events, "user_key", "ts", "1 minute",
      k = 10, width = 1024)
    val before = totalBytes()
    println(f"epochs=$epochs no-decay state=${before / 1024.0 / 1024}%.1f MiB")

    // the retention ladder an operator crons: hour-grain sweeps; ages
    // 2h+ fold one generation, 6h+ two, 12h+ three (floor 64 cells).
    // Each band is a target-stated call — re-runs and band overlaps are
    // no-ops for already-folded epochs, so the ladder composes safely.
    val (_, sweepSec) = timed {
      (1 to 24).foreach { h =>
        val cutoff = new java.sql.Timestamp(base + h * 3600L * 1000).toString
        def olderThanHours(age: Int, gens: Int): Unit =
          if (h >= age) {
            val c = new java.sql.Timestamp(base + (h - age) * 3600L * 1000).toString
            g.decayApproxTSTopK("tk_ret", c.stripSuffix(".0"), gens, minWidth = 64)
          }
        olderThanHours(2, 1)
        olderThanHours(6, 2)
        olderThanHours(12, 3)
        val _ = cutoff
      }
    }
    val after = totalBytes()
    println(f"after ladder state=${after / 1024.0 / 1024}%.1f MiB " +
      f"(${before.toDouble / after}%.2fx smaller), 24 sweeps in $sweepSec%.1f s")

    // the retried job: re-running the ENTIRE final ladder must not move
    // a byte (idempotence at 1k+ epochs) and costs only the scan
    val (_, rerunSec) = timed {
      g.decayApproxTSTopK("tk_ret",
        new java.sql.Timestamp(base + 12 * 3600L * 1000).toString.stripSuffix(".0"),
        3, minWidth = 64)
    }
    val rerun = totalBytes()
    println(f"re-run: state=${rerun / 1024.0 / 1024}%.1f MiB " +
      f"(unchanged=${rerun == after}) in $rerunSec%.2f s")

    // range query spanning decayed + fresh epochs still answers
    val got = g.queryApproxTSTopK("tk_ret",
      "2024-01-01 05:00:00", "2024-01-01 23:00:00", 5).collect()
    println(s"range over mixed widths: ${got.length} keys, top=${got.headOption}")
    spark.stop()
  }
}
