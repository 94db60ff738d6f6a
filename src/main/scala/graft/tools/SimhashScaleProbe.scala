package graft.tools

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Isolate q_dedup_simhash's replica-scale cost: time (a) the signature
  * pass, (b) the chunk-key explode alone, (c) the full banded join, for
  * comboSize 1 and 2. Usage: runMain graft.tools.SimhashScaleProbe [sfDir]
  */
object SimhashScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_replica10")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.LocalSession.builder("graft-simhash-scale-probe", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def t(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"[simhashprobe] $label%-40s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val docs = graft.Tables.load(spark, sfDir, "documents")
    var sig: org.apache.spark.sql.DataFrame = null
    t("signatures (md5Portable) + checkpoint") {
      sig = graft.operators.Dedup.simhashSignaturesFast(docs, "doc_id", "text",
        sigBits = 60, md5Portable = true).localCheckpoint(true)
      ()
    }
    println(s"[simhashprobe] sig partitions=${sig.rdd.getNumPartitions} rows=${sig.count()}")
    val width = 6
    val mask = (1L << width) - 1
    def chunk(c: Int): Column =
      shiftright(col("simhash"), c * width).bitwiseAND(mask)
    for (comboSize <- Seq(1, 2)) {
      val combos = (0 until 10).combinations(comboSize).toSeq
      val keyCols = combos.zipWithIndex.map { case (ps, idx) =>
        ps.foldLeft(lit(idx.toLong): Column)((acc, p) =>
          shiftleft(acc, width).bitwiseOR(chunk(p)))
      }
      val chunksAll = sig.select(col("sid"), col("simhash"),
        explode(array(keyCols: _*)).as("bk"))
      t(s"explode only (combo=$comboSize)") {
        chunksAll.write.format("noop").mode("overwrite").save()
      }
      t(s"full nearDups (combo=$comboSize)") {
        graft.operators.Dedup.simhashNearDups(sig, maxHamming = 8,
          numChunks = 10, sigBits = 60, comboSize = comboSize)
          .write.format("noop").mode("overwrite").save()
      }
    }
    spark.stop()
  }
}
