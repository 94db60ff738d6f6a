package graft.tools

import org.apache.spark.sql.functions._

/** Collision audit for the hashed-shingle dedup keys (Dedup.hashedShingles):
  * the xxhash64 key substitution preserves results IFF the hash is
  * injective over the corpus's distinct shingles. Prints distinct-shingle
  * vs distinct-hash counts per SF dir — equal counts = zero collisions =
  * identical set algebra. Usage: runMain graft.tools.ShingleHashProbe [dirs...]
  */
object ShingleHashProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.LocalSession.builder("graft-shingle-hash-probe", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dirs.foreach { dir =>
      val docs = graft.Tables.load(spark, dir, "documents")
      val toks = split(col("text"), "\\s+")
      val sh = docs.select(toks.as("t"))
        .filter(size(col("t")) >= 3)
        .select(explode(transform(sequence(lit(0), size(col("t")) - 3),
          i => concat_ws(" ", element_at(col("t"), i + 1),
            element_at(col("t"), i + 2), element_at(col("t"), i + 3))))
          .as("shingle"))
        .distinct()
      val r = sh.agg(count(lit(1)).as("n_text"),
        count_distinct(xxhash64(col("shingle"))).as("n_hash")).head()
      val (nt, nh) = (r.getLong(0), r.getLong(1))
      println(s"[shinglehash] $dir distinct_text=$nt distinct_hash=$nh " +
        (if (nt == nh) "ZERO COLLISIONS" else s"COLLISIONS=${nt - nh}"))
    }
    spark.stop()
  }
}
