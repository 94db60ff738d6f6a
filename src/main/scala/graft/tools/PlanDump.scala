package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}


/** Dump `.explain("formatted")` for a set of SparkEntry queries to files —
  * the optimization-round evidence artifact (`plans/r15/<q>_{before,after}.txt`).
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]
  * (no query list = all). Uses the same session shape as Bench so the plans
  * match what the bench times (local[$SPARK_GRAFT_CPUS], AQE on).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "plans/r15"
    val suffix = if (args.length > 2) args(2) else "before"
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim).toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.LocalSession.builder("graft-plandump", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    graft.SparkEntry.allDefs
      .filter(d => only.forall(_.contains(d.name)))
      .foreach { d =>
        try {
          val df = d.fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          Files.write(
            Paths.get(outDir, s"${d.name}_$suffix.txt"),
            plan.getBytes(StandardCharsets.UTF_8))
          println(s"[plandump] wrote ${d.name}_$suffix.txt")
        } catch {
          case e: Throwable =>
            System.err.println(s"[plandump] ${d.name} FAILED: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
