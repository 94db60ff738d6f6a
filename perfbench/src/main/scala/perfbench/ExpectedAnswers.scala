package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.{JsonMethods, Serialization}

/** Row count and order-insensitive digest ([[Answers.digest]]) of each
  * `pipeline_batch` operator whose answer the benchmark cannot recompute
  * cheaply on its own. They were recorded once from the engine over the
  * fixed sf0.1 documents and are kept with the benchmark's sources, so a
  * change to an operator cannot move its own reference answer.
  *
  * To record them again, from the repository root, with the classpath
  * that `run.py` writes to `perfbench/target/perfbench.classpath`:
  * `java -cp "$(cat perfbench/target/perfbench.classpath)" perfbench.ExpectedAnswers
  * ~/testdata/sf0.1 perfbench/src/main/resources/perfbench/pipeline_batch-answers.json`
  */
object ExpectedAnswers {
  final case class Entry(rows: Long, digest: String)

  val Resource = "/perfbench/pipeline_batch-answers.json"
  val Ops: Seq[String] = Seq("minhash", "simhash", "containment", "bigram_xent", "skipgram")

  private implicit val formats: Formats = DefaultFormats

  def load(): Map[String, Entry] = {
    val in = getClass.getResourceAsStream(Resource)
    require(in != null, s"missing resource $Resource")
    val json = try JsonMethods.parse(in) finally in.close()
    json.extract[Map[String, Entry]]
  }

  def main(argv: Array[String]): Unit = {
    val Array(data, file) = argv
    val work = Paths.get("perfbench", "out", "expected-work")
    val spark = Main.session(work)
    try {
      val w = new PipelineBatch(spark, data, seed = 0L)
      w.setup()
      val answers = scala.collection.immutable.TreeMap(Ops.map { op =>
        val rows = w.answer(op)
        op -> Entry(rows.size, Answers.digest(rows))
      }: _*)
      Files.write(Paths.get(file), (Serialization.writePretty(answers) + "\n").getBytes(UTF_8))
    } finally spark.stop()
  }
}
