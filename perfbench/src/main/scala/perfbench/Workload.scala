package perfbench

import org.apache.spark.sql.{Row, SparkSession}

/** Which end-to-end latency class an op belongs to. */
sealed trait Kind
object Kind {
  case object Read extends Kind
  case object Write extends Kind
  case object Maint extends Kind
  /** One operator call of a pipeline pass. */
  case object Pass extends Kind
}

/** What an op returns: its answer rows, and how to check them. Checks
  * run after the timed phase, so a check may compute its reference
  * answer then; it returns None when the rows are right, else why not.
  */
final case class Answer(rows: Seq[Row], check: Seq[Row] => Option[String])
object Answer {
  /** A write: no rows; the final-state check covers it. */
  val Written: Answer = Answer(Nil, _ => None)
}

/** One op of a workload's stream: what to call, and its latency class.
  * `run` is timed whole.
  */
final case class Op(cls: String, kind: Kind, run: Probe => Answer)

/** Everything the timed loop needs from a workload. */
trait Workload {
  /** Load tables, views and indexes. Called several times; each call
    * replaces what the previous one built.
    */
  def setup(): Unit
  /** The seeded op stream; endless. It starts from the state the last
    * [[setup]] left.
    */
  def ops(): Iterator[Op]
  /** A phase, the warm-up included, ends only on a multiple of this many
    * ops.
    */
  def unitOps: Int = 1
  /** Checks on the final state, run after every op's own check. */
  def finalChecks(): Seq[Option[String]] = Nil
  /** Store tables whose size and state the run reports. */
  def storeTables: Seq[String]
  /** Documents processed per full unit of ops (0 where not applicable). */
  def docsPerUnit: Long = 0L
  /** Sizes of the workload's inputs, for the run's details. */
  def sizes: Map[String, Double] = Map.empty
  /** True for an op that is known to throw `message` (the root cause,
    * as "SimpleClassName: message"); it counts as failed, but does not
    * make the run incorrect. Any other throw does.
    */
  def knownDefect(cls: String, message: String): Boolean = false
  /** Per-layer numbers computed once, outside the timed phase. */
  def extraLayerMetrics(): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, spark: SparkSession, dataDir: String, seed: Long,
      refs: RefCache): Workload =
    name match {
      case "olap_store" => new OlapStore(spark, dataDir, seed, refs)
      case "htap_mixed" => new HtapMixed(spark, dataDir, seed)
      case "pipeline_batch" => new PipelineBatch(spark, dataDir, seed)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
}
