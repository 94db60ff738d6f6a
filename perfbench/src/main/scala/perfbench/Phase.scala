package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** What one timed phase measured. `latencies` are milliseconds of the
  * ops that returned, by kind; `threw` are ops that raised, by class;
  * `checks` yield each returned op's verdict when called.
  */
final case class PhaseResult(
    elapsedS: Double,
    attempted: Int,
    units: Int,
    latencies: Map[Kind, Seq[Double]],
    byClass: Seq[(String, Double)],
    threw: Seq[(String, String)],
    checks: Seq[(String, () => Option[String])]) {
  def completed: Int = attempted - threw.size
  def opsPerS: Double = completed / elapsedS
}

object Phase {

  /** Closed loop, one client: run ops of `it` back to back until
    * `seconds` have passed and the op count is a positive multiple of the
    * workload's unit. With `seconds` 0 that is exactly one unit.
    */
  def run(w: Workload, it: Iterator[Op], probe: Probe, seconds: Double,
      parking: Parking): PhaseResult = {
    val lat = mutable.Map.empty[Kind, mutable.ArrayBuffer[Double]]
    val threw = mutable.ArrayBuffer.empty[(String, String)]
    val checks = mutable.ArrayBuffer.empty[(String, () => Option[String])]
    val byClass = mutable.ArrayBuffer.empty[(String, Double)]
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var n = 0
    var parkNs = 0L // writing answers to disk is not part of the phase
    while (n == 0 || n % w.unitOps != 0 || System.nanoTime() - parkNs < deadline) {
      val op = it.next()
      probe.beginOp(op.cls)
      val s = System.nanoTime()
      try {
        val answer = op.run(probe)
        val ms = (System.nanoTime() - s) / 1e6
        lat.getOrElseUpdate(op.kind, mutable.ArrayBuffer.empty) += ms
        byClass += op.cls -> ms
        val p0 = System.nanoTime()
        val rows = parking.park(answer.rows)
        val check = answer.check
        checks += op.cls -> (() => check(rows()))
        parkNs += System.nanoTime() - p0
      } catch {
        case NonFatal(e) =>
          val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .map(c => s"${c.getClass.getSimpleName}: ${c.getMessage}").toSeq.last
          threw += op.cls -> msg.linesIterator.nextOption().getOrElse("")
      } finally probe.endOp()
      n += 1
    }
    val elapsed = (System.nanoTime() - t0 - parkNs) / 1e9
    PhaseResult(elapsed, n, n / w.unitOps, lat.map { case (k, v) => k -> v.toSeq }.toMap,
      byClass.toSeq,
      threw.toSeq, checks.toSeq)
  }
}
