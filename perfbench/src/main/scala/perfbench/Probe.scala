package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graft.store.{GraftColumnStore, GraftRowStore}
import org.apache.spark.sql.util.QueryExecutionListener

/** What a workload sees of tracing: spans around its calls into the
  * engine's layers, and per-op counts. The untraced run uses [[Probe.Off]],
  * which only runs the body, so end-to-end numbers carry no tracing cost.
  */
trait Probe {
  def span[T](layer: String, name: String)(body: => T): T
  /** Adds `value` to the current op's metric `name`. */
  def add(name: String, value: Double): Unit
  def beginOp(cls: String): Unit
  def endOp(): Unit
}

object Probe {
  object Off extends Probe {
    def span[T](layer: String, name: String)(body: => T): T = body
    def add(name: String, value: Double): Unit = ()
    def beginOp(cls: String): Unit = ()
    def endOp(): Unit = ()
  }
}

/** One traced op: its class, wall time and per-layer metrics. */
final case class OpRecord(id: Long, cls: String, wallMs: Double, metrics: Map[String, Double])

/** The traced run's recorder. Spans and counts come from three places,
  * all outside the engine: the benchmark's own wrappers around calls into
  * `GraftSession`, `spark.sql`, `GraftStoreOps` and `graft.operators`; a
  * `SparkListener` and a `QueryExecutionListener` registered here; and
  * the store's public counters, diffed around each op. Everything stays
  * in memory until [[spans]] and [[records]] are written at the end.
  */
final class Tracer(spark: SparkSession) extends SparkListener with Probe {
  import Tracer._

  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)
  private val baseNano = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNano) / 1e6

  // main-thread state
  @volatile private var opId = 0L
  private var opCls = ""
  private var opStart = 0.0
  private var open: List[Long] = Nil
  private var counters0: Array[Long] = Array.empty
  private val opSpans = mutable.ArrayBuffer.empty[Span]
  private val allSpans = mutable.ArrayBuffer.empty[Span]
  private val recs = mutable.ArrayBuffer.empty[OpRecord]

  // listener-side state, touched by the listener-bus thread and read by
  // the main thread after a drain; guarded by `this`
  private val m = mutable.LinkedHashMap.empty[String, Double]
  private val execSpan = mutable.Map.empty[Long, (Long, Double)]
  private val jobSpan = mutable.Map.empty[Int, (Long, Double, Long)]
  private val stageJob = mutable.Map.empty[Int, Long]
  private val listenerSpans = mutable.ArrayBuffer.empty[Span]

  spark.sparkContext.addSparkListener(this)
  private val qel = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }
  spark.listenerManager.register(qel)

  private def phases(qe: QueryExecution): Unit = Tracer.this.synchronized {
    qe.tracker.phases.foreach { case (phase, s) =>
      PhaseMetric.get(phase).foreach(k => bump(k, s.durationMs.toDouble))
    }
  }

  private def bump(k: String, v: Double): Unit = m.update(k, m.getOrElse(k, 0.0) + v)

  def add(name: String, value: Double): Unit = synchronized(bump(name, value))

  def beginOp(cls: String): Unit = {
    ListenerBusAccess.drain(spark.sparkContext)
    synchronized {
      m.clear(); execSpan.clear(); jobSpan.clear(); stageJob.clear(); listenerSpans.clear()
    }
    opSpans.clear()
    opId = nextId.incrementAndGet()
    opCls = cls
    open = opId :: Nil
    counters0 = storeCounters()
    opStart = nowMs
  }

  def span[T](layer: String, name: String)(body: => T): T = {
    val id = nextId.incrementAndGet()
    val parent = open.head
    val t0 = nowMs
    open = id :: open
    try body
    finally {
      open = open.tail
      val s = Span(id, opId, parent, layer, name, t0, nowMs)
      opSpans += s
      add(s"$layer.${name}_ms", s.duration)
    }
  }

  def endOp(): Unit = {
    val end = nowMs
    ListenerBusAccess.drain(spark.sparkContext)
    val counters1 = storeCounters()
    val root = Span(opId, opId, 0L, "client", opCls, opStart, end)
    val bench = root +: opSpans.toSeq
    val (metrics, lspans) = synchronized((m.toMap, listenerSpans.toSeq))
    // listener spans whose parent is unknown hang under the deepest
    // benchmark span that was open when they started
    val resolved = lspans.map { s =>
      if (s.parent != Unresolved) s else s.copy(parent = Spans.enclosing(bench, s.start, opId))
    }
    val spans = bench ++ resolved
    val jobs = resolved.filter(_.name == "job")
    val jobUnion = Stats.unionLength(jobs.map(j => (j.start, j.end)), root.start, root.end)
    val counted = StoreCounters.indices.map(i =>
      StoreCounters(i) -> (counters1(i) - counters0(i)).toDouble).toMap
    val self = Spans.layerSelfTimes(spans)
    val derived = Map(
      "spark.job_ms" -> jobUnion,
      "graft.driver_self_ms" -> math.max(0.0, root.duration - jobUnion)) ++
      self.map { case (l, v) => s"$l.self_ms" -> v }
    recs += OpRecord(opId, opCls, root.duration, metrics ++ counted ++ derived)
    allSpans ++= spans
  }

  /** Stops listening; the recorded spans and records stay. */
  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(qel)
  }

  def records: Seq[OpRecord] = recs.toSeq
  def spans: Seq[Span] = allSpans.toSeq

  // ---- SparkListener ----

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart =>
        execSpan(e.executionId) = (nextId.incrementAndGet(), e.time.toDouble)
        bump("graft.executions_per_op", 1)
      case e: SparkListenerSQLExecutionEnd =>
        execSpan.get(e.executionId).foreach { case (id, t0) =>
          listenerSpans += Span(id, opId, Unresolved, "graft", "execution", t0, e.time.toDouble)
        }
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .flatMap(execSpan.get).map(_._1).getOrElse(Unresolved)
    val id = nextId.incrementAndGet()
    jobSpan(e.jobId) = (id, e.time.toDouble, exec)
    e.stageIds.foreach(s => stageJob(s) = id)
    bump("spark.jobs_per_op", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach { case (id, t0, parent) =>
      listenerSpans += Span(id, opId, parent, "spark", "job", t0, e.time.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    bump("spark.stages_per_op", 1)
    for (t0 <- si.submissionTime; t1 <- si.completionTime; job <- stageJob.get(si.stageId))
      listenerSpans += Span(nextId.incrementAndGet(), opId, job, "spark", "stage",
        t0.toDouble, t1.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    bump("spark.tasks_per_op", 1)
    if (e.reason != org.apache.spark.Success) bump("spark.failed_tasks", 1)
    val tm = e.taskMetrics
    if (tm != null) {
      bump("spark.executor_run_ms", tm.executorRunTime.toDouble)
      bump("spark.executor_cpu_ms", tm.executorCpuTime / 1e6)
      bump("spark.gc_ms", tm.jvmGCTime.toDouble)
      bump("spark.shuffle_read_mb", tm.shuffleReadMetrics.totalBytesRead / MiB)
      bump("spark.shuffle_write_mb", tm.shuffleWriteMetrics.bytesWritten / MiB)
      bump("spark.spill_mb", (tm.memoryBytesSpilled + tm.diskBytesSpilled) / MiB)
      val peak = tm.peakExecutionMemory / MiB
      if (peak > m.getOrElse("spark.peak_exec_memory_mb", 0.0)) m("spark.peak_exec_memory_mb") = peak
      val ti = e.taskInfo
      val gettingResult = if (ti.gettingResultTime > 0) ti.finishTime - ti.gettingResultTime else 0L
      bump("spark.scheduler_delay_ms", math.max(0L, ti.duration - tm.executorRunTime -
        tm.executorDeserializeTime - tm.resultSerializationTime - gettingResult).toDouble)
    }
  }
}

object Tracer {
  val MiB: Double = 1024.0 * 1024.0
  private val Unresolved = -1L

  private val PhaseMetric = Map(
    "analysis" -> "graft.analysis_ms",
    "optimization" -> "graft.optimization_ms",
    "planning" -> "graft.planning_ms")

  /** The store's public scan counters, read in this order. */
  val StoreCounters: IndexedSeq[String] = IndexedSeq(
    "store.batches_scanned", "store.batches_skipped", "store.buckets_pruned",
    "store.agg_pushes", "store.agg_dict_batches", "store.row_index_probes",
    "store.row_packs_scanned", "store.row_range_packs_pruned", "store.row_range_packs_probed")

  def storeCounters(): Array[Long] = Array(
    GraftColumnStore.batchesScanned.get, GraftColumnStore.batchesSkipped.get,
    GraftColumnStore.bucketsPruned.get, GraftColumnStore.aggPushes.get,
    GraftColumnStore.aggDictBatches.get, GraftRowStore.indexProbes.get,
    GraftRowStore.packsScanned.get, GraftRowStore.rangePacksPruned.get,
    GraftRowStore.rangePacksProbed.get)
}
