package perfbench

/** The traced run's per-layer report: for each op class, the median and
  * total of every metric; and one headline value per per-layer metric.
  */
final case class Layers(
    perClass: Map[String, Map[String, Map[String, Double]]],
    headline: Map[String, Map[String, Any]])

object Layers {

  /** Per-op metrics; the headline is the total over the traced phase
    * divided by the number of ops.
    */
  val PerOp: Seq[(String, String)] = Seq(
    "graft.analysis_ms" -> "ms", "graft.optimization_ms" -> "ms", "graft.planning_ms" -> "ms",
    "graft.executions_per_op" -> "count", "graft.driver_self_ms" -> "ms",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.job_ms" -> "ms", "spark.executor_run_ms" -> "ms",
    "spark.executor_cpu_ms" -> "ms", "spark.scheduler_delay_ms" -> "ms",
    "spark.shuffle_read_mb" -> "MiB", "spark.shuffle_write_mb" -> "MiB",
    "spark.spill_mb" -> "MiB", "spark.gc_ms" -> "ms", "spark.failed_tasks" -> "count") ++
    Tracer.StoreCounters.map(_ -> "count") ++
    Seq("client", "graft", "spark", "store", "operators").map(l => s"$l.self_ms" -> "ms")

  /** End-of-phase store state, as [[Main.storeState]] reports it. */
  val State: Seq[(String, String)] = Seq(
    "store.live_batches" -> "count", "store.delete_bitmaps" -> "count",
    "store.update_deltas" -> "count", "store.resident_mb" -> "MiB", "store.spilled_mb" -> "MiB")

  /** Paths `refreshMaterializedView` reports; each is counted. */
  val RefreshPaths: Seq[String] = Seq("noop", "incremental", "incremental_multi",
    "incremental_delete", "incremental_update", "partial", "full")

  /** Operator metrics; the headline is per call of that operator. */
  val OperatorMetrics: Seq[(String, String)] = Seq("call_ms" -> "ms", "exec_ms" -> "ms",
    "rows_out" -> "count")

  /** Every per-layer metric name with its unit, in report order. */
  val All: Seq[(String, String)] = PerOp ++ Seq(
    "spark.peak_exec_memory_mb" -> "MiB", "store.prune_ratio" -> "ratio",
    "store.mv_served_ratio" -> "ratio") ++ State ++
    RefreshPaths.map(p => s"store.mv_refresh.$p" -> "count") ++
    PipelineBatch.OpNames.flatMap(op => OperatorMetrics.map { case (m, u) => s"operators.$op.$m" -> u }) ++
    Seq("operators.minhash.verify_ratio" -> "ratio",
      "trace.untraced_ops_per_s" -> "1/s", "trace.traced_ops_per_s" -> "1/s",
      "trace.untraced_docs_per_s" -> "1/s", "trace.traced_docs_per_s" -> "1/s",
      "trace.overhead_pct" -> "%")

  /** Metrics only `htap_mixed` moves: its row table, DML, eviction and
    * matview. They stay in its `-layers.json`, not in the result object,
    * whose per-layer names are those the driven workloads can move.
    */
  val HtapOnly: Set[String] = Set("store.row_index_probes", "store.row_packs_scanned",
    "store.row_range_packs_pruned", "store.row_range_packs_probed", "store.delete_bitmaps",
    "store.update_deltas", "store.spilled_mb", "store.mv_served_ratio") ++
    RefreshPaths.map(p => s"store.mv_refresh.$p")

  /** The per-layer metrics of the result object. */
  val Reported: Set[String] = All.map(_._1).toSet -- HtapOnly

  /** `around` are the untraced phases just before and just after the
    * traced one: the JVM still gets faster from phase to phase, so the
    * overhead compares the traced rate with their mean.
    */
  def summarize(records: Seq[OpRecord], traced: PhaseResult, around: Seq[PhaseResult],
      w: Workload, state: Map[String, Double]): Layers = {
    val perClass = records.groupBy(_.cls).map { case (cls, rs) =>
      val names = rs.flatMap(_.metrics.keys).distinct.sorted :+ "wall_ms"
      cls -> names.map { n =>
        val xs = rs.map(r => if (n == "wall_ms") r.wallMs else r.metrics.getOrElse(n, 0.0))
        n -> Map("median" -> Stats.median(xs), "total" -> xs.sum, "ops" -> xs.size.toDouble)
      }.toMap
    }
    def total(n: String, rs: Seq[OpRecord] = records) = rs.map(_.metrics.getOrElse(n, 0.0)).sum
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val ops = records.size.toDouble
    val skipped = total("store.batches_skipped")
    val docs = (r: PhaseResult) => w.docsPerUnit * r.units / r.elapsedS
    val untracedOps = around.map(_.opsPerS).sum / around.size
    val values: Map[String, Double] =
      PerOp.map { case (n, _) => n -> ratio(total(n), ops) }.toMap ++
      state ++
      RefreshPaths.map(p => s"store.mv_refresh.$p" -> total(s"store.mv_refresh.$p")) ++
      PipelineBatch.OpNames.flatMap { op =>
        val rs = records.filter(_.cls == op)
        OperatorMetrics.map { case (m, _) =>
          s"operators.$op.$m" -> ratio(total(s"operators.$op.$m", rs), rs.size) }
      } ++ w.extraLayerMetrics() ++ Map(
        "spark.peak_exec_memory_mb" ->
          records.map(_.metrics.getOrElse("spark.peak_exec_memory_mb", 0.0)).maxOption.getOrElse(0.0),
        "store.prune_ratio" -> ratio(skipped, skipped + total("store.batches_scanned")),
        "store.mv_served_ratio" -> ratio(total("store.mv_served"), total("store.mv_reads")),
        "trace.untraced_ops_per_s" -> untracedOps,
        "trace.traced_ops_per_s" -> traced.opsPerS,
        "trace.untraced_docs_per_s" -> around.map(docs).sum / around.size,
        "trace.traced_docs_per_s" -> docs(traced),
        "trace.overhead_pct" -> 100.0 * ratio(untracedOps - traced.opsPerS, untracedOps))
    Layers(perClass, All.map { case (n, u) =>
      n -> Map[String, Any]("value" -> values.getOrElse(n, 0.0), "unit" -> u) }.toMap)
  }
}
