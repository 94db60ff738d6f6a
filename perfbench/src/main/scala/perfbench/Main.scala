package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.store.{GraftColumnStore, GraftRowStore}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** One benchmark run:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --data <dir> --out <dir>
  * --refs <dir>`.
  *
  * Sets up the workload several times (the median is `setup_s`), runs one
  * unit of its op stream untimed as a warm-up, then an untraced timed
  * phase, and with `--trace 1` a traced and another untraced phase that
  * continue the same stream. Every answer is then checked. The last
  * stdout line is the result object; with `--trace 0` it carries the
  * end-to-end metrics, with `--trace 1` the per-layer ones.
  */
object Main {
  val SetupRepeats = 3

  private implicit val formats: Formats = DefaultFormats
  private def json(v: Map[String, Any]): String = Serialization.write(v)

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, out: String, refs: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("out"), need("refs"))
  }

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.graft", "org.apache.spark.sql.graft.store.GraftCatalog")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the status store keeps recent jobs, stages and tasks on the heap;
      // a short history keeps heap_mb about the engine, not about how
      // many tasks the run happened to execute
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Files.isDirectory(Paths.get(a.data)), s"no data directory ${a.data}")
    val out = Paths.get(a.out)
    Files.createDirectories(out)
    val spark = session(out.resolve("work"))
    val code = try run(spark, a, out) finally spark.stop()
    sys.exit(code)
  }

  private def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def run(spark: SparkSession, a: Args, out: Path): Int = {
    val w = Workload(a.workload, spark, a.data, a.seed, new RefCache(Paths.get(a.refs)))
    val parking = new Parking(out.resolve("work").resolve("answers"))
    val setups = (1 to SetupRepeats).map(_ => seconds(w.setup()))
    val stream = w.ops()
    // every op class is planned, code-generated and JIT-compiled once
    // before the timed phase
    val warm = Phase.run(w, stream, Probe.Off, 0, parking)
    val untraced = Phase.run(w, stream, Probe.Off, a.seconds, parking)
    val timedEnd = System.nanoTime()
    val heapMb = heapAfterGc()
    val state = storeState(w.storeTables)
    // the tracing overhead compares this phase with the untraced phases
    // just before and after it
    val traced = if (!a.trace) None else {
      val tracer = new Tracer(spark)
      val t = Phase.run(w, stream, tracer, a.seconds, parking)
      tracer.stop()
      val st = storeState(w.storeTables)
      Some((tracer, t, st, Phase.run(w, stream, Probe.Off, a.seconds, parking)))
    }
    val phases = Seq(warm, untraced) ++ traced.toSeq.flatMap(t => Seq(t._2, t._4))
    def wrongIn(r: PhaseResult) = r.checks.flatMap { case (cls, c) => c().map(cls -> _) }
    val untracedWrong = wrongIn(untraced)
    val wrong = untracedWrong ++ phases.filter(_ ne untraced).flatMap(wrongIn) ++
      w.finalChecks().flatten.map("final" -> _)
    val threw = phases.flatMap(_.threw)
    // a throw other than a known defect is as bad as a wrong answer
    val unexpected = threw.filterNot { case (cls, msg) => w.knownDefect(cls, msg) }
    val attempted = phases.map(_.attempted).sum
    val failed = threw.size + wrong.size
    val correct = wrong.isEmpty && unexpected.isEmpty

    val docsPerS = w.docsPerUnit * untraced.units / untraced.elapsedS
    val lat = untraced.latencies
    def p50(k: Kind) = lat.get(k).filter(_.nonEmpty).map(Stats.median)
    def p90(k: Kind) = lat.get(k).flatMap(Stats.p90)
    val reads = lat.getOrElse(Kind.Read, Nil) ++ lat.getOrElse(Kind.Pass, Nil)
    val e2e: Seq[(String, Option[Double], String)] = Seq(
      ("setup_s", Some(Stats.median(setups)), "s"),
      ("ops_per_s", Some(untraced.opsPerS), "1/s"),
      ("store_mb", Some(state("store.resident_mb") + state("store.spilled_mb")), "MiB"),
      ("heap_mb", Some(heapMb), "MiB"))
    // metrics some workloads lack, or that do not repeat closely enough to
    // bound: printed with the run's details, not in the result object
    val partial: Seq[(String, Option[Double], String)] = Seq(
      ("read_p50_ms", Some(reads).filter(_.nonEmpty).map(Stats.median), "ms"),
      ("read_p90_ms", Stats.p90(reads), "ms"),
      ("write_p50_ms", p50(Kind.Write), "ms"),
      ("write_p90_ms", p90(Kind.Write), "ms"),
      ("maint_p50_ms", p50(Kind.Maint), "ms"),
      ("docs_per_s", Some(docsPerS).filter(_ > 0), "1/s"),
      ("failed_ops_ratio",
        Some((untraced.threw.size + untracedWrong.size).toDouble / untraced.attempted), "ratio"))
    def named(ms: Seq[(String, Option[Double], String)]) =
      ms.collect { case (n, Some(v), u) => n -> Map("value" -> v, "unit" -> u) }.toMap
    val metrics = named(e2e)

    val info = Map(
      "workload" -> a.workload, "seed" -> a.seed, "setup_runs_s" -> setups,
      "warmup_s" -> warm.elapsedS, "timed_s" -> untraced.elapsedS,
      "ops" -> untraced.attempted, "units" -> untraced.units,
      "jvm_start_to_timed_s" -> ((System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 -
        (System.nanoTime() - timedEnd) / 1e9 - untraced.elapsedS),
      "after_timed_s" -> (System.nanoTime() - timedEnd) / 1e9,
      "samples" -> lat.map { case (k, v) => k.toString -> v.size },
      "sizes" -> w.sizes,
      "workload_metrics" -> named(partial),
      "failures" -> (threw ++ wrong).groupBy(_._1).map { case (k, v) => k -> v.head._2 })
    val classMs = untraced.byClass.groupBy(_._1).map { case (k, v) => k -> Stats.median(v.map(_._2)) }
    Files.write(out.resolve(s"${a.workload}-seed${a.seed}-e2e.json"),
      json(info + ("metrics" -> metrics) + ("class_p50_ms" -> classMs)).getBytes(UTF_8))
    println(json(info))

    val reported = traced match {
      case None => metrics
      case Some((tracer, r, st, after)) =>
        val layers = Layers.summarize(tracer.records, r, Seq(untraced, after), w, st)
        Files.write(out.resolve(s"${a.workload}-seed${a.seed}-spans.jsonl"),
          tracer.spans.map(s => json(Map("id" -> s.id, "op" -> s.op, "parent" -> s.parent,
            "layer" -> s.layer, "name" -> s.name, "start" -> s.start, "end" -> s.end)))
            .mkString("", "\n", "\n").getBytes(UTF_8))
        Files.write(out.resolve(s"${a.workload}-seed${a.seed}-layers.json"),
          json(Map("workload" -> a.workload, "seed" -> a.seed, "ops" -> r.attempted,
            "per_class" -> layers.perClass, "metrics" -> layers.headline)).getBytes(UTF_8))
        layers.headline.filter { case (n, _) => Layers.Reported.contains(n) }
    }
    println(json(Map("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> reported)))
    if (correct) 0 else 1
  }

  /** Heap in use after full GCs, repeated until it stops shrinking: the
    * context cleaner frees shuffle, broadcast and checkpoint blocks only
    * after a GC has collected their owners.
    */
  def heapAfterGc(): Double = {
    val rt = Runtime.getRuntime
    def used() = { System.gc(); Thread.sleep(100); (rt.totalMemory() - rt.freeMemory()) / Tracer.MiB }
    var last = used()
    var next = used()
    var rounds = 2
    while (next < last * 0.99 && rounds < 8) { last = next; next = used(); rounds += 1 }
    next
  }

  /** End-of-run state of the workload's store tables, column and row. */
  def storeState(tables: Seq[String]): Map[String, Double] = {
    val col = tables.flatMap(GraftColumnStore.get).map(_.snapshot)
    val row = tables.flatMap(GraftRowStore.get).map(_.snapshot)
    val colIds = col.flatMap(_.refs.map(_.id))
    val rowIds = row.flatMap(_.refs.map(_.id))
    val size = colIds.map(GraftColumnStore.BatchRegistry.sizeBytes).sum +
      rowIds.map(GraftRowStore.PackRegistry.sizeBytes).sum
    val resident = colIds.map(GraftColumnStore.BatchRegistry.residentBytes).sum +
      rowIds.map(GraftRowStore.PackRegistry.residentBytes).sum
    Map(
      "store.live_batches" -> (colIds.size + rowIds.size).toDouble,
      "store.delete_bitmaps" -> col.map(_.deletes.size).sum.toDouble,
      "store.update_deltas" -> col.map(_.updates.valuesIterator.map(_.valuesIterator.map(_.size).sum).sum).sum.toDouble,
      "store.resident_mb" -> resident / Tracer.MiB,
      "store.spilled_mb" -> (size - resident) / Tracer.MiB)
  }
}
