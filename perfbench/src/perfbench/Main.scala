package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

final case class Args(
    workload: String = "",
    seed: Long = 1L,
    seconds: Double = 10.0,
    trace: Boolean = false,
    work: String = "",
    artifacts: String = "")

object Args {
  def parse(argv: Seq[String]): Args = argv.grouped(2).foldLeft(Args()) {
    case (a, Seq("--workload", v)) => a.copy(workload = v)
    case (a, Seq("--seed", v)) => a.copy(seed = v.toLong)
    case (a, Seq("--seconds", v)) => a.copy(seconds = v.toDouble)
    case (a, Seq("--trace", v)) => a.copy(trace = v == "1")
    case (a, Seq("--work", v)) => a.copy(work = v)
    case (a, Seq("--artifacts", v)) => a.copy(artifacts = v)
    case (_, other) => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }
}

/** Runs one workload as a closed loop from one JVM and prints the result
  * object as the last line of stdout.
  *
  *   - `--trace 0`: set-up (session, inputs, the cold warm-up), then
  *     timed iterations for `--seconds`; prints the end-to-end metrics.
  *   - `--trace 1`: the same set-up, then untraced and traced iterations
  *     alternate; prints the per-layer metrics of the traced ones and the
  *     tracing overhead (traced minus untraced median wall).
  *
  * Every iteration's output is checked before the next one starts; a
  * failed or wrong iteration counts in `failed`.
  */
object Main {

  val Mb = 1e6

  /** Spark runs `local[Cores]`; the heap is fixed in run.py. */
  val Cores = 4

  /** Input generations per run; set-up counts their median. */
  val Prepares = 3

  /** Warm-up iterations: the cold first one. A run's budget has room for
    * one more iteration, which is the measured one (see README.md).
    */
  val Warmups = 1

  /** End-to-end metrics with their units, as BENCHMARK.json declares them. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "wall_p50_s" -> "s", "cpu_s" -> "s",
    "rows_per_s" -> "1/s", "stored_mb" -> "MB", "ok_share" -> "share")

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv.toSeq)
    val work = new File(a.work)
    work.mkdirs()
    val host0 = Host.sample()
    val spark = graft.Sessions.local("perfbench", Cores)
    try {
      val result = run(spark, a, work, host0)
      println(Json.render(result))
    } finally spark.stop()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime

  /** Collector and JIT seconds so far: with task CPU they explain cpu_s. */
  private def gcS(): Double =
    scala.jdk.CollectionConverters.ListHasAsScala(ManagementFactory.getGarbageCollectorMXBeans).asScala
      .map(_.getCollectionTime).sum / 1e3
  private def jitS(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  final case class Sample(i: Int, wall: Double, cpu: Double, storedParts: Map[String, Long], ok: Boolean,
      traced: Boolean, gc: Double, jit: Double, compiles: Long) {
    def stored: Long = storedParts.values.sum
  }

  def run(spark: SparkSession, a: Args, work: File, host0: Host.Snapshot): Map[String, Any] = {
    val sessionS = (System.currentTimeMillis - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val wl = Workloads(a.workload, spark, a.seed, work)
    val tracer = new Tracer(spark, wl.children, wl.selfChild)
    val log = new PrintWriter(System.err, true)
    var attempted = 0
    var failed = 0
    var next = 0

    def iteration(traced: Boolean): Sample = {
      val i = next
      next += 1
      attempted += 1
      val (c0, g0, j0, k0) = (cpuNs(), gcS(), jitS(), org.apache.spark.PerfbenchSpark.codegenCompiles)
      val t0 = System.nanoTime
      val outcome = scala.util.Try {
        if (traced) tracer.traced(i)(wl.run(i, tracer)) else wl.run(i, NoSpans)
      }
      val wall = (System.nanoTime - t0) / 1e9
      val cpu = (cpuNs() - c0) / 1e9
      val (gc, jit) = (gcS() - g0, jitS() - j0)
      val compiles = org.apache.spark.PerfbenchSpark.codegenCompiles - k0
      val problems = outcome match {
        case scala.util.Success(_) =>
          try wl.check(i) catch { case NonFatal(e) => Seq(s"check threw $e") }
        case scala.util.Failure(e) => Seq(s"iteration threw $e")
      }
      val stored = wl.storedBytes(i)
      wl.cleanup(i)
      if (problems.nonEmpty) {
        failed += 1
        problems.take(5).foreach(p => log.println(s"[perfbench] ${wl.name} iteration $i: $p"))
      }
      log.println(f"[perfbench] ${wl.name} it=$i traced=$traced wall=$wall%.3f cpu=$cpu%.3f gc=$gc%.3f jit=$jit%.3f codegen=$compiles ok=${problems.isEmpty}")
      Sample(i, wall, cpu, stored, problems.isEmpty, traced, gc, jit, compiles)
    }

    // set-up: the repeatable part (input generation) runs several times and
    // counts at its median; a batch user pays the cold iteration, so the
    // warm-up counts in full
    val prepareS = (1 to Prepares).map { _ =>
      val t0 = System.nanoTime; wl.prepare(); (System.nanoTime - t0) / 1e9
    }
    val w0 = System.nanoTime
    val warm = mutable.ArrayBuffer.empty[Sample]
    while (warm.size < Warmups) warm += iteration(false)
    val warmS = (System.nanoTime - w0) / 1e9
    val setupS = sessionS + median(prepareS) + warmS

    val m0 = System.nanoTime
    val timed = mutable.ArrayBuffer.empty[Sample]
    def elapsed = (System.nanoTime - m0) / 1e9
    // closed loop: start another iteration only while it is expected to end
    // within the measuring time. The traced run alternates untraced and
    // traced iterations, at least untraced-traced-untraced, so the overhead
    // compares a traced iteration with the mean of its neighbours and the
    // JVM's still-falling warm-up drift cancels.
    var last = 0.0
    while (timed.size < (if (a.trace) 3 else 1) || elapsed + last <= a.seconds) {
      val t0 = System.nanoTime
      timed += iteration(a.trace && timed.size % 2 == 1)
      last = (System.nanoTime - t0) / 1e9
    }
    val host1 = Host.sample()

    val plain = timed.filterNot(_.traced).toSeq
    val walls = plain.map(_.wall)
    val p50 = median(walls)
    val values = Map(
      "setup_s" -> setupS,
      "wall_p50_s" -> p50,
      "cpu_s" -> median(plain.map(_.cpu)),
      "rows_per_s" -> wl.rows / p50,
      "stored_mb" -> median(plain.map(_.stored.toDouble)) / Mb,
      "ok_share" -> (attempted - failed).toDouble / attempted)
    val e2e = EndToEnd.map { case (name, unit) => name -> ((values(name), unit)) }
    val layers = if (a.trace) perLayer(wl, tracer, timed.toSeq) else Nil

    val artifact = Map(
      "workload" -> wl.name, "seed" -> a.seed, "trace" -> a.trace,
      "input_rows" -> wl.rows, "source_bytes" -> wl.sourceBytes,
      "setup" -> Map("session_s" -> sessionS, "prepare_s" -> prepareS, "warmup_s" -> warmS,
        "warmup_walls_s" -> warm.map(_.wall)),
      "samples" -> timed.map(s => Map("wall_s" -> s.wall, "cpu_s" -> s.cpu, "gc_s" -> s.gc, "jit_s" -> s.jit,
        "codegen_compiles" -> s.compiles, "stored_bytes" -> s.storedParts, "ok" -> s.ok, "traced" -> s.traced)),
      "wall" -> Percentiles(walls),
      "fail_share" -> failed.toDouble / attempted,
      "host" -> Host.between(host0, host1),
      "end_to_end" -> e2e.toMap.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> layers.toMap.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    if (a.artifacts.nonEmpty) {
      val dir = new File(a.artifacts)
      dir.mkdirs()
      val tag = s"${wl.name}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
      val out = new PrintWriter(new File(dir, s"$tag.json"))
      try out.println(Json.render(artifact)) finally out.close()
      if (a.trace) {
        val tr = new PrintWriter(new File(dir, s"$tag.spans.jsonl"))
        try {
          tracer.spans.foreach(s => tr.println(Json.render(Map("kind" -> "span", "name" -> s.name,
            "parent" -> s.parent.orNull, "iter" -> s.iter, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
            "wall_s" -> s.wallNs / 1e9))))
          // child spans cover their jobs' share of the parent's interval
          // (Tracer.metrics), not one contiguous stretch: first job start to
          // last job end, with the attributed wall
          for (s <- timed.filter(_.traced); m = tracer.metrics(s.i);
               (parent, kids) <- wl.children.toSeq.map { case (p, k) => p -> (k ++ wl.selfChild.get(p)) };
               kid <- kids) {
            val js = tracer.jobs.filter(j => j.iter == s.i && j.span == kid)
            if (js.nonEmpty) tr.println(Json.render(Map("kind" -> "span", "name" -> kid, "parent" -> parent,
              "iter" -> s.i, "start_ms" -> js.map(_.start).min, "end_ms" -> js.map(_.end).max,
              "wall_s" -> m(kid)("wall_s"))))
          }
          tracer.jobs.foreach(j => tr.println(Json.render(Map("kind" -> "job", "job" -> j.id, "iter" -> j.iter,
            "bench_span" -> j.benchSpan, "span" -> j.span, "method" -> j.method, "start_ms" -> j.start,
            "end_ms" -> j.end, "tasks" -> j.tasks, "task_cpu_s" -> j.cpuNs / 1e9,
            "shuffle_bytes" -> j.shuffleBytes, "input_bytes" -> j.inputBytes, "output_bytes" -> j.outputBytes))))
        } finally tr.close()
      }
    }
    log.println(s"[perfbench] ${Json.render(artifact - "samples")}")

    val metrics = if (a.trace) layers else e2e
    Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.toMap.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
  }

  /** Every per-layer metric the benchmark declares: this workload's spans
    * and workload figures measured, other workloads' reported as 0.
    */
  def perLayer(wl: Workload, tracer: Tracer, timed: Seq[Sample]): Seq[(String, (Double, String))] = {
    val traced = timed.filter(_.traced)
    val perIter = traced.map(s => tracer.metrics(s.i))
    val mine = Layout.spanMetrics.collect { case (span, m, unit) if wl.spanNames.contains(span) =>
      s"$span.$m" -> ((median(perIter.map(_.get(span).flatMap(_.get(m)).getOrElse(0.0))), unit))
    }
    // traced wall minus its untraced neighbours'. Iteration time still falls
    // after the one warm-up, and that drift can exceed the tracing cost, so
    // a negative difference reads as 0 (the artifact keeps every wall)
    val overhead = (median(traced.map(_.wall)) - median(timed.filterNot(_.traced).map(_.wall))).max(0.0)
    val whole = Seq(
      s"${wl.name}.read_amplification" -> ((median(traced.map(s => tracer.inputBytes(s.i).toDouble)) / wl.sourceBytes, "ratio")),
      s"${wl.name}.core_busy" -> ((median(traced.map(s => tracer.runMs(s.i) / 1e3 / (s.wall * Cores))), "ratio")),
      s"${wl.name}.heap_peak_mb" -> ((tracer.heapPeakBytes / Mb, "MB")),
      s"${wl.name}.codegen_compiles" -> ((median(traced.map(_.compiles.toDouble)), "count")),
      s"${wl.name}.trace_overhead_s" -> ((overhead, "s")))
    val measured = (mine ++ whole).toMap
    Layout.all.map { case (name, unit) => name -> measured.getOrElse(name, (0.0, unit)) }
  }
}

/** The per-layer metric names the benchmark declares, in order. */
object Layout {
  val Workloads = Seq("etl_report", "curate_search")
  val Roots = Set("EtlJob.run", "Curate.run")
  val SpanMetrics = Seq("wall_s" -> "s", "self_s" -> "s", "task_cpu_s" -> "s", "jobs" -> "count",
    "tasks" -> "count", "shuffle_mb" -> "MB", "spill_mb" -> "MB", "input_mb" -> "MB",
    "output_mb" -> "MB", "driver_s" -> "s")
  val Spans = Seq("EtlJob.run", "DqRunner.run", "EtlJob.stage", "EtlJob.write", "DqRunner.writeReport",
    "Readers.parquet", "Kpi.enrich", "Kpi.headline", "Kpi.dateBounds",
    "Curate.run", "Dedup.components", "TextStats.writeBm25Index", "Ivf.writeIndex",
    "Similarity.hybridTopKIndexed")
  /** Metrics that read zero on every workload: nothing spills at these
    * sizes, read-only spans write nothing, and parquet footer reads move no
    * task bytes.
    */
  val Dropped: Set[String] = Spans.map(s => s"$s.spill_mb").toSet ++
    Seq("DqRunner.run", "Readers.parquet", "Kpi.enrich", "Kpi.headline", "Kpi.dateBounds", "Curate.run",
      "Dedup.components", "Similarity.hybridTopKIndexed").map(s => s"$s.output_mb") ++
    Seq("Readers.parquet.input_mb", "Readers.parquet.shuffle_mb")

  def spanMetrics: Seq[(String, String, String)] =
    for {
      s <- Spans
      (m, u) <- SpanMetrics
      if m != "self_s" || Roots(s)
      if !Dropped(s"$s.$m")
    } yield (s, m, u)

  def all: Seq[(String, String)] =
    spanMetrics.map { case (s, m, u) => s"$s.$m" -> u } ++
      Workloads.flatMap(w => Seq(s"$w.read_amplification" -> "ratio", s"$w.core_busy" -> "ratio",
        s"$w.heap_peak_mb" -> "MB", s"$w.codegen_compiles" -> "count", s"$w.trace_overhead_s" -> "s"))
}

/** Timing percentiles: the median and the highest percentile that still
  * has at least ten samples beyond it.
  */
object Percentiles {
  def apply(xs: Seq[Double]): Map[String, Any] = {
    val s = xs.sorted
    def at(p: Double) = s(((p * s.size).ceil.toInt - 1).max(0).min(s.size - 1))
    val tail = Seq(0.99, 0.95, 0.9, 0.75).find(p => s.size * (1 - p) >= 10)
    Map("n" -> s.size, "p50_s" -> (if (s.isEmpty) Double.NaN else at(0.5))) ++
      tail.map(p => s"p${(p * 100).round}_s" -> at(p))
  }
}

/** Host noise: CPU steal share, load and cores over the run. */
object Host {
  final case class Snapshot(steal: Long, total: Long, load1: Double)

  def sample(): Snapshot = {
    def read(f: String) = scala.util.Try(scala.io.Source.fromFile(f)).map { s => try s.mkString finally s.close() }
    val cpu = read("/proc/stat").toOption.flatMap(_.linesIterator.find(_.startsWith("cpu ")))
      .map(_.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty[Long])
    val load = read("/proc/loadavg").toOption.flatMap(_.split(" ").headOption).map(_.toDouble).getOrElse(-1.0)
    Snapshot(if (cpu.length > 7) cpu(7) else 0L, cpu.take(8).sum, load)
  }

  def between(a: Snapshot, b: Snapshot): Map[String, Any] = Map(
    "steal_share" -> (if (b.total > a.total) (b.steal - a.steal).toDouble / (b.total - a.total) else 0.0),
    "load1_start" -> a.load1, "load1_end" -> b.load1,
    "cores" -> Runtime.getRuntime.availableProcessors)
}

/** Minimal JSON rendering for the result line and the artifacts. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}
