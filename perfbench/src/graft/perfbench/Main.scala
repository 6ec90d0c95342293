package graft.perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark entry point.
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --selfcheck
  *
  * A run starts the session through `graft.Bench.session`, sets up its
  * inputs three times, runs one cold repetition, then warm repetitions
  * until `--seconds` have passed and the workload's least number of warm
  * repetitions is reached, and reports medians. `--trace 1` runs pairs of
  * an untraced and a traced repetition and reports the per-layer figures
  * instead. The outputs of the last repetition are checked outside every
  * timed region. The last line of standard output is one JSON object with
  * the result.
  */
object Main {
  val Workloads: Seq[String] = Seq("kg_narrow_vocab", "kg_wide_vocab", "graph_load_query", "text_dedup")

  val SetupRounds = 3

  /** Least number of warm repetitions a measured run makes: more than
    * one, so that `wall_s` is a median and not one sample, and no more
    * than the run-time budget of the whole protocol allows. `--seconds`
    * only adds repetitions past these when it is longer than they take.
    */
  val WarmReps = 2

  def make(name: String, spark: SparkSession, seed: Long, dir: String, tiny: Boolean): Workload =
    name match {
      case "kg_narrow_vocab" =>
        if (tiny) new KgWorkload(spark, seed, dir, 3000, 40, 8, 1, exact = true)
        else new KgWorkload(spark, seed, dir, 40000, 60, 8, 1, exact = true)
      case "kg_wide_vocab" =>
        if (tiny) new KgWorkload(spark, seed, dir, 3000, 300, 12, 9, exact = false)
        else new KgWorkload(spark, seed, dir, 4000, 300, 12, 9, exact = false)
      case "graph_load_query" =>
        if (tiny) new GraphWorkload(spark, seed, dir, 2000, 10000)
        else new GraphWorkload(spark, seed, dir, 2500, 12500)
      case "text_dedup" =>
        if (tiny) new DedupWorkload(spark, seed, dir, 2000, 40)
        else new DedupWorkload(spark, seed, dir, 10000, 40)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (expected one of ${Workloads.mkString(", ")})")
    }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def timed[A](f: => A): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def cpuSeconds(): Double = osBean.getProcessCpuTime / 1e9

  private val memBean = ManagementFactory.getMemoryMXBean

  /** Heap in use after a full collection, in MB: the live data, results
    * the library pinned included.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    memBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Spans and their counters reported with --trace 1; the same names for
    * every workload, 0 where a workload does not reach the layer.
    */
  val SpanMetrics: Seq[(String, Seq[String])] = Seq(
    "kg.pipeline" -> Seq("s", "jobs", "tasks", "task_cpu_s", "shuffle_mb", "spill_mb", "gc_s"),
    "kg.extract" -> Seq("s", "jobs", "task_cpu_s", "task_skew"),
    "kg.surfaces" -> Seq("s", "jobs"),
    "kg.canonicalize" -> Seq("s", "jobs", "task_cpu_s"),
    "kg.lsh" -> Seq("s", "jobs", "shuffle_mb", "task_cpu_s"),
    "kg.cc" -> Seq("s", "jobs", "shuffle_mb"),
    "kg.conv_stats" -> Seq("s", "jobs", "task_skew", "shuffle_mb"),
    "io.stage" -> Seq("s", "jobs", "task_cpu_s"),
    "bulk.node_merge" -> Seq("s", "jobs", "shuffle_mb", "task_cpu_s"),
    "bulk.edge_merge" -> Seq("s", "jobs", "shuffle_mb", "task_cpu_s"),
    "bulk.graph_load" -> Seq("s", "jobs", "shuffle_mb", "task_cpu_s", "spill_mb"),
    "bulk.merge_into" -> Seq("s", "jobs", "shuffle_mb", "task_cpu_s"),
    "ogm.first_read" -> Seq("s", "jobs", "shuffle_mb"),
    "ogm.traverse" -> Seq("s", "jobs", "shuffle_mb"),
    "ogm.traverse_reverse" -> Seq("s", "jobs"),
    "ogm.traverse_chain" -> Seq("s", "jobs"),
    "ogm.match" -> Seq("s", "jobs"),
    "functions.regexp_groups" -> Seq("s", "task_cpu_s"),
    "functions.shingle_hashes" -> Seq("s", "task_cpu_s"),
    "functions.minhash_sig" -> Seq("s", "task_cpu_s"),
    "functions.simhash64" -> Seq("s", "task_cpu_s"),
    "ops.widen" -> Seq("s", "jobs"),
    "ops.minhash_pairs" -> Seq("s", "jobs", "shuffle_mb", "task_cpu_s", "spill_mb", "task_skew"),
    "ops.simhash_pairs" -> Seq("s", "jobs", "shuffle_mb", "task_cpu_s"),
    "ops.ngram_jaccard" -> Seq("s", "jobs", "shuffle_mb", "task_cpu_s"))

  /** Spans whose throughput is reported: the workload's input rows over the
    * span's median time.
    */
  val RowsPerSecond: Seq[String] = Seq("functions.regexp_groups", "functions.shingle_hashes",
    "functions.minhash_sig", "functions.simhash64")

  val Extras: Seq[(String, String)] = Seq(
    "kg.lsh.pairs" -> "count", "kg.norms" -> "count", "io.stage.bytes" -> "bytes",
    "ops.minhash_pairs.pairs" -> "count", "ops.simhash_pairs.pairs" -> "count",
    "ops.ngram_jaccard.pairs" -> "count")

  def unitOf(counter: String): String = counter match {
    case "s" | "task_cpu_s" | "gc_s" => "s"
    case "shuffle_mb" | "spill_mb" => "MB"
    case "task_skew" => "ratio"
    case _ => "count"
  }

  final case class Metric(value: Double, unit: String)

  def json(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[(String, Metric)]): String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else d.toString
    metrics.map { case (k, m) => s""""$k": {"value": ${num(m.value)}, "unit": "${m.unit}"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""", ", ", "}}")
  }

  final case class Args(workload: String = "", seed: Long = 1, seconds: Double = 10,
                        trace: Boolean = false, selfcheck: Boolean = false)

  def parse(args: List[String], a: Args = Args()): Args = args match {
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--selfcheck" :: rest => parse(rest, a.copy(selfcheck = true))
    case Nil => a
    case other => throw new IllegalArgumentException(s"unexpected arguments: ${other.mkString(" ")}")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(a.selfcheck || a.workload.nonEmpty, "--workload <name> is required")
    val dir = sys.props.getOrElse("perfbench.work", ".bench_build/work")
    val cpus = Runtime.getRuntime.availableProcessors()
    var spark: SparkSession = null
    val sessionSeconds = timed { spark = graft.Bench.session(cpus.toString) }
    System.err.println(f"perfbench: session start $sessionSeconds%.2f s, ready " +
      f"${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.2f s after JVM start")
    try {
      if (a.selfcheck) selfcheck(spark, a.seed, dir)
      else println(measure(spark, a, dir, sessionSeconds))
    } finally spark.stop()
  }

  /** Every workload at its tiny size: set up, one repetition, every
    * output check, the re-running ones included. Exits non-zero on a
    * failed check.
    */
  def selfcheck(spark: SparkSession, seed: Long, dir: String): Unit = {
    val failures = Workloads.flatMap { name =>
      val w = make(name, spark, seed, dir, tiny = true)
      w.setup()
      w.run()
      val bad = (w.check() ++ w.checkRerun()).map(f => s"$name: $f")
      w.reset()
      System.err.println(s"selfcheck $name: ${if (bad.isEmpty) "ok" else bad.mkString("; ")}")
      bad
    }
    println(s"""{"selfcheck": ${failures.isEmpty}, "failures": ${failures.length}}""")
    if (failures.nonEmpty) sys.exit(1)
  }

  def measure(spark: SparkSession, a: Args, dir: String, sessionSeconds: Double): String = {
    val w = make(a.workload, spark, a.seed, dir, tiny = false)
    val setups = (1 to SetupRounds).map(_ => timed(w.setup()))
    var attempted = 0L
    val walls = mutable.ArrayBuffer.empty[Double]
    val cpus = mutable.ArrayBuffer.empty[Double]
    val stored = mutable.ArrayBuffer.empty[Double]
    val live = mutable.ArrayBuffer.empty[Double]

    // the previous repetition's state is released before the next one
    // starts, and its live heap is taken (after a full collection, outside
    // the timed region) while its result is still pinned, so every
    // repetition starts from a compacted heap
    def rep(): Double = {
      w.reset()
      val c0 = cpuSeconds()
      val wall = timed(w.run())
      val cpu = cpuSeconds() - c0
      attempted += w.opsPerRep
      stored += w.storedBytes().toDouble
      live += liveHeapMb()
      cpus += cpu
      wall
    }

    val cold = rep()
    stored.clear(); live.clear(); cpus.clear()
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def traced(t: Tracer): Unit = {
      w.reset()
      t.nextRep()
      w.traced(t)
      attempted += w.tracedOpsPerRep
    }
    tracer match {
      case None => while (walls.length < WarmReps || elapsed < a.seconds) walls += rep()
      // pairs of one untraced and one traced repetition, in alternating
      // order, at least two pairs: later repetitions run faster as the JIT
      // warms, so a fixed order would bias the tracing overhead
      case Some(t) =>
        while (walls.length < 2 || elapsed < a.seconds) {
          if (walls.length % 2 == 0) { walls += rep(); traced(t) } else { traced(t); walls += rep() }
        }
    }
    // read before the checks, so that the benchmark's own checking does
    // not count toward the program's peak
    val peakRss = peakRssMb()
    var failures = Seq.empty[String]
    val checkSeconds = timed { failures = w.check() }
    failures.foreach(f => System.err.println(s"check failed: $f"))
    System.err.println(f"perfbench: session $sessionSeconds%.2f setups ${setups.mkString(" ")} " +
      f"cold $cold%.2f warm ${walls.mkString(" ")} live ${live.mkString(" ")} check $checkSeconds%.2f")
    w.reset()

    val metrics: Seq[(String, Metric)] = tracer match {
      case None =>
        val wall = median(walls.toSeq)
        Seq(
          "setup_s" -> Metric(sessionSeconds + median(setups), "s"),
          "wall_s" -> Metric(wall, "s"),
          "cold_wall_s" -> Metric(cold, "s"),
          "rows_per_s" -> Metric(w.inputRows / wall, "rows/s"),
          "cpu_s" -> Metric(median(cpus.toSeq), "s"),
          "stored_bytes" -> Metric(median(stored.toSeq), "bytes"),
          "peak_rss_mb" -> Metric(peakRss, "MB"),
          "live_heap_mb" -> Metric(median(live.toSeq), "MB"))
      case Some(t) =>
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        t.close()
        val untraced = median(walls.toSeq)
        val traced = t.seconds("rep")
        val spans = SpanMetrics.flatMap { case (span, counters) =>
          val c = t.counts(span)
          counters.map { k =>
            s"$span.$k" -> Metric(if (k == "s") t.seconds(span) else c(k), unitOf(k))
          }
        }
        val rates = RowsPerSecond.map { span =>
          val s = t.seconds(span)
          s"$span.rows_per_s" -> Metric(if (s > 0) w.inputRows / s else 0.0, "rows/s")
        }
        val extras = Extras.map { case (k, u) => k -> Metric(w.extras.getOrElse(k, 0.0), u) }
        val trace = Seq(
          "trace.wall_s" -> Metric(traced, "s"),
          "trace.untraced_wall_s" -> Metric(untraced, "s"),
          "trace.overhead_s" -> Metric(traced - untraced, "s"),
          "trace.self_s" -> Metric(t.selfSeconds("rep"), "s"),
          "trace.span_share" -> Metric(w.parts.map(t.seconds).sum / traced, "ratio"),
          "trace.reps" -> Metric(t.reps.toDouble, "count"))
        spans ++ rates ++ extras ++ trace
    }
    // an operation that throws ends the run with a non-zero exit and no
    // result, so a printed result has no failed operations
    json(failures.isEmpty, attempted, 0L, metrics)
  }
}
