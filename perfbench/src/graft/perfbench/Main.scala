package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: runs one workload for one seed and prints, as the
  * last line of standard output, one JSON object
  * `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
  * metrics are the end-to-end ones; with `--trace 1` the per-layer ones.
  * The line before it is a report with every metric, its unit and its
  * sample count. See perfbench/README.md. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, scale: String, dir: Path, traceOut: Option[Path],
                        expected: Option[Path])

  /** `--key value` pairs. */
  def options(argv: Array[String]): Map[String, String] =
    argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap

  def parse(argv: Array[String]): Args = {
    val m = options(argv)
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m.getOrElse("cores", "4").toInt, m.getOrElse("scale", "full"), Paths.get(m("dir")),
      m.get("trace-out").map(Paths.get(_)), m.get("expected").map(Paths.get(_)))
  }

  final case class Metric(value: Double, unit: String, n: Int)

  /** End-to-end metric names, in BENCHMARK.json order. */
  val EndToEnd = Seq("run_s", "engine_cpu_s", "shuffle_write_mb", "setup_s")
  val Layers = Seq("sources", "streaming.cep", "streaming.commit", "xt", "vaep", "text", "dedup", "sim")
  val LayerMetrics = Seq("self_s" -> "s", "task_cpu_s" -> "s", "idle_core_s" -> "s",
    "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "rows_out" -> "count", "tasks" -> "count")

  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: collection.Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val p = q * (s.size - 1)
    val lo = math.floor(p).toInt
    val hi = math.ceil(p).toInt
    s(lo) + (s(hi) - s(lo)) * (p - lo)
  }

  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** CPU seconds of the JIT compiler threads and of the garbage collector
    * threads, from /proc/self/task (both kinds live as long as the JVM). */
  private def jitAndGcCpuS(): (Double, Double) = {
    var jit, gc = 0L
    Files.list(Paths.get("/proc/self/task")).forEach { t =>
      try {
        val stat = new String(Files.readAllBytes(t.resolve("stat")), "UTF-8")
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
        val ticks = f(11).toLong + f(12).toLong // utime + stime
        if (comm.startsWith("C1 Compiler") || comm.startsWith("C2 Compiler")) jit += ticks
        else if (comm.startsWith("GC Thread") || comm.startsWith("G1 ")) gc += ticks
      } catch { case _: java.io.IOException => () } // the thread has exited
    }
    (jit / 100.0, gc / 100.0)
  }

  /** Peak resident set of this process since the last reset, in MB. */
  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Restarts the peak-resident-set count, so the peak covers the measured
    * part only. */
  private def resetPeakRss(): Unit =
    try Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes) catch { case _: Exception => () }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** CPU seconds this process has spent outside JIT compilation and
    * garbage collection: the work of Spark and the program. */
  private def engineCpuS(): Double = {
    val (jit, gc) = jitAndGcCpuS()
    processCpuS() - jit - gc
  }

  /** `body`'s result, wall seconds and engine CPU seconds. */
  private def measured[A](body: => A): (A, Double, Double) = {
    val c0 = engineCpuS()
    val (a, wall) = timed(body)
    (a, wall, engineCpuS() - c0)
  }

  def session(cores: Int, dir: Path): SparkSession = {
    val tmp = dir.resolve("tmp")
    Files.createDirectories(tmp)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.codegen.maxFields", "1200")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", tmp.toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, ctx: Ctx, seconds: Double): Either[ClosedLoop, StreamIngest] = name match {
    case "match_valuation" => Left(new MatchValuation(ctx))
    case "vaep_train" => Left(new VaepTrain(ctx))
    case "corpus_curation" => Left(new CorpusCuration(ctx))
    case "stream_ingest" => Right(new StreamIngest(ctx, seconds))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The key of a run's digests in expected.json: workload, then scale and
    * core count, then seed. */
  def digestKey(scale: String, cores: Int): String = s"$scale-local$cores"

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val jvmCpuS = engineCpuS()
    val (spark, sessionS, sessionCpuS) = measured(session(a.cores, a.dir))
    val ctx = new Ctx(spark, a.dir.resolve("data"), a.seed, Scale(a.scale))
    val wl = workload(a.workload, ctx, a.seconds)
    // the seeded inputs are made three times (the last set stays) and the
    // median counts. The session is started once: a job after a restarted
    // SparkContext ran 30% slower, which a user's job does not pay.
    val reps = 3
    val prepares = (1 to reps).map { _ =>
      val (_, wall, cpu) = measured(wl.fold(_.prepare(), _.prepare()))
      (wall, cpu)
    }
    val inputs = wl.fold(_.inputs(), _.inputs())
    val tasks = new TaskListener(spark.sparkContext)
    spark.sparkContext.addSparkListener(tasks)
    val progress = new ProgressListener
    spark.streams.addListener(progress)
    val runId = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    val tracer = new Tracer(spark, enabled = false, runId)
    val recorded = a.expected.flatMap { p =>
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
        .path(a.workload).path(digestKey(a.scale, a.cores)).path(a.seed.toString)
      if (node.isTextual) Some(node.asText) else None
    }
    if (recorded.isEmpty && wl.isLeft)
      System.err.println(s"perfbench: no digest recorded for ${a.workload} ${digestKey(a.scale, a.cores)} " +
        s"seed ${a.seed}; the result is checked by its invariants only")
    val res =
      try wl.fold(closedLoop(a, _, recorded, tracer, tasks), streamLoop(a, _, tracer, tasks, progress))
      finally spark.stop()
    // set-up is gated on its engine CPU: its wall time follows the host's
    // load, which drifted by a quarter between halves of a ten-seed set
    val setup = Metric(jvmCpuS + sessionCpuS + median(prepares.map(_._2)) + res.warmupCpuS, "s", reps)
    val setupWall = Metric(jvmStartS + sessionS + median(prepares.map(_._1)) + res.warmupS, "s", reps)
    val all = res.metrics + ("setup_s" -> setup) + ("setup_wall_s" -> setupWall) +
      ("failed_frac" -> Metric(res.failed.toDouble / res.attempted, "ratio", res.attempted))
    a.traceOut.foreach { p =>
      Files.createDirectories(p.getParent)
      Files.write(p, res.traceLines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    res.errors.take(20).foreach(e => System.err.println(s"perfbench check failed: $e"))
    def fmt(ms: Seq[(String, Metric)], withN: Boolean): String = ms.map { case (k, m) =>
      s"${Json.str(k)}: {\"value\": ${m.value}, \"unit\": ${Json.str(m.unit)}" +
        (if (withN) s""", "n": ${m.n}}""" else "}")
    }.mkString("{", ", ", "}")
    println(s"""{"report": {"workload": ${Json.str(a.workload)}, "seed": ${a.seed}, "cores": ${a.cores}, """ +
      s""""scale": ${Json.str(a.scale)}, "trace": ${a.trace}, "setup_parts_s": {"jvm": $jvmStartS, """ +
      s""""session": $sessionS, "prepares": ${prepares.map(_._1).mkString("[", ", ", "]")}, "warmup": ${res.warmupS}}, """ +
      s""""inputs": ${inputs.json}, "digest_checked": ${res.digestChecked}, """ +
      s""""digests": ${res.digests.map(Json.str).mkString("[", ", ", "]")}, """ +
      s""""recorded_digest": ${recorded.map(Json.str).getOrElse("null")}, """ +
      s""""metrics": ${fmt(all.toSeq.sortBy(_._1), withN = true)}}}""")
    val gated =
      if (a.trace) res.layerMetrics
      else EndToEnd.map(k => k -> all(k))
    val correct = res.failed == 0 && res.errors.isEmpty
    println(s"""{"correct": $correct, "attempted": ${res.attempted}, "failed": ${res.failed}, """ +
      s""""metrics": ${fmt(gated, withN = false)}}""")
  }

  /** `digestChecked`: whether the result was compared with a reference
    * digest (the recorded one, or for `stream_ingest` the batch run's). */
  final case class Result(warmupS: Double, warmupCpuS: Double, attempted: Int, failed: Int, errors: Seq[String],
                          metrics: Map[String, Metric], layerMetrics: Seq[(String, Metric)],
                          traceLines: Seq[String], digests: Seq[String], digestChecked: Boolean)

  /** The per-layer metrics of `spans` (every layer, 0 where not called)
    * plus the trace totals. */
  private def layerMetrics(spans: Seq[Span], tracer: Tracer, tasks: TaskListener, cores: Int,
                           rootId: Int, extra: Seq[(String, Metric)]): Seq[(String, Metric)] = {
    val st = Trace.layerStats(spans, tracer, tasks, cores)
    val zero = LayerStats(0, 0, 0, 0, 0, 0, 0)
    val perLayer = Layers.flatMap { l =>
      val s = st.getOrElse(l, zero)
      val vals = Seq(s.selfS, s.taskCpuS, s.idleCoreS, s.shuffleMb, s.spillMb, s.rowsOut.toDouble, s.tasks.toDouble)
      LayerMetrics.zip(vals).map { case ((m, u), v) => s"$l.$m" -> Metric(v, u, 1) }
    }
    val root = spans.find(_.id == rootId).get
    perLayer ++ extra ++ Seq(
      "trace.run_s" -> Metric(root.durS, "s", 1),
      "trace.uncovered_s" -> Metric(Trace.selfTimes(spans)(rootId), "s", 1))
  }

  private def traceLines(spans: Seq[Span], tracer: Tracer, tasks: TaskListener): Seq[String] = {
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    spans.sortBy(_.startNs).map(s => Trace.json(s, t0, tasks.group(tracer.groupOf(s.id))))
  }

  final case class Sample(wallS: Double, cpuS: Double, jitS: Double, gcS: Double,
                          shuffleMb: Double, rows: Long, peakRssMb: Double, spans: Seq[Span], root: Int) {
    def engineS: Double = cpuS - jitS - gcS
  }

  /** Closed loop. The first job runs cold, as a freshly submitted Spark
    * application does, paying JIT and code generation. It alone gives the
    * end-to-end and per-layer metrics, so they always measure the same kind
    * of job, however long it takes. Warm jobs follow until `seconds` have
    * been measured; they are checked like the first and reported apart
    * (`warm_*`), not gated. */
  def closedLoop(a: Args, wl: ClosedLoop, recorded: Option[String], tracer: Tracer,
                 tasks: TaskListener): Result = {
    resetPeakRss()
    val samples = ArrayBuffer[Sample]()
    val errors = ArrayBuffer[String]()
    val digests = ArrayBuffer[String]()
    var failed = 0
    var i = 0
    while (samples.map(_.wallS).sum < a.seconds || samples.isEmpty) {
      i += 1
      tracer.enabled = a.trace && i == 1
      val before = tasks.total()
      val cpu0 = processCpuS()
      val (jit0, gc0) = jitAndGcCpuS()
      var root = -1
      val (rows, wall) = timed {
        try tracer.span(a.workload, "iteration", -1) { r => root = r; wl.iteration(tracer, r, i) }
        catch { case e: Exception => errors += s"iteration $i threw $e"; -1L }
      }
      tracer.enabled = false
      val cpu = processCpuS() - cpu0
      val (jit1, gc1) = jitAndGcCpuS()
      val shuffle = tasks.total().minus(before).shuffleBytes / Trace.Mb
      val peak = peakRssMb()
      val c = if (rows < 0) Checked("", Seq("no result")) else wl.check(i)
      val errs = c.problems ++ recorded.filter(_ != c.digest).map(r => s"digest ${c.digest} != recorded $r")
      if (errs.nonEmpty) failed += 1
      errors ++= errs.map(e => s"iteration $i: $e")
      digests += c.digest
      samples += Sample(wall, cpu, jit1 - jit0, gc1 - gc0, shuffle, rows, peak, if (i == 1) tracer.spans else Nil, root)
    }
    val cold = samples.head
    val warm = samples.tail
    val metrics = Map(
      "run_s" -> Metric(cold.wallS, "s", 1),
      "rows_per_s" -> Metric(cold.rows / cold.wallS, "1/s", 1),
      "cpu_s" -> Metric(cold.cpuS, "s", 1),
      "jit_cpu_s" -> Metric(cold.jitS, "s", 1),
      "gc_cpu_s" -> Metric(cold.gcS, "s", 1),
      "engine_cpu_s" -> Metric(cold.engineS, "s", 1),
      "shuffle_write_mb" -> Metric(cold.shuffleMb, "MB", 1),
      "peak_rss_mb" -> Metric(cold.peakRssMb, "MB", 1)) ++
      (if (warm.isEmpty) Map.empty[String, Metric]
       else Map(
         "warm_run_s" -> Metric(median(warm.map(_.wallS)), "s", warm.size),
         "warm_engine_cpu_s" -> Metric(median(warm.map(_.engineS)), "s", warm.size)))
    val (layers, lines) =
      if (!a.trace) (Nil, Nil)
      else {
        errors ++= Trace.nestingErrors(cold.spans)
        (layerMetrics(cold.spans, tracer, tasks, a.cores, cold.root, Nil), traceLines(cold.spans, tracer, tasks))
      }
    Result(0.0, 0.0, samples.size, failed, errors.toList, metrics, layers, lines, digests.toList, recorded.isDefined)
  }

  /** Open loop: a warm-up stream (counted in the set-up time), then one
    * stream over the measured files offered at a fixed rate. */
  def streamLoop(a: Args, wl: StreamIngest, tracer: Tracer, tasks: TaskListener,
                 progress: ProgressListener): Result = {
    val (warm, warmupS, warmupCpuS) = measured(wl.stream("warmup", wl.warmRange, tracer, -1))
    val errors = ArrayBuffer[String]() ++ wl.failures(warm, wl.warmRange).map(e => s"warm-up: $e")
    resetPeakRss()
    progress.clear()
    val before = tasks.total()
    val cpu0 = processCpuS()
    val (jit0, gc0) = jitAndGcCpuS()
    tracer.enabled = a.trace
    var root = -1
    val o = tracer.span(a.workload, "window", -1) { r => root = r; wl.stream("run", wl.measuredRange, tracer, r) }
    tracer.enabled = false
    val cpu = processCpuS() - cpu0
    val (jit1, gc1) = jitAndGcCpuS()
    val shuffle = tasks.total().minus(before).shuffleBytes / Trace.Mb
    val fails = wl.failures(o, wl.measuredRange)
    errors ++= fails
    val lags = wl.lags(o)
    val batches = progress.batches
    val metrics = Map(
      "run_s" -> Metric(median(lags), "s", lags.size),
      "stream_lag_p50_s" -> Metric(median(lags), "s", lags.size),
      "stream_lag_p95_s" -> Metric(quantile(lags, 0.95), "s", lags.size),
      "rows_per_s" -> Metric(o.tableRows / o.windowS, "1/s", 1),
      "cpu_s" -> Metric(cpu, "s", 1),
      "jit_cpu_s" -> Metric(jit1 - jit0, "s", 1),
      "gc_cpu_s" -> Metric(gc1 - gc0, "s", 1),
      "engine_cpu_s" -> Metric(cpu - (jit1 - jit0) - (gc1 - gc0), "s", 1),
      "shuffle_write_mb" -> Metric(shuffle, "MB", batches.size),
      "peak_rss_mb" -> Metric(peakRssMb(), "MB", 1),
      "stream_backlog_files" -> Metric(o.backlog, "count", o.offered),
      "gen_late_max_s" -> Metric(o.lateMaxS, "s", o.offered),
      "offered_files_per_s" -> Metric(wl.rate, "1/s", o.offered))
    val (layers, lines) =
      if (!a.trace) (Nil, Nil)
      else {
        val spans = tracer.spans
        errors ++= Trace.nestingErrors(spans)
        val durs = batches.map(_.durationS)
        val streaming = Seq(
          "streaming.batches" -> Metric(batches.size, "count", batches.size),
          "streaming.batch_s_p50" -> Metric(median(durs), "s", batches.size),
          "streaming.batch_s_p95" -> Metric(quantile(durs, 0.95), "s", batches.size),
          "streaming.state_rows" -> Metric(batches.map(_.stateRows).max.toDouble, "count", batches.size),
          "streaming.state_mem_mb" -> Metric(batches.map(_.stateMemBytes).max / Trace.Mb, "MB", batches.size),
          "streaming.commit.applied_frac" ->
            Metric(o.commits.count(_.applied).toDouble / o.commits.size, "ratio", o.commits.size))
        val progressLines = batches.map(b =>
          s"""{"run": ${Json.str(tracer.run)}, "batch": ${b.batchId}, "duration_s": ${b.durationS}, """ +
            s""""input_rows": ${b.inputRows}, "state_rows": ${b.stateRows}, "state_mem_mb": ${b.stateMemBytes / Trace.Mb}}""")
        (layerMetrics(spans, tracer, tasks, a.cores, root, streaming),
          traceLines(spans, tracer, tasks) ++ progressLines)
      }
    Result(warmupS, warmupCpuS, o.offered, fails.size, errors.toList, metrics, layers, lines, Nil,
      digestChecked = true)
  }
}
