package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One timed op of a pass: a query, a month batch or the dashboard step. */
final case class Op(name: String, seconds: Double, failure: Option[String])

/** The ops of one timed pass, and whether it was traced. */
final case class PassResult(index: Int, traced: Boolean, ops: Seq[Op]) {
  def wall: Double = ops.map(_.seconds).sum
}

/** A metric value with its unit. */
final case class Metric(value: Double, unit: String)

/** What a workload contributes to the harness in [[Main]]. */
trait Workload {
  /** Writes the workload's inputs (the data copy, or the generated bronze
    * months) once, before the timed set-ups: harness work, not the program's.
    */
  def inputs(): Unit
  /** One untimed pass that warms the JVM and checks outputs. */
  def warm(spark: SparkSession, tracer: Tracer): Unit
  /** One timed pass. */
  def pass(spark: SparkSession, tracer: Tracer, index: Int): Seq[Op]
  /** Per-layer metrics of this workload over the traced passes. */
  def layerMetrics(traced: Seq[PassResult], spans: Seq[Span], attr: Attribution,
                   cpus: Int): Map[String, Metric]
  /** Adds metadata (data dir, fingerprints, sizes) to the result's `meta`. */
  def meta(o: ObjectNode): Unit
}

/** The benchmark's JVM side. Writes the workload's inputs, then times the
  * program's set-up (`GraftSession.create`) several times, warms the workload,
  * then runs `--passes` passes back to back, closed loop
  * with one client, and writes every metric with its unit to `--result`.
  * With `--trace 1` every second pass is traced: spans around each call
  * into a layer plus a listener that attributes Spark's job, stage and task
  * metrics to them; the untraced passes around them give the tracing
  * overhead. `--make-scaled <dir>` only writes the board's ScaleData copies.
  */
object Main {
  val HarnessVersion = "perfbench-1"

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workloadName = opt("workload")
    val work = Paths.get(opt("work")).toAbsolutePath
    val config = Json.read(Paths.get(opt("config")))
    val wcfg = Option(config.get("profiles").get(opt("profile")).get(workloadName))
      .getOrElse(sys.error(s"unknown workload '$workloadName'"))
    if (opts.contains("make-scaled")) {
      val spark = session(work)
      try QueryWorkload.buildScaled(spark, wcfg, Paths.get(opt("make-scaled")))
      finally spark.stop()
      return
    }
    val seed = opt("seed").toLong
    val trace = opt("trace") == "1"
    val setupReps = config.get("setup_reps").asInt
    val families = Json.fields(config.get("families")).map { case (f, node) =>
      f -> Json.strings(node.get("prefixes"))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val loadStart = loadavg()

    val workload: Workload = workloadName match {
      case "chess_pipeline" => new ChessWorkload(wcfg, seed, work)
      case "query_board" =>
        new QueryWorkload(wcfg, work, families,
          opts.get("expected").map(Paths.get(_)), opts.get("scaled").map(Paths.get(_)))
      case other => sys.error(s"unknown workload '$other'")
    }

    // the program's set-up, several times, each a fresh session after the
    // previous one stopped; the last one is kept. The first is cold (class
    // loading), the others are what the JVM's later sessions pay
    workload.inputs()
    var spark: SparkSession = null
    val setupTimes = (1 to setupReps).map { _ =>
      if (spark != null) spark.stop()
      time { spark = session(work) }
    }
    val tracer = new Tracer
    val warmS = time {
      workload.warm(spark, tracer)
      spark.catalog.clearCache()
    }
    for (out <- opts.get("write-expected")) workload match {
      case q: QueryWorkload => q.writeActual(Paths.get(out))
      case _ => ()
    }

    val probe = new Probe
    val passes = mutable.ArrayBuffer[PassResult]()
    // run.py plans the passes (the same work in every run). A workload whose
    // first pass is meant to run cold (`cold_first_pass`) never traces that
    // pass and leaves it out of the tracing-overhead comparison. Among the
    // passes that comparison uses, untraced and traced alternate, untraced
    // first and last, so a traced pass is bracketed by untraced ones.
    val offset = if (wcfg.path("cold_first_pass").asBoolean(false)) 1 else 0
    val count = opt("passes").toInt
    val t0 = System.nanoTime()
    for (i <- 0 until count) {
      val traced = trace && i >= offset && (i - offset) % 2 == 1
      tracer.recording = traced
      tracer.pass = i
      if (traced) probe.attach(spark.sparkContext)
      val ops = workload.pass(spark, tracer, i)
      if (traced) probe.detach(spark.sparkContext)
      tracer.recording = false
      spark.catalog.clearCache()
      passes += PassResult(i, traced, ops)
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    val paired = passes.toSeq.drop(offset)

    val untraced = passes.filterNot(_.traced).toSeq
    val tracedPasses = passes.filter(_.traced).toSeq
    val allOps = passes.flatMap(_.ops)
    val failed = allOps.filter(_.failure.isDefined)
    val okLatencies = untraced.flatMap(_.ops).filter(_.failure.isEmpty).map(_.seconds)
    // the typical op: the geometric mean over distinct ops of each op's
    // median over the passes. The ops are a fixed, heterogeneous mix, so a
    // pooled median jumps between clusters of similar ops from run to run
    // (measured spread 0.21-0.24 of the median); the geometric mean moves
    // with every op
    val opLatency = untraced.flatMap(_.ops).filter(_.failure.isEmpty)
      .groupBy(_.name).values.map(os => Stats.median(os.map(_.seconds))).toSeq

    val metrics = mutable.LinkedHashMap[String, Metric](
      "setup_s" -> Metric(Stats.median(setupTimes), "s"),
      "wall_s" -> Metric(Stats.median(untraced.map(_.wall)), "s"),
      "op_geomean_s" -> Metric(Stats.geomean(opLatency), "s"),
      "peak_rss_mb" -> Metric(peakRssMb(), "MB"))
    if (trace) {
      val spans = tracer.spans.toSeq
      val attr = new Attribution(spans, probe)
      metrics ++= Layers.common(tracedPasses, spans, attr, cpus)
      metrics ++= workload.layerMetrics(tracedPasses, spans, attr, cpus)
      metrics("ops.failed_frac") = Metric(failed.size.toDouble / math.max(1, allOps.size), "frac")
      metrics("trace.overhead_s") = Metric(Stats.median(tracedPasses.map(_.wall)) -
        Stats.median(paired.filterNot(_.traced).map(_.wall)), "s")
      metrics("bench.warm_s") = Metric(warmS, "s")
      Files.write(work.resolve(s"spans-$workloadName-$seed.json"), tracer.toJson.getBytes(UTF_8))
    }

    val reasons = failed.groupBy(o => (o.name, o.failure.get)).toSeq
      .sortBy(_._1).map { case ((n, r), os) => s"$n (${os.size}x): $r" }
    val meta = Json.obj()
      .put("harness", HarnessVersion)
      .put("workload", workloadName)
      .put("seed", seed)
      .put("trace", trace)
      .put("nproc", Runtime.getRuntime.availableProcessors)
      .put("spark_graft_cpus", cpus)
      .put("driver_heap_mb", Runtime.getRuntime.maxMemory / (1 << 20))
      .put("spark_version", spark.version)
      .put("setup_reps", setupReps)
      .put("passes", passes.size)
      .put("op_samples", okLatencies.size)
      .put("loadavg_start", loadStart)
      .put("loadavg_end", loadavg())
    val setupRuns = meta.putArray("setup_runs_s")
    setupTimes.foreach(t => setupRuns.add(t))
    val passWalls = meta.putArray("pass_walls_s")
    passes.foreach(p => passWalls.add(p.wall))
    Json.putNum(meta, "timed_region_s", timedS)
    workload.meta(meta)
    val result = Json.obj()
      .put("correct", failed.isEmpty)
      .put("attempted", allOps.size)
      .put("failed", failed.size)
    val metricsOut = result.putObject("metrics")
    for ((k, m) <- metrics) Json.putNum(metricsOut.putObject(k), "value", m.value).put("unit", m.unit)
    val failures = result.putArray("failures")
    reasons.foreach(r => failures.add(r))
    result.set[ObjectNode]("meta", meta)
    Files.write(Paths.get(opt("result")), (Json.write(result) + "\n").getBytes(UTF_8))
    spark.stop()
  }

  /** The canonical session plus the tuning `graft.Bench` layers on it, with
    * every on-disk location inside the work directory.
    */
  def session(work: Path): SparkSession = graft.GraftSession.create(_
    .appName("perfbench")
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
    .config("spark.locality.wait", "0ms")
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .config("spark.local.dir", work.resolve("spark-local").toString))

  def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def reason(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")}".take(300)

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).trim
    catch { case _: Exception => "unknown" }

  /** The JVM's peak resident set (VmHWM), driver and local executors alike. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Deletes `dir` if present and creates it empty. */
  def fresh(dir: Path): Path = {
    if (Files.exists(dir)) {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally walk.close()
    }
    Files.createDirectories(dir)
  }

  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally walk.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Geometric mean of positive values; 0 for an empty sample. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Per-layer metrics every workload reports from its traced passes: the
  * Spark runtime under the benchmark's calls, per traced pass (median).
  */
object Layers {
  def perPass(traced: Seq[PassResult], f: PassResult => Double): Double =
    Stats.median(traced.map(f))

  def opSpans(spans: Seq[Span], pass: Int): Seq[Span] =
    spans.filter(s => s.pass == pass && s.parent < 0)

  def common(traced: Seq[PassResult], spans: Seq[Span], attr: Attribution,
             cpus: Int): Map[String, Metric] = {
    def stagesOf(p: PassResult) = attr.stagesUnder(opSpans(spans, p.index))
    def idle(p: PassResult): Double = opSpans(spans, p.index).map { op =>
      op.seconds - Attribution.busyMs(attr.stagesUnder(Seq(op)), op.startMs, op.endMs) / 1e3
    }.sum
    Map(
      "spark.stages" -> Metric(perPass(traced, stagesOf(_).size.toDouble), "count"),
      "spark.jobs" -> Metric(perPass(traced, p => attr.jobsUnder(opSpans(spans, p.index)).toDouble), "count"),
      "spark.tasks" -> Metric(perPass(traced, stagesOf(_).map(_.tasks).sum.toDouble), "count"),
      "spark.idle_s" -> Metric(perPass(traced, idle), "s"),
      "spark.executor_cpu_s" -> Metric(perPass(traced, stagesOf(_).map(_.cpuNs).sum / 1e9), "s"),
      "spark.executor_run_s" -> Metric(perPass(traced, stagesOf(_).map(_.runMs).sum / 1e3), "s"),
      "spark.gc_s" -> Metric(perPass(traced, stagesOf(_).map(_.gcMs).sum / 1e3), "s"),
      "spark.shuffle_read_bytes" -> Metric(perPass(traced, stagesOf(_).map(_.shuffleRead).sum.toDouble), "bytes"),
      "spark.shuffle_write_bytes" -> Metric(perPass(traced, stagesOf(_).map(_.shuffleWrite).sum.toDouble), "bytes"),
      "spark.spill_bytes" -> Metric(perPass(traced, stagesOf(_).map(_.spillBytes).sum.toDouble), "bytes"),
      "spark.peak_task_mem_mb" -> Metric(perPass(traced,
        stagesOf(_).map(_.peakTaskMem).maxOption.getOrElse(0L) / 1048576.0), "MB"),
      "spark.busy_frac" -> Metric(perPass(traced, p =>
        stagesOf(p).map(_.runMs).sum / 1e3 / math.max(1e-9, p.wall * cpus)), "frac"),
      "ops.p90_s" -> Metric(Stats.quantile(
        traced.flatMap(_.ops).filter(_.failure.isEmpty).map(_.seconds), 0.9), "s"))
  }
}
