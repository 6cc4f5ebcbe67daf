package graft
import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
object Bench {
  /** Forces FULL evaluation of every output row via the no-op sink.
    * `count()` is NOT a valid evaluation driver for a benchmark that is
    * paired against DuckDB's `fetchall`: Catalyst prunes projections that
    * count() doesn't need, so a map-only query (a wide projection, a
    * scoring pass) collapses to a parquet-metadata row count and times
    * the scheduler, not the work (measured at sf0.1: text_profile 0.12 s
    * under count() vs 0.97 s fully evaluated). The noop sink evaluates
    * every expression and discards rows executor-side — the honest
    * analogue of the oracle side's fetchall.
    */
  private[graft] def evaluate(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Local property naming the query (and timed pass) a job runs for. It
    * is set before the query's DataFrame is built, so the jobs some
    * entries run at construction time are counted too; broadcast and
    * subquery threads inherit it from the submitting thread.
    */
  private[graft] val QueryTag = "graft.bench.query"

  /** Jobs started, stages completed and tasks ended under one tag. */
  private[graft] final case class Census(jobs: Int, stages: Int, tasks: Long)

  /** Classes Spark compiled and the seconds Janino spent compiling them.
    * Both counters are JVM-wide, so a query's share is the delta across
    * its run; the bench runs one query at a time.
    */
  private[graft] final case class Compiles(classes: Long, seconds: Double) {
    def -(o: Compiles): Compiles = Compiles(classes - o.classes, seconds - o.seconds)
  }
  private[graft] object Compiles {
    def now(): Compiles = Compiles(CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime / 1e9)
  }

  /** One query in one timed pass: seconds (-1 on failure), why it failed,
    * its census and what it compiled.
    */
  private[graft] final case class Run(sec: Double, failure: Option[String], census: Census,
      compiles: Compiles)

  /** Every timed pass, plus all stages completed while they ran (tagged
    * or not) — the compact line's structural `stages` census.
    */
  private[graft] final case class Timed(passes: Seq[Map[String, Run]], stages: Int) {
    /** Per query, the run whose time is kept: the fastest pass, or a
      * failing one — a failure must never be hidden by a good pass.
      */
    def kept: Map[String, Run] =
      passes.head.keys.map(q => q -> passes.map(_(q)).minBy(_.sec)).toMap
  }

  /** Counts jobs, stages and tasks per [[QueryTag]] value. A stage takes
    * the tag of the job that submitted it; tasks take their stage's.
    */
  private final class CensusListener extends SparkListener {
    // all state is touched under the listener's lock: the bus thread
    // writes it, the bench thread reads it after settle()
    private val counts = mutable.Map.empty[String, Array[Long]]
    private val stageTags = mutable.Map.empty[Int, String]
    private var events = 0L
    private var stagesDone = 0
    private def count(tag: Option[String], i: Int): Unit = {
      events += 1
      tag.foreach(counts.getOrElseUpdate(_, new Array[Long](3))(i) += 1)
    }
    private def tagOf(p: java.util.Properties): Option[String] =
      Option(p).flatMap(p => Option(p.getProperty(QueryTag)))
    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized(count(tagOf(e.properties), 0))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized(tagOf(e.properties).foreach(stageTags(e.stageInfo.stageId) = _))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stagesDone += 1
      count(stageTags.get(e.stageInfo.stageId), 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      synchronized(count(stageTags.get(e.stageId), 2))
    def apply(tag: String): Census = synchronized {
      val c = counts.getOrElse(tag, new Array[Long](3))
      Census(c(0).toInt, c(1).toInt, c(2))
    }
    def stages: Int = synchronized(stagesDone)
    /** The listener bus is async: poll until the event count goes quiet,
      * so the last query's tail events are in before anything is read.
      */
    def settle(): Unit = {
      var prev = -1L
      var cur = synchronized(events)
      while (cur != prev) {
        Thread.sleep(150)
        prev = cur
        cur = synchronized(events)
      }
    }
  }

  /** Why a query failed: the exception class and its message's first line
    * (Bench's `failures` and Verify's `failures.json`).
    */
  private[graft] def reason(e: Throwable): String =
    e.getClass.getName + ": " +
      Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")

  /** `s` as a JSON string literal: quote, backslash and every control
    * char escaped, so builder-authored SQL with a tab or CR still parses.
    */
  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  } + "\""

  /** `passes` timed passes over `queries` in the given order, each
    * followed by `clearCache`, under a census listener that is removed
    * before returning. A failing query reports -1 plus its reason, never a
    * fast timing. The listener drain runs once, after the last pass,
    * outside every query's timing.
    */
  private[graft] def timed(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      passes: Int): Timed = {
    val sc = spark.sparkContext
    val census = new CensusListener
    sc.addSparkListener(census)
    try {
      val ran = (1 to passes).map { pass =>
        val r = queries.map { case (name, fn) =>
          sc.setLocalProperty(QueryTag, s"$pass/$name")
          val c0 = Compiles.now()
          val t0 = System.nanoTime()
          val failure =
            try { evaluate(fn(spark, sfDir)); None }
            catch { case e: Throwable => Some(reason(e)) }
          val sec = (System.nanoTime() - t0) / 1e9
          val compiled = Compiles.now() - c0
          sc.setLocalProperty(QueryTag, null)
          name -> (if (failure.isEmpty) sec else -1.0, failure, compiled)
        }
        spark.catalog.clearCache()
        pass -> r
      }
      census.settle()
      Timed(ran.map { case (pass, r) =>
        r.map { case (name, (sec, failure, compiled)) =>
          name -> Run(sec, failure, census(s"$pass/$name"), compiled)
        }.toMap
      }, census.stages)
    } finally sc.removeSparkListener(census)
  }

  private def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** `BENCH_FULL.json`'s `census`: per query, the kept run's jobs, stages,
    * tasks, compiled classes and compile seconds.
    */
  private[graft] def censusJson(kept: Map[String, Run]): String =
    kept.toSeq.sortBy(_._1).map { case (k, r) =>
      s"\"$k\":{\"jobs\":${r.census.jobs},\"stages\":${r.census.stages},\"tasks\":${r.census.tasks}," +
        s"\"compiles\":${r.compiles.classes},\"compile_s\":${f(r.compiles.seconds)}}"
    }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create(_
      // sf0.1 inputs are sub-100MB: most shuffles carry a few MB, so let
      // AQE coalesce them down to size (1-2 partitions) instead of
      // preserving parallelism — fewer tasks per stage is the main lever
      // against Spark's fixed per-task submission floor on tiny queries.
      // At cluster scale the same configs are harmless: 100TB shuffles
      // blow straight past the advisory size and keep full parallelism.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      // local mode has no data locality to wait for; the 3s default can
      // stall tiny stages behind a phantom locality preference
      .config("spark.locality.wait", "0ms"))
    // the FIXED-INPUT queries (SparkEntry.Query's `fixedInput` flag) read
    // the reference 514-game sample, not the sf dir — excluded so bench
    // numbers reflect sf scaling only, and published in the bench JSON for
    // tools/bench_oracle.py. Sorted-name execution order: deterministic
    // run-to-run (a Map's hash order is not), and it fixes WHICH query pays
    // any shared-subtree build cost (the dedup family persists one
    // hash-array/pair subtree; in sorted order dedup_clusters, the
    // family's first, builds it).
    // SPARK_GRAFT_ONLY=a,b,c restricts the run to a named subset (the
    // scale harness times just the heavy tail; one name is the
    // single-query dev loop); unset = the full board
    val (fixedInput, sfScaled) = SparkEntry.queries.partition(_._2.fixedInput)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val benched = sfScaled
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .toSeq.sortBy(_._1)
    // one untimed pass first: JVM/codegen/JIT, shuffle system, parquet
    // footers and OS page cache all warm, so the timed pass measures
    // steady-state query cost rather than whichever query runs first. The
    // generated-class cache holds the whole board's classes (see
    // GraftSession.CodegenCache), so the timed passes compile next to
    // nothing; the census's compiles/compile_s show what they did compile
    benched.foreach { case (_, fn) =>
      try evaluate(fn(spark, sfDir)) catch { case _: Throwable => }
    }
    // drop warm-pass persisted intermediates: the timed pass should pay
    // each query's real cost, not fight the leftovers for executor memory
    spark.catalog.clearCache()
    // two timed passes, best-of per query: the host environment shows
    // intermittent multi-second contention spikes; min-of-N is the standard
    // way to measure the query rather than the noise. The stage census of
    // the timed region (VERDICT r15 #8) is published so host/session drift
    // is diagnosable from the artifact alone — the stage count is
    // structural (same plans → same count), so seconds-per-stage separates
    // "the host was slow" from "a query grew stages"; the per-query census
    // feeds tools/floor_model.py.
    val run = timed(spark, sfDir, benched, passes = 2)
    val kept = run.kept
    val results = kept.map { case (k, r) => k -> r.sec }
    // fixed-input queries (they read the reference sample, not the sf dir)
    // timed once, reported on their own line and excluded from the
    // sf-scaled total so round-over-round totals stay comparable
    val fixed = fixedInput.map { case (name, fn) =>
      val t0 = System.nanoTime()
      // a failure must NOT masquerade as a fast timing: report -1
      val ok = try { evaluate(fn(spark, sfDir)); true } catch { case _: Throwable => false }
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }
    // The driver snapshots only the LAST ~2 KB of stdout; the full
    // per-query map no longer fits that window (118 sf-scaled queries ≈
    // 3 KB — round 6's snapshot already lost the line head, including the
    // total). Print order puts the expendable detail FIRST and a compact,
    // SELF-CONTAINED line LAST: the full map (head may be eaten — it is
    // also written whole to BENCH_FULL.json), the fixed-input line, then
    // a ≤1.5 KB line carrying the total, every failure, the slowest 30
    // queries, and an aggregate of the remaining floor queries.
    def fq(v: Double): String =
      if (v >= 0.01) "%.2f".formatLocal(java.util.Locale.ROOT, v) else f(v)
    val qs = results.toSeq.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + fq(v) }
      .mkString("{", ",", "}")
    // census and failure reasons come from the pass whose time is kept
    val census = censusJson(kept)
    val failuresJson = kept.toSeq.sortBy(_._1)
      .flatMap { case (k, r) => r.failure.map(why => s"\"$k\":" + jstr(why)) }
      .mkString("{", ",", "}")
    // the total sums SURVIVING queries only: a -1 failure sentinel must
    // not subtract from the total and make a failing round read faster
    val total = results.values.filter(_ >= 0).sum
    val sfLabel = new java.io.File(sfDir).getName
    val cpus = spark.sparkContext.defaultParallelism
    // fixed_input published so downstream tools (bench_oracle.py) read the
    // canonical set from the bench artifact instead of hardcoding a copy
    val fixedJson = fixedInput.keys.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullLine =
      s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,"census":$census,"failures":$failuresJson,"fixed_input":$fixedJson,"sf":"$sfLabel","cpus":$cpus,"passes":2,"eval":"noop"}"""
    // the full line goes to the file ONLY (stderr as the read-only-cwd
    // fallback): the driver parses the LAST stdout line as the bench JSON,
    // and a second {"metric":"total"...} line above it is exactly what
    // broke the parse in r01-r15 (VERDICT r15 #1) — stdout carries ONE
    // JSON line, printed last below
    val fullOut = sys.env.getOrElse("SPARK_GRAFT_FULL_OUT", "BENCH_FULL.json")
    val fullWritten =
      try {
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(fullOut), fullLine + "\n")
        true
      } catch {
        case _: Throwable => Console.err.println(fullLine); false
      }
    println(fixed.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${f(v)}s" }
      .mkString("fixed-input (untimed in total): ", " ", ""))
    // failures are capped at 10 named entries + a count so a mass-failure
    // round (testdata missing, session-wide regression) cannot push THIS
    // line past the snapshot window either — the one scenario where the
    // compact line matters most; sorted for run-to-run determinism
    val (failed, ok) = results.partition(_._2 < 0)
    val top = ok.toSeq.sortBy(-_._2).take(30)
    val floor = ok.toSeq.sortBy(-_._2).drop(30)
    val topJson = (failed.toSeq.sortBy(_._1).take(10)
        .map { case (k, _) => s"\"" + k + "\":-1.000" } ++
      top.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + fq(v) })
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${f(total)},"unit":"sec","n_failed":${failed.size},"queries":$topJson,"floor_queries":{"n":${floor.size},"sum":${f(floor.map(_._2).sum)}},"stages":${run.stages},"sf":"$sfLabel","cpus":$cpus,"passes":2,"eval":"noop","full":${if (fullWritten) "\"" + fullOut + "\"" else "null"}}""")
    spark.stop()
  }
}
