package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One completed stage, as Spark's listener bus reports it. Times are epoch
  * milliseconds; metrics are the stage's task totals, except `peakTaskMem`,
  * the largest peak execution (operator) memory of any one of its tasks.
  */
final case class StageRec(submitMs: Long, endMs: Long, tasks: Int, runMs: Long,
                          cpuNs: Long, gcMs: Long, shuffleRead: Long,
                          shuffleWrite: Long, spillBytes: Long, peakTaskMem: Long)

/** Job and stage completions, collected while registered on a context. */
final class Probe extends SparkListener {
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  private val events = new AtomicLong()
  private val openStages = new AtomicLong()
  private val peakTaskMem = new java.util.concurrent.ConcurrentHashMap[(Int, Int), java.lang.Long]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
    peakTaskMem.merge((e.stageId, e.stageAttemptId), e.taskMetrics.peakExecutionMemory,
      (a, b) => math.max(a, b))
    ()
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStarts.add(e.time); events.incrementAndGet(); ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = { events.incrementAndGet(); () }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    openStages.incrementAndGet(); events.incrementAndGet(); ()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val end = i.completionTime.getOrElse(System.currentTimeMillis())
    val m = i.taskMetrics
    val peak = Option(peakTaskMem.remove((i.stageId, i.attemptNumber()))).map(_.longValue).getOrElse(0L)
    stages.add(
      if (m == null) StageRec(i.submissionTime.getOrElse(end), end, i.numTasks, 0, 0, 0, 0, 0, 0, peak)
      else StageRec(i.submissionTime.getOrElse(end), end, i.numTasks, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled, peak))
    openStages.decrementAndGet(); events.incrementAndGet(); ()
  }

  /** Settle-polls the bus: returns once no stage is open and the event count
    * has not moved over five polls 40 ms apart (or after `maxMs`), so
    * counts read afterwards include every event of the work that ran.
    */
  def settle(maxMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L
    var still = 0
    while (still < 5 && System.currentTimeMillis() < deadline) {
      Thread.sleep(40)
      val now = events.get()
      if (now == last && openStages.get() <= 0) still += 1 else still = 0
      last = now
    }
  }

  def attach(sc: SparkContext): Unit = sc.addSparkListener(this)
  def detach(sc: SparkContext): Unit = { settle(); sc.removeSparkListener(this) }
}

/** A span around one call the benchmark makes into a layer. `trace` groups
  * the spans of one query or month; `parent` is -1 for a top-level span.
  */
final case class Span(id: Int, parent: Int, trace: Int, name: String, pass: Int,
                      startMs: Long, endMs: Long, nanos: Long) {
  def seconds: Double = nanos / 1e9
  def covers(ms: Long): Boolean = startMs <= ms && ms <= endMs
}

/** Times calls and, when `recording`, keeps a span for each in memory. The
  * caller is one thread making one call at a time, so the open spans form a
  * stack.
  */
final class Tracer {
  val spans = ArrayBuffer[Span]()
  var recording = false
  var pass = 0
  private var nextId = 0
  private var nextTrace = 0
  private val open = scala.collection.mutable.Stack[(Int, Int)]() // (span id, trace id)

  /** Runs `body` inside a span. */
  def apply[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val (parent, trace) = open.headOption match {
      case Some((p, t)) => (p, t)
      case None => nextTrace += 1; (-1, nextTrace)
    }
    open.push((id, trace))
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val nanos = System.nanoTime() - t0
      open.pop()
      if (recording)
        spans += Span(id, parent, trace, name, pass, ms0, System.currentTimeMillis(), nanos)
    }
  }

  def toJson: String = {
    val out = Json.arr()
    spans.foreach(s => out.addObject().put("id", s.id).put("parent", s.parent)
      .put("trace", s.trace).put("name", s.name).put("pass", s.pass)
      .put("start_ms", s.startMs).put("end_ms", s.endMs).put("seconds", s.seconds))
    Json.write(out)
  }
}

/** Attributes the probe's stages and jobs to the recorded spans by time: a
  * stage belongs to the innermost span open when it was submitted. The
  * benchmark's calls are sequential, so at most one innermost span is open
  * at a time (the pipeline's four concurrent dim builds share one span).
  */
final class Attribution(spans: Seq[Span], probe: Probe) {
  val stages: Seq[StageRec] = probe.stages.asScala.toSeq
  val jobStarts: Seq[Long] = probe.jobStarts.asScala.map(_.longValue).toSeq

  // each span's id with the ids of all its ancestors
  private val lineage: Map[Int, Set[Int]] = {
    val byId = spans.map(s => s.id -> s).toMap
    def up(s: Span): Set[Int] =
      byId.get(s.parent).map(p => up(p)).getOrElse(Set.empty[Int]) + s.id
    spans.map(s => s.id -> up(s)).toMap
  }

  private def innermost(ms: Long): Option[Span] =
    spans.filter(_.covers(ms)).maxByOption(s => (lineage(s.id).size, s.startMs))

  private val stageOwner: Seq[(StageRec, Option[Int])] =
    stages.map(st => st -> innermost(st.submitMs).map(_.id))
  private val jobOwner: Seq[Option[Int]] = jobStarts.map(t => innermost(t).map(_.id))

  private def under(roots: Seq[Span], owner: Option[Int]): Boolean =
    owner.exists(o => roots.exists(r => lineage(o).contains(r.id)))

  /** Stages submitted under any of `roots` or their descendants. */
  def stagesUnder(roots: Seq[Span]): Seq[StageRec] =
    stageOwner.collect { case (st, o) if under(roots, o) => st }

  /** Jobs started under any of `roots` or their descendants. */
  def jobsUnder(roots: Seq[Span]): Int = jobOwner.count(under(roots, _))
}

object Attribution {
  /** Wall time inside `[startMs, endMs]` during which at least one stage ran. */
  def busyMs(stages: Seq[StageRec], startMs: Long, endMs: Long): Long = {
    val iv = stages.map(s => (math.max(s.submitMs, startMs), math.min(s.endMs, endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    covered
  }
}
