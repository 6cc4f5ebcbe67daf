package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** A fixed list of `SparkEntry.queries`, each built with
  * `SparkEntry.queries(name)(spark, dir)` and evaluated with a `noop` write,
  * over a fresh copy of the committed fixture tables. With `factor` set, the
  * copy's `documents` and `embeddings` are the `ScaleData` copies, that many
  * times larger, in `scaled` (the LLM-operator tail at scale; see
  * [[QueryWorkload.buildScaled]]).
  *
  * The warm pass computes each query's row count and order-insensitive
  * digest and compares them with the expected file; a query whose check
  * failed counts as failed every time it runs.
  */
final class QueryWorkload(cfg: JsonNode, work: Path,
                          families: Seq[(String, Seq[String])],
                          expectedFile: Option[Path], scaled: Option[Path]) extends Workload {
  private val fixture = Paths.get(cfg.get("data").asText)
  private val queries = Json.strings(cfg.get("queries"))
  private val factor = QueryWorkload.factor(cfg)
  private val dataDir = work.resolve("data")
  private val checkFailures = mutable.Map[String, String]()
  private val actual = mutable.LinkedHashMap[String, (Long, String)]()

  def family(query: String): String =
    families.find(_._2.exists(query.startsWith)).map(_._1).getOrElse("relational")

  def inputs(): Unit = {
    Main.fresh(dataDir)
    Main.copyTree(fixture, dataDir)
    if (factor > 1) for (t <- QueryWorkload.Scaled) {
      val from = scaled.getOrElse(sys.error("no --scaled dir for a scaled workload"))
      Files.delete(dataDir.resolve(t)) // the fixture's single-file table
      Main.copyTree(from.resolve(t), dataDir.resolve(t))
    }
  }

  def warm(spark: SparkSession, tracer: Tracer): Unit = {
    layoutsPresent = countLayouts()
    val expected: Map[String, (Long, String)] = expectedFile.filter(Files.exists(_))
      .map(p => Json.fields(Json.read(p)).map { case (q, n) =>
        q -> (n.get("rows").asLong, n.get("digest").asText)
      }.toMap).getOrElse(Map.empty)
    for (q <- queries) {
      try {
        // the timed passes' own evaluation first, so its code is generated
        // and compiled before timing; then the digest
        Main.noop(graft.SparkEntry.queries(q)(spark, dataDir.toString))
        val got = Digest.of(graft.SparkEntry.queries(q)(spark, dataDir.toString))
        actual(q) = got
        expected.get(q) match {
          case None if expectedFile.isDefined =>
            checkFailures(q) = "no expected row count and digest for this query"
          case Some((rows, _)) if got._1 != rows =>
            checkFailures(q) = s"row count ${got._1}, expected $rows"
          case Some((_, digest)) if got._2 != digest =>
            checkFailures(q) = s"digest ${got._2}, expected $digest"
          case _ =>
        }
      } catch { case e: Throwable => checkFailures(q) = "warm pass: " + Main.reason(e) }
      spark.catalog.clearCache()
    }
  }

  def pass(spark: SparkSession, tracer: Tracer, index: Int): Seq[Op] = queries.map { q =>
    val t0 = System.nanoTime()
    val failure = try {
      tracer(q) {
        val df = tracer("construct")(graft.SparkEntry.queries(q)(spark, dataDir.toString))
        tracer("eval")(Main.noop(df))
      }
      checkFailures.get(q).map("output check: " + _)
    } catch { case e: Throwable => Some(Main.reason(e)) }
    Op(q, (System.nanoTime() - t0) / 1e9, failure)
  }

  def layerMetrics(traced: Seq[PassResult], spans: Seq[Span], attr: Attribution,
                   cpus: Int): Map[String, Metric] = {
    def children(p: PassResult, child: String) =
      spans.filter(s => s.pass == p.index && s.name == child && s.parent >= 0)
    val entry = Map(
      "entry.construct_s" -> Metric(Layers.perPass(traced, children(_, "construct").map(_.seconds).sum), "s"),
      "entry.construct_jobs" -> Metric(Layers.perPass(traced, p => attr.jobsUnder(children(p, "construct")).toDouble), "count"),
      "entry.eval_s" -> Metric(Layers.perPass(traced, children(_, "eval").map(_.seconds).sum), "s"))
    val fam = families.map(_._1).flatMap { f =>
      def ops(p: PassResult) = Layers.opSpans(spans, p.index).filter(s => family(s.name) == f)
      Seq(
        s"family.$f.wall_s" -> Metric(Layers.perPass(traced, ops(_).map(_.seconds).sum), "s"),
        s"family.$f.stages" -> Metric(Layers.perPass(traced, p => attr.stagesUnder(ops(p)).size.toDouble), "count"),
        s"family.$f.cpu_s" -> Metric(Layers.perPass(traced, p => attr.stagesUnder(ops(p)).map(_.cpuNs).sum / 1e9), "s"))
    }
    entry ++ fam ++ Map("layout.present" -> Metric(layoutsPresent.toDouble, "count"))
  }

  /** Probe-routed layouts the program would find for this data dir, in the
    * locations its probes look (counted before the first pass, never built).
    */
  private var layoutsPresent = 0
  private def countLayouts(): Int = {
    val d = dataDir.toString
    def fp(tables: String*) = graft.operators.Bucketing.sourceFingerprint(d, tables: _*)
    Seq(fp("lineitem.parquet") -> "li_oq", fp("orders.parquet") -> "ord_oq",
      fp("lineitem.parquet", "orders.parquet") -> "li_ok",
      fp("lineitem.parquet", "orders.parquet") -> "ord_ok",
      fp("orders.parquet") -> "gold_wr", fp("events.parquet") -> "ev_uts",
      fp("events.parquet") -> "ev_tape2")
      .count { case (slug, sub) => Files.exists(Paths.get("/tmp/graft-bucketed", slug, sub, "_SUCCESS")) }
  }

  def meta(o: ObjectNode): Unit =
    o.put("data_dir", fixture.toString).put("factor", factor).put("queries", queries.size)
      .put("digests", expectedFile.map(_.toString).getOrElse("none"))

  /** Writes the digests the warm pass computed, in the expected file's format. */
  def writeActual(path: Path): Unit = {
    val out = Json.obj()
    for ((q, (rows, d)) <- actual) out.putObject(q).put("rows", rows).put("digest", d)
    Files.write(path, (Json.write(out) + "\n").getBytes(UTF_8))
  }
}

object QueryWorkload {
  val Scaled = Seq("documents.parquet", "embeddings.parquet")

  def factor(cfg: JsonNode): Int = Option(cfg.get("factor")).map(_.asInt).getOrElse(1)

  /** Writes the `ScaleData` copies of the fixture's `documents` and
    * `embeddings` (`factor` times larger, `files` parquet files each) to
    * `out`. They depend only on the fixture and the program, so they are
    * made once per build, like the classes, and each run's set-up copies
    * them into its fresh data dir.
    */
  def buildScaled(spark: SparkSession, cfg: JsonNode, out: Path): Unit = {
    val fixture = Paths.get(cfg.get("data").asText)
    val files = Option(cfg.get("files")).map(_.asInt).getOrElse(1)
    Main.fresh(out)
    for (t <- Scaled) {
      val src = spark.read.parquet(fixture.resolve(t).toString)
      graft.tools.ScaleData.replicate(src.repartition(files), t.stripSuffix(".parquet"), factor(cfg))
        .write.parquet(out.resolve(t).toString)
    }
  }
}
