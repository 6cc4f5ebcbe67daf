package graft.chess

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.SparkFixture
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The gold layer on bronze written by the spec itself: the dims are
  * unique on their warehouse keys even where the source is not (one ECO
  * URL seen with two ECO codes, one formatted time control seen with two
  * classes), so the fact has one row per game; the fact build reads no
  * dim and runs no join; and a merge is one write that replaces only the
  * batch's partitions.
  */
class ChessGoldKeysSpec extends AnyFunSuite with Matchers with SparkFixture
    with AdaptiveSparkPlanHelper {

  private val Me = "graftuser"

  private def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c => c.toString
  } + "\""

  /** One bronze game. Kings-Pawn games carry ECO C20 or C40 (one URL, two
    * codes); even games are "120+1" bullet and game 1 is "150+1" blitz,
    * which both format to "2|1".
    */
  private def game(month: Int, i: Int, edition: String = ""): String = {
    val day = f"2024.$month%02d.${i + 1}%02d"
    val (white, black) = if (i % 2 == 0) (Me, s"opp$i") else (s"opp$i", Me)
    val (url, eco, moves) =
      if (i % 3 == 0) ("Kings-Pawn-Opening", if (i == 0) "C40" else "C20",
        "1. e4 {[%clk 0:02:59]} 1... e5 {[%clk 0:02:58]}")
      else ("Queens-Pawn-Opening", "D00", "1. d4 {[%clk 0:02:59]} 1... d5 {[%clk 0:02:58]}")
    val (tc, cls) =
      if (i % 2 == 0) ("120+1", "bullet") else if (i == 1) ("150+1", "blitz") else ("600", "rapid")
    val pgn =
      s"""[Event "Live Chess$edition"]
         |[Site "Chess.com"]
         |[Date "$day"]
         |[White "$white"]
         |[Black "$black"]
         |[Result "1-0"]
         |[CurrentPosition "8/8/8/8/8/8/8/K6k w - - 0 3"]
         |[Timezone "UTC"]
         |[ECO "$eco"]
         |[ECOUrl "https://www.chess.com/openings/$url"]
         |[StartTime "12:00:0$i"]
         |[EndDate "$day"]
         |[EndTime "12:10:0$i"]
         |
         |$moves 2. Nf3 {[%clk 0:02:50]} 1-0
         |""".stripMargin
    def player(name: String, res: String) =
      s"""{"rating":${1500 + i},"result":"$res","username":"$name"}"""
    s"""{"url":"https://www.chess.com/game/live/$month$i","pgn":${json(pgn)},""" +
      s""""time_control":"$tc","end_time":${1704110000L + month * 100000L + i},""" +
      s""""rated":true,"time_class":"$cls","rules":"chess",""" +
      s""""white":${player(white, "win")},"black":${player(black, "resigned")}}"""
  }

  private val Games = Map(1 -> 6, 2 -> 4)

  private def writeBronze(root: Path, month: Int, edition: String = ""): Unit =
    Files.write(root.resolve(f"bronze/2024-$month%02d-games.json"),
      (0 until Games(month)).map(game(month, _, edition))
        .mkString("[\n", ",\n", "\n]\n").getBytes(UTF_8))

  private def setUp(): Path = {
    val root = Files.createTempDirectory("chess-gold-keys")
    Files.createDirectories(root.resolve("bronze"))
    Games.keys.foreach(writeBronze(root, _))
    root
  }

  private def stamp(s: String) = Timestamp.valueOf(s)

  /** Every query a `body` ran, as the session's listeners saw it. */
  private def queriesDuring(body: => Unit): Seq[QueryExecution] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  private def joinNodes(qe: QueryExecution): Seq[String] =
    collectWithSubqueries(qe.executedPlan) {
      case p if p.nodeName.contains("Join") || p.nodeName.contains("BroadcastExchange") =>
        p.nodeName
    }

  private def writePaths(qes: Seq[QueryExecution]): Seq[String] =
    qes.flatMap(_.analyzed.collect {
      case w: InsertIntoHadoopFsRelationCommand => w.outputPath.toUri.getPath
    })

  private def readPaths(qes: Seq[QueryExecution]): Seq[String] =
    qes.flatMap(_.analyzed.collect { case l: LogicalRelation => l.relation })
      .collect { case r: HadoopFsRelation => r.location.rootPaths.map(_.toUri.getPath) }
      .flatten

  /** Each data file under a fact partition, by name, with its mtime. */
  private def partitionFiles(root: Path, month: String): Map[String, Long] = {
    val dir = root.resolve(s"gold/fact-games.parquet/game_month=$month")
    Files.list(dir).iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => p.getFileName.toString -> Files.getLastModifiedTime(p).toMillis).toMap
  }

  private def uniqueOn(df: DataFrame, key: String): Unit = withClue(key + ": ") {
    df.count() should be > 0L
    df.count() shouldBe df.select(key).distinct().count()
  }

  test("dims have one row per key and the fact one row per game") {
    val root = setUp()
    val pipe = new ChessPipeline(spark, root.toString, Me)
    pipe.runMonth(2024, 1, stamp("2024-02-01 00:00:00"))
    pipe.fact.count() shouldBe Games(1).toLong
    pipe.runMonth(2024, 2, stamp("2024-03-01 00:00:00"))

    uniqueOn(pipe.dimOpenings, "pgn_eco_url")
    uniqueOn(pipe.dimDate, "game_date")
    uniqueOn(pipe.dimTimeControl, "time_control")
    uniqueOn(pipe.dimResults, "result_code")
    // the tie-breaks: the smallest ECO code, the smallest class
    pipe.dimOpenings.filter("pgn_eco_url like '%Kings-Pawn-Opening'")
      .select("eco_code").collect().map(_.getString(0)) shouldBe Array("C20")
    pipe.dimTimeControl.filter("time_control = '2|1'")
      .select("time_class").collect().map(_.getString(0)) shouldBe Array("blitz")

    val fact = pipe.fact
    fact.count() shouldBe Games.values.sum.toLong
    fact.count() shouldBe fact.select("game_url").distinct().count()
  }

  test("buildFact reads no dim and runs no join") {
    val root = setUp()
    val pipe = new ChessPipeline(spark, root.toString, Me)
    val ran = Seq(1, 2).flatMap { m =>
      val silver = pipe.buildSilver(2024, m)
      pipe.buildDims(silver)
      queriesDuring(pipe.buildFact(silver, stamp(f"2024-${m + 1}%02d-01 00:00:00")))
    }
    writePaths(ran) should have size 2 // the initial write and the merge
    val read = readPaths(ran)
    read should not be empty
    read.filter(_.contains("/gold/dim_")) shouldBe empty
    for (qe <- ran) withClue(qe.executedPlan.toString + "\n") {
      joinNodes(qe) shouldBe empty
    }

    // the reference's star join over the built dims, run physically,
    // returns the fact unchanged
    val fact = pipe.fact
    val starred = withoutJoinElimination {
      val df = GoldFact.starJoin(fact, pipe.dimDate, pipe.dimOpenings, pipe.dimResults,
        pipe.dimTimeControl)
      joinNodes(df.queryExecution) should not be empty
      df.collect().map(_.toString).sorted
    }
    starred shouldBe fact.collect().map(_.toString).sorted
  }

  test("a dim key keeps the row of the batch that first saw it") {
    import spark.implicits._
    val url = "https://www.chess.com/openings/Kings-Pawn-Opening"
    def openings(ecos: String*) =
      Dims.openingsFromSilver(ecos.map(url -> _).toDF("pgn_eco_url", "pgn_eco"))
    val first = openings("C40")
    val later = openings("C40", "C20")
    later.select("eco_code").as[String].collect() shouldBe Array("C20")
    Dims.incremental(later, first, "pgn_eco_url").select("eco_code").as[String]
      .collect() shouldBe Array("C40")
  }

  test("a merge is one write that replaces only the batch's partitions") {
    val root = setUp()
    val pipe = new ChessPipeline(spark, root.toString, Me)
    pipe.runMonth(2024, 1, stamp("2024-02-01 00:00:00"))
    pipe.runMonth(2024, 2, stamp("2024-03-01 00:00:00"))
    val january = partitionFiles(root, "2024-01")
    val february = partitionFiles(root, "2024-02")

    // January is re-delivered with changed games and merged latest-wins
    writeBronze(root, 1, edition = " (re-delivered)")
    val silver = pipe.buildSilver(2024, 1)
    pipe.buildDims(silver)
    val redelivered = stamp("2024-04-01 00:00:00")
    val ran = queriesDuring(pipe.buildFact(silver, redelivered))

    val factPath = root.resolve("gold/fact-games.parquet").toString
    writePaths(ran) shouldBe Seq(factPath)
    partitionFiles(root, "2024-02") shouldBe february
    partitionFiles(root, "2024-01").keySet.intersect(january.keySet) shouldBe empty
    Files.list(root.resolve("gold")).iterator().asScala.map(_.getFileName.toString)
      .filter(_.contains("merge-tmp")).toSeq shouldBe empty
    Files.list(root.resolve("gold/fact-games.parquet")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith(".spark-staging")).toSeq shouldBe empty

    val fact = pipe.fact
    fact.count() shouldBe Games.values.sum.toLong
    fact.filter(col("last_updated") === lit(redelivered)).count() shouldBe Games(1).toLong
  }
}
