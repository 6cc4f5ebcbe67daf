package graft.chess

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The pipeline reads back each table it wrote with the schema it wrote it
  * with instead of inferring it; that schema must be exactly the one
  * inference would give for the files on disk — nullability, column order
  * and the fact's `game_month` partition column included.
  */
class ChessReadSchemaSpec extends AnyFunSuite with Matchers with SparkFixture {

  private val Me = "graftuser"

  private def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c => c.toString
  } + "\""

  /** One bronze game: `me` plays white on even `i`, with a book opening. */
  private def game(month: Int, i: Int): String = {
    val day = f"2024.$month%02d.${i + 1}%02d"
    val (white, black) = if (i % 2 == 0) (Me, s"opp$i") else (s"opp$i", Me)
    val (url, eco, moves) =
      if (i % 3 == 0) ("Kings-Pawn-Opening", "C20", "1. e4 {[%clk 0:02:59]} 1... e5 {[%clk 0:02:58]}")
      else ("Queens-Pawn-Opening", "D00", "1. d4 {[%clk 0:02:59]} 1... d5 {[%clk 0:02:58]}")
    val pgn =
      s"""[Event "Live Chess"]
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
      s""""time_control":"${if (i % 2 == 0) "180" else "600+5"}","end_time":${1704110000L + month * 100000L + i},""" +
      s""""rated":true,"time_class":"blitz","rules":"chess",""" +
      s""""white":${player(white, "win")},"black":${player(black, "resigned")}}"""
  }

  private def setUp(): Path = {
    val root = Files.createTempDirectory("chess-read-schema")
    Files.createDirectories(root.resolve("bronze"))
    for (m <- Seq(1, 2))
      Files.write(root.resolve(f"bronze/2024-$m%02d-games.json"),
        (0 until 6).map(game(m, _)).mkString("[\n", ",\n", "\n]\n").getBytes(UTF_8))
    Files.write(root.resolve("openings.csv"),
      ("eco_family,eco,name,pgn\n" +
        "C,C20,King's Pawn Game: Open,1. e4 e5\n" +
        "D,D00,Queen's Pawn Game: Closed,1. d4 d5\n").getBytes(UTF_8))
    root
  }

  test("read schemas equal the inferred schemas of the files written (initial month + merge)") {
    val root = setUp()
    val pipe = new ChessPipeline(spark, root.toString, Me,
      openingsBook = Some(root.resolve("openings.csv").toString))
    pipe.runMonth(2024, 1, java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    pipe.runMonth(2024, 2, java.sql.Timestamp.valueOf("2024-03-01 00:00:00"))

    val tables = Seq("silver/fact-2024-01-games.parquet", "silver/fact-2024-02-games.parquet",
      "gold/fact-games.parquet", "gold/dim_openings.parquet", "gold/dim_date.parquet",
      "gold/dim_results.parquet", "gold/dim_time_control.parquet")
    for (rel <- tables) withClue(rel + ": ") {
      val inferred = spark.read.parquet(root.resolve(rel).toString).schema
      pipe.readSchema(rel) shouldBe Some(inferred)
    }
    val fact = spark.read.parquet(root.resolve("gold/fact-games.parquet").toString)
    fact.columns.last shouldBe "game_month"
    pipe.fact.schema shouldBe fact.schema
    pipe.fact.count() shouldBe 12L
    // the book matched and the merge kept both months
    pipe.dimOpenings.filter("opening_name like '%:%'").count() shouldBe 2L
    pipe.fact.select("game_month").distinct().count() shouldBe 2L

    // a pipeline that did not write the tables infers on its first read
    val other = new ChessPipeline(spark, root.toString, Me)
    other.readSchema("gold/fact-games.parquet") shouldBe None
    other.fact.schema shouldBe fact.schema
    other.readSchema("gold/fact-games.parquet") shouldBe Some(fact.schema)
  }
}
