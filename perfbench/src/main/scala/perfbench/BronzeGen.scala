package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{LocalDate, LocalDateTime, ZoneOffset}

import scala.collection.mutable

/** Seeded Chess.com-shaped input for the pipeline workload: monthly bronze
  * JSON arrays (the fields of `graft.chess.Schemas.bronze`), one re-delivered
  * month, and an openings book whose lines the games open with.
  *
  * Every `Dims.resultSeed` code, the time controls 600, 120+1, 300+5, 90+2 and
  * the daily 1/86400 appear in every month of at least 15 games. PGN headers
  * carry `{[%clk …]}` movetext, and every game's ECOUrl names the book line
  * its moves start with, so the opening matcher finds a book name for every
  * URL. The generator keeps its own ground truth, which the workload checks
  * the gold layer and the warehouse against.
  */
object BronzeGen {

  val Player = "BenchPlayer"

  /** Counts the pipeline's outputs must reproduce exactly. */
  final case class Truth(
      monthGames: Seq[Int],          // bronze rows per regular month
      replayGames: Int,              // rows in the re-delivered month
      distinctUrls: Int,             // fact rows after the replay
      distinctDates: Int,            // dim_date rows
      distinctOpenings: Int,         // dim_openings rows
      distinctTimeControls: Int,     // dim_time_control rows
      resultCodes: Int,              // result codes the games use
      bronzeBytes: Long)

  final case class Layout(year: Int, months: Seq[Int], replayMonth: Int)

  private final case class Line(family: String, variation: String, eco: String,
                                plies: Seq[String]) {
    def name: String = s"$family: $variation"
    def url: String = "https://www.chess.com/openings/" +
      name.replace(": ", "-").replace(' ', '-')
    def movetext: String = numbered(plies)
  }

  private def numbered(plies: Seq[String]): String =
    plies.grouped(2).zipWithIndex.map { case (pair, i) =>
      s"${i + 1}. " + pair.mkString(" ")
    }.mkString(" ")

  private val Families = Seq("Ruy Lopez", "Sicilian Defense", "French Defense",
    "Caro Kann Defense", "Queens Gambit", "Kings Indian Defense", "English Opening",
    "Italian Game", "Scandinavian Defense", "Pirc Defense", "Dutch Defense",
    "Slav Defense")
  private val Variations = Seq("Main Line", "Exchange Variation", "Closed",
    "Open", "Accelerated", "Classical")
  private val Vocab = Seq("e4", "e5", "d4", "d5", "Nf3", "Nc6", "Bb5", "a6",
    "c4", "c5", "Nc3", "Nf6", "g3", "g6", "Bg2", "Bg7", "O-O", "Be7", "Re1",
    "b5", "Bb3", "d6", "c3", "h3", "Qe2", "Rd8", "Bxf7+", "exd5", "Qxd5", "Kh1")

  /** (white result, black result) patterns. The first 14 games of a month walk
    * them in order, so every result code is present; the rest draw at random.
    */
  private val Outcomes = Seq(
    ("win", "checkmated"), ("win", "resigned"), ("win", "timeout"),
    ("win", "abandoned"), ("win", "lose"), ("win", "kingofthehill"),
    ("win", "threecheck"), ("win", "bughousepartnerlose"),
    ("agreed", "agreed"), ("repetition", "repetition"),
    ("stalemate", "stalemate"), ("insufficient", "insufficient"),
    ("50move", "50move"), ("timevsinsufficient", "timevsinsufficient"))

  private val Hms = java.time.format.DateTimeFormatter.ofPattern("HH:mm:ss")
  private def hms(t: LocalDateTime): String = t.format(Hms)

  private val TimeControls = Seq(("600", "rapid", 600), ("120+1", "bullet", 120),
    ("300+5", "blitz", 300), ("90+2", "bullet", 90), ("1/86400", "daily", 86400))

  /** Writes `bronze/{yyyy}-{MM}-games.json` for every regular month, the
    * re-delivered month under `replay/`, and `openings.csv`, all under `dir`.
    * The same seed writes the same bytes.
    */
  def write(dir: Path, seed: Long, layout: Layout, gamesPerMonth: Int,
            lateArrivals: Int): Truth = {
    val rng = new scala.util.Random(seed)
    // book: one base line per family plus deeper variations of it; the last
    // lines are held back for the late arrivals of the re-delivered month
    val book = Families.zipWithIndex.flatMap { case (fam, fi) =>
      val base = Seq.fill(4)(Vocab(rng.nextInt(Vocab.size)))
      Variations.zipWithIndex.map { case (v, vi) =>
        val extra = Seq.fill(2 * vi)(Vocab(rng.nextInt(Vocab.size)))
        Line(fam, v, f"${"ABCDE".charAt(fi % 5)}${fi * 6 + vi}%02d", base ++ extra)
      }
    }
    val held = book.takeRight(3)
    val regular = book.dropRight(3)

    Files.createDirectories(dir.resolve("bronze"))
    Files.createDirectories(dir.resolve("replay"))
    val csv = new StringBuilder("eco_family,eco,name,pgn\n")
    book.foreach(l => csv.append(s"${l.eco.take(1)},${l.eco},${l.name},${l.movetext}\n"))
    Files.write(dir.resolve("openings.csv"), csv.toString.getBytes(UTF_8))

    val urls = mutable.HashSet[String]()
    val dates = mutable.HashSet[LocalDate]()
    val openings = mutable.HashSet[String]()
    val tcs = mutable.HashSet[String]()
    val codes = mutable.HashSet[String]()
    var serial = 0L
    var bytes = 0L

    def game(month: Int, i: Int, lines: Seq[Line]): String = {
      serial += 1
      val url = s"https://www.chess.com/game/live/${seed * 10000000L + serial}"
      val line = lines(rng.nextInt(lines.size))
      val (tc, tclass, baseSecs) = TimeControls(i % TimeControls.size)
      val (wRes, bRes) =
        if (i < Outcomes.size) Outcomes(i) else Outcomes(rng.nextInt(Outcomes.size))
      val meWhite = rng.nextBoolean()
      val opp = s"opponent${rng.nextInt(400)}"
      val (white, black) = if (meWhite) (Player, opp) else (opp, Player)
      val date = LocalDate.of(layout.year, month, 1)
        .plusDays(rng.nextInt(LocalDate.of(layout.year, month, 1).lengthOfMonth()).toLong)
      val start = LocalDateTime.of(date, java.time.LocalTime.of(rng.nextInt(20), rng.nextInt(60), rng.nextInt(60)))
      val plies = line.plies ++ Seq.fill(12 + rng.nextInt(50))(Vocab(rng.nextInt(Vocab.size)))
      val secs = math.min(plies.size * (2 + rng.nextInt(8)), 3 * 3600)
      val end = start.plusSeconds(secs.toLong)
      val resultTag = if (wRes == "win") "1-0" else if (bRes == "win") "0-1" else "1/2-1/2"
      val fen = s"${rng.nextInt(8) + 1}k${rng.nextInt(6)}/8/8/8/8/8/8/K7 w - - 0 ${plies.size / 2 + 1}"
      val movetext = plies.zipWithIndex.map { case (p, k) =>
        val n = k / 2 + 1
        val left = math.max(0.0, baseSecs - k * 1.7 - rng.nextInt(10) / 10.0)
        val clk = f"${(left / 3600).toInt}:${(left % 3600 / 60).toInt}%02d:${left % 60}%04.1f"
        (if (k % 2 == 0) s"$n. " else s"$n... ") + s"$p {[%clk $clk]}"
      }.mkString(" ") + s" $resultTag"
      val d = date.toString.replace('-', '.')
      val ed = end.toLocalDate.toString.replace('-', '.')
      val pgn =
        s"""[Event "Live Chess"]
           |[Site "Chess.com"]
           |[Date "$d"]
           |[Round "-"]
           |[White "$white"]
           |[Black "$black"]
           |[Result "$resultTag"]
           |[CurrentPosition "$fen"]
           |[Timezone "UTC"]
           |[ECO "${line.eco}"]
           |[ECOUrl "${line.url}"]
           |[UTCDate "$d"]
           |[UTCTime "${hms(start)}"]
           |[WhiteElo "${1200 + rng.nextInt(600)}"]
           |[BlackElo "${1200 + rng.nextInt(600)}"]
           |[TimeControl "$tc"]
           |[Termination "$white won"]
           |[StartTime "${hms(start)}"]
           |[EndDate "$ed"]
           |[EndTime "${hms(end)}"]
           |[Link "$url"]
           |
           |$movetext
           |""".stripMargin
      urls += url; dates += date; openings += line.url
      tcs += tc; codes += wRes; codes += bRes
      val rules = bRes match {
        case "kingofthehill" | "threecheck" => bRes
        case "bughousepartnerlose" => "bughouse"
        case _ => "chess"
      }
      def player(name: String, res: String) =
        s"""{"rating":${1200 + rng.nextInt(600)},"result":${Json.str(res)},""" +
          s""""@id":${Json.str("https://api.chess.com/pub/player/" + name.toLowerCase)},""" +
          s""""username":${Json.str(name)},"uuid":${Json.str(uuid())}}"""
      val acc = if (rng.nextInt(100) < 7)
        f""","accuracies":{"white":${60 + rng.nextDouble() * 40}%.2f,"black":${60 + rng.nextDouble() * 40}%.2f}"""
      else ""
      s"""{"url":${Json.str(url)},"pgn":${Json.str(pgn)},"time_control":${Json.str(tc)},""" +
        s""""end_time":${end.toEpochSecond(ZoneOffset.UTC)},"rated":${i % 7 != 0},""" +
        s""""tcn":${Json.str(rng.alphanumeric.take(24).mkString)},"uuid":${Json.str(uuid())},""" +
        s""""initial_setup":"rnbqkbnr/pppppppp/8/8/8/8/PPPPPPPP/RNBQKBNR w KQkq - 0 1",""" +
        s""""fen":${Json.str(fen)},"time_class":${Json.str(tclass)},"rules":${Json.str(rules)},""" +
        s""""white":${player(white, wRes)},"black":${player(black, bRes)}$acc}"""
    }
    def uuid(): String = new java.util.UUID(rng.nextLong(), rng.nextLong()).toString

    def writeMonth(path: Path, games: Seq[String]): Unit = {
      val body = games.mkString("[\n", ",\n", "\n]\n").getBytes(UTF_8)
      bytes += body.length
      Files.write(path, body)
    }

    val monthGames = layout.months.map { m =>
      val games = (0 until gamesPerMonth).map(i => game(m, i, regular))
      writeMonth(dir.resolve(f"bronze/${layout.year}-$m%02d-games.json"), games)
      games
    }
    // re-delivery: the month's games again, byte for byte, plus late arrivals
    // that open with the held-back lines (new dim_openings keys)
    val replayIdx = layout.months.indexOf(layout.replayMonth)
    require(replayIdx >= 0, s"replay month ${layout.replayMonth} is not a regular month")
    val late = (0 until lateArrivals).map(i => game(layout.replayMonth, gamesPerMonth + i, held))
    val replay = monthGames(replayIdx) ++ late
    writeMonth(dir.resolve(f"replay/${layout.year}-${layout.replayMonth}%02d-games.json"), replay)

    Truth(layout.months.map(_ => gamesPerMonth), replay.size, urls.size, dates.size,
      openings.size, tcs.size, codes.size, bytes)
  }
}
