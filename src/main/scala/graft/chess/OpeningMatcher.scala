package graft.chess

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** J3: longest-prefix opening matching (prototype at test.ipynb cells
  * 27-28). Given the 3,514-row Lichess openings table (eco_family, eco,
  * name, pgn — numbered movetext like "1. Nh3 d5 2. g3"), find for each
  * game the most specific opening whose movetext is a prefix of the game's.
  *
  * The reference prototype loops per game issuing `LIKE 'prefix%'` queries
  * of increasing depth; here the whole book is collected (it is tiny by
  * construction), broadcast as a token-prefix hash map, and each game does
  * O(max-book-depth) map lookups in a UDF — no shuffle, no per-row scans,
  * embarrassingly parallel at any corpus size.
  */
object OpeningMatcher {

  case class Opening(eco: String, name: String, pgn: String)

  /** The openings book's columns, all strings, in file order. */
  private val bookSchema: StructType = StructType(
    Seq("eco_family", "eco", "name", "pgn").map(StructField(_, StringType)))

  /** Load the openings book CSV (header: eco_family,eco,name,pgn). The
    * schema is declared, so no job reads the header to infer it.
    */
  def readBook(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", true).schema(bookSchema).csv(path)

  /** Matches each game's `movetextCol` (numbered, e.g. "1. d4 e5 2. …")
    * against the book; adds `opening_name`, `opening_eco`,
    * `opening_moves` (token depth of the matched line; null when no match).
    */
  def matchOpenings(games: DataFrame, book: DataFrame,
                    movetextCol: String = "pgn_trans"): DataFrame = {
    val spark = games.sparkSession
    // book → Map[movetext tokens joined -> (eco, name)]; driver-side is fine:
    // the book is a bounded reference table (3.5k rows), broadcast once.
    // Duplicate pgn keys resolve to the MAX name (deterministic,
    // file-order independent — and the tie-break the relational oracle
    // re-derivation applies), not whichever row the file lists last.
    val entries = book.select("pgn", "eco", "name").collect()
      .map(r => (r.getString(0).trim, (r.getString(1), r.getString(2))))
      .groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).maxBy(_._2) }
    val maxTokens = if (entries.isEmpty) 0 else entries.keysIterator.map(tokenCount).max
    val bc = spark.sparkContext.broadcast((entries, maxTokens))

    val matchUdf = udf { movetext: String =>
      if (movetext == null) None
      else {
        val (book, maxT) = bc.value
        val toks = movetext.trim.split(" ")
        val bound = math.min(maxT, toks.length)
        var best: Option[(String, String, Int)] = None
        val sb = new StringBuilder
        var i = 0
        while (i < bound) {
          if (i > 0) sb.append(' ')
          sb.append(toks(i))
          i += 1
          book.get(sb.toString) match {
            case Some((eco, name)) => best = Some((eco, name, i))
            case None =>
          }
        }
        best
      }
    }

    games.withColumn("m", matchUdf(col(movetextCol)))
      .withColumn("opening_eco", col("m._1"))
      .withColumn("opening_name", col("m._2"))
      .withColumn("opening_moves", col("m._3"))
      .drop("m")
  }

  private def tokenCount(s: String): Int = s.split(" ").length
}
