package graft.chess

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Spark-native ports of the reference's six scalar Python UDFs
  * (`airflow/dags/utils/udfs.py`), each as a pure `Column` expression so it
  * participates in whole-stage codegen — no UDF serialization, no Python
  * boundary. Semantics (including quirks) are bit-matched to the reference;
  * golden tests in `ChessFunctionsSpec`.
  */
object ChessFunctions {

  /** UD1 `add_move_numbers` (udfs.py:53-75): rebuild numbered PGN movetext
    * from a ply array. The reference builds per-move chunks
    * `f"{n}. {white} {black-or-empty}"` and `' '.join`s them, so a full
    * final pair ends WITHOUT a trailing space while an odd trailing ply
    * keeps one (the f-string's space before the empty black survives) —
    * both quirks reproduced here for bit-parity (SURVEY.md quirk 4).
    *
    * Built ply by ply: the white ply at even index `i` gets its number
    * `i / 2 + 1`, the black ply stays bare, and one space joins them all;
    * an odd ply count appends the quirk's trailing space. The lambda reads
    * only its own element and index, never `moves`: Spark evaluates a
    * lambda body interpretively once per element, so a body that captured
    * `moves` would re-evaluate the whole argument expression per ply — for
    * `regexp_extract_all(pgn, …)` (the silver input) a rescan of the game's
    * PGN per ply, O(plies²) per game instead of O(plies).
    */
  def addMoveNumbers(moves: Column): Column = {
    val numbered = transform(moves, (m, i) =>
      when(i % 2 === 0, concat((shiftright(i, 1) + 1).cast("string"), lit(". "), m))
        .otherwise(m))
    coalesce(
      concat(array_join(numbered, " "), when(size(moves) % 2 === 1, lit(" ")).otherwise(lit(""))),
      lit(""))
  }

  /** UD3 `get_opening_family` (udfs.py:78-101): text before the first ":",
    * or the whole name when there is no colon.
    */
  def openingFamily(name: Column): Column =
    when(name.contains(":"), split(name, ":", 2).getItem(0)).otherwise(name)

  /** UD4 `get_opening_variation` (udfs.py:103-120): text after the first
    * ":" (leading space preserved, matching the reference), else the whole
    * name.
    */
  def openingVariation(name: Column): Column =
    when(name.contains(":"), split(name, ":", 2).getItem(1)).otherwise(name)

  /** UD2 replacement (SURVEY.md §7.4): deterministic opening name from the
    * ECO-URL slug instead of the reference's per-row HTTP scrape —
    * ".../openings/Englund-Gambit-Hartlaub-Charlick-Gambit" →
    * "Englund Gambit Hartlaub Charlick Gambit". Documented deviation.
    */
  def openingNameFromUrl(ecoUrl: Column): Column =
    regexp_replace(element_at(split(ecoUrl, "/"), -1), "-", " ")

  /** UD5 `get_pgn_depth` (udfs.py:123-136): number of full moves = count of
    * regex matches of `\d+\.` in the movetext.
    */
  def pgnDepth(pgn: Column): Column =
    size(regexp_extract_all(pgn, lit("\\d+\\."), lit(0)))

  /** UD6 `format_time_control` (udfs.py:153-171): "base+inc" → "min|inc",
    * "base" → "min", with floor integer division of base seconds by 60
    * (quirk 5: int(int("90")/60) == 1).
    *
    * Daily games use "1/86400"-style controls (moves-per-period), which the
    * reference UDF crashes on. A bad value must not fail a 100 TB batch, so
    * we diverge deliberately: `try_cast` passes the raw string through
    * unformatted instead of raising `CAST_INVALID_INPUT` under ANSI mode.
    */
  def formatTimeControl(tc: Column): Column = {
    val base = split(tc, "\\+").getItem(0).try_cast("long")
    val minutes = floor(base / lit(60)).cast("long").cast("string")
    when(base.isNull, tc)
      .when(tc.contains("+"),
        concat(minutes, lit("|"), split(tc, "\\+").getItem(1)))
      .otherwise(minutes)
  }

  /** F1: extract a PGN bracket-header value: `[Tag "value"]`. */
  def pgnHeader(pgn: Column, tag: String): Column =
    regexp_extract(pgn, "\\[" + tag + " \"(.*?)\"", 1)

  /** F2: all SAN moves from Chess.com movetext with clock comments:
    * `1. e4 {[%clk 0:09:58.8]} 1... e5 {[%clk ...]}` — the reference's
    * pattern `\. (.*?) {\[` (python_scripts.py:192).
    */
  def pgnMoves(pgn: Column): Column =
    regexp_extract_all(pgn, lit("\\. (.*?) \\{\\["), lit(1))
}
