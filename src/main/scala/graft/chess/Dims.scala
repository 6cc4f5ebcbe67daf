package graft.chess

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gold-layer dimension builders (python_scripts.py:221-486).
  *
  * Each `xxxFromSilver` is the initial build; [[incremental]] is the shared
  * merge semantics: new keys anti-joined against the existing dim, then a
  * set-union (the reference's `NOT IN … UNION`, J2+U1). Every builder
  * emits exactly one row per warehouse-DDL key (`create_datawarehouse.sql`:
  * `pgn_eco_url`, `game_date`, `time_control`, `result_code`), so the
  * star join ([[GoldFact.starJoin]]) is row-preserving. Deliberate
  * deviations from reference quirks (SURVEY.md §2.11): one row per key on
  * *both* initial and incremental paths (quirk 2: the reference's initial
  * dim_time_control load has no DISTINCT at all), one row per key rather than per distinct row (quirk 3: the
  * reference's row-wise DISTINCT keeps a URL seen with two ECO codes twice,
  * and the star join then duplicates that URL's games) with a
  * deterministic tie-break — the smallest ECO code per URL, the smallest
  * class per formatted time control, among the rows of the batch that
  * first saw the key ([[incremental]] keeps an existing row, so a smaller
  * code arriving in a later batch does not replace it) — and opening names
  * derived from the ECO-URL slug instead of a per-row HTTP scrape (UD2).
  */
object Dims {

  /** newRows ∪ existing, keeping existing rows for already-present keys.
    * Both sides are unique on `key` and the null-safe anti-join makes their
    * keys disjoint, so the union is unique on `key` without a DISTINCT.
    */
  def incremental(newRows: DataFrame, existing: DataFrame, key: String): DataFrame = {
    val old = existing.select(col(key).as("existing_key"))
    newRows.join(old, newRows(key) <=> old("existing_key"), "left_anti")
      .unionByName(existing)
  }

  // ---- dim_openings (python_scripts.py:257-282) -------------------------

  /** One (url, ECO code) row per URL: the smallest code the URL has in
    * `silver`. Names are functions of the URL alone.
    */
  private def ecoPerUrl(silver: DataFrame): DataFrame =
    silver.groupBy(col("pgn_eco_url")).agg(min(col("pgn_eco")).as("eco_code"))

  def openingsFromSilver(silver: DataFrame): DataFrame = {
    val name = ChessFunctions.openingNameFromUrl(col("pgn_eco_url"))
    ecoPerUrl(silver).select(
      col("pgn_eco_url"),
      name.as("opening_name"),
      ChessFunctions.openingFamily(name).as("opening_family"),
      ChessFunctions.openingVariation(name).as("opening_variation"),
      col("eco_code"))
  }

  /** [[openingsFromSilver]] enriched with the openings-book CSV (SURVEY
    * §7.4.5): when a book line prefix-matches the URL's games, its
    * colon-form "Family: Variation" name replaces the slug-derived one, so
    * `opening_family`/`opening_variation` split meaningfully (slug names
    * have no colon, so family == full name there). URLs with no book match
    * keep the slug-only fallback — that remaining divergence from the
    * reference's scraped names is the documented UD2 deviation.
    */
  def openingsFromSilverEnriched(silver: DataFrame, book: DataFrame): DataFrame = {
    val matched = OpeningMatcher.matchOpenings(
      silver.select(col("pgn_eco_url"), col("pgn_trans")), book)
    // deepest book match per URL (every game under a URL opens identically
    // up to the book's depth; longer games just match deeper lines), with a
    // deterministic name tie-break
    val best = matched.filter(col("opening_name").isNotNull)
      .groupBy(col("pgn_eco_url").as("matched_url"))
      .agg(max_by(col("opening_name"),
        struct(col("opening_moves"), col("opening_name"))).as("csv_name"))
    val slug = ChessFunctions.openingNameFromUrl(col("pgn_eco_url"))
    val name = coalesce(col("csv_name"), slug)
    ecoPerUrl(silver)
      .join(best, col("pgn_eco_url") === col("matched_url"), "left")
      .select(
        col("pgn_eco_url"),
        name.as("opening_name"),
        ChessFunctions.openingFamily(name).as("opening_family"),
        ChessFunctions.openingVariation(name).as("opening_variation"),
        col("eco_code"))
  }

  // ---- dim_date (python_scripts.py:326-366) -----------------------------

  def dateFromSilver(silver: DataFrame): DataFrame = {
    val d = col("game_date")
    // every other column is a function of the date
    silver.select(d).distinct().select(
      d,
      year(d).cast("long").as("year"),
      month(d).cast("long").as("month"),
      date_format(d, "MMMM").as("month_name"),
      dayofmonth(d).cast("long").as("day"),
      date_format(d, "EEEE").as("weekday"),
      quarter(d).cast("long").as("quarter"))
  }

  // ---- dim_time_control (python_scripts.py:402-418) ---------------------

  /** One row per formatted time control, with its smallest class in
    * `silver`: formatting floors base seconds to minutes, so "120+1"
    * (bullet) and "150+1" (blitz) both become "2|1".
    */
  def timeControlFromSilver(silver: DataFrame): DataFrame =
    silver.groupBy(
      ChessFunctions.formatTimeControl(col("time_control")).as("time_control"))
      .agg(min(col("time_class")).as("time_class"))

  // ---- dim_results: 16-row static seed ----------------------------------
  // (sql/create_dim_results_table.sql; write-once semantics per quirk 1)

  /** THE seed rows — one shared constant (r13 ADVICE): [[results]] builds
    * its DataFrame from this, and SparkEntry's `chess_scale_winrate`
    * derives BOTH its engine-side broadcast dim and its DuckDB oracle's
    * VALUES literal from it, so an edit here can never silently split
    * engine and oracle. Codes are ASCII lowercase alphanumerics by
    * contract (DimsSpec pins it): JVM UTF-16 ordering and DuckDB's
    * default collation agree on ASCII, so both engines derive the same
    * sorted-code index.
    */
  val resultSeed: Seq[(String, String, String)] = Seq(
    ("win", "Win", "Win"),
    ("checkmated", "Loss", "Checkmated"),
    ("agreed", "Draw", "Draw agreed"),
    ("repetition", "Draw", "Draw by repetition"),
    ("timeout", "Win", "Timeout"),
    ("resigned", "Loss", "Resigned"),
    ("stalemate", "Draw", "Stalemate"),
    ("lose", "Loss", "Lose"),
    ("insufficient", "Draw", "Insufficient material"),
    ("50move", "Draw", "Draw by 50-move rule"),
    ("abandoned", "Draw", "Abandoned"),
    ("kingofthehill", "Win", "Opponent king reached the hill"),
    ("threecheck", "Win", "Checked for the 3rd time"),
    ("timevsinsufficient", "Draw", "Draw by timeout vs insufficient material"),
    ("bughousepartnerlose", "Loss", "Bughouse partner lost"))

  def results(spark: SparkSession): DataFrame = {
    import spark.implicits._
    resultSeed.toDF("result_code", "result", "description")
  }
}
