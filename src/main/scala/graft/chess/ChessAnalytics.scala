package graft.chess

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The analytics layer the reference computes outside the repo (Power BI
  * DAX measures, README.md:29-33) and in the dev notebook (test.ipynb cells
  * 14-15, 26), expressed as DataFrame views over the gold star schema.
  * Win/loss/draw rates are conditional aggregations over
  * fact ⋈ dim_results — one shuffle per rollup, broadcast dim join.
  */
object ChessAnalytics {

  /** fact joined to the outcome of my_result (Win/Loss/Draw). */
  def withOutcome(fact: DataFrame, dimResults: DataFrame): DataFrame =
    fact.join(broadcast(dimResults),
      fact("my_result") === dimResults("result_code"), "left")

  private def rates(grouped: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
    grouped.agg(
      count(lit(1)).as("games"),
      sum(when(col("result") === "Win", 1).otherwise(0)).as("wins"),
      sum(when(col("result") === "Loss", 1).otherwise(0)).as("losses"),
      sum(when(col("result") === "Draw", 1).otherwise(0)).as("draws"),
      avg(when(col("result") === "Win", 1.0).otherwise(0.0)).as("win_rate"))

  /** Win rate by opening family (the reference's headline dashboard,
    * README.md:30): fact → dim_openings family → outcome rollup.
    */
  def winRateByOpeningFamily(fact: DataFrame, dimOpenings: DataFrame,
                             dimResults: DataFrame): DataFrame =
    rates(withOutcome(fact, dimResults)
      .join(broadcast(dimOpenings), fact("opening_url") === dimOpenings("pgn_eco_url"), "left")
      .groupBy(col("opening_family")))
      .orderBy(desc("games"))

  /** Win rate by my_color and time_class (dim_time_control join). */
  def winRateByColorAndClass(fact: DataFrame, dimTimeControl: DataFrame,
                             dimResults: DataFrame): DataFrame =
    rates(withOutcome(fact, dimResults)
      .join(broadcast(dimTimeControl),
        fact("time_control") === dimTimeControl("time_control"), "left")
      .groupBy(col("my_color"), col("time_class")))

  /** Monthly trend: games and win rate per calendar month. */
  def monthlyTrend(fact: DataFrame, dimResults: DataFrame): DataFrame =
    rates(withOutcome(fact, dimResults)
      .groupBy(date_trunc("month", col("game_date")).cast("date").as("month")))
      .orderBy("month")

  /** Rating progression: last rating per day (latest end_time wins). */
  def ratingByDay(fact: DataFrame): DataFrame =
    fact.groupBy(col("game_date"))
      .agg(max_by(col("my_rating"), col("end_time")).as("end_of_day_rating"),
        count(lit(1)).as("games"))
      .orderBy("game_date")

  /** Opening family frequencies (test.ipynb cell 15: GROUP BY + count). */
  def openingFamilyCounts(dimOpenings: DataFrame): DataFrame =
    dimOpenings.groupBy(col("opening_family")).count().orderBy(desc("count"))

  /** Movetext line search (test.ipynb cell 14: `pgn_trans LIKE '%1. e4 e6%'`):
    * games whose numbered movetext contains the given line fragment.
    */
  def searchGamesByLine(fact: DataFrame, line: String): DataFrame =
    fact.filter(col("game_pgn").contains(line))
      .select(col("game_url"), col("game_date"), col("my_color"),
        col("my_result"), col("opening_url"))

  /** Register the star schema and the analytic rollups as SQL temp views,
    * so any SQL client of the session (the Power BI role in the reference)
    * can query `fact_games`, `dim_*`, `win_rate_by_family`, … directly.
    */
  def registerViews(pipe: ChessPipeline): Unit = {
    // each gold table is read once and shared by every view over it
    val fact = pipe.fact
    val dimOpenings = pipe.dimOpenings
    val dimResults = pipe.dimResults
    val dimTimeControl = pipe.dimTimeControl
    fact.createOrReplaceTempView("fact_games")
    dimOpenings.createOrReplaceTempView("dim_openings")
    pipe.dimDate.createOrReplaceTempView("dim_date")
    dimResults.createOrReplaceTempView("dim_results")
    dimTimeControl.createOrReplaceTempView("dim_time_control")
    winRateByOpeningFamily(fact, dimOpenings, dimResults)
      .createOrReplaceTempView("win_rate_by_family")
    winRateByColorAndClass(fact, dimTimeControl, dimResults)
      .createOrReplaceTempView("win_rate_by_color_class")
    monthlyTrend(fact, dimResults).createOrReplaceTempView("monthly_trend")
    ratingByDay(fact).createOrReplaceTempView("rating_by_day")
  }
}
