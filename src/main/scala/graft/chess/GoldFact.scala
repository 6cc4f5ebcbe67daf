package graft.chess

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Silver → gold fact assembly (python_scripts.py:491-603): the
  * my/opponent pivot CASEs, the referential star join, and the
  * latest-wins incremental merge.
  */
object GoldFact {

  /** The 17-column gold projection. `username` parameterizes the
    * reference's hard-coded 'Rhythmbear1' (quirk 7; comparisons stay
    * case-sensitive like the original). `lastUpdated` is the batch audit
    * timestamp (the templated `'{exec_date}'::TIMESTAMP`).
    */
  def project(silver: DataFrame, username: String,
              lastUpdated: java.sql.Timestamp): DataFrame = {
    val meWhite = col("pgn_white_user") === lit(username)
    silver.select(
      col("game_url"),
      col("game_date"),
      col("start_time"),
      col("end_time"),
      (unix_timestamp(col("end_time")) - unix_timestamp(col("start_time")))
        .cast("long").as("game_duration_secs"),
      ChessFunctions.formatTimeControl(col("time_control")).as("time_control"),
      when(meWhite, "white").otherwise("black").as("my_color"),
      when(meWhite, col("pgn_white_user")).otherwise(col("pgn_black_user")).as("my_username"),
      when(meWhite, col("pgn_black_user")).otherwise(col("pgn_white_user")).as("opponent_username"),
      when(meWhite, col("white_rating")).otherwise(col("black_rating")).as("my_rating"),
      when(meWhite, col("black_rating")).otherwise(col("white_rating")).as("opponent_rating"),
      when(meWhite, col("white_result")).otherwise(col("black_result")).as("my_result"),
      when(meWhite, col("black_result")).otherwise(col("white_result")).as("opponent_result"),
      col("pgn_current_position").as("game_fen"),
      col("pgn_eco_url").as("opening_url"),
      col("pgn_trans").as("game_pgn"),
      ChessFunctions.pgnDepth(col("pgn_trans")).as("moves"),
      lit(lastUpdated).as("last_updated"))
  }

  /** Referential-integrity star join (J1): left-join all four dims —
    * dim_results twice, role-playing — but project only fact columns.
    * [[Dims]] emits one row per key, so this is row-preserving and returns
    * `fact` unchanged; [[ChessPipeline.buildFact]] therefore skips it, and
    * the `chess_gold` query keeps it for parity with the reference.
    * Catalyst alone does not prune these joins: it cannot know a dim key is
    * unique. Where a dim's key is declared ([[graft.plans.UniqueKeys]]) or
    * its plan groups by that key, the optimizer's
    * [[graft.plans.EliminateUniqueKeyLeftJoin]] removes the join, since no
    * dim column survives the projection; otherwise every dim is broadcast
    * and joined.
    */
  def starJoin(fact: DataFrame, dimDate: DataFrame, dimOpenings: DataFrame,
               dimResults: DataFrame, dimTimeControl: DataFrame): DataFrame = {
    val factCols = fact.columns.map(c => col(s"fact.$c"))
    fact.as("fact")
      .join(broadcast(dimDate).as("dd"), col("fact.game_date") === col("dd.game_date"), "left")
      .join(broadcast(dimOpenings).as("do"),
        col("fact.opening_url") === col("do.pgn_eco_url"), "left")
      .join(broadcast(dimResults).as("drm"),
        col("fact.my_result") === col("drm.result_code"), "left")
      .join(broadcast(dimResults).as("dro"),
        col("fact.opponent_result") === col("dro.result_code"), "left")
      .join(broadcast(dimTimeControl).as("dtc"),
        col("fact.time_control") === col("dtc.time_control"), "left")
      .select(factCols: _*)
  }

  /** Latest-wins merge of a new batch into the cumulative fact (U2a + W1):
    * UNION ALL then row_number over game_url ordered by last_updated desc,
    * then by a source ordinal preferring the new batch. The reference's
    * ROW_NUMBER orders by last_updated alone, so a same-month re-run inside
    * one batch timestamp picks an arbitrary survivor; the ordinal makes the
    * merge deterministic (new batch wins ties) — a documented improvement,
    * not parity.
    *
    * Scale note (SURVEY.md §7.4/6): this is O(history) per merge by design
    * parity; on a partitioned gold table the union+window prunes to the
    * months present in the new batch before shuffling.
    */
  def merge(previous: DataFrame, batch: DataFrame): DataFrame = {
    val w = Window.partitionBy("game_url")
      .orderBy(desc("last_updated"), desc("src_ord"))
    previous.withColumn("src_ord", lit(0))
      .unionByName(batch.withColumn("src_ord", lit(1)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "src_ord")
  }
}
