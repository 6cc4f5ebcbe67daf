package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.{SparkFixture, Tables}

/** The three spellings of text_edit_distance emit ONE set of
  * (doc_a, doc_b, edit_dist) rows (ADVICE r15: the equivalence must be
  * CI-enforced, not lab-only):
  *
  *  - small path (r16): plain bucket self-join, `doc_l < doc_r` cut;
  *  - scale path (r15): hash blocks over broadcast bucket counts —
  *    same-block pairs keep the `<` cut, cross-block pairs meet exactly
  *    once in ARBITRARY orientation and are normalized via
  *    least/greatest, so the orientation reasoning is exactly what this
  *    spec pins;
  *  - the pre-r15 row_number-window block assignment (reproduced here
  *    verbatim, as in TedLab) — the historical reference spelling.
  *
  * Runs on the sf0.001 fixture AND on a synthetic corpus with one hot
  * bucket sized to span many hash blocks (the cross-block regime the
  * fixture's small buckets barely reach). The r16 TedLab runs re-pinned
  * the same equality by checksum at x100/x1000 (tools/sweeps/tedlab_*).
  */
class TedEquivalenceSpec extends AnyFunSuite with Matchers with SparkFixture {

  private def windowBlocks(docs: DataFrame): DataFrame = {
    val norm = TextAnalysis.normalizedText(substring(col("text"), 1, 128))
    val t = docs.select(col("doc_id"),
      substring(norm, 1, 32).as("prefix"), substring(norm, 1, 8).as("bucket"))
      .withColumn("__sig", graft.functions.TextFunctions.hist_sig16(col("prefix")))
    val blockLen = 64
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("doc_id"))
    val blocked = t
      .withColumn("__blk", ((row_number().over(wB) - 1) / blockLen).cast("int"))
      .withColumn("__nblk", ((count(lit(1)).over(wB.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing))
        + blockLen - 1) / blockLen).cast("int"))
    val left = blocked
      .withColumn("__j", explode(sequence(col("__blk"), col("__nblk") - 1)))
      .select(col("doc_id").as("doc_a"), col("prefix").as("pa"),
        col("__sig").as("sa"), col("bucket"), col("__j"))
    val right = blocked
      .select(col("doc_id").as("doc_b"), col("prefix").as("pb"),
        col("__sig").as("sb"), col("bucket"), col("__blk").as("__j"))
    left.join(right, Seq("bucket", "__j")).filter(col("doc_a") < col("doc_b"))
      .filter(graft.functions.TextFunctions.hist_l1(col("sa"), col("sb")) <= 16)
      .select(col("doc_a"), col("doc_b"),
        graft.functions.TextFunctions.bounded_levenshtein(
          col("pa"), col("pb"), 8).as("edit_dist"))
      .filter(col("edit_dist") <= 8)
  }

  private def sortedRows(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(identity).toSeq

  private def checkAll(docs: DataFrame): Unit = {
    val small = sortedRows(TextAnalysis.editDistancePairs(docs,
      smallBytes = Long.MaxValue))
    val blocks = sortedRows(TextAnalysis.editDistancePairs(docs,
      smallBytes = 0L))
    val window = sortedRows(windowBlocks(docs))
    small should not be empty // vacuous equality proves nothing
    blocks shouldBe small
    window shouldBe small
  }

  test("sf0.001 fixture: small path ≡ hash blocks ≡ window blocks") {
    checkAll(Tables.documents(spark, sf0001))
  }

  test("synthetic hot bucket spanning many hash blocks: all spellings agree") {
    // one bucket of 600 near-dup docs (> 9 blocks of 64) so cross-block
    // pairs dominate, plus a second small bucket and distance-9 chaff
    // that must NOT pair with anything
    val s: SparkSession = spark
    import s.implicits._
    val hot = (0L until 600L).map { i =>
      (i, s"customer record numero ${i % 7} alpha")
    }
    val cool = (1000L until 1020L).map { i =>
      (i, s"supplier row ${i % 3} beta gamma")
    }
    val chaff = (2000L until 2010L).map { i =>
      (i, s"zzz${i}qqqqqqqqqqqqqqqqqqqqqqqqqqq")
    }
    val docs = (hot ++ cool ++ chaff).toDF("doc_id", "text")
    checkAll(docs)
  }
}
