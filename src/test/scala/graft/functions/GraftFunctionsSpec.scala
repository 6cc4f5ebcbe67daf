package graft.functions

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The native expressions by their SQL names, as every GraftSession
  * registers them ([[graft.plans.GraftPlanExtensions]]).
  */
class GraftFunctionsSpec extends AnyFunSuite with Matchers with SparkFixture {

  test("registered SQL functions are callable from spark.sql") {
    val row = spark.sql(
      """SELECT
        | graft_vec_dot(array(cast(1.0 as float), cast(2.0 as float)),
        |               array(cast(3.0 as float), cast(4.0 as float))) AS d,
        | graft_vec_norm(array(cast(3.0 as float), cast(4.0 as float))) AS n,
        | round(graft_vec_cosine(array(cast(1.0 as float), cast(0.0 as float)),
        |                        array(cast(1.0 as float), cast(0.0 as float))), 9) AS c,
        | graft_shingles('a b c d', 3) AS sh,
        | graft_simhash16('hello world') AS sim,
        | graft_rolling_hash('abc') AS rh""".stripMargin).head
    row.getDouble(0) shouldBe 11.0
    row.getDouble(1) shouldBe 5.0
    row.getDouble(2) shouldBe 1.0
    row.getSeq[String](3) shouldBe Seq("a b c", "b c d")
    row.getLong(5) shouldBe 96354L // ((0*31+97)%p*31+98)%p*31+99 % p
  }

  test("functions work over a SQL view of a real table") {
    graft.Tables.embeddings(spark, sf0001).createOrReplaceTempView("emb_v")
    val n = spark.sql(
      """SELECT count(*) FROM emb_v a JOIN emb_v b ON a.vec_id = b.vec_id - 1
        |WHERE graft_vec_cosine(a.embedding, b.embedding) > -2""".stripMargin)
      .head.getLong(0)
    n should be > 0L
  }
}
