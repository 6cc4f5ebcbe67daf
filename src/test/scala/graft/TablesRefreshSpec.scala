package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the REFRESH contract of [[Tables.memo]]: after a dir's tables are
  * rewritten, `Tables.invalidate(Some(dir))` must make every query over
  * that dir answer from the new rows (state derived from the tables —
  * the token encoding, the round-trip fixtures — included), exactly as a
  * fresh dir holding the same rows does.
  */
class TablesRefreshSpec extends AnyFunSuite with SparkFixture {

  private val queries =
    Seq("text_token_ids", "src_orc_roundtrip", "src_csv_roundtrip", "src_json_roundtrip")

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Two generations of the four tables the queries read: the same words
    * at different frequencies, and different customer, nation and
    * supplier rows, so a stale vocabulary or fixture gives a different
    * answer from the fresh one.
    */
  private def write(dir: String, gen: Int): Unit = {
    val (text1, text2, seg, bal) =
      if (gen == 1) ("a a a b b c", "a b", "seg1", 10.0)
      else ("a b b b c c", "c b", "seg2", 20.0)
    def put(name: String, sql: String): Unit =
      spark.sql(sql).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    put("documents",
      s"""SELECT CAST(id AS BIGINT) AS doc_id,
         |       IF(id = 1, '$text1', '$text2') AS text
         |FROM range(1, 3)""".stripMargin)
    put("customer",
      s"""SELECT CAST(id AS BIGINT) AS c_custkey,
         |       IF(id < $gen + 1, '$seg', 'segx') AS c_mktsegment,
         |       $bal + id AS c_acctbal
         |FROM range(1, 4)""".stripMargin)
    put("nation",
      s"""SELECT CAST(id AS INT) AS n_nationkey, concat('n', id + $gen) AS n_name,
         |       CAST(id % $gen AS INT) AS n_regionkey
         |FROM range(0, 3)""".stripMargin)
    put("supplier",
      s"""SELECT CAST(id AS BIGINT) AS s_suppkey,
         |       CAST(id % $gen AS INT) AS s_nationkey, $bal * id AS s_acctbal
         |FROM range(1, 4)""".stripMargin)
  }

  private def rows(q: String, dir: String): Seq[String] =
    SparkEntry.queries(q)(spark, dir).collect().map(_.toString).toSeq.sorted

  test("invalidate refreshes every entry derived from a rewritten dir") {
    val dir = tmpDir("tables-refresh")
    write(dir, 1)
    val before = queries.map(q => q -> rows(q, dir)).toMap
    write(dir, 2)
    Tables.invalidate(Some(dir))
    val fresh = tmpDir("tables-refresh-fresh")
    write(fresh, 2)
    try for (q <- queries) {
      val want = rows(q, fresh)
      assert(want !== before(q), s"$q: the generations must differ")
      assert(rows(q, dir) === want, s"$q after invalidate")
    } finally {
      Tables.invalidate(Some(dir))
      Tables.invalidate(Some(fresh))
    }
  }

  test("a cold rowCount (a build that reads another entry) returns") {
    val dir = tmpDir("tables-refresh-count")
    write(dir, 2)
    try assert(Tables.rowCount(spark, dir, "customer") === 3L)
    finally Tables.invalidate(Some(dir))
  }

  test("invalidate matches dirs on directory boundaries") {
    val root = tmpDir("tables-refresh-prefix")
    val (a, ab) = (s"$root/a", s"$root/ab")
    write(a, 1)
    write(ab, 1)
    try {
      val kept = Tables.read(spark, ab, "nation")
      val dropped = Tables.read(spark, a, "nation")
      Tables.invalidate(Some(a))
      assert(Tables.read(spark, ab, "nation") eq kept)
      assert(!(Tables.read(spark, a, "nation") eq dropped))
    } finally Tables.invalidate(Some(root))
  }
}
