package graft.plans

import graft.{SparkFixture, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Constraint-catalog + join-elimination coverage beyond the j1 parity
  * spec in SparkEntrySpec: uniqueness CREATED by grouping, multi-conjunct
  * conditions, the multi-path soundness gate, and catalog invalidation.
  */
class UniqueKeyJoinSpec extends AnyFunSuite with SparkFixture with Matchers {

  private def optimizedHasJoin(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.nonEmpty

  private def ruleOffRows(df: => DataFrame): Array[String] =
    withoutJoinElimination(df.collect().map(_.toString).sorted)

  test("grouped-unique: LEFT join against a DISTINCT-derived key is eliminated") {
    // dim is unique by CONSTRUCTION (single-expression aggregate), not by
    // declaration — the r10 tracer extension
    def q: DataFrame = {
      val dim = Tables.customer(spark, sf0001)
        .select(col("c_nationkey").as("nk")).distinct()
      Tables.customer(spark, sf0001)
        .join(dim, col("c_nationkey") === col("nk"), "left")
        .select(col("c_custkey"), col("c_name"))
    }
    withClue(q.queryExecution.optimizedPlan.toString) {
      optimizedHasJoin(q) shouldBe false
    }
    q.collect().map(_.toString).sorted shouldBe ruleOffRows(q)
  }

  test("grouped-unique: groupBy-key aggregate output is a unique join key") {
    def q: DataFrame = {
      val perCust = Tables.orders(spark, sf0001)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
      Tables.customer(spark, sf0001)
        .join(perCust, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_mktsegment"))
    }
    optimizedHasJoin(q) shouldBe false
    q.collect().map(_.toString).sorted shouldBe ruleOffRows(q)
  }

  test("multi-key: a unique equi-conjunct plus extra predicates still eliminates") {
    // one conjunct pins the declared-unique o_orderkey; the second can
    // only reject the single candidate, never add matches
    def q: DataFrame = Tables.lineitem(spark, sf0001)
      .join(Tables.orders(spark, sf0001),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_quantity") < col("o_totalprice"), "left")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    withClue(q.queryExecution.optimizedPlan.toString) {
      optimizedHasJoin(q) shouldBe false
    }
    q.collect().map(_.toString).sorted shouldBe ruleOffRows(q)
  }

  test("aggregate directly over the join is eliminated when it reads only the probe side") {
    // GROUP BY fact.x with unread dims: Catalyst inserts no Project
    // between Aggregate and Join, so the rule must match the Aggregate
    // consumer itself — count(*) is preserved because the unique key
    // bounds every probe row at exactly one output row
    def q: DataFrame = Tables.lineitem(spark, sf0001)
      .join(Tables.orders(spark, sf0001),
        col("l_orderkey") === col("o_orderkey"), "left")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))
    withClue(q.queryExecution.optimizedPlan.toString) {
      optimizedHasJoin(q) shouldBe false
    }
    q.collect().map(_.toString).sorted shouldBe ruleOffRows(q)
  }

  test("aggregate reading a dim column keeps the join (negative)") {
    val q = Tables.lineitem(spark, sf0001)
      .join(Tables.orders(spark, sf0001),
        col("l_orderkey") === col("o_orderkey"), "left")
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    optimizedHasJoin(q) shouldBe true
  }

  test("RIGHT OUTER mirror: unread unique-key left side is eliminated") {
    def q: DataFrame = Tables.orders(spark, sf0001)
      .join(Tables.lineitem(spark, sf0001),
        col("o_orderkey") === col("l_orderkey"), "right")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    withClue(q.queryExecution.optimizedPlan.toString) {
      optimizedHasJoin(q) shouldBe false
    }
    q.collect().map(_.toString).sorted shouldBe ruleOffRows(q)
  }

  test("two-key grouping does NOT mark either key unique alone — but the TUPLE is a key") {
    val two = Tables.orders(spark, sf0001)
      .groupBy(col("o_custkey"), col("o_orderstatus")).agg(count(lit(1)).as("c"))
    UniqueKeys.uniqueOutputAttrs(two.queryExecution.analyzed).isEmpty shouldBe true
    val keys = UniqueKeys.uniqueKeySets(two.queryExecution.analyzed)
    keys.map(_.map(_.name).toSet) shouldBe Seq(Set("o_custkey", "o_orderstatus"))
  }

  test("composite grouped key: join binding the FULL grouping tuple is eliminated") {
    def q: DataFrame = {
      val dim = Tables.orders(spark, sf0001)
        .groupBy(col("o_custkey").as("gc"), col("o_orderstatus").as("gs"))
        .agg(count(lit(1)).as("cnt"))
      Tables.orders(spark, sf0001)
        .join(dim, col("o_custkey") === col("gc") &&
          col("o_orderstatus") === col("gs"), "left")
        .select(col("o_orderkey"), col("o_totalprice"))
    }
    withClue(q.queryExecution.optimizedPlan.toString) {
      optimizedHasJoin(q) shouldBe false
    }
    q.collect().map(_.toString).sorted shouldBe ruleOffRows(q)
  }

  test("composite grouped key: PARTIAL binding keeps the join (negative)") {
    // only o_custkey bound — a (custkey, status) key with one column
    // bound can match several rows; eliminating would drop duplicates
    val dim = Tables.orders(spark, sf0001)
      .groupBy(col("o_custkey").as("gc"), col("o_orderstatus").as("gs"))
      .agg(count(lit(1)).as("cnt"))
    val q = Tables.orders(spark, sf0001)
      .join(dim, col("o_custkey") === col("gc"), "left")
      .select(col("o_orderkey"), col("o_totalprice"))
    optimizedHasJoin(q) shouldBe true
  }

  test("declared composite key: full-coverage join eliminated, partial kept, parity both ways") {
    // a genuinely composite-unique dim: the testdata's lineitem is only
    // TPC-H-ISH — (l_orderkey, l_linenumber) pairs DO repeat in it (a
    // first draft of this spec trusted the textbook PK and the parity
    // check caught the duplicated rows), so the key is made true by
    // construction with a dedup before writing
    val dir = java.nio.file.Files.createTempDirectory("uk-composite")
    val p = s"$dir/li.parquet"
    Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey").as("k_ord"), col("l_linenumber").as("k_line"),
        col("l_quantity").as("d_qty"))
      .dropDuplicates("k_ord", "k_line")
      .write.parquet(p)
    UniqueKeys.declareComposite(p, Seq("k_ord", "k_line"))
    try {
      UniqueKeys.keysFor(p) shouldBe Set(Set("k_ord", "k_line"))
      UniqueKeys.colsFor(p) shouldBe Set.empty // no column is unique ALONE
      def full: DataFrame = Tables.lineitem(spark, sf0001)
        .join(spark.read.parquet(p),
          col("l_orderkey") === col("k_ord") &&
            col("l_linenumber") === col("k_line"), "left")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      withClue(full.queryExecution.optimizedPlan.toString) {
        optimizedHasJoin(full) shouldBe false
      }
      full.collect().map(_.toString).sorted shouldBe ruleOffRows(full)
      // partial coverage: k_ord alone is NOT a key — join must survive
      val partial = Tables.lineitem(spark, sf0001)
        .join(spark.read.parquet(p), col("l_orderkey") === col("k_ord"), "left")
        .select(col("l_orderkey"), col("l_linenumber"))
      optimizedHasJoin(partial) shouldBe true
    } finally {
      UniqueKeys.undeclare(Some(dir.toString))
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("composite key survives projection only when EVERY member survives") {
    val dim = Tables.orders(spark, sf0001)
      .groupBy(col("o_custkey"), col("o_orderstatus")).agg(count(lit(1)).as("c"))
    val kept = dim.select(col("o_custkey").as("a"), col("o_orderstatus").as("b"))
    UniqueKeys.uniqueKeySets(kept.queryExecution.analyzed)
      .map(_.map(_.name).toSet) shouldBe Seq(Set("a", "b"))
    val dropped = dim.select(col("o_custkey"))
    UniqueKeys.uniqueKeySets(dropped.queryExecution.analyzed) shouldBe Nil
  }

  test("undeclare is path-boundary exact: /data/foo does not drop /data/foobar") {
    UniqueKeys.declare("/tmp/uk-bound/foo/t.parquet", Set("id"))
    UniqueKeys.declare("/tmp/uk-bound/foobar/t.parquet", Set("id"))
    UniqueKeys.undeclare(Some("/tmp/uk-bound/foo"))
    UniqueKeys.colsFor("/tmp/uk-bound/foo/t.parquet") shouldBe Set.empty
    UniqueKeys.colsFor("/tmp/uk-bound/foobar/t.parquet") shouldBe Set("id")
    UniqueKeys.undeclare(Some("/tmp/uk-bound"))
    UniqueKeys.colsFor("/tmp/uk-bound/foobar/t.parquet") shouldBe Set.empty
  }

  test("multi-path scan: declarations do not survive a two-path union read") {
    val dir = java.nio.file.Files.createTempDirectory("uk-multipath")
    val p1 = s"$dir/a.parquet"
    val p2 = s"$dir/b.parquet"
    val nat = Tables.nation(spark, sf0001)
    nat.write.parquet(p1)
    nat.write.parquet(p2)
    UniqueKeys.declare(p1, Set("n_nationkey"))
    UniqueKeys.declare(p2, Set("n_nationkey"))
    try {
      // each path alone IS unique, but their union duplicates every key:
      // honoring the declarations would delete a join that doubles rows
      def q: DataFrame = Tables.customer(spark, sf0001)
        .join(spark.read.parquet(p1, p2),
          col("c_nationkey") === col("n_nationkey"), "left")
        .select(col("c_custkey"))
      optimizedHasJoin(q) shouldBe true
      val n = Tables.customer(spark, sf0001).count()
      q.count() shouldBe 2 * n // every probe row matches in both replicas
      // single-path control: the same declaration IS honored
      def q1: DataFrame = Tables.customer(spark, sf0001)
        .join(spark.read.parquet(p1),
          col("c_nationkey") === col("n_nationkey"), "left")
        .select(col("c_custkey"))
      optimizedHasJoin(q1) shouldBe false
      q1.count() shouldBe n
    } finally {
      UniqueKeys.undeclare(Some(dir.toString))
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("Tables.invalidate drops matching constraint declarations") {
    val p = "/tmp/uk-invalidate-probe/t.parquet"
    UniqueKeys.declare(p, Set("id"))
    UniqueKeys.colsFor(p) shouldBe Set("id")
    Tables.invalidate(Some("/tmp/uk-invalidate-probe"))
    UniqueKeys.colsFor(p) shouldBe Set.empty
    // and the sf tables re-declare on next read (memo was untouched here)
    Tables.orders(spark, sf0001)
    UniqueKeys.colsFor(s"$sf0001/orders.parquet") shouldBe Set("o_orderkey")
  }
}
