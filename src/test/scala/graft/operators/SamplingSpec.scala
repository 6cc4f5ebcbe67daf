package graft.operators

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class SamplingSpec extends AnyFunSuite with Matchers with SparkFixture {
  import spark.implicits._

  private lazy val orders = graft.Tables.orders(spark, sf0001)

  test("weightedBernoulli: weight 0 drops all, weight 1 keeps all, determinism in between") {
    import org.apache.spark.sql.functions._
    Sampling.weightedBernoulli(orders, "o_orderkey", lit(0.0)).count() shouldBe 0L
    Sampling.weightedBernoulli(orders, "o_orderkey", lit(1.0)).count() shouldBe orders.count()
    // out-of-range weights clamp rather than misbehave
    Sampling.weightedBernoulli(orders, "o_orderkey", lit(7.5)).count() shouldBe orders.count()
    Sampling.weightedBernoulli(orders, "o_orderkey", lit(-3.0)).count() shouldBe 0L
    def keep = Sampling.weightedBernoulli(orders, "o_orderkey", lit(0.3))
      .select($"o_orderkey").as[Long].collect().toSet
    val once = keep
    keep shouldBe once // content-derived: identical keep-set on re-execution
    // expected fraction within a loose band
    val frac = once.size.toDouble / orders.count()
    frac should (be > 0.2 and be < 0.4)
  }

  test("mixToWeights rebalances toward targets, keeps the binding group whole") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.01")
    val out = Sampling.mixToWeights(docs, "lang", "doc_id",
      Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25))
    val got = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val src = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // unweighted languages are dropped entirely
    got.keySet shouldBe Set("en", "de", "fr")
    // the binding group (max count/weight deficit) survives whole
    val binding = Seq("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25)
      .minBy { case (g, w) => src(g).toDouble / w }._1
    got(binding) shouldBe src(binding)
    // realized proportions within sampling tolerance of the targets
    val total = got.values.sum.toDouble
    (got("en") / total) shouldBe 0.5 +- 0.1
    (got("de") / total) shouldBe 0.25 +- 0.08
    // deterministic: identical keep-set on re-execution
    def ids = Sampling.mixToWeights(docs, "lang", "doc_id",
      Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25))
      .select($"doc_id").as[Long].collect().toSet
    ids shouldBe ids
  }

  test("stratified respects the per-stratum quota and samples only input rows") {
    val out = Sampling.stratified(orders, "o_orderstatus", "o_orderkey", 10)
    val perStratum = out.groupBy("o_orderstatus").count().collect()
    perStratum.foreach(_.getLong(1) should be <= 10L)
    // every stratum with >= 10 source rows is filled to exactly the quota
    val sourceCounts = orders.groupBy("o_orderstatus").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perStratum.foreach { r =>
      val expected = math.min(10L, sourceCounts(r.getString(0)))
      r.getLong(1) shouldBe expected
    }
    out.count() shouldBe perStratum.map(_.getLong(1)).sum
  }

  test("stratified is deterministic: same sample on re-execution") {
    def ids = Sampling.stratified(orders, "o_orderstatus", "o_orderkey", 25)
      .select($"o_orderkey").as[Long].collect().toSet
    ids shouldBe ids
    val once = ids
    once shouldBe ids // independently re-planned job, identical rows
  }

  test("two-phase equals the single-phase window definition exactly") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(md5($"o_orderkey".cast("string")), $"o_orderkey")
    val single = orders.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 40).drop("rn")
      .select($"o_orderkey").as[Long].collect().sorted
    // smallBytes = 0 forces the two-phase path (the adaptive switch would
    // otherwise take the single-phase plan on this tiny input)
    val two = Sampling.stratified(orders, "o_orderstatus", "o_orderkey", 40,
        smallBytes = 0L)
      .select($"o_orderkey").as[Long].collect().sorted
    two shouldBe single
  }

  test("null keys rank first (single-phase definition) instead of silently vanishing") {
    import org.apache.spark.sql.functions._
    // 30 rows per stratum, 3 of them with a NULL key: a 10-quota sample
    // must contain all 3 nulls (nulls-first rank) + the 7 lowest md5 ranks
    val rows = (for (s <- Seq("a", "b"); i <- 1 to 30) yield
      (s, if (i <= 3) None else Some(s"$s-$i"))).toDF("src", "k")
    val out = Sampling.stratified(rows, "src", "k", 10, smallBytes = 0L)
    out.groupBy("src").count().collect().foreach(_.getLong(1) shouldBe 10L)
    out.filter($"k".isNull).groupBy("src").count().collect()
      .foreach(_.getLong(1) shouldBe 3L)
    // and the non-null survivors are exactly the single-phase top-7
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("src").orderBy(md5($"k".cast("string")), $"k")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select($"src", $"k").collect()
        .map(r => (r.getString(0), Option(r.getString(1)).getOrElse(""))).sorted
    val single = pairs(rows.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 10).drop("rn"))
    pairs(out) shouldBe single
  }

  test("stratified pins no storage after the caller releases the result") {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val baseline = sc.getPersistentRDDs.size
    (1 to 2).foreach { _ =>
      val out = Sampling.stratified(orders, "o_orderstatus", "o_orderkey", 10)
      out.count()
      out.unpersist(blocking = true) // a lazy plan: releasing it is a no-op
      sc.getPersistentRDDs.size shouldBe baseline // survivor cache released internally
    }
  }

  test("near-unique stratum: small path handles it; two-phase fails fast before broadcast OOM") {
    // small path (stats under smallBytes): stratum == key ⟹ every stratum
    // is a singleton, quota 1 keeps all rows — a plain window, no guard
    val out = Sampling.stratified(orders, "o_orderkey", "o_orderkey", 1)
    out.count() shouldBe orders.count()
    // two-phase path (forced): thresholds must broadcast, so unbounded
    // strata fail fast with a named error instead of an opaque OOM
    val ex = intercept[IllegalArgumentException] {
      Sampling.stratified(orders, "o_orderkey", "o_orderkey", 1,
        smallBytes = 0L, maxStrata = 100)
    }
    ex.getMessage should include("distinct values")
  }

  test("underfill fallback: a starving threshold still yields the exact sample") {
    // oversample 0.01 drives the md5 threshold far below the quota, so
    // every stratum takes the full-row fallback path — output must STILL
    // equal the single-phase definition (exactness is unconditional)
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(md5($"o_orderkey".cast("string")), $"o_orderkey")
    val single = orders.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 10).drop("rn")
      .select($"o_orderkey").as[Long].collect().sorted
    val starved = Sampling.stratified(orders, "o_orderstatus", "o_orderkey", 10,
      oversample = 0.01, smallBytes = 0L)
      .select($"o_orderkey").as[Long].collect().sorted
    starved shouldBe single
  }

  test("zero-survivor stratum under a binding threshold still yields the exact sample") {
    // quota 1, oversample ~0: thresholds bind hard; strata whose every row
    // hashes above the threshold vanish from the cut entirely and must be
    // resurrected by the thr-left-join guard (not just the short-count path)
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(md5($"o_orderkey".cast("string")), $"o_orderkey")
    val single = orders.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 1).drop("rn")
      .select($"o_orderkey").as[Long].collect().sorted
    val got = Sampling.stratified(orders, "o_orderstatus", "o_orderkey", 1,
      oversample = 1e-9, smallBytes = 0L)
      .select($"o_orderkey").as[Long].collect().sorted
    got shouldBe single
  }
}
