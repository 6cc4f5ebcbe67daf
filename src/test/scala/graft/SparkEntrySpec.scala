package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Contract-level checks of the driver surface: every query runs at
  * sf0.001, the flagship entry returns rows, and the oracle keys are
  * exactly the query names.
  */
class SparkEntrySpec extends AnyFunSuite with Matchers with SparkFixture {

  test("entry returns rows (driver smoke contract)") {
    SparkEntry.entry(spark).count() should be > 0L
  }

  test("every oracleSql key has a matching queries entry") {
    // both directions: a query without an oracle is never checked (a blank
    // oracle already fails SparkEntry.Query's construction)
    SparkEntry.oracleSql.keySet shouldBe SparkEntry.queries.keySet
  }

  /** The queries whose DataFrame construction submits Spark jobs at
    * sf0.001, each with the reason. Every other entry builds a lazy plan.
    */
  private val constructionJobs: Map[String, String] = {
    val cc = "connected-components labeling (bounded driver union-find or the iterative loop)"
    val queryCollect = "bounded collect of the query vectors"
    val ivf = "embeddings rowCount sizes nlist, then bounded centroid collects"
    val vocab = "token encoding's bounded top-24 vocab collect"
    val fixture = "writes its round-trip fixture once per input"
    Map(
      "ann_bruteforce" -> queryCollect,
      "ann_lsh" -> queryCollect,
      "ann_ivf" -> ivf,
      "ann_ivf_refined" -> ivf,
      "dedup_semantic" -> (ivf + " and the bounded hot-cell guard"),
      "dedup_clusters" -> cc,
      "dedup_clusters_star" -> cc,
      "dedup_keep" -> cc,
      "dedup_split_by_cluster" -> cc,
      "layout_bucketed_join" -> "writes its bucketed layout once per input",
      "pack_materialize" -> vocab,
      "text_token_ids" -> vocab,
      "sample_mix" -> "bounded collect of the per-group counts",
      "src_csv_roundtrip" -> fixture,
      "src_json_roundtrip" -> fixture,
      "src_orc_roundtrip" -> fixture)
  }

  private val ConstructTag = "graft.spec.construct"

  /** `body`'s result and the number of Spark jobs submitted while it ran. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(ConstructTag) != null))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(ConstructTag, "on")
    try {
      val out = body
      org.apache.spark.ListenerBusDrain(sc)
      (out, jobs.get)
    } finally {
      sc.setLocalProperty(ConstructTag, null)
      sc.removeSparkListener(listener)
    }
  }

  // each query starts from an empty memo, so the jobs its construction
  // submits do not depend on which query ran before it. The relations are
  // resolved before counting (parquet schema inference runs a job per
  // table). After the action, Tables.invalidate must release everything
  // the query left persisted
  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"query $name executes at sf0.001") {
      val sc = spark.sparkContext
      Tables.invalidate(Some(sf0001))
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")
        .foreach(Tables.read(spark, sf0001, _))
      val persisted = sc.getPersistentRDDs.size
      val (df, jobs) = jobsDuring(fn(spark, sf0001))
      withClue(s"$jobs jobs while building the DataFrame: ") {
        (jobs > 0) shouldBe constructionJobs.contains(name)
      }
      df.count()
      Tables.invalidate(Some(sf0001))
      withClue("persisted RDDs after the action and invalidate: ") {
        sc.getPersistentRDDs.size shouldBe persisted
      }
    }
  }

  test("j3PrefixMatch: length-banded equi-join (forced) agrees with the startsWith nested loop") {
    // smallBytes = 0 pins the banded large path, MaxValue the BNLJ small
    // path, on the same fixture — the equivalence the scale plan rests on
    // (text.startsWith(p) <=> substring(text, 1, length(p)) = p) checked
    // row-for-row, including null-opening docs and mid-token matches
    val docs = Tables.documents(spark, sf0001)
    val banded = SparkEntry.j3PrefixMatch(docs, smallBytes = 0L)
    val bnlj = SparkEntry.j3PrefixMatch(docs, smallBytes = Long.MaxValue)
    banded.count() shouldBe bnlj.count()
    banded.exceptAll(bnlj).count() shouldBe 0L
    bnlj.exceptAll(banded).count() shouldBe 0L
  }

  test("f17GapFill: one-exchange gap-fill (forced) agrees with the naive join spelling") {
    val ev = Tables.events(spark, sf0001)
    val oneExchange = SparkEntry.f17GapFill(ev, smallBytes = 0L)
    val naive = SparkEntry.f17GapFill(ev, smallBytes = Long.MaxValue)
    oneExchange.count() shouldBe naive.count()
    oneExchange.exceptAll(naive).count() shouldBe 0L
    naive.exceptAll(oneExchange).count() shouldBe 0L
  }

  test("f17GapFill large path: zero-gap generation — no join touches generated rows") {
    val plan = SparkEntry.f17GapFill(Tables.events(spark, sf0001), smallBytes = 0L)
      .queryExecution.executedPlan.toString
    plan should not include "Join"
    plan should include ("Generate")
    plan should include ("Window")
  }

  test("j1A1Rollup: both scale paths (forced) agree with the broadcast-star path") {
    // smallBytes = 0 pins a scale plan; probeBytes then picks which one:
    // MaxValue → broadcast-probe straight to s_nationkey slots, 0 → the
    // suppkey pre-aggregate. All three must agree row-for-row.
    val probe = SparkEntry.j1A1Rollup(spark, sf0001, smallBytes = 0L,
      probeBytes = Long.MaxValue)
    val pre = SparkEntry.j1A1Rollup(spark, sf0001, smallBytes = 0L,
      probeBytes = 0L)
    val star = SparkEntry.j1A1Rollup(spark, sf0001, smallBytes = Long.MaxValue)
    for (p <- Seq(probe, pre))
      p.schema.map(f => (f.name, f.dataType)) shouldBe
        star.schema.map(f => (f.name, f.dataType))
    probe.exceptAll(star).count() shouldBe 0L
    star.exceptAll(probe).count() shouldBe 0L
    pre.exceptAll(star).count() shouldBe 0L
    star.exceptAll(pre).count() shouldBe 0L
  }

  test("a2CountDistinct: persisted pair-dedup path (forced) agrees with the one-pass aggregate") {
    val dedup = SparkEntry.a2CountDistinct(spark, sf0001, smallBytes = 0L)
    val onePass = SparkEntry.a2CountDistinct(spark, sf0001, smallBytes = Long.MaxValue)
    dedup.exceptAll(onePass).count() shouldBe 0L
    onePass.exceptAll(dedup).count() shouldBe 0L
  }

  test("a11Percentiles: collect-sort small path (forced) agrees with the percentile aggregate") {
    // bit-identical doubles required (the oracle hashes values): same
    // sorted order, same IEEE interpolation arithmetic on both paths
    val collectSort = SparkEntry.a11Percentiles(spark, sf0001, smallBytes = Long.MaxValue)
    val percentileAgg = SparkEntry.a11Percentiles(spark, sf0001, smallBytes = 0L)
    collectSort.exceptAll(percentileAgg).count() shouldBe 0L
    percentileAgg.exceptAll(collectSort).count() shouldBe 0L
  }

  test("a6SketchAgg: large decomposition (forced) agrees with the small path") {
    // exact columns and tolerance bools must agree; the sketch VALUES (ap,
    // ao, am) are internal and partitioning-sensitive, which is exactly why
    // the query exports only their within-tolerance flags
    val split = SparkEntry.a6SketchAgg(spark, sf0001, smallBytes = 0L)
    val onePass = SparkEntry.a6SketchAgg(spark, sf0001, smallBytes = Long.MaxValue)
    split.exceptAll(onePass).count() shouldBe 0L
    onePass.exceptAll(split).count() shouldBe 0L
  }

  test("j4Roleplay: packed-exchange path (forced) agrees with the plain-join path") {
    val packed = SparkEntry.j4Roleplay(spark, sf0001, packedBytes = 0L)
    val plain = SparkEntry.j4Roleplay(spark, sf0001, packedBytes = Long.MaxValue)
    packed.collect().map(_.toString).sorted shouldBe
      plain.collect().map(_.toString).sorted
  }

  test("layout_bucketed_join: layout changes the plan, never the answer; join is exchange-free") {
    val bucketed = SparkEntry.queries("layout_bucketed_join")(spark, sf0001)
    val shipped = SparkEntry.queries("j4_roleplay_join")(spark, sf0001)
    bucketed.collect().map(_.toString).sorted shouldBe
      shipped.collect().map(_.toString).sorted
    // the fact-fact join consumes the bucket distribution: at most ONE
    // hash exchange survives in the final plan (the 625-group agg)
    val df = SparkEntry.queries("layout_bucketed_join")(spark, sf0001)
    df.collect()
    val planStr = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    "Exchange hashpartitioning".r.findAllIn(planStr).size should be <= 1
  }

  test("a6SketchAgg: an EMPTY relation yields one row, no error, on both forced paths (r12 ADVICE)") {
    // pre-fix the small path's positional median read raised
    // "SQL array indices start at 1" (lo = floor(-0.5) = -1 on zero rows)
    val dir = java.nio.file.Files.createTempDirectory("a6-empty").toString
    val s = spark
    import s.implicits._
    Seq.empty[(Long, Long, Double)]
      .toDF("l_partkey", "l_orderkey", "l_extendedprice")
      .write.parquet(s"$dir/lineitem.parquet")
    val small = SparkEntry.a6SketchAgg(spark, dir, smallBytes = Long.MaxValue).collect()
    val large = SparkEntry.a6SketchAgg(spark, dir, smallBytes = 0L).collect()
    small.map(_.toString) shouldBe large.map(_.toString)
    small.length shouldBe 1
    small.head.getLong(0) shouldBe 0L // exact_parts: 0, not NULL
    small.head.isNullAt(2) shouldBe true // exact_median_price: NULL like percentile()
  }

  test("j4Roleplay: packed path fails loudly on a nationkey outside the 5-bit domain") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("j4-guard").toString
    val s = spark
    import s.implicits._
    Seq((1L, 7L)).toDF("l_orderkey", "l_suppkey")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq((1L, 3L)).toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    // supplier nationkey 40: does not fit orderkey<<5 | nationkey
    Seq((7L, 40L)).toDF("s_suppkey", "s_nationkey")
      .write.parquet(s"$dir/supplier.parquet")
    Seq((3L, 1L)).toDF("c_custkey", "c_nationkey")
      .write.parquet(s"$dir/customer.parquet")
    Seq((1L, "A"), (40L, "Z")).toDF("n_nationkey", "n_name")
      .write.parquet(s"$dir/nation.parquet")
    val e = intercept[Exception] {
      SparkEntry.j4Roleplay(spark, dir, packedBytes = 0L).collect()
    }
    e.getMessage should include regex "(?s)nationkey outside"
  }

  test("q13Custdist: persisted sum-over-nonzero path (forced) agrees with the parallel-branch plan") {
    val large = SparkEntry.q13Custdist(spark, sf0001, smallBytes = 0L)
    val small = SparkEntry.q13Custdist(spark, sf0001, smallBytes = Long.MaxValue)
    large.exceptAll(small).count() shouldBe 0L
    small.exceptAll(large).count() shouldBe 0L
  }

  test("j1_star_join: eliminated plan agrees with the physical-join plan (rule off)") {
    val eliminated = SparkEntry.queries("j1_star_join")(spark, sf0001)
    val joined = withoutJoinElimination {
      val df = SparkEntry.queries("j1_star_join")(spark, sf0001)
      df.queryExecution.executedPlan.toString should include("Join")
      df.collect()
    }
    eliminated.collect().sortBy(_.toString).map(_.toString) shouldBe
      joined.sortBy(_.toString).map(_.toString)
  }

  test("text_pii_redact leaves no detectable PII behind") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("text_pii_redact")(spark, sf0001)
    out.filter(col("redacted").rlike("[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+") ||
        col("redacted").rlike("https?://[^ <]+") ||
        col("redacted").rlike("[0-9]{6,}"))
      .count() shouldBe 0L
  }

  test("chess_scale_winrate: engine dim and oracle VALUES both derive from Dims.resultSeed") {
    val seed = graft.chess.Dims.resultSeed
    // ASCII-lowercase-alphanumeric code contract: JVM UTF-16 ordering and
    // DuckDB's default collation agree on ASCII, so the sorted-code index
    // both sides derive is identical. A non-ASCII code would break that
    // silently — fail here instead.
    all(seed.map(_._1)) should fullyMatch regex "[a-z0-9]+"
    // the oracle's VALUES literal is generated from the constant — every
    // (code, result) pair must appear verbatim, and no extras
    val sql = SparkEntry.queries("chess_scale_winrate").oracle
    for ((c, r, _) <- seed) sql should include(s"('$c','$r')")
    "\\('([a-z0-9]+)','".r.findAllMatchIn(sql).map(_.group(1)).toSet shouldBe
      seed.map(_._1).toSet
    // and Dims.results serves exactly the constant
    val rows = graft.chess.Dims.results(spark).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    rows should contain theSameElementsAs seed
  }

  test("dedup_split_by_cluster: no cluster straddles the train/val boundary") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("dedup_split_by_cluster")(spark, sf0001)
    out.groupBy(col("component"))
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1)
      .count() shouldBe 0L
    // and both splits are populated at this sf (0.9/0.1 expected shares)
    out.select(countDistinct(col("split"))).head.getLong(0) shouldBe 2L
  }
}
