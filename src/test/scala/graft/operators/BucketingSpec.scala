package graft.operators

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Co-located join via bucketing: writing lineitem and orders bucketed by
  * the join key removes the shuffle exchange from the join plan entirely,
  * and the bucketed join returns identical results.
  */
class BucketingSpec extends AnyFunSuite with Matchers with SparkFixture {
  import spark.implicits._

  test("bucketed fact-fact join runs without a shuffle exchange") {
    val li = graft.Tables.lineitem(spark, sf0001)
      .select($"l_orderkey", $"l_quantity", $"l_extendedprice")
    val ord = graft.Tables.orders(spark, sf0001)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")

    Bucketing.writeBucketed(li, "li_bucketed", "l_orderkey", 4)
    Bucketing.writeBucketed(ord, "ord_bucketed", "o_orderkey", 4)

    // force the shuffle-join path (at bench scale both sides are fact-size;
    // locally AQE would broadcast these small tables and hide the exchange)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plainJoin = li.join(ord, $"l_orderkey" === $"o_orderkey")
      val bucketedJoin = Bucketing.table(spark, "li_bucketed")
        .join(Bucketing.table(spark, "ord_bucketed"), $"l_orderkey" === $"o_orderkey")

      // sanity: the unbucketed plan shuffles, the bucketed one must not
      Bucketing.hasShuffle(plainJoin) shouldBe true
      Bucketing.hasShuffle(bucketedJoin) shouldBe false
      // and the bucketed SMJ trusts the 1-file-per-bucket sorted layout
      // (GraftSession sets the legacy outputOrdering conf; the aligned
      // write guarantees the precondition): no per-query re-sort of the
      // fact sides — at x1000 this is the 25.8 -> 18.2 s difference
      (bucketedJoin.queryExecution.executedPlan.toString
        should not).include("Sort [")

      bucketedJoin.count() shouldBe plainJoin.count()
      val a = bucketedJoin.agg(sum($"l_extendedprice" * $"o_totalprice")).head.getDouble(0)
      val b = plainJoin.agg(sum($"l_extendedprice" * $"o_totalprice")).head.getDouble(0)
      a shouldBe b +- math.abs(b) * 1e-12 // accumulation order differs
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("aggregation on the bucket key is also exchange-free") {
    val agg = Bucketing.table(spark, "li_bucketed")
      .groupBy($"l_orderkey").agg(sum($"l_quantity").as("q"))
    Bucketing.hasShuffle(agg) shouldBe false
    agg.count() should be > 0L
  }

  // a DETACHED external layout: written once, its catalog entry dropped
  // (external -> the files survive, unlike a managed DROP) — the on-disk
  // state a FRESH session faces when a previous JVM paid the write
  private lazy val extLoc: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-bucketing-ext")
    val loc = dir.resolve("li_ext").toString
    Bucketing.writeBucketedExternal(
      graft.Tables.lineitem(spark, sf0001).select($"l_orderkey", $"l_quantity"),
      "li_ext_seed", "l_orderkey", 4, loc)
    spark.sql("DROP TABLE li_ext_seed")
    loc
  }

  test("write records a sidecar; registerExternal re-registers a detached layout from it") {
    // managed writes record the sidecar at the managed location too
    Bucketing.readMeta(Bucketing.managedLocation(spark, "ord_bucketed")) shouldBe
      Some(Bucketing.BucketMeta(4, "o_orderkey"))
    Bucketing.readMeta(extLoc) shouldBe Some(Bucketing.BucketMeta(4, "l_orderkey"))
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(extLoc, "_SUCCESS")) shouldBe true
    spark.catalog.tableExists("li_ext_seed") shouldBe false
    Bucketing.registerExternal(spark, "li_reattached", extLoc)
    val again = Bucketing.table(spark, "li_reattached")
      .groupBy($"l_orderkey").agg(sum($"l_quantity").as("q"))
    Bucketing.hasShuffle(again) shouldBe false
    again.count() should be > 0L
  }

  test("registerExternal fails fast when the expected bucket count disagrees with disk") {
    spark.sql("DROP TABLE IF EXISTS li_misdeclared")
    // registering a 4-bucket layout as 2 buckets would silently drop every
    // file with bucket id >= 2 (~half the rows) — the API must refuse
    val ex = intercept[IllegalArgumentException] {
      Bucketing.registerExternal(spark, "li_misdeclared", extLoc, expect = Some(2))
    }
    ex.getMessage should include("refusing to register")
    spark.catalog.tableExists("li_misdeclared") shouldBe false
  }

  test("readMeta fails fast on a corrupt sidecar") {
    val metaPath = java.nio.file.Paths.get(extLoc, Bucketing.MetaFile)
    val bytes = java.nio.file.Files.readAllBytes(metaPath)
    java.nio.file.Files.write(metaPath,
      "{\"buckets\": garbage".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // a caller about to TRUST the layout must see the error, not a guess
    try intercept[RuntimeException] { Bucketing.readMeta(extLoc) }
      .getMessage should include("unparseable")
    finally java.nio.file.Files.write(metaPath, bytes)
  }

  test("registerExternal derives the count from part-file names when no sidecar exists") {
    val metaPath = java.nio.file.Paths.get(extLoc, Bucketing.MetaFile)
    val bytes = java.nio.file.Files.readAllBytes(metaPath)
    java.nio.file.Files.delete(metaPath) // emulate a pre-sidecar layout
    try {
      Bucketing.bucketIdsOnDisk(extLoc) shouldBe Seq(0, 1, 2, 3)
      spark.sql("DROP TABLE IF EXISTS li_presidecar")
      // no sidecar and no key → unrecoverable, must say so
      val ex = intercept[RuntimeException] {
        Bucketing.registerExternal(spark, "li_presidecar", extLoc)
      }
      ex.getMessage should include("keyFallback")
      Bucketing.registerExternal(spark, "li_presidecar", extLoc,
        keyFallback = Some("l_orderkey"), expect = Some(4))
      Bucketing.hasShuffle(Bucketing.table(spark, "li_presidecar")
        .groupBy($"l_orderkey").agg(count(lit(1)))) shouldBe false
      spark.sql("DROP TABLE li_presidecar")
    } finally java.nio.file.Files.write(metaPath, bytes)
  }

  test("ensureBucketed writes once, re-registers from disk, and matches the plain join") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bucketing-spec")
    val loc = dir.resolve("ord_b").toString
    def build = graft.Tables.orders(spark, sf0001)
      .select($"o_orderkey", $"o_custkey")
    val t1 = Bucketing.ensureBucketed(spark, "ord_ensure", loc, "o_orderkey", 4)(build)
    val n = t1.count()
    n shouldBe build.count()
    // drop only the catalog entry: ensure must recover from the files
    spark.sql("DROP TABLE ord_ensure")
    val t2 = Bucketing.ensureBucketed(spark, "ord_ensure", loc, "o_orderkey", 4)(
      sys.error("ensureBucketed must not rebuild an existing layout"))
    t2.count() shouldBe n
    // a wrong expected count on re-register fails instead of dropping rows
    spark.sql("DROP TABLE ord_ensure")
    intercept[IllegalArgumentException] {
      Bucketing.ensureBucketed(spark, "ord_ensure", loc, "o_orderkey", 8)(build)
    }
    spark.sql("DROP TABLE IF EXISTS ord_ensure")
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    import java.nio.file.{Files => F}
    F.createDirectories(to)
    F.list(from).forEach { p =>
      val t = to.resolve(p.getFileName)
      if (F.isDirectory(p)) copyTree(p, t) else F.copy(p, t)
    }
  }

  test("a stale layout can never serve old rows: slug layer, sidecar source layer, trust fail-fast") {
    import java.nio.file.{Files => F, Paths => P}
    val fixture = F.createTempDirectory("graft-fp-fixture").toString
    for (t <- Seq("lineitem", "orders", "customer", "supplier", "nation"))
      spark.read.parquet(s"$sf0001/$t.parquet")
        .write.mode("overwrite").parquet(s"$fixture/$t.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val slugA = graft.SparkEntry.layoutSlug(fixture, "lineitem.parquet", "orders.parquet")
    val rootA = P.get(s"/tmp/graft-bucketed/$slugA")
    var slugB = slugA
    try {
      // layout_bucketed_join writes its layouts under the input's slug,
      // and each sidecar records that fingerprint as its source
      val staleRows = rows(graft.SparkEntry.layoutBucketedJoin(spark, fixture))
      Bucketing.readMeta(rootA.resolve("ord_ok").toString)
        .flatMap(_.source) shouldBe Some(slugA)

      // REGENERATE the fixture (half the orders): the content fingerprint
      // moves, so the old layout's path is simply never read again
      spark.read.parquet(s"$sf0001/orders.parquet").filter($"o_orderkey" % 2 === 0)
        .write.mode("overwrite").parquet(s"$fixture/orders.parquet")
      graft.Tables.invalidate(Some(fixture)) // REFRESH after regen (TESTDATA.md contract)
      slugB = graft.SparkEntry.layoutSlug(fixture, "lineitem.parquet", "orders.parquet")
      slugB should not be slugA
      val fresh = rows(graft.SparkEntry.j4Roleplay(spark, fixture))
      fresh should not be staleRows

      // adversarial second layer: the STALE layout dirs reappear at the
      // CURRENT slug path (copied/renamed/restored-from-backup). Path
      // evidence alone would trust them — the sidecar source fingerprint
      // (slugA, recorded at write time) disagrees with the fixture's
      // current fingerprint (slugB), so the query fails fast instead of
      // serving the old corpus's rows
      val rootB = P.get(s"/tmp/graft-bucketed/$slugB")
      Seq("li_ok", "ord_ok").foreach(sub => copyTree(rootA.resolve(sub), rootB.resolve(sub)))
      val ex = intercept[IllegalArgumentException] {
        graft.SparkEntry.layoutBucketedJoin(spark, fixture)
      }
      ex.getMessage should include("stale bucketed layout")
      spark.catalog.tableExists(s"graft_li_ok_$slugB") shouldBe false
      // the same check at the lower-level trust point
      val staleOrd = rootB.resolve("ord_ok").toString
      intercept[IllegalArgumentException] {
        Bucketing.registerExternal(spark, "ord_stale_reg", staleOrd,
          expectSource = Some(slugB))
      }.getMessage should include("stale bucketed layout")
      spark.catalog.tableExists("ord_stale_reg") shouldBe false

      // once the stale dirs are gone the query rebuilds from the fresh
      // fixture and agrees with the exchange plan
      F.walk(rootB).sorted(java.util.Comparator.reverseOrder()).forEach(p => F.delete(p))
      rows(graft.SparkEntry.layoutBucketedJoin(spark, fixture)) shouldBe fresh
    } finally {
      for (sl <- Seq(slugA, slugB).distinct; t <- Seq("li_ok", "ord_ok"))
        spark.sql(s"DROP TABLE IF EXISTS graft_${t}_$sl")
      Seq(slugA, slugB).distinct.foreach { s =>
        val root = P.get(s"/tmp/graft-bucketed/$s")
        if (F.exists(root))
          F.walk(root).sorted(java.util.Comparator.reverseOrder())
            .forEach(p => F.delete(p))
      }
      graft.Tables.invalidate(Some(fixture))
    }
  }
}
