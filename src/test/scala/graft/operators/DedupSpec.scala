package graft.operators

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class DedupSpec extends AnyFunSuite with Matchers with SparkFixture {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),    // exact dup of 1
    (3L, "The quick brown fox jumps over the lazy dog!"),   // normalized dup of 1
    (4L, "the quick brown fox jumps over the sleepy dog"),  // near dup (1 word)
    (5L, "completely different content with no overlap at all here")
  ).toDF("doc_id", "text")

  test("exactGroups collapses byte-identical docs, keeps min id") {
    val g = Dedup.exactGroups(docs).collect()
    g.length shouldBe 4
    val dup = g.find(_.getLong(1) == 2L).get
    dup.getLong(2) shouldBe 1L // keep_id = min(doc_id)
  }

  test("normalizedGroups also collapses case/punct variants") {
    val g = Dedup.normalizedGroups(docs)
    g.count() shouldBe 3
    g.filter($"n_dups" === 3).select($"keep_id").head.getLong(0) shouldBe 1L
  }

  test("jaccardPairs finds the near-dup pair and only it") {
    val pairs = Dedup.jaccardPairs(docs.filter($"doc_id".isin(1L, 4L, 5L)),
      k = 3, threshold = 0.4).collect()
    pairs.length shouldBe 1
    (pairs(0).getLong(0), pairs(0).getLong(1)) shouldBe ((1L, 4L))
    // 1 and 4 share 5 of their 7+7 3-shingles: J = 5/9
    pairs(0).getDouble(2) shouldBe 5.0 / 9.0 +- 1e-12
  }

  test("containmentPairs: a contained doc scores 1.0 where jaccard only sees the size ratio") {
    // doc 11 = w1..w12, doc 12 = w1..w8: every 5-shingle of 12 is a
    // shingle of 11 (containment 1.0), but jaccard = 4/8 = 0.5
    val corpus = Seq(
      (11L, (1 to 12).map(i => s"w$i").mkString(" ")),
      (12L, (1 to 8).map(i => s"w$i").mkString(" ")),
      (13L, "entirely unrelated content words here with nothing shared at all")
    ).toDF("doc_id", "text")
    val arr = Dedup.docShingleHashes(corpus, k = 5)
    val got = Dedup.containmentPairsFromArr(arr, threshold = 0.9).collect()
    got.length shouldBe 1
    val r = got(0)
    (r.getLong(0), r.getLong(1)) shouldBe ((11L, 12L))
    (r.getLong(2), r.getLong(3)) shouldBe ((8L, 4L)) // |A|=8, |B|=4 shingles
    r.getDouble(4) shouldBe 1.0
    // the same pair is invisible to jaccard at any threshold above 0.5
    Dedup.jaccardPairsFromArr(arr, threshold = 0.6).count() shouldBe 0L
  }

  test("thresholdSweep: monotone retention curve, zero-retention cutoffs reported") {
    // doc 11 ⊃ doc 12 with jaccard 4/8 = 0.5; doc 13 unrelated → exactly
    // one candidate pair, visible at t ≤ 0.5, gone (but REPORTED 0) above
    val corpus = Seq(
      (11L, (1 to 12).map(i => s"w$i").mkString(" ")),
      (12L, (1 to 8).map(i => s"w$i").mkString(" ")),
      (13L, "entirely unrelated content words here with nothing shared at all")
    ).toDF("doc_id", "text")
    val stats = Dedup.pairStatsFromArr(Dedup.docShingleHashes(corpus, k = 5))
    val got = Dedup.thresholdSweep(stats, thresholds = Seq(0.2, 0.5, 0.8))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    got shouldBe Map(0.2 -> 1L, 0.5 -> 1L, 0.8 -> 0L)
  }

  test("minhashLshDedup candidates find high-jaccard pairs (exact docs always)") {
    val out = Dedup.minhashLshDedup(docs, k = 3, numPerm = 16, bands = 8, threshold = 0.9)
      .collect()
    // identical docs 1/2 share every shingle -> every band collides -> jaccard 1.0
    out.map(r => (r.getLong(0), r.getLong(1))) should contain((1L, 2L))
    out.foreach(_.getDouble(2) should be >= 0.9)
  }

  test("lshCandidates band df-cut: generous cap is a no-op, tight cap bounds degenerate buckets") {
    def cand(d: org.apache.spark.sql.DataFrame, maxBucket: Long) =
      Dedup.lshCandidates(Dedup.docShingleHashes(d, 3), 16, 8, maxBucket)
    val uncapped = cand(docs, Long.MaxValue).as[(Long, Long)].collect().toSet
    val generous = cand(docs, 1000L).as[(Long, Long)].collect().toSet
    generous shouldBe uncapped // cap above any real bucket changes nothing
    // degenerate corpus: 100 identical docs -> every band puts all 100 in one
    // bucket -> uncapped candidate count is 100*99/2; a df-cut drops the
    // bucket entirely (it carries no near-dup signal), bounding the join
    val flood = (1L to 100L).map(i => (i, "same boilerplate text everywhere"))
      .toDF("doc_id", "text")
    cand(flood, Long.MaxValue).count() shouldBe 4950L
    cand(flood, 10L).count() shouldBe 0L
  }

  test("dropOverCapKeys removes exactly the rows of over-cap keys") {
    import spark.implicits._
    val df = Seq.tabulate(20)(i => (i.toLong, if (i < 12) "hot" else s"k$i"))
      .toDF("id", "k")
    val out = Dedup.dropOverCapKeys(df, Seq("k"), cap = 5L)
    out.count() shouldBe 8L
    out.filter($"k" === "hot").count() shouldBe 0L
    // cap at/above the max multiplicity is a no-op
    Dedup.dropOverCapKeys(df, Seq("k"), cap = 12L).count() shouldBe 20L
  }

  test("jaccardPairs posting df-cut: an over-cap shingle alone generates no pair") {
    import spark.implicits._
    // two docs share ONLY one 3-shingle ("x y z"); with the cut at 1 the
    // shared posting is degenerate -> no candidate, no pair
    val docs = Seq(
      (1L, "x y z a b c d"),
      (2L, "x y z p q r s")).toDF("doc_id", "text")
    Dedup.jaccardPairs(docs, k = 3, threshold = 0.01, maxPostings = 1L)
      .count() shouldBe 0L
    Dedup.jaccardPairs(docs, k = 3, threshold = 0.01, maxPostings = 2L)
      .count() shouldBe 1L
  }

  test("jaccardPairs under a BINDING maxPostings matches the mirrored oracle semantics") {
    import spark.implicits._
    // the oracle CTE (SparkEntry.JaccardPrCte) defines the capped
    // semantics: over-cap shingles are excluded from INTERSECTIONS, per-doc
    // set sizes stay FULL-universe. This corpus makes the cap bind:
    // "x y z" is shared by all 3 docs (3 postings > cap 2); docs 1,2 also
    // share the under-cap shingles "y z a" and "z a b".
    val docs = Seq(
      (1L, "x y z a b c"), // shingles: xyz yza zab abc
      (2L, "x y z a b d"), // shingles: xyz yza zab abd
      (3L, "x y z q r s")  // shingles: xyz yzq zqr qrs
    ).toDF("doc_id", "text")
    val capped = Dedup.jaccardPairs(docs, k = 3, threshold = 0.01, maxPostings = 2L)
      .collect()
    // (1,3) and (2,3) share ONLY the over-cap shingle -> no candidate at all
    capped.length shouldBe 1
    (capped(0).getLong(0), capped(0).getLong(1)) shouldBe ((1L, 2L))
    // inter = 2 (xyz cut), sizes stay 4 and 4 -> 2/(4+4-2) = 1/3: a LOWER
    // bound of the true 3/5, exactly the hp/szh split the oracle mirrors
    capped(0).getDouble(2) shouldBe 1.0 / 3.0 +- 1e-12
    val uncapped = Dedup.jaccardPairs(docs, k = 3, threshold = 0.01, maxPostings = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    uncapped((1L, 2L)) shouldBe 3.0 / 5.0 +- 1e-12
    uncapped((1L, 3L)) shouldBe 1.0 / 7.0 +- 1e-12
  }

  test("DefaultMaxPostings is non-binding on the oracled testdata") {
    // the oracled queries run the cap at DefaultMaxPostings; this guard
    // proves no shingle in the driver corpus comes near it, so the capped
    // and uncapped semantics coincide in every oracled run
    val arr = Dedup.docShingleHashes(graft.Tables.documents(spark, sf0001), k = 5)
    val maxDf = arr.select(explode($"hs").as("h31"))
      .groupBy($"h31").count().agg(max($"count")).head.getLong(0)
    maxDf should be < Dedup.DefaultMaxPostings
  }

  test("incremental LSH: batch-vs-corpus pairs only, index reused across probes") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (1L, base), (2L, base + " lambda"), (3L, "totally different words here entirely now ok fine")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base),                    // near-dup of corpus 1 and 2
      (11L, "nothing in common with anything else at all whatsoever")
    ).toDF("doc_id", "text")
    val (arrIdx, bandIdx) = Dedup.lshIndex(corpus, k = 3, numPerm = 16, bands = 4)
    try {
      val out = Dedup.nearDupsAgainstIndex(batch, arrIdx, bandIdx,
        k = 3, numPerm = 16, bands = 4, threshold = 0.5)
      val pairs = out.select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      pairs should contain((1L, 10L))
      // every reported pair is corpus × batch — never within one side
      pairs.foreach { case (a, b) =>
        a % 10 should not be 0
        withClue(s"batch side of ($a,$b): ") { b shouldBe 10L +- 5L }
      }
      // a second batch probes the SAME index (no corpus re-hash): results
      // are consistent and the index caches are still registered
      val out2 = Dedup.nearDupsAgainstIndex(
        Seq((20L, base + " lambda")).toDF("doc_id", "text"), arrIdx, bandIdx,
        k = 3, numPerm = 16, bands = 4, threshold = 0.5)
      out2.select($"doc_a").as[Long].collect().toSet should contain(2L)
    } finally {
      arrIdx.unpersist(blocking = true)
      bandIdx.unpersist(blocking = true)
    }
  }

  test("dedup operators pin no storage across repeated invocations (cache-leak lifecycle)") {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val baseline = sc.getPersistentRDDs.size
    (1 to 3).foreach { _ =>
      val pairs = Dedup.minhashLshDedup(docs, k = 3, numPerm = 16, bands = 8, threshold = 0.9)
      pairs.count()
      val clusters = Dedup.duplicateClusters(pairs)
      clusters.count()
      Dedup.jaccardPairs(docs, k = 3, threshold = 0.4).count()
      // the pair operators are lazy plans with nothing to release; the CC
      // labeling comes back persisted, and the caller releases it
      clusters.unpersist(blocking = true)
      // nothing else — no shingle cache, no bands cache, no localCheckpoint
      // blocks — may survive the call
      sc.getPersistentRDDs.size shouldBe baseline
    }
  }

  test("dedupCorpus keeps one representative per cluster and passes singletons") {
    val pairs = Dedup.jaccardPairs(docs, k = 3, threshold = 0.9) // only (1,2)
    val out = Dedup.dedupCorpus(docs, pairs)
    out.select($"doc_id").as[Long].collect().toSet shouldBe Set(1L, 3L, 4L, 5L)
    // equal-length dup pair -> min doc_id survives, cluster size recorded
    out.filter($"doc_id" === 1L).head.getAs[Long]("n_in_cluster") shouldBe 2L
    out.filter($"doc_id" === 5L).head.getAs[Long]("n_in_cluster") shouldBe 1L
    out.unpersist(blocking = true)
  }

  test("duplicateClusters on an empty pair list returns an empty labeling (no NPE)") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    Dedup.duplicateClusters(empty).count() shouldBe 0L
    Dedup.duplicateClustersStar(empty).count() shouldBe 0L
  }

  test("large-star/small-star CC: 10k-edge path graph converges in O(log n) rounds") {
    // the adversarial shape for min-label propagation (diameter = n); the
    // star alternation must label the whole chain with vertex 0 in a
    // logarithmic number of rounds
    val path = spark.range(10000L).toDF("doc_a")
      .select($"doc_a", ($"doc_a" + 1L).as("doc_b"))
    val (labels, rounds) = Dedup.duplicateClustersStarWithRounds(path)
    try {
      rounds should be < 12
      labels.count() shouldBe 10001L
      labels.select($"component").distinct().as[Long].collect() shouldBe Array(0L)
    } finally labels.unpersist(blocking = true)
  }

  test("large-star/small-star CC labels exactly like min-label propagation on a random graph") {
    val rng = new scala.util.Random(42)
    val pairs = Seq.fill(600)((rng.nextInt(400).toLong, rng.nextInt(400).toLong))
      .filter { case (a, b) => a != b }
      .toDF("doc_a", "doc_b")
    val viaStar = Dedup.duplicateClustersStar(pairs)
    val viaProp = Dedup.duplicateClusters(pairs)
    try {
      val s = viaStar.as[(Long, Long)].collect().sorted
      val p = viaProp.as[(Long, Long)].collect().sorted
      s shouldBe p
    } finally {
      viaStar.unpersist(blocking = true)
      viaProp.unpersist(blocking = true)
    }
  }

  test("star CC refuses to emit a labeling when maxIter preempts convergence") {
    // a non-converged edge set is not a star forest, so the label read-off
    // would emit duplicate doc_ids with wrong components — must throw
    val path = spark.range(200L).toDF("doc_a")
      .select($"doc_a", ($"doc_a" + 1L).as("doc_b"))
    val ex = intercept[IllegalStateException] {
      Dedup.duplicateClustersStar(path, maxIter = 1)
    }
    ex.getMessage should include("not converged")
  }

  test("min-label CC refuses to emit a labeling when maxIter preempts convergence") {
    // a 201-vertex path needs ~200 rounds; after 20 the labels would split
    // the one component into ~180 wrong ones
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val baseline = sc.getPersistentRDDs.size
    val path = spark.range(200L).toDF("doc_a")
      .select($"doc_a", ($"doc_a" + 1L).as("doc_b"))
    val ex = intercept[IllegalStateException] {
      Dedup.duplicateClusters(path, maxIter = 20)
    }
    ex.getMessage should (include("maxIter") and include("duplicateClustersStar"))
    sc.getPersistentRDDs.size shouldBe baseline
  }

  test("star CC pins no storage after release (checkpoints freed)") {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val baseline = sc.getPersistentRDDs.size
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val out = Dedup.duplicateClustersStar(pairs)
    out.count()
    out.unpersist(blocking = true)
    sc.getPersistentRDDs.size shouldBe baseline
  }

  test("CC loops free only their own checkpoints — a shared cache filling inside the window survives") {
    // Regression for the bench blowup: Bench clears the cache between
    // passes, so the dedup family's shared persisted hub first MATERIALIZES
    // inside the first CC call's localCheckpoint window. The old
    // before/after getPersistentRDDs diff attributed the hub's cache RDD to
    // the checkpoint and freed it — every later hub access then silently
    // recomputed the full upstream pipeline (~30x blowups on the iterative
    // queries). The fills accumulator detects any recompute of the hub.
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    for (cc <- Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
        Dedup.duplicateClusters(_), Dedup.duplicateClustersStar(_))) {
      val fills = sc.longAccumulator("hub-fills")
      val counted = udf { (id: Long) => fills.add(1L); id }
      val hub = docs.select(counted($"doc_id").as("doc_a"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val labels = cc(hub.select($"doc_a", ($"doc_a" + 1L).as("doc_b")))
        labels.unpersist(blocking = true)
        val afterCC = fills.value.longValue()
        afterCC should be > 0L // the CC call is what filled the hub
        hub.count() // must be a cache hit: the loop must not have swept it
        fills.value.longValue() shouldBe afterCC
      } finally hub.unpersist(blocking = true)
    }
  }

  test("simhash: identical docs equal; near-dups within small hamming distance") {
    val sigs = Dedup.simhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    sigs(1L) shouldBe sigs(2L)
    val hamming = java.lang.Long.bitCount(sigs(1L) ^ sigs(4L))
    hamming should be <= 6 // 16-bit sketch, 1-word-different docs stay close
    val far = java.lang.Long.bitCount(sigs(1L) ^ sigs(5L))
    far should be > hamming
  }

  test("semanticDedup: per-cell keep-lowest-id matches a brute-force re-derivation") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val got = Dedup.semanticDedup(emb, threshold = 0.2, nlist = 8)
      .as[(Long, Long, Boolean)].collect()
    got.length shouldBe emb.count() // one verdict per vector, none lost

    // brute force: assign by argmax round(cos,6) (ties → smallest cid),
    // drop iff a lower-id same-cell vector is ≥ threshold. Centroids are
    // re-derived with the SAME r15 hash-ordered sample the operator (and
    // the DuckDB oracle) uses: first 8 ids by md5 of the decimal id
    val vecs = emb.select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().sortBy(_._1)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val cents = vecs.sortBy { case (id, _) => (md5hex(id.toString), id) }
      .take(8).sortBy(_._1)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val d = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(b.map(y => y.toDouble * y.toDouble).sum)
      val raw = if (d == 0.0) 0.0 else dot / d
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val cell = vecs.map { case (id, e) =>
      id -> cents.minBy { case (cid, ce) => (-cos(e, ce), cid) }._1
    }.toMap
    val byId = vecs.toMap
    val expected = vecs.map { case (id, e) =>
      val dropped = vecs.exists { case (lo, _) =>
        lo < id && cell(lo) == cell(id) && cos(byId(lo), e) >= 0.2
      }
      (id, cell(id), !dropped)
    }.toSet
    got.toSet shouldBe expected
    got.count(!_._3) should be > 0 // the threshold actually bites here
  }

  test("semanticDedup fails fast on a skewed cell instead of running it quadratic") {
    // 60 near-identical vectors: every one lands in the first seed's cell,
    // so with maxCellRows = 10 the quadratic self-join must be REFUSED
    // before it runs (cell named in the message), not silently executed
    val skewed = (1L to 60L).map(i => (i, Seq(1.0f, 0.001f * i, 0.5f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Dedup.semanticDedup(skewed, threshold = 0.9, nlist = 4, maxCellRows = 10)
    }
    e.getMessage should include("maxCellRows=10")
    e.getMessage should include("raise nlist")
    // the same corpus passes once the cap admits the cell, and the result
    // keeps its one-verdict-per-vector contract
    Dedup.semanticDedup(skewed, threshold = 0.9, nlist = 4, maxCellRows = 60)
      .count() shouldBe 60L
  }

  test("crossCorpusPairs: eval near-dups found, identical ids excluded") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "alpha beta gamma delta epsilon zeta THETA"), // near-dup of 1
      (3L, "one two three four five six seven")          // disjoint
    ).toDF("doc_id", "text")
    val eval = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta"),   // identical id+text
      (9L, "alpha beta gamma delta epsilon zeta eta")    // same text, new id
    ).toDF("doc_id", "text")
    val got = Dedup.crossCorpusPairs(train, eval, k = 5, threshold = 0.3)
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    // doc1 vs eval9: identical 5-gram sets (3 shingles) → jaccard 1.0
    got((1L, 9L)) shouldBe 1.0
    // doc2 vs eval1/eval9: shares 2 of 3 shingles each side → 2/4 = 0.5
    got((2L, 1L)) shouldBe 0.5
    got((2L, 9L)) shouldBe 0.5
    // (1,1) excluded as identical-id; doc3 matches nothing
    got.keySet shouldBe Set((1L, 9L), (2L, 1L), (2L, 9L))
  }

  test("crossCorpusPairs df-cut: an over-cap shingle alone generates no pair") {
    // one shared shingle, hot across the combined corpora (cap 2 < 3 postings)
    val train = Seq(
      (1L, "x y z w v"), (2L, "x y z w v AAA")).toDF("doc_id", "text")
    val eval = Seq((9L, "x y z w v BBB")).toDF("doc_id", "text")
    // "x y z w v" appears in all 3 docs → 3 postings > cap 2 → dropped from
    // intersections; doc1 has ONLY that shingle, so it pairs with nothing
    val got = Dedup.crossCorpusPairs(train, eval, k = 5, threshold = 0.01,
        maxPostings = 2L)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    got should not contain ((1L, 9L))
    // doc2⋈eval9 still pair via their OTHER shared shingles? they share
    // none besides the capped one → no pairs at all
    got shouldBe empty
  }

  test("crossCorpusFromStats equals the general operator on an eval slice") {
    // the hub read-out (symmetrized pair-stats filter) must produce the
    // identical pair set the two-corpus posting join produces when the
    // eval corpus is a slice of the train corpus and the cap is non-binding
    val docs = graft.Tables.documents(spark, sf0001)
    val arr = Dedup.docShingleHashes(docs, k = 5)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect()
        .map(t => (t._1, t._2, math.rint(t._3 * 1e9))).toSet
    val general = canon(Dedup.crossCorpusPairsFromArr(
      arr, arr.filter($"doc_id" % 7 === 0), threshold = 0.5))
    val viaHub = canon(Dedup.crossCorpusFromStats(
      Dedup.pairStatsFromArr(arr), _ % 7 === 0, threshold = 0.5))
    viaHub shouldBe general
    viaHub should not be empty // non-vacuous on the synthetic corpus
  }

  test("dupNgramStats: hand-computed document frequencies") {
    val docs3 = Seq((1L, "a b c"), (2L, "a b d"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val got = Dedup.dupNgramStats(Dedup.docShingleHashes(docs3, k = 2))
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    // shingles: doc1 {"a b","b c"}, doc2 {"a b","b d"}, doc3 {"x y","y z"};
    // only "a b" crosses documents
    got shouldBe Array((1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5), (3L, 2L, 0L, 0.0))
  }

  test("spanCut: duplicated spans cut everywhere but their earliest occurrence") {
    val c = Seq(
      (1L, "a b c d"),   // holds the canonical "a b" (pos 0) and "c d" (pos 2)
      (2L, "x a b y"),   // its "a b" @1 is a duplicate -> words 1,2 cut
      (3L, "p q"),       // unique span, untouched
      (4L, "c d"),       // whole doc duplicates doc 1's span -> fully cut
      (5L, "m n m n m"), // within-doc repeats: "m n"@2 and "n m"@3 cover 2,3,4
      (6L, "z")          // shorter than l: no spans, unchanged
    ).toDF("doc_id", "text")
    val got = Dedup.spanCut(c, l = 2)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    got shouldBe Array(
      (1L, "a b c d", 0L),
      (2L, "x y", 2L),
      (3L, "p q", 0L),
      (4L, "", 2L),
      (5L, "m n", 3L),
      (6L, "z", 0L))
  }

  test("spanCut: self-overlapping repeats and null text (documented contract edges)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = true)))
    val c = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, "a a a"), Row(2L, null)), schema)
    val got = Dedup.spanCut(c, l = 2).as[(Long, String, Long)].collect().sortBy(_._1)
    // "a a" occurs at pos 0 (canonical) and pos 1 (duplicate); the dup
    // covers words 1,2 — including a word of the canonical occurrence, so
    // NO intact copy survives: the per-occurrence contract, exactly
    got(0) shouldBe ((1L, "a", 2L))
    // null text: zero words, cleans to "" with n_cut 0 (not legacy -1)
    got(1) shouldBe ((2L, "", 0L))
  }

  test("spanCut forced-path parity: small (list) and large (join) paths agree row-for-row") {
    val c = Seq(
      (1L, "a b c d"), (2L, "x a b y"), (3L, "p q"), (4L, "c d"),
      (5L, "m n m n m"), (6L, "z"), (7L, "a a a"), (8L, "c d c d")
    ).toDF("doc_id", "text")
    val small = Dedup.spanCut(c, l = 2, smallBytes = Long.MaxValue)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    val large = Dedup.spanCut(c, l = 2, smallBytes = 0L)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    small shouldBe large
  }

  test("spanCut keeps exactly one copy of a corpus-wide duplicated span") {
    // the keep-one contract: a span duplicated across many docs survives in
    // exactly one place (its earliest occurrence), not zero and not several
    val c = Seq(5L, 9L, 2L, 7L).map(id => (id, s"u$id v$id AAA BBB CCC w$id"))
      .toDF("doc_id", "text")
    val out = Dedup.spanCut(c, l = 3).as[(Long, String, Long)].collect()
    out.count(_._2.contains("AAA BBB CCC")) shouldBe 1
    out.find(_._2.contains("AAA BBB CCC")).get._1 shouldBe 2L // earliest doc
    out.filter(_._1 != 2L).foreach(_._3 shouldBe 3L)
  }

  test("embeddingNearDups on synthetic embeddings agrees with brute force") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val viaLsh = Dedup.embeddingNearDups(emb, threshold = 0.8, signBits = 4)
      .select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSet
    // brute force reference (no blocking)
    val brute = emb.as("a").join(emb.as("b"), $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id", $"b.vec_id",
        Similarity.cosine($"a.embedding", $"b.embedding").as("cos"))
      .filter($"cos" >= 0.8)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    // blocking only prunes pairs whose first-4-dim signs differ; verify the
    // LSH result is a subset of brute force and finds same-bucket pairs
    viaLsh.subsetOf(brute) shouldBe true
  }
}
