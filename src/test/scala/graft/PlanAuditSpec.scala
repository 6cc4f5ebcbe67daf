package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Physical-plan assertions: the properties the scale design depends on
  * (pushdown, pruning, partial aggregation, broadcast strategy choice)
  * are checked, not eyeballed.
  */
class PlanAuditSpec extends AnyFunSuite with Matchers with SparkFixture {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  test("p5: string predicates are pushed into the parquet scan") {
    val p = plan("p5_like_filter")
    p should include("PushedFilters")
    p should include("StringContains(p_name,widget)")
    p should include("StringStartsWith(p_brand")
  }

  test("a1: scan is pruned to referenced columns and aggregation is partial") {
    val p = plan("a1_groupby_agg")
    p should not include "l_shipdate" // unreferenced column absent from scan
    "HashAggregate".r.findAllIn(p).length should be >= 2 // partial + final
  }

  test("j1_a1: star rollup uses broadcast hash joins, no sort-merge") {
    val p = plan("j1_a1_star_rollup")
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
  }

  test("j2: NOT IN incremental path plans as a broadcast anti join") {
    plan("j2_anti_join") should include("LeftAnti")
  }

  test("j1: unreferenced unique-key LEFT joins are eliminated — scan -> project, no join, no exchange") {
    // the declared-PK constraint rule (EliminateUniqueKeyJoin) must
    // delete all three dimension probes: fact.* never reads a dim column
    // and every join key is a declared-unique dimension PK
    val p = plan("j1_star_join")
    p should not include "Join"
    p should not include "Exchange"
    p should include("FileScan parquet")
  }

  test("j1: elimination respects the conf kill-switch and referenced dim columns") {
    withoutJoinElimination(plan("j1_star_join")) should include("Join")
    // a query that READS a dim column keeps its physical joins even with
    // the rule active (chess-independent witness: j1_a1 reads dim names)
    plan("j1_a1_star_rollup") should include("BroadcastHashJoin")
  }

  test("j4: packed path (forced) — both fact exchanges carry single-long rows into a shuffle-hash join") {
    // the r10 scale plan: dims broadcast-probed BEFORE the wire, each
    // side ships one packed long (orderkey<<5 | nationkey), the fact
    // meet keeps the hash strategy (no sorts), and only the two fact
    // repartitions exchange data besides broadcasts
    val p = SparkEntry.j4Roleplay(spark, sf0001, packedBytes = 0L)
      .queryExecution.executedPlan.toString
    p should include("ShuffledHashJoin")
    p should not include "SortMergeJoin"
    p should include("shiftleft")
    // exactly the two packed fact exchanges partition on >>5; the only
    // other hash exchange is the 625-group final agg's
    "hashpartitioning\\(shiftright".r.findAllIn(p).length shouldBe 2
  }

  test("w1: latest-wins dedup partial-aggregates below its single exchange") {
    // r8: max-of-ordered-struct formulation — the exchange carries one
    // pre-reduced row per (input partition, user), never the event rows,
    // and no Window/global-sort node exists to buffer a partition
    val p = plan("w1_window_dedup")
    p should not include "Window"
    p should include("partial_max(struct(ts")
    "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 1
  }

  test("chess_gold: all five dim joins broadcast, fact side never shuffles") {
    assume(new java.io.File("/root/reference/dev_files/Data/2024-01/games.json").exists())
    val p = plan("chess_gold")
    // exchanges exist only under the dim-build distincts (pre-broadcast);
    // the fact lineage itself is scan -> project -> 5 broadcast joins
    "BroadcastHashJoin".r.findAllIn(p).length shouldBe 5
    p should not include "SortMergeJoin"
  }

  test("sample_stratified: size-adaptive — small input takes the 1-exchange single-phase plan") {
    // the bench/test input is bounded by Catalyst stats, so the operator
    // emits the plain per-stratum window: one hash exchange, no threshold
    // scaffolding, no global sort
    val p = plan("sample_stratified")
    p should include("Window")
    p should not include "__graft_thr"
    p should not include "Exchange rangepartitioning"
    "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 1
  }

  test("sample_stratified: large input (forced) pre-filters the window by the md5 threshold") {
    import org.apache.spark.sql.functions.col
    val df = operators.Sampling.stratified(
      Tables.orders(spark, sf0001).select(col("o_orderkey"), col("o_orderstatus")),
      "o_orderstatus", "o_orderkey", 100, smallBytes = 0L)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    p should include("Window")
    // the exact window consumes the thresholded survivor set, not the full
    // table: the 32-bit md5-prefix cut appears below the Window as a
    // broadcast join condition against the per-stratum thresholds
    p.indexOf("Window") should be < p.indexOf("substring(md5(")
    p should include("__graft_thr")
    p should not include "Exchange rangepartitioning" // no global sort
  }

  test("q3: the fact table streams — lineitem never sits under a broadcast exchange") {
    // regression guard: join-output size estimates once inverted the build
    // side and broadcast the 300k-row filtered fact
    val df = SparkEntry.queries("q3_shipping_priority")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    p should include("BroadcastExchange")
    // the streamed (probe) side prints before its join's BroadcastExchange
    // subtree; when the fact was mis-broadcast it printed inside one, after
    p.indexOf("lineitem.parquet") should be < p.indexOf("BroadcastExchange")
  }

  test("ann_ivf_assign: centroid side broadcasts; corpus side is scan + partial agg") {
    val p = plan("ann_ivf_assign")
    p should include("BroadcastNestedLoopJoin") // crossJoin vs 32-row local relation
    // max_by plans as ObjectHashAggregate/SortAggregate; partial + final
    "Aggregate".r.findAllIn(p).length should be >= 2
  }

  test("dedup band df-cut carries no Window node (bucket cut is gather + size filter)") {
    // the band path's bucket cut must never route all postings of a hot
    // bucket through a window it doesn't otherwise need. (The PAIR family
    // is different since r15: its df-cut window rides the posting exchange
    // the self-join pays anyway, and its sort IS the sort-merge join's
    // sort — see the jaccard co-location test.)
    val p = SparkEntry.queries("dedup_minhash_lsh")(spark, sf0001)
      .queryExecution.executedPlan.toString
    withClue(s"dedup_minhash_lsh plan:") { p should not include "Window" }
  }

  test("minhash candidates: ONE banding subtree — signature kernel plans once") {
    // r15: the old two-path candidate expansion (array_pairs small buckets
    // ∪ SHUFFLE_HASH-pinned mid-bucket self-join) planned the full
    // scan→minhash_sig_array→band-explode→exchange pipeline THREE times
    // and no reuse ever fired (MinhashLab: 3 band exchanges, 0
    // ReusedExchange, 3.05× at x100). The double-explode shape keeps ONE
    // banding subtree; a second minhash_sig_array occurrence or a second
    // band exchange means the duplication is back.
    val full = SparkEntry.queries("dedup_minhash_lsh")(spark, sf0001)
      .queryExecution.executedPlan.toString
    // the cached result's plan prints the AQE final tree AND the pre-AQE
    // "Initial Plan" echo — audit the final tree only
    val p = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i => full.substring(0, i)
    }
    withClue(s"dedup_minhash_lsh plan:") {
      "minhash_sig_array".r.findAllIn(p).length shouldBe 1
      "hashpartitioning\\(band".r.findAllIn(p).length shouldBe 1
    }
  }

  test("text_token_ids: the corpus encodes with ZERO exchanges, one encoder eval") {
    val p = plan("text_token_ids")
    p should not include "Exchange"
    "vocab_encode".r.findAllIn(p).length shouldBe 1
  }

  test("text_keywords: df rides a streamed hash join, never a per-term window") {
    val p = plan("text_keywords")
    // a hot term must stream through the join probe, not buffer+sort in
    // one window task — the only window is the per-doc rank
    p should not include "windowspecdefinition(term"
    p should not include "SortMergeJoin"
    // small path: the df table is broadcast, so the probe side fuses
    // scan → tokenize → join → partial top-k into one stage with no
    // corpus-wide exchange; the only Exchanges are the df branch's
    // partial-agg'd (term) rows and the ≤ topK-per-doc window input
    p should include("BroadcastHashJoin")
    (p should not).include("ShuffledHashJoin")
    (p should not).include("InMemoryTableScan")
  }

  test("text_keywords scale path: shared term exchange, no persisted corpus") {
    // smallBytes = 0 pins the 100 TB shape: tf and df branches derive from
    // one repartition(term) subtree, the join stays shuffle-hash on that
    // key, and nothing caches the corpus. clearCache first — the small
    // path's persisted tf has the identical logical subtree, and
    // CacheManager would silently substitute it into this plan.
    spark.catalog.clearCache()
    val p = operators.TextAnalysis.keywordSalience(
        Tables.documents(spark, sf0001), topK = 3, smallBytes = 0L)
      .queryExecution.executedPlan.toString
    p should include("ShuffledHashJoin")
    (p should not).include("InMemoryTableScan")
    p should not include "windowspecdefinition(term"
  }

  test("order_budget_per_source: one corpus exchange; offsets broadcast (two-phase pinned)") {
    // smallBytes = 0 pins the scale path: at sf0.001 the size-adaptive
    // default would emit the single-window plan and audit nothing.
    // r13 in-plan offsets: ONE corpus exchange on (source, bucket) feeds
    // both the cumsum window and the totals aggregate; the offsets
    // subtree re-shuffles only the TINY totals (per-source running sum +
    // the maxGroups guard window) before broadcasting back — so the
    // corpus-scale audit is "exactly one exchange CARRYING doc ids",
    // textually: every extra hash exchange partitions the totals rows,
    // never the corpus columns
    val p = operators.TrainOrder.tokenBudgetPerSource(
        Tables.documents(spark, sf0001).select(col("doc_id"), col("source"),
          operators.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", "source", seed = 5L, budget = 800L,
        smallBytes = 0L)
      .queryExecution.executedPlan.toString
    // exactly ONE corpus exchange (the explicit REPARTITION_BY_COL on
    // (source, bucket)); the offsets subtree's exchanges move only
    // map-side-combined totals rows (ENSURE_REQUIREMENTS, tiny)
    "REPARTITION_BY_COL".r.findAllIn(p).length shouldBe 1
    "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 2
    // the prune join sits UNDER the corpus exchange — dead buckets never
    // shuffle (tree print: exchange is the join's ancestor line)
    p.indexOf("REPARTITION_BY_COL") should be < p.indexOf("BroadcastHashJoin")
    p should include("BroadcastExchange")
    p should not include "Exchange rangepartitioning"
  }

  test("skew_salted_agg: two-phase agg = exactly two hash exchanges, partial combine each") {
    val p = plan("skew_salted_agg")
    "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 2
    "HashAggregate".r.findAllIn(p).length shouldBe 4 // partial+final per phase
  }

  test("stream_quarantine: index probe is hash-joined, never cartesian or sort-merge") {
    val p = plan("stream_quarantine")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    p should not include "SortMergeJoin"
  }

  test("mm kernel queries: scan prunes to the carried columns") {
    // the typed mapPartitions kernels consume only (doc_id, text); the
    // unreferenced lang/source/n_chars must not reach the parquet scan
    for (q <- Seq("mm_features", "mm_resize", "mm_frames")) {
      val p = plan(q)
      withClue(s"$q plan:") {
        p should not include "n_chars"
        p should include("ReadSchema")
      }
    }
  }

  test("tokenBudgetHead two-phase: one corpus scan, dead buckets dropped by the offsets join") {
    // r13 in-plan redesign: the r12 shape pruned dead buckets in the scan
    // stage but paid a SEPARATE full stats scan to learn the boundary —
    // two wide scans per evaluation. Now ONE scan feeds one exchange,
    // totals aggregate + cumsum window both read it (ReuseExchange), and
    // dead buckets (offset > budget) are dropped by the INNER broadcast
    // join right after the exchange read, before the sort.
    val df = operators.TrainOrder.tokenBudgetHead(
        Tables.documents(spark, sf0001).select(col("doc_id"),
          operators.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", seed = 3L, budget = 500L, smallBytes = 0L)
    val p = df.queryExecution.executedPlan.toString
    // exactly ONE corpus exchange (the explicit REPARTITION_BY_COL on the
    // bucket); the offsets subtree moves only map-side-combined totals
    "REPARTITION_BY_COL".r.findAllIn(p).length shouldBe 1
    "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 2
    // the prune join sits UNDER the corpus exchange: dead buckets are
    // dropped in the scan stage and never shuffle
    p.indexOf("REPARTITION_BY_COL") should be < p.indexOf("BroadcastHashJoin")
    p should include("BroadcastExchange")
    // the stats pass is a second scan — structural for an exact
    // two-phase prefix sum without a materialized intermediate
    "Scan parquet".r.findAllIn(p).length shouldBe 2
    // and the prune is real: with this budget only live buckets' rows
    // survive, exactly the rows the old scan-stage cut kept
    df.filter(col("cum_tokens") > 500L).count() shouldBe 0L
  }

  test("order_* small-path plans: no broadcast offset join, no extra exchange") {
    // at bench scale the adaptive gate emits the definition window plans:
    // a single exchange (SinglePartition for the global orders, hash on
    // source for the per-source ones) and zero driver-offset broadcasts
    for (q <- Seq("order_epoch_shuffle", "order_token_budget", "order_curriculum")) {
      val p = plan(q)
      withClue(s"$q plan:") {
        p should not include "BroadcastExchange"
        "Exchange".r.findAllIn(p).length shouldBe 1
      }
    }
  }

  test("pack_materialize: the encoder runs exactly once, in the payload branch") {
    // audited on the OPERATOR with a raw (uncached) encode input — the
    // query entry now feeds it the session-shared persisted encode, which
    // would satisfy run-once trivially via the cache
    val enc = operators.TextAnalysis.tokenEncode(
        Tables.documents(spark, sf0001), vocabSize = 24)
      .withColumn("n_tokens",
        operators.TextAnalysis.tokenCount(col("text")).cast("long"))
    val p = operators.Packing.packMaterialize(enc, "doc_id", "ids",
        capacity = 512L, tokenCol = Some("n_tokens"))
      .queryExecution.executedPlan.toString
    "vocab_encode".r.findAllIn(p).length shouldBe 1
    p should not include "Exchange rangepartitioning" // no global sort anywhere
    p should not include "SortMergeJoin"
  }

  test("jaccard: df-cut and self-join are co-located — no broadcast, no array re-join") {
    val p = plan("dedup_ngram_jaccard")
    // the df-cut rides the posting exchange as a count WINDOW (r15: the
    // prior hot-key anti-join shape planned 4 independent posting
    // shuffles — exchange reuse never fired around the hinted anti-join;
    // the window shape restores reuse and the posting subtree executes
    // ONCE): array_intersect would mean the verify stage re-joined the
    // per-doc arrays instead of counting join hits; a LeftAnti would mean
    // the hot-key shape is back. (A BroadcastExchange is now legitimate
    // at tiny SF: with no SHUFFLE_HASH pin the planner may broadcast one
    // self-join side, whose build subtree still REUSES the probe's
    // posting exchange — asserted in the executed-plan test below.)
    p should not include "array_intersect"
    (p should not).include("LeftAnti")
    p should include("Window")
  }

  test("pack_sequences: size-adaptive — small input takes the 1-exchange window") {
    // stats bound the bench/test input, so the in-plan global window runs
    // (zero driver actions); no bucket scaffolding in the plan
    val p = plan("pack_sequences")
    p should include("Window")
    (p should not).include("_graft_b")
  }

  test("packSequences scale path: no global-sort window — cumsum partitions by bucket") {
    // smallBytes = -1 forces the 100 TB formulation: bucketed parallel
    // windows + IN-PLAN offsets (r13), never a single-task sort of the
    // CORPUS. The offsets subtree's running-sum window IS single-
    // partition — over the ≤`buckets`-row totals aggregate, bounded by
    // construction — so the audit pins where each shape is allowed:
    // exactly ONE corpus hash exchange (totals reuse it), the corpus
    // cumsum window partitioned by bucket, offsets re-entering as a
    // broadcast.
    val df = Tables.documents(spark, sf0001).select(col("doc_id"),
      operators.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    val p = operators.Packing.packSequences(df, "doc_id", "n_tokens",
        capacity = 512L, smallBytes = -1L)
      .queryExecution.executedPlan.toString
    p should include("windowspecdefinition(__graft_b") // corpus cumsum per bucket
    // one corpus exchange (REPARTITION_BY_COL) + one tiny totals exchange
    "REPARTITION_BY_COL".r.findAllIn(p).length shouldBe 1
    "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 2
    p should include("BroadcastExchange")
    // the only single-partition exchange allowed is the tiny offsets one,
    // directly above the per-bucket totals aggregate
    "Exchange SinglePartition".r.findAllIn(p).length should be <= 1
    p should include("__graft_bt")
  }

  test("text_edit_distance small path: one broadcast self-join, no block scaffolding") {
    // below the stats gate (r16) the pair mass is tens of thousands of DP
    // calls: the plan must be a single broadcast bucket self-join with NO
    // bucket-count subtree, NO block explode and NO repartition — the
    // block machinery cost ~0.25 s of pure stage floor at sf0.1 (VERDICT
    // r15 #2)
    val p = plan("text_edit_distance")
    p should include("BroadcastHashJoin")
    (p should not).include("REPARTITION_BY_NUM")
    (p should not).include("__j")
    (p should not).include("Exchange SinglePartition")
    (p should not).include("CartesianProduct")
  }

  test("text_edit_distance scale path: hash-blocked self-join — pinned width, no global sort") {
    // above the gate the DP stage must sit behind REPARTITION_BY_NUM
    // exchanges (exempt from AQE byte-based coalescing, which once
    // serialized it onto 4 of 32 cores) and join on (bucket, block) so a
    // hot fingerprint bucket's quadratic pairs spread across ~n/64 keys
    // instead of one task; block ids come from a hash over broadcast
    // bucket counts, never a per-bucket row_number window (which clustered
    // the hot bucket's explode onto ONE core at x1000). The DP join is
    // un-hinted sort-merge (r16 TedLab: SMJ 6.4-7.3 s at x100 vs 8.5 s
    // for the r15 left-build shuffle-hash hint)
    val p = operators.TextAnalysis.editDistancePairs(
        Tables.documents(spark, sf0001), smallBytes = 0L)
      .queryExecution.executedPlan.toString
    p should include("REPARTITION_BY_NUM")
    p should include("SortMergeJoin")
    p should include("__j")
    (p should not).include("Window")
    (p should not).include("Exchange SinglePartition")
    (p should not).include("CartesianProduct")
  }

  test("a7: per-part averages broadcast over the probe scan — no sort, no wide shuffle") {
    // the r7 window spelling shuffled AND sorted every lineitem row; the
    // r8 shape exchanges only the |parts|-row partial aggregate and
    // broadcasts it over a second streaming scan — the only exchange in
    // the plan belongs to the narrow agg branch, and nothing sorts
    val p = plan("a7_below_avg_qty")
    "Scan parquet".r.findAllIn(p).length shouldBe 2
    p should include("BroadcastHashJoin")
    p.toLowerCase should include("partial_avg")
    (p should not).include("Window")
    (p should not).include("Sort")
    (p should not).include("Exchange rangepartitioning")
  }

  test("epochShuffle two-phase: bucketed windows, never a global range sort") {
    // smallBytes = 0 pins the 100 TB formulation (strict AdaptiveGate):
    // per-bucket row_number windows behind a hash exchange on the bucket
    // key — a global ORDER BY would appear as a rangepartitioning
    // exchange feeding one sort
    val docs = Tables.documents(spark, sf0001).select(col("doc_id"))
    val p = operators.TrainOrder.epochShuffle(docs, "doc_id", seed = 7L,
        smallBytes = 0L)
      .queryExecution.executedPlan.toString
    p should include("Window")
    p should include("_graft_b")
    (p should not).include("Exchange rangepartitioning")
    (p should not).include("Exchange SinglePartition")
  }

  test("dedup_normalized: native normalize fuses into the scan stage, agg is partial") {
    // the normalize+md5 fingerprint must evaluate INSIDE the scan stage
    // with a map-side partial aggregate — no exchange below the partial
    // agg, no regex expressions anywhere in the plan
    val p = plan("dedup_normalized")
    p should include("normalize_text")
    (p should not).include("regexp_replace")
    p.indexOf("partial_count") should be > 0
    // partial agg sits below the (single) exchange: the first Exchange in
    // the plan string appears ABOVE (before) the partial_count node
    p.indexOf("Exchange hashpartitioning") should be < p.indexOf("partial_count")
  }

  test("AQE re-plans the executed join at runtime (coalesced shuffle read)") {
    val li = Tables.lineitem(spark, sf0001)
    val ord = Tables.orders(spark, sf0001)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // forbid static broadcast so the join starts as a shuffle join, then
      // let AQE optimize the exchanges from runtime statistics
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).count()
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      p should include("AdaptiveSparkPlan isFinalPlan=true")
      p should include("AQEShuffleRead")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("jaccardPairs: the posting subtree executes ONCE — self-join sides share one exchange") {
    // r15: the hot-key anti-join shape planned FOUR independent posting
    // exchanges in the executed plan (exchange/stage reuse never fired
    // around the hinted anti-join sides — PairLab census); the window
    // df-cut shape restores AQE stage reuse, so the md5-heavy
    // explode+shuffle runs once and every other consumer is a
    // ReusedExchange. Executed-plan regression guard.
    // (clearCache first: a cached hash-array table left by another test
    // would be substituted into the scan subtree and change the shapes
    // this test pins — the guard targets the cold-plan formulation.)
    spark.catalog.clearCache()
    val df = operators.Dedup.jaccardPairs(
      Tables.documents(spark, sf0001), k = 5, threshold = 0.5)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    p should include("ReusedExchange")
    (p should not).include("LeftAnti")
    p should include("Window")
  }

  test("dedup_span_cut: no window over span occurrences; array-kernel rebuild; no cartesian") {
    // canonical-occurrence selection is groupBy+min (partial aggregation,
    // skew-safe on a corpus-stopword span), NOT a per-hash window; the
    // rebuild joins per-doc covered-position SETS to the one-row-per-doc
    // base (r11) — the corpus text is never word-exploded through an
    // exchange, so no Generate may appear downstream of the covered-set
    // aggregate; nothing plans a nested-loop join
    val p = plan("dedup_span_cut")
    p should not include "Window"
    (p should not).include("CartesianProduct")
    (p should not).include("BroadcastNestedLoopJoin")
  }

  test("dedup_span_cut: covered-SET rebuild — no word anti-join, no all-words regroup") {
    // the r10 rebuild word-exploded the whole corpus, anti-joined covered
    // positions and collect_list-regrouped it; the r11 shape aggregates
    // covered positions into per-doc SETS and rebuilds per row — the plan
    // must carry the collect_set aggregate and neither of the old markers.
    // (the r12 SMALL path legitimately collect_lists per-SPAN occurrence
    // groups out of the one stats aggregate; the banned shape is the
    // all-WORDS regroup, whose marker here is the LeftAnti + a collect_list
    // keyed by doc — assert the large path, where neither may appear)
    val df = operators.Dedup.spanCut(
      Tables.documents(spark, sf0001), l = 5, smallBytes = 0L)
    val p = df.queryExecution.executedPlan.toString
    p should include("collect_set")
    (p should not).include("collect_list")
    (p should not).include("LeftAnti")
  }

  test("spanCut executed (large path): the md5 occurrence subtree exchanges once (ReuseExchange)") {
    // stats aggregate and duplicate-join probe share the pinned hash
    // repartition — without the reuse the per-occurrence hashing runs twice
    val df = operators.Dedup.spanCut(
      Tables.documents(spark, sf0001), l = 5, smallBytes = 0L)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    p should include("ReusedExchange")
  }

  test("spanCut small path: one stats aggregate owns the dup set — no join, no second occ branch") {
    // 2 exchanges end-to-end: groupBy(h) and the per-doc covered-set agg;
    // the md5 occurrence subtree appears ONCE (no hinted self-join)
    val df = operators.Dedup.spanCut(
      Tables.documents(spark, sf0001), l = 5, smallBytes = Long.MaxValue)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the only join left is the per-doc rebuild against base (broadcast at
    // this size); the hinted occ⋈stats SHJ must be gone
    (p should not).include("ShuffledHashJoin")
    p should include("collect_list")
  }

  test("snapshot_diff: same-base spelling is one scan — no join, no exchange") {
    // r14: both snapshots derive from one base, so the query routes
    // through History.snapshotDiffSameBase — a single codegen'd scan
    // (HistorySpec pins row parity against the generic join spelling)
    val p = plan("snapshot_diff")
    p should not include "Join"
    p should not include "Exchange hashpartitioning"
    "Scan parquet".r.findAllIn(p).length shouldBe 1
  }

  test("generic snapshotDiff: both sides reduce to fingerprints before the outer join") {
    // the two-table operator keeps the r13 shape: the exchange carries
    // (key, 16-byte hash) rows, never payloads
    val docs = Tables.documents(spark, sf0001)
    val generic = operators.History.snapshotDiff(
      docs.filter(col("doc_id") % 11 =!= 0),
      docs.filter(col("doc_id") % 13 =!= 0),
      "doc_id", Seq("text"))
    generic.queryExecution.executedPlan.toString should include("FullOuter")
    val join = generic.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.head
    join.left.output.map(_.name) should contain("__h_old")
    join.left.output.map(_.name) should not contain "text"
    join.right.output.map(_.name) should contain("__h_new")
    join.right.output.map(_.name) should not contain "text"
  }

  test("custom vector expression participates in whole-stage codegen") {
    val emb = Tables.embeddings(spark, sf0001)
    val df = emb.select(graft.functions.VectorFunctions.vec_cosine(
      col("embedding"), col("embedding")).as("c")).filter(col("c") > 0.5)
    val p = df.queryExecution.executedPlan.toString
    p should include("vec_cosine")
    p should include("*") // WholeStageCodegen marker on the project/filter
  }

  test("gated aggs small path: a7/q13/q18 keep the direct partial+final groupBy") {
    // at test scale the rawAggBytes gate routes all three high-cardinality
    // aggregates through the plain groupBy — no repartition scaffolding
    for (q <- Seq("a7_below_avg_qty", "q13_custdist", "q18_large_orders"))
      plan(q) should not include "REPARTITION_BY_COL"
  }

  test("preShuffled large path (forced): one keyed exchange feeds a single-pass agg") {
    // smallBytes = 0 pins the large path on the small fixture: the raw
    // rows carry exactly one hash exchange (the explicit repartition), and
    // the aggregate above it adds NO second exchange — its distribution
    // requirement is already satisfied, which is the whole point
    val df = SparkEntry.preShuffled(
        Tables.orders(spark, sf0001).select(col("o_custkey")),
        "o_custkey", smallBytes = 0L)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
    // pre-execution plan: the adaptive final-plan string would print the
    // initial plan too and double-count the exchange
    val p = df.queryExecution.executedPlan.toString
    p should include("REPARTITION_BY_COL")
    "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 1
  }

  test("ann_lsh kernel: corpus streams into the scorer; one exchange (survivor merge)") {
    // the corpus side must read straight into the mapPartitions kernel —
    // no exchange below it, no broadcast probe join, no dedup aggregate;
    // the only shuffle left is the |partitions| x |Q| x k survivor window
    val df = SparkEntry.queries("ann_lsh")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    p should include("MapPartitions")
    p should not include "BroadcastExchange"
    p should not include "HashAggregate"
    "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 1
    p.indexOf("MapPartitions") should be > p.indexOf("Window") // survivors above kernel
  }

  test("text_bm25: ONE probe_term_stats kernel per pass, no split, no re-expansion") {
    val df = SparkEntry.queries("text_bm25")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    // both passes run the fused kernel instead of k+1 regex splits
    p should include("probe_term_stats")
    p should not include "split("
    // stats side reaches the score pass through a broadcast of one row;
    // no keyed exchange anywhere (document rows never shuffle)
    p should include("BroadcastNestedLoopJoin")
    "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 0
    // CollapseProject inlines the alias into every per-term use, so the
    // TEXTUAL plan shows many kernel occurrences — the guarantee that the
    // kernel runs ONCE per row per pass lives in codegen subexpression
    // elimination. Assert it at the generated-code level: each
    // WholeStageCodegen unit evaluates the kernel at most once.
    // AQE wraps stages in QueryStageExec, which hides codegen units from
    // debug.codegenToSeq — audit the non-adaptive physical plan (same
    // stages; AQE only re-plans exchanges, and this query has none)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    val units = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      org.apache.spark.sql.execution.debug.codegenStringSeq(
        SparkEntry.queries("text_bm25")(spark, sf0001)
          .queryExecution.executedPlan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    units should not be empty
    for ((_, code, _) <- units)
      "probeTermStats\\(".r.findAllIn(code).length should be <= 1
    units.map { case (_, code, _) =>
      "probeTermStats\\(".r.findAllIn(code).length }.sum should be >= 1
  }

  test("a6 large path: approx median rides the vc pre-aggregate, no raw-row sketch pass") {
    // r14b: the weighted GK sketch (graft_wpercentile_approx) consumes the
    // same value-count rows as the exact median's FREQUENCY form — a
    // regression to a separate percentile_approx pass would put an
    // interpreted update back on every raw row (600M at x1000)
    val p = SparkEntry.a6SketchAgg(spark, sf0001, smallBytes = 0L)
      .queryExecution.executedPlan.toString
    p should include("graft_wpercentile_approx")
    // negative lookbehind: the weighted kernel's own name contains the
    // substring "percentile_approx(" — assert no UNWEIGHTED raw-row pass
    "(?<!graft_w)percentile_approx\\(l_extendedprice".r.findAllIn(p).toSeq shouldBe empty
    // the small path keeps the raw-row UNWEIGHTED sketch (the vc spelling
    // LOSES at sf0.1 — 97% distinct prices; A6Lab both orders). Same
    // lookbehind as above: a bare include("percentile_approx") is also
    // satisfied by the weighted kernel's substring, so a regression that
    // switched the small path to the losing weighted spelling would slip
    // through (r14 ADVICE)
    val small = SparkEntry.a6SketchAgg(spark, sf0001, smallBytes = Long.MaxValue)
      .queryExecution.executedPlan.toString
    "(?<!graft_w)percentile_approx\\(".r.findAllIn(small).toSeq should not be empty
  }
}
