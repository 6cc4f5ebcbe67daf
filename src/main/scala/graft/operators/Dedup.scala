package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora.
  *
  * Four families, in increasing fuzziness:
  *  - exact (hash-groupBy on content / normalized content)
  *  - n-gram Jaccard via an inverted shingle index (no O(n^2) cross join)
  *  - MinHash + LSH banding (candidate generation sub-quadratic in docs)
  *  - SimHash bit-signatures
  *
  * Design notes for 100 TB:
  *  - Every pipeline is a sequence of narrow projections + hash shuffles on
  *    content-derived keys (md5 / shingle hash / band hash), which distribute
  *    and parallelize trivially; no driver-side state.
  *  - Shingles are reduced to 8-byte longs AT THE SOURCE
  *    ([[docShingleHashes]]): every downstream shuffle, join and
  *    intersection carries longs, never multi-10-byte shingle strings.
  *  - The per-doc shingle set travels as ONE array row per document, so
  *    MinHash signatures are a narrow projection (16 `array_min`s — no
  *    explode, no aggregation shuffle) and LSH-candidate verification is a
  *    narrow `array_intersect` after joining candidate pairs to their two
  *    arrays. The inverted-index path ([[jaccardPairs]]) gets intersection
  *    sizes even cheaper: as the count of per-shared-shingle join hits.
  *  - The inverted posting index joins docs on *shared shingles* rather than
  *    crossing all pairs, so cost is proportional to actual collisions.
  *    Hot shingles (stop-phrases) would skew the join at scale; the df-cut
  *    is a map-side-combining `groupBy.count` of over-cap keys followed by a
  *    broadcast anti-join — NOT a `count(*) over (partition by key)` window,
  *    which would route every posting of the hot key through one task's sort
  *    before the filter could drop it (the guard becoming the bottleneck it
  *    guards against).
  *
  * Lifecycle: an operator returns a lazy plan and caches nothing; the
  * caller's one action runs it, and a caller that shares a subtree
  * across queries persists and releases it (SparkEntry keeps the family's
  * hubs as [[graft.Tables.memoPersisted]] entries). The exceptions return
  * a filled, persisted result that the caller releases: the
  * connected-components labelers and [[dedupCorpus]], which free the
  * checkpoints or labeling they pinned before returning, and
  * [[lshIndex]], an index built to outlive its first probe.
  */
object Dedup {

  /** Exact-duplicate groups by content hash: one row per distinct content,
    * with the group size and the kept (minimum) doc_id.
    */
  // both group-by-fingerprint dedups hash INSIDE the scan stage (the
  // partial aggregation fuses with the scan): at corpus scale the scan is
  // already parallel over file splits, so the hash work distributes
  // without any exchange, and the one shuffle that does happen carries
  // 16-byte fingerprints instead of raw text — the cheapest possible
  // formulation at both ends of the scale. (An earlier revision
  // repartitioned the raw docs first to parallelize hashing on a
  // single-file local table; that exchange ships the full text for a
  // one-file problem the cluster doesn't have.)


  def exactGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keep_id"))

  /** Exact duplicates after normalization (case/punct/whitespace). */
  def normalizedGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(TextAnalysis.fingerprint(col("text")).as("fp"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keep_id"))

  /** Distinct k-shingles per doc, exploded: (doc_id, shingle). Used where
    * the *string* shingle is the payload (e.g. contamination reports); the
    * dedup pipelines below use the hashed-array form instead.
    */
  def shingleTable(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), explode(TextAnalysis.shingles(col("text"), k)).as("s"))

  /** Mersenne prime modulus for the affine MinHash permutation family. */
  val MinhashPrime: Long = 2147483647L

  /** Band-bucket df-cut shared by [[lshCandidates]] AND the
    * `dedup_minhash_lsh` DuckDB oracle SQL (its SparkEntry.queries entry
    * mirrors it), so the two engines agree even on a corpus with a
    * degenerate bucket above the cap. */
  val DefaultMaxBucket: Long = 100000L

  /** Posting-list df-cut shared by [[jaccardPairs]] AND the jaccard-family
    * DuckDB oracles (their SparkEntry.queries entries mirror it in the `pr`
    * CTE), so the two engines agree even when the cap binds: over-cap
    * shingles are excluded from intersections in BOTH engines while per-doc
    * set sizes stay full-universe. */
  val DefaultMaxPostings: Long = 1000000L

  /** Default per-IVF-cell row cap for [[semanticDedup]]'s fail-fast
    * guard (GATES.md).
    */
  val DefaultMaxCellRows: Long = 10000L

  /** [[spanCut]]'s small-path gate (GATES.md): under this many bytes of
    * documents-scan stats the dup set comes from ONE collect_list
    * aggregate; at or above it, the streaming hinted-join shape whose
    * per-task state a hot span cannot grow.
    */
  val SpanCutSmallBytes: Long = 64L << 20

  /** Deterministic (multiplier, offset) pairs for h_i = (a*h + b) mod p —
    * shared by the Spark operator and the DuckDB oracle so both engines
    * realize the identical permutation family.
    */
  def minhashCoeffs(numPerm: Int): Seq[(Long, Long)] =
    (0 until numPerm).map { i =>
      (graft.functions.TextOps.minhashCoeffA(i), graft.functions.TextOps.minhashCoeffB(i))
    }

  /** The 31-bit base hash of a shingle string: first 8 hex chars of md5,
    * mod the Mersenne prime — shared by the Spark operators and every
    * DuckDB oracle re-derivation (`('0x' || substr(md5(s),1,8))::BIGINT %
    * 2147483647`).
    */
  def shingleHash31(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long") % MinhashPrime

  /** One row per document: its distinct k-shingle set reduced to 31-bit
    * hashes, as an `array<long>` column `hs`. Docs too short to yield a
    * shingle are dropped (they cannot near-dup by Jaccard; matches the
    * oracle, whose shingle CTE also omits them).
    *
    * This is the hub of the dedup family: signatures, band buckets, posting
    * lists and exact verification all derive from it with narrow ops, and a
    * cached copy is one compact row per doc — not an exploded posting table
    * that dwarfs executor memory at corpus scale. The post-hash
    * `array_distinct` keeps per-doc multiplicity identical in both engines
    * even under (vanishingly rare, ~n²/2³²) within-doc hash collisions;
    * cross-doc collisions perturb intersection counts identically in the
    * oracle, which applies the same md5-prefix hash.
    */
  def docShingleHashes(docs: DataFrame, k: Int): DataFrame =
    // drop shingle-less docs via the cheap precondition (fewer than k
    // single-space tokens ⟺ empty shingle set), NOT `size(hs) > 0`: a
    // filter on the hash array gets pushed below any repartition into the
    // scan, forcing the md5 work onto the (often single) scan task — the
    // token count predicate is what may sink there instead.
    // (Re-measured r6: a stats-gated round-robin repartition to
    // parallelize the single-task local hashing LOSES — shipping the full
    // text through an exchange costs ~1.5× what the fused native hash
    // expression spends hashing in the scan; same result the r2 and r5
    // revisions measured, now for the size-adaptive variant too.)
    docs.filter(size(split(col("text"), " ", -1)) >= k)
      .select(col("doc_id"),
        graft.functions.TextFunctions.shingle_hash31_array(col("text"), k).as("hs"))

  /** Reference formulation of the [[docShingleHashes]] array via composed
    * built-ins (equivalence-spec'd against the fused native expression).
    */
  private[graft] def docShingleHashesComposed(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"),
        array_distinct(transform(TextAnalysis.shingles(col("text"), k),
          s => shingleHash31(s))).as("hs"))
      .filter(size(col("hs")) > 0)

  /** MinHash signature columns m0..m{numPerm-1} from the per-doc hashed
    * shingle arrays: numPerm cheap affine permutations (a_i*h + b_i) mod
    * 2^31-1 over the array, each reduced to its minimum — a narrow
    * projection, one row in, one row out; the fused native
    * [[graft.functions.MinhashSigArray]] expression computes all numPerm
    * minima in one arithmetic loop (the composed
    * `array_min(transform(...))` formulation below evaluates its HOF
    * lambdas interpreted, numPerm × |hs| wrapper evals per row). No
    * explode, no aggregation shuffle: at corpus scale the signature stage
    * costs exactly one pass over the cached arrays.
    */
  def minhashSignatures(arr: DataFrame, numPerm: Int): DataFrame =
    arr.select(col("doc_id"),
        graft.functions.TextFunctions.minhash_sig_array(col("hs"), numPerm).as("sig"))
      .select(col("doc_id") +:
        (0 until numPerm).map(i => element_at(col("sig"), i + 1).as(s"m$i")): _*)

  /** Reference formulation of [[minhashSignatures]] via composed built-ins
    * (equivalence-spec'd against the fused native expression).
    */
  private[graft] def minhashSignaturesComposed(arr: DataFrame, numPerm: Int): DataFrame = {
    val sigCols = minhashCoeffs(numPerm).zipWithIndex.map { case ((a, b), i) =>
      array_min(transform(col("hs"), h => (h * a + b) % MinhashPrime)).as(s"m$i")
    }
    arr.select((col("doc_id") +: sigCols): _*)
  }

  /** LSH banding over the MinHash signature: band b hashes rows
    * [b*rowsPerBand, (b+1)*rowsPerBand). Output: (doc_id, band, bh).
    */
  def lshBands(sigs: DataFrame, numPerm: Int, bands: Int): DataFrame = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    val r = numPerm / bands
    val bandStructs = (0 until bands).map { b =>
      val cols = (b * r until (b + 1) * r).map(i => col(s"m$i").cast("string"))
      struct(lit(b).as("band"), md5(concat_ws("|", cols: _*)).as("bh"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("e"))
      .select(col("doc_id"), col("e.band").as("band"), col("e.bh").as("bh"))
  }

  /** Drop rows of `df` whose `keyCols` value occurs more than `cap` times —
    * the generic df-cut (pre-cut a flooded corpus before [[lshCandidates]],
    * cap a posting table of unknown provenance). Implemented as a
    * map-side-combining count of the (few, by definition) over-cap keys
    * followed by a broadcast anti-join: the hot key never converges on one
    * task, which is the whole point of the guard. The over-cap key set is
    * bounded by |rows|/cap, so the broadcast is small by construction.
    * ([[jaccardPairs]] inlines a cheaper co-located variant instead — its
    * posting table is already hash-partitioned on the key, which this
    * general form cannot assume.)
    */
  def dropOverCapKeys(df: DataFrame, keyCols: Seq[String], cap: Long): DataFrame = {
    val hot = df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > cap).select(keyCols.map(c => col(c).as(s"__h_$c")): _*)
    // null-SAFE anti condition: groupBy counts the NULL group, and a flood
    // of null-keyed rows is exactly the degenerate case the cap must drop —
    // a plain equi-anti-join (null ≠ null) would let every one survive
    val cond = keyCols.map(c => df(c) <=> hot(s"__h_$c")).reduce(_ && _)
    df.join(broadcast(hot), cond, "left_anti")
  }

  /** Candidate near-dup pairs over a [[docShingleHashes]] table: docs
    * sharing at least one LSH band bucket. Lazy — nothing is materialized
    * or cached; a caller composing a larger pipeline pays the whole thing
    * inside its one final action.
    *
    * `maxBucket` is the band-bucket df-cut: pair expansion is quadratic in
    * the largest bucket, so one degenerate bucket (a flood of
    * empty/boilerplate docs all hashing to the same band value) would hand
    * a single task O(bucket^2) pairs at scale. Buckets that large carry
    * no near-dup signal (LSH theory: a bucket holding a large fraction of
    * the corpus is indistinguishable from chance), so they are dropped
    * before expansion, bounding candidate count by bands * maxBucket^2 / 2
    * regardless of corpus skew.
    */
  def lshCandidates(arr: DataFrame, numPerm: Int, bands: Int,
                    maxBucket: Long = DefaultMaxBucket): DataFrame = {
    // one hash shuffle on (band, bh) gathers each bucket's doc ids as a
    // list; the df-cut is then a plain size filter; pairs stream out of a
    // double explode (first Generate: one row per id, still carrying the
    // list; second: the m² combinations, filtered to a < b) — per-task
    // state is one id list (≤ maxBucket longs), nothing else.
    //
    // ONE banding subtree, deliberately (r15): the previous two-path shape
    // (small buckets via the one-row array_pairs explode ∪ mid buckets via
    // a SHUFFLE_HASH-pinned self-join) planned the full scan→signature→
    // band-explode→exchange pipeline THREE times — the small branch plus
    // both join sides — and neither ReuseExchange nor AQE stage reuse ever
    // collapsed them (MinhashLab census: 3 band exchanges, 0 reuse markers,
    // hinted or not — same disease pairStatsFromArr had). Folding both
    // paths into the double explode makes the m² generate volume (vs
    // array_pairs' m(m-1)/2) a net win at every measured scale because the
    // signature kernel and its exchange run once: sf0.1 0.66→0.47 s, x100
    // documents 4.59→1.51 s (3.05×), candidate sets bit-identical
    // (MinhashLab MHCHK). The rejected middle ground (array_pairs small ∪
    // double-explode big, 2 subtrees) measured 1.98 s at x100.
    val bandTable = lshBands(minhashSignatures(arr, numPerm), numPerm, bands)
    val buckets = bandTable.groupBy(col("band"), col("bh"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) >= 2 && size(col("ids")) <= maxBucket)
    buckets
      .select(col("ids"), explode(col("ids")).as("doc_a"))
      .select(col("doc_a"), explode(col("ids")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .distinct()
  }

  /** Exact Jaccard of candidate pairs against the per-doc hashed shingle
    * arrays: join each pair to its two arrays (candidate side is small —
    * AQE broadcasts it — so the array table never shuffles), then the
    * intersection is a narrow `array_intersect`. Verification cost is
    * proportional to candidates, not to the corpus.
    */
  private def verifyPairs(cand: DataFrame, arr: DataFrame, threshold: Double): DataFrame =
    cand
      .join(arr.select(col("doc_id").as("doc_a"), col("hs").as("__ha")), "doc_a")
      .join(arr.select(col("doc_id").as("doc_b"), col("hs").as("__hb")), "doc_b")
      .withColumn("__inter", size(array_intersect(col("__ha"), col("__hb"))))
      .withColumn("jaccard", col("__inter").cast("double") /
        (size(col("__ha")) + size(col("__hb")) - col("__inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Exact n-gram Jaccard near-dup pairs >= `threshold`, via inverted
    * posting index on hashed shingles. The posting self-join produces each
    * co-occurring (doc_a, doc_b) once PER SHARED SHINGLE, so the
    * aggregation that dedups candidates yields the intersection size for
    * free (`|A ∩ B|` = shared-shingle count) — no re-join against the
    * per-doc arrays and no `array_intersect` pass; union size then follows
    * from the per-doc set sizes (`|A ∪ B| = |A| + |B| − |A ∩ B|`), joined
    * in from a doc_id→size table that is tiny (two ints per doc) at any
    * corpus scale and broadcast ONCE (identical subtree on both sides —
    * ReuseExchange ships one copy).
    *
    * `maxPostings` drops degenerate stop-shingles shared by more than that
    * many docs from the posting index (df-cut): a pair sharing nothing but
    * over-cap shingles is missed, and over-cap shingles do not count
    * toward intersections (set sizes remain full-universe, so reported
    * jaccard is a lower bound for affected pairs — a shingle shared by
    * millions of docs carries no near-dup signal, which is why it is cut).
    *
    * Deliberately lazy and persist-free: callers materialize exactly once
    * (a count, a write, or the cluster pass). With the fused native
    * hash-array expression the shared subtree is cheap arithmetic off the
    * document scan — measured at sf0.1, a persist+eager variant was ~30%
    * SLOWER (cache writeback + an extra job exceed the saved recompute;
    * the same trade-off measured in round 2 for the string-shingle
    * formulation, re-measured for this one).
    */
  def jaccardPairs(docs: DataFrame, k: Int, threshold: Double,
                   maxPostings: Long = DefaultMaxPostings): DataFrame =
    // hashing runs INSIDE the scan stage (parallel over file splits at
    // corpus scale — same reasoning as exactGroups); the posting exchange
    // then carries 20-byte (doc, size, h31) rows. An earlier revision
    // repartitioned raw docs first to parallelize single-file local
    // hashing — that exchange shipped the full text and cost a stage.
    jaccardPairsFromArr(docShingleHashes(docs, k), threshold, maxPostings)

  /** [[jaccardPairs]] over a pre-built [[docShingleHashes]] table — the
    * composition point for sharing ONE (possibly persisted) hash-array
    * subtree across the whole dedup family: pairs at any threshold, LSH
    * bands and incremental probes all derive from the same `arr`, so a
    * session running several dedup queries hashes the corpus once.
    */
  def jaccardPairsFromArr(arr: DataFrame, threshold: Double,
                          maxPostings: Long = DefaultMaxPostings): DataFrame =
    jaccardFromStats(pairStatsFromArr(arr, maxPostings), threshold)

  /** The jaccard read-out over a (possibly persisted, caller-shared)
    * [[pairStatsFromArr]] table. */
  def jaccardFromStats(stats: DataFrame, threshold: Double): DataFrame =
    stats
      .withColumn("jaccard", col("__inter").cast("double") /
        (col("__na") + col("__nb") - col("__inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Jaccard-threshold retention sweep over a (caller-shared, ideally
    * persisted) [[pairStatsFromArr]] table: for each candidate threshold,
    * how many pairs a dedup run at that cutoff would flag — the tuning
    * curve consulted before committing a corpus-wide dedup to one number.
    * Thresholds that flag nothing are reported as 0, not dropped (the
    * [[TextAnalysis.qualityThresholdSweep]] contract): a calibration
    * consumer must SEE that a cutoff kills the candidate set.
    *
    * Scale shape: one narrow pass over the already-materialized pair
    * stats — each pair joins the broadcast grid once per threshold it
    * clears (grid-size-bounded fan-out), then a grid-size aggregate. The
    * posting self-join is NOT re-run; candidates below the family's
    * df-cut floor are absent by construction, so the curve reads over the
    * same candidate universe every scorer shares.
    */
  def thresholdSweep(stats: DataFrame, thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "thresholdSweep: thresholds must be non-empty")
    val grid = stats.sparkSession
      .createDataset(thresholds)(org.apache.spark.sql.Encoders.scalaDouble)
      .toDF("threshold")
    stats
      .withColumn("jaccard", col("__inter").cast("double") /
        (col("__na") + col("__nb") - col("__inter")).cast("double"))
      .join(broadcast(grid), col("jaccard") >= col("threshold"), "right")
      .groupBy(col("threshold"))
      .agg(count(col("jaccard")).as("n_pairs")) // count skips the no-pair nulls
  }

  /** Overlap-coefficient (containment) near-dup pairs over the same
    * posting subtree: inter / min(|A|, |B|) — the similarity that catches
    * a small document substantially CONTAINED in a large one (quote
    * inclusion, boilerplate-wrapped copies), which Jaccard structurally
    * misses (a doc 10% the size of its container caps jaccard at ~0.1
    * however perfect the containment). Set sizes ride along for the
    * caller to tell which side is the contained one.
    */
  def containmentPairsFromArr(arr: DataFrame, threshold: Double,
                              maxPostings: Long = DefaultMaxPostings): DataFrame =
    containmentFromStats(pairStatsFromArr(arr, maxPostings), threshold)

  /** The containment read-out over a shared [[pairStatsFromArr]] table. */
  def containmentFromStats(stats: DataFrame, threshold: Double): DataFrame =
    stats
      .withColumn("containment", col("__inter").cast("double") /
        least(col("__na"), col("__nb")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        col("__na").cast("long").as("n_a"), col("__nb").cast("long").as("n_b"),
        col("containment"))

  /** The candidate-pair statistics subtree shared by the jaccard and
    * containment scorers — per co-occurring pair, the df-cut intersection
    * count plus both (full-universe) set sizes. Public as a composition
    * point (like [[docShingleHashes]]): a session running several
    * pair-scored queries persists ONE stats table and derives every
    * scorer from it with a narrow filter.
    */
  def pairStatsFromArr(arr: DataFrame,
                       maxPostings: Long = DefaultMaxPostings): DataFrame = {
    // each posting row carries its doc's set size alongside the shingle
    // hash (+8 bytes/row): the candidate aggregation below then has both
    // |A| and |B| in hand — no sizes side-table, no second corpus scan.
    val postingRaw = arr.select(col("doc_id"), size(col("hs")).as("__n"),
      explode(col("hs")).as("h31"))
    // stats-derived partition count (AUDIT r8, x1000): at 32 partitions a
    // 250M-row posting table concentrates ~400 MB of per-task join state;
    // [[AdaptiveGate.postingPartitions]] sizes the exchange so per-task
    // state stays ~20 MB. All nine pairStats-backed queries ran at x1000
    // only after this.
    val posting = postingRaw
      .repartition(AdaptiveGate.postingPartitions(postingRaw), col("h31"))
    // df-cut as a COUNT WINDOW over the posting exchange (r15). The r8-r14
    // shape derived a `hot` over-cap key table from the same exchange and
    // anti-joined it back, EXPECTING ReuseExchange to serve the df-cut and
    // both self-join sides from one shuffle — the executed plan shows that
    // reuse NEVER fires (PairLab r15: 4 independent posting exchanges, 0
    // reuse markers, hinted or not, cached or not — AQE never collapses
    // the canonically-equal stages), so the corpus postings were exploded,
    // shuffled and re-read FOUR times per stats build. The window needs
    // exactly the hashpartitioning(h31) the exchange already provides
    // (zero new exchanges), its sorter spills (per-task bound unchanged),
    // and the over-cap filter drops the same keys the anti-join did.
    // Measured x100 docs, min-of-2 both orders: 10.88 s (shipped) ->
    // 5.75 s; executed plan 4 posting exchanges -> 2 (the irreducible
    // self-join pair), sf0.01 oracle parity across all nine consumers.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h31"))
    val pruned = posting
      .withColumn("__df", count(lit(1)).over(w))
      .filter(col("__df") <= maxPostings)
      .drop("__df")
    // candidate generation stays a streaming self-join (unlike the LSH
    // band path's list-gather): a gathered-list pair explosion
    // materializes k²/2 structs in ONE row for a k-posting shingle — df-cut
    // keys up to `maxPostings` are legal, so the gather shape can build a
    // multi-GB row no task survives; the join streams those pairs instead
    // (PairLab r15 measured gather 1 exchange / 5.43 s — faster at x100,
    // REJECTED on the per-row bound). No SHUFFLE_HASH hint: the window's
    // h31 sort already satisfies sort-merge's requirement on both sides,
    // so SMJ here is sort-free, spillable, and measured AHEAD of the
    // hinted hash join (6.17 s hinted vs 5.75 s, x100 min-of-2).
    pruned.as("a").join(pruned.as("b"),
        col("a.h31") === col("b.h31") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("__inter"),
        first(col("a.__n")).as("__na"), first(col("b.__n")).as("__nb"))
  }

  /** Full MinHash-LSH near-dup pipeline: LSH candidates, then exact Jaccard
    * verification of candidates only (the scale path: verification cost is
    * proportional to candidates, not to n^2). Lazy and persist-free, like
    * [[jaccardPairs]]: the caller's one action runs it.
    */
  def minhashLshDedup(docs: DataFrame, k: Int, numPerm: Int, bands: Int,
                      threshold: Double, maxBucket: Long = DefaultMaxBucket): DataFrame =
    minhashLshDedupFromArr(docShingleHashes(docs, k), numPerm, bands, threshold, maxBucket)

  /** [[minhashLshDedup]] over a pre-built [[docShingleHashes]] table (a
    * caller may share one persisted table across the family — see
    * [[jaccardPairsFromArr]]). Lazy; `arr`'s lifecycle stays with the
    * caller.
    */
  def minhashLshDedupFromArr(arr: DataFrame, numPerm: Int, bands: Int,
                             threshold: Double,
                             maxBucket: Long = DefaultMaxBucket): DataFrame =
    verifyPairs(lshCandidates(arr, numPerm, bands, maxBucket), arr, threshold)

  /** Pre-built LSH index of a corpus, reusable across probe batches: the
    * per-doc hashed shingle arrays and the gathered band buckets, both
    * persisted (CacheManager-registered; release via `unpersist()` /
    * `clearCache()`). This is the incremental-append story at scale — the
    * corpus is shingle-hashed and banded ONCE, then every new batch probes
    * the index instead of re-hashing history (cost per batch:
    * O(|batch| + collisions), not O(|corpus|)).
    *
    * Buckets larger than `maxBucket` are dropped at index build (same
    * df-cut semantics as [[lshCandidates]]: a bucket holding a large
    * fraction of the corpus is indistinguishable from chance and only
    * fans out probe joins). The index outlives its first probe, so it is
    * filled before returning: later probes never race a cold cache.
    */
  def lshIndex(corpus: DataFrame, k: Int, numPerm: Int, bands: Int,
               maxBucket: Long = DefaultMaxBucket): (DataFrame, DataFrame) = {
    val arr = docShingleHashes(corpus, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandIdx = bandIndexFromArr(arr, numPerm, bands, maxBucket)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bandIdx.count() // one action fills BOTH caches (bandIdx reads through arr)
    (arr, bandIdx)
  }

  /** Near-dup pairs between a new batch and an indexed corpus (see
    * [[lshIndex]]): the batch is shingle-hashed and banded (narrow, batch-
    * sized), candidates come from an equi-join on (band, bh) against the
    * index, and exact Jaccard verifies candidates only. Output:
    * (doc_a = corpus id, doc_b = batch id, jaccard >= threshold).
    * Batch and corpus ids are assumed disjoint (append semantics).
    */
  def nearDupsAgainstIndex(newDocs: DataFrame, arrIdx: DataFrame,
                           bandIdx: DataFrame, k: Int, numPerm: Int,
                           bands: Int, threshold: Double): DataFrame =
    nearDupsAgainstIndexArr(docShingleHashes(newDocs, k), arrIdx, bandIdx,
      numPerm, bands, threshold)

  /** The lazy band-bucket index of [[lshIndex]] from a pre-built hash-array
    * table (caller-managed lifecycle — see [[jaccardPairsFromArr]]).
    */
  def bandIndexFromArr(arr: DataFrame, numPerm: Int, bands: Int,
                       maxBucket: Long = DefaultMaxBucket): DataFrame =
    lshBands(minhashSignatures(arr, numPerm), numPerm, bands)
      .groupBy(col("band"), col("bh"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) <= maxBucket)

  /** [[nearDupsAgainstIndex]] with the batch's hash arrays pre-built —
    * lets a caller holding one persisted full-corpus array table carve
    * both the index side and the batch side out of it with narrow filters
    * instead of re-hashing either.
    */
  def nearDupsAgainstIndexArr(narr: DataFrame, arrIdx: DataFrame,
                              bandIdx: DataFrame, numPerm: Int,
                              bands: Int, threshold: Double): DataFrame = {
    val nbands = lshBands(minhashSignatures(narr, numPerm), numPerm, bands)
    val cand = nbands.join(bandIdx, Seq("band", "bh"))
      .select(col("doc_id").as("doc_b"), explode(col("ids")).as("doc_a"))
      .distinct()
    cand
      .join(narr.select(col("doc_id").as("doc_b"), col("hs").as("__hb")), "doc_b")
      .join(arrIdx.select(col("doc_id").as("doc_a"), col("hs").as("__ha")), "doc_a")
      .withColumn("__inter", size(array_intersect(col("__ha"), col("__hb"))))
      .withColumn("jaccard", col("__inter").cast("double") /
        (size(col("__ha")) + size(col("__hb")) - col("__inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** 16-bit SimHash from the high bit of each hex nibble of md5(token):
    * bit b of the signature is the sign of the sum over tokens of
    * (+1 if nibble b of md5(token) >= 8 else -1). Integer arithmetic only,
    * so it is bit-stable across engines and SQL-expressible. Native
    * codegen'd expression; [[simhash16Composed]] is the built-in-composed
    * formulation it is bit-matched against in the spec.
    */
  def simhash16(text: Column): Column =
    graft.functions.TextFunctions.simhash16(text)

  def simhash16Composed(text: Column): Column = {
    val toks = array_distinct(TextAnalysis.words(text))
    val hashes = transform(toks, t => md5(t))
    val bits = (0 until 16).map { b =>
      val vote = aggregate(hashes, lit(0L), (acc, h) =>
        acc + when(substring(h, b + 1, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"), 1L)
          .otherwise(-1L))
      when(vote > 0, lit(1L) * (1L << b)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  def simhashSignatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), simhash16(col("text")).as("simhash"))

  /** Duplicate clusters from a near-dup pair list: connected components by
    * iterative min-label propagation. Each vertex starts labeled with
    * itself; every round each vertex takes the minimum label in its
    * neighborhood; converged when no label changes. Rounds needed =
    * graph diameter (near-dup clusters are tiny, so 3-5 rounds); each
    * round is two hash joins + one aggregation — all shuffle-partitioned
    * by vertex id, no driver-side graph state.
    *
    * Input: (doc_a, doc_b) pairs. Output: (doc_id, component) where
    * component = min doc_id reachable — the canonical "keep" id.
    */
  /** Eager localCheckpoint plus the id of the RDD it pinned.
    * localCheckpoint storage lives outside the CacheManager —
    * `spark.catalog.clearCache()` does NOT release it — so iterative
    * algorithms must free superseded checkpoints explicitly or a long-lived
    * session accumulates dead blocks until executors spill and thrash.
    *
    * The pinned RDD is read off the checkpointed plan itself
    * ([[org.apache.spark.sql.GraftShims.checkpointRddId]]): a
    * before/after `getPersistentRDDs` diff would mis-attribute — and later
    * free — any OTHER persist that first materializes inside the window,
    * e.g. the dedup family's shared cached hub filling lazily on the first
    * family query after a `clearCache()` (observed: the hub's cache RDD was
    * swept, every later hub access silently recomputed the full shingle
    * pipeline, and the iterative queries blew up ~30x in a full bench
    * session while benching fine in isolation).
    */
  private def checkpointTracked(df: DataFrame): (DataFrame, Set[Int]) = {
    val out = df.localCheckpoint()
    (out, ckptId(out))
  }

  /** Fail fast if the checkpointed plan is not the expected LogicalRDD
    * leaf (a Spark upgrade changing that shape would otherwise silently
    * turn freeCheckpoints into a no-op and leak every iteration's blocks
    * for the session lifetime).
    */
  private def ckptId(out: DataFrame): Set[Int] =
    org.apache.spark.sql.GraftShims.checkpointRddId(out) match {
      case Some(id) => Set(id)
      case None => throw new IllegalStateException(
        "localCheckpoint did not produce a LogicalRDD plan — checkpoint " +
          "tracking cannot identify the pinned RDD and would leak blocks")
    }

  /** LAZY localCheckpoint whose materialization rides the witness count:
    * `witness(out).count()` scans every partition of `out`, so the one job
    * both stores the checkpoint blocks and returns the convergence
    * statistic — the eager-checkpoint-then-probe formulation paid two jobs
    * per iteration for the same information.
    */
  private def checkpointCounted(df: DataFrame, witness: DataFrame => DataFrame)
      : (DataFrame, Long, Set[Int]) = {
    val out = df.localCheckpoint(eager = false)
    val n = witness(out).count()
    (out, n, ckptId(out))
  }

  private def freeCheckpoints(df: DataFrame, ids: Set[Int]): Unit = {
    val sc = df.sparkSession.sparkContext
    ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
  }

  /** Driver-side union-find small path for the connected-components
    * labelers: identical output contract to [[duplicateClusters]] /
    * [[duplicateClustersStar]] (one row per vertex appearing in any pair,
    * `component` = min doc_id reachable), computed in ONE bounded job
    * instead of the iterative checkpoint loop. At sf0.1 the loop costs
    * 4-6 floor-bound stages to label a few-thousand-edge graph the
    * driver folds in microseconds (r11: dedup_clusters_star 2.04 s ->
    * ~0.3 s); at scale the caller's gate routes to the distributed loop
    * before this method is entered.
    *
    * Bounded by construction (GATES.md invariant 5): collects at most
    * `maxEdges + 1` rows; overflow returns None — the caller DEGRADES to
    * the distributed loop, never fails, never collects unbounded state.
    * Long-keyed inputs only (the family's doc_id type): any other
    * endpoint type returns None so the output schema can never diverge
    * from the distributed path's.
    */
  private[graft] def duplicateClustersDriver(pairs: DataFrame,
                                             maxEdges: Int): Option[DataFrame] = {
    import org.apache.spark.sql.types.LongType
    val fields = pairs.schema.fields
    val okTypes = Seq("doc_a", "doc_b").forall(n =>
      fields.exists(f => f.name == n && f.dataType == LongType))
    if (!okTypes) return None
    val rows = pairs.select(col("doc_a"), col("doc_b"))
      .limit(maxEdges + 1).collect()
    if (rows.length > maxEdges) return None
    // union-by-min + path compression: attaching the larger root under
    // the smaller makes every root the component minimum — find() then
    // IS the min-label the distributed loop converges to
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    rows.foreach { e =>
      val a = e.getLong(0); val b = e.getLong(1)
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent.put(rb, ra) else if (rb < ra) parent.put(ra, rb)
    }
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size())
    parent.keySet().forEach(v => out.add(org.apache.spark.sql.Row(v, find(v))))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", LongType, nullable = true),
      org.apache.spark.sql.types.StructField("component", LongType, nullable = true)))
    Some(pairs.sparkSession.createDataFrame(out, schema))
  }

  /** Connected components of the (doc_a, doc_b) pairs by min-label
    * propagation: one row per vertex, `component` = the min doc_id
    * reachable. It needs diameter-many rounds (1-2 on the clique-shaped
    * clusters near-dup pairs form) and throws IllegalStateException when
    * `maxIter` rounds end unconverged; [[duplicateClustersStar]] bounds the
    * rounds on chains. The result is persisted; the caller releases it.
    */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // localCheckpoint (eager) after every step: iterative algorithms must
    // truncate lineage, or each round's logical plan nests all previous
    // rounds and analysis/optimization time compounds. Each round frees the
    // checkpoint it supersedes (see checkpointTracked).
    // both edge directions from ONE pass over pairs: a union of two selects
    // would execute the (potentially expensive) upstream pair pipeline twice
    val (edges, edgeIds) = checkpointTracked(
      pairs.select(explode(array(
          struct(col("doc_a").as("src"), col("doc_b").as("dst")),
          struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst")))
    // initial labels already carry one propagation round fused in:
    // label₀(v) = min(v ∪ neighbors) instead of the identity — for the
    // clique-shaped clusters near-dup pairs produce, that alone is the
    // fixpoint, so the loop's first pass just confirms convergence (saves
    // one full checkpoint+scan round per invocation). The witness count
    // doubles as the empty-input guard: zero vertices ⟹ converged, no
    // separate isEmpty probe.
    var (labels, nVerts, labelIds) = checkpointCounted(
      edges.groupBy(col("src"))
        .agg(least(min(col("dst")), col("src")).as("component"))
        .select(col("src").as("doc_id"), col("component")),
      identity)
    var converged = nVerts == 0L
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "dst"), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("component")).as("n_min"))
      // `lowered` rides along in the same pass and the count of lowered
      // rows IS the materializing action (see checkpointCounted): one job
      // per round. A count-of-changes witness (unlike sum-of-labels)
      // cannot overflow Long however large the id space.
      val (next, nChanged, nextIds) = checkpointCounted(
        labels.join(neighborMin, Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("component"), coalesce(col("n_min"), col("component")))
              .as("component"),
            (coalesce(col("n_min"), col("component")) < col("component"))
              .as("lowered")),
        d => d.filter(col("lowered")))
      converged = nChanged == 0L
      freeCheckpoints(labels, labelIds)
      labels = next
      labelIds = nextIds
      i += 1
    }
    // unconverged labels split components (a path needs diameter-many
    // rounds), so refuse them as duplicateClustersStar does
    if (!converged) {
      freeCheckpoints(labels, labelIds)
      freeCheckpoints(edges, edgeIds)
      throw new IllegalStateException(
        s"duplicateClusters: not converged after maxIter = $maxIter rounds — " +
          "raise maxIter, or use duplicateClustersStar, whose rounds are " +
          "O(log n) on any graph shape")
    }
    // hand the (small: one row per doc appearing in any pair) result to the
    // CacheManager so callers release it with unpersist()/clearCache(), and
    // free every remaining checkpoint block. localCheckpoint data is not
    // fault-tolerant anyway, so the risk profile is unchanged — this just
    // makes every block this operator pinned releasable by public API.
    val out = labels.select(col("doc_id"), col("component"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    freeCheckpoints(labels, labelIds)
    freeCheckpoints(edges, edgeIds)
    out
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): round count is O(log n) on ANY graph shape — the
    * adversarial-diameter alternative to [[duplicateClusters]], whose
    * min-label propagation needs diameter-many rounds (1-2 for the
    * clique-shaped clusters near-dup pairs produce — which is why it stays
    * the default — but thousands on a pathological chain graph). Same
    * input/output contract and lifecycle as [[duplicateClusters]].
    *
    * Representation: edges live CANONICALLY as (hi, lo), hi > lo, distinct.
    *  - large-star connects every neighbor v > u to m = min(Γ(u) ∪ u):
    *    emitted pairs (v, m) keep the canonical orientation for free;
    *  - small-star connects the smaller neighbors (and u itself) of each u
    *    to m = min(Γ⁻(u)); m ≤ lo < hi keeps orientation again.
    * Each round is two hash-join/aggregate passes partitioned by vertex —
    * no driver graph state; lineage truncated per round like the min-label
    * loop. Convergence = the edge set IS a star forest, checked EXACTLY
    * with one aggregate per round (see [[isStarForest]]): under the
    * canonical hi > lo orientation, "every hi has exactly one edge and no
    * lo appears as a hi" is provably equivalent to being a fixpoint of
    * both star operations, and it detects convergence one full round
    * earlier than re-running the round and diffing (the previous
    * count-plus-anti-join test paid ~6 floor-bound jobs to confirm a
    * fixpoint the forest shape already certifies). At the fixpoint every
    * non-root vertex holds exactly the edge (v, component-min) — lo < hi
    * on every edge makes each root the minimum of its star — and labels
    * read off the edge list.
    */
  def duplicateClustersStar(pairs: DataFrame, maxIter: Int = 50): DataFrame =
    duplicateClustersStarWithRounds(pairs, maxIter)._1

  private[graft] def duplicateClustersStarWithRounds(
      pairs: DataFrame, maxIter: Int = 50): (DataFrame, Int) = {
    // canonical distinct (hi, lo) edges; self-pairs carry no signal
    var (edges, edgeIds) = checkpointTracked(
      pairs.filter(col("doc_a") =!= col("doc_b"))
        .select(greatest(col("doc_a"), col("doc_b")).as("hi"),
          least(col("doc_a"), col("doc_b")).as("lo"))
        .distinct())
    var nEdges = edges.count()
    var converged = nEdges == 0L
    var rounds = 0
    // LARGE-STAR over the symmetric view: for each center u, every
    // strictly-larger neighbor re-hangs onto m = min(Γ(u) ∪ u)
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("hi").as("u"), col("lo").as("v"))
        .unionByName(e.select(col("lo").as("u"), col("hi").as("v")))
      val mL = sym.groupBy(col("u")).agg(least(min(col("v")), col("u")).as("m"))
      sym.filter(col("v") > col("u"))
        .join(mL, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct()
    }
    // SMALL-STAR over the canonical orientation: each center's smaller
    // neighborhood (plus the center) re-hangs onto its minimum
    def smallStar(e: DataFrame): DataFrame = {
      val mS = e.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      val j = e.join(mS, "hi")
      j.filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .unionByName(j.select(col("hi"), col("m").as("lo")))
        .distinct()
    }
    // Exact convergence test, one action: a canonically-oriented distinct
    // edge set is a fixpoint of BOTH star operations iff it is a star
    // forest — (a) every hi carries exactly one edge, (b) no vertex is
    // both a lo and a hi (no chains). Proof sketch: under (a)+(b) a root
    // r's neighbors are all > r, so large-star re-hangs every leaf onto
    // min(Γ(r) ∪ r) = r (edges unchanged) and a leaf's only neighbor is
    // its root (< leaf, nothing to emit); small-star's per-hi minimum is
    // the hi's single lo, reproducing each edge. Conversely the loop's
    // own fixpoint is documented (and spec'd) to be exactly this shape,
    // so the test can neither false-converge nor miss the fixpoint.
    def isStarForest(e: DataFrame): Boolean =
      e.select(col("hi").as("v"), lit(1L).as("h"), lit(0L).as("l"))
        .unionByName(e.select(col("lo").as("v"), lit(0L).as("h"), lit(1L).as("l")))
        .groupBy(col("v")).agg(sum(col("h")).as("h"), sum(col("l")).as("l"))
        .filter(col("h") > 1L || (col("h") > 0L && col("l") > 0L))
        .isEmpty
    while (!converged && rounds < maxIter) {
      // TWO large-stars per round: each is the pointer-doubling step (on a
      // chain it doubles the hop stride), so doubling up quadruples the
      // stride per round — ~log4 instead of ~log2 total rounds, with the
      // same per-pass cost and half the checkpoint/convergence overhead
      val next = smallStar(largeStar(largeStar(edges)))
      val (nextEdges, nNext, nextIds) = checkpointCounted(next, identity)
      freeCheckpoints(edges, edgeIds)
      edges = nextEdges
      edgeIds = nextIds
      nEdges = nNext
      rounds += 1
      converged = isStarForest(edges)
    }
    // the label read-off below is only valid on a CONVERGED edge set (a
    // star forest: exactly one incident edge per non-root vertex) — a
    // maxIter bailout would silently emit duplicate doc_id rows with
    // wrong components, so refuse instead (the alternation provably needs
    // only O(log n) rounds; hitting the default cap means corrupt input,
    // not slow convergence)
    if (!converged) {
      freeCheckpoints(edges, edgeIds)
      throw new IllegalStateException(
        s"duplicateClustersStar: not converged after $maxIter rounds — " +
          "raise maxIter (the large/small-star alternation needs O(log n) rounds)")
    }
    // star forest: every non-root vertex carries exactly (v, root); roots
    // and (degenerate) isolated inputs label themselves
    val verts = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
    val out = verts
      .join(edges.select(col("hi").as("doc_id"), col("lo").as("component")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    freeCheckpoints(edges, edgeIds)
    (out, rounds)
  }

  /** The user-facing endgame of corpus dedup: resolve near-dup pairs to
    * clusters, keep ONE representative per cluster (longest text, ties to
    * the smallest doc_id), pass singleton docs through untouched, and
    * return the surviving rows with their cluster id and size. The
    * labeling it pins is freed before returning, so the result is
    * persisted and filled first; the caller releases it with
    * `unpersist()` / `clearCache()`.
    */
  def dedupCorpus(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val labels = duplicateClusters(pairs) // persisted by contract
    val result = keepBestPerCluster(docs, labels)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    result.count()
    labels.unpersist(blocking = false)
    result
  }

  /** The keep-one endgame over a PRECOMPUTED cluster labeling (the
    * [[duplicateClusters]] output, or any (doc_id, component) table) —
    * lets a caller that already holds a persisted labeling (e.g. one
    * shared across several queries) skip re-running the CC loop. Lazy;
    * `labels`' lifecycle stays with the caller.
    */
  def keepBestPerCluster(docs: DataFrame, labels: DataFrame): DataFrame = {
    val labeled = docs.join(labels, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("component")
      .orderBy(desc("len"), col("doc_id"))
    labeled.withColumn("len", length(col("text")))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_in_cluster", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("component")))
      .filter(col("rn") === 1)
      .select((docs.columns.map(col) :+ col("component") :+ col("n_in_cluster")): _*)
  }

  /** Embedding-cosine near-duplicate pairs above `threshold`, restricted to
    * an LSH-style blocking key (sign of the first `signBits` components) so
    * the self-join is bucketed rather than a full cross product.
    */
  def embeddingNearDups(emb: DataFrame, threshold: Double, signBits: Int = 8): DataFrame = {
    val keyed = emb.select(col("vec_id"), col("embedding"),
      Similarity.signBucket(col("embedding"), signBits).as("bucket"))
    keyed.as("a").join(keyed.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the embedding
    * space, then prune near-identical vectors WITHIN each cluster only —
    * the cluster pass turns the quadratic all-pairs search into `nlist`
    * bounded per-cell self-joins, which is what makes semantic dedup
    * tractable on web-scale corpora (the paper runs it on LAION-440M).
    *
    * Determinized for cross-engine verification the same way as `ann_ivf`:
    * centroids are the first `nlist` vectors by id (no float-order-
    * dependent k-means refine on the oracled path), cell assignment is
    * argmax of round(cos, 6) with ties to the smallest centroid id, and
    * the keep choice inside a duplicate group is keep-lowest-id — a vector
    * is dropped iff a LOWER-id vector in its cell has cosine ≥ `threshold`
    * with it (the paper keeps a random/centroid-far exemplar; lowest-id is
    * the same cardinality with a reproducible choice).
    *
    * Returns one row per vector: (vec_id, cell, kept).
    *
    * Scale shape: assignment is a narrow per-row projection (the centroid
    * matrix rides inside ONE native argmax expression — no crossJoin, no
    * shuffle); the per-cell self-join shuffles (vec_id, embedding) once on
    * the cell key. Per-cell cost is quadratic in the CELL size, so `nlist`
    * is the knob that bounds task size — SemDeDup at production scale uses
    * tens of thousands of clusters precisely so each cell fits a task. An
    * undersized `nlist` FAILS FAST before the self-join runs: a cell over
    * `maxCellRows` raises with the offending cell named, instead of
    * silently burning a quadratic task (a df-cut here would change which
    * vectors survive; refusing is the only answer that preserves the
    * operator's semantics). The guard is one narrow counting pass with
    * ≤ nlist rows of driver state, paid eagerly at construction.
    */
  def semanticDedup(emb: DataFrame, threshold: Double, nlist: Int = 32,
                    maxCellRows: Long = DefaultMaxCellRows): DataFrame = {
    require(maxCellRows > 0, "semanticDedup: maxCellRows must be positive")
    // bounded driver collect: nlist centroid rows, same contract as
    // ivfTopK — including the r15 hash-ordered seed (md5 of the id):
    // id-ordered seeds collapse onto one true cluster when ids correlate
    // with cluster membership, and this operator's maxCellRows fail-fast
    // is exactly where that pathology would land. Oracle mirrors the md5
    // ordering verbatim.
    val cents = emb.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(nlist)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val assigned = emb.select(col("vec_id"), col("embedding"),
      graft.functions.VectorFunctions.ivf_argmax_cell(col("embedding"),
        cents.map(_._1), cents.map(_._2)).as("cell"))
    val hot = assigned.groupBy(col("cell")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxCellRows).orderBy(desc("__n")).limit(1).collect()
    require(hot.isEmpty,
      s"semanticDedup: cell ${hot.headOption.map(_.getLong(0)).getOrElse(-1L)} " +
        s"holds ${hot.headOption.map(_.getLong(1)).getOrElse(0L)} vectors > " +
        s"maxCellRows=$maxCellRows — the per-cell comparison is quadratic in " +
        "cell size; raise nlist so cells shrink (production SemDeDup uses " +
        "tens of thousands of clusters), or raise maxCellRows deliberately")
    // One cell-grouped pass replaces the self-join spelling (r12): the
    // join re-ran the scan+argmax subtree once per join input — column
    // pruning and inferred not-null filters make the three references
    // canonicalize differently, so exchange reuse never fires
    // (plan-audited) — and exchanged the embedding column twice. Here the
    // cell's vectors are collected into ONE row (bounded by the SAME
    // maxCellRows guard that already protects the quadratic join) and the
    // earliest-survivor scan runs in-task through the codegen'd
    // [[graft.functions.SemanticKeepArray]] kernel, whose rounded cosine
    // is IvfKernel.cos6 — the one scoring kernel every ANN stage shares,
    // bit-identical to the join spelling's round(CosineSimilarity, 6) and
    // the DuckDB oracle. Full evaluation: 2 argmax passes (guard + this),
    // down from 4, and one embedding exchange, down from 3 (two join
    // inputs + the vec_id probe).
    assigned
      .groupBy(col("cell"))
      .agg(collect_list(struct(col("vec_id"), col("embedding"))).as("__vs"))
      .select(col("cell"),
        explode(graft.functions.VectorFunctions.semantic_keep(
          col("__vs"), threshold)).as("__k"))
      .select(col("__k.vec_id").as("vec_id"), col("cell"),
        col("__k.kept").as("kept"))
  }

  /** Cross-corpus fuzzy decontamination: exact n-gram Jaccard near-dup
    * pairs BETWEEN two corpora (train vs eval) — the fuzzy complement of
    * [[TextAnalysis.contamination]]'s exact shingle hit-count. Exact
    * containment misses light rewrites (benchmark questions paraphrased
    * into web text); a Jaccard threshold over the same shingle sets
    * catches them, which is how production decontamination actually runs
    * (e.g. the GPT-3 and Llama training-data filters are n-gram-overlap
    * based).
    *
    * Same posting-index derivation as [[jaccardPairsFromArr]] — including
    * the `maxPostings` df-cut, applied to the UNION'd posting index so a
    * boilerplate shingle that is hot across the two corpora combined
    * cannot quadratically expand the join — but the candidate join is
    * train-posting ⋈ eval-posting, so cost is |eval postings| ×
    * per-shingle train df, never train². The eval side (benchmarks:
    * thousands of docs, not billions) is small by nature; the planner
    * broadcast-converts it at runtime via AQE when it fits, and the plan
    * degrades to a partitioned hash join when it does not — nothing here
    * assumes it fits an executor.
    *
    * Both inputs are [[docShingleHashes]] tables, so a caller holding the
    * dedup family's persisted hub reuses it for both sides (an eval slice
    * of the same corpus is a filter over the cached table — zero extra
    * hashing). Returns (train_id, eval_id, jaccard), identical-id pairs
    * excluded (an eval doc that IS a train doc is exact contamination,
    * `dedup_exact`'s job).
    */
  def crossCorpusPairsFromArr(trainArr: DataFrame, evalArr: DataFrame,
                              threshold: Double,
                              maxPostings: Long = DefaultMaxPostings): DataFrame = {
    def posting(arr: DataFrame) =
      arr.select(col("doc_id"), size(col("hs")).as("__n"),
        explode(col("hs")).as("h31"))
    val tp = posting(trainArr)
    val ep = posting(evalArr)
    // df-cut over the combined index: a shingle's heat is its TOTAL posting
    // count across both corpora (mirrored in the oracle SQL)
    val hot = tp.select(col("h31")).unionAll(ep.select(col("h31")))
      .groupBy(col("h31")).agg(count(lit(1)).as("__hn"))
      .filter(col("__hn") > maxPostings)
      .select(col("h31"))
    val tpr = tp.join(hot, Seq("h31"), "left_anti")
    val epr = ep.join(hot, Seq("h31"), "left_anti")
    tpr.as("t").join(epr.as("e"),
        col("t.h31") === col("e.h31") && col("t.doc_id") =!= col("e.doc_id"))
      .groupBy(col("t.doc_id").as("train_id"), col("e.doc_id").as("eval_id"))
      .agg(count(lit(1)).as("__inter"),
        first(col("t.__n")).as("__nt"), first(col("e.__n")).as("__ne"))
      .withColumn("jaccard", col("__inter").cast("double") /
        (col("__nt") + col("__ne") - col("__inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("train_id"), col("eval_id"), col("jaccard"))
  }

  /** [[crossCorpusPairsFromArr]] over raw text corpora. */
  def crossCorpusPairs(train: DataFrame, eval: DataFrame, k: Int,
                       threshold: Double,
                       maxPostings: Long = DefaultMaxPostings): DataFrame =
    crossCorpusPairsFromArr(docShingleHashes(train, k),
      docShingleHashes(eval, k), threshold, maxPostings)

  /** Decontamination read-out for the common special case where the eval
    * set is a SLICE of the corpus (held-out split, benchmark drawn from
    * the crawl): the family's shared unordered pair-stats table
    * ([[pairStatsFromArr]]) already holds every train×eval co-occurrence,
    * so the scorer is a symmetrization + filter over it — ZERO additional
    * posting passes when the hub is persisted. An unordered pair (a, b)
    * emits (train=a, eval=b) when b is an eval doc and (train=b, eval=a)
    * when a is — both when both are (each eval doc screens against the
    * other), matching [[crossCorpusPairsFromArr]] run on overlapping
    * corpora.
    *
    * df-cut caveat: the hub's `maxPostings` cap counts CORPUS postings
    * once, while the general two-corpus operator counts train ∪ eval (an
    * eval slice's postings twice). The read-outs agree whenever the cap
    * binds on neither count — everywhere except a shingle within 2× of
    * the cap; callers comparing against the general operator under a
    * deliberately-binding cap should use [[crossCorpusPairsFromArr]].
    */
  def crossCorpusFromStats(stats: DataFrame, isEval: Column => Column,
                           threshold: Double): DataFrame = {
    val scored = stats
      .withColumn("jaccard", col("__inter").cast("double") /
        (col("__na") + col("__nb") - col("__inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
    scored.filter(isEval(col("doc_b")))
      .select(col("doc_a").as("train_id"), col("doc_b").as("eval_id"),
        col("jaccard"))
      .unionAll(scored.filter(isEval(col("doc_a")))
        .select(col("doc_b").as("train_id"), col("doc_a").as("eval_id"),
          col("jaccard")))
  }

  /** Cross-document duplicated n-gram statistics — the detection pass of
    * exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better": duplicated spans across documents are
    * memorization fuel and should be found corpus-wide, not pairwise).
    * Consumes the per-doc hashed shingle arrays ([[docShingleHashes]]) so
    * a caller holding the dedup family's persisted hub reuses it — the
    * corpus is hashed zero extra times.
    *
    * Per document: its distinct-shingle count, how many of those shingles
    * also appear in at least one OTHER document, and the share. (Intra-doc
    * repetition is a different signal — `TextAnalysis`' repetition ratio.)
    *
    * Scale shape: document frequency is one map-side-combining aggregate
    * over exploded 31-bit hashes (shuffle rows are (long, long) pairs, not
    * shingle strings); the join back is hash-partitioned on the same key,
    * and the df side is vocabulary-sized (Zipf-bounded), not corpus-sized.
    */
  def dupNgramStats(arr: DataFrame): DataFrame = {
    val sh = arr.select(col("doc_id"), explode(col("hs")).as("h31"))
    // hs arrays are distinct per doc, so count(*) per hash IS doc frequency
    val df = sh.groupBy("h31").agg(count(lit(1)).as("df"))
    sh.join(df, Seq("h31"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_ngrams"))
      .select(col("doc_id"), col("n_ngrams"), col("n_dup_ngrams"),
        (col("n_dup_ngrams").cast("double") / col("n_ngrams").cast("double"))
          .as("dup_share"))
  }

  /** Repeated-span CUT — the removal pass of exact-substring dedup (Lee et
    * al. 2022; [[dupNgramStats]] is the matching detection pass): every
    * occurrence of an l-word span that appears more than once in the
    * corpus is cut from the rebuilt text, EXCEPT the canonical occurrence
    * — the lexicographically first `(doc_id, position)` holding the span —
    * a deterministic earliest-occurrence realization of the suffix-array
    * paper's keep-one rule. Within-doc repeats are cut the same way. A
    * word position is removed iff ANY duplicate occurrence covers it;
    * surviving words are re-joined in order. Note the contract is
    * per-OCCURRENCE, not per-word: the canonical occurrence is never cut
    * AS an occurrence, but its word positions can still be covered by
    * overlapping duplicate occurrences of a DIFFERENT span (including a
    * self-overlapping repeat like "a a a" at l = 2), so pathological
    * repetition may leave no intact copy of a span. Returns
    * (doc_id, text_clean, n_cut) for every input document (fully-cut docs
    * keep a row with empty text; null text cleans to "" with n_cut 0).
    *
    * Scale shape: occurrences are (long doc, long pos, long hash) triples
    * — the shuffle never carries span strings, and they exchange ONCE:
    * the explicit hash repartition feeds both the span-stats aggregate
    * and the probe side of the duplicate join (ReuseExchange collapses
    * them — same co-location trick as [[pairStatsFromArr]]), so the
    * md5-per-occurrence scan stage runs once, not twice. The join has
    * exactly one build row per span key, so a hot span skews partition
    * SIZE only (AQE splits it), never the output; covered positions
    * expand ≤ l rows per duplicate occurrence into a per-doc
    * collect_set. The rebuild is a per-ROW array kernel over the base
    * table joined with its covered-position set — per-task state is one
    * document's words, the same bound as any per-doc window, and the
    * corpus text is never word-exploded through an exchange.
    *
    * Uses positional (non-distinct) shingles, so it cannot ride the dedup
    * family's distinct-set hub; the hash function IS the family's
    * [[shingleHash31]], which the DuckDB oracle re-derives verbatim (a
    * cross-span hash collision merges the same occurrence groups in both
    * engines).
    */
  def spanCut(docs: DataFrame, l: Int,
              smallBytes: Long = SpanCutSmallBytes): DataFrame = {
    require(l >= 1, "spanCut: span length must be >= 1")
    // one explicit null-id filter owns every subtree: the covered-set
    // join below infers IsNotNull(doc_id) on its build side, and without
    // the same filter here the probe/stats occurrence subtrees stop being
    // canonically equal — ReuseExchange silently stops collapsing them
    // and the md5 scan stage runs twice. (Null ids have no identity in
    // the pair family anyway; every sibling operator requires them
    // non-null.)
    val base = docs.filter(col("doc_id").isNotNull)
    // r13: the positional-hash KERNEL (shingle_hash31_all_array) fuses
    // shinglesAll + per-occurrence md5 into one loop per document, so the
    // posexplode carries (pos, long) pairs — the composed spelling pushed
    // every span STRING through the explode and hashed it afterwards
    // (SpanLab min-of-3 BOTH orders at sf0.1: kernel 1.234/1.229 s vs
    // composed 1.292/1.413 s — kernel wins from both positions; identical
    // hashes by construction, parity pinned in TextExpressionsSpec)
    val occRaw = base
      .select(col("doc_id"),
        posexplode(graft.functions.TextFunctions
          .shingle_hash31_all_array(col("text"), l)).as(Seq("pos", "h")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("h"))
    // r12 small path (SpanLab min-of-3, BOTH orders: 1.38/1.47 s vs the
    // join shape's 1.84/2.46 s at sf0.1): ONE groupBy(h) owns
    // count+canon+the occurrence LIST, so duplicates explode out of the
    // aggregate — no second occ branch, no hinted join, 2 exchanges
    // end-to-end instead of 4. Small-ONLY: collect_list buffers every
    // occurrence of a span in one aggregate row, so a hot span at corpus
    // scale would concentrate unboundedly — the join shape below streams
    // its probe side and lets AQE split skewed partitions instead.
    val dup =
      if (AdaptiveGate.isSmall(base, smallBytes))
        occRaw
          .groupBy(col("h"))
          .agg(count(lit(1)).as("__cnt"),
            min(struct(col("doc_id"), col("pos"))).as("__canon"),
            collect_list(struct(col("doc_id"), col("pos"))).as("__occs"))
          .filter(col("__cnt") > 1)
          .select(col("__canon"), explode(col("__occs")).as("o"))
          .filter(col("o") =!= col("__canon"))
          .select(col("o.doc_id").as("doc_id"), col("o.pos").as("pos"))
      else {
        // stats-derived count, as in pairStatsFromArr: occ is post-explode,
        // so its stats under-report ~70x and a fixed-width exchange would
        // let the hinted build below outgrow task memory at scale
        val occ = occRaw
          .repartition(AdaptiveGate.postingPartitions(occRaw), col("h"))
        val stats = occ.groupBy("h")
          .agg(count(lit(1)).as("__cnt"),
            min(struct(col("doc_id"), col("pos"))).as("__canon"))
          .filter(col("__cnt") > 1)
        // SHUFFLE_HASH pin, as in pairStatsFromArr: an AQE broadcast of
        // stats would orphan the probe side's exchange from the
        // aggregate's and the md5-heavy occurrence subtree would execute
        // twice
        AdaptiveGate.hashHinted(occ)
          .join(AdaptiveGate.hashHinted(stats.select(col("h"), col("__canon"))),
            Seq("h"))
          .filter(col("doc_id") =!= col("__canon").getField("doc_id") ||
            col("pos") =!= col("__canon").getField("pos"))
      }
    // rebuild via per-doc covered-POSITION SETS and an array-kernel
    // reconstruction, not a corpus-wide word anti-join. The r10 shape
    // (posexplode every word -> anti-join covered -> collect_list -> sort
    // -> join back) re-shuffled the ENTIRE corpus text as (doc, p, w)
    // rows across three extra exchanges; this shape shuffles only the
    // covered positions (≤ l rows per duplicate occurrence, collect_set
    // dedups in the aggregate — no separate distinct) and joins them to
    // the one-row-per-doc base, where array_except(positions, covered)
    // + element_at rebuild the text per row. Per-row state is one
    // document's words — the same bound as the old per-doc group — and
    // the all-words exchange (the heaviest post-occ shuffle at any
    // scale) is gone. r11 sf0.1: 1.51 s -> see bench; plan drops from 7
    // exchanges to 4.
    val coveredSets = dup
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(l - 1))).as("p"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("p")).as("__cov"))
    val words = split(col("text"), " ", -1)
    // null text has zero words (NOT legacy size(null) = -1, which would
    // report n_cut = -1 where the oracle's len(NULL) is no cut)
    val nw = when(col("text").isNotNull, size(words)).otherwise(0).cast("long")
    // the otherwise branch only runs for docs WITH covered spans, which
    // have ≥ l ≥ 1 words — sequence(0, nw-1) is never start>stop there
    val keptArr = when(col("text").isNull, array().cast("array<string>"))
      .when(col("__cov").isNull, words)
      .otherwise(transform(
        array_except(sequence(lit(0L), nw - lit(1L)), col("__cov")),
        p => element_at(words, (p + lit(1L)).cast("int"))))
    base
      .select(col("doc_id"), col("text"))
      .join(coveredSets, Seq("doc_id"), "left")
      .select(col("doc_id"),
        array_join(keptArr, " ").as("text_clean"),
        (nw - size(keptArr)).as("n_cut"))
  }
}
