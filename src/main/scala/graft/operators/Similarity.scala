package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.{vec_cosine, vec_dot}

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact top-k by cosine. The query set is broadcast
  *    (it is small by construction); each partition of the corpus scores its
  *    rows against every query with a codegen'd native expression
  *    ([[graft.functions.CosineSimilarity]]), then a per-query window keeps
  *    the top k. Cost is |Q| * |corpus| dot products spread across all
  *    executors — the right baseline when |Q| is small.
  *  - [[lshTopK]]: random-hyperplane LSH. Corpus and queries are bucketed by
  *    the sign pattern of `planes` fixed pseudo-random hyperplanes (seeded,
  *    data-independent — the same plane matrix works on every executor with
  *    no fitting step). Candidates = same-bucket rows (multi-probe on the
  *    query side flips each single bit to recover near-boundary neighbors);
  *    exact cosine re-ranks candidates. At 100 TB this turns a full scan per
  *    query into a bucketed hash join.
  */
object Similarity {

  def cosine(a: Column, b: Column): Column = vec_cosine(a, b)
  def dot(a: Column, b: Column): Column = vec_dot(a, b)

  /** Deterministic pseudo-random unit-ish hyperplanes: component d of plane p
    * is derived from md5, mapped into [-0.5, 0.5). Data-independent, seeded.
    */
  private[operators] def planeMatrix(planes: Int, dim: Int): Array[Array[Float]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(planes) { p =>
      Array.tabulate(dim) { d =>
        val h = md.digest(s"plane:$p:$d".getBytes("UTF-8"))
        val v = ((h(0) & 0xff) << 8 | (h(1) & 0xff)).toFloat / 65536.0f - 0.5f
        v
      }
    }
  }

  /** Sign-pattern bucket of the first `bits` components (cheap blocking key
    * for embedding near-dup self-joins).
    */
  def signBucket(emb: Column, bits: Int): Column =
    (0 until bits).map(i => when(element_at(emb, i + 1) >= 0f, lit(1L) * (1L << i))
      .otherwise(lit(0L))).reduce(_ + _)

  /** Sign-pattern bucket under the random hyperplanes (LSH key). */
  def planeBucket(emb: Column, planesM: Array[Array[Float]]): Column = {
    val planeCols = planesM.map(p => typedLit(p.toSeq))
    planeCols.zipWithIndex.map { case (p, i) =>
      when(vec_dot(emb, p) >= 0.0, lit(1L) * (1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Partition-local per-query running top-k — the scoring kernel shared by
    * [[bruteForceTopK]] (every query scores every corpus row) and
    * [[lshTopK]] (only the queries probing the row's bucket score it).
    * One instance per task; `offer` is the hot loop.
    *
    * Layout: a flat row-major query matrix when every query shares one dim
    * (the library-wide contract) — one contiguous block the dot loop
    * streams, no array-of-array indirection per pair. Ragged query sets
    * keep the per-query arrays (rare; correctness path only). The running
    * top-k per query is kept sorted by (cos_r desc, id asc), and the
    * half-up rounding is LAZY: a raw cosine strictly below
    * (rank-k − 5e-7) cannot round past rank-k and is rejected unrounded.
    * Dots accumulate in index order over min(dim) — the same sequence as
    * VectorOps.cosine, so the double is bit-identical to the declarative
    * spellings (what keeps the kernels oracle-comparable).
    */
  private[operators] final class LocalTopK(
      qs: Array[(Long, Array[Float])], k: Int) {
    val nq: Int = qs.length
    private val qIds = new Array[Long](nq)
    private val qnorm = new Array[Double](nq)
    private val dim = if (nq > 0) qs(0)._2.length else 0
    private val uniform = qs.forall(_._2.length == dim)
    private val qflat = if (uniform) new Array[Float](nq * dim) else null
    locally {
      var qi = 0
      while (qi < nq) {
        qIds(qi) = qs(qi)._1
        var acc = 0.0; var i = 0; val qe = qs(qi)._2
        while (i < qe.length) { val v = qe(i).toDouble; acc += v * v; i += 1 }
        qnorm(qi) = math.sqrt(acc)
        if (uniform) System.arraycopy(qe, 0, qflat, qi * dim, dim)
        qi += 1
      }
    }
    private val topCos = Array.fill(nq * k)(Double.NegativeInfinity)
    private val topId = new Array[Long](nq * k)
    private val filled = new Array[Int](nq)

    /** Corpus-row norm (full-array, decomposed accumulation). Computed once
      * per row by the caller and passed to every `offer` for it.
      */
    def normOf(emb: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < emb.length) { val v = emb(i).toDouble; acc += v * v; i += 1 }
      math.sqrt(acc)
    }

    /** Score corpus row (`nid`, `emb`) against query index `q`, inserting
      * into that query's running top-k when it can still rank. Self-matches
      * (qid == nid) are skipped.
      */
    def offer(q: Int, nid: Long, emb: Array[Float], cnorm: Double): Unit = {
      val qid = qIds(q)
      if (qid == nid) return
      var dot = 0.0
      var d = 0.0
      var i = 0
      if (uniform && emb.length == dim) {
        val off = q * dim
        while (i < dim) {
          dot += qflat(off + i).toDouble * emb(i).toDouble; i += 1
        }
        d = qnorm(q) * cnorm
      } else {
        val qe = qs(q)._2
        val n = math.min(emb.length, qe.length)
        while (i < n) { dot += qe(i).toDouble * emb(i).toDouble; i += 1 }
        // norms are over the FULL arrays; equal to VectorOps.cosine's
        // min-truncated norms whenever dims agree (the library-wide
        // contract; mixed-dim pairs recompute truncated norms here)
        d =
          if (emb.length == qe.length) qnorm(q) * cnorm
          else {
            var nx = 0.0; var ny = 0.0; i = 0
            while (i < n) {
              val x = qe(i).toDouble; val y = emb(i).toDouble
              nx += x * x; ny += y * y; i += 1
            }
            math.sqrt(nx) * math.sqrt(ny)
          }
      }
      val raw = if (d == 0.0) 0.0 else dot / d
      val base = q * k
      val full = filled(q) == k
      if (!full || raw >= topCos(base + k - 1) - 5e-7) {
        val r = graft.functions.IvfKernel.round6(raw)
        val fl = filled(q)
        if (!full || r > topCos(base + k - 1) ||
            (r == topCos(base + k - 1) && nid < topId(base + k - 1))) {
          var pos = if (full) k - 1 else fl
          while (pos > 0 && (topCos(base + pos - 1) < r ||
              (topCos(base + pos - 1) == r && topId(base + pos - 1) > nid))) {
            topCos(base + pos) = topCos(base + pos - 1)
            topId(base + pos) = topId(base + pos - 1)
            pos -= 1
          }
          topCos(base + pos) = r
          topId(base + pos) = nid
          if (!full) filled(q) = fl + 1
        }
      }
    }

    /** The partition's surviving (query_id, neighbor_id, cos_r) rows. */
    def results: Iterator[(Long, Long, Double)] =
      (0 until nq).iterator.flatMap { q =>
        (0 until filled(q)).iterator.map { j =>
          (qs(q)._1, topId(q * k + j), topCos(q * k + j))
        }
      }
  }

  /** Exact brute-force top-k cosine neighbors for each query row.
    * `queries` must be small (bounded by `maxQueries`, broadcast); excludes
    * self-matches. Ranking uses the cosine rounded to 6 decimals with
    * `neighbor_id` as the tie-break, so the ordering is insensitive to
    * last-ulp accumulation differences and deterministic across engines
    * (oracle-comparable).
    *
    * Shape: broadcast the query matrix, score each corpus partition against
    * it in a tight primitive-array kernel keeping a per-query local top-k,
    * then merge the |partitions| × |Q| × k survivors through one per-query
    * window. The declarative spelling (nested-loop join + window) is kept as
    * [[bruteForceTopKPlan]] and pinned equal by SimilaritySpec: it
    * materializes all |corpus| × |Q| joined rows and rounds every pair,
    * where this kernel touches only raw floats per pair, precomputes norms
    * once per row, and pays the half-up rounding only for candidates that
    * can still enter the running top-k (a pair more than 5e-7 below the
    * current rank-k cosine cannot round past it). Same distributed contract
    * at 100 TB: corpus partitions stream, driver state is O(|Q| · dim), the
    * merge shuffle is O(partitions · |Q| · k).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     maxQueries: Int = 100000): DataFrame = {
    require(k > 0, "bruteForceTopK: k must be positive")
    val spark = corpus.sparkSession
    import spark.implicits._
    val qRows = queries.select(col("vec_id"), col("embedding"))
      .limit(maxQueries + 1).collect()
    require(qRows.length <= maxQueries,
      s"bruteForceTopK: query set exceeds maxQueries=$maxQueries — queries " +
        "are broadcast by design; raise maxQueries deliberately or shard " +
        "the query set")
    val qSorted = qRows.map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val bcQ = spark.sparkContext.broadcast(qSorted)
    val local = corpus.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val s = new LocalTopK(bcQ.value, k)
        while (it.hasNext) {
          val (nid, emb) = it.next()
          val cnorm = s.normOf(emb)
          var q = 0
          while (q < s.nq) { s.offer(q, nid, emb, cnorm); q += 1 }
        }
        s.results
      }
      .toDF("query_id", "neighbor_id", "cos_r")
    val w = Window.partitionBy("query_id").orderBy(desc("cos_r"), col("neighbor_id"))
    local.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos_r"),
        col("rnk").cast("long").as("rnk"))
  }

  /** The declarative spelling of [[bruteForceTopK]] (broadcast nested-loop
    * join + per-query window): the reference plan the kernel is spec-pinned
    * against, and the shape to prefer when |Q| is a handful (no collect).
    */
  private[graft] def bruteForceTopKPlan(corpus: DataFrame, queries: DataFrame,
                                        k: Int): DataFrame = {
    val scored = corpus.as("c").join(
        broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))),
        col("c.vec_id") =!= col("query_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        round(cosine(col("qe"), col("c.embedding")), 6).as("cos_r"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos_r"), col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos_r"),
        col("rnk").cast("long").as("rnk"))
  }

  /** LSH-bucketed ANN: bucket corpus once, multi-probe queries (exact bucket
    * plus all XOR masks of up to `probeBits` plane-bit flips), re-rank
    * candidates exactly, keep top-k.
    *
    * Sizing at scale: recall per neighbor at angle θ is
    * P(Binomial(planes, θ/π) <= probeBits); planes controls bucket
    * granularity (candidates/query ≈ |corpus| * probes / 2^planes). Defaults
    * (8 planes, 2-bit probes = 37 buckets of 256) scan ~15% of the corpus —
    * tune planes up as |corpus| grows to keep candidate counts constant.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, planes: Int = 8,
              probeBits: Int = 2, maxQueries: Int = 100000): DataFrame = {
    require(k > 0, "lshTopK: k must be positive")
    val spark = corpus.sparkSession
    import spark.implicits._
    val dim = 64
    val pm = planeMatrix(planes, dim)
    // queries are collected WITH their plane bucket — computed by the same
    // expression as the corpus side, so bucket semantics cannot drift
    val qRows = queries.select(col("vec_id"), col("embedding"),
        planeBucket(col("embedding"), pm).as("qbucket"))
      .limit(maxQueries + 1).collect()
    require(qRows.length <= maxQueries,
      s"lshTopK: query set exceeds maxQueries=$maxQueries — queries are " +
        "broadcast by design; raise maxQueries deliberately or shard the " +
        "query set")
    val qSorted = qRows
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getLong(2)))
      .sortBy(_._1)
    // all XOR masks with <= probeBits bits set; the probed buckets of one
    // query are DISTINCT, and a corpus row has exactly one bucket, so every
    // (query, corpus-row) candidate pair meets at most once — no dedup
    // stage anywhere in this operator
    val masks = (0 until (1 << planes))
      .filter(m => java.lang.Integer.bitCount(m) <= probeBits)
    val probeMap = new java.util.HashMap[java.lang.Long, Array[Int]]()
    qSorted.indices
      .flatMap(i => masks.map(m => (qSorted(i)._3 ^ m.toLong, i)))
      .groupBy(_._1)
      .foreach { case (b, xs) =>
        probeMap.put(b, xs.map(_._2).sorted.toArray)
      }
    val bcQ = spark.sparkContext.broadcast(qSorted.map(t => (t._1, t._2)))
    val bcProbe = spark.sparkContext.broadcast(probeMap)
    // rank on the cosine rounded to 6 decimals with neighbor_id tie-break —
    // the same cross-engine-deterministic convention as [[bruteForceTopK]],
    // which is what makes this operator oracle-comparable.
    //
    // Shape (mirrors the bruteForceTopK kernel): the probe table is
    // O(|Q| × masks) driver state broadcast once; each corpus partition
    // streams its rows, scoring a row only against the queries probing its
    // bucket with a partition-local running top-k, then the
    // |partitions| × |Q| × k survivors merge through one per-query window.
    // The declarative join spelling is kept as [[lshTopKPlan]] and pinned
    // row-identical by SimilaritySpec: it materializes and rounds EVERY
    // candidate pair, hash-aggregates them (all-distinct groups — pure
    // overhead at |candidates| scale) and shuffles the full candidate set
    // to the window, where this kernel shuffles only the survivors.
    val local = corpus.select(col("vec_id"), col("embedding"),
        planeBucket(col("embedding"), pm).as("bucket"))
      .as[(Long, Array[Float], Long)]
      .mapPartitions { it =>
        val s = new LocalTopK(bcQ.value, k)
        val probes = bcProbe.value
        while (it.hasNext) {
          val (nid, emb, b) = it.next()
          val idxs = probes.get(b)
          if (idxs != null) {
            val cnorm = s.normOf(emb)
            var i = 0
            while (i < idxs.length) { s.offer(idxs(i), nid, emb, cnorm); i += 1 }
          }
        }
        s.results
      }
      .toDF("query_id", "neighbor_id", "cos_r")
    val w = Window.partitionBy("query_id").orderBy(desc("cos_r"), col("neighbor_id"))
    local.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk").cast("long").as("rnk"))
  }

  /** The declarative spelling of [[lshTopK]] (broadcast probe join + dedup
    * aggregate + per-query window): the reference plan the kernel is
    * spec-pinned against, and the shape to prefer when queries cannot be
    * collected (e.g. a query side too large for the broadcast contract).
    */
  private[graft] def lshTopKPlan(corpus: DataFrame, queries: DataFrame, k: Int,
                                 planes: Int = 8, probeBits: Int = 2): DataFrame = {
    val dim = 64
    val pm = planeMatrix(planes, dim)
    val bucketed = corpus.select(col("vec_id"), col("embedding"),
      planeBucket(col("embedding"), pm).as("bucket"))
    val qb = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"),
      planeBucket(col("embedding"), pm).as("qbucket"))
    val masks = (0 until (1 << planes)).filter(m => java.lang.Integer.bitCount(m) <= probeBits)
    val probes = qb.select(col("query_id"), col("qe"),
      explode(array(masks.map(m => col("qbucket").bitwiseXOR(lit(m.toLong))): _*)).as("bucket"))
    val cand = bucketed.join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qe"), col("embedding")), 6).as("cos"))
      .repartition(col("query_id"))
      .groupBy("query_id", "neighbor_id").agg(max("cos").as("cos"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), col("neighbor_id"))
    cand.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk").cast("long").as("rnk"))
  }

  /** IVF index build: the `nlist` centroids for `corpus`. Exposed as its
    * own entry point so an index can be built (and its cell balance
    * audited — CellBalanceSpec) separately from querying.
    *
    * Memoized in [[graft.Tables.memo]] per (session, canonicalized corpus
    * plan, nlist, refineSteps): an IVF index is built once and queried
    * many times, and the seed and refine passes are deterministic, so a
    * hit returns bit-identical centroids. The key is the analyzed plan's
    * canonicalized OBJECT, compared by structural plan equality (a file
    * relation's FileIndex, a LocalRelation's rows, untruncated attribute
    * lists); a plan STRING key would print no path and no local rows, so
    * two same-schema corpora from different directories would collide.
    *
    * Seed (r15, VERDICT r14 #4): a deterministic HASH-ORDERED sample —
    * order by md5 of the id, not by the id itself. First-nlist-by-vec_id
    * seeds are pathological on clustered corpora whose ids correlate with
    * cluster membership (ingest order usually does): every seed lands in
    * one true cluster, Lloyd refinement starts from a degenerate basin,
    * and downstream cell-size guards fire. md5 ordering is a uniform
    * sample of the corpus, exactly reproducible in the DuckDB oracle
    * (`md5(CAST(vec_id AS VARCHAR))` — both engines emit lowercase hex
    * over the decimal rendering, and ASCII ordering agrees).
    *
    * Refinement: `refineSteps` Lloyd rounds, each ONE narrow assignment
    * pass through the scoring kernel (IvfKernel.cos6 argmax, ties to the
    * smallest cid — the same ranking as the final assignment and the
    * oracle) feeding a partial-aggregating shuffle of ≤ nlist rows; means
    * in fixed-point integer arithmetic
    * ([[graft.functions.VectorAggregators.vecMeanFixed]]) —
    * order-independent, so a refined index is exactly reproducible across
    * runs AND engines. Cells that lose all members drop out (nlist may
    * shrink). The centroid matrix is later held inside the two native
    * expressions as one reference object each, so plan size stays O(1)
    * in nlist.
    */
  def ivfCentroids(corpus: DataFrame, nlist: Int,
                   refineSteps: Int): Array[(Long, Seq[Float])] = {
    graft.Tables.memo(corpus.sparkSession, None,
        (corpus.queryExecution.analyzed.canonicalized, s"$nlist/$refineSteps")) {
      var cs: Array[(Long, Seq[Float])] = corpus
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(nlist)
        .select(col("vec_id").as("id"), col("embedding").as("e"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
        .sortBy(_._1)
      for (_ <- 1 to refineSteps) {
        val refined = corpus.select(
            graft.functions.VectorFunctions.ivf_argmax_cell(col("embedding"),
              cs.map(_._1), cs.map(_._2)).as("cid"),
            col("embedding"))
          .groupBy("cid")
          .agg(graft.functions.VectorAggregators.vecMeanFixed(col("embedding")).as("ce"))
          .collect()
        cs = refined.map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
      }
      cs
    }
  }

  /** IVF-flat ANN: partition the corpus by nearest of `nlist` sampled
    * centroids (broadcast argmin assignment — one narrow pass, no fitting
    * step beyond the deterministic sample), probe the `nprobe` nearest
    * centroid cells per query, re-rank exactly.
    *
    * The scale path: corpus assignment is embarrassingly parallel; each
    * query joins only nprobe/nlist of the corpus through a hash join on
    * `cell`. Unlike hyperplane LSH, cells follow the data distribution, so
    * recall holds on clustered real-world embedding corpora.
    *
    * Sizing: the centroid matrix rides inside the two native expressions
    * as ONE reference object each ([[graft.functions.IvfArgmaxCell]] /
    * IvfTopCells), so plan size and codegen are O(1) in nlist — the old
    * literal-array ceiling is gone. The knob that still matters is cell
    * POPULATION: probe cost per query is nprobe x |corpus|/nlist, so a
    * fixed nlist degrades linearly as the corpus grows. Use
    * [[suggestNlist]] to derive nlist from the corpus count when the call
    * site doesn't need a pinned index layout — `ann_ivf`/`ann_ivf_refined`
    * do exactly that, with the DuckDB oracle computing the same
    * max(32, N/1024) in its centroid LIMIT subquery, so the re-derivation
    * stays byte-stable at every scale.
    * Queries are driver-collected (bounded by `maxQueries`); an oversized
    * query set should be sharded by the caller.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, nlist: Int = 32,
              nprobe: Int = 8, refineSteps: Int = 1,
              maxQueries: Int = 100000): DataFrame = {
    require(k > 0, "ivfTopK: k must be positive")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = ivfCentroids(corpus, nlist, refineSteps)
    // every ordering below ranks on the cosine rounded to 6 decimals with a
    // deterministic tie-break (same convention as [[bruteForceTopK]] /
    // [[lshTopK]]): the whole operator — refined or not — is exactly
    // reproducible cross-engine, which is what lets `ann_ivf` and
    // `ann_ivf_refined` carry full row-level DuckDB oracles rather than
    // recall bounds. Corpus argmax, refine assignment, and query
    // top-nprobe all rank through functions.IvfKernel.cos6 — ONE cosine
    // implementation, so no stage can drift from another.
    //
    // Shape (r15 — mirrors the bruteForceTopK/lshTopK kernels): queries
    // are collected under the same maxQueries broadcast contract as the
    // sibling operators, their nprobe probe cells computed through the
    // SAME IvfKernel.topCells the in-plan expression uses, and the probe
    // table broadcast as cell → query indices. Each corpus partition
    // streams its rows once — in-plan argmax assignment, then a
    // partition-local running top-k against only the queries probing the
    // row's cell — and the |partitions| × |Q| × k survivors merge through
    // one per-query window. The declarative spelling (broadcast probe
    // join + window) is kept as [[ivfTopKPlan]] and pinned row-identical
    // by SimilaritySpec: it materializes every candidate pair, pays the
    // half-up rounding for ALL of them (BigDecimal per pair), and
    // shuffles the full candidate set into the window, where this kernel
    // rounds only candidates that can still enter a running top-k and
    // shuffles only the survivors.
    // queries are collected WITH their probe cells — computed by the same
    // in-plan expression (hence the same IvfKernel.topCells) at session
    // width, so probe semantics cannot drift and the driver never scores
    // a query against the centroid matrix.
    // Guard cost (ADVICE r15, documented decision): the limit(max+1)
    // collect pulls up to maxQueries+1 FULL rows before the require fires,
    // so an oversized query set costs one ~100k-row collect (~50 MB at
    // dim 64) on its way to the error — same contract as the
    // bruteForceTopK/lshTopK siblings. A cheap id-only pre-count would
    // spare that failure path but add one extra job to EVERY healthy call
    // (~0.04 s of stage floor at bench scale, forever); the failure path
    // is the one that should pay.
    val qRows = queries.select(col("vec_id"), col("embedding"),
        graft.functions.VectorFunctions.ivf_top_cells(col("embedding"),
          cents.map(_._1), cents.map(_._2), nprobe).as("cells"))
      .limit(maxQueries + 1).collect()
    require(qRows.length <= maxQueries,
      s"ivfTopK: query set exceeds maxQueries=$maxQueries — the IVF probe " +
        "side is broadcast by design (queries are assumed broadcast-small); " +
        "raise maxQueries deliberately or pre-shard the query set and " +
        "union the results")
    val qSorted = qRows
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getSeq[Long](2)))
      .sortBy(_._1)
    // cell → indices of the queries probing it; a corpus row has exactly
    // one cell and a query's probe cells are distinct, so every
    // (query, corpus-row) candidate pair meets at most once
    val probeMap = new java.util.HashMap[java.lang.Long, Array[Int]]()
    qSorted.indices
      .flatMap(i => qSorted(i)._3.map(c => (c, i)))
      .groupBy(_._1)
      .foreach { case (cell, xs) => probeMap.put(cell, xs.map(_._2).sorted.toArray) }
    // lifecycle (ADVICE r15): the broadcasts are referenced only by the
    // returned DataFrame's closure — when the caller drops the frame,
    // Spark's ContextCleaner GCs the executor blocks; an explicit destroy
    // here would break the (lazy) frame before it ever ran. Same contract
    // as bruteForceTopK/lshTopK.
    val bcQ = spark.sparkContext.broadcast(qSorted.map(t => (t._1, t._2)))
    val bcProbe = spark.sparkContext.broadcast(probeMap)
    val assign = corpus.select(col("vec_id"), col("embedding"),
      graft.functions.VectorFunctions.ivf_argmax_cell(col("embedding"),
        cents.map(_._1), cents.map(_._2)).as("cell"))
    val local = assign.as[(Long, Array[Float], Long)]
      .mapPartitions { it =>
        val s = new LocalTopK(bcQ.value, k)
        val probes = bcProbe.value
        while (it.hasNext) {
          val (nid, emb, cell) = it.next()
          val idxs = probes.get(cell)
          if (idxs != null) {
            val cnorm = s.normOf(emb)
            var i = 0
            while (i < idxs.length) { s.offer(idxs(i), nid, emb, cnorm); i += 1 }
          }
        }
        s.results
      }
      .toDF("query_id", "neighbor_id", "cos_r")
    val w = Window.partitionBy("query_id").orderBy(desc("cos_r"), col("neighbor_id"))
    local.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk").cast("long").as("rnk"))
  }

  /** The declarative spelling of [[ivfTopK]] (in-plan probe expression +
    * broadcast candidate join + per-query window): the reference plan the
    * kernel is spec-pinned against, and the shape to prefer when queries
    * cannot be collected (its probe side stays fully in-plan — query
    * embeddings never travel to the driver).
    */
  private[graft] def ivfTopKPlan(corpus: DataFrame, queries: DataFrame, k: Int,
                                 nlist: Int = 32, nprobe: Int = 8,
                                 refineSteps: Int = 1,
                                 maxQueries: Int = 100000): DataFrame = {
    // the maxQueries guard is per-CALL (the query side changes between
    // calls even when the index is cached): a bounded id-only count job —
    // query EMBEDDINGS never travel to the driver
    require(queries.select(col("vec_id")).limit(maxQueries + 1).count() <= maxQueries,
      s"ivfTopK: query set exceeds maxQueries=$maxQueries — the IVF probe " +
        "side is broadcast by design (queries are assumed broadcast-small); " +
        "raise maxQueries deliberately or pre-shard the query set and " +
        "union the results")
    val cents = ivfCentroids(corpus, nlist, refineSteps)
    val assign = corpus.select(col("vec_id"), col("embedding"),
      graft.functions.VectorFunctions.ivf_argmax_cell(col("embedding"),
        cents.map(_._1), cents.map(_._2)).as("cell"))

    // query side: the nprobe-nearest cells come from the native top-cells
    // expression IN-PLAN over the query DataFrame — no crossJoin, no
    // window, no second collect
    val probes = queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qe"),
        explode(graft.functions.VectorFunctions.ivf_top_cells(col("embedding"),
          cents.map(_._1), cents.map(_._2), nprobe)).as("cell"))

    // probes are |queries|×nprobe rows — broadcast them so the corpus side
    // never shuffles before the final per-query window
    val cand = assign.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qe"), col("embedding")), 6).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), col("neighbor_id"))
    cand.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk").cast("long").as("rnk"))
  }

  /** nlist that keeps IVF cells near `targetCellRows` members for a corpus
    * of `corpusRows` vectors — the scale-following default for call sites
    * that don't need a pinned index layout. sqrt-free: cells/probe cost
    * trade linearly, so the right nlist IS corpus/targetCell, floored at
    * the classic 32 (tiny corpora gain nothing from more cells) and capped
    * at `maxNlist` (centroid collect + per-row argmax are O(nlist); past
    * ~65k cells a two-level coarse index is the right structure, not a
    * bigger flat one — fail the cap loudly rather than degrade).
    */
  def suggestNlist(corpusRows: Long, targetCellRows: Long = 1024L,
                   maxNlist: Int = 65536): Int = {
    require(corpusRows >= 0, "suggestNlist: corpusRows must be non-negative")
    require(targetCellRows > 0, "suggestNlist: targetCellRows must be positive")
    val raw = corpusRows / targetCellRows
    require(raw <= maxNlist,
      s"suggestNlist: corpus of $corpusRows rows wants $raw cells of " +
        s"~$targetCellRows rows, past maxNlist=$maxNlist — a flat IVF scan " +
        "of that many centroids per row is the wrong structure; shard the " +
        "corpus or add a coarse first-level index")
    math.max(32L, raw).toInt
  }
}
