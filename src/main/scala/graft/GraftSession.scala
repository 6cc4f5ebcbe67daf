package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Canonical session factory. Every entry point (Verify, Bench, the
  * tools, demos, the shared test fixture) builds its session here, so the Graft
  * planner extensions ([[graft.plans.PrefixJoinStrategy]] via
  * [[graft.plans.GraftPlanExtensions]]) and the engine-parity configs
  * (UTC session timezone) can never be silently lost — a plain
  * `SparkSession.builder()` without the strategy would degrade prefix
  * joins to BroadcastNestedLoopJoin without any error.
  *
  * External users embedding the library get the identical wiring with
  * `--conf spark.sql.extensions=graft.plans.GraftPlanExtensions`.
  *
  * The session also sizes Spark's generated-class cache
  * (`spark.sql.codegen.cache.maxEntries`, default 100) to the engine's
  * working set, so each distinct whole-stage or projection class is
  * compiled once per JVM. The working sets measured on a 4-core host:
  * 939 distinct classes over the sf0.1 board, about 180-190 per
  * perfbench pass (query_board or the chess job). Under the default the
  * LRU evicted every class before its query came round again, so every
  * pass, the bench's warm pass included, recompiled from scratch
  * (~175 compiles and 2.5 s per warm query_board pass). [[CodegenCache]]
  * gives about 2x headroom over the largest set and stays bounded, so an
  * ad-hoc session cannot grow metaspace without limit.
  */
object GraftSession {

  /** Entries in Spark's JVM-wide generated-class cache. */
  val CodegenCache = 2048

  /** Build the standard Graft session. `configure` lets a caller layer
    * entry-point-specific configs (bench tuning, warehouse dirs) on top of
    * the canonical base; extensions are injected before `configure` runs
    * and cannot be removed by it.
    *
    * `spark.sql.codegen.cache.maxEntries` is a static conf: Spark 4.1
    * builds the cache once per JVM, in `CodeGenerator`'s static
    * initialiser, from `SQLConf.get` — the conf of whichever session is
    * active on the thread that first touches `CodeGenerator`, or the
    * defaults when none is. So `create` touches it right after
    * `getOrCreate()`, while the new session is active; a later session in
    * the same JVM shares the cache as it was first sized.
    */
  def create(configure: SparkSession.Builder => SparkSession.Builder = identity): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // older testdata generations store events.ts as TIMESTAMP(NANOS),
      // which Spark reads only as an int64; Tables.events normalizes it
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // InferFiltersFromGenerate turns explode(f(x)) into an inferred
      // `size(f(x)) > 0` filter that predicate pushdown then sinks through
      // repartitions into the scan — for the dedup pipelines that re-runs
      // the (deliberately post-shuffle, parallel) native shingle-hash
      // expression serially inside the single-file scan task. Explode
      // already skips empty/null arrays by itself; the inference only
      // MOVES that work, so excluding the rule costs nothing here.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // let AQE re-plan (notably: coalesce post-shuffle partitions of)
      // plans that feed a persisted relation — off by default so cached
      // data keeps a stable output partitioning for downstream reuse, but
      // nothing this engine persists relies on that partitioning (the
      // dedup family's hubs, the token encoding, the cluster labelings,
      // dedupCorpus, contaminationBloom, lshIndex, and the scoped
      // persists of a2_count_distinct, lm_cross_entropy and
      // text_edit_distance), and without AQE the cached subtree runs every
      // stage at full shuffle width however tiny the data
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // trust the sort order of 1-file-per-bucket bucketed layouts: every
      // bucketed table this engine writes is bucket-aligned and sorted by
      // the bucket key (operators.Bucketing.writeBucketed* repartitions to
      // numPartitions == buckets before the sorted write), so the SMJ over
      // a bucketed join needs no per-query re-sort. Spark verifies the
      // one-file-per-bucket precondition from the file listing before
      // assuming order, so a foreign multi-file bucket table silently
      // falls back to sorting — never wrong, just slower. Measured at
      // x1000 on the 128-bucket orderkey layout: the fact⋈fact join drops
      // its two 600M/150M-row sorts (see layout_bucketed_join's audit).
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCache.toLong)
      .withExtensions(new graft.plans.GraftPlanExtensions)
    val spark = configure(base).getOrCreate()
    CodeGenerator.compileTime // initialise the cache under this session's conf
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
