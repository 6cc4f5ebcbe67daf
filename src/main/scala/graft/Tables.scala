package graft

import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}

/** Readers for the driver-generated synthetic tables (TESTDATA.md).
  *
  * Each table is a single parquet file under `dir` (one of
  * /root/testdata/sf{0.001,0.01,0.1}). Reads are plain parquet scans so
  * Catalyst's predicate pushdown and column pruning apply to everything
  * built on top; at cluster scale the same call works on a partitioned
  * directory unchanged.
  *
  * REFRESH contract. State derived from the input tables is memoized in
  * one map, [[memo]], whose entries are keyed by the session, the input
  * dir the entry was derived from, and what the entry is:
  *  - the resolved relation per table ([[read]]): `spark.read.parquet`
  *    re-lists the directory and re-reads parquet footers on every call,
  *    tens of ms per query for metadata Spark already has. Reusing the
  *    analyzed relation is what registering the table once as a view
  *    gives; no data is cached, plans stay lazy;
  *  - the row count per table ([[rowCount]]), for operators whose plan is
  *    a function of corpus size (IVF's nlist follows |embeddings|);
  *  - handles to results the engine persists or writes once per input
  *    and shares across queries: the dedup family's hubs (shingle-hash
  *    arrays, pair statistics, jaccard pairs), the token encoding, the
  *    connected-components labelings ([[memoPersisted]]), the bucketed
  *    join and the ORC/CSV/JSON round-trip fixtures. Every cache that
  *    outlives the query that built it is one of these entries;
  *  - the IVF centroid sets, keyed by their corpus plan and so by no dir.
  *
  * Like a registered view, every entry snapshots its inputs: files added
  * to, removed from or rewritten in a dir are invisible until
  * [[invalidate]] (the analogue of REFRESH TABLE) drops every entry
  * derived from tables under that dir, plus every entry with no dir, and
  * unpersists the persisted results among them. A
  * handle to a persisted result is also rebuilt when its cache entry is
  * gone (`clearCache()`), and entries of stopped sessions are swept on a
  * miss, so short-lived sessions don't pin their contexts for the JVM
  * lifetime. Keyed by session so tests with their own sessions don't
  * cross-wire.
  */
object Tables {
  private final case class Key(session: SparkSession, dir: Option[String], what: Any)

  /** Filled once, by its first caller, outside the map's lock: builds look
    * up other entries (rowCount reads its relation, the encoding reads
    * `documents`), which `computeIfAbsent` on the same map forbids.
    * A `persisted` cell holds a handle to a persisted result, which
    * [[release]] unpersists once the cell has been built.
    */
  private final class Cell(build: () => AnyRef, persisted: Boolean) {
    @volatile private var built = false
    lazy val value: AnyRef = { val v = build(); built = true; v }
    def release(): Unit =
      if (persisted && built) value.asInstanceOf[DataFrame].unpersist(blocking = false)
  }

  private val entries = new java.util.concurrent.ConcurrentHashMap[Key, Cell]()

  /** The entry `what` derived from `dir` for session `s`, built on a miss.
    * A hit is one map lookup.
    */
  private[graft] def memo[T <: AnyRef](s: SparkSession, dir: Option[String], what: Any)
                                      (build: => T): T =
    lookup[T](Key(s, dir, what), _ => true, () => build, persisted = false)

  /** [[memo]] for a handle to a persisted result: rebuilt once the cache
    * entry it wraps is gone (`clearCache()`, or a result that was never
    * persisted), and unpersisted by [[invalidate]].
    */
  private[graft] def memoPersisted(s: SparkSession, dir: Option[String], what: Any)
                                  (build: => DataFrame): DataFrame =
    lookup[DataFrame](Key(s, dir, what), GraftShims.isCached, () => build, persisted = true)

  private def lookup[T <: AnyRef](key: Key, valid: T => Boolean, build: () => T,
                                  persisted: Boolean): T = {
    val hit = entries.get(key)
    if (hit != null) {
      val v = hit.value.asInstanceOf[T]
      if (valid(v)) return v
      entries.remove(key, hit)
    }
    entries.keySet.removeIf(_.session.sparkContext.isStopped)
    val fresh = new Cell(build, persisted)
    val prior = entries.putIfAbsent(key, fresh)
    (if (prior == null) fresh else prior).value.asInstanceOf[T]
  }

  /** Primary keys of the synthetic tables (TESTDATA.md; the reference
    * declares the same in its DDL, `create_datawarehouse.sql:9-50`).
    * Declared to [[graft.plans.UniqueKeys]] on first read so the
    * optimizer may eliminate provably-redundant joins against them;
    * ScaleData's per-replica key shifts preserve uniqueness, so the
    * declaration holds at every scale the engine runs on.
    */
  private val primaryKeys: Map[String, Set[String]] = Map(
    "region" -> Set("r_regionkey"), "nation" -> Set("n_nationkey"),
    "customer" -> Set("c_custkey"), "supplier" -> Set("s_suppkey"),
    "part" -> Set("p_partkey"), "orders" -> Set("o_orderkey"),
    "events" -> Set("event_id"), "documents" -> Set("doc_id"),
    "embeddings" -> Set("vec_id"))

  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    memo(spark, Some(dir), name) {
      val p = s"$dir/$name.parquet"
      primaryKeys.get(name).foreach(graft.plans.UniqueKeys.declare(p, _))
      spark.read.parquet(p)
    }

  /** Row count of `dir/name.parquet`, counted once per session and dir. */
  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    memo[java.lang.Long](spark, Some(dir), s"count($name)")(
      read(spark, dir, name).count()).longValue

  /** REFRESH TABLE for the memo: drop every entry derived from tables
    * under `dir` (a directory-boundary match: `/data/a` does not cover
    * `/data/ab`) plus every entry with no dir; with no `dir`, drop every
    * entry. A dropped handle to a persisted result is unpersisted; a cell
    * nobody built is dropped without building it. Also drops the matching
    * [[graft.plans.UniqueKeys]] declarations: overwriting a declared path
    * with PK-violating data must invalidate the constraint too, or the
    * optimizer would keep eliminating joins from a promise the files no
    * longer keep (the next read re-declares).
    */
  def invalidate(dir: Option[String] = None): Unit = {
    entries.forEach { (k, cell) =>
      if (dir.forall(d => k.dir.forall(graft.plans.UniqueKeys.within(_, d))) &&
          entries.remove(k, cell) && !k.session.sparkContext.isStopped)
        cell.release()
    }
    graft.plans.UniqueKeys.undeclare(dir)
  }

  def region(s: SparkSession, d: String): DataFrame = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = read(s, d, "lineitem")

  /** `events.ts` has shipped in two physical generations: TIMESTAMP(NANOS)
    * parquet (which Spark only reads with `nanosAsLong`, as an int64;
    * [[GraftSession]] sets it on every session) and plain timestamp[us]
    * (which Spark infers as TIMESTAMP_NTZ). Dispatch on
    * the loaded type and normalize BOTH generations to TimestampType so every
    * consumer sees one stable column type: nanos are truncated to
    * microseconds (identical to DuckDB's ns -> us coercion); NTZ is cast
    * under the UTC-pinned session, where the cast is wall-clock identity.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = read(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df // already TimestampType
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")
}
