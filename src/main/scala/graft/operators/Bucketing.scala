package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Bucketed-table support for co-located joins and aggregations.
  *
  * At 100 TB the dominant cost of a fact-fact join (e.g. lineitem⋈orders)
  * is the shuffle of both sides. Persisting the tables bucketed by the join
  * key removes that exchange for *every* subsequent join/aggregation on
  * the key — the classic write-once-shuffle, read-many-joins trade.
  * Measured at x1000 (r11): the orderkey-bucketed j4 join runs 39.7 s
  * (zero exchanges before the final 25×25 agg) vs 109.9 s for the
  * exchange-bound plan the same day; `BucketedJoinSpec` pins the
  * exchange-free physical shape.
  *
  * The full lifecycle is first-class here (not test-tree code):
  *
  *   - [[writeBucketed]]/[[writeBucketedExternal]] persist the layout AND
  *     a sidecar metadata file ([[MetaFile]]) recording the bucket count
  *     and key — the one fact a fresh session cannot safely guess.
  *   - [[registerExternal]] re-registers an on-disk layout in a NEW
  *     session (the default in-memory catalog forgets tables across JVMs;
  *     the files and their bucket-id-bearing names survive). The bucket
  *     count comes from the sidecar — or, for pre-sidecar layouts, from
  *     the distinct bucket ids in the part-file names — never from the
  *     caller alone: registering a 128-bucket layout as 32 buckets makes
  *     Spark's bucketed read silently DROP every file with bucket id
  *     ≥ 32 (~75% of rows) with no error. A caller-expected count that
  *     disagrees with the on-disk evidence fails fast instead.
  *   - [[ensureBucketed]] is the write-once entry point: register if the
  *     layout exists, build+write it if not, return the table either way.
  */
object Bucketing {

  /** Sidecar written next to the bucket files. The leading underscore
    * makes it invisible to Spark's file index (same convention as
    * `_SUCCESS`), so it never pollutes the parquet scan.
    */
  val MetaFile = "_graft_bucket_meta.json"

  /** `sort`: the full SORTED BY column list of the layout — the bucket
    * key alone for the classic layouts, key + secondary time column for
    * tape layouts ([[graft.operators.AsofJoin.leftAsofTape]] consumers).
    * Pre-r14 sidecars carry no sort field and mean "sorted by the key".
    *
    * `source` (r15): fingerprint of the INPUT data the layout was built
    * from ([[sourceFingerprint]] of the source tables — names + lengths +
    * mtimes). This is the sidecar-level staleness defense: the layout
    * PATHS in this engine already embed the same fingerprint (a
    * regenerated fixture changes the slug, so the stale dir is simply
    * never read again), but a layout dir that was copied, renamed, or
    * hand-built at the "right" path would still be trusted on path
    * evidence alone. With `source` recorded, every trust point
    * re-derives the fingerprint from the CURRENT fixture and rejects a
    * mismatch: [[registerExternal]] fails fast. Pre-r15 sidecars carry
    * no source and are accepted (the path slug is their only — and so
    * far sufficient — guard).
    */
  final case class BucketMeta(buckets: Int, key: String,
                              sort: Seq[String] = Nil,
                              source: Option[String] = None) {
    def sortCols: Seq[String] = if (sort.isEmpty) Seq(key) else sort
  }

  /** Content fingerprint of the data a layout is derived from: file names
    * + lengths + mtimes of `tables` under `dir`, folded to a short hex
    * slug. Cheap (pure metadata walk, no reads), and any regeneration of
    * the data changes it (rewritten files get new mtimes even when sizes
    * collide). Used both as the layout PATH component (a stale dir is
    * abandoned, never read) and as the sidecar `source` field (a dir
    * that somehow reappears at a current path is still rejected).
    */
  def sourceFingerprint(dir: String, tables: String*): String = {
    def stat(p: java.io.File): Seq[String] =
      if (p.isDirectory) p.listFiles.sortBy(_.getName).toSeq.flatMap(stat)
      else Seq(s"${p.getName}:${p.length}:${p.lastModified}")
    val sig = (dir +: tables.flatMap(t => stat(new java.io.File(dir, t))))
      .mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
  }

  /** Persist `df` as a bucketed+sorted MANAGED table (overwrite) in the
    * session warehouse, plus the [[MetaFile]] sidecar. Pre-`repartition`
    * the input by the key with numPartitions == buckets when the input is
    * large: the exchange then aligns 1:1 with the bucket-id hash, so each
    * task sorts/writes exactly one bounded bucket (at x1000 the unaligned
    * 32-bucket write put a 19M-row sort in every task and GC-froze the
    * driver past the heartbeat timeout).
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)
    writeMeta(managedLocation(df.sparkSession, table), key, buckets)
  }

  /** Persist `df` as a bucketed+sorted EXTERNAL table at `location`
    * (overwrite), plus the [[MetaFile]] sidecar. External layouts survive
    * warehouse-dir reconfiguration and can be re-registered by path.
    */
  def writeBucketedExternal(df: DataFrame, table: String, key: String,
                            buckets: Int, location: String,
                            sortCols: Seq[String] = Nil,
                            source: Option[String] = None): Unit = {
    val sort = if (sortCols.isEmpty) Seq(key) else sortCols
    require(sort.head == key,
      s"bucketed layout sort order must lead with the bucket key '$key' " +
        s"(got ${sort.mkString(",")}) — the session-wide sorted-scan trust " +
        "(legacy.bucketedTableScan.outputOrdering) assumes key-led order")
    df.sparkSession.sql(s"DROP TABLE IF EXISTS `$table`")
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(sort.head, sort.tail: _*)
      .option("path", location)
      .format("parquet").saveAsTable(table)
    writeMeta(location, key, buckets, sort, source)
  }

  /** Where a managed table's files land: `<warehouse.dir>/<table>` in the
    * default database (lowercased by the catalog).
    */
  def managedLocation(spark: SparkSession, table: String): String = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    s"$wh/${table.toLowerCase(java.util.Locale.ROOT)}"
  }

  private def writeMeta(location: String, key: String, buckets: Int,
                        sort: Seq[String] = Nil,
                        source: Option[String] = None): Unit = {
    val sortJson =
      if (sort.isEmpty || sort == Seq(key)) ""
      else s""","sort":[${sort.map("\"" + _ + "\"").mkString(",")}]"""
    val srcJson = source.map(s => s""","source":"$s"""").getOrElse("")
    Files.write(Paths.get(location, MetaFile),
      s"""{"buckets":$buckets,"key":"$key"$sortJson$srcJson}"""
        .getBytes(StandardCharsets.UTF_8))
  }

  // per-field extraction (field order in the sidecar is not a contract;
  // r14 sidecars end after key/sort, r15 adds source)
  private val BucketsRe = """"buckets"\s*:\s*(\d+)""".r
  private val KeyRe = """"key"\s*:\s*"([^"]+)"""".r
  private val SortRe = """"sort"\s*:\s*\[([^\]]*)\]""".r
  private val SourceRe = """"source"\s*:\s*"([^"]+)"""".r

  def readMeta(location: String): Option[BucketMeta] = {
    val p = Paths.get(location, MetaFile)
    if (!Files.exists(p)) None
    else {
      val raw = new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim
      val parsed = for {
        n <- BucketsRe.findFirstMatchIn(raw).map(_.group(1).toInt)
        k <- KeyRe.findFirstMatchIn(raw).map(_.group(1))
      } yield BucketMeta(n, k,
        SortRe.findFirstMatchIn(raw).map(_.group(1).split(",")
          .map(_.trim.stripPrefix("\"").stripSuffix("\""))
          .filter(_.nonEmpty).toSeq).getOrElse(Nil),
        SourceRe.findFirstMatchIn(raw).map(_.group(1)))
      parsed.orElse(sys.error(
        s"unparseable $MetaFile at $location: ${raw.take(200)}"))
    }
  }

  /** The distinct bucket ids present in the part-file names at `location`
    * (Spark encodes the id as the `_NNNNN` suffix before the codec
    * extension: `part-00000-<uuid>_00042.c000.snappy.parquet`).
    */
  def bucketIdsOnDisk(location: String): Seq[Int] = {
    val idRe = """_(\d{5})\.""".r
    val dir = Paths.get(location)
    if (!Files.isDirectory(dir)) Seq.empty
    else Files.list(dir).iterator.asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      .flatMap(n => idRe.findFirstMatchIn(n).map(_.group(1).toInt))
      .toSeq.distinct.sorted
  }

  /** Re-register an existing on-disk bucketed layout as an EXTERNAL table
    * in this session. The bucket count and key come from the sidecar
    * metadata; pre-sidecar layouts fall back to deriving the count from
    * the bucket ids in the part-file names (valid when the write was
    * bucket-aligned, i.e. every bucket has a file) and `keyFallback`.
    * `expect` (e.g. a SPARK_GRAFT_BUCKETS env value) is VALIDATED against
    * the on-disk evidence, never trusted: a mismatch throws instead of
    * silently dropping the files whose bucket id exceeds the declared
    * count.
    */
  def registerExternal(spark: SparkSession, table: String, location: String,
                       keyFallback: Option[String] = None,
                       expect: Option[Int] = None,
                       expectSource: Option[String] = None): Unit = {
    require(Files.exists(Paths.get(location, "_SUCCESS")),
      s"no completed bucketed layout at $location (missing _SUCCESS)")
    val ids = bucketIdsOnDisk(location)
    val meta = readMeta(location)
    val buckets = meta.map(_.buckets).getOrElse {
      require(ids.nonEmpty, s"no bucketed part files at $location")
      // aligned writes fill every bucket, so max id + 1 IS the count; an
      // unaligned pre-sidecar layout with an empty top bucket would
      // under-count — expect (below) is the caller's cross-check
      ids.max + 1
    }
    val key = meta.map(_.key).orElse(keyFallback).getOrElse(sys.error(
      s"no $MetaFile at $location and no keyFallback given — cannot " +
        "recover the bucket key"))
    require(ids.forall(_ < buckets),
      s"$location holds bucket ids up to ${ids.max} but declares only " +
        s"$buckets buckets — registering would silently drop files")
    expect.foreach(e => require(e == buckets,
      s"caller expects $e buckets but the on-disk layout at $location " +
        s"has $buckets (sidecar=${meta.isDefined}, max id=" +
        s"${if (ids.isEmpty) "-" else ids.max.toString}) — refusing to " +
        "register: a wrong count silently drops rows. Rewrite the layout " +
        "or fix the expectation."))
    meta.foreach(m => keyFallback.foreach(k => require(
      k.equalsIgnoreCase(m.key),
      s"caller expects bucket key '$k' but sidecar says '${m.key}'")))
    // staleness fail-fast at the TRUST point: when both the caller and
    // the sidecar know the source fingerprint, they must agree — a
    // mismatch means the layout was built from different data than the
    // fixture about to be queried, and registering it would serve rows
    // from the OLD corpus with no error
    for (m <- meta; ms <- m.source; es <- expectSource) require(ms == es,
      s"stale bucketed layout at $location: sidecar source fingerprint " +
        s"'$ms' != current fixture fingerprint '$es' — the layout was " +
        "built from a different generation of the data. Delete the dir " +
        "so the next run rebuilds it.")
    val sortCols = meta.map(_.sortCols).getOrElse(Seq(key))
    val schema = spark.read.parquet(location).schema.toDDL
    spark.sql(s"CREATE TABLE `$table` ($schema) USING parquet " +
      s"CLUSTERED BY (`$key`) " +
      s"SORTED BY (${sortCols.map(c => s"`$c`").mkString(", ")}) " +
      s"INTO $buckets BUCKETS LOCATION '$location'")
  }

  /** Write-once entry point: if `table` is already registered, use it; if
    * the layout exists on disk (a previous JVM wrote it), re-register it
    * — failing fast if `buckets` disagrees with the on-disk count; else
    * build `input`, align it to the bucket hash, and write the layout.
    * Returns the bucketed table; joins/aggs on `key` over it plan with
    * zero exchanges (BucketedJoinSpec).
    */
  def ensureBucketed(spark: SparkSession, table: String, location: String,
                     key: String, buckets: Int, sortCols: Seq[String] = Nil,
                     source: Option[String] = None)
                    (input: => DataFrame): DataFrame = {
    if (!spark.catalog.tableExists(table)) {
      if (Files.exists(Paths.get(location, "_SUCCESS")))
        registerExternal(spark, table, location, Some(key), Some(buckets),
          expectSource = source)
      else
        writeBucketedExternal(input.repartition(buckets, col(key)),
          table, key, buckets, location, sortCols, source)
    }
    spark.table(table)
  }

  def table(spark: SparkSession, name: String): DataFrame = spark.table(name)

  /** True when the physical plan of `df` contains a shuffle exchange. */
  def hasShuffle(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning")
}
