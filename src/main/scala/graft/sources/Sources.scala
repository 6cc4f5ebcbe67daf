package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Unified source facade (SURVEY.md §2.1): every format the engine reads,
  * with the conventions that make them scale — explicit schemas where
  * inference is unsafe (S2), plain path scans that keep Catalyst pushdown
  * working (S3/S4), and JDBC with partitioned reads for parallel ingest
  * (S6).
  */
object Sources {

  /** S3: parquet path scan (file, directory, or partitioned layout). */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** S2: JSON with a declared schema — inference is one extra full pass
    * over the data AND silently drops sparse fields absent from the sampled
    * month (the `accuracies` hazard, SURVEY.md §1.2).
    */
  def json(spark: SparkSession, path: String, schema: StructType,
           multiLine: Boolean = true): DataFrame =
    spark.read.schema(schema).option("multiLine", multiLine).json(path)

  /** S4: headered CSV; schema optional (the 3.5k-row openings book is fine
    * inferred, a 100 TB extract is not).
    */
  def csv(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("header", true)
    schema.fold(r.option("inferSchema", true))(r.schema).csv(path)
  }

  /** ORC path scan (beyond reference: second columnar format, same
    * pushdown/pruning contract as parquet — Spark's OrcScan supports
    * predicate pushdown and column pruning natively).
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** ORC sink (full replace). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).orc(path)

  /** CSV sink (full replace, header row). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("header", true).csv(path)

  /** JSON-lines sink (full replace). NOTE: read its output back with
    * [[json]]`(…, multiLine = false)` — the facade's `multiLine` default
    * serves the bronze one-array-per-file shape and would parse a
    * JSON-lines file as a single document (first record only).
    */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).json(path)

  private val sinks: Map[String, (DataFrame, String) => Unit] =
    Map("orc" -> writeOrc, "csv" -> writeCsv, "json" -> writeJson)

  /** The round-trip queries' fixture: `table` of `sfDir` written in
    * `format` ("orc", "csv" or "json") to a deterministic tmp path, once
    * per session and dir until [[graft.Tables.invalidate]] — so plan
    * audits and repeated bench passes measure the scan, not a fresh
    * write, and no temp directories leak across runs (overwrite mode
    * reclaims the stable path on the next write).
    */
  def fixture(spark: SparkSession, sfDir: String, table: String, format: String): String =
    graft.Tables.memo(spark, Some(sfDir), s"fixture/$table.$format") {
      val p = System.getProperty("java.io.tmpdir") + s"/graft-$format-fixture" +
        sfDir.replaceAll("[^a-zA-Z0-9]", "_") + s"/$table.$format"
      sinks(format)(graft.Tables.read(spark, sfDir, table), p)
      p
    }

  /** S6: JDBC table read; `partitionColumn` splits the read into
    * `numPartitions` parallel range queries — without it a warehouse read
    * is a single connection no matter the cluster size.
    */
  def jdbc(spark: SparkSession, url: String, table: String,
           props: java.util.Properties,
           partitionColumn: Option[String] = None,
           lowerBound: Long = 0L, upperBound: Long = 1L,
           numPartitions: Int = 8): DataFrame =
    partitionColumn match {
      case Some(c) =>
        spark.read.jdbc(url, table, c, lowerBound, upperBound, numPartitions, props)
      case None => spark.read.jdbc(url, table, props)
    }
}
