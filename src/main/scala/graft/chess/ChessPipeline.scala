package graft.chess

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftShims, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** End-to-end medallion pipeline: bronze JSON → silver parquet → gold star
  * schema, with the reference's incremental semantics (existence-probe
  * initial-vs-incremental dim builds, latest-wins fact merge) — one Spark
  * driver program instead of two DAGs × N tasks × XCom hops (SURVEY.md §3).
  *
  * `root` is any Hadoop-compatible URI (local dir in tests, abfss/s3a at
  * scale); layout mirrors the reference's blob names:
  * bronze/{yyyy}-{MM}-games.json, silver/fact-{yyyy}-{MM}-games.parquet,
  * gold/{fact-games,dim_*}.parquet.
  *
  * Every table the pipeline writes is read back with the schema it was
  * written with, taken from the writer's analyzed plan: inferring a
  * parquet schema runs a Spark job per read, on files this instance wrote
  * moments earlier. Only the first read of a gold table this instance did
  * not write infers. The openings book is read once per instance.
  */
class ChessPipeline(spark: SparkSession, root: String, username: String,
                    openingsBook: Option[String] = None) {

  private def path(rel: String) = s"$root/$rel"

  private def exists(rel: String): Boolean = {
    val p = new Path(path(rel))
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Schema of each table under `root`, as parquet reads it back: every
    * column nullable, partition columns last. The dim builds write
    * concurrently, hence the concurrent map.
    */
  private val schemas = TrieMap.empty[String, StructType]

  private def written(rel: String, df: DataFrame, partitionBy: String*): Unit = {
    val (parts, data) = df.schema.partition(f => partitionBy.contains(f.name))
    schemas(rel) = GraftShims.asNullable(StructType(data ++ parts))
  }

  /** What the reads of `rel` use, for a spec to hold against the files. */
  private[chess] def readSchema(rel: String): Option[StructType] = schemas.get(rel)

  private def readBack(rel: String): DataFrame = schemas.get(rel) match {
    case Some(schema) => spark.read.schema(schema).parquet(path(rel))
    case None =>
      val df = spark.read.parquet(path(rel))
      schemas(rel) = df.schema
      df
  }

  /** Replaces a dim: the incremental build reads the previous dim, so
    * stage to a temp location then swap (parquet overwrite would clobber
    * its input). A dim has one row per key, so it is written as one file;
    * the incremental union would otherwise add a file per batch.
    */
  private def writeGold(df: DataFrame, rel: String): Unit = {
    val tmp = path(rel + ".tmp")
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    written(rel, df)
    val fs = new Path(path(rel)).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(path(rel)), true)
    fs.rename(new Path(tmp), new Path(path(rel)))
  }

  def readBronze(year: Int, month: Int): DataFrame =
    spark.read.schema(Schemas.bronze).option("multiLine", true)
      .json(path(f"bronze/$year-$month%02d-games.json"))

  private def silverRel(year: Int, month: Int): String =
    f"silver/fact-$year-$month%02d-games.parquet"

  def silverPath(year: Int, month: Int): String = path(silverRel(year, month))

  /** EP1: one month bronze → silver. */
  def buildSilver(year: Int, month: Int): DataFrame = {
    val silver = SilverFact.transform(readBronze(year, month))
    silver.write.mode(SaveMode.Overwrite).parquet(silverPath(year, month))
    written(silverRel(year, month), silver)
    readBack(silverRel(year, month))
  }

  /** The openings book as a local relation: read and collected once, on
    * the first month that needs it.
    */
  private lazy val book: Option[DataFrame] = openingsBook.map { csv =>
    val df = OpeningMatcher.readBook(spark, csv)
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
  }

  /** EP2 dims: initial build or incremental append per existence probe
    * (S10 + J2 + U1). The four builds are independent jobs submitted
    * concurrently (the reference fans them out as parallel Airflow tasks,
    * collect_chess_data_dag.py:108) — Spark's scheduler interleaves their
    * stages across the cluster.
    */
  def buildDims(silver: DataFrame): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    def upsert(rel: String, fresh: DataFrame, key: String): Unit = {
      val next =
        if (exists(rel)) Dims.incremental(fresh, readBack(rel), key) else fresh
      writeGold(next, rel)
    }
    // with an openings book configured, dim_openings carries the csv's
    // colon-form "Family: Variation" names (slug fallback for unmatched
    // URLs); without one, the slug-only derivation
    val openings = book match {
      case Some(b) => Dims.openingsFromSilverEnriched(silver, b)
      case None => Dims.openingsFromSilver(silver)
    }
    val builds = Seq(
      Future(upsert("gold/dim_openings.parquet", openings, "pgn_eco_url")),
      Future(upsert("gold/dim_date.parquet", Dims.dateFromSilver(silver), "game_date")),
      Future(upsert("gold/dim_time_control.parquet",
        Dims.timeControlFromSilver(silver), "time_control")),
      Future(if (!exists("gold/dim_results.parquet")) // write-once seed (quirk 1)
        writeGold(Dims.results(spark), "gold/dim_results.parquet")))
    Await.result(Future.sequence(builds), Duration.Inf)
  }

  /** EP2 fact: gold projection → merge into the cumulative fact, which is
    * laid out partitioned by `game_month` (yyyy-MM).
    *
    * The fact reads no dim. The reference's star join (J1,
    * [[GoldFact.starJoin]]) left-joins the dims and keeps only fact
    * columns; with dims that have one row per key ([[Dims]]) it returns
    * the projection unchanged, so the batch does not run it.
    *
    * The merge is partition-pruned: only the months present in the new
    * batch are read back (Parquet partition pruning on `game_month`),
    * merged latest-wins, and written once with dynamic partition
    * overwrite — cost is O(months in batch), not O(history). The reference
    * re-window-dedups its entire cumulative file every run
    * (python_scripts.py:576-598); semantics here are identical because a
    * game_url never moves months (its game_date is fixed).
    */
  def buildFact(silver: DataFrame, lastUpdated: java.sql.Timestamp): Unit = {
    import org.apache.spark.sql.functions.{col, date_format}
    val factRel = "gold/fact-games.parquet"
    val projected = GoldFact.project(silver, username, lastUpdated)
      .withColumn("game_month", date_format(col("game_date"), "yyyy-MM"))
    if (!exists(factRel)) {
      projected.write.mode(SaveMode.Overwrite).partitionBy("game_month")
        .parquet(path(factRel))
      written(factRel, projected, "game_month")
    } else {
      val months = projected.select("game_month").distinct()
        .collect().map(_.getString(0)).toSeq // one entry per batch month
      val prevMonths = readBack(factRel)
        .filter(col("game_month").isin(months: _*)) // partition-pruned scan
        .select(projected.columns.map(col): _*)
      // the merge writes to the path it reads: dynamic partition overwrite
      // stages the output under the table's staging directory and replaces
      // only the partitions it wrote, at job commit, after every task has
      // read the previous rows
      GoldFact.merge(prevMonths, projected).write.mode(SaveMode.Overwrite)
        .partitionBy("game_month").option("partitionOverwriteMode", "dynamic")
        .parquet(path(factRel))
    }
  }

  /** Per-stage retry policy mirroring the reference DAG's task defaults
    * (1 retry, 10 s delay — collect_chess_data_dag.py:16-19). Stages are
    * idempotent (overwrite writes, existence-probe upserts), so a rerun
    * after a transient failure converges to the same state.
    */
  private val retries = 1
  var retryDelayMs: Long = 10000L

  private def withRetry[T](stage: String)(body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: Exception if attempt < retries =>
          attempt += 1
          System.err.println(
            s"[chess-pipeline] $stage failed (attempt $attempt/${retries + 1}), " +
              s"retrying in ${retryDelayMs} ms: ${e.getMessage}")
          Thread.sleep(retryDelayMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** One monthly batch end-to-end (the whole collect_chess_data DAG), each
    * stage under the task retry policy.
    */
  def runMonth(year: Int, month: Int, lastUpdated: java.sql.Timestamp): Unit = {
    val silver = withRetry("silver")(buildSilver(year, month))
    withRetry("dims")(buildDims(silver))
    withRetry("fact")(buildFact(silver, lastUpdated))
  }

  def fact: DataFrame = readBack("gold/fact-games.parquet")
  def dimOpenings: DataFrame = readBack("gold/dim_openings.parquet")
  def dimDate: DataFrame = readBack("gold/dim_date.parquet")
  def dimResults: DataFrame = readBack("gold/dim_results.parquet")
  def dimTimeControl: DataFrame = readBack("gold/dim_time_control.parquet")

  /** EP3: warehouse load — full-replace JDBC writes of the star schema
    * (the reference's pandas `to_sql(if_exists="replace")`,
    * python_scripts.py:639-645).
    */
  def loadWarehouse(jdbcUrl: String, props: java.util.Properties): Unit = {
    def load(df: DataFrame, table: String): Unit =
      df.write.mode(SaveMode.Overwrite).jdbc(jdbcUrl, table, props)
    load(fact, "chess_dw.fact_games")
    load(dimOpenings, "chess_dw.dim_openings")
    load(dimDate, "chess_dw.dim_date")
    load(dimResults, "chess_dw.dim_results")
    load(dimTimeControl, "chess_dw.dim_time_control")
  }

  /** EP3 watermark (sql/get_last_updated_date.sql). */
  def watermark(): Option[java.sql.Timestamp] =
    if (exists("gold/fact-games.parquet"))
      Option(fact.agg(org.apache.spark.sql.functions.max("last_updated"))
        .head.getTimestamp(0))
    else None
}
