package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Shared local SparkSession for all specs (one JVM-wide session keeps
  * `sbt test` fast; suites must not mutate global conf).
  */
object SparkFixture {
  // GraftSession so specs exercise the exact session users get: planner
  // extensions (PrefixJoinStrategy) injected by default, UTC timezone
  lazy val spark: SparkSession = graft.GraftSession.create(_
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
}

trait SparkFixture extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkFixture.spark
  lazy val sf0001 = "/root/testdata/sf0.001"

  /** Runs `body` with [[graft.plans.EliminateUniqueKeyLeftJoin]] added to
    * Spark's `spark.sql.optimizer.excludedRules` (after the rules the
    * session already excludes), so plans keep their physical joins; the
    * prior value is restored afterwards.
    */
  def withoutJoinElimination[T](body: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      (prior.toSeq :+ graft.plans.EliminateUniqueKeyLeftJoin.ruleName).mkString(","))
    try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
