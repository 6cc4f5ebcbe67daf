package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The bench's timed passes: per-query census attribution, failure
  * reasons, the compile layer, and that the census listener leaves the
  * session as it found it.
  */
class BenchSpec extends AnyFunSuite with Matchers with SparkFixture {

  // listeners graft registered on the shared session; the listener bus is
  // private[spark] in source but public in bytecode
  private def graftListeners(): Seq[String] = {
    val bus = classOf[SparkContext].getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("listeners").invoke(bus).asInstanceOf[java.util.List[AnyRef]]
      .asScala.toSeq.map(_.getClass.getName).filter(_.startsWith("graft."))
  }

  test("timed passes: census per query, reason per failure, listener removed") {
    val boom: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("no such table\nsecond line")
    val queries = Seq("a1_groupby_agg" -> SparkEntry.queries("a1_groupby_agg"), "boom" -> boom)
    val listeners = graftListeners()
    // the bench's untimed warm pass: every class a1 needs is compiled here
    Bench.evaluate(SparkEntry.queries("a1_groupby_agg")(spark, sf0001))

    val run = Bench.timed(spark, sf0001, queries, passes = 2)
    val kept = run.kept

    kept("a1_groupby_agg").sec should be >= 0.0
    kept("a1_groupby_agg").failure shouldBe None
    kept("a1_groupby_agg").census.jobs should be > 0
    kept("a1_groupby_agg").census.stages should be > 0
    kept("a1_groupby_agg").census.tasks should be > 0L
    kept("boom").sec shouldBe -1.0
    kept("boom").failure shouldBe Some("java.lang.IllegalStateException: no such table")
    kept("boom").census shouldBe Bench.Census(0, 0, 0L)
    for (r <- run.passes.flatMap(_.values)) {
      r.compiles.classes should be >= 0L
      r.compiles.seconds should be >= 0.0
    }
    // the warm pass's classes are still cached: the kept pass compiles none
    kept("a1_groupby_agg").compiles.classes shouldBe 0L
    Bench.censusJson(kept) should include regex
      "\"a1_groupby_agg\":\\{\"jobs\":\\d+,\"stages\":\\d+,\"tasks\":\\d+,\"compiles\":0,\"compile_s\":\\d+\\.\\d{3}\\}"
    run.passes.flatMap(_.values).map(_.census.stages).sum shouldBe run.stages
    graftListeners() shouldBe listeners
    spark.sparkContext.getLocalProperty(Bench.QueryTag) shouldBe null
  }
}
