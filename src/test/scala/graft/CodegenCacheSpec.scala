package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The session's generated-class cache holds a working set larger than
  * Spark's default 100 entries, so a repeated workload compiles nothing.
  */
class CodegenCacheSpec extends AnyFunSuite with Matchers with SparkFixture {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a second round over 200 distinct generated classes compiles none") {
    // integer literals are inlined into the generated code, so each `i`
    // is a distinct whole-stage class
    def round(): Unit = (0 until 200).foreach { i =>
      spark.range(4).select(col("id") + lit(i)).collect()
    }
    val c0 = compiles
    round()
    val first = compiles - c0
    first should be > 150L
    val c1 = compiles
    round()
    (compiles - c1) shouldBe 0L
  }
}
