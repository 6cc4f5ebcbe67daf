package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dev harness: dump formatted physical plans for every sf-scaled
  * SparkEntry query (or the named subset; fixed-input queries read the
  * reference sample, not `sfDir`) to stdout for plan review — pushed
  * filters, scan schemas, join strategies, codegen spans.
  * Usage: sbt "runMain graft.tools.Explain [sfDir] [name ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.drop(1).toSet
    // the canonical session: without its planner extensions the dumped
    // plans are not the ones the queries run (prefix joins would show as
    // BroadcastNestedLoopJoin instead of PrefixJoinExec)
    val spark = GraftSession.create(_
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4))
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => names.isEmpty || names.contains(q._1))
      .filterNot(_._2.fixedInput)
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
