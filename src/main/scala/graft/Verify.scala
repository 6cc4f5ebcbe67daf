package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.create()
    new java.io.File(outDir).mkdirs()
    // dev loop: GRAFT_VERIFY_ONLY=q1,q2 restricts the dump to named
    // queries (check_oracle.py still iterates the FULL oracle map, so a
    // filtered dump only passes the gate into an outDir that already
    // holds dumps for the rest); the driver leaves it unset and dumps
    // everything. Unknown names fail fast — a typo'd filter would
    // otherwise dump nothing and exit 0.
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"GRAFT_VERIFY_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
      require(names.nonEmpty, "GRAFT_VERIFY_ONLY is set but names no queries")
    }
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // a failed query is logged and recorded, and the dump moves on; the
    // exit status stays 0 either way, so failures.json is the artifact
    // that says which queries have no dump and why
    val failures = selected.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> Bench.reason(e))
      }
    }
    def json(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/failures.json"), json(failures))
    System.err.println(s"[verify] dumped ${selected.size - failures.size}/" +
      s"${selected.size}, failed ${failures.size}")
    spark.stop()
  }
}
