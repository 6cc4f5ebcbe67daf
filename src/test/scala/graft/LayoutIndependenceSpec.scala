package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** A query's plan depends only on the query and its input: complete,
  * fingerprint-matching layouts planted under `/tmp/graft-bucketed` for
  * the fixture a query reads change neither its plan nor its rows. Only
  * `layout_bucketed_join`, whose name says it reads a persisted layout,
  * may consume one.
  */
class LayoutIndependenceSpec extends AnyFunSuite with Matchers with SparkFixture {

  private val tables = Seq("lineitem", "orders", "customer", "supplier",
    "nation", "events").map(_ + ".parquet")

  /** Fresh file copy of the sf0.001 tables: new mtimes, so a new slug. */
  private def copyFixture(prefix: String): String = {
    val dst = Files.createTempDirectory(prefix)
    for (t <- tables) {
      val from = Paths.get(sf0001, t)
      Files.walk(from).forEach { p =>
        val to = dst.resolve(t).resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
      }
    }
    dst.toString
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("layouts planted on disk change neither the plan nor the rows of any query") {
    val s = spark
    import s.implicits._
    val planted = copyFixture("planted-fixture")
    val clean = copyFixture("clean-fixture")
    val liSlug = SparkEntry.layoutSlug(planted, "lineitem.parquet")
    val ordSlug = SparkEntry.layoutSlug(planted, "orders.parquet")
    val evSlug = SparkEntry.layoutSlug(planted, "events.parquet")
    val factSlug = SparkEntry.layoutSlug(planted, "lineitem.parquet", "orders.parquet")
    val slugs = Seq(liSlug, ordSlug, evSlug, factSlug).distinct
    val root = "/tmp/graft-bucketed"
    def plant(slug: String, sub: String, key: String, sort: Seq[String])(df: => DataFrame): Unit =
      operators.Bucketing.ensureBucketed(spark, s"planted_${sub}_$slug",
        s"$root/$slug/$sub", key, 4, sort, Some(slug))(df)
    try {
      val li = Tables.lineitem(spark, planted)
      val ord = Tables.orders(spark, planted)
      val ev = Tables.events(spark, planted)
      plant(liSlug, "li_oq", "l_orderkey", Nil)(li.select($"l_orderkey", $"l_quantity"))
      plant(ordSlug, "ord_oq", "o_orderkey", Nil)(
        ord.select($"o_orderkey", $"o_orderdate", $"o_totalprice"))
      plant(factSlug, "li_ok", "l_orderkey", Nil)(li.select($"l_orderkey", $"l_suppkey"))
      plant(factSlug, "ord_ok", "o_orderkey", Nil)(ord.select($"o_orderkey", $"o_custkey"))
      plant(evSlug, "ev_uts", "user_id", Seq("user_id", "ts"))(
        ev.select($"event_id", $"user_id", $"ts", $"value"))
      // the two-table as-of tape: probe payload in __lrow, the carried
      // reference values behind their xxhash64 tie-break in __rv
      val probes = ev.filter($"event_id" % 10 =!= 0)
        .select($"user_id", $"ts", lit(false).as("__isref"),
          struct($"event_id").as("__lrow"))
      val refs = ev.filter($"event_id" % 10 === 0).groupBy($"user_id", $"ts")
        .agg(max($"value").as("ref_value"), max($"event_id").as("ref_event"))
        .select($"user_id", $"ts", lit(true).as("__isref"),
          struct(xxhash64($"ref_value", $"ref_event").as("__tb"),
            $"ref_value", $"ref_event").as("__rv"))
      plant(evSlug, "ev_tape2", "user_id", Seq("user_id", "ts"))(
        probes.unionByName(refs, allowMissingColumns = true))
      // the plain-parquet win-rate projection with its fingerprint file
      val goldWr = s"$root/$ordSlug/gold_wr"
      ord.select(
          pmod($"o_orderkey", lit(15)).cast("int").as("res_idx"),
          date_trunc("month", $"o_orderdate").cast("date").as("month"),
          (pmod($"o_custkey", lit(2)) === 0).as("is_white"),
          when($"o_orderpriority" < "3", 0).when($"o_orderpriority" < "5", 1)
            .otherwise(2).cast("byte").as("tc"))
        .write.mode("overwrite").parquet(goldWr)
      Files.write(Paths.get(goldWr, "_graft_source_fp"), ordSlug.getBytes("UTF-8"))

      // packedBytes = 0 puts j4 past its size gate, where a layout on disk
      // would have been taken over the packed exchange plan
      val bodies: Seq[(String, String => DataFrame)] = Seq(
        "j4_roleplay_join" -> (d => SparkEntry.j4Roleplay(spark, d, packedBytes = 0L)),
        "q18_large_orders" -> (d => SparkEntry.queries("q18_large_orders")(spark, d)),
        "j5_asof_join" -> (d => SparkEntry.queries("j5_asof_join")(spark, d)),
        "j5b_asof_two_table" -> (d => SparkEntry.queries("j5b_asof_two_table")(spark, d)),
        "chess_scale_winrate" -> (d => SparkEntry.queries("chess_scale_winrate")(spark, d)))
      def readsLayout(df: DataFrame): Boolean = {
        val p = df.queryExecution.executedPlan.toString
        p.contains("graft-bucketed") || p.contains("gold_wr")
      }
      val built = bodies.map { case (name, body) => (name, body(planted), body(clean)) }
      built.collect { case (name, df, _) if readsLayout(df) => name } shouldBe empty
      for ((name, onPlanted, onClean) <- built)
        withClue(s"$name: ") { rows(onPlanted) shouldBe rows(onClean) }
    } finally {
      spark.catalog.listTables().collect().map(_.name)
        .filter(t => slugs.exists(sl => t.endsWith(s"_$sl")))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
      slugs.foreach(sl => deleteTree(Paths.get(root, sl)))
      Seq(planted, clean).foreach { d =>
        Tables.invalidate(Some(d))
        deleteTree(Paths.get(d))
      }
    }
  }
}
