package graft.operators

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class AsofJoinSpec extends AnyFunSuite with Matchers with SparkFixture {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("leftAsof picks the latest right row at-or-before each left ts, per key") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "e1"),
      (1L, ts("2024-01-01 12:00:00"), "e2"),
      (2L, ts("2024-01-01 09:00:00"), "e3"), // before any ref for key 2
      (3L, ts("2024-01-01 10:00:00"), "e4")  // key with no refs at all
    ).toDF("user_id", "ts", "name")
    val right = Seq(
      (1L, ts("2024-01-01 09:00:00"), 10.0),
      (1L, ts("2024-01-01 10:00:00"), 20.0), // simultaneous: visible (<=)
      (1L, ts("2024-01-01 11:00:00"), 30.0),
      (2L, ts("2024-01-01 11:00:00"), 40.0)
    ).toDF("user_id", "ts", "ref_value")

    val out = AsofJoin.leftAsof(left, right, "user_id", "ts", Seq("ref_value"))
      .orderBy("name").collect()
    out.map(r => (r.getString(2), Option(r.get(3)))) shouldBe Array(
      ("e1", Some(20.0)), // simultaneous ref wins over the 09:00 one
      ("e2", Some(30.0)), // latest <= 12:00
      ("e3", None),       // ref exists but only later
      ("e4", None))       // no refs for key
  }

  test("leftAsof tie-breaks duplicate (key, ts) right rows deterministically") {
    val left = Seq((1L, ts("2024-01-01 10:00:00"), "e1")).toDF("user_id", "ts", "name")
    // three right rows at the identical instant: the winner must be the
    // same row on every run and under any input partitioning/ordering
    val dups = Seq(
      (1L, ts("2024-01-01 09:00:00"), 10.0),
      (1L, ts("2024-01-01 09:00:00"), 20.0),
      (1L, ts("2024-01-01 09:00:00"), 30.0))
    val expected = {
      import org.apache.spark.sql.functions.xxhash64
      val h = dups.toDF("user_id", "ts", "ref_value")
        .select($"ref_value", xxhash64($"ref_value").as("h"))
        .collect().maxBy(_.getLong(1))
      h.getDouble(0)
    }
    for (perm <- dups.permutations.take(3); parts <- Seq(1, 3)) {
      val right = perm.toDF("user_id", "ts", "ref_value").repartition(parts)
      val out = AsofJoin.leftAsof(left, right, "user_id", "ts", Seq("ref_value"))
        .collect()
      withClue(s"perm=$perm parts=$parts:") {
        out.head.getDouble(3) shouldBe expected
      }
    }
  }

  test("leftAsof multi-column carry stays consistent under duplicate-ts tie-break") {
    val left = Seq((1L, ts("2024-01-01 10:00:00"), "e1")).toDF("user_id", "ts", "name")
    val dups = Seq(
      (1L, ts("2024-01-01 09:00:00"), 10.0, "a"),
      (1L, ts("2024-01-01 09:00:00"), 20.0, "b"),
      (1L, ts("2024-01-01 09:00:00"), 30.0, "c"))
    val outs = (for (perm <- dups.permutations.take(3)) yield {
      val right = perm.toDF("user_id", "ts", "ref_value", "ref_tag").repartition(2)
      val r = AsofJoin.leftAsof(left, right, "user_id", "ts",
        Seq("ref_value", "ref_tag")).head
      (r.getDouble(3), r.getString(4))
    }).toSeq
    outs.distinct.size shouldBe 1 // same winner row every time
    // both carried columns come from THE SAME right row (no column mixing)
    val winner = outs.head
    Map(10.0 -> "a", 20.0 -> "b", 30.0 -> "c")(winner._1) shouldBe winner._2
  }

  test("leftAsof carries NULLs inside the winning row instead of mixing tied rows") {
    val left = Seq((1L, ts("2024-01-01 10:00:00"), "e1")).toDF("user_id", "ts", "name")
    // two tied right rows, each with a NULL in a different carried column:
    // per-column last(ignoreNulls) would stitch (10.0, "x") — a row that
    // never existed; the struct carry must emit exactly one of the inputs
    val right = Seq(
      (1L, ts("2024-01-01 09:00:00"), Some(10.0), None: Option[String]),
      (1L, ts("2024-01-01 09:00:00"), None: Option[Double], Some("x")))
      .toDF("user_id", "ts", "ref_value", "ref_tag")
    val r = AsofJoin.leftAsof(left, right, "user_id", "ts",
      Seq("ref_value", "ref_tag")).head
    val got = (Option(r.get(3)), Option(r.get(4)))
    Set[(Option[Any], Option[Any])](
      (Some(10.0), None), (None, Some("x"))) should contain(got)
  }

  test("leftAsof preserves all left rows and columns") {
    val ev = graft.Tables.events(spark, sf0001)
    val refs = ev.filter($"event_id" % 7 === 0)
      .select($"user_id", $"ts", $"value".as("ref_value"))
      .groupBy($"user_id", $"ts").agg(org.apache.spark.sql.functions.max($"ref_value").as("ref_value"))
    val probes = ev.select($"event_id", $"user_id", $"ts", $"event_type")
    val joined = AsofJoin.leftAsof(probes, refs, "user_id", "ts", Seq("ref_value"))
    joined.count() shouldBe probes.count()
    joined.columns shouldBe Array("event_id", "user_id", "ts", "event_type", "ref_value")
  }

  test("leftAsofTape agrees with the composed leftAsof on the j5 shape; one exchange, one sort") {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.events(spark, sf0001)
      .select($"event_id", $"user_id", $"ts", $"value")
    val tape = AsofJoin.leftAsofTape(ev, "user_id", "ts",
        $"event_id" % 10 === 0,
        Seq("ref_value" -> $"value", "ref_event" -> $"event_id"))
      .select($"event_id", $"user_id", $"ts", $"ref_value", $"ref_event")
    val refs = ev.filter($"event_id" % 10 === 0)
      .groupBy($"user_id", $"ts")
      .agg(max($"value").as("ref_value"), max($"event_id").as("ref_event"))
    val composed = AsofJoin.leftAsof(
      ev.filter($"event_id" % 10 =!= 0).select($"event_id", $"user_id", $"ts"),
      refs, "user_id", "ts", Seq("ref_value", "ref_event"))
    tape.exceptAll(composed).count() shouldBe 0L
    composed.exceptAll(tape).count() shouldBe 0L
    // the shipped pair: j5b (two-table API) answers exactly as j5 (tape)
    val j5 = graft.SparkEntry.queries("j5_asof_join")(spark, sf0001)
    val j5b = graft.SparkEntry.queries("j5b_asof_two_table")(spark, sf0001)
    j5b.exceptAll(j5).count() shouldBe 0L
    j5.exceptAll(j5b).count() shouldBe 0L
    // both statuses exercised: probes before any ref (null carry) and after
    tape.filter($"ref_value".isNull).count() should be > 0L
    tape.filter($"ref_value".isNotNull).count() should be > 0L
    // the scale contract: one scan, one shuffle exchange, one sort
    val p = tape.queryExecution.executedPlan.toString
    "Scan parquet".r.findAllIn(p).length shouldBe 1
    "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 1
    "REPARTITION_BY_COL".r.findAllIn(p).length shouldBe 1
    "\\+- Sort ".r.findAllIn(p).length shouldBe 1
  }

  test("leftAsofTape: a reference row with null carried values still matches (no older carry-through)") {
    val tape = Seq(
      // key 1: ref at 09 with value 5; ref at 10 with NULL value; probe at 11
      (1L, ts("2024-01-01 09:00:00"), 0L, Some(5.0)),
      (1L, ts("2024-01-01 10:00:00"), 10L, None),
      (1L, ts("2024-01-01 11:00:00"), 1L, Some(99.0)),
      // key 2: probe before any ref
      (2L, ts("2024-01-01 09:00:00"), 11L, Some(1.0))
    ).toDF("user_id", "ts", "event_id", "value")
    val out = AsofJoin.leftAsofTape(tape, "user_id", "ts",
        org.apache.spark.sql.functions.col("event_id") % 10 === 0,
        Seq("ref_value" -> $"value"))
      .select($"event_id", $"ref_value").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toMap
    // the 10:00 ref group matched (ASOF row semantics) — its null value is
    // the answer; the 09:00 value must NOT leak through
    out shouldBe Map(1L -> None, 11L -> None)
  }

  test("leftAsof (tape plan) is row-identical to the union-and-carry reference, raw duplicate refs included") {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.events(spark, sf0001)
    val probes = ev.filter($"event_id" % 10 =!= 0)
      .select($"event_id", $"user_id", $"ts", $"event_type")
    // raw refs plus an injected same-(key,ts) duplicate with a different
    // value: both spellings must resolve the tie to the SAME row
    val refs0 = ev.filter($"event_id" % 10 === 0)
      .select($"user_id", $"ts", $"value".as("ref_value"),
        $"event_id".as("ref_event"))
    val refs = refs0.unionAll(
      refs0.withColumn("ref_value", $"ref_value" * 2)
        .withColumn("ref_event", $"ref_event" + 1000000L))
    val neu = AsofJoin.leftAsof(probes, refs, "user_id", "ts",
      Seq("ref_value", "ref_event"))
    val old = AsofJoin.leftAsofUnionCarry(probes, refs, "user_id", "ts",
      Seq("ref_value", "ref_event"))
    neu.exceptAll(old).count() shouldBe 0L
    old.exceptAll(neu).count() shouldBe 0L
    // and the tape plan keeps the scale contract the rewrite is for:
    // one exchange, one sort — the old spelling's padded-union shuffle
    // carries the same counts but sorts on (ts, side, tb); the tape plan
    // sorts the single time column
    val p = neu.queryExecution.executedPlan.toString
    "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 1
    "\\+- Sort ".r.findAllIn(p).length shouldBe 1
  }
}
