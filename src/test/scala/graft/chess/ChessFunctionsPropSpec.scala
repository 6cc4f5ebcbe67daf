package graft.chess

import graft.SparkFixture
import org.apache.spark.sql.{functions => F, Column}
import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, Attribute, LambdaFunction, NamedLambdaVariable}
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Property tests of the UDF ports (SURVEY.md §5): the floor semantics of
  * format_time_control and the ply-pairing algebra of add_move_numbers hold
  * for all inputs, not just goldens. Evaluated in batches through one Spark
  * job per property for speed.
  */
class ChessFunctionsPropSpec extends AnyFunSuite with Matchers with SparkFixture {
  import spark.implicits._

  private val sanMove: Gen[String] = for {
    piece <- Gen.oneOf("", "N", "B", "R", "Q", "K")
    file <- Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h")
    rank <- Gen.choose(1, 8)
  } yield s"$piece$file$rank"

  test("property: formatTimeControl floors base/60 and preserves increment") {
    val cases = (for {
      base <- Gen.choose(0, 10800)
      inc <- Gen.option(Gen.choose(0, 180))
    } yield (base, inc)).sample.toList ++
      List((90, None), (59, None), (60, None), (61, Some(0)), (120, Some(1)))
    val gen = Gen.listOfN(300, Gen.zip(Gen.choose(0, 10800), Gen.option(Gen.choose(0, 180))))
    val sample = gen.sample.get ++ cases
    val df = sample.map { case (b, i) =>
      (i.fold(b.toString)(x => s"$b+$x"), b, i.map(_.toString)) }
      .toDF("tc", "base", "inc")
    val out = df.select($"base", $"inc",
      ChessFunctions.formatTimeControl($"tc").as("fmt")).collect()
    out.foreach { r =>
      val expected = (r.getInt(0) / 60).toString +
        Option(r.getString(1)).map("|" + _).getOrElse("")
      r.getString(2) shouldBe expected
    }
  }

  test("property: addMoveNumbers round-trips ply count and move numbering") {
    val gen = Gen.listOfN(120, Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, sanMove)))
    val plyLists = gen.sample.get
    val df = plyLists.toDF("moves").select($"moves",
      ChessFunctions.addMoveNumbers($"moves").as("pgn"))
    df.collect().foreach { r =>
      val moves = r.getSeq[String](0)
      val pgn = r.getString(1)
      if (moves.isEmpty) pgn shouldBe ""
      else {
        // numbered slots = ceil(plies/2); every slot is "N. "
        val nums = "(\\d+)\\. ".r.findAllMatchIn(pgn).map(_.group(1).toInt).toList
        nums shouldBe (1 to (moves.length + 1) / 2).toList
        // reference ' '.join semantics: trailing space iff the ply count is
        // odd (the f-string's space before the empty black survives)
        if (moves.length % 2 == 1) pgn should endWith(" ")
        else pgn should not endWith " "
        val stripped = pgn.split(" ").filterNot(_.matches("\\d+\\.")).toSeq
        stripped shouldBe moves
      }
    }
  }

  /** The pairing formula `addMoveNumbers` had before it went ply by ply:
    * one lambda call per full-move slot that indexes into `moves`. Kept
    * here as the reference the linear formula must reproduce.
    */
  private def pairedMoveNumbers(moves: Column): Column = {
    val pairs = F.floor((F.size(moves) + F.lit(1)) / F.lit(2)).cast("int")
    val numbered = F.transform(
      F.sequence(F.lit(0), pairs - 1),
      i => F.concat(
        (i + 1).cast("string"), F.lit(". "),
        F.get(moves, i * 2), F.lit(" "),
        F.coalesce(F.get(moves, i * 2 + 1), F.lit(""))))
    F.when(F.size(moves) === 0, F.lit("")).otherwise(F.concat_ws(" ", numbered))
  }

  test("addMoveNumbers' lambda reads only its own element and index") {
    // a lambda that captured `moves` would re-evaluate the whole argument
    // expression (a PGN regex scan in the silver step) once per ply
    val analyzed = Seq(Seq("e4")).toDF("m")
      .select(ChessFunctions.addMoveNumbers($"m")).queryExecution.analyzed
    val lambdas = analyzed.expressions.flatMap(_.collect {
      case t: ArrayTransform => t.function.asInstanceOf[LambdaFunction]
    })
    lambdas should not be empty
    for (f <- lambdas) withClue(f.sql + ": ") {
      val vars = f.arguments.map(_.exprId).toSet
      f.function.collect { case a: Attribute => a } shouldBe empty
      f.function.collect { case v: NamedLambdaVariable => v.exprId }.toSet
        .subsetOf(vars) shouldBe true
    }
  }

  test("property: addMoveNumbers equals the pairing formula (empty, odd, even, null)") {
    // ply arrays as regexp_extract_all emits them: no null elements
    val plyLists = Gen.listOfN(200, Gen.choose(0, 41).flatMap(n => Gen.listOfN(n, sanMove)))
      .sample.get.map(Option(_))
    val rows = plyLists ++ Seq(Some(Nil), Some(List("e4")), Some(List("e4", "e5")), None)
    val out = rows.toDF("moves").select(
      ChessFunctions.addMoveNumbers($"moves"), pairedMoveNumbers($"moves")).collect()
    out.map(r => (r.getString(0), r.getString(1))).foreach { case (linear, paired) =>
      linear shouldBe paired
    }
    rows.map(_.fold(-1)(_.length % 2)).toSet shouldBe Set(-1, 0, 1)
  }

  test("property: family/variation partition the name around the first colon") {
    val gen = Gen.listOfN(200, Gen.asciiPrintableStr.map(_.replace("\n", "")))
    val names = gen.sample.get.filter(_.nonEmpty)
    val out = names.toDF("n").select($"n",
      ChessFunctions.openingFamily($"n").as("f"),
      ChessFunctions.openingVariation($"n").as("v")).collect()
    out.foreach { r =>
      val (n, f, v) = (r.getString(0), r.getString(1), r.getString(2))
      if (n.contains(":")) {
        s"$f:$v" shouldBe n
        f should not include ":"
      } else {
        f shouldBe n
        v shouldBe n
      }
    }
  }
}
