package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.WordTokens
import graft.operators.Text

/** [[Text.tokensAll]] / [[Text.tokens]] (the [[WordTokens]] kernel) against
  * the regex/HOF chain they replaced, which is kept here as the reference:
  * `lower → regexp_replace("'") → regexp_replace("[^a-z]+") → split →
  * filter(len > 1) → filter(!isin stop)`. Generated text mixes ASCII with
  * the code points where a byte loop could go wrong: letters that
  * lowercase to ASCII (Kelvin sign) or to ASCII plus a combining mark
  * (U+0130), case pairs outside ASCII (dotless i, sharp s, sigma, Cyrillic), a
  * typographic apostrophe, a bare combining mark and a surrogate pair.
  */
class WordTokensSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def refAll(t: Column): Column =
    filter(
      split(regexp_replace(regexp_replace(lower(t), "'", ""), "[^a-z]+", " "), " "),
      w => length(w) > 1
    )

  private def ref(t: Column, stop: Seq[String]): Column =
    filter(refAll(t), w => !w.isin(stop: _*))

  private val CustomStop = Seq("ok", "kelvin", "dont", "Zz", "x")

  private val ascii: Gen[String] = Gen.frequency(
    8 -> Gen.alphaLowerChar.map(_.toString),
    4 -> Gen.alphaUpperChar.map(_.toString),
    2 -> Gen.const("'"),
    1 -> Gen.numChar.map(_.toString),
    3 -> Gen.oneOf(" ", " ", ".", ",", ";", "-", "!", "?", "\"", "(", ")", "_", "\t", "\n")
  )

  private val unicode: Gen[String] = Gen.oneOf(
    "\u212A", // KELVIN SIGN, lowercases to ASCII k
    "\u0130", // I WITH DOT ABOVE, lowercases to i + U+0307
    "\u0131", // dotless i
    "\u00DF", // sharp s
    "\u2019", // right single quotation mark
    "\u0301", // combining acute accent
    "\u03A3", // capital sigma
    "\u03C3", // small sigma
    "\u0416", // Cyrillic capital zhe
    "\u0436", // Cyrillic small zhe
    "\uD83D\uDE00" // U+1F600, a surrogate pair
  )

  private val stopWord: Gen[String] =
    Gen.oneOf(Text.StopWords ++ CustomStop).flatMap(w => Gen.oneOf(w, w.toUpperCase, w.capitalize))

  private val text: Gen[String] =
    Gen.choose(0, 48).flatMap(n => Gen.listOfN(n, Gen.frequency(14 -> ascii, 2 -> unicode, 2 -> stopWord)))
      .map(_.mkString)

  private val fixed: Seq[String] = Seq(
    null, "", " ", " \t\n ", "a", "Z", "'", "''", "don't", "DON'T can't o'clock", "a'b",
    "The and OF to in is it that as for", "the the THE", "\u212Aelvin", "\u0130stanbul",
    "stra\u00DFe", "caf\u00E9 cafe\u0301", "\u03A3\u03C3 \u0416\u0436", "x\uD83D\uDE00y ab\uD83D\uDE00cd"
  )

  /** The kernel's interpreted `eval` of one string. */
  private def evalTokens(s: String, stop: Seq[String]): Seq[String] =
    WordTokens(Literal.create(s, StringType), stop).eval() match {
      case null         => null
      case a: ArrayData => a.toSeq[UTF8String](StringType).map(_.toString)
    }

  /** Rows whose kernel tokens differ from the reference, in the codegen'd
    * plan (an RDD scan, so the projection is not folded into a local
    * relation) and in the interpreted `eval`.
    */
  private def mismatches(texts: Seq[String]): Seq[String] = {
    val schema = StructType(Seq(StructField("t", StringType)))
    val rows = texts.map(Row(_))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val t = col("t")
    val cases = Seq( // (stop list, kernel column, reference column)
      (Nil, Text.tokensAll(t), refAll(t)),
      (Text.StopWords, Text.tokens(t), ref(t, Text.StopWords)),
      (CustomStop, Text.tokens(t, CustomStop), ref(t, CustomStop))
    )
    val got = df.select(t +: cases.flatMap(c => Seq(c._2, c._3)): _*).collect()
    got.toSeq.flatMap { r =>
      val s = r.getString(0)
      cases.indices.flatMap { i =>
        val stop = cases(i)._1
        val want = r.getSeq[String](2 * i + 2)
        Seq("codegen" -> r.getSeq[String](2 * i + 1), "eval" -> evalTokens(s, stop)).collect {
          case (path, k) if k != want => s"[$s] $path, ${stop.size} stop words: $k vs reference $want"
        }
      }
    }
  }

  test("kernel equals the regex/HOF chain on generated ASCII and Unicode text (forAll)") {
    val prop = Prop.forAllNoShrink(Gen.listOfN(1000, text)) { batch =>
      val bad = mismatches(batch)
      Prop(bad.isEmpty) :| bad.take(5).mkString("\n")
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(20).withWorkers(1).withInitialSeed(20261017L),
      prop
    )
    assert(res.passed, res.status match {
      case Test.Failed(_, labels) => labels.mkString("\n")
      case other                  => other.toString
    })
  }

  test("kernel equals the regex/HOF chain on the fixed edge cases") {
    assert(mismatches(fixed).isEmpty, mismatches(fixed).mkString("\n"))
  }

  test("fixed cases: null row, apostrophes, stop words, non-ASCII lowercasing") {
    def toks(s: String, stop: Seq[String] = Text.StopWords) = evalTokens(s, stop)
    assert(toks(null) === null)
    assert(toks("") === Nil)
    assert(toks(" \t\n") === Nil)
    assert(toks("q") === Nil)
    assert(toks("don't") === Seq("dont"))
    assert(toks("The and OF to in is it") === Nil)
    assert(toks("The and OF", Nil) === Seq("the", "and", "of"))
    assert(toks("\u212Aelvin") === Seq("kelvin"))
    assert(toks("\u0130stanbul") === Seq("stanbul"))
  }

  test("the tokenizer is one codegen'd expression: no regex, no lambda in the plan") {
    val df = spark.range(3).select(concat(lit("Don't "), col("id").cast("string")).as("t"))
    val plan = df.select(Text.tokens(col("t"))).queryExecution.executedPlan.toString
    assert(plan.contains("word_tokens"), plan)
    assert(!plan.contains("regexp_replace") && !plan.contains("lambda"), plan)
    assert(plan.contains("*("), s"expected whole-stage codegen:\n$plan")
  }

  test("the stop list takes part in expression equality") {
    assert(WordTokens(Literal("x"), Seq("ab")) == WordTokens(Literal("x"), Vector("ab")))
    assert(WordTokens(Literal("x"), Seq("ab")) != WordTokens(Literal("x"), Seq("cd")))
  }
}
