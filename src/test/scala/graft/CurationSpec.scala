package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Curation

/** Hand-computed pins for the curation-filter family: page-synthesis
  * lanes land where their residues say, each Gopher/C4 rule fails on a
  * document engineered to break exactly that rule, the map-only
  * operators really are shuffle-free, and the two-level perplexity
  * rank equals the single-window formulation.
  */
class CurationSpec extends AnyFunSuite with ScratchAssets {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** n repeated neutral tokens — enough lines to reach lane residues. */
  private def toks(n: Int): String = Seq.fill(n)("alpha").mkString(" ")

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private def linesOf(docId: Long, text: String): Seq[String] =
    Curation
      .pages(docs(docId -> text))
      .select(col("lines"))
      .as[Seq[String]]
      .head()

  test("synthesis lanes land on their residues") {
    // doc 10, line 0: (10*7 + 0) % 13 = 5 -> boiler
    assert(linesOf(10, toks(8)).head === Curation.BoilerLine)
    // doc 4, line 0: (4 + 0) % 23 = 4 -> code (with brace)
    val code = linesOf(4, toks(8)).head
    assert(code === "function f0() { return 0; }")
    // doc 24, lines 0/5/10: (24*3 + i) % 5 = 2 at i ≡ 0 (mod 5) -> promo repeats
    val l24 = linesOf(24, toks(88))
    assert(l24(0) === Curation.PromoLine && l24(5) === Curation.PromoLine &&
      l24(10) === Curation.PromoLine)
    // doc 9 (9 % 17 = 9) appends the lorem line
    assert(linesOf(9, toks(8)).last === Curation.LoremLine)
    // decoration: doc 1, line 1 -> (1+3)%7 != 0 no bullet; (1+1)%5 != 3,
    // (1+1)%3 != 0 -> bare. Line 2: (1+2)%5 = 3 fires FIRST -> '...' (the
    // ellipsis lane shadows the '.' residue (1+2)%3 = 0). The bare-period
    // lane needs %5 != 3 AND %3 = 0: line 5 -> (1+5)%5 = 1, (1+5)%3 = 0.
    val l1 = linesOf(1, toks(48))
    assert(!l1(1).startsWith("- ") && !l1(1).endsWith(".") && !l1(1).endsWith("..."))
    assert(l1(2).endsWith("..."))
    assert(l1(5).endsWith(".") && !l1(5).endsWith("..."))
  }

  private def gopher(rows: (Long, String)*): Map[String, Seq[org.apache.spark.sql.Row]] =
    Map("r" -> Curation.gopherRules(docs(rows: _*)).collect().toSeq)

  test("gopher: word-count rule fails short docs, passes long ones") {
    val r = Curation
      .gopherRules(docs(1L -> toks(24), 2L -> toks(120)))
      .select(col("doc_id"), col("r_words"))
      .as[(Long, Boolean)]
      .collect()
      .toMap
    assert(!r(1L) && r(2L))
  }

  test("gopher: bullet rule fails a doc whose lines are mostly bullets") {
    // doc 35: (35 + 3i) % 7 = 0 at i ≡ 0 (mod 7)... craft instead with a
    // doc whose n_lines is small and a bullet hits: doc 7, i=0:
    // (7 + 0) % 7 = 0 -> bullet on line 0 of a 1..9-line doc fails ≤10%.
    val r = Curation
      .gopherRules(docs(7L -> toks(16)))
      .select(col("bullet_lines"), col("n_lines"), col("r_bullet"))
      .head()
    assert(r.getLong(0) >= 1 && r.getLong(0) * 10 > r.getLong(1) && !r.getBoolean(2))
  }

  test("gopher: duplicate-line fractions catch the repeated promo lane") {
    // doc 24 with 88 tokens repeats the promo line at i = 0, 5, 10
    val r = Curation
      .gopherRules(docs(24L -> toks(88)))
      .select(col("dup_line_permille"), col("dup_char_permille"))
      .head()
    assert(r.getLong(0) > 0 && r.getLong(1) > 0)
  }

  test("gopher: stop rule needs two of the canonical octet") {
    // 'the' + 'and' present (52 filler words keep r_words in range)
    val hit = Curation
      .gopherRules(docs(1L -> (toks(50) + " the and")))
      .select(col("stop_hits"), col("r_stop"))
      .head()
    assert(hit.getLong(0) >= 2 && hit.getBoolean(1))
    val miss = Curation
      .gopherRules(docs(1L -> (toks(50) + " the zz")))
      .select(col("stop_hits"), col("r_stop"))
      .head()
    assert(miss.getLong(0) === 1 && !miss.getBoolean(1))
  }

  test("c4: policy line drops, code line gates the doc, lorem gates the doc") {
    // doc 10 line 0 is the boiler (javascript+cookie, terminal '.') ->
    // dropped by the POLICY predicate even though punctuation passes
    val r10 = Curation
      .c4Clean(docs(10L -> toks(8)))
      .select(col("kept_lines"), col("has_brace"))
      .head()
    assert(r10.getLong(0) === 0 && !r10.getBoolean(1))
    // doc 4 line 0 is code -> brace gate kills the doc
    val r4 = Curation
      .c4Clean(docs(4L -> toks(48)))
      .select(col("has_brace"), col("keep"))
      .head()
    assert(r4.getBoolean(0) && !r4.getBoolean(1))
    // doc 9 carries the lorem line -> lorem gate kills the doc
    val r9 = Curation
      .c4Clean(docs(9L -> toks(48)))
      .select(col("has_lorem"), col("keep"))
      .head()
    assert(r9.getBoolean(0) && !r9.getBoolean(1))
  }

  test("c4: line filter keeps exactly terminal-punct ≥5-word clean lines") {
    // doc 24, 88 tokens: promo lines (8 words, '.') survive; undecorated
    // lines fail the punctuation rule; the kept set re-joins in order.
    val r = Curation
      .c4Clean(docs(24L -> toks(88)))
      .select(col("cleaned"))
      .as[String]
      .head()
    val kept = r.split("\n").filter(_.nonEmpty)
    assert(kept.nonEmpty)
    assert(kept.forall(l => l.endsWith(".") || l.endsWith("!") || l.endsWith("?")))
    assert(kept.forall(l => l.split(" ").count(_.nonEmpty) >= 5))
  }

  test("gopher and c4 are map-only: no exchange in either plan") {
    val d = docs(1L -> toks(40), 2L -> toks(60))
    for (df <- Seq(Curation.gopherRules(d), Curation.c4Clean(d))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(500))
    }
  }

  test("repetition: hand-computed coverage and top-gram fractions") {
    // "ab cd ab cd ab": every 2-gram and 3-gram position is covered by a
    // duplicate; no 4-gram repeats. Top 2-gram = "cd ab" (count 2, lex
    // tie-break over "ab cd"), chars 2·4 of 10 total -> 800 permille.
    val rep = Curation
      .gopherRepetition(docs(1L -> "ab cd ab cd ab"))
      .select("top2_permille", "dup2_permille", "dup3_permille", "dup4_permille", "r_top2", "keep")
      .head()
    assert(rep.getLong(0) === 800L)
    assert(rep.getLong(1) === 1000L)
    assert(rep.getLong(2) === 1000L)
    assert(rep.getLong(3) === 0L)
    assert(!rep.getBoolean(4) && !rep.getBoolean(5))
    // partial coverage: "aa bb aa bb cc" — only "aa bb" repeats (pos 0,2),
    // covering tokens 0..3 of 5 -> 8 of 10 chars -> 800 permille
    val part = Curation
      .gopherRepetition(docs(1L -> "aa bb aa bb cc"))
      .select("dup2_permille")
      .head()
    assert(part.getLong(0) === 800L)
    // a long repetitive doc fails the 5..10-gram duplicate rules too
    val spam = ("ping pong ding dong ring " * 8).trim
    val r = Curation
      .gopherRepetition(docs(1L -> spam))
      .select("dup5_permille", "r_dup5", "r_dup10", "keep")
      .head()
    assert(r.getLong(0) === 1000L && !r.getBoolean(1) && !r.getBoolean(2) && !r.getBoolean(3))
    // a benign non-repetitive doc passes every repetition rule
    // letter-only distinct words: the tokenizer strips digits, so "tok0
    // tok1 ..." would collapse to sixty copies of "tok"
    val words = (0 until 60)
      .map(i => s"${('a' + i / 26).toChar}${('a' + i % 26).toChar}x")
      .mkString(" ")
    val ok = Curation.gopherRepetition(docs(1L -> words)).select("keep").head()
    assert(ok.getBoolean(0))
  }

  test("repetition: the 5..10 rule-gated subset matches the full run's columns") {
    val d = docs(1L -> ("ping pong ding dong ring " * 8).trim, 2L -> toks(60))
    val sub = Curation.gopherRepetition(d, ns = 5 to 10)
    assert(sub.columns.toSeq === Seq("doc_id", "total_chars") ++
      (5 to 10).map(n => s"dup${n}_permille") ++
      (5 to 10).map(n => s"r_dup$n") :+ "keep")
    val full = Curation
      .gopherRepetition(d)
      .select(col("doc_id"), col("dup5_permille"), col("r_dup5"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    val got = sub
      .select(col("doc_id"), col("dup5_permille"), col("r_dup5"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(got === full)
  }

  test("gates: the one-pass projection equals the per-family rule tables") {
    val d = docs((0L until 60L).map(i => i -> toks(8 + (i * 7 % 90).toInt)): _*)
    val combined = Curation
      .gates(d)
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2))))
      .toMap
    val gop = Curation
      .gopherRules(d)
      .select(col("doc_id"), col("keep"))
      .as[(Long, Boolean)]
      .collect()
      .toMap
    val c4 = Curation
      .c4Clean(d)
      .select(col("doc_id"), col("keep"))
      .as[(Long, Boolean)]
      .collect()
      .toMap
    assert(combined.map { case (id, (g, _)) => id -> g } === gop)
    assert(combined.map { case (id, (_, c)) => id -> c } === c4)
    // and it stays map-only
    val plan = Curation.gates(d).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(500))
  }

  test("funnel gate: gopher ∧ c4 ∧ repetition equals the per-family verdicts; repetition non-vacuous") {
    val d = Tables.documents(spark, "/root/testdata/sf0.01")
    val gop = Curation
      .gopherRules(d)
      .select(col("doc_id"), col("keep"))
      .as[(Long, Boolean)]
      .collect()
      .toMap
    val c4 = Curation
      .c4Clean(d)
      .select(col("doc_id"), col("keep"))
      .as[(Long, Boolean)]
      .collect()
      .toMap
    val rep = Curation
      .gopherRepetition(
        Curation.pages(d).select(col("doc_id"), col("page").as("text")),
        ns = 5 to 10
      )
      .select(col("doc_id"), col("keep"))
      .as[(Long, Boolean)]
      .collect()
      .toMap
    // the funnel's composed gate (gates ∧ rep, the pipe_curate_e2e shape)
    // must equal the conjunction of the three independent family tables
    val funnel = Curation
      .gates(d)
      .join(
        Curation
          .gopherRepetition(
            Curation.pages(d).select(col("doc_id"), col("page").as("text")),
            ns = 5 to 10
          )
          .select(col("doc_id"), col("keep").as("rep_keep")),
        Seq("doc_id")
      )
      .filter(col("gopher_keep") && col("c4_keep") && col("rep_keep"))
      .select("doc_id")
      .as[Long]
      .collect()
      .toSet
    val expected = gop.keySet.filter(id => gop(id) && c4(id) && rep(id))
    assert(funnel === expected)
    // the repetition half must CUT the quality survivors (Rae et al.
    // §A1.1 gates on both halves — a vacuous conjunct would mean the
    // funnel only claims to run the repetition rules)
    val qualitySurvivors = gop.keySet.filter(id => gop(id) && c4(id))
    assert(funnel.size < qualitySurvivors.size, "repetition gate must be non-vacuous")
  }

  test("ppl buckets: two-level rank equals the single-window tercile") {
    // small multilingual corpus with repeated bigrams so KN scores vary
    val rows = (0L until 40L).map { i =>
      val lang = if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "fr"
      val body = Seq.fill((i % 5).toInt + 2)(s"tok${i % 7} tok${(i + 1) % 7}").mkString(" ")
      (i, lang, body)
    }
    val d = rows.toDF("doc_id", "lang", "text")
    val got = Curation
      .pplBuckets(d, shards = 4)
      .select(col("doc_id"), col("lang"), col("rn"), col("bucket"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getString(3))))
      .toMap
    // reference: plain single window over the same scores
    val scored = graft.operators.TextAnalysis
      .knScores(d)
      .join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val w = Window.partitionBy(col("lang")).orderBy(col("kn_score_e9"), col("doc_id"))
    val ref = scored
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("lang"))))
      .withColumn(
        "bucket",
        when((col("rn") - 1) * 3 < col("cnt"), "head")
          .when((col("rn") - 1) * 3 < col("cnt") * 2, "middle")
          .otherwise("tail")
      )
      .select(col("doc_id"), col("lang"), col("rn"), col("bucket"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got === ref)
  }

  test("toxicity gate: trained-head flags at margin > 0; single-token docs never vanish") {
    // the md5 stand-in weights are gone — head correctness is pinned by
    // TrainedClfSpec (driver-replayed perceptron) and the t_toxicity
    // oracle (full training replay). This pins the GATE shape on a tiny
    // frame: every doc gets a row (the >=1-shingle contract), flags are
    // the classifier's own margin > 0 boundary, keep is the conjunction.
    val d = docs(
      1L -> "aa bb cc dd",
      2L -> "xx" // single token: one whole-list shingle, never vanishes
    )
    val tmp = scratchDir("toxgate")
    val got = graft.operators.TrainedClf
      .toxicityScores(tmp, d)
      .collect()
      .map(r => r.getLong(0) -> r)
      .toMap
    assert(got.keySet === Set(1L, 2L))
    assert(got(1L).getAs[Long]("n_feats") === 3L)
    assert(got(2L).getAs[Long]("n_feats") === 1L)
    Seq(1L, 2L).foreach { id =>
      val r = got(id)
      graft.operators.TrainedClf.ToxClasses.foreach { case (cls, _) =>
        assert(r.getAs[Boolean](s"tox_$cls") === (r.getAs[Long](s"m_$cls") > 0L))
      }
      val anyFlag = graft.operators.TrainedClf.ToxClasses
        .exists { case (c, _) => r.getAs[Boolean](s"tox_$c") }
      assert(r.getAs[Boolean]("tox_keep") === !anyFlag)
    }
  }

  test("gate asset: every doc keeps a row with every verdict — degenerate docs included") {
    // healthy docs plus DEGENERATE ones (a single short token; an
    // empty-after-tokenize doc): funnel stage counts must always sum to
    // the corpus total, so no doc may vanish from the asset. The shingle
    // kernel emits >=1 shingle for ANY token list (so even these score a
    // KN bucket); the asset's LEFT ppl join + t_drop_curation's
    // bucket-null routing are the defense if a scoring variant ever
    // drops unscoreable docs instead.
    val rows = (0L until 12L).map { i =>
      val lang = if (i % 2 == 0) "en" else "de"
      (i, lang, Seq.fill(6)(s"tok${i % 3} tok${(i + 1) % 3}").mkString(" "))
    } ++ Seq((98L, "en", "a ! b"), (99L, "en", "zz"))
    val d = rows.toDF("doc_id", "lang", "text")
    val dir = Curation.ensureGateAsset("spec-gate-asset", d)
    val asset = spark.read.parquet(s"$dir/gates")
    assert(asset.count() === 14L)
    assert(asset.select(countDistinct(col("doc_id"))).head().getLong(0) === 14L)
    // every verdict column is populated for every doc — including the
    // degenerate pair — and with THIS kernel every doc scores a bucket
    assert(
      asset.filter(
        col("gopher_keep").isNull || col("c4_keep").isNull ||
          col("rep_keep").isNull || col("tox_keep").isNull ||
          col("bucket").isNull
      ).count() === 0L
    )
  }
}
