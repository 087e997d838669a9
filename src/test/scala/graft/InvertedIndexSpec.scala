package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextAnalysis

/** Inverted-index guarantees behind `t_inverted_index`/`t_phrase_search`:
  * postings correctness on a hand fixture, phrase adjacency semantics
  * (overlapping and repeated matches), and the seek property — the
  * phrase plan filters the index to the two query terms before any join.
  */
class InvertedIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "to be or not to be"),
    (2L, "be to be to be"),
    (3L, "nothing relevant here")
  ).toDF("doc_id", "text")

  test("postings: tf and sorted positions per (term, doc)") {
    val idx = TextAnalysis.invertedIndex(docs)
    val be = idx
      .filter(col("term") === "be")
      .orderBy("doc_id")
      .select("doc_id", "tf", "positions")
      .as[(Long, Long, Seq[Long])]
      .collect()
      .toSeq
    assert(be === Seq((1L, 2L, Seq(1L, 5L)), (2L, 3L, Seq(0L, 2L, 4L))))
  }

  test("BM25: hand-computed scores on the fixture (exact integer tf-part, milli idf)") {
    import graft.operators.TextIndex
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25").toString + "/idx"
    TextIndex.ensureBuilt(docs, dir)
    // N=3, S=14 (dl: 6, 5, 3); df(be)=df(to)=2
    // idf_milli = floor(1000·ln(8/5)) = 470
    // doc1: w(be)=w(to) = (470·44·2·14) div (20·2·14 + 6·14 + 18·6·3) = 579040 div 968 = 598
    // doc2: w(be) = (470·44·3·14) div (840+84+270) = 868560 div 1194 = 727
    //        w(to) = 579040 div (560+84+270)       = 579040 div  914 = 633
    val got = TextIndex
      .searchBm25(spark, dir, Seq("be", "to"), 10)
      .select("doc_id", "n_terms", "score_milli")
      .as[(Long, Long, Long)]
      .collect()
      .toSeq
    assert(got === Seq((2L, 2L, 1360L), (1L, 2L, 1196L)))
  }

  test("BM25 idf floors sit far from integer boundaries on the gate corpora") {
    // the idf is floor(1000·ln((2N+2)/(2df+1))) computed in DOUBLE on both
    // engines; a 1-ulp libm difference can only move the floor when
    // 1000·ln(x) is within ~1e-10 of an integer. Pin that the committed
    // query's actual (N, df) values keep healthy margins, so the oracle
    // comparison cannot flake on libm rounding.
    import graft.operators.TextIndex
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val docs = Tables.documents(spark, sf)
      val dir = TextIndex.defaultDir(sf, docs)
      TextIndex.ensureBuilt(docs, dir)
      val (w1, w2) = TextIndex.topBigram(spark, dir)
      val n = TextIndex.nDocs(spark, dir)
      val dfs = TextIndex
        .postingsFor(spark, dir, Seq(w1, w2).distinct)
        .groupBy(col("term"))
        .agg(count(lit(1)).as("df"))
        .select("df")
        .as[Long]
        .collect()
      dfs.foreach { df =>
        val x = 1000.0 * math.log((2.0 * n + 2.0) / (2.0 * df + 1.0))
        val dist = math.abs(x - math.rint(x))
        assert(dist > 1e-6, s"$sf: idf for df=$df sits $dist from a floor boundary")
      }
    }
  }

  test("BM25 decimal lanes survive the old int64 cliff (stats at ~5e11 corpus tokens)") {
    import graft.operators.TextIndex
    // a stats row AT the previously documented int64 boundary and past it:
    // idf_milli·44·tf·S reaches ~4.5e19 > Long.MaxValue, so the pre-decimal
    // expression wrapped silently. Replay the exact integer arithmetic in
    // BigInt and pin the engine's scores against it.
    for ((n, s) <- Seq((1000000000L, 500000000000000L), (2000000000L, 5000000000000000L))) {
      val p = Seq(
        ("rare", 10L, 100L, 200L),
        ("rare", 11L, 7L, 350L),
        ("common", 10L, 3L, 200L)
      ).toDF("term", "doc_id", "tf", "dl")
      val dfs = Map("rare" -> 2L, "common" -> 1L)
      def idfMilli(df: Long): Long =
        math.floor(1000.0 * math.log((2.0 * n + 2.0) / (2.0 * df + 1.0))).toLong
      def w(term: String, tf: Long, dl: Long): BigInt =
        (BigInt(idfMilli(dfs(term))) * 44 * tf * s) /
          (BigInt(20) * tf * s + BigInt(6) * s + BigInt(18) * dl * n)
      val want = Seq(
        (10L, 2L, (w("rare", 100L, 200L) + w("common", 3L, 200L)).toLong),
        (11L, 1L, w("rare", 7L, 350L).toLong)
      ).sortBy(r => (-r._3, r._1))
      val got = TextIndex
        .bm25Score(p, n, s, 10)
        .select("doc_id", "n_terms", "score_milli")
        .as[(Long, Long, Long)]
        .collect()
        .toSeq
      assert(got === want, s"n=$n s=$s")
      assert(got.forall(_._3 > 0L), "a wrapped lane would go negative")
    }
  }

  test("phrase search finds every adjacency, including repeats") {
    val idx = TextAnalysis.invertedIndex(docs)
    val hits = TextAnalysis
      .phraseSearch(idx, "to", "be")
      .orderBy("doc_id", "pos")
      .select("doc_id", "pos")
      .as[(Long, Long)]
      .collect()
      .toSeq
    assert(hits === Seq((1L, 0L), (1L, 4L), (2L, 1L), (2L, 3L)))
    assert(TextAnalysis.phraseSearch(idx, "be", "nothing").count() === 0)
  }

  test("phrase plan seeks: term filters reach the index side before the join") {
    val idx = TextAnalysis.invertedIndex(docs)
    val plan = TextAnalysis
      .phraseSearch(idx, "to", "be")
      .queryExecution
      .optimizedPlan
      .toString
    assert(
      plan.contains("term#") && (plan.contains("= to") || plan.contains("(to)")),
      s"expected the term predicate pushed into the index scan:\n${plan.take(1200)}"
    )
  }
}
