package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, lit, udf}

import graft.operators.TextAnalysis

/** BPE trainer guarantees behind `t_bpe_merges` and vocabulary coverage
  * behind `t_vocab_coverage`: canonical greedy merge application
  * (including same-character runs, where a naive sentinel string-replace
  * under-merges), composition of later merges over earlier merged
  * symbols, the deterministic (count desc, pair asc) tiebreak, and
  * integral OOV stats.
  */
class BpeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  test("same-character runs merge canonically: aaaa -> [aa][aa] -> [aaaa]") {
    // word 'aaaa' has pairs (a,a) x3; greedy left-to-right application
    // must yield 'aa aa' (a sentinel ' a a '-replace would leave 'aa a a'
    // and step 2 would then learn (aa,a) instead of (aa,aa)).
    val m = TextAnalysis.bpeTrain(docs("aaaa aaaa aaaa"), 2)
      .orderBy("step")
      .as[(Long, String, String, String, Long)]
      .collect()
    assert(m(0) === ((1L, "a", "a", "aa", 9L)), "3 words x 3 adjacent pairs")
    assert(m(1) === ((2L, "aa", "aa", "aaaa", 3L)), "canonical fold leaves [aa][aa]")
  }

  test("merges compose over merged symbols and repeat non-overlapping: abab") {
    val m = TextAnalysis.bpeTrain(docs("abab abab"), 2)
      .orderBy("step")
      .as[(Long, String, String, String, Long)]
      .collect()
    // pairs of 'a b a b': (a,b) x2, (b,a) x1 per word
    assert(m(0) === ((1L, "a", "b", "ab", 4L)))
    assert(m(1) === ((2L, "ab", "ab", "abab", 2L)), "both (a,b) occurrences merged in one step")
  }

  test("tiebreak is (support desc, pair asc)") {
    // 'cd' and 'ab' tie at 2 occurrences; 'a b' < 'c d' lexicographically
    val m = TextAnalysis.bpeTrain(docs("ab cd", "ab cd"), 1)
      .as[(Long, String, String, String, Long)]
      .collect()
    assert(m(0) === ((1L, "a", "b", "ab", 2L)))
  }

  test("trainer stops early when no pairs remain") {
    // single two-char word: step 1 merges it fully; step 2 has no pairs
    val m = TextAnalysis.bpeTrain(docs("ab ab"), 5).collect()
    assert(m.length === 1)
  }

  test("deeper merge loop holds its invariants (16 steps, production loop shape)") {
    // Longer training runs are the production shape (the per-step cost
    // sits on the compact vocabulary table; the per-step Iterate cut keeps
    // the plan flat, so step count can grow without plan blowup). Pin the
    // classic BPE invariant over a 16-step run: max pair support never
    // increases step over step (a merge can only reduce or preserve the
    // best remaining pair count), and merged symbols chain consistently.
    val corpus = docs(
      "banana bandana cabana banana",
      "pepper peppers pepped pepper",
      "mississippi missive mission",
      "abracadabra abracadabra"
    )
    val m = TextAnalysis.bpeTrain(corpus, 16)
      .orderBy("step")
      .as[(Long, String, String, String, Long)]
      .collect()
    assert(m.length === 16, "rich corpus sustains 16 merges")
    assert(m.map(_._1).toSeq === (1L to 16L), "contiguous steps")
    val supports = m.map(_._5).toSeq
    assert(
      supports.zip(supports.tail).forall { case (a, b) => b <= a },
      s"max pair support must be non-increasing: $supports"
    )
    m.foreach { case (_, x, y, merged, _) => assert(merged === x + y) }
    // later merges must build on symbols constructible from earlier ones
    val symbols = scala.collection.mutable.Set[String]()
    m.foreach { case (_, x, y, merged, _) =>
      def atomic(s: String) = s.length == 1 || symbols.contains(s)
      assert(atomic(x) && atomic(y), s"merge ($x,$y) uses unknown symbol")
      symbols += merged
    }
  }

  test("production-vocab shape: 256 merges sustained, per-step cost does not grow") {
    // The fixture corpus has a CLOSED ~30-word/lang vocabulary, so long
    // trainings exhaust; this drives the trainer at a production SHAPE:
    // 5000 distinct 32-char hex words (16-symbol alphabet — rich pair
    // structure) with skewed counts. Pins the two properties a 32k-merge
    // production training rests on:
    //   1. the pair supply sustains >= 256 merges (no early exhaustion);
    //   2. per-step cost is FLAT in the step index — one pass over the
    //      compact word table per merge, plan size held constant by the
    //      per-step Iterate cut. Without that checkpoint the lineage
    //      grows linearly and step cost with it; we pin flatness by
    //      comparing a 256-step run against a 64-step run: flat per-step
    //      cost => T(256) ~= 4 x T(64); 8x allowed for noise.
    def md5Hex(s: String): String =
      java.security.MessageDigest
        .getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map("%02x".format(_))
        .mkString
    val words = (0 until 5000)
      .map(i => (md5Hex(s"w$i"), 1L + i % 7))
      .toDF("word", "cnt")
      .repartition(8)
      .cache()
    words.count()
    def timedMerges(n: Int): (Long, Long) = {
      val t0 = System.nanoTime()
      val m = TextAnalysis.bpeTrainWords(words, n)._1.count()
      (m, (System.nanoTime() - t0) / 1000000L)
    }
    val (m64, t64) = timedMerges(64)
    val (m256, t256) = timedMerges(256)
    info(s"64 merges: $t64 ms (${t64 / 64} ms/step); 256 merges: $t256 ms (${t256 / 256} ms/step)")
    assert(m64 === 64L && m256 === 256L, "pair supply must sustain 256 merges")
    assert(
      t256 <= 8L * t64,
      s"per-step cost grew with step index: T(256)=$t256 ms vs T(64)=$t64 ms"
    )
  }

  test("local trainer is BIT-EQUAL to the sequential trainer (merge table + final seqs)") {
    val corpora = Seq(
      docs("aaaa aaaa aaaa", "abab abab", "ab cd", "ab cd"),
      docs(
        "banana bandana cabana banana",
        "pepper peppers pepped pepper",
        "mississippi missive mission",
        "abracadabra abracadabra"
      )
    )
    for (corpus <- corpora; n <- Seq(4, 16)) {
      val words = graft.operators.TextAnalysis
        .wordCounts(corpus)
        .select(col("token").as("word"), col("cnt"))
        .localCheckpoint()
      val (ms, ss) = TextAnalysis.bpeTrainWords(words, n)
      val (ml, sl) = TextAnalysis.bpeTrainWordsLocal(words, n)
      assert(
        ml.orderBy("step").collect().map(_.toString).toSeq ===
          ms.orderBy("step").collect().map(_.toString).toSeq,
        s"merge tables diverge at n=$n"
      )
      assert(
        sl.orderBy("word").collect().map(_.toString).toSeq ===
          ss.orderBy("word").collect().map(_.toString).toSeq,
        s"trained segmentations diverge at n=$n"
      )
    }
  }

  test("local trainer: production shape — bit-equal at 64 merges, 1024 merges in seconds") {
    def md5Hex(s: String): String =
      java.security.MessageDigest
        .getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map("%02x".format(_))
        .mkString
    val words = (0 until 5000)
      .map(i => (md5Hex(s"w$i"), 1L + i % 7))
      .toDF("word", "cnt")
      .repartition(8)
      .cache()
    words.count()
    val seqMerges = TextAnalysis.bpeTrainWords(words, 64)._1
      .orderBy("step").collect().map(_.toString).toSeq
    val local64 = TextAnalysis.bpeTrainWordsLocal(words, 64)._1
      .orderBy("step").collect().map(_.toString).toSeq
    assert(local64 === seqMerges, "production-shape bit-equality at 64 merges")
    // the quantity under attack: a production-vocabulary merge count must
    // not be driver-round-bound. 1024 merges (the batched trainer's
    // measured 153.6 s shape) must finish in single-digit seconds.
    val t0 = System.nanoTime()
    val n1024 = TextAnalysis.bpeTrainWordsLocal(words, 1024)._1.count()
    val ms1024 = (System.nanoTime() - t0) / 1000000L
    info(s"1024 merges locally in $ms1024 ms (${ms1024.toDouble / 1024} ms/merge)")
    assert(n1024 === 1024L, "pair supply sustains 1024 merges on the hex-word shape")
    assert(ms1024 < 60000L, s"local trainer must be seconds, not minutes: $ms1024 ms")
  }

  test("local trainer maxWords guard rejects an over-budget vocabulary BEFORE collecting it") {
    val words = Seq(("ab", 1L), ("cd", 2L)).toDF("word", "cnt")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.bpeTrainWordsLocal(words, 1, maxWords = 1)
    }
    assert(e.getMessage.contains("maxWords"))
    // The guard exists to keep a corpus-sized word table off the driver,
    // so it must be a distributed count that runs BEFORE .collect(): a
    // word column that detonates when evaluated passes the (column-pruned)
    // count, so seeing the clean require() message proves nothing
    // materialized the over-budget table.
    val boom = udf { (i: Long) =>
      if (i >= 0) throw new RuntimeException("word table materialized on the driver path")
      else "x"
    }
    val trap = spark
      .range(3)
      .select(boom(col("id")).as("word"), lit(1L).as("cnt"))
    val e2 = intercept[IllegalArgumentException] {
      TextAnalysis.bpeTrainWordsLocal(trap, 1, maxWords = 1)
    }
    assert(e2.getMessage.contains("maxWords"), s"guard must fire pre-collect: $e2")
  }

  test("bpeEncodeStats: trained segmentation applied per doc, exact fertility") {
    // merge 1 learns (a,b): 'ab' x2 beats 'a a' x1. Trained vocab:
    // aa -> [a][a] (2 subwords), ab -> [ab] (1 subword).
    val d = docs("aa ab", "ab")
    val r = TextAnalysis.bpeEncodeStats(d, 1)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)]
      .collect()
    assert(r(0) === ((0L, 2L, 3L, 150L)), "100*3 div 2 = 150 subwords/100w")
    assert(r(1) === ((1L, 1L, 1L, 100L)))
  }

  test("oovStats: exact counts and integral permille against top-V vocab") {
    // corpus tokens: 'aa' x3, 'bb' x2, 'cc' x1 -> top-2 vocab = {aa, bb}
    val d = docs("aa aa bb", "aa bb cc")
    val r = TextAnalysis.oovStats(d, 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)]
      .collect()
    assert(r(0) === ((0L, 3L, 0L, 0L)))
    assert(r(1) === ((1L, 3L, 1L, 333L)), "1000*1 div 3 = 333, integral")
  }

  test("byte-level trainer: hex-pair symbols, multi-byte UTF-8 merges when supported") {
    // 'für' repeated: bytes 66 C3 BC 72 — the ü lead/continuation pair
    // (C3, BC) is as frequent as any pair, merging it reconstitutes the
    // character at the symbol level
    val words = Seq(("für", 10L)).toDF("word", "cnt")
    val (merges, seqs) = TextAnalysis.bpeTrainWordsByteLevel(words, 3)
    val m = merges.orderBy("step").select("x", "y", "merged", "support")
      .as[(String, String, String, Long)].collect().toSeq
    // step 1 argmax: all three adjacent pairs have support 10; tiebreak
    // pair-asc picks "66 C3" < "BC 72" < "C3 BC"? No: '6' < 'B' < 'C',
    // so (66, C3) merges first, then (66C3, BC), then (66C3BC, 72)
    assert(m(0) === (("66", "C3", "66C3", 10L)))
    assert(m(1) === (("66C3", "BC", "66C3BC", 10L)))
    assert(m(2) === (("66C3BC", "72", "66C3BC72", 10L)))
    assert(
      seqs.select("seq").as[String].head() === "66C3BC72",
      "fully merged word = one symbol spanning the multi-byte char"
    )
  }

  test("byte fallback: ASCII-trained rules encode unseen non-Latin words, zero OOV") {
    // train on ASCII only — no symbol containing bytes >= 0x80 can be learned
    val train = Seq(("there", 50L), ("here", 30L), ("the", 20L)).toDF("word", "cnt")
    val (mergesDf, _) = TextAnalysis.bpeTrainWordsByteLevel(train, 8)
    val merges = mergesDf.orderBy("step").select("x", "y")
      .as[(String, String)].collect().toSeq
    assert(merges.nonEmpty)
    assert(
      merges.forall { case (x, y) => (x + y).grouped(2).forall(Integer.parseInt(_, 16) < 0x80) },
      "ASCII corpus can only produce ASCII-byte symbols"
    )
    val probe = Seq("über", "γλώσσα", "русский", "there", "qqq").toDF("word")
      .withColumn(
        "seq",
        TextAnalysis.bpeApplyMerges(TextAnalysis.byteSeq(col("word")), merges)
      )
    val got = probe.select("word", "seq").as[(String, String)].collect().toMap
    // every word encodes (no OOV): symbols are hex, and concatenating
    // them reconstructs the word's exact UTF-8 bytes
    got.foreach { case (w, seq) =>
      val syms = seq.split(" ").toSeq
      assert(syms.forall(s => s.nonEmpty && s.length % 2 == 0 && s.matches("[0-9A-F]+")), s"$w: $seq")
      val bytes = syms.mkString.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      assert(new String(bytes, "UTF-8") === w, "byte-level encode is lossless")
    }
    // non-ASCII bytes stay raw base symbols (untouched by ASCII rules)
    assert(got("über").startsWith("C3 BC"), got("über"))
    // while the seen word compresses under its learned merges
    assert(got("there").split(" ").length < "there".length)
  }

}
