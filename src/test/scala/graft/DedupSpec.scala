package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

class DedupSpec extends AnyFunSuite with ScratchAssets {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base =
    "spark engines shuffle data across partitions while catalyst optimizes the logical plan before execution"

  test("exact dedup: identical normalized text → one group, min canonical id") {
    val docs = Seq(
      (1L, base),
      (2L, base.toUpperCase), // normalization folds case
      (3L, "something else entirely here")
    ).toDF("doc_id", "text")
    val got = Dedup
      .exactDups(docs)
      .select("doc_id", "dup_count", "canonical_id")
      .as[(Long, Long, Long)]
      .collect()
      .toMap0
    assert(got(1L) === (2L, 1L))
    assert(got(2L) === (2L, 1L))
    assert(got(3L) === (1L, 3L))
  }

  implicit class Tup3Ops(rows: Array[(Long, Long, Long)]) {
    def toMap0: Map[Long, (Long, Long)] = rows.map(r => r._1 -> (r._2, r._3)).toMap
  }

  test("leakage-safe split: no verified near-dup pair straddles a split; per-doc hashing does") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val pairs = Dedup.minhashDups(docs).select("a_id", "b_id")
    val split = Dedup.leakageSafeSplit(docs)
    val straddling = pairs
      .join(split.select(col("doc_id").as("a_id"), col("split").as("sa")), Seq("a_id"))
      .join(split.select(col("doc_id").as("b_id"), col("split").as("sb")), Seq("b_id"))
      .filter(col("sa") =!= col("sb"))
    assert(straddling.count() === 0, "a near-dup pair crossed the split boundary")
    // the contrast that motivates the operator: per-DOC bucketing puts at
    // least one verified pair on different sides on this fixture
    import graft.util.Cols.md5Long
    val perDoc = docs.select(
      col("doc_id"),
      pmod(md5Long(concat(col("doc_id").cast("string"), lit("#split"))), lit(100)).as("b")
    )
    val naiveStraddle = pairs
      .join(perDoc.select(col("doc_id").as("a_id"), col("b").as("ba")), Seq("a_id"))
      .join(perDoc.select(col("doc_id").as("b_id"), col("b").as("bb")), Seq("b_id"))
      .filter((col("ba") < 80) =!= (col("bb") < 80))
    assert(naiveStraddle.count() > 0, "fixture should exhibit naive-split leakage")
    // split is total and deterministic
    assert(split.count() === docs.count())
    val again = Dedup.leakageSafeSplit(docs.repartition(7))
    assert(
      split.orderBy("doc_id").collect() === again.orderBy("doc_id").collect(),
      "split must not depend on partitioning"
    )
  }

  test("minhash LSH finds a near-duplicate pair and scores its jaccard") {
    val nearDup = base.replace("optimizes", "rewrites") // 1 word of 14 changed
    val docs = Seq(
      (1L, base),
      (2L, nearDup),
      (3L, "completely unrelated words about cooking pasta with tomato sauce and basil leaves today")
    ).toDF("doc_id", "text")
    val pairs = Dedup
      .minhashDups(docs, threshold = 0.5)
      .as[(Long, Long, Double)]
      .collect()
      .toSeq
    assert(pairs.map(p => (p._1, p._2)) === Seq((1L, 2L)))
    assert(pairs.head._3 > 0.6 && pairs.head._3 < 1.0)
  }

  test("identical docs get identical simhash; unrelated docs differ") {
    val docs = Seq((1L, base), (2L, base), (3L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val sims = Dedup.simhash(docs).as[(Long, Long)].collect().toMap
    assert(sims(1L) === sims(2L))
    assert(sims(1L) !== sims(3L))
  }

  test("simhash pair search reports hamming 0 for identical docs") {
    val docs = Seq((1L, base), (2L, base)).toDF("doc_id", "text")
    val pairs = Dedup
      .simhashPairs(Dedup.simhash(docs), maxHamming = 3)
      .as[(Long, Long, Long)]
      .collect()
      .toSeq
    assert(pairs === Seq((1L, 2L, 0L)))
  }

  test("native word_shingles equals the HOF formulation on real corpus text") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    for (k <- Seq(2, 3)) {
      val mismatches = docs
        .select(
          graft.operators.Dedup
            .wordShingles(graft.operators.Text.tokensAll(col("text")), k)
            .as("native"),
          graft.operators.Dedup
            .wordShinglesHof(graft.operators.Text.tokensAll(col("text")), k)
            .as("hof")
        )
        .filter(not(col("native") === col("hof")))
        .count()
      assert(mismatches === 0L, s"k=$k")
    }
    // degenerate inputs: empty token array and fewer tokens than k
    val edge = Seq(Seq.empty[String], Seq("one"), Seq("a", "b"))
      .toDF("tk")
      .select(
        graft.operators.Dedup.wordShingles(col("tk"), 3).as("native"),
        graft.operators.Dedup.wordShinglesHof(col("tk"), 3).as("hof")
      )
      .collect()
    edge.foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1)))
  }

  test("native word_shingles_all equals the non-distinct HOF formulation") {
    import org.apache.spark.sql.functions._
    def hofAll(tokens: org.apache.spark.sql.Column, k: Int) =
      transform(
        sequence(lit(1), greatest(size(tokens) - (k - 1), lit(1))),
        i => array_join(slice(tokens, i, lit(k)), " ")
      )
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    for (k <- Seq(2, 3)) {
      val mismatches = docs
        .select(
          graft.operators.Dedup
            .wordShinglesAll(graft.operators.Text.tokensAll(col("text")), k)
            .as("native"),
          hofAll(graft.operators.Text.tokensAll(col("text")), k).as("hof")
        )
        .filter(not(col("native") === col("hof")))
        .count()
      assert(mismatches === 0L, s"k=$k")
    }
    // degenerate inputs: empty token array and fewer tokens than k; a
    // repeated token must appear with multiplicity (the point of _all)
    val edge = Seq(Seq.empty[String], Seq("one"), Seq("a", "b"), Seq("a", "a", "a"))
      .toDF("tk")
      .select(
        graft.operators.Dedup.wordShinglesAll(col("tk"), 2).as("native"),
        hofAll(col("tk"), 2).as("hof")
      )
      .collect()
    edge.foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1)))
  }

  test("connected components: chain, triangle, and isolated pair resolve to min ids") {
    // chain 1-2-3-4 (diameter 3: needs >1 propagation round), triangle
    // 10-11-12, pair 20-21 — every member must map to its cluster's min id.
    val edges = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (21L, 20L)
    ).toDF("a_id", "b_id")
    val comp = graft.operators.Dedup
      .connectedComponents(edges)
      .as[(Long, Long)]
      .collect()
      .toMap
    assert(comp === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L
    ))
  }

  test("connected components converge logarithmically on a 200-node chain") {
    // diameter 199: min-propagation alone needs ~200 rounds; with pointer
    // jumping ~log2 — must converge well inside maxIters=20 (the require
    // inside connectedComponents throws on non-convergence)
    val edges = (0L until 199L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val comp = graft.operators.Dedup
      .connectedComponents(edges, maxIters = 20)
      .as[(Long, Long)]
      .collect()
    assert(comp.length === 200)
    assert(comp.forall(_._2 === 0L), "every chain node must resolve to node 0")
  }

  test("hash split: deterministic, exhaustive, and percent-shaped") {
    val df = spark.range(0, 2000).toDF("doc_id")
    val split = graft.operators.Split.hashSplit(df, "doc_id")
    val counts = split
      .groupBy("split")
      .count()
      .as[(String, Long)]
      .collect()
      .toMap
    assert(counts.keySet === Set("train", "val", "test"))
    assert(counts.values.sum === 2000L)
    // md5 buckets are uniform: 80/10/10 within generous tolerance
    assert(counts("train") > 1400 && counts("train") < 1800)
    // same ids → same assignment on a re-run (pure function of the id)
    val again = graft.operators.Split
      .hashSplit(df, "doc_id")
      .groupBy("split")
      .count()
      .as[(String, Long)]
      .collect()
      .toMap
    assert(again === counts)
  }

  test("blocked ngram jaccard: only within-block pairs are compared") {
    val docs = Seq(
      (1L, "en", base),
      (2L, "en", base),
      (3L, "de", base) // same text, different block → never paired
    ).toDF("doc_id", "lang", "text")
    val pairs = Dedup
      .ngramJaccardPairs(docs, "lang", threshold = 0.9)
      .as[(Long, Long, Double)]
      .collect()
      .toSeq
    assert(pairs.map(p => (p._1, p._2)) === Seq((1L, 2L)))
    assert(pairs.head._3 === 1.0)
  }

  test("lshEval confusion matrix matches independently recomputed truth/candidate sets") {
    // seeded corpus of overlapping word soups: enough shared shingles that
    // the truth and candidate pair sets genuinely differ from each other
    // somewhere in [0, all] — the identities below hold for ANY outcome
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    // variants of shared base texts: same-base docs overlap heavily (truth
    // pairs exist), one-word mutations push some pairs near the threshold
    // (so the truth and candidate sets can genuinely disagree)
    val bases = Vector.fill(12)(
      Vector.fill(8 + rnd.nextInt(4))(vocab(rnd.nextInt(vocab.size)))
    )
    val docs = (1L to 60L).map { id =>
      val b = bases(rnd.nextInt(bases.size))
      val words =
        if (rnd.nextBoolean())
          b.updated(rnd.nextInt(b.size), vocab(rnd.nextInt(vocab.size)))
        else b
      (id, if (id % 2 == 0) "en" else "de", words.mkString(" "))
    }.toDF("doc_id", "lang", "text")
    val t = 0.5
    val truth = Dedup
      .ngramJaccardPairs(docs, "lang", t)
      .select("a_id", "b_id")
      .as[(Long, Long)]
      .collect()
      .toSet
    val blocks = docs.select(col("doc_id"), col("lang")).as[(Long, String)].collect().toMap
    val cand = Dedup
      .lshCandidates(Dedup.signatures(docs).drop("sh"))
      .as[(Long, Long)]
      .collect()
      .toSet[(Long, Long)]
      .filter { case (a, b) => blocks(a) == blocks(b) }
    val got = Dedup
      .lshEval(docs, "lang", t)
      .filter(col("blk") === "ALL")
      .select("n_truth", "n_cand", "tp", "fp", "fn")
      .as[(Long, Long, Long, Long, Long)]
      .collect()
      .head
    val tp = (truth intersect cand).size.toLong
    assert(got === ((truth.size.toLong, cand.size.toLong, tp,
      cand.size - tp, truth.size - tp)))
    // the harness is non-vacuous on this corpus: there are real pairs
    assert(truth.nonEmpty && cand.nonEmpty)
  }

  test("lshEvalSampled: deterministic md5 block sample, surviving blocks bit-equal the full harness") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    // the block sample is a strict, non-empty subset of blocks
    val allBlocks = docs.select("lang").distinct().as[String].collect().toSet
    val sampled = Dedup.lshEvalSample(docs)
    val keptBlocks = sampled.select("lang").distinct().as[String].collect().toSet
    assert(keptBlocks.nonEmpty && keptBlocks != allBlocks,
      s"kept $keptBlocks of $allBlocks")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Row] =
      df.orderBy("blk").collect().toSeq
    val once = rows(Dedup.lshEvalSampled(docs))
    // pure function of the block value: any physical layout evaluates the
    // SAME universe and produces bit-identical cells (rand()-sampling
    // fails exactly this pin)
    val repart = rows(Dedup.lshEvalSampled(docs.repartition(7)))
    assert(once === repart, "sampled eval must be partitioning-invariant")
    // exact-on-sample contract: the sampled harness IS the full harness
    // run on the sampled blocks — integer-identical, not an approximation
    val direct = rows(Dedup.lshEval(sampled, "lang", Dedup.JaccardThreshold))
    assert(once === direct)
    // stronger: each surviving block's row is bit-identical to the FULL
    // harness's row for that block (block sampling keeps every within-
    // block pair; doc sampling would thin them by rate^2 and break this)
    val full = rows(Dedup.lshEval(docs, "lang", Dedup.JaccardThreshold))
    val fullByBlk = full.map(r => r.getString(0) -> r).toMap
    once.filter(_.getString(0) != "ALL").foreach { r =>
      assert(fullByBlk(r.getString(0)) === r,
        s"surviving block ${r.getString(0)} must match the full harness")
    }
    // non-vacuous at this sf: the sampled universe still contains truth
    // pairs, and never more than the full universe's
    val allTruth = (df: Seq[Row]) =>
      df.find(_.getString(0) == "ALL").map(_.getLong(1)).getOrElse(0L)
    assert(allTruth(once) > 0 && allTruth(once) <= allTruth(full))
  }

  test("SSJoin checkpointed universe is bounded by the block-sample contract") {
    // The eval harness eagerly checkpoints one row per input doc with its
    // hashed shingle arrays (Dedup.ssjoinRanked) — executor-local,
    // corpus-order state. That is safe at scale ONLY because the scale
    // path (lshEvalSampled) feeds it a deterministic block sample, never
    // the full corpus. Row-count guard: the checkpointed universe of the
    // sampled harness is exactly the sampled docs (at most one row per
    // doc), and STRICTLY smaller than the corpus — if a future edit
    // routes the full corpus through the checkpoint in the sampled path,
    // this pins it in CI instead of a code comment.
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val sampled = Dedup.lshEvalSample(docs)
    val nDocs = docs.count()
    val nSampled = sampled.count()
    assert(nSampled > 0 && nSampled < nDocs, s"sample $nSampled of $nDocs")
    val universe = Dedup.ssjoinRanked(sampled, "lang", Dedup.JaccardThreshold)
    val nUniverse = universe.count()
    assert(nUniverse <= nSampled,
      s"checkpointed universe $nUniverse must not exceed the $nSampled sampled docs")
    assert(nUniverse < nDocs,
      s"checkpointed universe $nUniverse must be strictly sample-bounded ($nDocs corpus docs)")
    universe.unpersist(blocking = true)
    ()
  }

  test("substrDeltaRemoval: ingest form equals the batch rewrite when the delta arrives last") {
    // When every delta doc_id is greater than every corpus doc_id, ingest
    // order and doc_id order agree, so the incremental form must be
    // BIT-EQUAL to the batch d_substr_removal restricted to delta docs.
    // The fixture covers every removal class: corpus-hit grams (doc 11
    // repeats doc 1's text), within-delta dup grams canonicalized to their
    // first delta occurrence (docs 12/13 share a fresh run), fresh-unique
    // grams kept (doc 14), and a short (<4-token) doc (doc 15).
    val corpus = Seq(
      (1L, base),
      (2L, "completely different corpus content with many unique tokens here"),
      (3L, "short doc")
    ).toDF("doc_id", "text")
    val delta = Seq(
      (11L, base), // every 4-gram known to the corpus
      (12L, "fresh delta run alpha beta gamma delta epsilon zeta"),
      (13L, "prefix words fresh delta run alpha beta gamma delta epsilon zeta"),
      (14L, "entirely novel material with no duplicate structure anywhere"),
      (15L, "tiny one")
    ).toDF("doc_id", "text")
    val dir = owned(Dedup.ensureSubstrGramIndex(freshSf(), corpus))
    val inc = Dedup
      .substrDeltaRemoval(spark, dir, delta)
      .orderBy("doc_id")
      .collect()
      .map(_.toString)
      .toSeq

    // batch reference: replicate the d_substr_removal query body over
    // corpus ∪ delta, restricted to delta ids
    import graft.util.Cols.md5Long
    import graft.operators.Text
    val all = corpus.unionByName(delta)
    val toks = all.select(col("doc_id"), Text.tokensAll(col("text")).as("tk"))
    val occ = toks
      .select(col("doc_id"), posexplode(Dedup.wordShinglesAll(col("tk"), 4)).as(Seq("start", "g")))
      .select(col("doc_id"), col("start"), md5Long(col("g")).as("gh"))
    val dup = occ
      .groupBy(col("gh"))
      .agg(min(struct(col("doc_id"), col("start"))).as("canon"), count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
    val removedPos = occ
      .join(dup, Seq("gh"))
      .filter(!(col("doc_id") === col("canon.doc_id") && col("start") === col("canon.start")))
      .select(col("doc_id"), explode(sequence(col("start"), col("start") + lit(3))).as("pos"))
      .distinct()
    val rebuilt = toks
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("pos", "tok")))
      .join(removedPos, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        concat_ws(
          " ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))), _.getField("tok"))
        ).as("clean_text"),
        count(lit(1)).cast("long").as("n_kept")
      )
    val batch = toks
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        md5(coalesce(col("clean_text"), lit(""))).as("clean_md5")
      )
      .filter(col("doc_id") >= 11L)
      .orderBy("doc_id")
      .collect()
      .map(_.toString)
      .toSeq
    assert(inc === batch)

    // non-vacuousness of the classes the fixture promises
    val byId = Dedup
      .substrDeltaRemoval(spark, dir, delta)
      .select("doc_id", "n_removed")
      .as[(Long, Long)]
      .collect()
      .toMap
    assert(byId(11L) > 0L, "corpus-hit removal must fire")
    assert(byId(13L) > 0L, "within-delta dup removal must fire")
    assert(byId(12L) === 0L, "delta-canonical occurrence is kept")
    assert(byId(14L) === 0L, "fresh-unique content untouched")
  }

  test("substrRemovalStats: minMatch length gates which duplicated spans count") {
    import graft.operators.Dedup
    // a 10-token span shared verbatim by docs 1 and 2; doc 3 is noise
    val span = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, s"$span unique tail of document one entirely"),
      (2L, s"other head words then $span closing here"),
      (3L, "completely unrelated filler content nothing shared anywhere")
    ).toDF("doc_id", "text")
    def stats(k: Int): Map[Long, (Long, Long)] =
      Dedup
        .substrRemovalStats(docs, k)
        .select("doc_id", "n_removed", "n_kept")
        .as[(Long, Long, Long)]
        .collect()
        .map(r => r._1 -> ((r._2, r._3)))
        .toMap
    val at8 = stats(8)
    // the 10-token duplicated span has 3 duplicated 8-windows in each doc;
    // doc 1 holds the canonical (global min (doc_id, start)) occurrence,
    // so only doc 2's copy loses its 10 covered positions
    assert(at8(1L)._1 === 0L, "canonical occurrence keeps its tokens")
    assert(at8(2L)._1 === 10L, s"all 10 span positions removed in doc 2: $at8")
    assert(at8(3L)._1 === 0L)
    // at minMatch=20 the duplicated span is shorter than the minimum
    // match — nothing in the corpus qualifies, nothing is removed
    val at20 = stats(20)
    assert(at20.values.forall(_._1 == 0L), s"no >=20-token duplicate exists: $at20")
    // and the 4-gram instance equals the suite query's operating point
    val at4 = stats(4)
    assert(at4(2L)._1 === 10L, "shorter windows cover the same span")
  }

  test("lineDedup: cross-document hot lines drop, order preserved, in-doc repeats count once") {
    import graft.operators.Dedup
    // "promo" sits in every doc (df 4 > ceiling 2); "x"/"y"/... are
    // doc-unique; doc 4 repeats promo twice IN-DOCUMENT — counted once
    // for df, but both instances drop
    val pages = Seq(
      (1L, "a\npromo\nb"),
      (2L, "promo\nc"),
      (3L, "d\npromo"),
      (4L, "promo\ne\npromo")
    ).toDF("doc_id", "text")
    val out = Dedup
      .lineDedup(pages, maxSharePermille = 10L, minDocs = 2L)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)]
      .collect()
      .toList
    assert(
      out === List(
        (1L, 3L, 1L, "a\nb"),
        (2L, 2L, 1L, "c"),
        (3L, 2L, 1L, "d"),
        (4L, 3L, 2L, "e")
      )
    )
    // below the ceiling nothing drops: raise minDocs above the df
    val loose = Dedup
      .lineDedup(pages, maxSharePermille = 10L, minDocs = 4L)
      .agg(org.apache.spark.sql.functions.sum("n_dropped"))
      .head()
      .getLong(0)
    assert(loose === 0L)
  }
}
