package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup
import graft.streaming.{DeltaFold, SubstrIndexStream}

/** Streaming maintenance of the persisted ExactSubstr gram index: live-view
  * equality with a wholesale rebuild, replay exactly-once (before AND after
  * compaction), write-once clean output, and debt-policy compaction through
  * the shared generation pointer commit.
  */
class SubstrIndexStreamSpec extends AnyFunSuite with ScratchAssets {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docsDf(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private val corpus = docsDf(
    1L -> "alpha beta gamma delta epsilon zeta eta theta",
    2L -> "completely different corpus content with many unique tokens here",
    3L -> "third corpus document keeps its own private phrasing throughout"
  )
  private val growth = docsDf(
    4L -> "alpha beta gamma delta brand new growth content arrives",
    5L -> "growth batch second document fresh repeated span again fresh repeated span again"
  )
  private val delta = docsDf(
    11L -> "alpha beta gamma delta epsilon zeta eta theta", // corpus-known spans
    12L -> "brand new growth content arrives somewhere else", // growth-known spans
    13L -> "wholly novel delta material nothing has seen before"
  )

  /** The published index of `corpus`: the pre-batch state every fold
    * starts from, on its own copy.
    */
  private lazy val base = owned(Dedup.ensureSubstrGramIndex(freshSf(), corpus))

  private def freshDir(): String = {
    val idx = scratchDir("substr_stream") + "/idx"
    graft.operators.Indexes.copyDir(base, idx)
    idx
  }

  private def gramSet(dir: String): Set[(Int, Long)] =
    SubstrIndexStream
      .readGrams(spark, dir)
      .as[(Int, Long)]
      .collect()
      .toSet

  private def rebuiltSet(docs: org.apache.spark.sql.DataFrame): Set[(Int, Long)] = {
    val d = owned(Dedup.ensureSubstrGramIndex(freshSf(), docs))
    spark.read.parquet(s"$d/grams").select(col("b"), col("gh")).as[(Int, Long)].collect().toSet
  }

  test("stream-grown gram view equals the wholesale rebuild; verdicts bit-equal") {
    val dir = freshDir()
    SubstrIndexStream.upsertBatch(growth, dir, batchId = 0L, compactAt = 0) // no fold yet
    assert(gramSet(dir) === rebuiltSet(corpus.unionByName(growth)))
    val grown = Dedup
      .substrDeltaRemovalOn(SubstrIndexStream.readGrams(spark, dir), delta)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val fresh = {
      val d = owned(Dedup.ensureSubstrGramIndex(freshSf(), corpus.unionByName(growth)))
      Dedup.substrDeltaRemoval(spark, d, delta)
        .orderBy("doc_id").collect().map(_.toString).toSeq
    }
    assert(grown === fresh, "stream-grown index must be indistinguishable from a fresh build")
    // non-vacuous: corpus-known doc fully removed, growth-known doc hit, novel doc untouched
    val byId = Dedup
      .substrDeltaRemovalOn(SubstrIndexStream.readGrams(spark, dir), delta)
      .select("doc_id", "n_removed").as[(Long, Long)].collect().toMap
    assert(byId(11L) > 0L && byId(12L) > 0L && byId(13L) === 0L)
  }

  test("replay exactly-once: same batch id re-landed changes nothing, before and after compaction") {
    val dir = freshDir()
    SubstrIndexStream.upsertBatch(growth, dir, batchId = 0L, compactAt = 0)
    val view1 = gramSet(dir)
    val clean1 = spark.read.parquet(s"$dir/clean/batch_id=0")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    SubstrIndexStream.upsertBatch(growth, dir, batchId = 0L, compactAt = 0) // replay
    assert(gramSet(dir) === view1)
    assert(
      spark.read.parquet(s"$dir/clean/batch_id=0")
        .orderBy("doc_id").collect().map(_.toString).toSeq === clean1,
      "clean output is write-once"
    )
    // fold the delta, then replay the SAME batch once more: its rows
    // re-land in delta/, and the live view's distinct() collapses them
    assert(SubstrIndexStream.maybeCompact(spark, DeltaFold.gen(dir), maxDeltaFraction = 1e-9))
    assert(!DeltaFold.gen(dir).hasDelta(), "fold retires the delta dir")
    val viewAfterFold = gramSet(dir)
    assert(viewAfterFold === view1, "compaction must not change the live view")
    SubstrIndexStream.upsertBatch(growth, dir, batchId = 0L, compactAt = 0) // post-fold replay
    assert(gramSet(dir) === view1, "post-compaction replay is absorbed by the distinct view")
    assert(
      spark.read.parquet(s"$dir/clean/batch_id=0")
        .orderBy("doc_id").collect().map(_.toString).toSeq === clean1,
      "post-compaction replay must not rewrite the clean output"
    )
  }

  test("batch rewrite probes the pre-batch state: within-batch dups canonicalize, base spans remove") {
    val dir = freshDir()
    SubstrIndexStream.upsertBatch(growth, dir, batchId = 0L, compactAt = 0)
    val clean = spark.read.parquet(s"$dir/clean/batch_id=0")
      .select("doc_id", "n_removed").as[(Long, Long)].collect().toMap
    // doc 4 starts with corpus doc 1's 4-token prefix -> removed spans;
    // doc 5 repeats its own fresh span -> within-batch canonical keeps the
    // first occurrence, removes the repeat
    assert(clean(4L) > 0L, "corpus-known spans in the batch must be removed")
    assert(clean(5L) > 0L, "within-batch repeated span must lose its non-canonical occurrence")
    val expected = Dedup
      .substrDeltaRemoval(spark, base, growth)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val got = spark.read.parquet(s"$dir/clean/batch_id=0")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(got === expected, "clean output = operator rewrite against the pre-batch index")
  }

  test("live gram view never re-shuffles the bucketed base (delta-probe union, no distinct)") {
    // the old shape ((base ∪ delta).distinct()) paid a full reshuffle of
    // the base on EVERY read; the view must get set-exactness from a
    // delta-bounded semi/anti probe instead, with the base scan feeding
    // the union directly
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case r: ReusedExchangeExec    => Seq(r.child)
        case _                        => p.children
      }
      p +: kids.flatMap(flatten)
    }
    // does this subtree stream base rows INTO the exchange? A grams scan
    // reached only through a BroadcastExchange boundary doesn't count: the
    // broadcast frame is the delta-bounded dupes probe, not the base —
    // its rows never get repartitioned by the enclosing shuffle
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    def scansBase(p: SparkPlan): Boolean = p match {
      case _: BroadcastExchangeLike => false
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.mkString(",").contains("/grams")
      case a: AdaptiveSparkPlanExec => scansBase(a.executedPlan)
      case q: QueryStageExec        => scansBase(q.plan)
      case r: ReusedExchangeExec    => scansBase(r.child)
      case _                        => p.children.exists(scansBase)
    }
    val dir = freshDir()
    SubstrIndexStream.upsertBatch(growth, dir, batchId = 0L, compactAt = 0)
    assert(new java.io.File(s"$dir/delta").exists(), "precondition: outstanding delta")
    val view = SubstrIndexStream.readGrams(spark, dir)
    view.collect() // finalize the adaptive plan
    val shufflesOverBase = flatten(view.queryExecution.executedPlan).collect {
      case s: ShuffleExchangeLike if scansBase(s) => s
    }
    assert(
      shufflesOverBase.isEmpty,
      "the base grams scan must never sit under a shuffle:\n" +
        view.queryExecution.executedPlan.toString.take(3000)
    )
  }

  test("a torn clean write (dir without _SUCCESS) is recomputed on replay") {
    // Spark creates the output dir at job start; a crash mid-write leaves
    // it behind WITHOUT the _SUCCESS commit marker. The write-once check
    // must key on the marker, not dir existence — otherwise the replay
    // skips the rewrite forever and the batch's clean output stays torn.
    val dir = freshDir()
    val torn = new java.io.File(s"$dir/clean/batch_id=0")
    assert(torn.mkdirs(), "simulate the torn dir")
    java.nio.file.Files.write(
      torn.toPath.resolve("part-corrupt.parquet"),
      Array[Byte](1, 2, 3)
    )
    SubstrIndexStream.upsertBatch(growth, dir, batchId = 0L, compactAt = 0)
    assert(
      new java.io.File(s"$dir/clean/batch_id=0/_SUCCESS").exists(),
      "replay must rewrite the torn batch output"
    )
    val expected = Dedup
      .substrDeltaRemoval(spark, base, growth)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val got = spark.read.parquet(s"$dir/clean/batch_id=0")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(got === expected, "recomputed clean output matches the operator rewrite")
  }

  test("direct folds after a crash on either side of the pointer replace") {
    val dir = freshDir()
    SubstrIndexStream.upsertBatch(growth, dir, batchId = 0L, compactAt = 0)
    val truth = rebuiltSet(corpus.unionByName(growth))
    // a crash BEFORE the pointer replace: a compaction fully wrote
    // grams.g-<s>, then died — no generation names it, grams/ and delta/
    // are live as before
    val stamp = "crashsim"
    spark.read
      .parquet(s"$dir/grams")
      .select(col("b"), col("gh"))
      .unionByName(spark.read.parquet(s"$dir/delta").select(col("b"), col("gh")))
      .distinct()
      .write
      .partitionBy("b")
      .parquet(s"$dir/grams.g-$stamp")
    assert(gramSet(dir) === truth, "readers keep the committed generation")
    SubstrIndexStream.compactDeltas(spark, DeltaFold.gen(dir))
    assert(!new java.io.File(s"$dir/grams.g-$stamp").exists(), "the orphaned generation is swept")
    assert(!DeltaFold.gen(dir).hasDelta(), "folded delta retired")
    assert(gramSet(dir) === truth, "the fold equals the wholesale rebuild")
    // a crash AFTER the pointer replace, before its sweep: the build's
    // grams/ and the folded delta/ are back on disk; the policy entry
    // point finds no debt, and the view is the folded one
    val dir2 = freshDir()
    val saved = scratchDir("substr_saved")
    SubstrIndexStream.upsertBatch(growth, dir2, batchId = 0L, compactAt = 0)
    Seq("grams", "delta").foreach(n => graft.operators.Indexes.copyDir(s"$dir2/$n", s"$saved/$n"))
    SubstrIndexStream.compactDeltas(spark, DeltaFold.gen(dir2))
    Seq("grams", "delta").foreach(n => graft.operators.Indexes.copyDir(s"$saved/$n", s"$dir2/$n"))
    assert(!SubstrIndexStream.maybeCompact(spark, DeltaFold.gen(dir2)), "no debt left")
    assert(gramSet(dir2) === truth)
  }
}
