package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Indexes, Text}
import graft.util.Cols.md5Long

/** Incremental maintenance of the persisted ExactSubstr gram index
  * ([[Dedup.ensureSubstrGramIndex]]) — the text-substring twin of
  * [[AudioIndexStream]]/[[VideoIndexStream]]: a continuously-ingesting
  * corpus keeps span-removal verdicts exact without ever re-tokenizing the
  * standing corpus or re-publishing the whole asset.
  *
  * Discipline: the index's source of truth is the distinct gram-hash set —
  * a pure function of the ingested documents, so a replayed batch writes
  * bit-identical rows. An upsert tokenizes ONLY the batch and lands its
  * distinct (b, gh) rows under the delta's `batch_id=N` (idempotent per
  * partition); the LIVE gram view is base ∪ (delta-novel grams), computed
  * by a delta-vs-base semi/anti probe so it is exactly-once — even when a
  * batch is replayed AFTER compaction already folded its rows — WITHOUT
  * ever re-shuffling the bucketed base (see [[readGramsExcluding]]).
  * Compaction folds deltas into the bucketed base and publishes it behind
  * the [[DeltaFold]] pointer commit.
  *
  * The batch's own REWRITE ([[upsertBatch]]'s `clean/batch_id=N` output)
  * probes the index state EXCLUDING the batch's own delta partition — the
  * batch must dedup against what was ingested BEFORE it, plus itself via
  * the operator's within-delta canonical rule. Because compaction folds
  * deltas into the base (after which "exclude my partition" can no longer
  * reconstruct the pre-batch state), the clean output is WRITE-ONCE: an
  * existing `clean/batch_id=N` partition is the idempotency marker and a
  * replay skips the recompute — exactly-once by marker, with the partition
  * directory as the ledger entry.
  */
object SubstrIndexStream {

  /** LIVE distinct-gram view: base ∪ outstanding deltas, exactly-once. */
  def readGrams(spark: SparkSession, dir: String): DataFrame =
    readGramsExcluding(spark, DeltaFold.gen(dir), excludeBatch = -1L)

  /** [[readGrams]] minus one delta partition — the pre-batch index state a
    * batch rewrite must probe (no-op exclusion for `excludeBatch` < 0).
    */
  def readGramsExcluding(spark: SparkSession, g: DeltaFold.Gen, excludeBatch: Long): DataFrame = {
    val base = spark.read.parquet(g("grams")).select(col("b"), col("gh"))
    if (!g.hasDelta()) base
    else {
      // Exactly-once WITHOUT re-shuffling the base: the old
      // `(base ∪ delta).distinct()` reshuffled the full (bucketed) base on
      // EVERY read to collapse rows a replayed batch re-landed after
      // compaction already folded them. Those duplicates can only live in
      // the (small, debt-bounded) delta, so set-exactness needs base work
      // only as a JOIN PROBE, never as an aggregate:
      //   dupes = base ⋉ delta   (left-semi: base side streams un-shuffled
      //                           once the delta side broadcasts — which
      //                           the planner picks on its own for a
      //                           debt-bounded delta; no hint, so a
      //                           genuinely large delta degrades to a
      //                           shuffle instead of an executor OOM)
      //   novel = delta ▷ dupes  (anti over two delta-bounded frames)
      //   view  = base ∪ novel   (disjoint by construction — no distinct,
      //                           no aggregate, base scan feeds the union
      //                           directly)
      // base itself is gram-distinct by construction (ensureSubstrGramIndex
      // and every compaction write this very view), so the union is an
      // exact set.
      val delta = spark.read
        .parquet(g.delta())
        .filter(col("batch_id") =!= excludeBatch)
        .select(col("b"), col("gh"))
        .distinct()
      val dupes = base.join(delta, Seq("b", "gh"), "left_semi")
      val novel = delta.join(dupes, Seq("b", "gh"), "left_anti")
      base.unionByName(novel)
    }
  }

  /** Fold generation `g`'s delta into the bucketed base iff the
    * [[DeltaFold]] debt policy says it is due. Returns true iff
    * compaction ran.
    */
  def maybeCompact(spark: SparkSession, g: DeltaFold.Gen, maxDeltaFraction: Double = 0.2): Boolean =
    DeltaFold.settle(spark, g, "grams", maxDeltaFraction)(compactDeltas(spark, g))

  /** Merge base ∪ delta grams, rewrite the bucketed base, commit it as the
    * next generation (with a new empty delta).
    *
    * Compaction deliberately does NOT reuse the read path's delta-probe
    * union: a fold is the one moment a base reshuffle is the RIGHT plan —
    * the `(base ∪ delta).distinct()` hash-clusters rows by (b, gh) so the
    * `partitionBy("b")` write lands few, bucket-aligned files (an
    * un-shuffled union would spray every input partition across all 64
    * bucket dirs, fragmenting the files every later probe reads), and at
    * fold time the delta is at its debt-policy MAXIMUM (~20% of base),
    * where the probe union's semi/anti legs cost more than the single
    * distinct they would replace. Reads stay base-shuffle-free
    * ([[readGramsExcluding]]); compaction pays one aligned shuffle per
    * FOLD, amortized by the same debt policy that bounds fold frequency.
    */
  def compactDeltas(spark: SparkSession, g: DeltaFold.Gen): Unit =
    DeltaFold.compact(g, Seq("grams")) { out =>
      val base = spark.read.parquet(g("grams")).select(col("b"), col("gh"))
      val delta = spark.read
        .parquet(g.delta())
        .select(col("b"), col("gh"))
      base
        .unionByName(delta)
        .distinct()
        .write
        .mode("overwrite")
        .partitionBy("b")
        .parquet(out("grams"))
    }

  /** One micro-batch of (doc_id, text) rows: rewrite the batch against the
    * pre-batch index state (write-once under `clean/batch_id=<id>`),
    * upsert the batch's distinct grams under the delta's `batch_id=<id>`
    * (idempotent), then settle the delta debt (`compactAt` <= 0 disables).
    * Only the batch is ever tokenized — the corpus-linear shingle cost is
    * never re-paid.
    */
  def upsertBatch(
      batch: DataFrame,
      dir: String,
      batchId: Long,
      compactAt: Double = 0.2
  ): Unit = {
    val spark = batch.sparkSession
    // write-once marker is the _SUCCESS file, not dir existence: Spark
    // creates the dir at job start, so a crash mid-write leaves the dir
    // behind with partial data — a replay must recompute (mode overwrite
    // rewrites the torn dir), the marker half of the Indexes.ensure discipline
    val cleanDone = DeltaFold.exists(s"$dir/clean/batch_id=$batchId/_SUCCESS")
    val g = DeltaFold.gen(dir)
    DeltaFold.upsert(g, batchId) { (_, path) =>
      if (!cleanDone) {
        // rewrite + gram delta from ONE checkpointed occurrence frame —
        // the batch is tokenized and shingled exactly once. The two heavy
        // writes read only that executor-local checkpoint, so they
        // overlap — but the delta lands under a tmp path and is
        // PUBLISHED by the path's own FileSystem rename only after the
        // clean's write-once marker exists. The fold-safety invariant is
        // "visible delta partition ⇒ its clean landed": a fold retires the
        // delta into the base, after which a replay's probe could no longer
        // exclude the batch's own grams — the rename keeps the sequential
        // ordering's guarantee at the cost of one rename (a metadata flip
        // locally, a copy on an object store) instead of a serialized write.
        val (clean, batchGrams) = Dedup.substrDeltaRemovalAndGrams(
          readGramsExcluding(spark, g, excludeBatch = batchId),
          batch
        )
        val tmpDelta = s"$dir/delta.tmp-batch_id=$batchId"
        Indexes.inParallel(
          () => clean.write.mode("overwrite").parquet(s"$dir/clean/batch_id=$batchId"),
          () => batchGrams.write.mode("overwrite").parquet(tmpDelta)
        )
        val dst = new Path(path)
        val fs = dst.getFileSystem(Indexes.sessionHadoopConf)
        fs.delete(dst, true)
        fs.mkdirs(dst.getParent)
        if (!fs.rename(new Path(tmpDelta), dst))
          throw new java.io.IOException(s"could not publish $tmpDelta at $path")
      } else
        // replay after the clean landed (crash between the two writes):
        // recompute just the gram set
        batch
          .select(explode(Dedup.wordShinglesAll(Text.tokensAll(col("text")), 4)).as("g"))
          .select(md5Long(col("g")).as("gh"))
          .distinct()
          .withColumn("b", pmod(col("gh"), lit(Dedup.SubstrGramBuckets.toLong)).cast("int"))
          .select(col("b"), col("gh"))
          .write
          .mode("overwrite")
          .parquet(path)
    }
    if (compactAt > 0) { maybeCompact(spark, g, compactAt); () }
  }
}
