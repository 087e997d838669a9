package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Indexes, Multimodal}

/** Incremental image-dedup-index maintenance: append each micro-batch of
  * NEW documents' perceptual hashes into a persisted
  * [[Multimodal.ensureDhashIndex]] asset without re-decoding the corpus —
  * the media-side twin of [[TextIndexStream]].
  *
  * Discipline: the index's source of truth is the per-doc hash table
  * (`docs/`, one (doc_id, dhash) row per document — a pure function of the
  * document, so replayed batches are bit-identical). An upsert decodes
  * ONLY the batch and writes its hash rows under `delta/batch_id=N` —
  * idempotent per batch (a replayed batch overwrites only its own
  * directory). `reps/` and `bands/` stay the build-time derived aggregates
  * for the heavy batch probes; the LIVE view ([[readReps]]) merges base
  * reps with the (small) delta-derived reps by (min rid, sum n), so a
  * dedup verdict over the stream-grown index is exact at any moment.
  *
  * Compaction (the [[DeltaFold]] debt policy) folds `delta/` into
  * `docs/`, re-derives reps/bands from the merged per-doc table, and
  * swaps atomically. A batch replayed AFTER compaction folded it re-lands in
  * `delta/` with bit-identical rows; the next fold's full-row `distinct()`
  * restores exactly-once — no ledger needed because rows are deterministic.
  */
object MediaIndexStream {

  /** Per-doc hash rows, base ∪ outstanding deltas, exactly-once view
    * (distinct over the pure-function rows).
    */
  def readDocs(spark: SparkSession, dir: String): DataFrame =
    DeltaFold.live(spark, dir, "docs", exactlyOnce = true)(_.select(col("doc_id"), col("dhash")))

  /** LIVE cluster representatives over the stream-grown index. While
    * deltas are outstanding, reps are re-derived from the exactly-once
    * per-doc view ([[readDocs]]' full-row distinct) — NOT by summing base
    * reps with delta reps, which would double-count a batch replayed after
    * compaction already folded its rows into the base. The re-aggregation
    * is a columnar scan of two-long rows (map-side combinable); the cost
    * the index exists to amortize — the image DECODE — is never re-paid.
    * With no outstanding delta, the persisted aggregate is served as-is.
    */
  def readReps(spark: SparkSession, dir: String): DataFrame =
    DeltaFold.derived(spark, dir, "reps", "dhash", "rid", "n")(
      Multimodal.hashReps(readDocs(spark, dir))
    )

  /** Hamming-band rows over the LIVE reps (the probe table a delta-dup
    * query consumes): base bands stay the persisted partitioned layout;
    * the merged view is only needed while deltas are outstanding.
    */
  def readBands(spark: SparkSession, dir: String): DataFrame =
    DeltaFold.derived(spark, dir, "bands", "dhash", "rid", "n", "chunk", "cval")(
      readReps(spark, dir).select(col("dhash"), col("rid"), col("n"), Multimodal.bandCols)
    )

  /** Merge base ∪ delta per-doc rows (full-row distinct = exactly-once),
    * re-derive reps and bands, publish all three in one journaled swap —
    * the index can never be left without a `docs/` (or with reps/bands
    * from a different generation than docs) across a restart.
    */
  def compactDeltas(spark: SparkSession, dir: String): Unit =
    DeltaFold.compact(dir, Seq("docs", "bands", "reps")) { out =>
      val docs = readDocs(spark, dir).localCheckpoint()
      // the docs rewrite, the reps derivation, and the two reps-view
      // writes all hang off executor-local checkpoints and land in
      // stamp-suffixed dirs invisible until commitSwap — overlap the
      // independent legs so each write back-fills the others' stage
      // tails (guide §2.6); the journal stays the single commit point
      Indexes.inParallel(
        () => docs.write.mode("overwrite").parquet(out("docs")),
        () => {
          val reps = Multimodal.hashReps(docs).localCheckpoint()
          Indexes.inParallel(
            () =>
              reps
                .select(col("dhash"), col("rid"), col("n"), Multimodal.bandCols)
                .write
                .mode("overwrite")
                .partitionBy("chunk")
                .parquet(out("bands")),
            () => reps.write.mode("overwrite").parquet(out("reps"))
          )
        }
      )
    }

  /** One micro-batch of (doc_id, ...) document rows → decoded, hashed,
    * appended under `dir/delta/batch_id=<id>`, then the debt policy
    * settles the delta (compactAt <= 0 disables).
    */
  def upsertBatch(
      batch: DataFrame,
      dir: String,
      batchId: Long,
      compactAt: Double = 0.2
  ): Unit = {
    val spark = batch.sparkSession
    DeltaFold.upsert(dir, batchId) { (_, path) =>
      Multimodal
        .dHash(spark, Multimodal.withImagePayload(spark, batch))
        .toDF()
        .write
        .mode("overwrite")
        .parquet(path)
    }
    if (compactAt > 0.0) DeltaFold.settle(spark, dir, "docs", compactAt)(compactDeltas(spark, dir))
  }
}
