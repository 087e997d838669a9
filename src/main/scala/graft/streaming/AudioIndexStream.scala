package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Audio, Indexes}

/** Incremental audio-dedup-index maintenance: append each micro-batch of
  * NEW clips' pad-invariant fingerprints into a persisted
  * [[Audio.ensureAudioFpIndex]] asset without re-decoding the corpus —
  * the audio twin of [[VideoIndexStream]]. A continuously-ingesting media
  * corpus keeps its dedup verdicts exact without ever re-publishing the
  * whole asset.
  *
  * Discipline (the [[VideoIndexStream]] contract, fingerprints instead of
  * scene hashes): the index's source of truth is the per-doc table (`docs/`,
  * one (doc_id, fingerprint) row per clip — a pure function of the clip's
  * payload, so replayed batches are bit-identical). An upsert decodes
  * ONLY the batch and writes its rows under the delta's `batch_id=N` —
  * idempotent per batch. `clusters/` stays the build-time derived
  * aggregate; the LIVE view ([[readClusters]]) re-derives it from the
  * exactly-once per-doc view while deltas are outstanding (a two-column
  * partial-aggregable scan — the cost the index amortizes, the DECODE, is
  * never re-paid), so a dedup verdict over the stream-grown index is
  * exact at any moment.
  *
  * Compaction (the [[DeltaFold]] debt policy) folds the delta into
  * `docs/`, re-derives `clusters/`, and publishes both as one generation
  * behind the [[DeltaFold]] pointer commit; a batch replayed AFTER
  * compaction folded it re-lands in the new delta with bit-identical
  * rows, and the next fold's full-row `distinct()` restores exactly-once
  * — no ledger needed.
  */
object AudioIndexStream {

  /** Per-doc fingerprint rows of generation `g`, base ∪ outstanding
    * deltas, exactly-once view (distinct over the pure-function rows).
    */
  def readDocs(spark: SparkSession, g: DeltaFold.Gen): DataFrame =
    DeltaFold.live(spark, g, "docs", exactlyOnce = true)(
      _.select(col("doc_id"), col("fingerprint"))
    )

  /** LIVE (fingerprint, rep, n_variants) clusters over the stream-grown
    * index. While deltas are outstanding, clusters are re-derived from the
    * exactly-once per-doc view — NOT by merging base clusters with delta
    * clusters, which would double-count a batch replayed after compaction
    * already folded its rows. With no outstanding delta, the persisted
    * aggregate is served as-is (identical plan to the build-time read).
    */
  def readClusters(spark: SparkSession, dir: String): DataFrame = {
    val g = DeltaFold.gen(dir)
    DeltaFold.derived(spark, g, "clusters", "fingerprint", "rep", "n_variants")(
      Audio.fpClusters(readDocs(spark, g))
    )
  }

  /** Merge base ∪ delta per-doc rows (full-row distinct = exactly-once),
    * re-derive clusters, commit both as one generation.
    */
  def compactDeltas(spark: SparkSession, g: DeltaFold.Gen): Unit =
    DeltaFold.compact(g, Seq("docs", "clusters")) { out =>
      val docs = readDocs(spark, g).localCheckpoint()
      // both writes read only the executor-local checkpoint and land in
      // generation dirs invisible until the pointer commit — overlap them
      // (guide §2.6)
      Indexes.inParallel(
        () => docs.write.mode("overwrite").parquet(out("docs")),
        () => Audio.fpClusters(docs).write.mode("overwrite").parquet(out("clusters"))
      )
    }

  /** One micro-batch of (doc_id, ...) clip rows → decoded, fingerprinted,
    * appended under the live delta's `batch_id=<id>`, then the debt policy
    * settles the delta (compactAt <= 0 disables). Only the batch is
    * decoded — the corpus-linear cost is never re-paid.
    */
  def upsertBatch(
      batch: DataFrame,
      dir: String,
      batchId: Long,
      compactAt: Double = 0.2,
      // the fingerprint provider the index is maintained under — must be
      // the one the asset was BUILT with (energy: Audio.energyFp;
      // spectral: Audio.spectralFp). Everything else here is
      // fingerprint-agnostic: (doc_id, fingerprint) rows in, exactly-once
      // per-doc view + derived clusters out.
      fp: (SparkSession, DataFrame) => DataFrame = Audio.energyFp
  ): Unit = {
    val spark = batch.sparkSession
    val g = DeltaFold.gen(dir)
    DeltaFold.upsert(g, batchId) { (_, path) =>
      fp(spark, batch)
        .select(col("doc_id"), col("fingerprint"))
        .write
        .mode("overwrite")
        .parquet(path)
    }
    if (compactAt > 0.0) DeltaFold.settle(spark, g, "docs", compactAt)(compactDeltas(spark, g))
  }
}
