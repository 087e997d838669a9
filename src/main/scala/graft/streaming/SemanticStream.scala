package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.SemanticIndex

/** Streaming ingest face of semantic dedup: each micro-batch of new
  * embeddings is flagged against the PERSISTED corpus quantizer state
  * ([[SemanticIndex]]) — the embedding-side twin of [[BloomStream]]'s
  * text-content gate and the streaming form of
  * [[graft.operators.Similarity.semanticDeltaDupsScaled]].
  *
  * Why this shape at 100 TB: the corpus side of semantic delta-dedup
  * (count, seed sort, assignment, split counts, celled table) is a
  * build-once asset; a stream that re-derived it per trigger would pay
  * three corpus scans every few seconds. Here each batch pays only its
  * OWN assignment against the k-row seed table plus the within-cell
  * candidate join against the cell-keyed corpus — batch-size work,
  * corpus-size never. Batches land under `out/batch_id=N` (overwrite →
  * replay-idempotent, the [[VectorIndexStream]] delta discipline);
  * flagging is deterministic (closed-form quantizer + argmax with fixed
  * tie rule), so a replayed batch rewrites bit-identical rows.
  *
  * The corpus itself is FROZEN during ingest — accepted vectors fold
  * into the corpus (and its index fingerprint) at the next corpus
  * version, exactly like [[VectorIndexStream]]'s add-vs-train split.
  */
object SemanticStream {

  /** Flag one batch against the persisted index and write it under
    * `out/batch_id=<id>`: every delta vector with its blocking cell,
    * duplicate count, best corpus match and uniqueness verdict. A stream
    * wires it into `writeStream.foreachBatch`; growing the quantizer asset
    * itself is [[SemanticIndex.upsertBatch]].
    */
  def flagBatch(
      batch: DataFrame,
      sfDir: String,
      corpus: DataFrame,
      out: String,
      batchId: Long,
      threshold: Double,
      targetCellSize: Int = 50,
      maxCellSize: Int = 100
  ): Unit =
    SemanticIndex
      .deltaDups(sfDir, batch, corpus, threshold, targetCellSize, maxCellSize)
      .withColumn("is_dup", !col("is_unique"))
      .write
      .mode("overwrite")
      .parquet(s"$out/batch_id=$batchId")
}
