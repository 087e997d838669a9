package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{IvfIndex, IvfPq, Pq}

/** Incremental ANN-index maintenance: append each micro-batch of NEW
  * vectors into a persisted [[IvfPq]] index without retraining and without
  * touching the existing code table.
  *
  * The production discipline this encodes: the coarse quantizer (cell
  * centroids) and the PQ codebooks are FROZEN at build time — an upsert
  * assigns each new vector its nearest existing cell (map-only literal
  * argmax, the nProbe=1 case of the probe projection) and encodes it with
  * the stored codebooks; retraining is a REBUILD, never an upsert (FAISS's
  * `add` vs `train` split). Each batch lands in its own
  * `delta/batch_id=N/cell=.../` partition tree — idempotent per batch (a
  * replayed batch overwrites only its own directory, the
  * [[EventStreams.idempotentParquetSink]] discipline), cell-partitioned so
  * probe pruning works on deltas exactly as on the base table.
  *
  * At 100 TB: batch deltas are code-sized (m bytes-ish per vector), the
  * base table is never rewritten, and compaction folding `delta/` into
  * `codes/` (plus an eventual retrain) runs POLICY-DRIVEN from the write
  * path itself ([[DeltaFold.settle]]: delta rows >= `compactAt` × base rows) —
  * the search path meanwhile reads base ∪ delta with identical pruning.
  */
object VectorIndexStream {

  /** One micro-batch of (vec_id, embedding) rows → cell-assigned, PQ-coded,
    * appended under `dir/delta/batch_id=<id>`, then the [[DeltaFold]]
    * debt policy settles the delta (compactAt <= 0 disables — the manual-
    * maintenance mode). A stream wires it into
    * `writeStream.foreachBatch`.
    */
  def upsertBatch(
      batch: DataFrame,
      dir: String,
      batchId: Long,
      dim: Int,
      compactAt: Double = 0.2,
      // the metadata columns the index was BUILT with (IvfPq.ensureBuilt's
      // metaCols — the filtered-ANN pushdown columns). They must ride
      // every delta row: the reader's strict unionByName rejects a
      // meta-less delta against a meta-bearing base, so omitting them
      // against a filtered index would brick every subsequent read.
      metaCols: Seq[String] = Nil
  ): Unit = {
    val spark = batch.sparkSession
    val cents = IvfIndex.loadCentroids(spark, dir) // O(k·dim) driver state
    val cb = Pq.loadCodebooks(spark, dir) // O(m·ksub·dsub) driver state
    // nProbe=1 probe projection = nearest-cell assignment (map-only);
    // probeFrame projects (id, embedding, cell), so metadata columns are
    // joined back on vec_id — a batch-sized equi-join, never corpus work
    val celled0 = IvfIndex
      .probeFrame(batch, cents, nProbe = 1)
      .select(
        col("query_id").as("vec_id"),
        col("q_emb").as("embedding"),
        col("cell")
      )
    val celled =
      if (metaCols.isEmpty) celled0
      else celled0.join(batch.select(("vec_id" +: metaCols).map(col): _*), Seq("vec_id"))
    DeltaFold.upsert(dir, batchId) { (_, path) =>
      Pq.encode(celled, cb, dim, keep = Seq("vec_id", "cell") ++ metaCols)
        .write
        .mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    }
    if (compactAt > 0.0)
      DeltaFold.settle(spark, dir, "codes", compactAt)(IvfPq.compactDeltas(spark, dir))
  }
}
