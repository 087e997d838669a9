package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Urls
import graft.sources.Warc

/** Incremental CDX maintenance: newly-landed WARC shards index into the
  * persisted capture asset ([[Warc.ensureCdxDir]]'s `idx/` parquet)
  * without re-walking existing shards — the shape of Common Crawl's own
  * indexing, where each new crawl segment contributes per-shard cdx
  * rows that later merge into the sorted index shards.
  *
  * Mechanics are the established journaled-swap discipline
  * ([[AudioIndexStream]] / [[SubstrIndexStream]]): each batch indexes
  * ONLY its new shards (a path glob — capture rows are per-member, so
  * shard-additive by construction) and overwrites its own
  * `delta/batch_id=N` (replay-idempotent); reads are base ∪ outstanding
  * deltas after recovery; the [[DeltaFold]] debt policy folds deltas
  * into `idx/` through the crash-safe swap, with a
  * full-row `distinct()` restoring exactly-once for a batch replayed
  * AFTER compaction folded it (member rows are bit-deterministic, so
  * replayed rows equal compacted ones).
  *
  * At 100 TB: a batch's cost is one member walk over ONLY the new
  * shards; the standing index is never re-derived; compaction rewrites
  * capture METADATA rows (no blocks — KBs per shard), so even a full
  * fold is tiny next to the archive.
  */
object CdxStream {

  /** Live capture view: base `idx/` ∪ outstanding `delta/` batches
    * (batch_id partition column dropped so the view matches the base
    * schema), crash-recovering a landed swap journal first.
    */
  def readCaptures(spark: SparkSession, dir: String): DataFrame =
    DeltaFold.live(spark, dir, "idx")()

  /** One micro-batch = the shards matching `glob` that just landed under
    * `warcDir`: walk ONLY those members, key with SURT, land under
    * `delta/batch_id=<id>` (overwrite — replay-idempotent), then settle
    * the delta debt. The caller owns the batch→shard mapping (each shard
    * in exactly one batch), the same single-owner contract every index
    * stream here states.
    */
  def upsertBatch(
      spark: SparkSession,
      warcDir: String,
      glob: String,
      dir: String,
      batchId: Long,
      compactAt: Double = 0.2
  ): Unit = {
    DeltaFold.upsert(dir, batchId) { (_, path) =>
      Warc
        .memberIndex(spark, warcDir, glob)
        .withColumn("surt", Urls.surt(col("target_uri")))
        .write
        .mode("overwrite")
        .parquet(path)
    }
    if (compactAt > 0) DeltaFold.settle(spark, dir, "idx", compactAt)(compactDeltas(spark, dir))
  }

  /** Fold `delta/` into `idx/` through the journaled crash-safe swap —
    * after compaction a lookup reads one parquet tree again; the full-row
    * distinct restores exactly-once under post-compaction batch replay.
    */
  def compactDeltas(spark: SparkSession, dir: String): Unit =
    DeltaFold.compact(dir, Seq("idx")) { out =>
      readCaptures(spark, dir).distinct().write.mode("overwrite").parquet(out("idx"))
    }
}
