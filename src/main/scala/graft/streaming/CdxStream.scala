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
  * Mechanics are the shared [[DeltaFold]] discipline
  * ([[AudioIndexStream]] / [[SubstrIndexStream]]): each batch indexes
  * ONLY its new shards (a path glob — capture rows are per-member, so
  * shard-additive by construction) and overwrites its own `batch_id=N`
  * under the live delta (replay-idempotent); reads are base ∪
  * outstanding deltas; the debt policy folds deltas into `idx/` behind
  * the pointer commit, with a full-row `distinct()` restoring
  * exactly-once for a batch replayed AFTER compaction folded it (member
  * rows are bit-deterministic, so replayed rows equal compacted ones).
  *
  * At 100 TB: a batch's cost is one member walk over ONLY the new
  * shards; the standing index is never re-derived; compaction rewrites
  * capture METADATA rows (no blocks — KBs per shard), so even a full
  * fold is tiny next to the archive.
  */
object CdxStream {

  /** Live capture view: base `idx/` ∪ outstanding delta batches
    * (batch_id partition column dropped so the view matches the base
    * schema), both resolved from one read of the generation pointer.
    */
  def readCaptures(spark: SparkSession, dir: String): DataFrame =
    DeltaFold.live(spark, DeltaFold.gen(dir), "idx")()

  /** One micro-batch = the shards matching `glob` that just landed under
    * `warcDir`: walk ONLY those members, key with SURT, land under the
    * live delta's `batch_id=<id>` (overwrite — replay-idempotent), then
    * settle the delta debt. The caller owns the batch→shard mapping (each
    * shard in exactly one batch), the same single-owner contract every
    * index stream here states.
    */
  def upsertBatch(
      spark: SparkSession,
      warcDir: String,
      glob: String,
      dir: String,
      batchId: Long,
      compactAt: Double = 0.2
  ): Unit = {
    val g = DeltaFold.gen(dir)
    DeltaFold.upsert(g, batchId) { (_, path) =>
      Warc
        .memberIndex(spark, warcDir, glob)
        .withColumn("surt", Urls.surt(col("target_uri")))
        .write
        .mode("overwrite")
        .parquet(path)
    }
    if (compactAt > 0) DeltaFold.settle(spark, g, "idx", compactAt)(compactDeltas(spark, g))
  }

  /** Fold the delta into `idx/` behind the pointer commit — after
    * compaction a lookup reads one parquet tree again; the full-row
    * distinct restores exactly-once under post-compaction batch replay.
    */
  def compactDeltas(spark: SparkSession, g: DeltaFold.Gen): Unit =
    DeltaFold.compact(g, Seq("idx")) { out =>
      DeltaFold.live(spark, g, "idx")().distinct().write.mode("overwrite").parquet(out("idx"))
    }
}
