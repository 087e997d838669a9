package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Indexes, Video}

/** Incremental video scene-index maintenance: append each micro-batch of
  * NEW videos' scene-hash signatures into a persisted
  * [[Video.ensureSceneIndex]] asset without re-decoding the corpus — the
  * video twin of [[AudioIndexStream]]. A
  * continuously-ingesting media corpus keeps its near-dup verdicts exact
  * without ever re-publishing the whole asset.
  *
  * Discipline: the index's source of truth is the distinct (doc_id,
  * dhash) signature table (`sig/` — a pure function of the video's
  * payload, so replayed batches are bit-identical). An upsert decodes
  * ONLY the batch and writes its sig rows under the delta's `batch_id=N`,
  * hash-bucket-partitioned exactly like the base (a bucketed probe prunes
  * delta trees as it prunes the base) — idempotent per batch. The six
  * derived tables (`dfs/ sizes/ rsig/ rdfs/ rsizes/ members/`) stay the build-time
  * aggregates; LIVE views re-derive each from the exactly-once sig view
  * while deltas are outstanding — pure hash-row aggregation (two-column
  * rows), never a frame DECODE — so dedup/ingest verdicts over the
  * stream-grown index are exact at any moment.
  *
  * Compaction (the [[DeltaFold]] debt policy) folds the delta into
  * `sig/`, re-derives all six aggregates from the merged table, and
  * publishes all seven as one generation behind the pointer commit; a
  * batch replayed AFTER compaction folded it re-lands in the new delta
  * with bit-identical rows, and the next fold's full-row `distinct()`
  * restores exactly-once — no ledger needed.
  */
object VideoIndexStream {

  /** Distinct (doc_id, dhash) signature rows, base ∪ outstanding deltas,
    * exactly-once view (distinct over the pure-function rows).
    */
  def readSig(spark: SparkSession, g: DeltaFold.Gen): DataFrame =
    DeltaFold.live(spark, g, "sig", exactlyOnce = true)(_.select(col("doc_id"), col("dhash")))

  /** LIVE per-scene-hash document frequencies (the hot-scene cap input). */
  def readDfs(spark: SparkSession, dir: String): DataFrame = {
    val g = DeltaFold.gen(dir)
    DeltaFold.derived(spark, g, "dfs", "dhash", "df")(Video.sigDfs(readSig(spark, g)))
  }

  /** LIVE per-video signature sizes. */
  def readSizes(spark: SparkSession, dir: String): DataFrame = {
    val g = DeltaFold.gen(dir)
    DeltaFold.derived(spark, g, "sizes", "doc_id", "n")(Video.sigSizes(readSig(spark, g)))
  }

  /** LIVE distinct-signature representative sig rows. While deltas are
    * outstanding the collapse is re-derived from the exactly-once sig view
    * — NOT merged rep-side (a delta video identical to a corpus video must
    * JOIN its group, and a replayed batch must not create a second rep).
    */
  def readRepSig(spark: SparkSession, dir: String): DataFrame = repSig(spark, DeltaFold.gen(dir))

  private def repSig(spark: SparkSession, g: DeltaFold.Gen): DataFrame =
    DeltaFold.derived(spark, g, "rsig", "rid", "dhash")(Video.repSig(readSig(spark, g)))

  /** LIVE rep-level document frequencies. */
  def readRepDfs(spark: SparkSession, dir: String): DataFrame = {
    val g = DeltaFold.gen(dir)
    DeltaFold.derived(spark, g, "rdfs", "dhash", "df")(
      repSig(spark, g).groupBy(col("dhash")).agg(count(lit(1)).as("df"))
    )
  }

  /** LIVE rep-level signature sizes. */
  def readRepSizes(spark: SparkSession, dir: String): DataFrame = {
    val g = DeltaFold.gen(dir)
    DeltaFold.derived(spark, g, "rsizes", "rid", "n")(
      repSig(spark, g).groupBy(col("rid")).agg(count(lit(1)).as("n"))
    )
  }

  /** Every collapse-side read view of the index, derived ONCE per call:
    * with no outstanding delta these are plain persisted scans; with
    * deltas, the exactly-once sig view is PINNED and members/rep-sig/
    * rep-sizes/dfs all derive from that one frame plus one pinned
    * fingerprint aggregation — a consumer taking the views individually
    * ([[readRepSig]], …) would re-run the base ∪ delta union and the md5
    * collapse once per view.
    */
  case class RepViews(
      members: DataFrame, // (doc_id, rid)
      rsig: DataFrame, // (rid, dhash)
      rsizes: DataFrame, // (rid, n)
      dfs: DataFrame // (dhash, df) — member-level
  )

  def repViews(spark: SparkSession, dir: String): RepViews = {
    val g = DeltaFold.gen(dir)
    if (!g.hasDelta())
      RepViews(
        spark.read.parquet(g("members")).select(col("doc_id"), col("rid")),
        spark.read.parquet(g("rsig")).select(col("rid"), col("dhash")),
        spark.read.parquet(g("rsizes")).select(col("rid"), col("n")),
        spark.read.parquet(g("dfs")).select(col("dhash"), col("df"))
      )
    else {
      val sig = readSig(spark, g).localCheckpoint()
      val mem = Video.memberMap(sig).localCheckpoint()
      val rsig = Video.rsigOf(sig, mem)
      RepViews(
        mem,
        rsig,
        rsig.groupBy(col("rid")).agg(count(lit(1)).as("n")),
        Video.sigDfs(sig)
      )
    }
  }

  /** Merge base ∪ delta sig rows (full-row distinct = exactly-once),
    * re-derive all six aggregates, commit the seven tables as one
    * generation — sig and its aggregates always come from the same
    * generation.
    */
  def compactDeltas(spark: SparkSession, g: DeltaFold.Gen): Unit = {
    val tables = Seq("sig", "dfs", "sizes", "rsig", "rdfs", "rsizes", "members")
    DeltaFold.compact(g, tables) { out =>
      val sig = readSig(spark, g).localCheckpoint()
      // seven generation-dir writes, all invisible until the pointer
      // commit. Dependency structure: sig/dfs/sizes hang directly off the
      // sig checkpoint; the rep chain (mem → rsig → rsig views) is its own
      // sequential leg. Overlap the independent legs so the rep chain's
      // derivation runs under the three base writes' stage tails (guide
      // §2.6); the pointer stays the single commit point.
      Indexes.inParallel(
        () =>
          sig
            .withColumn("hb", pmod(xxhash64(col("dhash")), lit(16L)))
            .write
            .mode("overwrite")
            .partitionBy("hb")
            .parquet(out("sig")),
        () => Video.sigDfs(sig).write.mode("overwrite").parquet(out("dfs")),
        () => Video.sigSizes(sig).write.mode("overwrite").parquet(out("sizes")),
        () => {
          // one fp aggregation feeds both members and the rep collapse
          val mem = Video.memberMap(sig).localCheckpoint()
          val rsig = Video.rsigOf(sig, mem).localCheckpoint()
          Indexes.inParallel(
            () => rsig.write.mode("overwrite").parquet(out("rsig")),
            () =>
              rsig
                .groupBy(col("dhash"))
                .agg(count(lit(1)).as("df"))
                .write
                .mode("overwrite")
                .parquet(out("rdfs")),
            () =>
              rsig
                .groupBy(col("rid"))
                .agg(count(lit(1)).as("n"))
                .write
                .mode("overwrite")
                .parquet(out("rsizes")),
            () => mem.write.mode("overwrite").parquet(out("members"))
          )
        }
      )
    }
  }

  /** One micro-batch of (doc_id, ...) video rows → decoded, scene-hashed,
    * appended under the live delta's `batch_id=<id>` (hash-bucket-partitioned
    * like the base), then the debt policy settles the delta (compactAt
    * <= 0 disables). Only the batch is decoded — the corpus-linear cost
    * is never re-paid.
    */
  def upsertBatch(
      batch: DataFrame,
      dir: String,
      batchId: Long,
      compactAt: Double = 0.2
  ): Unit = {
    val spark = batch.sparkSession
    val g = DeltaFold.gen(dir)
    DeltaFold.upsert(g, batchId) { (_, path) =>
      Video
        .decodeSig(spark, batch)
        .withColumn("hb", pmod(xxhash64(col("dhash")), lit(16L)))
        .write
        .mode("overwrite")
        .partitionBy("hb")
        .parquet(path)
    }
    if (compactAt > 0.0) DeltaFold.settle(spark, g, "sig", compactAt)(compactDeltas(spark, g))
  }
}
