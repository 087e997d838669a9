package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Indexes, TextAnalysis, TextIndex}

/** Incremental inverted-index maintenance: append each micro-batch of NEW
  * documents' postings into a persisted [[TextIndex]] without rewriting
  * the base — the text-side twin of [[VectorIndexStream]].
  *
  * Discipline: the index LAYOUT (term-hash bucketing, within-bucket sort)
  * is fixed at build time; an upsert tokenizes only the batch and writes
  * its postings under `delta/batch_id=N/tb=...` — idempotent per batch (a
  * replayed batch overwrites only its own directory), bucket-partitioned
  * so a phrase/ranked query prunes delta trees exactly as it prunes the
  * base. Postings are a pure function of (doc_id, text), so replayed rows
  * are bit-identical and compaction's full-row `distinct()` restores
  * exactly-once — the [[VectorIndexStream]] frozen-quantizer argument,
  * with determinism coming from tokenization instead of frozen codebooks.
  *
  * Compaction runs under the shared [[DeltaFold]] debt policy; the fold
  * also refreshes the index statistics (top bigram, indexed-doc count)
  * from the merged postings — bounded index-only aggregates, never a
  * corpus re-scan.
  */
object TextIndexStream {

  /** Base ∪ delta postings with the same schema the base read yields —
    * what a search over a delta-carrying index consumes.
    */
  def readPostings(spark: SparkSession, dir: String): DataFrame =
    DeltaFold.live(spark, dir, "postings")(
      _.select(col("term"), col("doc_id"), col("tf"), col("positions"), col("dl"), col("tb"))
    )

  /** Merge base ∪ delta into a fresh partitioned-sorted postings tree,
    * recompute the statistics (`top_bigram/`, `stats/`) from the SAME
    * merged frame, and publish all three in one journaled swap
    * ([[DeltaFold.compact]]) — postings and stats always come from the
    * same generation. A batch replayed AFTER compaction folded it
    * re-lands in `delta/` with bit-identical rows; the next fold's
    * `distinct()` de-duplicates them.
    *
    * The refreshed doc count is the number of INDEXED documents (>= 1
    * posting); identical to the build-time corpus count whenever every
    * document tokenizes (as in the fixtures), and the honest ranking
    * denominator for a stream-grown index either way.
    */
  def compactDeltas(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    DeltaFold.compact(dir, Seq("postings", "top_bigram", "stats")) { out =>
      val merged = readPostings(spark, dir).distinct().localCheckpoint()
      // three independent legs off the merged checkpoint (postings
      // rewrite, bigram self-join, scalar totals), all landing in stamp
      // dirs invisible until commitSwap — overlapped (guide §2.6)
      Indexes.inParallel(
        () =>
          merged
            .repartition(col("tb"))
            .sortWithinPartitions(col("tb"), col("term"), col("doc_id"))
            .write
            .mode("overwrite")
            .partitionBy("tb")
            .parquet(out("postings")),
        () => {
          val toks =
            merged.select(col("term"), col("doc_id"), explode(col("positions")).as("pos"))
          toks
            .as("a")
            .join(
              toks.as("b"),
              col("a.doc_id") === col("b.doc_id") && col("b.pos") === col("a.pos") + 1
            )
            .groupBy(col("a.term").as("w1"), col("b.term").as("w2"))
            .agg(count(lit(1)).as("c"))
            .orderBy(col("c").desc, col("w1"), col("w2"))
            .limit(1)
            .write
            .mode("overwrite")
            .parquet(out("top_bigram"))
        },
        () => {
          // refreshed totals for the stream-grown index: indexed-doc count
          // + total token mass (sum of tfs — the BM25 avgdl numerator),
          // both from the SAME merged frame as the postings rewrite
          val (nDocs, totalLen) = Indexes.par2(
            merged.select(col("doc_id")).distinct().count(),
            merged.agg(coalesce(sum(col("tf")), lit(0L)).cast("long")).head().getLong(0)
          )
          Seq((nDocs, totalLen))
            .toDF("n_docs", "total_len")
            .write
            .mode("overwrite")
            .parquet(out("stats"))
        }
      )
    }
  }

  /** One micro-batch of (doc_id, text) rows → tokenized, bucketed,
    * appended under `dir/delta/batch_id=<id>`, then the debt policy
    * settles the delta (compactAt <= 0 disables).
    */
  def upsertBatch(
      batch: DataFrame,
      dir: String,
      batchId: Long,
      compactAt: Double = 0.2,
      nBuckets: Int = TextIndex.DefaultBuckets
  ): Unit = {
    // batch docs are whole, so their length norms are computable from the
    // batch alone — the delta carries the same (… , dl) schema as the base
    val idx = TextAnalysis.invertedIndex(batch).localCheckpoint()
    val dl = idx.groupBy(col("doc_id")).agg(sum(col("tf")).cast("long").as("dl"))
    DeltaFold.upsert(dir, batchId) { (_, path) =>
      idx
        .join(dl, Seq("doc_id"))
        .withColumn("tb", TextIndex.bucketOf(col("term"), nBuckets))
        .repartition(col("tb"))
        .sortWithinPartitions(col("tb"), col("term"), col("doc_id"))
        .write
        .mode("overwrite")
        .partitionBy("tb")
        .parquet(path)
    }
    if (compactAt > 0.0)
      DeltaFold.settle(batch.sparkSession, dir, "postings", compactAt) {
        compactDeltas(batch.sparkSession, dir)
      }
  }
}
