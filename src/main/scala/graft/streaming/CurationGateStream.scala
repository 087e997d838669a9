package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Curation, Indexes}

/** Incremental maintenance of the persisted curation gate-annotation
  * asset ([[Curation.ensureGateAsset]]) — the gate-table member of the
  * [[DeltaFold]] family ([[SubstrIndexStream]], the semantic-cell and
  * media index folds): a continuously-ingesting
  * corpus keeps its per-doc gate verdicts current without ever
  * re-reading the standing corpus's raw text.
  *
  * What folds and what re-derives: the asset's statistics tables
  * ([[Curation.pureStats]] — per-doc gate verdicts, label ingredients,
  * hashed bigram/token multisets) are PURE per-doc rows, so an upsert
  * tokenizes ONLY the batch and appends its rows under the delta's
  * `<table>/batch_id=N` (idempotent per partition — rows are
  * bit-deterministic functions of the documents). The published
  * `gates/` table, however, is CORPUS-RELATIVE (KN scores against the
  * corpus LM, CCNet terciles against the per-language rank, classifier
  * heads trained on the corpus' train split), so it cannot be patched
  * row-wise: compaction folds the delta statistics into the base tables
  * (full-row distinct restores exactly-once when a batch replays after
  * its fold) and re-runs [[Curation.deriveGates]] over the folded
  * statistics — corpus-sized compute over SLIM hashed tables, never a
  * raw-text re-read; the expensive legs (page synthesis, n=5..10
  * repetition coverage, tokenization, lexicon hashing) are paid once
  * per document, ever. The result is BIT-EQUAL to a wholesale rebuild
  * over the grown corpus — the fold is provably indistinguishable
  * (`pipe_curate_fold` runs under `pipe_curate_e2e`'s oracle).
  *
  * Publication is the [[DeltaFold]] pointer commit: the four tables are
  * one generation, so readers never observe a half-folded asset, crash
  * or not. Between folds, `gates/` reflects the corpus AS OF the last
  * compaction and the delta holds the pending documents — the right
  * semantics for a corpus-relative table, where a partially-applied
  * delta would change every doc's tercile anyway.
  */
object CurationGateStream {

  private val Tables = Seq("puregates", "docstats", "doctoks")

  /** One micro-batch of (doc_id, text, lang) rows: append the batch's
    * statistics rows (only the batch is tokenized), then settle the
    * delta debt (`compactAt` <= 0 disables; fractions force-fold).
    */
  def upsertBatch(
      batch: DataFrame,
      dir: String,
      batchId: Long,
      compactAt: Double = 0.2
  ): Unit = {
    val spark = batch.sparkSession
    val (pg, ds, dt) = Curation.pureStats(batch)
    val stats = Map("puregates" -> pg, "docstats" -> ds, "doctoks" -> dt)
    val g = DeltaFold.gen(dir)
    // three independent per-batch statistics writes, overlapped: any
    // landed subset is rewritten bit-identically by the batch replay, and
    // the debt gate/fold only run after all three land
    DeltaFold.upsert(g, batchId, Tables) { (name, path) =>
      stats(name).write.mode("overwrite").parquet(path)
    }
    if (compactAt > 0)
      DeltaFold.settle(spark, g, "puregates", compactAt, "puregates")(compact(spark, g))
  }

  /** Fold the delta statistics into the base tables, re-derive `gates/`
    * from the FOLDED statistics, commit all four as one generation (with
    * a new empty delta). Full-row distinct on the folded tables restores
    * exactly-once under post-compaction batch replays (rows are
    * bit-deterministic, so a replayed batch's rows are identical to the
    * folded ones).
    */
  def compact(spark: SparkSession, g: DeltaFold.Gen): Unit =
    DeltaFold.compact(g, "gates" +: Tables, "puregates") { out =>
      // the three statistics tables fold independently and land in
      // generation dirs invisible until the pointer commit — overlap the
      // three union+distinct writes (guide §2.6); deriveGates below reads
      // the landed dirs, so it starts only after the barrier
      Indexes.inParallel(
        Tables.map { name => () =>
          spark.read
            .parquet(g(name))
            .unionByName(spark.read.parquet(g.delta(name)).drop("batch_id"))
            .distinct()
            .write
            .mode("overwrite")
            .parquet(out(name))
        }: _*
      )
      Curation
        .deriveGates(
          spark.read.parquet(out("puregates")),
          spark.read.parquet(out("docstats")),
          spark.read.parquet(out("doctoks"))
        )
        .write
        .mode("overwrite")
        .parquet(out("gates"))
    }

  /** The published gate table of the committed generation. */
  def gates(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(DeltaFold.gen(dir)("gates"))
}
