package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-corpus EXPORT: the delivery artifact at the end of the data
  * pipeline — token-budget-packed training sequences materialized as
  * size-bounded shards plus a per-shard integrity MANIFEST, published
  * under the [[Indexes]] fingerprint + atomic-rename contract.
  *
  * Layout under `dir`:
  *
  *   - `shards/source=<s>/shard=<n>/...` — one row per packed training
  *     sequence: (pack_id, n_docs, pack_tokens, seq_text, seq_md5), the
  *     member documents' texts concatenated in doc_id order
  *     ([[Split.packSequences]] assignment — sharded prefix sum, no
  *     global window). Directory-partitioned by (source, shard): a
  *     trainer's data loader lists one shard directory per task, and a
  *     per-source re-export touches only that source's directories.
  *   - `manifest/` — one row per shard: pack/doc/token counts plus
  *     `content_md5`, the md5 of the member packs' seq_md5 values in
  *     pack order. Written after the shards: a manifest row
  *     testifies its shard's bytes are complete — the reader-side
  *     integrity check after a copy, and the diff key between two
  *     export versions (same idea as [[graft.sources.Versioned]]
  *     manifests, at shard granularity).
  *
  * Scale shape: packing is the two-level prefix sum (no global window),
  * shard assignment is integer arithmetic on pack_id, both aggregates
  * are partial-aggregable, and the shard write is one hash-partitioned
  * exchange. Nothing corpus-sized crosses the driver.
  */
object TrainExport {

  /** Tokens per packed training sequence (the q_pack_* budget). */
  val SeqBudget = 256

  /** Packed sequences per output shard: bounds shard file size the way a
    * WebDataset/TFRecord shard byte budget would. Small here so the
    * fixture corpus produces a multi-shard, multi-source layout; at 100 TB
    * this is thousands of packs per shard — same arithmetic.
    */
  val PacksPerShard = 4

  /** The packed-sequence table: (source, pack_id, shard, n_docs,
    * pack_tokens, first_doc, seq_text, seq_md5).
    */
  private def packedSeqs(docs: DataFrame): DataFrame = {
    val packed = Split.packSequences(
      docs.select(
        col("doc_id"),
        col("source"),
        col("text"),
        size(graft.operators.Text.tokensAll(col("text"))).as("n_tokens")
      ),
      "doc_id",
      "source",
      col("n_tokens"),
      budget = SeqBudget
    )
    packed
      .groupBy(col("source"), col("pack_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("pack_tokens"),
        min(col("doc_id")).as("first_doc"),
        concat_ws(
          "\n\n",
          transform(
            array_sort(collect_list(struct(col("doc_id"), col("text")))),
            e => e.getField("text")
          )
        ).as("seq_text")
      )
      .withColumn("seq_md5", md5(col("seq_text")))
      .withColumn("shard", expr(s"pack_id div ${PacksPerShard.toLong}"))
  }

  /** The export of `docs`, built once per corpus version: shards, then
    * the manifest derived from them.
    */
  def ensure(sfDir: String, docs: DataFrame): String =
    Indexes.ensure("train-export", sfDir, docs, "doc_id", "text", "") { tmp =>
      val seqs = packedSeqs(docs)
      seqs
        .repartition(col("source"), col("shard"))
        .sortWithinPartitions(col("source"), col("shard"), col("pack_id"))
        .write
        .mode("overwrite")
        .partitionBy("source", "shard")
        .parquet(s"$tmp/shards")
      // manifest derived from the WRITTEN shards, not the in-memory plan:
      // it certifies the bytes on disk
      val spark = docs.sparkSession
      spark.read
        .parquet(s"$tmp/shards")
        .groupBy(col("source"), col("shard"))
        .agg(
          count(lit(1)).as("n_packs"),
          sum(col("n_docs")).cast("long").as("n_docs"),
          sum(col("pack_tokens")).cast("long").as("total_tokens"),
          md5(
            concat_ws(
              "",
              transform(
                array_sort(collect_list(struct(col("pack_id"), col("seq_md5")))),
                e => e.getField("seq_md5")
              )
            )
          ).as("content_md5")
        )
        .write
        .mode("overwrite")
        .parquet(s"$tmp/manifest")
    }

  /** The shard manifest — the export's table of contents. */
  def manifest(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/manifest")

  /** One shard's packed sequences, partition-pruned (a data-loader task's
    * read: only `source=<s>/shard=<n>` is listed).
    */
  def shard(spark: SparkSession, dir: String, source: String, shardId: Long): DataFrame =
    spark.read
      .parquet(s"$dir/shards")
      .filter(col("source") === source && col("shard") === shardId)

  /** Shard-level diff between two export versions — the COPY PLAN for
    * publishing version B where version A is already distributed: `same`
    * shards (content_md5 equal) are skipped, `changed`/`added` shards are
    * the upload set, `removed` shards are deleted. Manifest-only: the
    * diff never touches shard bytes, so it costs 2·|shards| rows however
    * big the export is — the same economics as [[graft.operators]]
    * snapshot diffing, applied to the delivery artifact.
    */
  def diffManifests(oldMan: DataFrame, newMan: DataFrame): DataFrame = {
    val o = oldMan.select(
      col("source"),
      col("shard").cast("long").as("shard"),
      col("content_md5").as("old_md5")
    )
    val n = newMan.select(
      col("source"),
      col("shard").cast("long").as("shard"),
      col("content_md5").as("new_md5")
    )
    o.join(n, Seq("source", "shard"), "full_outer")
      .select(
        col("source"),
        col("shard"),
        when(col("old_md5").isNull, "added")
          .when(col("new_md5").isNull, "removed")
          .when(col("old_md5") === col("new_md5"), "same")
          .otherwise("changed")
          .as("status")
      )
  }
}

/** TOKENIZER artifact export — the trainer handoff for the tokenizer
  * itself, beside [[TrainExport]]'s packed sequences: the byte-level BPE
  * merge chain + the fixed id table it induces, and the unigram-LM
  * pieces, published once per corpus content fingerprint under the
  * [[Indexes]] contract (stale-proof dir + atomic rename), with an
  * integrity MANIFEST written after the tables it certifies.
  *
  * Layout under `dir`:
  *   - `merges/`  — (step, x, y, merged, support): the ordered byte-BPE
  *     merge rules ([[TextAnalysis.bpeTrainWordsByteLevel]] over the
  *     Unicode token stream) — applying them via
  *     [[TextAnalysis.bpeApplyMerges]] reproduces the training-time
  *     segmentation of any string, seen or unseen (no OOV: byte
  *     fallback by construction).
  *   - `vocab/`   — (id, sym, kind): the tensor-ready id table. Byte
  *     symbols occupy ids 0..255 (id = byte value, GPT-2's base
  *     alphabet convention), merge step j's symbol gets id 255+j (first
  *     producing step wins when two rules emit the same symbol —
  *     the t_bpe_bytes_ids assignment).
  *   - `pieces/`  — (piece, freq): the unigram-LM vocabulary
  *     ([[Unigram.train]]), the SentencePiece-default alternative.
  *   - `manifest/` — ONE row: table sizes plus md5 integrity hashes of
  *     each table's canonical rendering (row strings joined in table
  *     order) — the reader-side copy check and version-diff key, same
  *     idea as [[TrainExport]]'s shard manifest.
  *
  * Scale shape: the training inputs are VOCABULARY-sized (one corpus
  * tokenize + word-count shuffle feeds everything); the BPE rounds are
  * driver-sequenced over that compact table (the documented ceiling of
  * the trainer) — which is exactly why the result is published as an
  * asset: every downstream encode job reads megabytes of rules instead
  * of re-running the rounds.
  */
object TokenizerExport {

  /** md5 over a table's canonical row rendering: rows as strings, sorted
    * by a unique order key, joined with '|'. Vocabulary-sized inputs
    * only — the collect_list is bounded by the artifact, never the
    * corpus.
    */
  private def tableMd5(df: DataFrame, ord: Column, row: Column): DataFrame =
    df.select(struct(ord.as("o"), row.as("s")).as("r"))
      .agg(
        md5(concat_ws("|",
          transform(array_sort(collect_list(col("r"))), _.getField("s"))))
          .as("h"),
        count(lit(1)).cast("long").as("n")
      )

  /** The artifact for `docs`, built once and atomically published.
    * Params v= is the TRAINER-CODE version salt: a change to the training
    * algorithms with unchanged corpus+params must map to a NEW dir, or the
    * encode queries would silently serve rules the current trainer no
    * longer produces (the ensureGateAsset discipline).
    */
  def ensure(
      sfDir: String,
      docs: DataFrame,
      bpeSteps: Int,
      uniVocab: Int,
      uniPieceLen: Int,
      uniRounds: Int
  ): String =
    Indexes.ensure(
      "tokenizer-export", sfDir, docs, "doc_id", "text",
      s"bpe=$bpeSteps|uv=$uniVocab|upl=$uniPieceLen|ur=$uniRounds|v=1") { tmp =>
      val spark = docs.sparkSession
      val trainWords = docs
        .select(explode(Text.tokensUnicodeAll(col("text"))).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      val merges = TextAnalysis
        .bpeTrainWordsByteLevel(trainWords, bpeSteps)
        ._1
        .localCheckpoint()
      merges.orderBy("step").write.mode("overwrite").parquet(s"$tmp/merges")
      val byteRows = spark
        .range(256)
        .select(col("id"), lpad(hex(col("id")), 2, "0").as("sym"), lit("byte").as("kind"))
      val mergeRows = merges
        .groupBy(col("merged").as("sym"))
        .agg((lit(255L) + min(col("step"))).as("id"))
        .select(col("id"), col("sym"), lit("merge").as("kind"))
      val vocab = byteRows.unionByName(mergeRows).localCheckpoint()
      vocab.orderBy("id").write.mode("overwrite").parquet(s"$tmp/vocab")
      val pieces = Unigram
        .train(
          TextAnalysis.wordCounts(docs).select(col("token").as("word"), col("cnt")),
          uniVocab, uniPieceLen, uniRounds
        )
        .localCheckpoint()
      pieces.orderBy("piece").write.mode("overwrite").parquet(s"$tmp/pieces")
      // manifest LAST: its presence testifies the three tables above are
      // complete; its hashes certify their bytes after any copy
      val m = tableMd5(
        merges,
        col("step"),
        concat_ws(":", col("step"), col("x"), col("y"))
      ).select(col("h").as("merges_md5"), col("n").as("n_merges"))
      val v = tableMd5(vocab, col("id"), concat_ws(":", col("id"), col("sym")))
        .select(col("h").as("vocab_md5"), col("n").as("vocab_size"))
      val p = tableMd5(pieces, col("piece"), concat_ws(":", col("piece"), col("freq")))
        .select(col("h").as("pieces_md5"), col("n").as("n_pieces"))
      m.crossJoin(v)
        .crossJoin(p)
        .select(
          col("n_merges"), col("vocab_size"), col("n_pieces"),
          col("merges_md5"), col("vocab_md5"), col("pieces_md5")
        )
        .write
        .mode("overwrite")
        .parquet(s"$tmp/manifest")
    }

  def merges(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/merges")

  def vocab(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/vocab")

  def pieces(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/pieces")

  def manifest(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/manifest")
}
