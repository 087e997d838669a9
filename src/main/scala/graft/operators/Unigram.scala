package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Iterate

/** Unigram-LM tokenizer training (Kudo 2018, "Subword Regularization" —
  * SentencePiece's default algorithm) beside BPE, INTEGER-EXACT throughout
  * so training and encoding replay bit-identically on any engine:
  *
  *   - '''Seed''': every substring (length <= `maxPieceLen`) of the
  *     compact (word, cnt) table, scored by total occurrence frequency —
  *     Kudo's suffix-array seed on the same word table the BPE trainer
  *     uses. All single characters are kept unconditionally (every word
  *     stays segmentable); the top `vocabSize` multi-character pieces by
  *     (freq desc, piece asc) join them.
  *   - '''Hard-EM rounds''' (Viterbi EM — the integer-exact variant of
  *     Kudo's E/M loop; soft-EM's fractional expected counts would hinge
  *     on cross-engine float log/exp): each round Viterbi-segments every
  *     word under the current piece scores and re-estimates piece
  *     frequencies from the WINNING segmentations only (plain integer
  *     counts), then prunes back to the vocabulary budget. The Viterbi
  *     objective is (fewest pieces, then highest total piece frequency,
  *     then lexicographically smallest space-joined segmentation) — a
  *     total order on integers and binary strings, so the argmax is
  *     unique and engine-independent.
  *   - '''Encode''': per DISTINCT word, one Viterbi pass against the
  *     broadcast trained table; the corpus is then encoded by a
  *     vocabulary-sized join, never a per-token DP — the same
  *     train-once/join-to-apply shape as [[TextAnalysis.bpeEncodeStats]].
  *
  * Scale: the word table is the corpus's distinct vocabulary (orders of
  * magnitude smaller than the token stream); the per-word DP is O(len ·
  * maxPieceLen) against a broadcast piece map (tokenizer vocabularies are
  * bounded by construction — the `limit` keeps them so). Pruning uses
  * `orderBy(...).limit(V)` which plans as TakeOrderedAndProject — bounded
  * top-k, no global window. The only corpus-sized work is the final
  * per-doc aggregate in [[encodeStats]].
  */
object Unigram {

  /** All substrings of each word (length 1..maxPieceLen, every occurrence
    * counted) weighted by word count — the seed statistics.
    */
  private def substringFreqs(words: DataFrame, maxPieceLen: Int): DataFrame =
    words
      .select(
        explode(
          flatten(
            transform(
              sequence(lit(1), length(col("word"))),
              i =>
                transform(
                  sequence(lit(1), least(lit(maxPieceLen), length(col("word")) - i + 1)),
                  l => col("word").substr(i, l)
                )
            )
          )
        ).as("piece"),
        col("cnt")
      )
      .groupBy(col("piece"))
      .agg(sum(col("cnt")).cast("long").as("freq"))

  /** Seed vocabulary: ALL single chars + top-`vocabSize` multi-char
    * substrings by (freq desc, piece asc).
    */
  def seedVocab(words: DataFrame, vocabSize: Int, maxPieceLen: Int): DataFrame = {
    val freqs = substringFreqs(words, maxPieceLen)
    val chars = freqs.filter(length(col("piece")) === 1)
    val multi = freqs
      .filter(length(col("piece")) > 1)
      .orderBy(col("freq").desc, col("piece"))
      .limit(vocabSize)
    chars.unionByName(multi)
  }

  /** Integer-exact Viterbi over one word — delegates to the shared DP
    * ([[graft.functions.UnigramViterbi.segment]]), which also backs the
    * native [[graft.functions.UnigramSegment]] expression.
    */
  private[graft] def viterbi(
      vocab: collection.Map[String, Long],
      maxPieceLen: Int,
      word: String
  ): (Int, Long, String) =
    graft.functions.UnigramViterbi.segment(vocab, maxPieceLen, word)

  /** Per-word Viterbi segmentation frame: (word, cnt, n_pieces, score,
    * pieces). The piece table is collected (vocabulary-bounded by the
    * training `limit`) and rides the NATIVE [[graft.functions.UnigramSegment]]
    * expression as a reference object — the DP runs once per DISTINCT
    * word INSIDE whole-stage codegen (the engine's last scalar UDF
    * retired; [[graft.CodegenFallbackSpec]] pins zero fallback and
    * bit-identity with the udf formulation it replaced).
    */
  def segmentWords(words: DataFrame, pieces: DataFrame, maxPieceLen: Int): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val table: Array[(String, Long)] =
      pieces.select(col("piece"), col("freq")).as[(String, Long)].collect()
    val seg = graft.util.Cols.nativeCol(
      graft.functions.UnigramSegment(
        graft.util.Cols.nativeExpr(col("word")),
        table,
        maxPieceLen
      )
    )
    words
      .withColumn("seg", seg)
      .select(
        col("word"),
        col("cnt"),
        col("seg.n_pieces").cast("long").as("n_pieces"),
        col("seg.score").as("score"),
        col("seg.pieces").as("pieces")
      )
  }

  /** One hard-EM round: segment every word under `pieces`, recount piece
    * frequencies from the winning segmentations (weighted by word count),
    * keep all previous single chars (re-frequencied; unused chars drop to
    * 0 but stay — segmentability is unconditional) + the top `vocabSize`
    * multi-char pieces.
    */
  def trainRound(
      words: DataFrame,
      pieces: DataFrame,
      vocabSize: Int,
      maxPieceLen: Int
  ): DataFrame = {
    val used = segmentWords(words, pieces, maxPieceLen)
      .select(explode(split(col("pieces"), " ")).as("piece"), col("cnt"))
      .groupBy(col("piece"))
      .agg(sum(col("cnt")).cast("long").as("freq"))
    val chars = pieces
      .filter(length(col("piece")) === 1)
      .select(col("piece"))
      .join(used, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("freq"), lit(0L)).as("freq"))
    val multi = used
      .filter(length(col("piece")) > 1)
      .orderBy(col("freq").desc, col("piece"))
      .limit(vocabSize)
    chars.unionByName(multi)
  }

  /** Seed + `rounds` hard-EM rounds → trained (piece, freq) table. */
  def train(
      words: DataFrame,
      vocabSize: Int,
      maxPieceLen: Int,
      rounds: Int
  ): DataFrame =
    Iterate.rounds(Iterate.cut(seedVocab(words, vocabSize, maxPieceLen)), rounds) { pieces =>
      trainRound(words, pieces, vocabSize, maxPieceLen)
    }

  /** Corpus encode against a trained table: per-doc word count, piece
    * count, summed piece score, and integral pieces-per-100-words
    * fertility. Per-word DP once on the distinct-word frame; the token
    * stream only pays a (planner-broadcast) join + one per-doc aggregate.
    */
  def encodeStats(docs: DataFrame, pieces: DataFrame, maxPieceLen: Int): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(Text.tokensAll(col("text"))).as("token"))
    val words = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .select(col("token").as("word"), col("cnt"))
    val seg = segmentWords(words, pieces, maxPieceLen)
      .select(col("word").as("token"), col("n_pieces"), col("score"))
    toks
      .join(seg, Seq("token"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("n_pieces")).cast("long").as("n_pieces"),
        sum(col("score")).cast("long").as("score_sum")
      )
      .withColumn("pieces_per_100w", expr("(100 * n_pieces) DIV n_words"))
  }
}
