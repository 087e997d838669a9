package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.Cols._
import graft.util.Iterate

/** Text-analysis operators for LLM training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. All pure
  * Catalyst expressions (whole-stage codegen, no UDFs) so a 100 TB corpus
  * pass stays a single embarrassingly-parallel scan — no shuffle at all
  * until a downstream aggregate.
  */
object TextAnalysis {

  /** Marker (function) words per language for the n-gram-style language-ID
    * heuristic. Order of this Seq is the deterministic tiebreak priority.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "in", "to", "it", "that", "for", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit", "auf", "ich"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "que", "pour", "dans", "pas"),
    "es" -> Seq("el", "los", "es", "una", "que", "por", "con", "para", "del", "las")
  )

  /** Occurrence count of marker words in the token array. */
  def markerScore(tokens: Column, markers: Seq[String]): Column =
    size(filter(tokens, w => w.isin(markers: _*))).cast("long")

  /** Language prediction: argmax of marker scores, first-listed wins ties.
    * Docs matching no marker at all get "und" (undetermined).
    */
  def predictLang(scores: Seq[(String, Column)]): Column = {
    val anyHit = scores.map(_._2).reduce(_ + _) > 0
    // lang i wins if its score >= every later score and > every earlier one
    // (equivalent to: first index attaining the max)
    val best = scores.zipWithIndex.foldRight(lit("und")) {
      case (((lang, s), i), elseCol) =>
        val beatsEarlier = scores.take(i).map { case (_, e) => s > e }
        val geLater = scores.drop(i + 1).map { case (_, l) => s >= l }
        val isMax = (beatsEarlier ++ geLater).foldLeft(lit(true))(_ && _)
        when(isMax, lit(lang)).otherwise(elseCol)
    }
    when(anyHit, best).otherwise(lit("und"))
  }

  /** TRAINED language identification (Cavnar & Trenkle 1994, "N-Gram-Based
    * Text Categorization" — the rank-profile method behind langdetect /
    * textcat): learn per-language token rank profiles from the LABELED
    * train split, classify held-out docs by out-of-place rank distance.
    * All-integer (counts, ranks, |rank diffs|), so every distance and
    * verdict is bit-replayable cross-engine.
    *
    * Train: per language the top-`profK` tokens by (count desc,
    * md5-60(token) asc), rank 1..profK. Classify: each test doc's
    * top-`docK` token profile is compared to every language profile —
    * a profile token found at lang rank r contributes |r_doc − r|,
    * a token absent from the lang profile costs the max penalty `profK`;
    * predicted language = argmin distance, ties to the
    * lexicographically-first language.
    *
    * Scale shape: the trained model is profiles × profK rows — broadcast,
    * corpus-invariant. Doc profiles come from the bounded top-k aggregate
    * (O(docK) partial state, never a row_number window); the per-(doc,
    * lang) distance is `n_prof·profK − Σ matched (profK − |Δrank|)`, so
    * only PROFILE HITS are ever aggregated (one broadcast equijoin on the
    * token hash); the argmin is a partial-aggregable min(struct). Train
    * counting is two hash-keyed aggregates. Nothing here is corpus²,
    * nothing windows, nothing collects.
    *
    * Evaluation note: on a corpus whose labels are independent of its
    * vocabulary (the synthetic test tables are — one shared word pool for
    * every lang), held-out accuracy sits at the 1/|langs| chance floor by
    * construction; `LangIdSpec` plants per-language marker vocabulary and
    * pins that the same plan recovers it near-perfectly.
    */
  def langIdTrained(docs: DataFrame, profK: Int = 40, docK: Int = 20): DataFrame = {
    val train = docs.filter(col("doc_id") % 10 < 8)
    val test = docs.filter(col("doc_id") % 10 >= 8)
    val langProf = train
      .select(col("lang"), explode(Text.tokensAll(col("text"))).as("term"))
      .groupBy(col("lang"), md5Long(col("term")).as("th"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("lang"))
      .agg(
        graft.functions.TopKByScore.topK(col("cnt").cast("double"), col("th"), profK).as("tk")
      )
      .select(col("lang").as("p_lang"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(
        col("p_lang"),
        col("e").getField("id").as("th"),
        (col("pos") + 1).cast("long").as("r_lang")
      )
    // model-sized (langs × profK) and consumed by two branches (the gain
    // join and the label list) — pin it so training runs once
    val prof = langProf.localCheckpoint(true)
    val langs = prof.select(col("p_lang")).distinct()
    val docTop = test
      .select(col("doc_id"), explode(Text.tokensAll(col("text"))).as("term"))
      .groupBy(col("doc_id"), md5Long(col("term")).as("th"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(
        graft.functions.TopKByScore.topK(col("cnt").cast("double"), col("th"), docK).as("tk")
      )
      .localCheckpoint(true) // feeds the profile explode AND the n_prof frame
    val docProf = docTop
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(
        col("doc_id"),
        col("e").getField("id").as("th"),
        (col("pos") + 1).cast("long").as("r_doc")
      )
    val gains = docProf
      .join(broadcast(prof), Seq("th"))
      .groupBy(col("doc_id"), col("p_lang"))
      .agg(sum(lit(profK.toLong) - abs(col("r_doc") - col("r_lang"))).as("gain"))
    val dists = docTop
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_prof"))
      .crossJoin(broadcast(langs))
      .join(gains, Seq("doc_id", "p_lang"), "left")
      .select(
        col("doc_id"),
        col("p_lang"),
        (col("n_prof") * profK - coalesce(col("gain"), lit(0L))).as("dist")
      )
    val pred = dists
      .groupBy(col("doc_id"))
      .agg(min(struct(col("dist"), col("p_lang"))).as("best"))
      .select(
        col("doc_id"),
        col("best.p_lang").as("pred_lang"),
        col("best.dist").as("pred_dist")
      )
    test
      .select(col("doc_id"), col("lang"))
      .join(pred, Seq("doc_id"))
      .select(
        col("doc_id"),
        col("lang"),
        col("pred_lang"),
        col("pred_dist"),
        (col("pred_lang") === col("lang")).cast("long").as("correct")
      )
  }

  /** Quality metrics over a document's raw text + token array.
    * One scan, no shuffle; every ratio is a single double division
    * (deterministic across engines).
    */
  def qualityCols(text: Column, tokens: Column): Seq[Column] = {
    val nTokens = size(tokens).cast("long")
    val nChars = length(text).cast("long")
    val alphaChars = length(regexp_replace(text, "[^a-zA-Z]", "")).cast("long")
    val sumTokLen =
      aggregate(tokens, lit(0L), (acc, w) => acc + length(w).cast("long"))
    val nStop = markerScore(tokens, Text.StopWords)
    val nUniq = size(array_distinct(tokens)).cast("long")
    Seq(
      nTokens.as("n_tokens"),
      nChars.as("n_chars_raw"),
      (sumTokLen.cast("double") / nTokens).as("avg_token_len"),
      (alphaChars.cast("double") / nChars).as("alpha_ratio"),
      (nStop.cast("double") / nTokens).as("stopword_ratio"),
      (nUniq.cast("double") / nTokens).as("uniq_ratio")
    )
  }

  /** Composite quality score in [0,1] — fixed weights, fixed evaluation
    * order so the oracle reproduces it bit-for-bit.
    */
  def qualityScore(
      alphaRatio: Column,
      stopRatio: Column,
      uniqRatio: Column
  ): Column =
    (alphaRatio * 0.3) + (least(stopRatio * 4.0, lit(1.0)) * 0.3) + (uniqRatio * 0.4)

  /** (doc_id, text) → language prediction, quality metrics + composite
    * score, and the deterministic split tag, in ONE stateless projection.
    * Map-only (no shuffle, no state), so the exact same transform runs
    * under batch and Structured Streaming — the corpus-cleaning annotation
    * pass of `t_clean_pipeline`, reusable on a live document stream.
    */
  def annotateDocs(docs: DataFrame): DataFrame = {
    val withTk = docs
      .select(col("doc_id"), col("text"))
      .withColumn("tk", Text.tokensAll(col("text")))
    val scored = LangMarkers
      .foldLeft(withTk) { case (df, (lang, ms)) =>
        df.withColumn(s"s_$lang", markerScore(col("tk"), ms))
      }
      .withColumn(
        "pred_lang",
        predictLang(LangMarkers.map { case (l, _) => l -> col(s"s_$l") })
      )
    scored
      .select(
        col("doc_id") +: col("pred_lang") +:
          qualityCols(col("text"), col("tk")): _*
      )
      .withColumn(
        "quality_score",
        qualityScore(col("alpha_ratio"), col("stopword_ratio"), col("uniq_ratio"))
      )
      .withColumn("split", Split.splitLabel(col("doc_id")))
  }

  /** Token-window chunking: split each document into windows of
    * `chunkTokens` tokens advancing by `stride` (< chunkTokens ⇒ overlap) —
    * the standard segmentation for LLM pre-training samples. Map-only
    * row-local explode: a doc yields ceil((n-chunk)/stride)+1 chunks (one
    * short trailing chunk keeps tail text; an empty doc yields one empty
    * chunk), so the operator scales as a pure scan whatever the corpus
    * size.
    */
  def chunkDocs(
      docs: DataFrame,
      chunkTokens: Int,
      stride: Int
  ): DataFrame = {
    val tk = Text.tokensAll(col("text"))
    docs
      .select(col("doc_id"), tk.as("tk"))
      .select(
        col("doc_id"),
        posexplode(
          transform(
            sequence(
              lit(0),
              greatest(
                ceil((size(col("tk")) - chunkTokens).cast("double") / stride).cast("int"),
                lit(0)
              )
            ),
            i => array_join(slice(col("tk"), i * stride + 1, lit(chunkTokens)), " ")
          )
        ).as(Seq("chunk_idx", "chunk_text"))
      )
      .select(
        col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk_text"),
        lng(size(split(col("chunk_text"), " "))).as("n_tokens")
      )
  }

  /** POSITIONAL INVERTED INDEX: one row per (term, doc) with term
    * frequency and the sorted in-document position list — the IR
    * structure that turns phrase/proximity search from a corpus scan
    * into a seek of the query terms' postings.
    *
    * Build shape at scale: one map-only tokenize+posexplode pass, one
    * partial-aggregable groupBy (term, doc) — corpus-linear, shuffle
    * keyed by the term (df-skewed terms are bounded by per-doc tf, not
    * corpus size, since the doc id is in the key). [[TextIndex]] persists
    * this term-hash-bucket-partitioned and sorted, making a phrase query
    * a partition-pruned seek of its terms' buckets.
    */
  def invertedIndex(docs: DataFrame): DataFrame =
    docs
      .select(
        col("doc_id"),
        posexplode(Text.tokensAll(col("text"))).as(Seq("pos", "term"))
      )
      .groupBy(col("term"), col("doc_id"))
      .agg(
        count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos").cast("long"))).as("positions")
      )

  /** Phrase search over [[invertedIndex]]: all occurrences of the exact
    * two-word phrase, found by POSITION-LIST ADJACENCY — join the two
    * terms' postings on doc and check `pos+1 ∈ positions(w2)` — never by
    * re-scanning text. The index rows for the two query terms are the
    * only input: on a term-partitioned persisted index this is an index
    * seek, independent of corpus size.
    */
  def phraseSearch(index: DataFrame, w1: String, w2: String): DataFrame = {
    val p1 = index
      .filter(col("term") === w1)
      .select(col("doc_id"), explode(col("positions")).as("pos"))
    val p2 = index
      .filter(col("term") === w2)
      .select(col("doc_id"), col("positions").as("positions2"))
    p1.join(p2, Seq("doc_id"))
      .filter(array_contains(col("positions2"), col("pos") + 1))
      .select(lit(w1).as("w1"), lit(w2).as("w2"), col("doc_id"), col("pos"))
  }

  /** CDC window / boundary-modulo defaults: expected chunk ≈ CdcModulo
    * chars. Storage-dedup practice sizes chunks in KiB; the fixture's
    * few-hundred-char docs size down proportionally.
    */
  val CdcWindow = 16
  val CdcModulo = 64

  /** CONTENT-DEFINED chunking (the LBFS/Rabin idea): a chunk boundary
    * falls wherever the trailing [[CdcWindow]]-char window's hash ≡ 0
    * (mod [[CdcModulo]]) — a pure function of LOCAL content, so an edit
    * only redraws boundaries inside its own neighborhood and every chunk
    * after the next surviving boundary keeps its identity. That's the
    * property fixed-stride chunking ([[chunkDocs]]) lacks: inserting one
    * character there shifts every downstream chunk, and chunk-hash dedup
    * across near-identical documents collapses.
    *
    * Emits one row per chunk — (doc_id, chunk_idx, chunk_start, chunk_len,
    * chunk_md5, dup_count) — where dup_count counts the chunk hash across
    * the whole corpus: the storage-dedup signal (shared boilerplate,
    * templated spans, re-crawled fragments) at chunk rather than document
    * granularity.
    *
    * Shape at scale: boundary detection is one codegen'd pass per doc
    * (native [[graft.functions.CdcEnds]] kernel — the composed
    * transform(sequence(...)) form runs interpreted per position), the
    * explode is map-only, and dup_count is a partial-aggregable
    * groupBy(chunk_md5).count() joined back — NOT a window: a window
    * partitioned by chunk_md5 buffers every occurrence of a hot chunk
    * (shared boilerplate/license blocks in crawl data) in one task, and
    * AQE skew handling splits joins, not windows. The groupBy combines
    * map-side, and the join back is AQE-skew-splittable.
    */
  def cdcChunks(
      docs: DataFrame,
      window: Int = CdcWindow,
      modulo: Int = CdcModulo
  ): DataFrame = {
    // pin the chunk stream: the count aggregate and the join probe both
    // consume it, and without the checkpoint the static planner runs the
    // CDC kernel once per branch (the d_chunk_storage lesson — exchange
    // reuse is not guaranteed across join branches). The materialized
    // stream is chunk rows of five scalar columns, far smaller than the
    // text it came from.
    val flat = cdcChunkStream(docs, window, modulo).localCheckpoint()
    val dupCounts =
      flat.groupBy(col("chunk_md5")).agg(count(lit(1)).as("dup_count"))
    flat
      .join(dupCounts, Seq("chunk_md5"))
      .select(
        col("doc_id"),
        col("chunk_idx"),
        col("chunk_start"),
        col("chunk_len"),
        col("chunk_md5"),
        col("dup_count")
      )
  }

  /** The raw CDC chunk stream — (doc_id, chunk_idx, chunk_start,
    * chunk_len, chunk_md5), no corpus-wide dup_count. Map-only after the
    * scan: consumers that aggregate the chunks themselves (e.g. the
    * storage-dedup report) start here and skip [[cdcChunks]]' count join.
    *
    * `carry` names extra per-document columns to PROJECT THROUGH the
    * kernel scan onto every chunk row (e.g. `source` for the storage
    * report). That keeps the consumer map-only where a join back to the
    * doc table would otherwise key one row PER DOCUMENT through a shuffle
    * — or worse, invite an O(corpus) broadcast hint.
    */
  def cdcChunkStream(
      docs: DataFrame,
      window: Int = CdcWindow,
      modulo: Int = CdcModulo,
      carry: Seq[String] = Nil
  ): DataFrame = {
    val ends = graft.util.Cols.nativeCol(
      graft.functions.CdcEnds(graft.util.Cols.nativeExpr(col("text")), window, modulo)
    )
    val carried = carry.map(col)
    docs
      .select(Seq(col("doc_id"), col("text"), ends.as("ends")) ++ carried: _*)
      .select(
        Seq(
          col("doc_id"),
          col("text"),
          col("ends"),
          posexplode(col("ends")).as(Seq("chunk_idx", "chunk_end"))
        ) ++ carried: _*
      )
      .withColumn(
        "chunk_start",
        when(col("chunk_idx") === 0, lit(1))
          .otherwise(element_at(col("ends"), col("chunk_idx")) + 1)
      )
      .withColumn("chunk_len", col("chunk_end") - col("chunk_start") + 1)
      .withColumn(
        "chunk_md5",
        md5(call_function("substring", col("text"), col("chunk_start"), col("chunk_len")))
      )
      .select(
        Seq(
          col("doc_id"),
          col("chunk_idx").cast("long").as("chunk_idx"),
          col("chunk_start").cast("long").as("chunk_start"),
          col("chunk_len").cast("long").as("chunk_len"),
          col("chunk_md5")
        ) ++ carried: _*
      )
  }

  /** BPE-ish token pattern: letter runs, single digits, single punctuation.
    * Kept to syntax valid in both Java regex and RE2 (DuckDB).
    */
  val BpePattern = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]"

  /** Rolling-window fingerprint: the minimum salted hash over character
    * k-gram shingles (a 1-permutation MinHash — the winnowing idea with a
    * single global window). Equal documents get equal fingerprints;
    * near-equal documents collide with probability ≈ their shingle overlap.
    *
    * Native single-pass expression ([[graft.functions.MinShingleMd5]]);
    * the equivalent `array_min(transform(sequence(...), md5Long(substr)))`
    * chain runs interpreted per shingle and was 45 s at sf0.1 — the native
    * kernel computes the identical values in ~1 s.
    */
  def minShingleFingerprint(text: Column, k: Int): Column =
    graft.util.Cols.nativeCol(
      graft.functions.MinShingleMd5(graft.util.Cols.nativeExpr(text), k)
    )

  /** Repetition quality stats (the Gopher/C4 duplicate-n-gram filters):
    * per doc, the k-gram multiset's duplicate mass — `dup_share` (fraction
    * of k-gram occurrences that are repeats) and `top_share` (the most
    * frequent k-gram's fraction); `repetitive` flags docs past the
    * 1/5 dup-share or 1/6 top-share thresholds via integer cross-products,
    * so the flag never depends on a float compare at the boundary.
    *
    * Shape at scale: one codegen'd shingle scan (native kernel, WITH
    * multiplicity — the duplicates are the signal), then two
    * partial-aggregable hash aggregates, (doc, gram) → doc. Both ratios
    * are divisions of exact longs, so both engines compute the identical
    * IEEE doubles.
    */
  def repetitionStats(docs: DataFrame, k: Int = 2): DataFrame =
    docs
      .select(
        col("doc_id"),
        explode(Dedup.wordShinglesAll(Text.tokensAll(col("text")), k)).as("gram")
      )
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(
        lng(sum(col("cnt"))).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("top_cnt")
      )
      .select(
        col("doc_id"),
        col("n_grams"),
        col("n_distinct"),
        col("top_cnt"),
        ((col("n_grams") - col("n_distinct")).cast("double") / col("n_grams"))
          .as("dup_share"),
        (col("top_cnt").cast("double") / col("n_grams")).as("top_share"),
        ((col("n_grams") - col("n_distinct")) * 5 > col("n_grams") ||
          col("top_cnt") * 6 > col("n_grams")).as("repetitive")
      )

  // ---- PII redaction: the masking pass every training corpus runs before
  // the tokenizer. Patterns stay in the Java∩RE2 subset (character
  // classes, +, {n}, literal escapes — the t_regex discipline) so the
  // DuckDB oracle applies the identical automaton.

  val EmailPattern = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
  val PhonePattern = "[0-9]{3}-[0-9]{4}"

  /** Mask emails then phone-shaped digit runs. Map-only codegen
    * expressions; order matters (an email's host can't contain a phone,
    * but masking numbers first could split a mixed token).
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      PhonePattern,
      "<PHONE>"
    )

  // ---- Vocabulary construction + tokenizer training. The distributed
  // cost shape both share: ONE heavy corpus pass to the (word, cnt)
  // frequency table, then everything else runs on that compact table —
  // at 100 TB the vocabulary is MBs where the corpus is TBs, so the
  // iterative/driver-coordinated parts never touch corpus-sized data.

  /** Corpus word-frequency table: (token, cnt) over [[Text.tokensAll]].
    * The single corpus-wide shuffle every vocabulary op builds on.
    */
  def wordCounts(docs: DataFrame): DataFrame =
    docs
      .select(explode(Text.tokensAll(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))

  /** Top-V vocabulary by corpus frequency, deterministic tiebreak
    * (cnt desc, token asc).
    */
  def vocabTop(docs: DataFrame, v: Int): DataFrame =
    wordCounts(docs).orderBy(col("cnt").desc, col("token")).limit(v)

  /** Per-document out-of-vocabulary stats against the top-`v` corpus
    * vocabulary: (doc_id, n_tok, n_oov, oov_permille). The vocabulary is
    * broadcast (V rows), so the membership check is map-side — the only
    * shuffles are the vocab build and the per-doc aggregate.
    * `oov_permille` stays integral (1000·n_oov div n_tok) so the oracle
    * comparison never meets double division.
    */
  def oovStats(docs: DataFrame, v: Int): DataFrame = {
    val tk =
      docs.select(col("doc_id"), explode(Text.tokensAll(col("text"))).as("token"))
    val vocab = vocabTop(docs, v).select(col("token"), lit(1L).as("in_vocab"))
    tk.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tok"),
        lng(sum(when(col("in_vocab").isNull, 1L).otherwise(0L))).as("n_oov")
      )
      .withColumn("oov_permille", expr("(1000 * n_oov) div n_tok"))
  }

  /** BPE tokenizer training: learn `nMerges` merge rules over the
    * corpus vocabulary's character sequences, each occurrence weighted by
    * word frequency (Sennrich et al. 2016, the standard subword recipe).
    *
    * Shape: the corpus is touched ONCE ([[wordCounts]]); each merge step
    * then (a) counts adjacent symbol pairs on the compact (word, cnt,
    * seq) table, (b) collects the single argmax row (cnt desc, pair asc
    * tiebreak) to the driver, (c) rewrites sequences with a canonical
    * greedy left-to-right fold. The fold is a pure `aggregate` HOF whose
    * merge condition checks the accumulated string's LAST SYMBOL (exact
    * token match via the ' '||x suffix — a merged symbol can never
    * re-match because symbols contain no spaces), which reproduces
    * greedy BPE application exactly, including same-character runs
    * ('aaaa' + (a,a) → [aa, aa]). DuckDB replays the identical fold with
    * `list_reduce`, so every learned rule and support count is bit-exact
    * cross-engine.
    *
    * Returns (step, x, y, merged, support) — the trained merge table,
    * which IS the tokenizer artifact. Each step's `seqs` is cut by
    * [[graft.util.Iterate]], so the plan stays flat across iterations.
    */
  def bpeTrain(docs: DataFrame, nMerges: Int): DataFrame =
    bpeTrainFull(docs, nMerges)._1

  /** Trained per-word segmentation after `nMerges` steps: (word, cnt,
    * seq) with `seq` the space-joined subword symbols. This is the
    * lookup table [[bpeEncodeStats]] applies — encoding a corpus never
    * re-runs merges per document; it broadcast-joins words to their
    * trained segmentation.
    */
  def bpeVocab(docs: DataFrame, nMerges: Int): DataFrame =
    bpeTrainFull(docs, nMerges)._2

  /** Per-document subword encoding stats using the trained tokenizer:
    * (doc_id, n_words, n_subwords, subwords_per_100w). The trained
    * vocabulary is broadcast (vocabulary-sized, corpus-invariant), so
    * encoding is one map-side join over the token stream plus the
    * per-doc aggregate — the cost shape of production corpus
    * tokenization.
    */
  def bpeEncodeStats(docs: DataFrame, nMerges: Int): DataFrame = {
    val vocab = bpeVocab(docs, nMerges)
      .select(col("word").as("token"), size(split(col("seq"), " ")).cast("long").as("n_sub"))
    docs
      .select(col("doc_id"), explode(Text.tokensAll(col("text"))).as("token"))
      .join(broadcast(vocab), Seq("token"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_words"),
        lng(sum(col("n_sub"))).as("n_subwords")
      )
      .withColumn("subwords_per_100w", expr("(100 * n_subwords) div n_words"))
  }

  private def bpeTrainFull(docs: DataFrame, nMerges: Int): (DataFrame, DataFrame) =
    bpeTrainWords(
      wordCounts(docs).select(col("token").as("word"), col("cnt")),
      nMerges
    )

  /** Sennrich-style BPE training over an arbitrary (word, cnt) table —
    * the [[bpeTrainFull]] core, exposed so the trainer can be driven at
    * production vocabulary scale (BpeSpec's 256-merge run) independent of
    * the fixture corpus's closed vocabulary. Per-step cost is ONE pass
    * over the compact word table (pair-count aggregate + bounded top-1
    * collect) plus a map-only fold applying the merge; the per-step cut
    * ([[graft.util.Iterate]]) keeps the plan CONSTANT-SIZE across steps
    * — without it the lineage (and analysis cost) grows linearly with
    * the step index, which is what kills long trainings.
    */
  def bpeTrainWords(words: DataFrame, nMerges: Int): (DataFrame, DataFrame) =
    bpeTrainSeqs(
      words.select(
        col("word"),
        col("cnt"),
        trim(regexp_replace(col("word"), "(.)", "$1 ")).as("seq")
      ),
      nMerges
    )

  /** BYTE-LEVEL Sennrich BPE (the GPT-2-family operating mode): symbols
    * start as the word's UTF-8 BYTES — rendered as hex pairs via
    * `hex(encode(word))`, an encoding with the same uppercase output in
    * Spark and DuckDB, so the oracle replays the chain bit-exactly — and
    * the base alphabet is the 256 byte values. Merges learn multi-byte
    * symbols exactly as char BPE learns multi-char ones (a UTF-8
    * multi-byte character is just a frequent byte pair/triple that gets
    * merged when the data supports it). Because every string decomposes
    * into bytes, the encode side ([[bpeApplyMerges]] over [[byteSeq]])
    * has NO OOV by construction: an unseen word — any script — falls
    * back to raw byte symbols instead of dropping.
    */
  def bpeTrainWordsByteLevel(words: DataFrame, nMerges: Int): (DataFrame, DataFrame) =
    bpeTrainSeqs(
      words.select(col("word"), col("cnt"), byteSeq(col("word")).as("seq")),
      nMerges
    )

  /** A word's initial byte-level symbol sequence: space-joined hex pairs
    * of its UTF-8 bytes ("the" → "74 68 65").
    */
  def byteSeq(word: Column): Column =
    trim(regexp_replace(hex(encode(word, "UTF-8")), "(..)", "$1 "))

  /** Greedy left-to-right application of ONE learned merge to a
    * space-joined symbol sequence — the exact fold the trainer applies
    * (see [[bpeTrain]]'s scaladoc for the last-symbol matching argument).
    */
  def mergeFold(seqCol: Column, x: String, y: String): Column =
    aggregate(
      split(seqCol, " "),
      lit(""),
      (acc, t) =>
        when(
          (acc === lit(x) || endswith(acc, lit(" " + x))) && t === lit(y),
          concat(acc, lit(y))
        ).otherwise(
          when(acc === lit(""), t).otherwise(concat(acc, lit(" "), t))
        )
    )

  /** Apply a trained merge list (step order) to a symbol-sequence column —
    * the tokenizer's ENCODE path for arbitrary (including unseen) words.
    * The merge list is driver-held vocabulary state (one fold expression
    * per rule, map-only at any corpus size); for production-depth rule
    * lists encode seen words via the trained-vocab broadcast join
    * ([[bpeEncodeStats]]) and reserve this fold chain for the unseen
    * remainder, which is what keeps the expression depth bounded.
    */
  def bpeApplyMerges(seq: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(seq) { case (c, (x, y)) => mergeFold(c, x, y) }

  private def bpeTrainSeqs(seqs0: DataFrame, nMerges: Int): (DataFrame, DataFrame) = {
    val spark = seqs0.sparkSession
    import spark.implicits._
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    val run = Iterate(Iterate.cut(seqs0), nMerges) { seqs =>
      val tk = split(col("seq"), " ")
      val n = size(tk)
      val best = seqs
        .select(
          col("cnt"),
          explode(
            zip_with(
              slice(tk, lit(1), n - 1),
              slice(tk, lit(2), n - 1),
              (a, b) => concat(a, lit(" "), b)
            )
          ).as("pair")
        )
        .groupBy(col("pair"))
        .agg(lng(sum(col("cnt"))).as("c"))
        .orderBy(col("c").desc, col("pair"))
        .limit(1)
        .collect()
      best.headOption.map { top =>
        val Array(x, y) = top.getString(0).split(" ", 2)
        merges += ((merges.length + 1L, x, y, x + y, top.getLong(1)))
        seqs.select(col("word"), col("cnt"), mergeFold(col("seq"), x, y).as("seq"))
      }
    }
    (merges.toSeq.toDF("step", "x", "y", "merged", "support"), run.last)
  }

  /** DRIVER-LOCAL exact Sennrich BPE training — BIT-EQUAL to
    * [[bpeTrainWords]] (same argmax, same (count desc, pair asc-in-
    * UTF-8-bytes) tiebreak, same greedy fold), with the merge loop
    * running entirely on the driver over the collected (word, cnt) table.
    *
    * Why this is the PRODUCTION-SCALE trainer, not a shortcut: the only
    * corpus-sized work in BPE training is the single distributed pass
    * producing the frequency-weighted vocabulary ([[wordCounts]]).
    * Everything after runs on that table, whose size is the DISTINCT-WORD
    * count — MBs where the corpus is TBs. The cluster trainer
    * ([[bpeTrainWords]]) still pays one cluster round trip over that
    * small table per merge — the 32k-merge tail BASELINE.md documents.
    * This trainer collects the table once (`maxWords` bounds the driver
    * heap; at open-web scale apply the standard minCount frequency floor
    * to the word table first) and then maintains pair statistics
    * INCREMENTALLY, the architecture of the published single-node
    * trainers (Sennrich et al. 2016 `learn_bpe.py`; HuggingFace
    * tokenizers):
    *
    *   - a lazy-deletion max-heap of (count, pair) entries ordered
    *     exactly like the distributed argmax — count desc, then the
    *     `"x y"` pair string ascending in unsigned UTF-8 byte order
    *     (Spark's UTF8_BINARY collation) — so every tiebreak replays
    *     bit-identically;
    *   - per merge, only words CONTAINING the pair are rewritten (an
    *     occurrence index keyed by pair), and global pair counts are
    *     adjusted by each rewritten word's before/after pair-multiset
    *     diff — O(affected words × word length) per merge instead of a
    *     table pass, so 32k merges take seconds, not hours.
    *
    * Re-formed pairs are handled: a merge whose output lands adjacent to
    * other symbols registers the new adjacencies (count bump + occurrence
    * index), so a previously-consumed pair that re-forms can be learned
    * again later — exactly as the recount-from-scratch trainers would.
    */
  def bpeTrainWordsLocal(
      words: DataFrame,
      nMerges: Int,
      maxWords: Int = 5000000
  ): (DataFrame, DataFrame) = {
    val spark = words.sparkSession
    import spark.implicits._
    // Guard BEFORE collecting: the whole point of maxWords is to keep a
    // corpus-sized word table off the driver, so the size check must be a
    // distributed aggregate (one cheap count), not a post-mortem on an
    // already-materialized array — otherwise the documented failure mode
    // is a driver OOM instead of this error message.
    val nWords = words.count()
    require(
      nWords <= maxWords,
      s"bpeTrainWordsLocal: $nWords distinct words exceed maxWords=$maxWords; " +
        "apply a minCount floor to the word table"
    )
    val rows = words.select(col("word"), lng(col("cnt"))).as[(String, Long)].collect()
    // per-word symbol sequences; code-point split = the distributed
    // trainer's per-character regex split
    val seqs: Array[Array[String]] = rows.map { case (w, _) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        val n = Character.charCount(w.codePointAt(i))
        out += w.substring(i, i + n)
        i += n
      }
      out.toArray
    }
    val cnts: Array[Long] = rows.map(_._2)

    def pairBytes(p: (String, String)): Array[Byte] =
      (p._1 + " " + p._2).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    // unsigned byte-wise comparison — Spark's binary string ordering
    def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      a.length - b.length
    }

    final case class Entry(c: Long, b: Array[Byte], p: (String, String))
    val heap = new java.util.PriorityQueue[Entry](new java.util.Comparator[Entry] {
      def compare(u: Entry, v: Entry): Int =
        if (u.c != v.c) java.lang.Long.compare(v.c, u.c) else cmpBytes(u.b, v.b)
    })
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    // occurrence index: ⊇ the words whose CURRENT sequence contains the
    // pair adjacently (rewrites register every new adjacency; members may
    // go stale when another merge removes the pair — the merge loop
    // re-checks adjacency before rewriting)
    val where =
      scala.collection.mutable.HashMap.empty[(String, String), scala.collection.mutable.BitSet]
    def bump(p: (String, String), delta: Long): Unit = {
      val c = counts.getOrElse(p, 0L) + delta
      if (c <= 0L) { counts.remove(p); () }
      else {
        counts(p) = c
        heap.add(Entry(c, pairBytes(p), p))
        ()
      }
    }

    var wi = 0
    while (wi < seqs.length) {
      val s = seqs(wi)
      val c = cnts(wi)
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        counts.update(p, counts.getOrElse(p, 0L) + c)
        where.getOrElseUpdate(p, scala.collection.mutable.BitSet.empty) += wi
        i += 1
      }
      wi += 1
    }
    counts.foreach { case (p, c) => heap.add(Entry(c, pairBytes(p), p)) }

    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var exhausted = false
    while (merges.length < nMerges && !exhausted) {
      // pop to the live argmax (stale heap entries carry a count that no
      // longer matches the map — discard)
      var top: Entry = null
      while (top == null && !heap.isEmpty) {
        val e = heap.poll()
        if (counts.get(e.p).contains(e.c)) top = e
      }
      if (top == null) exhausted = true
      else {
        val (x, y) = top.p
        merges += ((merges.length + 1L, x, y, x + y, top.c))
        val members = where.getOrElse(top.p, scala.collection.mutable.BitSet.empty).toArray
        for (idx <- members) {
          val s = seqs(idx)
          var hit = false
          var i = 0
          while (!hit && i < s.length - 1) { hit = s(i) == x && s(i + 1) == y; i += 1 }
          if (hit) {
            val c = cnts(idx)
            val diff = scala.collection.mutable.HashMap.empty[(String, String), Long]
            i = 0
            while (i < s.length - 1) {
              val p = (s(i), s(i + 1))
              diff.update(p, diff.getOrElse(p, 0L) - c)
              i += 1
            }
            // greedy exact-last-symbol fold — the distributed fold's
            // semantics (merged output never re-matches x, so one pass)
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var j = 0
            while (j < s.length) {
              if (out.nonEmpty && out.last == x && s(j) == y)
                out(out.length - 1) = x + y
              else out += s(j)
              j += 1
            }
            val ns = out.toArray
            seqs(idx) = ns
            i = 0
            while (i < ns.length - 1) {
              val p = (ns(i), ns(i + 1))
              diff.update(p, diff.getOrElse(p, 0L) + c)
              i += 1
            }
            diff.foreach { case (p, d) =>
              if (d != 0L) {
                bump(p, d)
                if (d > 0L)
                  where.getOrElseUpdate(p, scala.collection.mutable.BitSet.empty) += idx
              }
            }
          }
        }
        where.remove(top.p)
      }
    }
    val mergesDf = merges.toSeq.toDF("step", "x", "y", "merged", "support")
    val seqsDf = rows
      .indices
      .map(i => (rows(i)._1, cnts(i), seqs(i).mkString(" ")))
      .toDF("word", "cnt", "seq")
    (mergesDf, seqsDf)
  }

  /** Statistical-LM quality scores (CCNet family): per-doc mean scaled
    * conditional bigram probability, `mean_d((c_xy * 1e6) div c_x)` over
    * the doc's bigrams — integer arithmetic end to end so the score is
    * bit-reproducible across engines.
    *
    * Scale shape: bigram occurrences carry only their 60-bit hashes past
    * the scan (8-byte shuffle keys, strings stay map-side); the unigram
    * count side is vocabulary-bounded and broadcast. One corpus pass, two
    * hash-keyed aggregates. Output: (doc_id, n_bigrams, lm_score_e6).
    */
  def lmScores(docs: DataFrame): DataFrame = {
    val bg = docs
      .select(
        col("doc_id"),
        explode(Dedup.wordShinglesAll(Text.tokensAll(col("text")), 2)).as("bg")
      )
      .select(
        col("doc_id"),
        md5Long(col("bg")).as("bgh"),
        md5Long(substring_index(col("bg"), " ", 1)).as("w1h")
      )
      .localCheckpoint(true)
    val cxy = bg.groupBy(col("bgh")).agg(count(lit(1)).as("c_xy"))
    val cx = docs
      .select(explode(Text.tokensAll(col("text"))).as("w"))
      .select(md5Long(col("w")).as("w1h"))
      .groupBy(col("w1h"))
      .agg(count(lit(1)).as("c_x"))
    bg.join(cxy, Seq("bgh"))
      .join(broadcast(cx), Seq("w1h")) // vocabulary-bounded side
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("long").as("n_bigrams"),
        sum(expr("(c_xy * 1000000) div c_x")).as("sc")
      )
      .select(
        col("doc_id"),
        col("n_bigrams"),
        expr("sc div n_bigrams").as("lm_score_e6")
      )
  }

  /** Interpolated Kneser–Ney bigram LM scores (Kneser & Ney 1995; the
    * smoothing real LM-quality filters use where [[lmScores]]' raw MLE
    * assigns unseen-context mass badly). Per occurring bigram (w1,w2),
    * with absolute discount D = 3/4:
    *
    * {{{
    *   P(w2|w1) = (c(w1w2) - D)/c(w1)  +  (D·N1+(w1·)/c(w1)) · N1+(·w2)/N1+(··)
    * }}}
    *
    * where N1+(w1·) = distinct continuations of w1, N1+(·w2) = distinct
    * left-contexts of w2 (the "how many contexts has this word completed"
    * continuation probability — KN's defining idea), N1+(··) = distinct
    * bigram types. Everything is integer-exact at 1e-9 scale: with
    * positive divisors, `a div b div c = a div (b·c)`, so both terms are
    * single floor divisions both engines replay bit-identically.
    *
    * Scale shape: identical to [[lmScores]] — occurrences carry 60-bit
    * hashes (8-byte shuffle keys); the unigram/continuation sides are
    * vocabulary-bounded broadcasts; N1+(··) is one scalar crossed in.
    * Output: (doc_id, n_bigrams, kn_score_e9).
    */
  def knScores(docs: DataFrame): DataFrame = {
    val bg = docs
      .select(
        col("doc_id"),
        explode(Dedup.wordShinglesAll(Text.tokensAll(col("text")), 2)).as("bg")
      )
      .select(
        col("doc_id"),
        md5Long(col("bg")).as("bgh"),
        md5Long(substring_index(col("bg"), " ", 1)).as("w1h"),
        md5Long(substring_index(col("bg"), " ", -1)).as("w2h")
      )
      .localCheckpoint(true)
    // ONE type-level aggregate feeds every corpus statistic: a bigram
    // string determines all three hashes, so the distinct-triple frame
    // carries the occurrence multiset collapsed to bigram TYPES —
    // cxy/cx/bw/nt re-aggregate it (type-scale rows) instead of each
    // re-shuffling the occurrence-scale bg frame (guide §2.3 "aggregate
    // before you shuffle"; the identical tri subtrees share one physical
    // exchange via runtime exchange reuse). Sums of per-type counts equal
    // the per-occurrence counts, and the distinct sets over the triple
    // frame are exactly the distinct sets over the occurrences, so every
    // statistic is bit-identical — including under md5 collisions.
    val tri = bg
      .groupBy(col("bgh"), col("w1h"), col("w2h"))
      .agg(count(lit(1)).as("bocc"))
    val cxy = tri.groupBy(col("bgh")).agg(sum(col("bocc")).as("c_xy"))
    val cx = tri
      .groupBy(col("w1h"))
      .agg(sum(col("bocc")).as("c_x"), countDistinct(col("w2h")).as("n1f"))
    val bw = tri.groupBy(col("w2h")).agg(countDistinct(col("w1h")).as("n1b"))
    val nt = tri.select(countDistinct(col("bgh")).as("n_types"))
    bg.join(cxy, Seq("bgh"))
      .join(broadcast(cx), Seq("w1h")) // vocabulary-bounded sides
      .join(broadcast(bw), Seq("w2h"))
      .crossJoin(broadcast(nt))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("long").as("n_bigrams"),
        // numerators/denominators in DECIMAL(38,0): n1f·n1b is
        // vocabulary² (overflows int64 beyond ~110k distinct tokens) and
        // c_xy/c_x are corpus-scale; `div` on decimals keeps the exact
        // integral quotient, which fits a long by construction (≤ 1e9)
        sum(
          expr(
            "((4 * CAST(c_xy AS DECIMAL(38,0)) - 3) * 250000000) div CAST(c_x AS DECIMAL(38,0))"
          ) +
            expr(
              "(CAST(750000000 AS DECIMAL(38,0)) * n1f * n1b) div (CAST(c_x AS DECIMAL(38,0)) * n_types)"
            )
        ).as("sc")
      )
      .select(
        col("doc_id"),
        col("n_bigrams"),
        expr("sc div n_bigrams").as("kn_score_e9")
      )
  }

  /** [[knScores]] in its PRODUCTION shape: the LM statistics come from a
    * REFERENCE split (`trainPred` over the same frame) and every document
    * is scored against that fixed model — CCNet trains its 5-gram LM on
    * Wikipedia and scores Common Crawl with it; self-scoring (what
    * [[knScores]] does, and what its oracle replays) lets boilerplate
    * inflate its own fluency. Out-of-model handling, exact integers:
    *
    *   - unseen CONTEXT w1 (no train statistics): the bigram contributes
    *     0 — the model assigns it no probability mass;
    *   - seen context, unseen bigram: the discounted term truncates at 0
    *     (c(w1w2)=0 < D) and only the continuation back-off contributes;
    *   - unseen continuation w2: N1+(·w2) = 0, so the back-off term is 0.
    *
    * Scale shape identical to [[knScores]] — the statistics sides are
    * additionally TRAIN-sized, and scoring is three left joins (one
    * occurrence-keyed, two vocabulary-bounded broadcasts) + one scalar.
    * Output: (doc_id, n_bigrams, in_train, kn_ref_score_e9).
    */
  def knScoresHeldOut(docs: DataFrame, trainPred: Column): DataFrame = {
    val bg = docs
      .select(
        col("doc_id"),
        trainPred.as("in_train"),
        explode(Dedup.wordShinglesAll(Text.tokensAll(col("text")), 2)).as("bg")
      )
      .select(
        col("doc_id"),
        col("in_train"),
        md5Long(col("bg")).as("bgh"),
        md5Long(substring_index(col("bg"), " ", 1)).as("w1h"),
        md5Long(substring_index(col("bg"), " ", -1)).as("w2h")
      )
      .localCheckpoint(true)
    val tr = bg.filter(col("in_train"))
    // shared type-level aggregate over the TRAIN occurrences — same
    // bit-identical fusion as [[knScores]]' tri (guide §2.3)
    val tri = tr
      .groupBy(col("bgh"), col("w1h"), col("w2h"))
      .agg(count(lit(1)).as("bocc"))
    val cxy = tri.groupBy(col("bgh")).agg(sum(col("bocc")).as("c_xy"))
    val cx = tri
      .groupBy(col("w1h"))
      .agg(sum(col("bocc")).as("c_x"), countDistinct(col("w2h")).as("n1f"))
    val bw = tri.groupBy(col("w2h")).agg(countDistinct(col("w1h")).as("n1b"))
    val nt = tri.select(countDistinct(col("bgh")).as("n_types"))
    bg.join(cxy, Seq("bgh"), "left")
      .join(broadcast(cx), Seq("w1h"), "left")
      .join(broadcast(bw), Seq("w2h"), "left")
      .crossJoin(broadcast(nt))
      .groupBy(col("doc_id"), col("in_train"))
      .agg(
        count(lit(1)).cast("long").as("n_bigrams"),
        sum(
          when(col("c_x").isNull, lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"))
            .otherwise(
              when(
                col("c_xy").isNull,
                lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")
              ).otherwise(
                expr(
                  "((4 * CAST(c_xy AS DECIMAL(38,0)) - 3) * 250000000) div CAST(c_x AS DECIMAL(38,0))"
                )
              ) +
                expr(
                  "(CAST(750000000 AS DECIMAL(38,0)) * n1f * coalesce(n1b, 0)) div (CAST(c_x AS DECIMAL(38,0)) * n_types)"
                )
            )
        ).as("sc")
      )
      .select(
        col("doc_id"),
        col("n_bigrams"),
        col("in_train"),
        expr("sc div n_bigrams").as("kn_ref_score_e9")
      )
  }

  // ---- persisted cleaning-gate asset ------------------------------------

  /** Persisted per-document CLEANING-funnel annotation asset: one row per
    * doc with everything the funnel reports consume — predicted language,
    * token/char counts, quality score, split tag, exact-dedup canonical
    * flag, corpus-dedup survivorship (exact + verified near-dup
    * components), and the hashed-bigram classifier logit — built ONCE per
    * corpus content fingerprint under the [[Indexes]] contract and READ
    * by `t_clean_pipeline`, `t_drop_reasons`, and `t_datacard`. Same
    * rationale as [[Curation.ensureGateAsset]]: a release derives these
    * verdicts once and emits many reports over them; three reports that
    * each re-run the dedup components walk + language/quality projection
    * + classifier aggregate pay the corpus three times for identical
    * bits. The build is deterministic, so reading the asset is
    * bit-identical to fresh derivation — invisible to the correctness
    * gate (all three oracles still re-derive everything from raw text).
    *
    * `source`/`n_chars` ride in the asset (and in the fingerprint
    * payload) so the datacard's rollup never touches the corpus either.
    */
  def ensureCleanGateAsset(sfDir: String, docs: DataFrame): String =
    Indexes.ensure(
      "cleaning-gates",
      sfDir,
      docs,
      "doc_id",
      "struct(text, source, n_chars)",
      "v=2" // v2: classifier gate = the TRAINED quality head's margin
    ) { tmp =>
      val ann = annotateDocs(docs)
        .select(
          col("doc_id"),
          col("pred_lang"),
          col("n_tokens"),
          col("quality_score"),
          col("split")
        )
      val canon = Dedup
        .exactDups(docs)
        .select(
          col("doc_id"),
          (col("doc_id") === col("canonical_id")).as("is_canonical")
        )
      val inCorpus = Dedup
        .dedupCorpus(docs)
        .select(col("doc_id"), lit(true).as("in_corpus"))
      val clf = TrainedClf
        .qualityScores(sfDir, docs)
        .select(col("doc_id"), col("margin").as("clf_margin"))
      docs
        .select(col("doc_id"), col("source"), col("n_chars"))
        .join(ann, Seq("doc_id"))
        .join(canon, Seq("doc_id"))
        .join(inCorpus, Seq("doc_id"), "left")
        .join(clf, Seq("doc_id"))
        .select(
          col("doc_id"),
          col("source"),
          col("n_chars"),
          col("pred_lang"),
          col("n_tokens"),
          col("quality_score"),
          col("split"),
          col("is_canonical"),
          coalesce(col("in_corpus"), lit(false)).as("in_corpus"),
          col("clf_margin")
        )
        .write
        .mode("overwrite")
        .parquet(s"$tmp/gates")
    }

  /** Read-side of [[ensureCleanGateAsset]]: (doc_id, source, n_chars,
    * pred_lang, n_tokens, quality_score, split, is_canonical, in_corpus,
    * clf_logit_milli).
    */
  def cleanGateAsset(sfDir: String, docs: DataFrame): DataFrame =
    docs.sparkSession.read.parquet(s"${ensureCleanGateAsset(sfDir, docs)}/gates")
}
