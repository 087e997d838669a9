package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.operators.{Text, TextAnalysis}
import graft.util.Cols._

/** Text-analysis query surface over `documents`. */
object TextQ {

  /** DuckDB: the length>1-filtered token list for column `text`. */
  private val toksSql =
    s"list_filter(${Text.tokensSqlAll("text")}, w -> length(w) > 1)"

  private def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")

  /** The published tokenizer artifact (`q_export_tokenizer`'s asset),
    * ensured then returned — the steady-state entry every ENCODE query
    * uses: merge rules / pieces come from the persisted fingerprinted
    * artifact, never an in-query retrain (training is the documented
    * driver-sequenced ceiling; the asset is how a 100 TB pipeline pays
    * it once). The TRAINING queries (`t_bpe_bytes`, `t_unigram_vocab`)
    * stay live-derived — they are the build measurements.
    */
  private def tokenizerAssetDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.operators.TokenizerExport
      .ensure(d, Tables.documents(s, d), BpeSteps, UnigramVocab, UnigramPieceLen, UnigramRounds)

  /** Merge steps the BPE trainer query learns (must precede `all`:
    * object vals initialize in declaration order).
    */
  private val BpeSteps = 8

  /** Unigram-LM training knobs (must precede `all` — see BpeSteps). */
  private val UnigramVocab = 48
  private val UnigramPieceLen = 4
  private val UnigramRounds = 2

  /** CDX capture-metadata replay, shared by `t_warc_cdx` (the persisted
    * asset) and `t_warc_cdx_fold` (the stream-grown copy — the fold is
    * only correct if indistinguishable from the wholesale build, which
    * is exactly what sharing the oracle checks). Must precede `all`.
    */
  private val warcCdxOracleSql: String = {
    val page = graft.operators.Html.dirtyHtmlSqlExpr
    s"""WITH pg AS (
       |  SELECT doc_id, octet_length(encode($page)) AS page_bytes FROM documents
       |), c AS (
       |  SELECT doc_id, 'http://example.com/doc/' || doc_id AS url,
       |    length('HTTP/1.1 200 OK') + 2 + length('Content-Type: text/html; charset=utf-8') + 2
       |      + length('Content-Length: ' || page_bytes) + 4 + page_bytes AS content_length
       |  FROM pg
       |)
       |SELECT ${graft.operators.Urls.surtSql("url")} AS surt, url,
       |       '${graft.sources.Warc.FixtureDate}' AS warc_date,
       |       content_length::BIGINT AS content_length
       |FROM c ORDER BY surt""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q(
      "t_langid",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val toks = TextAnalysis.LangMarkers.foldLeft(
          docs.select(col("doc_id"), Text.tokensAll(col("text")).as("tk"))
        ) { case (df, (lang, markers)) =>
          df.withColumn(s"s_$lang", TextAnalysis.markerScore(col("tk"), markers))
        }
        val scores = TextAnalysis.LangMarkers.map { case (lang, _) =>
          lang -> col(s"s_$lang")
        }
        toks
          .select(
            col("doc_id") +:
              scores.map { case (l, c) => c.as(s"s_$l") } :+
              TextAnalysis.predictLang(scores).as("pred_lang"): _*
          )
          .orderBy("doc_id")
      },
      Some {
        val scoreDefs = TextAnalysis.LangMarkers
          .map { case (lang, ms) =>
            s"len(list_filter(tk, w -> w IN (${inList(ms)}))) AS s_$lang"
          }
          .mkString(",\n       ")
        s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
           |s AS (SELECT doc_id,
           |       $scoreDefs
           |FROM t)
           |SELECT doc_id, s_en, s_de, s_fr, s_es,
           |  CASE WHEN s_en + s_de + s_fr + s_es = 0 THEN 'und'
           |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
           |       WHEN s_de > s_en AND s_de >= s_fr AND s_de >= s_es THEN 'de'
           |       WHEN s_fr > s_en AND s_fr > s_de AND s_fr >= s_es THEN 'fr'
           |       ELSE 'es' END AS pred_lang
           |FROM s ORDER BY doc_id""".stripMargin
      },
      doc = "Language ID by marker-word occurrence counts (deterministic " +
        "argmax, first-listed language wins ties)."
    ),
    Q(
      "t_langid_trained",
      (s, d) =>
        TextAnalysis.langIdTrained(Tables.documents(s, d)).orderBy("doc_id"),
      Some(
        s"""WITH t AS (SELECT doc_id, lang, $toksSql AS tk FROM documents),
           |tok AS (SELECT doc_id, lang, unnest(tk) AS term FROM t),
           |tc AS (SELECT lang, ('0x' || substr(md5(term), 1, 15))::BIGINT AS th, COUNT(*) AS cnt
           |       FROM tok WHERE doc_id % 10 < 8 GROUP BY lang, 2),
           |lp0 AS (SELECT lang, th,
           |          row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, th) AS r_lang
           |        FROM tc),
           |lp AS (SELECT lang AS p_lang, th, r_lang FROM lp0 WHERE r_lang <= 40),
           |dc AS (SELECT doc_id, ('0x' || substr(md5(term), 1, 15))::BIGINT AS th, COUNT(*) AS cnt
           |       FROM tok WHERE doc_id % 10 >= 8 GROUP BY doc_id, 2),
           |dp0 AS (SELECT doc_id, th,
           |          row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, th) AS r_doc
           |        FROM dc),
           |dp AS (SELECT doc_id, th, r_doc FROM dp0 WHERE r_doc <= 20),
           |dn AS (SELECT doc_id, COUNT(*) AS n_prof FROM dp GROUP BY doc_id),
           |g AS (SELECT dp.doc_id, lp.p_lang,
           |        SUM(40 - abs(dp.r_doc - lp.r_lang)) AS gain
           |      FROM dp JOIN lp ON dp.th = lp.th GROUP BY 1, 2),
           |langs AS (SELECT DISTINCT lang AS p_lang FROM documents WHERE doc_id % 10 < 8),
           |dist AS (SELECT dn.doc_id, langs.p_lang,
           |           (dn.n_prof * 40 - coalesce(g.gain, 0))::BIGINT AS dist
           |         FROM dn CROSS JOIN langs
           |         LEFT JOIN g ON g.doc_id = dn.doc_id AND g.p_lang = langs.p_lang),
           |b AS (SELECT doc_id, p_lang, dist,
           |        row_number() OVER (PARTITION BY doc_id ORDER BY dist, p_lang) AS rn
           |      FROM dist)
           |SELECT t.doc_id, t.lang, b.p_lang AS pred_lang, b.dist AS pred_dist,
           |  (CASE WHEN b.p_lang = t.lang THEN 1 ELSE 0 END)::BIGINT AS correct
           |FROM b JOIN t ON b.doc_id = t.doc_id
           |WHERE b.rn = 1
           |ORDER BY t.doc_id""".stripMargin
      ),
      doc = "TRAINED language ID (Cavnar-Trenkle rank profiles): top-40 " +
        "token profiles per language learned from the labeled 80% train " +
        "split, held-out docs classified by integer out-of-place rank " +
        "distance (absent tokens cost the max penalty). The model is a " +
        "broadcast 200-row table; doc profiles come from the bounded " +
        "top-k aggregate and the argmin is a min(struct) — no window on " +
        "the Spark side. Every distance and verdict bit-replayed. NOTE: " +
        "the synthetic corpus draws one shared vocabulary regardless of " +
        "its lang label, so held-out accuracy here sits at the chance " +
        "floor BY CONSTRUCTION — this query pins the full train/classify " +
        "mechanics and the null-signal calibration (sum(correct) ~ " +
        "n/|langs|); LangIdSpec pins near-perfect recovery on a " +
        "planted-signal fixture."
    ),
    Q(
      "t_quality",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val base = docs
          .select(
            col("doc_id") +: col("text") +: Nil: _*
          )
          .withColumn("tk", Text.tokensAll(col("text")))
        val withMetrics = base.select(
          col("doc_id") +: TextAnalysis.qualityCols(col("text"), col("tk")): _*
        )
        withMetrics
          .withColumn(
            "quality_score",
            TextAnalysis.qualityScore(
              col("alpha_ratio"),
              col("stopword_ratio"),
              col("uniq_ratio")
            )
          )
          .orderBy("doc_id")
      },
      Some(
        s"""WITH t AS (SELECT doc_id, text, $toksSql AS tk FROM documents),
           |m AS (SELECT doc_id,
           |  len(tk)::BIGINT AS n_tokens,
           |  length(text)::BIGINT AS n_chars_raw,
           |  list_sum(list_transform(tk, w -> length(w)))::DOUBLE / len(tk) AS avg_token_len,
           |  length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE / length(text) AS alpha_ratio,
           |  len(list_filter(tk, w -> w IN (${inList(Text.StopWords)})))::DOUBLE / len(tk) AS stopword_ratio,
           |  len(list_distinct(tk))::DOUBLE / len(tk) AS uniq_ratio
           |FROM t)
           |SELECT doc_id, n_tokens, n_chars_raw, avg_token_len, alpha_ratio,
           |       stopword_ratio, uniq_ratio,
           |  (alpha_ratio * 0.3) + (least(stopword_ratio * 4.0, 1.0) * 0.3) + (uniq_ratio * 0.4)
           |    AS quality_score
           |FROM m ORDER BY doc_id""".stripMargin
      ),
      doc = "Per-document quality metrics + composite score (length, alpha " +
        "ratio, stop-word ratio, uniqueness)."
    ),
    Q(
      "t_classifier_score",
      (s, d) =>
        graft.operators.TrainedClf
          .qualityScores(d, Tables.documents(s, d))
          .orderBy("doc_id"),
      Some(
        s"""WITH ${graft.operators.TrainedClf.replayCtes}
           |SELECT f.doc_id, m.m AS margin, f.n_feats, (m.m > 0) AS clf_keep
           |FROM clnf f JOIN clms m
           |  ON f.doc_id = m.doc_id AND m.cls = '${graft.operators.TrainedClf.QualityCls}'
           |ORDER BY f.doc_id""".stripMargin
      ),
      doc = "Quality-classifier scoring with LEARNED weights (the " +
        "fastText/DCLM shape): a linear head over hashed bigram " +
        "features, trained by the integer-exact batch perceptron to " +
        "distill the corpus-LM fluency signal, weights published as a " +
        "fingerprinted asset and inlined as a literal array in one " +
        "codegen projection — one doc-keyed partial-aggregable shuffle, " +
        "and integer margins make scores (not just keep flags) " +
        "bit-checkable. The oracle re-derives labels, replays training, " +
        "and re-scores from raw text."
    ),
    // ---- the training run itself as an oracle-gated query: per head,
    // the train-split label stats, class feature masses, and the learned
    // weight vector's L1 mass and sum. The DuckDB side re-derives the
    // labels and replays the closed-form training from raw text — a
    // drift anywhere in featurization, labeling, or the weight formula
    // changes some stat and breaks the hash. This is the bit-exactness
    // proof that the distributed training pass is deterministic
    // (partition-order-free integer aggregates).
    Q(
      "t_classifier_train",
      (s, d) =>
        graft.operators.TrainedClf
          .historyTable(d, Tables.documents(s, d))
          .select(
            col("cls"),
            col("n_train"),
            col("n_pos"),
            col("mass_pos"),
            col("mass_neg"),
            col("w_l1"),
            col("w_sum")
          )
          .orderBy("cls"),
      Some(graft.operators.TrainedClf.historyOracleSql),
      doc = "The classifier TRAINING run, oracle-gated: per head — " +
        "train-split size and positive count, per-class feature masses, " +
        "and the learned rate-difference weight vector's L1 mass and sum " +
        "— read from the published fingerprinted weights asset. Training " +
        "is two associative integer aggregates, so the distributed run " +
        "is bit-reproducible on any partitioning; the oracle replays it " +
        "from raw text and must land on identical weights."
    ),
    // ---- held-out evaluation of the trained heads: per-class confusion
    // counts on the val+test splits — the honest report of what the
    // distillation bought (and the guard that training didn't memorize
    // its way to a vacuous gate).
    Q(
      "t_classifier_eval",
      (s, d) =>
        graft.operators.TrainedClf
          .heldOutEval(d, Tables.documents(s, d))
          .orderBy("cls"),
      Some {
        import graft.operators.TrainedClf
        s"""WITH ${TrainedClf.replayCtes}
           |SELECT y.cls,
           |  COUNT(*) FILTER (y.y = 1 AND m.m > 0)::BIGINT AS tp,
           |  COUNT(*) FILTER (y.y = 0 AND m.m > 0)::BIGINT AS fp,
           |  COUNT(*) FILTER (y.y = 1 AND m.m <= 0)::BIGINT AS fn,
           |  COUNT(*) FILTER (y.y = 0 AND m.m <= 0)::BIGINT AS tn
           |FROM clyl y JOIN clms m ON y.cls = m.cls AND y.doc_id = m.doc_id
           |WHERE ('0x' || substr(md5(y.doc_id::VARCHAR), 1, 15))::BIGINT % 100 >= 80
           |GROUP BY y.cls ORDER BY y.cls""".stripMargin
      },
      doc = "Held-out evaluation of the trained classifier heads: " +
        "per-class confusion counts (tp/fp/fn/tn) over the val+test " +
        "splits — documents the training never saw. Computed once at " +
        "training time and published IN the weights asset (a release " +
        "ships its eval beside its model); the query reads the published " +
        "report, and every count is bit-checked against the oracle's " +
        "independent from-raw-text replay."
    ),
    Q(
      "t_tokcount",
      (s, d) =>
        Tables
          .documents(s, d)
          .select(
            col("doc_id"),
            lng(size(split(trim(col("text")), "\\s+"))).as("ws_tokens"),
            lng(size(regexp_extract_all(col("text"), lit(TextAnalysis.BpePattern), lit(0))))
              .as("bpe_tokens"),
            lng(length(col("text"))).as("char_len"),
            col("n_chars")
          )
          .orderBy("doc_id"),
      Some(
        s"""SELECT doc_id,
           |  len(string_split_regex(trim(text), '\\s+'))::BIGINT AS ws_tokens,
           |  len(regexp_extract_all(text, '${TextAnalysis.BpePattern}'))::BIGINT AS bpe_tokens,
           |  length(text)::BIGINT AS char_len,
           |  n_chars
           |FROM documents ORDER BY doc_id""".stripMargin
      ),
      doc = "Token counting: whitespace tokens and a BPE-ish regex token count."
    ),
    Q(
      "t_fingerprint",
      (s, d) => {
        val n = graft.operators.Dedup.normText(col("text"))
        Tables
          .documents(s, d)
          .select(
            col("doc_id"),
            md5(n).as("content_md5"),
            md5Long(n).as("sig60"),
            TextAnalysis.minShingleFingerprint(n, 8).as("min_shingle_fp")
          )
          .orderBy("doc_id")
      },
      Some(
        """WITH t AS (
          |  SELECT doc_id,
          |    trim(regexp_replace(replace(lower(text), chr(39), ''), '[^a-z]+', ' ', 'g')) AS n
          |  FROM documents)
          |SELECT doc_id, md5(n) AS content_md5,
          |  ('0x' || substr(md5(n), 1, 15))::BIGINT AS sig60,
          |  list_min(list_transform(generate_series(1, greatest(length(n) - 7, 1)),
          |    i -> ('0x' || substr(md5(substr(n, i, 8)), 1, 15))::BIGINT)) AS min_shingle_fp
          |FROM t ORDER BY doc_id""".stripMargin
      ),
      doc = "Document fingerprints: content hash, 60-bit signature, and a " +
        "rolling min-shingle (1-perm MinHash) fingerprint."
    ),
    // ---- token-window chunking: the LLM pre-training segmentation.
    Q(
      "t_chunks",
      (s, d) =>
        TextAnalysis
          .chunkDocs(Tables.documents(s, d), chunkTokens = 32, stride = 24)
          .orderBy("doc_id", "chunk_idx"),
      Some(
        s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
           |cl AS (
           |  SELECT doc_id, unnest(list_transform(
           |    generate_series(0, greatest(ceil((len(tk) - 32)::DOUBLE / 24)::INT, 0)),
           |    i -> struct_pack(i := i, t := array_to_string(tk[i*24+1 : i*24+32], ' ')))) AS s
           |  FROM t
           |)
           |SELECT doc_id, s['i']::BIGINT AS chunk_idx, s['t'] AS chunk_text,
           |       len(string_split(s['t'], ' '))::BIGINT AS n_tokens
           |FROM cl ORDER BY doc_id, chunk_idx""".stripMargin
      ),
      doc = "Document chunking for training samples: 32-token windows at " +
        "stride 24 (8-token overlap, sized to this corpus's 10-99-token " +
        "docs so multi-chunk overlap is actually exercised), one short " +
        "trailing chunk keeps tail " +
        "text. Map-only row-local explode — scales as a pure scan."
    ),
    // ---- the shift-robust complement of t_chunks: boundaries from LOCAL
    // content (trailing-window hash ≡ 0 mod D), so an edit redraws only its
    // own neighborhood and chunk-hash dedup survives across near-identical
    // docs. Every boundary and chunk hash replayed by the oracle.
    Q(
      "t_cdc_chunks",
      (s, d) =>
        TextAnalysis.cdcChunks(Tables.documents(s, d)).orderBy("doc_id", "chunk_idx"),
      Some {
        val (w, dm) = (TextAnalysis.CdcWindow, TextAnalysis.CdcModulo)
        s"""WITH base AS (SELECT doc_id, text, length(text) AS n FROM documents),
           |e AS (SELECT doc_id, text, n,
           |  list_sort(list_distinct(list_append(
           |    list_filter(CASE WHEN n >= $w THEN generate_series($w, n) ELSE [] END,
           |      i -> ('0x' || substr(md5(substr(text, (i - ${w - 1})::INT, $w)), 1, 15))::BIGINT % $dm = 0),
           |    n))) AS ends FROM base),
           |flat AS (
           |  SELECT doc_id, text,
           |    unnest(generate_series(1, len(ends))) - 1 AS chunk_idx,
           |    unnest(list_transform(list_prepend(0::BIGINT, ends[:len(ends)-1]), p -> p + 1)) AS chunk_start,
           |    unnest(ends) AS chunk_end
           |  FROM e)
           |SELECT doc_id, chunk_idx::BIGINT AS chunk_idx, chunk_start::BIGINT AS chunk_start,
           |  (chunk_end - chunk_start + 1)::BIGINT AS chunk_len,
           |  md5(substr(text, chunk_start::INT, (chunk_end - chunk_start + 1)::INT)) AS chunk_md5,
           |  COUNT(*) OVER (PARTITION BY md5(substr(text, chunk_start::INT, (chunk_end - chunk_start + 1)::INT)))
           |    AS dup_count
           |FROM flat ORDER BY doc_id, chunk_idx""".stripMargin
      },
      doc = s"Content-defined chunking (window=${TextAnalysis.CdcWindow}, " +
        s"modulo=${TextAnalysis.CdcModulo}, expected chunk ~${TextAnalysis.CdcModulo} " +
        "chars): boundary wherever the trailing-window md5 ≡ 0 — the " +
        "LBFS/Rabin storage-dedup primitive, robust to insertions where " +
        "fixed-stride chunking shifts every downstream chunk. Native " +
        "single-pass boundary kernel; dup_count = corpus-wide chunk-hash " +
        "multiplicity, the chunk-granular dedup signal."
    ),
    // ---- TF-IDF-style salient terms per document. The damping uses the
    // raw rarity ratio N/df rather than log(N/df): a log crosses libm,
    // whose low bits differ across engines, while tf*N/df is two exact
    // integers and one correctly-rounded IEEE division — bit-identical
    // everywhere and the same per-document ranking for any monotone
    // damping. Bounded top-k aggregate (not a window) does the ranking;
    // terms ride as md5-60 hashes through the aggregate and join back to
    // strings via the term dictionary.
    Q(
      "t_tfidf_top",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val toks = docs.select(
          col("doc_id"),
          explode(Text.tokensAll(col("text"))).as("term")
        )
        val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val scored = tf
          .join(dfreq, Seq("term"))
          .crossJoin(broadcast(n))
          .select(
            col("doc_id"),
            col("term"),
            (col("tf").cast("double") * col("n_docs").cast("double") /
              col("df").cast("double")).as("score"),
            md5Long(col("term")).as("th")
          )
        val top = scored
          .groupBy(col("doc_id"))
          .agg(graft.functions.TopKByScore.topK(col("score"), col("th"), 5).as("tk"))
          .select(col("doc_id"), posexplode(col("tk")).as(Seq("pos", "e")))
          .select(
            col("doc_id"),
            col("e").getField("id").as("th"),
            col("e").getField("score").as("score"),
            (col("pos") + 1).cast("long").as("rank")
          )
        val dict = scored.select(col("th"), col("term")).distinct()
        top
          .join(dict, Seq("th"))
          .select(col("doc_id"), col("term"), col("score"), col("rank"))
          .orderBy("doc_id", "rank")
      },
      Some(
        s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
           |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
           |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
           |n AS (SELECT COUNT(*) AS nd FROM documents),
           |sc AS (
           |  SELECT doc_id, term,
           |    tf::DOUBLE * nd::DOUBLE / df::DOUBLE AS score,
           |    ('0x' || substr(md5(term), 1, 15))::BIGINT AS th
           |  FROM tf JOIN dfreq USING (term), n
           |),
           |r AS (SELECT doc_id, term, score,
           |        row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, th) AS rank
           |      FROM sc)
           |SELECT doc_id, term, score, rank FROM r WHERE rank <= 5
           |ORDER BY doc_id, rank""".stripMargin
      ),
      doc = "Salient terms per document (TF-IDF with rational rarity " +
        "damping, exact cross-engine arithmetic): term frequencies joined " +
        "to corpus document frequencies, ranked by the bounded top-k " +
        "aggregate with md5-hash tiebreak, dictionary-joined back to " +
        "strings."
    ),
    Q(
      "t_heavy_hitters",
      (s, d) => {
        val docs = Tables.documents(s, d)
        docs
          .select(col("lang"), explode(Text.tokensAll(col("text"))).as("token"))
          .groupBy(col("lang"))
          .agg(
            graft.functions.SpaceSavingAgg
              .spaceSaving(col("token"), capacity = 4096, outK = 10)
              .as("hh")
          )
          .select(col("lang"), posexplode(col("hh")).as(Seq("pos", "e")))
          .select(
            col("lang"),
            col("e").getField("item").as("token"),
            col("e").getField("est").as("cnt"),
            (col("pos") + 1).cast("long").as("rank")
          )
          .orderBy("lang", "rank")
      },
      Some(
        s"""WITH tok AS (SELECT lang, unnest($toksSql) AS token FROM documents),
           |c AS (SELECT lang, token, COUNT(*) AS cnt FROM tok GROUP BY lang, token),
           |r AS (SELECT lang, token, cnt,
           |        row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rank
           |      FROM c)
           |SELECT lang, token, cnt, rank FROM r WHERE rank <= 10
           |ORDER BY lang, rank""".stripMargin
      ),
      doc = "Per-language top-10 tokens via the mergeable SpaceSaving " +
        "heavy-hitters sketch (O(capacity) state per partial, the " +
        "frequency analogue of bounded top-k). Capacity 4096 >> vocabulary " +
        "here, so the sketch is provably exact and the oracle bit-checks " +
        "it; the eviction regime's epsilon-guarantees are spec-checked."
    ),
    Q(
      "t_bigram_freq",
      (s, d) => {
        // corpus-level bigram statistics as a fluency/quality proxy: a
        // document whose word pairs are common across the corpus reads like
        // the corpus; junk and boilerplate score at the extremes. Exact
        // integer arithmetic end to end (counts, one final division) — the
        // log-probability variant differs across libm implementations.
        val docs = Tables.documents(s, d)
        // bigrams carry only their 60-bit hash past the scan: the groupBy
        // and join shuffle 8-byte keys instead of the bigram strings (the
        // strings never leave the map side). Same output up to md5-60
        // collisions (~|bigrams|^2/2^61, nil at any realistic vocab).
        // Persisted: the DF aggregate and the join both consume this; without
        // the pin Spark would tokenize + md5 the corpus twice (the two
        // branches' exchanges differ — partial agg below one — so exchange
        // reuse can't kick in). 16 bytes/row, the compact thing to pin.
        val bigrams = docs.select(
          col("doc_id"),
          explode(
            graft.operators.Dedup.wordShingles(
              graft.operators.Text.tokensAll(col("text")),
              2
            )
          ).as("bg")
        ).select(col("doc_id"), md5Long(col("bg")).as("bgh")).persist()
        // wordShingles is array_distinct per doc, so every (doc_id, bgh) row
        // is unique and plain count == count(DISTINCT doc_id) — without the
        // distinct-expand shuffle the latter plans.
        val df = bigrams
          .groupBy(col("bgh"))
          .agg(count(lit(1)).as("bg_df"))
        bigrams
          .join(df, Seq("bgh"))
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).cast("long").as("n_bigrams"),
            sum(col("bg_df")).cast("long").as("sum_df")
          )
          .withColumn(
            "avg_df",
            col("sum_df").cast("double") / col("n_bigrams")
          )
          .orderBy("doc_id")
      },
      Some(
        s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
           |bg AS (SELECT doc_id, unnest(list_distinct(list_transform(
           |         generate_series(1, greatest(len(tk) - 1, 1)),
           |         i -> array_to_string(tk[i:i+1], ' ')))) AS bg
           |       FROM t),
           |df AS (SELECT bg, count(DISTINCT doc_id) AS bg_df FROM bg GROUP BY bg)
           |SELECT b.doc_id, COUNT(*) AS n_bigrams, SUM(d.bg_df)::BIGINT AS sum_df,
           |       SUM(d.bg_df)::DOUBLE / COUNT(*) AS avg_df
           |FROM bg b JOIN df d ON b.bg = d.bg
           |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin
      ),
      doc = "Corpus-bigram document-frequency score per document (fluency " +
        "proxy): distinct word bigrams joined to their corpus DF, exact " +
        "integer sums — the self-join + two-aggregate shape of any " +
        "corpus-statistics feature at scale."
    ),
    Q(
      "t_repetition",
      (s, d) =>
        TextAnalysis.repetitionStats(Tables.documents(s, d), 2).orderBy("doc_id"),
      Some(
        s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
           |g AS (SELECT doc_id, unnest(list_transform(
           |        generate_series(1, greatest(len(tk) - 1, 1)),
           |        i -> array_to_string(tk[i:i+1], ' '))) AS gram FROM t),
           |c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, gram),
           |a AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
           |        COUNT(*) AS n_distinct, CAST(MAX(cnt) AS BIGINT) AS top_cnt
           |      FROM c GROUP BY doc_id)
           |SELECT doc_id, n_grams, n_distinct, top_cnt,
           |  CAST(n_grams - n_distinct AS DOUBLE) / n_grams AS dup_share,
           |  CAST(top_cnt AS DOUBLE) / n_grams AS top_share,
           |  ((n_grams - n_distinct) * 5 > n_grams OR top_cnt * 6 > n_grams)
           |    AS repetitive
           |FROM a ORDER BY doc_id""".stripMargin
      ),
      doc = "Gopher-style repetition quality filters: per-doc duplicate " +
        "bigram mass (dup_share) and most-frequent-bigram mass (top_share) " +
        "over the k-gram MULTISET (native non-dedup shingle kernel), with " +
        "integer-arithmetic threshold flags — exact in both engines."
    ),
    // ---- PII redaction over deterministically-injected PII: the corpus is
    // alpha-only, so both engines append the same synthetic email + phone
    // per doc, then redact through their own regex engines — a decoded
    // value mismatch anywhere in the pipeline (construction, match,
    // replacement, ordering) fails the md5 compare.
    Q(
      "t_redact",
      (s, d) =>
        Tables
          .documents(s, d)
          .withColumn(
            "t",
            concat(
              col("text"),
              lit(" contact user"),
              col("doc_id").cast("string"),
              lit("@example.com or call 555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
              lit(" now")
            )
          )
          .select(
            col("doc_id"),
            lng(size(expr(s"regexp_extract_all(t, '${TextAnalysis.EmailPattern}', 0)")))
              .as("n_emails"),
            lng(size(expr(s"regexp_extract_all(t, '${TextAnalysis.PhonePattern}', 0)")))
              .as("n_phones"),
            md5(TextAnalysis.redactPii(col("t"))).as("redacted_md5")
          )
          .orderBy("doc_id"),
      Some(
        s"""WITH a AS (
           |  SELECT doc_id,
           |    text || ' contact user' || doc_id || '@example.com or call 555-' ||
           |      lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' now' AS t
           |  FROM documents)
           |SELECT doc_id,
           |  len(regexp_extract_all(t, '${TextAnalysis.EmailPattern}', 0))::BIGINT AS n_emails,
           |  len(regexp_extract_all(t, '${TextAnalysis.PhonePattern}', 0))::BIGINT AS n_phones,
           |  md5(regexp_replace(regexp_replace(t, '${TextAnalysis.EmailPattern}', '<EMAIL>', 'g'),
           |      '${TextAnalysis.PhonePattern}', '<PHONE>', 'g')) AS redacted_md5
           |FROM a ORDER BY doc_id""".stripMargin
      ),
      doc = "PII redaction (email + phone masking) over deterministically " +
        "injected PII — map-only regexp_replace chain in the Java∩RE2 " +
        "subset, md5-checked end to end."
    ),
    Q(
      "t_regex",
      (s, d) =>
        Tables
          .documents(s, d)
          .select(
            col("doc_id"),
            regexp_extract(col("text"), "[a-z]*[aeiou][aeiou][a-z]*", 0)
              .as("first_vv_word"),
            lng(size(expr("regexp_extract_all(text, '[aeiou][aeiou]', 0)")))
              .as("n_vv"),
            md5(regexp_replace(col("text"), "[aeiou]", "_")).as("devoweled_md5")
          )
          .orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |  regexp_extract(text, '[a-z]*[aeiou][aeiou][a-z]*') AS first_vv_word,
          |  CAST(len(regexp_extract_all(text, '[aeiou][aeiou]')) AS BIGINT) AS n_vv,
          |  md5(regexp_replace(text, '[aeiou]', '_', 'g')) AS devoweled_md5
          |FROM documents ORDER BY doc_id""".stripMargin
      ),
      doc = "Regexp scalar surface: first-match extraction, non-overlapping " +
        "match counting (regexp_extract_all), global regexp_replace (md5-" +
        "digested). Patterns restricted to the Java-regex ∩ RE2 common " +
        "subset (no backreferences/lookaround) so both engines agree. " +
        "Map-only single scan."
    ),
    Q(
      "t_pmi_collocations",
      (s, d) => {
        // Corpus collocations: the 20 bigrams most over-represented vs
        // their unigrams' independence baseline. Ranked by the exact
        // integer quotient (c_xy * 1e6) div (c_x * c_y), which orders
        // identically to PMI = log(N * c_xy / (c_x * c_y)) at fixed N —
        // log() is libm-dependent across engines, integer division is not.
        //
        // Shape at scale: unigram counts are vocabulary-bounded, so both
        // joins broadcast; bigram counts are one partial-aggregable
        // shuffle; the final top-20 is TakeOrderedAndProject (no global
        // sort materialization).
        val toks = Tables
          .documents(s, d)
          .select(graft.operators.Text.tokensAll(col("text")).as("tk"))
          .filter(size(col("tk")) >= 2)
        val uni = toks
          .select(explode(col("tk")).as("w"))
          .groupBy(col("w"))
          .agg(count(lit(1)).as("c_w"))
        val bg = toks
          .select(
            explode(graft.operators.Dedup.wordShinglesAll(col("tk"), 2)).as("bg")
          )
          .groupBy(col("bg"))
          .agg(count(lit(1)).as("c_xy"))
          .filter(col("c_xy") >= 5)
          .withColumn("w1", split(col("bg"), " ").getItem(0))
          .withColumn("w2", split(col("bg"), " ").getItem(1))
        bg.join(
            broadcast(uni.select(col("w").as("w1"), col("c_w").as("c_x"))),
            Seq("w1")
          )
          .join(
            broadcast(uni.select(col("w").as("w2"), col("c_w").as("c_y"))),
            Seq("w2")
          )
          .withColumn("score_e6", expr("(c_xy * 1000000) div (c_x * c_y)"))
          .orderBy(
            col("score_e6").desc,
            col("c_xy").desc,
            col("w1"),
            col("w2")
          )
          .select("w1", "w2", "c_xy", "c_x", "c_y", "score_e6")
          .limit(20)
      },
      Some(
        s"""WITH t AS (SELECT $toksSql AS tk FROM documents),
           |t2 AS (SELECT tk FROM t WHERE len(tk) >= 2),
           |cu AS (SELECT w, COUNT(*) AS c_w
           |       FROM (SELECT unnest(tk) AS w FROM t2) GROUP BY w),
           |cb AS (SELECT bg, COUNT(*) AS c_xy
           |       FROM (SELECT unnest(list_transform(
           |              generate_series(1, len(tk) - 1),
           |              i -> array_to_string(tk[i:i+1], ' '))) AS bg FROM t2)
           |       GROUP BY bg HAVING COUNT(*) >= 5),
           |sp AS (SELECT split_part(bg, ' ', 1) AS w1,
           |              split_part(bg, ' ', 2) AS w2, c_xy FROM cb)
           |SELECT w1, w2, c_xy, x.c_w AS c_x, y.c_w AS c_y,
           |  (c_xy * 1000000) // (x.c_w * y.c_w) AS score_e6
           |FROM sp JOIN cu x ON sp.w1 = x.w JOIN cu y ON sp.w2 = y.w
           |ORDER BY score_e6 DESC, c_xy DESC, w1, w2 LIMIT 20""".stripMargin
      ),
      doc = "Top-20 PMI collocations (bigram lift over unigram " +
        "independence), min support 5: ranked by the exact integer " +
        "quotient (c_xy*1e6) div (c_x*c_y) — the same order as PMI at " +
        "fixed N, without cross-engine log() drift. Vocabulary-bounded " +
        "broadcast joins + one bigram shuffle + bounded top-k."
    ),
    Q(
      "t_cm_freq",
      (s, d) => {
        // Count-Min sketch point-frequency estimates for the corpus's
        // top-20 tokens, next to their true counts. The sketch is the
        // mergeable O(d*w)-state aggregate; reading it back is pure
        // built-in expressions. md5-salted rows make every counter (and
        // so every estimate) a deterministic function of the token
        // multiset — the oracle recomputes the same counters in SQL.
        import graft.functions.CountMinSketchAgg
        val (depth, width) = (4, 256)
        val tokens = Tables
          .documents(s, d)
          .select(explode(Text.tokensAll(col("text"))).as("t"))
        val counts = tokens.groupBy(col("t")).agg(count(lit(1)).as("true_count"))
        val top = counts.orderBy(col("true_count").desc, col("t")).limit(20)
        val sketch =
          tokens.agg(CountMinSketchAgg.cmSketch(col("t"), depth, width).as("sk"))
        top
          .crossJoin(broadcast(sketch))
          .withColumn(
            "cm_est",
            CountMinSketchAgg.estimate(col("sk"), col("t"), depth, width)
          )
          .select(
            col("t").as("word"),
            col("true_count"),
            col("cm_est"),
            (col("cm_est") - col("true_count")).as("overcount")
          )
          .orderBy(col("true_count").desc, col("word"))
      },
      Some {
        val (depth, width) = (4, 256)
        def b(j: Int, e: String) =
          s"('0x' || substr(md5($e || '#cm$j'), 1, 15))::BIGINT % $width"
        val rowSums = (0 until depth)
          .map(j => s"r$j AS (SELECT ${b(j, "t")} AS b, SUM(true_count)::BIGINT AS s FROM c GROUP BY 1)")
          .mkString(",\n")
        val joins = (0 until depth)
          .map(j => s"JOIN r$j ON ${b(j, "top.t")} = r$j.b")
          .mkString("\n")
        val estExpr = s"least(${(0 until depth).map(j => s"r$j.s").mkString(", ")})"
        s"""WITH tk AS (SELECT unnest($toksSql) AS t FROM documents),
           |c AS (SELECT t, COUNT(*) AS true_count FROM tk GROUP BY t),
           |$rowSums,
           |top AS (SELECT t, true_count FROM c ORDER BY true_count DESC, t LIMIT 20)
           |SELECT top.t AS word, top.true_count AS true_count,
           |  $estExpr AS cm_est,
           |  $estExpr - top.true_count AS overcount
           |FROM top
           |$joins
           |ORDER BY true_count DESC, word""".stripMargin
      },
      doc = "Count-Min sketch frequency estimation (d=4, w=256, mergeable " +
        "O(d*w) aggregate state) checked value-exactly against a DuckDB " +
        "recomputation of every counter: top-20 tokens with true count, " +
        "CM estimate, and overcount (always >= 0 by the CM guarantee)."
    ),
    // ---- the IR pair: build the positional inverted index, then answer a
    // phrase query by postings adjacency — an index seek, never a corpus
    // re-scan. The searched phrase is data-derived (top bigram,
    // deterministic tie-break) so the match set is non-vacuous at any SF.
    Q(
      "t_inverted_index",
      (s, d) => {
        // build-once: postings persisted term-bucket-partitioned/sorted
        // (TextIndex) — steady-state runs read the layout, never re-derive
        val docs = Tables.documents(s, d)
        val dir = graft.operators.TextIndex.ensure(d, docs)
        s.read
          .parquet(s"$dir/postings")
          .select(
            col("term"),
            col("doc_id"),
            col("tf"),
            // string-render the postings for the harness (array columns
            // are unsortable in the pandas compare) — q_array_funcs
            // convention; the persisted index keeps the raw array
            array_join(col("positions").cast("array<string>"), ",").as("positions")
          )
          .orderBy("term", "doc_id")
      },
      Some(
        s"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents),
           |tok AS (
           |  SELECT doc_id, unnest(t) AS term,
           |         unnest(generate_series(1, len(t))) - 1 AS pos
           |  FROM tk)
           |SELECT term, doc_id, COUNT(*)::BIGINT AS tf,
           |  array_to_string(list_sort(list(pos)), ',') AS positions
           |FROM tok GROUP BY term, doc_id ORDER BY term, doc_id""".stripMargin
      ),
      doc = "Positional inverted index: (term, doc, tf, sorted positions) " +
        "— one tokenize+posexplode pass and one partial-aggregable " +
        "groupBy, corpus-linear; persisted term-partitioned it turns " +
        "phrase search into an index seek. Postings bit-checked."
    ),
    Q(
      "t_phrase_search",
      (s, d) => {
        // the plan-real index seek: phrase AND answer both come from the
        // persisted index — the top bigram is index metadata (derived once
        // at build time), and the search reads only the two query terms'
        // partition-pruned buckets. No corpus re-scan anywhere.
        val docs = Tables.documents(s, d)
        val dir = graft.operators.TextIndex.ensure(d, docs)
        val (w1, w2) = graft.operators.TextIndex.topBigram(s, dir)
        graft.operators.TextIndex
          .phraseSearchIndexed(s, dir, w1, w2)
          .orderBy("doc_id", "pos")
      },
      Some(
        s"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents),
           |tok AS (
           |  SELECT doc_id, unnest(t) AS term,
           |         unnest(generate_series(1, len(t))) - 1 AS pos
           |  FROM tk),
           |bg AS (
           |  SELECT a.term AS w1, b.term AS w2, COUNT(*) AS c
           |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
           |  GROUP BY 1, 2),
           |top AS (SELECT w1, w2 FROM bg ORDER BY c DESC, w1, w2 LIMIT 1)
           |SELECT top.w1, top.w2, a.doc_id AS doc_id, a.pos AS pos
           |FROM tok a
           |JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
           |JOIN top ON a.term = top.w1 AND b.term = top.w2
           |ORDER BY a.doc_id, a.pos""".stripMargin
      ),
      doc = "Exact phrase search via postings adjacency: the top corpus " +
        "bigram's every occurrence, answered from the two query terms' " +
        "index rows only (pos+1 membership in the second term's position " +
        "list) — an index seek, not a corpus scan. Occurrences bit-checked."
    ),
    Q(
      "t_search_topk",
      (s, d) => {
        // ranked retrieval ENTIRELY from the persisted index: query terms
        // (top bigram), their postings, df, and N are all index reads —
        // zero corpus scans, driver state = two bucket ids + one count
        val docs = Tables.documents(s, d)
        val dir = graft.operators.TextIndex.ensure(d, docs)
        val (w1, w2) = graft.operators.TextIndex.topBigram(s, dir)
        graft.operators.TextIndex
          .searchTopK(s, dir, Seq(w1, w2), 10)
          .orderBy(col("score").desc, col("doc_id"))
      },
      Some(
        s"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents),
           |tok AS (
           |  SELECT doc_id, unnest(t) AS term,
           |         unnest(generate_series(1, len(t))) - 1 AS pos
           |  FROM tk),
           |post AS (SELECT term, doc_id, COUNT(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
           |bg AS (
           |  SELECT a.term AS w1, b.term AS w2, COUNT(*) AS c
           |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
           |  GROUP BY 1, 2),
           |top AS (SELECT w1, w2 FROM bg ORDER BY c DESC, w1, w2 LIMIT 1),
           |q AS (SELECT DISTINCT term FROM
           |        (SELECT w1 AS term FROM top UNION ALL SELECT w2 FROM top)),
           |n AS (SELECT COUNT(*)::BIGINT AS n FROM documents),
           |p AS (SELECT post.term, post.doc_id, post.tf FROM post JOIN q USING (term)),
           |dfq AS (SELECT term, COUNT(*)::BIGINT AS df FROM p GROUP BY term)
           |SELECT p.doc_id, SUM(p.tf * ((1000000 * n.n) // dfq.df))::BIGINT AS score
           |FROM p JOIN dfq USING (term) CROSS JOIN n
           |GROUP BY p.doc_id ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
      ),
      doc = "tf-idf ranked retrieval from the persisted inverted index: " +
        "top-10 documents for the top-bigram query terms, scored " +
        "sum(tf * ((1e6*N) div df)) in pure integer arithmetic (rank-" +
        "stable on any engine). Postings, df and N are all INDEX reads " +
        "(partition-pruned seek + one stats row) — zero corpus scans; " +
        "top-k is a TakeOrdered over the seek's rows, never a global sort."
    ),
    // ---- BM25 ranked retrieval (the production-default scorer, Lucene's
    // operating point k1=1.2 b=0.75): length-normalized tf part as EXACT
    // integer arithmetic (k1, b kept as the rationals 6/5, 3/4), idf
    // quantized to integral milli units, per-term scores floored then
    // summed — a deterministic BIGINT score on any engine. Postings, df,
    // per-doc length norms, and the (N, S) totals are all INDEX reads.
    Q(
      "t_bm25_search",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val dir = graft.operators.TextIndex.ensure(d, docs)
        val (w1, w2) = graft.operators.TextIndex.topBigram(s, dir)
        graft.operators.TextIndex
          .searchBm25(s, dir, Seq(w1, w2), 10)
          .orderBy(col("score_milli").desc, col("doc_id"))
      },
      Some(
        s"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents),
           |tok AS (
           |  SELECT doc_id, unnest(t) AS term,
           |         unnest(generate_series(1, len(t))) - 1 AS pos
           |  FROM tk),
           |post AS (SELECT term, doc_id, COUNT(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
           |dln AS (SELECT doc_id, COUNT(*)::BIGINT AS dl FROM tok GROUP BY 1),
           |bg AS (
           |  SELECT a.term AS w1, b.term AS w2, COUNT(*) AS c
           |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
           |  GROUP BY 1, 2),
           |top AS (SELECT w1, w2 FROM bg ORDER BY c DESC, w1, w2 LIMIT 1),
           |q AS (SELECT DISTINCT term FROM
           |        (SELECT w1 AS term FROM top UNION ALL SELECT w2 FROM top)),
           |n AS (SELECT COUNT(*)::BIGINT AS n FROM documents),
           |tot AS (SELECT COUNT(*)::BIGINT AS s FROM tok),
           |p AS (SELECT post.term, post.doc_id, post.tf, dln.dl
           |      FROM post JOIN q USING (term) JOIN dln USING (doc_id)),
           |dfq AS (SELECT term, COUNT(*)::BIGINT AS df FROM p GROUP BY term),
           |idf AS (SELECT term, df,
           |          floor(1000.0 * ln((2.0 * n.n + 2.0) / (2.0 * df + 1.0)))::BIGINT AS idf_milli
           |        FROM dfq CROSS JOIN n)
           |SELECT p.doc_id, COUNT(*)::BIGINT AS n_terms,
           |  SUM((idf.idf_milli * 44 * p.tf * tot.s)
           |      // (20 * p.tf * tot.s + 6 * tot.s + 18 * p.dl * n.n))::BIGINT AS score_milli
           |FROM p JOIN idf USING (term) CROSS JOIN n CROSS JOIN tot
           |GROUP BY p.doc_id ORDER BY score_milli DESC, doc_id LIMIT 10""".stripMargin
      ),
      doc = "BM25 ranked retrieval from the persisted inverted index " +
        "(k1=1.2, b=0.75 as exact rationals): top-10 documents for the " +
        "top-bigram query terms. The length-normalized tf part is pure " +
        "integer arithmetic over the stored per-doc length norms " +
        "(44·tf·S div (20·tf·S + 6·S + 18·dl·N)); the idf is milli-" +
        "quantized floor(1000·ln((2N+2)/(2df+1))); per-term scores " +
        "floored then summed — deterministic BIGINT on any engine. " +
        "Everything is an index read: partition-pruned postings seek " +
        "carrying (tf, dl), one broadcast |terms|-row df frame, one " +
        "stats row, bounded top-k."
    ),
    // ---- the retrieve -> rerank pipeline (RAG stage 2): cheap index
    // retrieval generates a BOUNDED candidate set, an expensive relevance
    // model re-scores only those candidates. The "cross-encoder" here is
    // the deterministic md5 stub (the m_embed_batch inference-stub
    // convention — at scale this stage is the batched mapPartitions model
    // call, and its cost is k rows per query, independent of corpus size).
    Q(
      "t_search_rerank",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val dir = graft.operators.TextIndex.ensure(d, docs)
        val (w1, w2) = graft.operators.TextIndex.topBigram(s, dir)
        graft.operators.TextIndex
          .searchTopK(s, dir, Seq(w1, w2), 20)
          .withColumn(
            "ce_score",
            graft.util.Cols.md5Long(
              concat(lit(w1), lit(" "), lit(w2), lit("#"), col("doc_id"))
            ) % 1000000L
          )
          .orderBy(col("ce_score").desc, col("doc_id"))
          .limit(10)
          .select("doc_id", "score", "ce_score")
      },
      Some(
        s"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents),
           |tok AS (
           |  SELECT doc_id, unnest(t) AS term,
           |         unnest(generate_series(1, len(t))) - 1 AS pos
           |  FROM tk),
           |post AS (SELECT term, doc_id, COUNT(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
           |bg AS (
           |  SELECT a.term AS w1, b.term AS w2, COUNT(*) AS c
           |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
           |  GROUP BY 1, 2),
           |top AS (SELECT w1, w2 FROM bg ORDER BY c DESC, w1, w2 LIMIT 1),
           |q AS (SELECT DISTINCT term FROM
           |        (SELECT w1 AS term FROM top UNION ALL SELECT w2 FROM top)),
           |n AS (SELECT COUNT(*)::BIGINT AS n FROM documents),
           |p AS (SELECT post.term, post.doc_id, post.tf FROM post JOIN q USING (term)),
           |dfq AS (SELECT term, COUNT(*)::BIGINT AS df FROM p GROUP BY term),
           |cand AS (
           |  SELECT p.doc_id, SUM(p.tf * ((1000000 * n.n) // dfq.df))::BIGINT AS score
           |  FROM p JOIN dfq USING (term) CROSS JOIN n
           |  GROUP BY p.doc_id ORDER BY score DESC, doc_id LIMIT 20)
           |SELECT cand.doc_id, cand.score,
           |  (('0x' || substr(md5(top.w1 || ' ' || top.w2 || '#' || cand.doc_id), 1, 15))::BIGINT
           |    % 1000000)::BIGINT AS ce_score
           |FROM cand CROSS JOIN top
           |ORDER BY ce_score DESC, doc_id LIMIT 10""".stripMargin
      ),
      doc = "Retrieve-then-rerank (RAG stage 2): tf-idf index retrieval " +
        "bounds the candidate set to 20 rows, then the deterministic " +
        "cross-encoder stub re-scores ONLY those candidates and the " +
        "final top-10 orders by model score. Rerank cost is k rows per " +
        "query regardless of corpus size; both stages' scores and the " +
        "final ranking bit-replay."
    ),
    Q(
      "t_bool_search",
      (s, d) => {
        // boolean retrieval ENTIRELY from the persisted index: one pruned
        // seek for all three terms, AND as one aggregate, NOT as an
        // anti-join — zero corpus scans
        val docs = Tables.documents(s, d)
        val dir = graft.operators.TextIndex.ensure(d, docs)
        graft.operators.TextIndex
          .booleanSearch(s, dir, must = Seq("table", "hash"), mustNot = Seq("window"))
          .orderBy("doc_id")
      },
      Some(
        s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
           |m AS (SELECT doc_id,
           |        len(list_filter(tk, w -> w = 'table')) AS tf1,
           |        len(list_filter(tk, w -> w = 'hash')) AS tf2,
           |        len(list_filter(tk, w -> w = 'window')) AS tfx
           |      FROM t)
           |SELECT doc_id, (tf1 + tf2)::BIGINT AS tf_sum
           |FROM m WHERE tf1 > 0 AND tf2 > 0 AND tfx = 0
           |ORDER BY doc_id""".stripMargin
      ),
      doc = "Boolean retrieval from the persisted inverted index: docs " +
        "matching table AND hash AND NOT window, with summed must-term " +
        "tf. All three terms' postings come from ONE partition-pruned " +
        "seek; the AND is postings intersection as a single aggregate " +
        "(count-distinct-terms == |must|, no per-term self-joins), the " +
        "NOT one anti-join. O(sum df) seek rows at any corpus size; the " +
        "oracle replays from raw text (non-vacuous: the exclusion " +
        "removes ~80% of the conjunction's matches)."
    ),
    // ---- the cardinality leg of the sketch family: per-language distinct
    // token counts through the mergeable HLL aggregate, next to the exact
    // answer. Bucket ranks come from integer bit lengths (no floating log)
    // and the estimate from DECIMAL-exact arithmetic, so DuckDB replays
    // every bucket and the final estimate bit-for-bit.
    Q(
      "t_hll_distinct",
      (s, d) => {
        import graft.functions.HllAgg
        val m = 256
        // distinct POSTINGS (token, doc) per language — the synthetic
        // corpus' closed 30-word vocabulary is below the raw-HLL regime,
        // postings (~thousands per language) are squarely inside it
        val toks = Tables
          .documents(s, d)
          .select(
            col("lang"),
            col("doc_id"),
            explode(Text.tokensAll(col("text"))).as("w")
          )
          .select(
            col("lang"),
            concat(col("w"), lit("#"), col("doc_id").cast("string")).as("t")
          )
        toks
          .groupBy(col("lang"))
          .agg(
            countDistinct(col("t")).as("true_distinct"),
            HllAgg.hll(col("t"), m).as("sk")
          )
          .withColumn("hll_est", HllAgg.estimate(col("sk"), m))
          .withColumn(
            "err_bp",
            call_function(
              "div",
              abs(col("hll_est") - col("true_distinct")) * lit(10000L),
              col("true_distinct")
            )
          )
          .select("lang", "true_distinct", "hll_est", "err_bp")
          .orderBy("lang")
      },
      Some {
        val m = 256
        val alpha = graft.functions.HllAgg.alphaE6(m)
        // windowBits = 60 - log2(m) = 52; rank = 52 - bitLength(v) + 1,
        // capped at 53 when the whole window is zero
        s"""WITH tk AS (
           |  SELECT lang, unnest($toksSql) || '#' || doc_id::VARCHAR AS t FROM documents),
           |dt AS (SELECT DISTINCT lang, t FROM tk),
           |truth AS (SELECT lang, COUNT(*)::BIGINT AS true_distinct FROM dt GROUP BY lang),
           |h AS (
           |  SELECT lang,
           |    ('0x' || substr(md5(t || '#hll'), 1, 15))::BIGINT % $m AS bucket,
           |    ('0x' || substr(md5(t || '#hll'), 1, 15))::BIGINT // $m AS v
           |  FROM dt),
           |r AS (
           |  SELECT lang, bucket,
           |    MAX(CASE WHEN v = 0 THEN 53 ELSE 52 - length(format('{:b}', v)) + 1 END) AS rank
           |  FROM h GROUP BY lang, bucket),
           |fullb AS (
           |  SELECT truth.lang, gs.b AS bucket, coalesce(r.rank, 0) AS rank
           |  FROM truth CROSS JOIN (SELECT unnest(generate_series(0, ${m - 1})) AS b) gs
           |  LEFT JOIN r ON r.lang = truth.lang AND r.bucket = gs.b),
           |s AS (
           |  SELECT lang,
           |    SUM(CASE WHEN rank = 0 THEN 2::HUGEINT * ((1::BIGINT << 62)::HUGEINT)
           |             ELSE ((1::BIGINT << (63 - rank)))::HUGEINT END) AS ssum
           |  FROM fullb GROUP BY lang),
           |est AS (
           |  SELECT lang,
           |    (($alpha::HUGEINT * ${m.toLong * m} * (2::HUGEINT * ((1::BIGINT << 62)::HUGEINT)))
           |      // (ssum * 1000000))::BIGINT AS hll_est
           |  FROM s)
           |SELECT truth.lang AS lang, true_distinct, hll_est,
           |  ((abs(hll_est - true_distinct) * 10000) // true_distinct)::BIGINT AS err_bp
           |FROM truth JOIN est ON truth.lang = est.lang
           |ORDER BY lang""".stripMargin
      },
      doc = s"HyperLogLog distinct-postings estimation per language (m=256, " +
        "mergeable O(m) max-rank aggregate, ~6.5% standard error): true " +
        "distinct, HLL estimate, and basis-point error — every bucket rank " +
        "(integer bit lengths, no floating log) and the DECIMAL-exact " +
        "estimator replayed bit-for-bit by the DuckDB oracle."
    ),
    // ---- the Unicode tokenizer next to the reference-parity ASCII one:
    // the corpus union includes multilingual fixture rows (the synthetic
    // table is pure ASCII), so the \p{L}-vs-[a-z] difference is hash-
    // checked on real non-ASCII text, token lists included, not just
    // asserted to exist.
    Q(
      "t_tokcount_unicode",
      (s, d) => {
        import s.implicits._
        val fixture = Text.UnicodeFixture.toDF("doc_id", "text")
        Tables
          .documents(s, d)
          .select(col("doc_id"), col("text"))
          .unionByName(fixture)
          .select(
            col("doc_id"),
            size(Text.tokensUnicodeAll(col("text"))).cast("long").as("n_tok_uni"),
            size(Text.tokensAll(col("text"))).cast("long").as("n_tok_ascii"),
            concat_ws(" ", Text.tokensUnicodeAll(col("text"))).as("toks_uni")
          )
          .orderBy("doc_id")
      },
      Some(
        s"""WITH d AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT * FROM (VALUES ${Text.unicodeFixtureSql}) AS f(doc_id, text)
           |),
           |t AS (SELECT doc_id,
           |  list_filter(${Text.tokensUnicodeSqlAll("text")}, w -> length(w) > 1) AS tu,
           |  list_filter(${Text.tokensSqlAll("text")}, w -> length(w) > 1) AS ta
           |FROM d)
           |SELECT doc_id, len(tu)::BIGINT AS n_tok_uni, len(ta)::BIGINT AS n_tok_ascii,
           |  array_to_string(tu, ' ') AS toks_uni
           |FROM t ORDER BY doc_id""".stripMargin
      ),
      doc = "Unicode-aware tokenization (\\p{L} letter classes, any " +
        "script) beside the reference-pinned [a-z] tokenizer: per-doc " +
        "token counts under both alphabets plus the full Unicode token " +
        "list, bit-checked over an ASCII corpus UNION a multilingual " +
        "fixture (de/fr/es/el/ru) where the two tokenizers genuinely " +
        "diverge. Map-only, stays in codegen."
    ),
    // ---- statistical-LM quality scoring (the CCNet/KenLM filtering
    // family): score each document by the average corpus conditional
    // bigram probability p(w2|w1) = c_xy / c_x over its OCCURRING bigrams
    // (multiplicity kept — true LM counts, unlike t_bigram_freq's
    // document-frequency proxy). All arithmetic is the scaled integer
    // quotient (c_xy·1e6) div c_x — the same order as avg log-prob at
    // fixed vocabulary without cross-engine libm drift.
    Q(
      "t_lm_score",
      (s, d) =>
        // operator body in TextAnalysis.lmScores (shared with the
        // curriculum-phasing query)
        TextAnalysis.lmScores(Tables.documents(s, d)).orderBy("doc_id"),
      Some(
        s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
           |bg AS (
           |  SELECT doc_id,
           |    unnest(list_transform(generate_series(1, len(tk) - 1),
           |      i -> tk[i] || ' ' || tk[i+1])) AS bg
           |  FROM t
           |),
           |cxy AS (SELECT bg, COUNT(*) AS c_xy FROM bg GROUP BY bg),
           |cx AS (SELECT w, COUNT(*) AS c_x
           |       FROM (SELECT unnest(tk) AS w FROM t) GROUP BY w)
           |SELECT doc_id, COUNT(*) AS n_bigrams,
           |  (SUM((c_xy * 1000000) // c_x) // COUNT(*))::BIGINT AS lm_score_e6
           |FROM bg
           |JOIN cxy USING (bg)
           |JOIN cx ON split_part(bg.bg, ' ', 1) = cx.w
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin
      ),
      doc = "Statistical-LM quality score (CCNet-family filter): per-doc " +
        "mean scaled conditional bigram probability (c_xy*1e6) div c_x " +
        "over occurring bigrams, integer-exact end to end. One corpus " +
        "bigram aggregate + one 8-byte-key scoring join + a broadcast " +
        "vocabulary-bounded unigram side."
    ),
    Q(
      "t_kn_lm",
      (s, d) =>
        TextAnalysis.knScores(Tables.documents(s, d)).orderBy("doc_id"),
      Some(
        s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
           |bg AS (
           |  SELECT doc_id,
           |    unnest(list_transform(generate_series(1, len(tk) - 1),
           |      i -> tk[i] || ' ' || tk[i+1])) AS bg
           |  FROM t
           |),
           |sp AS (SELECT doc_id, bg,
           |         split_part(bg, ' ', 1) AS w1,
           |         split_part(bg, ' ', 2) AS w2
           |       FROM bg),
           |cxy AS (SELECT bg, COUNT(*) AS c_xy FROM sp GROUP BY bg),
           |cx AS (SELECT w1, COUNT(*) AS c_x, COUNT(DISTINCT w2) AS n1f
           |       FROM sp GROUP BY w1),
           |bw AS (SELECT w2, COUNT(DISTINCT w1) AS n1b FROM sp GROUP BY w2),
           |nt AS (SELECT COUNT(DISTINCT bg) AS n_types FROM sp)
           |SELECT doc_id, COUNT(*) AS n_bigrams,
           |  (SUM(((4 * c_xy::HUGEINT - 3) * 250000000) // c_x
           |     + (750000000::HUGEINT * n1f * n1b) // (c_x::HUGEINT * n_types))
           |   // COUNT(*))::BIGINT AS kn_score_e9
           |FROM sp
           |JOIN cxy USING (bg)
           |JOIN cx USING (w1)
           |JOIN bw USING (w2)
           |CROSS JOIN nt
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin
      ),
      doc = "Interpolated Kneser-Ney bigram LM score (D=3/4): discounted " +
        "conditional probability plus the continuation-probability " +
        "back-off N1+(.w2)/N1+(..) — the smoothing real LM-quality " +
        "filters use. Integer-exact at 1e-9 scale (floor-division " +
        "identity a div b div c = a div (b*c) keeps each term ONE " +
        "division), so every score bit-replays. Same scale shape as " +
        "t_lm_score: 8-byte hash shuffle keys, broadcast " +
        "vocabulary-bounded unigram/continuation sides, one scalar " +
        "bigram-type count crossed in."
    ),
    // ---- the PRODUCTION form of LM-quality scoring: the model comes
    // from a REFERENCE split and everything is scored against it (CCNet
    // trains on Wikipedia, scores Common Crawl) — self-scoring lets
    // boilerplate inflate its own fluency. Held-out docs hit unseen
    // contexts/bigrams/continuations non-vacuously, each with an exact
    // integer out-of-model rule.
    Q(
      "t_kn_heldout",
      (s, d) =>
        TextAnalysis
          .knScoresHeldOut(Tables.documents(s, d), col("doc_id") % 10 < 8)
          .orderBy("doc_id"),
      Some(
        s"""WITH t AS (SELECT doc_id, (doc_id % 10 < 8) AS in_train, $toksSql AS tk
           |           FROM documents),
           |bg AS (
           |  SELECT doc_id, in_train,
           |    unnest(list_transform(generate_series(1, len(tk) - 1),
           |      i -> tk[i] || ' ' || tk[i+1])) AS bg
           |  FROM t
           |),
           |sp AS (SELECT doc_id, in_train, bg,
           |         split_part(bg, ' ', 1) AS w1,
           |         split_part(bg, ' ', 2) AS w2
           |       FROM bg),
           |trn AS (SELECT * FROM sp WHERE in_train),
           |cxy AS (SELECT bg, COUNT(*) AS c_xy FROM trn GROUP BY bg),
           |cx AS (SELECT w1, COUNT(*) AS c_x, COUNT(DISTINCT w2) AS n1f
           |       FROM trn GROUP BY w1),
           |bw AS (SELECT w2, COUNT(DISTINCT w1) AS n1b FROM trn GROUP BY w2),
           |nt AS (SELECT COUNT(DISTINCT bg) AS n_types FROM trn)
           |SELECT doc_id, COUNT(*) AS n_bigrams, in_train,
           |  (SUM(CASE WHEN c_x IS NULL THEN 0
           |       ELSE (CASE WHEN c_xy IS NULL THEN 0
           |             ELSE ((4 * c_xy::HUGEINT - 3) * 250000000) // c_x END)
           |         + (750000000::HUGEINT * n1f * coalesce(n1b, 0)) // (c_x::HUGEINT * n_types)
           |       END)
           |   // COUNT(*))::BIGINT AS kn_ref_score_e9
           |FROM sp
           |LEFT JOIN cxy USING (bg)
           |LEFT JOIN cx USING (w1)
           |LEFT JOIN bw USING (w2)
           |CROSS JOIN nt
           |GROUP BY doc_id, in_train ORDER BY doc_id""".stripMargin
      ),
      doc = "Held-out Kneser-Ney LM scoring — the CCNet production shape: " +
        "statistics from the doc_id%10<8 reference split only, every " +
        "document scored against that FIXED model. Out-of-model rules, " +
        "exact integers: unseen context contributes 0; seen context with " +
        "unseen bigram keeps only the continuation back-off (the " +
        "discounted term truncates at 0); unseen continuation zeroes the " +
        "back-off. Statistics sides are train-sized broadcasts; scoring " +
        "is left joins on 8-byte hash keys. Every score bit-replayed, " +
        "held-out out-of-model lanes non-vacuous by construction."
    ),
    Q(
      "t_vocab_coverage",
      (s, d) =>
        TextAnalysis
          .oovStats(Tables.documents(s, d), 25)
          .orderBy("doc_id"),
      Some(s"""WITH tk AS (
             |  SELECT doc_id, unnest($toksSql) AS token FROM documents),
             |cnt AS (SELECT token, COUNT(*)::BIGINT AS c FROM tk GROUP BY token),
             |vocab AS (SELECT token FROM cnt ORDER BY c DESC, token LIMIT 25)
             |SELECT tk.doc_id, COUNT(*)::BIGINT AS n_tok,
             |  SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
             |  ((1000 * SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)) // COUNT(*))::BIGINT
             |    AS oov_permille
             |FROM tk LEFT JOIN vocab v ON tk.token = v.token
             |GROUP BY tk.doc_id ORDER BY tk.doc_id""".stripMargin),
      doc = "Vocabulary construction + coverage: top-25 corpus vocabulary " +
        "(cnt desc, token asc tiebreak) broadcast against the token " +
        "stream; per-doc OOV counts and integral permille rate. The " +
        "vocab is MBs at any corpus size, so membership stays map-side."
    ),
    Q(
      "t_dist_drift",
      (s, d) => {
        val tk = Tables
          .documents(s, d)
          .filter(col("lang").isin("en", "de"))
          .select(col("lang"), explode(Text.tokensAll(col("text"))).as("token"))
        val cnt = tk.groupBy(col("lang"), col("token")).agg(count(lit(1)).as("f"))
        val tot = cnt.groupBy(col("lang")).agg(lng(sum(col("f"))).as("n"))
        val p = cnt
          .join(broadcast(tot), "lang")
          .select(col("lang"), col("token"), expr("(f * 1000000) div n").as("p_e6"))
        val pv = p
          .groupBy(col("token"))
          .agg(
            lng(sum(when(col("lang") === "en", col("p_e6")).otherwise(0L))).as("p_en_e6"),
            lng(sum(when(col("lang") === "de", col("p_e6")).otherwise(0L))).as("p_de_e6")
          )
          .withColumn("drift_e6", abs(col("p_en_e6") - col("p_de_e6")))
        val tv = pv.agg(expr("sum(drift_e6) div 2").as("tv_e6"))
        pv.crossJoin(broadcast(tv))
          .select(col("token"), col("p_en_e6"), col("p_de_e6"), col("drift_e6"), col("tv_e6"))
          .orderBy(col("drift_e6").desc, col("token"))
          .limit(10)
      },
      Some(s"""WITH tk AS (
             |  SELECT lang, unnest($toksSql) AS token
             |  FROM documents WHERE lang IN ('en', 'de')),
             |cnt AS (SELECT lang, token, COUNT(*)::BIGINT AS f FROM tk GROUP BY 1, 2),
             |tot AS (SELECT lang, SUM(f)::BIGINT AS n FROM cnt GROUP BY 1),
             |p AS (SELECT cnt.lang, token, ((f * 1000000) // n)::BIGINT AS p_e6
             |      FROM cnt JOIN tot ON cnt.lang = tot.lang),
             |pv AS (SELECT token,
             |    SUM(CASE WHEN lang = 'en' THEN p_e6 ELSE 0 END)::BIGINT AS p_en_e6,
             |    SUM(CASE WHEN lang = 'de' THEN p_e6 ELSE 0 END)::BIGINT AS p_de_e6
             |  FROM p GROUP BY token),
             |d AS (SELECT token, p_en_e6, p_de_e6,
             |    abs(p_en_e6 - p_de_e6)::BIGINT AS drift_e6 FROM pv),
             |tv AS (SELECT (SUM(drift_e6) // 2)::BIGINT AS tv_e6 FROM d)
             |SELECT token, p_en_e6, p_de_e6, drift_e6, tv_e6
             |FROM d CROSS JOIN tv
             |ORDER BY drift_e6 DESC, token LIMIT 10""".stripMargin),
      doc = "Corpus distribution drift: integral total-variation distance " +
        "between two slices' token distributions (permicro shares, " +
        "integer div — no double division anywhere), plus the top drift-" +
        "contributing tokens. The monitoring primitive for detecting " +
        "corpus composition shift between snapshots/sources; two " +
        "hash-keyed aggregates + a 2-row broadcast, linear at any scale."
    ),
    Q(
      "t_bpe_merges",
      (s, d) =>
        TextAnalysis
          .bpeTrain(Tables.documents(s, d), BpeSteps)
          .orderBy("step"),
      Some(bpeOracle(BpeSteps)),
      doc = "BPE tokenizer training (Sennrich et al. 2016): " +
        s"$BpeSteps merge rules learned over frequency-weighted " +
        "vocabulary char sequences. One corpus pass builds (word, cnt); " +
        "every merge step runs on that compact table — pair counts, " +
        "argmax (cnt desc, pair asc), canonical greedy left-to-right " +
        "rewrite as a pure fold. The DuckDB oracle replays all steps " +
        "with list_reduce: every rule and support count is bit-exact."
    ),
    Q(
      "t_bpe_local",
      (s, d) =>
        TextAnalysis
          .bpeTrainWordsLocal(
            TextAnalysis
              .wordCounts(Tables.documents(s, d))
              .select(col("token").as("word"), col("cnt")),
            BpeSteps
          )
          ._1
          .orderBy("step"),
      Some(bpeOracle(BpeSteps)),
      doc = "BPE training via the driver-local incremental trainer " +
        "(lazy-deletion max-heap + occurrence-indexed pair-count " +
        "maintenance, the Sennrich learn_bpe architecture): one " +
        "distributed pass builds the frequency-weighted word table, " +
        "then every merge is O(affected words) on the driver instead " +
        "of a cluster round trip — the production path for 32k-merge " +
        "vocabularies. Same DuckDB oracle as t_bpe_merges: the merge " +
        "table must stay bit-equal to the distributed trainer."
    ),
    Q(
      "t_bpe_ids",
      (s, d) => {
        // The training-data OUTPUT format: every document as its integer
        // token-id sequence under the trained tokenizer. Id scheme is the
        // standard one — base alphabet (distinct code points of the word
        // table, sorted) gets ids 0..A-1, merge step j gets id A-1+j
        // (duplicate merged strings resolve to their FIRST producing
        // step). The trained model (segmentations + symbol table) is
        // vocabulary-sized and broadcast; encoding is a map-side join
        // over the positioned token stream plus one per-doc assembly
        // aggregate (collect_list bounded by doc length) — the d_substr
        // rebuild shape, no window, no corpus-sized driver state.
        val docs = Tables.documents(s, d)
        val words = TextAnalysis
          .wordCounts(docs)
          .select(col("token").as("word"), col("cnt"))
        val (merges, seqs) = TextAnalysis.bpeTrainWordsLocal(words, BpeSteps)
        val alphaAgg = words
          .select(explode(expr("regexp_extract_all(word, '.', 0)")).as("sym"))
          .agg(sort_array(collect_set(col("sym"))).as("syms"))
          .localCheckpoint(true) // 1 row; feeds the id table and the offset
        val alphaTab = alphaAgg
          .select(posexplode(col("syms")).as(Seq("id", "sym")))
          .select(col("sym"), col("id").cast("long").as("id"))
        val aCount = alphaAgg.select(size(col("syms")).cast("long").as("a"))
        val mergedTab = merges
          .groupBy(col("merged").as("sym"))
          .agg(min(col("step")).as("st"))
          .crossJoin(broadcast(aCount))
          .select(col("sym"), (col("a") - 1 + col("st")).as("id"))
        val symtab = alphaTab.unionByName(mergedTab)
        val vocab = seqs.select(col("word").as("token"), split(col("seq"), " ").as("subs"))
        val sw = docs
          .select(col("doc_id"), posexplode(Text.tokensAll(col("text"))).as(Seq("pos", "token")))
          .join(broadcast(vocab), Seq("token"))
          .select(col("doc_id"), col("pos"), posexplode(col("subs")).as(Seq("pos2", "sym")))
        sw.join(broadcast(symtab), Seq("sym"))
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).cast("long").as("n_ids"),
            concat_ws(
              " ",
              transform(
                array_sort(collect_list(struct(col("pos"), col("pos2"), col("id")))),
                _.getField("id").cast("string")
              )
            ).as("ids_txt")
          )
          .orderBy("doc_id")
      },
      Some {
        val n = BpeSteps
        val unions = (1 to n)
          .map(i => s"SELECT CAST($i AS BIGINT) AS step, x || y AS merged FROM b$i")
          .mkString("\nUNION ALL\n")
        s"""WITH ${bpeChain(n)},
           |mt AS ($unions),
           |alpha AS (SELECT DISTINCT unnest(string_split(seq, ' ')) AS sym FROM s0),
           |an AS (SELECT COUNT(*)::BIGINT AS a FROM alpha),
           |aid AS (SELECT sym, (row_number() OVER (ORDER BY sym) - 1)::BIGINT AS id FROM alpha),
           |mid AS (SELECT merged AS sym, ((SELECT a FROM an) - 1 + MIN(step))::BIGINT AS id
           |        FROM mt GROUP BY merged),
           |symtab AS (SELECT * FROM aid UNION ALL SELECT * FROM mid),
           |dt AS (SELECT doc_id, u.i AS pos, tk[u.i] AS token
           |       FROM (SELECT doc_id, $toksSql AS tk FROM documents)
           |       CROSS JOIN unnest(generate_series(1, len(tk))) AS u(i)),
           |sw AS (SELECT dt.doc_id, dt.pos, u.j AS pos2,
           |         string_split(s$n.seq, ' ')[u.j] AS sym
           |       FROM dt JOIN s$n ON dt.token = s$n.word
           |       CROSS JOIN unnest(generate_series(1, len(string_split(s$n.seq, ' ')))) AS u(j))
           |SELECT sw.doc_id, COUNT(*)::BIGINT AS n_ids,
           |  string_agg(symtab.id::VARCHAR, ' ' ORDER BY sw.pos, sw.pos2) AS ids_txt
           |FROM sw JOIN symtab ON sw.sym = symtab.sym
           |GROUP BY sw.doc_id ORDER BY sw.doc_id""".stripMargin
      },
      doc = "Materialized token-id encoding — the tensor-ready training " +
        "output: each document as its integer id sequence under the " +
        "trained BPE tokenizer (alphabet ids 0..A-1 sorted, merge j = " +
        "A-1+j, duplicate merged strings resolve to their first step). " +
        "Trained via the driver-local incremental trainer; the " +
        "segmentation and symbol tables are broadcast, encoding is " +
        "map-side joins over the positioned token stream plus one " +
        "bounded per-doc assembly aggregate. Every id of every document " +
        "bit-replayed in DuckDB through the full merge chain."
    ),
    Q(
      "t_bpe_encode",
      (s, d) =>
        TextAnalysis
          .bpeEncodeStats(Tables.documents(s, d), BpeSteps)
          .orderBy("doc_id"),
      Some(bpeEncodeOracle(BpeSteps)),
      doc = "Corpus encoding with the trained BPE tokenizer: per-doc " +
        "word count, subword count, and integral subwords-per-100-words " +
        "fertility. The trained (word -> segmentation) table is " +
        "broadcast — corpus-size-invariant — so encoding is a map-side " +
        "join over the token stream plus one per-doc aggregate; no " +
        "per-document merge replay. Oracle re-derives the full trained " +
        "vocabulary and every doc's stats bit-exactly."
    ),
    // ---- BYTE-LEVEL BPE (the GPT-2-family operating mode): symbols are
    // UTF-8 bytes (hex pairs — identical uppercase hex(encode(...)) in
    // both engines), base alphabet = 256 byte values, so the tokenizer
    // has no OOV by construction.
    Q(
      "t_bpe_bytes",
      (s, d) => {
        import s.implicits._
        val du = Tables
          .documents(s, d)
          .select(col("doc_id"), col("text"))
          .unionByName(Text.UnicodeFixture.toDF("doc_id", "text"))
        val words = du
          .select(explode(Text.tokensUnicodeAll(col("text"))).as("word"))
          .groupBy(col("word"))
          .agg(lng(count(lit(1))).as("cnt"))
        TextAnalysis
          .bpeTrainWordsByteLevel(words, BpeSteps)
          ._1
          .orderBy("step")
      },
      Some(bpeByteOracle(BpeSteps)),
      doc = "Byte-level BPE training (Sennrich merges over UTF-8 bytes, " +
        "GPT-2 style) on the ASCII corpus UNION the multilingual " +
        "fixture: multi-byte UTF-8 characters are just frequent byte " +
        "pairs the trainer merges when the data supports it. Merge " +
        "table bit-checked — the oracle replays the whole chain over " +
        "the identical hex-pair symbol rendering."
    ),
    Q(
      "t_bpe_bytes_encode",
      (s, d) => {
        import s.implicits._
        val corpus = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val du = corpus.unionByName(Text.UnicodeFixture.toDF("doc_id", "text"))
        // trained rules READ from the published tokenizer artifact
        // (BpeSteps rows of driver-held vocabulary state) — encode jobs
        // never re-run the training rounds
        val merges = graft.operators.TokenizerExport
          .merges(s, tokenizerAssetDir(s, d))
          .orderBy("step")
          .select(col("x"), col("y"))
          .as[(String, String)]
          .collect()
          .toSeq
        val toks = du
          .select(col("doc_id"), explode(Text.tokensUnicodeAll(col("text"))).as("word"))
        // encode EVERY distinct word by applying the learned folds to its
        // byte sequence — unseen (non-Latin) words fall back to byte
        // symbols instead of dropping: the no-OOV property, live
        val encoded = toks
          .select(col("word"))
          .distinct()
          .select(
            col("word"),
            size(
              split(
                TextAnalysis.bpeApplyMerges(TextAnalysis.byteSeq(col("word")), merges),
                " "
              )
            ).cast("long").as("n_sub")
          )
        toks
          .join(broadcast(encoded), Seq("word"))
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_words"),
            lng(sum(col("n_sub"))).as("n_subwords")
          )
          .withColumn("subwords_per_100w", expr("(100 * n_subwords) div n_words"))
          .orderBy("doc_id")
      },
      Some(bpeByteEncodeOracle(BpeSteps)),
      doc = "Byte-fallback encoding: train byte-level BPE on the ASCII " +
        "corpus only, then encode corpus UNION multilingual fixture by " +
        "APPLYING the learned merge folds to every word's byte " +
        "sequence — no vocabulary membership test anywhere, so the " +
        "fixture's unseen Cyrillic/Greek/accented words encode to raw " +
        "byte symbols (never OOV). Inner join row count == left rows by " +
        "construction; the per-doc fertility stats over the union are " +
        "the gate."
    ),
    Q(
      "t_bpe_bytes_ids",
      (s, d) => {
        import s.implicits._
        // tensor-ready ids under the byte-level tokenizer: the id space
        // is FIXED by construction — base ids 0..255 ARE the byte values
        // (no corpus-derived alphabet table), merge step j gets 255+j.
        // Rules READ from the published tokenizer artifact (trained on
        // the ASCII corpus), encode the union: unseen non-Latin words
        // produce raw byte ids — a total id encoding, never OOV.
        val corpus = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val du = corpus.unionByName(Text.UnicodeFixture.toDF("doc_id", "text"))
        val mergesDf = graft.operators.TokenizerExport.merges(s, tokenizerAssetDir(s, d))
        val merges = mergesDf
          .orderBy("step")
          .select(col("x"), col("y"))
          .as[(String, String)]
          .collect()
          .toSeq
        val mergedTab = mergesDf
          .groupBy(col("merged").as("sym"))
          .agg((lit(255L) + min(col("step"))).as("mid"))
        val toks = du
          .select(col("doc_id"), posexplode(Text.tokensUnicodeAll(col("text"))).as(Seq("pos", "word")))
        val encoded = toks
          .select(col("word"))
          .distinct()
          .select(
            col("word"),
            split(
              TextAnalysis.bpeApplyMerges(TextAnalysis.byteSeq(col("word")), merges),
              " "
            ).as("subs")
          )
        toks
          .join(broadcast(encoded), Seq("word"))
          .select(col("doc_id"), col("pos"), posexplode(col("subs")).as(Seq("pos2", "sym")))
          .join(broadcast(mergedTab), Seq("sym"), "left")
          .select(
            col("doc_id"),
            col("pos"),
            col("pos2"),
            coalesce(col("mid"), conv(col("sym"), 16, 10).cast("long")).as("id")
          )
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).cast("long").as("n_ids"),
            concat_ws(
              " ",
              transform(
                array_sort(collect_list(struct(col("pos"), col("pos2"), col("id")))),
                _.getField("id").cast("string")
              )
            ).as("ids_txt")
          )
          .orderBy("doc_id")
      },
      Some {
        val n = BpeSteps
        val folds = (1 to n)
          .map { i =>
            s"""e$i AS (SELECT word, list_reduce(string_split(seq, ' '),
               |    (acc, t) -> CASE
               |      WHEN (acc = x OR ends_with(acc, ' ' || x)) AND t = y
               |      THEN acc || y ELSE acc || ' ' || t END) AS seq
               |  FROM e${i - 1} CROSS JOIN b$i)""".stripMargin
          }
          .mkString(",\n")
        val mt = (1 to n)
          .map(i => s"SELECT CAST($i AS BIGINT) AS step, x || y AS merged FROM b$i")
          .mkString("\nUNION ALL\n")
        s"""WITH ${bpeByteChain(n, "documents")},
           |$unionDocsCte,
           |mt0 AS ($mt),
           |mtab AS (SELECT merged AS sym, (255 + MIN(step))::BIGINT AS mid
           |         FROM mt0 GROUP BY merged),
           |ew AS (SELECT doc_id, u.i AS pos, tk2[u.i] AS token
           |       FROM (SELECT doc_id, list_filter(${Text.tokensUnicodeSqlAll("text")},
           |               w -> length(w) > 1) AS tk2 FROM du)
           |       CROSS JOIN unnest(generate_series(1, len(tk2))) AS u(i)),
           |e0 AS (SELECT DISTINCT token AS word,
           |  trim(regexp_replace(hex(encode(token)), '(..)', '\\1 ', 'g')) AS seq FROM ew),
           |$folds,
           |sw AS (SELECT ew.doc_id, ew.pos, u.j AS pos2,
           |         string_split(e$n.seq, ' ')[u.j] AS sym
           |       FROM ew JOIN e$n ON ew.token = e$n.word
           |       CROSS JOIN unnest(generate_series(1, len(string_split(e$n.seq, ' ')))) AS u(j))
           |SELECT sw.doc_id, COUNT(*)::BIGINT AS n_ids,
           |  string_agg(coalesce(mtab.mid, ('0x' || sw.sym)::BIGINT)::VARCHAR, ' '
           |             ORDER BY sw.pos, sw.pos2) AS ids_txt
           |FROM sw LEFT JOIN mtab ON sw.sym = mtab.sym
           |GROUP BY sw.doc_id ORDER BY sw.doc_id""".stripMargin
      },
      doc = "Tensor-ready ids under the byte-level tokenizer: base ids " +
        "0..255 ARE the byte values (a fixed universal alphabet — no " +
        "corpus-derived symbol table), merge step j maps to 255+j. " +
        "Trained on the ASCII corpus, encoded over the union by merge " +
        "application, so unseen non-Latin words yield raw byte ids — a " +
        "TOTAL id encoding with no unk token anywhere. Every id of " +
        "every document bit-replayed through the byte chain."
    ),
    // ---- the tokenizer ARTIFACT export: byte-BPE merges + the id table
    // they induce + the unigram pieces, published once per corpus
    // fingerprint with an integrity manifest (TrainExport's contract
    // applied to the tokenizer itself — the other half of the trainer
    // handoff). The query reads the PERSISTED manifest; the oracle
    // re-derives every count and every table hash from the raw corpus,
    // so the check certifies the artifact bytes on disk.
    Q(
      "q_export_tokenizer",
      (s, d) => {
        graft.operators.TokenizerExport
          .manifest(s, tokenizerAssetDir(s, d))
          .select(
            col("n_merges"), col("vocab_size"), col("n_pieces"),
            col("merges_md5"), col("vocab_md5"), col("pieces_md5")
          )
      },
      Some {
        val n = BpeSteps
        val mt = (1 to n)
          .map(i => s"SELECT CAST($i AS BIGINT) AS step, x, y FROM b$i")
          .mkString("\nUNION ALL\n")
        s"""WITH RECURSIVE ${bpeByteChain(n, "documents")},
           |mt0 AS ($mt),
           |mg AS (SELECT step, x, y, x || y AS merged FROM mt0),
           |mmd AS (SELECT md5(string_agg(step::VARCHAR || ':' || x || ':' || y, '|' ORDER BY step)) AS merges_md5,
           |               COUNT(*)::BIGINT AS n_merges FROM mg),
           |vb AS (SELECT j::BIGINT AS id, lpad(hex(j), 2, '0') AS sym
           |       FROM (SELECT unnest(generate_series(0, 255)) AS j)),
           |vm AS (SELECT (255 + MIN(step))::BIGINT AS id, merged AS sym FROM mg GROUP BY merged),
           |vall AS (SELECT * FROM vb UNION ALL SELECT * FROM vm),
           |vmd AS (SELECT md5(string_agg(id::VARCHAR || ':' || sym, '|' ORDER BY id)) AS vocab_md5,
           |               COUNT(*)::BIGINT AS vocab_size FROM vall),
           |${unigramChain(UnigramRounds)},
           |pmd AS (SELECT md5(string_agg(piece || ':' || freq::VARCHAR, '|' ORDER BY piece)) AS pieces_md5,
           |               COUNT(*)::BIGINT AS n_pieces FROM up$UnigramRounds)
           |SELECT n_merges, vocab_size, n_pieces, merges_md5, vocab_md5, pieces_md5
           |FROM mmd CROSS JOIN vmd CROSS JOIN pmd""".stripMargin
      },
      doc = "Tokenizer artifact export: the byte-level BPE merge chain, " +
        "the tensor-ready id table it induces (byte ids 0..255 + merge " +
        "ids 255+step), and the unigram-LM pieces, published as a " +
        "fingerprinted versioned asset with an integrity manifest " +
        "written last (completion marker). The manifest's md5s hash each " +
        "table's canonical row rendering, so the oracle — which " +
        "re-derives merges, vocabulary, and pieces from the raw corpus " +
        "and re-hashes them — certifies the persisted artifact " +
        "bit-for-bit, the same discipline as the packed-sequence export."
    ),
    // ---- Unicode text normalization: NFC canonical composition + accent
    // folding as native codegen expressions. Byte-different NFC/NFD
    // encodings of the SAME text defeat exact dedup, split vocabulary
    // entries, and desync offsets — normalizing first is step zero of
    // every multilingual corpus pipeline. The ASCII corpus is the
    // (realistic) fast-path mass; the fixture rows are where the
    // normalizers actually rewrite, including explicit decomposed input.
    Q(
      "t_normalize",
      (s, d) => {
        import s.implicits._
        val fixture = Text.NormalizeFixture.toDF("doc_id", "text")
        val nfcC = nativeCol(graft.functions.NfcNormalize(nativeExpr(col("text"))))
        val foldC = nativeCol(graft.functions.StripAccents(nativeExpr(col("text"))))
        Tables
          .documents(s, d)
          .select(col("doc_id"), col("text"))
          .unionByName(fixture)
          .select(
            col("doc_id"),
            nfcC.as("nfc"),
            foldC.as("folded"),
            (nfcC =!= col("text")).cast("long").as("changed_nfc"),
            (foldC =!= col("text")).cast("long").as("changed_fold")
          )
          .orderBy("doc_id")
      },
      Some(
        s"""WITH d AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT * FROM (VALUES ${Text.normalizeFixtureSql}) AS f(doc_id, text)
           |)
           |SELECT doc_id, nfc_normalize(text) AS nfc, strip_accents(text) AS folded,
           |  (nfc_normalize(text) <> text)::BIGINT AS changed_nfc,
           |  (strip_accents(text) <> text)::BIGINT AS changed_fold
           |FROM d ORDER BY doc_id""".stripMargin
      ),
      doc = "Unicode normalization as native codegen expressions: NFC " +
        "canonical composition (decomposed and precomposed encodings of " +
        "the same text map to identical bytes — the precondition for " +
        "exact dedup and stable vocabularies on multilingual data) and " +
        "accent folding (NFD, drop combining marks, NFC — the " +
        "accent-insensitive match/join key). Map-only, no shuffle; " +
        "`Normalizer.isNormalized` fast-path means already-NFC corpora " +
        "(the overwhelming real-world case) pay one scan, no rebuild. " +
        "Bit-checked against DuckDB's nfc_normalize/strip_accents over " +
        "the corpus UNION a fixture with explicit combining-mark rows."
    ),
    // ---- HTML/boilerplate extraction: gate 0 of every web-crawl corpus.
    // Deterministic dirty pages (chrome + nav + heading + content + promo
    // + related-links + footer, with entities, comments, inline tags, and
    // a raw '<' inside the script body) are built from the documents
    // table, then extracted by the jusText-style integer rules. Per-row
    // array expressions only — zero shuffles at any corpus size.
    Q(
      "t_extract",
      (s, d) =>
        graft.operators.Html
          .extract(graft.operators.Html.dirtyHtml(Tables.documents(s, d)))
          .orderBy("doc_id"),
      Some(graft.operators.Html.extractOracleSql()),
      doc = "HTML boilerplate extraction (jusText/trafilatura heuristics): " +
        "strip head/script/style/comments, split on block tags, classify " +
        "each block by integer link-density and stopword-density rules, " +
        "emit the surviving blocks' decoded text in document order. " +
        "Nav/related-links (anchor-dominated), headings and footers " +
        "(stopword-free) drop; prose content and a borderline promo " +
        "paragraph survive. Entirely per-row Catalyst array expressions — " +
        "map-only at 100 TB. Oracle replays page construction AND " +
        "extraction with the same regexes and integer cross-multiplied " +
        "density rules."
    ),
    // ---- WARC container source: gate −1 of the crawl pipeline. The
    // fixture shards are REAL .warc.gz bytes (gzip member per record,
    // warcinfo + request + response records) built deterministically from
    // the documents table; the queries prove the container write+parse
    // round-trips losslessly by landing on the SAME oracle that replays
    // page construction directly from the table.
    Q(
      "t_warc_extract",
      (s, d) => {
        val dir = graft.sources.Warc.ensureFixtureDir(d, Tables.documents(s, d))
        graft.operators.Html
          .extract(graft.sources.Warc.fixturePages(s, dir))
          .orderBy("doc_id")
      },
      Some(graft.operators.Html.extractOracleSql()),
      doc = "End-to-end crawl shape: documents → deterministic WARC shards " +
        "(ISO 28500, one gzip member per record, built once per corpus " +
        "fingerprint) → streaming shard walk (record-sized residency) → " +
        "streaming record parse → response filter + HTTP body slice → " +
        "jusText-style extraction. Oracle replays page construction + " +
        "extraction straight from the table, so any framing/slicing bug " +
        "in the container round-trip breaks the hash. One task per shard " +
        "(the CC ~1 GB shard convention); everything after the parse is " +
        "Catalyst expressions."
    ),
    // ---- real HTTP payload decoding: live servers gzip/deflate their
    // bodies, chunk their transfer, and declare latin-1 charsets in the
    // header or only in <meta>. The mixed-encoding archive carries every
    // lane; the oracle replays the DECODED text per mode straight from
    // the table, so skipping any of de-chunk / decompress / charset
    // resolution breaks the hash.
    Q(
      "t_http_decode",
      (s, d) => {
        val dir = graft.sources.Warc.ensureHttpMixDir(d, Tables.documents(s, d))
        graft.sources.Warc
          .responses(s, dir)
          .select(
            regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
            col("body_text").as("body"),
            col("http_charset").as("charset"),
            col("http_content_encoding").as("content_encoding"),
            col("http_chunked").as("chunked")
          )
          .orderBy("doc_id")
      },
      Some {
        val page = graft.operators.Html.dirtyHtmlSqlExpr
        def latin(meta: String) =
          s"'<html><head>$meta<title>d' || doc_id || '</title></head><body>" +
            s"<p>café £' || doc_id || ' · Müller ®</p></body></html>'"
        s"""WITH pg AS (SELECT doc_id, $page AS html FROM documents)
           |SELECT doc_id,
           |  CASE WHEN doc_id % 6 = 4 THEN ${latin("")}
           |       WHEN doc_id % 6 = 5 THEN ${latin("<meta charset=\"iso-8859-1\">")}
           |       ELSE html END AS body,
           |  CASE WHEN doc_id % 6 IN (4, 5) THEN 'iso-8859-1' ELSE 'utf-8' END AS charset,
           |  CASE WHEN doc_id % 6 IN (1, 3) THEN 'gzip'
           |       WHEN doc_id % 6 = 2 THEN 'deflate' ELSE '' END AS content_encoding,
           |  (doc_id % 6 = 3) AS chunked
           |FROM pg ORDER BY doc_id""".stripMargin
      },
      doc = "Real HTTP payload decoding over a mixed-encoding archive " +
        "(identity / gzip / zlib-deflate / chunked-wrapping-gzip / " +
        "header-declared latin-1 / meta-only latin-1): receiver order " +
        "per RFC 9112 — de-chunk the transfer coding, undo the content " +
        "coding, then resolve the charset (Content-Type param, <meta> " +
        "prescan, UTF-8 default) — as ONE native codegen kernel per " +
        "record. Oracle replays the decoded text, charset, and coding " +
        "labels per doc_id-mode from the table."
    ),
    Q(
      "t_http_extract",
      (s, d) => {
        val dir = graft.sources.Warc.ensureHttpMixDir(d, Tables.documents(s, d))
        graft.operators.Html
          .extract(graft.sources.Warc.fixturePages(s, dir).filter(col("doc_id") % 6 < 4))
          .orderBy("doc_id")
      },
      Some(
        graft.operators.Html
          .extractOracleSql("(SELECT * FROM documents WHERE doc_id % 6 < 4)")
      ),
      doc = "The decoded payloads FEED extraction: jusText-style block " +
        "extraction over the mixed archive's gzip/deflate/chunked lanes " +
        "(the dirty-page modes) — bit-equal to extracting the directly " +
        "constructed pages, proving decompression and de-chunking hand " +
        "extraction the exact bytes the server authored."
    ),
    Q(
      "t_wet_roundtrip",
      (s, d) => {
        val dir = graft.sources.Warc.ensureWetDir(d, Tables.documents(s, d))
        graft.sources.Warc
          .conversions(s, dir)
          .select(
            regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
            col("text")
          )
          .orderBy("doc_id")
      },
      Some(
        s"""WITH ${graft.operators.Html.extractCtes("documents")},
           |ed AS (
           |  SELECT doc_id,
           |    array_to_string(list_transform(goods, x -> x['text']), chr(10)) AS text
           |  FROM hg WHERE len(goods) > 0
           |)
           |SELECT doc_id, text FROM ed ORDER BY doc_id""".stripMargin
      ),
      doc = "WET sidecar round-trip: extracted pages published as " +
        "Common-Crawl-convention conversion records (text/plain block, " +
        "WARC-Refers-To link, one gzip member each, shard-per-partition " +
        "writer), then read back through the container parse. The " +
        "oracle replays extraction directly from the table, so any " +
        "render/framing/decode bug in the WET path breaks the hash."
    ),
    // ---- WAT sidecar: the third Common-Crawl artifact (WARC raw, WET
    // text, WAT link metadata). Each page's hrefs resolve against its
    // archive fetch URI into the sorted canonical link set, assembled as
    // a JSON envelope in a metadata record, published and read back —
    // byte-exact under the oracle's full replay of construction,
    // extraction, resolution, normalization, sort, and JSON assembly.
    Q(
      "t_wat_roundtrip",
      (s, d) => {
        val dir = graft.sources.Warc.ensureWatDir(d, Tables.documents(s, d))
        graft.sources.Warc
          .watRecords(s, dir)
          .select(
            regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
            col("wat")
          )
          .orderBy("doc_id")
      },
      Some {
        import graft.operators.Urls
        val page = graft.operators.Html.dirtyHtmlSqlExpr
        val resolved =
          Urls.normalizeUrlSql(Urls.resolveUrlSql("'http://example.com/doc/' || h.doc_id", "h.href"))
        s"""WITH pg AS (SELECT doc_id, $page AS html FROM documents),
           |h AS (SELECT doc_id,
           |    unnest(regexp_extract_all(html, 'href="([^"]*)"', 1)) AS href
           |  FROM pg),
           |r AS (SELECT h.doc_id, $resolved AS link FROM h),
           |a AS (SELECT doc_id, list_sort(list(DISTINCT link)) AS ls FROM r GROUP BY doc_id)
           |SELECT doc_id,
           |  '{"url":"http://example.com/doc/' || doc_id || '","links":['
           |    || array_to_string(list_transform(ls, x -> '"' || x || '"'), ',') || ']}' AS wat
           |FROM a ORDER BY doc_id""".stripMargin
      },
      doc = "WAT sidecar round-trip (the link-metadata artifact beside " +
        "WARC and WET): hrefs resolved RFC 3986 against each page's " +
        "archive fetch URI, canonicalized, sorted-distinct, assembled " +
        "into the JSON envelope of a metadata record with WARC-Refers-To " +
        "naming its response, published shard-per-partition and read " +
        "back through the container parse. The oracle replays the whole " +
        "chain, so one wrong byte in resolution, ordering, JSON " +
        "assembly, framing, or decode breaks the hash."
    ),
    Q(
      "t_warc_records",
      (s, d) => {
        val dir = graft.sources.Warc.ensureFixtureDir(d, Tables.documents(s, d))
        graft.sources.Warc
          .read(s, dir)
          .groupBy(col("warc_type"))
          .agg(
            count(lit(1)).as("n_records"),
            sum(when(col("malformed").isNotNull, 1L).otherwise(0L)).as("n_malformed"),
            sum(col("content_length")).cast("long").as("block_bytes")
          )
          .orderBy("warc_type")
      },
      Some {
        // replay the fixture's record framing arithmetic directly from
        // documents: per doc one request (fixed-arithmetic block length)
        // and one response (HTTP head + page bytes); one warcinfo per
        // occupied doc_id % 8 shard group
        val page = graft.operators.Html.dirtyHtmlSqlExpr
        s"""WITH pg AS (
           |  SELECT doc_id, octet_length(encode($page)) AS page_bytes FROM documents
           |), per_doc AS (
           |  SELECT doc_id,
           |    length('GET /doc/' || doc_id || ' HTTP/1.1') + 2 + length('Host: example.com') + 4 AS req_len,
           |    length('HTTP/1.1 200 OK') + 2 + length('Content-Type: text/html; charset=utf-8') + 2
           |      + length('Content-Length: ' || page_bytes) + 4 + page_bytes AS resp_len
           |  FROM pg
           |)
           |SELECT * FROM (
           |  SELECT 'request' AS warc_type, COUNT(*)::BIGINT AS n_records,
           |         0::BIGINT AS n_malformed, SUM(req_len)::BIGINT AS block_bytes
           |  FROM per_doc
           |  UNION ALL
           |  SELECT 'response', COUNT(*)::BIGINT, 0::BIGINT, SUM(resp_len)::BIGINT FROM per_doc
           |  UNION ALL
           |  SELECT 'warcinfo', COUNT(DISTINCT doc_id % 8)::BIGINT, 0::BIGINT,
           |         COUNT(DISTINCT doc_id % 8)::BIGINT * length('software: graft' || chr(13) || chr(10))
           |  FROM documents
           |) ORDER BY warc_type""".stripMargin
      },
      doc = "WARC shard census: every record type the parser framed " +
        "(warcinfo / request / response), malformed count (zero on the " +
        "well-formed fixture), and total block bytes — the oracle " +
        "recomputes each record's Content-Length arithmetic directly " +
        "from the table, pinning the parser's framing byte-for-byte."
    ),
    // ---- CDX capture index + random access: how a reader finds ONE
    // page in a 100 TB archive. The index rows carry each gzip member's
    // COMPRESSED byte extent (deflate-dependent, so not oracle-
    // replayable — the seek query below proves them functionally); the
    // oracle-checked columns are the capture metadata incl. the SURT
    // sort key every Common-Crawl CDX shard orders by.
    Q(
      "t_warc_cdx",
      (s, d) => {
        val (_, idx) = graft.sources.Warc.ensureCdxDir(d, Tables.documents(s, d))
        s.read
          .parquet(idx)
          .filter(col("malformed").isNull && col("warc_type") === "response")
          .select(
            col("surt"),
            col("target_uri").as("url"),
            col("warc_date"),
            col("content_length")
          )
          .orderBy("surt")
      },
      Some(warcCdxOracleSql),
      doc = "CDX capture index over the WARC shards, PERSISTED once per " +
        "corpus fingerprint (the Common-Crawl convention — cdx files " +
        "ship beside the crawl): the build walks each shard's gzip " +
        "members once (RFC 1952 framing, exact compressed extents via " +
        "raw-deflate inflate); queries then read the small capture-" +
        "metadata parquet — SURT sort key (host labels reversed so a " +
        "domain's captures sort contiguously), URL, date, record " +
        "length. Oracle replays the metadata byte-for-byte from the " +
        "table; the compressed offsets are proven by t_warc_cdx_seek."
    ),
    Q(
      "t_warc_cdx_seek",
      (s, d) => {
        val (_, idx) = graft.sources.Warc.ensureCdxDir(d, Tables.documents(s, d))
        val wanted = s.read
          .parquet(idx)
          .filter(col("malformed").isNull && col("warc_type") === "response")
          .withColumn(
            "doc_id",
            regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long")
          )
          .filter(col("doc_id") % 37 === 0)
        graft.sources.Warc
          .httpSlice(graft.sources.Warc.fetch(s, wanted))
          .select(
            regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
            col("body_text").as("html")
          )
          .orderBy("doc_id")
      },
      Some {
        val page = graft.operators.Html.dirtyHtmlSqlExpr
        s"""SELECT doc_id, $page AS html FROM documents
           |WHERE doc_id % 37 = 0 ORDER BY doc_id""".stripMargin
      },
      doc = "Random access into the archive: the PERSISTED CDX rows' " +
        "compressed member extents drive ranged point reads (seek + " +
        "readFully + one-member gunzip + frame + HTTP slice) for a " +
        "deterministic subset of captures — k pages cost one small " +
        "index-parquet read plus k few-KB ranged reads, never a shard " +
        "walk. The oracle rebuilds those exact pages from the table, so " +
        "a single wrong offset, length, or slice byte breaks the hash."
    ),
    // ---- deduplicated-archive ROUND TRIP: the multi-capture archive is
    // republished with later same-digest captures as payload-free ISO
    // 28500 revisit records, then read back with digest-resolution
    // through the CDX — the reader must reconstruct the FULL capture
    // table bit-for-bit, and the stored-bytes column proves revisits
    // store zero payload (the byte savings Common Crawl's dedup buys).
    Q(
      "t_warc_revisit_roundtrip",
      (s, d) => {
        val dir = graft.sources.Warc.ensureDedupedDir(d, Tables.documents(s, d))
        graft.sources.Warc
          .resolveRevisits(s, dir)
          .select(
            col("url"),
            col("warc_date"),
            col("stored_digest"),
            col("stored_block_len"),
            col("via_revisit"),
            md5(col("body_text")).as("digest"),
            octet_length(col("body_text")).cast("long").as("payload_len")
          )
          .orderBy("url", "warc_date")
      },
      Some {
        val page = graft.operators.Html.dirtyHtmlSqlExpr
        val d0 = graft.sources.Warc.FixtureDate
        val d1 = graft.sources.Warc.RevisitDate
        val d2 = graft.sources.Warc.MirrorDate
        val orig = "(c.warc_date = f.fd AND c.url = f.fu AND c.record_id = f.fi)"
        val httpHead = "'HTTP/1.1 200 OK' || chr(13) || chr(10) || " +
          "'Content-Type: text/html; charset=utf-8' || chr(13) || chr(10) || " +
          "'Content-Length: ' || strlen(c.body)::VARCHAR || " +
          "chr(13) || chr(10) || chr(13) || chr(10)"
        s"""WITH pg AS MATERIALIZED (SELECT doc_id, $page AS html FROM documents),
           |caps AS (
           |  SELECT 'http://example.com/doc/' || doc_id AS url, '$d0' AS warc_date,
           |         '<urn:uuid:resp-' || doc_id || '>' AS record_id, html AS body FROM pg
           |  UNION ALL
           |  SELECT 'http://example.com/doc/' || doc_id, '$d1',
           |         '<urn:uuid:resp2-' || doc_id || '>', html
           |  FROM pg WHERE doc_id % 3 = 0
           |  UNION ALL
           |  SELECT 'http://example.com/doc/' || doc_id, '$d1',
           |         '<urn:uuid:resp2-' || doc_id || '>', html || '<!-- updated -->'
           |  FROM pg WHERE doc_id % 3 = 1
           |  UNION ALL
           |  SELECT 'http://mirror.example.com/doc/' || doc_id, '$d2',
           |         '<urn:uuid:mirror-' || doc_id || '>', html
           |  FROM pg WHERE doc_id % 5 = 0
           |),
           |cd AS (SELECT url, warc_date, record_id, body, md5(body) AS digest FROM caps),
           |f AS (SELECT digest,
           |        (min(struct_pack(d := warc_date, u := url, i := record_id))).d AS fd,
           |        (min(struct_pack(d := warc_date, u := url, i := record_id))).u AS fu,
           |        (min(struct_pack(d := warc_date, u := url, i := record_id))).i AS fi
           |      FROM cd GROUP BY digest)
           |SELECT c.url, c.warc_date,
           |  'md5:' || c.digest AS stored_digest,
           |  CASE WHEN $orig
           |       THEN strlen($httpHead)::BIGINT + strlen(c.body)::BIGINT
           |       ELSE 0::BIGINT END AS stored_block_len,
           |  NOT $orig AS via_revisit,
           |  c.digest AS digest,
           |  strlen(c.body)::BIGINT AS payload_len
           |FROM cd c JOIN f USING (digest)
           |ORDER BY url, warc_date""".stripMargin
      },
      doc = "Deduplicated-archive round trip: the multi-capture fixture " +
        "republished with later same-digest captures as payload-free " +
        "revisit records (ISO 28500 §6.7.2 — WARC-Profile identical-" +
        "payload-digest, WARC-Refers-To the original's record id, " +
        "WARC-Payload-Digest, Content-Length 0) and originals carrying " +
        "their payload digest header; the reader walks the CDX once, " +
        "joins revisits to originals ON DIGEST, and fetches only " +
        "original members by ranged point reads. Output = the complete " +
        "capture table with resolved payload digests/lengths and the " +
        "stored-bytes column (zero for every revisit — the byte " +
        "savings), bit-equal to the undeduplicated corpus replay."
    ),
    // ---- the OTHER ISO revisit profile: server-not-modified (a 304
    // conditional-GET answer — no payload, no digest; refers to a prior
    // capture of the SAME URI by target-uri + date). Resolution is a
    // point-in-time lookup = the as-of join operator, per URI — vs the
    // identical-payload profile's GLOBAL digest dedup.
    Q(
      "t_warc_not_modified",
      (s, d) => {
        val dir = graft.sources.Warc.ensureNotModifiedDir(d, Tables.documents(s, d))
        graft.sources.Warc
          .resolveNotModified(s, dir)
          .select(
            col("url"),
            col("warc_date"),
            col("via_revisit"),
            md5(col("body_text")).as("digest"),
            octet_length(col("body_text")).cast("long").as("payload_len")
          )
          .orderBy("url", "warc_date")
      },
      Some {
        val page = graft.operators.Html.dirtyHtmlSqlExpr
        val d0 = graft.sources.Warc.FixtureDate
        val d1 = graft.sources.Warc.RevisitDate
        s"""WITH pg AS MATERIALIZED (SELECT doc_id, $page AS html FROM documents),
           |caps AS (
           |  SELECT 'http://example.com/doc/' || doc_id AS url, '$d0' AS warc_date,
           |         false AS via_revisit, html AS body FROM pg
           |  UNION ALL
           |  SELECT 'http://example.com/doc/' || doc_id, '$d1', true, html
           |  FROM pg WHERE doc_id % 4 = 1)
           |SELECT url, warc_date, via_revisit, md5(body) AS digest,
           |  strlen(body)::BIGINT AS payload_len
           |FROM caps ORDER BY url, warc_date""".stripMargin
      },
      doc = "server-not-modified revisit resolution (ISO 28500 §6.7.3, " +
        "the conditional-GET/304 profile): the crawler re-fetched, the " +
        "server answered 304, the record carries the 304 status line and " +
        "WARC-Refers-To-Target-URI/-Date headers, NO payload and NO " +
        "digest. Resolution takes the LATEST prior capture of the same " +
        "URI — a left as-of join (one key-partitioned tagged-union " +
        "window, no pair blowup), vs the identical-payload profile's " +
        "global digest dedup. Read-back must bit-equal the full " +
        "undeduplicated capture table; WarcSpec pins the record shape " +
        "and the latest-prior-capture choice under multiple priors."
    ),
    // ---- STREAMING CDX maintenance on the oracle gate: the asset minus
    // one shard's rows is the base, that shard arrives as a stream batch
    // (CdxStream upsert + forced debt compaction through the journaled
    // swap), and the capture listing runs against the stream-grown copy
    // under t_warc_cdx's unchanged wholesale oracle — the fold is only
    // correct if indistinguishable from a fresh build.
    Q(
      "t_warc_cdx_fold",
      (s, d) => {
        val (warcDir, idx) = graft.sources.Warc.ensureCdxDir(d, Tables.documents(s, d))
        val dir = QueryScratch.dir("t_warc_cdx_fold") + "/cdx"
        // base = the published asset minus the folded shard's rows (the
        // scratch-copy discipline: the measured cost is the honest
        // incremental path — one shard's member walk + compaction)
        s.read
          .parquet(idx)
          .filter(!col("path").endsWith("part-00007.warc.gz"))
          .write
          .mode("overwrite")
          .parquet(s"$dir/idx")
        graft.streaming.CdxStream
          .upsertBatch(s, warcDir, "part-00007.warc.gz", dir, batchId = 0L, compactAt = 1e-9)
        graft.streaming.CdxStream
          .readCaptures(s, dir)
          .filter(col("malformed").isNull && col("warc_type") === "response")
          .select(
            col("surt"),
            col("target_uri").as("url"),
            col("warc_date"),
            col("content_length")
          )
          .orderBy("surt")
      },
      Some(warcCdxOracleSql),
      doc = "Streaming CDX fold on the oracle gate: base asset minus one " +
        "shard, that shard's members indexed as a stream batch (delta " +
        "append + forced debt compaction + crash-safe journaled swap), " +
        "then the capture listing from the stream-grown index — " +
        "bit-equal to t_warc_cdx's wholesale replay. A batch's cost is " +
        "one member walk over ONLY the new shards; the standing index " +
        "is never re-derived."
    ),
    // ---- extraction observability: the gate-0 funnel per source —
    // where a crawl loses its bytes BEFORE text-quality work begins.
    // Composes the extraction with the corpus metadata: one extraction
    // pass + one small groupBy on source.
    Q(
      "t_extract_funnel",
      (s, d) => {
        val ex = graft.operators.Html
          .extract(graft.operators.Html.dirtyHtml(Tables.documents(s, d)))
        Tables
          .documents(s, d)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .join(ex, Seq("doc_id"))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_pages"),
            sum(when(col("n_good") > 0, 1L).otherwise(0L)).as("n_kept"),
            sum(col("n_chars")).cast("long").as("raw_chars"),
            sum(col("content_chars")).cast("long").as("kept_chars")
          )
          .withColumn(
            "kept_permille",
            expr("(1000 * kept_chars) DIV greatest(raw_chars, 1)")
          )
          .orderBy("source")
      },
      Some(
        s"""WITH ${graft.operators.Html.extractCtes("documents")},
           |ex AS (
           |  SELECT doc_id,
           |    len(goods)::BIGINT AS n_good,
           |    coalesce(list_sum(list_transform(goods, x -> x['n_chars'])), 0)::BIGINT AS content_chars
           |  FROM hg
           |)
           |SELECT d.source,
           |  COUNT(*)::BIGINT AS n_pages,
           |  SUM(CASE WHEN ex.n_good > 0 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           |  SUM(d.n_chars)::BIGINT AS raw_chars,
           |  SUM(ex.content_chars)::BIGINT AS kept_chars,
           |  ((1000 * SUM(ex.content_chars)) // greatest(SUM(d.n_chars), 1))::BIGINT AS kept_permille
           |FROM documents d JOIN ex ON d.doc_id = ex.doc_id
           |GROUP BY d.source ORDER BY d.source""".stripMargin
      ),
      doc = "Extraction funnel per source: pages kept (any content block " +
        "survived), raw vs extracted chars, integral kept-permille — the " +
        "gate-0 observability report a crawl pipeline watches. One " +
        "extraction pass + one source-keyed aggregate."
    ),
    // ---- unigram-LM tokenizer (Kudo 2018), integer-exact hard-EM: seed
    // substring frequencies, Viterbi-segment every word under (fewest
    // pieces, max total freq, lex-min segmentation), recount from winners,
    // prune — the SentencePiece-default algorithm beside BPE. The oracle
    // replays the ENTIRE training (seed + both EM rounds) with recursive
    // segmentation enumeration — feasible because the DP objective is
    // all-integer, so there is no float likelihood to diverge on.
    Q(
      "t_unigram_vocab",
      (s, d) =>
        graft.operators.Unigram
          .train(
            TextAnalysis.wordCounts(Tables.documents(s, d))
              .select(col("token").as("word"), col("cnt")),
            UnigramVocab, UnigramPieceLen, UnigramRounds
          )
          .orderBy("piece"),
      Some(
        s"""WITH RECURSIVE ${unigramChain(UnigramRounds)}
           |SELECT piece, freq FROM up$UnigramRounds ORDER BY piece""".stripMargin
      ),
      doc = "Unigram-LM tokenizer training (Kudo 2018 hard-EM): substring " +
        s"seed (all chars + top-$UnigramVocab multi-char pieces by " +
        "frequency), then per round Viterbi-segment every DISTINCT word " +
        "(integer objective: fewest pieces, max summed piece frequency, " +
        "lex-min segmentation — a unique argmax, no float likelihoods), " +
        "recount piece frequencies from the winners, prune to budget. " +
        "The word table is vocabulary-sized; pruning is a bounded top-k " +
        "(TakeOrderedAndProject), never a global window. Oracle replays " +
        "seed + both EM rounds via recursive segmentation enumeration."
    ),
    Q(
      "t_unigram_encode",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // trained pieces READ from the published tokenizer artifact
        val pieces = graft.operators.TokenizerExport.pieces(s, tokenizerAssetDir(s, d))
        graft.operators.Unigram
          .encodeStats(docs, pieces, UnigramPieceLen)
          .orderBy("doc_id")
      },
      Some {
        val enc = UnigramRounds + 1
        s"""WITH RECURSIVE ${unigramChain(UnigramRounds)},
           |${unigramSegCtes(enc, s"up$UnigramRounds")},
           |udt AS (SELECT doc_id, unnest($toksSql) AS token FROM documents)
           |SELECT doc_id, COUNT(*)::BIGINT AS n_words, SUM(w.np)::BIGINT AS n_pieces,
           |  SUM(w.sf)::BIGINT AS score_sum,
           |  ((100 * SUM(w.np)) // COUNT(*))::BIGINT AS pieces_per_100w
           |FROM udt JOIN uwin$enc w ON udt.token = w.word
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin
      },
      doc = "Corpus encoding with the trained unigram-LM tokenizer: " +
        "Viterbi segmentation runs ONCE per distinct word against the " +
        "broadcast trained table; the token stream pays a vocabulary-" +
        "sized join plus one per-doc aggregate (word count, piece count, " +
        "summed integer scores, integral fertility) — the same " +
        "train-once/join-to-apply shape as t_bpe_encode. Oracle " +
        "re-derives the trained table and every doc's stats bit-exactly."
    ),
    Q(
      "t_unigram_ids",
      (s, d) => {
        // Tensor-ready id encoding under the trained unigram-LM
        // tokenizer — t_bpe_ids' shape for the second tokenizer family.
        // Id scheme: trained pieces sorted ascending get ids 0..V-1 (the
        // deterministic engine-independent assignment). The per-word
        // winner segmentation and the id table are both vocabulary-sized
        // and broadcast; encoding is map-side joins over the positioned
        // token stream plus one per-doc assembly aggregate.
        val docs = Tables.documents(s, d)
        val words = TextAnalysis
          .wordCounts(docs)
          .select(col("token").as("word"), col("cnt"))
        // trained pieces READ from the published tokenizer artifact
        val pieces = graft.operators.TokenizerExport.pieces(s, tokenizerAssetDir(s, d))
        val idTab = pieces
          .agg(sort_array(collect_list(col("piece"))).as("ps"))
          .select(posexplode(col("ps")).as(Seq("id", "piece")))
          .select(col("piece"), col("id").cast("long").as("id"))
        val seg = graft.operators.Unigram
          .segmentWords(words, pieces, UnigramPieceLen)
          .select(col("word").as("token"), split(col("pieces"), " ").as("subs"))
        val sw = docs
          .select(col("doc_id"), posexplode(Text.tokensAll(col("text"))).as(Seq("pos", "token")))
          .join(broadcast(seg), Seq("token"))
          .select(col("doc_id"), col("pos"), posexplode(col("subs")).as(Seq("pos2", "piece")))
        sw.join(broadcast(idTab), Seq("piece"))
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).cast("long").as("n_ids"),
            concat_ws(
              " ",
              transform(
                array_sort(collect_list(struct(col("pos"), col("pos2"), col("id")))),
                _.getField("id").cast("string")
              )
            ).as("ids_txt")
          )
          .orderBy("doc_id")
      },
      Some {
        val enc = UnigramRounds + 1
        s"""WITH RECURSIVE ${unigramChain(UnigramRounds)},
           |${unigramSegCtes(enc, s"up$UnigramRounds")},
           |pid AS (SELECT piece, (row_number() OVER (ORDER BY piece) - 1)::BIGINT AS id
           |        FROM up$UnigramRounds),
           |udt AS (SELECT doc_id, u.i AS pos, tk[u.i] AS token
           |        FROM (SELECT doc_id, $toksSql AS tk FROM documents)
           |        CROSS JOIN unnest(generate_series(1, len(tk))) AS u(i)),
           |usw AS (SELECT udt.doc_id, udt.pos, u.j AS pos2,
           |          string_split(w.segstr, ' ')[u.j] AS piece
           |        FROM udt JOIN uwin$enc w ON udt.token = w.word
           |        CROSS JOIN unnest(generate_series(1, len(string_split(w.segstr, ' ')))) AS u(j))
           |SELECT usw.doc_id, COUNT(*)::BIGINT AS n_ids,
           |  string_agg(pid.id::VARCHAR, ' ' ORDER BY usw.pos, usw.pos2) AS ids_txt
           |FROM usw JOIN pid ON usw.piece = pid.piece
           |GROUP BY usw.doc_id ORDER BY usw.doc_id""".stripMargin
      },
      doc = "Materialized token-id encoding under the trained unigram-LM " +
        "tokenizer — the tensor-ready training output, t_bpe_ids' twin " +
        "for the second tokenizer family: pieces sorted ascending get " +
        "ids 0..V-1, each document becomes its integer id sequence in " +
        "token order. Trained table + id table broadcast; map-side joins " +
        "over the positioned token stream + one per-doc assembly " +
        "aggregate. Oracle re-derives training, every winner " +
        "segmentation, and every doc's full id sequence bit-exactly."
    )
  )

  // ---- unigram-LM oracle generators -------------------------------------

  /** One recursive Viterbi-enumeration stage over piece table `prev`:
    * CTEs `useg$r` (all segmentations of every word in `uwc`, built by
    * extending prefixes with matching pieces) and `uwin$r` (the unique
    * winner per word under (np asc, sf desc, segstr asc) — the exact
    * Spark-side DP objective).
    */
  private def unigramSegCtes(r: Int, prev: String): String =
    s"""useg$r AS (
       |  SELECT word, cnt, 0 AS pos, 0 AS np, 0::BIGINT AS sf, '' AS segstr FROM uwc
       |  UNION ALL
       |  SELECT s.word, s.cnt, s.pos + length(p.piece), s.np + 1, s.sf + p.freq,
       |    CASE WHEN s.segstr = '' THEN p.piece ELSE s.segstr || ' ' || p.piece END
       |  FROM useg$r s JOIN $prev p ON substr(s.word, s.pos + 1, length(p.piece)) = p.piece
       |  WHERE s.pos < length(s.word)),
       |uwin$r AS (
       |  SELECT word, cnt, np, sf, segstr FROM (
       |    SELECT word, cnt, np, sf, segstr,
       |      row_number() OVER (PARTITION BY word ORDER BY np, sf DESC, segstr) AS rn
       |    FROM useg$r WHERE pos = length(word)) WHERE rn = 1)""".stripMargin

  /** Seed + `rounds` hard-EM rounds, ending in piece table `up$rounds`. */
  private def unigramChain(rounds: Int): String = {
    val seed =
      s"""uwc AS (SELECT token AS word, COUNT(*)::BIGINT AS cnt
         |        FROM (SELECT unnest($toksSql) AS token FROM documents) GROUP BY token),
         |usub AS (SELECT piece, SUM(cnt)::BIGINT AS freq FROM (
         |  SELECT unnest(flatten(list_transform(generate_series(1, length(word)),
         |    i -> list_transform(generate_series(1, least($UnigramPieceLen, length(word) - i + 1)),
         |         l -> substr(word, i, l))))) AS piece, cnt FROM uwc) GROUP BY piece),
         |up0 AS (
         |  SELECT piece, freq FROM usub WHERE length(piece) = 1
         |  UNION ALL
         |  SELECT piece, freq FROM (SELECT piece, freq FROM usub WHERE length(piece) > 1
         |                           ORDER BY freq DESC, piece LIMIT $UnigramVocab))""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      val prev = s"up${r - 1}"
      s"""${unigramSegCtes(r, prev)},
         |uu$r AS (SELECT piece, SUM(cnt)::BIGINT AS freq
         |         FROM (SELECT unnest(string_split(segstr, ' ')) AS piece, cnt FROM uwin$r)
         |         GROUP BY piece),
         |up$r AS (
         |  SELECT p.piece, coalesce(u.freq, 0)::BIGINT AS freq
         |  FROM $prev p LEFT JOIN uu$r u ON p.piece = u.piece WHERE length(p.piece) = 1
         |  UNION ALL
         |  SELECT piece, freq FROM (SELECT piece, freq FROM uu$r WHERE length(piece) > 1
         |                           ORDER BY freq DESC, piece LIMIT $UnigramVocab))""".stripMargin
    }
    (seed +: roundCtes).mkString(",\n")
  }

  /** Generated n-step BPE oracle: each step is three CTEs (pair counts,
    * argmax pair, fold-rewritten sequences) chained off the previous
    * step's sequence table; the result unions the per-step argmax rows.
    * The fold lambda reproduces [[TextAnalysis.bpeTrain]]'s exact-last-
    * symbol greedy merge (see its scaladoc); `CROSS JOIN b$i` carries the
    * step's learned pair into the lambda as plain columns (DuckDB allows
    * column capture, not subqueries, inside lambdas).
    */
  /** The shared CTE chain (token counts, initial char seqs, and the n
    * per-step triples) both BPE oracles build on.
    */
  private def bpeSteps(n: Int): String =
    (1 to n)
      .map { i =>
        val prev = s"s${i - 1}"
        s"""p$i AS (SELECT unnest(list_transform(generate_series(1, len(l) - 1),
           |    k -> l[k] || ' ' || l[k+1])) AS pair, cnt
           |  FROM (SELECT cnt, string_split(seq, ' ') AS l FROM $prev)),
           |b$i AS (SELECT string_split(pair, ' ')[1] AS x,
           |    string_split(pair, ' ')[2] AS y, SUM(cnt)::BIGINT AS c
           |  FROM p$i GROUP BY pair ORDER BY c DESC, pair LIMIT 1),
           |s$i AS (SELECT word, cnt, list_reduce(string_split(seq, ' '),
           |    (acc, t) -> CASE
           |      WHEN (acc = x OR ends_with(acc, ' ' || x)) AND t = y
           |      THEN acc || y ELSE acc || ' ' || t END) AS seq
           |  FROM $prev CROSS JOIN b$i)""".stripMargin
      }
      .mkString(",\n")

  private def bpeChain(n: Int): String =
    s"""tk AS (SELECT unnest($toksSql) AS token FROM documents),
       |wc AS (SELECT token AS word, COUNT(*)::BIGINT AS cnt FROM tk GROUP BY token),
       |s0 AS (SELECT word, cnt,
       |  trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seq FROM wc),
       |${bpeSteps(n)}""".stripMargin

  /** The union-corpus Unicode-token word table + BYTE-LEVEL s0 (hex-pair
    * symbols) + the n training-step triples — the byte-mode twin of
    * [[bpeChain]]. `rel` picks the training corpus CTE.
    */
  private def bpeByteChain(n: Int, rel: String): String =
    s"""tk AS (SELECT unnest(list_filter(${Text.tokensUnicodeSqlAll("text")},
       |  w -> length(w) > 1)) AS token FROM $rel),
       |wc AS (SELECT token AS word, COUNT(*)::BIGINT AS cnt FROM tk GROUP BY token),
       |s0 AS (SELECT word, cnt,
       |  trim(regexp_replace(hex(encode(word)), '(..)', '\\1 ', 'g')) AS seq FROM wc),
       |${bpeSteps(n)}""".stripMargin

  // def, not val: referenced from `val all` which initializes FIRST — a
  // later val would still be null at that point (the BpeSteps trap)
  private def unionDocsCte: String =
    s"""du AS (SELECT doc_id, text FROM documents
       |  UNION ALL SELECT * FROM (VALUES ${Text.unicodeFixtureSql}) AS f(doc_id, text))""".stripMargin

  private def bpeByteOracle(n: Int): String = {
    val unions = (1 to n)
      .map(i =>
        s"SELECT CAST($i AS BIGINT) AS step, x, y, x || y AS merged, c AS support FROM b$i"
      )
      .mkString("\nUNION ALL\n")
    s"""WITH $unionDocsCte,
       |${bpeByteChain(n, "du")}
       |$unions
       |ORDER BY step""".stripMargin
  }

  /** Byte-level encode oracle: train on `documents` only, then encode the
    * union corpus by APPLYING the learned folds to every distinct word's
    * byte sequence — no vocabulary join, so unseen (non-Latin) words
    * exercise the byte fallback in the gate itself.
    */
  private def bpeByteEncodeOracle(n: Int): String = {
    val folds = (1 to n)
      .map { i =>
        s"""e$i AS (SELECT word, list_reduce(string_split(seq, ' '),
           |    (acc, t) -> CASE
           |      WHEN (acc = x OR ends_with(acc, ' ' || x)) AND t = y
           |      THEN acc || y ELSE acc || ' ' || t END) AS seq
           |  FROM e${i - 1} CROSS JOIN b$i)""".stripMargin
      }
      .mkString(",\n")
    s"""WITH ${bpeByteChain(n, "documents")},
       |$unionDocsCte,
       |ew AS (SELECT doc_id, unnest(list_filter(${Text.tokensUnicodeSqlAll("text")},
       |  w -> length(w) > 1)) AS token FROM du),
       |e0 AS (SELECT DISTINCT token AS word,
       |  trim(regexp_replace(hex(encode(token)), '(..)', '\\1 ', 'g')) AS seq FROM ew),
       |$folds
       |SELECT doc_id, COUNT(*)::BIGINT AS n_words,
       |  SUM(len(string_split(e$n.seq, ' ')))::BIGINT AS n_subwords,
       |  ((100 * SUM(len(string_split(e$n.seq, ' ')))) // COUNT(*))::BIGINT
       |    AS subwords_per_100w
       |FROM ew JOIN e$n ON ew.token = e$n.word
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  private def bpeOracle(n: Int): String = {
    val unions = (1 to n)
      .map(i =>
        s"SELECT CAST($i AS BIGINT) AS step, x, y, x || y AS merged, c AS support FROM b$i"
      )
      .mkString("\nUNION ALL\n")
    s"""WITH ${bpeChain(n)}
       |$unions
       |ORDER BY step""".stripMargin
  }

  private def bpeEncodeOracle(n: Int): String =
    s"""WITH ${bpeChain(n)},
       |dt AS (SELECT doc_id, unnest($toksSql) AS token FROM documents)
       |SELECT doc_id, COUNT(*)::BIGINT AS n_words,
       |  SUM(len(string_split(seq, ' ')))::BIGINT AS n_subwords,
       |  ((100 * SUM(len(string_split(seq, ' ')))) // COUNT(*))::BIGINT
       |    AS subwords_per_100w
       |FROM dt JOIN s$n ON dt.token = s$n.word
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
