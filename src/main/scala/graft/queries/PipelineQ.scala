package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.operators.{Dedup, Expectations, Split, Text, TextAnalysis}

/** Training-data pipeline surface: deterministic dataset splitting and the
  * composed corpus-cleaning query (language ID + quality gate + exact-dedup
  * canonicalization in one plan) — the end-to-end shapes a 100 TB data-prep
  * job actually runs, not just their parts.
  */
object PipelineQ {

  private val toksSql =
    s"list_filter(${Text.tokensSqlAll("text")}, w -> length(w) > 1)"

  private def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")

  /** DuckDB mirror of Cols.md5Long over a BIGINT id. */
  private def h60id(e: String) = s"('0x' || substr(md5($e::VARCHAR), 1, 15))::BIGINT"

  /** The corpus-cleaning gate CTE chain (lang-ID scores → quality ratios →
    * exact-dedup canon set → the TRAINED quality classifier's margin)
    * shared by `t_clean_pipeline` and `t_drop_reasons` — one definition
    * so both oracles replay the identical gate arithmetic. The classifier
    * leg is the full [[graft.operators.TrainedClf]] replay: labels,
    * every perceptron round, and the scoring pass, all re-derived from
    * raw text.
    */
  private def gateCtes: String = {
    val scoreDefs = TextAnalysis.LangMarkers
      .map { case (lang, ms) =>
        s"len(list_filter(tk, w -> w IN (${inList(ms)}))) AS s_$lang"
      }
      .mkString(",\n       ")
    s"""gt AS (SELECT doc_id, text, $toksSql AS tk FROM documents),
       |s AS (SELECT doc_id, text, tk,
       |       $scoreDefs
       |FROM gt),
       |lang AS (SELECT doc_id, text, tk,
       |  CASE WHEN s_en + s_de + s_fr + s_es = 0 THEN 'und'
       |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
       |       WHEN s_de > s_en AND s_de >= s_fr AND s_de >= s_es THEN 'de'
       |       WHEN s_fr > s_en AND s_fr > s_de AND s_fr >= s_es THEN 'fr'
       |       ELSE 'es' END AS pred_lang
       |FROM s),
       |q AS (SELECT doc_id, pred_lang,
       |  len(tk)::BIGINT AS n_tokens,
       |  length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE / length(text) AS alpha_ratio,
       |  len(list_filter(tk, w -> w IN (${inList(Text.StopWords)})))::DOUBLE / len(tk) AS stopword_ratio,
       |  len(list_distinct(tk))::DOUBLE / len(tk) AS uniq_ratio
       |FROM lang),
       |qs AS (SELECT doc_id, pred_lang, n_tokens,
       |  (alpha_ratio * 0.3) + (least(stopword_ratio * 4.0, 1.0) * 0.3) + (uniq_ratio * 0.4)
       |    AS quality_score
       |FROM q),
       |canon AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id,
       |      min(doc_id) OVER (PARTITION BY
       |        md5(trim(regexp_replace(replace(lower(text), chr(39), ''), '[^a-z]+', ' ', 'g'))))
       |        AS canonical_id
       |    FROM documents)
       |  WHERE doc_id = canonical_id
       |),
       |${graft.operators.TrainedClf.replayCtes},
       |clf AS (SELECT doc_id, m AS clf_margin FROM clms
       |        WHERE cls = '${graft.operators.TrainedClf.QualityCls}')""".stripMargin
  }

  /** The export-manifest CTE chain over relation `rel` (prefix `p` keeps
    * two instances disjoint in one query): per-source doc_id-ordered
    * token prefix sums → 256-token packs with payload md5 → per-shard
    * counts + chained content hash. Mirror of
    * [[graft.operators.TrainExport]]'s build.
    */
  private def manifestCtes(rel: String, p: String): String =
    s"""${p}t AS (
       |  SELECT doc_id, source, text, len($toksSql)::BIGINT AS n_tok
       |  FROM $rel
       |), ${p}c AS (
       |  SELECT doc_id, source, text, n_tok,
       |    SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM ${p}t
       |), ${p}packs AS (
       |  SELECT source,
       |    ((cum - n_tok) // ${graft.operators.TrainExport.SeqBudget})::BIGINT AS pack_id,
       |    COUNT(*) AS n_docs, SUM(n_tok)::BIGINT AS pack_tokens,
       |    md5(string_agg(text, chr(10) || chr(10) ORDER BY doc_id)) AS seq_md5
       |  FROM ${p}c GROUP BY source, pack_id
       |), ${p}m AS (
       |  SELECT source,
       |    (pack_id // ${graft.operators.TrainExport.PacksPerShard})::BIGINT AS shard,
       |    COUNT(*)::BIGINT AS n_packs,
       |    SUM(n_docs)::BIGINT AS n_docs,
       |    SUM(pack_tokens)::BIGINT AS total_tokens,
       |    md5(string_agg(seq_md5, '' ORDER BY pack_id)) AS content_md5
       |  FROM ${p}packs GROUP BY source, shard
       |)""".stripMargin

  val all: Seq[Q] = Seq(
    // ---- deterministic train/val/test hash split. Membership is a pure
    // function of doc_id (md5 bucket mod 100): reproducible across reruns,
    // engines, and partitionings — the only split discipline that works at
    // 100 TB (random() samples are none of those). Checked as per-split
    // aggregates whose sums pin every row's assignment.
    Q(
      "q_hash_split",
      (s, d) =>
        Split
          .hashSplit(Tables.documents(s, d), "doc_id")
          .groupBy(col("split"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            min(col("bucket")).as("min_bucket"),
            max(col("bucket")).as("max_bucket")
          )
          .orderBy("split"),
      Some(
        s"""WITH b AS (
           |  SELECT doc_id, n_chars, ${h60id("doc_id")} % 100 AS bucket
           |  FROM documents
           |), s AS (
           |  SELECT n_chars, bucket,
           |    CASE WHEN bucket < 80 THEN 'train'
           |         WHEN bucket < 90 THEN 'val'
           |         ELSE 'test' END AS split
           |  FROM b
           |)
           |SELECT split, COUNT(*) AS n_docs, SUM(n_chars)::BIGINT AS sum_chars,
           |       MIN(bucket) AS min_bucket, MAX(bucket) AS max_bucket
           |FROM s GROUP BY split ORDER BY split""".stripMargin
      ),
      doc = "Deterministic 80/10/10 train/val/test split by md5-bucket of " +
        "doc_id: map-only, shuffle-free, stable under repartitioning and " +
        "identical across engines (bit-checked here)."
    ),
    // ---- weighted dataset mixing: per-source sampling rates (the "data
    // mixture" step of corpus assembly), decided row-locally by a salted
    // md5 bucket so the mix is independent of the train/val/test split.
    Q(
      "q_mix_weighted",
      (s, d) =>
        Split
          .weightedMix(
            Tables.documents(s, d),
            "doc_id",
            "lang",
            percents = Map("en" -> 100, "de" -> 50, "fr" -> 25, "es" -> 10),
            defaultPercent = 5
          )
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_kept"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            max(col("mix_bucket")).as("max_bucket"),
            min(col("mix_rate")).cast("long").as("rate")
          )
          .orderBy("lang"),
      Some(
        s"""WITH m AS (
           |  SELECT lang, n_chars,
           |    ('0x' || substr(md5(doc_id::VARCHAR || '#mix'), 1, 15))::BIGINT % 100 AS mix_bucket,
           |    CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 50
           |              WHEN 'fr' THEN 25 WHEN 'es' THEN 10 ELSE 5 END AS mix_rate
           |  FROM documents
           |)
           |SELECT lang, COUNT(*) AS n_kept, SUM(n_chars)::BIGINT AS sum_chars,
           |       MAX(mix_bucket) AS max_bucket, MIN(mix_rate)::BIGINT AS rate
           |FROM m WHERE mix_bucket < mix_rate
           |GROUP BY lang ORDER BY lang""".stripMargin
      ),
      doc = "Weighted data mixture: en 100% / de 50% / fr 25% / es 10% / " +
        "other 5%, each row kept by a deterministic salted md5 bucket — " +
        "map-only, reproducible sampling (bit-checked per-source counts, " +
        "char sums, and the bucket < rate invariant)."
    ),
    // ---- target-DISTRIBUTION resampling: the rates themselves are derived
    // from a target composition (40% en / 15% each of zh-es-de-fr), capped
    // by the scarcest domain — the DoReMi-style "hit this mixture, keep as
    // much data as possible" step. Integer ppm arithmetic end to end.
    Q(
      "q_target_mix",
      (s, d) =>
        Split
          .targetMix(
            Tables.documents(s, d),
            "doc_id",
            "lang",
            targetsPpm = Seq(
              ("en", 400000L),
              ("zh", 150000L),
              ("es", 150000L),
              ("de", 150000L),
              ("fr", 150000L)
            )
          )
          .select(
            col("doc_id"),
            col("lang"),
            col("n_domain"),
            col("target_ppm"),
            col("rate_ppm"),
            col("mix_bucket"),
            col("accepted")
          )
          .orderBy("doc_id"),
      Some(
        s"""WITH t(lang, target_ppm) AS (VALUES
           |    ('en', 400000), ('zh', 150000), ('es', 150000),
           |    ('de', 150000), ('fr', 150000)),
           |c AS (SELECT lang, COUNT(*)::BIGINT AS n_domain FROM documents GROUP BY lang),
           |caps AS (
           |  SELECT c.lang, n_domain, target_ppm::BIGINT AS target_ppm,
           |         (n_domain * 1000000) // target_ppm AS cap
           |  FROM c JOIN t USING (lang)),
           |ft AS (SELECT MIN(cap) AS feasible_total FROM caps),
           |r AS (
           |  SELECT lang, n_domain, target_ppm,
           |         (feasible_total * target_ppm) // n_domain AS rate_ppm
           |  FROM caps CROSS JOIN ft)
           |SELECT d.doc_id, d.lang, r.n_domain, r.target_ppm, r.rate_ppm,
           |  ('0x' || substr(md5(d.doc_id::VARCHAR || '#tmix'), 1, 15))::BIGINT % 1000000
           |    AS mix_bucket,
           |  (('0x' || substr(md5(d.doc_id::VARCHAR || '#tmix'), 1, 15))::BIGINT % 1000000
           |    < r.rate_ppm) AS accepted
           |FROM documents d JOIN r ON d.lang = r.lang
           |ORDER BY d.doc_id""".stripMargin
      ),
      doc = "Target-distribution resampling: per-domain keep rates DERIVED " +
        "from target corpus shares (ppm), total capped by the scarcest " +
        "domain (T = min_d count_d*1e6/share_d), membership by salted md5 " +
        "bucket — |domains| aggregate rows + one map-only pass over the " +
        "corpus, rates and every accept verdict bit-checked."
    ),
    Q(
      "q_temp_sample",
      (s, d) =>
        Split
          .temperatureSample(Tables.documents(s, d), "doc_id", "lang")
          .select(
            col("doc_id"),
            col("lang"),
            col("n_domain"),
            col("rate_ppm"),
            col("mix_bucket"),
            col("accepted")
          )
          .orderBy("doc_id"),
      Some(
        s"""WITH c AS (SELECT lang, COUNT(*)::BIGINT AS n_domain FROM documents GROUP BY lang),
           |mn AS (SELECT MIN(n_domain) AS n_min FROM c),
           |r0 AS (SELECT lang, n_domain, (n_min * 1000000000000) // n_domain AS x
           |       FROM c CROSS JOIN mn),
           |r1 AS (SELECT lang, n_domain, x, floor(sqrt(x::DOUBLE))::BIGINT AS s0 FROM r0),
           |r AS (SELECT lang, n_domain,
           |        CASE WHEN (s0 + 1)::HUGEINT * (s0 + 1) <= x THEN s0 + 1
           |             WHEN s0::HUGEINT * s0 > x THEN s0 - 1
           |             ELSE s0 END AS rate_ppm
           |      FROM r1)
           |SELECT d.doc_id, d.lang, r.n_domain, r.rate_ppm,
           |  ('0x' || substr(md5(d.doc_id::VARCHAR || '#tsamp'), 1, 15))::BIGINT % 1000000
           |    AS mix_bucket,
           |  (('0x' || substr(md5(d.doc_id::VARCHAR || '#tsamp'), 1, 15))::BIGINT % 1000000
           |    < r.rate_ppm) AS accepted
           |FROM documents d JOIN r USING (lang)
           |ORDER BY d.doc_id""".stripMargin
      ),
      doc = "Temperature sampling at α = 1/2 (the XLM-R / mT5 " +
        "multilingual balancing recipe) as a deterministic filter: keep " +
        "rate per language = √(n_min/n_lang) ppm — sampling shares ∝ " +
        "n^α with the smallest language kept whole — computed " +
        "integer-exactly (double-sqrt seed, ±1 DECIMAL-safe correction) " +
        "so both engines derive the identical rates; membership by " +
        "salted md5 bucket. One |languages| aggregate + one map-only " +
        "corpus pass; every rate and accept verdict bit-checked."
    ),
    // ---- curriculum phasing: docs bucketed into 4 phases by EXACT
    // quartiles of their statistical-LM quality score — train easy/clean
    // first, hard last. The quantiles come from the O(nBuckets)-state
    // exact-percentile operator (no global sort), then phase assignment is
    // one map-only comparison against three broadcast cutpoints.
    Q(
      "q_curriculum",
      (s, d) => {
        val scores = TextAnalysis.lmScores(Tables.documents(s, d)).localCheckpoint()
        val base = scores.select(
          lit("all").as("g"),
          lit("sc").as("vc"),
          col("lm_score_e6").cast("double").as("v")
        )
        val cuts = graft.operators.Percentiles
          .exactPercentiles(base, Seq("g"), Map("sc" -> Seq(0.25, 0.5, 0.75)))
          .groupBy(col("g"))
          .agg(
            max(when(col("p") === 0.25, col("pct"))).as("q25"),
            max(when(col("p") === 0.5, col("pct"))).as("q50"),
            max(when(col("p") === 0.75, col("pct"))).as("q75")
          )
          .select("q25", "q50", "q75")
        scores
          .crossJoin(broadcast(cuts))
          .select(
            col("doc_id"),
            col("lm_score_e6"),
            (lit(1L) + (col("lm_score_e6") > col("q25")).cast("long")
              + (col("lm_score_e6") > col("q50")).cast("long")
              + (col("lm_score_e6") > col("q75")).cast("long")).as("phase")
          )
          .orderBy("doc_id")
      },
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
           |       FROM (SELECT unnest(tk) AS w FROM t) GROUP BY w),
           |sc AS (
           |  SELECT doc_id,
           |    (SUM((c_xy * 1000000) // c_x) // COUNT(*))::BIGINT AS lm_score_e6
           |  FROM bg JOIN cxy USING (bg)
           |  JOIN cx ON split_part(bg.bg, ' ', 1) = cx.w
           |  GROUP BY doc_id),
           |cuts AS (
           |  SELECT quantile_cont(lm_score_e6::DOUBLE, 0.25) AS q25,
           |         quantile_cont(lm_score_e6::DOUBLE, 0.5) AS q50,
           |         quantile_cont(lm_score_e6::DOUBLE, 0.75) AS q75
           |  FROM sc)
           |SELECT doc_id, lm_score_e6,
           |  (1 + (lm_score_e6 > q25)::INT + (lm_score_e6 > q50)::INT
           |     + (lm_score_e6 > q75)::INT)::BIGINT AS phase
           |FROM sc CROSS JOIN cuts
           |ORDER BY doc_id""".stripMargin
      ),
      doc = "Curriculum phasing: every doc assigned to one of 4 phases by " +
        "exact quartiles of its integer LM quality score — cutpoints from " +
        "the O(buckets)-state exact-percentile operator (no global sort), " +
        "assignment map-only against three broadcast cutpoints. Scores, " +
        "cut comparisons, and phases bit-checked."
    ),
    // ---- deterministic stratified sampling: cap each source at k docs,
    // picked by smallest salted id-hash. The bounded top-k aggregate keeps
    // O(k) per-stratum state and pre-reduces each map partition, so the
    // exchange carries <= k*strata rows no matter the corpus size.
    Q(
      "q_sample_stratified",
      (s, d) =>
        Split
          .stratifiedSample(Tables.documents(s, d), "doc_id", "source", k = 5)
          .orderBy("source", "sample_rank"),
      Some(
        s"""WITH h AS (
           |  SELECT source, doc_id,
           |    ('0x' || substr(md5(doc_id::VARCHAR || '#sample'), 1, 15))::BIGINT
           |      % ${Split.TwoPow52} AS h52
           |  FROM documents
           |), r AS (
           |  SELECT source, doc_id,
           |    row_number() OVER (PARTITION BY source ORDER BY h52, doc_id)
           |      AS sample_rank
           |  FROM h
           |)
           |SELECT source, sample_rank::BIGINT AS sample_rank, doc_id
           |FROM r WHERE sample_rank <= 5
           |ORDER BY source, sample_rank""".stripMargin
      ),
      doc = "Deterministic per-source downsample (cap each domain at 5 " +
        "docs, chosen by smallest salted md5 of doc_id): bounded TopK " +
        "aggregate, O(k) state per stratum, map-side pre-reduction — the " +
        "scale-safe form of `row_number() <= k` sampling (bit-checked " +
        "against the window formulation in DuckDB)."
    ),
    // ---- sequence packing: each doc assigned to the fixed token-budget
    // training sequence where its first token lands (docs of a source
    // concatenated in doc_id order, sequences split at budget boundaries).
    Q(
      "q_pack_sequences",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val packed = Split.packSequences(
          docs.select(
            col("doc_id"),
            col("source"),
            size(Text.tokensAll(col("text"))).as("n_tokens")
          ),
          "doc_id",
          "source",
          col("n_tokens"),
          budget = 256,
          // small shards so the two-level prefix sum's sharded path (not
          // its one-shard degenerate) is what the oracle hash-checks; the
          // result is bit-identical for ANY shardSize (SplitSpec pins it)
          shardSize = 64
        )
        packed
          .groupBy(col("source"), col("pack_id"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tok")).cast("long").as("pack_tokens"),
            min(col("doc_id")).as("first_doc")
          )
          .orderBy("source", "pack_id")
      },
      Some(
        s"""WITH t AS (
           |  SELECT doc_id, source, len($toksSql)::BIGINT AS n_tok
           |  FROM documents
           |), c AS (
           |  SELECT doc_id, source, n_tok,
           |    SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |  FROM t
           |)
           |SELECT source, ((cum - n_tok) // 256)::BIGINT AS pack_id,
           |  COUNT(*) AS n_docs, SUM(n_tok)::BIGINT AS pack_tokens,
           |  MIN(doc_id) AS first_doc
           |FROM c GROUP BY source, pack_id
           |ORDER BY source, pack_id""".stripMargin
      ),
      doc = "Token-budget sequence packing (256-token training sequences " +
        "per source, docs in doc_id order, split at boundaries): two-level " +
        "prefix sum (per-shard totals -> broadcast offsets -> shard-local " +
        "window, sort partitions bounded by shardSize not group size) + " +
        "exact LONG arithmetic; per-pack doc counts and token sums " +
        "bit-checked."
    ),
    // ---- materialize the packed sequences q_pack_sequences assigns: per
    // (source, pack), the member docs' texts concatenated in doc_id order
    // with a separator — the actual training-sequence payload. The content
    // is pinned by md5 of the joined string (order included), so the check
    // is bit-exact without shipping megabyte rows through the compare.
    Q(
      "q_pack_texts",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val packed = Split.packSequences(
          docs.select(
            col("doc_id"),
            col("source"),
            col("text"),
            size(Text.tokensAll(col("text"))).as("n_tokens")
          ),
          "doc_id",
          "source",
          col("n_tokens"),
          budget = 256,
          shardSize = 64
        )
        packed
          .groupBy(col("source"), col("pack_id"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tok")).cast("long").as("pack_tokens"),
            md5(
              concat_ws(
                "\n\n",
                transform(
                  array_sort(collect_list(struct(col("doc_id"), col("text")))),
                  e => e.getField("text")
                )
              )
            ).as("seq_md5")
          )
          .orderBy("source", "pack_id")
      },
      Some(
        s"""WITH t AS (
           |  SELECT doc_id, source, text, len($toksSql)::BIGINT AS n_tok
           |  FROM documents
           |), c AS (
           |  SELECT doc_id, source, text, n_tok,
           |    SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |  FROM t
           |)
           |SELECT source, ((cum - n_tok) // 256)::BIGINT AS pack_id,
           |  COUNT(*) AS n_docs, SUM(n_tok)::BIGINT AS pack_tokens,
           |  md5(string_agg(text, chr(10) || chr(10) ORDER BY doc_id)) AS seq_md5
           |FROM c GROUP BY source, pack_id
           |ORDER BY source, pack_id""".stripMargin
      ),
      doc = "Packed training-sequence materialization: per (source, pack), " +
        "member texts concatenated in doc_id order with a blank-line " +
        "separator; the full sequence content (bytes AND order) is pinned " +
        "by md5 — the write-side step after q_pack_sequences' assignment, " +
        "same two-level prefix-sum shape."
    ),
    // ---- the composed cleaning pass: predict language, score quality,
    // gate on the TRAINED quality classifier (margin > 0 — the learned
    // fluency-distillation boundary, same head t_classifier_score pins),
    // keep canonical exact-dedup representatives that
    // pass all gates, and tag each survivor with its split. The verdicts
    // come from the persisted cleaning-gate asset (one derivation shared
    // with t_drop_reasons/t_datacard — the ensureGateAsset discipline);
    // the query itself is a filter + sort over the asset read. The oracle
    // still re-derives every gate from raw text, so the asset's bits are
    // hash-checked, not trusted.
    Q(
      "t_clean_pipeline",
      (s, d) => {
        val docs = Tables.documents(s, d)
        TextAnalysis
          .cleanGateAsset(d, docs)
          .filter(
            col("is_canonical") && col("pred_lang") === "en" &&
              col("quality_score") >= 0.45 && col("clf_margin") > 0L
          )
          .select(
            col("doc_id"),
            col("quality_score"),
            col("n_tokens"),
            col("clf_margin"),
            col("split")
          )
          .orderBy("doc_id")
      },
      Some {
        s"""WITH $gateCtes
           |SELECT qs.doc_id, quality_score, n_tokens, clf.clf_margin,
           |  CASE WHEN ${h60id("qs.doc_id")} % 100 < 80 THEN 'train'
           |       WHEN ${h60id("qs.doc_id")} % 100 < 90 THEN 'val'
           |       ELSE 'test' END AS split
           |FROM qs JOIN canon ON qs.doc_id = canon.doc_id
           |          JOIN clf ON qs.doc_id = clf.doc_id
           |WHERE pred_lang = 'en' AND quality_score >= 0.45
           |  AND clf.clf_margin > 0
           |ORDER BY qs.doc_id""".stripMargin
      },
      doc = "End-to-end corpus cleaning: language ID (en), quality gate " +
        "(score >= 0.45), TRAINED quality-classifier gate (integer " +
        "margin > 0), exact-dedup canonical filter, split tag — " +
        "answered from the persisted per-doc cleaning-gate asset (built " +
        "once per corpus fingerprint, shared with t_drop_reasons and " +
        "t_datacard), so the steady-state query is one asset scan + " +
        "filter + sort. Every verdict re-derived from raw text by the " +
        "oracle."
    ),
    // ---- the web-crawl composition: HTML/boilerplate extraction as GATE
    // ZERO of the cleaning pipeline. Raw pages (the dirty-HTML fixture)
    // are extracted first; documents whose every block classified as
    // boilerplate drop at gate 0; the survivors' EXTRACTED text — not the
    // raw markup — feeds the language-ID + quality gates and the split
    // tag. Extraction is per-row (zero shuffles), so gate 0 adds no
    // exchange to t_clean_pipeline's plan shape.
    Q(
      "t_extract_clean",
      (s, d) => {
        val docs = Tables.documents(s, d)
        extractCleanPlan(graft.operators.Html.dirtyHtml(docs))
      },
      Some(extractCleanOracleSql),
      doc = "Gate-0 composition: HTML/boilerplate extraction feeding the " +
        "cleaning gates — raw pages are extracted per-row (no added " +
        "exchange), all-boilerplate pages drop at gate 0, and the " +
        "language-ID + quality gates evaluate the EXTRACTED text, not " +
        "the markup. The oracle replays page construction, extraction, " +
        "and the full gate arithmetic over the extracted text."
    ),
    // ---- the FULL crawl composition, gate −1 onward: WARC container →
    // record parse → HTTP body slice → extraction → language/quality
    // gates → split tags, ONE plan. Identical downstream to
    // t_extract_clean (and the same oracle: t_warc_extract proves the
    // container round-trips pages bit-exactly, so the gate arithmetic
    // replays from direct construction) — what this query adds is the
    // end-to-end plan a crawl operator actually submits: shard scan with
    // pushed glob filter at the bottom, training-split tags at the top.
    Q(
      "pipe_crawl_e2e",
      (s, d) => {
        val dir = graft.sources.Warc.ensureFixtureDir(d, Tables.documents(s, d))
        extractCleanPlan(graft.sources.Warc.fixturePages(s, dir))
      },
      Some(extractCleanOracleSql),
      doc = "The whole crawl pipeline as one submitted plan: WARC shards " +
        "(gzip member per record, whole-shard tasks, glob pushdown) → " +
        "record parse → response filter + HTTP body slice → boilerplate " +
        "extraction (gate 0 drop) → language-ID + quality gates over " +
        "extracted text → train/val/test tags. The oracle replays every " +
        "stage from direct page construction — any container, slicing, " +
        "extraction, or gate bug breaks the hash."
    )
  ) ++ funnelAndExport

  /** Shared downstream of the crawl compositions: extraction as gate 0,
    * then the cleaning gates over EXTRACTED text.
    *
    * localCheckpoint = a projection barrier, not just a cache:
    * CollapseProject would otherwise INLINE the whole extraction
    * expression tree (a ~10-regex-pass per-row pipeline) into every
    * downstream gate column — tk, each language score, each quality
    * ratio — re-running extraction ~8x per row (measured 14 s vs ~2 s at
    * sf0.1). The checkpointed frame is one narrow (doc_id, text) table,
    * so the barrier costs one extraction pass.
    */
  private def extractCleanPlan(pages: org.apache.spark.sql.DataFrame) = {
    val extracted = graft.operators.Html
      .extract(pages)
      .filter(col("n_good") > 0)
      .select(col("doc_id"), col("extracted").as("text"))
      .localCheckpoint()
    TextAnalysis
      .annotateDocs(extracted)
      .filter(col("pred_lang") === "en" && col("quality_score") >= 0.45)
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("quality_score"),
        col("split")
      )
      .orderBy("doc_id")
  }

  /** Oracle for both crawl compositions: page construction + extraction +
    * gate arithmetic, straight from the documents table.
    */
  private lazy val extractCleanOracleSql: String = {
    val scoreDefs = TextAnalysis.LangMarkers
      .map { case (lang, ms) =>
        s"len(list_filter(tk, w -> w IN (${inList(ms)}))) AS s_$lang"
      }
      .mkString(",\n       ")
    s"""WITH ${graft.operators.Html.extractCtes("documents")},
           |ed AS (
           |  SELECT doc_id,
           |    array_to_string(list_transform(goods, x -> x['text']), chr(10)) AS text
           |  FROM hg WHERE len(goods) > 0
           |),
           |et AS (SELECT doc_id, text, $toksSql AS tk FROM ed),
           |es AS (SELECT doc_id, text, tk,
           |       $scoreDefs
           |FROM et),
           |elang AS (SELECT doc_id, text, tk,
           |  CASE WHEN s_en + s_de + s_fr + s_es = 0 THEN 'und'
           |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
           |       WHEN s_de > s_en AND s_de >= s_fr AND s_de >= s_es THEN 'de'
           |       WHEN s_fr > s_en AND s_fr > s_de AND s_fr >= s_es THEN 'fr'
           |       ELSE 'es' END AS pred_lang
           |FROM es),
           |eq AS (SELECT doc_id, pred_lang,
           |  len(tk)::BIGINT AS n_tokens,
           |  length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE / length(text) AS alpha_ratio,
           |  len(list_filter(tk, w -> w IN (${inList(Text.StopWords)})))::DOUBLE / len(tk) AS stopword_ratio,
           |  len(list_distinct(tk))::DOUBLE / len(tk) AS uniq_ratio
           |FROM elang),
           |eqs AS (SELECT doc_id, pred_lang, n_tokens,
           |  (alpha_ratio * 0.3) + (least(stopword_ratio * 4.0, 1.0) * 0.3) + (uniq_ratio * 0.4)
           |    AS quality_score
           |FROM eq)
           |SELECT doc_id, n_tokens, quality_score,
           |  CASE WHEN ${h60id("doc_id")} % 100 < 80 THEN 'train'
           |       WHEN ${h60id("doc_id")} % 100 < 90 THEN 'val'
           |       ELSE 'test' END AS split
           |FROM eqs
           |WHERE pred_lang = 'en' AND quality_score >= 0.45
           |ORDER BY doc_id""".stripMargin
  }

  /** Second half of the registered surface (funnel, packing, export). */
  private lazy val funnelAndExport: Seq[Q] = Seq(
    // ---- drop-attribution FUNNEL over the cleaning gates: every doc
    // charged to the FIRST gate that rejects it (corpus dedup [exact +
    // near-dup] → lang → quality → classifier), plus the survivor count
    // after each gate — the observability report that explains WHERE a
    // cleaning pipeline loses its data. Gate arithmetic shared with
    // t_clean_pipeline (gateCtes) and d_dedup_corpus (minhashPairsCtes +
    // the components walk), so the attribution is consistent with both.
    Q(
      "t_drop_reasons",
      (s, d) => {
        val spark = s
        import spark.implicits._
        val docs = Tables.documents(s, d)
        // verdicts from the shared persisted cleaning-gate asset (one
        // derivation for this report + t_clean_pipeline + t_datacard);
        // the asset has exactly one row per doc, so the corpus total
        // comes from the asset too — zero corpus scans in this plan
        val gates = TextAnalysis.cleanGateAsset(d, docs)
        val staged = gates
          .select(
            when(!col("in_corpus"), "1_dup")
              .when(col("pred_lang") =!= "en", "2_lang")
              .when(col("quality_score") < 0.45, "3_quality")
              .when(col("clf_margin") <= 0L, "4_classifier")
              .otherwise("5_kept")
              .as("stage")
          )
        val agg = staged.groupBy(col("stage")).agg(count(lit(1)).as("n_docs"))
        val total = gates.agg(count(lit(1)).as("total"))
        // complete 5-row funnel frame (a gate that drops nothing still
        // reports a zero row); cumulative drops via a tiny post-aggregate
        // self-join over <= 5 rows — no window, nothing data-sized here
        val stages = Seq("1_dup", "2_lang", "3_quality", "4_classifier", "5_kept")
          .toDF("stage")
        val withN = stages
          .join(agg, Seq("stage"), "left")
          .select(col("stage"), coalesce(col("n_docs"), lit(0L)).as("n_docs"))
        withN
          .as("a")
          .join(
            withN.as("b"),
            col("b.stage") <= col("a.stage") && col("b.stage") =!= "5_kept",
            "left"
          )
          .groupBy(col("a.stage").as("stage"), col("a.n_docs").as("n_docs"))
          .agg(coalesce(sum(col("b.n_docs")), lit(0L)).as("cum_dropped"))
          .crossJoin(broadcast(total))
          .select(
            col("stage"),
            col("n_docs"),
            (col("total") - col("cum_dropped")).as("remaining_after")
          )
          .orderBy("stage")
      },
      Some(
        s"""${DedupQ.minhashPairsCtes.replaceFirst("^WITH ", "WITH RECURSIVE ")},
           |und AS (
           |  SELECT a_id AS src, b_id AS dst FROM pairs
           |  UNION
           |  SELECT b_id, a_id FROM pairs
           |),
           |walk(id, root) AS (
           |  SELECT DISTINCT src, src FROM und
           |  UNION
           |  SELECT u.dst, w.root FROM walk w JOIN und u ON u.src = w.id
           |),
           |comp AS (SELECT id, MIN(root) AS component FROM walk GROUP BY id),
           |losers AS (SELECT id FROM comp WHERE id != component),
           |$gateCtes,
           |v AS (
           |  SELECT d.doc_id,
           |    CASE WHEN canon.doc_id IS NULL
           |           OR d.doc_id IN (SELECT id FROM losers) THEN '1_dup'
           |         WHEN qs.pred_lang <> 'en' THEN '2_lang'
           |         WHEN qs.quality_score < 0.45 THEN '3_quality'
           |         WHEN clf.clf_margin <= 0 THEN '4_classifier'
           |         ELSE '5_kept' END AS stage
           |  FROM documents d
           |  JOIN qs ON d.doc_id = qs.doc_id
           |  JOIN clf ON d.doc_id = clf.doc_id
           |  LEFT JOIN canon ON d.doc_id = canon.doc_id),
           |st(stage) AS (VALUES ('1_dup'), ('2_lang'), ('3_quality'),
           |                     ('4_classifier'), ('5_kept')),
           |agg AS (SELECT stage, COUNT(*)::BIGINT AS n_docs FROM v GROUP BY stage),
           |tot AS (SELECT COUNT(*)::BIGINT AS total FROM documents)
           |SELECT st.stage, coalesce(agg.n_docs, 0)::BIGINT AS n_docs,
           |  (tot.total - coalesce((SELECT SUM(a2.n_docs) FROM agg a2
           |     WHERE a2.stage <= st.stage AND a2.stage <> '5_kept'), 0))::BIGINT
           |    AS remaining_after
           |FROM st LEFT JOIN agg USING (stage) CROSS JOIN tot
           |ORDER BY st.stage""".stripMargin
      ),
      doc = "Per-gate drop attribution: each doc charged to its FIRST " +
        "failing gate (corpus dedup [exact + near-dup components] -> " +
        "lang -> quality -> classifier), with the survivor funnel after " +
        "each gate. One pass over the persisted cleaning-gate asset + a " +
        "<=5-row report join — the funnel never re-derives the gates it " +
        "explains; every count bit-checked via the shared gate CTEs, " +
        "which DO re-derive everything from raw text."
    ),
    // ---- the corpus DATACARD: the one-page per-slice report a dataset
    // release ships — docs, tokens, chars, global-canonical share — per
    // (source, predicted language) with ROLLUP subtotals, all from one
    // composed plan over the annotation + exact-dedup operators. Every
    // number integral; dup share as permille integer division.
    Q(
      "t_datacard",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // every rollup input (source, n_chars, pred_lang, n_tokens,
        // is_canonical) rides in the shared cleaning-gate asset — the
        // datacard is one asset scan + one partial-aggregable rollup
        TextAnalysis
          .cleanGateAsset(d, docs)
          .rollup(col("source"), col("pred_lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            sum(col("n_chars")).as("n_chars"),
            sum(col("is_canonical").cast("long")).as("n_unique"),
            expr("1000 - (1000 * sum(cast(is_canonical as bigint))) DIV count(1)")
              .as("dup_permille")
          )
          .select(
            coalesce(col("source"), lit("ALL")).as("source"),
            coalesce(col("pred_lang"), lit("ALL")).as("lang"),
            col("n_docs"),
            col("n_tokens"),
            col("n_chars"),
            col("n_unique"),
            col("dup_permille")
          )
          .orderBy("source", "lang")
      },
      Some {
        val scoreDefs = TextAnalysis.LangMarkers
          .map { case (lang, ms) =>
            s"len(list_filter(tk, w -> w IN (${inList(ms)}))) AS s_$lang"
          }
          .mkString(",\n       ")
        s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
           |s AS (SELECT doc_id, tk,
           |       $scoreDefs
           |FROM t),
           |lang AS (SELECT doc_id, len(tk)::BIGINT AS n_tokens,
           |  CASE WHEN s_en + s_de + s_fr + s_es = 0 THEN 'und'
           |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
           |       WHEN s_de > s_en AND s_de >= s_fr AND s_de >= s_es THEN 'de'
           |       WHEN s_fr > s_en AND s_fr > s_de AND s_fr >= s_es THEN 'fr'
           |       ELSE 'es' END AS pred_lang
           |FROM s),
           |cf AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY
           |      md5(trim(regexp_replace(replace(lower(text), chr(39), ''), '[^a-z]+', ' ', 'g'))))
           |    THEN 1 ELSE 0 END AS is_canonical
           |  FROM documents),
           |base AS (
           |  SELECT d.source, l.pred_lang, l.n_tokens, d.n_chars, cf.is_canonical
           |  FROM documents d JOIN lang l ON d.doc_id = l.doc_id
           |                   JOIN cf ON d.doc_id = cf.doc_id)
           |SELECT coalesce(source, 'ALL') AS source,
           |  coalesce(pred_lang, 'ALL') AS lang,
           |  COUNT(*)::BIGINT AS n_docs,
           |  SUM(n_tokens)::BIGINT AS n_tokens,
           |  SUM(n_chars)::BIGINT AS n_chars,
           |  SUM(is_canonical)::BIGINT AS n_unique,
           |  (1000 - (1000 * SUM(is_canonical)) // COUNT(*))::BIGINT AS dup_permille
           |FROM base GROUP BY ROLLUP (source, pred_lang)
           |ORDER BY source, lang""".stripMargin
      },
      doc = "Corpus datacard: per (source, predicted-language) slice with " +
        "ROLLUP subtotals — docs, tokens, chars, globally-canonical doc " +
        "count, duplicate share as integral permille. One partial-" +
        "aggregable rollup over the persisted cleaning-gate asset (shared " +
        "with t_clean_pipeline/t_drop_reasons); zero corpus scans; every " +
        "cell re-derived from raw text by the oracle."
    ),
    // ---- the delivery artifact: packed training sequences exported as
    // (source, shard)-partitioned parquet plus a per-shard integrity
    // manifest, build-once under the fingerprinted atomic-publication
    // contract. The query reads the PERSISTED manifest — the oracle
    // re-derives every count and every content hash from the raw corpus,
    // so the check certifies the bytes on disk, not the plan that wrote
    // them.
    Q(
      "q_export_manifest",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val dir = graft.operators.TrainExport.ensure(d, docs)
        graft.operators.TrainExport
          .manifest(s, dir)
          .select(
            col("source"),
            col("shard").cast("long").as("shard"),
            col("n_packs"),
            col("n_docs"),
            col("total_tokens"),
            col("content_md5")
          )
          .orderBy("source", "shard")
      },
      Some(
        s"""WITH ${manifestCtes("documents", "e")}
           |SELECT source, shard, n_packs, n_docs, total_tokens, content_md5
           |FROM em ORDER BY source, shard""".stripMargin
      ),
      doc = "Training-corpus export manifest: per (source, shard) of the " +
        "persisted packed-sequence export — pack/doc/token counts and the " +
        "shard content hash (md5 of member packs' sequence md5s in pack " +
        "order). Shards are (source, shard)-directory-partitioned so a " +
        "data-loader task lists exactly one directory; the manifest is " +
        "written last as the build's completion marker and doubles as the " +
        "copy-integrity and version-diff key. Every cell, including both " +
        "hash levels, re-derived from the raw corpus by the oracle."
    ),
    // ---- epoch-seeded deterministic training order: every trainer needs
    // the corpus in a "random" order that is (a) reproducible across
    // re-runs and resumes, (b) different every epoch, and (c) cheap to
    // re-derive at 100 TB. Shard membership is STATIC (doc_id mod
    // nShards), so changing the epoch seed moves ZERO bytes between
    // shards — only the within-shard read order changes; each shard's
    // order is a local sort by md5(seed ':' doc_id), and the global
    // position interleaves shard readers round-robin, so no global sort
    // ever runs. row_number is partitioned by shard; at production scale
    // nShards is sized to the file/loader-task count (hundreds to
    // thousands), keeping each local sort one task's worth of ids.
    Q(
      "q_train_order",
      (s, d) => {
        val nShards = 64
        val seed = "epoch1"
        val byShard = org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard"))
          .orderBy(col("rank_md5"), col("doc_id"))
        Tables
          .documents(s, d)
          .select(
            col("doc_id"),
            pmod(col("doc_id"), lit(nShards.toLong)).as("shard"),
            md5(concat(lit(s"$seed:"), col("doc_id").cast("string")))
              .as("rank_md5")
          )
          .withColumn("ord", row_number().over(byShard).cast("long"))
          .withColumn(
            "global_ord",
            (col("ord") - 1) * nShards + col("shard")
          )
          .select("doc_id", "shard", "ord", "global_ord")
          .orderBy("doc_id")
      },
      Some("""WITH r AS (
             |  SELECT doc_id, doc_id % 64 AS shard,
             |    md5('epoch1:' || doc_id::VARCHAR) AS rank_md5
             |  FROM documents)
             |SELECT doc_id, shard,
             |  row_number() OVER (PARTITION BY shard
             |    ORDER BY rank_md5, doc_id)::BIGINT AS ord,
             |  ((row_number() OVER (PARTITION BY shard
             |    ORDER BY rank_md5, doc_id) - 1) * 64 + shard)::BIGINT
             |    AS global_ord
             |FROM r ORDER BY doc_id""".stripMargin),
      doc = "Epoch-seeded deterministic training order: static shard " +
        "membership (doc_id mod nShards — zero data movement between " +
        "epochs), within-shard order by md5(seed:doc_id), global position " +
        "by round-robin shard interleave. Reproducible, resumable, and " +
        "free of any global sort; a new epoch is a new seed string."
    ),
    // ---- materialized-view rewrite through the optimizer: the query is
    // written against the BASE table; SummaryRewrite answers it from the
    // published per-source summary (|sources| rows instead of a corpus
    // scan — the daily-dashboard shape at 100 TB). The oracle computes
    // the truth from the raw table, so a rewrite that changed any value
    // would go red; SummarySpec pins that the rewrite actually fires.
    Q(
      "q_summary_rewrite",
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.operators.Summaries.enableFor(s, d, docs)
        docs
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars")
          )
          .orderBy("source")
      },
      Some(
        """SELECT source, COUNT(*)::BIGINT AS n_docs,
          |  SUM(n_chars)::BIGINT AS sum_chars,
          |  MIN(n_chars)::BIGINT AS min_chars,
          |  MAX(n_chars)::BIGINT AS max_chars
          |FROM documents GROUP BY source ORDER BY source""".stripMargin
      ),
      doc = "Materialized-view rewrite (the Databricks-MV / Trino-MV " +
        "contract): a count/sum/min/max per-source aggregate written " +
        "against the base documents table is answered by the Catalyst " +
        "rule from the fingerprinted published summary asset — users " +
        "keep the base-table query, the optimizer substitutes the " +
        "|sources|-row read. Values bit-checked against the raw table; " +
        "the plan substitution itself is spec-pinned."
    ),
    // ---- export version diff: corpus v2 = v1 with deterministic edits
    // (every 97th doc's text doubled, every 89th deleted) exported
    // independently; the shard-level manifest diff is the COPY PLAN for
    // publishing v2 where v1 is already distributed — only changed/added
    // shards upload, removed shards delete, same shards (the bulk, since
    // packing is per-source) never move. Manifest-only: 2·|shards| rows
    // compared, zero shard bytes touched.
    Q(
      "q_export_diff",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // source-asymmetric edits so all four statuses are non-vacuous:
        // src3's upper half is deleted (its shard count drops → removed),
        // src5 doubles (its shard count grows → added), every 97th doc
        // elsewhere changes in place (changed); untouched sources stay same
        val v2 = docs
          .filter(!(col("source") === "src3" && col("doc_id") >= 250))
          .withColumn(
            "text",
            when(
              col("source") === "src5" || col("doc_id") % 97 === 0,
              concat(col("text"), lit(" "), col("text"))
            ).otherwise(col("text"))
          )
        val d1 = graft.operators.TrainExport.ensure(d, docs)
        val d2 = graft.operators.TrainExport.ensure(d, v2)
        graft.operators.TrainExport
          .diffManifests(
            graft.operators.TrainExport.manifest(s, d1),
            graft.operators.TrainExport.manifest(s, d2)
          )
          .orderBy("source", "shard")
      },
      Some(
        s"""WITH v2 AS (
           |  SELECT doc_id, source,
           |    CASE WHEN source = 'src5' OR doc_id % 97 = 0
           |      THEN text || ' ' || text ELSE text END AS text
           |  FROM documents
           |  WHERE NOT (source = 'src3' AND doc_id >= 250)
           |),
           |${manifestCtes("documents", "a")},
           |${manifestCtes("v2", "b")}
           |SELECT COALESCE(am.source, bm.source) AS source,
           |  COALESCE(am.shard, bm.shard) AS shard,
           |  CASE WHEN am.shard IS NULL THEN 'added'
           |       WHEN bm.shard IS NULL THEN 'removed'
           |       WHEN am.content_md5 = bm.content_md5 THEN 'same'
           |       ELSE 'changed' END AS status
           |FROM am FULL OUTER JOIN bm
           |  ON am.source = bm.source AND am.shard = bm.shard
           |ORDER BY source, shard""".stripMargin
      ),
      doc = "Export version diff: two corpus versions exported " +
        "independently (content-fingerprinted dirs), then the shard " +
        "manifests full-outer-joined into a per-shard status " +
        "(same/changed/added/removed) — the copy plan that publishes a " +
        "new training-data version by moving only changed shards. The " +
        "oracle re-derives BOTH exports' manifests from raw text and " +
        "replays every status."
    ),
    Q(
      "q_expectations",
      (s, d) => {
        import Expectations.{RowCheck, UniqueCheck}
        val cust = Tables.customer(s, d)
        val ord = Tables.orders(s, d)
        val li = Tables.lineitem(s, d)
        val docs = Tables.documents(s, d)
        Expectations.suite(
          Seq(
            Expectations.evaluate(
              "customer",
              cust,
              Seq(
                RowCheck(
                  "customer.acctbal_nonneg",
                  coalesce(col("c_acctbal") < 0, lit(true))
                )
              )
            ),
            Expectations.evaluate(
              "orders",
              ord,
              Seq(
                UniqueCheck("orders.o_orderkey_unique", col("o_orderkey")),
                RowCheck(
                  "orders.status_in_set",
                  not(coalesce(col("o_orderstatus").isin("O", "F", "P"), lit(false)))
                )
              )
            ),
            Expectations.evaluate(
              "lineitem",
              li,
              Seq(
                RowCheck(
                  "lineitem.quantity_1_50",
                  not(coalesce(col("l_quantity").between(1, 50), lit(false)))
                )
              )
            ),
            Expectations.evaluate(
              "documents",
              docs,
              Seq(
                UniqueCheck("documents.doc_id_unique", col("doc_id")),
                RowCheck(
                  "documents.text_min_100",
                  col("text").isNull || length(col("text")) < 100
                ),
                RowCheck(
                  "documents.n_chars_consistent",
                  not(col("n_chars") <=> length(col("text")))
                )
              )
            ),
            Expectations.foreignKey(
              "lineitem.l_orderkey_fk_orders",
              "lineitem",
              li,
              "l_orderkey",
              ord,
              "o_orderkey"
            ),
            Expectations.foreignKey(
              "orders.o_custkey_fk_customer",
              "orders",
              ord,
              "o_custkey",
              cust,
              "c_custkey"
            )
          )
        )
      },
      Some("""WITH r AS (
             |  SELECT 'customer.acctbal_nonneg' AS check_name, 'customer' AS table_name,
             |    (SELECT COUNT(*) FROM customer
             |      WHERE c_acctbal < 0 OR c_acctbal IS NULL)::BIGINT AS violations,
             |    (SELECT COUNT(*) FROM customer)::BIGINT AS total
             |  UNION ALL
             |  SELECT 'orders.o_orderkey_unique', 'orders',
             |    (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)::BIGINT,
             |    (SELECT COUNT(*) FROM orders)::BIGINT
             |  UNION ALL
             |  SELECT 'orders.status_in_set', 'orders',
             |    (SELECT COUNT(*) FROM orders
             |      WHERE o_orderstatus IS NULL
             |         OR o_orderstatus NOT IN ('O', 'F', 'P'))::BIGINT,
             |    (SELECT COUNT(*) FROM orders)::BIGINT
             |  UNION ALL
             |  SELECT 'lineitem.quantity_1_50', 'lineitem',
             |    (SELECT COUNT(*) FROM lineitem
             |      WHERE l_quantity IS NULL
             |         OR l_quantity < 1 OR l_quantity > 50)::BIGINT,
             |    (SELECT COUNT(*) FROM lineitem)::BIGINT
             |  UNION ALL
             |  SELECT 'documents.doc_id_unique', 'documents',
             |    (SELECT COUNT(*) - COUNT(DISTINCT doc_id) FROM documents)::BIGINT,
             |    (SELECT COUNT(*) FROM documents)::BIGINT
             |  UNION ALL
             |  SELECT 'documents.text_min_100', 'documents',
             |    (SELECT COUNT(*) FROM documents
             |      WHERE text IS NULL OR length(text) < 100)::BIGINT,
             |    (SELECT COUNT(*) FROM documents)::BIGINT
             |  UNION ALL
             |  SELECT 'documents.n_chars_consistent', 'documents',
             |    (SELECT COUNT(*) FROM documents
             |      WHERE n_chars IS DISTINCT FROM length(text))::BIGINT,
             |    (SELECT COUNT(*) FROM documents)::BIGINT
             |  UNION ALL
             |  SELECT 'lineitem.l_orderkey_fk_orders', 'lineitem',
             |    (SELECT COUNT(*) FROM lineitem l
             |      WHERE NOT EXISTS (SELECT 1 FROM orders o
             |                        WHERE o.o_orderkey = l.l_orderkey))::BIGINT,
             |    (SELECT COUNT(*) FROM lineitem)::BIGINT
             |  UNION ALL
             |  SELECT 'orders.o_custkey_fk_customer', 'orders',
             |    (SELECT COUNT(*) FROM orders o
             |      WHERE NOT EXISTS (SELECT 1 FROM customer c
             |                        WHERE c.c_custkey = o.o_custkey))::BIGINT,
             |    (SELECT COUNT(*) FROM orders)::BIGINT
             |)
             |SELECT check_name, table_name, violations, total,
             |  (violations = 0) AS passed
             |FROM r ORDER BY check_name""".stripMargin),
      doc = "Data-quality expectations suite (the Deequ/dbt-test shape): " +
        "nine contracts over four tables — uniqueness, referential " +
        "integrity, value domains, derived-column consistency, text " +
        "length — evaluated as a violations report. All row checks " +
        "against one table fold into a single scan (one zero-group " +
        "aggregate, one conditional-sum slot per check); uniqueness is " +
        "one count-distinct; each FK is one join against the parent's " +
        "distinct keys. Non-vacuous: acctbal_nonneg and text_min_100 " +
        "fail on this corpus, and the report says so."
    ),
    Q(
      "q_domain_reweight",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val dom = docs
          .select(col("doc_id"), col("source"))
          .join(TextAnalysis.lmScores(docs), Seq("doc_id"))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).cast("long").as("n_docs"),
            expr("sum(lm_score_e6) div count(1)").as("mean_e6")
          )
          .select(
            col("source"),
            col("n_docs"),
            (lit(1000000L) - col("mean_e6")).as("loss_ppm")
          )
        Split
          .domainReweight(dom, iters = 3)
          .select("source", "n_docs", "loss_ppm", "w_ppm")
          .orderBy("source")
      },
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
           |       FROM (SELECT unnest(tk) AS w FROM t) GROUP BY w),
           |lm AS (
           |  SELECT doc_id,
           |    (SUM((c_xy * 1000000) // c_x) // COUNT(*))::BIGINT AS s
           |  FROM bg JOIN cxy USING (bg)
           |  JOIN cx ON split_part(bg.bg, ' ', 1) = cx.w
           |  GROUP BY doc_id
           |),
           |dom AS (
           |  SELECT d.source, COUNT(*)::BIGINT AS n_docs,
           |    (1000000 - (SUM(s) // COUNT(*)))::BIGINT AS loss_ppm
           |  FROM documents d JOIN lm USING (doc_id) GROUP BY d.source
           |),
           |i0 AS (SELECT source, n_docs, loss_ppm, 1000000::BIGINT AS w FROM dom),
           |i1 AS (SELECT source, n_docs, loss_ppm,
           |  ((w * (1000000 + loss_ppm) * 1000000)
           |    // (SUM(w * (1000000 + loss_ppm)) OVER ()))::BIGINT AS w FROM i0),
           |i2 AS (SELECT source, n_docs, loss_ppm,
           |  ((w * (1000000 + loss_ppm) * 1000000)
           |    // (SUM(w * (1000000 + loss_ppm)) OVER ()))::BIGINT AS w FROM i1),
           |i3 AS (SELECT source, n_docs, loss_ppm,
           |  ((w * (1000000 + loss_ppm) * 1000000)
           |    // (SUM(w * (1000000 + loss_ppm)) OVER ()))::BIGINT AS w FROM i2)
           |SELECT source, n_docs, loss_ppm, w AS w_ppm
           |FROM i3 ORDER BY source""".stripMargin
      ),
      doc = "Loss-driven domain reweighting (the DoReMi multiplicative-" +
        "weights core): per-source LM loss (1e6 - mean t_lm_score) feeds " +
        "3 integer-exact multiplicative-weights rounds — hard domains " +
        "up-weighted, renormalized to ppm each round, every weight " +
        "bit-replayed (no exp/softmax floats). The corpus is scanned " +
        "once for the losses; every iteration runs on the |domains|-row " +
        "frame with a broadcast scalar total."
    )
  )
}
