package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.operators.{Curation, Split, Text, TextAnalysis}

/** Curation-filter query surface: the published quality-rule families
  * (Gopher document rules, C4 line cleaning, CCNet perplexity buckets)
  * over the deterministic line-structured pages [[Curation.pages]]
  * derives from `documents`. Every oracle replays page SYNTHESIS and
  * the rules, so a drift in either breaks the hash.
  */
object CurationQ {

  /** DuckDB: the length>1-filtered token list for column `text` (the
    * [[Text.tokensAll]] mirror — shared with t_kn_lm's derivation).
    */
  private val toksSql =
    s"list_filter(${Text.tokensSqlAll("text")}, w -> length(w) > 1)"

  /** DuckDB CTE chain `t → bg → sp → cxy/cx/bw/nt → kn → r`: the CCNet
    * KN-bigram score + per-language rank/count replay, shared by
    * `t_ppl_buckets`, `pipe_curate_e2e`, and `t_drop_curation` so a
    * scoring drift breaks all three hashes.
    */
  private val pplCtes: String =
    s"""t AS (SELECT doc_id, $toksSql AS tk FROM documents),
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
       |nt AS (SELECT COUNT(DISTINCT bg) AS n_types FROM sp),
       |kn AS (
       |  SELECT doc_id, COUNT(*) AS n_bigrams,
       |    (SUM(((4 * c_xy::HUGEINT - 3) * 250000000) // c_x
       |       + (750000000::HUGEINT * n1f * n1b) // (c_x::HUGEINT * n_types))
       |     // COUNT(*))::BIGINT AS kn_score_e9
       |  FROM sp
       |  JOIN cxy USING (bg) JOIN cx USING (w1) JOIN bw USING (w2)
       |  CROSS JOIN nt
       |  GROUP BY doc_id),
       |r AS (
       |  SELECT doc_id, d.lang, kn_score_e9,
       |    row_number() OVER (PARTITION BY d.lang ORDER BY kn_score_e9, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY d.lang) AS cnt
       |  FROM kn JOIN documents d USING (doc_id))""".stripMargin

  /** DuckDB replay of the TRAINED toxicity gate
    * ([[graft.operators.TrainedClf]]): the shared training-replay chain
    * plus `cltoxk (doc_id, tox_keep)`. The oracle re-derives labels,
    * re-runs every perceptron round, and re-scores — a drift anywhere in
    * featurization, training, or deployment breaks the funnel hashes.
    */
  private val toxCtes: String =
    s"${graft.operators.TrainedClf.replayCtes},\n${graft.operators.TrainedClf.toxKeepCte}"

  /** DuckDB CTEs replaying [[Split.temperatureSample]]'s α=1/2 rates
    * over `documents.lang` — ends in `tr` (lang, rate_ppm). The exact
    * integer-sqrt correction mirrors `q_temp_sample`'s oracle.
    */
  private val tempRateCtes: String =
    s"""tc0 AS (SELECT lang, COUNT(*)::BIGINT AS n_domain FROM documents GROUP BY lang),
       |tmn AS (SELECT MIN(n_domain) AS n_min FROM tc0),
       |tr0 AS (SELECT lang, n_domain, (n_min * 1000000000000) // n_domain AS x
       |        FROM tc0 CROSS JOIN tmn),
       |tr1 AS (SELECT lang, n_domain, x, floor(sqrt(x::DOUBLE))::BIGINT AS s0 FROM tr0),
       |tr AS (SELECT lang, n_domain,
       |         CASE WHEN (s0 + 1)::HUGEINT * (s0 + 1) <= x THEN s0 + 1
       |              WHEN s0::HUGEINT * s0 > x THEN s0 - 1
       |              ELSE s0 END AS rate_ppm
       |       FROM tr1)""".stripMargin

  /** The survivor-report oracle (pipe_curate_e2e AND pipe_curate_fold —
    * the stream-grown asset must be bit-indistinguishable from the
    * wholesale build, so both queries run under ONE full-corpus replay).
    */
  private lazy val curateSurvivorOracleSql: String =
    s"""WITH ${Curation.gopherMetricCtes("documents")},
       |${Curation.c4KeptCte},
       |${Curation.repKeepCtes()},
       |$toxCtes,
       |sel AS (
       |  SELECT m.doc_id FROM m JOIN k USING (doc_id) JOIN repk USING (doc_id)
       |                         JOIN cltoxk USING (doc_id)
       |  WHERE ${Curation.gopherKeepSql} AND ${Curation.c4KeepSql} AND rep_keep
       |        AND tox_keep
       |),
       |$pplCtes
       |SELECT r.lang,
       |  CASE (3 * (rn - 1)) // cnt WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
       |       ELSE 'tail' END AS bucket,
       |  COUNT(*) AS n_docs, SUM(kn_score_e9)::BIGINT AS sum_score_e9
       |FROM r JOIN sel USING (doc_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The survivor-report plan shape over a gate table. */
  private def survivorReport(gates: org.apache.spark.sql.DataFrame) =
    gates
      .filter(
        col("gopher_keep") && col("c4_keep") && col("rep_keep") &&
          col("tox_keep") && col("bucket").isNotNull
      )
      .groupBy(col("lang"), col("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("kn_score_e9")).as("sum_score_e9")
      )
      .orderBy("lang", "bucket")

  val all: Seq[Q] = Seq(
    Q(
      "t_gopher_rules",
      (s, d) => Curation.gopherRules(Tables.documents(s, d)).orderBy("doc_id"),
      Some(Curation.gopherOracleSql()),
      doc = "The full Gopher quality-rule table (Rae et al. 2021 §A1.1) " +
        "per document: word-count bounds, mean word length, symbol-to-" +
        "word ratio, bullet/ellipsis line shares, alphabetic-word share, " +
        "canonical stop-word presence, duplicate-line count and char " +
        "fractions — each as integer counts/permilles plus a boolean at " +
        "the published threshold, and the conjunctive keep verdict. " +
        "Runs over deterministically synthesized multi-line pages " +
        "(bullet/ellipsis/code/boilerplate/promo-repeat/lorem lanes), so " +
        "every rule is non-vacuous. Duplicate-line fractions use " +
        "lines-vs-distinct-lines set arithmetic — the whole table is ONE " +
        "map-only codegen projection, no shuffle at any corpus size. " +
        "Oracle replays synthesis AND rules."
    ),
    Q(
      "t_c4_clean",
      (s, d) => Curation.c4Clean(Tables.documents(s, d)).orderBy("doc_id"),
      Some(Curation.c4OracleSql()),
      doc = "C4 cleaning (Raffel et al. 2020 §2.2): line-level retention " +
        "(terminal punctuation, ≥5 words, no brace, no policy phrase — " +
        "the javascript/cookie boilerplate lane drops HERE) plus the " +
        "document gates (≥3 surviving lines, no '{' anywhere, no lorem " +
        "ipsum), emitting the cleaned re-joined text and the gate " +
        "booleans. Map-only array expressions; the cleaned text column " +
        "makes the filter auditable row-by-row. Oracle replays page " +
        "synthesis, the line filter, and the gates."
    ),
    Q(
      "t_gopher_rep",
      (s, d) => Curation.gopherRepetition(Tables.documents(s, d)).orderBy("doc_id"),
      Some(Curation.gopherRepOracleSql()),
      doc = "Gopher repetition rules (Rae et al. 2021 §A1.1, the other " +
        "half of t_gopher_rules): per document, the character fraction " +
        "of the most frequent n-gram (n=2..4, sortable-key tie-break) " +
        "and the fraction of token characters POSITION-COVERED by " +
        "duplicated n-grams (n=2..10; published thresholds gate 5..10, " +
        "2..4 are emitted as measurements) — true coverage, overlaps " +
        "never double-counted. One 9×-token linear explode + one " +
        "partial-aggregable count shuffle; coverage is recomputed " +
        "map-side per document against its own duplicate-gram set, " +
        "never quadratic in grams. Oracle replays the exact integer " +
        "permille arithmetic."
    ),
    Q(
      "t_ppl_buckets",
      (s, d) => Curation.pplBuckets(Tables.documents(s, d)).orderBy("doc_id"),
      Some(
        s"""WITH $pplCtes
           |SELECT doc_id, lang, kn_score_e9, rn::BIGINT AS rn,
           |  CASE (3 * (rn - 1)) // cnt WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
           |       ELSE 'tail' END AS bucket
           |FROM r ORDER BY doc_id""".stripMargin
      ),
      doc = "CCNet perplexity buckets (Wenzek et al. 2020 §4.3): rank " +
        "every document within its language by the integer-exact KN " +
        "bigram LM score (t_kn_lm's kernel — low score = fluent = " +
        "'head') and split each language into head/middle/tail terciles " +
        "by exact integer arithmetic. The per-language global rank is " +
        "the two-level sharded row_number (range exchange bounds every " +
        "sort partition — a mega-language at 100 TB spans many " +
        "partitions instead of serializing into one), totals join back " +
        "as a languages-sized broadcast. Oracle recomputes the LM, the " +
        "rank, and the tercile assignment."
    ),
    // ---- the toxicity/NSFW content gate: the one published-rule family
    // member every public corpus release runs that the quality rules
    // don't cover. One-vs-rest linear heads over hashed bigrams on the
    // classifier surface t_classifier_score pins.
    Q(
      "t_toxicity",
      (s, d) =>
        graft.operators.TrainedClf
          .toxicityScores(d, Tables.documents(s, d))
          .orderBy("doc_id"),
      Some {
        import graft.operators.TrainedClf
        val cols = TrainedClf.ToxClasses
          .map { case (c, _) =>
            s"MAX(CASE WHEN cls = '$c' THEN m END)::BIGINT AS m_$c, " +
              s"(MAX(CASE WHEN cls = '$c' THEN m END) > 0) AS tox_$c"
          }
          .mkString(",\n|    ")
        val keep = TrainedClf.ToxClasses
          .map { case (c, _) => s"MAX(CASE WHEN cls = '$c' THEN m END) <= 0" }
          .mkString(" AND ")
        s"""WITH ${TrainedClf.replayCtes}
           |SELECT f.doc_id, f.n_feats,
           |    $cols,
           |    ($keep) AS tox_keep
           |FROM clnf f JOIN clms s ON f.doc_id = s.doc_id
           |WHERE s.cls <> '${TrainedClf.QualityCls}'
           |GROUP BY f.doc_id, f.n_feats ORDER BY f.doc_id""".stripMargin
      },
      doc = "Toxicity/NSFW gate (the Jigsaw one-vs-rest shape), now with " +
        "TRAINED heads: K linear classifiers over hashed-bigram features, " +
        "each trained by the integer-exact batch perceptron on a " +
        "deterministic blocklist-distillation label (lexicon-share " +
        "threshold per class), weights published as a fingerprinted " +
        "asset and inlined as literal arrays in ONE codegen projection — " +
        "K margins from one token scan + one doc-keyed partial-" +
        "aggregable shuffle, flags at the classifier's own decision " +
        "boundary (margin > 0). The oracle re-derives the labels, " +
        "replays all training rounds, and re-scores — features, " +
        "training, and deployment are all inside the hash gate."
    ),
    // ---- the curation funnel REPORT over the persisted gate-annotation
    // asset: all five per-doc verdict families (Gopher quality, C4,
    // Gopher repetition over the page, toxicity, CCNet terciles) are
    // built ONCE per corpus fingerprint (Curation.ensureGateAsset — the
    // SemanticIndex amortization applied to curation) and every report
    // reads them. The shape every training-data run ships: how much
    // survives filtering, and where it sits on the fluency spectrum.
    Q(
      "pipe_curate_e2e",
      (s, d) => {
        val docs = Tables.documents(s, d)
        survivorReport(Curation.gateAsset(d, docs))
      },
      Some(curateSurvivorOracleSql),
      doc = "The curation funnel survivor report: Gopher document rules " +
        "AND C4 line cleaning AND the Gopher repetition rules (n=5..10 " +
        "page coverage) AND the toxicity gate, intersected with the " +
        "CCNet per-language perplexity terciles, then per-(language, " +
        "bucket) survivor counts and exact integer score mass. The five " +
        "verdict families come from the persisted per-doc gate asset " +
        "(built once per corpus fingerprint, shared with " +
        "t_drop_curation — two reports never pay the repetition + LM " +
        "legs twice). IMPORTANT bucket subtlety: terciles are assigned " +
        "over the WHOLE corpus (the CCNet order — bucket first, filter " +
        "later), so the gate changes which docs survive, not where the " +
        "tercile boundaries sit. Oracle composes the four families' " +
        "replay CTEs and re-derives the funnel from raw documents."
    ),
    // ---- the INCREMENTAL form of the gate asset on the oracle gate: the
    // base asset exists for 4/5 of the corpus (fingerprint-cached); the
    // last fifth arrives as a stream batch and folds in (pure statistics
    // appended, corpus-relative legs re-derived from the folded
    // statistics, generation pointer commit) on a scratch copy. The
    // report over the grown asset runs under pipe_curate_e2e's ORACLE —
    // the fold is provably bit-indistinguishable from a wholesale
    // rebuild over the full corpus.
    Q(
      "pipe_curate_fold",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val corpus0 = docs.filter(col("doc_id") % 10 =!= 1)
        val growth = docs.filter(col("doc_id") % 10 === 1)
        val baseDir = Curation.ensureGateAsset(d, corpus0)
        val dir = QueryScratch.dir("pipe_curate_fold") + "/asset"
        graft.operators.Indexes.copyDir(baseDir, dir)
        graft.streaming.CurationGateStream
          .upsertBatch(growth, dir, batchId = 0L, compactAt = 1e-9)
        survivorReport(graft.streaming.CurationGateStream.gates(s, dir))
      },
      Some(curateSurvivorOracleSql),
      doc = "Streaming curation-gate fold on the oracle gate: base gate " +
        "asset on 4/5 of the corpus, the last fifth folded in as a " +
        "stream batch — per-doc pure statistics (gate verdicts, label " +
        "ingredients, hashed bigram/token multisets) appended " +
        "delta-only, the corpus-relative legs (KN scores, CCNet " +
        "terciles, trained classifier heads) re-derived from the FOLDED " +
        "statistics without re-reading any standing document's text, " +
        "committed as one generation by the pointer commit. The survivor " +
        "report over the grown asset hash-equals the wholesale " +
        "full-corpus replay — the stream-grown asset is provably " +
        "indistinguishable from a fresh build."
    ),
    // ---- FineWeb-style drop attribution over the CURATION gates, in
    // published order: toxicity/NSFW (the content blocklist runs FIRST
    // in every public release) → Gopher quality → Gopher repetition →
    // C4 → CCNet perplexity tail → temperature sample. Every doc
    // charged to the FIRST gate that rejects it, plus the survivor
    // count after each gate — the funnel report a dataset release ships
    // beside the corpus. Complements t_drop_reasons (the dedup/langid/
    // classifier funnel) with the rule-based cleaning half. Reads the
    // same persisted gate asset as pipe_curate_e2e — one derivation,
    // two report shapes.
    Q(
      "t_drop_curation",
      (s, d) => {
        val spark = s
        import spark.implicits._
        val docs = Tables.documents(s, d)
        val temp = Split
          .temperatureSample(docs, "doc_id", "lang")
          .select(col("doc_id"), col("accepted"))
        val staged = Curation
          .gateAsset(d, docs)
          .join(temp, Seq("doc_id"))
          .select(
            when(!col("tox_keep"), "0_toxicity")
              .when(!col("gopher_keep"), "1_gopher")
              .when(!col("rep_keep"), "2_repetition")
              .when(!col("c4_keep"), "3_c4")
              // a doc with <2 surviving tokens has no bigrams, no KN
              // score, a NULL bucket: CCNet treats unscoreable as tail
              // (it cannot certify fluency), so the funnel charges it
              // HERE instead of dropping the row from the accounting
              .when(col("bucket").isNull || col("bucket") === "tail", "4_ppl_tail")
              .when(!col("accepted"), "5_temp")
              .otherwise("6_kept")
              .as("stage")
          )
        val agg = staged.groupBy(col("stage")).agg(count(lit(1)).as("n_docs"))
        val total = docs.agg(count(lit(1)).as("total"))
        // complete 7-row funnel frame (a gate that drops nothing still
        // reports a zero row); cumulative drops via a tiny post-aggregate
        // self-join over <= 7 rows — nothing data-sized here
        val stages =
          Seq("0_toxicity", "1_gopher", "2_repetition", "3_c4", "4_ppl_tail",
            "5_temp", "6_kept")
            .toDF("stage")
        val withN = stages
          .join(agg, Seq("stage"), "left")
          .select(col("stage"), coalesce(col("n_docs"), lit(0L)).as("n_docs"))
        withN
          .as("a")
          .join(
            withN.as("b"),
            col("b.stage") <= col("a.stage") && col("b.stage") =!= "6_kept",
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
        s"""WITH ${Curation.gopherMetricCtes("documents")},
           |${Curation.c4KeptCte},
           |${Curation.repKeepCtes()},
           |$toxCtes,
           |$pplCtes,
           |$tempRateCtes,
           |v AS (
           |  SELECT d.doc_id,
           |    CASE WHEN NOT tox_keep THEN '0_toxicity'
           |         WHEN NOT ${Curation.gopherKeepSql} THEN '1_gopher'
           |         WHEN NOT rep_keep THEN '2_repetition'
           |         WHEN NOT ${Curation.c4KeepSql} THEN '3_c4'
           |         WHEN r.rn IS NULL OR (3 * (rn - 1)) // cnt = 2 THEN '4_ppl_tail'
           |         WHEN NOT (('0x' || substr(md5(d.doc_id::VARCHAR || '#tsamp'), 1, 15))::BIGINT % 1000000
           |                   < tr.rate_ppm) THEN '5_temp'
           |         ELSE '6_kept' END AS stage
           |  FROM documents d
           |  JOIN m USING (doc_id) JOIN k USING (doc_id) JOIN repk USING (doc_id)
           |  JOIN cltoxk USING (doc_id)
           |  LEFT JOIN r USING (doc_id) JOIN tr ON d.lang = tr.lang),
           |st(stage) AS (VALUES ('0_toxicity'), ('1_gopher'), ('2_repetition'), ('3_c4'),
           |                     ('4_ppl_tail'), ('5_temp'), ('6_kept')),
           |agg AS (SELECT stage, COUNT(*)::BIGINT AS n_docs FROM v GROUP BY stage),
           |tot AS (SELECT COUNT(*)::BIGINT AS total FROM documents)
           |SELECT st.stage, coalesce(agg.n_docs, 0)::BIGINT AS n_docs,
           |  (tot.total - coalesce((SELECT SUM(a2.n_docs) FROM agg a2
           |     WHERE a2.stage <= st.stage AND a2.stage <> '6_kept'), 0))::BIGINT
           |    AS remaining_after
           |FROM st LEFT JOIN agg USING (stage) CROSS JOIN tot
           |ORDER BY st.stage""".stripMargin
      ),
      doc = "Curation drop attribution (the FineWeb-style funnel report): " +
        "each doc charged to its FIRST failing gate in published order — " +
        "toxicity/NSFW -> Gopher quality -> Gopher repetition (page-text " +
        "n=5..10 coverage) -> C4 cleaning -> CCNet perplexity tail " +
        "tercile (unscoreable docs — no bigrams — charge here too, so " +
        "stage counts always sum to the corpus total) -> temperature " +
        "sample — with the survivor count after each gate. One pass over " +
        "the persisted gate-annotation asset (shared with " +
        "pipe_curate_e2e) + a <=7-row report join; every count " +
        "bit-checked via the shared family replay CTEs."
    )
  )
}
