package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Cols.md5Long

/** TRAINED linear classifier heads over hashed-bigram features — the
  * round that retires the md5 stand-in weights: the quality/fluency gate
  * and the Jigsaw-style one-vs-rest toxicity heads are LEARNED from
  * deterministic labeled fixtures by an integer-exact distributed
  * training pass, and published as a fingerprinted weights asset (the
  * tokenizer-artifact discipline).
  *
  * '''Labels''' (derived, not hand-annotated — the distillation shape
  * every production curation pipeline uses):
  *   - `quality`: fluency under the corpus bigram LM
  *     ([[TextAnalysis.lmScores]]) — a doc is positive when its score is
  *     within 3% of the corpus mean (`100·lm ≥ 97·mean`, integer
  *     cross-multiplication; the mean is `SUM div COUNT`, exact). This is
  *     the CCNet/DCLM recipe: train a cheap classifier to approximate an
  *     expensive LM signal, then gate on the classifier.
  *   - toxicity heads (`toxic`/`obscene`/`threat`): blocklist
  *     distillation — each class has a deterministic lexicon (corpus
  *     tokens with `md5₆₀(tok‖"#lex:"‖cls) mod 11 = 0`, a salt-derived
  *     stand-in for a real blocklist) and a doc is positive when lexicon
  *     occurrences exceed a per-class share of its tokens
  *     (`1 000 000·hits ≥ T_c·n_tokens`). The *labels* are synthetic; the
  *     *training* is real.
  *
  * '''Training''': a closed-form linear head — the multinomial
  * class-rate-difference (Rocchio / linear-potential naive-Bayes form):
  * over the md5-hash TRAIN split only (bucket < 80, the `q_hash_split`
  * discipline),
  * {{{
  *   w_j = (10⁹·(cnt₁ⱼ+1)) div (mass₁+Dim) − (10⁹·(cnt₀ⱼ+1)) div (mass₀+Dim)
  * }}}
  * where `cntᵧⱼ` is class y's total count of feature j and `massᵧ` its
  * total feature mass — i.e. the (+1-smoothed) difference of per-class
  * feature RATES in parts-per-billion; a document is positive when its
  * features' rate-difference mass `Σⱼ cⱼ·wⱼ` exceeds 0. Everything is two
  * partial-aggregable integer aggregates over the feature stream —
  * distributed over the hashed-bigram features, order-free, and
  * bit-replayable in DuckDB (the oracle re-derives labels, re-trains,
  * and re-scores from raw text). The closed form is deliberate: the
  * fixture's labels are linearly NOISY under 512 collided buckets, and a
  * full-batch perceptron provably cycles between the all-positive and
  * all-negative states on them (measured: after any even round every
  * head is degenerate), while the rate-difference head separates every
  * class with a real held-out confusion spread (`t_classifier_eval`).
  *
  * '''Deployment''': scoring reads the fingerprinted weights asset once
  * per (corpus, contract) and inlines the K weight vectors as literal
  * arrays in ONE codegen projection — the same broadcast-literal shape
  * the md5 stand-ins had, now carrying learned values. One token scan +
  * one doc-keyed partial-aggregable shuffle for all K heads.
  *
  * Integer head-room: weights are bounded by ±10⁹ and per-doc margins by
  * `n_feats·10⁹` — int64-safe to ~10⁹-feature documents; the class-count
  * aggregates are int64-safe to ~10¹⁰-token training splits (past that,
  * the PageRank-style DECIMAL(38,0) lift applies).
  */
object TrainedClf {

  /** Hashed-bigram feature buckets. */
  val Dim = 512

  /** Rate scale of the learned weights (parts-per-billion). */
  val RateScale = 1000000000L

  /** Lexicon salt modulus: token t ∈ lexicon(cls) iff md5₆₀(t‖#lex:cls) mod 11 = 0. */
  val LexMod = 11L

  /** One-vs-rest toxicity heads with their label thresholds (ppm of
    * tokens that are lexicon hits). Tuned on the fixture for minor-lane
    * positive rates (~8–15%), the operating region of a real content
    * gate.
    */
  val ToxClasses: Seq[(String, Long)] =
    Seq("toxic" -> 60000L, "obscene" -> 120000L, "threat" -> 120000L)

  /** The fluency/quality head. */
  val QualityCls = "quality"

  val AllClasses: Seq[String] = QualityCls +: ToxClasses.map(_._1)

  // ------------------------------------------------------------ features

  /** Per-document hashed-bigram occurrence features `(doc_id, j, cnt)`.
    * Same bigram stream as the scoring path ([[margins]]) — train/serve
    * skew is structurally impossible.
    */
  def features(docs: DataFrame): DataFrame =
    docs
      .select(
        col("doc_id"),
        explode(Dedup.wordShinglesAll(Text.tokensAll(col("text")), 2)).as("g")
      )
      .select(col("doc_id"), pmod(md5Long(col("g")), lit(Dim.toLong)).cast("int").as("j"))
      .groupBy(col("doc_id"), col("j"))
      .agg(count(lit(1)).as("cnt"))

  /** Per-doc toxicity-label ingredients from raw text:
    * `(doc_id, n_tokens, c_<cls>…)` — token count and per-class lexicon
    * occurrence counts. Per-doc pure (foldable as a delta statistic).
    */
  def labelIngredients(docs: DataFrame): DataFrame = {
    val countCols =
      max(col("_n")).as("n_tokens") +:
        ToxClasses.map { case (cls, _) =>
          coalesce(
            sum(
              (pmod(md5Long(concat(col("tok"), lit(s"#lex:$cls"))), lit(LexMod)) === 0L)
                .cast("long")
            ),
            lit(0L)
          ).as(s"c_$cls")
        }
    docs
      .select(col("doc_id"), Text.tokensAll(col("text")).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("_n"), explode_outer(col("tk")).as("tok"))
      .groupBy(col("doc_id"))
      .agg(countCols.head, countCols.tail: _*)
  }

  /** Long-form labels `(doc_id, cls, y ∈ {0,1})` for every document. */
  def labels(docs: DataFrame): DataFrame =
    labelsFromStats(
      docs.select(col("doc_id")),
      TextAnalysis.lmScores(docs).select(col("doc_id"), col("lm_score_e6")),
      labelIngredients(docs)
    )

  /** [[labels]] from pre-derived statistics: `lm` = (doc_id,
    * lm_score_e6), `ingredients` = [[labelIngredients]]'s shape. The one
    * formula both the raw-text path and a sufficient-statistics fold
    * evaluate — bit-identical given identical inputs.
    */
  def labelsFromStats(
      allDocIds: DataFrame,
      lm: DataFrame,
      ingredients: DataFrame
  ): DataFrame = {
    val mean = lm.agg(expr("sum(lm_score_e6) div count(1)").as("mean_lm"))
    val quality = allDocIds
      .select(col("doc_id"))
      .join(lm, Seq("doc_id"), "left")
      .crossJoin(broadcast(mean))
      .select(
        col("doc_id"),
        lit(QualityCls).as("cls"),
        when(col("lm_score_e6").isNull, 0)
          .otherwise((col("lm_score_e6") * 100L >= col("mean_lm") * 97L).cast("int"))
          .as("y")
      )
    val tox = ToxClasses.map { case (cls, thr) =>
      ingredients.select(
        col("doc_id"),
        lit(cls).as("cls"),
        (col("n_tokens") > 0L && col(s"c_$cls") * 1000000L >= col("n_tokens") * thr)
          .cast("int")
          .as("y")
      )
    }
    tox.foldLeft(quality)(_ unionByName _)
  }

  // ------------------------------------------------------------ training

  /** One training-summary row per class. */
  final case class TrainStat(
      cls: String,
      nTrain: Long,
      nPos: Long,
      massPos: Long,
      massNeg: Long,
      wL1: Long,
      wSum: Long
  )

  /** Closed-form training on the train split: per class, the smoothed
    * rate-difference weights (see object doc). Two partial-aggregable
    * aggregates over one feature frame — corpus-linear, order-free,
    * O(K·[[Dim]]) driver state. Returns the per-class weight vectors and
    * the training summary.
    */
  def train(docs: DataFrame): (Map[String, Array[Long]], Seq[TrainStat]) = {
    val trainDocs = docs.filter(Split.splitLabel(col("doc_id")) === "train")
    // features are per-doc pure, so restricting the input first is fine;
    // the quality LABEL is corpus-relative (LM counts and the corpus-mean
    // threshold), so labels derive over the FULL corpus and then filter
    // to the train split — the same order the oracle replays
    trainOnFrames(
      features(trainDocs),
      labels(docs).filter(Split.splitLabel(col("doc_id")) === "train")
    )
  }

  /** [[train]] on pre-built TRAIN-SPLIT frames — the entry point for
    * callers that already hold the (doc_id, j, cnt) feature and
    * (doc_id, cls, y) label frames (e.g. a fold deriving them from
    * persisted sufficient statistics instead of raw text). Bit-identical
    * to [[train]] given identical frame contents.
    */
  def trainOnFrames(
      feats: DataFrame,
      labs: DataFrame
  ): (Map[String, Array[Long]], Seq[TrainStat]) = {
    val spark = feats.sparkSession
    import spark.implicits._
    // Both training aggregates collect in ONE job (j = -1 tags the
    // per-(cls, y) label counts; real feature buckets are pmod ≥ 0): one
    // driver-blocking action instead of two sequential ones, and the two
    // legs' shared `labs` subtree runs inside a single query where the
    // engine can reuse its exchange (guide §1.2, §2.6).
    val collected = labs
      .join(feats, Seq("doc_id"))
      .groupBy(col("cls"), col("y"), col("j"))
      .agg(sum(col("cnt")).as("cj"))
      .unionByName(
        labs
          .groupBy(col("cls"), col("y"))
          .agg(count(lit(1)).as("cj"))
          .select(col("cls"), col("y"), lit(-1).as("j"), col("cj"))
      )
      .as[(String, Int, Int, Long)]
      .collect()
    val byClass = collected.filter(_._3 >= 0)
    val labCounts = collected.collect { case (cls, y, -1, n) => (cls, y) -> n }.toMap
    val w = AllClasses.map(_ -> Array.fill(Dim)(0L)).toMap
    val cnt1 = AllClasses.map(_ -> Array.fill(Dim)(0L)).toMap
    val cnt0 = AllClasses.map(_ -> Array.fill(Dim)(0L)).toMap
    byClass.foreach { case (cls, y, j, cj) =>
      if (y == 1) cnt1(cls)(j) += cj else cnt0(cls)(j) += cj
    }
    val stats = AllClasses.map { cls =>
      val m1 = cnt1(cls).sum
      val m0 = cnt0(cls).sum
      (0 until Dim).foreach { j =>
        w(cls)(j) = RateScale * (cnt1(cls)(j) + 1L) / (m1 + Dim) -
          RateScale * (cnt0(cls)(j) + 1L) / (m0 + Dim)
      }
      TrainStat(
        cls,
        labCounts.getOrElse((cls, 0), 0L) + labCounts.getOrElse((cls, 1), 0L),
        labCounts.getOrElse((cls, 1), 0L),
        m1,
        m0,
        w(cls).map(math.abs).sum,
        w(cls).sum
      )
    }
    (w, stats)
  }

  // ------------------------------------------------------- weights asset

  /** Contract-version salt of the published weights asset. */
  private def params =
    s"dim=$Dim,lex=$LexMod,rate=$RateScale," +
      ToxClasses.map { case (c, t) => s"$c=$t" }.mkString(",") + ",v=3"

  /** Build-once publication of the trained weights + training summary
    * under the [[Indexes]] fingerprint contract. `weights/` is long-form
    * (cls, j, w); `history/` is the per-class training log the
    * `t_classifier_train` gate replays.
    */
  def ensureWeightsAsset(sfDir: String, docs: DataFrame): String =
    Indexes.ensure("clf-train", sfDir, docs, "doc_id", "text", params) { tmp =>
      val spark = docs.sparkSession
      import spark.implicits._
      val (w, hist) = train(docs)
      AllClasses
        .flatMap(cls => w(cls).zipWithIndex.map { case (wi, j) => (cls, j, wi) })
        .toDF("cls", "j", "w")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/weights")
      // held-out evaluation computed AT TRAINING TIME and published with
      // the model — the report a release ships beside its weights, read
      // (not re-derived) by t_classifier_eval
      evalFrame(docs, w.map { case (c, a) => c -> (a.toIndexedSeq: IndexedSeq[Long]) })
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/eval")
      hist
        .map(h => (h.cls, h.nTrain, h.nPos, h.massPos, h.massNeg, h.wL1, h.wSum))
        .toDF("cls", "n_train", "n_pos", "mass_pos", "mass_neg", "w_l1", "w_sum")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/history")
    }

  /** The published per-class weight vectors. */
  def weightsFor(sfDir: String, docs: DataFrame): Map[String, IndexedSeq[Long]] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val dir = ensureWeightsAsset(sfDir, docs)
    val rows = spark.read.parquet(s"$dir/weights")
      .as[(String, Int, Long)].collect()
    AllClasses.map { cls =>
      val arr = Array.fill(Dim)(0L)
      rows.iterator.filter(_._1 == cls).foreach { case (_, j, wi) => arr(j) = wi }
      cls -> (arr.toIndexedSeq: IndexedSeq[Long])
    }.toMap
  }

  /** The published training summary (the t_classifier_train read side). */
  def historyTable(sfDir: String, docs: DataFrame): DataFrame =
    docs.sparkSession.read.parquet(s"${ensureWeightsAsset(sfDir, docs)}/history")

  // ------------------------------------------------------------- scoring

  /** All K head margins in ONE pass: explode the bigram stream once, look
    * every occurrence up in K literal weight arrays inside the same
    * codegen projection, sum per doc. Output:
    * `(doc_id, n_feats, m_quality, m_toxic, m_obscene, m_threat)`.
    */
  def margins(docs: DataFrame, w: Map[String, IndexedSeq[Long]]): DataFrame =
    docs
      .select(
        col("doc_id"),
        explode(Dedup.wordShinglesAll(Text.tokensAll(col("text")), 2)).as("g")
      )
      .select(
        col("doc_id"),
        (pmod(md5Long(col("g")), lit(Dim.toLong)) + 1L).cast("int").as("_j")
      )
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("long").as("n_feats"),
        AllClasses.map { cls =>
          sum(element_at(typedLit(w(cls)), col("_j"))).cast("long").as(s"m_$cls")
        }: _*
      )

  /** The quality head's score table: (doc_id, margin, n_feats, clf_keep).
    * `clf_keep` is the classifier's own decision boundary (margin > 0).
    */
  def qualityScores(sfDir: String, docs: DataFrame): DataFrame =
    margins(docs, weightsFor(sfDir, docs))
      .select(
        col("doc_id"),
        col("m_quality").as("margin"),
        col("n_feats"),
        (col("m_quality") > 0L).as("clf_keep")
      )

  /** The toxicity gate table: per-class margins and flags (`margin > 0` =
    * the head fires) plus the conjunctive `tox_keep`.
    */
  def toxicityScores(sfDir: String, docs: DataFrame): DataFrame = {
    val m = margins(docs, weightsFor(sfDir, docs))
    val flagged = ToxClasses.foldLeft(m) { case (df, (cls, _)) =>
      df.withColumn(s"tox_$cls", col(s"m_$cls") > 0L)
    }
    flagged
      .withColumn("tox_keep", ToxClasses.map { case (c, _) => !col(s"tox_$c") }.reduce(_ && _))
      .select(
        col("doc_id") +: col("n_feats") +:
          (ToxClasses.flatMap { case (c, _) => Seq(col(s"m_$c"), col(s"tox_$c")) } :+
            col("tox_keep")): _*
      )
  }

  /** Held-out evaluation: per-class confusion counts over the non-train
    * splits — the honest report of what distillation bought. One scoring
    * pass + one labels pass, joined on doc_id. Computed once at training
    * time and PUBLISHED in the weights asset ([[ensureWeightsAsset]]);
    * [[heldOutEval]] reads it.
    */
  private def evalFrame(docs: DataFrame, w: Map[String, IndexedSeq[Long]]): DataFrame = {
    val held = docs.filter(Split.splitLabel(col("doc_id")) =!= "train")
    val m = margins(held, w)
    val preds = AllClasses.map { cls =>
      m.select(col("doc_id"), lit(cls).as("cls"), (col(s"m_$cls") > 0L).cast("int").as("pred"))
    }.reduce(_ unionByName _)
    // labels over the FULL corpus (the quality label is corpus-relative),
    // then restricted to the held-out docs — mirroring the oracle
    labels(docs)
      .filter(Split.splitLabel(col("doc_id")) =!= "train")
      .join(preds, Seq("doc_id", "cls"))
      .groupBy(col("cls"))
      .agg(
        sum((col("y") === 1 && col("pred") === 1).cast("long")).as("tp"),
        sum((col("y") === 0 && col("pred") === 1).cast("long")).as("fp"),
        sum((col("y") === 1 && col("pred") === 0).cast("long")).as("fn"),
        sum((col("y") === 0 && col("pred") === 0).cast("long")).as("tn")
      )
  }

  /** The published held-out evaluation (the t_classifier_eval read side). */
  def heldOutEval(sfDir: String, docs: DataFrame): DataFrame =
    docs.sparkSession.read.parquet(s"${ensureWeightsAsset(sfDir, docs)}/eval")

  // ------------------------------------------------------- DuckDB replay

  /** DuckDB mirror of md5₆₀. */
  private def h60(e: String) = s"('0x' || substr(md5($e), 1, 15))::BIGINT"

  private def toksSql =
    s"list_filter(${Text.tokensSqlAll("text")}, w -> length(w) > 1)"

  /** Feature CTEs over `documents`: `clt/clbg/clfx` (all docs) — the
    * scoring feature stream; `clfxt` restricts to the train split.
    * CTE names are cl-prefixed so the chain composes with the curation /
    * ppl / gate chains in one WITH block.
    */
  def featuresCtes: String =
    s"""clt AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |clbg AS (
       |  SELECT doc_id, unnest(list_transform(
       |    generate_series(1, greatest(len(tk) - 1, 1)),
       |    i -> array_to_string(tk[i:i+1], ' '))) AS g
       |  FROM clt),
       |clfx AS (
       |  SELECT doc_id, j, COUNT(*)::BIGINT AS cnt FROM (
       |    SELECT doc_id, ${h60("g")} % $Dim AS j FROM clbg)
       |  GROUP BY doc_id, j),
       |clfxt AS (SELECT * FROM clfx WHERE ${h60("doc_id::VARCHAR")} % 100 < 80)""".stripMargin

  /** Label CTEs: `clyl (doc_id, cls, y)` for all docs, `clylt` train split. */
  def labelsCtes: String = {
    val toxSelects = ToxClasses.map { case (cls, thr) =>
      s"""SELECT doc_id, '$cls' AS cls,
         |  (n > 0 AND 1000000 * c_$cls >= $thr * n)::INT AS y FROM cltox""".stripMargin
    }
    val toxCounts = ToxClasses.map { case (cls, _) =>
      s"COUNT(*) FILTER (tok IS NOT NULL AND ${h60(s"tok || '#lex:$cls'")} % $LexMod = 0)::BIGINT AS c_$cls"
    }
    s"""cllm AS (
       |  SELECT doc_id,
       |    (SUM((c_xy * 1000000) // c_x) // COUNT(*))::BIGINT AS lm
       |  FROM (SELECT doc_id, g FROM clbg) b
       |  JOIN (SELECT g, COUNT(*) AS c_xy FROM clbg GROUP BY g) cxy
       |    USING (g)
       |  JOIN (SELECT w, COUNT(*) AS c_x
       |        FROM (SELECT unnest(tk) AS w FROM clt) GROUP BY w) cx
       |    ON split_part(b.g, ' ', 1) = cx.w
       |  GROUP BY doc_id),
       |clmn AS (SELECT SUM(lm) // COUNT(*) AS mean_lm FROM cllm),
       |cltox AS (
       |  SELECT t.doc_id, any_value(len(t.tk))::BIGINT AS n,
       |    ${toxCounts.mkString(",\n|    ")}
       |  FROM clt t LEFT JOIN (SELECT doc_id, unnest(tk) AS tok FROM clt) o
       |    ON t.doc_id = o.doc_id
       |  GROUP BY t.doc_id),
       |clyl AS (
       |  SELECT d.doc_id, '$QualityCls' AS cls,
       |    CASE WHEN lm IS NULL THEN 0
       |         ELSE (lm * 100 >= mean_lm * 97)::INT END AS y
       |  FROM (SELECT doc_id FROM documents) d
       |  LEFT JOIN cllm USING (doc_id) CROSS JOIN clmn
       |  UNION ALL
       |  ${toxSelects.mkString("\n|  UNION ALL\n|  ")}),
       |clylt AS (SELECT * FROM clyl WHERE ${h60("doc_id::VARCHAR")} % 100 < 80)""".stripMargin
  }

  /** Closed-form training CTEs: per-(cls, y, j) train-split feature
    * counts and masses → `clwts (cls, j, wi)`, the learned rate-
    * difference weights re-derived from raw text.
    */
  def trainCtes: String = {
    val clsList = AllClasses.map(c => s"'$c'").mkString(", ")
    s"""clcnt AS (
       |  SELECT y.cls, y.y, f.j, SUM(f.cnt)::BIGINT AS cj
       |  FROM clfxt f JOIN clylt y USING (doc_id)
       |  GROUP BY y.cls, y.y, f.j),
       |clmass AS (
       |  SELECT cls,
       |    coalesce(SUM(cj) FILTER (y = 1), 0)::BIGINT AS m1,
       |    coalesce(SUM(cj) FILTER (y = 0), 0)::BIGINT AS m0
       |  FROM clcnt GROUP BY cls),
       |clgrid AS (
       |  SELECT cls, j
       |  FROM (SELECT unnest([$clsList]) AS cls),
       |       (SELECT unnest(generate_series(0, ${Dim - 1})) AS j)),
       |clwts AS (
       |  SELECT g.cls, g.j,
       |    (($RateScale * (coalesce(c1.cj, 0) + 1)) // (m.m1 + $Dim)
       |     - ($RateScale * (coalesce(c0.cj, 0) + 1)) // (m.m0 + $Dim))::BIGINT AS wi
       |  FROM clgrid g
       |  JOIN clmass m ON g.cls = m.cls
       |  LEFT JOIN (SELECT cls, j, cj FROM clcnt WHERE y = 1) c1
       |    ON g.cls = c1.cls AND g.j = c1.j
       |  LEFT JOIN (SELECT cls, j, cj FROM clcnt WHERE y = 0) c0
       |    ON g.cls = c0.cls AND g.j = c0.j)""".stripMargin
  }

  /** Oracle for `t_classifier_train`: replay the closed-form training
    * from raw text and emit the per-class summary the published asset
    * holds — identical weights on both engines, or the hash breaks.
    */
  def historyOracleSql: String =
    s"""WITH $featuresCtes,
       |$labelsCtes,
       |$trainCtes,
       |clh AS (
       |  SELECT cls, SUM(ABS(wi))::BIGINT AS w_l1, SUM(wi)::BIGINT AS w_sum
       |  FROM clwts GROUP BY cls),
       |cln AS (
       |  SELECT cls, COUNT(*)::BIGINT AS n_train,
       |    coalesce(SUM(y), 0)::BIGINT AS n_pos
       |  FROM clylt GROUP BY cls)
       |SELECT h.cls, n.n_train, n.n_pos, m.m1 AS mass_pos, m.m0 AS mass_neg,
       |       h.w_l1, h.w_sum
       |FROM clh h JOIN cln n USING (cls) JOIN clmass m USING (cls)
       |ORDER BY h.cls""".stripMargin

  /** Scoring CTEs over ALL docs: `clms (cls, doc_id, m)` margins and
    * `clnf (doc_id, n_feats)`.
    */
  def scoreCtes: String =
    s"""clms AS (
       |  SELECT w.cls, f.doc_id, SUM(f.cnt * w.wi)::BIGINT AS m
       |  FROM clfx f JOIN clwts w USING (j)
       |  GROUP BY w.cls, f.doc_id),
       |clnf AS (SELECT doc_id, COUNT(*)::BIGINT AS n_feats FROM clbg GROUP BY doc_id)""".stripMargin

  /** The full replay prefix every trained-classifier oracle shares. */
  def replayCtes: String =
    s"$featuresCtes,\n$labelsCtes,\n$trainCtes,\n$scoreCtes"

  /** `cltoxk (doc_id, tox_keep)` — the trained toxicity gate verdict. */
  def toxKeepCte: String = {
    val flags = ToxClasses.map { case (c, _) =>
      s"MAX(CASE WHEN cls = '$c' THEN m END) <= 0"
    }
    s"""cltoxk AS (
       |  SELECT doc_id, (${flags.mkString(" AND ")}) AS tox_keep
       |  FROM clms GROUP BY doc_id)""".stripMargin
  }
}
