package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.operators.Multimodal

/** Multimodal (binary-payload) query surface. The payload is the document
  * text's UTF-8 bytes (ASCII-verified corpus), so the DuckDB oracle can
  * reproduce byte-level results through string functions.
  */
object MultimodalQ {

  val all: Seq[Q] = Seq(
    Q(
      "m_meta",
      (s, d) =>
        Multimodal
          .withPayload(Tables.documents(s, d))
          .select(col("doc_id"), col("byte_len"), md5(col("payload")).as("payload_md5"))
          .orderBy("doc_id"),
      Some(
        """SELECT doc_id, octet_length(encode(text))::BIGINT AS byte_len,
          |       md5(text) AS payload_md5
          |FROM documents ORDER BY doc_id""".stripMargin
      ),
      doc = "Binary-column ingest: payload byte length + content digest."
    ),
    Q(
      "m_frames",
      (s, d) =>
        Multimodal
          .sampleFrames(
            Multimodal.withPayload(Tables.documents(s, d)),
            nFrames = 4,
            stride = 64,
            frameLen = 16
          )
          .orderBy("doc_id", "frame_idx"),
      Some(
        """SELECT doc_id, f.frame_idx::BIGINT AS frame_idx,
          |       md5(substr(text, f.frame_idx * 64 + 1, 16)) AS frame_md5
          |FROM documents, (SELECT unnest(generate_series(0, 3)) AS frame_idx) f
          |ORDER BY doc_id, frame_idx""".stripMargin
      ),
      doc = "Strided frame sampling over the binary payload (pure " +
        "expressions; frames past end-of-payload hash the empty slice in " +
        "both engines)."
    ),
    // ---- REAL image codec path: payloads are actual PNG streams written
    // by javax.imageio; decode/resize/features run the real decoder in
    // mapPartitions. Image CONTENT is a closed-form function of doc_id
    // (Multimodal.pixelChannels), which is what the DuckDB oracle evaluates
    // — so a decoder that mis-parses any byte of the PNG fails the gate.
    Q(
      "m_decode",
      (s, d) =>
        Multimodal
          .decodeImage(s, Multimodal.withImagePayload(s, Tables.documents(s, d)))
          .toDF()
          .orderBy("doc_id"),
      Some(
        """SELECT doc_id, 'png' AS format,
          |  (4 + doc_id % 13)::BIGINT AS width,
          |  (3 + doc_id % 7)::BIGINT AS height,
          |  list_sum(flatten(list_transform(generate_series(0, (3 + doc_id % 7) - 1), y ->
          |    list_transform(generate_series(0, (4 + doc_id % 13) - 1), x ->
          |      (x + y + doc_id) % 256 + (2*x + y + doc_id) % 256 + (x + 2*y + doc_id) % 256
          |    ))))::BIGINT AS px_sum
          |FROM documents ORDER BY doc_id""".stripMargin
      ),
      doc = "REAL image decode: javax.imageio PNG reader in mapPartitions " +
        "(per-partition codec init, no file cache) — format from reader " +
        "introspection, dimensions + pixel sum from the decoded raster, " +
        "verified against the closed-form image content."
    ),
    Q(
      "m_resize",
      (s, d) =>
        Multimodal
          .resizeImage(s, Multimodal.withImagePayload(s, Tables.documents(s, d)), factor = 2)
          .toDF()
          .orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |  ((4 + doc_id % 13 + 1) // 2)::BIGINT AS new_w,
          |  ((3 + doc_id % 7 + 1) // 2)::BIGINT AS new_h,
          |  list_sum(flatten(list_transform(generate_series(0, ((3 + doc_id % 7 + 1) // 2) - 1), y ->
          |    list_transform(generate_series(0, ((4 + doc_id % 13 + 1) // 2) - 1), x ->
          |      (2*x + 2*y + doc_id) % 256 + (4*x + 2*y + doc_id) % 256 + (2*x + 4*y + doc_id) % 256
          |    ))))::BIGINT AS px_sum
          |FROM documents ORDER BY doc_id""".stripMargin
      ),
      doc = "REAL resize round-trip: decode PNG, nearest-neighbor 2:1 " +
        "downsample, re-encode, decode again — the oracle checks the " +
        "round-tripped raster, so encoder and decoder must both be exact."
    ),
    Q(
      "m_features",
      (s, d) =>
        Multimodal
          .imageFeatures(s, Multimodal.withImagePayload(s, Tables.documents(s, d)))
          .toDF()
          .orderBy("doc_id"),
      Some(
        """WITH d AS (
          |  SELECT doc_id, (4 + doc_id % 13) AS w, (3 + doc_id % 7) AS h FROM documents
          |), px AS (
          |  SELECT doc_id, unnest(flatten(flatten(list_transform(generate_series(0, h - 1), y ->
          |    list_transform(generate_series(0, w - 1), x ->
          |      [(x + y + doc_id) % 256, (2*x + y + doc_id) % 256, (x + 2*y + doc_id) % 256]
          |    ))))) AS v
          |  FROM d
          |), counts AS (
          |  SELECT doc_id, v, count(*) AS cnt FROM px GROUP BY doc_id, v
          |), ranked AS (
          |  SELECT doc_id, v, cnt, max(cnt) OVER (PARTITION BY doc_id) AS mx
          |  FROM counts
          |), md AS (
          |  SELECT doc_id, count(*)::BIGINT AS n_distinct_vals,
          |         min(CASE WHEN cnt = mx THEN v END)::BIGINT AS mode_val
          |  FROM ranked GROUP BY doc_id
          |), sums AS (
          |  SELECT doc_id,
          |    list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
          |      list_transform(generate_series(0, w - 1), x -> (x + y + doc_id) % 256))))::BIGINT AS r_sum,
          |    list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
          |      list_transform(generate_series(0, w - 1), x -> (2*x + y + doc_id) % 256))))::BIGINT AS g_sum,
          |    list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
          |      list_transform(generate_series(0, w - 1), x -> (x + 2*y + doc_id) % 256))))::BIGINT AS b_sum
          |  FROM d
          |)
          |SELECT md.doc_id, n_distinct_vals, mode_val, r_sum, g_sum, b_sum
          |FROM md JOIN sums USING (doc_id) ORDER BY doc_id""".stripMargin
      ),
      doc = "Feature extraction over the DECODED raster (distinct channel " +
        "values, modal value with lowest-wins ties, per-channel sums): " +
        "per-image work inside the partition loop, one bounded feature row " +
        "out — verified value-exact against the closed-form content."
    ),
    Q(
      "m_embed_batch",
      (s, d) => {
        val emb = Multimodal.embedBatchStub(
          s,
          Multimodal.withPayload(Tables.documents(s, d))
        )
        emb
          .select(
            col("doc_id") +:
              (0 until 8).map(j => element_at(col("embedding"), j + 1).as(s"e$j")): _*
          )
          .orderBy("doc_id")
      },
      Some(
        s"""SELECT doc_id,
           |  ${(0 until 8)
            .map(j =>
              s"CAST((('0x' || substr(md5(text || '#$j'), 1, 15))::BIGINT % 2001 - 1000) AS DOUBLE) / 1000.0 AS e$j"
            )
            .mkString(",\n  ")}
           |FROM documents ORDER BY doc_id""".stripMargin
      ),
      doc = "Batched model-inference plumbing: fixed-size batches per model " +
        "call inside mapPartitions (the GPU-amortization contract), with a " +
        "deterministic md5-derived stub vector so the oracle bit-checks " +
        "all 8 components; MultimodalSpec asserts the once-per-batch call " +
        "count via accumulator."
    ),
    // ---- MODALITY VECTORS × THE SEMANTIC INDEX FAMILY: the inference-stub
    // embeddings (a real encoder replaces one function body) run through
    // the SAME fingerprinted data-scaled quantizer as text
    // (SemanticIndex/Similarity.scaledCells). This is the recall class the
    // perceptual-hash path (m_phash_dups) cannot cover: a re-encoded or
    // re-rendered asset is pixel-different (dHash misses) but
    // EMBEDDING-similar — semantic dedup in vector space catches it. The
    // quantizer state is a build-once asset keyed by the VECTOR corpus's
    // own fingerprint, so the steady-state sweep reads the persisted
    // celled table, never the documents scan (plan-pinned in PlanSpec).
    Q(
      "m_semantic_dups",
      (s, d) => {
        val emb = Multimodal
          .embedBatchStub(s, Multimodal.withPayload(Tables.documents(s, d)))
          // the vector-index family's storage contract is float32 vectors
          // (embeddings-table parity); the oracle mirrors the rounding with
          // CAST(.. AS FLOAT) before widening back to double math
          .withColumn("embedding", col("embedding").cast("array<float>"))
          .withColumnRenamed("doc_id", "vec_id")
        graft.operators.SemanticIndex
          .dedup(d, emb, threshold = 0.9, targetCellSize = 50, maxCellSize = 100)
          .select(
            col("vec_id").as("doc_id"), col("cell"), col("ccos"), col("kept"))
          .orderBy("doc_id")
      },
      Some {
        val stubE =
          s"""SELECT doc_id AS vec_id, [
             |  ${(0 until 8)
              .map(j =>
                s"CAST(CAST((('0x' || substr(md5(text || '#$j'), 1, 15))::BIGINT % 2001 - 1000) AS DOUBLE) / 1000.0 AS FLOAT)")
              .mkString(",\n  ")}
             |]::DOUBLE[] AS emb FROM documents""".stripMargin
        SimilarityQ.semanticScaledSqlFrom(
          SimilarityQ.ddCtesFrom(SimilarityQ.celledCtesFrom(stubE)), 0.9, "doc_id")
      },
      doc = "Semantic near-dup dedup over IMAGE-MODALITY vectors: the " +
        "inference-stub embeddings fed through the fingerprinted " +
        "data-scaled quantizer (SemanticIndex — md5 seeds, argmax " +
        "assignment, salted cap-split, decimal-exact centroids) and the " +
        "within-cell keep-most-central drop rule at cos >= 0.9. Oracle " +
        "bit-replays cell assignment, centroid cosine, and kept flags; " +
        "the celled corpus is a build-once persisted asset, so the dedup " +
        "plan reads the index, not the corpus."
    ),
    // ---- the multimodal × dedup composition: perceptual hash from the
    // REAL decoded raster, then the exact-collapse + Hamming-banded pair
    // join. The oracle replays the hash from the closed-form pixel content
    // (no codec), so a decoder or grid-sampling bug fails the gate
    // bit-exactly.
    Q(
      "m_dhash",
      (s, d) =>
        Multimodal
          .dHash(s, Multimodal.withImagePayload(s, Tables.documents(s, d)))
          .toDF()
          .orderBy("doc_id"),
      Some(s"""$dhashSql SELECT doc_id, dhash FROM hx ORDER BY doc_id"""),
      doc = "Perceptual difference hash (dHash) over the decoded raster: " +
        "11x6 nearest-neighbor grayscale grid, 60 horizontal-gradient " +
        "bits in one BIGINT — brightness-shift-robust image fingerprint, " +
        "bit-checked against the closed-form pixel content."
    ),
    Q(
      "m_phash_dups",
      (s, d) =>
        Multimodal
          .dhashDups(
            Multimodal
              .dHash(s, Multimodal.withImagePayload(s, Tables.documents(s, d)))
              .toDF()
          )
          .orderBy("a_id", "b_id"),
      Some(
        s"""$dhashSql, reps AS (
           |  SELECT dhash, MIN(doc_id) AS rid, COUNT(*)::BIGINT AS n FROM hx GROUP BY dhash)
           |SELECT r1.rid AS a_id, r2.rid AS b_id,
           |  bit_count(xor(r1.dhash, r2.dhash))::BIGINT AS hamming,
           |  r1.n AS a_n, r2.n AS b_n
           |FROM reps r1 JOIN reps r2 ON r1.rid < r2.rid
           |WHERE bit_count(xor(r1.dhash, r2.dhash)) BETWEEN 1 AND 3
           |ORDER BY a_id, b_id""".stripMargin
      ),
      doc = "Image near-dup pairs: exact-dHash collapse to cluster " +
        "representatives (a hot hash contributes ONE row to the pair " +
        "stage, not a quadratic bucket), then the SimHash 4x15-bit " +
        "Hamming-banded join over representatives — full recall at " +
        "hamming <= 3 by pigeonhole, so the banded plan equals the " +
        "oracle's exact pair join. Emits both clusters' member counts."
    ),
    Q(
      "m_phash_clusters",
      (s, d) =>
        Multimodal
          .dhashClusters(
            Multimodal
              .dHash(s, Multimodal.withImagePayload(s, Tables.documents(s, d)))
              .toDF()
          )
          .orderBy("doc_id"),
      Some(
        s"""${dhashSql.replaceFirst("^WITH ", "WITH RECURSIVE ")},
           |reps AS (SELECT dhash, MIN(doc_id) AS rid FROM hx GROUP BY dhash),
           |pairs AS (
           |  SELECT r1.rid AS a_id, r2.rid AS b_id
           |  FROM reps r1 JOIN reps r2 ON r1.rid < r2.rid
           |  WHERE bit_count(xor(r1.dhash, r2.dhash)) BETWEEN 1 AND 3),
           |und AS (SELECT a_id AS src, b_id AS dst FROM pairs
           |        UNION SELECT b_id, a_id FROM pairs),
           |walk(id, root) AS (
           |  SELECT DISTINCT src, src FROM und
           |  UNION
           |  SELECT u.dst, w.root FROM walk w JOIN und u ON u.src = w.id),
           |comp AS (SELECT id, MIN(root) AS component FROM walk GROUP BY id),
           |dc AS (
           |  SELECT hx.doc_id, coalesce(comp.component, reps.rid) AS component
           |  FROM hx JOIN reps USING (dhash) LEFT JOIN comp ON reps.rid = comp.id),
           |sz AS (SELECT component, COUNT(*) AS csize FROM dc GROUP BY component)
           |SELECT dc.doc_id, dc.component, sz.csize
           |FROM dc JOIN sz USING (component) ORDER BY doc_id""".stripMargin
      ),
      doc = "Image dedup clusters: dHash near-miss pairs closed under " +
        "transitivity (distributed min-label connected components), every " +
        "document mapped through its exact-hash representative — " +
        "singletons keep their representative id. One (doc, component, " +
        "cluster size) row per document; the image twin of d_cc_clusters, " +
        "oracle-replayed with a recursive CTE."
    ),
    // ---- image vectors through the PERSISTED ANN index family: the same
    // IvfIndex build/search amortization as the embeddings table, over the
    // image-modality stub vectors — similarity SEARCH (not just dedup)
    // composes with multimodal. Build once per corpus fingerprint;
    // search reads only the probed cells (partition-pruned).
    Q(
      "m_ann_image",
      (s, d) => {
        import graft.operators.{IvfIndex, Similarity}
        val emb = Multimodal
          .embedBatchStub(s, Multimodal.withPayload(Tables.documents(s, d)))
          .withColumn("embedding", col("embedding").cast("array<float>"))
          .withColumnRenamed("doc_id", "vec_id")
          .localCheckpoint()
        val idxDir = IvfIndex.ensure(d, emb)
        val q = emb.filter(col("vec_id") < 10)
        val ivf = IvfIndex.search(s, idxDir, q, k = 5, nProbe = 4)
        val brute = Similarity.bruteTopK(q, emb, k = 5)
        val hits = ivf
          .join(brute, Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_hits"))
        ivf
          .groupBy(col("query_id"))
          .agg(count(lit(1)).cast("long").as("n_results"))
          .join(hits, Seq("query_id"), "left")
          .select(
            col("query_id"),
            col("n_results"),
            (coalesce(col("n_hits"), lit(0L)) >= 2L).as("recall_ok")
          )
          .orderBy("query_id")
      },
      Some("""SELECT doc_id AS query_id, 5::BIGINT AS n_results, true AS recall_ok
             |FROM documents WHERE doc_id < 10 ORDER BY query_id""".stripMargin),
      doc = "ANN search over IMAGE-MODALITY vectors through the persisted " +
        "IVF index (trained k-means quantizer over the inference-stub " +
        "embeddings, built once per corpus fingerprint, partition-pruned " +
        "probed-cell reads): per-query recall@5 >= 0.4 vs the exact brute " +
        "truth as a thresholded boolean plus full result cardinality — " +
        "the search-side twin of m_semantic_dups' dedup composition."
    ),
    // ---- INCREMENTAL modality ingest: the delta is decoded; the standing
    // corpus is consulted only through the persisted band/rep index — the
    // text deltaDups contract for images. A daily crawl pays decode for
    // its OWN documents, never the corpus's.
    Q(
      "m_dhash_delta",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val corpus = docs.filter(col("doc_id") % 10 =!= 7)
        val delta = docs.filter(col("doc_id") % 10 === 7)
        val dir = Multimodal.ensureDhashIndex(d, corpus)
        Multimodal
          .dhashDeltaDups(s, dir, delta)
          .orderBy("doc_id", "rep_id")
      },
      Some(
        s"""$dhashSql, creps AS (
           |  SELECT dhash, MIN(doc_id) AS rid, COUNT(*)::BIGINT AS n
           |  FROM hx WHERE doc_id % 10 != 7 GROUP BY dhash)
           |SELECT hx.doc_id, hx.dhash, creps.rid AS rep_id,
           |  bit_count(xor(hx.dhash, creps.dhash))::BIGINT AS hamming,
           |  creps.n AS rep_n
           |FROM hx JOIN creps ON bit_count(xor(hx.dhash, creps.dhash)) <= 3
           |WHERE hx.doc_id % 10 = 7
           |ORDER BY doc_id, rep_id""".stripMargin
      ),
      doc = "Incremental image near-dup ingest: the delta's dHashes (only " +
        "the delta is decoded) probe the PERSISTED corpus band/rep index " +
        "via the 4x15-bit Hamming band equijoin — full recall at " +
        "hamming <= 3 by pigeonhole, hamming 0 included (identical-image " +
        "verdicts). One row per (delta doc, matched corpus cluster) with " +
        "the cluster's rep and member count; the corpus is never " +
        "re-decoded or re-scanned (plan-pinned)."
    ),
    // ---- CODEC-MATRIX dedup: the same content re-uploaded under TWO
    // real codecs (PNG + lossy JPEG 0.9 via the same javax.imageio
    // registry) must land in one perceptual-hash cluster — the re-encode
    // recall class perceptual dedup exists for, which byte/exact-hash
    // dedup is structurally blind to. The decode path is codec-agnostic
    // (reader introspection); the fixture's block content out-scales JPEG
    // noise (±12 gray margins vs ±3 perturbation), so the dHash is
    // bit-identical across encodes and the cluster verdict is exact.
    Q(
      "m_codec_dups",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val hashes = Multimodal
          .dHash(s, Multimodal.withImagePayloadMixedCodec(s, docs))
          .toDF()
        // exact-hash collapse (the dhashDups stage-1 shape): one cluster
        // per distinct perceptual hash, min doc id as representative
        val clusters = hashes
          .groupBy(col("dhash"))
          .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n"))
        hashes
          .join(clusters, Seq("dhash"))
          .select(
            col("doc_id"),
            when(col("doc_id") % 2 === 0, "png").otherwise("jpeg").as("codec"),
            (col("doc_id") % Multimodal.CodecContents).as("content"),
            col("rep"),
            col("n"),
            (col("rep") === col("doc_id") % Multimodal.CodecContents)
              .as("codec_invariant")
          )
          .orderBy("doc_id")
      },
      Some(
        s"""WITH dd AS (SELECT doc_id, doc_id % ${Multimodal.CodecContents} AS content,
           |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS codec FROM documents),
           |g AS (SELECT content, COUNT(*)::BIGINT AS n FROM dd GROUP BY content)
           |SELECT dd.doc_id, dd.codec, dd.content, dd.content AS rep, g.n,
           |  true AS codec_invariant
           |FROM dd JOIN g USING (content) ORDER BY doc_id""".stripMargin
      ),
      doc = "Mixed-codec image dedup (PNG corpus + lossy JPEG re-uploads " +
        "of the same contents through the SAME introspecting decode " +
        "path): exact perceptual-hash collapse puts every upload of a " +
        "content in one cluster whose rep is the content's min doc id — " +
        "the oracle pins cluster membership, size, and the " +
        "codec-invariance verdict for every document. Block fixture with " +
        "±12 gray margins (codec noise ±3), so the dHash is provably " +
        "stable under re-encode; cross-content hashes differ in >= 18/60 " +
        "bits (md5 draws)."
    ),
    // ---- the multimodal × similarity composition: CLIP-score-style
    // alignment filtering of paired image-text data (the LAION recipe:
    // keep a pair only if the two modalities' embeddings agree). Image
    // embedding from the REAL decoded raster (channel sums — closed-form
    // over the fixture pixels, so the oracle replays it); text embedding
    // the deterministic md5 stub (m_embed_batch's formula, 3 dims).
    Q(
      "m_pair_filter",
      (s, d) => {
        import graft.util.Cols
        val docs = Tables.documents(s, d)
        val iv = Multimodal
          .imageFeatures(s, Multimodal.withImagePayload(s, docs))
          .toDF()
          .select(
            col("doc_id"),
            array(
              col("r_sum").cast("double"),
              col("g_sum").cast("double"),
              col("b_sum").cast("double")
            ).as("iv")
          )
        def t(j: Int) =
          ((Cols.md5Long(concat(col("text"), lit(s"#$j"))) % 2001 - 1000)
            .cast("double") / 1000.0)
        val tv = docs.select(col("doc_id"), array(t(0), t(1), t(2)).as("tv"))
        iv.join(tv, Seq("doc_id"))
          .select(col("doc_id"), Cols.cosine(col("iv"), col("tv")).as("score"))
          .withColumn("kept", col("score") >= 0.5)
          .orderBy("doc_id")
      },
      Some(
        """WITH d AS (SELECT doc_id, text,
          |            (4 + doc_id % 13) AS w, (3 + doc_id % 7) AS h FROM documents),
          |sums AS (
          |  SELECT doc_id, text,
          |    list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
          |      list_transform(generate_series(0, w - 1), x -> (x + y + doc_id) % 256))))::DOUBLE AS r_sum,
          |    list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
          |      list_transform(generate_series(0, w - 1), x -> (2*x + y + doc_id) % 256))))::DOUBLE AS g_sum,
          |    list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
          |      list_transform(generate_series(0, w - 1), x -> (x + 2*y + doc_id) % 256))))::DOUBLE AS b_sum
          |  FROM d),
          |v AS (
          |  SELECT doc_id,
          |    [r_sum, g_sum, b_sum] AS iv,
          |    [ (('0x' || substr(md5(text || '#0'), 1, 15))::BIGINT % 2001 - 1000)::DOUBLE / 1000.0,
          |      (('0x' || substr(md5(text || '#1'), 1, 15))::BIGINT % 2001 - 1000)::DOUBLE / 1000.0,
          |      (('0x' || substr(md5(text || '#2'), 1, 15))::BIGINT % 2001 - 1000)::DOUBLE / 1000.0 ] AS tv
          |  FROM sums)
          |SELECT doc_id,
          |  (list_dot_product(iv, tv) /
          |    (sqrt(list_dot_product(iv, iv)) * sqrt(list_dot_product(tv, tv)))) AS score,
          |  ((list_dot_product(iv, tv) /
          |    (sqrt(list_dot_product(iv, iv)) * sqrt(list_dot_product(tv, tv)))) >= 0.5) AS kept
          |FROM v ORDER BY doc_id""".stripMargin
      ),
      doc = "Image-text pair alignment filter (the CLIP-score gate for " +
        "paired training data): image embedding from the REAL decoded " +
        "raster's channel sums, text embedding from the deterministic " +
        "inference stub, cosine agreement thresholded at 0.5 — 114/500 " +
        "pairs survive at sf0.01, both classes non-vacuous. One decode " +
        "pass + one map-side join per pair; every score bit-replayed."
    )
  )

  /** Closed-form dHash of the deterministic fixture image, as DuckDB CTEs
    * `d` (dims) and `hx` (doc_id, dhash): gray((x,y)) = (r+g+b)/3 over
    * the [[Multimodal.pixelChannels]] formula, sampled on the 11x6 grid,
    * bit k set iff gray increases between adjacent sample columns —
    * exactly [[Multimodal.dHash]]'s loop over the decoded raster.
    */
  private def dhashSql: String = {
    def gray(xe: String, ye: String) =
      s"((($xe + $ye + doc_id) % 256) + ((2*($xe) + $ye + doc_id) % 256) + (($xe + 2*($ye) + doc_id) % 256)) // 3"
    val xa = "(((k%10) * w)//11)"
    val xb = "((((k%10)+1) * w)//11)"
    val yj = "(((k//10) * h)//6)"
    s"""WITH d AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h FROM documents),
       |hx AS (
       |  SELECT doc_id,
       |    list_sum(list_transform(generate_series(0, 59), k ->
       |      CASE WHEN ${gray(xa, yj)} < ${gray(xb, yj)}
       |      THEN (1::BIGINT << k) ELSE 0::BIGINT END))::BIGINT AS dhash
       |  FROM d)
       |""".stripMargin
  }
}
