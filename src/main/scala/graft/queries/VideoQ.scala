package graft.queries

import org.apache.spark.sql.functions.col

import graft.{Q, Tables}
import graft.operators.Video

/** Video-modality query surface. Payloads are GVID containers of REAL PNG
  * frames; scene content is the closed-form [[graft.operators.Multimodal]]
  * image of `sceneId = (doc_id % 50)·64 + (doc_id % 3) + frame_idx`, so
  * frame metadata, every per-frame dHash, and the scene-overlap near-dup
  * verdicts are replayed bit-exactly by the DuckDB oracle without codecs.
  */
object VideoQ {

  /** Frame spine: one row per (doc, frame) with the composite scene id —
    * replays [[Video.sceneOf]]/[[Video.nFrames]]/[[Video.startOf]].
    */
  private val framesSql =
    """WITH fr AS (
      |  SELECT doc_id, f.frame_idx AS frame_idx,
      |    (doc_id % 50) * 64 + (doc_id % 3) + f.frame_idx AS sid
      |  FROM documents, (SELECT unnest(generate_series(0, 5)) AS frame_idx) f
      |  WHERE f.frame_idx < 4 + (doc_id // 3) % 3)
      |""".stripMargin

  /** Scene channel formulas of [[Video.scenePixel]] (per-scene quadratic
    * mixing; ax = 1 + sid%7, ay = 1 + sid%5) and dimensions of
    * [[Video.sceneDims]].
    */
  private def rSql(xe: String, ye: String) =
    s"((1 + sid % 7) * ($xe) * ($xe) + (1 + sid % 5) * ($ye) + sid) % 256"
  private def gSql(xe: String, ye: String) =
    s"((1 + sid % 5) * ($xe) + (1 + sid % 7) * ($ye) * ($ye) + 2 * sid) % 256"
  private def bSql(xe: String, ye: String) =
    s"((1 + sid % 7) * ($xe) * ($ye) + sid) % 256"
  private val wSql = "(16 + sid % 13)"
  private val hSql = "(12 + sid % 7)"

  /** The dHash grid of [[graft.operators.Multimodal.dhashOf]] over the
    * scene `sid`'s closed-form pixels.
    */
  private val sceneDhash = {
    def gray(xe: String, ye: String) =
      s"((${rSql(xe, ye)}) + (${gSql(xe, ye)}) + (${bSql(xe, ye)})) // 3"
    val xa = s"(((k%10) * $wSql)//11)"
    val xb = s"((((k%10)+1) * $wSql)//11)"
    val yj = s"(((k//10) * $hSql)//6)"
    s"""list_sum(list_transform(generate_series(0, 59), k ->
       |  CASE WHEN ${gray(xa, yj)} < ${gray(xb, yj)}
       |  THEN (1::BIGINT << k) ELSE 0::BIGINT END))::BIGINT""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q(
      "m_video_meta",
      (s, d) =>
        Video
          .decodeVideoFrames(s, Video.withVideoPayload(s, Tables.documents(s, d)))
          .toDF()
          .orderBy("doc_id", "frame_idx"),
      Some(
        s"""$framesSql
           |SELECT doc_id, frame_idx::BIGINT AS frame_idx,
           |  $wSql::BIGINT AS width, $hSql::BIGINT AS height,
           |  list_sum(flatten(list_transform(generate_series(0, $hSql - 1), y ->
           |    list_transform(generate_series(0, $wSql - 1), x ->
           |      (${rSql("x", "y")}) + (${gSql("x", "y")}) + (${bSql("x", "y")})
           |    ))))::BIGINT AS px_sum
           |FROM fr ORDER BY doc_id, frame_idx""".stripMargin
      ),
      doc = "REAL video decode: parse the GVID container, run the PNG " +
        "codec on every frame in mapPartitions — per-frame dimensions and " +
        "pixel sums from the decoded rasters, verified against the " +
        "closed-form scene content."
    ),
    Q(
      "m_video_dhash",
      (s, d) =>
        Video
          .videoFrameHashes(s, Video.withVideoPayload(s, Tables.documents(s, d)))
          .orderBy("doc_id", "frame_idx"),
      Some(
        s"""$framesSql
           |SELECT doc_id, frame_idx::BIGINT AS frame_idx, $sceneDhash AS dhash
           |FROM fr ORDER BY doc_id, frame_idx""".stripMargin
      ),
      doc = "Per-frame perceptual hash: the image family's dHash grid over " +
        "each decoded video frame — the video's scene signature, " +
        "bit-checked against the closed-form pixels."
    ),
    Q(
      "m_video_dups",
      (s, d) =>
        Video
          .videoDups(
            Video.videoFrameHashes(s, Video.withVideoPayload(s, Tables.documents(s, d)))
          )
          .orderBy("a_id", "b_id"),
      Some(
        s"""$framesSql,
           |hx AS (SELECT DISTINCT doc_id, $sceneDhash AS dhash FROM fr),
           |sz AS (SELECT doc_id, COUNT(*)::BIGINT AS n FROM hx GROUP BY doc_id),
           |pm AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*)::BIGINT AS matches
           |       FROM hx a JOIN hx b ON a.dhash = b.dhash AND a.doc_id < b.doc_id
           |       GROUP BY 1, 2)
           |SELECT a_id, b_id, matches, sa.n AS a_n, sb.n AS b_n,
           |  (matches * 1000 // least(sa.n, sb.n))::BIGINT AS overlap_permille
           |FROM pm JOIN sz sa ON pm.a_id = sa.doc_id JOIN sz sb ON pm.b_id = sb.doc_id
           |WHERE matches * 1000 // least(sa.n, sb.n) >= 500
           |ORDER BY a_id, b_id""".stripMargin
      ),
      doc = "Video near-dup by scene overlap: candidate pairs from an " +
        "equijoin on the frame hash (an inverted index over scenes — only " +
        "videos sharing a scene ever meet, no all-pairs stage), distinct " +
        "shared-hash count per pair, integral permille overlap " +
        "coefficient >= 500. Catches re-cuts and trimmed-intro variants " +
        "that share no byte, frame index, or frame count."
    ),
    // ---- the BUDGETED pair diagnostic: m_video_dups' pair list is
    // output-bound (~c² per recording); this form bounds OUTPUT to k
    // partners per video via the bounded top-k aggregate, with truncation
    // logged — the shape to run at 100× duplication when per-video pair
    // evidence (not just cluster membership) is the question. k=3 on the
    // fixture so the budget genuinely engages (recordings have 9 copies).
    Q(
      "m_video_dups_capped",
      (s, d) =>
        Video
          .videoDupsCapped(
            Video.videoFrameHashes(s, Video.withVideoPayload(s, Tables.documents(s, d))),
            maxPairsPerVideo = 3
          )
          .orderBy("doc_id", "rank"),
      Some(
        s"""$framesSql,
           |hx AS (SELECT DISTINCT doc_id, $sceneDhash AS dhash FROM fr),
           |sz AS (SELECT doc_id, COUNT(*)::BIGINT AS n FROM hx GROUP BY doc_id),
           |pm AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*)::BIGINT AS matches
           |       FROM hx a JOIN hx b ON a.dhash = b.dhash AND a.doc_id < b.doc_id
           |       GROUP BY 1, 2),
           |pf AS (SELECT a_id, b_id, matches, sa.n AS a_n, sb.n AS b_n,
           |         (matches * 1000 // least(sa.n, sb.n))::BIGINT AS op
           |       FROM pm JOIN sz sa ON pm.a_id = sa.doc_id
           |                JOIN sz sb ON pm.b_id = sb.doc_id
           |       WHERE matches * 1000 // least(sa.n, sb.n) >= 500),
           |sym AS (SELECT a_id AS doc_id, b_id AS partner_id, matches,
           |               a_n AS n, b_n AS partner_n, op FROM pf
           |        UNION ALL
           |        SELECT b_id, a_id, matches, b_n, a_n, op FROM pf),
           |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
           |        ORDER BY op DESC, matches DESC, partner_id) AS rank FROM sym)
           |SELECT doc_id, rank::BIGINT AS rank, partner_id, matches, n, partner_n,
           |       op AS overlap_permille
           |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin
      ),
      doc = "Per-video budgeted pair diagnostic: both directions of every " +
        "qualifying overlap pair, each video keeping its 3 best partners " +
        "(overlap desc, matches desc, partner asc) through the bounded " +
        "top-k AGGREGATE — output O(videos·k) at any duplication rate, " +
        "no window, truncation logged never silent. The oracle replays " +
        "pair discovery AND the per-video ranking."
    ),
    // ---- INCREMENTAL video ingest: the delta is decoded; the standing
    // corpus is consulted only through the persisted scene index. Split by
    // doc_id % 7 (7 does not divide the 50-recording cycle, so delta and
    // corpus SHARE recordings — matches are non-vacuous).
    Q(
      "m_video_delta",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val corpus = docs.filter(col("doc_id") % 7 =!= 3)
        val delta = docs.filter(col("doc_id") % 7 === 3)
        val dir = Video.ensureSceneIndex(d, corpus)
        Video.videoDeltaDups(s, dir, delta).orderBy("doc_id", "c_id")
      },
      Some(
        s"""$framesSql,
           |hx AS (SELECT DISTINCT doc_id, $sceneDhash AS dhash FROM fr),
           |dsig AS (SELECT * FROM hx WHERE doc_id % 7 = 3),
           |csig AS (SELECT * FROM hx WHERE doc_id % 7 <> 3),
           |dsz AS (SELECT doc_id, COUNT(*)::BIGINT AS n FROM dsig GROUP BY doc_id),
           |csz AS (SELECT doc_id, COUNT(*)::BIGINT AS n FROM csig GROUP BY doc_id),
           |pm AS (SELECT d.doc_id, c.doc_id AS c_id, COUNT(*)::BIGINT AS matches
           |       FROM dsig d JOIN csig c ON d.dhash = c.dhash
           |       GROUP BY 1, 2)
           |SELECT pm.doc_id AS doc_id, pm.c_id, matches, dz.n AS d_n, cz.n AS c_n,
           |  (matches * 1000 // least(dz.n, cz.n))::BIGINT AS overlap_permille
           |FROM pm JOIN dsz dz ON pm.doc_id = dz.doc_id
           |        JOIN csz cz ON pm.c_id = cz.doc_id
           |WHERE matches * 1000 // least(dz.n, cz.n) >= 500
           |ORDER BY pm.doc_id, pm.c_id""".stripMargin
      ),
      doc = "Incremental video near-dup ingest: the delta's scene hashes " +
        "(only the delta is decoded) probe the PERSISTED corpus scene " +
        "index — hash-bucket-partitioned inverted index, precomputed " +
        "per-scene document frequencies feeding the hot-scene candidate " +
        "cap, exact recount of discovered pairs against full signatures. " +
        "One row per (delta video, matched corpus video) at >= 500 " +
        "permille scene overlap; the corpus is never re-decoded."
    ),
    // ---- the LINEAR-OUTPUT ingest verdict: one row per delta video with
    // its best corpus match — what a keep/drop gate consumes. The pair
    // form (m_video_delta) is the true answer but pair-output-bound; this
    // is output-linear in the delta at any corpus duplication rate.
    Q(
      "m_video_delta_best",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val corpus = docs.filter(col("doc_id") % 7 =!= 3)
        val delta = docs.filter(col("doc_id") % 7 === 3)
        val dir = Video.ensureSceneIndex(d, corpus)
        Video.videoDeltaVerdicts(s, dir, delta).orderBy("doc_id")
      },
      Some(
        s"""$framesSql,
           |hx AS (SELECT DISTINCT doc_id, $sceneDhash AS dhash FROM fr),
           |dsig AS (SELECT * FROM hx WHERE doc_id % 7 = 3),
           |csig AS (SELECT * FROM hx WHERE doc_id % 7 <> 3),
           |dsz AS (SELECT doc_id, COUNT(*)::BIGINT AS n FROM dsig GROUP BY doc_id),
           |csz AS (SELECT doc_id, COUNT(*)::BIGINT AS n FROM csig GROUP BY doc_id),
           |pm AS (SELECT d.doc_id, c.doc_id AS c_id, COUNT(*)::BIGINT AS matches
           |       FROM dsig d JOIN csig c ON d.dhash = c.dhash
           |       GROUP BY 1, 2),
           |pr AS (SELECT pm.doc_id AS doc_id, pm.c_id, matches,
           |         (matches * 1000 // least(dz.n, cz.n))::BIGINT AS op
           |       FROM pm JOIN dsz dz ON pm.doc_id = dz.doc_id
           |               JOIN csz cz ON pm.c_id = cz.doc_id
           |       WHERE matches * 1000 // least(dz.n, cz.n) >= 500),
           |bst AS (SELECT doc_id, c_id, matches, op,
           |          row_number() OVER (PARTITION BY doc_id ORDER BY op DESC, c_id) AS rn
           |        FROM pr)
           |SELECT dd.doc_id, b.c_id AS best_match, b.matches,
           |  b.op AS overlap_permille, (b.c_id IS NOT NULL) AS is_dup
           |FROM (SELECT doc_id FROM documents WHERE doc_id % 7 = 3) dd
           |LEFT JOIN (SELECT * FROM bst WHERE rn = 1) b USING (doc_id)
           |ORDER BY dd.doc_id""".stripMargin
      ),
      doc = "Linear-output video ingest verdict: per delta video its BEST " +
        "corpus match (argmax scene overlap, ties to the smaller corpus " +
        "id) via one partial-aggregable max(struct) — no window — or a " +
        "NULL verdict row when nothing clears 500 permille. The keep/drop " +
        "gate shape: output is one row per arriving video regardless of " +
        "how duplicated the standing corpus is."
    ),
    // ---- STREAMING scene-index maintenance on the oracle gate: base
    // index on 4/5 of the corpus, the last fifth folded in as a stream
    // batch (VideoIndexStream sig delta + debt compaction re-deriving all
    // five aggregates, crash-safe journaled swap), then the linear ingest
    // verdict against the stream-grown asset. The oracle is
    // m_video_delta_best's full-corpus replay: the fold is only correct
    // if the grown index — INCLUDING its distinct-signature rep tables —
    // is indistinguishable from a wholesale rebuild, checked end to end
    // by the hash gate on every run.
    Q(
      "m_video_index_fold",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val corpus0 = docs.filter(col("doc_id") % 7 =!= 3 && col("doc_id") % 5 =!= 1)
        val growth = docs.filter(col("doc_id") % 7 =!= 3 && col("doc_id") % 5 === 1)
        val delta = docs.filter(col("doc_id") % 7 === 3)
        // base asset from the normal fingerprint-cached build (decoded
        // once per dataset); the FOLD mutates a scratch COPY — the
        // production shape, where the index exists and the stream grows it
        val baseDir = Video.ensureSceneIndex(d, corpus0)
        val dir = QueryScratch.dir("m_video_index_fold") + "/idx"
        graft.operators.Indexes.copyDir(baseDir, dir)
        graft.streaming.VideoIndexStream
          .upsertBatch(growth, dir, batchId = 0L, compactAt = 1e-9)
        Video.videoDeltaVerdicts(s, dir, delta).orderBy("doc_id")
      },
      Some(
        s"""$framesSql,
           |hx AS (SELECT DISTINCT doc_id, $sceneDhash AS dhash FROM fr),
           |dsig AS (SELECT * FROM hx WHERE doc_id % 7 = 3),
           |csig AS (SELECT * FROM hx WHERE doc_id % 7 <> 3),
           |dsz AS (SELECT doc_id, COUNT(*)::BIGINT AS n FROM dsig GROUP BY doc_id),
           |csz AS (SELECT doc_id, COUNT(*)::BIGINT AS n FROM csig GROUP BY doc_id),
           |pm AS (SELECT d.doc_id, c.doc_id AS c_id, COUNT(*)::BIGINT AS matches
           |       FROM dsig d JOIN csig c ON d.dhash = c.dhash
           |       GROUP BY 1, 2),
           |pr AS (SELECT pm.doc_id AS doc_id, pm.c_id, matches,
           |         (matches * 1000 // least(dz.n, cz.n))::BIGINT AS op
           |       FROM pm JOIN dsz dz ON pm.doc_id = dz.doc_id
           |               JOIN csz cz ON pm.c_id = cz.doc_id
           |       WHERE matches * 1000 // least(dz.n, cz.n) >= 500),
           |bst AS (SELECT doc_id, c_id, matches, op,
           |          row_number() OVER (PARTITION BY doc_id ORDER BY op DESC, c_id) AS rn
           |        FROM pr)
           |SELECT dd.doc_id, b.c_id AS best_match, b.matches,
           |  b.op AS overlap_permille, (b.c_id IS NOT NULL) AS is_dup
           |FROM (SELECT doc_id FROM documents WHERE doc_id % 7 = 3) dd
           |LEFT JOIN (SELECT * FROM bst WHERE rn = 1) b USING (doc_id)
           |ORDER BY dd.doc_id""".stripMargin
      ),
      doc = "Streaming video scene-index fold on the oracle gate: base " +
        "index on 4/5 of the corpus, the last fifth folded in as a " +
        "stream batch (sig delta + compaction re-deriving dfs/sizes and " +
        "the distinct-signature rep tables + crash-safe swap), then the " +
        "linear ingest verdict against the stream-grown asset. Bit-equal " +
        "to m_video_delta_best's wholesale-rebuild replay. The base " +
        "asset is the fingerprint-cached build; each run copies it to " +
        "scratch and folds, so the measured cost is the honest " +
        "incremental path: growth decode + compaction + delta verdict."
    ),
    // ---- the LINEAR-OUTPUT cluster form: m_video_dups' pair set is the
    // true answer but inherently quadratic in copies-per-recording (the
    // BASELINE.md sf1 analysis); this is the report a 100 TB pipeline
    // ships. Identical-signature collapse → overlap pairs over DISTINCT
    // content only → transitive closure → per-video cluster row.
    Q(
      "m_video_clusters",
      (s, d) =>
        Video
          .videoClusters(
            Video.videoFrameHashes(s, Video.withVideoPayload(s, Tables.documents(s, d)))
          )
          .orderBy("doc_id"),
      Some(
        s"""${framesSql.replaceFirst("^WITH ", "WITH RECURSIVE ")},
           |hx AS (SELECT DISTINCT doc_id, $sceneDhash AS dhash FROM fr),
           |fp AS (SELECT doc_id, array_to_string(list_sort(list(dhash)), ',') AS sig
           |       FROM hx GROUP BY doc_id),
           |reps AS (SELECT sig, MIN(doc_id) AS rid FROM fp GROUP BY sig),
           |d2r AS (SELECT fp.doc_id, reps.rid FROM fp JOIN reps USING (sig)),
           |rh AS (SELECT hx.doc_id, hx.dhash FROM hx JOIN reps ON hx.doc_id = reps.rid),
           |sz AS (SELECT doc_id, COUNT(*)::BIGINT AS n FROM rh GROUP BY doc_id),
           |pm AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*)::BIGINT AS matches
           |       FROM rh a JOIN rh b ON a.dhash = b.dhash AND a.doc_id < b.doc_id
           |       GROUP BY 1, 2),
           |pr AS (SELECT a_id, b_id
           |       FROM pm JOIN sz sa ON pm.a_id = sa.doc_id
           |                JOIN sz sb ON pm.b_id = sb.doc_id
           |       WHERE matches * 1000 // least(sa.n, sb.n) >= 500),
           |und AS (SELECT a_id AS src, b_id AS dst FROM pr
           |        UNION SELECT b_id, a_id FROM pr),
           |walk(id, root) AS (
           |  SELECT DISTINCT src, src FROM und
           |  UNION
           |  SELECT u.dst, w.root FROM walk w JOIN und u ON u.src = w.id),
           |comp AS (SELECT id, MIN(root) AS component FROM walk GROUP BY id),
           |dc AS (
           |  SELECT d2r.doc_id, coalesce(comp.component, d2r.rid) AS component
           |  FROM d2r LEFT JOIN comp ON d2r.rid = comp.id),
           |szc AS (SELECT component, COUNT(*)::BIGINT AS csize FROM dc GROUP BY component)
           |SELECT dc.doc_id, dc.component, szc.csize
           |FROM dc JOIN szc USING (component) ORDER BY doc_id""".stripMargin
      ),
      doc = "Video dedup clusters, the LINEAR-OUTPUT scale form of " +
        "m_video_dups: videos with identical scene-hash signatures " +
        "collapse to a representative (lossless for the overlap " +
        "predicate — identical sets overlap at 1000 permille), the " +
        "quadratic overlap join runs over DISTINCT content only, " +
        "transitive closure labels components, every video maps through " +
        "its representative. One row per video regardless of the " +
        "corpus's duplication rate; labels provably equal doc-level " +
        "clustering (rep = min doc of its signature group)."
    ),
    // ---- CONTAINER-MATRIX dedup: the same recording re-uploaded under
    // TWO real containers — GVID-of-PNG (even docs) and a real Motion-JPEG
    // AVI (odd docs; RIFF/avih/strl/movi/idx1, JPEG quality 0.9) — must
    // land in one scene-signature cluster. The decode path is
    // container-agnostic by magic introspection (Video.framesOf) + ImageIO
    // codec introspection; scene images are the JPEG-stable block fixture
    // (±12 gray margins vs ±3 codec noise), so every frame's dHash is
    // bit-identical across the two encodes and the verdict is exact —
    // the video analogue of m_codec_dups.
    Q(
      "m_video_codec_dups",
      (s, d) => {
        import org.apache.spark.sql.functions._
        val docs = Tables.documents(s, d)
        val hashes =
          Video.videoFrameHashes(s, Video.withVideoPayloadMixedContainer(s, docs))
        val sig = hashes.select(col("doc_id"), col("dhash")).distinct()
        val fp = sig
          .groupBy(col("doc_id"))
          .agg(
            md5(concat_ws(",", sort_array(collect_list(col("dhash")))))
              .as("sig_md5")
          )
        val clusters = fp
          .groupBy(col("sig_md5"))
          .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n"))
        fp.join(clusters, Seq("sig_md5"))
          .select(
            col("doc_id"),
            when(col("doc_id") % 2 === 0, "gvid").otherwise("avi-mjpeg").as("container"),
            (col("doc_id") % Video.ContainerContents).as("content"),
            col("rep"),
            col("n"),
            (col("rep") === col("doc_id") % Video.ContainerContents)
              .as("container_invariant")
          )
          .orderBy("doc_id")
      },
      Some(
        s"""WITH dd AS (SELECT doc_id, doc_id % ${Video.ContainerContents} AS content,
           |  CASE WHEN doc_id % 2 = 0 THEN 'gvid' ELSE 'avi-mjpeg' END AS container
           |  FROM documents),
           |g AS (SELECT content, COUNT(*)::BIGINT AS n FROM dd GROUP BY content)
           |SELECT dd.doc_id, dd.container, dd.content, dd.content AS rep, g.n,
           |  true AS container_invariant
           |FROM dd JOIN g USING (content) ORDER BY doc_id""".stripMargin
      ),
      doc = "Mixed-container video dedup (GVID-of-PNG corpus + Motion-JPEG " +
        "AVI re-uploads of the same recordings through the SAME " +
        "introspecting decode path): per-video scene-signature collapse " +
        "puts every upload of a recording in one cluster whose rep is the " +
        "recording's min doc id — the oracle pins cluster membership, " +
        "size, and the container-invariance verdict for every document. " +
        "Frame content is the JPEG-stable block fixture, so each frame's " +
        "dHash is provably identical across PNG and JPEG-0.9 encodes."
    )
  )
}
