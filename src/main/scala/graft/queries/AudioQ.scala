package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.operators.Audio

/** Audio-modality query surface. Payloads are REAL WAV streams (JDK
  * RIFF/WAVE encoder); content is the closed-form PCM16 clip of
  * [[Audio.sampleAt]], so every decoder/kernel output below is replayed
  * integer-exactly by the DuckDB oracle without a codec.
  */
object AudioQ {

  /** Shared oracle CTEs: per-clip parameters `p`, matching
    * [[Audio.nSamples]]/[[Audio.sampleRate]]/[[Audio.leadQuiet]]/
    * [[Audio.tailQuiet]], and the sample formula of [[Audio.sampleAt]]
    * inlined where needed.
    */
  private val paramsSql =
    """WITH p AS (
      |  SELECT doc_id,
      |    (240 + (doc_id % 5) * 50) AS n,
      |    (8000 + 4000 * (doc_id % 3)) AS rate,
      |    (50 * (doc_id % 3)) AS lead,
      |    (30 * ((doc_id // 3) % 2)) AS tail,
      |    (3 + (doc_id % 5)) AS a
      |  FROM documents)
      |""".stripMargin

  /** `sampleAt` as a DuckDB expression over lambda var `i` (needs p's
    * columns n/lead/tail/a in scope). */
  private val sampleExpr =
    """CASE WHEN i < lead OR i >= n - tail
      |  THEN (7 * i + doc_id) % 33 - 16
      |  ELSE (CASE WHEN i % 2 = 0 THEN 1 ELSE -1 END) * (1000 + (a * i + doc_id) % 1000)
      |END""".stripMargin

  private def frameEnergySql(loExpr: String, hiExpr: String) =
    s"""list_sum(list_transform(
       |  list_transform(generate_series($loExpr, $hiExpr), i -> $sampleExpr),
       |  v -> v * v))::BIGINT""".stripMargin

  val all: Seq[Q] = Seq(
    Q(
      "m_audio_meta",
      (s, d) =>
        Audio
          .decodeAudio(s, Audio.withAudioPayload(s, Tables.documents(s, d)))
          .toDF()
          .orderBy("doc_id"),
      Some(
        s"""$paramsSql
           |SELECT doc_id, 'pcm_signed' AS encoding,
           |  rate::BIGINT AS sample_rate, 1::BIGINT AS channels,
           |  16::BIGINT AS bits, n::BIGINT AS n_samples,
           |  list_sum(list_transform(generate_series(0, n - 1), i -> $sampleExpr))::BIGINT AS amp_sum,
           |  (n * 1000000 // rate)::BIGINT AS duration_micros
           |FROM p ORDER BY doc_id""".stripMargin
      ),
      doc = "REAL audio decode: AudioSystem parses the RIFF/WAVE container " +
        "in mapPartitions — encoding/rate/channels/bits from the codec's " +
        "format introspection, sample count + amplitude sum + integral " +
        "duration from the decoded PCM, verified against the closed-form " +
        "clip content."
    ),
    Q(
      "m_audio_frames",
      (s, d) =>
        Audio
          .frameEnergies(s, Audio.withAudioPayload(s, Tables.documents(s, d)))
          .toDF()
          .withColumn("voiced", col("energy") >= lit(Audio.VoicedThreshold))
          .orderBy("doc_id", "frame_idx"),
      Some(
        s"""$paramsSql
           |SELECT doc_id, f.frame_idx::BIGINT AS frame_idx,
           |  (least((f.frame_idx + 1) * 50, n) - f.frame_idx * 50)::BIGINT AS n_in_frame,
           |  ${frameEnergySql("f.frame_idx * 50", "least((f.frame_idx + 1) * 50, n) - 1")} AS energy,
           |  (${frameEnergySql("f.frame_idx * 50", "least((f.frame_idx + 1) * 50, n) - 1")} >= 500000) AS voiced
           |FROM p, (SELECT unnest(generate_series(0, 8)) AS frame_idx) f
           |WHERE f.frame_idx * 50 < n
           |ORDER BY doc_id, frame_idx""".stripMargin
      ),
      doc = "Per-frame integer energy over the decoded PCM (50-sample " +
        "tiling, last frame partial): the kernel measures sum-of-squares " +
        "only; the voiced/silence classification is a Catalyst column on " +
        "top — policy lives in the plan, not the codec loop. Every energy " +
        "value bit-replayed by the oracle."
    ),
    Q(
      "m_audio_trim",
      (s, d) =>
        Audio
          .silenceTrim(
            Audio
              .frameEnergies(s, Audio.withAudioPayload(s, Tables.documents(s, d)))
              .toDF()
          )
          .orderBy("doc_id"),
      Some(
        s"""$paramsSql, fr AS (
           |  SELECT doc_id, f.frame_idx AS frame_idx, n,
           |    ${frameEnergySql("f.frame_idx * 50", "least((f.frame_idx + 1) * 50, n) - 1")} AS energy
           |  FROM p, (SELECT unnest(generate_series(0, 8)) AS frame_idx) f
           |  WHERE f.frame_idx * 50 < n)
           |SELECT doc_id,
           |  count(*)::BIGINT AS n_frames,
           |  sum(CASE WHEN energy >= 500000 THEN 1 ELSE 0 END)::BIGINT AS n_voiced,
           |  min(CASE WHEN energy >= 500000 THEN frame_idx END)::BIGINT AS first_voiced,
           |  max(CASE WHEN energy >= 500000 THEN frame_idx END)::BIGINT AS last_voiced,
           |  (least(min(n), (max(CASE WHEN energy >= 500000 THEN frame_idx END) + 1) * 50)
           |    - min(CASE WHEN energy >= 500000 THEN frame_idx END) * 50)::BIGINT AS kept_samples
           |FROM fr GROUP BY doc_id ORDER BY doc_id""".stripMargin
      ),
      doc = "VAD-style silence trim: voiced-frame span and kept sample " +
        "range per clip, aggregated in Catalyst over the kernel's frame " +
        "rows (plain partial-aggregable groupBy — no window, no skew " +
        "surface). The speech-corpus preprocessing twin of the text " +
        "pipeline's quality gates."
    ),
    Q(
      "m_audio_fp",
      (s, d) =>
        Audio
          .audioFingerprint(
            Audio
              .frameEnergies(s, Audio.withAudioPayloadVariants(s, Tables.documents(s, d)))
              .toDF()
          )
          .orderBy("doc_id"),
      Some(
        s"""$variantFpSql
           |SELECT p.doc_id, fp.fingerprint, fp.n_voiced
           |FROM p JOIN fp USING (rec) ORDER BY doc_id""".stripMargin
      ),
      doc = "Pad-invariant acoustic fingerprint: trim quiet head/tail " +
        "frames, md5 the ordered voiced-frame energy sequence. Re-padded " +
        "copies of one recording collide exactly; the oracle re-derives " +
        "every energy and the md5 from the closed-form recording content."
    ),
    Q(
      "m_audio_dups",
      (s, d) =>
        Audio
          .audioDedup(
            Audio.audioFingerprint(
              Audio
                .frameEnergies(s, Audio.withAudioPayloadVariants(s, Tables.documents(s, d)))
                .toDF()
            )
          )
          .drop("n_voiced")
          .orderBy("doc_id"),
      Some(
        s"""$variantFpSql,
           |fpd AS (SELECT p.doc_id, fp.fingerprint FROM p JOIN fp USING (rec)),
           |cl AS (SELECT fingerprint, min(doc_id) AS rep, count(*) AS n_variants
           |       FROM fpd GROUP BY fingerprint)
           |SELECT fpd.doc_id, fpd.fingerprint, cl.rep, cl.n_variants,
           |  (fpd.doc_id != cl.rep) AS is_dup
           |FROM fpd JOIN cl USING (fingerprint) ORDER BY doc_id""".stripMargin
      ),
      doc = "Audio dedup by pad-invariant fingerprint: exact-hash collapse " +
        "to a representative per recording — the map+agg+broadcast-join " +
        "shape of exact text dedup, catching the byte-different re-padded " +
        "re-uploads byte dedup misses. No pairwise comparison anywhere."
    ),
    // ---- INCREMENTAL audio ingest: decode + fingerprint the delta ONLY,
    // left-join the persisted corpus cluster table. Corpus = recordings
    // 0..31's non-(doc_id%3=0) uploads; delta = every doc_id%3=0 upload, so
    // the delta holds BOTH already-known recordings (rec < 32) and
    // first-seen content (rec >= 32) — the two ingest verdicts.
    Q(
      "m_audio_delta",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val corpus = docs.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 40 < 32)
        val delta = docs.filter(col("doc_id") % 3 === 0)
        val dir = Audio.ensureAudioFpIndex(d, corpus)
        Audio.audioDeltaDups(s, dir, delta).orderBy("doc_id")
      },
      Some(
        s"""$variantFpSql,
           |fpd AS (SELECT p.doc_id, fp.fingerprint FROM p JOIN fp USING (rec)),
           |cl AS (SELECT fingerprint, min(doc_id) AS rep, count(*)::BIGINT AS n_variants
           |       FROM fpd WHERE doc_id % 3 <> 0 AND doc_id % 40 < 32
           |       GROUP BY fingerprint)
           |SELECT fpd.doc_id, fpd.fingerprint,
           |  cl.rep AS corpus_rep, cl.n_variants AS corpus_n,
           |  (cl.rep IS NOT NULL) AS is_known
           |FROM fpd LEFT JOIN cl USING (fingerprint)
           |WHERE fpd.doc_id % 3 = 0
           |ORDER BY doc_id""".stripMargin
      ),
      doc = "Incremental audio dedup ingest: the delta's pad-invariant " +
        "fingerprints (only the delta is decoded) left-join the PERSISTED " +
        "corpus cluster table — per delta clip its corpus verdict: matched " +
        "cluster rep + size, or NULLs and is_known=false for first-seen " +
        "recordings. The corpus is never re-decoded (plan-pinned); both " +
        "verdict classes non-vacuous by the rec-window construction."
    ),
    // ---- STREAMING index maintenance on the oracle gate: the corpus
    // index is built on 4/5 of the corpus, the remaining fifth arrives as
    // a stream batch that FOLDS into the asset (AudioIndexStream upsert +
    // debt compaction, generation pointer commit), and the ingest verdict
    // then runs against the stream-grown index. The oracle is the
    // m_audio_delta replay over the FULL corpus: the fold is only correct
    // if the grown index is indistinguishable from a wholesale rebuild —
    // which is exactly what the hash gate checks, end to end, on every
    // run (not just in a spec).
    Q(
      "m_audio_index_fold",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val inCorpus = col("doc_id") % 3 =!= 0 && col("doc_id") % 40 < 32
        val corpus0 = docs.filter(inCorpus && col("doc_id") % 5 =!= 1)
        val growth = docs.filter(inCorpus && col("doc_id") % 5 === 1)
        val delta = docs.filter(col("doc_id") % 3 === 0)
        // the base asset is the normal fingerprint-cached build (decoded
        // once per dataset, like every persisted-index query); the FOLD
        // mutates a scratch COPY — the production shape, where the index
        // already exists and the stream grows it
        val baseDir = Audio.ensureAudioFpIndex(d, corpus0)
        val dir = QueryScratch.dir("m_audio_index_fold") + "/idx"
        graft.operators.Indexes.copyDir(baseDir, dir)
        graft.streaming.AudioIndexStream
          .upsertBatch(growth, dir, batchId = 0L, compactAt = 1e-9)
        Audio.audioDeltaDups(s, dir, delta).orderBy("doc_id")
      },
      Some(
        s"""$variantFpSql,
           |fpd AS (SELECT p.doc_id, fp.fingerprint FROM p JOIN fp USING (rec)),
           |cl AS (SELECT fingerprint, min(doc_id) AS rep, count(*)::BIGINT AS n_variants
           |       FROM fpd WHERE doc_id % 3 <> 0 AND doc_id % 40 < 32
           |       GROUP BY fingerprint)
           |SELECT fpd.doc_id, fpd.fingerprint,
           |  cl.rep AS corpus_rep, cl.n_variants AS corpus_n,
           |  (cl.rep IS NOT NULL) AS is_known
           |FROM fpd LEFT JOIN cl USING (fingerprint)
           |WHERE fpd.doc_id % 3 = 0
           |ORDER BY doc_id""".stripMargin
      ),
      doc = "Streaming audio-index fold on the oracle gate: base index on " +
        "4/5 of the corpus, the last fifth folded in as a stream batch " +
        "(delta append + debt-policy compaction + pointer commit), then " +
        "the incremental ingest verdict against the stream-grown asset. " +
        "Bit-equal to m_audio_delta's wholesale-rebuild replay — the " +
        "grown index is provably indistinguishable from a fresh build. " +
        "The base asset is the fingerprint-cached build; each run copies " +
        "it to scratch and folds, so the measured cost is the honest " +
        "incremental path: growth decode + compaction + delta verdict."
    ),
    // ---- SPECTRAL analysis: real 64-point DFT per frame over the tone
    // fixture. The oracle runs NO DFT — it replays the EXPECTED peak
    // sequence [binA, binB] closed-form from the fixture params; the
    // Spark side only matches if decode + DFT + argmax + the
    // consecutive-pair rule actually recover the tones.
    Q(
      "m_audio_spectral",
      (s, d) =>
        Audio
          .spectralFingerprint(
            Audio
              .spectralPeaks(s, Audio.withAudioPayloadTones(s, Tables.documents(s, d)))
              .toDF()
          )
          .orderBy("doc_id"),
      Some(
        s"""$toneParamsSql
           |SELECT doc_id,
           |  ((lead + lenA + lenB + tail) // 64)::BIGINT AS n_full_frames,
           |  binA::VARCHAR || ',' || binB::VARCHAR AS peaks,
           |  ((binA * rate * 1000) // 64)::VARCHAR || ','
           |    || ((binB * rate * 1000) // 64)::VARCHAR AS hz_milli,
           |  md5(binA::VARCHAR || ',' || binB::VARCHAR) AS fingerprint
           |FROM r ORDER BY doc_id""".stripMargin
      ),
      doc = "Spectral peak analysis: per clip its full-frame count, the " +
        "ordered distinct DFT peak-bin sequence (consecutive-pair stable " +
        "frames only), the recovered physical frequencies in milli-Hz, " +
        "and the md5 spectral fingerprint — a REAL 33-bin DFT in " +
        "mapPartitions, replayed closed-form by the oracle."
    ),
    // ---- shift-robust dedup: the recall class the ENERGY fingerprint
    // structurally cannot catch. The tone fixture's quiet pads are NOT
    // frame-aligned (13·(id%7) / 9·(id%5) samples), so every variant's
    // frame-energy sequence differs — but a 64-sample window of a bin-b
    // sinusoid stays a bin-b sinusoid at any offset, so the spectral
    // fingerprint collides exactly per recording.
    Q(
      "m_audio_shift_dups",
      (s, d) =>
        Audio
          .audioDedup(
            Audio
              .spectralFingerprint(
                Audio
                  .spectralPeaks(s, Audio.withAudioPayloadTones(s, Tables.documents(s, d)))
                  .toDF()
              )
              .select(col("doc_id"), col("fingerprint"))
          )
          .orderBy("doc_id"),
      Some(
        s"""$toneParamsSql,
           |fpd AS (SELECT doc_id,
           |          md5(binA::VARCHAR || ',' || binB::VARCHAR) AS fingerprint
           |        FROM r),
           |cl AS (SELECT fingerprint, min(doc_id) AS rep, count(*) AS n_variants
           |       FROM fpd GROUP BY fingerprint)
           |SELECT fpd.doc_id, fpd.fingerprint, cl.rep, cl.n_variants,
           |  (fpd.doc_id != cl.rep) AS is_dup
           |FROM fpd JOIN cl USING (fingerprint) ORDER BY doc_id""".stripMargin
      ),
      doc = "Shift-robust audio dedup: exact-hash collapse on the SPECTRAL " +
        "fingerprint — catches byte-different, NON-frame-aligned re-padded " +
        "copies (arbitrary head trims) that both byte dedup and the " +
        "frame-energy fingerprint miss. Same map+agg+join dedup shape; " +
        "the invariance comes from physics (window of a sinusoid is the " +
        "same sinusoid), not from fixture alignment."
    ),
    // ---- incremental ingest for the spectral family — same corpus/delta
    // windows as m_audio_delta, fingerprints from the DFT path.
    Q(
      "m_audio_shift_delta",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val corpus = docs.filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 40 < 32)
        val delta = docs.filter(col("doc_id") % 3 === 0)
        val dir = Audio.ensureAudioSpectralIndex(d, corpus)
        Audio.audioSpectralDeltaDups(s, dir, delta).orderBy("doc_id")
      },
      Some(toneDeltaOracleSql),
      doc = "Incremental SPECTRAL audio ingest: only the delta is decoded " +
        "and DFT'd; its shift-invariant fingerprints left-join the " +
        "persisted spectral cluster table for the per-clip corpus " +
        "verdict. Completes the spectral family's production path: " +
        "build-once index, delta-only steady-state cost."
    ),
    Q(
      "m_audio_shift_fold",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val inCorpus = col("doc_id") % 3 =!= 0 && col("doc_id") % 40 < 32
        val corpus0 = docs.filter(inCorpus && col("doc_id") % 5 =!= 1)
        val growth = docs.filter(inCorpus && col("doc_id") % 5 === 1)
        val delta = docs.filter(col("doc_id") % 3 === 0)
        val baseDir = Audio.ensureAudioSpectralIndex(d, corpus0)
        val dir = QueryScratch.dir("m_audio_shift_fold") + "/idx"
        graft.operators.Indexes.copyDir(baseDir, dir)
        graft.streaming.AudioIndexStream
          .upsertBatch(growth, dir, batchId = 0L, compactAt = 1e-9,
            fp = Audio.spectralFp)
        Audio.audioSpectralDeltaDups(s, dir, delta).orderBy("doc_id")
      },
      Some(toneDeltaOracleSql),
      doc = "Streaming spectral-index fold on the oracle gate: base " +
        "spectral index on 4/5 of the corpus, the last fifth folded in " +
        "as a stream batch (delta append + debt compaction + pointer " +
        "commit, the fingerprint-agnostic AudioIndexStream machinery with " +
        "the DFT fingerprint provider), then the incremental ingest " +
        "verdict against the stream-grown asset — bit-equal to the " +
        "wholesale replay."
    )
  )

  /** Shared oracle for the spectral delta/fold queries: the corpus
    * cluster table over rec windows (doc_id%3≠0, rec<32), probed by the
    * delta (doc_id%3=0) — fingerprints replayed closed-form from the
    * tone program.
    */
  private def toneDeltaOracleSql: String =
    s"""$toneParamsSql,
       |fpd AS (SELECT doc_id,
       |          md5(binA::VARCHAR || ',' || binB::VARCHAR) AS fingerprint
       |        FROM r),
       |cl AS (SELECT fingerprint, min(doc_id) AS rep, count(*)::BIGINT AS n_variants
       |       FROM fpd WHERE doc_id % 3 <> 0 AND doc_id % 40 < 32
       |       GROUP BY fingerprint)
       |SELECT fpd.doc_id, fpd.fingerprint,
       |  cl.rep AS corpus_rep, cl.n_variants AS corpus_n,
       |  (cl.rep IS NOT NULL) AS is_known
       |FROM fpd LEFT JOIN cl USING (fingerprint)
       |WHERE fpd.doc_id % 3 = 0
       |ORDER BY doc_id""".stripMargin

  /** Oracle CTEs for the pad-variant fixture: recording-keyed voiced-frame
    * energies and their md5 fingerprint, replaying
    * [[Audio.vSampleAt]]/[[Audio.audioFingerprint]] closed-form. Padding
    * frames never appear: they are trimmed by construction (frame-aligned
    * pads, voiced length a multiple of the frame), so the energy list
    * depends only on the recording id. Sign of a sample is irrelevant
    * under sum-of-squares, hence no alternating-sign CASE here.
    */
  /** Oracle CTE for the tone fixture: per-doc tone program parameters,
    * replaying [[Audio.toneRecOf]]/[[Audio.toneBinA]]/[[Audio.toneBinB]]/
    * [[Audio.toneLenA]]/[[Audio.toneLenB]]/[[Audio.toneRate]]/
    * [[Audio.toneLead]]/[[Audio.toneTail]] closed-form. No DFT here: the
    * oracle asserts the EXPECTED spectral result, the engine must earn it.
    */
  private def toneParamsSql: String =
    """WITH p AS (SELECT doc_id, doc_id % 40 AS rec,
      |    13 * (doc_id % 7) AS lead, 9 * (doc_id % 5) AS tail
      |  FROM documents),
      |r AS (SELECT doc_id, rec, lead, tail,
      |    3 + rec % 13 AS binA, 17 + rec % 11 AS binB,
      |    192 + 64 * (rec % 3) AS lenA, 192 + 64 * ((rec // 3) % 3) AS lenB,
      |    8000 + 4000 * (rec % 3) AS rate
      |  FROM p)""".stripMargin

  private def variantFpSql: String =
    """WITH p AS (SELECT doc_id, doc_id % 40 AS rec FROM documents),
      |r AS (SELECT DISTINCT rec, (150 + (rec % 4) * 50) // 50 AS nf,
      |        3 + (rec % 5) AS a
      |      FROM p),
      |fp AS (
      |  SELECT rec,
      |    md5(array_to_string(
      |      list_transform(generate_series(0, nf - 1),
      |        j -> list_sum(list_transform(generate_series(j * 50, j * 50 + 49),
      |               v -> (1000 + (a * v + rec) % 1000)
      |                    * (1000 + (a * v + rec) % 1000)))::BIGINT),
      |      ',')) AS fingerprint,
      |    nf::BIGINT AS n_voiced
      |  FROM r)""".stripMargin
}
