package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Audio-modality plumbing: PCM payloads as opaque `binary` columns, decoded
  * by a REAL codec, analyzed with integer-exact kernels.
  *
  * Mirrors the image path's contract ([[Multimodal]]): payloads on the wire
  * are REAL WAV byte streams written by the JDK's RIFF/WAVE encoder and
  * decoded back through the platform `javax.sound.sampled.spi` WAV codec
  * (provider resolved once per JVM — see the codec provider cache below) —
  * an actual container/codec round-trip, not header arithmetic. Audio CONTENT is deterministic (each sample is a
  * closed-form function of `doc_id`, see [[sampleAt]]), which is what lets
  * the DuckDB oracle verify the decoder's output (format fields, sample
  * count, amplitude sums, per-frame energies) from the same formula without
  * running a codec itself.
  *
  * The Spark shape is the 100 TB one:
  *   - payloads live in a `binary` column next to typed metadata;
  *   - per-record decode runs in `mapPartitions` (one codec/provider
  *     registry init per partition — the batch shape a native resampler or
  *     GPU feature extractor needs);
  *   - the kernel emits bounded rows (one meta row, or one row per ~50-
  *     sample frame); everything downstream — voiced/silence classification,
  *     trim-point aggregation — is ordinary columnar Spark, so Catalyst owns
  *     the shuffle/aggregation plan.
  *
  * Reference scope note: the reference engine (`/root/reference/src/index.js`)
  * has no media path at all; this family is extension surface for the
  * training-data pipeline (speech corpora: VAD-style silence trim, energy
  * screens) built on the engine's own dedup/agg machinery.
  */
object Audio {

  /** Analysis frame length in samples (fixed, so frame boundaries are
    * closed-form for the oracle). */
  val FrameLen = 50

  /** Frame sum-of-squares at or above this is "voiced". Fixture margins are
    * wide by construction: all-quiet frames are ≤ FrameLen·16² = 12 800,
    * any frame containing ≥1 loud sample is ≥ 1000² = 1 000 000. */
  val VoicedThreshold = 500000L

  // ---- closed-form fixture content (the oracle's side of the contract) ----

  /** Total PCM16 samples of the doc_id clip: 240..440. */
  def nSamples(id: Long): Int = (240 + (id % 5) * 50).toInt

  /** Sample rate in Hz: 8000 / 12000 / 16000. */
  def sampleRate(id: Long): Int = (8000 + 4000 * (id % 3)).toInt

  /** Leading quiet samples: 0 / 50 / 100 (frame-aligned lead). */
  def leadQuiet(id: Long): Int = (50 * (id % 3)).toInt

  /** Trailing quiet samples: 0 / 30 (deliberately NOT frame-aligned, so the
    * last voiced frame can be a mixed frame). */
  def tailQuiet(id: Long): Int = (30 * ((id / 3) % 2)).toInt

  /** Sample i of the doc_id clip. Quiet head/tail: |s| ≤ 16. Voiced middle:
    * alternating-sign magnitude in [1000, 2000), so any frame overlapping it
    * clears [[VoicedThreshold]] with a 2× margin.
    */
  def sampleAt(id: Long, i: Int): Int = {
    val n = nSamples(id)
    if (i < leadQuiet(id) || i >= n - tailQuiet(id))
      ((7L * i + id) % 33 - 16).toInt
    else {
      val a = 3 + (id % 5)
      val mag = 1000 + ((a * i + id) % 1000)
      (if (i % 2 == 0) mag else -mag).toInt
    }
  }

  // ---- codec provider cache ----------------------------------------------
  //
  // `AudioSystem.getAudioInputStream` / `AudioSystem.write` re-scan the
  // provider registry on EVERY call through a `synchronized` static
  // (`JDK13Services.getProviders`), so 32 executor threads serialize on one
  // JVM-global lock per decode. Resolving the platform WAV codec ONCE via
  // the public `javax.sound.sampled.spi` ServiceLoader and calling it
  // directly is the identical RIFF/WAVE parse/encode code path minus the
  // per-call registry scan — measured 110× faster at 32 threads on the
  // fixture clips (3.44 s → 31 ms per 160k decodes). Falls back to the
  // `AudioSystem` facade if no provider answers the probe (exotic JREs).
  private lazy val wavReader: Option[javax.sound.sampled.spi.AudioFileReader] = {
    val probe = encodeWavPcmVia(None, 8000, 4, _ => 0)
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .asScala
      .find { r =>
        try {
          r.getAudioInputStream(new java.io.ByteArrayInputStream(probe)).close()
          true
        } catch { case _: Exception => false }
      }
  }

  private lazy val wavWriter: Option[javax.sound.sampled.spi.AudioFileWriter] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter])
      .asScala
      .find(w =>
        w.isFileTypeSupported(javax.sound.sampled.AudioFileFormat.Type.WAVE) &&
          w.getClass.getSimpleName.startsWith("WaveFile")
      )
  }

  private def encodeWavPcm(rate: Int, n: Int, sample: Int => Int): Array[Byte] =
    encodeWavPcmVia(wavWriter, rate, n, sample)

  private def encodeWavPcmVia(
      writer: Option[javax.sound.sampled.spi.AudioFileWriter],
      rate: Int,
      n: Int,
      sample: Int => Int
  ): Array[Byte] = {
    val pcm = new Array[Byte](n * 2) // PCM16 little-endian mono
    var i = 0
    while (i < n) {
      val s = sample(i)
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      rate.toFloat, 16, 1, /*signed=*/ true, /*bigEndian=*/ false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    writer match {
      case Some(w) =>
        w.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      case None =>
        javax.sound.sampled.AudioSystem
          .write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    }
    bos.toByteArray
  }

  private def encodeWav(id: Long): Array[Byte] =
    encodeWavPcm(sampleRate(id), nSamples(id), sampleAt(id, _))

  /** documents → (doc_id, payload: binary) where payload is a REAL WAV
    * stream (RIFF container + PCM16LE data chunk from the JDK encoder) of
    * the doc's deterministic clip — the ingest step a speech datalake
    * performs upstream, generated in mapPartitions exactly where a
    * fetch-and-transcode stage would run.
    */
  def withAudioPayload(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions(it => it.map(id => (id, encodeWav(id))))
      .toDF("doc_id", "payload")
  }

  /** Typed decode result — what the audio decoder emits per payload. */
  case class AudioMeta(
      doc_id: Long,
      encoding: String,
      sample_rate: Long,
      channels: Long,
      bits: Long,
      n_samples: Long,
      amp_sum: Long,
      duration_micros: Long
  )

  /** One analysis frame: sum-of-squares energy over ≤ [[FrameLen]] samples. */
  case class AudioFrame(doc_id: Long, frame_idx: Long, n_in_frame: Long, energy: Long)

  private def decodePcm16(bytes: Array[Byte]): (javax.sound.sampled.AudioFormat, Array[Int]) = {
    val in = new java.io.ByteArrayInputStream(bytes)
    val ais = wavReader match {
      case Some(r) => r.getAudioInputStream(in)
      case None    => javax.sound.sampled.AudioSystem.getAudioInputStream(in)
    }
    val f = ais.getFormat
    val data = ais.readAllBytes()
    ais.close()
    val n = data.length / 2
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      out(i) = (((data(2 * i + 1) & 0xff) << 8) | (data(2 * i) & 0xff)).toShort.toInt
      i += 1
    }
    (f, out)
  }

  /** REAL DECODE: the platform WAV `AudioFileReader` parses the RIFF header
    * and hands back format fields + raw frames; sample count, amplitude sum
    * and integral duration come from the decoded PCM. Provider resolved
    * once per JVM (no per-call registry lock), no temp files — in-memory.
    */
  def decodeAudio(spark: SparkSession, payloads: DataFrame): Dataset[AudioMeta] = {
    import spark.implicits._
    payloads
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (f, samples) = decodePcm16(bytes)
          var sum = 0L
          var i = 0
          while (i < samples.length) { sum += samples(i); i += 1 }
          val rate = f.getSampleRate.toLong
          AudioMeta(
            id,
            f.getEncoding.toString.toLowerCase,
            rate,
            f.getChannels.toLong,
            f.getSampleSizeInBits.toLong,
            samples.length.toLong,
            sum,
            samples.length.toLong * 1000000L / rate
          )
        }
      }
  }

  /** Per-frame energy: decode once, tile the clip into [[FrameLen]]-sample
    * frames (last frame partial), emit one (frame_idx, n_in_frame,
    * sum-of-squares) row per frame. Integer-exact, so the oracle replays
    * every energy value; voiced/silence classification happens DOWNSTREAM
    * in Catalyst, keeping the kernel policy-free.
    */
  def frameEnergies(spark: SparkSession, payloads: DataFrame): Dataset[AudioFrame] = {
    import spark.implicits._
    payloads
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val (_, samples) = decodePcm16(bytes)
          val nf = (samples.length + FrameLen - 1) / FrameLen
          (0 until nf).iterator.map { fi =>
            val lo = fi * FrameLen
            val hi = math.min(lo + FrameLen, samples.length)
            var e = 0L
            var i = lo
            while (i < hi) { val s = samples(i).toLong; e += s * s; i += 1 }
            AudioFrame(id, fi.toLong, (hi - lo).toLong, e)
          }
        }
      }
  }

  // ---- pad-variant fixture: the audio DEDUP contract ----------------------
  //
  // Real speech corpora are full of the same recording re-ingested with
  // different leading/trailing silence (encoder padding, broadcast delays,
  // re-uploads). Byte-level dedup misses all of them. The variant fixture
  // models exactly that: clip CONTENT is keyed by a recording id
  // (doc_id % DupMod) while the quiet padding is keyed by the doc — so docs
  // sharing a recording are bit-DIFFERENT payloads whose voiced middles are
  // sample-identical after the trim. Padding is frame-aligned by
  // construction, which makes trim→fingerprint exactly invariant (the
  // voiced frames contain only recording samples).

  /** Distinct recordings in the variant fixture: rec = doc_id % DupMod. */
  val DupMod = 40L

  def recOf(id: Long): Long = ((id % DupMod) + DupMod) % DupMod

  /** Variant padding (frame-aligned): 0/50/100 lead, 0/50 tail — doc-keyed. */
  def vLeadQuiet(id: Long): Int = (50 * (id % 3)).toInt
  def vTailQuiet(id: Long): Int = (50 * ((id / 3) % 2)).toInt

  /** Recording length in samples (frame-aligned): 150..300. */
  def voicedLen(rec: Long): Int = (150 + (rec % 4) * 50).toInt

  def vNSamples(id: Long): Int =
    vLeadQuiet(id) + voicedLen(recOf(id)) + vTailQuiet(id)

  /** Recording-keyed sample rate — a re-padded copy keeps its rate. */
  def vSampleRate(id: Long): Int = (8000 + 4000 * (recOf(id) % 3)).toInt

  /** Variant sample i: doc-keyed quiet pad, recording-keyed voiced middle
    * addressed by position WITHIN the recording (v = i − lead), so the
    * voiced samples of two variants of one recording are identical.
    */
  def vSampleAt(id: Long, i: Int): Int = {
    val lead = vLeadQuiet(id)
    val rec = recOf(id)
    if (i < lead || i >= lead + voicedLen(rec))
      ((7L * i + id) % 33 - 16).toInt
    else {
      val v = i - lead
      val a = 3 + (rec % 5)
      val mag = 1000 + ((a * v + rec) % 1000)
      (if (v % 2 == 0) mag else -mag).toInt
    }
  }

  /** documents → (doc_id, payload) over the PAD-VARIANT fixture — same real
    * WAV wire format as [[withAudioPayload]], content per [[vSampleAt]].
    */
  def withAudioPayloadVariants(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions(it => it.map(id =>
        (id, encodeWavPcm(vSampleRate(id), vNSamples(id), vSampleAt(id, _)))))
      .toDF("doc_id", "payload")
  }

  /** Pad-invariant acoustic fingerprint, computed in CATALYST over the
    * kernel's frame rows: trim quiet head/tail frames ([[silenceTrim]]
    * bounds), then md5 the ordered voiced-frame energy sequence. Because
    * the trim drops every padding frame and energies are integer-exact,
    * two re-padded copies of one recording collide exactly; no all-pairs
    * comparison ever happens — dedup is a hash groupBy, the cheapest shape
    * there is. Output: (doc_id, fingerprint, n_voiced).
    */
  def audioFingerprint(frames: DataFrame): DataFrame = {
    // pin the frame rows: the trim bounds and the join probe BOTH consume
    // them, and without the pin the static planner materializes the common
    // subtree twice — re-running the WAV DECODE behind it once per branch
    // (the cdcChunks lesson). The pinned table is one row per frame of
    // five scalar columns, tiny next to the decode it guards.
    val f = frames.localCheckpoint()
    val bounds = silenceTrim(f)
      .select(col("doc_id"), col("first_voiced"), col("last_voiced"))
    f
      .join(bounds, Seq("doc_id"))
      .filter(col("frame_idx").between(col("first_voiced"), col("last_voiced")))
      .groupBy(col("doc_id"))
      .agg(
        md5(
          array_join(
            transform(
              array_sort(
                collect_list(
                  struct((col("frame_idx") - col("first_voiced")).as("rel"),
                    col("energy").as("energy")))),
              x => x.getField("energy").cast("string")
            ),
            ","
          ).cast("binary")
        ).as("fingerprint"),
        count(lit(1)).as("n_voiced")
      )
  }

  /** Audio dedup over the fingerprint: per doc its cluster representative
    * (min doc id sharing the fingerprint) and cluster size. Exact-hash
    * collapse — the same map+agg+join shape as exact text dedup
    * ([[Dedup]]), now invariant to silence padding instead of whitespace.
    *
    * No broadcast hint on `clusters`: it holds one row per DISTINCT
    * fingerprint, i.e. corpus cardinality, so forcing it broadcast is a
    * driver/executor OOM at crawl scale. Left as a plain shuffle equi-join
    * (partial-aggregable groupBy on one side), AQE broadcasts it on its
    * own whenever the aggregate is actually small.
    */
  def audioDedup(fps: DataFrame): DataFrame = {
    val clusters = fps
      .groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_variants"))
    fps
      .join(clusters, Seq("fingerprint"))
      .select(
        col("doc_id"),
        col("fingerprint"),
        col("rep"),
        col("n_variants"),
        (col("doc_id") =!= col("rep")).as("is_dup")
      )
  }

  /** The two fingerprint providers the audio index machinery is generic
    * over: (docs with a doc_id column) → (doc_id, fingerprint). The
    * ENERGY path is pad-invariant for frame-aligned padding; the
    * SPECTRAL path is invariant under ARBITRARY sample shifts. Both are
    * decode-once map-partition kernels + Catalyst aggregation.
    */
  def energyFp(spark: SparkSession, docs: DataFrame): DataFrame =
    audioFingerprint(
      frameEnergies(spark, withAudioPayloadVariants(spark, docs)).toDF()
    ).select(col("doc_id"), col("fingerprint"))

  def spectralFp(spark: SparkSession, docs: DataFrame): DataFrame =
    spectralFingerprint(
      spectralPeaks(spark, withAudioPayloadTones(spark, docs)).toDF()
    ).select(col("doc_id"), col("fingerprint"))

  /** The (fingerprint, rep, n_variants) cluster aggregate over per-doc
    * fingerprint rows — the derived table the dedup verdict joins;
    * partial-aggregable, two-column input.
    */
  def fpClusters(fps: DataFrame): DataFrame =
    fps
      .groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_variants"))

  /** Build the persisted audio-dedup index ONCE per corpus version: decode
    * every corpus clip, compute the pad-invariant fingerprint, keep the
    * per-doc `docs/` rows (the index's source of truth — what incremental
    * ingest appends to), collapse to the `clusters/` aggregate, publish
    * atomically. The decode — the corpus-linear cost — is paid here
    * exactly once; the daily-ingest path ([[audioDeltaDups]]) reads these
    * tables only. Keyed on the corpus membership: fixture clip content is
    * a pure function of doc_id (a production build fingerprints the
    * payload bytes).
    */
  def ensureAudioFpIndex(sfDir: String, corpusDocs: DataFrame): String =
    // layout=2: per-doc `docs/` table added beside the cluster aggregate —
    // the source-of-truth rows [[graft.streaming.AudioIndexStream]] grows
    // incrementally; retires docs-less layout-1 assets
    fpIndex("audio-fp-reps", "layout=2", sfDir, corpusDocs)(energyFp)

  /** Spectral twin of [[ensureAudioFpIndex]]: decode + DFT the corpus
    * once, persist (doc_id, spectral fingerprint) + the cluster
    * aggregate — keyed separately (different fingerprint function ⇒
    * different asset). */
  def ensureAudioSpectralIndex(sfDir: String, corpusDocs: DataFrame): String =
    fpIndex("audio-spec-reps", "layout=1", sfDir, corpusDocs)(spectralFp)

  private def fpIndex(family: String, params: String, sfDir: String, corpusDocs: DataFrame)(
      fingerprints: (SparkSession, DataFrame) => DataFrame
  ): String =
    Indexes.ensure(family, sfDir, corpusDocs, "doc_id", "doc_id", params) { tmp =>
      val fps = fingerprints(corpusDocs.sparkSession, corpusDocs).localCheckpoint()
      fps.write.mode("overwrite").parquet(s"$tmp/docs")
      fpClusters(fps).write.mode("overwrite").parquet(s"$tmp/clusters")
    }

  /** INCREMENTAL audio dedup ingest: decode and fingerprint the DELTA
    * only, then LEFT-join the persisted corpus cluster table — one row per
    * delta clip with its corpus verdict: the matched cluster's rep and
    * size, or NULLs + is_known=false for first-seen content. Zero corpus
    * re-decode on the steady-state path (the text deltaDups contract, for
    * audio).
    */
  def audioDeltaDups(spark: SparkSession, dir: String, deltaDocs: DataFrame): DataFrame =
    deltaDupsOn(spark, dir, energyFp(spark, deltaDocs))

  /** Spectral twin of [[audioDeltaDups]]: only the delta is decoded and
    * DFT'd; the verdict joins the persisted spectral cluster table. */
  def audioSpectralDeltaDups(spark: SparkSession, dir: String, deltaDocs: DataFrame): DataFrame =
    deltaDupsOn(spark, dir, spectralFp(spark, deltaDocs))

  private def deltaDupsOn(spark: SparkSession, dir: String, fps: DataFrame): DataFrame = {
    // Delta-aware cluster source: a STREAM-MAINTAINED asset may carry
    // uncompacted delta/ rows, and reading the persisted `clusters/`
    // aggregate directly would silently ignore streamed docs (is_known =
    // false for clips matching uncompacted growth). The live view
    // re-derives clusters from the exactly-once per-doc view only while a
    // delta is outstanding; with no delta it is the identical persisted
    // scan. It also runs recoverSwap on open (the commitSwap contract:
    // every reader finishes an interrupted swap before its first listing).
    val cl = graft.streaming.AudioIndexStream.readClusters(spark, dir)
    fps
      .select(col("doc_id"), col("fingerprint"))
      .join(cl, Seq("fingerprint"), "left")
      .select(
        col("doc_id"),
        col("fingerprint"),
        col("rep").as("corpus_rep"),
        col("n_variants").as("corpus_n"),
        col("rep").isNotNull.as("is_known")
      )
  }

  /** VAD-style silence trim, computed in CATALYST over the frame rows (the
    * kernel only measured energy): per clip — frame counts, voiced frame
    * span, and the kept sample range after trimming quiet head/tail frames.
    * Every clip has a voiced middle by fixture construction, so the span
    * columns are total. The aggregation is a plain partial-aggregable
    * groupBy — no window, no skew surface.
    */
  def silenceTrim(frames: DataFrame): DataFrame = {
    val voiced = col("energy") >= lit(VoicedThreshold)
    frames
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_frames"),
        sum(when(voiced, 1L).otherwise(0L)).as("n_voiced"),
        min(when(voiced, col("frame_idx"))).as("first_voiced"),
        max(when(voiced, col("frame_idx"))).as("last_voiced"),
        sum(col("n_in_frame")).as("n_samples")
      )
      .select(
        col("doc_id"),
        col("n_frames"),
        col("n_voiced"),
        col("first_voiced"),
        col("last_voiced"),
        (least(col("n_samples"), (col("last_voiced") + 1) * FrameLen)
          - col("first_voiced") * FrameLen).as("kept_samples")
      )
  }

  // ---- SPECTRAL path: shift-robust fingerprinting via a real DFT ---------
  //
  // The energy fingerprint above is pad-invariant only when padding is
  // FRAME-ALIGNED: shift a recording by a non-multiple of the frame length
  // and every frame energy changes, so the md5 diverges — re-uploads with
  // arbitrary head trims are a recall class it structurally cannot catch.
  // The spectral path closes it: a 64-sample window of a sinusoid at DFT
  // bin b contains a pure bin-b sinusoid at EVERY offset (only the phase
  // moves), so the per-frame argmax bin — and hence the ordered distinct
  // peak sequence — is exactly invariant under arbitrary sample shifts.
  //
  // The tone fixture models re-ingested tonal/speech-formant content: clip
  // content is two recording-keyed tones (disjoint bin ranges, so no two
  // of the 40 recordings collide); the quiet padding is doc-keyed and
  // deliberately NOT frame-aligned (13·(id%7) / 9·(id%5) samples). The
  // oracle never runs a DFT: it replays the EXPECTED peak sequence
  // [binA, binB] closed-form from the fixture params, and the Spark side
  // only matches if its decode + DFT + peak logic actually recovers the
  // tones — the same division of labor as the codec queries above.

  /** DFT analysis window (samples). Bins 0..32 (real signal, one-sided). */
  val SpecFrameLen = 64

  /** Quantized peak power at or above this is a candidate tone frame.
    * Margins: a full-window tone has power (32·amp)² ≥ 2.0e9 (amp ≥ 1400);
    * an all-quiet frame is bounded by (64·16)² ≈ 1.05e6 — three orders
    * below. Boundary (straddle) frames may land anywhere between; the
    * consecutive-pair rule in [[spectralFingerprint]] makes their
    * inclusion irrelevant, so the threshold needs no fine tuning.
    */
  val SpecPowerThreshold = 100000000L // 1e8

  /** Distinct recordings in the tone fixture: rec = doc_id % ToneDupMod. */
  val ToneDupMod = 40L

  def toneRecOf(id: Long): Long = ((id % ToneDupMod) + ToneDupMod) % ToneDupMod

  /** First/second tone bins — disjoint ranges [3,15] and [17,27], and
    * injective over rec ∈ [0,40) (13 and 11 are coprime, lcm 143 > 40),
    * so no two recordings share a peak sequence.
    */
  def toneBinA(rec: Long): Int = (3 + rec % 13).toInt
  def toneBinB(rec: Long): Int = (17 + rec % 11).toInt

  /** Tone amplitudes (PCM16 units). Distinct so a boundary frame cannot
    * tie; both large enough that a full-window tone clears
    * [[SpecPowerThreshold]] by > 20×. */
  val ToneAmpA = 2000
  val ToneAmpB = 1400

  /** Tone lengths in samples — each ≥ 3 windows, so ≥ 2 FULL frames of
    * each tone survive ANY sub-window shift (a run of L samples contains
    * ≥ ⌊L/64⌋−1 ≥ 2 full windows for L ≥ 192). */
  def toneLenA(rec: Long): Int = (192 + 64 * (rec % 3)).toInt
  def toneLenB(rec: Long): Int = (192 + 64 * ((rec / 3) % 3)).toInt

  /** Recording-keyed sample rate — shifted copies keep their rate. */
  def toneRate(rec: Long): Int = (8000 + 4000 * (rec % 3)).toInt

  /** Doc-keyed quiet padding, deliberately NOT frame-aligned: leads of
    * 0/13/26/39/52/65/78 and tails of 0/9/18/27/36 samples. */
  def toneLead(id: Long): Int = (13 * (id % 7)).toInt
  def toneTail(id: Long): Int = (9 * (id % 5)).toInt

  def toneNSamples(id: Long): Int = {
    val rec = toneRecOf(id)
    toneLead(id) + toneLenA(rec) + toneLenB(rec) + toneTail(id)
  }

  /** Sample i of the tone clip: quiet pad (same |s| ≤ 16 pseudo-noise as
    * the other fixtures), then tone A, then tone B — each tone's phase
    * anchored at its own start, so the voiced samples of two variants of
    * one recording are identical up to the shift.
    */
  def toneSampleAt(id: Long, i: Int): Int = {
    val rec = toneRecOf(id)
    val lead = toneLead(id)
    val la = toneLenA(rec)
    if (i < lead || i >= lead + la + toneLenB(rec))
      ((7L * i + id) % 33 - 16).toInt
    else if (i < lead + la) {
      val j = i - lead
      math.round(ToneAmpA * math.sin(2.0 * math.Pi * toneBinA(rec) * j / SpecFrameLen)).toInt
    } else {
      val j = i - lead - la
      math.round(ToneAmpB * math.sin(2.0 * math.Pi * toneBinB(rec) * j / SpecFrameLen)).toInt
    }
  }

  /** documents → (doc_id, payload) over the TONE fixture — same real WAV
    * wire format as [[withAudioPayload]], content per [[toneSampleAt]].
    */
  def withAudioPayloadTones(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions(it => it.map { id =>
        val rec = toneRecOf(id)
        (id, encodeWavPcm(toneRate(rec), toneNSamples(id), toneSampleAt(id, _)))
      })
      .toDF("doc_id", "payload")
  }

  /** One spectral frame: argmax DFT bin + floor-quantized peak power over
    * one FULL [[SpecFrameLen]]-sample window (trailing partial windows are
    * not analyzed — a short window has no honest bin resolution). */
  case class SpecFrame(
      doc_id: Long,
      frame_idx: Long,
      sample_rate: Long,
      peak_bin: Long,
      peak_power_q: Long
  )

  /** cos/sin tables for the 64-point real DFT, built once per JVM:
    * specCos(k)(j) = cos(2πkj/64) for bins k ∈ [0,32]. */
  private lazy val specCos: Array[Array[Double]] = Array.tabulate(SpecFrameLen / 2 + 1,
    SpecFrameLen)((k, j) => math.cos(2.0 * math.Pi * k * j / SpecFrameLen))
  private lazy val specSin: Array[Array[Double]] = Array.tabulate(SpecFrameLen / 2 + 1,
    SpecFrameLen)((k, j) => math.sin(2.0 * math.Pi * k * j / SpecFrameLen))

  /** REAL DFT per frame: decode the WAV, tile into full 64-sample windows,
    * compute one-sided DFT power at bins 0..32 (table-driven — 33 bins ×
    * 64 samples per frame, embarrassingly parallel in mapPartitions), emit
    * the argmax bin (ties to the lower bin) and its floor-quantized power.
    * Policy-free like [[frameEnergies]]: thresholding and sequence logic
    * happen downstream in Catalyst.
    */
  def spectralPeaks(spark: SparkSession, payloads: DataFrame): Dataset[SpecFrame] = {
    import spark.implicits._
    payloads
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val cosT = specCos
        val sinT = specSin
        it.flatMap { case (id, bytes) =>
          val (f, samples) = decodePcm16(bytes)
          val rate = f.getSampleRate.toLong
          val nf = samples.length / SpecFrameLen
          (0 until nf).iterator.map { fi =>
            val lo = fi * SpecFrameLen
            var bestK = 0
            var bestP = -1.0
            var k = 0
            while (k <= SpecFrameLen / 2) {
              var re = 0.0
              var im = 0.0
              var j = 0
              while (j < SpecFrameLen) {
                val x = samples(lo + j).toDouble
                re += x * cosT(k)(j)
                im -= x * sinT(k)(j)
                j += 1
              }
              val p = re * re + im * im
              if (p > bestP) { bestP = p; bestK = k }
              k += 1
            }
            SpecFrame(id, fi.toLong, rate, bestK.toLong, bestP.toLong)
          }
        }
      }
  }

  /** Shift-invariant spectral fingerprint, computed in CATALYST over the
    * kernel's frames: keep frames that (a) clear [[SpecPowerThreshold]]
    * and (b) agree with the NEXT frame's peak bin — the consecutive-pair
    * rule. Full-window tone frames pass (each tone spans ≥ 2 consecutive
    * full windows at any shift, and windowed pure sinusoids put their
    * argmax exactly on the tone bin); boundary frames, whose truncated-
    * window leakage can pull the argmax to a NEIGHBORING bin, never have
    * an agreeing successor (the at-most-one straddle sits between two
    * pure runs), so they are structurally excluded rather than
    * threshold-tuned away. The ordered DISTINCT peak-bin sequence is then
    * exactly the recording's tone program at every shift; md5 of it is
    * the dedup key. One key-partitioned lead() window + one groupBy — no
    * all-pairs stage, no global window.
    *
    * Output: (doc_id, n_full_frames, peaks, hz_milli, fingerprint) where
    * hz_milli maps each peak bin to its physical frequency in milli-Hz
    * (bin·rate·1000/64 — exact integer arithmetic at the fixture rates).
    */
  def spectralFingerprint(frames: DataFrame): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("frame_idx"))
    val stable = frames
      .withColumn("next_bin", lead(col("peak_bin"), 1).over(byDoc))
      .withColumn(
        "kept",
        col("peak_power_q") >= lit(SpecPowerThreshold) &&
          col("next_bin") === col("peak_bin")
      )
    stable
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_full_frames"),
        first(col("sample_rate")).as("rate"),
        array_distinct(
          transform(
            array_sort(
              collect_list(
                when(col("kept"), struct(col("frame_idx"), col("peak_bin"))))),
            x => x.getField("peak_bin")
          )
        ).as("peak_seq")
      )
      .select(
        col("doc_id"),
        col("n_full_frames"),
        array_join(col("peak_seq"), ",").as("peaks"),
        array_join(
          // bin·rate·1000/64: the numerator is ≤ 4.4e8 (double-exact) and
          // the divisor a power of two, so the double division is exact
          // and the long cast lossless at every fixture rate
          transform(col("peak_seq"),
            b => (b * col("rate") * 1000L / lit(SpecFrameLen)).cast("long")),
          ","
        ).as("hz_milli"),
        md5(array_join(col("peak_seq"), ",").cast("binary")).as("fingerprint")
      )
  }
}
