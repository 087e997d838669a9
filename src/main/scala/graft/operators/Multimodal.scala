package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Cols._

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata.
  *
  * The image path is REAL: payloads are PNG byte streams produced by
  * `javax.imageio`'s encoder and decoded back through `ImageIO.read` — an
  * actual codec, not a header-arithmetic stub. Image CONTENT is
  * deterministic (pixel values are a closed-form function of `doc_id`, see
  * [[pixelChannels]]), which is what lets the DuckDB oracle verify the
  * decoder's output (dimensions, channel sums, value histograms) from the
  * same formula without running a codec itself.
  *
  * The Spark shape is what a production pipeline needs at 100 TB:
  *   - payloads live in a `binary` column next to typed metadata;
  *   - per-record decode runs in `mapPartitions` (decoder/plugin-registry
  *     init once per partition, `ImageIO.setUseCache(false)` so decode is
  *     pure in-memory — the batch shape a JNI/GPU codec needs; the Scala
  *     analogue of `mapInPandas` batches);
  *   - per-image work (decode, downsample, feature extraction) stays inside
  *     the partition loop; everything downstream (schema, partitioning,
  *     joins, aggregation) is ordinary columnar Spark.
  */
object Multimodal {

  /** Typed decode result — what the image decoder emits per payload. */
  case class ImageMeta(
      doc_id: Long,
      format: String,
      width: Long,
      height: Long,
      px_sum: Long
  )

  /** Resize result: dimensions + pixel sum of the round-tripped
    * (downsample → re-encode → re-decode) image.
    */
  case class ResizedMeta(doc_id: Long, new_w: Long, new_h: Long, px_sum: Long)

  /** Per-image features over decoded channel values. */
  case class ImageFeatures(
      doc_id: Long,
      n_distinct_vals: Long,
      mode_val: Long,
      r_sum: Long,
      g_sum: Long,
      b_sum: Long
  )

  /** Deterministic image content: channel values of pixel (x, y) of the
    * doc_id image — r=(x+y+id)%256, g=(2x+y+id)%256, b=(x+2y+id)%256,
    * dimensions w=4+id%13, h=3+id%7. The closed form is the oracle's side
    * of the contract; the bytes on the wire are real PNG.
    */
  def imageDims(id: Long): (Int, Int) = ((4 + id % 13).toInt, (3 + id % 7).toInt)

  private def pixelChannels(id: Long, x: Int, y: Int): (Int, Int, Int) = (
    ((x + y + id) % 256).toInt,
    ((2L * x + y + id) % 256).toInt,
    ((x + 2L * y + id) % 256).toInt
  )

  private[operators] def toBufferedImage(id: Long): java.awt.image.BufferedImage = {
    val (w, h) = imageDims(id)
    val img =
      new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val (r, g, b) = pixelChannels(id, x, y)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    img
  }

  private[operators] def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** documents → (doc_id, payload: binary) where payload is a REAL PNG
    * stream (javax.imageio encoder) of the doc's deterministic image. The
    * ingest step a datalake performs upstream; generated in mapPartitions
    * exactly where a fetch-and-decode stage would run.
    */
  def withImagePayload(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false) // per-partition codec init
        it.map(id => (id, encodePng(toBufferedImage(id))))
      }
      .toDF("doc_id", "payload")
  }

  /** JPEG encode at an explicit quality — the second real codec through
    * the same `javax.imageio` registry the PNG path uses. No alpha
    * (TYPE_INT_RGB fixtures), explicit-mode compression so the quality is
    * a fixed, deterministic input.
    */
  private[graft] def encodeJpeg(
      img: java.awt.image.BufferedImage,
      quality: Float
  ): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    writer.dispose()
    ios.close()
    bos.toByteArray
  }

  /** Distinct contents in the mixed-codec fixture: content(id) = id %
    * CodecContents, so every content has both PNG and JPEG uploads.
    */
  val CodecContents = 25L

  /** Mixed-codec fixture content: a dHash-GRID-ALIGNED block image whose
    * 60 gradient bits are drawn from md5(content) with a ±12 gray margin
    * per compared sample pair, samples 3 px inside their blocks (66×36 =
    * (HashCols+1)·6 × HashRows·6, stripes shifted half a block so the
    * kernel's boundary samples sit block-centered). The margin is the
    * point: lossy JPEG (quality 0.9) perturbs block interiors by ±3 gray
    * levels, far under the margin, so the perceptual hash is bit-identical
    * across PNG and JPEG encodes of the same content — the re-encode
    * robustness class perceptual dedup exists for — while distinct
    * contents differ in ≥ ~18 of 60 bits (independent md5 draws). The
    * tiny ramp fixture ([[toBufferedImage]]) deliberately has ~1-gray
    * gradients and is NOT JPEG-stable; codec-invariance needs content
    * whose structure out-scales codec noise, which is what real
    * photographs are.
    */
  private[graft] def toBlockImage(content: Long): java.awt.image.BufferedImage = {
    val w = (HashCols + 1) * 6 // 66
    val h = HashRows * 6 // 36
    val md = java.security.MessageDigest
      .getInstance("MD5")
      .digest(s"codec#$content".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def bit(i: Int): Boolean = ((md(i / 8) >> (i % 8)) & 1) == 1
    // per row band, a level walk over 21 gray levels (8 + 12·lvl): a set
    // bit steps up, a clear bit steps down; starting mid-scale, the
    // HashCols-step walk never clamps, so every compared pair differs by
    // EXACTLY ±12 — no equal-value cells whose strict-< bit codec noise
    // could flip
    val v = Array.ofDim[Int](HashRows, HashCols + 1)
    var j = 0
    while (j < HashRows) {
      var lvl = HashCols
      v(j)(0) = 8 + 12 * lvl
      var k = 0
      while (k < HashCols) {
        lvl = if (bit(j * HashCols + k)) lvl + 1 else lvl - 1
        v(j)(k + 1) = 8 + 12 * lvl
        k += 1
      }
      j += 1
    }
    val img =
      new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      val jj = math.min(HashRows - 1, (y + 3) / 6)
      var x = 0
      while (x < w) {
        val s = math.min(HashCols, (x + 3) / 6)
        val g = v(jj)(s)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    img
  }

  /** documents → (doc_id, payload: binary) over the MIXED-CODEC corpus:
    * even doc_ids upload their content as PNG, odd doc_ids as JPEG
    * (quality 0.9) — the re-upload/re-encode shape a crawl actually sees.
    * Same mapPartitions ingest slot as [[withImagePayload]]; the decode
    * side ([[decodeImage]]/[[dHash]]) is codec-agnostic by construction
    * (ImageIO reader introspection), which is what this fixture proves.
    */
  def withImagePayloadMixedCodec(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { id =>
          val img = toBlockImage(id % CodecContents)
          val bytes = if (id % 2 == 0) encodePng(img) else encodeJpeg(img, 0.9f)
          (id, bytes)
        }
      }
      .toDF("doc_id", "payload")
  }

  /** documents → (doc_id, payload: binary, byte_len): the ingest step.
    * In production the payload column arrives from the datalake as-is;
    * here we materialize the document text's UTF-8 bytes as the payload.
    */
  def withPayload(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("text").cast(BinaryType).as("payload"),
      lng(length(col("text").cast(BinaryType))).as("byte_len")
    )

  /** REAL DECODE: `ImageIO.read` over the PNG byte stream, format name
    * from the codec's own reader introspection, dimensions and pixel-sum
    * from the decoded raster. One decoder registry init per partition; no
    * file-backed ImageIO cache, so decode never touches local disk.
    */
  def decodeImage(spark: SparkSession, payloads: DataFrame): Dataset[ImageMeta] = {
    import spark.implicits._
    payloads
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, bytes) =>
          val iis = javax.imageio.ImageIO
            .createImageInputStream(new java.io.ByteArrayInputStream(bytes))
          val reader = javax.imageio.ImageIO.getImageReaders(iis).next()
          val fmt = reader.getFormatName.toLowerCase
          reader.setInput(iis)
          val img = reader.read(0)
          reader.dispose()
          var sum = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val p = img.getRGB(x, y)
              sum += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
              x += 1
            }
            y += 1
          }
          ImageMeta(id, fmt, img.getWidth.toLong, img.getHeight.toLong, sum)
        }
      }
  }

  /** REAL RESIZE round-trip: decode PNG → nearest-neighbor `factor`:1
    * downsample (out(x,y) = in(factor·x, factor·y) — an explicit kernel,
    * so the oracle can state the result) → RE-ENCODE to PNG → decode again
    * and report the round-tripped raster's dimensions and pixel sum. PNG is
    * lossless, so the second decode proves encoder and decoder agree.
    */
  def resizeImage(spark: SparkSession, payloads: DataFrame, factor: Int): Dataset[ResizedMeta] = {
    import spark.implicits._
    payloads
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, bytes) =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          val nw = (img.getWidth + factor - 1) / factor
          val nh = (img.getHeight + factor - 1) / factor
          val small =
            new java.awt.image.BufferedImage(nw, nh, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < nh) {
            var x = 0
            while (x < nw) {
              small.setRGB(x, y, img.getRGB(x * factor, y * factor))
              x += 1
            }
            y += 1
          }
          val back =
            javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(encodePng(small)))
          var sum = 0L
          y = 0
          while (y < back.getHeight) {
            var x = 0
            while (x < back.getWidth) {
              val p = back.getRGB(x, y)
              sum += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
              x += 1
            }
            y += 1
          }
          ResizedMeta(id, back.getWidth.toLong, back.getHeight.toLong, sum)
        }
      }
  }

  /** Feature extraction over the DECODED raster: distinct channel-value
    * count, modal value (lowest-wins ties), per-channel sums. Per-image
    * work stays in the partition loop (images are bounded; a 100 TB corpus
    * is many images, not big ones), emitting one bounded feature row per
    * image — the shape any pixel-statistic pipeline takes at scale.
    */
  def imageFeatures(spark: SparkSession, payloads: DataFrame): Dataset[ImageFeatures] = {
    import spark.implicits._
    payloads
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, bytes) =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          val counts = new Array[Long](256)
          var rs = 0L; var gs = 0L; var bs = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val p = img.getRGB(x, y)
              val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff; val b = p & 0xff
              counts(r) += 1; counts(g) += 1; counts(b) += 1
              rs += r; gs += g; bs += b
              x += 1
            }
            y += 1
          }
          var nd = 0L; var mode = -1; var best = 0L
          var v = 0
          while (v < 256) {
            if (counts(v) > 0) { nd += 1; if (counts(v) > best) { best = counts(v); mode = v } }
            v += 1
          }
          ImageFeatures(id, nd, mode.toLong, rs, gs, bs)
        }
      }
  }

  /** Per-image difference hash (dHash). */
  case class ImageHash(doc_id: Long, dhash: Long)

  /** dHash grid: [[HashCols]]+1 sample columns × [[HashRows]] rows →
    * HashCols·HashRows = 60 gradient bits, so the hash rides one positive
    * BIGINT and the SimHash band machinery ([[Dedup.simhashPairs]]'
    * 4×15-bit bands) applies unchanged.
    */
  val HashCols = 10
  val HashRows = 6

  /** PERCEPTUAL HASH over the decoded raster: nearest-neighbor sample the
    * image to an ([[HashCols]]+1)×[[HashRows]] grayscale grid (gray =
    * (r+g+b)/3, integer division), emit bit j·10+k = 1 iff gray increases
    * left-to-right between adjacent sample columns — the classic dHash.
    * Gradient signs survive uniform brightness shifts and re-encoding, so
    * near-identical images land within a few bits of each other while a
    * cryptographic hash ([[Dedup]]'s md5 exact path) scatters them.
    *
    * Same mapPartitions decode shape as [[decodeImage]] (real codec, one
    * registry init per partition); one bounded hash row per image out. The
    * grid sampling and gray formula are closed-form over the deterministic
    * fixture pixels, so the oracle replays the hash bit-exactly without a
    * codec.
    */
  def dHash(spark: SparkSession, payloads: DataFrame): Dataset[ImageHash] = {
    import spark.implicits._
    payloads
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, bytes) =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          ImageHash(id, dhashOf(img))
        }
      }
  }

  /** The dHash grid kernel over a decoded raster — shared by the per-image
    * path above and the per-video-frame path ([[Video]]).
    */
  private[operators] def dhashOf(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    def gray(x: Int, y: Int): Int = {
      val p = img.getRGB(x, y)
      (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3
    }
    var hash = 0L
    var j = 0
    while (j < HashRows) {
      val yj = j * h / HashRows
      var k = 0
      while (k < HashCols) {
        val xa = k * w / (HashCols + 1)
        val xb = (k + 1) * w / (HashCols + 1)
        if (gray(xa, yj) < gray(xb, yj)) hash |= 1L << (j * HashCols + k)
        k += 1
      }
      j += 1
    }
    hash
  }

  /** Image near-dup pairs over the dHash column — the production two-stage
    * composition:
    *
    *   1. EXACT-HASH COLLAPSE: group by dhash, keep the minimum doc id as
    *      the cluster representative with its member count. On real crawl
    *      data (and this gradient fixture) bit-identical perceptual hashes
    *      are the bulk of the duplicate mass; collapsing first makes the
    *      pair stage operate on DISTINCT hashes only, so a hot hash (2k+
    *      members here) contributes ONE row to the join instead of a
    *      quadratic within-bucket blow-up.
    *   2. HAMMING-BANDED PAIR JOIN over representatives: the SimHash
    *      4×15-bit band machinery ([[Dedup.simhashPairs]]) verbatim —
    *      by pigeonhole a pair within hamming ≤ 3 shares at least one of
    *      4 bands, so banding loses nothing at this threshold. Hamming 0
    *      pairs are excluded (they were collapsed in stage 1); what
    *      remains is the NEAR-miss set (1..3 differing gradient bits).
    *
    * Emits (a_id, b_id, hamming, a_n, b_n) — representative pair, bit
    * distance, and both clusters' member counts (the mass a merge of the
    * two clusters would dedup).
    */
  def dhashDups(hashes: DataFrame, maxHamming: Int = 3): DataFrame =
    repPairs(repsOf(hashes), maxHamming)

  /** Exact-hash cluster representatives — (dhash, rid, n), one row per
    * DISTINCT hash. Checkpointed: every consumer reads it several times
    * (both band-join sides + the two count join-backs), and without the
    * pin each branch would re-run the aggregate — and behind it the whole
    * image decode pass (the cdcChunks lesson: the static planner does not
    * reuse common subtrees across join branches). The table is distinct-
    * hash-sized — tiny next to the decode it guards.
    */
  private def repsOf(hashes: DataFrame): DataFrame =
    hashes
      .groupBy(col("dhash"))
      .agg(min(col("doc_id")).as("rid"), count(lit(1)).as("n"))
      .localCheckpoint()

  private def repPairs(reps: DataFrame, maxHamming: Int): DataFrame =
    Dedup
      .simhashPairs(
        reps.select(col("rid").as("doc_id"), col("dhash").as("simhash")),
        maxHamming
      )
      .filter(col("hamming") >= 1)
      .join(reps.select(col("rid").as("a_id"), col("n").as("a_n")), Seq("a_id"))
      .join(reps.select(col("rid").as("b_id"), col("n").as("b_n")), Seq("b_id"))
      .select(col("a_id"), col("b_id"), col("hamming"), col("a_n"), col("b_n"))

  /** Image dedup CLUSTERS: [[dhashDups]] pairs closed under transitivity
    * via [[Dedup.connectedComponents]] (min-label propagation), then every
    * document mapped through its exact-hash representative to the
    * component — docs whose representative sits in no near-miss pair form
    * singleton clusters under their representative id. One (doc_id,
    * component, csize) row per document: the image-side twin of
    * [[Dedup.dupClusters]].
    */
  def dhashClusters(hashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    // pin the hash table: the rep aggregate and the final doc→rep join
    // both consume it, and each unpinned branch would re-run the image
    // DECODE pass. One row per document, five scalar columns.
    val h = hashes.localCheckpoint()
    val reps = repsOf(h)
    val comp = Dedup
      .connectedComponents(repPairs(reps, maxHamming).select(col("a_id"), col("b_id")))
      .withColumnRenamed("id", "rid")
    val docComp = h
      .join(reps.select(col("dhash"), col("rid")), Seq("dhash"))
      .join(comp, Seq("rid"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("rid")).as("component"))
    val sizes = docComp.groupBy(col("component")).agg(count(lit(1)).as("csize"))
    docComp
      .join(sizes, Seq("component"))
      .select(col("doc_id"), col("component"), col("csize"))
  }

  /** Persisted image near-dup index location — the stale-proof fingerprint
    * contract ([[Indexes.fingerprintDirOn]]) keyed on the CORPUS membership.
    * The fixture's image content is a pure function of doc_id, so the id
    * doubles as the payload key; a production build fingerprints the
    * payload bytes (same call, payloadCol = the binary column).
    */
  def dhashIndexDir(sfDir: String, corpusDocs: DataFrame): String =
    // layout=2: a params key from an earlier layout, kept so existing
    // assets keep resolving
    Indexes.fingerprintDirOn("dhash-reps", sfDir, corpusDocs, "doc_id", "doc_id", "layout=2")

  /** Build the persisted image-dedup index ONCE per corpus version: decode
    * every corpus image, collapse to exact-hash representatives, and write
    *
    *   - `dir/bands` — the 4×15-bit SimHash band rows of each DISTINCT
    *     hash, partitioned by chunk (a delta probe reads band buckets, not
    *     the rep sweep);
    *   - `dir/reps` — (dhash, rid, n), written LAST (completion marker).
    *
    * This is what makes modality dedup INCREMENTAL: the daily-crawl path
    * ([[dhashDeltaDups]]) never re-decodes the standing corpus — the
    * decode, the one unavoidable corpus-linear cost, is paid here exactly
    * once per corpus version (the text side's deltaDups/SemanticIndex
    * amortization contract, for images).
    */
  def ensureDhashIndex(spark: SparkSession, corpusDocs: DataFrame, dir: String): Unit =
    Indexes.atomicBuild(dir, "reps/_SUCCESS") { tmp =>
      // pinned: both writes below consume it, and each unpinned branch
      // would re-run the corpus decode
      val reps = hashReps(dHash(spark, withImagePayload(spark, corpusDocs)).toDF())
        .localCheckpoint()
      reps
        .select(col("dhash"), col("rid"), col("n"), bandCols)
        .write
        .mode("overwrite")
        .partitionBy("chunk")
        .parquet(s"$tmp/bands")
      reps.write.mode("overwrite").parquet(s"$tmp/reps")
    }

  private[graft] def bandCols =
    posexplode(
      array((0 until 4).map(c => expr(s"shiftright(dhash, ${c * 15}) & 32767")): _*)
    ).as(Seq("chunk", "cval"))

  private[graft] def hashReps(hashes: DataFrame): DataFrame =
    hashes
      .groupBy(col("dhash"))
      .agg(min(col("doc_id")).as("rid"), count(lit(1)).as("n"))

  /** INCREMENTAL image near-dup ingest: decode and hash the DELTA only,
    * then consult the standing corpus exclusively through the persisted
    * band/rep tables — zero corpus re-decode, zero corpus re-scan on the
    * steady-state path. Candidates come from the same 4×15-bit Hamming
    * band equijoin as [[dhashDups]] (full recall at hamming ≤ 3 by
    * pigeonhole); hamming 0 IS emitted here (a delta image identical to a
    * corpus image is the primary ingest verdict, not a collapsed given).
    *
    * Emits one row per (delta doc, matched corpus cluster):
    * (doc_id, dhash, rep_id, hamming, rep_n).
    */
  def dhashDeltaDups(
      spark: SparkSession,
      dir: String,
      deltaDocs: DataFrame,
      maxHamming: Int = 3
  ): DataFrame = {
    // pin the delta hashes: the band probe and the final join-back both
    // consume them, and each unpinned branch would re-run the delta decode
    val dh = dHash(spark, withImagePayload(spark, deltaDocs)).toDF().localCheckpoint()
    val dbands = dh
      .select(col("dhash"))
      .distinct()
      .select(col("dhash").as("d_hash"), bandCols)
    val bands = spark.read
      .parquet(s"$dir/bands")
      .select(col("dhash").as("c_hash"), col("rid"), col("n"), col("chunk"), col("cval"))
    val cand = dbands
      .join(bands, Seq("chunk", "cval"))
      .select(col("d_hash"), col("c_hash"), col("rid"), col("n"))
      .distinct()
      .withColumn("hamming", expr("CAST(bit_count(d_hash ^ c_hash) AS BIGINT)"))
      .filter(col("hamming") <= maxHamming)
    dh.join(cand, col("dhash") === col("d_hash"))
      .select(
        col("doc_id"),
        col("dhash"),
        col("rid").as("rep_id"),
        col("hamming"),
        col("n").as("rep_n")
      )
  }

  /** Batched model-inference plumbing — the batch shape every real
    * embedding/captioning model needs (GPU kernels amortize over a batch,
    * so the model must be invoked once per BATCH, never once per row).
    * Rows are grouped into fixed-size batches inside each partition
    * (`it.grouped`), one "model call" per batch; per-partition init (the
    * session/decoder handle) sits at the top of the partition loop. This is
    * the Scala analogue of a `mapInPandas` batch UDF.
    *
    * The model here is an explicitly-marked deterministic STUB: component
    * j of the vector is `(md5_60(payload ‖ "#j") mod 2001 − 1000) / 1000`,
    * so the DuckDB oracle bit-checks the complete output vectors. A real
    * encoder replaces only the body of `runModelBatch`.
    *
    * `batchCalls` (optional accumulator) counts model invocations so the
    * once-per-batch contract is testable, not just claimed.
    */
  def embedBatchStub(
      spark: SparkSession,
      payloads: DataFrame,
      dim: Int = 8,
      batchSize: Int = 32,
      batchCalls: Option[org.apache.spark.util.LongAccumulator] = None
  ): DataFrame = {
    import spark.implicits._
    payloads
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition init goes here (model session, pinned batch buffers)
        def runModelBatch(batch: Seq[(Long, Array[Byte])]): Seq[(Long, Array[Double])] = {
          batchCalls.foreach(_.add(1))
          batch.map { case (id, bytes) =>
            val v = Array.tabulate(dim) { j =>
              val salted = bytes ++ s"#$j".getBytes(java.nio.charset.StandardCharsets.UTF_8)
              (graft.functions.Md5Exprs.md5Top60(salted) % 2001L - 1000L) / 1000.0
            }
            (id, v)
          }
        }
        it.grouped(batchSize).flatMap(runModelBatch)
      }
      .toDF("doc_id", "embedding")
  }

  /** Strided frame sampling: `nFrames` slices of `frameLen` bytes taken
    * every `stride` bytes, fingerprinted with md5. Pure expressions —
    * whole-stage codegen, no decoder needed for coverage-style checks.
    */
  def sampleFrames(payloads: DataFrame, nFrames: Int, stride: Int, frameLen: Int): DataFrame =
    payloads
      .select(
        col("doc_id"),
        posexplode(
          transform(
            sequence(lit(0), lit(nFrames - 1)),
            f => md5(col("payload").substr(f * stride + 1, lit(frameLen)))
          )
        ).as(Seq("frame_idx", "frame_md5"))
      )
      .select(col("doc_id"), lng(col("frame_idx")).as("frame_idx"), col("frame_md5"))
}
