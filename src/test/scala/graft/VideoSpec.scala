package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Video

class VideoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  test("video payloads are GVID containers of real PNG frames; decode round-trips exactly") {
    val docs = Tables.documents(spark, sf).limit(20)
    val payloads = Video.withVideoPayload(spark, docs)
    val pngSig = Array[Byte](0x89.toByte, 'P', 'N', 'G')
    payloads.collect().foreach { r =>
      val bytes = r.getAs[Array[Byte]]("payload")
      assert(new String(bytes.take(4), "US-ASCII") == "GVID")
      // First frame's PNG signature sits right after magic+count+len.
      assert(bytes.slice(12, 16).sameElements(pngSig), "frame payload is not a PNG stream")
    }
    val metas = Video.decodeVideoFrames(spark, payloads).collect()
    metas.groupBy(_.doc_id).foreach { case (id, fs) =>
      assert(fs.length == Video.nFrames(id), s"doc $id: frame count")
    }
    metas.foreach { m =>
      val sid = Video.sceneOf(m.doc_id, m.frame_idx.toInt)
      val (w, h) = Video.sceneDims(sid)
      assert(m.width == w && m.height == h, s"doc ${m.doc_id} f ${m.frame_idx}: dims")
      val want = (for { y <- 0 until h; x <- 0 until w } yield {
        val (r, g, b) = Video.scenePixel(sid, x, y)
        (r + g + b).toLong
      }).sum
      assert(m.px_sum == want, s"doc ${m.doc_id} f ${m.frame_idx}: px_sum")
    }
  }

  test("MJPEG AVI: valid RIFF structure, introspecting parse, JPEG frames, odd-length padding") {
    import graft.operators.Multimodal
    val imgs = (0 until 3).map(f => Multimodal.toBlockImage(2000L + f))
    val jpegs = imgs.map(Multimodal.encodeJpeg(_, 0.9f))
    val avi = Video.encodeAviMjpeg(jpegs, imgs.head.getWidth, imgs.head.getHeight)
    assert(new String(avi.take(4), "US-ASCII") === "RIFF")
    assert(new String(avi.slice(8, 12), "US-ASCII") === "AVI ")
    def u32(off: Int): Int =
      (avi(off) & 0xff) | ((avi(off + 1) & 0xff) << 8) |
        ((avi(off + 2) & 0xff) << 16) | ((avi(off + 3) & 0xff) << 24)
    assert(u32(4) === avi.length - 8, "RIFF size covers the whole body")
    // idx1 present with one entry per frame
    val s = new String(avi, "ISO-8859-1")
    assert(s.contains("idx1") && s.contains("movi") && s.contains("MJPG"))
    // the introspecting parser returns the frames in order, bit-identical
    val back = Video.framesOf(avi)
    assert(back.length === 3)
    back.zip(jpegs).foreach { case (a, b) => assert(a.sameElements(b)) }
    // and each frame is a decodable JPEG with the right dimensions
    back.foreach { j =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(j))
      assert(img.getWidth === imgs.head.getWidth && img.getHeight === imgs.head.getHeight)
    }
  }

  test("container invariance: GVID-PNG and AVI-MJPEG uploads of one content hash identically") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 50)
    val hashes = Video
      .videoFrameHashes(spark, Video.withVideoPayloadMixedContainer(spark, docs))
      .select(col("doc_id"), col("frame_idx"), col("dhash"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // docs 0 (gvid) and 25 (avi-mjpeg) share content 0; every frame's
    // dHash must agree bit-exactly
    val c = Video.containerFrames(0)
    (0 until c).foreach { f =>
      assert(
        hashes((0L, f.toLong)) === hashes((25L, f.toLong)),
        s"frame $f dHash must be container-invariant"
      )
    }
    // distinct contents do NOT collide (the clusters are real)
    assert(hashes((0L, 0L)) !== hashes((1L, 0L)))
  }

  test("unknown container magic fails loudly, not silently empty") {
    val e = intercept[Exception] {
      Video.framesOf("XXXX garbage".getBytes("US-ASCII"))
    }
    assert(e.getMessage.contains("unknown video container"))
  }

  test("corrupt AVI chunk sizes fail loudly, never loop or copy garbage") {
    import graft.operators.Multimodal
    val avi = Video.encodeAviMjpeg(
      Seq(Multimodal.encodeJpeg(Multimodal.toBlockImage(3000L), 0.9f)), 66, 36)
    // find the first frame chunk and corrupt its size field to run past
    // the end of the file
    val s = new String(avi, "ISO-8859-1")
    val off = s.indexOf("00dc", 12)
    assert(off > 0)
    val bad = avi.clone()
    bad(off + 4) = 0xff.toByte; bad(off + 5) = 0xff.toByte
    bad(off + 6) = 0xff.toByte; bad(off + 7) = 0x7f.toByte
    val e = intercept[IllegalArgumentException] { Video.framesOf(bad) }
    assert(e.getMessage.contains("corrupt AVI chunk"), e.getMessage)
  }

  test("shared scenes hash identically across docs; videoDups finds exactly the within-recording pairs") {
    val docs = Tables.documents(spark, sf).limit(150)
    val payloads = Video.withVideoPayload(spark, docs)
    val hashes = Video.videoFrameHashes(spark, payloads).cache()

    // Scene determinism: every (scene → dhash) mapping is functional, i.e.
    // two docs showing the same scene produce the same frame hash.
    val perScene = hashes
      .collect()
      .map { r =>
        val id = r.getLong(0)
        Video.sceneOf(id, r.getLong(1).toInt) -> r.getLong(2)
      }
      .groupBy(_._1)
    perScene.foreach { case (sid, vs) =>
      assert(vs.map(_._2).distinct.length == 1, s"scene $sid hashes diverge across docs")
    }

    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    val pairs = Video
      .videoDups(hashes)
      .collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
      .toSet
    // Expected: every same-recording pair overlaps >= 50% by fixture
    // construction (starts 0..2, lengths 4..6); no cross-recording pair
    // shares any scene.
    val want = (for {
      a <- ids; b <- ids
      if a < b && Video.recOf(a) == Video.recOf(b)
    } yield (a, b)).toSet
    assert(pairs == want,
      s"pair set mismatch: missing=${(want -- pairs).take(5)} spurious=${(pairs -- want).take(5)}")
    hashes.unpersist()
  }

  test("videoClusters: labels equal doc-level pair closure; rep table is copy-invariant") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // sf0.01 (500 docs, 10 copies per recording) so within-recording pairs
    // are non-vacuous
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val hashes = graft.operators.Video
      .videoFrameHashes(spark, graft.operators.Video.withVideoPayload(spark, docs))
      .localCheckpoint()
    // 1) cluster labels equal the naive min-label closure of the DOC-LEVEL
    // pair set (union-find, union toward the smaller root) — singletons
    // label themselves
    val pairs = graft.operators.Video
      .videoDups(hashes)
      .select("a_id", "b_id")
      .as[(Long, Long)]
      .collect()
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val got = graft.operators.Video
      .videoClusters(hashes)
      .select("doc_id", "component")
      .as[(Long, Long)]
      .collect()
      .toMap
    assert(got.nonEmpty)
    got.foreach { case (d, comp) =>
      assert(comp === find(d), s"doc $d: cluster label $comp != closure root ${find(d)}")
    }
    // 2) distinct-signature rep table is invariant under replication:
    // +450/+900 offsets preserve (rec = id%50, start = id%3,
    // nFrames = 4 + (id/3)%3) — 450 = lcm(50, 9) — so copies add ZERO
    // distinct signatures and the quadratic stage's input does not grow
    val rep3 = hashes
      .union(hashes.withColumn("doc_id", col("doc_id") + 450L))
      .union(hashes.withColumn("doc_id", col("doc_id") + 900L))
    def nReps(h: org.apache.spark.sql.DataFrame) = h
      .select(col("doc_id"), col("dhash"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(
        md5(concat_ws(",", sort_array(collect_list(col("dhash"))).cast("array<string>")))
          .as("fp")
      )
      .select("fp")
      .distinct()
      .count()
    assert(nReps(rep3) === nReps(hashes), "3x copies add ZERO distinct signatures")
  }

  test("videoDups: near-universal scene hash is capped out of candidate generation; emitted counts stay exact") {
    import spark.implicits._
    // Pathological shared-intro corpus: ALL 100 videos contain the hot
    // "intro card" hash 0 (df=100 > ceiling greatest(32, 100·100‰)=32).
    // Without the df cap that one key alone makes C(100,2)=4950 candidate
    // pairs; with it, candidates can only come from rare hashes. Videos 0
    // and 1 additionally share rare hashes 1,2,3 — the one real near-dup.
    val rows =
      (0L until 100L).flatMap { id =>
        (id, 0L) +: (0 until 4).map(k => (id, 1000L + id * 10 + k))
      } ++ Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 1L), (1L, 2L), (1L, 3L))
    // videos 0/1 carry hot+rare+1 filler (drop 3 fillers to keep |sig|=5)
    val hashes = rows.toDF("doc_id", "dhash")
      .filter(
        !(col("doc_id").isin(0L, 1L) &&
          col("dhash") >= 1000L && col("dhash") =!= col("doc_id") * 10 + 1000L))

    // permille=0 emits every DISCOVERED pair: the hot key must contribute
    // none, so the candidate set is exactly the rare-hash pair
    val discovered = Video.videoDups(hashes, permille = 0L).collect()
    assert(discovered.length == 1, s"hot-key candidates leaked: ${discovered.length} pairs")

    // and the emitted row's intersection count is EXACT — it includes the
    // hot hash (recount over full signatures), not just the rare candidates
    val r = discovered.head
    assert(r.getAs[Long]("a_id") == 0L && r.getAs[Long]("b_id") == 1L)
    assert(r.getAs[Long]("matches") == 4L, "recount must include the hot hash")
    assert(r.getAs[Long]("a_n") == 5L && r.getAs[Long]("b_n") == 5L)
    assert(r.getAs[Long]("overlap_permille") == 800L)

    // raising the cap so nothing is hot gives the same thresholded answer
    // (hot-only pairs sit at 200 permille, below any real threshold)
    val uncapped = Video.videoDups(hashes, permille = 500L, maxDfPermille = 1000L).collect()
    val capped = Video.videoDups(hashes, permille = 500L).collect()
    assert(capped.map(_.toString).sorted.sameElements(uncapped.map(_.toString).sorted))
  }

  test("video delta ingest: replay-idempotent; verdicts match joint recompute") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 7 =!= 3)
    val delta = docs.filter(col("doc_id") % 7 === 3)
    val dir = Video.ensureSceneIndex(sf, corpus)
    // the published dir is the commit (its presence, not a marker file)
    val marker = new java.io.File(dir)
    assert(marker.exists(), "index not published")
    val built = marker.lastModified()

    def run() = Video
      .videoDeltaDups(spark, dir, delta)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val first = run()
    assert(first.nonEmpty, "fixture degenerate: no delta x corpus overlaps")
    assert(Video.ensureSceneIndex(sf, corpus) === dir)
    assert(run() === first, "delta replay diverged")
    assert(marker.lastModified() === built, "replay rebuilt the published index")

    // joint recompute from scratch: distinct signatures of everything,
    // delta x corpus pairs above the permille threshold
    val all = Video
      .videoFrameHashes(spark, Video.withVideoPayload(spark, docs))
      .select("doc_id", "dhash")
      .distinct()
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = all.groupBy(_._1).map { case (id, xs) => (id, xs.map(_._2).toSet) }
    val want = (for {
      (did, ds) <- byDoc if did % 7 == 3
      (cid, cs) <- byDoc if cid % 7 != 3
      m = (ds & cs).size.toLong
      if m > 0 && m * 1000 / math.min(ds.size, cs.size) >= 500
    } yield (did, cid, m, ds.size.toLong, cs.size.toLong)).toSet
    assert(first === want, "delta verdicts != joint recompute")
  }

  test("near-dup variants of one recording are byte-different payloads") {
    val docs = Tables.documents(spark, sf).limit(60)
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    val pair = (for {
      a <- ids; b <- ids
      if a < b && Video.recOf(a) == Video.recOf(b) &&
        (Video.startOf(a) != Video.startOf(b) || Video.nFrames(a) != Video.nFrames(b))
    } yield (a, b)).head
    val payloads = Video
      .withVideoPayload(spark, docs)
      .filter(col("doc_id").isin(pair._1, pair._2))
      .collect()
      .map(r => r.getAs[Array[Byte]]("payload"))
    assert(payloads.length == 2 && !payloads(0).sameElements(payloads(1)),
      "fixture degenerate: near-dup variants are byte-identical")
  }

  test("hot-scene cap: hot-only pairs are knowingly excluded; discovered pairs recount exactly") {
    import spark.implicits._
    // A corpus where two scene hashes (10, 11) appear in EVERY one of 40
    // videos — df 40 > the MinDfCeiling of 32, so the adaptive cap
    // engages. This pins the DOCUMENTED recall bound (a pair is missed
    // only when its ENTIRE intersection is hot) on a fixture that
    // actually trips the ceiling, which the corpus fixtures never do —
    // without this pin, a regression on the hot path is invisible to the
    // oracle suite.
    val rows = Seq(
      0L -> Seq(10L, 11L),
      1L -> Seq(10L, 11L),
      2L -> Seq(10L, 11L, 102L, 300L),
      3L -> Seq(10L, 11L, 103L, 300L)
    ) ++ (4L until 40L).map(i => i -> Seq(10L, 11L, 100L + i))
    val hashes = rows.flatMap { case (id, hs) => hs.map(id -> _) }.toDF("doc_id", "dhash")

    val got = Video
      .videoDups(hashes, permille = 500L)
      .select("a_id", "b_id", "matches", "a_n", "b_n", "overlap_permille")
      .as[(Long, Long, Long, Long, Long, Long)]
      .collect()
      .toSet
    // the ONLY emitted pair is the one sharing a RARE hash (300) — and
    // its match count is the exact recount INCLUDING the hot hashes
    // (3 = {10, 11, 300}), not the rare-only candidate evidence
    assert(got === Set((2L, 3L, 3L, 4L, 4L, 750L)))

    // the intended divergence, stated: the uncapped exact answer emits
    // every pair (all 40 videos share the two hot scenes at >= 500
    // permille), so 779 hot-only pairs are knowingly excluded — the
    // boilerplate-match class the cap exists to not pay for
    val sig = hashes.distinct()
    val exact = sig
      .join(sig.select(col("doc_id").as("b_id"), col("dhash")), Seq("dhash"))
      .filter(col("doc_id") < col("b_id"))
      .groupBy(col("doc_id"), col("b_id"))
      .agg(count(lit(1)).as("m"))
      .count()
    assert(exact === (40L * 39L) / 2, "fixture: every pair overlaps on the hot scenes")
  }
}
