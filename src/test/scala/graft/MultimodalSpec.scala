package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  test("image payloads are real PNG streams and decode round-trips exactly") {
    val docs = Tables.documents(spark, sf).limit(25)
    val payloads = Multimodal.withImagePayload(spark, docs)
    // Real container format on the wire: PNG signature bytes.
    val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G')
    payloads.collect().foreach { r =>
      val bytes = r.getAs[Array[Byte]]("payload")
      assert(bytes.take(4).sameElements(sig), s"doc ${r.getLong(0)}: not a PNG stream")
    }
    // Decoded dimensions + pixel sum match the closed-form image content.
    Multimodal.decodeImage(spark, payloads).collect().foreach { m =>
      val (w, h) = Multimodal.imageDims(m.doc_id)
      assert(m.format == "png" && m.width == w && m.height == h)
      val want = (for { y <- 0 until h; x <- 0 until w } yield {
        (x + y + m.doc_id) % 256 + (2L * x + y + m.doc_id) % 256 +
          (x + 2L * y + m.doc_id) % 256
      }).sum
      assert(m.px_sum == want, s"doc ${m.doc_id}: px_sum ${m.px_sum} != $want")
    }
  }

  test("embedBatchStub invokes the model once per batch, never per row") {
    // One partition + 100 rows + batchSize 32 → exactly ceil(100/32) = 4
    // model calls. Per-row invocation (the bug this plumbing exists to
    // prevent) would show 100.
    val docs = Tables.documents(spark, sf).limit(100).repartition(1)
    val acc = spark.sparkContext.longAccumulator("batchCalls")
    val out = Multimodal.embedBatchStub(
      spark,
      Multimodal.withPayload(docs),
      batchCalls = Some(acc)
    )
    assert(out.count() === 100L)
    assert(acc.value === 4L, s"expected 4 batch calls, got ${acc.value}")
  }

  test("embedBatchStub vectors match the expression-level md5 formula") {
    // The JVM-side md5Top60 in the partition loop must agree with the
    // Catalyst md5Long expression the rest of the engine (and the DuckDB
    // oracle) uses — otherwise the stub's determinism claim is vacuous.
    val docs = Tables.documents(spark, sf).limit(20)
    val got = Multimodal
      .embedBatchStub(spark, Multimodal.withPayload(docs), dim = 2)
      .select(
        col("doc_id"),
        element_at(col("embedding"), 1).as("e0"),
        element_at(col("embedding"), 2).as("e1")
      )
    val want = docs.select(
      col("doc_id"),
      ((graft.util.Cols.md5Long(concat(col("text"), lit("#0"))) % 2001L - 1000L)
        .cast("double") / 1000.0).as("e0"),
      ((graft.util.Cols.md5Long(concat(col("text"), lit("#1"))) % 2001L - 1000L)
        .cast("double") / 1000.0).as("e1")
    )
    val mismatches = got
      .join(want.withColumnRenamed("e0", "w0").withColumnRenamed("e1", "w1"), "doc_id")
      .filter(col("e0") =!= col("w0") || col("e1") =!= col("w1"))
      .count()
    assert(mismatches === 0L)
  }

  test("dhash delta ingest: replay-idempotent, exact vs joint recompute, index built once") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    val delta = docs.filter(col("doc_id") % 10 === 7)
    val dir = Multimodal.ensureDhashIndex(sf, corpus)
    // the published dir is the commit (its presence, not a marker file)
    val marker = new java.io.File(dir)
    assert(marker.exists(), "index not published")
    val built = marker.lastModified()

    def run() = Multimodal
      .dhashDeltaDups(spark, dir, delta)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val first = run()
    // replay idempotence: same inputs, same verdicts; the build is a no-op
    assert(Multimodal.ensureDhashIndex(sf, corpus) === dir)
    assert(run() === first, "delta replay diverged")
    assert(marker.lastModified() === built, "replay rebuilt the published index")

    // exactness vs a from-scratch joint recompute (no index): every
    // (delta doc, corpus rep) pair within hamming <= 3, hamming 0 included
    val all = Multimodal
      .dHash(spark, Multimodal.withImagePayload(spark, docs))
      .collect()
      .map(h => (h.doc_id, h.dhash))
    val corpusReps = all
      .filter(_._1 % 10 != 7)
      .groupBy(_._2)
      .map { case (h, xs) => (h, xs.map(_._1).min, xs.length.toLong) }
    val want = (for {
      (did, dh) <- all if did % 10 == 7
      (ch, rid, n) <- corpusReps
      ham = java.lang.Long.bitCount(dh ^ ch).toLong
      if ham <= 3
    } yield (did, dh, rid, ham, n)).toSet
    assert(first === want, s"delta verdicts != joint recompute (missing=${(want -- first).take(3)})")
  }

  test("codec matrix: JPEG rides the same decode path; dHash is bit-stable across re-encode") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).limit(100)
    val payloads = Multimodal.withImagePayloadMixedCodec(spark, docs)

    // real container formats on the wire: PNG signature for even ids,
    // JPEG SOI marker for odd
    payloads.collect().foreach { r =>
      val id = r.getLong(0)
      val bytes = r.getAs[Array[Byte]]("payload")
      if (id % 2 == 0)
        assert(bytes.take(4).sameElements(
          Array[Byte](0x89.toByte, 'P', 'N', 'G')), s"doc $id: not PNG")
      else
        assert((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8,
          s"doc $id: not JPEG")
    }

    // the introspecting decoder identifies each codec and recovers the
    // fixture dimensions — format-agnostic by construction, now proven on
    // a second real codec
    val metas = Multimodal.decodeImage(spark, payloads).collect()
    metas.foreach { m =>
      assert(m.format === (if (m.doc_id % 2 == 0) "png" else "jpeg"))
      assert(m.width === 66L && m.height === 36L)
    }

    // re-encode robustness, the recall class the family exists for: every
    // upload of a content (PNG and lossy-JPEG alike) produces the SAME
    // perceptual hash, and distinct contents stay far apart (no banded
    // near-dup merge possible at hamming <= 3)
    val hx = Multimodal
      .dHash(spark, payloads)
      .toDF()
      .withColumn("content", col("doc_id") % Multimodal.CodecContents)
      .select(col("content"), col("dhash"))
      .as[(Long, Long)]
      .collect()
    val byContent = hx.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    byContent.foreach { case (c, hs) =>
      assert(hs.size === 1, s"content $c: codec-variant hashes $hs")
    }
    val reps = byContent.toSeq.sortBy(_._1).map(_._2.head)
    assert(reps.distinct.size === byContent.size, "cross-content hash collision")
    val minHam = (for {
      i <- reps.indices; j <- (i + 1) until reps.size
    } yield java.lang.Long.bitCount(reps(i) ^ reps(j))).min
    assert(minHam > 3, s"contents must not be band-mergeable: min hamming $minHam")
  }
}
