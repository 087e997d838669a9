package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Indexes
import graft.sources.Warc
import graft.streaming.{CdxStream, DeltaFold}

/** WARC container source pins: record framing round-trip through the
  * sink's real gzip-member shards, plain-.warc parsing, concatenated-gzip
  * members, non-response filtering and HTTP body slicing, and the
  * malformed-record contract (truncated / bad version / bad length).
  */
class WarcSpec extends AnyFunSuite with ScratchAssets {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(tag: String): String = scratchDir(s"warc_$tag")

  private def gzBytes(recs: Array[Byte]*): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    recs.foreach { r =>
      val gz = new GZIPOutputStream(out)
      gz.write(r)
      gz.close()
    }
    out.toByteArray
  }

  private val respA = Warc.responseRecord(
    "http://example.com/doc/1",
    "<urn:uuid:resp-1>",
    Warc.FixtureDate,
    "<html><body><p>alpha page</p></body></html>"
  )
  private val reqA = Warc.renderRecord(
    "request",
    "<urn:uuid:req-1>",
    Some("http://example.com/doc/1"),
    Warc.FixtureDate,
    "application/http; msgtype=request",
    "GET /doc/1 HTTP/1.1\r\nHost: example.com\r\n\r\n".getBytes("UTF-8")
  )

  test("sink round-trip: multi-member gzip shards reparse to the written records") {
    val dir = tmpDir("sink")
    val records = Seq(
      (0, 1L, reqA),
      (0, 2L, respA),
      (1, 3L, Warc.responseRecord("http://example.com/doc/9", "<urn:uuid:resp-9>", Warc.FixtureDate, "<p>nine</p>"))
    ).toDF("g", "ord", "record_bytes")
      .repartitionByRange(2, col("g")) // distinct keys land 1:1 in partitions
      .sortWithinPartitions("g", "ord")
    Warc.write(records, dir)
    val shards = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".warc.gz"))
    assert(shards.length === 2, "one shard per non-empty partition")
    val got = Warc.read(spark, dir)
    assert(got.filter(col("malformed").isNotNull).count() === 0)
    assert(got.count() === 3)
    val byId = got
      .select("record_id", "warc_type", "target_uri", "content_length")
      .as[(String, String, String, Long)]
      .collect()
      .map(r => r._1 -> r)
      .toMap
    assert(byId("<urn:uuid:req-1>")._2 === "request")
    assert(byId("<urn:uuid:resp-1>")._3 === "http://example.com/doc/1")
    assert(byId("<urn:uuid:resp-9>")._4 > 0)
  }

  test("plain uncompressed .warc parses identically") {
    val dir = tmpDir("plain")
    val out = new ByteArrayOutputStream()
    out.write(reqA); out.write(respA)
    Files.write(Paths.get(s"$dir/f.warc"), out.toByteArray)
    val got = Warc.read(spark, dir).orderBy("rec_offset")
    assert(got.count() === 2)
    assert(got.select("warc_type").as[String].collect().toSeq === Seq("request", "response"))
  }

  test("concatenated gzip members in one shard each contribute their records") {
    val dir = tmpDir("members")
    Files.write(Paths.get(s"$dir/f.warc.gz"), gzBytes(reqA, respA))
    val got = Warc.read(spark, dir)
    assert(got.count() === 2)
    assert(got.filter(col("malformed").isNotNull).count() === 0)
  }

  test("responses(): non-response records filtered, HTTP status/type/body sliced") {
    val dir = tmpDir("resp")
    // body that itself contains the header delimiter — the slice must use
    // only the FIRST \r\n\r\n in the block
    val tricky = "<p>first</p>\r\n\r\n<p>after a blank line</p>"
    val rec = Warc.responseRecord("http://example.com/doc/7", "<urn:uuid:resp-7>", Warc.FixtureDate, tricky)
    Files.write(Paths.get(s"$dir/f.warc"), gzBytes(reqA, rec)) // gz fine too
    Files.write(Paths.get(s"$dir/g.warc"), { val o = new ByteArrayOutputStream(); o.write(reqA); o.write(rec); o.toByteArray })
    val got = Warc.responses(spark, dir, glob = "g.warc")
    assert(got.count() === 1, "request records must not survive the response filter")
    val r = got.select("http_status", "http_content_type", "body_text", "target_uri").head()
    assert(r.getInt(0) === 200)
    assert(r.getString(1) === "text/html; charset=utf-8")
    assert(r.getString(2) === tricky)
    assert(r.getString(3) === "http://example.com/doc/7")
  }

  test("truncated record: partial block surfaces as malformed, prior records intact") {
    val dir = tmpDir("trunc")
    val whole = new ByteArrayOutputStream()
    whole.write(respA)
    val cut = java.util.Arrays.copyOfRange(reqA, 0, reqA.length - 20)
    whole.write(cut) // second record's block is short of its Content-Length
    Files.write(Paths.get(s"$dir/f.warc"), whole.toByteArray)
    val got = Warc.read(spark, dir).orderBy("rec_offset").collect()
    assert(got.length === 2)
    assert(got(0).getAs[String]("malformed") === null)
    assert(got(1).getAs[String]("malformed") === "truncated")
    assert(got(1).getAs[String]("warc_type") === "request", "headers still reported")
    // and the truncated row is excluded from the response surface
    assert(Warc.responses(spark, dir).count() === 1)
  }

  test("bad version line and missing Content-Length are flagged, parse halts") {
    val dir1 = tmpDir("badv")
    val junk = "NOT-A-WARC/9.9\r\nstuff\r\n\r\n".getBytes("UTF-8")
    val cat = new ByteArrayOutputStream(); cat.write(respA); cat.write(junk)
    Files.write(Paths.get(s"$dir1/f.warc"), cat.toByteArray)
    val g1 = Warc.read(spark, dir1).orderBy("rec_offset").collect()
    assert(g1.length === 2)
    assert(g1(1).getAs[String]("malformed") === "bad-version")

    val dir2 = tmpDir("badl")
    val noLen =
      ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:uuid:x>\r\n" +
        "Content-Type: application/http; msgtype=response\r\n\r\nbody").getBytes("UTF-8")
    Files.write(Paths.get(s"$dir2/f.warc"), noLen)
    val g2 = Warc.read(spark, dir2).collect()
    assert(g2.length === 1)
    assert(g2(0).getAs[String]("malformed") === "bad-length")
    assert(g2(0).getAs[String]("warc_type") === "response")
  }

  test("fixture shards: deterministic bytes across rebuilds") {
    val docs = Seq((1L, "alpha beta"), (2L, "gamma delta"), (9L, "epsilon")).toDF("doc_id", "text")
    // build twice into distinct asset dirs: the fingerprint includes
    // sfDir, so the two temp roots key two independent builds
    val f1 = owned(Warc.ensureFixtureDir(freshSf(), docs))
    val f2 = owned(Warc.ensureFixtureDir(freshSf(), docs))
    def shardBytes(d: String): Map[String, Seq[Byte]] =
      new java.io.File(d)
        .listFiles()
        .filter(_.getName.endsWith(".warc.gz"))
        .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq)
        .toMap
    val (b1, b2) = (shardBytes(f1), shardBytes(f2))
    assert(b1.keySet === b2.keySet)
    assert(b1 === b2, "shard bytes must be a pure function of corpus content")
    // and the parsed pages round-trip to the construction
    val pages = Warc.fixturePages(spark, f1).orderBy("doc_id")
    val want = graft.operators.Html
      .dirtyHtml(docs)
      .orderBy("doc_id")
      .as[(Long, String)]
      .collect()
      .toSeq
    assert(pages.as[(Long, String)].collect().toSeq === want)
  }

  test("gzipMembers: exact compressed extents — every slice gunzips independently") {
    val recs = Seq(respA, reqA, respA)
    val raw = gzBytes(recs: _*)
    val members = Warc.gzipMembers(raw)
    assert(members.size === 3)
    assert(members.head._1 === 0L)
    // extents tile the buffer exactly: each starts where the previous ended
    members.sliding(2).foreach { case Seq((o1, l1, _), (o2, _, _)) =>
      assert(o1 + l1 === o2, "members must be contiguous")
    }
    val (lo, ll, _) = members.last
    assert(lo + ll === raw.length.toLong, "last member must end at EOF")
    // each compressed slice decompresses on its own to the record bytes
    members.zip(recs).foreach { case ((off, len, bytes), rec) =>
      val slice = java.util.Arrays.copyOfRange(raw, off.toInt, (off + len).toInt)
      val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(slice))
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      assert(out.toByteArray.toSeq === bytes.toSeq)
      assert(bytes.toSeq === rec.toSeq)
    }
  }

  test("gzipMembers: a truncated tail yields the complete members and stops") {
    val raw = gzBytes(respA, reqA)
    val members = Warc.gzipMembers(java.util.Arrays.copyOfRange(raw, 0, raw.length - 5))
    assert(members.size === 1, "the half member must not be emitted")
    assert(members.head._1 === 0L)
  }

  test("CdxStream: stream-grown index bit-equals a wholesale walk; replay stays exactly-once") {
    val warcDir = tmpDir("cdxs_warc")
    Files.write(Paths.get(s"$warcDir/part-00000.warc.gz"), gzBytes(reqA, respA))
    val rec2 = Warc.responseRecord(
      "http://example.org/doc/2", "<urn:uuid:resp-2>", Warc.FixtureDate, "<p>two</p>")
    Files.write(Paths.get(s"$warcDir/part-00001.warc.gz"), gzBytes(rec2))

    val dir = tmpDir("cdxs_idx") + "/cdx"
    graft.sources.Warc
      .memberIndex(spark, warcDir, "part-00000.warc.gz")
      .withColumn("surt", graft.operators.Urls.surt(col("target_uri")))
      .write.mode("overwrite").parquet(s"$dir/idx")
    graft.streaming.CdxStream
      .upsertBatch(spark, warcDir, "part-00001.warc.gz", dir, batchId = 0L, compactAt = 1e-9)
    assert(!DeltaFold.gen(dir).hasDelta(), "forced compaction must fold the delta")

    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("path", "member_offset", "member_len", "warc_type", "target_uri", "surt")
      .collect().map(_.toSeq).toSet
    val whole = graft.sources.Warc
      .memberIndex(spark, warcDir)
      .withColumn("surt", graft.operators.Urls.surt(col("target_uri")))
    assert(
      rows(graft.streaming.CdxStream.readCaptures(spark, dir)) === rows(whole),
      "stream-grown index must be indistinguishable from a wholesale walk"
    )

    // a batch replayed AFTER compaction folded it re-lands bit-identical
    // rows; the next fold's distinct restores exactly-once
    val before = graft.streaming.CdxStream.readCaptures(spark, dir).count()
    graft.streaming.CdxStream
      .upsertBatch(spark, warcDir, "part-00001.warc.gz", dir, batchId = 0L, compactAt = 0)
    graft.streaming.CdxStream.compactDeltas(spark, DeltaFold.gen(dir))
    assert(graft.streaming.CdxStream.readCaptures(spark, dir).count() === before)
  }

  test("CdxStream: a fold that died after its pointer replace counts no capture twice") {
    val warcDir = tmpDir("cdxr_warc")
    Files.write(Paths.get(s"$warcDir/part-00000.warc.gz"), gzBytes(reqA))
    Files.write(Paths.get(s"$warcDir/part-00001.warc.gz"), gzBytes(respA))
    val dir = tmpDir("cdxr_idx") + "/cdx"
    val saved = tmpDir("cdxr_saved")
    Warc
      .memberIndex(spark, warcDir, "part-00000.warc.gz")
      .withColumn("surt", graft.operators.Urls.surt(col("target_uri")))
      .write.mode("overwrite").parquet(s"$dir/idx")
    CdxStream.upsertBatch(spark, warcDir, "part-00001.warc.gz", dir, batchId = 0L, compactAt = 0)
    val n = CdxStream.readCaptures(spark, dir).count()
    assert(n === 2L)
    // a crash between the pointer replace and its sweep: the new
    // generation is committed, the build's idx/ and the folded delta/ are
    // still on disk. The live view has no distinct, so a delta that
    // stayed live would count its captures twice
    Seq("idx", "delta").foreach(d => Indexes.copyDir(s"$dir/$d", s"$saved/$d"))
    CdxStream.compactDeltas(spark, DeltaFold.gen(dir))
    Seq("idx", "delta").foreach(d => Indexes.copyDir(s"$saved/$d", s"$dir/$d"))
    assert(CdxStream.readCaptures(spark, dir).count() === n, "the folded delta counts once")
    // the next fold sweeps both
    CdxStream.upsertBatch(spark, warcDir, "part-00001.warc.gz", dir, batchId = 0L, compactAt = 1e-9)
    assert(!new java.io.File(s"$dir/idx").exists() && !new java.io.File(s"$dir/delta").exists())
    assert(CdxStream.readCaptures(spark, dir).count() === n)
  }

  test("fetch: a ranged read of one member equals that record from the full scan") {
    val dir = tmpDir("fetch")
    Files.write(Paths.get(s"$dir/s.warc.gz"), gzBytes(reqA, respA))
    val idx = Warc.memberIndex(spark, dir)
    assert(idx.count() === 2L)
    // point-read ONLY the response member (the second one)
    val respIdx = idx.filter(col("warc_type") === "response")
    assert(respIdx.head().getLong(1) > 0L, "second member must not start at 0")
    val fetched = Warc.fetch(spark, respIdx).collect()
    assert(fetched.length === 1)
    val full = Warc
      .read(spark, dir)
      .filter(col("warc_type") === "response")
      .head()
    assert(fetched.head.getAs[String]("target_uri") === full.getAs[String]("target_uri"))
    assert(
      fetched.head.getAs[Array[Byte]]("block").toSeq === full.getAs[Array[Byte]]("block").toSeq,
      "seek-read block must be byte-identical to the scan's"
    )
  }

  /** Counts bytes the consumer actually pulled off the underlying
    * stream — the residency witness for the streaming-parse pins.
    */
  private final class CountingStream(in: java.io.InputStream)
      extends java.io.FilterInputStream(in) {
    var count = 0L
    override def read(): Int = { val b = super.read(); if (b >= 0) count += 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = super.read(b, off, len); if (n > 0) count += n; n
    }
  }

  private def bigResponse(id: Int, nBytes: Int): Array[Byte] =
    Warc.responseRecord(
      s"http://example.com/big/$id",
      s"<urn:uuid:big-$id>",
      Warc.FixtureDate,
      "y" * nBytes
    )

  test("RecordStream: record-sized residency — framing never reads past the in-flight record") {
    val recs = (1 to 3).map(bigResponse(_, 300000))
    val all = recs.reduce(_ ++ _)
    val cs = new CountingStream(new java.io.ByteArrayInputStream(all))
    val it = new Warc.RecordStream("mem", cs)
    val first = it.next()
    assert(first.recordId === "<urn:uuid:big-1>")
    // one record's bytes plus the fixed 64 KiB fill buffer — never the shard
    assert(
      cs.count <= recs.head.length.toLong + (1 << 17),
      s"after one record the stream had surrendered ${cs.count} bytes (record = ${recs.head.length})"
    )
    assert(cs.count < all.length.toLong, "the whole shard must NOT have been read")
    assert(it.size === 2, "remaining records still frame")
  }

  test("GzipMemberIterator: member-sized residency over an open stream") {
    val rnd = new java.util.Random(42)
    val blocks = (1 to 3).map { _ =>
      val b = new Array[Byte](300000); rnd.nextBytes(b); b
    }
    val members = blocks.map { b =>
      val out = new ByteArrayOutputStream()
      val gz = new GZIPOutputStream(out)
      gz.write(b); gz.close()
      out.toByteArray
    }
    val all = members.reduce(_ ++ _)
    val cs = new CountingStream(new java.io.ByteArrayInputStream(all))
    val it = new Warc.GzipMemberIterator(cs)
    val first = it.next()
    assert(first.malformed === null)
    assert(first.bytes.toSeq === blocks.head.toSeq)
    assert(first.clen === members.head.length.toLong)
    assert(
      cs.count <= members.head.length.toLong + (1 << 17),
      s"after one member the stream had surrendered ${cs.count} bytes (member = ${members.head.length})"
    )
    assert(cs.count < all.length.toLong, "the whole shard must NOT have been read")
    val rest = it.toSeq
    assert(rest.size === 2 && rest.forall(_.malformed == null))
  }

  test("memberIndex: a walk halted mid-shard emits a bad-member sentinel row") {
    val dir = tmpDir("sentinel")
    val raw = gzBytes(respA, reqA)
    // cut into the SECOND member: first frames whole, the walk then halts
    Files.write(
      Paths.get(s"$dir/cut.warc.gz"),
      java.util.Arrays.copyOfRange(raw, 0, raw.length - 5)
    )
    val idx = Warc.memberIndex(spark, dir).orderBy("member_offset").collect()
    assert(idx.length === 2, "one whole capture + one sentinel")
    assert(idx(0).getAs[String]("warc_type") === "response")
    assert(idx(0).getAs[String]("malformed") == null)
    assert(idx(1).getAs[String]("malformed") === "bad-member")
    assert(idx(1).getAs[Long]("member_offset") > 0L, "sentinel sits at the halt offset")
  }

  // ------------------------------------------------ the one record framer

  private val headerValue: Gen[String] =
    Gen.choose(1, 24).flatMap(Gen.listOfN(_, Gen.alphaNumChar)).map(_.mkString)

  /** Blocks that make framing by content rather than by length go wrong:
    * CRLF runs, bare CR/LF, an embedded record head, arbitrary bytes.
    */
  private val block: Gen[Array[Byte]] =
    Gen.choose(0, 40).flatMap { n =>
      Gen.listOfN(
        n,
        Gen.frequency(
          5 -> headerValue,
          4 -> Gen.oneOf("\r\n", "\r\n\r\n", "\r\n\r\n\r\n", "\r", "\n", "\n\n"),
          1 -> Gen.const("WARC/1.0\r\nContent-Length: 3\r\n\r\n"),
          2 -> Gen.listOfN(6, Gen.choose(0, 255)).map(_.map(_.toChar).mkString)
        )
      )
    }.map(_.mkString.getBytes("ISO-8859-1"))

  /** One rendered record, numbered `i` (its record id). */
  private val record: Gen[Int => Array[Byte]] =
    for {
      wType <- Gen.oneOf("response", "request", "metadata", "revisit", "conversion", "warcinfo")
      uri <- Gen.option(headerValue.map(v => s"http://g.example.com/$v"))
      date <- Gen.oneOf(Warc.FixtureDate, Warc.RevisitDate)
      ctype <- Gen.oneOf("application/http; msgtype=response", "text/plain", "application/json")
      extra <- Gen.listOf(
        Gen.zip(Gen.oneOf("WARC-Refers-To", "WARC-Payload-Digest", "WARC-Profile", "X-Note"), headerValue)
      )
      blk <- block
    } yield (i: Int) =>
      Warc.renderRecord(wType, s"<urn:uuid:gen-$i>", uri, date, ctype, blk, extra.distinctBy(_._1).take(3))

  /** A row's cells with binary as a comparable Seq, `skip` columns left out. */
  private def cells(r: Row, skip: String*): Seq[Any] =
    r.schema.fieldNames.toSeq.zip(r.toSeq).collect {
      case (f, v) if !skip.contains(f) =>
        v match {
          case b: Array[Byte] => b.toSeq
          case x              => x
        }
    }

  test("one framer: fetch over memberIndex equals read per member; a cut shard keeps its prefix (forAll)") {
    val gen = for {
      n <- Gen.choose(1, 8)
      recs <- Gen.listOfN(n, record)
      fracs <- Gen.listOfN(3, Gen.choose(0.0, 1.0))
      headCut <- Gen.zip(Gen.choose(0.0, 1.0), Gen.choose(1, 12))
    } yield (recs.zipWithIndex.map { case (r, i) => r(i) }, fracs, headCut)
    val prop = Prop.forAllNoShrink(gen) { case (recs, fracs, (memberFrac, intoHeader)) =>
      val dir = tmpDir("prop")
      // one gzip member per record, as the sink writes them
      val members = recs.map(r => gzBytes(r))
      val shard = members.reduce(_ ++ _)
      val ends = members.scanLeft(0)(_ + _.length).tail
      Files.write(Paths.get(s"$dir/full.warc.gz"), shard)
      // cuts at random bytes, plus one a few bytes into a member's header
      val starts = 0 +: ends.init
      val cuts = (fracs.map(f => 1 + (f * (shard.length - 1)).toInt) :+
        math.min(starts((memberFrac * (starts.size - 1)).round.toInt) + intoHeader, shard.length - 1)).distinct
      cuts.foreach(c => Files.write(Paths.get(f"$dir/cut-$c%07d.warc.gz"), java.util.Arrays.copyOf(shard, c)))

      val byFile = Warc.read(spark, dir).collect().toSeq
        .groupBy(r => new org.apache.hadoop.fs.Path(r.getAs[String]("path")).getName)
        .map { case (f, rs) => f -> rs.sortBy(_.getAs[Long]("rec_offset")) }
      val full = byFile("full.warc.gz")
      val fullOk = full.size == recs.size && full.forall(_.getAs[String]("malformed") == null)

      // every member's ranged read equals its record in the full scan,
      // rec_offset aside (member-relative in fetch)
      val idx = Warc.memberIndex(spark, dir, "full.warc.gz")
      val fetched = Warc.fetch(spark, idx).collect().toSeq.sortBy(_.getAs[String]("record_id"))
      val fetchBad =
        if (fetched.map(cells(_, "rec_offset")) != full.sortBy(_.getAs[String]("record_id")).map(cells(_, "rec_offset")))
          Seq(s"fetch differs from read: ${fetched.map(cells(_, "block"))} vs ${full.map(cells(_, "block"))}")
        else if (!fetched.forall(_.getAs[Long]("rec_offset") == 0L)) Seq("fetch rec_offset not member-relative")
        else Nil

      // a cut keeps every record before it, then one malformed row — none
      // when the cut falls on a member boundary (a shorter valid shard)
      val cutBad = cuts.flatMap { c =>
        val got = byFile.getOrElse(f"cut-$c%07d.warc.gz", Seq.empty)
        val whole = ends.count(_ <= c)
        val prefixOk = (n: Int) => got.take(n).map(cells(_, "path")) == full.take(n).map(cells(_, "path"))
        val ok =
          if (ends.contains(c)) got.size == whole && prefixOk(whole)
          else
            got.size >= whole + 1 && prefixOk(got.size - 1) &&
            got.last.getAs[String]("malformed") != null
        if (ok) None
        else Some(s"cut at $c of ${shard.length} (member ends $ends): ${got.map(cells(_, "path", "block"))}")
      }
      val bad = (if (fullOk) Nil else Seq(s"full read: ${full.map(cells(_, "block"))}")) ++ fetchBad ++ cutBad
      Prop(bad.isEmpty) :| bad.take(3).mkString("\n")
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(25).withWorkers(1).withInitialSeed(20261019L),
      prop
    )
    assert(res.passed, res.status match {
      case Test.Failed(_, labels) => labels.mkString("\n")
      case other                  => other.toString
    })
  }

  test("fetch: a member whose deflate bytes are corrupt comes back malformed, not as a task failure") {
    val dir = tmpDir("corrupt")
    val path = Paths.get(s"$dir/s.warc.gz")
    val raw = gzBytes(reqA, respA)
    Files.write(path, raw)
    val idx = Warc.memberIndex(spark, dir).orderBy("member_offset").collect()
    assert(idx.length === 2 && idx.forall(_.getAs[String]("malformed") == null))
    // the second member's deflate stream opens with a block of the
    // reserved type 3 right after its 10-byte header
    val second = idx(1).getAs[Long]("member_offset").toInt
    java.util.Arrays.fill(raw, second + 10, second + 14, 0xff.toByte)
    Files.write(path, raw)
    val fetched = Warc.fetch(spark, spark.createDataFrame(java.util.Arrays.asList(idx: _*), idx.head.schema)).collect()
      .sortBy(_.getAs[String]("record_id") == null)
    assert(fetched.length === 2)
    assert(fetched(0).getAs[String]("record_id") === "<urn:uuid:req-1>" && fetched(0).getAs[String]("malformed") == null)
    assert(fetched(1).getAs[String]("malformed") === "truncated")
    // the whole-shard walk reports the broken member instead of ending quietly
    val read = Warc.read(spark, dir).orderBy("rec_offset").collect()
    assert(read.map(_.getAs[String]("malformed")).toSeq === Seq(null, "truncated"))
  }

  test("httpSlice: per-encoding decode — gzip, deflate, chunked+gzip, header latin-1, meta latin-1") {
    val dir = tmpDir("httpmix")
    val pages = (0 to 5).map { m =>
      val html =
        if (m >= 4) Warc.latinPage(m.toLong, withMeta = m == 5)
        else s"<html><body><p>plain page $m</p></body></html>"
      (m, html)
    }
    val recs = pages.map { case (m, html) =>
      Warc.mixResponseRecord(s"http://example.com/doc/$m", s"<urn:uuid:m-$m>", Warc.FixtureDate, html, m)
    }
    Files.write(Paths.get(s"$dir/mix.warc.gz"), gzBytes(recs: _*))
    val got = Warc
      .responses(spark, dir)
      .select("target_uri", "body_text", "http_charset", "http_content_encoding", "http_chunked")
      .as[(String, String, String, String, Boolean)]
      .collect()
      .map(r => r._1.split("/").last.toInt -> ((r._2, r._3, r._4, r._5)))
      .toMap
    pages.foreach { case (m, html) =>
      val (body, cs, enc, chunked) = got(m)
      assert(body === html, s"mode $m body must round-trip")
      assert(cs === (if (m >= 4) "iso-8859-1" else "utf-8"), s"mode $m charset")
      assert(
        enc === (m match { case 1 | 3 => "gzip"; case 2 => "deflate"; case _ => "" }),
        s"mode $m content-encoding"
      )
      assert(chunked === (m == 3), s"mode $m chunked flag")
    }
  }

  test("HttpCodec edges: malformed codings fall back, unknown charsets default to utf-8") {
    import graft.functions.HttpCodec
    // bad chunk framing -> bytes pass through unchanged
    val junk = "not-a-hex-size\r\ndata".getBytes("UTF-8")
    assert(HttpCodec.dechunk(junk).toSeq === junk.toSeq)
    // truncated chunk -> unchanged
    val cut = "ff\r\nshort".getBytes("UTF-8")
    assert(HttpCodec.dechunk(cut).toSeq === cut.toSeq)
    // corrupt gzip -> unchanged
    val notGz = Array[Byte](1, 2, 3, 4)
    assert(HttpCodec.tryGunzip(notGz).toSeq === notGz.toSeq)
    assert(HttpCodec.tryInflate(notGz).toSeq === notGz.toSeq)
    // raw (non-zlib) deflate still inflates — the sloppy-server lane
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    d.setInput("raw deflate payload".getBytes("UTF-8")); d.finish()
    val buf = new Array[Byte](256)
    val n = d.deflate(buf); d.end()
    assert(
      new String(HttpCodec.tryInflate(java.util.Arrays.copyOf(buf, n)), "UTF-8")
        === "raw deflate payload"
    )
    // unknown charset label -> utf-8 default
    assert(HttpCodec.charsetLabel("text/html; charset=klingon-8", Array.emptyByteArray) === "utf-8")
    // header param wins over meta
    val metaBody = "<html><head><meta charset=\"iso-8859-1\"></head></html>".getBytes("UTF-8")
    assert(HttpCodec.charsetLabel("text/html; charset=utf-8", metaBody) === "utf-8")
    assert(HttpCodec.charsetLabel("text/html", metaBody) === "iso-8859-1")
    assert(HttpCodec.charsetLabel(null, metaBody) === "iso-8859-1")
  }

  test("sink: task-committed shards — no in-progress temps survive a write") {
    val dir = tmpDir("commit")
    val records = Seq((0, 1L, reqA), (0, 2L, respA))
      .toDF("g", "ord", "record_bytes")
      .repartition(1)
      .sortWithinPartitions("g", "ord")
    Warc.write(records, dir)
    val names = new java.io.File(dir).listFiles().map(_.getName)
    assert(names.forall(n => !n.contains("inprogress")), s"left temps: ${names.mkString(",")}")
    assert(names.count(_.endsWith(".warc.gz")) === 1)
    assert(Warc.read(spark, dir).count() === 2, "hidden/temp names are never parsed")
  }

  test("revisit: digest dedup is global, earliest-capture wins, changed content stays original") {
    val dir = tmpDir("revisit")
    val html = "<p>same payload</p>"
    val recs = Seq(
      Warc.responseRecord("http://a.com/x", "<urn:uuid:1>", "2026-01-01T00:00:00Z", html),
      // identical payload re-captured LATER on the same uri -> revisit
      Warc.responseRecord("http://a.com/x", "<urn:uuid:2>", "2026-02-01T00:00:00Z", html),
      // identical payload under a DIFFERENT host -> still a revisit (global digest)
      Warc.responseRecord("http://b.com/y", "<urn:uuid:3>", "2026-03-01T00:00:00Z", html),
      // changed payload on the same uri -> fresh digest, original
      Warc.responseRecord("http://a.com/x", "<urn:uuid:4>", "2026-04-01T00:00:00Z", html + "!")
    )
    val df = Seq((0, 1L, recs(0)), (0, 2L, recs(1)), (0, 3L, recs(2)), (0, 4L, recs(3)))
      .toDF("g", "ord", "record_bytes")
      .repartition(1)
      .sortWithinPartitions("g", "ord")
    Warc.write(df, dir)
    val out = Warc
      .revisitCaptures(Warc.responses(spark, dir))
      .orderBy("warc_date")
      .select("url", "is_revisit", "ref_url", "ref_date")
      .collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getString(2), r.getString(3)))
      .toSeq
    assert(out(0) === (("http://a.com/x", false, null, null)))
    assert(out(1) === (("http://a.com/x", true, "http://a.com/x", "2026-01-01T00:00:00Z")))
    assert(out(2) === (("http://b.com/y", true, "http://a.com/x", "2026-01-01T00:00:00Z")))
    assert(out(3) === (("http://a.com/x", false, null, null)))
  }

  test("revisit record shape: ISO 28500 headers, empty block, parser surfaces them") {
    val rec = Warc.revisitRecord(
      "http://a.com/x",
      "<urn:uuid:rev-1>",
      "2026-02-01T00:00:00Z",
      "<urn:uuid:orig-1>",
      "md5:0123456789abcdef0123456789abcdef"
    )
    val txt = new String(rec, "UTF-8")
    assert(txt.startsWith("WARC/1.0\r\nWARC-Type: revisit\r\n"))
    assert(txt.contains(s"WARC-Profile: ${Warc.RevisitProfile}\r\n"))
    assert(txt.contains("WARC-Refers-To: <urn:uuid:orig-1>\r\n"))
    assert(txt.contains("WARC-Payload-Digest: md5:0123456789abcdef0123456789abcdef\r\n"))
    assert(txt.contains("Content-Length: 0\r\n"))
    val parsed = new Warc.RecordStream("p", new java.io.ByteArrayInputStream(rec)).toSeq
    assert(parsed.size === 1)
    val w = parsed.head
    assert(w.warcType === "revisit" && w.malformed == null)
    assert(w.contentLength === 0L && w.block.length === 0)
    assert(w.refersTo === "<urn:uuid:orig-1>")
    assert(w.payloadDigest === "md5:0123456789abcdef0123456789abcdef")
  }

  test("deduped archive: revisits store zero payload bytes; resolution restores every capture") {
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf)
    val dir = Warc.ensureDedupedDir(sf, docs)
    val recs = Warc
      .read(spark, dir)
      .filter(col("malformed").isNull)
      .select(col("warc_type"), col("content_length"), length(col("block")))
      .collect()
    val (revs, origs) = recs.partition(_.getString(0) == "revisit")
    assert(revs.nonEmpty, "fixture must produce revisit records")
    assert(
      revs.forall(r => r.getLong(1) == 0L && r.getInt(2) == 0),
      "revisit blocks must be empty"
    )
    assert(origs.forall(_.getLong(1) > 0L))
    // resolution restores the full capture set of the UNDEDUPED archive
    val full = Warc
      .revisitCaptures(Warc.responses(spark, Warc.ensureRevisitDir(sf, docs)))
      .select("url", "warc_date", "digest")
      .as[(String, String, String)]
      .collect()
      .toSet
    val resolved = Warc
      .resolveRevisits(spark, dir)
      .select(col("url"), col("warc_date"), md5(col("body_text")))
      .as[(String, String, String)]
      .collect()
      .toSet
    assert(resolved === full)
  }

  test("server-not-modified: record shape and latest-prior-capture resolution") {
    val rec = Warc.notModifiedRecord(
      "http://a.com/x",
      "<urn:uuid:nm-1>",
      "2026-03-01T00:00:00Z",
      "http://a.com/x",
      "2026-01-01T00:00:00Z"
    )
    val txt = new String(rec, "UTF-8")
    assert(txt.contains(s"WARC-Profile: ${Warc.NotModifiedProfile}\r\n"))
    assert(txt.contains("WARC-Refers-To-Target-URI: http://a.com/x\r\n"))
    assert(txt.contains("WARC-Refers-To-Date: 2026-01-01T00:00:00Z\r\n"))
    val parsed = new Warc.RecordStream("p", new java.io.ByteArrayInputStream(rec)).toSeq
    assert(parsed.size === 1 && parsed.head.warcType === "revisit")
    assert(new String(parsed.head.block, "UTF-8") === "HTTP/1.1 304 Not Modified\r\n\r\n")

    // resolution picks the LATEST prior capture of the SAME URI: uri x
    // captured twice (v1 then v2), a 304 at d3 must resolve to v2; uri y
    // is untouched by x's 304
    val dir = tmpDir("notmod")
    val recs = Seq(
      Warc.responseRecord("http://a.com/x", "<urn:uuid:1>", "2026-01-01T00:00:00Z", "v1"),
      Warc.responseRecord("http://a.com/x", "<urn:uuid:2>", "2026-02-01T00:00:00Z", "v2"),
      Warc.responseRecord("http://a.com/y", "<urn:uuid:3>", "2026-01-01T00:00:00Z", "w1"),
      Warc.notModifiedRecord(
        "http://a.com/x", "<urn:uuid:4>", "2026-03-01T00:00:00Z",
        "http://a.com/x", "2026-02-01T00:00:00Z")
    )
    val df = Seq((0, 1L, recs(0)), (0, 2L, recs(1)), (0, 3L, recs(2)), (0, 4L, recs(3)))
      .toDF("g", "ord", "record_bytes")
      .repartition(1)
      .sortWithinPartitions("g", "ord")
    Warc.write(df, dir)
    val out = Warc
      .resolveNotModified(spark, dir)
      .orderBy("url", "warc_date")
      .select("url", "warc_date", "via_revisit", "body_text")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2), r.getString(3)))
      .toSeq
    assert(out(0) === (("http://a.com/x", "2026-01-01T00:00:00Z", false, "v1")))
    assert(out(1) === (("http://a.com/x", "2026-02-01T00:00:00Z", false, "v2")))
    assert(out(2) === (("http://a.com/x", "2026-03-01T00:00:00Z", true, "v2")))
    assert(out(3) === (("http://a.com/y", "2026-01-01T00:00:00Z", false, "w1")))
  }

  test("server-not-modified: same-date prior captures resolve by record id, not partition order") {
    // two captures of the SAME uri at the SAME second (legal — WARC dates
    // have second resolution): the 304 must deterministically carry the
    // greatest record id's payload, whatever order the shard walk yields
    val dir = tmpDir("notmod_tie")
    val recs = Seq(
      Warc.responseRecord("http://t.com/x", "<urn:uuid:1>", "2026-01-01T00:00:00Z", "a"),
      Warc.responseRecord("http://t.com/x", "<urn:uuid:2>", "2026-01-01T00:00:00Z", "b"),
      Warc.notModifiedRecord(
        "http://t.com/x", "<urn:uuid:3>", "2026-02-01T00:00:00Z",
        "http://t.com/x", "2026-01-01T00:00:00Z")
    )
    // split the tied originals across two shards so a partition-order
    // dependence would actually be exercisable
    val df = Seq((0, 1L, recs(0)), (1, 2L, recs(1)), (0, 3L, recs(2)))
      .toDF("g", "ord", "record_bytes")
      .repartition(2, col("g"))
      .sortWithinPartitions("g", "ord")
    Warc.write(df, dir)
    val resolved = Warc
      .resolveNotModified(spark, dir)
      .filter(col("via_revisit"))
      .select("body_text")
      .as[String]
      .collect()
    assert(resolved.toSeq === Seq("b"), "greatest record id's payload must carry")
  }

  test("resolveRevisits: orphan revisits survive with null body; shared-digest originals never fan out") {
    // NOT ensureDedupedDir output: two originals share a digest (a
    // cross-crawl merge), one revisit references that digest, another
    // references a digest with no original in this archive slice
    def digested(uri: String, rid: String, date: String, html: String, dg: String) = {
      val body = html.getBytes("UTF-8")
      val http = (s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes("UTF-8")
      Warc.renderRecord(
        "response", rid, Some(uri), date,
        "application/http; msgtype=response", http ++ body,
        extra = Seq("WARC-Payload-Digest" -> dg))
    }
    val dir = tmpDir("revisit_robust")
    val recs = Seq(
      digested("http://m.com/a", "<urn:uuid:o1>", "2026-01-01T00:00:00Z", "same", "md5:d1"),
      digested("http://m.com/b", "<urn:uuid:o2>", "2026-02-01T00:00:00Z", "same", "md5:d1"),
      Warc.revisitRecord(
        "http://m.com/c", "<urn:uuid:r1>", "2026-03-01T00:00:00Z", "<urn:uuid:o1>", "md5:d1"),
      Warc.revisitRecord(
        "http://m.com/z", "<urn:uuid:r2>", "2026-03-01T00:00:00Z", "<urn:uuid:gone>", "md5:d9")
    )
    val df = recs.zipWithIndex.map { case (r, i) => (i % 2, i.toLong, r) }
      .toDF("g", "ord", "record_bytes")
      .repartition(2, col("g"))
      .sortWithinPartitions("g", "ord")
    Warc.write(df, dir)
    val out = Warc
      .resolveRevisits(spark, dir)
      .select("url", "via_revisit", "body_text")
      .collect()
      .map(r => (r.getString(0), r.getBoolean(1), Option(r.getString(2))))
      .toSet
    assert(out === Set(
      ("http://m.com/a", false, Some("same")),
      ("http://m.com/b", false, Some("same")),
      // exactly ONE resolved row for the d1 revisit (no per-original fan-out)
      ("http://m.com/c", true, Some("same")),
      // the orphan is SURFACED unresolved, not silently dropped
      ("http://m.com/z", true, None)
    ))
    assert(Warc.resolveRevisits(spark, dir).count() === 4)
  }
}
