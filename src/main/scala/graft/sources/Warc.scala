package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** WARC (ISO 28500) web-archive container source + sink — gate −1 of a
  * crawl pipeline: the format a Common-Crawl-shaped corpus actually
  * arrives in, before [[graft.operators.Html.extract]] ever sees a text
  * column. Generalizes the reference's suffix-filtered container-directory
  * scan (/root/reference/src/index.js:145-146) from `.txt` to the
  * crawl-archive case, the way [[TextSource.readTxtDir]] did for `.txt`.
  *
  * Layout/scale posture:
  *   - A WARC corpus is a directory of `.warc.gz` shards (Common Crawl:
  *     ~1 GB each), every RECORD its own gzip member so readers can
  *     resync on member boundaries. The source walks each shard as a
  *     STREAM — one task per shard (the natural unit: a shard must be
  *     decompressed sequentially anyway), the suffix filter applied at
  *     the driver's directory listing so non-archive files are never
  *     opened, and per-task residency is RECORD-sized: the framer holds
  *     one record's block plus a fixed 64 KiB buffer, never the shard
  *     (decompressed whole-shard residency — 3-5× a 1 GB shard — OOMs a
  *     standard 8 GB executor before the parse starts). There is no
  *     per-shard size cap; the only bound is per RECORD (a block must
  *     fit a binary column, < 2 GB), which is the row-width bound any
  *     columnar engine has.
  *   - Record parsing is imperative byte-walking with no relational
  *     structure to push down — the same legitimate `flatMap`-on-bytes
  *     slot as the media decoders ([[graft.operators.Multimodal]]);
  *     everything downstream of the parse (response filter, HTTP slice,
  *     extraction) is Catalyst expressions.
  *   - The sink writes one shard per PARTITION, one gzip member per
  *     record, through the Hadoop FileSystem API (so `dir` may be any
  *     defaultFS-resolvable path, not only local disk) — partition-
  *     parallel, no driver funnel. Java's gzip writes a zero MTIME, so
  *     shard bytes are a pure function of partition content: writes are
  *     deterministic and idempotent per partition.
  *
  * Malformed-input contract (the [[TextSource]] permissive discipline):
  * a record that cannot be framed — bad/missing `WARC/` version line,
  * missing/unparseable `Content-Length`, or a block truncated by EOF —
  * yields a row with `malformed` set (`bad-version` / `bad-length` /
  * `truncated`) and parsing of that shard STOPS (without a trustworthy
  * length there is no safe resync inside a member; the next gzip member
  * starts clean). Well-formed records never carry `malformed`.
  */
object Warc {

  val schema: StructType = StructType(
    Seq(
      StructField("path", StringType),
      StructField("rec_offset", LongType), // offset in the DECOMPRESSED stream
      StructField("warc_type", StringType),
      StructField("record_id", StringType),
      StructField("target_uri", StringType),
      StructField("warc_date", StringType),
      StructField("content_type", StringType),
      StructField("content_length", LongType),
      StructField("block", BinaryType),
      StructField("malformed", StringType)
    )
  )

  // ---------------------------------------------------------------- render

  private val Crlf = "\r\n"

  /** One complete WARC record (headers + block + record separator) as
    * bytes — the writer half of the format, used by the sink and by the
    * deterministic fixtures the oracle replays.
    */
  def renderRecord(
      warcType: String,
      recordId: String,
      targetUri: Option[String],
      warcDate: String,
      contentType: String,
      block: Array[Byte],
      extra: Seq[(String, String)] = Nil
  ): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("WARC/1.0").append(Crlf)
    sb.append("WARC-Type: ").append(warcType).append(Crlf)
    sb.append("WARC-Record-ID: ").append(recordId).append(Crlf)
    sb.append("WARC-Date: ").append(warcDate).append(Crlf)
    targetUri.foreach(u => sb.append("WARC-Target-URI: ").append(u).append(Crlf))
    extra.foreach { case (k, v) => sb.append(k).append(": ").append(v).append(Crlf) }
    sb.append("Content-Type: ").append(contentType).append(Crlf)
    sb.append("Content-Length: ").append(block.length).append(Crlf)
    sb.append(Crlf)
    val head = sb.toString.getBytes("UTF-8")
    val out = new ByteArrayOutputStream(head.length + block.length + 4)
    out.write(head)
    out.write(block)
    out.write(s"$Crlf$Crlf".getBytes("UTF-8"))
    out.toByteArray
  }

  /** A `response` record wrapping an HTTP/1.1 200 with an HTML body —
    * the record shape [[responses]] consumes.
    */
  def responseRecord(uri: String, recordId: String, warcDate: String, html: String): Array[Byte] = {
    val body = html.getBytes("UTF-8")
    val http =
      (s"HTTP/1.1 200 OK${Crlf}Content-Type: text/html; charset=utf-8$Crlf" +
        s"Content-Length: ${body.length}$Crlf$Crlf").getBytes("UTF-8")
    val block = new ByteArrayOutputStream(http.length + body.length)
    block.write(http)
    block.write(body)
    renderRecord(
      "response",
      recordId,
      Some(uri),
      warcDate,
      "application/http; msgtype=response",
      block.toByteArray
    )
  }

  // ------------------------------------------------------------------ sink

  /** Write a WARC shard directory: one `part-<partition>.warc.gz` per
    * non-empty partition of `records`, one gzip member per record. The
    * input must carry a `record_bytes: binary` column of fully-rendered
    * records ([[renderRecord]]); the caller owns partitioning/ordering
    * (e.g. `repartition(n, $"g").sortWithinPartitions(...)` for a
    * deterministic layout).
    *
    * Object-store caveat (same as [[graft.operators.Indexes]]): the
    * task-commit below is RENAME-based, atomic on HDFS/POSIX but
    * copy+delete on S3/GCS-class stores — a reader globbing mid-rename
    * there can observe a partial shard. On such stores the commit
    * discipline is the marker-object one ([[graft.operators.Indexes
    * .ensure]] on a scheme'd dir):
    * the dot-prefixed temps already hide in-progress bytes from the
    * suffix-filtered listing, and a job-level completion marker written
    * AFTER every shard landed (a single atomic object PUT) is what
    * readers should key on — not the rename of each shard.
    */
  def write(records: DataFrame, dir: String): Unit = {
    val out = dir
    // session Hadoop overlay captured at the driver: the task-side conf
    // must carry the session's fs impls/credentials (object-store posture)
    val hconf = graft.util.HadoopConfs.capture(records.sparkSession)
    records
      .select(col("record_bytes"))
      .foreachPartition { (it: Iterator[Row]) =>
        if (it.hasNext) {
          val tc = org.apache.spark.TaskContext.get()
          val pid = tc.partitionId()
          val conf = graft.util.HadoopConfs.build(hconf)
          // task-commit protocol (the Spark file-sink discipline): stream
          // into a dot-prefixed attempt-unique temp path (globs and the
          // source's suffix filter skip it), rename into place only on
          // task success — a speculative or retried attempt can never
          // interleave bytes into the final shard, and a failed attempt
          // leaves only an ignorable temp to best-effort delete
          val finalPath = new org.apache.hadoop.fs.Path(f"$out/part-$pid%05d.warc.gz")
          val tmpPath = new org.apache.hadoop.fs.Path(
            f"$out/.part-$pid%05d.attempt-${tc.taskAttemptId()}.inprogress"
          )
          val fs = finalPath.getFileSystem(conf)
          try {
            val os = fs.create(tmpPath, true)
            try it.foreach { r =>
              // one gzip member per record: each record independently
              // decompressible, members concatenate into a valid stream
              // (Java gzip writes zero MTIME — member bytes are deterministic)
              val buf = new ByteArrayOutputStream()
              val gz = new GZIPOutputStream(buf)
              gz.write(r.getAs[Array[Byte]](0))
              gz.close()
              buf.writeTo(os)
            } finally os.close()
            // bytes are a pure function of partition content, so a twin
            // attempt that won the rename already produced the same shard
            if (fs.exists(finalPath)) fs.delete(finalPath, false)
            fs.rename(tmpPath, finalPath)
            ()
          } catch {
            case e: Throwable =>
              try fs.delete(tmpPath, false)
              catch { case _: Throwable => () }
              throw e
          }
        }
      }
  }

  // ---------------------------------------------------------------- source

  /** Shard files under `dir` matching `glob`, listed once at the driver
    * (a directory listing is driver-scale: one row per shard). Hidden
    * files (`.`/`_` prefixes — including this sink's in-progress task
    * attempts) are skipped, matching Spark's file-source convention.
    */
  private def listShardPaths(spark: SparkSession, dir: String, glob: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir, glob)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(p))
      .map(_.toSeq)
      .getOrElse(Seq.empty)
      .filter { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith(".") && !n.startsWith("_")
      }
      .map(_.getPath.toString)
      .sorted
  }

  /** Open a shard for streaming, gunzipping transparently when the magic
    * bytes say so (Java's GZIPInputStream consumes concatenated members
    * natively, member by member — nothing is materialized).
    */
  private def openShard(
      conf: org.apache.hadoop.conf.Configuration,
      pathStr: String
  ): java.io.InputStream = {
    val p = new org.apache.hadoop.fs.Path(pathStr)
    val raw = new java.io.BufferedInputStream(p.getFileSystem(conf).open(p), 1 << 16)
    raw.mark(2)
    val b0 = raw.read()
    val b1 = raw.read()
    raw.reset()
    if (b0 == 0x1f && b1 == 0x8b) new GZIPInputStream(raw, 1 << 16) else raw
  }

  /** Wrap a per-shard iterator so the underlying stream closes exactly
    * once — on exhaustion for the normal path, via the task-completion
    * listener when a downstream limit/failure abandons the iterator.
    */
  private def closeOnExhaust[A](it: Iterator[A], close: () => Unit): Iterator[A] =
    new Iterator[A] {
      private var closed = false
      private def closeOnce(): Unit = if (!closed) { closed = true; close() }
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => closeOnce()))
      def hasNext: Boolean = {
        val h = it.hasNext
        if (!h) closeOnce()
        h
      }
      def next(): A = it.next()
    }

  private def recRow(w: Rec): Row =
    Row(
      w.path,
      w.recOffset,
      w.warcType,
      w.recordId,
      w.targetUri,
      w.warcDate,
      w.contentType,
      w.contentLength,
      w.block,
      w.malformed
    )

  /** All records of every `*.warc` / `*.warc.gz` shard under `dir` — one
    * streaming task per shard, RECORD-sized residency: the shard is never
    * held in memory (neither compressed nor decompressed); the framer
    * walks the open stream and materializes exactly one record's block at
    * a time (WarcSpec pins the incremental consumption with a counting
    * stream). There is no per-shard size cap.
    */
  def read(spark: SparkSession, dir: String, glob: String = "*.warc*"): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val paths = listShardPaths(spark, dir, glob)
    val hconf = graft.util.HadoopConfs.capture(spark)
    spark
      .createDataset(paths)(org.apache.spark.sql.Encoders.STRING)
      .repartition(math.max(paths.size, 1))
      .mapPartitions { it =>
        val conf = graft.util.HadoopConfs.build(hconf)
        it.flatMap { pathStr =>
          val in = openShard(conf, pathStr)
          closeOnExhaust(new RecordStream(pathStr, in).map(recRow), () => in.close())
        }
      }(enc)
  }

  /** Re-spread parsed records when the shard count undershoots the
    * session's parallelism: a gzip member stream parses sequentially per
    * shard (whole-shard tasks are forced), but everything downstream —
    * HTTP slicing, charset decode, extraction — is per-record CPU work
    * that would otherwise run at shard-count parallelism. A real crawl
    * corpus has thousands of ~1 GB shards and skips this exchange; the
    * guard keeps small directories from serializing a 32-core session
    * behind 8 tasks (measured 11.5 s → ~3 s on the 8-shard fixture at
    * 10× data).
    */
  private def respread(spark: SparkSession, recs0: DataFrame): DataFrame = {
    val p = spark.sparkContext.defaultParallelism
    if (recs0.rdd.getNumPartitions < p) recs0.repartition(p) else recs0
  }

  def responses(spark: SparkSession, dir: String, glob: String = "*.warc*"): DataFrame =
    httpSlice(
      respread(
        spark,
        read(spark, dir, glob)
          .filter(col("malformed").isNull && col("warc_type") === "response")
      )
    )

  /** The HTTP status/header/body slice over any [[schema]]-shaped record
    * rows (whole-directory scans AND [[fetch]]ed point reads share it) —
    * header fields by Catalyst regex over a byte-preserving latin-1 view,
    * the BODY through the real payload decoder
    * ([[graft.functions.HttpCodec]]): `Transfer-Encoding: chunked`
    * de-chunking, `Content-Encoding: gzip`/`deflate` decompression, and
    * charset resolution (Content-Type param → `<meta charset>` prescan →
    * UTF-8 default) — one native kernel call per record inside
    * whole-stage codegen. `http_charset` / `http_content_encoding` /
    * `http_chunked` expose what the decoder resolved.
    */
  def httpSlice(recs: DataFrame): DataFrame = {
    // byte-preserving single-byte charset view for the header scan: every
    // char index in it IS a byte offset into the block
    val latin = expr("decode(block, 'ISO-8859-1')")
    recs
      .withColumn("http_head_len", instr(latin, "\r\n\r\n"))
      .withColumn(
        "http_head",
        when(col("http_head_len") > 0, substring_index(latin, "\r\n\r\n", 1))
      )
      .withColumn(
        "http_status",
        regexp_extract(col("http_head"), "^HTTP/[0-9.]+ (\\d{3})", 1).cast("int")
      )
      .withColumn(
        "http_content_type",
        regexp_extract(col("http_head"), "(?im)^Content-Type:\\s*([^\r\n]*)", 1)
      )
      .withColumn(
        "http_location",
        regexp_extract(col("http_head"), "(?im)^Location:\\s*([^\r\n]*)", 1)
      )
      .withColumn("_hb", graft.functions.HttpBody.httpBody(col("block")))
      .select(
        col("path"),
        col("rec_offset"),
        col("record_id"),
        col("target_uri"),
        col("warc_date"),
        col("http_status"),
        col("http_content_type"),
        col("http_location"),
        col("_hb.text").as("body_text"),
        col("_hb.charset").as("http_charset"),
        col("_hb.content_encoding").as("http_content_encoding"),
        col("_hb.chunked").as("http_chunked")
      )
  }

  // ------------------------------------------------------------ CDX index

  /** Schema of [[memberIndex]]: one row per gzip MEMBER with its
    * compressed byte extent — the capture-index columns a CDX file
    * carries so a reader can fetch one record from a multi-TB archive
    * with a single ranged read + one-member gunzip.
    */
  val memberSchema: StructType = StructType(
    Seq(
      StructField("path", StringType),
      StructField("member_offset", LongType), // COMPRESSED offset in the shard
      StructField("member_len", LongType), // COMPRESSED member length
      StructField("warc_type", StringType),
      StructField("target_uri", StringType),
      StructField("warc_date", StringType),
      StructField("content_length", LongType),
      StructField("malformed", StringType)
    )
  )

  /** One gzip member as the streaming walk yields it: its COMPRESSED
    * byte extent plus the decompressed bytes. `malformed` is null for a
    * whole member; the walk's final element is a `bad-member` SENTINEL
    * (null bytes, zero length) when it halts on unframeable trailing
    * bytes — a shard corrupted mid-stream is DETECTABLE by index
    * consumers, never a silent coverage truncation.
    */
  private[graft] final case class Member(
      offset: Long,
      clen: Long,
      bytes: Array[Byte],
      malformed: String
  )

  /** Streaming walk over a (possibly multi-member) gzip STREAM: yields
    * each member's exact compressed extent (RFC 1952 header fields
    * skipped, raw-deflate inflate to the member boundary, 8-byte
    * CRC32/ISIZE trailer) holding only the fixed 64 KiB fill buffer plus
    * ONE member's decompressed bytes — per-task residency is
    * member-sized, so a 1 GB (or 100 GB) shard walks in constant memory.
    * Halts at the first unframeable member with a sentinel [[Member]]
    * (past corruption there is no safe resync).
    */
  private[graft] final class GzipMemberIterator(in: java.io.InputStream)
      extends Iterator[Member] {
    private val buf = new Array[Byte](1 << 16)
    private var lo = 0 // next unconsumed index
    private var hi = 0 // end of the filled region
    private var absPos = 0L // absolute stream offset of buf(lo)
    private var pending: Member = null
    private var done = false

    /** Compact + refill; false when the stream is exhausted AND empty. */
    private def refill(): Boolean = {
      if (lo > 0) { System.arraycopy(buf, lo, buf, 0, hi - lo); hi -= lo; lo = 0 }
      var n = 0
      while (hi < buf.length && n >= 0) {
        n = in.read(buf, hi, buf.length - hi)
        if (n > 0) hi += n
      }
      hi > lo
    }

    /** Consume one byte; -1 on end of stream. */
    private def byteAt(): Int =
      if (lo == hi && !refill()) -1
      else { val b = buf(lo) & 0xff; lo += 1; absPos += 1; b }

    private def skipNulTerminated(): Boolean = {
      var b = byteAt()
      while (b > 0) b = byteAt()
      b == 0
    }

    private def advance(): Unit = {
      if (done) return
      val start = absPos
      val b0 = byteAt()
      if (b0 < 0) { done = true; return } // clean end on a member boundary
      val b1 = byteAt()
      def halt(): Unit = { pending = Member(start, 0L, null, "bad-member"); done = true }
      if (b0 != 0x1f || b1 != 0x8b) { halt(); return }
      try {
        byteAt() // CM
        val flg = byteAt()
        var ok = flg >= 0
        var i = 0
        while (ok && i < 6) { ok = byteAt() >= 0; i += 1 } // MTIME + XFL + OS
        if (ok && (flg & 4) != 0) { // FEXTRA
          val x0 = byteAt(); val x1 = byteAt()
          ok = x0 >= 0 && x1 >= 0
          var left = x0 | (x1 << 8)
          while (ok && left > 0) { ok = byteAt() >= 0; left -= 1 }
        }
        if (ok && (flg & 8) != 0) ok = skipNulTerminated() // FNAME
        if (ok && (flg & 16) != 0) ok = skipNulTerminated() // FCOMMENT
        if (ok && (flg & 2) != 0) ok = byteAt() >= 0 && byteAt() >= 0 // FHCRC
        if (!ok) { halt(); return }
        // raw-deflate inflate straight off the fill buffer; lo advances
        // eagerly as chunks are fed and rolls back by getRemaining once
        // the member's deflate stream ends
        val inf = new java.util.zip.Inflater(true)
        val bos = new ByteArrayOutputStream(1 << 16)
        val out = new Array[Byte](1 << 16)
        var truncated = false
        try {
          while (!inf.finished() && !truncated) {
            if (inf.needsInput()) {
              if (lo == hi && !refill()) truncated = true
              else {
                val fed = hi - lo
                inf.setInput(buf, lo, fed)
                lo = hi
                absPos += fed
              }
            }
            if (!truncated) {
              val n = inf.inflate(out)
              if (n > 0) bos.write(out, 0, n)
            }
          }
          if (!truncated) {
            val rem = inf.getRemaining
            lo -= rem
            absPos -= rem
          }
        } finally inf.end()
        if (truncated) { halt(); return }
        // CRC32 + ISIZE trailer
        var t = 0
        var tok = true
        while (tok && t < 8) { tok = byteAt() >= 0; t += 1 }
        if (!tok) { halt(); return }
        pending = Member(start, absPos - start, bos.toByteArray, null)
      } catch {
        case _: java.util.zip.DataFormatException => halt()
      }
    }

    def hasNext: Boolean = {
      if (pending == null && !done) advance()
      pending != null
    }
    def next(): Member = {
      if (!hasNext) throw new NoSuchElementException
      val m = pending
      pending = null
      m
    }
  }

  /** Byte-array convenience over [[GzipMemberIterator]] (specs + the
    * ranged-fetch path): complete members only — the halt sentinel, if
    * any, is dropped, matching the original strict walk.
    */
  private[graft] def gzipMembers(raw: Array[Byte]): Seq[(Long, Long, Array[Byte])] =
    new GzipMemberIterator(new ByteArrayInputStream(raw))
      .filter(_.malformed == null)
      .map(m => (m.offset, m.clen, m.bytes))
      .toSeq

  /** The capture index of a shard directory: one row per gzip member
    * with its COMPRESSED byte extent plus the member's (first) record
    * headers — what a Common-Crawl CDX file stores per capture. Built by
    * one sequential STREAMING pass per shard ([[GzipMemberIterator]]:
    * member-sized residency, no shard materialization, no size cap);
    * consumed by [[fetch]] as ranged point reads. One record per member
    * is the archive convention this engine's sink writes; a multi-record
    * member indexes as its first record. A walk that halts mid-shard
    * (corrupt member) emits a `bad-member` sentinel row at the halt
    * offset, so a CDX consumer can DETECT truncated coverage instead of
    * silently losing every subsequent capture.
    */
  def memberIndex(spark: SparkSession, dir: String, glob: String = "*.warc.gz"): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(memberSchema)
    val paths = listShardPaths(spark, dir, glob)
    val hconf = graft.util.HadoopConfs.capture(spark)
    spark
      .createDataset(paths)(org.apache.spark.sql.Encoders.STRING)
      .repartition(math.max(paths.size, 1))
      .mapPartitions { it =>
        val conf = graft.util.HadoopConfs.build(hconf)
        it.flatMap { pathStr =>
          val p = new org.apache.hadoop.fs.Path(pathStr)
          val in = p.getFileSystem(conf).open(p)
          val rows = new GzipMemberIterator(in).flatMap { m =>
            if (m.malformed != null)
              Some(Row(pathStr, m.offset, 0L, null, null, null, null, m.malformed))
            else
              parseShard(pathStr, m.bytes).headOption.map { w =>
                Row(
                  pathStr, m.offset, m.clen,
                  w.warcType, w.targetUri, w.warcDate, w.contentLength, w.malformed
                )
              }
          }
          closeOnExhaust(rows, () => in.close())
        }
      }(enc)
  }

  /** Ranged point reads: for each index row `(path, member_offset,
    * member_len)`, seek to the member, read exactly its compressed
    * bytes, gunzip, and frame the record — [[schema]]-shaped rows
    * (`rec_offset` is member-relative, i.e. 0). This is the random-
    * access half of the CDX contract: fetching k captures from a 100 TB
    * archive costs k ranged reads of a few KB each, never a shard scan.
    * Hadoop `Configuration` is built once per PARTITION (constructing it
    * per row re-parses the XML resources — measured 7.4 s → ~1.5 s on a
    * 1 352-capture bulk lookup), `FileSystem` instances come from
    * Hadoop's per-scheme cache, and a bulk lookup whose index arrives in
    * fewer partitions than the session's parallelism is re-spread so the
    * point reads fan out across cores.
    */
  def fetch(spark: SparkSession, index: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val rows = index.select(col("path"), col("member_offset"), col("member_len"))
    val par = spark.sparkContext.defaultParallelism
    val spread = if (rows.rdd.getNumPartitions < par) rows.repartition(par) else rows
    val hconf = graft.util.HadoopConfs.capture(spark)
    spread.mapPartitions { it =>
      val conf = graft.util.HadoopConfs.build(hconf)
      it.flatMap { r =>
        val pathStr = r.getString(0)
        val buf = new Array[Byte](r.getLong(2).toInt)
        val p = new org.apache.hadoop.fs.Path(pathStr)
        val in = p.getFileSystem(conf).open(p)
        try {
          in.seek(r.getLong(1))
          in.readFully(buf)
        } finally in.close()
        parseShard(pathStr, buf).map(w =>
          Row(
            w.path,
            w.recOffset,
            w.warcType,
            w.recordId,
            w.targetUri,
            w.warcDate,
            w.contentType,
            w.contentLength,
            w.block,
            w.malformed
          )
        )
      }
    }(enc)
  }

  // ------------------------------------------------------- fixture corpus

  val FixtureDate = "2026-01-01T00:00:00Z"

  /** Shards of every fixture archive: record group `g` is `doc_id % 8`. */
  private val Shards = 8

  /** The fixture archives' one publication path: fingerprint `docs`
    * under `family` (params `ns=8,v=<version>`) and, on a miss, write
    * `records` — (g, sort keys…, record_bytes) rows from the fixture's
    * own renderer — as [[Shards]] shards, whole `g` groups per shard,
    * each sorted by its non-byte columns in column order, so shard bytes
    * are a pure function of the corpus.
    */
  private def ensureShards(family: String, sfDir: String, docs: DataFrame, version: Int)(
      records: => DataFrame
  ): String =
    graft.operators.Indexes.ensure(family, sfDir, docs, "doc_id", "text", s"ns=$Shards,v=$version") {
      tmp =>
        val recs = records
        val keys = recs.columns.filter(_ != "record_bytes").map(col).toSeq
        write(recs.repartition(Shards, col("g")).sortWithinPartitions(keys: _*), tmp)
    }

  /** The fixture archive's PERSISTED CDX asset (the production shape:
    * Common Crawl publishes cdx-*.gz files beside every crawl so readers
    * never re-walk shards): [[memberIndex]] rows + the SURT key, written
    * once per corpus fingerprint. Returns (warcDir, cdxParquetPath).
    * Point lookups then read this small parquet (capture metadata only,
    * no blocks) and pay [[fetch]]'s ranged reads — the shard walk is a
    * one-time build cost, not a per-query one.
    */
  def ensureCdxDir(sfDir: String, docs: DataFrame): (String, String) = {
    val warcDir = ensureFixtureDir(sfDir, docs)
    val dir = graft.operators.Indexes.ensure("warc-cdx", sfDir, docs, "doc_id", "text", "v=1") { tmp =>
      memberIndex(docs.sparkSession, warcDir)
        .withColumn("surt", graft.operators.Urls.surt(col("target_uri")))
        .write
        .mode("overwrite")
        .parquet(s"$tmp/idx")
    }
    (warcDir, s"$dir/idx")
  }

  /** Deterministic crawl-archive fixture over the documents table, built
    * once per corpus version (fingerprinted + atomic, the [[TextIndex]]
    * recipe): [[Shards]] real `.warc.gz` shards, each holding whole
    * `doc_id % 8` groups — per group one `warcinfo` record, then a
    * `request` + `response` pair per document, the response body being
    * the [[graft.operators.Html.dirtyHtml]] page. Pure string/byte
    * concatenation from table columns, so the oracle replays CONSTRUCTION
    * directly from `documents` — a correct source parse must round-trip
    * to exactly the directly-constructed pages.
    */
  def ensureFixtureDir(sfDir: String, docs: DataFrame): String =
    ensureShards("warc-fixture", sfDir, docs, 2) {
      val spark = docs.sparkSession
      import spark.implicits._
      val pages = graft.operators.Html.dirtyHtml(docs).as[(Long, String)]
      // one gzip member PER RECORD (request and response as separate
      // rows — the sink contract and the archive convention, and what
      // lets memberIndex/fetch treat member == capture): `sub` keeps the
      // request before its response within a doc
      val docRecs = pages.flatMap { case (id, html) =>
        val uri = s"http://example.com/doc/$id"
        val req = renderRecord(
          "request",
          s"<urn:uuid:req-$id>",
          Some(uri),
          FixtureDate,
          "application/http; msgtype=request",
          s"GET /doc/$id HTTP/1.1${Crlf}Host: example.com$Crlf$Crlf".getBytes("UTF-8")
        )
        val resp = responseRecord(uri, s"<urn:uuid:resp-$id>", FixtureDate, html)
        Seq(
          ((id % Shards).toInt, 1, id, 0, req),
          ((id % Shards).toInt, 1, id, 1, resp)
        )
      }
      val infoRecs = docs
        .select((col("doc_id") % Shards).cast("int").as("g"))
        .distinct()
        .as[Int]
        .map { g =>
          (
            g,
            0,
            -1L,
            0,
            renderRecord(
              "warcinfo",
              s"<urn:uuid:info-$g>",
              None,
              FixtureDate,
              "application/warc-fields",
              s"software: graft$Crlf".getBytes("UTF-8")
            )
          )
        }
      docRecs.union(infoRecs).toDF("g", "ord", "doc_id", "sub", "record_bytes")
    }

  // -------------------------------------------- mixed-encoding fixture

  private def gzipBytes(b: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(b.length)
    val gz = new GZIPOutputStream(out)
    gz.write(b)
    gz.close()
    out.toByteArray
  }

  private def deflateBytes(b: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(b)
    d.finish()
    val out = new ByteArrayOutputStream(b.length)
    val buf = new Array[Byte](1 << 14)
    while (!d.finished()) {
      val n = d.deflate(buf)
      out.write(buf, 0, n)
    }
    d.end()
    out.toByteArray
  }

  /** RFC 9112 chunked framing: fixed-size chunks + the 0-size terminator. */
  private def chunkBytes(b: Array[Byte], chunk: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream(b.length + 64)
    var i = 0
    while (i < b.length) {
      val n = math.min(chunk, b.length - i)
      out.write(s"${n.toHexString}$Crlf".getBytes("US-ASCII"))
      out.write(b, i, n)
      out.write(Crlf.getBytes("US-ASCII"))
      i += n
    }
    out.write(s"0$Crlf$Crlf".getBytes("US-ASCII"))
    out.toByteArray
  }

  /** The latin-1 marker page of the mixed-encoding fixture: every char
    * is ISO-8859-1-encodable and at least four are non-ASCII, so a
    * UTF-8-unconditional decode CANNOT round-trip it — the page that
    * makes the charset lanes non-vacuous.
    */
  private[graft] def latinPage(id: Long, withMeta: Boolean): String = {
    val meta = if (withMeta) "<meta charset=\"iso-8859-1\">" else ""
    s"<html><head>$meta<title>d$id</title></head><body>" +
      s"<p>café £$id · Müller ®</p></body></html>"
  }

  /** A `response` record whose HTTP payload is REALLY encoded the way
    * live servers encode (mode = doc_id % 6):
    *
    *   - 0: identity, `charset=utf-8` in the header;
    *   - 1: `Content-Encoding: gzip`;
    *   - 2: `Content-Encoding: deflate` (zlib-wrapped, RFC 9110);
    *   - 3: `Transfer-Encoding: chunked` WRAPPING gzip (sender applies
    *        the transfer coding last, so the receiver de-chunks first);
    *   - 4: ISO-8859-1 body, `charset=iso-8859-1` as a Content-Type
    *        parameter;
    *   - 5: ISO-8859-1 body, charset declared ONLY by `<meta charset>`
    *        (the WHATWG prescan lane — the header says bare text/html).
    */
  private[graft] def mixResponseRecord(
      uri: String,
      recordId: String,
      warcDate: String,
      html: String,
      mode: Int
  ): Array[Byte] = {
    val ct = mode match {
      case 4 => "text/html; charset=iso-8859-1"
      case 5 => "text/html"
      case _ => "text/html; charset=utf-8"
    }
    val raw = html.getBytes(if (mode >= 4) "ISO-8859-1" else "UTF-8")
    val encoded = mode match {
      case 1 | 3 => gzipBytes(raw)
      case 2     => deflateBytes(raw)
      case _     => raw
    }
    val payload = if (mode == 3) chunkBytes(encoded, 1000) else encoded
    val sb = new StringBuilder
    sb.append("HTTP/1.1 200 OK").append(Crlf)
    sb.append("Content-Type: ").append(ct).append(Crlf)
    if (mode == 1 || mode == 3) sb.append("Content-Encoding: gzip").append(Crlf)
    if (mode == 2) sb.append("Content-Encoding: deflate").append(Crlf)
    if (mode == 3) sb.append("Transfer-Encoding: chunked").append(Crlf)
    // chunked messages carry no Content-Length (RFC 9112 §6.2)
    if (mode != 3) sb.append("Content-Length: ").append(encoded.length).append(Crlf)
    sb.append(Crlf)
    val head = sb.toString.getBytes("UTF-8")
    val block = new ByteArrayOutputStream(head.length + payload.length)
    block.write(head)
    block.write(payload)
    renderRecord(
      "response",
      recordId,
      Some(uri),
      warcDate,
      "application/http; msgtype=response",
      block.toByteArray
    )
  }

  /** Deterministic MIXED-ENCODING crawl archive over the documents table
    * (the [[ensureFixtureDir]] recipe, one response per document): modes
    * 0-3 carry the [[graft.operators.Html.dirtyHtml]] page through
    * identity/gzip/deflate/chunked+gzip payloads; modes 4-5 carry the
    * non-ASCII [[latinPage]] as ISO-8859-1 bytes with the charset
    * declared in the header (4) or only in `<meta>` (5). The oracle
    * replays the DECODED text per mode straight from the table — a
    * decoder that skips any of de-chunking, decompression, or charset
    * resolution cannot round-trip.
    */
  def ensureHttpMixDir(sfDir: String, docs: DataFrame): String =
    ensureShards("httpmix-fixture", sfDir, docs, 1) {
      val spark = docs.sparkSession
      import spark.implicits._
      graft.operators.Html
        .dirtyHtml(docs)
        .as[(Long, String)]
        .map { case (id, dirty) =>
          val mode = (id % 6).toInt
          val html = if (mode >= 4) latinPage(id, withMeta = mode == 5) else dirty
          (
            (id % Shards).toInt,
            id,
            mixResponseRecord(
              s"http://example.com/doc/$id",
              s"<urn:uuid:mix-$id>",
              FixtureDate,
              html,
              mode
            )
          )
        }
        .toDF("g", "doc_id", "record_bytes")
    }

  /** The fixture's responses parsed back to (doc_id, html) — the input
    * contract of [[graft.operators.Html.extract]], with doc_id recovered
    * from the WARC-Target-URI.
    */
  def fixturePages(spark: SparkSession, dir: String): DataFrame =
    responses(spark, dir)
      .select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("body_text").as("html")
      )
      // decoded-slice PROJECTION BARRIER: every consumer of this frame is
      // an extraction pipeline whose collapsed projection would otherwise
      // inline the HttpCodec body decode into EACH reference of the block
      // array (filter + n_blocks + n_good + content_chars + extracted) —
      // measured 15.7 s vs 3.0 s for the extraction stage at sf1. The
      // checkpointed frame is the narrow (doc_id, html) table, so the
      // barrier costs one decode pass — the same discipline as
      // extractCleanPlan's post-extraction barrier.
      .localCheckpoint()

  // ----------------------------------------------------------------- WET

  /** One WET `conversion` record (the Common-Crawl extracted-text sidecar
    * convention): `Content-Type: text/plain`, `WARC-Refers-To` naming the
    * response record the text was extracted from, block = UTF-8 text.
    */
  def conversionRecord(
      uri: String,
      recordId: String,
      refersTo: String,
      warcDate: String,
      text: String
  ): Array[Byte] =
    renderRecord(
      "conversion",
      recordId,
      Some(uri),
      warcDate,
      "text/plain",
      text.getBytes("UTF-8"),
      extra = Seq("WARC-Refers-To" -> refersTo)
    )

  /** Extracted pages as WET records (one conversion record per page) —
    * the publishable extracted-text sidecar of a processed crawl.
    */
  private def conversionRecords(pages: DataFrame): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        (
          (id % Shards).toInt,
          id,
          conversionRecord(
            s"http://example.com/doc/$id",
            s"<urn:uuid:conv-$id>",
            s"<urn:uuid:resp-$id>",
            FixtureDate,
            text
          )
        )
      }
      .toDF("g", "doc_id", "record_bytes")
  }

  /** The `conversion` records of a WET directory, text decoded — the
    * read half of the sidecar round-trip.
    */
  def conversions(spark: SparkSession, dir: String, glob: String = "*.warc*"): DataFrame =
    respread(
      spark,
      read(spark, dir, glob)
        .filter(col("malformed").isNull && col("warc_type") === "conversion")
    )
      .select(
        col("path"),
        col("record_id"),
        col("target_uri"),
        expr("decode(block, 'UTF-8')").as("text")
      )

  /** Deterministic WET fixture: the dirty-page corpus extracted
    * ([[graft.operators.Html.extract]], all-boilerplate pages dropped),
    * published as WET shards once per corpus fingerprint.
    */
  def ensureWetDir(sfDir: String, docs: DataFrame): String =
    ensureShards("wet-fixture", sfDir, docs, 1) {
      conversionRecords(
        graft.operators.Html
          .extract(graft.operators.Html.dirtyHtml(docs))
          .filter(col("n_good") > 0)
          .select(col("doc_id"), col("extracted").as("text"))
      )
    }

  // ------------------------------------------------------------ redirects

  /** A `response` record carrying an HTTP/1.1 301 with a `Location`
    * header and an empty body — the redirect shape [[graft.operators.Redirects]]
    * resolves. `location` may be relative (RFC 7231 permits it; the
    * parser resolves it against the request URI).
    */
  def redirectRecord(uri: String, recordId: String, warcDate: String, location: String): Array[Byte] = {
    val http =
      (s"HTTP/1.1 301 Moved Permanently${Crlf}Location: $location$Crlf" +
        s"Content-Length: 0$Crlf$Crlf").getBytes("UTF-8")
    renderRecord(
      "response",
      recordId,
      Some(uri),
      warcDate,
      "application/http; msgtype=response",
      http
    )
  }

  /** Deterministic redirect-archive fixture: every doc is a response at
    * `http://example.com/doc/<id>`; a doc_id-arithmetic rule makes some
    * of them 301s (priority order — earlier wins):
    *
    *   - id≡7 (mod 16)  → `/doc/(id+8)` — one half of an a↔b CYCLE;
    *   - id≡15 (mod 16) → `/doc/(id-8)` — the other half;
    *   - id≡11 (mod 16) → `http://example.com/ext/<id>` — DANGLING
    *     (a target outside the fetched corpus);
    *   - id≡3 (mod 8)   → `/doc/(id-2)` — a 2-hop chain head (the
    *     target is itself a 1-hop redirect);
    *   - id≡1 (mod 4)   → `/doc/(id-1)` as a RELATIVE Location (RFC
    *     7231) — 1-hop to a terminal 200;
    *   - else a 200 with a tiny body.
    *
    * Cycle halves and chain heads use absolute Locations, the 1-hop rule
    * a relative one, so both resolution paths are exercised.
    */
  def ensureRedirectDir(sfDir: String, docs: DataFrame): String =
    ensureShards("redir-fixture", sfDir, docs, 1) {
      val spark = docs.sparkSession
      import spark.implicits._
      docs
        .select(col("doc_id"))
        .as[Long]
        .map { id =>
          val uri = s"http://example.com/doc/$id"
          val rec =
            if (id % 16 == 7) redirectRecord(uri, s"<urn:uuid:red-$id>", FixtureDate, s"http://example.com/doc/${id + 8}")
            else if (id % 16 == 15) redirectRecord(uri, s"<urn:uuid:red-$id>", FixtureDate, s"http://example.com/doc/${id - 8}")
            else if (id % 16 == 11) redirectRecord(uri, s"<urn:uuid:red-$id>", FixtureDate, s"http://example.com/ext/$id")
            else if (id % 8 == 3) redirectRecord(uri, s"<urn:uuid:red-$id>", FixtureDate, s"http://example.com/doc/${id - 2}")
            else if (id % 4 == 1) redirectRecord(uri, s"<urn:uuid:red-$id>", FixtureDate, s"/doc/${id - 1}")
            else responseRecord(uri, s"<urn:uuid:resp-$id>", FixtureDate, s"<p>ok $id</p>")
          ((id % Shards).toInt, id, rec)
        }
        .toDF("g", "doc_id", "record_bytes")
    }

  // ----------------------------------------------------- payload revisit

  /** Re-capture dates for [[ensureRevisitDir]]'s lanes (strictly after
    * [[FixtureDate]], so "earliest capture" is date-decided).
    */
  val RevisitDate = "2026-02-01T00:00:00Z"
  val MirrorDate = "2026-03-01T00:00:00Z"

  /** Multi-capture archive for payload-digest deduplication: every doc is
    * captured once at [[FixtureDate]]; docs with `doc_id % 3 = 0` are
    * RE-captured at [[RevisitDate]] with an identical payload (the
    * unchanged-page revisit case), docs with `doc_id % 3 = 1` re-capture
    * with a CHANGED payload (a genuinely new snapshot — must NOT dedup),
    * and docs with `doc_id % 5 = 0` are also captured under a mirror host
    * at [[MirrorDate]] with the identical payload (digest dedup is
    * GLOBAL, not per-URI — the mirror must resolve to the original host's
    * capture).
    */
  def ensureRevisitDir(sfDir: String, docs: DataFrame): String =
    ensureShards("revisit-fixture", sfDir, docs, 1) {
      val spark = docs.sparkSession
      import spark.implicits._
      graft.operators.Html
        .dirtyHtml(docs)
        .as[(Long, String)]
        .flatMap { case (id, html) =>
          val uri = s"http://example.com/doc/$id"
          val first =
            Seq(((id % Shards).toInt, id, 0, responseRecord(uri, s"<urn:uuid:resp-$id>", FixtureDate, html)))
          val recap =
            if (id % 3 == 0)
              Seq(((id % Shards).toInt, id, 1, responseRecord(uri, s"<urn:uuid:resp2-$id>", RevisitDate, html)))
            else if (id % 3 == 1)
              Seq(((id % Shards).toInt, id, 1, responseRecord(uri, s"<urn:uuid:resp2-$id>", RevisitDate, html + "<!-- updated -->")))
            else Nil
          val mirror =
            if (id % 5 == 0)
              Seq(((id % Shards).toInt, id, 2, responseRecord(s"http://mirror.example.com/doc/$id", s"<urn:uuid:mirror-$id>", MirrorDate, html)))
            else Nil
          first ++ recap ++ mirror
        }
        .toDF("g", "doc_id", "sub", "record_bytes")
    }

  /** Payload-digest revisit resolution — the Common-Crawl dedup shape
    * (ISO 28500 `revisit` records reference a prior capture by
    * `WARC-Payload-Digest`): digest every capture's decoded payload,
    * pick the earliest capture per digest GLOBALLY (an identical page
    * under a mirror host still dedups), and mark every later same-digest
    * capture as a revisit of that original. A re-capture whose content
    * actually changed hashes to a fresh digest and stays an original.
    *
    * Scale shape: the arg-min per digest is a partial-aggregable
    * hash-aggregate (a viral payload captured millions of times combines
    * map-side), and the annotate-back join is digest-keyed — candidates
    * meet only within their duplicate cluster, never all-pairs.
    */
  def revisitCaptures(resp: DataFrame): DataFrame =
    revisitResolved(resp).drop("record_id", "ref_id")

  /** [[revisitCaptures]] plus the capture/original RECORD IDS — what the
    * deduped-archive writer needs for `WARC-Refers-To`. The per-digest
    * original is `min(struct(warc_date, url, record_id))`: the composite
    * struct-min makes the earliest-capture choice fully deterministic
    * even when two captures of one digest share a date (min_by alone
    * tie-breaks arbitrarily in both engines — the bit-determinism
    * discipline forbids that).
    */
  private[graft] def revisitResolved(resp: DataFrame): DataFrame = {
    val caps = resp.select(
      col("target_uri").as("url"),
      col("warc_date"),
      col("record_id"),
      md5(col("body_text")).as("digest")
    )
    val firsts = caps
      .groupBy(col("digest"))
      .agg(
        min(struct(col("warc_date"), col("url"), col("record_id"))).as("fst")
      )
      .select(
        col("digest"),
        col("fst.warc_date").as("first_date"),
        col("fst.url").as("first_url"),
        col("fst.record_id").as("first_id")
      )
    // strictly-later OR same-date-but-not-the-chosen-original: exactly
    // the complement of the struct-min row, so every digest has ONE
    // original no matter how dates collide
    val isOriginal =
      col("warc_date") === col("first_date") &&
        col("url") === col("first_url") &&
        col("record_id") === col("first_id")
    caps
      .join(firsts, Seq("digest"))
      .select(
        col("url"),
        col("warc_date"),
        col("record_id"),
        col("digest"),
        (!isOriginal).as("is_revisit"),
        when(!isOriginal, col("first_url")).as("ref_url"),
        when(!isOriginal, col("first_date")).as("ref_date"),
        when(!isOriginal, col("first_id")).as("ref_id")
      )
  }

  /** One `revisit` record (ISO 28500 §6.7.2, identical-payload-digest
    * profile) as bytes: `WARC-Profile`, `WARC-Refers-To` naming the
    * original capture's record id, `WARC-Payload-Digest`, and an EMPTY
    * block — the capture's identity (its own record id, URI, date) is
    * preserved while the payload bytes live only in the original. This
    * is exactly the record shape Common Crawl publishes for
    * deduplicated captures.
    */
  val RevisitProfile = "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"

  def revisitRecord(
      uri: String,
      recordId: String,
      warcDate: String,
      refersTo: String,
      payloadDigest: String
  ): Array[Byte] =
    renderRecord(
      "revisit",
      recordId,
      Some(uri),
      warcDate,
      "application/http; msgtype=response",
      Array.emptyByteArray,
      extra = Seq(
        "WARC-Profile" -> RevisitProfile,
        "WARC-Refers-To" -> refersTo,
        "WARC-Payload-Digest" -> payloadDigest
      )
    )

  /** The DEDUPLICATED twin of [[ensureRevisitDir]]'s multi-capture
    * archive, built once per corpus fingerprint: every capture keeps its
    * record identity, but later same-digest captures are written as
    * payload-free `revisit` records ([[revisitRecord]]) referencing the
    * per-digest original; originals are re-rendered with a
    * `WARC-Payload-Digest` header (the production response-record shape)
    * so the read side resolves revisits by digest from headers alone —
    * no payload decode during index build. Shard layout is deterministic
    * (doc-keyed groups, date-ordered within doc), so shard bytes are a
    * pure function of the corpus.
    */
  def ensureDedupedDir(sfDir: String, docs: DataFrame): String = {
    val revDir = ensureRevisitDir(sfDir, docs)
    ensureShards("revisit-deduped", sfDir, docs, 1) {
      val spark = docs.sparkSession
      import spark.implicits._
      val verdicts = revisitResolved(responses(spark, revDir))
        .select(col("record_id"), col("digest"), col("is_revisit"), col("ref_id"))
      val recs = read(spark, revDir)
        .filter(col("malformed").isNull && col("warc_type") === "response")
        .select(
          col("record_id"),
          col("target_uri"),
          col("warc_date"),
          col("content_type"),
          col("block")
        )
      recs
        .join(verdicts, Seq("record_id"))
        .select(
          pmod(regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast(LongType), lit(Shards.toLong))
            .cast("int")
            .as("g"),
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast(LongType).as("doc_id"),
          col("record_id"),
          col("target_uri"),
          col("warc_date"),
          col("content_type"),
          col("block"),
          col("digest"),
          col("is_revisit"),
          col("ref_id")
        )
        .as[(Int, Long, String, String, String, String, Array[Byte], String, Boolean, String)]
        .map { case (g, docId, rid, uri, date, ctype, block, digest, isRev, refId) =>
          val bytes =
            if (isRev) revisitRecord(uri, rid, date, refId, s"md5:$digest")
            else
              renderRecord(
                "response",
                rid,
                Some(uri),
                date,
                ctype,
                block,
                extra = Seq("WARC-Payload-Digest" -> s"md5:$digest")
              )
          (g, docId, date, rid, bytes)
        }
        .toDF("g", "doc_id", "warc_date", "record_id", "record_bytes")
    }
  }

  /** The OTHER ISO 28500 §6.7.3 revisit profile: `server-not-modified` —
    * the crawler re-fetched and the server answered 304, so there is no
    * payload and no payload digest; the record refers to a prior capture
    * of the SAME URI by `WARC-Refers-To-Target-URI` + `WARC-Refers-To-
    * Date`, and the block carries the 304 status line (the response the
    * server actually sent).
    */
  val NotModifiedProfile =
    "http://netpreserve.org/warc/1.0/revisit/server-not-modified"

  def notModifiedRecord(
      uri: String,
      recordId: String,
      warcDate: String,
      refersToUri: String,
      refersToDate: String
  ): Array[Byte] =
    renderRecord(
      "revisit",
      recordId,
      Some(uri),
      warcDate,
      "application/http; msgtype=response",
      s"HTTP/1.1 304 Not Modified$Crlf$Crlf".getBytes("UTF-8"),
      extra = Seq(
        "WARC-Profile" -> NotModifiedProfile,
        "WARC-Refers-To-Target-URI" -> refersToUri,
        "WARC-Refers-To-Date" -> refersToDate
      )
    )

  /** Conditional-GET archive fixture: every doc captured once at
    * [[FixtureDate]]; docs with `doc_id % 4 = 1` are re-fetched at
    * [[RevisitDate]] and the server answers 304 — the crawler records a
    * [[notModifiedRecord]] instead of a payload.
    */
  def ensureNotModifiedDir(sfDir: String, docs: DataFrame): String =
    ensureShards("notmod-fixture", sfDir, docs, 1) {
      val spark = docs.sparkSession
      import spark.implicits._
      graft.operators.Html
        .dirtyHtml(docs)
        .as[(Long, String)]
        .flatMap { case (id, html) =>
          val uri = s"http://example.com/doc/$id"
          val first =
            Seq(((id % Shards).toInt, id, 0, responseRecord(uri, s"<urn:uuid:resp-$id>", FixtureDate, html)))
          val nm =
            if (id % 4 == 1)
              Seq(((id % Shards).toInt, id, 1,
                notModifiedRecord(uri, s"<urn:uuid:nm-$id>", RevisitDate, uri, FixtureDate)))
            else Nil
          first ++ nm
        }
        .toDF("g", "doc_id", "sub", "record_bytes")
    }

  /** Resolve `server-not-modified` revisits: each 304 capture takes the
    * payload of the LATEST prior capture of the SAME URI — a left AS-OF
    * join ([[graft.operators.AsofJoin.leftAsof]]: one key-partitioned
    * tagged-union window, no pair blowup, exactly the point-in-time
    * lookup this profile's semantics are). Identical-payload revisits
    * resolve GLOBALLY by digest ([[resolveRevisits]]); not-modified
    * revisits resolve PER-URI by time — the two profiles' defining
    * difference. Columns: url, warc_date, via_revisit, body_text.
    */
  def resolveNotModified(spark: SparkSession, dir: String): DataFrame = {
    val recs = respread(spark, read(spark, dir).filter(col("malformed").isNull))
    val orig = recs
      .filter(col("warc_type") === "response")
      .withColumn("_hb", graft.functions.HttpBody.httpBody(col("block")))
      .select(
        col("target_uri").as("url"),
        col("warc_date"),
        col("record_id"),
        col("_hb.text").as("body_text")
      )
    val revs = recs
      .filter(col("warc_type") === "revisit")
      .select(col("target_uri").as("url"), col("warc_date"))
    // record_id tiebreak: two prior captures of the same URI at the SAME
    // warc_date (legal — second-resolution timestamps) must carry a
    // deterministic payload, not a partition-order-dependent one; the
    // greatest record id wins, mirroring revisitCaptures' struct-min
    // discipline.
    val resolved = graft.operators.AsofJoin
      .leftAsof(
        revs, orig, "url", "warc_date", "body_text", "resolved_body",
        tieCol = Some("record_id"))
      .select(
        col("url"),
        col("warc_date"),
        lit(true).as("via_revisit"),
        col("resolved_body").as("body_text")
      )
    orig
      .select(col("url"), col("warc_date"), lit(false).as("via_revisit"), col("body_text"))
      .unionByName(resolved)
  }

  /** [[read]] with the revisit-resolution headers surfaced — the walk a
    * deduplicated archive's consumers run. Same streaming framer,
    * record-sized residency; `read()`'s public 10-column schema stays
    * untouched.
    */
  private def readWithRevisitHeaders(spark: SparkSession, dir: String): DataFrame = {
    val ext = StructType(
      schema.fields ++ Seq(
        StructField("payload_digest", StringType),
        StructField("refers_to", StringType)
      )
    )
    val enc = org.apache.spark.sql.Encoders.row(ext)
    val paths = listShardPaths(spark, dir, "*.warc*")
    val hconf = graft.util.HadoopConfs.capture(spark)
    spark
      .createDataset(paths)(org.apache.spark.sql.Encoders.STRING)
      .repartition(math.max(paths.size, 1))
      .mapPartitions { it =>
        val conf = graft.util.HadoopConfs.build(hconf)
        it.flatMap { pathStr =>
          val in = openShard(conf, pathStr)
          closeOnExhaust(
            new RecordStream(pathStr, in).map { w =>
              Row(
                w.path, w.recOffset, w.warcType, w.recordId, w.targetUri, w.warcDate,
                w.contentType, w.contentLength, w.block, w.malformed,
                w.payloadDigest, w.refersTo
              )
            },
            () => in.close()
          )
        }
      }(enc)
  }

  /** Resolve a DEDUPLICATED archive back to its full capture table: one
    * row per capture (original or revisit) with the capture's own
    * identity and the RESOLVED payload — a revisit meets its original ON
    * DIGEST, the Common-Crawl consumer flow.
    *
    * Scale shape: a FULL-archive resolution is one streaming walk per
    * shard (record-sized residency), originals' payloads decoded in
    * place, and ONE digest-keyed join routing each revisit to its
    * original's decoded body — revisit clusters meet digest-keyed, never
    * all-pairs, and no payload byte is read twice. (Resolving a SMALL
    * capture subset is the other access pattern: captures join their
    * originals on digest and the original members come back through
    * [[fetch]]'s ranged point reads — k captures cost k few-KB seeks,
    * never a shard walk. This function deliberately does NOT use point
    * reads: fetching every original individually re-opens shards per
    * member, measured 14.0 s point-read vs 4.2 s walk at sf1.) Columns:
    * url, warc_date, stored_digest, stored_block_len, via_revisit,
    * body_text.
    */
  def resolveRevisits(spark: SparkSession, dir: String): DataFrame = {
    val recs = respread(
      spark,
      readWithRevisitHeaders(spark, dir).filter(col("malformed").isNull)
    )
    val orig = recs
      .filter(col("warc_type") === "response")
      .withColumn("_hb", graft.functions.HttpBody.httpBody(col("block")))
      .select(
        col("target_uri").as("url"),
        col("warc_date"),
        col("payload_digest").as("stored_digest"),
        col("content_length").as("stored_block_len"),
        col("_hb.text").as("body_text")
      )
    val revs = recs
      .filter(col("warc_type") === "revisit")
      .select(
        col("target_uri").as("url"),
        col("warc_date"),
        col("payload_digest").as("stored_digest"),
        col("content_length").as("stored_block_len")
      )
    val origRows = orig.withColumn("via_revisit", lit(false))
    // Robust against archives that are NOT ensureDedupedDir output:
    //   - multiple originals sharing a digest (legal in real deduplicated
    //     archives after a cross-crawl merge) collapse to ONE body per
    //     digest — a deterministic struct-min by (warc_date, url), never
    //     a fan-out of each revisit into duplicate rows (same payload
    //     bytes by definition of the digest, so min() only picks WHICH
    //     identical body is carried);
    //   - a revisit whose original is absent (partial / cross-crawl
    //     archive slice) survives with a NULL body instead of silently
    //     dropping — the consumer sees the unresolved capture.
    // Both fixes are map-side-combinable aggregates / a left join on the
    // same digest key: the join stays duplicate-cluster-sized.
    val bodyPerDigest = orig
      .groupBy(col("stored_digest").as("_pd"))
      .agg(min(struct(col("warc_date"), col("url"), col("body_text"))).as("_first"))
      .select(col("_pd"), col("_first.body_text").as("body_text"))
    val revRows = revs
      .join(bodyPerDigest, col("stored_digest") === col("_pd"), "left")
      .drop("_pd")
      .withColumn("via_revisit", lit(true))
    origRows.unionByName(revRows)
  }

  // ----------------------------------------------------------------- WAT

  /** One WAT `metadata` record (the Common-Crawl link-metadata sidecar
    * convention): `Content-Type: application/json`, `WARC-Refers-To`
    * naming the response it describes, block = the JSON envelope. The
    * envelope here is the documented SUBSET
    * `{"url":"…","links":["…",…]}` — the full WAT format nests HTTP
    * headers and more; canonical URLs contain no JSON-significant
    * characters, so assembly is plain concatenation (a production writer
    * over arbitrary metadata would JSON-escape).
    */
  def metadataRecord(
      uri: String,
      recordId: String,
      refersTo: String,
      warcDate: String,
      json: String
  ): Array[Byte] =
    renderRecord(
      "metadata",
      recordId,
      Some(uri),
      warcDate,
      "application/json",
      json.getBytes("UTF-8"),
      extra = Seq("WARC-Refers-To" -> refersTo)
    )

  /** Per-page WAT envelopes (`doc_id`, `wat` JSON string) as sidecar
    * metadata records.
    */
  private def metadataRecords(envelopes: DataFrame): DataFrame = {
    val spark = envelopes.sparkSession
    import spark.implicits._
    envelopes
      .select(col("doc_id"), col("wat"))
      .as[(Long, String)]
      .map { case (id, json) =>
        (
          (id % Shards).toInt,
          id,
          metadataRecord(
            s"http://example.com/doc/$id",
            s"<urn:uuid:wat-$id>",
            s"<urn:uuid:resp-$id>",
            FixtureDate,
            json
          )
        )
      }
      .toDF("g", "doc_id", "record_bytes")
  }

  /** The `metadata` records of a WAT directory, JSON decoded — the read
    * half of the sidecar round-trip.
    */
  def watRecords(spark: SparkSession, dir: String, glob: String = "*.warc*"): DataFrame =
    respread(
      spark,
      read(spark, dir, glob)
        .filter(col("malformed").isNull && col("warc_type") === "metadata")
    )
      .select(
        col("path"),
        col("record_id"),
        col("target_uri"),
        expr("decode(block, 'UTF-8')").as("wat")
      )

  /** Deterministic WAT fixture: each dirty page's hrefs resolved (RFC
    * 3986) against its archive fetch URI and canonicalized, the sorted
    * distinct link set assembled into the JSON envelope, published as
    * WAT shards once per corpus fingerprint — the link-graph sidecar a
    * crawl publishes beside WARC and WET.
    */
  def ensureWatDir(sfDir: String, docs: DataFrame): String =
    ensureShards("wat-fixture", sfDir, docs, 1) {
      import graft.operators.Urls
      val uri = concat(lit("http://example.com/doc/"), col("doc_id"))
      val links = graft.operators.Html
        .dirtyHtml(docs)
        .select(
          col("doc_id"),
          explode(
            regexp_extract_all(col("html"), lit("href=\"([^\"]*)\""), lit(1))
          ).as("href")
        )
        .select(col("doc_id"), Urls.normalizeUrl(Urls.resolveUrl(uri, col("href"))).as("link"))
        .groupBy(col("doc_id"))
        .agg(array_sort(collect_set(col("link"))).as("ls"))
      val envelopes = links.select(
        col("doc_id"),
        concat(
          lit("{\"url\":\"http://example.com/doc/"),
          col("doc_id"),
          lit("\",\"links\":["),
          concat_ws(",", transform(col("ls"), l => concat(lit("\""), l, lit("\"")))),
          lit("]}")
        ).as("wat")
      )
      metadataRecords(envelopes)
    }

  // ------------------------------------------------------------- the parse

  private[graft] final case class Rec(
      path: String,
      recOffset: Long,
      warcType: String,
      recordId: String,
      targetUri: String,
      warcDate: String,
      contentType: String,
      contentLength: Long,
      block: Array[Byte],
      malformed: String,
      // optional revisit-resolution headers (ISO 28500 §6.7.2); null when
      // absent — [[read]]'s 10-column schema never surfaces them, only
      // [[readWithRevisitHeaders]] does
      refersTo: String = null,
      payloadDigest: String = null
  )

  /** Streaming record framer over a DECOMPRESSED shard stream — the
    * incremental form of [[parseShard]] with identical framing and
    * malformed semantics (`bad-version` / `bad-length` / `truncated`,
    * halt-on-first), but RECORD-sized residency: only the in-flight
    * record's block is ever materialized. A gzip member corrupted
    * mid-stream surfaces here as end-of-stream (the inflater's
    * ZipException/EOFException), so the in-flight record reports
    * `truncated` — same resync discipline, no task failure.
    *
    * Records > 2 GiB report `bad-length`: a block must fit one binary
    * column value — the per-RECORD row-width bound that replaced the old
    * per-SHARD `binaryFile` cap.
    */
  private[graft] final class RecordStream(path: String, in0: java.io.InputStream)
      extends Iterator[Rec] {
    private val in = new java.io.BufferedInputStream(in0, 1 << 16)
    private var pos = 0L // offset in the decompressed stream
    private var eof = false
    private var halted = false
    private var pushed = -1
    private var pending: Rec = null

    private def readByte(): Int = {
      if (pushed >= 0) { val b = pushed; pushed = -1; pos += 1; return b }
      if (eof) return -1
      val b =
        try in.read()
        catch {
          case _: java.util.zip.ZipException => -1
          case _: java.io.EOFException => -1
        }
      if (b < 0) eof = true else pos += 1
      b
    }

    private def push(b: Int): Unit = { pushed = b; pos -= 1 }

    /** One header line, CRLF- (or bare-LF-) terminated; "" at EOF. */
    private def readLine(): String = {
      val bos = new ByteArrayOutputStream(64)
      var b = readByte()
      while (b >= 0 && b != '\n') { bos.write(b); b = readByte() }
      val arr = bos.toByteArray
      val n = if (arr.nonEmpty && arr(arr.length - 1) == '\r') arr.length - 1 else arr.length
      new String(arr, 0, n, "UTF-8")
    }

    /** Read exactly `want` block bytes; (partial bytes, false) at EOF. */
    private def readBlock(want: Int): (Array[Byte], Boolean) = {
      val arr = new Array[Byte](want)
      var off = 0
      if (pushed >= 0 && want > 0) { arr(0) = pushed.toByte; pushed = -1; pos += 1; off = 1 }
      var n = 0
      while (off < want && n >= 0) {
        n =
          try in.read(arr, off, want - off)
          catch {
            case _: java.util.zip.ZipException => -1
            case _: java.io.EOFException => -1
          }
        if (n > 0) { off += n; pos += n }
      }
      if (off == want) (arr, true)
      else { eof = true; (java.util.Arrays.copyOf(arr, off), false) }
    }

    private def advance(): Unit = {
      if (halted) return
      var b = readByte()
      while (b == '\r' || b == '\n') b = readByte()
      if (b < 0) return // clean end on a record boundary
      push(b)
      val recOff = pos
      val version = readLine()
      def header(m: scala.collection.Map[String, String], k: String): String =
        m.getOrElse(k, null)
      if (!version.startsWith("WARC/")) {
        pending = Rec(path, recOff, null, null, null, null, null, -1L, null, "bad-version")
        halted = true // no trustworthy length — cannot resync inside this stream
        return
      }
      val headers = scala.collection.mutable.Map.empty[String, String]
      var open = true
      while (open && !(eof && pushed < 0)) {
        val l = readLine()
        if (l.isEmpty) open = false
        else {
          val i = l.indexOf(':')
          if (i > 0) headers += (l.take(i).trim.toLowerCase -> l.drop(i + 1).trim)
        }
      }
      val wType = header(headers, "warc-type")
      val wId = header(headers, "warc-record-id")
      val wUri = header(headers, "warc-target-uri")
      val wDate = header(headers, "warc-date")
      val cType = header(headers, "content-type")
      val wRef = header(headers, "warc-refers-to")
      val wDig = header(headers, "warc-payload-digest")
      headers.get("content-length").flatMap(_.toLongOption) match {
        case None =>
          pending = Rec(path, recOff, wType, wId, wUri, wDate, cType, -1L, null, "bad-length", wRef, wDig)
          halted = true
        case Some(n) if n < 0L || n > (Int.MaxValue.toLong - 16) =>
          pending = Rec(path, recOff, wType, wId, wUri, wDate, cType, n, null, "bad-length", wRef, wDig)
          halted = true
        case Some(n) =>
          val (blk, complete) = readBlock(n.toInt)
          if (!complete) {
            pending = Rec(path, recOff, wType, wId, wUri, wDate, cType, n, blk, "truncated", wRef, wDig)
            halted = true
          } else pending = Rec(path, recOff, wType, wId, wUri, wDate, cType, n, blk, null, wRef, wDig)
      }
    }

    def hasNext: Boolean = {
      if (pending == null) advance()
      pending != null
    }
    def next(): Rec = {
      if (!hasNext) throw new NoSuchElementException
      val r = pending
      pending = null
      r
    }
  }

  /** Decompress (if gzipped — Java's GZIPInputStream consumes
    * concatenated members natively) and frame every record in a shard —
    * the BUFFER-shaped twin of [[RecordStream]], kept for the paths that
    * already hold record-sized byte slices ([[fetch]]'s ranged reads,
    * per-member framing in [[memberIndex]]).
    */
  private[graft] def parseShard(path: String, raw: Array[Byte]): Seq[Rec] = {
    val bytes =
      if (raw.length >= 2 && (raw(0) & 0xff) == 0x1f && (raw(1) & 0xff) == 0x8b) {
        val in = new GZIPInputStream(new ByteArrayInputStream(raw), 1 << 16)
        val out = new ByteArrayOutputStream(raw.length * 4)
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        out.toByteArray
      } else raw
    val recs = scala.collection.mutable.ArrayBuffer.empty[Rec]
    var pos = 0
    def lineAt(p: Int): (String, Int) = {
      // a header line, CRLF- (or bare-LF-) terminated
      var e = p
      while (e < bytes.length && bytes(e) != '\n') e += 1
      val cut = if (e > p && bytes(e - 1) == '\r') e - 1 else e
      (new String(bytes, p, cut - p, "UTF-8"), math.min(e + 1, bytes.length))
    }
    var halt = false
    while (!halt && pos < bytes.length) {
      // skip inter-record CRLFs
      while (pos < bytes.length && (bytes(pos) == '\r' || bytes(pos) == '\n')) pos += 1
      if (pos < bytes.length) {
        val recOff = pos.toLong
        val (version, afterV) = lineAt(pos)
        if (!version.startsWith("WARC/")) {
          recs += Rec(path, recOff, null, null, null, null, null, -1L, null, "bad-version")
          halt = true // no trustworthy length — cannot resync inside this stream
        } else {
          var p = afterV
          val headers = scala.collection.mutable.Map.empty[String, String]
          var open = true
          while (open && p < bytes.length) {
            val (l, np) = lineAt(p)
            p = np
            if (l.isEmpty) open = false
            else {
              val i = l.indexOf(':')
              if (i > 0) headers += (l.take(i).trim.toLowerCase -> l.drop(i + 1).trim)
            }
          }
          val len = headers.get("content-length").flatMap(_.toLongOption)
          len match {
            case None =>
              recs += Rec(
                path, recOff,
                headers.getOrElse("warc-type", null),
                headers.getOrElse("warc-record-id", null),
                headers.getOrElse("warc-target-uri", null),
                headers.getOrElse("warc-date", null),
                headers.getOrElse("content-type", null),
                -1L, null, "bad-length"
              )
              halt = true
            case Some(n) if p + n > bytes.length =>
              recs += Rec(
                path, recOff,
                headers.getOrElse("warc-type", null),
                headers.getOrElse("warc-record-id", null),
                headers.getOrElse("warc-target-uri", null),
                headers.getOrElse("warc-date", null),
                headers.getOrElse("content-type", null),
                n, java.util.Arrays.copyOfRange(bytes, p, bytes.length), "truncated",
                headers.getOrElse("warc-refers-to", null),
                headers.getOrElse("warc-payload-digest", null)
              )
              halt = true
            case Some(n) =>
              recs += Rec(
                path, recOff,
                headers.getOrElse("warc-type", null),
                headers.getOrElse("warc-record-id", null),
                headers.getOrElse("warc-target-uri", null),
                headers.getOrElse("warc-date", null),
                headers.getOrElse("content-type", null),
                n, java.util.Arrays.copyOfRange(bytes, p, p + n.toInt), null,
                headers.getOrElse("warc-refers-to", null),
                headers.getOrElse("warc-payload-digest", null)
              )
              pos = p + n.toInt
          }
        }
      }
    }
    recs.toSeq
  }
}
