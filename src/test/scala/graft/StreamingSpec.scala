package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams
import graft.streaming.EventStreams.{UserEvent, UserStats}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("hourlyStats under streaming equals the same transform under batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      ("2024-01-01 10:05:00", "click", 1.0),
      ("2024-01-01 10:55:00", "click", 2.0),
      ("2024-01-01 10:30:00", "view", 5.0),
      ("2024-01-01 11:10:00", "click", 3.0)
    ).map { case (t, ty, v) => (Timestamp.valueOf(t), ty, v) }

    val stream = MemoryStream[(Timestamp, String, Double)]
    val streamingDf = EventStreams.hourlyStats(
      stream.toDF().toDF("event_time", "event_type", "value")
    )
    val q = streamingDf.writeStream
      .format("memory")
      .queryName("hourly_out")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      stream.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark
        .table("hourly_out")
        .orderBy("window_start", "event_type")
        .as[(Timestamp, String, Long, Double)]
        .collect()
        .toSeq
      val batch = EventStreams
        .hourlyStats(rows.toDF("event_time", "event_type", "value"))
        .orderBy("window_start", "event_type")
        .as[(Timestamp, String, Long, Double)]
        .collect()
        .toSeq
      assert(streamed === batch)
      assert(
        batch === Seq(
          (Timestamp.valueOf("2024-01-01 10:00:00"), "click", 2L, 3.0),
          (Timestamp.valueOf("2024-01-01 10:00:00"), "view", 1L, 5.0),
          (Timestamp.valueOf("2024-01-01 11:00:00"), "click", 1L, 3.0)
        )
      )
    } finally q.stop()
  }

  test("slidingStats under streaming equals batch; each event hits its 4 hop windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      ("2024-01-01 10:05:00", "click", 1.0),
      ("2024-01-01 10:20:00", "view", 5.0)
    ).map { case (t, ty, v) => (Timestamp.valueOf(t), ty, v) }
    val stream = MemoryStream[(Timestamp, String, Double)]
    val q = EventStreams
      .slidingStats(stream.toDF().toDF("event_time", "event_type", "value"))
      .writeStream
      .format("memory")
      .queryName("sliding_out")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      stream.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark
        .table("sliding_out")
        .orderBy("window_start", "event_type")
        .as[(Timestamp, String, Long, Double)]
        .collect()
        .toSeq
      val batch = EventStreams
        .slidingStats(rows.toDF("event_time", "event_type", "value"))
        .orderBy("window_start", "event_type")
        .as[(Timestamp, String, Long, Double)]
        .collect()
        .toSeq
      assert(streamed === batch)
      // a 10:05 event belongs to windows starting 09:15..10:00 (4 hops)
      assert(
        batch.filter(_._2 == "click").map(_._1) === Seq(
          Timestamp.valueOf("2024-01-01 09:15:00"),
          Timestamp.valueOf("2024-01-01 09:30:00"),
          Timestamp.valueOf("2024-01-01 09:45:00"),
          Timestamp.valueOf("2024-01-01 10:00:00")
        )
      )
      assert(batch.count(_._2 == "view") === 4)
    } finally q.stop()
  }

  test("stateful per-user rollup accumulates across triggers and evicts idle state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(t: String) = Timestamp.valueOf(t)
    val stream = MemoryStream[UserEvent]
    val q = EventStreams
      .runningUserStats(stream.toDS(), ttlMs = 3600L * 1000)
      .writeStream
      .format("memory")
      .queryName("user_stats")
      .outputMode(OutputMode.Update())
      .start()
    try {
      // batch 1: user 1 accumulates; timeout armed at 11:00 (+1 h TTL)
      stream.addData(
        UserEvent(1L, "click", 1.0, at("2024-01-01 09:55:00")),
        UserEvent(1L, "view", 2.0, at("2024-01-01 10:00:00"))
      )
      q.processAllAvailable()
      // batch 2: same-user update still accumulates (state survived)
      stream.addData(UserEvent(1L, "click", 4.0, at("2024-01-01 10:05:00")))
      q.processAllAvailable()
      // batch 3: other user far in event time → after this batch the
      // watermark (14:00 - 10 s) is past user 1's 11:05 timeout
      stream.addData(UserEvent(2L, "click", 7.0, at("2024-01-01 14:00:00")))
      q.processAllAvailable()
      // batch 4: user 1 timed out here (no data for it) → final emit + evict;
      // batch 5: user 1 returns → counter restarts from a FRESH state
      stream.addData(UserEvent(2L, "view", 1.0, at("2024-01-01 14:01:00")))
      q.processAllAvailable()
      stream.addData(UserEvent(1L, "click", 5.0, at("2024-01-01 14:30:00")))
      q.processAllAvailable()
      val rows = spark
        .table("user_stats")
        .as[(Long, Long, Double)]
        .collect()
        .toSeq
      val u1 = rows.filter(_._1 == 1L).map(r => (r._2, r._3))
      assert(u1.contains((3L, 7.0)), s"pre-eviction rollup accumulated: $u1")
      assert(
        u1.contains((1L, 5.0)),
        s"post-eviction event must restart from fresh state (TTL eviction): $u1"
      )
      val u2 = rows.filter(_._1 == 2L).map(r => (r._2, r._3))
      assert(u2.contains((2L, 8.0)), s"user 2 accumulated: $u2")
    } finally q.stop()
  }

  implicit class Tup3Ops(rows: Array[(Long, Long, Double)]) {
    def toMap0: Map[Long, (Long, Double)] = rows.map(r => r._1 -> (r._2, r._3)).toMap
  }

  test("streaming CM-sketch maintenance: merged batch partials equal the whole-corpus sketch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_skstream").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val (half1, half2) = docs.splitAt(docs.length / 2)

    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.SketchStream
      .sketchUpsert(stream.toDF().toDF("doc_id", "text"), dir)
      .start()
    try {
      stream.addData(half1: _*); q.processAllAvailable()
      stream.addData(half2: _*); q.processAllAvailable()
    } finally q.stop()

    val merged = graft.streaming.SketchStream.mergedSketch(spark, dir)
    // ground truth: one batch aggregate over the full corpus — the
    // mergeable-state property says the two must be bit-identical
    val whole = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(explode(operators.Text.tokensAll(col("text"))).as("t"))
      .agg(graft.functions.CountMinSketchAgg.cmSketch(col("t"), 4, 256))
      .head().getSeq[Long](0)
    assert(merged.toSeq === whole, "batch partials must merge to the corpus sketch")

    // replay idempotence: re-writing a batch partition cannot double-count
    val before = merged.sum
    val rewrite = spark.createDataset(half2).toDF("doc_id", "text")
      .select(explode(operators.Text.tokensAll(col("text"))).as("t"))
      .agg(graft.functions.CountMinSketchAgg.cmSketch(col("t"), 4, 256).as("sk"))
    rewrite.write.mode("overwrite").parquet(s"$dir/sketches/batch_id=1")
    assert(graft.streaming.SketchStream.mergedSketch(spark, dir).sum === before)
  }

  test("streaming Bloom ingest: repeats blocked, new docs flow, partials merge to the corpus filter") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_bloomstream").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val (half1, half2) = docs.splitAt(docs.length / 2)
    // batch 2 = genuinely new docs + re-crawled copies of batch-1 docs
    val recrawled = half1.take(10).map { case (id, t) => (id + 1000000L, t) }

    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.BloomStream
      .bloomIngest(stream.toDF().toDF("doc_id", "text"), dir)
      .start()
    try {
      stream.addData(half1: _*); q.processAllAvailable()
      stream.addData((half2 ++ recrawled): _*); q.processAllAvailable()
    } finally q.stop()

    val acc0 = spark.read.parquet(s"$dir/accepted/batch_id=0")
    val acc1 = spark.read.parquet(s"$dir/accepted/batch_id=1")
    assert(acc0.count() === half1.size.toLong, "first batch has no prior filter")
    // no false negatives: every re-crawled copy (same normalized content)
    // must be blocked by the prior filter
    val accepted1 = acc1.select("doc_id").as[Long].collect().toSet
    assert(
      recrawled.forall(r => !accepted1.contains(r._1)),
      "a re-crawled duplicate sailed through the Bloom gate"
    )
    // false-positive loss is the contract's price, but must be small at
    // this sizing (~11% fill, 2 hashes -> ~1% FP)
    assert(
      accepted1.size >= (half2.size * 9) / 10,
      s"only ${accepted1.size}/${half2.size} new docs accepted — FP rate out of contract"
    )

    // mergeable-state property: OR of partials == whole-corpus filter
    val merged = graft.streaming.BloomStream.mergedFilter(spark, dir).get
    val whole = spark.createDataset(docs ++ recrawled).toDF("doc_id", "text")
      .select(md5(graft.operators.Dedup.normText(col("text"))).as("h"))
      .agg(graft.functions.BloomFilterAgg.bloom(col("h"), 4096, 2))
      .head().getSeq[Long](0)
    assert(merged.toSeq === whole, "batch partials must OR-merge to the corpus filter")

    // replay determinism: the batch-1 gate only sees partials with
    // batch_id < 1, so a replay computes the identical accepted set
    val priorFor1 = graft.streaming.BloomStream
      .mergedFilter(spark, dir, beforeBatch = Some(1L)).get
    val only0 = spark.read.parquet(s"$dir/bloom/batch_id=0").head().getSeq[Long](0)
    assert(priorFor1.toSeq === only0, "prior filter for batch 1 must exclude batch >= 1")
  }

  test("streaming URL frontier: normalized-url Bloom blocks dirty re-fetch variants") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_urlfrontier").toString
    // batch 1 = the fetched corpus, already in canonical form
    val corpus = (0L until 40L).map(i => (i, s"http://example$i.com/path?a=1&b=2"))
    // batch 2 = genuinely new urls + DIRTY variants of fetched ones:
    // upper-cased scheme/host, explicit default port, tracking param,
    // re-ordered params, fragment — all normalize onto the batch-1 form
    val fresh = (100L until 140L).map(i => (i, s"http://fresh$i.org/p"))
    val refetch = (0L until 10L).map { i =>
      (1000L + i, s"HTTP://EXAMPLE$i.COM:80/path?b=2&utm_source=x&a=1#frag")
    }

    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.BloomStream
      .bloomIngest(
        stream.toDF().toDF("doc_id", "url"),
        dir,
        key = graft.streaming.BloomStream.urlKey
      )
      .start()
    try {
      stream.addData(corpus: _*); q.processAllAvailable()
      stream.addData((fresh ++ refetch): _*); q.processAllAvailable()
    } finally q.stop()

    assert(
      spark.read.parquet(s"$dir/accepted/batch_id=0").count() === corpus.size.toLong,
      "first batch has no prior filter"
    )
    val accepted1 = spark.read.parquet(s"$dir/accepted/batch_id=1")
      .select("doc_id").as[Long].collect().toSet
    // no false negatives: every dirty variant of a fetched url is blocked
    assert(
      refetch.forall(r => !accepted1.contains(r._1)),
      "a dirty variant of an already-fetched url sailed through the frontier gate"
    )
    // the Bloom's price is FP-only loss on genuinely new urls — small here
    assert(
      accepted1.size >= (fresh.size * 9) / 10,
      s"only ${accepted1.size}/${fresh.size} new urls accepted — FP rate out of contract"
    )
    // the gate really is keyed on the NORMALIZED url: the dirty form and
    // its canonical form hash identically
    val pair = Seq(
      corpus.head._2 -> refetch.head._2
    ).toDF("clean", "dirty")
      .select(
        md5(graft.operators.Urls.normalizeUrl(col("clean"))).as("hc"),
        md5(graft.operators.Urls.normalizeUrl(col("dirty"))).as("hd")
      )
      .head()
    assert(pair.getString(0) === pair.getString(1))
  }

  test("transformWithState rollup matches mapGroupsWithState semantics (accumulate + TTL evict)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(t: String) = Timestamp.valueOf(t)
    // transformWithState requires the RocksDB state store provider
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set(
      provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    val stream = MemoryStream[UserEvent]
    val q = EventStreams
      .runningUserStatsTws(stream.toDS(), ttlMs = 3600L * 1000)
      .writeStream
      .format("memory")
      .queryName("user_stats_tws")
      .outputMode(OutputMode.Update())
      .start()
    try {
      // the exact batch schedule of the mapGroupsWithState test above —
      // the two APIs must produce the same emissions
      stream.addData(
        UserEvent(1L, "click", 1.0, at("2024-01-01 09:55:00")),
        UserEvent(1L, "view", 2.0, at("2024-01-01 10:00:00"))
      )
      q.processAllAvailable()
      stream.addData(UserEvent(1L, "click", 4.0, at("2024-01-01 10:05:00")))
      q.processAllAvailable()
      stream.addData(UserEvent(2L, "click", 7.0, at("2024-01-01 14:00:00")))
      q.processAllAvailable()
      stream.addData(UserEvent(2L, "view", 1.0, at("2024-01-01 14:01:00")))
      q.processAllAvailable()
      stream.addData(UserEvent(1L, "click", 5.0, at("2024-01-01 14:30:00")))
      q.processAllAvailable()
      val rows = spark
        .table("user_stats_tws")
        .as[(Long, Long, Double)]
        .collect()
        .toSeq
      val u1 = rows.filter(_._1 == 1L).map(r => (r._2, r._3))
      assert(u1.contains((3L, 7.0)), s"pre-eviction rollup accumulated: $u1")
      assert(
        u1.contains((1L, 5.0)),
        s"post-eviction event must restart from fresh state (timer eviction): $u1"
      )
      val u2 = rows.filter(_._1 == 2L).map(r => (r._2, r._3))
      assert(u2.contains((2L, 8.0)), s"user 2 accumulated: $u2")
    } finally {
      q.stop()
      prevProv match {
        case Some(v) => spark.conf.set(provKey, v)
        case None    => spark.conf.unset(provKey)
      }
    }
  }

  test("streamingSessions closes sessions on in-batch gaps and on watermark timeouts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(t: String) = Timestamp.valueOf(t)
    def ms(t: String) = at(t).getTime
    val stream = MemoryStream[graft.streaming.EventStreams.UserEvent]
    import graft.streaming.EventStreams.UserEvent
    val q = graft.streaming.EventStreams
      .streamingSessions(stream.toDS(), gapMs = 1800L * 1000) // 30 min gap
      .writeStream
      .format("memory")
      .queryName("sessions_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // one batch containing TWO sessions for user 1 (65-min in-batch gap):
      // the first closes immediately, the second stays open in state
      stream.addData(
        UserEvent(1L, "click", 1.0, at("2024-01-01 10:00:00")),
        UserEvent(1L, "view", 2.0, at("2024-01-01 10:10:00")),
        UserEvent(1L, "click", 4.0, at("2024-01-01 11:15:00"))
      )
      q.processAllAvailable()
      // push the watermark far past 11:15 + 30 min → next batch times out
      // user 1's open session; user 2 opens its own
      stream.addData(UserEvent(2L, "click", 7.0, at("2024-01-01 14:00:00")))
      q.processAllAvailable()
      stream.addData(UserEvent(2L, "view", 1.0, at("2024-01-01 14:05:00")))
      q.processAllAvailable()
      val got = spark
        .table("sessions_out")
        .as[graft.streaming.SessionOut]
        .collect()
        .toSet
      val expected = Set(
        graft.streaming.SessionOut(
          1L, 2L, ms("2024-01-01 10:00:00"), ms("2024-01-01 10:10:00"), 3.0),
        graft.streaming.SessionOut(
          1L, 1L, ms("2024-01-01 11:15:00"), ms("2024-01-01 11:15:00"), 4.0)
      )
      assert(got === expected, s"got $got")
    } finally q.stop()
  }

  test("streamingDedup suppresses duplicates within the watermark horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(t: String) = Timestamp.valueOf(t)
    val stream = MemoryStream[(String, Timestamp)]
    val q = graft.streaming.EventStreams
      .streamingDedup(
        stream.toDF().toDF("content_hash", "event_time"),
        keys = Seq("content_hash")
      )
      .writeStream
      .format("memory")
      .queryName("dedup_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      stream.addData(
        ("h1", at("2024-01-01 10:00:00")),
        ("h1", at("2024-01-01 10:00:01")), // same-batch duplicate
        ("h2", at("2024-01-01 10:00:02"))
      )
      q.processAllAvailable()
      stream.addData(("h1", at("2024-01-01 10:00:03"))) // cross-batch dup
      q.processAllAvailable()
      val got = spark
        .table("dedup_out")
        .select("content_hash")
        .as[String]
        .collect()
        .sorted
        .toSeq
      assert(got === Seq("h1", "h2"), s"duplicates must be suppressed: $got")
    } finally q.stop()
  }

  test("stream-stream interval join matches within lookback, per key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(t: String) = Timestamp.valueOf(t)
    import graft.streaming.EventStreams.UserEvent
    val clicks = MemoryStream[UserEvent]
    val purchases = MemoryStream[UserEvent]
    val joined = graft.streaming.EventStreams.streamIntervalJoin(
      clicks.toDF(),
      purchases.toDF(),
      key = "user_id",
      lookback = "1 hour"
    )
    val q = joined.writeStream
      .format("memory")
      .queryName("attrib_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      purchases.addData(
        UserEvent(1L, "purchase", 30.0, at("2024-01-01 11:30:00")), // in window
        UserEvent(1L, "purchase", 10.0, at("2024-01-01 10:00:00")), // too old
        UserEvent(2L, "purchase", 55.0, at("2024-01-01 11:55:00")) // other user
      )
      clicks.addData(UserEvent(1L, "click", 1.0, at("2024-01-01 12:00:00")))
      q.processAllAvailable()
      val got = spark
        .table("attrib_out")
        .select("user_id", "l_value", "r_value")
        .as[(Long, Double, Double)]
        .collect()
        .toSet
      assert(got === Set((1L, 1.0, 30.0)), s"got $got")
    } finally q.stop()
  }

  test("event-time derivation from int64 nanos is exact") {
    import spark.implicits._
    val ns = 1704067200123456789L // 2024-01-01 00:00:00.123456789
    val got = Seq(ns)
      .toDF("ts")
      .select(expr("timestamp_micros(ts DIV 1000)").as("event_time"))
      .as[Timestamp]
      .head()
    assert(got === Timestamp.valueOf("2024-01-01 00:00:00.123456"))
  }

  test("document annotation (clean pipeline) runs identically under streaming") {
    // annotateDocs is a stateless projection (language ID, quality score,
    // split tag) — the batch cleaning pass applied to a live document
    // stream with no code change, watermark, or state. Append mode works
    // because there is no aggregation at all.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "the cat and the dog sat with the rat for the hat"),
      (2L, "der hund und die katze ist nicht mit auf dem tisch"),
      (3L, "xyzzy plugh"),
      (4L, "the quick brown fox jumps over the lazy dog again and again")
    )
    val stream = MemoryStream[(Long, String)]
    val streamingDf = graft.operators.TextAnalysis.annotateDocs(
      stream.toDF().toDF("doc_id", "text")
    )
    val q = streamingDf.writeStream
      .format("memory")
      .queryName("annotate_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      stream.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark
        .table("annotate_out")
        .orderBy("doc_id")
        .collect()
        .toSeq
      val batch = graft.operators.TextAnalysis
        .annotateDocs(rows.toDF("doc_id", "text"))
        .orderBy("doc_id")
        .collect()
        .toSeq
      assert(streamed === batch)
      val byId = batch.map(r => r.getLong(0) -> r).toMap
      assert(byId(1L).getString(1) === "en")
      assert(byId(2L).getString(1) === "de")
      assert(byId(3L).getString(1) === "und")
      assert(Set("train", "val", "test").contains(byId(4L).getString(byId(4L).length - 1)))
    } finally q.stop()
  }

  test("idempotent foreachBatch sink: a replayed batch does not duplicate rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString + "/t"
    val stream = MemoryStream[(Long, String)]
    val q = EventStreams
      .idempotentParquetSink(stream.toDF().toDF("id", "v"), out)
      .option("checkpointLocation", out + "_ckpt")
      .start()
    try {
      stream.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      stream.addData((3L, "c"))
      q.processAllAvailable()
      val read = () => spark.read.parquet(out + "/batch_id=*")
      assert(read().count() === 3)
      // simulate the at-least-once replay every restart can produce: write
      // batch 1's content again under the same batchId — idempotent
      // overwrite, not append
      Seq((3L, "c")).toDF("id", "v").write
        .mode("overwrite").parquet(out + "/batch_id=1")
      assert(read().count() === 3)
      assert(read().select("id").as[Long].collect().sorted === Array(1L, 2L, 3L))
    } finally q.stop()
  }

  test("quality-gated ingest: violating batches quarantine whole, clean batches land") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Expectations.{RowCheck, UniqueCheck}
    val out = java.nio.file.Files.createTempDirectory("graft_gate").toString + "/t"
    val stream = MemoryStream[(Long, String)]
    val checks = Seq(
      UniqueCheck("id_unique", col("id")),
      RowCheck("v_not_null", col("v").isNull)
    )
    val q = graft.streaming.QualityGateStream
      .gatedParquetSink(stream.toDF().toDF("id", "v"), checks, out)
      .option("checkpointLocation", out + "_ckpt")
      .start()
    try {
      stream.addData((1L, "a"), (2L, "b")) // batch 0: clean
      q.processAllAvailable()
      stream.addData((3L, "c"), (3L, "dup")) // batch 1: duplicate key
      q.processAllAvailable()
      stream.addData((4L, "d")) // batch 2: clean
      q.processAllAvailable()
      val accepted = spark.read.parquet(out + "/accepted/batch_id=*")
      assert(accepted.select("id").as[Long].collect().sorted === Array(1L, 2L, 4L))
      val quarantined = spark.read.parquet(out + "/quarantine/batch_id=*")
      assert(
        quarantined.select("id").as[Long].collect().sorted === Array(3L, 3L),
        "the violating batch lands whole in quarantine — nothing silently dropped"
      )
      val reports = spark.read.parquet(out + "/reports/batch_id=*")
      assert(reports.count() === 6, "one report row per check per batch")
      assert(
        reports
          .filter(!col("passed"))
          .select("batch_id", "check_name")
          .as[(Long, String)]
          .collect()
          .toSet === Set((1L, "id_unique")),
        "exactly the duplicate-key violation in batch 1 is flagged"
      )
      // at-least-once replay: rewriting a batch's dirs under the same id is
      // the same bytes — deterministic verdicts make the sink idempotent
      Seq((4L, "d")).toDF("id", "v").write
        .mode("overwrite").parquet(out + "/accepted/batch_id=2")
      assert(
        spark.read.parquet(out + "/accepted/batch_id=*").count() === 3
      )
    } finally q.stop()
  }

  test("streaming CDC apply: upsert/delete batches land as merge commits, replays exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc").toString + "/t"
    val stream = MemoryStream[(Long, String, String)] // (id, v, op)
    val q = graft.streaming.MergeStream
      .mergeSink(
        stream.toDF().toDF("id", "v", "op"),
        dir,
        deletedWhen = col("op") === "D"
      )
      .option("checkpointLocation", dir + "_ckpt")
      .start()
    def state() = Versioned
      .readMerged(spark, dir, "id")
      .select("id", "v")
      .as[(Long, String)]
      .collect()
      .toSet
    try {
      stream.addData((1L, "a", "U"), (2L, "b", "U")) // batch 0: inserts
      q.processAllAvailable()
      assert(state() === Set((1L, "a"), (2L, "b")))
      stream.addData((1L, "A", "U"), (2L, "b", "D")) // batch 1: update + delete
      q.processAllAvailable()
      assert(state() === Set((1L, "A")))
      // at-least-once replay of batch 1's epoch: a second apply must be a
      // no-op (the epoch's data dir is already referenced by a manifest)
      val replay = Versioned.commitMergeOnce(
        Seq((1L, "A", "U"), (2L, "b", "D")).toDF("id", "v", "op"),
        dir,
        epochId = 1L,
        deleted = col("op") === "D"
      )
      assert(replay === None, "replayed epoch must not create a new version")
      assert(state() === Set((1L, "A")))
      assert(Versioned.latestVersion(dir) === 2)
      // readers at any moment see whole batches only: version 1 is exactly
      // batch 0's state (snapshot isolation through the merge resolution)
      assert(
        Versioned
          .readMerged(spark, dir, "id", v = 1)
          .select("id", "v")
          .as[(Long, String)]
          .collect()
          .toSet === Set((1L, "a"), (2L, "b"))
      )
    } finally q.stop()
  }

  test("availableNow file ingestion resumes from checkpoint across runs") {
    // The daily-ingest contract: each scheduled run processes ONLY files
    // that arrived since the last run (checkpointed source offsets), then
    // terminates (Trigger.AvailableNow). Re-processing old files — the
    // failure dedup downstream would have to absorb — must not happen.
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_avnow")
    val in = root.toString + "/in"
    val out = root.toString + "/out"
    val ckpt = root.toString + "/ckpt"
    new java.io.File(in).mkdirs()

    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("id LONG, v STRING")
        .parquet(in)
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    // the file source lists the watched dir non-recursively — land each
    // day's file FLAT in `in`, the way an ingest job drops files
    def addFile(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = root.toString + "/tmp_" + name
      rows.toDF("id", "v").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp)
        .listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .head
      java.nio.file.Files.move(
        part.toPath,
        java.nio.file.Paths.get(in, name + ".parquet")
      )
    }

    addFile("day1", Seq((1L, "a"), (2L, "b")))
    runOnce()
    assert(spark.read.parquet(out).count() === 2)

    addFile("day2", Seq((3L, "c")))
    runOnce()
    val got = spark.read.parquet(out).select("id").as[Long].collect().sorted
    // 3 rows total: day1 was NOT re-ingested on the second run
    assert(got === Array(1L, 2L, 3L))
  }

  test("streaming band upsert: run 2 dedups against run 1's bands without re-shingling") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_bandup")
    val in = root.toString + "/in"
    val idx = root.toString + "/idx"
    val ckpt = root.toString + "/ckpt"
    new java.io.File(in).mkdirs()

    def addFile(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = root.toString + "/tmp_" + name
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(
        part.toPath, java.nio.file.Paths.get(in, name + ".parquet"))
    }
    def runOnce(): Unit = {
      val q = graft.operators.Dedup
        .streamingBandUpsert(
          spark.readStream.schema("doc_id LONG, text STRING").parquet(in),
          idx
        )
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    val nearDupA = "the quick brown fox jumps over the lazy dog near the river bank today"
    val distinct = "completely different subject matter about spark shuffles and partitions"
    addFile("day1", Seq((1L, nearDupA), (2L, distinct)))
    runOnce()
    assert(spark.read.parquet(s"$idx/dups").count() === 0)
    assert(spark.read.parquet(s"$idx/bands").select("doc_id").distinct().count() === 2)

    // day 2: a near-duplicate of doc 1 arrives
    addFile("day2", Seq((3L, nearDupA + " indeed")))
    runOnce()
    val dups = spark.read.parquet(s"$idx/dups")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(dups === Set((1L, 3L)), s"expected cross-run dup (1,3), got $dups")
    // the second run shingled ONLY the delta — the corpus rows' shingles
    // were reused from batch 0's store, never recomputed
    val batch1Docs = spark.read.parquet(s"$idx/shingles")
      .filter(col("batch_id") === 1).select("doc_id").as[Long].collect().toSeq
    assert(batch1Docs === Seq(3L))
  }

  test("streaming vector-index upsert: new vectors searchable without re-encoding the base") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_vecup")
    val in = root.toString + "/in"
    val idx = root.toString + "/idx"
    val ckpt = root.toString + "/ckpt"
    new java.io.File(in).mkdirs()

    // base corpus: the label-celled testdata embeddings, index built once
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    graft.operators.IvfPq.ensureBuilt(emb, idx, cellCol = Some("label"))
    val baseCodes = spark.read.parquet(s"$idx/codes").count()

    def addFile(name: String, rows: Seq[(Long, Seq[Float])]): Unit = {
      val tmp = root.toString + "/tmp_" + name
      rows.toDF("vec_id", "embedding").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(
        part.toPath, java.nio.file.Paths.get(in, name + ".parquet"))
    }
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>")
        .parquet(in)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          graft.streaming.VectorIndexStream.upsertBatch(b, idx, id, dim = 64)
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    // day 1: two new vectors — one an exact copy of corpus vector 0 (must
    // become its nearest neighbor), one a copy of vector 1
    val v0 = emb.filter(col("vec_id") === 0).select("embedding")
      .as[Seq[Float]].head()
    val v1 = emb.filter(col("vec_id") === 1).select("embedding")
      .as[Seq[Float]].head()
    addFile("day1", Seq((100000L, v0), (100001L, v1)))
    runOnce()

    // the base code table was not rewritten; the delta holds only day 1
    assert(spark.read.parquet(s"$idx/codes").count() === baseCodes)
    val delta = spark.read.parquet(s"$idx/delta")
    assert(delta.select("vec_id").as[Long].collect().toSet === Set(100000L, 100001L))

    // search base ∪ delta: the upserted copy of v0 must be v0's top match
    val corpusAll = emb.select(col("vec_id"), col("embedding")).unionByName(
      Seq((100000L, v0), (100001L, v1)).toDF("vec_id", "embedding")
    )
    val got = graft.operators.IvfPq
      .search(spark, idx, emb.filter(col("vec_id") === 0), corpusAll,
        dim = 64, k = 1, nProbe = 2, shortlist = 50)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got === Set((0L, 100000L)), s"expected the upserted exact copy as top-1, got $got")

    // day 2 is a second batch: lands in its own batch_id partition,
    // base still untouched
    addFile("day2", Seq((100002L, v1)))
    runOnce()
    val batches = spark.read.parquet(s"$idx/delta")
      .select("batch_id").distinct().as[Long].collect().toSet
    assert(batches === Set(0L, 1L))
    assert(spark.read.parquet(s"$idx/codes").count() === baseCodes)

    // compaction folds both deltas into the base and drops delta/; search
    // results are unchanged (same codes, one tree)
    val corpusAll2 = emb.select(col("vec_id"), col("embedding")).unionByName(
      Seq((100000L, v0), (100001L, v1), (100002L, v1)).toDF("vec_id", "embedding")
    )
    def searchAll() = graft.operators.IvfPq
      .search(spark, idx, emb.filter(col("vec_id") < 3), corpusAll2,
        dim = 64, k = 3, nProbe = 2, shortlist = 50)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Long)].collect().toSet
    val before = searchAll()
    graft.operators.IvfPq.compactDeltas(spark, idx)
    assert(!new java.io.File(s"$idx/delta").exists(), "delta tree must be dropped")
    assert(spark.read.parquet(s"$idx/codes").count() === baseCodes + 3)
    assert(searchAll() === before, "compaction must not change search results")
  }

  test("policy-driven compaction: upsert folds deltas when they exceed the base fraction") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_veccompact")
    val idx = root.toString + "/idx"
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    graft.operators.IvfPq.ensureBuilt(emb, idx, cellCol = Some("label"))
    val baseCodes = spark.read.parquet(s"$idx/codes").count() // 500

    val v0 = emb.filter(col("vec_id") === 0).select("embedding").as[Seq[Float]].head()
    def upsert(batchId: Long, ids: Seq[Long]): Unit =
      graft.streaming.VectorIndexStream.upsertBatch(
        ids.map(id => (id, v0)).toDF("vec_id", "embedding"),
        idx,
        batchId,
        dim = 64,
        compactAt = 0.2
      )

    // batch 0: 50 rows — 50 < 0.2 * 500, debt tolerated, delta survives
    upsert(0L, (200000L until 200050L).toSeq)
    assert(new java.io.File(s"$idx/delta").exists(), "below threshold: delta must persist")
    assert(spark.read.parquet(s"$idx/codes").count() === baseCodes)

    // batch 1: +60 rows — 110 >= 0.2 * 500: the policy fires, the delta
    // tree folds into the base and is dropped
    upsert(1L, (200050L until 200110L).toSeq)
    assert(!new java.io.File(s"$idx/delta").exists(), "threshold crossed: delta must fold")
    assert(spark.read.parquet(s"$idx/codes").count() === baseCodes + 110)

    // searches see the same vectors through the compacted single tree
    val corpusAll = emb
      .select(col("vec_id"), col("embedding"))
      .unionByName((200000L until 200110L).map(id => (id, v0)).toDF("vec_id", "embedding"))
    val got = graft.operators.IvfPq
      .search(spark, idx, emb.filter(col("vec_id") === 0), corpusAll,
        dim = 64, k = 1, nProbe = 2, shortlist = 200)
      .select("neighbor_id").as[Long].collect().toSet
    assert(got.subsetOf((200000L until 200110L).toSet), s"top-1 must be an upserted copy, got $got")

    // a REPLAY of the already-folded batch 1 re-lands in delta/ with
    // bit-identical rows; the next compaction's distinct() restores
    // exactly-once instead of double-counting
    upsert(1L, (200050L until 200110L).toSeq)
    graft.operators.IvfPq.compactDeltas(spark, idx)
    assert(spark.read.parquet(s"$idx/codes").count() === baseCodes + 110,
      "replayed batch must not duplicate rows after compaction")
  }

  test("streamed deltas carry metaCols: a filtered IVF-PQ index stays readable and searchable") {
    // An index built with metaCols has them in every base code row; the
    // reader's strict unionByName would reject a meta-less delta, bricking
    // every search and compaction until the delta is hand-deleted. The
    // upsert must therefore write the build-time meta columns.
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_vecmeta")
    val idx = root.toString + "/idx"
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    graft.operators.IvfPq
      .ensureBuilt(emb, idx, cellCol = Some("label"), metaCols = Seq("label"))
    val v0 = emb.filter(col("vec_id") === 0)
      .select("embedding").as[Seq[Float]].head()
    val lbl0 = emb.filter(col("vec_id") === 0).select("label").as[Long].head()
    graft.streaming.VectorIndexStream.upsertBatch(
      Seq((300000L, v0, lbl0)).toDF("vec_id", "embedding", "label"),
      idx, batchId = 0L, dim = 64, compactAt = 0.0, metaCols = Seq("label")
    )
    // the live view unions base ∪ delta — readable, with the meta column
    val codes = graft.operators.IvfPq.readCodes(spark, idx)
    assert(codes.columns.contains("label"))
    assert(codes.filter(col("vec_id") === 300000L).count() === 1L)
    // filtered search over the stream-grown index still pushes the
    // predicate and can return the upserted vector
    val corpusAll = emb.select(col("vec_id"), col("embedding"))
      .unionByName(Seq((300000L, v0)).toDF("vec_id", "embedding"))
    val got = graft.operators.IvfPq.searchFiltered(
      spark, idx, emb.filter(col("vec_id") === 0), corpusAll,
      dim = 64, k = 2, nProbe = 3, shortlist = 100,
      predicate = col("label") === lbl0
    ).select("neighbor_id").as[Long].collect().toSet
    assert(got.contains(300000L), s"upserted exact copy must be a filtered top-2 hit, got $got")
    // compaction (which reads through the same union) also survives
    graft.operators.IvfPq.compactDeltas(spark, idx)
    assert(!new java.io.File(s"$idx/delta").exists())
    assert(
      graft.operators.IvfPq.readCodes(spark, idx)
        .filter(col("vec_id") === 300000L).count() === 1L
    )
  }

  test("stream-static join enriches a stream against a batch dimension") {
    // The standard enrichment shape: a live stream joined to a slowly-
    // changing dim loaded as a plain batch DataFrame — Structured
    // Streaming broadcasts/rescans the static side per micro-batch with
    // no state and no watermark.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((0L, "bronze"), (1L, "silver"), (2L, "gold")).toDF("tier_id", "tier")
    val stream = MemoryStream[(Long, Long)]
    val joined = stream.toDF().toDF("user_id", "tier_id").join(dim, Seq("tier_id"))
    val q = joined.writeStream.format("memory").queryName("enrich_out")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData((10L, 1L), (11L, 2L), (12L, 9L)) // 9 has no dim row
      q.processAllAvailable()
      val got = spark.table("enrich_out")
        .select("user_id", "tier").as[(Long, String)].collect().toSet
      assert(got === Set((10L, "silver"), (11L, "gold")))
    } finally q.stop()
  }
}
