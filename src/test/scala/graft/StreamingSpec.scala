package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams
import graft.streaming.EventStreams.{UserEvent, UserStats}

class StreamingSpec extends AnyFunSuite with ScratchAssets {
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

  test("transformWithState batch rollup equals the plain per-user aggregate") {
    import spark.implicits._
    def at(t: String) = Timestamp.valueOf(t)
    // transformWithState requires the RocksDB state store provider
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set(
      provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    try {
      val events = Seq(
        UserEvent(1L, "click", 1.0, at("2024-01-01 09:55:00")),
        UserEvent(1L, "view", 2.0, at("2024-01-01 10:00:00")),
        UserEvent(2L, "click", 7.0, at("2024-01-01 14:00:00")),
        UserEvent(1L, "click", 4.0, at("2024-01-01 10:05:00")),
        UserEvent(2L, "view", 1.0, at("2024-01-01 14:01:00"))
      ).toDS().repartition(3)
      val got = EventStreams.runningUserStatsTwsBatch(events).collect().toSet
      assert(got === Set(UserStats(1L, 3L, 7.0), UserStats(2L, 2L, 8.0)), s"got $got")
    } finally prevProv match {
      case Some(v) => spark.conf.set(provKey, v)
      case None    => spark.conf.unset(provKey)
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

  test("availableNow file ingestion resumes from checkpoint across runs") {
    // The daily-ingest contract: each scheduled run processes ONLY files
    // that arrived since the last run (checkpointed source offsets), then
    // terminates (Trigger.AvailableNow). Re-processing old files — the
    // failure dedup downstream would have to absorb — must not happen.
    import spark.implicits._
    val root = java.nio.file.Paths.get(scratchDir("avnow"))
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
