package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import graft.util.Cols._

/** A gap-closed user session emitted by [[EventStreams.streamingSessions]]. */
case class SessionOut(
    user_id: Long,
    n_events: Long,
    start_ms: Long,
    end_ms: Long,
    sum_value: Double
)

/** Open-session state carried between triggers (one per active user). */
case class SessionState(n: Long, startMs: Long, lastMs: Long, sum: Double)

/** Structured-Streaming operators over the events stream.
  *
  * The reference is strictly batch (SURVEY.md §2.3 — its Pub/Sub fabric is
  * control-plane, not data streaming); this module is the additive
  * extension. Each transform here is written once and runs under BOTH
  * `spark.read` (batch backfill) and `spark.readStream` (live) — the
  * Spark-native way to keep lambda-architecture paths from diverging.
  */
object EventStreams {

  /** Raw events carry `ts` as int64 nanoseconds (TESTDATA parquet is
    * TIMESTAMP(NANOS) — see [[graft.Tables.events]]); derive a proper
    * event-time column exactly (integer DIV to micros, no double math).
    */
  def withEventTime(events: DataFrame): DataFrame =
    events.withColumn("event_time", expr("timestamp_micros(ts DIV 1000)"))

  /** Tumbling 1-hour windowed counts/sums per event type. Under streaming,
    * the 2-hour watermark bounds state and admits late events inside the
    * horizon; under batch the watermark is a no-op and results equal the
    * q_events_hourly batch query.
    */
  def hourlyStats(eventsWithTime: DataFrame): DataFrame =
    eventsWithTime
      .withWatermark("event_time", "2 hours")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumDec2(col("value")).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"),
        col("n"),
        col("sum_value")
      )

  /** Input record for the stateful per-user aggregator. */
  case class UserEvent(
      user_id: Long,
      event_type: String,
      value: Double,
      event_time: java.sql.Timestamp
  )

  /** Per-user rollup: event count and value total. */
  case class UserStats(user_id: Long, n_events: Long, total_value: Double)

  /** Per-user running rollup on Spark 4's `transformWithState` API (the
    * successor of `mapGroupsWithState`): one named state variable in the
    * state store per user, accumulated over every batch of that user's
    * events and emitted after each. No timers: under batch execution
    * there is no watermark to drive them, and none are needed — every
    * user's events arrive as one group over empty state.
    *
    * Runs on the RocksDB state store provider only
    * (`spark.sql.streaming.stateStore.providerClass`).
    */
  class UserStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserEvent, UserStats] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var stats: ValueState[UserStats] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      stats = getHandle
        .getValueState[UserStats]("stats", Encoders.product[UserStats], TTLConfig.NONE)

    override def handleInputRows(
        userId: Long,
        events: Iterator[UserEvent],
        timers: TimerValues
    ): Iterator[UserStats] = {
      val batch = events.toSeq
      val prev = if (stats.exists()) stats.get() else UserStats(userId, 0L, 0.0)
      val next = UserStats(
        userId,
        prev.n_events + batch.size,
        prev.total_value + batch.map(_.value).sum
      )
      stats.update(next)
      Iterator.single(next)
    }
  }

  /** [[UserStatsProcessor]] under BATCH execution (`TimeMode.None`): the
    * emitted rollup is the complete per-user aggregate.
    */
  def runningUserStatsTwsBatch(events: Dataset[UserEvent]): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    // batch TWS still opens a real state store, whose provider reports to
    // the StateStoreCoordinator endpoint only streaming queries create —
    // register it if absent (idempotent)
    org.apache.spark.sql.graftbridge.Bridge
      .ensureStateStoreCoordinator(events.sparkSession)
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new UserStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update()
      )
  }

  /** Streaming sessionization (`flatMapGroupsWithState`, Append mode): a
    * session closes when a user is idle past `gapMs` of EVENT time, as
    * observed through the watermark — the streaming face of the batch
    * `q_sessionize` window query, emitting each closed session exactly
    * once. State per user is one open session (4 numbers); eviction rides
    * an event-time timeout at the session's last event + gap, so a stream
    * over any user cardinality holds state only for currently-active
    * users. Late events inside the watermark delay still extend their
    * session; events later than that are dropped by the watermark, which
    * is the documented trade of every watermarked streaming operator.
    */
  def streamingSessions(
      events: Dataset[UserEvent],
      gapMs: Long = 1800L * 1000
  ): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("event_time", "10 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout
      ) { (uid, evs, state) =>
        if (state.hasTimedOut) {
          val s = state.get
          state.remove()
          Iterator.single(SessionOut(uid, s.n, s.startMs, s.lastMs, s.sum))
        } else {
          // Within a trigger, replay this user's events in event-time order;
          // gaps INSIDE the batch close sessions immediately, the trailing
          // open session is parked in state with a timeout at lastMs + gap.
          val sorted = evs.toSeq.sortBy(e => (e.event_time.getTime, e.event_type))
          var closed = List.empty[SessionOut]
          var cur = state.getOption
          sorted.foreach { e =>
            val t = e.event_time.getTime
            cur = cur match {
              case Some(s) if t - s.lastMs > gapMs =>
                closed ::= SessionOut(uid, s.n, s.startMs, s.lastMs, s.sum)
                Some(SessionState(1L, t, t, e.value))
              case Some(s) =>
                Some(SessionState(s.n + 1, s.startMs, t, s.sum + e.value))
              case None =>
                Some(SessionState(1L, t, t, e.value))
            }
          }
          val open = cur.get
          state.update(open)
          state.setTimeoutTimestamp(open.lastMs + gapMs)
          closed.reverse.iterator
        }
      }
  }
}
