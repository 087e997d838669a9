package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.util.Cols._

/** Event-table analytics: tumbling time windows and sessionization — the
  * batch faces of the streaming module (graft.streaming runs the same
  * aggregations under Structured Streaming with a watermark).
  *
  * The events parquet stores TIMESTAMP(NANOS) which Spark's vectorized
  * reader rejects; [[Tables.events]] reads it as LongType nanoseconds
  * (spark.sql.legacy.parquet.nanosAsLong) and all time math here stays in
  * exact integer nanos — which is also the deterministic choice for the
  * DuckDB hash-compare.
  */
object Events {

  private val NsPerHour = 3600L * 1000000000L

  val all: Seq[Q] = Seq(
    // ---- tumbling 1-hour window aggregation.
    Q(
      "q_events_hourly",
      (s, d) =>
        Tables
          .events(s, d)
          .groupBy(
            expr(s"(ts DIV $NsPerHour) * 3600").as("hour_epoch"),
            col("event_type")
          )
          .agg(
            count(lit(1)).as("n"),
            sumDec2(col("value")).as("sum_value"),
            min(col("value")).as("min_value"),
            max(col("value")).as("max_value")
          )
          .orderBy("hour_epoch", "event_type"),
      Some("""SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch,
             |       event_type, COUNT(*) AS n,
             |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             |       MIN(value) AS min_value, MAX(value) AS max_value
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    ),
    // ---- HOPPING (sliding) windows via the native window() operator:
    // 1-hour windows every 15 minutes, so each event lands in exactly 4
    // overlapping windows (size/slide integral). Map-side the event is
    // EXPANDED to its windows (no self-join, no re-scan), then one
    // hash aggregate — the same partial-aggregable shape as tumbling.
    // Event time floors ns→µs for the native operator; a 900 s window
    // boundary is never crossed by sub-µs flooring, so the oracle works
    // in exact integer nanos.
    Q(
      "q_events_sliding",
      (s, d) =>
        Tables
          .events(s, d)
          .select(
            timestamp_micros(expr("ts div 1000")).as("tt"),
            col("event_type"),
            col("value")
          )
          .groupBy(window(col("tt"), "1 hour", "15 minutes"), col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            sumDec2(col("value")).as("sum_value")
          )
          .select(
            expr("unix_seconds(window.start)").as("ws"),
            col("event_type"),
            col("n"),
            col("sum_value")
          )
          .orderBy("ws", "event_type"),
      Some("""WITH e AS (SELECT epoch_ns(ts) AS tns, event_type, value FROM events),
             |w AS (SELECT (tns // 900000000000) - j AS wi, event_type, value
             |      FROM e CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j))
             |SELECT (wi * 900)::BIGINT AS ws, event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      doc = "Hopping-window aggregate (1 h windows sliding every 15 min) " +
        "through Spark's native window() operator: each event expands " +
        "map-side into its 4 overlapping windows, then one partial-" +
        "aggregable hash aggregate — no self-joins, no re-scans. The " +
        "oracle replays membership in exact integer nanos (window index " +
        "arithmetic), counts and decimal-exact sums per (window, type)."
    ),
    // ---- per-type rollup over users.
    Q(
      "q_events_type_stats",
      (s, d) =>
        Tables
          .events(s, d)
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("n_users"),
            sumDec2(col("value")).as("sum_value")
          )
          .orderBy("event_type"),
      Some("""SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
             |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),
    // ---- the streaming module's windowed aggregation, run in batch mode:
    // same code path Structured Streaming executes (see graft.streaming).
    Q(
      "q_stream_hourly_batch",
      (s, d) =>
        graft.streaming.EventStreams
          .hourlyStats(
            graft.streaming.EventStreams.withEventTime(Tables.events(s, d))
          )
          .select(
            unix_timestamp(col("window_start")).as("hour_epoch"),
            col("event_type"),
            col("n"),
            col("sum_value")
          )
          .orderBy("hour_epoch", "event_type"),
      Some("""SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch,
             |       event_type, COUNT(*) AS n,
             |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      doc = "graft.streaming.EventStreams.hourlyStats executed as a batch " +
        "plan — one transform, two runtimes (backfill + live)."
    ),
    // ---- sessionization: 30-minute inactivity gap, per user.
    Q(
      "q_sessionize",
      (s, d) => {
        val gapNs = 1800L * 1000000000L
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables
          .events(s, d)
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn(
            "new_sess",
            when(col("prev_ts").isNull || col("ts") - col("prev_ts") > gapNs, 1L)
              .otherwise(0L)
          )
          .withColumn("sess_no", sum(col("new_sess")).over(wRun))
          .groupBy(col("user_id"), col("sess_no"))
          .agg(
            count(lit(1)).as("n_events"),
            min(col("ts")).as("min_ts"),
            sumDec2(col("value")).as("sum_value")
          )
          .select(
            col("user_id"),
            col("sess_no"),
            col("n_events"),
            expr("min_ts DIV 1000000000").as("start_epoch"),
            col("sum_value")
          )
          .orderBy("user_id", "sess_no")
      },
      Some("""WITH e AS (
             |  SELECT user_id, ts, event_id, value,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
             |         THEN 1 ELSE 0 END AS new_sess
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |), s AS (
             |  SELECT user_id, ts, value,
             |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                        ROWS UNBOUNDED PRECEDING) AS sess_no
             |  FROM e
             |)
             |SELECT user_id, sess_no::BIGINT AS sess_no, COUNT(*) AS n_events,
             |       CAST(floor(epoch(MIN(ts))) AS BIGINT) AS start_epoch,
             |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM s GROUP BY user_id, sess_no ORDER BY user_id, sess_no""".stripMargin)
    ),
    // ---- semi-structured: parse the JSON props column, aggregate a field.
    // Oracle note: DuckDB SUM(BIGINT) yields HUGEINT, which pandas renders
    // as float — the outer ::BIGINT keeps the hash-compare type-exact.
    Q(
      "q_json_props",
      (s, d) =>
        Tables
          .events(s, d)
          .select(
            col("event_type"),
            from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
              .getField("k")
              .as("k")
          )
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("k")).as("sum_k"),
            min(col("k")).as("min_k"),
            max(col("k")).as("max_k")
          )
          .orderBy("event_type"),
      Some("""SELECT event_type, COUNT(*) AS n,
             |       SUM(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
             |       MIN(json_extract(props, '$.k')::BIGINT) AS min_k,
             |       MAX(json_extract(props, '$.k')::BIGINT) AS max_k
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      doc = "Schema-on-read over the JSON `props` column: from_json with an " +
        "explicit schema (codegen'd JsonToStructs in the scan projection — no " +
        "per-row driver parsing), exact integer aggregates."
    ),
    // ---- the streaming sessionizer executed as a batch plan: emits every
    // session CLOSED by an in-batch gap; each user's trailing session stays
    // open in state (batch never fires timeouts), so the oracle excludes
    // each user's last session. Makes flatMapGroupsWithState oracle-checked.
    Q(
      "q_sessions_batch",
      (s, d) => {
        import s.implicits._
        val typed = graft.streaming.EventStreams
          .withEventTime(Tables.events(s, d))
          .select(
            col("user_id"),
            col("event_type"),
            col("value"),
            col("event_time")
          )
          .as[graft.streaming.EventStreams.UserEvent]
        graft.streaming.EventStreams
          .streamingSessions(typed, gapMs = 1800L * 1000)
          .select(col("user_id"), col("n_events"), col("start_ms"), col("end_ms"))
          .orderBy("user_id", "start_ms")
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_ns(ts) // 1000000 AS ms
             |  FROM events
             |), g AS (
             |  SELECT user_id, ms,
             |    CASE WHEN lag(ms) OVER w IS NULL OR ms - lag(ms) OVER w > 1800000
             |         THEN 1 ELSE 0 END AS new_sess
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)
             |), sno AS (
             |  SELECT user_id, ms,
             |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ms
             |                        ROWS UNBOUNDED PRECEDING) AS sess_no
             |  FROM g
             |), sess AS (
             |  SELECT user_id, sess_no, COUNT(*) AS n_events,
             |         MIN(ms) AS start_ms, MAX(ms) AS end_ms
             |  FROM sno GROUP BY user_id, sess_no
             |), last AS (
             |  SELECT user_id, MAX(sess_no) AS mx FROM sess GROUP BY user_id
             |)
             |SELECT s.user_id, s.n_events, s.start_ms, s.end_ms
             |FROM sess s JOIN last l ON s.user_id = l.user_id AND s.sess_no < l.mx
             |ORDER BY s.user_id, s.start_ms""".stripMargin),
      doc = "Gap sessionization via flatMapGroupsWithState run in BATCH: " +
        "closed sessions only (the oracle drops each user's open trailing " +
        "session) — one sessionizer, batch and streaming, oracle-checked."
    ),
    // ---- the transformWithState per-user rollup executed as a batch
    // plan (the same processor StreamingSpec runs under RocksDB streaming
    // execution): in batch every user's events arrive as one group, state
    // starts empty, timers never fire, so the emitted rollup equals the
    // plain per-user aggregate — which is exactly what the oracle states.
    // Values ride as integral cent-doubles (exact DECIMAL(18,2) * 100), so
    // the in-processor double accumulation is order-independent and the
    // totals are bit-checkable.
    Q(
      "q_user_stats_batch",
      (s, d) => {
        import s.implicits._
        // transformWithState runs on the RocksDB state store provider only
        // (also the right provider at scale: off-heap per-executor state,
        // changelog checkpointing). Session-level and sticky on purpose —
        // the provider is read at EXECUTION time, which happens after this
        // builder returns.
        s.conf.set(
          "spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        )
        val typed = graft.streaming.EventStreams
          .withEventTime(Tables.events(s, d))
          .select(
            col("user_id"),
            col("event_type"),
            (col("value").cast("decimal(18,2)") * 100).cast("double").as("value"),
            col("event_time")
          )
          .as[graft.streaming.EventStreams.UserEvent]
        graft.streaming.EventStreams
          .runningUserStatsTwsBatch(typed)
          .select(
            col("user_id"),
            col("n_events"),
            col("total_value").cast("long").as("total_cents")
          )
          .orderBy("user_id")
      },
      Some("""SELECT user_id, COUNT(*) AS n_events,
             |       SUM((value::DECIMAL(18,2) * 100)::BIGINT)::BIGINT AS total_cents
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
      doc = "transformWithState (Spark 4 stateful processor: a named " +
        "state variable in the RocksDB state store) run in BATCH: per-user " +
        "running rollup whose batch output equals the plain aggregate, " +
        "bit-checked."
    ),
    // ---- latest record per key: the upsert/compaction read of any
    // append-only ingest (CDC, event logs). One partial-aggregable
    // max(struct) — no window shuffle-and-sort, deterministic via the
    // (ts, event_id) tiebreak.
    Q(
      "q_latest_version",
      (s, d) =>
        Tables
          .events(s, d)
          .groupBy(col("user_id"))
          .agg(max(struct(col("ts"), col("event_id"))).as("m"))
          .select(
            col("user_id"),
            col("m.event_id").as("last_event_id"),
            expr("m.ts DIV 1000000").as("last_ts_ms")
          )
          .orderBy("user_id"),
      Some(
        """WITH r AS (
          |  SELECT user_id, event_id, epoch_ns(ts) AS ns,
          |    row_number() OVER (PARTITION BY user_id
          |                       ORDER BY ts DESC, event_id DESC) AS rn
          |  FROM events
          |)
          |SELECT user_id, event_id AS last_event_id, ns // 1000000 AS last_ts_ms
          |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin
      ),
      doc = "Latest record per key via one max(struct(ts, id)) aggregate — " +
        "the upsert-compaction read, partial-aggregable (no per-key " +
        "window sort), deterministic tiebreak on (ts, event_id)."
    ),
    // ---- Spark's native session_window (vs the hand-rolled lag/sum
    // formulation of q_sessionize and the stateful streaming sessionizer):
    // same 30-minute gap semantics, one groupBy, merge handled by the
    // built-in SessionWindow operator. Window end = last event + gap.
    Q(
      "q_session_window",
      (s, d) => {
        val e = Tables
          .events(s, d)
          .withColumn("ts_ts", expr("timestamp_micros(ts DIV 1000)"))
        e.groupBy(
          col("user_id"),
          session_window(col("ts_ts"), "30 minutes").as("w")
        ).agg(
          count(lit(1)).as("n_events"),
          sumDec2(col("value")).as("sum_value")
        ).select(
          col("user_id"),
          unix_timestamp(col("w.start")).as("start_epoch"),
          unix_timestamp(col("w.end")).as("end_epoch"),
          col("n_events"),
          col("sum_value")
        ).orderBy("user_id", "start_epoch")
      },
      Some(
        """WITH e AS (
          |  SELECT user_id, value, epoch_us(ts) AS us
          |  FROM events
          |), g AS (
          |  SELECT user_id, value, us,
          |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
          |         THEN 1 ELSE 0 END AS new_sess
          |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
          |), sno AS (
          |  SELECT user_id, value, us,
          |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
          |                        ROWS UNBOUNDED PRECEDING) AS sess_no
          |  FROM g
          |)
          |SELECT user_id,
          |  MIN(us) // 1000000 AS start_epoch,
          |  (MAX(us) + 1800000000) // 1000000 AS end_epoch,
          |  COUNT(*) AS n_events,
          |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          |FROM sno GROUP BY user_id, sess_no
          |ORDER BY user_id, start_epoch""".stripMargin
      ),
      doc = "Native session_window gap sessionization (30 min): the " +
        "built-in operator's session merge, oracle-checked against the " +
        "explicit lag/running-sum formulation — three sessionizers (window, " +
        "native, stateful-streaming) one semantics."
    ),
    // ---- hot-key distinct-collect with salting (skew mitigation).
    Q(
      "q_salted_collect",
      (s, d) =>
        graft.operators.Skew
          .saltedCollectSet(Tables.events(s, d), "event_type", "user_id", saltN = 8)
          .orderBy("event_type"),
      Some("""SELECT event_type,
             |  array_to_string(list_sort(list(DISTINCT user_id)), ',') AS members,
             |  COUNT(DISTINCT user_id) AS n_distinct
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      doc = "collect_set under a hot 5-value key, two-stage via salting: " +
        "per-(key,salt) partials then merge, so no single task holds a hot " +
        "key's whole value set. Exact (salt never reaches the result)."
    ),
    Q(
      "q_salted_auto",
      (s, d) =>
        graft.operators.Skew
          .autoSaltedCollectSet(
            Tables.events(s, d),
            "event_type",
            "user_id",
            saltN = 8,
            minShare = 0.1
          )
          .orderBy("event_type"),
      Some("""SELECT event_type,
             |  array_to_string(list_sort(list(DISTINCT user_id)), ',') AS members,
             |  COUNT(DISTINCT user_id) AS n_distinct
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      doc = "Auto-salted collect_set: a bounded counting pass detects the " +
        "keys above 10% row share (driver receives <= 10 keys by the " +
        "share bound) and only THOSE spread over 8 salts — light keys " +
        "take salt 0, one stage-2 row each. Same oracle as the blanket " +
        "q_salted_collect: detection can only change the plan, never " +
        "the result."
    ),
    // ---- as-of join: each click paired with the user's latest prior
    // purchase. Time compared in microseconds on both engines (the parquet
    // nanos truncate identically on each side).
    Q(
      "q_asof",
      (s, d) => {
        val ev = Tables.events(s, d).withColumn("ts_us", expr("ts DIV 1000"))
        val clicks = ev
          .filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts_us"))
        val purchases = ev
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts_us"), col("value"))
        graft.operators.AsofJoin
          .leftAsof(
            clicks,
            purchases,
            keyCol = "user_id",
            timeCol = "ts_us",
            payloadCol = "value",
            asCol = "last_purchase_value"
          )
          .orderBy("event_id")
      },
      Some("""WITH c AS (
             |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
             |  FROM events WHERE event_type = 'click'
             |), p AS (
             |  SELECT user_id, epoch_us(ts) AS ts_us, value
             |  FROM events WHERE event_type = 'purchase'
             |)
             |SELECT c.event_id, c.user_id, c.ts_us, p.value AS last_purchase_value
             |FROM c ASOF LEFT JOIN p
             |  ON c.user_id = p.user_id AND p.ts_us <= c.ts_us
             |ORDER BY c.event_id""".stripMargin),
      doc = "Left as-of join (click → latest prior purchase per user) via " +
        "the tagged-union + ignore-nulls-window formulation: one shuffle, " +
        "no pair explosion; oracle is DuckDB's native ASOF JOIN."
    ),
    // ---- banded range join: per event, how many other events landed
    // within ±60 s. A raw |Δt|<=w predicate would plan as broadcast-
    // nested-loop (O(N·M), dead at scale); bucketizing by the window turns
    // it into an equi-join shuffle — see operators.RangeJoin.
    Q(
      "q_time_proximity",
      (s, d) =>
        graft.operators.RangeJoin
          .timeProximityCounts(
            Tables.events(s, d),
            tsCol = "ts",
            idCol = "event_id",
            windowNs = 60L * 1000000000L
          )
          .orderBy("event_id"),
      Some(
        """SELECT a.event_id, COUNT(b.event_id) AS n_nearby
          |FROM events a LEFT JOIN events b
          |  ON abs(epoch_ns(a.ts) - epoch_ns(b.ts)) <= 60000000000
          |  AND a.event_id != b.event_id
          |GROUP BY a.event_id ORDER BY a.event_id""".stripMargin
      ),
      doc = "Time-proximity range join (±60 s neighbor counts) via window " +
        "bucketization: every qualifying pair shares exactly one bucket, so " +
        "the range predicate becomes an equi-join key plus an exact refine " +
        "— 3N+M shuffled rows instead of a nested-loop broadcast."
    ),
    // ---- RANGE window frame: per-customer trailing-30-day order stats.
    Q(
      "q_window_range",
      (s, d) => {
        val o = Tables
          .orders(s, d)
          .withColumn("epoch_s", unix_timestamp(col("o_orderdate")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_custkey"))
          .orderBy(col("epoch_s"))
          .rangeBetween(-2592000L, 0L) // 30 days in seconds
        o.select(
          col("o_orderkey"),
          col("o_custkey"),
          col("epoch_s"),
          count(lit(1)).over(w).as("n_30d"),
          sum(dec2(col("o_totalprice"))).over(w).cast("double").as("spend_30d")
        ).orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey,
             |  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_s,
             |  COUNT(*) OVER w AS n_30d,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS spend_30d
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY floor(epoch(o_orderdate))
             |             RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
             |ORDER BY o_orderkey""".stripMargin),
      doc = "RANGE-frame window (value-based, not row-based): trailing " +
        "30-day per-customer order count and exact-decimal spend."
    ),
    // ---- behavioral funnel: signup → view → click → purchase, each stage
    // strictly after the previous one (ORDERED sequence matching, not mere
    // co-occurrence). Four per-type filtered aggregates chained by same-key
    // joins on user_id: every scan pushes its event_type filter to parquet,
    // every join is an equi-join on the funnel key, all time math is exact
    // integer nanos. At 100 TB this is 4 pushed scans + 3 same-key hash
    // joins — no window over the full event stream, no per-user event-list
    // materialization.
    Q(
      "q_funnel",
      (s, d) => {
        // DuckDB's parquet reader truncates TIMESTAMP(NANOS) to micros,
        // so the funnel's time axis is exact integer MICROS on both sides
        val ev = Tables
          .events(s, d)
          .withColumn("ts", expr("ts DIV 1000"))
        def stage(t: String) = ev.filter(col("event_type") === t)
        val s1 = stage("signup").groupBy("user_id").agg(min(col("ts")).as("t1"))
        val s2 = stage("view")
          .join(s1, "user_id")
          .filter(col("ts") > col("t1"))
          .groupBy("user_id")
          .agg(min(col("ts")).as("t2"), min(col("t1")).as("t1"))
        val s3 = stage("click")
          .join(s2, "user_id")
          .filter(col("ts") > col("t2"))
          .groupBy("user_id")
          .agg(min(col("ts")).as("t3"), min(col("t2")).as("t2"))
        val s4 = stage("purchase")
          .join(s3, "user_id")
          .filter(col("ts") > col("t3"))
          .groupBy("user_id")
          .agg(min(col("ts")).as("t4"), min(col("t3")).as("t3"))
        def row(idx: Int, name: String, df: org.apache.spark.sql.DataFrame, lag: org.apache.spark.sql.Column) =
          df.agg(
            lit(idx).cast("long").as("stage_idx"),
            lit(name).as("stage"),
            count(lit(1)).as("n_users"),
            coalesce(sum(lag), lit(0L)).as("sum_lag_us")
          )
        row(1, "signup", s1, lit(0L))
          .unionAll(row(2, "view", s2, col("t2") - col("t1")))
          .unionAll(row(3, "click", s3, col("t3") - col("t2")))
          .unionAll(row(4, "purchase", s4, col("t4") - col("t3")))
          .orderBy("stage_idx")
      },
      Some(
        """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ns FROM events),
          |s1 AS (SELECT user_id, MIN(ns) AS t1 FROM e WHERE event_type = 'signup' GROUP BY user_id),
          |s2 AS (SELECT e.user_id, MIN(ns) AS t2, MIN(t1) AS t1 FROM e JOIN s1 USING (user_id)
          |       WHERE event_type = 'view' AND ns > t1 GROUP BY e.user_id),
          |s3 AS (SELECT e.user_id, MIN(ns) AS t3, MIN(t2) AS t2 FROM e JOIN s2 USING (user_id)
          |       WHERE event_type = 'click' AND ns > t2 GROUP BY e.user_id),
          |s4 AS (SELECT e.user_id, MIN(ns) AS t4, MIN(t3) AS t3 FROM e JOIN s3 USING (user_id)
          |       WHERE event_type = 'purchase' AND ns > t3 GROUP BY e.user_id)
          |SELECT 1::BIGINT AS stage_idx, 'signup' AS stage, COUNT(*) AS n_users, 0::BIGINT AS sum_lag_us FROM s1
          |UNION ALL SELECT 2, 'view', COUNT(*), COALESCE(SUM(t2 - t1), 0)::BIGINT FROM s2
          |UNION ALL SELECT 3, 'click', COUNT(*), COALESCE(SUM(t3 - t2), 0)::BIGINT FROM s3
          |UNION ALL SELECT 4, 'purchase', COUNT(*), COALESCE(SUM(t4 - t3), 0)::BIGINT FROM s4
          |ORDER BY stage_idx""".stripMargin
      ),
      doc = "Ordered behavioral funnel (signup > view > click > purchase, " +
        "each stage strictly later than the previous): per-stage reached-" +
        "user counts and exact integer-micros conversion-lag sums; pushed " +
        "per-type scans + same-key joins, no full-stream window."
    ),
    // ---- cohort retention: users grouped by first-signup week, counted
    // in each later week they were active. Day/week arithmetic is integer
    // division on the micros axis (no calendar functions — identical on
    // both engines by construction). Two partial-aggregable aggregates +
    // one same-key join; the output is |cohorts| x |weeks|, never
    // event-sized.
    Q(
      "q_retention",
      (s, d) => {
        val usPerWeek = 7L * 24 * 3600 * 1000000L
        val ev = Tables
          .events(s, d)
          .select(
            col("user_id"),
            col("event_type"),
            expr(s"(ts DIV 1000) DIV $usPerWeek").as("week")
          )
        val cohorts = ev
          .filter(col("event_type") === "signup")
          .groupBy("user_id")
          .agg(min(col("week")).as("cohort_week"))
        val active = ev.select("user_id", "week").distinct()
        active
          .join(cohorts, "user_id")
          .filter(col("week") >= col("cohort_week"))
          .groupBy(
            col("cohort_week"),
            (col("week") - col("cohort_week")).as("week_offset")
          )
          .agg(count(lit(1)).as("n_active"))
          .orderBy("cohort_week", "week_offset")
      },
      Some(
        """WITH e AS (SELECT user_id, event_type,
          |             epoch_us(ts) // 604800000000 AS week FROM events),
          |c AS (SELECT user_id, MIN(week) AS cohort_week FROM e
          |      WHERE event_type = 'signup' GROUP BY user_id),
          |a AS (SELECT DISTINCT user_id, week FROM e)
          |SELECT cohort_week, week - cohort_week AS week_offset,
          |       COUNT(*) AS n_active
          |FROM a JOIN c USING (user_id)
          |WHERE week >= cohort_week
          |GROUP BY cohort_week, week_offset
          |ORDER BY cohort_week, week_offset""".stripMargin
      ),
      doc = "Cohort retention matrix (signup-week cohorts x active-week " +
        "offsets): integer-exact epoch-week bucketing, distinct user-week " +
        "activity + same-key cohort join; output is cohort-sized, not " +
        "event-sized."
    ),
    // ---- CEP sequence pattern WITH NEGATION: view → next click within
    // 24 h, with NO error strictly between — the MATCH_RECOGNIZE shape a
    // funnel cannot express (funnels have no "absent event" stage). The
    // negation is turned into an EQUALITY via running error counts: no
    // error strictly between A and B ⇔ cum_err_before(B) =
    // cum_err_before(A) for a view A and later click B (the view itself
    // is not an error, so strictly-preceding counts line up). The "next
    // click" is a partial-aggregable min(struct) per view — no
    // row_number over the pair set on the Spark side.
    //
    // Scale: one key-partitioned running-count window, two pushed
    // per-type scans, one per-user time-banded equi-join, min(struct) +
    // final per-user aggregate — all shuffles on user_id, AQE-splittable;
    // output is user-sized, never pair-sized.
    Q(
      "q_seq_pattern",
      (s, d) => {
        val followUs = 24L * 3600 * 1000000L
        val byUser = Window
          .partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val w = Tables
          .events(s, d)
          .withColumn("ts", expr("ts DIV 1000"))
          .withColumn(
            "cum_err",
            coalesce(
              sum(when(col("event_type") === "error", 1L).otherwise(0L))
                .over(byUser.rowsBetween(Window.unboundedPreceding, -1)),
              lit(0L)
            )
          )
        val a = w
          .filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("id_a"),
            col("ts").as("t_a"), col("cum_err").as("ce_a"))
        val b = w
          .filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("id_b"),
            col("ts").as("t_b"), col("cum_err").as("ce_b"))
        // Time-banded candidate join (operators/RangeJoin.scala's
        // bucketization, one-sided): joining on user_id alone and
        // post-filtering the 24 h window is a within-key cross product —
        // a hot user with V views and C clicks materializes V·C rows
        // before the time predicate prunes. Banding time by the window
        // width makes the band part of the EQUI-key: t_b ∈ (t_a, t_a+w]
        // implies band(t_b) ∈ {band(t_a), band(t_a)+1}, so each view
        // emits its band and the next, each click emits its own band, and
        // candidates are bounded by per-(user, 24 h-band) density instead
        // of per-user totals. The click's band is single-valued, so every
        // qualifying pair meets in exactly one band — no post-join dedup.
        // Integer floor division (not `/`: epoch micros exceed double's
        // mantissa; not bare DIV: DIV truncates toward zero, so for
        // pre-epoch negative timestamps band(t) != floor(t/w) and the
        // {band, band+1} cover argument breaks). `(t - pmod(t, w)) DIV w`
        // is exact floor for any sign — pmod's nonnegative remainder
        // makes the numerator the floor multiple.
        val aB = a.withColumn(
          "band",
          explode(array(
            expr(s"(t_a - pmod(t_a, $followUs)) DIV $followUs"),
            expr(s"(t_a - pmod(t_a, $followUs)) DIV $followUs") + 1
          ))
        )
        val bB = b.withColumn("band", expr(s"(t_b - pmod(t_b, $followUs)) DIV $followUs"))
        aB.join(bB, Seq("user_id", "band"))
          .filter(col("t_b") > col("t_a") && col("t_b") <= col("t_a") + followUs)
          .groupBy(col("user_id"), col("id_a"), col("t_a"), col("ce_a"))
          .agg(min(struct(col("t_b"), col("id_b"), col("ce_b"))).as("nb"))
          .filter(col("nb.ce_b") === col("ce_a"))
          .groupBy(col("user_id"))
          .agg(
            count(lit(1)).as("n_matches"),
            sum(col("nb.t_b") - col("t_a")).cast("long").as("sum_lag_us")
          )
          .orderBy("user_id")
      },
      Some(
        """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
          |w AS (SELECT *, COALESCE(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
          |        OVER (PARTITION BY user_id ORDER BY us, event_id
          |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_err
          |      FROM e),
          |a AS (SELECT user_id, event_id AS id_a, us AS t_a, cum_err AS ce_a
          |      FROM w WHERE event_type = 'view'),
          |b AS (SELECT user_id, event_id AS id_b, us AS t_b, cum_err AS ce_b
          |      FROM w WHERE event_type = 'click'),
          |p AS (SELECT a.user_id, a.id_a, a.t_a, a.ce_a, b.t_b, b.ce_b,
          |        row_number() OVER (PARTITION BY a.user_id, a.id_a
          |                           ORDER BY b.t_b, b.id_b) AS rn
          |      FROM a JOIN b ON a.user_id = b.user_id
          |        AND b.t_b > a.t_a AND b.t_b <= a.t_a + 86400000000)
          |SELECT user_id, COUNT(*)::BIGINT AS n_matches,
          |  SUM(t_b - t_a)::BIGINT AS sum_lag_us
          |FROM p WHERE rn = 1 AND ce_b = ce_a
          |GROUP BY user_id ORDER BY user_id""".stripMargin
      ),
      doc = "Event-sequence pattern with NEGATION (view, then its next " +
        "click within 24 h, with no error strictly between): running " +
        "error counts turn the absent-event predicate into an equality; " +
        "next-event resolution is a partial-aggregable min(struct). The " +
        "CEP shape funnels cannot express, with every shuffle on user_id."
    ),
    // ---- k-in-a-row burst detection: 3 consecutive error events (no
    // other event type between — consecutiveness IS the adjacency in the
    // per-user event order) with the run spanning ≤ 24 h. lag(k−1) over
    // the key-partitioned order; overlapping runs count per position
    // (each position that COMPLETES a run of ≥ 3).
    Q(
      "q_error_burst",
      (s, d) => {
        val gapUs = 24L * 3600 * 1000000L
        val byUser = Window
          .partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        Tables
          .events(s, d)
          .withColumn("ts", expr("ts DIV 1000"))
          .withColumn("t2", lag(col("ts"), 2).over(byUser))
          .withColumn("e1", lag(col("event_type"), 1).over(byUser))
          .withColumn("e2", lag(col("event_type"), 2).over(byUser))
          .filter(
            col("event_type") === "error" && col("e1") === "error" &&
              col("e2") === "error" && col("ts") - col("t2") <= gapUs
          )
          .groupBy(col("user_id"))
          .agg(
            count(lit(1)).as("n_bursts"),
            min(col("t2")).as("first_burst_us")
          )
          .orderBy("user_id")
      },
      Some(
        """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
          |w AS (SELECT *, lag(us, 2) OVER win AS t2,
          |        lag(event_type, 1) OVER win AS e1,
          |        lag(event_type, 2) OVER win AS e2
          |      FROM e
          |      WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id))
          |SELECT user_id, COUNT(*)::BIGINT AS n_bursts,
          |  MIN(t2)::BIGINT AS first_burst_us
          |FROM w
          |WHERE event_type = 'error' AND e1 = 'error' AND e2 = 'error'
          |  AND us - t2 <= 86400000000
          |GROUP BY user_id ORDER BY user_id""".stripMargin
      ),
      doc = "Error-burst detection (3 consecutive errors within 24 h): " +
        "lag(k-1) over the key-partitioned event order — adjacency in " +
        "the order encodes 'no other event between'; one window + one " +
        "partial-aggregable per-user aggregate."
    )
  )
}
