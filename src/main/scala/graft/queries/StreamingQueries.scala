package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.EventsStream

/** Structured-Streaming coverage wired into the driver gate: the stream
  * runs synchronously to a memory sink over the static events parquet and
  * the result is oracle-checked against DuckDB's batch `time_bucket` —
  * proving the streaming aggregation matches its batch semantics. */
object StreamingQueries {

  val queries: Seq[Q] = Seq(
    Q("q28_stream_tumbling",
      Some("""SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type,
             |  count(*) AS n, round(sum(value), 4) AS sum_value
             |FROM events GROUP BY 1, 2""".stripMargin),
      (s, dir) => {
        val agg = EventsStream.tumblingCounts(EventsStream.read(s, dir))
        // Complete mode emits every window over the static input.
        // statePartitions: byte-derived (see harnessStatePartitions), the
        // bench's sizing applied to the verify path too — identical rows,
        // 4× less per-batch state-store open/commit overhead.
        val out = EventsStream.runToMemory(agg, OutputMode.Complete(),
          statePartitions = EventsStream.harnessStatePartitions(dir))
        out.select(col("window.start").as("ws"), col("event_type"),
          col("n"), round(col("sum_value"), 4).as("sum_value"))
      }),

    // Stream-stream interval join (clicks ⋈ purchases within ±1h per
    // user, watermarked state on both sides) — oracle is the equivalent
    // batch interval join; on static input the streaming inner join must
    // emit exactly the batch result.
    Q("q58_stream_interval_join",
      Some("""SELECT c.user_id, c.ts AS click_ts, p.ts AS purchase_ts,
             |  c.value AS click_value, p.value AS purchase_value
             |FROM (SELECT * FROM events WHERE event_type = 'click') c
             |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
             |  ON c.user_id = p.user_id
             | AND p.ts >= c.ts - INTERVAL '1 hour'
             | AND p.ts <= c.ts + INTERVAL '1 hour'""".stripMargin),
      (s, dir) => {
        val joined = EventsStream.clickPurchaseJoin(EventsStream.read(s, dir))
        EventsStream.runToMemory(joined, OutputMode.Append(),
          statePartitions = EventsStream.harnessStatePartitions(dir))
      }),

    // Native session_window aggregation (batch surface of the
    // gaps-and-islands family the custom sessionize covers in
    // streaming): per-user sessions with a 1-hour gap, window end =
    // last event + gap. Session boundaries are half-open [start, end):
    // an event exactly gap after its predecessor starts a NEW session,
    // so the oracle's gap rule is `>=` at MICROSECOND precision —
    // q25's second-floored `>` rule would disagree on exact-gap and
    // sub-second boundaries.
    Q("q136_session_window",
      Some("""WITH g AS (SELECT user_id, ts, value,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 3600000000
             |         THEN 1 ELSE 0 END AS new_session
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |s AS (SELECT user_id, ts, value,
             |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
             |  FROM g)
             |SELECT user_id, min(ts) AS session_start,
             |  max(ts) + INTERVAL '1 hour' AS session_end,
             |  count(*) AS n_events, round(sum(value), 4) AS sum_value
             |FROM s GROUP BY user_id, session_id""".stripMargin),
      (s, dir) =>
        // standalone evaluation — the safe shape; composition must go
        // through EventsStream.sessionAggComposable (see its scaladoc)
        EventsStream.sessionAgg(graft.sources.Tables.events(s, dir)))
  )
}
