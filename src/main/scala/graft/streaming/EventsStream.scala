package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Structured Streaming over the events table — the engine's streaming
  * extension (SURVEY.md §2.12: the reference is batch-only; this mirrors
  * its time-slot aggregations as watermarked windowed streams).
  *
  * The events parquet's `ts` encoding varies by corpus generation
  * (TIMESTAMP(NANOS) vs timestamp[us]); streaming reads can't infer a
  * schema, so a hard-wired one silently REINTERPRETS a drifted file —
  * a forced LongType over a micros file once compressed 30 days of
  * events into 43 minutes without a single error. Instead the stream
  * probes the files' actual schema with a batch read at construction
  * time (metadata-only — no data scan) and derives both its source
  * schema and the ts rebuild from what is really on disk, delegating
  * the normalization rules to [[graft.sources.Tables.normalizeEventsTs]]
  * so batch and stream can never diverge.
  */
object EventsStream {

  /** Current-generation on-disk events schema (parquet timestamp[us],
    * isAdjustedToUTC=false → TimestampNTZ under Spark's default
    * inference). Used only as the explicit opt-in fallback for the
    * start-stream-before-data pattern — see [[read]]. */
  val defaultOnDiskSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-stream source over a directory; `glob` selects which parquet
    * files inside it belong to the stream (the source requires a
    * directory basePath, not a file).
    *
    * PRECONDITION: at least one file matching `glob` already exists —
    * the schema probe is a batch footer read, so an empty directory
    * throws (AnalysisException) rather than guessing an encoding. For
    * the start-stream-before-data pattern, pass `fallbackSchema`
    * (e.g. [[defaultOnDiskSchema]]): it is used ONLY when the probe
    * finds no files, and it re-states the hard-wired-schema risk the
    * probe exists to remove — a drifted first file is then silently
    * reinterpreted, so only opt in when the producer's encoding is
    * pinned by contract. */
  def read(spark: SparkSession, dir: String, glob: String = "events.parquet",
           fallbackSchema: Option[StructType] = None): DataFrame = {
    // harmless for non-NANOS files; required to read NANOS files at all
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // batch-side probe of the real on-disk schema (footer read only)
    val resolved =
      try spark.read.option("pathGlobFilter", glob).parquet(dir).schema
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          fallbackSchema.getOrElse(throw new IllegalStateException(
            s"EventsStream.read: no parquet file matching '$glob' exists yet " +
              s"under $dir, so the on-disk ts encoding cannot be probed. Either " +
              "write at least one file before starting the stream, or pass " +
              "fallbackSchema (e.g. EventsStream.defaultOnDiskSchema) to accept " +
              "the pinned-encoding contract.", e))
      }
    val raw = spark.readStream.schema(resolved)
      .option("pathGlobFilter", glob)
      .parquet(dir)
    graft.sources.Tables.normalizeEventsTs(raw)
  }

  /** Tumbling-window counts per event type with a watermark — the
    * streaming twin of the batch time-slot aggregates (q06/q21). */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Sliding-window average value. */
  def slidingAvg(events: DataFrame, window_ : String = "1 hour",
                 slide: String = "30 minutes", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide))
      .agg(avg(col("value")).as("avg_value"))

  /** Batch session_window aggregation (the q136 shape): per-user
    * sessions with a `gap` inactivity bound, window end = last event +
    * gap, half-open [start, end) at microsecond precision.
    *
    * SAFE STANDALONE ONLY. Composing this raw plan into a multi-frame
    * plan (joining/anti-joining it against another frame) can re-plan
    * the sessionization and surface UNMERGED partial sessions — an
    * anti-join once "found" 90 phantom rows while both standalone sides
    * were provably equal (EXPLAIN.md q136). For composition use
    * [[sessionAggComposable]]. */
  def sessionAgg(events: DataFrame, gap: String = "1 hour"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("sum_value"))

  /** The composition-safe form of [[sessionAgg]]: eagerly materializes
    * the aggregated sessions (localCheckpoint) so the logical plan a
    * downstream join sees is the FINISHED row set, not a re-plannable
    * sessionization — the fused-plan phantom-partial trap cannot
    * reappear through this entry point. Costs one materialization;
    * that is the trade the trap demands. */
  def sessionAggComposable(events: DataFrame, gap: String = "1 hour"): DataFrame =
    sessionAgg(events, gap).localCheckpoint()

  case class UserEvent(user_id: Long, value: Double)
  case class UserTotals(user_id: Long, n: Long, total: Double)

  /** Custom per-key state via mapGroupsWithState: running per-user totals
    * (the stateful-op surface — KeyValueGroupedDataset state API). */
  def userTotals(events: DataFrame): Dataset[UserTotals] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("value")).as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserTotals, UserTotals](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(uid, 0L, 0.0))
          var n = prev.n
          var tot = prev.total
          rows.foreach { r => n += 1; tot += r.value }
          val next = UserTotals(uid, n, tot)
          state.update(next)
          next
      }
  }

  /** Stream-stream join: clicks joined to the same user's purchases
    * within ±`range` of the click, both sides watermarked so the join
    * STATE evicts — Spark buffers each side only until the other side's
    * watermark clears the time-range bound, which is what keeps a
    * perpetual two-stream join runnable at all. Self-join of one source
    * stream through two filtered branches.
    *
    * `joinType` "inner" (default) or "leftOuter": the outer form emits
    * an unmatched click with null purchase columns once the watermark
    * proves no in-range purchase can still arrive — the
    * conversion-funnel shape (every click accounted for, matched or
    * not) that an inner join silently drops. Outer emission REQUIRES
    * the watermark: the null row exists only because eviction certifies
    * the non-match, so an unbounded-lateness caller can't have it. */
  def clickPurchaseJoin(events: DataFrame, range: String = "1 hour",
                        watermark: String = "2 hours",
                        joinType: String = "inner"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("value").as("click_value"))
      .withWatermark("click_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", watermark)
    clicks.join(purchases,
      col("user_id") === col("p_user")
        && col("purchase_ts") >= col("click_ts") - expr(s"INTERVAL $range")
        && col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $range"),
      joinType)
      .select("user_id", "click_ts", "purchase_ts",
        "click_value", "purchase_value")
  }

  /** Streaming exact dedup — the streaming twin of the batch
    * hash-group dedup: drop rows whose `event_id` was already seen within
    * the watermark horizon. `dropDuplicatesWithinWatermark` keeps one
    * state entry per id and evicts it once the watermark passes, so state
    * is bounded by the ingest rate × watermark window, not history — the
    * property that lets a 100 TB/day stream dedupe at all. */
  def dedupe(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming CDC upsert sink: apply each microbatch of change rows to
    * a parquet snapshot with [[graft.operators.Relational.applyCdc]]
    * semantics (latest version per key wins, deletes drop the key) and
    * rewrite the snapshot — the foreachBatch MERGE pattern for targets
    * without a transactional table format. The full-snapshot rewrite per
    * batch is the price of that format (same trade-off as
    * [[runToParquetDedup]]); a real deployment points this at a table
    * format with row-level merge and keeps the batch logic unchanged.
    * Writes via a temp directory + atomic-ish swap so a crash mid-write
    * can't destroy the old snapshot AND the read of it.
    *
    * Requires per-key IN-ORDER delivery across microbatches (the
    * standard CDC source contract): the snapshot keeps no tombstones, so
    * an update replayed from before an already-applied delete would
    * resurrect the row. */
  def runCdcToParquet(changes: DataFrame, snapshotDir: String,
                      keyCol: String, versionCol: String, opCol: String): Unit = {
    val spark = changes.sparkSession
    StreamDriver.eachBatch(changes) { (batch, _) =>
      val base =
        try spark.read.parquet(snapshotDir)
        catch { case _: org.apache.spark.sql.AnalysisException =>
          // empty base with the payload schema (no version/op cols)
          batch.drop(versionCol, opCol).limit(0)
        }
      val merged = graft.operators.Relational
        .applyCdc(base, batch, keyCol, versionCol, opCol)
      val tmp = snapshotDir + ".tmp"
      merged.write.mode("overwrite").parquet(tmp)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val dst = new org.apache.hadoop.fs.Path(snapshotDir)
      fs.delete(dst, true)
      if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), dst))
        throw new java.io.IOException(s"CDC snapshot swap failed: $tmp -> $dst")
    }
  }

  /** Stream-static enrichment join — the dimension-lookup shape (attach
    * user/account attributes to an event stream). STATELESS, unlike a
    * stream-stream join: no watermark, no join state; the static side is
    * re-planned per microbatch (so a refreshed dim table is picked up on
    * the next trigger). Left unhinted so the planner broadcasts a dim
    * that fits and falls back to a shuffle join for one that doesn't —
    * a forced broadcast would OOM on a large dimension. Left-outer keeps
    * events whose key has no dim row — dropping them silently is the
    * classic enrichment bug. */
  def enrichWithStatic(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(dim, Seq(key), "left")

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  /** Open-session state: id assigned in event-time order per user.
    * `n_events == 0` marks a CLOSED-marker state: the previous session
    * timed out and was emitted, and `session_id` is the id the user's
    * NEXT session must take. The marker is what keeps the per-user
    * session counter monotonic across timeouts — `state.remove()` here
    * would restart ids at 1 and emit duplicate (user_id, session_id)
    * keys across batches. */
  case class OpenSession(session_id: Long, last_ts_ms: Long, n_events: Long)
  case class Session(user_id: Long, session_id: Long, n_events: Long)

  /** Streaming gaps-and-islands sessionization — the streaming twin of the
    * batch lag+cumsum form (q25), via `flatMapGroupsWithState` with an
    * event-time timeout (the stateful surface beyond running totals).
    *
    * A session closes and emits when a gap > `gapSec` (in FLOORED
    * seconds — [[sameSession]], the rule shared with the batch twin and
    * its oracle) is observed within a batch, or when the watermark
    * passes the end of the gap band ([[sessionTimeoutMs]]).
    * A timed-out user leaves a closed-marker state (one small row) so the
    * session counter survives the timeout; state is therefore bounded by
    * |users ever seen|, not history — the same bound as the batch q25
    * result itself. Session ids count from 1 per user in event-time
    * order, matching q25's cumsum. */
  /** THE gap rule, shared by [[sessionize]], [[ChatStream.audit]], their
    * batch twins (q25, [[graft.text.Instruct.turns]]) and the DuckDB
    * oracles: two events belong to one session iff their FLOOR-TO-SECOND
    * epoch difference is ≤ gapSec. The batch twins diff
    * `unix_timestamp` values (floored seconds), so a millisecond-exact
    * stream rule would split a gap in the (gapSec, gapSec+1) band
    * differently from batch — one rule, defined once, keeps every
    * formulation aligned on the band. (Epochs here are non-negative, so
    * Java long division IS floor.) */
  private[streaming] def sameSession(lastTsMs: Long, tsMs: Long,
                                     gapSec: Long): Boolean =
    tsMs / 1000L - lastTsMs / 1000L <= gapSec

  /** Earliest event-time at which NO further event can extend a session
    * last touched at `lastTsMs` under [[sameSession]]: the first
    * millisecond of the first second strictly beyond the gap band. An
    * event-time timeout set any earlier could fire while a
    * still-in-session event (same floored second, later millisecond)
    * remains admissible. */
  private[streaming] def sessionTimeoutMs(lastTsMs: Long, gapSec: Long): Long =
    (lastTsMs / 1000L + gapSec + 1L) * 1000L

  def sessionize(events: DataFrame, gapSec: Long = 3600,
                 watermarkDelay: String = "0 seconds"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.withWatermark("ts", watermarkDelay)
      .select(col("user_id"), col("ts")).as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            // Emit the session but KEEP the counter: a closed marker
            // (n_events = 0) carrying the next session id. No new timeout
            // is registered — the marker is inert until the user's next
            // event.
            state.update(OpenSession(s.session_id + 1, s.last_ts_ms, 0L))
            Iterator.single(Session(uid, s.session_id, s.n_events))
          } else {
            // All of a batch's rows for the key arrive unordered; sort by
            // event time within the batch (bounded by the batch, not
            // history). Late data beyond the watermark was dropped.
            val sorted = rows.toIndexedSeq.sortBy(_.ts.getTime)
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              cur = cur match {
                // closed marker: previous session already emitted on
                // timeout; session_id IS the next id to assign. Checked
                // first so a boundary-timestamp event can never "reopen"
                // an emitted session.
                case Some(s) if s.n_events == 0L =>
                  Some(OpenSession(s.session_id, e.ts.getTime, 1))
                case Some(s) if sameSession(s.last_ts_ms, e.ts.getTime, gapSec) =>
                  Some(OpenSession(s.session_id,
                    math.max(s.last_ts_ms, e.ts.getTime), s.n_events + 1))
                case Some(s) =>
                  closed ::= Session(uid, s.session_id, s.n_events)
                  Some(OpenSession(s.session_id + 1, e.ts.getTime, 1))
                case None =>
                  Some(OpenSession(1L, e.ts.getTime, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // clamp: a timeout timestamp at/below the current watermark
              // is rejected; an already-expired session then closes on the
              // next trigger instead of throwing.
              state.setTimeoutTimestamp(
                math.max(sessionTimeoutMs(s.last_ts_ms, gapSec),
                  state.getCurrentWatermarkMs() + 1))
            }
            closed.reverse.iterator
          }
      }
  }

  /** Depth-first recursive delete for the throwaway checkpoints —
    * deleteOnExit can't remove a populated directory, and leftover
    * checkpoints from repeated or FAILED harness runs would accumulate
    * (on tmpfs: eat memory). */
  private[graft] def deleteRecursively(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(java.nio.file.Files.walk(root)) { stream =>
      stream.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** foreachBatch sink pattern — the production shape for sinks
    * Structured Streaming lacks natively (upsert/merge): each microbatch
    * is deduped within itself AND anti-joined against what the target
    * already holds before appending, so replayed or re-delivered events
    * never duplicate (idempotent at-least-once → effectively-once).
    * The per-batch target read is the price of merge-on-write without a
    * transactional table format; at scale the anti-join's right side is
    * a key-only column scan. */
  def runToParquetDedup(df: DataFrame, outDir: String,
                        keyCol: String = "event_id"): Unit = {
    val spark = df.sparkSession
    StreamDriver.eachBatch(df) { (batch, _) =>
      val fresh = batch.dropDuplicates(keyCol)
      val existing =
        try Some(spark.read.parquet(outDir).select(keyCol))
        catch { case _: org.apache.spark.sql.AnalysisException => None }
      val toWrite = existing.fold(fresh)(e =>
        fresh.join(e, Seq(keyCol), "left_anti"))
      toWrite.write.mode("append").parquet(outDir)
    }
  }

  /** Erasure-cascade enforcement at the INGESTION boundary — the
    * streaming side of [[graft.operators.Privacy.eraseByKey]]: every
    * arriving micro-batch is left-anti-joined against the deduplicated
    * erasure-request index before it is appended, so a key erased from
    * the store can never be RE-ADMITTED by late or replayed upstream
    * data (batch erasure alone is a one-shot scrub; without the inlet
    * filter the next ingestion window silently re-creates the rows the
    * regulator was told are gone). Requests are deduplicated once and
    * localCheckpoint'd up front — replayed/duplicate requests are
    * idempotent, and the (possibly expensive) request-side pipeline is
    * not re-run per micro-batch. At scale the request index is tiny
    * relative to the corpus, so AQE broadcasts the anti-join's right
    * side; the sink stays a plain distributed append (no target
    * re-read — erasure filters the inlet, it does not merge).
    * `EventsStreamSpec` pins 2-micro-batch parity with batch
    * [[graft.operators.Privacy.eraseByKey]] and idempotence under a
    * duplicated request frame. */
  def runToParquetErased(df: DataFrame, outDir: String,
                         requests: DataFrame, keyCol: String): Unit = {
    require(requests.columns.length == 1,
      s"requests must be a single-column key frame, got ${requests.columns.mkString(", ")}")
    val index = requests.toDF("_erase_key").distinct().localCheckpoint()
    StreamDriver.eachBatch(df) { (batch, _) =>
      batch.join(index, batch(keyCol) === index("_erase_key"), "left_anti")
        .write.mode("append").parquet(outDir)
    }
  }

  /** State-store partition count for the harness's in-query streams
    * (q28/q58/q158), derived from the stream input's BYTES:
    * ceil(events.parquet bytes / 1 MB), clamped to [2, 4096] — the same
    * byte-derived-width discipline as EngineConf.harnessShufflePartitions,
    * never the core count (r18 profiled 32 partitions paying 3× the
    * query in per-partition store open/commit). r19 measured the sf0.1
    * fixture (2 MB of events → 2) across 1/2/4/8: q58 3.63/2.16/2.35/
    * 2.78/3.63 s at 8/2/4/1/8 — 1 over-serializes the join, 8 pays 4×
    * the open/commits; the byte rule lands on the measured-best value
    * and GROWS with input volume. Production sizes state partitions to
    * keys × retention ([[StreamDriver.drain]]), and the count is
    * frozen into the checkpoint at first start — this method is the
    * single place the harness's choice lives instead of a constant
    * repeated per query builder. */
  private[graft] def harnessStatePartitions(dir: String,
                                            glob: String = "events.parquet"): Option[Int] = {
    val f = new java.io.File(dir, glob)
    val bytes = if (f.exists) f.length else 0L
    Some((((bytes + (1L << 20) - 1) / (1L << 20)) max 2L min 4096L).toInt)
  }

  /** Drive a stream to completion into the noop sink in Append mode — the
    * BENCH harness. Append + a distributed sink is the shape that scales:
    * the watermark actually evicts window state (it is inert in Complete
    * mode) and nothing is materialized on the driver. The Complete-mode
    * memory sink ([[runToMemory]]) stays verify-only: it re-collects every
    * window into driver memory each trigger. `statePartitions`: see
    * [[StreamDriver.drain]]. */
  def runToNoop(df: DataFrame, statePartitions: Option[Int] = None): Unit =
    StreamDriver.drain(df, statePartitions)(_.format("noop").outputMode(OutputMode.Append()))

  /** Drive a stream to completion against static input and return the
    * result (memory sink) — the synchronous harness for tests and Verify.
    * The sink's view gets a unique internal name and is dropped before
    * this returns, so repeated runs leave nothing in the session catalog;
    * the returned frame keeps the sink's rows. `statePartitions` is the
    * state-store sizing of [[StreamDriver.drain]] (emitted rows are
    * identical at any setting), with its concurrency constraint: the
    * width is session-global while the stream runs. */
  def runToMemory(df: DataFrame, outputMode: OutputMode,
                  statePartitions: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    val name = "graft_mem_" + java.util.UUID.randomUUID().toString.replace('-', '_')
    try {
      StreamDriver.drain(df, statePartitions)(
        _.format("memory").queryName(name).outputMode(outputMode))
      spark.table(name)
    } finally spark.catalog.dropTempView(name)
  }
}
