package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.{SparkSpec, TempDirs}
import graft.sources.Tables
import graft.text.Instruct

class ChatStreamSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  lazy val streamDir: String = {
    val d = suiteTempDir("graft_chat_stream")
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      d.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    d.toString
  }

  test("streaming chat audit matches the batch alternationAudit row-for-row") {
    val streamed = EventsStream.runToMemory(
      ChatStream.audit(EventsStream.read(spark, streamDir)).toDF(),
      OutputMode.Append())
    val batch = Instruct.alternationAudit(
      Instruct.turns(Tables.events(spark, sfDir)))

    // nothing emitted may disagree with the batch audit on ANY column
    val cols = Seq("n_turns", "n_user", "n_assistant", "n_repeats",
      "starts_user", "ends_assistant", "n_loss_tokens", "n_total_tokens",
      "valid")
    val joined = streamed.as("s")
      .join(batch.as("b"), Seq("user_id", "session_id"), "left")
    assert(joined.filter(col("b.n_turns").isNull).count() == 0,
      "stream emitted a conversation the batch derivation does not know")
    cols.foreach { c =>
      assert(joined.filter(col(s"s.$c") =!= col(s"b.$c")).count() == 0,
        s"column $c disagrees between stream and batch")
    }

    // completeness: every conversation that closed more than one gap
    // before the final watermark (max event time, delay 0) must emit
    val lastTs = Instruct.turns(Tables.events(spark, sfDir))
      .groupBy("user_id", "session_id")
      .agg(max(unix_timestamp(col("ts"))).as("last_epoch"))
    val maxEpoch = Tables.events(spark, sfDir)
      .agg(max(unix_timestamp(col("ts")))).head.getLong(0)
    val mustEmit = lastTs.filter(col("last_epoch") + 3600 < maxEpoch)
    val missing = mustEmit
      .join(streamed, Seq("user_id", "session_id"), "left_anti").count()
    assert(missing == 0, s"$missing closed conversations never emitted")
    assert(streamed.count() > 0)
  }

  test("gap inside the (gap, gap+1)s band: floored-seconds rule keeps stream == batch") {
    // Two events 3600.8 s apart in milliseconds — but whose FLOORED
    // second difference is exactly 3600, the shared sameSession rule's
    // boundary. The batch twin (Instruct.turns) diffs unix_timestamp
    // (floored seconds), so both must land in ONE conversation; the old
    // millisecond-exact stream rule split here. No gap in the shipped
    // test data lands in this band, so this synthetic case is the pin.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val u1Rows = Seq(
      (1L, 1L, ts(86400100L), "click", "{\"k\": 1}"),
      (1L, 2L, ts(90000900L), "purchase", "{\"k\": 2}")) // +3600800 ms
    // batch: one conversation of two turns
    val batch = Instruct.alternationAudit(Instruct.turns(
      u1Rows.toDF("user_id", "event_id", "ts", "event_type", "props")))
      .select($"session_id", $"n_turns").as[(Long, Long)].collect().toSeq
    assert(batch == Seq((1L, 2L)), s"batch twin must see one session: $batch")

    val mem = MemoryStream[(Long, Long, java.sql.Timestamp, String, String)]
    val q = ChatStream.audit(
        mem.toDF.toDF("user_id", "event_id", "ts", "event_type", "props"))
      .toDF.writeStream.format("memory")
      .queryName("chat_band_test").outputMode(OutputMode.Append()).start()
    try {
      mem.addData(u1Rows: _*)
      q.processAllAvailable()
      // unrelated traffic pushes the watermark far past u1's timeout
      mem.addData((2L, 10L, ts(200000000L), "view", "{}"))
      q.processAllAvailable()
      mem.addData((2L, 11L, ts(210000000L), "view", "{}"))
      q.processAllAvailable()
    } finally q.stop()
    val u1 = spark.table("chat_band_test").filter($"user_id" === 1L)
      .select($"session_id", $"n_turns").as[(Long, Long)].collect().toSeq
    assert(u1 == Seq((1L, 2L)),
      s"stream must keep the band gap in one conversation like batch: $u1")
  }

  test("audit emits on event-time timeout and keeps the session counter") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp, String, String)]
    def at(hours: Double) = new java.sql.Timestamp(((hours + 24) * 3600 * 1000).toLong)
    val audits = ChatStream.audit(
      mem.toDF.toDF("user_id", "event_id", "ts", "event_type", "props"))
    val q = audits.toDF.writeStream.format("memory")
      .queryName("chat_timeout_test").outputMode(OutputMode.Append()).start()
    try {
      // u1 conversation 1: user click then assistant purchase — valid
      mem.addData((1L, 1L, at(0), "click", "{\"k\": 1}"),
        (1L, 2L, at(0.2), "purchase", "{\"k\": 2}"))
      q.processAllAvailable()
      // other-user traffic advances the watermark past u1's timeout
      mem.addData((2L, 10L, at(3), "view", "{}"))
      q.processAllAvailable()
      mem.addData((2L, 11L, at(3.2), "view", "{}"))
      q.processAllAvailable()
      // u1 returns: must be session 2; two user turns then close by gap
      mem.addData((1L, 3L, at(5), "click", "{\"k\": 3}"),
        (1L, 4L, at(5.1), "click", "{\"k\": 4}"),
        (1L, 5L, at(7), "signup", "{\"k\": 5}"))
      q.processAllAvailable()
    } finally q.stop()
    val u1 = spark.table("chat_timeout_test")
      .filter($"user_id" === 1L).orderBy($"session_id")
      .select($"session_id", $"n_turns", $"n_repeats", $"valid")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    // session 1: 2 turns, alternating, ends assistant -> valid
    // session 2: 2 turns (the two clicks; gap closed it before signup),
    // one repeat, ends user -> invalid
    assert(u1 == Seq((1L, 2L, 0L, true), (2L, 2L, 1L, false)), u1.toString)
  }
}
