package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.TimestampType

import graft.{SparkSpec, TempDirs}
import graft.streaming.EventsStream

/** Schema-drift regression guard for the events table.
  *
  * The driver's testdata generator has already shipped `events.ts` under
  * two different parquet encodings (TIMESTAMP(NANOS) through round 6,
  * plain `timestamp[us]` from round 7's regen) — and the second switch
  * broke 12 oracle queries and silently corrupted the streaming path
  * (µs reinterpreted as ns compressed 30 days into 43 minutes). These
  * fixtures (committed, generated by `scripts/gen_ts_fixtures.py`) carry
  * IDENTICAL logical rows in every encoding seen so far, so any future
  * regen that changes the encoding again either decodes identically or
  * fails these tests loudly — it can never ship a silent misread.
  */
class EventsEncodingSpec extends SparkSpec with TempDirs {

  private def fixture(name: String): String =
    Paths.get(getClass.getResource(s"/events_ts_fixtures/$name/events.parquet").toURI)
      .getParent.toString

  private val encodings = Seq("nanos", "nanos_utc", "us_ntz", "us_utc")

  /** (event_id, ts-epoch-micros, user_id, event_type, value, props) rows,
    * sorted — the canonical decoded content all encodings must agree on. */
  private def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, String, Double, String)] = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    df.select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getDouble(4), r.getString(5)))
      .toSeq.sortBy(_._1)
  }

  test("Tables.events decodes every known ts encoding to identical rows") {
    val decoded = encodings.map(e => e -> canon(Tables.events(spark, fixture(e))))
    decoded.foreach { case (e, rs) =>
      assert(rs.size == 20, s"$e: expected 20 rows")
      // spot-check an absolute instant: row 0 is 2023-05-01T00:00:00Z
      assert(rs.head._2 == 1682899200000000L, s"$e: row 0 instant drifted")
    }
    val ref = decoded.head._2
    decoded.tail.foreach { case (e, rs) =>
      assert(rs == ref, s"encoding $e decoded differently from ${decoded.head._1}")
    }
  }

  test("Tables.events always surfaces ts as session-TZ TimestampType") {
    encodings.foreach { e =>
      val t = Tables.events(spark, fixture(e)).schema("ts").dataType
      assert(t == TimestampType, s"$e: got $t")
    }
  }

  test("EventsStream.read equals Tables.events row-for-row on every encoding") {
    // This parity is the assertion that would have caught the silent
    // stream corruption even under the OLD encoding: the batch reader
    // threw loudly while the stream returned garbage.
    encodings.foreach { e =>
      val dir = fixture(e)
      val streamed = EventsStream.runToMemory(
        EventsStream.read(spark, dir), OutputMode.Append())
      assert(canon(streamed) == canon(Tables.events(spark, dir)),
        s"stream decode of $e diverges from batch decode")
    }
  }

  test("decoding is session-timezone-independent on every encoding") {
    // The NTZ branch once relied on the engine's UTC session pin: a bare
    // cast(TimestampType) re-tags NTZ walls in the SESSION zone, so under
    // a non-UTC session the us_ntz file decoded to instants shifted by
    // the zone offset while the nanos path stayed absolute. The explicit
    // convert_timezone('UTC', sessionZone, ts) form must decode the same
    // absolute instants regardless of session TZ.
    val utc = encodings.map(e => e -> canon(Tables.events(spark, fixture(e)))).toMap
    val prior = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      encodings.foreach { e =>
        assert(canon(Tables.events(spark, fixture(e))) == utc(e),
          s"$e: decode drifted under a non-UTC session timezone")
      }
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
  }

  test("start-stream-before-data: loud without fallback, live with it") {
    val dir = tempDir("graft-empty-events")
    // no files yet: the probe cannot know the encoding — must refuse
    val err = intercept[IllegalStateException] {
      EventsStream.read(spark, dir.toString)
    }
    assert(err.getMessage.contains("fallbackSchema"),
      s"error should point at the opt-in: ${err.getMessage}")
    // with the pinned-encoding opt-in the stream starts on the empty
    // dir and picks up the first file on arrival
    val stream = EventsStream.read(spark, dir.toString,
      fallbackSchema = Some(EventsStream.defaultOnDiskSchema))
    val src = Paths.get(
      getClass.getResource("/events_ts_fixtures/us_ntz/events.parquet").toURI)
    java.nio.file.Files.copy(src, dir.resolve("events.parquet"))
    val streamed = EventsStream.runToMemory(stream, OutputMode.Append())
    assert(canon(streamed) == canon(Tables.events(spark, fixture("us_ntz"))),
      "pre-started stream decoded the late-arriving file differently from batch")
  }

  test("an unknown ts encoding fails loudly instead of guessing") {
    val err = intercept[IllegalStateException] {
      Tables.events(spark, fixture("bad_string"))
    }
    assert(err.getMessage.contains("unsupported type"),
      s"error should name the unsupported type: ${err.getMessage}")
    val errStream = intercept[IllegalStateException] {
      EventsStream.read(spark, fixture("bad_string"))
    }
    assert(errStream.getMessage.contains("unsupported type"))
  }
}
