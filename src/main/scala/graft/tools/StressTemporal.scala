package graft.tools

import org.apache.spark.sql.functions._

import graft.multimodal.{Media, MediaCodec}
import graft.multimodal.Media.MediaRow

/** Scale probe for the temporal media family (driver-side tooling):
  * nVideo real MJPEG clips (6 frames, every 5th with a planted hard
  * cut) and nAudio real gapped-tone WAVs, through the full codec path.
  * The family's scale claim is SHAPE, not constant factor: the decode +
  * detect pass is per-row local (zero shuffle for [[Media.keyFrames]];
  * one narrow hash exchange of (media_id, frame_idx, fhash) rows for
  * the track-based [[Media.sceneCutsFromHashes]]), so wall time is
  * decode-bound and embarrassingly parallel — 1000 executors cut it
  * 1000×. Reports per-stage wall time, detected-cut / segment counts,
  * and the re-threshold cost on the persisted tracks (which must be
  * codec-free: milliseconds, not the decode pass again).
  *
  * Knobs: SPARK_GRAFT_TEMPORAL_VIDEOS (default 30,000),
  * SPARK_GRAFT_TEMPORAL_AUDIOS (default 100,000). */
object StressTemporal {
  def main(args: Array[String]): Unit = {
    val nVideo = sys.env.getOrElse("SPARK_GRAFT_TEMPORAL_VIDEOS", "30000").toLong
    val nAudio = sys.env.getOrElse("SPARK_GRAFT_TEMPORAL_AUDIOS", "100000").toLong
    val spark = graft.EngineConf.localSession(None)
    import spark.implicits._

    val rm = new RunMetrics(spark, "temporal")
    // --- video: 6-frame 48x32 MJPEG, every 5th clip with a cut at 3.
    // Payloads are MATERIALIZED first so the timed stages measure the
    // operators (decode/detect), not the seeded synthesis.
    val videos = spark.range(nVideo).as[Long].map { id =>
      val payload =
        if (id % 5 == 0) MediaCodec.synthAviCut(id, id + 5000L, 48, 32, 6, 3)
        else MediaCodec.synthAvi(id, 48, 32, 240L)
      MediaRow(id, "video", payload, 48, 32, 240L)
    }.persist()
    println(s"[temporal] ${"%,d".format(nVideo)} videos x 6 frames, " +
      s"${"%,d".format(nAudio)} audios (<=2 s @ 8 kHz)")
    rm.stage("synth video payloads")(videos.count())

    val track = rm.stage("withEveryFrameHash (decode)") {
      val t = Media.withEveryFrameHash(videos).persist()
      println(s"[temporal]   frame rows: ${"%,d".format(t.count())}")
      t
    }
    rm.stage("sceneCutsFromHashes t=25") {
      val cuts = Media.sceneCutsFromHashes(track, 25)
        .filter(col("is_cut") && col("frame_idx") > 0).count()
      println(s"[temporal]   cuts: ${"%,d".format(cuts)} " +
        s"(planted ${"%,d".format(nVideo / 5)})")
    }
    rm.stage("re-threshold t=40 (no codec)") {
      val cuts = Media.sceneCutsFromHashes(track, 40)
        .filter(col("is_cut") && col("frame_idx") > 0).count()
      println(s"[temporal]   cuts@40: ${"%,d".format(cuts)}")
    }
    rm.stage("keyFrames (1 pass, 0 shuffle)") {
      val kf = Media.keyFrames(videos, 25).count()
      println(s"[temporal]   keyframes: ${"%,d".format(kf)} " +
        s"(expected ~${"%,d".format(nVideo + nVideo / 5)})")
    }
    track.unpersist(); videos.unpersist()

    // --- audio: gapped tone (250 ms on / 150 ms off), seeded duration
    val audios = spark.range(nAudio).as[Long].map { id =>
      val dur = 400L + id % 1600L
      MediaRow(id, "audio", MediaCodec.synthWavGapped(id, dur, 250L, 150L),
        0, 0, dur)
    }.persist()
    rm.stage("synth audio payloads")(audios.count())
    val energy = rm.stage("withAudioEnergy (decode)") {
      val e = Media.withAudioEnergy(audios, 50).persist()
      println(s"[temporal]   energy windows: ${"%,d".format(e.count())}")
      e
    }
    rm.stage("audioActivityFromEnergy") {
      val segs = Media.audioActivityFromEnergy(energy, 100.0)
      val st = segs.agg(count(lit(1)), sum(col("end_ms") - col("start_ms")))
        .head()
      println(s"[temporal]   segments: ${"%,d".format(st.getLong(0))}, " +
        s"active: ${"%,d".format(st.getLong(1) / 1000)} s of audio")
    }
    rm.stage("re-threshold rms>=3000 (no codec)") {
      println(s"[temporal]   segments@3000: ${"%,d".format(
        Media.audioActivityFromEnergy(energy, 3000.0).count())}")
    }
    energy.unpersist(); audios.unpersist()

    // --- scrub: byte-surgical metadata removal at volume (half PNGs
    // with a planted tEXt author/GPS field, half WAVs with a planted
    // INFO artist chunk)
    val tagged = spark.range(nAudio).as[Long].map { id =>
      if (id % 2 == 0)
        MediaRow(id, "image",
          MediaCodec.withPngText(MediaCodec.synthPng(id, 48, 32),
            "Author", s"user-$id gps ${id % 90}.${id % 100}"),
          48, 32, 0L)
      else
        MediaRow(id, "audio",
          MediaCodec.withRiffInfo(MediaCodec.synthWav(id, 300L),
            s"artist-$id <u$id@example.com>"), 0, 0, 300L)
    }.persist()
    rm.stage("synth tagged payloads")(tagged.count())
    rm.stage("scrubMetadataStats (byte surgery)") {
      val st = Media.scrubMetadataStats(tagged)
        .agg(count(lit(1)), sum("bytes_removed"), sum("bytes_before")).head()
      println(s"[temporal]   scrubbed ${"%,d".format(st.getLong(0))} payloads, " +
        s"removed ${"%,d".format(st.getLong(1))} of " +
        s"${"%,d".format(st.getLong(2))} bytes")
    }
    tagged.unpersist()
    spark.stop()
  }
}
