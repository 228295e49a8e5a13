package graft.streaming


import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}
import graft.multimodal.{Media, MediaCodec}
import graft.multimodal.Media.MediaRow

/** Streaming parity for the temporal-media family: clips arriving in
  * micro-batches accumulate the SAME persisted hash/energy tracks a
  * batch pass computes, and re-thresholding from the loaded track is
  * row-for-row the batch analysis — plus the generation-replay and
  * re-crawl (latest-wins) semantics the sink/loader pair guarantees. */
class MediaStreamSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private val W = 48
  private val H = 32

  private def videoRows: Seq[MediaRow] =
    (1L to 6L).map { id =>
      val payload =
        if (id % 2 == 0) MediaCodec.synthAviCut(id, id + 5000L, W, H, 6, 3)
        else MediaCodec.synthAvi(id, W, H, 6 * 40L)
      MediaRow(id, "video", payload, W, H, 240L)
    } :+ MediaRow(99L, "audio", MediaCodec.synthWav(9L, 300L), 0, 0, 300L)

  private def audioRows: Seq[MediaRow] =
    (1L to 6L).map { id =>
      MediaRow(id, "audio",
        MediaCodec.synthWavGapped(id, 900L, 250L, 150L), 0, 0, 900L)
    } :+ MediaRow(99L, "video", MediaCodec.synthAvi(7L, W, H, 80L), W, H, 80L)

  /** Two single-file micro-batches from `rows` split by id parity. */
  private def streamOf(rows: Seq[MediaRow]) = {
    val src = tempDir("graft_mediastream_src")
    val ds = rows.toDS()
    ds.filter($"media_id" % 2 === 0).coalesce(1)
      .write.parquet(s"$src/even.parquet.dir")
    ds.filter($"media_id" % 2 =!= 0).coalesce(1)
      .write.parquet(s"$src/odd.parquet.dir")
    spark.readStream.schema(ds.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(src.toString).as[MediaRow]
  }

  test("streamed frame-hash generations == batch track; scene cuts re-threshold identically") {
    val rows = videoRows
    val dir = tempDir("graft_mediastream_vtrack")
    MediaStream.frameHashesToParquet(streamOf(rows), dir.toString)
    val gens = spark.read.parquet(dir.toString)
      .select("batch_id").distinct().count()
    assert(gens === 2L, s"expected one generation per micro-batch, got $gens")
    val streamed = MediaStream.loadTrack(spark, dir.toString)
      .select("media_id", "frame_idx", "t_ms", "fhash")
      .as[(Long, Int, Long, Long)].collect().toSet
    val batch = Media.withEveryFrameHash(rows.toDS())
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(streamed === batch, "stream-accumulated track must equal the batch pass")
    assert(batch.nonEmpty && !batch.exists(_._1 == 99L),
      "non-video rows must be absent from the track")
    // re-threshold from the persisted track == batch sceneCuts, including
    // the planted cut at frame 3 of every even clip
    val got = Media.sceneCutsFromHashes(
        MediaStream.loadTrack(spark, dir.toString), threshold = 25)
      .select("media_id", "frame_idx", "is_cut")
      .as[(Long, Int, Boolean)].collect().toSet
    val want = Media.sceneCuts(rows.toDS(), threshold = 25)
      .select("media_id", "frame_idx", "is_cut")
      .as[(Long, Int, Boolean)].collect().toSet
    assert(got === want)
    assert((2L to 6L by 2).forall(id => got.contains((id, 3, true))),
      s"planted cuts must be detected from the streamed track: $got")
  }

  test("streamed audio-energy generations == batch track; VAD re-thresholds identically") {
    val rows = audioRows
    val dir = tempDir("graft_mediastream_atrack")
    MediaStream.audioEnergyToParquet(streamOf(rows), dir.toString, windowMs = 50)
    val streamed = MediaStream.loadTrack(spark, dir.toString)
      .select("media_id", "win_idx", "start_ms", "end_ms", "rms")
      .as[(Long, Int, Long, Long, Double)].collect().toSet
    val batch = Media.withAudioEnergy(rows.toDS(), windowMs = 50)
      .as[(Long, Int, Long, Long, Double)].collect().toSet
    assert(streamed === batch)
    assert(batch.nonEmpty && !batch.exists(_._1 == 99L),
      "non-audio rows must be absent from the track")
    val got = Media.audioActivityFromEnergy(
        MediaStream.loadTrack(spark, dir.toString), minRms = 100.0)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    val want = Media.audioActivity(rows.toDS(), windowMs = 50, minRms = 100.0)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    assert(got === want && got.nonEmpty)
  }

  test("replayed generation is idempotent; a re-crawled clip resolves latest-wins") {
    val dir = tempDir("graft_mediastream_replay")
    val gen0 = Seq(
      MediaRow(1L, "video", MediaCodec.synthAvi(1L, W, H, 6 * 40L), W, H, 240L),
      MediaRow(2L, "video", MediaCodec.synthAvi(2L, W, H, 6 * 40L), W, H, 240L)).toDS()
    MediaStream.writeFrameHashGeneration(gen0, 0L, dir.toString)
    val once = MediaStream.loadTrack(spark, dir.toString).count()
    // a failure replay delivers the same batch id again: overwrite, not append
    MediaStream.writeFrameHashGeneration(gen0, 0L, dir.toString)
    assert(MediaStream.loadTrack(spark, dir.toString).count() === once,
      "replaying a batch id must replace its generation, not duplicate it")
    // clip 1 re-crawled with DIFFERENT content (2 frames instead of 6):
    // the loader must keep only the newest generation's track for it
    val gen1 = Seq(
      MediaRow(1L, "video", MediaCodec.synthAvi(8L, W, H, 2 * 40L), W, H, 80L)).toDS()
    MediaStream.writeFrameHashGeneration(gen1, 1L, dir.toString)
    val track = MediaStream.loadTrack(spark, dir.toString)
    val frames1 = track.filter($"media_id" === 1L).count()
    assert(frames1 === 2L,
      s"re-crawled clip must resolve to its newest track, got $frames1 frames")
    assert(track.filter($"media_id" === 2L).count() === 6L,
      "clips seen once must pass through unchanged")
  }
}
