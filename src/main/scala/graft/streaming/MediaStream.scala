package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.Media
import graft.multimodal.Media.MediaRow

/** Streaming temporal-media track maintenance: clips arrive continuously
  * in a crawl, and each micro-batch runs its ONE codec pass (per-frame
  * dHash track for video, windowed-RMS energy track for audio) and
  * appends the result as a new on-disk generation — the media twin of
  * the [[DriftStream]] / [[RetrievalStream]] ingestion shapes. No
  * cross-batch state exists: a clip's track is a pure function of its
  * payload, so the stream needs neither a state store nor re-decodes —
  * scene-cut and voice-activity analysis re-threshold the PERSISTED
  * track ([[Media.sceneCutsFromHashes]] / [[Media
  * .audioActivityFromEnergy]]), exactly as they do in batch.
  *
  * Unlike drift histograms, track rows are NOT additive — a clip's
  * track must count once. Replays of a batch id REPLACE that batch's
  * partition (effectively-once per batch id, the bm25IndexAppend
  * discipline), and a clip RE-CRAWLED in a later batch is resolved at
  * LOAD time: [[loadTrack]] keeps each media_id's newest generation
  * only (ids-only resolution — no payload bytes move), so the analysis
  * frame is identical to a batch run over the latest crawl state. */
object MediaStream {

  /** One video-track generation: the batch's codec pass persisted under
    * `dir/batch_id=N`. Exposed (not inlined in the sink) so a replay —
    * the same batch id arriving twice after a failure — is testable as
    * what it is: an overwrite of the same partition. */
  def writeFrameHashGeneration(batch: Dataset[MediaRow], batchId: Long,
                               dir: String): Unit =
    Media.withEveryFrameHash(batch)
      .write.mode("overwrite").parquet(s"$dir/batch_id=$batchId")

  /** One audio-track generation (windowed RMS), same contract. */
  def writeAudioEnergyGeneration(batch: Dataset[MediaRow], batchId: Long,
                                 dir: String, windowMs: Int = 50): Unit =
    Media.withAudioEnergy(batch, windowMs)
      .write.mode("overwrite").parquet(s"$dir/batch_id=$batchId")

  /** foreachBatch sink: every arriving micro-batch of media rows decodes
    * ONCE and appends its per-frame hash track generation under `dir`.
    * The checkpoint is [[StreamDriver]]'s throwaway one, so every call
    * decodes the stream's input from the start. */
  def frameHashesToParquet(media: Dataset[MediaRow], dir: String): Unit =
    StreamDriver.eachBatch(media)(writeFrameHashGeneration(_, _, dir))

  /** foreachBatch sink for the audio energy track, same shape. */
  def audioEnergyToParquet(media: Dataset[MediaRow], dir: String,
                           windowMs: Int = 50): Unit =
    StreamDriver.eachBatch(media)(writeAudioEnergyGeneration(_, _, dir, windowMs))

  /** Load the accumulated track with LATEST-GENERATION-WINS resolution:
    * a media_id that arrived in several batches (a re-crawl) keeps only
    * its newest batch's rows, so re-thresholding over the loaded track
    * equals a batch run over the latest crawl state. The max-generation
    * frame aggregates ids-only (map-side combinable, one narrow
    * exchange); the resolution equi-join is the track's single shuffle
    * and AQE picks broadcast when the id frame is small. Tracks whose
    * ids arrive in exactly one batch (the common crawl-dedup contract)
    * pass through unchanged. */
  def loadTrack(spark: SparkSession, dir: String): DataFrame = {
    val all = spark.read.parquet(dir)
    val latest = all.groupBy("media_id")
      .agg(max("batch_id").as("batch_id"))
    all.join(latest, Seq("media_id", "batch_id"))
      .drop("batch_id")
  }
}
