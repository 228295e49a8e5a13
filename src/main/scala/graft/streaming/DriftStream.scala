package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming drift-histogram maintenance: events arrive as a stream and
  * each micro-batch appends its OWN tiny (period, bucket) groupBy as a
  * new on-disk generation — the drift twin of the RetrievalStream /
  * DocDedupStream ingestion shapes. Per-(period, bucket) counts are
  * ADDITIVE, so no cross-batch state exists: the accumulated histogram
  * re-sums exactly ([[graft.operators.Drift.tvdSeriesFromCounts]]
  * accepts duplicate rows by contract), and the daily drift series runs
  * on histogram-sized frames without ever rescanning the corpus. That
  * is the operator's whole 100 TB argument: [[graft.operators.Drift
  * .tvdSeriesBy]] pays one corpus-scale aggregate per run; this form
  * pays it once per micro-batch ON THE BATCH ONLY, and the monitor's
  * repeated runs read counts. */
object DriftStream {

  /** foreachBatch sink: each arriving batch writes its
    * `(period, bucket, c)` counts under `dir` keyed by its batch id —
    * replays REPLACE their batch partition (effectively-once per batch
    * id, the bm25IndexAppend discipline). foreachBatch is the right
    * tool (not a stateful operator): the histogram is a static
    * artifact, and Spark's streaming aggregation state store would
    * hold exactly the same counts WITHOUT the replayable on-disk
    * layout. The checkpoint is [[StreamDriver]]'s throwaway one, so
    * every call counts the stream's input from the start. */
  def histogramsToParquet(events: DataFrame, dir: String,
                          periodCol: Column, bucketCol: Column): Unit =
    StreamDriver.eachBatch(events) { (batch, batchId) =>
      batch.select(periodCol.cast("long").as("period"),
          bucketCol.as("bucket"))
        .groupBy("period", "bucket")
        .agg(count(lit(1)).as("c"))
        .write.mode("overwrite")
        .parquet(s"$dir/batch_id=$batchId")
    }

  /** Load the accumulated histogram generations: `(period, bucket, c)`
    * with one row per (batch, period, bucket) — intentionally NOT
    * pre-summed; [[graft.operators.Drift.tvdSeriesFromCounts]] sums
    * duplicates by contract, so the load is a bare partition-discovery
    * scan. */
  def loadHistograms(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).select("period", "bucket", "c")
}
