package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, MinHashConfig}

/** Streaming incremental deduplication: documents arrive as a stream and
  * every micro-batch is classified against a PRECOMPUTED base-corpus
  * index ([[Dedup.buildIndex]]) — the online half of the production
  * dedup shape (the base is indexed once, offline; arrivals check
  * against it continuously and never trigger base re-clustering).
  */
object DocDedupStream {

  /** foreachBatch sink: classify each arriving micro-batch with
    * [[Dedup.incrementalDedupAgainstIndex]] and append
    * `(doc_id, status, batch_id)` rows to `outDir`. foreachBatch is the
    * right tool (not a stateful operator): classification is a batch
    * join pipeline against static state, and the index frame — a plain
    * parquet-backed DataFrame — is re-plannable per batch without any
    * state-store involvement. Batches are independent BY DESIGN: a doc
    * is classified against the base index, not against earlier batches
    * (append the kept docs to the next index build for that). Each batch
    * writes to its OWN `batch_id=N` partition directory with overwrite —
    * a batch retried after a mid-write failure (or replayed from the
    * checkpoint) replaces its partition instead of appending duplicate
    * rows, making the sink effectively-once per batch id; readers see
    * `batch_id` as a discovered partition column. The checkpoint is
    * [[StreamDriver]]'s throwaway one, so every call classifies the
    * stream's input from the start. */
  def classifyToParquet(deltaStream: DataFrame, index: DataFrame,
                        outDir: String, threshold: Double,
                        deltaId: Column = col("doc_id"),
                        deltaText: Column = col("text"),
                        cfg: MinHashConfig = MinHashConfig.OraclePinned): Unit =
    StreamDriver.eachBatch(deltaStream) { (batch, batchId) =>
      Dedup.incrementalDedupAgainstIndex(index, batch,
          deltaId, deltaText, threshold, cfg)
        .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    }
}
