package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.text.Retrieval

/** Streaming BM25 index ingestion: documents arrive as a stream and each
  * micro-batch indexes ALONE (one pass over the batch), accumulating the
  * on-disk postings/stats artifact that `Retrieval.bm25IndexLoad`
  * recombines exactly — the retrieval twin of the DocDedupStream /
  * Frontier ingestion shapes. No cross-batch state exists: BM25's only
  * corpus-global quantities (N, Σdl) are additive longs carried as one
  * stats row per batch, and df derives from postings at query time, so
  * the stream needs neither a state store nor index rebuilds. */
object RetrievalStream {

  /** foreachBatch sink: `Retrieval.bm25IndexAppend` each arriving batch
    * under `dir` keyed by its batch id — replays REPLACE their batch
    * partitions (effectively-once per batch id). foreachBatch is the
    * right tool (not a stateful operator): indexing is a batch
    * aggregation pipeline writing a static artifact. The checkpoint is
    * [[StreamDriver]]'s throwaway one, so every call indexes the
    * stream's input from the start. */
  def indexToParquet(docStream: DataFrame, dir: String,
                     idCol: Column = col("doc_id"),
                     toksCol: Column = TextFunctions.tokens(col("text"))): Unit =
    StreamDriver.eachBatch(docStream) { (batch, batchId) =>
      Retrieval.bm25IndexAppend(batch, idCol, toksCol, dir, batchId)
    }
}
