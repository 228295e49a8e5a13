package graft.tools

import org.apache.spark.sql.functions._

import graft.text.WordPiece

/** Scale probe for WordPiece (driver-side tooling), same claims as
  * StressBpe/StressUnigram for the third tokenizer family:
  *
  *  - TRAIN: per-merge cost is VOCAB-sized, not corpus-sized — the
  *    likelihood score adds one symbol-count aggregation per round but
  *    both pair and symbol counts run on the Zipf-pinned vocab frame,
  *    so a 10× corpus must not move the per-merge wall.
  *  - ENCODE: one codegen'd projection; wall scales linearly with
  *    corpus tokens and is independent of training size. The greedy
  *    fold costs O(len·maxPieceLen·|V|) per word with the inlined
  *    array vocabulary — the |V| factor is the array_contains probe,
  *    the documented hash-set-Expression seam at production vocab
  *    sizes; this probe pins the constant at the spec's merge count.
  *
  * Corpus: StressBpe's Zipf-ish base-26 synthesizer. Committed numbers
  * in EXPLAIN.md. */
object StressWordPiece {
  def main(args: Array[String]): Unit = {
    val k = sys.env.getOrElse("SPARK_GRAFT_WP_MERGES", "16").toInt
    val spark = graft.EngineConf.localSession(None)
    val rm = new RunMetrics(spark, "wordpiece")

    var vocabLarge: Seq[String] = null
    Seq(sys.env.getOrElse("SPARK_GRAFT_WP_DOCS_SMALL", "100000").toLong,
        sys.env.getOrElse("SPARK_GRAFT_WP_DOCS_LARGE", "1000000").toLong)
      .foreach { n =>
        val vocab0 =
          WordPiece.initVocab(StressBpe.zipfDocs(spark, n), col("text")).persist()
        val vRows = rm.stage(s"init_vocab ${n}docs")(vocab0.count())
        val merges = rm.stage(s"$k merges ${n}docs")(WordPiece.learnMerges(vocab0, k))
        vocabLarge = WordPiece.vocabulary(vocab0, merges)
        vocab0.unpersist()
        println(f"[wordpiece] $n%,9d docs (${n * 50}%,d tokens): vocab $vRows%,6d rows; " +
          s"|V|=${vocabLarge.size}; " +
          s"first: ${merges.take(2).map(m => s"${m.pa}+${m.pb}").mkString(" ")}")
      }

    // encode throughput at the large size with the trained vocabulary
    val nLarge = sys.env.getOrElse("SPARK_GRAFT_WP_DOCS_LARGE", "1000000").toLong
    val enc = StressBpe.zipfDocs(spark, nLarge).select(col("id"),
      WordPiece.encode(col("text"), vocabLarge).as("pieces"))
    rm.stage(s"encode ${nLarge}docs |V|=${vocabLarge.size}")(RunMetrics.noop(enc))
    spark.stop()
  }
}
