package graft.tools

import org.apache.spark.sql.functions._

import graft.text.UnigramLm

/** Scale probe for the unigram-LM tokenizer (driver-side tooling), the
  * EM sibling of [[StressBpe]]: the claim to prove is the same — work
  * after the one corpus shuffle is VOCAB-sized, not corpus-sized. The
  * corpus collapses to distinct (word, freq) once; every EM round is a
  * Viterbi pass over that word table (Zipf pins its size as docs grow)
  * plus a piece-count aggregation, so a 10× corpus must not make EM
  * rounds 10× slower. Encode IS corpus-sized by definition (every doc
  * is segmented) and is timed separately. Committed numbers in
  * EXPLAIN.md. Reuses [[StressBpe.zipfDocs]]. */
object StressUnigram {
  def main(args: Array[String]): Unit = {
    val rounds = sys.env.getOrElse("SPARK_GRAFT_UNI_ROUNDS", "2").toInt
    val spark = graft.EngineConf.localSession(None)
    val rm = new RunMetrics(spark, "uni")

    Seq(sys.env.getOrElse("SPARK_GRAFT_UNI_DOCS_SMALL", "100000").toLong,
        sys.env.getOrElse("SPARK_GRAFT_UNI_DOCS_LARGE", "1000000").toLong)
      .foreach { n =>
        val docs = StressBpe.zipfDocs(spark, n)
        val words = UnigramLm.wordCounts(docs, col("text")).cache()
        rm.stage(s"word_counts ${n}docs")(words.count())
        var counts = UnigramLm.seedVocab(words, maxPieceLen = 4, seedSize = 8000)
          .localCheckpoint()
        rm.stage(s"seed_vocab ${n}docs")(counts.count())
        rm.stage(s"$rounds em_rounds ${n}docs") {
          for (_ <- 1 to rounds)
            counts = UnigramLm.emRound(words,
              UnigramLm.scoresFromCounts(counts), maxPieceLen = 4)
              .localCheckpoint()
        }
        val scores = UnigramLm.scoresFromCounts(counts).localCheckpoint()
        // result = pieces emitted for n * 50 input tokens
        rm.stage(s"encode ${n}docs")(UnigramLm.encode(docs, col("id"), col("text"),
          scores, maxPieceLen = 4).select(explode(col("pieces"))).count())
        words.unpersist()
      }
    spark.stop()
  }
}
