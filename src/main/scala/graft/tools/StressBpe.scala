package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.Bpe

/** Scale probe for BPE merge training (driver-side tooling): the claim
  * to prove is that merge iterations are VOCAB-sized, not corpus-sized
  * — `initVocab` pays the one corpus shuffle, and after that a 10×
  * bigger corpus must NOT make iterations 10× slower, because Zipf
  * pins the distinct-word vocabulary while token mass grows.
  *
  * Synthesizes documents of Zipf-ish words (word w drawn ∝ rank^-1
  * over a 60k-word lexicon, rendered as base-26 letter strings so the
  * alphabet is the `[a-z]+` vocab contract), trains k merges at two
  * corpus sizes, and prints per-phase wall + vocab rows. Committed
  * numbers in EXPLAIN.md. */
object StressBpe {
  def main(args: Array[String]): Unit = {
    val k = sys.env.getOrElse("SPARK_GRAFT_BPE_MERGES", "16").toInt
    val spark = graft.EngineConf.localSession(None)
    val rm = new RunMetrics(spark, "bpe")

    Seq(sys.env.getOrElse("SPARK_GRAFT_BPE_DOCS_SMALL", "100000").toLong,
        sys.env.getOrElse("SPARK_GRAFT_BPE_DOCS_LARGE", "1000000").toLong)
      .foreach { n =>
        val vocab = Bpe.initVocab(zipfDocs(spark, n), col("text")).persist()
        val vRows = rm.stage(s"init_vocab ${n}docs")(vocab.count())
        val merges = rm.stage(s"$k merges ${n}docs")(Bpe.learnMerges(vocab, k))
        vocab.unpersist()
        println(f"[bpe] $n%,9d docs (${n * 50}%,d tokens): vocab $vRows%,6d rows; " +
          s"first: ${merges.take(3).mkString(" ")}")
      }
    spark.stop()
  }

  /** `nDocs` documents of 50 Zipf-ish words, shared by the tokenizer
    * probes. Rank floor(U^2 * 60000) concentrates draws at low ranks
    * (quadratic is cheap and close enough to 1/rank for the vocab-size
    * argument); the rank renders as 1-4 base-26 letters. */
  def zipfDocs(spark: SparkSession, nDocs: Long): DataFrame = {
    val wordsPerDoc = 50
    spark.range(nDocs).select(col("id"),
      concat_ws(" ", (0 until wordsPerDoc).map { j =>
        val u = pmod(xxhash64(col("id") * 31 + j), lit(1000000L))
          .cast("double") / 1000000d
        val rank = floor(u * u * 60000d).cast("long")
        // base-26 render: 4 letter positions, leading 'a's harmless
        concat((3 to 0 by -1).map { p =>
          val d = pmod(rank.divide(math.pow(26d, p)).cast("long"), lit(26L))
          chr(d + 97)
        }: _*)
      }: _*).as("text"))
  }
}
