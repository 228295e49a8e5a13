package graft.text

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** SentencePiece-style unigram language-model tokenizer — the EM-trained
  * sibling of [[Bpe]] (the two standard subword algorithms; the
  * reference has neither, but a training-data engine needs a tokenizer
  * family it can train ON the corpus it curates).
  *
  * Semantics (Kudo 2018, simplified to the deterministic core):
  *  - seed the vocabulary with every substring up to `maxPieceLen` of
  *    the corpus' words, weighted by word frequency, keep the heaviest
  *    `seedSize` plus ALL single characters (coverage guarantee);
  *  - score a piece by its log unigram probability; segment a word by
  *    VITERBI — the segmentation maximizing the summed piece scores;
  *  - EM round: E-step segments every distinct word under the current
  *    scores and counts piece usage (weighted by word frequency);
  *    M-step re-scores pieces from usage counts; pieces with zero usage
  *    drop out (except single chars), shrinking toward `vocabSize`.
  *
  * Engine-determinism choices, in the same spirit as [[Bpe]]'s integer
  * pair counts:
  *  - scores are INTEGER micro-nats (`floor(ln(count/total)·10⁶)`), so
  *    Viterbi compares longs, never doubles — segmentation is exactly
  *    reproducible across runs, partitionings, and JVMs;
  *  - Viterbi ties break deterministically: earlier split start wins
  *    (equivalently: the LAST piece is the longest among tied paths);
  *  - every character not in the vocabulary segments as itself at a
  *    fixed `UnkScoreMicro` penalty — encoding never fails on OOV text.
  *
  * Scale shape: training state is (piece, count) — vocabulary-sized,
  * never corpus-sized. The corpus collapses to distinct (word, freq)
  * once (one shuffle); each EM round is one mapPartitions over that
  * word table (Viterbi DP is a sequential per-word recurrence Catalyst
  * can't express — the documented [[graft.operators.Packing]] precedent)
  * plus one piece-count aggregation; the vocabulary rides as a broadcast
  * (a production 32k-piece vocab is ~1 MB). No driver collect of
  * anything corpus-sized; the vocab itself is collected for broadcast by
  * documented driver-tiny contract (same class as the IVF codebooks).
  */
object UnigramLm {

  /** OOV single-character fallback score (micro-nats): worse than any
    * real piece (ln p > -20 for any piece with count ≥ 1 in a corpus
    * of < 5·10⁸ tokens) but finite, so unknown characters segment as
    * themselves instead of failing the DP. */
  val UnkScoreMicro: Long = -20000000L

  /** Distinct words with frequencies — the one corpus-sized shuffle;
    * everything downstream works on this table. */
  def wordCounts(docs: DataFrame, textCol: Column): DataFrame =
    docs.select(explode(TextFunctions.tokens(textCol)).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Seed vocabulary: all substrings of length ≤ `maxPieceLen`,
    * frequency-weighted, heaviest `seedSize` kept (ties to the
    * lexicographically smaller piece) — single characters are always
    * kept regardless of rank, the coverage guarantee. The substring
    * enumeration is a per-row generator (explode of a built-in
    * transform over character positions): no UDF, no shuffle before
    * the piece aggregation. */
  def seedVocab(words: DataFrame, maxPieceLen: Int, seedSize: Int): DataFrame = {
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    val pieces = words.select(col("freq"),
        explode(flatten(transform(
          sequence(lit(0), length(col("word")) - 1),
          i => transform(
            sequence(lit(1), least(lit(maxPieceLen), length(col("word")) - i)),
            l => col("word").substr((i + 1).cast("int"), l.cast("int"))))))
          .as("piece"))
      .groupBy("piece").agg(sum("freq").as("cnt"))
    val ranked = pieces
      .withColumn("_rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("piece").asc)))
    // single chars always survive; the window is over the piece table
    // (bounded by Σ|word|·L distinct substrings of DISTINCT words, not
    // the corpus) — at production scale swap in the documented
    // prefixSum rank, same as mixtureManifestWide
    ranked.filter(col("_rk") <= seedSize || length(col("piece")) === 1)
      .select(col("piece"), col("cnt"))
  }

  /** Integer micro-nat scores from counts: floor(ln(cnt/total)·10⁶). */
  def scoresFromCounts(pieceCounts: DataFrame): DataFrame = {
    val total = pieceCounts.agg(sum("cnt").cast("double").as("total"))
    pieceCounts.crossJoin(broadcast(total))
      .select(col("piece"),
        floor(log(col("cnt").cast("double") / col("total")) * 1e6)
          .cast("long").as("score_micro"))
  }

  /** Deterministic Viterbi segmentation of one word under integer piece
    * scores. dp(j) = best score of word[0,j); candidate pieces end at j
    * with length 1..maxPieceLen. Strictly-greater comparison with i
    * ascending means the EARLIEST split start wins ties — fixed, and
    * documented above. Returns the piece sequence (never empty for a
    * non-empty word: single chars fall back to [[UnkScoreMicro]]). */
  def viterbi(word: String, vocab: collection.Map[String, Long],
              maxPieceLen: Int): Seq[String] = {
    val n = word.length
    if (n == 0) return Nil
    val dp = Array.fill(n + 1)(Long.MinValue)
    val back = Array.fill(n + 1)(-1)
    dp(0) = 0L
    var j = 1
    while (j <= n) {
      var i = math.max(0, j - maxPieceLen)
      while (i < j) {
        if (dp(i) != Long.MinValue) {
          val piece = word.substring(i, j)
          val s = vocab.get(piece) match {
            case Some(sc) => sc
            case None => if (j - i == 1) UnkScoreMicro else Long.MinValue
          }
          if (s != Long.MinValue && dp(i) + s > dp(j)) {
            dp(j) = dp(i) + s
            back(j) = i
          }
        }
        i += 1
      }
      j += 1
    }
    var acc = List.empty[String]
    var p = n
    while (p > 0) { val i = back(p); acc = word.substring(i, p) :: acc; p = i }
    acc
  }

  /** One EM round: segment every distinct word under `scores`, count
    * piece usage weighted by word frequency (E-step), and return the
    * usage counts (the M-step is [[scoresFromCounts]] over them).
    * Single-character pieces that fall to zero usage are retained at
    * count 1 so coverage never degrades. */
  def emRound(words: DataFrame, scores: DataFrame, maxPieceLen: Int): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val vocabMap = spark.sparkContext.broadcast(
      scores.select("piece", "score_micro").as[(String, Long)]
        .collect().toMap)
    val usage = words.select(col("word"), col("freq")).as[(String, Long)]
      .mapPartitions { it =>
        it.flatMap { case (w, f) =>
          viterbi(w, vocabMap.value, maxPieceLen).map(p => (p, f))
        }
      }
      .toDF("piece", "cnt")
      .groupBy("piece").agg(sum("cnt").as("cnt"))
    val singles = scores.filter(length(col("piece")) === 1)
      .select(col("piece"), lit(1L).as("cnt"))
      .join(usage.select(col("piece").as("p2")), col("piece") === col("p2"), "left_anti")
      .select("piece", "cnt")
    usage.unionByName(singles)
  }

  /** Train: seed → score → `rounds` EM rounds, then keep the
    * `vocabSize` highest-usage pieces (single chars always kept).
    * Returns (piece, score_micro) — the trained tokenizer. */
  def train(docs: DataFrame, textCol: Column, maxPieceLen: Int = 6,
            seedSize: Int = 2000, vocabSize: Int = 500,
            rounds: Int = 2): DataFrame =
    trainFromWords(wordCounts(docs, textCol), maxPieceLen, seedSize,
      vocabSize, rounds)

  /** [[train]] over a PRE-COMPUTED (word, freq) table — the form a
    * curation pipeline that already paid the corpus→words shuffle (or
    * that filters/caps the word set first, as the oracle rows do)
    * composes with; `train` is this over [[wordCounts]]. */
  def trainFromWords(wordsIn: DataFrame, maxPieceLen: Int = 6,
                     seedSize: Int = 2000, vocabSize: Int = 500,
                     rounds: Int = 2): DataFrame = {
    // Persist only if the CALLER hasn't: a pipeline that already cached
    // its word table (the advertised compose case) must not have its
    // persistence silently evicted on return.
    val ownCache = wordsIn.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val words = if (ownCache) wordsIn.cache() else wordsIn
    val counts = graft.operators.Fixpoint.iterate(
        seedVocab(words, maxPieceLen, seedSize), rounds)(
      c => emRound(words, scoresFromCounts(c), maxPieceLen))
    val kept = counts
      .withColumn("_rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("piece").asc)))
      .filter(col("_rk") <= vocabSize || length(col("piece")) === 1)
      .select("piece", "cnt")
    if (ownCache) words.unpersist()
    scoresFromCounts(kept)
  }

  /** Encode a corpus: per document, every whitespace token segments by
    * Viterbi under the trained scores; output is the flat piece array
    * per doc (order-preserving). Same mapPartitions + broadcast shape
    * as [[emRound]]. */
  def encode(docs: DataFrame, idCol: Column, textCol: Column,
             scores: DataFrame, maxPieceLen: Int = 6): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocabMap = spark.sparkContext.broadcast(
      scores.select("piece", "score_micro").as[(String, Long)]
        .collect().toMap)
    docs.select(idCol.cast("long").as("doc_id"),
        TextFunctions.tokens(textCol).as("toks"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        it.map { case (id, toks) =>
          (id, toks.flatMap(w => viterbi(w, vocabMap.value, maxPieceLen)))
        }
      }
      .toDF("doc_id", "pieces")
  }
}
