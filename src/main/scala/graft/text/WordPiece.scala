package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Distributed WordPiece tokenizer training + greedy encode (Schuster &
  * Nakajima 2012; the BERT tokenizer) — the third trainable tokenizer
  * family next to [[Bpe]] (frequency-argmax merges) and [[UnigramLm]]
  * (EM-pruned vocabulary). WordPiece sits between them: BPE's
  * bottom-up merge loop, but each candidate pair scored by the
  * LIKELIHOOD gain `count(ab) / (count(a) * count(b))` — merge what
  * co-occurs more than its parts predict, not just what is frequent —
  * and an encoder that is NOT merge replay but greedy
  * longest-prefix-first matching against the final vocabulary with
  * `##` continuation pieces and a per-word `[UNK]` fallback.
  *
  * Scale shape, shared with [[Bpe]]:
  *  - ONE corpus-scale shuffle ever ([[initVocab]]'s word count); every
  *    training iteration runs on the Zipf-aggregated vocab frame —
  *    one pair count + one symbol count + a TakeOrderedAndProject(1)
  *    per merge, in [[Bpe]]'s merge loop, which truncates each round's
  *    lineage to keep planning O(1).
  *  - Encode is one codegen'd per-row projection: the greedy matcher is
  *    a Catalyst `aggregate` fold over character positions (state =
  *    (next position, pieces); each step consumes the longest vocab
  *    piece at the cursor via a longest-first `when` chain) — no UDF,
  *    no mapPartitions, vocabulary inlined as an array literal. The
  *    array-literal membership probe is O(|V|) per candidate; at a
  *    production 30k vocab the same fold would bind the vocabulary
  *    through a hash-set `Expression` instead — the documented seam,
  *    same plan shape.
  *
  * Representation reuses [[Bpe]]'s wrapped-symbol strings, but symbols
  * carry WordPiece's `##` continuation marker instead of BPE's `</w>`
  * terminator: "low" → `␁l␂␁##o␂␁##w␂`. Merging (a, b) rewrites
  * `␁a␂␁b␂` → `␁a + strip##(b)␂` (continuation status is inherited
  * from the left part). Both the wrap and the merge are literal string
  * operations both engines implement identically, so a fixed merge
  * count trains DuckDB-replayably (q150).
  */
object WordPiece {

  import Bpe.{L, R}

  /** A learned merge: the pair, its corpus pair count, and the
    * likelihood score it won with. */
  final case class Merge(pa: String, pb: String, cnt: Long, score: Double) {
    def merged: String = pa + pb.stripPrefix("##")
  }

  private def wrapWord(word: Column): Column = {
    val rest = word.substr(lit(2), length(word) - 1)
    concat(lit(L), substring(word, 1, 1), lit(R),
      when(length(word) > 1,
        concat(lit(L + "##"),
          array_join(regexp_extract_all(rest, lit("."), lit(0)), R + L + "##"),
          lit(R)))
        .otherwise(lit("")))
  }

  /** Corpus → (seq, n) vocabulary: canonicalized `[a-z]+` words counted
    * (the one corpus-scale shuffle), first char plain, continuations
    * `##`-prefixed. Same alphabet restriction as [[Bpe.initVocab]] and
    * for the same reason: ASCII is where both engines' per-character
    * splitting agrees. */
  def initVocab(df: DataFrame, textCol: Column): DataFrame =
    df.select(explode(TextFunctions.tokens(TextFunctions.canonicalize(textCol)))
        .as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .select(wrapWord(col("word")).as("seq"), col("n"))

  /** Frequency of every SYMBOL over the vocab (occurrences weighted by
    * word count) — the denominator of the likelihood score. Vocab-sized,
    * map-side combinable. */
  def symbolCounts(vocab: DataFrame): DataFrame =
    vocab.select(col("n"),
        explode(split(org.apache.spark.sql.functions.trim(col("seq"), L + R),
          R + L)).as("sym"))
      .groupBy("sym").agg(sum("n").as("c"))

  /** Learn up to `k` merges: per iteration, score every adjacent pair
    * `cnt(pair) / (c(pa) * c(pb))` and take the argmax (score desc,
    * then (pa, pb) lexicographic — the tiebreak the oracle replays);
    * rewrite the vocab by literal replace. Counts are exact int64 and
    * both engines divide the same IEEE doubles, so scores (not just
    * winners) are bit-reproducible. */
  def learnMerges(vocab0: DataFrame, k: Int): Seq[Merge] =
    Bpe.mergeLoop(vocab0, k) { vocab =>
      val syms = symbolCounts(vocab)
      val ca = syms.select(col("sym").as("pa"), col("c").as("ca"))
      val cb = syms.select(col("sym").as("pb"), col("c").as("cb"))
      Bpe.pairCounts(vocab)
        .join(ca, "pa").join(cb, "pb")
        .select(col("pa"), col("pb"), col("cnt"),
          // double the operands BEFORE multiplying: an int64 product of
          // two corpus-scale symbol counts overflows; the double product
          // does not (and the oracle replays the same IEEE ops)
          (col("cnt").cast("double")
            / (col("ca").cast("double") * col("cb").cast("double"))).as("score"))
        .orderBy(desc("score"), col("pa"), col("pb")).limit(1).collect()
        .headOption.map(r => Merge(r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    }(m => (m.pa, m.pb, m.merged))

  /** Final vocabulary = every base symbol of the initial vocab (single
    * chars, plain + `##` forms, driver-tiny: ≤ 52 for the `[a-z]`
    * alphabet) plus each merge's merged symbol, deduped,
    * deterministically ordered. */
  def vocabulary(vocab0: DataFrame, merges: Seq[Merge]): Seq[String] = {
    val base = symbolCounts(vocab0).select("sym")
      .orderBy("sym").collect().map(_.getString(0)).toSeq
    (base ++ merges.map(_.merged)).distinct
  }

  /** `[UNK]` — emitted once for a word with no greedy tokenization. */
  val Unk = "[UNK]"

  /** Greedy longest-prefix-first encode of one word column — the
    * production path: the codegen'd
    * [[graft.functions.expressions.WordPieceEncode]] expression (one
    * tight JVM loop + hash-set probe per candidate, inside the
    * surrounding WholeStageCodegen span). Returns `array<string>` of
    * pieces, or `[[Unk]]` alone when some cursor position matches
    * nothing. */
  def encodeWord(word: Column, vocab: Seq[String]): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.functions.expressions.WordPieceEncode(
      Bridge.expression(word), vocab))
  }

  /** The pure-Column fold formulation of [[encodeWord]] — retained as a
    * semantics cross-check (`WordPieceSpec` asserts fold == expression
    * == independent matcher), NOT the hot path: higher-order lambdas
    * evaluate interpreted (no doGenCode), which cost ~95 s / 50M tokens
    * at the 1M-doc probe vs the expression's tight loop. */
  def encodeWordFold(word: Column, vocab: Seq[String]): Column = {
    require(vocab.nonEmpty, "WordPiece vocabulary must be non-empty")
    // isInCollection compiles to Catalyst InSet — an O(1) hash-set
    // probe (still codegen'd), vs array_contains' O(|V|) scan: at the
    // 1M-doc probe the scan form spent ~99 s encoding 50M tokens with
    // |V| only 46; production vocabularies are 30k+
    val inVocab = (c: Column) => c.isInCollection(vocab)
    val maxLen = vocab.map(_.stripPrefix("##").length).max
    val emptyToks = array().cast("array<string>")
    val noToks = lit(null).cast("array<string>")
    val folded = aggregate(
      sequence(lit(1), length(word)),
      struct(lit(1).as("pos"), emptyToks.as("toks")),
      (st, i) => {
        val pos = st.getField("pos")
        val toks = st.getField("toks")
        // dead state (already failed) or a position the last consumed
        // piece already covers: pass through
        val failed = struct((length(word) + 1).as("pos"), noToks.as("toks"))
        // fold ASCENDING so the longest length lands outermost in the
        // when-chain — each wrap becomes the new head, and greedy means
        // the longest candidate must be tested first
        val step = (1 to maxLen).foldLeft(failed) { (elseC, l) =>
          val piece = concat(when(pos === 1, lit("")).otherwise(lit("##")),
            word.substr(pos, lit(l)))
          when(pos + (l - 1) <= length(word) && inVocab(piece),
            struct((pos + l).as("pos"), concat(toks, array(piece)).as("toks")))
            .otherwise(elseC)
        }
        when(toks.isNull || i =!= pos, st).otherwise(step)
      },
      st => coalesce(st.getField("toks"), array(lit(Unk))))
    // empty word → empty array, matching the expression formulation on
    // the FULL input domain (without this, sequence(1, 0) yields the
    // descending [1, 0], the fold still runs, and an empty word came
    // back [UNK] — a silent fold≠expression disagreement that encode()'s
    // length guard merely masked)
    when(length(word) === 0, emptyToks).otherwise(folded)
  }

  /** Corpus encode: canonicalized whitespace tokens each greedy-matched;
    * one codegen'd projection, vocabulary inlined, no shuffle. */
  def encode(text: Column, vocab: Seq[String]): Column =
    flatten(transform(
      TextFunctions.tokens(TextFunctions.canonicalize(text)),
      w => when(length(w) > 0, encodeWord(w, vocab))
        .otherwise(array().cast("array<string>"))))
}
