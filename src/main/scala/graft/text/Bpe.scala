package graft.text

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Distributed BPE merge training (Sennrich et al. 2016) — the step the
  * reference's word-count analytics stop short of and every LLM data
  * pipeline needs: learn the merge table itself from the corpus, don't
  * just count pieces with a fixed regex
  * ([[TextFunctions.bpePieces]], q46, covers the budget-estimate side).
  *
  * Scale shape — the part that matters at 100 TB:
  *  - ONE corpus-scale shuffle ever: `initVocab`'s word count. BPE
  *    statistics are a function of the word-frequency vocabulary, and
  *    Zipf compresses a corpus of N tokens into a vocab orders of
  *    magnitude smaller — every merge iteration after that runs on the
  *    aggregated vocab frame only (the q112/q90 discipline: iterate on
  *    aggregates, never re-scan the corpus).
  *  - Each iteration is one map-side-combinable pair count over the
  *    vocab plus a TakeOrderedAndProject(1) — the single collected row
  *    IS the learned artifact (a merge rule), the same
  *    driver-side-by-contract exemption as the IVF codebooks
  *    (`Similarity.kmeansRefine`).
  *
  * Representation: a word is a string of WRAPPED symbols,
  * `LsymR` each, e.g. `␁l␂␁o␂␁w␂␁</w>␂`. Merging pair (a,b)
  * is then the literal string replace of `␁a␂␁b␂` with `␁ab␂`:
  *  - left-to-right NON-OVERLAPPING replace is exactly BPE's in-word
  *    merge rule ("aaa" + merge(a,a) → [aa, a]);
  *  - the wrappers make a match possible only at true symbol
  *    boundaries — with bare separators, merging (b,c) over symbols
  *    [ab, c] would false-match the tail of "ab" (the classic
  *    string-BPE bug);
  *  - consecutive merged pairs ([a,b,a,b] → [ab, ab]) work because
  *    adjacent wrapped symbols share no characters.
  * Both engines implement literal replace with identical left-to-right
  * semantics, so a fixed merge count is fully DuckDB-replayable (q116).
  *
  * Words are canonicalized and restricted to `^[a-z]+$`: the char-level
  * alphabet stays ASCII, where Java's and DuckDB's per-character
  * splitting agree (outside the BMP, Java code-unit splitting would
  * diverge — the [[TextFunctions.canonicalize]] portability rule
  * applied to character segmentation).
  */
object Bpe {

  /** Wrappers: \u0001 opens a symbol, \u0002 closes it. Control chars
    * never survive real tokenized text; a pathological token containing
    * them merely tokenizes oddly (replace is literal, nothing throws). */
  val L = "\u0001"
  val R = "\u0002"
  val EndOfWord = "</w>"

  private def wrapWord(word: Column): Column =
    concat(lit(L), array_join(regexp_extract_all(word, lit("."), lit(0)),
      R + L), lit(R + L + EndOfWord + R))

  /** Corpus → (seq, n) vocabulary: canonicalized `[a-z]+` words counted
    * (THE one corpus-scale shuffle), each rendered as wrapped char
    * symbols + end-of-word marker. */
  def initVocab(df: DataFrame, textCol: Column): DataFrame =
    df.select(explode(TextFunctions.tokens(TextFunctions.canonicalize(textCol)))
        .as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .select(wrapWord(col("word")).as("seq"), col("n"))

  /** Adjacent-symbol pair counts over the vocab, weighted by word
    * frequency — map-side combinable, vocab-sized. */
  def pairCounts(vocab: DataFrame): DataFrame = {
    // split bound once as a lambda variable (the transform(array(e), v
    // => …) let idiom — see TextFunctions.shingleHashArray): element_at
    // references it at 2 sites per position, and a spliced split
    // expression re-evaluates per site after projection collapse
    val pairs = flatten(transform(
      array(split(org.apache.spark.sql.functions.trim(col("seq"), L + R),
        R + L)),
      x => when(size(x) >= 2,
          transform(sequence(lit(1), size(x) - 1),
            i => struct(element_at(x, i).as("pa"),
              element_at(x, i + 1).as("pb"))))
        .otherwise(array().cast("array<struct<pa:string,pb:string>>"))))
    vocab.select(col("n"), explode(pairs).as("p"))
      .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
      .agg(sum("n").as("cnt"))
  }

  /** Learn up to `k` merges: per iteration, argmax pair (count desc,
    * then (pa, pb) lexicographic — the deterministic tiebreak the
    * oracle replays) and a literal-replace rewrite of the vocab.
    * Stops early when no pair remains. */
  def learnMerges(vocab0: DataFrame, k: Int): Seq[(String, String, Long)] =
    mergeLoop(vocab0, k) { vocab =>
      pairCounts(vocab).orderBy(desc("cnt"), col("pa"), col("pb")).limit(1)
        .collect().headOption.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    } { case (a, b, _) => (a, b, a + b) }

  /** The merge-training loop [[learnMerges]] and
    * [[WordPiece.learnMerges]] share: each round `top` scores the
    * current vocab's adjacent pairs and returns the winning merge (none
    * when no pair remains, which ends training); `rule` names the
    * merge's (left, right, merged) symbols for the literal-replace
    * rewrite. The rounds run through [[graft.operators.Fixpoint.converge]],
    * truncated, not persisted: persist alone caches the data but leaves
    * the logical plan chaining back through every prior rewrite to the
    * corpus scan, so Catalyst would re-analyze an O(rounds)-deep tree per
    * iteration — O(k²) planning work for a 32k-merge production vocab.
    * Each round's argmax collect is the action that stores its vocab; the
    * last rewrite, read by nothing, never runs. */
  private[text] def mergeLoop[M](vocab0: DataFrame, k: Int)(top: DataFrame => Option[M])(
      rule: M => (String, String, String)): Seq[M] = {
    require(k >= 0, "merge count must be non-negative")
    val merges = ArrayBuffer.empty[M]
    graft.operators.Fixpoint.converge(vocab0, k) { vocab =>
      val (a, b, ab) = rule(merges.last)
      vocab.withColumn("seq", replace(col("seq"), lit(L + a + R + L + b + R), lit(L + ab + R)))
    } { (round, _, vocab) =>
      // round k takes no argmax: it would compute a vocab nothing reads
      round < k && top(vocab).map(merges += _).isDefined
    }
    merges.toSeq
  }

  /** Encode text with a learned merge table: per word, build the
    * wrapped char sequence, apply every merge in learned order, split
    * back to symbols. One codegen'd per-row projection over the corpus
    * — merges inline as literals, no shuffle, no model join. */
  def applyMerges(text: Column, merges: Seq[(String, String)]): Column = {
    val encodeWord = (w: Column) => {
      val merged = merges.foldLeft(wrapWord(w)) { case (s, (a, b)) =>
        replace(s, lit(L + a + R + L + b + R), lit(L + a + b + R))
      }
      split(org.apache.spark.sql.functions.trim(merged, L + R), R + L)
    }
    flatten(transform(
      TextFunctions.tokens(TextFunctions.canonicalize(text)),
      w => when(length(w) > 0, encodeWord(w))
        .otherwise(array().cast("array<string>"))))
  }

  // ---- Byte-fallback (GPT-2-style byte-level) variant ---------------------
  //
  // The char-level trainer above restricts words to `^[a-z]+$` so its
  // alphabet stays engine-portable ASCII — which makes everything else
  // OOV. The production tokenizer-encode default closes that hole the
  // way GPT-2's BPE does: the base alphabet is the 256 UTF-8 BYTE
  // values, so EVERY word in every script (accents, CJK, emoji, binary
  // junk) decomposes into in-alphabet symbols and no token is ever OOV
  // — unmerged bytes simply surface as single-byte tokens (the
  // "fallback"). Symbols are two-hex-digit renderings of the byte
  // (uppercase — Spark's `hex` and DuckDB's `hex` agree, which keeps
  // training DuckDB-replayable); a merged symbol is the concatenation
  // of its parts' hex, so any symbol minus the `</w>` marker is a valid
  // hex string and decoding is `unhex` — tokenization is losslessly
  // invertible by construction ([[decodeByteSymbols]]).
  //
  // Same scale shape as the char-level path: one corpus shuffle for the
  // vocab, every merge iteration on the Zipf-aggregated vocab frame,
  // encode as one codegen'd projection with merges inlined as literals.

  private def byteWrapWord(word: Column): Column =
    concat(lit(L), array_join(
      regexp_extract_all(hex(encode(word, "UTF-8")), lit(".."), lit(0)),
      R + L), lit(R + L + EndOfWord + R))

  /** Corpus → (seq, n) byte-level vocabulary: whitespace tokens counted
    * AS-IS (no canonicalization, no alphabet filter — byte fallback
    * exists precisely so nothing needs filtering), each rendered as
    * wrapped hex-byte symbols + end-of-word marker. */
  def initByteVocab(df: DataFrame, textCol: Column): DataFrame =
    df.select(explode(TextFunctions.tokens(textCol)).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))
      .select(byteWrapWord(col("word")).as("seq"), col("n"))

  /** Byte-level encode with a learned merge table ([[learnMerges]] over
    * [[initByteVocab]] — the trainer is representation-agnostic). Total:
    * every whitespace token of every input encodes; no OOV path. */
  def applyByteMerges(text: Column, merges: Seq[(String, String)]): Column = {
    val encodeWord = (w: Column) => {
      val merged = merges.foldLeft(byteWrapWord(w)) { case (s, (a, b)) =>
        replace(s, lit(L + a + R + L + b + R), lit(L + a + b + R))
      }
      split(org.apache.spark.sql.functions.trim(merged, L + R), R + L)
    }
    flatten(transform(TextFunctions.tokens(text),
      w => when(length(w) > 0, encodeWord(w))
        .otherwise(array().cast("array<string>"))))
  }

  /** Invert [[applyByteMerges]] for one word's symbol run: drop the
    * `</w>` marker (it may sit fused inside a merged symbol — its four
    * chars are non-hex, so a literal replace can't corrupt payload),
    * join the remaining hex, `unhex`, decode UTF-8. */
  def decodeByteSymbols(symbols: Column): Column =
    decode(unhex(replace(array_join(symbols, ""), lit(EndOfWord), lit(""))),
      "UTF-8")
}
