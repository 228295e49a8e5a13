package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.TextFunctions._
import graft.operators.Relational
import graft.sources.Tables
import graft.text.{Retrieval, TextAnalysis, TfIdf, WeightedSentiment}

/** Text-analysis operator suite over the `documents` table: token stats,
  * language-ID, quality scoring, fingerprinting, TF-IDF, sentiment, and
  * per-source top tokens. Oracle SQL is generated from the same lexicon /
  * hash constants the Spark ops use, so the two can't drift.
  */
object TextQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)

  /** Doc frame whose text is exactly the word subset both engines
    * tokenize for the q228/q229 unigram rows ([[uniWordsCtes]]'s
    * filter, applied as one codegen'd projection). */
  private def uniDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      array_join(filter(tokens(canonicalize(col("text"))), w =>
        w.rlike("^[a-z]+$") && length(w) <= UniMaxWord), " ").as("text"))

  private val toksSql = tokensSql("text")

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString(",")

  // Synthetic-corpus blocklist standing in for a deployment's real
  // safety lexicon ("dup" docs are the planted hard-block population;
  // slow/broken saturation is the ratio tier — 80 per-mille does real
  // work at every SF: the three verdict classes are all populated).
  // Declared BEFORE `queries`: the strict Seq evaluates at object init.
  private val SafetyHard = Seq("dup")
  private val SafetySoft = Seq("slow", "broken")
  private val SafetyPermille = 80L
  // border-free substring patterns with real embedded hits in the
  // synthetic vocabulary ("art" in part/start, "rea" in stream)
  private val SubstringPatterns = Seq("art", "rea", "dup")

  // ---- BM25 / hybrid-retrieval oracle SQL --------------------------------
  // Constants interpolated into BOTH engines (k1+1, 1-b fold in Scala once,
  // so the oracle parses the exact double the engine multiplies by).
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val RrfK0 = 60

  /** BM25 scoring over CTEs `tfr` (doc, dl, token, tf), `q` (qid,
    * token) and `stats` (n_docs, avgdl): the postings of query terms
    * `pr`, their df, the micro-int term weights `w` and the summed
    * `sc(qid, doc, bm25_micro)` scores (exact BIGINTs). Used by
    * `bm25Ctes` (q200 and its siblings) and q217. */
  private val bm25ScoreCtes: String =
    s"""pr AS (SELECT tfr.* FROM tfr
       |  JOIN (SELECT DISTINCT token FROM q) qd USING (token)),
       |dfq AS (SELECT token, count(*) AS df FROM pr GROUP BY 1),
       |w AS (SELECT doc, token,
       |    CAST(round((ln(1.0 + ((n_docs - df) + 0.5) / (df + 0.5))
       |      * ((tf * ${Bm25K1 + 1}) / (tf + $Bm25K1 *
       |          (${1 - Bm25B} + ($Bm25B * dl) / avgdl))))
       |      * 1000000.0) AS BIGINT) AS w_micro
       |  FROM pr JOIN dfq USING (token) CROSS JOIN stats),
       |sc AS (SELECT qid, doc, CAST(sum(w_micro) AS BIGINT) AS bm25_micro
       |  FROM w JOIN q USING (token) GROUP BY 1, 2)""".stripMargin

  /** WITH-chain replaying `Retrieval.bm25TopKFromIndex` over queries =
    * first-10-distinct-token sets of every doc_id%100==0 doc: corpus
    * stats, (doc, dl, token, tf) postings, query terms, query-term-pruned
    * postings, per-term df, micro-int term weights, and the summed
    * `sc(qid, doc, bm25_micro)` scores (exact BIGINTs). */
  private val bm25Ctes: String =
    s"""base AS (SELECT doc_id AS doc, $toksSql AS tk FROM documents),
       |stats AS (SELECT count(*) AS n_docs,
       |    CAST(coalesce(sum(len(tk)), 0) AS DOUBLE) / count(*) AS avgdl
       |  FROM base),
       |p AS (SELECT doc, CAST(len(tk) AS BIGINT) AS dl, unnest(tk) AS token
       |  FROM base),
       |tfr AS (SELECT doc, dl, token, count(*) AS tf FROM p GROUP BY 1, 2, 3),
       |q AS (SELECT doc AS qid, unnest(list_distinct(tk[1:10])) AS token
       |  FROM base WHERE doc % 100 = 0),
       |$bm25ScoreCtes""".stripMargin

  /** The greedy 256-capacity packing walk over CTE `src` (doc_id, shard,
    * w) as a recursive CTE: each shard's docs in doc_id order (`ord`),
    * then `pack` carries (bin, fill) from row to row. Needs `WITH
    * RECURSIVE`. Used by q64, q75, q156, q173 and q226. */
  private def packCtes(src: String): String =
    s"""ord AS (SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
       |  FROM $src),
       |pack AS (
       |  SELECT shard, rn, doc_id, w, CAST(0 AS BIGINT) AS bin, w AS fill
       |  FROM ord WHERE rn = 1
       |  UNION ALL
       |  SELECT o.shard, o.rn, o.doc_id, o.w,
       |    CASE WHEN p.fill + o.w <= 256 THEN p.bin ELSE p.bin + 1 END,
       |    CASE WHEN p.fill + o.w <= 256 THEN p.fill + o.w ELSE o.w END
       |  FROM pack p JOIN ord o ON o.shard = p.shard AND o.rn = p.rn + 1)""".stripMargin

  /** Every doc sharded by doc_id / 100 and weighed in whitespace tokens
    * (`d`), then packed by `packCtes`. The twin of `tokenPacking`. Used
    * by q64, q156 and q226. */
  private val tokenPackCtes: String =
    s"""d AS (
       |  SELECT doc_id, doc_id // 100 AS shard, len($toksSql) AS w
       |  FROM documents),
       |${packCtes("d")}""".stripMargin

  /** `Packing.packGreedy` of the docs `d` by whitespace-token count,
    * sharded by doc_id / 100, capacity 256. Used by q64, q156 and q226. */
  private def tokenPacking(d: DataFrame): DataFrame =
    graft.operators.Packing.packGreedy(
      d.withColumn("w", size(tokens(col("text"))).cast("long")),
      col("doc_id"), col("w"), expr("doc_id div 100"), capacity = 256L)

  // ---- BPE oracle SQL generation ----------------------------------------
  private val BpeK = 4
  private val BpeL = "chr(1)"
  private val BpeR = "chr(2)"
  /** Wrapped char-symbol sequence of `word` — the SQL twin of
    * `Bpe.wrapWord` ( sym  per char + end-of-word). */
  private val BpeWrapWordSql: String =
    s"$BpeL || array_to_string(regexp_extract_all(word, '.'), $BpeR || $BpeL) || " +
      s"$BpeR || $BpeL || '</w>' || $BpeR"

  /** Per-iteration CTEs shared by the char- and byte-level replays:
    * pi = weighted adjacent-pair counts over s(i-1), mi = argmax
    * (cnt DESC, pa, pb — the engine's tiebreak), si = vocab with the
    * merge applied by literal replace. */
  private def bpeIterCtes(k: Int): String =
    (1 to k).map { i =>
      s"""p$i AS (SELECT x[i] AS pa, x[i+1] AS pb, sum(n) AS cnt
         |  FROM (SELECT string_split(trim(seq, $BpeL || $BpeR), $BpeR || $BpeL) AS x, n
         |        FROM s${i - 1})
         |  CROSS JOIN LATERAL unnest(generate_series(1, len(x) - 1)) AS t(i)
         |  GROUP BY 1, 2),
         |m$i AS (SELECT pa, pb, cnt FROM p$i ORDER BY cnt DESC, pa, pb LIMIT 1),
         |s$i AS (SELECT replace(seq, $BpeL || pa || $BpeR || $BpeL || pb || $BpeR,
         |    $BpeL || pa || pb || $BpeR) AS seq, n
         |  FROM s${i - 1} CROSS JOIN m$i)""".stripMargin
    }.mkString(",\n")

  /** WITH-chain replaying `Bpe.learnMerges(initVocab(documents), k)`:
    * s0 = wrapped vocab, then [[bpeIterCtes]]. */
  private def bpeCtes(k: Int): String =
    s"""WITH w AS (SELECT unnest(${tokensSql(canonicalizeSql("text"))}) AS word
       |  FROM documents),
       |v AS (SELECT word, count(*) AS n FROM w
       |  WHERE regexp_matches(word, '^[a-z]+$$') GROUP BY word),
       |s0 AS (SELECT $BpeWrapWordSql AS seq, n FROM v),
       |${bpeIterCtes(k)}""".stripMargin

  /** A wrapped word with the `BpeK` learned merges `m1..mk` applied in
    * order by literal replace; the rows need `bpeMergeJoinsSql`. Used by
    * q117, q137 and q173. */
  private def bpeEncodeSql(wrapped: String): String =
    (1 to BpeK).foldLeft(wrapped)((e, i) =>
      s"replace($e, $BpeL || m$i.pa || $BpeR || $BpeL || m$i.pb || $BpeR, " +
        s"$BpeL || m$i.pa || m$i.pb || $BpeR)")
  private val bpeMergeJoinsSql: String =
    (1 to BpeK).map(i => s"CROSS JOIN m$i").mkString(" ")

  /** A 16-dim dense vector hashed from the text column `c` (components
    * portableHash(c:j) mod 1000): the retrieval rows' stand-in
    * embedding. Used by q160 (over chunks), q201 and q205. */
  private def hashVec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(sequence(lit(0), lit(15)),
      j => (portableHash(concat(c, lit(":"), j.cast("string"))) % 1000).cast("double"))

  // ---- WordPiece oracle SQL generation ----------------------------------
  /** `##`-scheme twin of [[BpeWrapWordSql]]: first char plain,
    * continuations `##`-prefixed (the WordPiece.wrapWord layout). */
  private val WpWrapWordSql: String =
    s"$BpeL || substr(word, 1, 1) || $BpeR || CASE WHEN len(word) > 1 " +
      s"THEN $BpeL || '##' || array_to_string(" +
      s"regexp_extract_all(substr(word, 2), '.'), $BpeR || $BpeL || '##') || $BpeR " +
      "ELSE '' END"

  /** WITH-chain replaying `WordPiece.learnMerges(initVocab(documents), k)`:
    * per iteration ui = symbol counts, pi = pair counts, mi = argmax by
    * likelihood score (score DESC, pa, pb — the engine's tiebreak; the
    * score divides DOUBLE-cast operands in the same order as the
    * engine, so scores are bit-identical, not just winners), ti = vocab
    * with the merge applied (`##` stripped off the right part). */
  private def wpCtes(k: Int): String = {
    val split = s"string_split(trim(seq, $BpeL || $BpeR), $BpeR || $BpeL)"
    val iter = (1 to k).map { i =>
      s"""u$i AS (SELECT sym, sum(n) AS c
         |  FROM (SELECT unnest($split) AS sym, n FROM t${i - 1}) GROUP BY sym),
         |p$i AS (SELECT x[i] AS pa, x[i+1] AS pb, sum(n) AS cnt
         |  FROM (SELECT $split AS x, n FROM t${i - 1})
         |  CROSS JOIN LATERAL unnest(generate_series(1, len(x) - 1)) AS tt(i)
         |  GROUP BY 1, 2),
         |m$i AS (SELECT p.pa, p.pb, p.cnt,
         |    CAST(p.cnt AS DOUBLE) / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) AS score
         |  FROM p$i p JOIN u$i ca ON ca.sym = p.pa JOIN u$i cb ON cb.sym = p.pb
         |  ORDER BY score DESC, p.pa, p.pb LIMIT 1),
         |t$i AS (SELECT replace(seq, $BpeL || pa || $BpeR || $BpeL || pb || $BpeR,
         |    $BpeL || pa || regexp_replace(pb, '^##', '') || $BpeR) AS seq, n
         |  FROM t${i - 1} CROSS JOIN m$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH wd AS (SELECT unnest(${tokensSql(canonicalizeSql("text"))}) AS word
       |  FROM documents),
       |v AS (SELECT word, count(*) AS n FROM wd
       |  WHERE regexp_matches(word, '^[a-z]+$$') GROUP BY word),
       |t0 AS (SELECT $WpWrapWordSql AS seq, n FROM v),
       |$iter""".stripMargin
  }

  /** DuckDB replay of the q151 greedy WordPiece encode — the
    * longest-prefix-first scan as an UNROLLED per-position iteration
    * (the q116 merge-replay discipline applied to the encoder): after
    * [[wpCtes]] trains the vocab, each step CTE advances every word's
    * cursor by its longest matching piece (LEFT JOIN candidates, argmax
    * by body length via QUALIFY), a word whose cursor matches nothing
    * goes DEAD (the whole word becomes one `[UNK]` — its already-consumed
    * pieces must NOT count, exactly the expression's contract), and
    * piece counts weight each distinct word by its corpus frequency.
    * `steps` bounds the scan: every step consumes ≥ 1 char, so it must
    * be ≥ the longest corpus token (8 across all shipped SFs; 12 leaves
    * margin — a longer future token would surface as a row diff, not
    * silently). Step/vocab CTEs are MATERIALIZED: DuckDB inlines a
    * CTE per reference by default, and with vpl referenced once per
    * step (and `em` unioning every step) the inlined form re-expands
    * the whole training chain dozens of times — enough re-opens of
    * documents.parquet to blow the fd limit before it blows the
    * planner. */
  private def wpEncodeSql(k: Int, steps: Int): String = {
    val split = s"string_split(trim(seq, $BpeL || $BpeR), $BpeR || $BpeL)"
    val stepCtes = (1 to steps).map { i =>
      s"""g$i AS MATERIALIZED (SELECT e.word, e.n, e.pos, e.dead, v.piece, v.blen
         |  FROM e${i - 1} e LEFT JOIN vpl v
         |    ON NOT e.dead AND e.pos <= len(e.word)
         |   AND v.cont = (e.pos > 1)
         |   AND e.pos + v.blen - 1 <= len(e.word)
         |   AND substr(e.word, e.pos, v.blen) = v.body
         |  QUALIFY row_number() OVER (PARTITION BY e.word
         |    ORDER BY v.blen DESC NULLS LAST) = 1),
         |e$i AS MATERIALIZED (SELECT word, n,
         |    CASE WHEN piece IS NULL THEN pos ELSE pos + blen END AS pos,
         |    dead OR (pos <= len(word) AND piece IS NULL) AS dead
         |  FROM g$i)""".stripMargin
    }.mkString(",\n")
    val emitted = (1 to steps)
      .map(i => s"SELECT word, piece FROM g$i WHERE piece IS NOT NULL")
      .mkString(" UNION ALL ")
    s"""${wpCtes(k)},
       |base AS (SELECT DISTINCT unnest($split) AS piece FROM t0),
       |vocab AS (SELECT piece FROM base
       |  ${(1 to k).map(i =>
           s"UNION SELECT pa || regexp_replace(pb, '^##', '') AS piece FROM m$i")
           .mkString("\n  ")}),
       |vpl AS MATERIALIZED (SELECT piece,
       |    CASE WHEN piece LIKE '##%' THEN substr(piece, 3) ELSE piece END AS body,
       |    (piece LIKE '##%') AS cont,
       |    len(CASE WHEN piece LIKE '##%' THEN substr(piece, 3) ELSE piece END) AS blen
       |  FROM vocab),
       |cw AS MATERIALIZED (SELECT word, count(*) AS n
       |  FROM (SELECT unnest(${tokensSql(canonicalizeSql("text"))}) AS word
       |        FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |e0 AS (SELECT word, n, 1 AS pos, false AS dead FROM cw),
       |$stepCtes,
       |st AS MATERIALIZED (SELECT word, n, dead, pos > len(word) AS complete FROM e$steps),
       |em AS ($emitted)
       |SELECT piece, CAST(cnt AS BIGINT) AS cnt FROM (
       |  SELECT em.piece, sum(st.n) AS cnt
       |  FROM em JOIN st USING (word) WHERE st.complete GROUP BY em.piece
       |  UNION ALL
       |  SELECT '[UNK]' AS piece, sum(n) AS cnt FROM st WHERE st.dead)
       |WHERE cnt IS NOT NULL
       |ORDER BY cnt DESC, piece LIMIT 20""".stripMargin
  }

  // ---- UnigramLM oracle SQL generation ----------------------------------
  // Tokenizer config for the q228/q229 rows — kept small so the
  // per-position Viterbi unroll stays a bounded CTE chain (the q151
  // `steps` discipline): pieces to 4 chars, words to 12 chars (BOTH
  // engines filter the word table identically, so a longer token is
  // excluded symmetrically, never silently mis-segmented).
  private val UniL = 4
  private val UniSeed = 200
  private val UniVocab = 80
  private val UniMaxWord = 12
  private val UniUnk = graft.text.UnigramLm.UnkScoreMicro

  /** The corpus word table both engines tokenize for the unigram rows:
    * canonicalized whitespace tokens, `[a-z]+` only, ≤ [[UniMaxWord]]. */
  private val uniWordsCtes: String =
    s"""uwd AS (SELECT unnest(${tokensSql(canonicalizeSql("text"))}) AS word
       |  FROM documents),
       |v AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq
       |  FROM uwd WHERE regexp_matches(word, '^[a-z]+$$')
       |    AND len(word) <= $UniMaxWord GROUP BY word)""".stripMargin

  /** `floor(ln(cnt/total)·10⁶)` as BIGINT — the SQL twin of
    * `UnigramLm.scoresFromCounts` (identical IEEE division; ln may
    * differ in sub-ulp rounding between engines). The ·10⁶ floor
    * absorbs that in ALMOST every case but cannot guarantee it: a
    * product landing within an ulp of an integer can flip the floor,
    * and one flipped micro-nat can cascade through the Viterbi argmax
    * into a different segmentation. Accepted residual risk (the
    * dpNoisySums ln precedent) — if q228/q229 ever hash-mismatch on a
    * regenerated corpus, triage as this known ulp hazard before
    * suspecting the DP logic. */
  private def uniScoreSql(src: String): String =
    s"""SELECT piece, CAST(floor(ln(CAST(cnt AS DOUBLE) /
       |      (SELECT CAST(sum(cnt) AS DOUBLE) FROM $src)) * 1000000.0)
       |    AS BIGINT) AS score FROM $src""".stripMargin

  /** Unrolled Viterbi DP + backtrace over the `v` word table under the
    * scores CTE `scores` (the q116/q151 recurrence-replay discipline
    * applied to a DP): position CTE `d_j` holds the best path score
    * into character j — the argmax over the ≤ [[UniL]] candidate split
    * points, each a JOIN of `d_i` against the score table on the
    * literal substring (single-char candidates LEFT JOIN and fall back
    * to [[graft.text.UnigramLm.UnkScoreMicro]], so every position is
    * reachable and the chain is total), ties to the EARLIEST split
    * start (ORDER BY dp DESC, back ASC — the engine's ascending-scan
    * strict-greater rule). The backtrace CTEs `b_t` walk `back` from
    * len(word) to 0, emitting one piece per step; `<p>us` aggregates
    * (piece, Σ freq) over every emitted slot, so a piece used twice in
    * one word counts twice — exactly `emRound`'s E-step. MATERIALIZED
    * throughout (the q151 fd-limit lesson: inlined CTE chains
    * re-expand per reference). */
  private def uniViterbiCtes(p: String, scores: String): String = {
    val dp = (1 to UniMaxWord).map { j =>
      val branches = (1 to math.min(UniL, j)).map { k =>
        val i = j - k
        if (k == 1)
          s"""SELECT c.word, c.dp + coalesce(s.score, $UniUnk) AS dp, $i AS back
             |    FROM ${p}d$i c LEFT JOIN $scores s
             |      ON s.piece = substr(c.word, ${i + 1}, 1)
             |    WHERE len(c.word) >= $j""".stripMargin
        else
          s"""SELECT c.word, c.dp + s.score AS dp, $i AS back
             |    FROM ${p}d$i c JOIN $scores s
             |      ON s.piece = substr(c.word, ${i + 1}, $k)
             |    WHERE len(c.word) >= $j""".stripMargin
      }.mkString("\n    UNION ALL ")
      s"""${p}d$j AS MATERIALIZED (SELECT word, dp, back FROM (
         |    $branches)
         |  QUALIFY row_number() OVER (PARTITION BY word
         |    ORDER BY dp DESC, back ASC) = 1)""".stripMargin
    }.mkString(",\n")
    val dall = (1 to UniMaxWord)
      .map(j => s"SELECT word, $j AS pos, back FROM ${p}d$j")
      .mkString(" UNION ALL ")
    val bt = (1 to UniMaxWord).map { t =>
      s"""${p}b$t AS MATERIALIZED (SELECT b.word, b.freq, d.back AS pos,
         |    substr(b.word, d.back + 1, b.pos - d.back) AS piece
         |  FROM ${p}b${t - 1} b JOIN ${p}dall d
         |    ON d.word = b.word AND d.pos = b.pos
         |  WHERE b.pos > 0)""".stripMargin
    }.mkString(",\n")
    val em = (1 to UniMaxWord)
      .map(t => s"SELECT freq, piece FROM ${p}b$t")
      .mkString(" UNION ALL ")
    s"""${p}d0 AS (SELECT word, CAST(0 AS BIGINT) AS dp, 0 AS back FROM v),
       |$dp,
       |${p}dall AS MATERIALIZED ($dall),
       |${p}b0 AS (SELECT word, freq, len(word) AS pos FROM v),
       |$bt,
       |${p}us AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM ($em) GROUP BY piece)""".stripMargin
  }

  /** WITH-body replaying `seedVocab → scoresFromCounts → emRound`:
    * substring seed (all pieces ≤ [[UniL]] of every word, frequency-
    * weighted, top [[UniSeed]] with ALL single chars kept), integer
    * micro-nat scores, one Viterbi E-step (chain `a`), zero-usage
    * singles retained at count 1 — `u1` is the round-1 usage table. */
  private val uniTrainCtes: String =
    s"""$uniWordsCtes,
       |sd AS (SELECT substr(word, i, l) AS piece,
       |    CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM v
       |  CROSS JOIN LATERAL unnest(generate_series(1, len(word))) AS s0(i)
       |  CROSS JOIN LATERAL unnest(generate_series(1,
       |      least($UniL, len(word) - i + 1))) AS s1(l)
       |  GROUP BY 1),
       |seed AS MATERIALIZED (SELECT piece, cnt FROM (
       |    SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rk
       |    FROM sd)
       |  WHERE rk <= $UniSeed OR len(piece) = 1),
       |sc0 AS MATERIALIZED (${uniScoreSql("seed")}),
       |${uniViterbiCtes("a", "sc0")},
       |u1 AS MATERIALIZED (
       |  SELECT piece, cnt FROM aus
       |  UNION ALL
       |  SELECT piece, CAST(1 AS BIGINT) AS cnt FROM sc0
       |  WHERE len(piece) = 1
       |    AND piece NOT IN (SELECT piece FROM aus))""".stripMargin

  private val uniTrainSql: String =
    s"""WITH $uniTrainCtes
       |SELECT piece, cnt FROM u1 ORDER BY cnt DESC, piece LIMIT 30""".stripMargin

  /** Full-pipeline twin of q229: train (trim `u1` to [[UniVocab]] with
    * singles kept, rescore) then a SECOND unrolled Viterbi (chain `z`)
    * under the trained scores — corpus piece frequencies. */
  private val uniEncodeSql: String =
    s"""WITH $uniTrainCtes,
       |kept AS MATERIALIZED (SELECT piece, cnt FROM (
       |    SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rk
       |    FROM u1)
       |  WHERE rk <= $UniVocab OR len(piece) = 1),
       |sc1 AS MATERIALIZED (${uniScoreSql("kept")}),
       |${uniViterbiCtes("z", "sc1")}
       |SELECT piece, cnt FROM zus ORDER BY cnt DESC, piece LIMIT 20""".stripMargin

  /** Byte-level twin of [[BpeWrapWordSql]]: hex the word's UTF-8 bytes
    * (DuckDB `hex(encode(..))` and Spark `hex(encode(.., 'UTF-8'))` both
    * render uppercase), wrap each two-digit pair as one symbol. */
  private val BpeByteWrapWordSql: String =
    s"$BpeL || array_to_string(regexp_extract_all(hex(encode(word)), '..'), " +
      s"$BpeR || $BpeL) || $BpeR || $BpeL || '</w>' || $BpeR"

  /** Planted multi-byte suffix: accents (2-byte), CJK (3-byte), emoji
    * (4-byte) tokens — the inputs the char-level `[a-z]+` trainer drops
    * and byte fallback must encode losslessly. The SQL side gets the
    * identical literals (UTF-8 through both engines). */
  private val BytePlants = Seq(" café naïve", " 日本語 データ", " 🦀rust 🚀go")
  private val bytePlantSql =
    s"""CASE doc_id % 3 WHEN 0 THEN '${BytePlants(0)}'
       |  WHEN 1 THEN '${BytePlants(1)}' ELSE '${BytePlants(2)}' END""".stripMargin

  /** WITH-chain replaying `Bpe.learnMerges(initByteVocab(planted), k)`:
    * byte-symbol s0 over AS-IS whitespace tokens (no canonicalize, no
    * alphabet filter), then the same iteration CTEs. */
  private def bpeByteCtes(k: Int): String =
    s"""WITH w AS (SELECT unnest(${tokensSql(s"text || $bytePlantSql")}) AS word
       |  FROM documents),
       |v AS (SELECT word, count(*) AS n FROM w WHERE word <> '' GROUP BY word),
       |s0 AS (SELECT $BpeByteWrapWordSql AS seq, n FROM v),
       |${bpeIterCtes(k)}""".stripMargin

  // ---- q118/q119 fixtures (must precede `queries`: the SQL strings
  // capture these at object init) ----------------------------------------
  /** UTF-8-as-cp1252 corruption — the inverse of the repair; planted
    * segments are REAL text run through the actual encoding mistake. */
  private def moji(t: String): String =
    new String(t.getBytes("UTF-8"), "windows-1252")

  private val MojiSegs: Seq[String] = Seq(
    moji(" don\u2019t caf\u00E9"),             // don’t café
    moji(" \u201Cquoted\u2018 25\u00B0C"),     // “quoted‘ 25°C
    moji(" dash \u2014 etc \u2026 na\u00EFve")) // dash — etc … naïve

  private def sqlLit(s: String): String = s.replace("'", "''")

  /** Subdomain spread over three registrable domains + one bare label. */
  private val DomainHosts: Seq[String] = Seq(
    "www.example.co.uk", "news.example.co.uk", "example.com",
    "cdn.example.com", "shop.site.com.au", "site.org", "localhost")

  /** The q119/q122 host column: [[DomainHosts]] planted by doc_id. */
  private def plantedHost: org.apache.spark.sql.Column =
    PlantedHosts.column(DomainHosts)

  /** Bag-of-words logistic quality model (the fastText-style classifier
    * shape): token weights over the corpus vocabulary + intercept. Both
    * the Spark plan ([[graft.text.WeightedSentiment]]) and the q120
    * oracle SQL are generated from THIS seq in file order, so the fold
    * order of the IEEE sum — and therefore the score — cannot drift
    * between engines. */
  private val QualityWeights: Seq[(String, Double)] = Seq(
    "spark" -> 0.6, "fast" -> 0.45, "vector" -> 0.3, "query" -> 0.2,
    "slow" -> -0.55, "dup" -> -0.8, "batch" -> -0.15)
  private val QualityBias: Double = -0.25

  val queries: Seq[Q] = Seq(

    // Token counting + per-language stats (SURVEY §2.8 split/size; the
    // word-count histogram input of NFL_Processing.py:35).
    Q("q30_token_stats",
      Some(s"""WITH d AS (SELECT lang, n_chars, len($toksSql) AS n_tok FROM documents)
              |SELECT lang, count(*) AS n_docs,
              |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
              |  round(avg(n_tok), 4) AS avg_tokens,
              |  round(avg(n_chars), 4) AS avg_chars,
              |  CAST(min(n_tok) AS BIGINT) AS min_tokens,
              |  CAST(max(n_tok) AS BIGINT) AS max_tokens
              |FROM d GROUP BY lang""".stripMargin),
      (s, dir) =>
        docs(s, dir)
          .withColumn("n_tok", size(tokens(col("text"))).cast("long"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("sum_tokens"),
            round(avg(col("n_tok")), 4).as("avg_tokens"),
            round(avg(col("n_chars")), 4).as("avg_chars"),
            min(col("n_tok")).as("min_tokens"),
            max(col("n_tok")).as("max_tokens"))),

    // Language-ID by stopword-hit argmax; output is the confusion matrix
    // against the table's ground-truth lang column.
    Q("q32_lang_id", {
      val scores = LangStopwords.map { case (l, ws) =>
        s"  len(list_filter(tk, t -> t IN (${inList(ws)}))) AS score_$l"
      }.mkString(",\n")
      val langs = LangStopwords.map(_._1)
      val caseChain = langs.init.zipWithIndex.map { case (l, i) =>
        val conds = langs.drop(i + 1).map(o => s"score_$l >= score_$o").mkString(" AND ")
        s"WHEN $conds THEN '$l'"
      }.mkString(" ")
      Some(s"""WITH t AS (SELECT lang, $toksSql AS tk FROM documents),
              |s AS (SELECT lang,
              |$scores
              |FROM t)
              |SELECT lang, CASE $caseChain ELSE '${langs.last}' END AS pred_lang,
              |  count(*) AS n
              |FROM s GROUP BY 1, 2""".stripMargin)
    },
      (s, dir) =>
        TextAnalysis.withLangId(docs(s, dir), col("text"))
          .groupBy("lang", "pred_lang")
          .agg(count(lit(1)).as("n"))),

    // Quality scoring: stopword-ratio + length term, bucketed by decile.
    Q("q33_quality_score",
      Some(s"""WITH t AS (SELECT $toksSql AS tk FROM documents),
              |q AS (SELECT
              |  0.4 * (CAST(len(list_filter(tk, t -> t IN (${inList(LangStopwords.head._2)}))) AS DOUBLE)
              |         / CAST(len(tk) AS DOUBLE))
              |  + 0.6 * least(CAST(len(tk) AS DOUBLE) / 50.0, 1.0) AS quality FROM t)
              |SELECT CAST(floor(quality * 10) AS BIGINT) AS quality_bucket,
              |  count(*) AS n, round(avg(quality), 4) AS avg_quality
              |FROM q GROUP BY 1""".stripMargin),
      (s, dir) =>
        TextAnalysis.withQuality(docs(s, dir), col("text"))
          .groupBy("quality_bucket")
          .agg(count(lit(1)).as("n"), round(avg(col("quality")), 4).as("avg_quality"))),

    // Order-sensitive polynomial document fingerprint (rolling hash over
    // token hashes) — identical fold in both engines.
    Q("q34_fingerprint",
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents)
              |SELECT doc_id, ${fingerprintSql("tk")} AS fp FROM t""".stripMargin),
      (s, dir) =>
        docs(s, dir).select(col("doc_id"), fingerprint(tokens(col("text"))).as("fp"))),

    // BPE-ish pre-tokenizer piece counts (the token-budget pass of a
    // training-data pipeline; pattern restricted to the Java-regex ∩ RE2
    // subset so the oracle replays it exactly).
    Q("q46_bpe_tokens",
      Some(s"""WITH p AS (SELECT lang, len(${bpePiecesSql("text")}) AS n_pieces FROM documents)
              |SELECT lang, count(*) AS n_docs,
              |  CAST(sum(n_pieces) AS BIGINT) AS sum_pieces,
              |  round(avg(n_pieces), 4) AS avg_pieces,
              |  CAST(max(n_pieces) AS BIGINT) AS max_pieces
              |FROM p GROUP BY lang""".stripMargin),
      (s, dir) =>
        docs(s, dir)
          .withColumn("n_pieces", size(bpePieces(col("text"))).cast("long"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_pieces")).as("sum_pieces"),
            round(avg(col("n_pieces")), 4).as("avg_pieces"),
            max(col("n_pieces")).as("max_pieces"))),

    // Repetition-ratio quality signal: distinct/total tokens per doc,
    // decile-bucketed (low bucket = heavy repetition = spam-ish).
    Q("q49_repetition_ratio",
      Some(s"""WITH t AS (SELECT $toksSql AS tk FROM documents),
              |r AS (SELECT CAST(len(list_distinct(tk)) AS DOUBLE) / nullif(len(tk), 0) AS dr FROM t)
              |SELECT CAST(floor(dr * 10) AS BIGINT) AS repetition_bucket,
              |  count(*) AS n, round(avg(dr), 4) AS avg_ratio
              |FROM r GROUP BY 1""".stripMargin),
      (s, dir) =>
        TextAnalysis.withRepetition(docs(s, dir), col("text"))
          .groupBy("repetition_bucket")
          .agg(count(lit(1)).as("n"),
            round(avg(col("distinct_ratio")), 4).as("avg_ratio"))),

    // TF-IDF with corpus-derived N (fixing the reference's hard-coded 7511,
    // NFL_Processing.py:486) + per-doc top-5 (NFL_Processing.py:504-506).
    Q("q43_tfidf_topk",
      Some(s"""WITH pairs AS (SELECT doc_id AS doc, unnest($toksSql) AS token FROM documents),
              |tf AS (SELECT doc, token, count(*) AS tf FROM pairs GROUP BY 1, 2),
              |dfreq AS (SELECT token, count(DISTINCT doc) AS df FROM pairs GROUP BY 1),
              |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
              |scored AS (SELECT doc, tf.token AS token, tf,
              |    log10(CAST(n_docs AS DOUBLE) / df) AS idf,
              |    tf * log10(CAST(n_docs AS DOUBLE) / df) AS tfidf
              |  FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n),
              |ranked AS (SELECT doc, token, tf,
              |    round(idf, 4) AS idf_r, round(tfidf, 4) AS tfidf_r,
              |    CAST(ROW_NUMBER() OVER (PARTITION BY doc
              |      ORDER BY round(tfidf, 6) DESC, token) AS INT) AS rnk
              |  FROM scored)
              |SELECT doc, token, tf, idf_r, tfidf_r, rnk FROM ranked WHERE rnk <= 5""".stripMargin),
      (s, dir) =>
        TfIdf.topKPerDoc(docs(s, dir), col("doc_id"), tokens(col("text")), 5)
          .select(col("doc"), col("token"), col("tf"),
            round(col("idf"), 4).as("idf_r"), round(col("tfidf"), 4).as("tfidf_r"),
            col("rnk"))),

    // Deterministic lexicon sentiment (the engine's self-contained stand-in
    // for the reference's pretrained model, SURVEY §2.10).
    Q("q44_sentiment",
      Some(s"""WITH t AS (SELECT $toksSql AS tk FROM documents),
              |s AS (SELECT
              |  len(list_filter(tk, t -> t IN (${inList(PosWords)}))) AS np,
              |  len(list_filter(tk, t -> t IN (${inList(NegWords)}))) AS nn,
              |  len(tk) AS ntok FROM t)
              |SELECT CASE WHEN np > nn THEN 'positive'
              |            WHEN np < nn THEN 'negative'
              |            ELSE 'neutral' END AS sentiment,
              |  count(*) AS n,
              |  round(avg(CAST(np - nn AS DOUBLE) / CAST(ntok AS DOUBLE)), 4) + 0 AS avg_polarity
              |FROM s GROUP BY 1""".stripMargin),
      (s, dir) =>
        TextAnalysis.withSentiment(docs(s, dir), col("text"))
          .groupBy("sentiment")
          .agg(count(lit(1)).as("n"),
            // + 0.0: signed-zero normalization (q127's sf0.001 lesson)
            (round(avg(col("polarity")), 4) + lit(0.0)).as("avg_polarity"))),

    // PII scrubbing: URLs/emails/phones → typed placeholders, over a corpus
    // with one planted PII item per doc (the synthetic table carries none).
    // Both engines plant and scrub with the identical pattern chain
    // (Java ∩ RE2), so the scrubbed text hash-matches byte-for-byte.
    Q("q63_pii_scrub",
      Some(s"""WITH c AS (SELECT doc_id, text ||
              |    CASE CAST(doc_id % 3 AS INT)
              |      WHEN 0 THEN ' contact user' || doc_id || '@example.com today'
              |      WHEN 1 THEN ' see https://example.com/d/' || doc_id || '?u=a@b.co page'
              |      ELSE ' call 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now'
              |    END AS text
              |  FROM documents)
              |SELECT doc_id, ${piiCountSql("text")} AS n_pii,
              |  ${scrubPiiSql("text")} AS scrubbed
              |FROM c""".stripMargin),
      (s, dir) => {
        val planted = docs(s, dir).select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 3 === 0,
              concat(lit(" contact user"), col("doc_id"), lit("@example.com today")))
            .when(col("doc_id") % 3 === 1,
              concat(lit(" see https://example.com/d/"), col("doc_id"), lit("?u=a@b.co page")))
            .otherwise(concat(lit(" call 555-010-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" now")))).as("text"))
        planted.select(col("doc_id"), piiCount(col("text")).as("n_pii"),
          scrubPii(col("text")).as("scrubbed"))
      }),

    // Greedy sequence packing into 256-token bins, sharded by doc_id/100 —
    // the context-window packing step of an LLM training pipeline. The
    // oracle replays the sequential recurrence with a recursive CTE; the
    // engine walks it in one mapPartitions pass after a shard shuffle
    // (see operators/Packing.scala for why a window can't express it).
    Q("q64_seq_packing",
      Some(s"""WITH RECURSIVE $tokenPackCtes
              |SELECT doc_id, shard, bin, w, fill FROM pack""".stripMargin),
      (s, dir) =>
        tokenPacking(docs(s, dir))),

    // Packed-sequence boundary masks (Packing.packedBoundaries): the
    // per-doc [seq_start, seq_start+seq_len) token spans inside each
    // packed context window — what the trainer's attention mask reads so
    // cross-document positions don't attend. Pure projection over the
    // q64 walk (seq_start = fill − w): zero extra shuffle, and the
    // oracle extends the same recursive CTE by one arithmetic column.
    Q("q156_pack_boundaries",
      Some(s"""WITH RECURSIVE $tokenPackCtes
              |SELECT shard, bin, doc_id, fill - w AS seq_start, w AS seq_len
              |FROM pack""".stripMargin),
      (s, dir) =>
        graft.operators.Packing.packedBoundaries(
          tokenPacking(docs(s, dir)))),

    // Deterministic stratified k-fold assignment: within each language
    // stratum, docs ranked by portable hash (tiebreak doc_id) and dealt
    // round-robin into k folds — EXACTLY balanced per stratum (hash%k
    // would only balance in expectation), deterministic across engines
    // and runs, no RNG state. One rank window per stratum; the CV loop
    // trains on k-1 folds without re-shuffling the corpus.
    Q("q157_kfold",
      Some(s"""WITH r AS (SELECT lang, n_chars,
              |    row_number() OVER (PARTITION BY lang
              |      ORDER BY ${portableHashSql("CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
              |  FROM documents)
              |SELECT lang, CAST((rn - 1) % 5 AS BIGINT) AS fold,
              |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
              |FROM r GROUP BY lang, fold""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy(col("lang"))
          .orderBy(portableHash(col("doc_id").cast("string")), col("doc_id"))
        docs(s, dir)
          .withColumn("fold", ((row_number().over(w) - 1) % 5).cast("long"))
          .groupBy("lang", "fold")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      }),

    // Fixed-size overlapping chunking (50-token windows every 40): the
    // RAG/context-window splitting pass, as a pure per-row generator.
    Q("q71_chunking",
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
              |s AS (SELECT doc_id, tk,
              |    unnest(generate_series(1, len(tk), 40)) AS start FROM t)
              |SELECT doc_id AS doc,
              |  CAST((start - 1) // 40 AS INT) AS chunk_id,
              |  array_to_string(tk[start:least(start + 49, len(tk))], ' ') AS chunk,
              |  CAST(least(len(tk) - start + 1, 50) AS BIGINT) AS chunk_len
              |FROM s""".stripMargin),
      (s, dir) =>
        graft.text.Chunking.chunkTokens(docs(s, dir), col("doc_id"),
          tokens(col("text")), chunkSize = 50, stride = 40)),

    // End-to-end RAG retrieval composite: chunk (q71's 50/40 windows) →
    // deterministic 16-d chunk embedding (portable-hash features — the
    // committed stand-in for a model encoder, same seam as the planted
    // classifiers) → brute-force top-5 per query with self-doc chunks
    // excluded. Queries = chunk 0 of every doc_id%100==0 doc, broadcast
    // against the chunk corpus; WindowGroupLimit keeps the rank prune
    // map-side. The production path swaps the brute scan for the IVF /
    // truncated-rerank tiers (q40/q126/q142) behind the same
    // (qdoc, doc, chunk_id, dot) shape — this query hash-certifies the
    // whole chunk→embed→score→rank composition end to end.
    Q("q160_rag_retrieval", {
      val hj = portableHashSql("(chunk || ':' || CAST(j AS VARCHAR))")
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
              |s AS (SELECT doc_id, tk,
              |    unnest(generate_series(1, len(tk), 40)) AS start FROM t),
              |c AS (SELECT doc_id AS doc, CAST((start - 1) // 40 AS INT) AS chunk_id,
              |    array_to_string(tk[start:least(start + 49, len(tk))], ' ') AS chunk
              |  FROM s),
              |e AS (SELECT doc, chunk_id, list_transform(generate_series(0, 15),
              |    j -> CAST($hj % 1000 AS DOUBLE)) AS v FROM c),
              |q AS (SELECT doc AS qdoc, v AS qv FROM e
              |  WHERE doc % 100 = 0 AND chunk_id = 0),
              |sc AS (SELECT q.qdoc, e.doc, e.chunk_id,
              |    ${graft.similarity.Similarity.dotSql("qv", "v")} AS dot
              |  FROM q CROSS JOIN e WHERE e.doc <> q.qdoc)
              |SELECT qdoc, CAST(rank AS BIGINT) AS rank, doc, chunk_id,
              |  round(dot, 4) AS dot_r
              |FROM (SELECT *, row_number() OVER (PARTITION BY qdoc
              |    ORDER BY dot DESC, doc, chunk_id) AS rank FROM sc)
              |WHERE rank <= 5""".stripMargin)
    },
      (s, dir) => {
        val ch = graft.text.Chunking.chunkTokens(docs(s, dir), col("doc_id"),
          tokens(col("text")), chunkSize = 50, stride = 40)
        val vec = hashVec(col("chunk"))
        val e = ch.select(col("doc"), col("chunk_id"), vec.as("v"))
        val qs = e.filter(col("doc") % 100 === 0 && col("chunk_id") === 0)
          .select(col("doc").as("qdoc"), col("v").as("qv"))
        val scored = e.join(broadcast(qs), col("doc") =!= col("qdoc"))
          .select(col("qdoc"), col("doc"), col("chunk_id"),
            graft.similarity.Similarity.dot(col("qv"), col("v")).as("dot"))
        val w = Window.partitionBy("qdoc")
          .orderBy(desc("dot"), col("doc"), col("chunk_id"))
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .select(col("qdoc"), col("rank"), col("doc"), col("chunk_id"),
            round(col("dot"), 4).as("dot_r"))
      }),

    // Release manifest (operators.Release): the publish step — content-
    // hash sharding (re-running reproduces the layout bit-for-bit) and a
    // per-shard manifest with an order-insensitive, overflow-safe
    // checksum a consumer verifies downloads against. One combinable
    // aggregation; the write side is spec-carried (ReleaseSpec re-reads
    // the files and re-derives the identical manifest).
    Q("q161_release_manifest", {
      val hid = portableHashSql("CAST(doc_id AS VARCHAR)")
      val ht = portableHashSql("text")
      Some(s"""SELECT $hid % 8 AS shard, count(*) AS n_docs,
              |  CAST(sum(len(text)) AS BIGINT) AS n_chars,
              |  CAST(sum($ht % 1073741824) AS BIGINT) AS checksum
              |FROM documents GROUP BY shard""".stripMargin)
    },
      (s, dir) =>
        graft.operators.Release.manifest(docs(s, dir), col("doc_id"),
          col("text"), shards = 8)),

    // Per-source data card (operators.Release): the release summary
    // shipped next to the shard manifest — volume/share, language
    // profile with a deterministic majority election, exact median
    // length, exact-duplicate rate via distinct portable hashes. Two
    // map-side-combinable corpus passes; ppm ratios are the shared
    // staged-integer helper on both engines.
    Q("q195_datacard", {
      val ht = portableHashSql("text")
      import graft.operators.Sampling.microRatioSql
      Some(s"""WITH base AS (
              |  SELECT source, lang, CAST(len(text) AS BIGINT) AS nc, $ht AS h
              |  FROM documents),
              |s AS (
              |  SELECT source, count(*) AS n_docs, CAST(sum(nc) AS BIGINT) AS n_chars,
              |         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
              |         CAST(count(DISTINCT h) AS BIGINT) AS n_unique,
              |         round(quantile_cont(nc, 0.5), 1) AS median_chars
              |  FROM base GROUP BY 1),
              |m AS (
              |  SELECT source,
              |         arg_max(lang, lpad(CAST(cl AS VARCHAR), 20, '0') || lang) AS major_lang,
              |         CAST(max(cl) AS BIGINT) AS mc
              |  FROM (SELECT source, lang, count(*) AS cl FROM base GROUP BY 1, 2)
              |  GROUP BY 1),
              |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tt FROM s)
              |SELECT s.source, n_docs, n_chars,
              |       ${microRatioSql("n_docs", "tt", "//")} AS share_ppm,
              |       n_langs, major_lang,
              |       ${microRatioSql("mc", "n_docs", "//")} AS major_lang_ppm,
              |       median_chars,
              |       ${microRatioSql("(n_docs - n_unique)", "n_docs", "//")} AS exact_dup_ppm
              |FROM s JOIN m ON s.source = m.source, t""".stripMargin)
    },
      (s, dir) =>
        graft.operators.Release.dataCard(docs(s, dir), col("source"),
          col("text"), col("lang"))),

    // Per-doc OOV rate vs the corpus top-20 vocabulary (the synthetic
    // corpus has ~31 distinct tokens, so 20 leaves a real OOV tail),
    // decile-bucketed.
    Q("q72_oov_rate",
      Some(s"""WITH p AS (SELECT doc_id AS doc, unnest($toksSql) AS token FROM documents),
              |v AS (SELECT token FROM (
              |    SELECT token, count(*) AS n FROM p GROUP BY token
              |    ORDER BY n DESC, token LIMIT 20)),
              |dc AS (SELECT doc, token, count(*) AS c FROM p GROUP BY doc, token),
              |r AS (SELECT doc,
              |    CAST(sum(CASE WHEN v.token IS NULL THEN c ELSE 0 END) AS DOUBLE)
              |      / sum(c) AS oov
              |  FROM dc LEFT JOIN v ON dc.token = v.token GROUP BY doc)
              |SELECT CAST(floor(oov * 10) AS BIGINT) AS oov_bucket,
              |  count(*) AS n, round(avg(oov), 4) AS avg_oov
              |FROM r GROUP BY 1""".stripMargin),
      (s, dir) =>
        graft.text.Chunking.oovRate(docs(s, dir), col("doc_id"),
            tokens(col("text")), vocabSize = 20)
          .groupBy(floor(col("oov_rate") * 10).cast("long").as("oov_bucket"))
          .agg(count(lit(1)).as("n"), round(avg(col("oov_rate")), 4).as("avg_oov"))),

    // Token-distribution entropy per doc (repetition/diversity quality
    // signal), decile-bucketed. Both engines sum -p·ln(p) over the same
    // exact count ratios; rounding absorbs merge-order ULP drift.
    Q("q73_token_entropy",
      Some(s"""WITH p AS (SELECT doc_id AS doc, unnest($toksSql) AS token FROM documents),
              |dc AS (SELECT doc, token, count(*) AS c FROM p GROUP BY doc, token),
              |n AS (SELECT doc, sum(c) AS n_tok FROM dc GROUP BY doc),
              |e AS (SELECT dc.doc,
              |    -sum((CAST(c AS DOUBLE) / n_tok) * ln(CAST(c AS DOUBLE) / n_tok)) AS h
              |  FROM dc JOIN n ON dc.doc = n.doc GROUP BY dc.doc)
              |SELECT CAST(floor(h) AS BIGINT) AS entropy_bucket,
              |  count(*) AS n, round(avg(h), 4) AS avg_entropy
              |FROM e GROUP BY 1""".stripMargin),
      (s, dir) => {
        val dc = docs(s, dir)
          .select(col("doc_id").as("doc"), explode(tokens(col("text"))).as("token"))
          .groupBy("doc", "token").agg(count(lit(1)).as("c"))
        val n = dc.groupBy("doc").agg(sum(col("c")).as("n_tok"))
        val p = col("c").cast("double") / col("n_tok")
        dc.join(n, "doc")
          .groupBy("doc").agg((-sum(p * log(p))).as("h"))
          .groupBy(floor(col("h")).cast("long").as("entropy_bucket"))
          .agg(count(lit(1)).as("n"), round(avg(col("h")), 4).as("avg_entropy"))
      }),

    // Bigram collocations by PMI: adjacent-pair counts vs unigram
    // marginals. The ln() argument is assembled with fixed parens over
    // exact integer-valued doubles, so both engines round the same value.
    Q("q70_bigram_pmi",
      Some(s"""WITH t AS (SELECT $toksSql AS tk FROM documents),
              |bg AS (SELECT unnest(tk[1:len(tk)-1]) AS w1, unnest(tk[2:len(tk)]) AS w2 FROM t),
              |uni AS (SELECT unnest(tk) AS w FROM t),
              |uc AS (SELECT w, count(*) AS n_uni FROM uni GROUP BY w),
              |n1 AS (SELECT CAST(sum(n_uni) AS BIGINT) AS N1 FROM uc),
              |bc AS (SELECT w1, w2, count(*) AS n_big FROM bg GROUP BY w1, w2
              |  HAVING count(*) >= 5),
              |n2 AS (SELECT count(*) AS N2 FROM bg)
              |SELECT w1, w2, n_big,
              |  round(ln((CAST(n_big AS DOUBLE) * CAST(N1 AS DOUBLE) * CAST(N1 AS DOUBLE))
              |    / (CAST(N2 AS DOUBLE) * CAST(c1.n_uni AS DOUBLE) * CAST(c2.n_uni AS DOUBLE))), 4) + 0.0 AS pmi_r
              |FROM bc
              |JOIN uc c1 ON c1.w = bc.w1
              |JOIN uc c2 ON c2.w = bc.w2
              |CROSS JOIN n1 CROSS JOIN n2""".stripMargin),
      (s, dir) =>
        graft.text.Collocations.bigramPmi(docs(s, dir), tokens(col("text")), 5L)
          .select(col("w1"), col("w2"), col("n_big"),
            // + 0.0 collapses IEEE -0.0 (negative PMI rounding to zero)
            (round(col("pmi"), 4) + lit(0.0)).as("pmi_r"))),

    // FLAGSHIP COMPOSITE: the training-data pipeline end to end —
    // language + quality filter → exact dedup (keep-first) → hash-based
    // train split → greedy sequence packing — every stage an operator
    // proven alone (q33/q31/q66/q64), composed here the way a user would
    // ship it. Output: per-shard packed-bin statistics.
    Q("q75_pipeline_e2e", {
      val h = portableHashSql("CAST(doc_id AS VARCHAR)")
      val en = inList(LangStopwords.head._2)
      Some(s"""WITH RECURSIVE q AS (
              |  SELECT doc_id, text, $toksSql AS tk,
              |    0.4 * (CAST(len(list_filter($toksSql, t -> t IN ($en))) AS DOUBLE)
              |           / CAST(len($toksSql) AS DOUBLE))
              |    + 0.6 * least(CAST(len($toksSql) AS DOUBLE) / 50.0, 1.0) AS quality
              |  FROM documents WHERE lang = 'en'),
              |f AS (SELECT doc_id, text, tk FROM q WHERE quality >= 0.5),
              |keepers AS (SELECT min(doc_id) AS keep FROM f GROUP BY md5(text)),
              |train AS (SELECT doc_id, doc_id // 100 AS shard, len(tk) AS w FROM f
              |  WHERE doc_id IN (SELECT keep FROM keepers) AND $h % 10 <= 7),
              |${packCtes("train")}
              |SELECT shard, count(DISTINCT bin) AS n_bins, count(*) AS n_docs,
              |  CAST(sum(w) AS BIGINT) AS sum_tokens
              |FROM pack GROUP BY shard""".stripMargin)
    },
      (s, dir) => {
        import graft.functions.TextFunctions.portableHash
        // persisted: both the keeper derivation and the train filter scan
        // it (the tokenize+lexicon pass is the expensive stage); released
        // by the harness's per-query clearCache, like the dedup pipelines
        val filtered = TextAnalysis.withQuality(
            docs(s, dir).filter(col("lang") === "en"), col("text"))
          .filter(col("quality") >= 0.5)
          .select("doc_id", "text")
          .persist()
        // reuse the dedup operator; UNHINTED semi join — the keeper set
        // is corpus-sized (one row per distinct text), a forced broadcast
        // of it would OOM at the scale the rest of this pipeline targets
        val keepers = graft.operators.Relational
          .dedupExactKeepFirst(filtered, md5(col("text")), col("doc_id"))
          .select(col("keeper").as("kdoc"))
        val train = filtered
          .join(keepers, col("doc_id") === col("kdoc"), "left_semi")
          .filter(pmod(portableHash(col("doc_id").cast("string")), lit(10)) <= 7)
          .withColumn("w", size(tokens(col("text"))).cast("long"))
        graft.operators.Packing.packGreedy(train, col("doc_id"), col("w"),
            expr("doc_id div 100"), capacity = 256L)
          .groupBy("shard")
          .agg(countDistinct(col("bin")).as("n_bins"),
            count(lit(1)).as("n_docs"),
            sum(col("w")).as("sum_tokens"))
      }),

    // Per-source top-5 tokens by frequency — the reference's word-count +
    // per-group ranking shape (A9 + W3/W4) without the RDD detour.
    Q("q45_top_tokens",
      Some(s"""WITH pairs AS (SELECT source, unnest($toksSql) AS token FROM documents),
              |c AS (SELECT source, token, count(*) AS n FROM pairs GROUP BY 1, 2)
              |SELECT * FROM (
              |  SELECT source, token, n,
              |    CAST(ROW_NUMBER() OVER (PARTITION BY source
              |      ORDER BY n DESC, token) AS INT) AS rnk
              |  FROM c) WHERE rnk <= 5""".stripMargin),
      (s, dir) =>
        Relational.topKPerGroup(
          docs(s, dir)
            .select(col("source"), explode(tokens(col("text"))).as("token"))
            .groupBy("source", "token")
            .agg(count(lit(1)).as("n")),
          Seq(col("source")), Seq(col("n").desc, col("token")), 5)),

    // Token-budget curation: fill a 10k-token training budget best-
    // quality-first — running token total in (quality desc, doc_id)
    // order, keep while under budget. The running total is the
    // DISTRIBUTED prefix sum (range partition → parallel local cumsum →
    // broadcast partition offsets), not the single-task global window
    // the naive `sum() OVER (ORDER BY …)` plans.
    Q("q107_token_budget",
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
              |q AS (SELECT doc_id, len(tk) AS n_tok,
              |  0.4 * (CAST(len(list_filter(tk, t -> t IN (${inList(LangStopwords.head._2)}))) AS DOUBLE)
              |         / CAST(len(tk) AS DOUBLE))
              |  + 0.6 * least(CAST(len(tk) AS DOUBLE) / 50.0, 1.0) AS quality FROM t),
              |r AS (SELECT doc_id, n_tok,
              |  CAST(sum(n_tok) OVER (ORDER BY -quality, doc_id) AS BIGINT) AS running FROM q)
              |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, running
              |FROM r WHERE running <= 10000""".stripMargin),
      (s, dir) => {
        val q = TextAnalysis.withQuality(docs(s, dir), col("text"))
          .select(col("doc_id"),
            size(tokens(col("text"))).cast("long").as("n_tok"), col("quality"))
        Relational.prefixSum(q,
            struct((-col("quality")).as("nq"), col("doc_id").as("id")), col("n_tok"))
          .filter(col("running") <= 10000)
          .select(col("doc_id"), col("n_tok"), col("running"))
      }),

    // CCNet-style line-level boilerplate removal: a footer line planted
    // on every even doc (50% document frequency) is stripped at the 30%
    // threshold; each doc's own text line and the odd docs' unique tails
    // survive and reassemble in order.
    Q("q104_boilerplate_lines",
      Some("""WITH c AS (SELECT doc_id, text || chr(10) ||
             |    CASE WHEN doc_id % 2 = 0 THEN 'SUBSCRIBE TO OUR NEWSLETTER'
             |         ELSE 'tail ' || CAST(doc_id AS VARCHAR) END AS text
             |  FROM documents),
             |l AS (SELECT doc_id, ls[i] AS line, i AS pos FROM
             |  (SELECT doc_id, string_split(text, chr(10)) AS ls FROM c),
             |  LATERAL unnest(generate_series(1, len(ls))) AS t(i)),
             |f AS (SELECT line, count(DISTINCT doc_id) AS line_df FROM l GROUP BY line),
             |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM c),
             |k AS (SELECT doc_id, line, pos, (line_df / n_docs <= 0.3) AS keep
             |  FROM l JOIN f USING (line) CROSS JOIN n)
             |SELECT doc_id AS doc,
             |  string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY pos) AS clean_text,
             |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
             |FROM k GROUP BY doc_id
             |HAVING sum(CASE WHEN keep THEN 1 ELSE 0 END) > 0""".stripMargin),
      (s, dir) => {
        val planted = docs(s, dir).select(col("doc_id"),
          concat(col("text"), lit("\n"),
            when(col("doc_id") % 2 === 0, lit("SUBSCRIBE TO OUR NEWSLETTER"))
              .otherwise(concat(lit("tail "), col("doc_id").cast("string"))))
            .as("text"))
        TextAnalysis.stripBoilerplateLines(planted, col("doc_id"), col("text"), 0.3)
      }),

    // Gopher repetition signals: every third doc gets a doubled line
    // (tripping the dup-line gate) and every fifth a spammed 2-gram
    // (tripping the top-2-gram gate); the mode counts reuse the
    // codegen'd TokenModeCount over the shingle generator.
    Q("q110_repetition_signals", {
      val sh2 = shinglesSql("tk", 2)
      val sh3 = shinglesSql("tk", 3)
      def modeFrac(shE: String, n: Int): String =
        s"CASE WHEN len($shE) = 0 THEN 0.0 ELSE " +
          s"CAST(list_max(list_transform(list_distinct($shE), " +
          s"g -> len(list_filter($shE, x -> x = g)))) AS DOUBLE) * $n " +
          s"/ len(tk) END"
      Some(s"""WITH c AS (SELECT doc_id, text ||
              |    CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'dup line' || chr(10) || 'dup line'
              |         WHEN doc_id % 5 = 0 THEN ' click here click here click here click here'
              |         ELSE chr(10) || 'uniq ' || CAST(doc_id AS VARCHAR) END AS text
              |  FROM documents),
              |t AS (SELECT doc_id, string_split(text, chr(10)) AS ls, $toksSql AS tk FROM c),
              |s AS (SELECT doc_id, ls, tk, $sh2 AS s2, $sh3 AS s3 FROM t),
              |f AS (SELECT doc_id,
              |    1.0 - CAST(len(list_distinct(ls)) AS DOUBLE) / len(ls) AS dlf,
              |    ${modeFrac("s2", 2)} AS g2, ${modeFrac("s3", 3)} AS g3 FROM s)
              |SELECT doc_id, round(dlf, 6) AS dup_line_frac,
              |  round(g2, 6) AS top2gram_frac, round(g3, 6) AS top3gram_frac,
              |  (dlf > 0.3 OR g2 > 0.2 OR g3 > 0.18) AS rep_fail
              |FROM f""".stripMargin)
    },
      (s, dir) => {
        val planted = docs(s, dir).select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 3 === 0, lit("\ndup line\ndup line"))
              .when(col("doc_id") % 5 === 0,
                lit(" click here click here click here click here"))
              .otherwise(concat(lit("\nuniq "), col("doc_id").cast("string"))))
            .as("text"))
        TextAnalysis.withRepetitionSignals(planted, col("text"))
          .select(col("doc_id"),
            round(col("dup_line_frac"), 6).as("dup_line_frac"),
            round(col("top2gram_frac"), 6).as("top2gram_frac"),
            round(col("top3gram_frac"), 6).as("top3gram_frac"),
            col("rep_fail"))
      }),

    // Within-doc paragraph dedup: keep each line's first occurrence in
    // order (pure per-row projection — array_distinct preserves first
    // occurrence; the oracle replays it via list_position = own index).
    Q("q111_paragraph_dedup",
      Some("""WITH c AS (SELECT doc_id, text ||
             |    CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'dup line' || chr(10) || 'dup line'
             |         ELSE chr(10) || 'uniq ' || CAST(doc_id AS VARCHAR) END AS text
             |  FROM documents),
             |t AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM c),
             |d AS (SELECT doc_id, ls,
             |    list_filter(list_transform(generate_series(1, len(ls)),
             |      i -> CASE WHEN list_position(ls, ls[i]) = i THEN ls[i] END),
             |      x -> x IS NOT NULL) AS kept FROM t)
             |SELECT doc_id AS doc, array_to_string(kept, chr(10)) AS clean_text,
             |  CAST(len(kept) AS BIGINT) AS n_kept,
             |  CAST(len(ls) - len(kept) AS BIGINT) AS n_dropped
             |FROM d""".stripMargin),
      (s, dir) => {
        val planted = docs(s, dir).select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 3 === 0, lit("\ndup line\ndup line"))
              .otherwise(concat(lit("\nuniq "), col("doc_id").cast("string"))))
            .as("text"))
        TextAnalysis.dedupParagraphs(planted, col("doc_id"), col("text"))
      }),

    // Vocabulary coverage cutoff: the count-desc token prefix covering
    // 90% of corpus token mass — one corpus shuffle (grouped count),
    // then the running sum over the aggregated vocab only (the q19/q90
    // bounded-window discipline).
    Q("q112_vocab_coverage",
      Some(s"""WITH p AS (SELECT unnest($toksSql) AS token FROM documents),
              |v AS (SELECT token, count(*) AS cnt FROM p GROUP BY 1),
              |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_total FROM v),
              |r AS (SELECT token, CAST(cnt AS BIGINT) AS cnt,
              |    sum(cnt) OVER (ORDER BY cnt DESC, token
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / n_total AS cf
              |  FROM v CROSS JOIN tot)
              |SELECT token, cnt, round(cf, 6) AS cum_frac FROM r
              |WHERE cf <= 0.9""".stripMargin),
      (s, dir) =>
        graft.text.Chunking.vocabCoverage(docs(s, dir), tokens(col("text")), 0.9)),

    // HTML text extraction (the web-corpus ingestion step BEFORE line
    // boilerplate removal): documents wrapped in a deterministic page
    // shell — script/style/comment blocks, tags, double-escaped and
    // plain entities — must come back as clean text. Both engines build
    // the same page and strip it with the same rule chain.
    Q("q114_html_extract",
      Some(s"""WITH h AS (SELECT doc_id,
              |    '<html><head><script type="text/javascript">track(1);</script>' ||
              |    '<style>.x{color:red}</style><!-- nav --></head><body><h1>Title</h1><p>' ||
              |    text || '</p><br><div>footer &amp;amp; &lt;legal&gt; &#39;v1&#39;&nbsp;ok</div></body></html>' AS html
              |  FROM documents),
              |c AS (SELECT doc_id, ${extractHtmlTextSql("html")} AS clean FROM h)
              |SELECT doc_id AS doc, clean,
              |  CAST(length(clean) AS BIGINT) AS n_clean
              |FROM c""".stripMargin),
      (s, dir) => {
        val html = concat(
          lit("""<html><head><script type="text/javascript">track(1);</script>"""),
          lit("<style>.x{color:red}</style><!-- nav --></head><body><h1>Title</h1><p>"),
          col("text"),
          lit("</p><br><div>footer &amp;amp; &lt;legal&gt; &#39;v1&#39;&nbsp;ok</div></body></html>"))
        docs(s, dir).select(col("doc_id").as("doc"),
          extractHtmlText(html).as("clean"),
          length(extractHtmlText(html)).cast("long").as("n_clean"))
      }),

    // URL canonicalization dedup: planted raw URLs vary by host case,
    // explicit default port, tracking params, and fragment; the
    // canonical form collapses them — the crawl-frontier dedup a web
    // pipeline runs before fetching or hashing any content.
    Q("q115_url_canon",
      Some(s"""WITH u AS (SELECT doc_id,
              |    CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://Example.COM:443'
              |         ELSE 'https://example.com' END ||
              |    '/Path/' || CAST(doc_id % 7 AS VARCHAR) ||
              |    '?id=' || CAST(doc_id % 5 AS VARCHAR) ||
              |    CASE WHEN doc_id % 3 = 0 THEN '&utm_source=feed&utm_campaign=x'
              |         ELSE '' END ||
              |    '#sec' || CAST(doc_id AS VARCHAR) AS url
              |  FROM documents),
              |c AS (SELECT url, ${canonicalizeUrlSql("url")} AS canon FROM u)
              |SELECT canon, count(*) AS n_urls,
              |  CAST(count(DISTINCT url) AS BIGINT) AS n_raw
              |FROM c GROUP BY canon""".stripMargin),
      (s, dir) => {
        val url = concat(
          when(col("doc_id") % 2 === 0, lit("HTTPS://Example.COM:443"))
            .otherwise(lit("https://example.com")),
          lit("/Path/"), (col("doc_id") % 7).cast("string"),
          lit("?id="), (col("doc_id") % 5).cast("string"),
          when(col("doc_id") % 3 === 0, lit("&utm_source=feed&utm_campaign=x"))
            .otherwise(lit("")),
          lit("#sec"), col("doc_id").cast("string"))
        docs(s, dir).select(url.as("url"))
          .select(col("url"), canonicalizeUrl(col("url")).as("canon"))
          .groupBy("canon")
          .agg(count(lit(1)).as("n_urls"),
            countDistinct(col("url")).as("n_raw"))
      }),

    // Distributed BPE merge training (graft.text.Bpe): k=4 merges
    // learned from the word-frequency vocab — one corpus shuffle, every
    // iteration on the Zipf-aggregated vocab. DuckDB replays the whole
    // training loop: per iteration one pair count, one deterministic
    // argmax, one literal-replace rewrite of the vocab.
    Q("q116_bpe_merges",
      Some(s"""${bpeCtes(BpeK)}
              |SELECT * FROM (${(1 to BpeK).map(i =>
                 s"SELECT $i AS it, pa, pb, CAST(cnt AS BIGINT) AS cnt FROM m$i")
                 .mkString(" UNION ALL ")})
              |ORDER BY it""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val merges = graft.text.Bpe.learnMerges(
          graft.text.Bpe.initVocab(docs(s, dir), col("text")), BpeK)
        merges.zipWithIndex
          .map { case ((a, b, c), i) => (i + 1, a, b, c) }
          .toDF("it", "pa", "pb", "cnt")
      }),

    // BPE encode of the corpus with the learned table (Bpe.applyMerges:
    // merges inlined as literals, one per-row projection, no model
    // join): top-20 symbol frequencies. The oracle re-applies the same
    // four learned merges to every word of the corpus.
    Q("q117_bpe_encode",
      Some(s"""${bpeCtes(BpeK)},
              |cw AS (SELECT unnest(${tokensSql(canonicalizeSql("text"))}) AS word
              |  FROM documents),
              |enc AS (SELECT ${bpeEncodeSql(BpeWrapWordSql)} AS seq
              |  FROM cw $bpeMergeJoinsSql
              |  WHERE word <> ''),
              |sym AS (SELECT unnest(string_split(trim(seq, $BpeL || $BpeR),
              |    $BpeR || $BpeL)) AS symbol FROM enc)
              |SELECT symbol, count(*) AS cnt FROM sym
              |GROUP BY symbol ORDER BY cnt DESC, symbol LIMIT 20""".stripMargin),
      (s, dir) => {
        val d = docs(s, dir)
        val merges = graft.text.Bpe.learnMerges(
          graft.text.Bpe.initVocab(d, col("text")), BpeK).map(m => (m._1, m._2))
        d.select(explode(graft.text.Bpe.applyMerges(col("text"), merges))
            .as("symbol"))
          .groupBy("symbol").agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), col("symbol")).limit(20)
      }),

    // Byte-fallback BPE encode (Bpe.initByteVocab/applyByteMerges): the
    // GPT-2-style production default — base alphabet = the 256 UTF-8
    // byte values as hex-pair symbols, so accents/CJK/emoji (planted
    // per doc_id) are never OOV; unmerged bytes surface as single-byte
    // tokens. The oracle replays training (4 merges over the byte
    // vocab) and the encode: top per-symbol counts. (Decode stays in
    // the round-trip SPEC at word granularity — a merged symbol can cut
    // a multi-byte character, so per-symbol hex is not valid UTF-8 and
    // the engines' invalid-byte behavior differs.)
    Q("q137_bpe_byte_encode",
      Some(s"""${bpeByteCtes(BpeK)},
              |cw AS (SELECT unnest(${tokensSql(s"text || $bytePlantSql")}) AS word
              |  FROM documents),
              |enc AS (SELECT ${bpeEncodeSql(BpeByteWrapWordSql)} AS seq
              |  FROM cw $bpeMergeJoinsSql
              |  WHERE word <> ''),
              |sym AS (SELECT unnest(string_split(trim(seq, $BpeL || $BpeR),
              |    $BpeR || $BpeL)) AS symbol FROM enc)
              |SELECT symbol, count(*) AS cnt
              |FROM sym GROUP BY symbol ORDER BY cnt DESC, symbol LIMIT 20""".stripMargin),
      (s, dir) => {
        val plant = when(col("doc_id") % 3 === 0, lit(BytePlants(0)))
          .when(col("doc_id") % 3 === 1, lit(BytePlants(1)))
          .otherwise(lit(BytePlants(2)))
        val d = docs(s, dir).select(col("doc_id"),
          concat(col("text"), plant).as("text"))
        val merges = graft.text.Bpe.learnMerges(
          graft.text.Bpe.initByteVocab(d, col("text")), BpeK).map(m => (m._1, m._2))
        d.select(explode(graft.text.Bpe.applyByteMerges(col("text"), merges))
            .as("symbol"))
          .groupBy("symbol").agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), col("symbol")).limit(20)
      }),

    // WordPiece training (graft.text.WordPiece): k=4 likelihood-scored
    // merges — BPE's loop, but argmax over cnt(ab)/(c(a)*c(b)), the
    // merge-what-cooccurs-more-than-chance rule. DuckDB replays every
    // iteration: symbol counts, pair counts, scored argmax, literal
    // rewrite; the hash covers the SCORES too (double-cast operands in
    // identical IEEE order), not just the winning pairs.
    Q("q150_wordpiece_train",
      Some(s"""${wpCtes(BpeK)}
              |SELECT * FROM (${(1 to BpeK).map(i =>
                 s"SELECT $i AS it, pa, pb, CAST(cnt AS BIGINT) AS cnt, score FROM m$i")
                 .mkString(" UNION ALL ")})
              |ORDER BY it""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val merges = graft.text.WordPiece.learnMerges(
          graft.text.WordPiece.initVocab(docs(s, dir), col("text")), BpeK)
        merges.zipWithIndex
          .map { case (m, i) => (i + 1, m.pa, m.pb, m.cnt, m.score) }
          .toDF("it", "pa", "pb", "cnt", "score")
      }),

    // WordPiece greedy encode with the learned vocabulary: top-20 piece
    // frequencies over the corpus. The greedy longest-prefix scan IS
    // ANSI-expressible after all — wpEncodeSql unrolls it per cursor
    // position (the q116/q64 recurrence-replay pattern), so this row is
    // fully hash-checked against DuckDB; WordPieceSpec additionally
    // replays the corpus against an independent plain-Scala matcher
    // (expression == fold == matcher) and pins losslessness and the
    // whole-word [UNK] rule.
    Q("q151_wordpiece_encode",
      Some(wpEncodeSql(BpeK, 12)),
      (s, dir) => {
        val d = docs(s, dir)
        val vocab0 = graft.text.WordPiece.initVocab(d, col("text"))
        val merges = graft.text.WordPiece.learnMerges(vocab0, BpeK)
        val vocab = graft.text.WordPiece.vocabulary(vocab0, merges)
        d.select(explode(graft.text.WordPiece.encode(col("text"), vocab))
            .as("piece"))
          .groupBy("piece").agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), col("piece")).limit(20)
      }),

    // Adaptive (per-language) quality thresholds: instead of one global
    // length cutoff, gate each language on ITS OWN p05/p95 — the
    // CCNet-style per-bucket calibration that keeps a short-sentence
    // language from being scythed by thresholds fit to a verbose one.
    // Composes groupedQuantilesExact (distinct-value-count percentiles,
    // no per-group row buffering — the q29 scale argument) with a
    // broadcast cutoff join; one corpus aggregation + one map-side gate.
    Q("q153_adaptive_gate",
      Some("""WITH c AS (SELECT lang,
             |    round(quantile_cont(CAST(n_chars AS DOUBLE), 0.05), 4) AS lo,
             |    round(quantile_cont(CAST(n_chars AS DOUBLE), 0.95), 4) AS hi
             |  FROM documents GROUP BY lang)
             |SELECT d.lang, c.lo, c.hi, count(*) AS n_docs,
             |  CAST(count_if(d.n_chars >= c.lo AND d.n_chars <= c.hi) AS BIGINT)
             |    AS n_kept,
             |  CAST(sum(CASE WHEN d.n_chars >= c.lo AND d.n_chars <= c.hi
             |      THEN d.n_chars ELSE 0 END) AS BIGINT) AS kept_chars
             |FROM documents d JOIN c USING (lang)
             |GROUP BY d.lang, c.lo, c.hi""".stripMargin),
      (s, dir) => {
        val d = docs(s, dir)
        val cuts = Relational.groupedQuantilesExact(d, "lang",
          Seq(("n_chars", 0.05, "lo"), ("n_chars", 0.95, "hi")))
        val in = col("n_chars") >= col("lo") && col("n_chars") <= col("hi")
        d.join(broadcast(cuts), "lang")
          .groupBy("lang", "lo", "hi")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(in, 1L).otherwise(0L)).as("n_kept"),
            sum(when(in, col("n_chars")).otherwise(0L)).as("kept_chars"))
      }),

    // Corpus diversity report per source: type-token ratio and distinct-
    // trigram novelty — the repetitiveness diagnostics a mixture planner
    // reads before weighting a source (low TTR/novelty = boilerplate or
    // TEMPLATE-generated text). Distinct counts collapse to per-value
    // rows map-side before the count-distinct shuffle; nothing buffers
    // a source's token stream.
    Q("q154_diversity",
      Some(s"""WITH tk AS (SELECT source,
              |    list_filter(${tokensSql(canonicalizeSql("text"))}, t -> len(t) > 0) AS toks
              |  FROM documents),
              |tok AS (SELECT source, unnest(toks) AS tok FROM tk),
              |a AS (SELECT source, count(*) AS n_tokens,
              |    count(DISTINCT tok) AS n_types FROM tok GROUP BY source),
              |tri AS (SELECT source, unnest(${shinglesSql("toks", 3)}) AS tri FROM tk),
              |b AS (SELECT source, count(*) AS n_trigrams,
              |    count(DISTINCT tri) AS n_tri_types FROM tri GROUP BY source)
              |SELECT a.source, a.n_tokens, a.n_types,
              |  round(CAST(a.n_types AS DOUBLE) / a.n_tokens, 6) AS ttr,
              |  b.n_trigrams, b.n_tri_types,
              |  round(CAST(b.n_tri_types AS DOUBLE) / b.n_trigrams, 6) AS tri_novelty
              |FROM a JOIN b USING (source)""".stripMargin),
      (s, dir) => {
        val toksCol = filter(tokens(canonicalize(col("text"))),
          t => length(t) > 0)
        val tk = docs(s, dir).select(col("source"), toksCol.as("toks"))
        val a = tk.select(col("source"), explode(col("toks")).as("tok"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_tokens"),
            countDistinct("tok").as("n_types"))
        val b = tk.select(col("source"),
            explode(shingles(col("toks"), 3)).as("tri"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_trigrams"),
            countDistinct("tri").as("n_tri_types"))
        a.join(b, "source")
          .select(col("source"), col("n_tokens"), col("n_types"),
            round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"),
            col("n_trigrams"), col("n_tri_types"),
            round(col("n_tri_types").cast("double") / col("n_trigrams"), 6)
              .as("tri_novelty"))
      }),

    // Mojibake detection + repair (TextFunctions.fixMojibake): artifacts
    // planted deterministically by doc_id — each segment is built by
    // running real target text through the UTF-8-as-cp1252 corruption the
    // repair table models, so the fix must recover it exactly. Per-lang
    // hygiene report: docs flagged, artifact occurrences, chars removed
    // by repair.
    Q("q118_mojibake",
      Some(s"""WITH c AS (SELECT lang, text || CASE doc_id % 4
              |    WHEN 0 THEN '${sqlLit(MojiSegs(0))}'
              |    WHEN 1 THEN '${sqlLit(MojiSegs(1))}'
              |    WHEN 2 THEN '${sqlLit(MojiSegs(2))}'
              |    ELSE '' END AS t FROM documents),
              |m AS (SELECT lang, ${mojibakeCountSql("t")} AS n_art,
              |    length(t) - length(${fixMojibakeSql("t")}) AS delta FROM c)
              |SELECT lang, count(*) AS n_docs,
              |  CAST(count_if(n_art > 0) AS BIGINT) AS n_flagged,
              |  CAST(sum(n_art) AS BIGINT) AS n_artifacts,
              |  CAST(sum(delta) AS BIGINT) AS chars_removed
              |FROM m GROUP BY lang""".stripMargin),
      (s, dir) => {
        val seg = col("doc_id") % 4
        val t = concat(col("text"),
          when(seg === 0, lit(MojiSegs(0)))
            .when(seg === 1, lit(MojiSegs(1)))
            .when(seg === 2, lit(MojiSegs(2)))
            .otherwise(lit("")))
        docs(s, dir)
          .select(col("lang"), mojibakeCount(t).as("n_art"),
            (length(t) - length(fixMojibake(t))).cast("long").as("delta"))
          .groupBy("lang").agg(
            count(lit(1)).as("n_docs"),
            count_if(col("n_art") > 0).as("n_flagged"),
            sum("n_art").as("n_artifacts"),
            sum("delta").as("chars_removed"))
      }),

    // Registered-domain (eTLD+1) extraction: subdomain hosts planted by
    // doc_id collapse to their registrable domain — the grouping key for
    // per-domain corpus quotas and frontier stats. Includes a
    // two-label-suffix ccTLD family (co.uk, com.au) and a single-label
    // host ('' group: unextractable).
    Q("q119_registered_domain",
      Some(s"""WITH h AS (SELECT ${PlantedHosts.caseSql(DomainHosts)} AS host FROM documents),
              |r AS (SELECT host, ${registeredDomainSql("host")} AS domain FROM h)
              |SELECT domain, count(*) AS n_urls,
              |  CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
              |FROM r GROUP BY domain""".stripMargin),
      (s, dir) => {
        docs(s, dir).select(plantedHost.as("host"))
          .select(col("host"), registeredDomain(col("host")).as("domain"))
          .groupBy("domain").agg(
            count(lit(1)).as("n_urls"),
            countDistinct(col("host")).as("n_hosts"))
      }),

    // Model-based quality classification (the fastText-style keep/drop
    // gate a curation pipeline runs after the rule-based gates): a
    // bag-of-words logistic model scores every doc through the
    // SentimentScorer seam — this oracle guards the WeightedSentiment
    // implementation itself, not just the lexicon default. Per-lang
    // report: docs, keeps (z > 0, exact sign test), hit counts in the
    // positive/negative vocab, mean calibrated score 2σ(z)−1.
    Q("q120_quality_classifier", {
      val posVocab = QualityWeights.collect { case (w, wt) if wt > 0 => w }
      val negVocab = QualityWeights.collect { case (w, wt) if wt < 0 => w }
      val zSql = WeightedSentiment.zSql(QualityWeights, QualityBias, "tk")
      Some(s"""WITH t AS (SELECT lang, $toksSql AS tk FROM documents),
              |z AS (SELECT lang, $zSql AS z,
              |  ${lexiconHitsSql("tk", posVocab)} AS n_pos,
              |  ${lexiconHitsSql("tk", negVocab)} AS n_neg FROM t)
              |SELECT lang, count(*) AS n_docs,
              |  CAST(count_if(z > 0) AS BIGINT) AS n_keep,
              |  CAST(sum(n_pos) AS BIGINT) AS hits_pos,
              |  CAST(sum(n_neg) AS BIGINT) AS hits_neg,
              |  round(avg(2/(1 + exp(-z)) - 1), 4) + 0 AS avg_score
              |FROM z GROUP BY lang""".stripMargin)
    },
      (s, dir) => {
        val scored = TextAnalysis.withSentiment(docs(s, dir), col("text"),
          WeightedSentiment(QualityWeights, QualityBias))
        scored.groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          count_if(col("sentiment") === "positive").as("n_keep"),
          sum("n_pos").as("hits_pos"),
          sum("n_neg").as("hits_neg"),
          // + 0.0: signed-zero normalization (q127's sf0.001 lesson)
          (round(avg("polarity"), 4) + lit(0.0)).as("avg_score"))
      }),

    // Per-domain quota enforcement (the crawl-curation cap: no registered
    // domain contributes more than N docs, best quality first, ties to
    // smaller id). The kept side is the rank≤N filter form Catalyst
    // rewrites to a map-side WindowGroupLimit — each scan task retains at
    // most N rows per domain BEFORE the shuffle, so a hot domain
    // (the 100 TB failure mode) never funnels its full row set through
    // one window task. Totals come from a skew-free partial-agg count;
    // the final join is |domains|⋈|domains|.
    Q("q122_domain_quota", {
      val quota = 100
      Some(s"""WITH h AS (SELECT doc_id, n_chars, ${PlantedHosts.caseSql(DomainHosts)} AS host FROM documents),
              |r AS (SELECT ${registeredDomainSql("host")} AS domain, doc_id, n_chars FROM h),
              |k AS (SELECT domain, n_chars,
              |  row_number() OVER (PARTITION BY domain
              |    ORDER BY n_chars DESC, doc_id) AS rn FROM r)
              |SELECT domain, count(*) AS n_docs,
              |  CAST(count_if(rn <= $quota) AS BIGINT) AS n_kept,
              |  CAST(sum(CASE WHEN rn <= $quota THEN n_chars END) AS BIGINT) AS kept_chars
              |FROM k GROUP BY domain""".stripMargin)
    },
      (s, dir) => {
        val quota = 100
        val d = docs(s, dir).select(
          registeredDomain(plantedHost).as("domain"),
          col("doc_id"), col("n_chars"))
        val kept = Relational.topKPerGroup(d, Seq(col("domain")),
            Seq(col("n_chars").desc, col("doc_id")), quota)
          .groupBy("domain").agg(
            count(lit(1)).as("n_kept"),
            sum("n_chars").as("kept_chars"))
        d.groupBy("domain").agg(count(lit(1)).as("n_docs"))
          .join(kept, Seq("domain"))
      }),

    // T5-style span corruption (Masking.spanCorrupt): hash-masked token
    // blocks become <extra_id_K> sentinels in the input; the target
    // enumerates each sentinel + its masked content — the denoising
    // training example, deterministic (a pipeline re-run must reproduce
    // the corpus byte-for-byte; no RNG). Full input/target strings are
    // in the hash.
    Q("q171_span_corrupt", {
      val h = portableHashSql("(CAST(doc AS VARCHAR) || ':' || CAST(block AS VARCHAR))")
      Some(s"""WITH p AS (SELECT doc_id AS doc, $toksSql AS tk FROM documents),
              |ix AS (SELECT doc, tk, unnest(generate_series(1, len(tk))) AS i FROM p),
              |tr AS (SELECT doc, tk[i] AS tok, CAST(i - 1 AS BIGINT) AS pos,
              |    CAST((i - 1) // 3 AS BIGINT) AS block
              |  FROM ix),
              |tm AS (SELECT *, $h % 5 = 0 AS masked FROM tr),
              |mb AS (SELECT DISTINCT doc, block FROM tm WHERE masked),
              |mk AS (SELECT doc, block,
              |    row_number() OVER (PARTITION BY doc ORDER BY block) - 1 AS k
              |  FROM mb),
              |ip AS (SELECT doc, pos, 0 AS sub, tok AS piece FROM tm WHERE NOT masked
              |  UNION ALL
              |  SELECT t.doc, t.pos, 0, '<extra_id_' || mk.k || '>'
              |  FROM tm t JOIN mk ON mk.doc = t.doc AND mk.block = t.block
              |  WHERE t.masked AND t.pos % 3 = 0),
              |tp AS (SELECT t.doc, t.pos, 0 AS sub, '<extra_id_' || mk.k || '>' AS piece
              |  FROM tm t JOIN mk ON mk.doc = t.doc AND mk.block = t.block
              |  WHERE t.masked AND t.pos % 3 = 0
              |  UNION ALL
              |  SELECT doc, pos, 1, tok FROM tm WHERE masked),
              |inp AS (SELECT doc, string_agg(piece, ' ' ORDER BY pos, sub) AS input_text
              |  FROM ip GROUP BY doc),
              |tgt AS (SELECT doc, string_agg(piece, ' ' ORDER BY pos, sub) AS target_text
              |  FROM tp GROUP BY doc),
              |nm AS (SELECT doc, count(*) AS n_masked FROM mb GROUP BY doc)
              |SELECT i.doc, i.input_text,
              |  coalesce(t.target_text, '') AS target_text,
              |  CAST(coalesce(nm.n_masked, 0) AS BIGINT) AS n_masked
              |FROM inp i LEFT JOIN tgt t ON t.doc = i.doc
              |LEFT JOIN nm ON nm.doc = i.doc""".stripMargin)
    },
      (s, dir) =>
        graft.text.Masking.spanCorrupt(docs(s, dir), col("doc_id"), col("text"))),

    // Contrastive crop positives (Masking.cropPairs): two hash-drawn
    // crops per document, both straddling the midpoint so the views
    // share content — the cropping-style positive-pair generator for
    // contrastive embedding pretraining. The oracle replays the draw
    // arithmetic (start in [0, len/2], end in (len/2, len]) and the
    // substrings; the hash certifies crops byte-for-byte.
    Q("q209_crop_pairs", {
      def h(tag: String) =
        portableHashSql(s"(CAST(doc_id AS VARCHAR) || ':$tag')")
      def boundsSql(k: String) =
        s"""CASE WHEN n >= 2 THEN ${h(s"crop$k:s")} % (half + 1) ELSE 0 END AS ${k}_s,
           |    CASE WHEN n >= 2 THEN half + 1 + ${h(s"crop$k:e")} % (n - half)
           |         ELSE n END AS ${k}_e""".stripMargin
      Some(s"""WITH b AS (SELECT doc_id, text, CAST(len(text) AS BIGINT) AS n,
              |    CAST(len(text) AS BIGINT) // 2 AS half FROM documents),
              |c AS (SELECT doc_id, text,
              |    ${boundsSql("a")},
              |    ${boundsSql("b")}
              |  FROM b)
              |SELECT doc_id AS doc,
              |  substr(text, CAST(a_s + 1 AS INT), CAST(a_e - a_s AS INT)) AS crop_a,
              |  substr(text, CAST(b_s + 1 AS INT), CAST(b_e - b_s AS INT)) AS crop_b,
              |  CAST(a_s AS BIGINT) AS a_start, CAST(a_e AS BIGINT) AS a_end,
              |  CAST(b_s AS BIGINT) AS b_start, CAST(b_e AS BIGINT) AS b_end
              |FROM c""".stripMargin)
    },
      (s, dir) =>
        graft.text.Masking.cropPairs(docs(s, dir), col("doc_id"), col("text"))),

    // Boilerplate n-gram mining (TextAnalysis.boilerplateNgrams): the
    // top-20 trigrams by document frequency — the blocklist BUILDER the
    // substring gates consume. Engine: per-doc distinct shingle hashes
    // → doc-freq count → global top-k → strings recovered via a
    // broadcast semi-join (strings never shuffle). Oracle: DuckDB's
    // lockstep parallel unnest aligns the hash and string shingle
    // lists positionally; same min-string collision rule, same
    // (df desc, h) tie-break.
    Q("q211_boilerplate_ngrams",
      Some(s"""WITH tk AS (SELECT doc_id,
              |    ${tokensSql(canonicalizeSql("text"))} AS tk FROM documents),
              |z AS (SELECT doc_id, unnest(${shingleHashesSql("tk", 3)}) AS h,
              |    unnest(${shinglesSql("tk", 3)}) AS s FROM tk),
              |d AS (SELECT DISTINCT doc_id, h FROM z),
              |f AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM d GROUP BY 1),
              |top AS (SELECT h, df FROM f ORDER BY df DESC, h LIMIT 20),
              |str AS (SELECT z.h, min(z.s) AS ngram FROM z
              |  JOIN top ON z.h = top.h GROUP BY 1)
              |SELECT s.ngram, t.h, t.df,
              |  CAST(row_number() OVER (ORDER BY t.df DESC, t.h) AS BIGINT) AS rk
              |FROM top t JOIN str s ON t.h = s.h""".stripMargin),
      (s, dir) =>
        graft.text.TextAnalysis.boilerplateNgrams(docs(s, dir),
          col("doc_id"), col("text"), n = 3, topK = 20)),

    // Fill-in-the-middle reorder (Masking.fim): two hash-drawn character
    // offsets carve each document into <PRE>prefix<SUF>suffix<MID>middle
    // — the code-model infilling example, a pure per-row projection.
    Q("q172_fim", {
      def h(tag: String) =
        portableHashSql(s"(CAST(doc_id AS VARCHAR) || ':$tag')")
      Some(s"""WITH b AS (SELECT doc_id, text, CAST(len(text) AS BIGINT) AS n,
              |    CASE WHEN len(text) > 0 THEN ${h("fim1")} % len(text) ELSE 0 END AS a,
              |    CASE WHEN len(text) > 0 THEN ${h("fim2")} % len(text) ELSE 0 END AS bb
              |  FROM documents),
              |c AS (SELECT doc_id, text, n,
              |    least(a, bb) AS p1, greatest(a, bb) AS p2 FROM b)
              |SELECT doc_id AS doc,
              |  '<PRE>' || substr(text, 1, CAST(p1 AS INT))
              |    || '<SUF>' || substr(text, CAST(p2 + 1 AS INT), CAST(n - p2 AS INT))
              |    || '<MID>' || substr(text, CAST(p1 + 1 AS INT), CAST(p2 - p1 AS INT))
              |    AS fim_text,
              |  CAST(p1 AS BIGINT) AS p1, CAST(p2 AS BIGINT) AS p2
              |FROM c""".stripMargin)
    },
      (s, dir) => graft.text.Masking.fim(docs(s, dir), col("doc_id"), col("text"))),

    // Tokenize→pack end-to-end (the literal pretraining data product):
    // BPE trained on the corpus (q116's pinned k), every document's
    // length measured in TOKENIZER pieces — not the whitespace proxy the
    // standalone q64 uses — then the greedy 256-capacity packing walk
    // with per-doc boundary spans. The oracle replays training, per-doc
    // encoded lengths, and the packing recurrence in one chain: the
    // hash certifies the composition, not just the stages.
    Q("q173_tokenize_pack",
      Some(s"""WITH RECURSIVE ${bpeCtes(BpeK).stripPrefix("WITH ")},
              |cw AS (SELECT doc_id, unnest(${tokensSql(canonicalizeSql("text"))}) AS word
              |  FROM documents),
              |enc AS (SELECT doc_id, ${bpeEncodeSql(BpeWrapWordSql)} AS seq
              |  FROM cw $bpeMergeJoinsSql
              |  WHERE word <> ''),
              |wc AS (SELECT doc_id,
              |    CAST(sum(len(string_split(trim(seq, $BpeL || $BpeR),
              |      $BpeR || $BpeL))) AS BIGINT) AS w
              |  FROM enc GROUP BY doc_id),
              |dd AS (SELECT d.doc_id, d.doc_id // 100 AS shard,
              |    coalesce(wc.w, 0) AS w
              |  FROM documents d LEFT JOIN wc ON wc.doc_id = d.doc_id),
              |${packCtes("dd")}
              |SELECT shard, bin, doc_id, fill - w AS seq_start, w AS seq_len
              |FROM pack""".stripMargin),
      (s, dir) => {
        val d = docs(s, dir)
        val merges = graft.text.Bpe.learnMerges(
          graft.text.Bpe.initVocab(d, col("text")), BpeK).map(m => (m._1, m._2))
        graft.operators.Packing.packedBoundaries(
          graft.operators.Packing.packGreedy(
            d.withColumn("w",
              size(graft.text.Bpe.applyMerges(col("text"), merges)).cast("long")),
            col("doc_id"), col("w"), expr("doc_id div 100"), capacity = 256L))
      }),

    // Safety/toxicity blocklist gate (TextAnalysis.withSafetyGate): the
    // curation gate family next to C4/Gopher — a HARD lexicon (any hit
    // blocks) plus a SOFT lexicon gated on an integer per-mille token
    // ratio, so incidental mentions pass and saturated docs don't. Per
    // (lang, verdict) audit: docs, tokens, hit mass. All-integer verdict
    // arithmetic over canonicalized tokens — two codegen'd lexicon
    // probes per row, no shuffle before the report aggregation.
    Q("q175_safety_gate", {
      val ctk = tokensSql(canonicalizeSql("text"))
      Some(s"""WITH t AS (SELECT lang, $ctk AS tk FROM documents),
              |s AS (SELECT lang, CAST(len(tk) AS BIGINT) AS n_tok,
              |    ${lexiconHitsSql("tk", SafetyHard)} AS n_hard,
              |    ${lexiconHitsSql("tk", SafetySoft)} AS n_soft FROM t),
              |v AS (SELECT lang, n_tok, n_hard, n_soft,
              |    CASE WHEN n_hard > 0 THEN 'blocked_hard'
              |         WHEN n_soft * 1000 > $SafetyPermille * n_tok
              |           THEN 'blocked_ratio'
              |         ELSE 'pass' END AS safety FROM s)
              |SELECT lang, safety, count(*) AS n_docs,
              |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
              |  CAST(sum(n_hard) AS BIGINT) AS hard_hits,
              |  CAST(sum(n_soft) AS BIGINT) AS soft_hits
              |FROM v GROUP BY lang, safety""".stripMargin)
    },
      (s, dir) => {
        TextAnalysis.withSafetyGate(docs(s, dir), col("text"),
            SafetyHard, SafetySoft, softPermille = SafetyPermille)
          .groupBy("lang", "safety")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tok").as("n_tokens"),
            sum("n_hard").as("hard_hits"),
            sum("n_soft").as("soft_hits"))
      }),

    // Substring blocklist scan (SubstringHitCount — Aho–Corasick DFA):
    // the substring tier the token gate can't see; "art"/"rea" hit
    // EMBEDDED in part/start/stream etc., so the count does real work
    // the q175 lexicon probe cannot. One DFA transition per input byte
    // on the engine; the oracle replays each pattern with the
    // non-overlapping replace-count (equal by the border-free
    // contract). Per-lang audit: docs, hits, flagged docs.
    Q("q182_substring_scan", {
      val hitsSql = substringHitsSql("text", SubstringPatterns)
      Some(s"""WITH h AS (SELECT lang, $hitsSql AS n_hits FROM documents)
              |SELECT lang, count(*) AS n_docs,
              |  CAST(sum(n_hits) AS BIGINT) AS n_hits,
              |  CAST(count_if(n_hits > 0) AS BIGINT) AS n_flagged
              |FROM h GROUP BY lang""".stripMargin)
    },
      (s, dir) => {
        docs(s, dir)
          .select(col("lang"),
            substringHits(col("text"), SubstringPatterns).as("n_hits"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_hits").as("n_hits"),
            count_if(col("n_hits") > 0).as("n_flagged"))
      }),

    // BM25 top-k (text/Retrieval): the sparse lexical tier next to q160's
    // dense RAG path. Queries = the first-10-distinct-token set of every
    // doc_id%100==0 doc (each doc should retrieve itself near rank 1 —
    // the built-in sanity signal). Per-term weights micro-quantize to
    // integer millionths BEFORE the per-(qid,doc) sum, so scores are
    // exact longs and the rank tiebreak never sees float summation order.
    // The oracle replays index → prune → df → weight → sum; both engines
    // evaluate the identical weight expression tree from the SAME k1/b
    // constants interpolated below.
    Q("q200_bm25_topk",
      Some(s"""WITH $bm25Ctes
              |SELECT qid, doc, bm25_micro, CAST(rank AS INT) AS rank
              |FROM (SELECT *, row_number() OVER (PARTITION BY qid
              |    ORDER BY bm25_micro DESC, doc) AS rank FROM sc)
              |WHERE rank <= 5""".stripMargin),
      (s, dir) => {
        val d = docs(s, dir)
        Retrieval.bm25TopK(d, col("doc_id"), tokens(col("text")),
          d.filter(col("doc_id") % 100 === 0), col("doc_id"),
          array_distinct(slice(tokens(col("text")), 1, 10)), k = 5,
          k1 = Bm25K1, b = Bm25B)
      }),

    // Hybrid retrieval via reciprocal-rank fusion: BM25 top-10 (the q200
    // pipeline) fused with a dense top-10 (doc-level hash-embedding dot
    // products — the q160 encoder seam; dots are exact small integers in
    // double, so the dense ranks carry no float hazard at all). RRF
    // contributions are integer 10⁹ div (60+rank) — the fusion is exact
    // arithmetic end to end, and a doc on both lists must outrank docs
    // of equal rank on one (pinned in RetrievalSpec).
    Q("q201_hybrid_rrf", {
      val hj = portableHashSql("(text || ':' || CAST(j AS VARCHAR))")
      Some(s"""WITH $bm25Ctes,
              |sp AS (SELECT qid, doc, rank FROM (
              |    SELECT qid, doc, row_number() OVER (PARTITION BY qid
              |      ORDER BY bm25_micro DESC, doc) AS rank FROM sc)
              |  WHERE rank <= 10),
              |e AS (SELECT doc_id AS doc, list_transform(generate_series(0, 15),
              |    j -> CAST($hj % 1000 AS DOUBLE)) AS v FROM documents),
              |qe AS (SELECT doc AS qid, v AS qv FROM e WHERE doc % 100 = 0),
              |dn AS (SELECT qid, doc, rank FROM (
              |    SELECT qe.qid, e.doc,
              |      row_number() OVER (PARTITION BY qe.qid
              |        ORDER BY ${graft.similarity.Similarity.dotSql("qv", "v")} DESC,
              |          e.doc) AS rank
              |    FROM qe CROSS JOIN e)
              |  WHERE rank <= 10),
              |fused AS (SELECT qid, doc,
              |    CAST(sum(1000000000 // ($RrfK0 + rank)) AS BIGINT) AS rrf_nano
              |  FROM (SELECT * FROM sp UNION ALL SELECT * FROM dn)
              |  GROUP BY 1, 2)
              |SELECT qid, doc, rrf_nano, CAST(rank AS INT) AS rank
              |FROM (SELECT *, row_number() OVER (PARTITION BY qid
              |    ORDER BY rrf_nano DESC, doc) AS rank FROM fused)
              |WHERE rank <= 5""".stripMargin)
    },
      (s, dir) => {
        val d = docs(s, dir)
        val sparse = Retrieval.bm25TopK(d, col("doc_id"), tokens(col("text")),
            d.filter(col("doc_id") % 100 === 0), col("doc_id"),
            array_distinct(slice(tokens(col("text")), 1, 10)), k = 10,
            k1 = Bm25K1, b = Bm25B)
          .select("qid", "doc", "rank")
        val vec = hashVec(col("text"))
        val e = d.select(col("doc_id").as("doc"), vec.as("v"))
        val qe = e.filter(col("doc") % 100 === 0)
          .select(col("doc").as("qid"), col("v").as("qv"))
        val dense = Relational.topKPerGroup(
            e.crossJoin(broadcast(qe))
              .select(col("qid"), col("doc"),
                graft.similarity.Similarity.dot(col("qv"), col("v")).as("dot")),
            Seq(col("qid")), Seq(desc("dot"), col("doc")), 10,
            rankCol = "rank")
          .select("qid", "doc", "rank")
        Retrieval.rrfFuse(Seq(sparse, dense), k = 5, k0 = RrfK0)
      }),

    // Retrieve-then-rerank: BM25 top-20 nominates candidates (cheap,
    // high recall), the dense scorer re-ranks ONLY those to a top-5
    // (precise) — the production two-stage stack, where the expensive
    // scorer's cost is |candidates|, never corpus. Dots are exact small
    // integers in double (hash features), so dot_i and the ranking are
    // float-hazard-free; the oracle replays both stages.
    Q("q205_retrieve_rerank", {
      val hj = portableHashSql("(text || ':' || CAST(j AS VARCHAR))")
      Some(s"""WITH $bm25Ctes,
              |cands AS (SELECT qid, doc FROM (
              |    SELECT qid, doc, row_number() OVER (PARTITION BY qid
              |      ORDER BY bm25_micro DESC, doc) AS rank FROM sc)
              |  WHERE rank <= 20),
              |e AS (SELECT doc_id AS doc, list_transform(generate_series(0, 15),
              |    j -> CAST($hj % 1000 AS DOUBLE)) AS v FROM documents),
              |qe AS (SELECT doc AS qid, v AS qv FROM e WHERE doc % 100 = 0),
              |scored AS (SELECT c.qid, c.doc,
              |    CAST(${graft.similarity.Similarity.dotSql("qv", "v")} AS BIGINT)
              |      AS dot_i
              |  FROM cands c JOIN e USING (doc) JOIN qe USING (qid))
              |SELECT qid, doc, dot_i, CAST(rank AS INT) AS rank
              |FROM (SELECT *, row_number() OVER (PARTITION BY qid
              |    ORDER BY dot_i DESC, doc) AS rank FROM scored)
              |WHERE rank <= 5""".stripMargin)
    },
      (s, dir) => {
        val d = docs(s, dir)
        val cands = Retrieval.bm25TopK(d, col("doc_id"), tokens(col("text")),
            d.filter(col("doc_id") % 100 === 0), col("doc_id"),
            array_distinct(slice(tokens(col("text")), 1, 10)), k = 20,
            k1 = Bm25K1, b = Bm25B)
          .select("qid", "doc")
        val vec = hashVec(col("text"))
        val e = d.select(col("doc_id").as("doc"), vec.as("v"))
        val qe = e.filter(col("doc") % 100 === 0)
          .select(col("doc").as("qid"), col("v").as("qv"))
        Retrieval.rerankDense(cands, qe, e, 5)
          .select(col("qid"), col("doc"), col("dot").cast("long").as("dot_i"),
            col("rank"))
      }),

    // Retrieval QUALITY probe: the q200/q201/q205 stack measured on
    // PLANTED GRADED RELEVANCE, where the ideal ranking is provable.
    // Per query family (one per doc_id%50 doc): a grade-2 relevant doc
    // (all 3 query terms once + its own embedding direction), a grade-0
    // TERM-SPAM decoy (every query term ×3 — BM25's tf saturation still
    // rewards it above the relevant doc at ANY corpus size, the provable
    // lexical failure), a grade-1 partial (1 term), and a grade-0 noise
    // doc. Dense scores are exact-integer dots ([1,1]·v), so rankings
    // carry no float hazard. Metrics per ranker — reciprocal-rank micro
    // sum, hits@1, cumulative gain@2 — pin that fusion and rerank
    // IMPROVE the ranking, not just run: bm25 (0 hits@1, RR ½/query),
    // rrf (n hits@1, CG@2 2n), rerank (n hits@1, CG@2 3n).
    // RetrievalSpec asserts the strict ordering; this row pins the
    // cross-engine arithmetic.
    Q("q217_retrieval_quality",
      Some(s"""WITH qs AS (SELECT doc_id AS qid FROM documents
              |  WHERE doc_id % 50 = 0),
              |corp AS (
              |  SELECT qid, qid*10+1 AS doc, 2 AS grade,
              |    ['k'||qid||'a','k'||qid||'b','k'||qid||'c',
              |     'f'||(qid*10+1)||'x','f'||(qid*10+1)||'y',
              |     'f'||(qid*10+1)||'z'] AS tk,
              |    [600.0, 400.0] AS v FROM qs
              |  UNION ALL SELECT qid, qid*10+2, 0,
              |    ['k'||qid||'a','k'||qid||'a','k'||qid||'a',
              |     'k'||qid||'b','k'||qid||'b','k'||qid||'b',
              |     'k'||qid||'c','k'||qid||'c','k'||qid||'c'],
              |    [50.0, 50.0] FROM qs
              |  UNION ALL SELECT qid, qid*10+3, 1,
              |    ['k'||qid||'a','f'||(qid*10+3)||'x','f'||(qid*10+3)||'y',
              |     'f'||(qid*10+3)||'z'],
              |    [300.0, 200.0] FROM qs
              |  UNION ALL SELECT qid, qid*10+4, 0,
              |    ['f'||(qid*10+4)||'x','f'||(qid*10+4)||'y'],
              |    [10.0, 10.0] FROM qs),
              |stats AS (SELECT count(*) AS n_docs,
              |    CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl FROM corp),
              |p AS (SELECT doc, CAST(len(tk) AS BIGINT) AS dl,
              |    unnest(tk) AS token FROM corp),
              |tfr AS (SELECT doc, dl, token, count(*) AS tf FROM p GROUP BY 1, 2, 3),
              |q AS (SELECT qid,
              |    unnest(['k'||qid||'a','k'||qid||'b','k'||qid||'c']) AS token
              |  FROM qs),
              |$bm25ScoreCtes,
              |sp AS (SELECT qid, doc, rank FROM (SELECT *,
              |    row_number() OVER (PARTITION BY qid
              |      ORDER BY bm25_micro DESC, doc) AS rank FROM sc)
              |  WHERE rank <= 5),
              |dn AS (SELECT qid, doc, rank FROM (
              |    SELECT sp.qid, sp.doc, row_number() OVER (PARTITION BY sp.qid
              |      ORDER BY (c.v[1] * 1.0 + c.v[2] * 1.0) DESC, sp.doc) AS rank
              |    FROM sp JOIN corp c ON c.doc = sp.doc)),
              |fused AS (SELECT qid, doc,
              |    CAST(sum(1000000000 // ($RrfK0 + rank)) AS BIGINT) AS rrf_nano
              |  FROM (SELECT * FROM sp UNION ALL SELECT * FROM dn)
              |  GROUP BY 1, 2),
              |rr AS (SELECT qid, doc, rank FROM (SELECT *,
              |    row_number() OVER (PARTITION BY qid
              |      ORDER BY rrf_nano DESC, doc) AS rank FROM fused)
              |  WHERE rank <= 5),
              |sys AS (SELECT 'bm25' AS ranker, qid, doc, rank FROM sp
              |  UNION ALL SELECT 'rerank', qid, doc, rank FROM dn
              |  UNION ALL SELECT 'rrf', qid, doc, rank FROM rr),
              |g AS (SELECT s.ranker, s.qid, s.rank, c.grade
              |  FROM sys s JOIN corp c ON c.doc = s.doc)
              |SELECT ranker,
              |  CAST(count(DISTINCT qid) AS BIGINT) AS n_queries,
              |  CAST(sum(CASE WHEN grade = 2 THEN 1000000 // rank ELSE 0 END)
              |    AS BIGINT) AS sum_rr_micro,
              |  CAST(count_if(grade = 2 AND rank = 1) AS BIGINT) AS hits_at_1,
              |  CAST(sum(CASE WHEN rank <= 2 THEN grade ELSE 0 END) AS BIGINT)
              |    AS cg_at_2
              |FROM g GROUP BY ranker""".stripMargin),
      (s, dir) => {
        val qs = docs(s, dir).filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").as("qid"))
        def kt(sfx: String) =
          concat(lit("k"), col("qid").cast("string"), lit(sfx))
        def ft(sfx: String) =
          concat(lit("f"), col("doc").cast("string"), lit(sfx))
        def fam(v: Int, grade: Int, vec: (Double, Double))(
            tk: org.apache.spark.sql.Column) =
          qs.withColumn("doc", col("qid") * 10 + v)
            .withColumn("grade", lit(grade.toLong))
            .withColumn("tk", tk)
            .withColumn("v", array(lit(vec._1), lit(vec._2)))
        val corp =
          fam(1, 2, (600.0, 400.0))(
              array(kt("a"), kt("b"), kt("c"), ft("x"), ft("y"), ft("z")))
            .unionByName(fam(2, 0, (50.0, 50.0))(
              array(kt("a"), kt("a"), kt("a"), kt("b"), kt("b"), kt("b"),
                kt("c"), kt("c"), kt("c"))))
            .unionByName(fam(3, 1, (300.0, 200.0))(
              array(kt("a"), ft("x"), ft("y"), ft("z"))))
            .unionByName(fam(4, 0, (10.0, 10.0))(array(ft("x"), ft("y"))))
        val queries = qs.select(col("qid"),
          array(kt("a"), kt("b"), kt("c")).as("qtoks"))
        // persist the planted corpus and the two rank lists: corp feeds
        // four consumers (index, stats, rerank vectors, grade join) and
        // each re-derives the 4-way union over the docs scan without it;
        // sp is read three times (rerank candidates, fusion, sys) and dn
        // twice — k·|queries| rows each, but every un-persisted read
        // replays the whole BM25 / rerank stack (measured: 74 exchanges,
        // only 12 reused, in the un-persisted executed plan).
        val scope = graft.operators.CacheScope.unmanaged
        val corpP = scope.persist(corp)
        val sp = scope.persist(
          Retrieval.bm25TopK(corpP, col("doc"), col("tk"),
              queries, col("qid"), col("qtoks"), k = 5, k1 = Bm25K1, b = Bm25B)
            .select("qid", "doc", "rank"))
        val qv = qs.select(col("qid"), array(lit(1.0), lit(1.0)).as("qv"))
        val dn = scope.persist(
          Retrieval.rerankDense(sp.select("qid", "doc"), qv,
              corpP.select(col("doc"), col("v")), k = 5)
            .select("qid", "doc", "rank"))
        val rr = Retrieval.rrfFuse(Seq(sp, dn), k = 5, k0 = RrfK0)
          .select("qid", "doc", "rank")
        val sys = sp.withColumn("ranker", lit("bm25"))
          .unionByName(dn.withColumn("ranker", lit("rerank")))
          .unionByName(rr.withColumn("ranker", lit("rrf")))
        sys.join(corp.select("doc", "grade"), "doc")
          .groupBy("ranker")
          .agg(countDistinct("qid").as("n_queries"),
            sum(when(col("grade") === 2,
              expr("cast(1000000 as bigint) div cast(rank as bigint)"))
              .otherwise(0L)).as("sum_rr_micro"),
            count_if(col("grade") === 2 && col("rank") === 1).as("hits_at_1"),
            sum(when(col("rank") <= 2, col("grade")).otherwise(0L))
              .as("cg_at_2"))
      }),

    // Byte-balanced release sharding (Release.shardByBytes): shard_id =
    // exclusive-byte-prefix div target over the DISTRIBUTED prefix sum
    // (q107's machinery) — equal-BYTE shards under document-length skew,
    // where the hash assignment (q161) balances only counts. Exact long
    // arithmetic; the oracle replays the cumulative sum as a window.
    Q("q206_shard_by_bytes",
      Some("""WITH r AS (SELECT doc_id, n_chars,
             |    CAST(sum(n_chars) OVER (ORDER BY doc_id) AS BIGINT) AS running
             |  FROM documents)
             |SELECT doc_id, n_chars, running,
             |  (running - n_chars) // 20000 AS shard_id
             |FROM r""".stripMargin),
      (s, dir) =>
        graft.operators.Release.shardByBytes(
            docs(s, dir).select("doc_id", "n_chars"),
            col("doc_id"), col("n_chars"), targetBytes = 20000L)
          .select(col("doc_id"), col("n_chars"), col("running"),
            col("shard_id"))),

    // Tokenizer fertility/compression card (TokenizerEval.fertilityCard):
    // per-language tokens-per-word and chars-per-token — the audit a
    // multilingual pipeline reads before committing to a vocabulary
    // (2-3x fertility imbalance is the defect q134's temperature
    // rebalance exists to fix). Instantiated here with the regex
    // pre-tokenizer (Java∩RE2, oracle-replayable); the learned byte-BPE
    // instantiation is spec-tier (its merge table isn't ANSI). Ratios
    // are exact staged-integer micro-ratios.
    Q("q222_tokenizer_fertility", {
      import graft.operators.Sampling.microRatioSql
      Some(s"""WITH p AS (SELECT lang,
              |    len($toksSql) AS w,
              |    len(${bpePiecesSql("text")}) AS t,
              |    length(text) AS c
              |  FROM documents),
              |a AS (SELECT lang, count(*) AS n_docs,
              |    CAST(sum(w) AS BIGINT) AS sum_words,
              |    CAST(sum(t) AS BIGINT) AS sum_tokens,
              |    CAST(sum(c) AS BIGINT) AS sum_chars
              |  FROM p GROUP BY lang)
              |SELECT lang, n_docs, sum_words, sum_tokens, sum_chars,
              |  CASE WHEN sum_words > 0
              |       THEN ${microRatioSql("sum_tokens", "sum_words", "//")}
              |       END AS fertility_micro,
              |  CASE WHEN sum_tokens > 0
              |       THEN ${microRatioSql("sum_chars", "sum_tokens", "//")}
              |       END AS chars_per_token_micro
              |FROM a""".stripMargin)
    },
      (s, dir) =>
        graft.text.TokenizerEval.fertilityCard(docs(s, dir), col("lang"),
          size(tokens(col("text"))), size(bpePieces(col("text"))),
          length(col("text")))),

    // Packing efficiency audit (Packing.fillAudit): bins/docs/tokens,
    // padding mass, overflow bins, the per-shard bin lower bound
    // Σ⌈tokens/capacity⌉, fill-rate and efficiency micro-ratios — the
    // training-cost readout over the q64 greedy packing (every padding
    // token is paid-for compute that trains nothing). The oracle
    // extends the q64 recursive CTE with the audit aggregation; the
    // engine never re-reads text (two histogram-sized aggregations
    // over the packGreedy output).
    Q("q226_pack_fill_audit", {
      import graft.operators.Sampling.microRatioSql
      Some(s"""WITH RECURSIVE $tokenPackCtes,
              |bins AS (SELECT shard, bin, CAST(sum(w) AS BIGINT) AS btok,
              |    count(*) AS bdocs FROM pack GROUP BY 1, 2),
              |lb AS (SELECT CAST(sum(ovf + (st + 255) // 256) AS BIGINT)
              |    AS lower_bound_bins
              |  FROM (SELECT shard,
              |          CAST(sum(CASE WHEN w <= 256 THEN w ELSE 0 END)
              |            AS BIGINT) AS st,
              |          CAST(sum(CASE WHEN w > 256 THEN 1 ELSE 0 END)
              |            AS BIGINT) AS ovf
              |        FROM pack GROUP BY 1)),
              |a AS (SELECT count(*) AS n_bins,
              |    CAST(sum(bdocs) AS BIGINT) AS n_docs,
              |    CAST(sum(btok) AS BIGINT) AS total_tokens,
              |    CAST(sum(greatest(0, 256 - btok)) AS BIGINT) AS padding_tokens,
              |    CAST(sum(CASE WHEN btok > 256 THEN 1 ELSE 0 END) AS BIGINT)
              |      AS overflow_bins
              |  FROM bins)
              |SELECT n_bins, n_docs, total_tokens, padding_tokens,
              |  overflow_bins, lower_bound_bins, CAST(256 AS BIGINT) AS capacity,
              |  CASE WHEN n_bins > 0
              |       THEN ${microRatioSql("total_tokens", "n_bins * 256", "//")}
              |       END AS fill_rate_ppm,
              |  CASE WHEN n_bins > 0
              |       THEN ${microRatioSql("lower_bound_bins", "n_bins", "//")}
              |       END AS efficiency_ppm
              |FROM a CROSS JOIN lb""".stripMargin)
    },
      (s, dir) =>
        graft.operators.Packing.fillAudit(
          tokenPacking(docs(s, dir)),
          capacity = 256L)),

    // UnigramLM tokenizer EM, oracle tier (closing the family's last
    // spec-only member): one E-step's piece-usage counts — substring
    // seed, integer micro-nat scores, Viterbi segmentation of every
    // distinct word (longs compare, never doubles, so the DP replays
    // exactly), zero-usage single chars retained. The oracle unrolls
    // the DP per character position and re-runs seed ranking, scoring,
    // the per-position argmax (ties to the earliest split start), and
    // the frequency-weighted usage sum.
    Q("q228_unigram_em",
      Some(uniTrainSql),
      (s, dir) => {
        import graft.text.UnigramLm
        val words = UnigramLm.wordCounts(uniDocs(s, dir), col("text"))
        UnigramLm.emRound(words,
            UnigramLm.scoresFromCounts(
              UnigramLm.seedVocab(words, UniL, UniSeed)), UniL)
          .orderBy(desc("cnt"), col("piece")).limit(30)
      }),

    // Unigram ENCODE end to end: train (one EM round, trim to UniVocab
    // with singles kept, rescore) then segment the corpus — top-20
    // piece frequencies. Spark runs the real production path (train +
    // per-doc broadcast-vocab encode), the oracle replays training AND
    // a second unrolled Viterbi under the trained scores — so the
    // shipped encoder itself is hash-checked, not a word-level twin.
    Q("q229_unigram_encode",
      Some(uniEncodeSql),
      (s, dir) => {
        import graft.text.UnigramLm
        val fd = uniDocs(s, dir)
        val scores = UnigramLm.train(fd, col("text"), maxPieceLen = UniL,
          seedSize = UniSeed, vocabSize = UniVocab, rounds = 1)
        UnigramLm.encode(fd, col("doc_id"), col("text"), scores, UniL)
          .select(explode(col("pieces")).as("piece"))
          .groupBy("piece").agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), col("piece")).limit(20)
      })
  )
}
