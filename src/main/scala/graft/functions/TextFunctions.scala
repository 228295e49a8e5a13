package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives shared by the text-analysis / dedup / similarity
  * operators. Everything here is built-in-expression-only (codegen'd, no
  * UDFs), per the engine rule that the reference's Python row-UDFs lower
  * to native expressions (SURVEY.md §2.9).
  *
  * Two hash families:
  *  - `fastHash` (xxhash64) — the 100 TB path: one 64-bit mix per value,
  *    vectorized, no allocation.
  *  - `portableHash` (md5-prefix) — bit-identical across engines, used by
  *    the oracle-checked queries so DuckDB can replay every pipeline.
  *    `*Sql` twins emit the equivalent DuckDB expression from the same
  *    constants, so engine and oracle can never drift apart.
  */
object TextFunctions {

  /** Whitespace tokenization (reference tokenizer semantics:
    * split on \s+ after trim; code/nlp/NFL_Processing.py:147-156). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  val tokensSql: String => String = e => s"regexp_split_to_array(trim($e), '\\s+')"

  /** Scale-path 64-bit hash. */
  def fastHash(c: Column): Column = xxhash64(c)

  /** 60-bit engine-portable hash: first 15 hex chars of md5 as a long
    * (60 bits keeps all downstream modular arithmetic inside int64).
    * Computed by the codegen'd [[graft.functions.expressions.PortableHash]]
    * expression — same value as `conv(substring(md5(c),1,15),16,10)`
    * without the hex render/reparse round-trip. */
  def portableHash(c: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.expressions.PortableHash(
        org.apache.spark.sql.graft.Bridge.expression(c)))

  def portableHashSql(e: String): String =
    s"list_reduce(list_transform(string_split(substr(md5($e),1,15),''), " +
      "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16+b)"

  /** k-token shingles ("w1 w2 w3") for MinHash / n-gram Jaccard. The
    * caller's token expression is lambda-bound once (the
    * `transform(array(e), v => …)` let idiom — see [[shingleHashArray]]'s
    * note): element_at references it k times per position, and a spliced
    * tokenize expression would re-evaluate at every site. */
  def shingles(toks: Column, k: Int): Column =
    flatten(transform(array(toks), tk =>
      when(size(tk) < k, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(tk) - (k - 1)),
          i => concat_ws(" ", (0 until k).map(j => element_at(tk, i + lit(j))): _*)))))

  /** DuckDB twin of [[shingles]]; `toksE` must be a (CTE-bound) expression
    * named such that `<toksE>[i]` indexes it. */
  def shinglesSql(toksE: String, k: Int): String = {
    val parts = (0 until k).map(j => s"$toksE[i+$j]").mkString(", ")
    s"CASE WHEN len($toksE) < $k THEN []::VARCHAR[] " +
      s"ELSE list_transform(generate_series(1, len($toksE)-${k - 1}), i -> concat_ws(' ', $parts)) END"
  }

  // ---- Arithmetic shingle hashes ---------------------------------------
  /** Shingle hashes are combined arithmetically from per-token hashes
    * (fold: ((h1*8191 + h2) % M)*8191 + h3 % M …) instead of hashing a
    * concatenated shingle string: Spark computes one codegen'd token hash
    * and combines with integer ops — no per-shingle string building, no
    * interpreted higher-order functions in the hot path. */
  val ShingleM: Long = 2147483647L

  /** Ordered k-shingle hash ARRAY: element `i` (0-based) is the hash of
    * the k-gram starting at token `i` — the POSITIONAL twin of
    * [[graft.functions.expressions.ShingleHashGenerator]] (which emits
    * an unordered bag for MinHash). Same arithmetic (per-token hash mod
    * [[ShingleM]], `acc*8191 + h` fold), so values are interchangeable
    * with the generator's and with [[shingleHashesSql]]. Used where a
    * consumer needs to map a matched gram back to its token span
    * (decontamination span removal). */
  def shingleHashArray(toks: Column, k: Int, portable: Boolean = true): Column = {
    require(k >= 1, s"shingle size must be >= 1, got $k")
    // same per-token reduction as ShingleHashGenerator: md5Prefix60 % M
    // (non-negative) on the portable path, sign-cleared xxhash64 % M on
    // the fast path
    val h: Column => Column =
      if (portable) t => portableHash(t) % ShingleM
      else t => fastHash(t).bitwiseAND(lit(Long.MaxValue)) % ShingleM
    // `transform(array(e), v => …)` is the let-binding idiom: the token
    // array and the per-token hash array are each bound ONCE as lambda
    // variables. Splicing the hash-transform expression directly into
    // the k element_at sites (the first version) re-evaluated the whole
    // per-token md5 transform at EVERY site — O(n·k) full-array
    // evaluations per doc; q144's k=8 chunking paid 8.3 s at sf0.1 for
    // what is now sub-second.
    val empty = array().cast("array<long>")
    flatten(transform(array(toks), tk =>
      flatten(transform(array(transform(tk, h)), th =>
        when(size(tk) < k, empty)
          .otherwise(transform(sequence(lit(1), size(tk) - (k - 1)),
            i => (1 until k).foldLeft(element_at(th, i))((acc, j) =>
              (acc * 8191L + element_at(th, i + lit(j))) % ShingleM)))))))
  }

  /** DuckDB twin: k-shingle hash list from a token-array expression —
    * same per-token `md5Prefix60 % M` + `acc*8191 + h (mod M)` fold as
    * [[graft.functions.expressions.ShingleHashGenerator]], for any k
    * (k=3 is the MinHash default; span-overlap dedup uses k=8). */
  def shingleHashesSql(tkE: String, k: Int = 3): String = {
    val h = (j: Int) => s"(${portableHashSql(s"$tkE[i+$j]")} % $ShingleM)"
    val combined = (1 until k).foldLeft(h(0))((acc, j) => s"(($acc * 8191 + ${h(j)}) % $ShingleM)")
    s"CASE WHEN len($tkE) < $k THEN []::BIGINT[] " +
      s"ELSE list_transform(generate_series(1, len($tkE)-${k - 1}), i -> $combined) END"
  }

  // ---- MinHash ----------------------------------------------------------
  /** Universal-hash permutations (a*h + b) mod P over 31-bit-reduced
    * shingle hashes; all arithmetic stays < 2^46. */
  val MinHashP: Long = 2147483647L
  val MinHashPerms: Seq[(Long, Long)] =
    Seq((2971L, 104729L), (5683L, 224737L), (7919L, 350377L), (9973L, 479909L))

  def minhashSql(hashesE: String, a: Long, b: Long): String =
    s"list_min(list_transform($hashesE, h -> ($a * (h % $MinHashP) + $b) % $MinHashP))"

  // ---- Fingerprint ------------------------------------------------------
  /** Polynomial rolling fingerprint over token hashes:
    * fold (acc*31 + h_t mod 1000003) mod 1e9+7. Order-sensitive, so
    * "a b" and "b a" differ — unlike a bag-of-words hash. */
  val FpTokenMod = 1000003L
  val FpMod = 1000000007L

  def fingerprint(toks: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      expressions.RollingFingerprint(
        org.apache.spark.sql.graft.Bridge.expression(toks),
        portable = true, FpTokenMod, FpMod))

  /** Fast-path fingerprint: same rolling fold over xxhash64 token hashes
    * (no md5 digest per token). Not oracle-replayable — bench/scale only. */
  def fingerprintFast(toks: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      expressions.RollingFingerprint(
        org.apache.spark.sql.graft.Bridge.expression(toks),
        portable = false, FpTokenMod, FpMod))

  def fingerprintSql(toksE: String): String =
    s"list_reduce(list_transform($toksE, t -> ${portableHashSql("t")} % $FpTokenMod), " +
      s"(a, b) -> (a*31 + b) % $FpMod)"

  // ---- BPE-ish pre-tokenization ----------------------------------------
  /** GPT-2-style pre-tokenizer regex, simplified to the subset shared by
    * Java regex (Spark) and RE2 (DuckDB) — no lookahead: letter runs,
    * digit runs, punctuation runs (each with an optional leading space),
    * or whitespace runs. Whitespace is an EXPLICIT class, not `\s`: Java's
    * `\s` includes vertical tab, RE2's does not, and that one character
    * would silently skew piece counts between engine and oracle. Piece
    * counts approximate BPE token counts the way a training-data pipeline
    * budgets documents before running the real (merge-table) tokenizer. */
  private val ws = "\\t\\n\\f\\r \\x0B"
  val BpePattern: String =
    s" ?\\p{L}+| ?\\p{N}+| ?[^$ws\\p{L}\\p{N}]+|[$ws]+"

  def bpePieces(text: Column): Column =
    regexp_extract_all(text, lit(BpePattern), lit(0))

  def bpePiecesSql(e: String): String =
    s"regexp_extract_all($e, '$BpePattern')"

  // ---- PII scrubbing ----------------------------------------------------
  /** Redaction patterns for the PII-scrub pass a training-data pipeline
    * runs before anything else sees the text. Same regex discipline as
    * [[BpePattern]]: Java ∩ RE2 subset only (no backrefs, no lookaround,
    * explicit character classes), so Spark's `regexp_replace` (Java) and
    * DuckDB's (RE2) rewrite byte-identically. Scrub order is part of the
    * contract — URLs first, or the email pattern would eat
    * `user@host` tails inside URL query strings. */
  val UrlRe: String = "https?://[^\\t\\n\\f\\r ]+"
  val EmailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
  val PhoneRe: String = "[0-9][0-9][0-9][-. ][0-9][0-9][0-9][-. ][0-9][0-9][0-9][0-9]"

  /** URL host extraction (Java ∩ RE2 pattern, same discipline as
    * [[BpePattern]]): first capture group of the first URL in the text;
    * empty string when the text carries no URL — both engines'
    * `regexp_extract` return '' on no-match, so the "no URL" group is
    * portable without a null guard. */
  val UrlHostRe: String = "https?://([^/\\t\\n\\f\\r ?#]+)"

  def urlHost(text: Column): Column =
    regexp_extract(text, UrlHostRe, 1)

  def urlHostSql(e: String): String =
    s"regexp_extract($e, '$UrlHostRe', 1)"

  /** Text canonicalization for near-exact dedup: ASCII case-fold +
    * whitespace-run collapse + trim. Deliberately ASCII-ONLY case folding
    * (a 26-char `translate`, not `lower()`): Unicode case mapping differs
    * between engines/locales (Turkish İ, ß, etc.), while translate is a
    * byte-exact table lookup both engines implement identically — the
    * portability discipline of [[UrlRe]] applied to case. Same explicit
    * whitespace class as the PII rules (Java ∩ RE2). */
  private[graft] val Uc = ('A' to 'Z').mkString
  private[graft] val Lc = ('a' to 'z').mkString
  private[graft] val WsRunRe = "[\\t\\n\\f\\r ]+"

  def canonicalize(text: Column): Column =
    trim(regexp_replace(translate(text, Uc, Lc), WsRunRe, " "))

  def canonicalizeSql(e: String): String =
    s"trim(regexp_replace(translate($e, '$Uc', '$Lc'), '$WsRunRe', ' ', 'g'))"

  // ---- HTML text extraction ---------------------------------------------
  /** Tag stripping for web-corpus ingestion — the step BEFORE line-level
    * boilerplate removal ([[graft.text.TextAnalysis.stripBoilerplateLines]])
    * in a C4/CCNet-shaped pipeline (cf. trafilatura/jusText; here the
    * regex-subset form both engines codegen). Same Java ∩ RE2 regex
    * discipline as [[BpePattern]] ((?is)/(?s) inline flags and non-greedy
    * quantifiers are in both dialects; no lookaround). ORDER is the
    * contract:
    *  1. script/style/comment BLOCKS first — their content is code, not
    *     text, and must not leak into the extract;
    *  2. every remaining tag becomes a space (block/inline distinction
    *     collapses under the final whitespace fold anyway);
    *  3. character entities decode, `&amp;` LAST so a double-escape like
    *     `&amp;lt;` yields the literal text `&lt;`, never `<` — decoded
    *     entities are text, not markup, and are NOT re-parsed;
    *  4. whitespace runs collapse to one space, trimmed.
    */
  val HtmlBlockRes: Seq[String] = Seq(
    "(?is)<script[^>]*>.*?</script>",
    "(?is)<style[^>]*>.*?</style>",
    "(?s)<!--.*?-->")
  val HtmlTagRe: String = "(?s)<[^>]*>"
  val HtmlEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
    "&nbsp;" -> " ", "&amp;" -> "&")

  def extractHtmlText(html: Column): Column = {
    val noBlocks = HtmlBlockRes.foldLeft(html)((c, re) => regexp_replace(c, re, ""))
    val noTags = regexp_replace(noBlocks, HtmlTagRe, " ")
    val decoded = HtmlEntities.foldLeft(noTags) { case (c, (ent, v)) =>
      replace(c, lit(ent), lit(v))
    }
    trim(regexp_replace(decoded, WsRunRe, " "))
  }

  /** DuckDB twin of [[extractHtmlText]] — same patterns, same order; 'g'
    * everywhere because Spark's regexp_replace is always replace-all. */
  def extractHtmlTextSql(e: String): String = {
    val noBlocks = HtmlBlockRes.foldLeft(e)((x, re) =>
      s"regexp_replace($x, '$re', '', 'g')")
    val noTags = s"regexp_replace($noBlocks, '$HtmlTagRe', ' ', 'g')"
    val decoded = HtmlEntities.foldLeft(noTags) { case (x, (ent, v)) =>
      s"replace($x, '$ent', '${v.replace("'", "''")}')"
    }
    s"trim(regexp_replace($decoded, '$WsRunRe', ' ', 'g'))"
  }

  // ---- URL canonicalization ---------------------------------------------
  /** URL canonicalization for URL-level dedup (the pre-crawl-frontier /
    * pre-fetch dedup a web pipeline runs before any content hashing).
    * Steps, in contract order:
    *  1. drop the `#fragment` (never sent to the server);
    *  2. drop tracking params (`utm_*`, `fbclid`, `gclid`) anywhere in
    *     the query string;
    *  3. tidy the separators removal leaves behind (`?&` → `?`, then any
    *     trailing `?`/`&`);
    *  4. ASCII-lowercase the `scheme://host[:port]` head only —
    *     translate, not lower(), the [[canonicalize]] portability rule;
    *     path and query case is significant and stays untouched;
    *  5. drop an explicit default port (`http…:80`, `https…:443`);
    *  6. drop one trailing `/`.
    * All built-in regex/translate/concat — codegen'd, per-row, no
    * shuffle anywhere. */
  val TrackingParamRe: String = "(utm_[a-z]+|fbclid|gclid)=[^&#\\t\\n\\f\\r ]*&?"
  // (?i): the raw scheme/host may arrive in any case — that's the very
  // thing step 4 normalizes — so the head match itself must ignore case
  private[graft] val UrlHeadRe: String = "(?i)^https?://[^/?]*"

  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*", "")
    val noTrack = regexp_replace(noFrag, TrackingParamRe, "")
    val tidy = regexp_replace(regexp_replace(noTrack, "\\?&", "?"), "[?&]+$", "")
    val head = translate(regexp_extract(tidy, UrlHeadRe, 0), Uc, Lc)
    val rest = regexp_replace(tidy, UrlHeadRe, "")
    val headNoPort = regexp_replace(
      regexp_replace(head, "^(http://[^/:]*):80$", "$1"),
      "^(https://[^/:]*):443$", "$1")
    regexp_replace(concat(headNoPort, rest), "/$", "")
  }

  /** DuckDB twin of [[canonicalizeUrl]]: same patterns and order. 'g' on
    * every replace (Spark is always replace-all); group references are
    * `\1` in RE2 replacement syntax vs Java's `$1` — different spelling,
    * same semantics. */
  def canonicalizeUrlSql(e: String): String = {
    val noFrag = s"regexp_replace($e, '#.*', '', 'g')"
    val noTrack = s"regexp_replace($noFrag, '$TrackingParamRe', '', 'g')"
    val tidy = s"regexp_replace(regexp_replace($noTrack, '\\?&', '?', 'g'), '[?&]+$$', '', 'g')"
    val head = s"translate(regexp_extract($tidy, '$UrlHeadRe', 0), '$Uc', '$Lc')"
    val rest = s"regexp_replace($tidy, '$UrlHeadRe', '', 'g')"
    val headNoPort = "regexp_replace(regexp_replace(" + head +
      ", '^(http://[^/:]*):80$', '\\1', 'g'), '^(https://[^/:]*):443$', '\\1', 'g')"
    s"regexp_replace($headNoPort || $rest, '/$$', '', 'g')"
  }

  private[graft] val PiiRules: Seq[(String, String)] = Seq(
    UrlRe -> "<URL>", EmailRe -> "<EMAIL>", PhoneRe -> "<PHONE>")

  /** Replace every URL/email/phone occurrence with a typed placeholder —
    * one chained per-row projection, no UDF, fully codegen'd. */
  def scrubPii(text: Column): Column =
    PiiRules.foldLeft(text) { case (c, (re, tag)) =>
      regexp_replace(c, re, tag)
    }

  /** DuckDB twin of [[scrubPii]] (same patterns, same order; the 'g' flag
    * matches Spark's replace-all default). */
  def scrubPiiSql(e: String): String =
    PiiRules.foldLeft(e) { case (x, (re, tag)) =>
      s"regexp_replace($x, '$re', '$tag', 'g')"
    }

  /** Count of PII matches (all kinds) in `text`, pre-scrub. */
  def piiCount(text: Column): Column =
    PiiRules.map { case (re, _) =>
      size(regexp_extract_all(text, lit(re), lit(0))).cast("long")
    }.reduce(_ + _)

  def piiCountSql(e: String): String =
    PiiRules.map { case (re, _) =>
      s"len(regexp_extract_all($e, '$re'))"
    }.mkString("(", " + ", ")")

  // ---- Mojibake repair --------------------------------------------------
  /** Encoding-artifact (mojibake) repair — the ftfy-shaped hygiene pass a
    * web-corpus pipeline runs alongside Unicode normalization (cf. CCNet;
    * reference corpus is pre-cleaned CSV and skips it, `Data_Processing
    * .py:16-24`): text that was UTF-8 encoded but decoded as
    * windows-1252 somewhere upstream carries artifacts like `Ã©` for
    * `é` and `â€™` for `’`. The rule table is DERIVED, not hand-typed:
    * for each target char, the artifact form is its UTF-8 bytes decoded
    * as cp1252 — so the table cannot drift from the encoding math it
    * models. Repair is a literal replace chain (no regex), identical
    * left-to-right replace-all in both engines, 3-char artifacts before
    * 2-char so a `â€¦` never half-matches after an accent fix. Targets
    * are restricted to chars whose artifact form is fully printable in
    * cp1252 (skipping e.g. `”`, whose middle byte 0x9D is unmapped and
    * decoder-dependent) — this is a high-precision common-case table,
    * not a full ftfy. */
  val MojibakeTargets: Seq[String] = Seq(
    // ’ ‘ “ – — … (3-byte UTF-8 punctuation)
    "\u2019", "\u2018", "\u201C", "\u2013", "\u2014", "\u2026",
    // é è ï ü ö ä ñ ç ° nbsp (2-byte Latin-1 range)
    "\u00E9", "\u00E8", "\u00EF", "\u00FC", "\u00F6", "\u00E4",
    "\u00F1", "\u00E7", "\u00B0", "\u00A0")
  val MojibakeRules: Seq[(String, String)] = MojibakeTargets
    .map(t => new String(t.getBytes("UTF-8"), "windows-1252") -> t)
    .sortBy { case (art, _) => -art.length }

  def fixMojibake(text: Column): Column =
    MojibakeRules.foldLeft(text) { case (c, (art, t)) =>
      replace(c, lit(art), lit(t))
    }

  /** DuckDB twin of [[fixMojibake]]: same derived rules, same order;
    * `replace` is literal replace-all in both engines. */
  def fixMojibakeSql(e: String): String =
    MojibakeRules.foldLeft(e) { case (x, (art, t)) =>
      s"replace($x, '${art.replace("'", "''")}', '${t.replace("'", "''")}')"
    }

  /** Artifact-occurrence count, pre-repair: Σ over rules of
    * (len(x) − len(x with rule's artifact deleted)) / len(artifact) —
    * pure length arithmetic, so both engines count identically (both
    * `length()` are code-point counts). */
  def mojibakeCount(text: Column): Column =
    MojibakeRules.map { case (art, _) =>
      (length(text) - length(replace(text, lit(art), lit("")))) / art.length
    }.reduce(_ + _).cast("long")

  def mojibakeCountSql(e: String): String =
    MojibakeRules.map { case (art, _) =>
      val a = art.replace("'", "''")
      s"(length($e) - length(replace($e, '$a', ''))) // ${art.length}"
    }.mkString("(", " + ", ")")

  // ---- Registered domain (eTLD+1) ---------------------------------------
  /** Registered-domain (eTLD+1) extraction from a host — the key for
    * domain-level corpus stats, per-domain quotas, and URL-frontier
    * grouping (subdomains of one site must collapse: `news.bbc.co.uk`
    * and `www.bbc.co.uk` are both `bbc.co.uk`). A PSL-lite rule: if the
    * host ends in a two-label public suffix from the embedded table,
    * keep the last three labels, else the last two. The table covers the
    * common ccTLD second-level registries, not the full Mozilla PSL
    * (which is a data file, not logic — swap [[MultiTldRe]] for the
    * compiled full list at deploy time). Hosts with fewer labels than
    * needed yield '' (both engines' `regexp_extract` no-match value).
    * Java ∩ RE2 pattern discipline as [[UrlRe]]. */
  val MultiTldRe: String =
    "\\.(co|com|org|net|gov|ac|edu)\\.(uk|jp|au|in|br|za|nz|mx|kr|cn|id)$"
  private[graft] val Last3Re: String = "[^.]+\\.[^.]+\\.[^.]+$"
  private[graft] val Last2Re: String = "[^.]+\\.[^.]+$"

  def registeredDomain(host: Column): Column =
    when(host.rlike(MultiTldRe), regexp_extract(host, Last3Re, 0))
      .otherwise(regexp_extract(host, Last2Re, 0))

  def registeredDomainSql(e: String): String =
    s"CASE WHEN regexp_matches($e, '$MultiTldRe') " +
      s"THEN regexp_extract($e, '$Last3Re', 0) " +
      s"ELSE regexp_extract($e, '$Last2Re', 0) END"

  // ---- Lexicons ---------------------------------------------------------
  /** Language-ID stopword lists (n-gram/stopword heuristic). */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "y", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "les", "et", "en", "une"))

  /** Deterministic sentiment lexicon (the self-contained stand-in for the
    * reference's downloaded pretrained model — SURVEY.md §2.10: pluggable
    * scorer, lexicon default). */
  val PosWords: Seq[String] = Seq("fast", "big", "good", "great")
  val NegWords: Seq[String] = Seq("slow", "small", "bad", "broken")

  /** Count of tokens that fall in `words` (multiplicity-preserving over
    * TOKENS, set-semantics over the lexicon — `words` is deduplicated;
    * a null/absent token array yields null). ONE codegen'd set-probe
    * pass ([[expressions.LexiconHitCount]]): the earlier
    * `Σ_w (size − size(array_remove))` composition walked and
    * re-allocated the token array once per lexicon word, and the
    * `filter(toks, isin)` HOF form always evaluates interpreted — both
    * were measured dominant on the gate path. Counting semantics are
    * identical to the SQL twin below (exact string equality). */
  def lexiconHits(toks: Column, words: Seq[String]): Column =
    if (words.isEmpty) lit(0L) // one-sided lexicon (e.g. all-positive model)
    else org.apache.spark.sql.graft.Bridge.column(
      expressions.LexiconHitCount(
        org.apache.spark.sql.graft.Bridge.expression(toks), words.distinct))

  def lexiconHitsSql(toksE: String, words: Seq[String]): String =
    if (words.isEmpty) "CAST(0 AS BIGINT)" // `t IN ()` would not parse
    else s"len(list_filter($toksE, t -> t IN (${words.distinct.map(w => s"'$w'").mkString(",")})))"

  /** Total SUBSTRING occurrences of a fixed pattern set — the substring
    * tier of the blocklist gates (embedded matches the token-level
    * [[lexiconHits]] cannot see), as ONE Aho–Corasick DFA pass
    * ([[expressions.SubstringHitCount]]: one transition per input byte,
    * blocklist compiled into a reference object). Patterns must be
    * border-free — enforced loudly — so the count equals the
    * per-pattern non-overlapping `replace`-count the SQL twin computes. */
  def substringHits(text: Column, patterns: Seq[String]): Column =
    org.apache.spark.sql.graft.Bridge.column(
      expressions.SubstringHitCount(
        org.apache.spark.sql.graft.Bridge.expression(text), patterns))

  /** Compression-ratio quality signal ([[expressions.DeflateRatio]]):
    * micro-int `deflate(text)/|text|` — the entropy proxy that flags
    * templated/repetitive text token-level stats miss. Spec-tier (no
    * DuckDB deflate — no SQL twin by design); deterministic at a fixed
    * level, thread-local deflater, null on null/empty input. */
  def deflateRatioMicro(text: Column, level: Int = 6): Column =
    org.apache.spark.sql.graft.Bridge.column(
      expressions.DeflateRatio(
        org.apache.spark.sql.graft.Bridge.expression(text), level))

  /** DuckDB twin of [[substringHits]]: Σ_p (length − length(replace)) /
    * charlen(p) — k passes are fine on the ORACLE side; the engine does
    * one. */
  def substringHitsSql(e: String, patterns: Seq[String]): String =
    patterns.map { p =>
      val q = p.replace("'", "''")
      val cl = p.codePointCount(0, p.length)
      s"((length($e) - length(replace($e, '$q', ''))) // $cl)"
    }.mkString("(CAST(", " + ", " AS BIGINT))")
}
