package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dedup.Dedup
import graft.functions.TextFunctions._
import graft.operators.{CacheScope, Relational}
import graft.sources.Tables
import graft.text.WeightedSentiment

/** Deduplication suite over `documents`: exact, MinHash signatures,
  * MinHash-LSH near-dup detection, exact n-gram Jaccard, SimHash.
  * The sf corpus ships 25 planted near-duplicate pairs (shingle-Jaccard
  * ≥ 0.9), so the LSH pipeline has a real signal to find.
  */
object DedupQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)

  private val toksSql = tokensSql("text")
  private val shSql = shingleHashesSql("tk")

  /** Shared CTE prefix: tokens + distinct (doc, shingle-hash) pairs —
    * the base of the counting formulation of set Jaccard. */
  private val baseCtes =
    s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
       |p AS (SELECT doc_id, unnest(list_distinct($shSql)) AS sh FROM t)""".stripMargin

  private val minhashExprs: String = MinHashPerms.zipWithIndex
    .map { case ((a, b), i) => s"    ${minhashSql("hs", a, b)} AS mh$i" }
    .mkString(",\n")

  /** The production config (64 splitmix64-generated perms, 16 bands): the
    * (a, b) stream is derived ONCE in Scala and inlined as literals into
    * both engines' plans, so the oracle replays the generated family
    * bit-for-bit — no in-SQL PRNG needed. */
  private val wideCfg = graft.dedup.MinHashConfig.generated(64, 16)
  private val wideMinhashExprs: String = wideCfg.perms.zipWithIndex
    .map { case ((a, b), i) => s"    ${minhashSql("hs", a, b)} AS mh$i" }
    .mkString(",\n")
  private val wideBandCond: String = (0 until wideCfg.bands).map { bnd =>
    (bnd * wideCfg.rowsPerBand until (bnd + 1) * wideCfg.rowsPerBand)
      .map(i => s"a.mh$i = b.mh$i").mkString("(", " AND ", ")")
  }.mkString("\n     OR ")

  /** The 4-perm, 2-band LSH CTEs over a CTE `t` (doc_id, tk): MinHash
    * signatures `sig`, banded candidate pairs `cand` (d1 < d2) and each
    * doc's distinct shingle set `shs`. Used by q36 and, through
    * `closureCtes`, by q61, q74, q121, q140 and q123. */
  private val lshCtes =
    s"""sig AS (
       |  SELECT doc_id, mh0, mh1, mh2, mh3 FROM (
       |    SELECT doc_id,
       |$minhashExprs
       |    FROM (SELECT doc_id, $shSql AS hs FROM t))),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |   AND ((a.mh0 = b.mh0 AND a.mh1 = b.mh1) OR (a.mh2 = b.mh2 AND a.mh3 = b.mh3))),
       |shs AS (SELECT doc_id, list_distinct($shSql) AS shs FROM t)""".stripMargin

  /** `lshCtes` verified at J >= 0.8 (`pr`), symmetrized (`edges`) and
    * closed recursively: `reach` (node, c) holds every node reachable
    * from c, so min(c) per node is its cluster canon — RaSQL's
    * recursive-aggregate shape. Needs `WITH RECURSIVE`. Used by q61, q74,
    * q121, q140 and q123. */
  private val closureCtes =
    s"""$lshCtes,
       |pr AS (SELECT c.d1, c.d2 FROM cand c
       |  JOIN shs a ON a.doc_id = c.d1
       |  JOIN shs b ON b.doc_id = c.d2
       |  WHERE CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
       |        / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))) >= 0.8),
       |edges AS (SELECT d1 AS src, d2 AS dst FROM pr
       |  UNION SELECT d2, d1 FROM pr),
       |reach AS (
       |  SELECT src AS node, src AS c FROM edges
       |  UNION
       |  SELECT e.dst, r.c FROM reach r JOIN edges e ON e.src = r.node)""".stripMargin

  /** Exact-Jaccard verify tail over `cand` and `shs`: the pairs at
    * J >= 0.8 with J rounded to 4 places. Used by q36 and q91. */
  private val verifyTail =
    """SELECT c.d1, c.d2,
      |  round(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
      |        / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))), 4) AS jaccard_r
      |FROM cand c
      |JOIN shs a ON a.doc_id = c.d1
      |JOIN shs b ON b.doc_id = c.d2
      |WHERE CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
      |      / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))) >= 0.8""".stripMargin

  /** Banded candidate pairs over the 64/16 signatures `sig`. Used by q91,
    * q155 and q202 (q91 and q202 through `wideSigCtes`). */
  private val wideCandCte =
    s"""cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |   AND ($wideBandCond))""".stripMargin

  /** The 64/16 signatures of every doc in `t` and their `wideCandCte`.
    * Used by q91 and q202. */
  private val wideSigCtes =
    s"""sig AS (
       |  SELECT doc_id,
       |$wideMinhashExprs
       |  FROM (SELECT doc_id, $shSql AS hs FROM t)),
       |$wideCandCte""".stripMargin

  /** Shared rebuild tail for the span-cutting oracles (q138/q139): given
    * CTEs `g` (doc_id, tk, ...) and `cut` (doc_id, cov — 1-based covered
    * token indices), re-join the surviving tokens in order and report
    * per-doc counts — the SQL twin of `Dedup.cutCoveredPositions`. */
  private val spanRebuildSql: String =
    """tokpos AS (SELECT doc_id, unnest(tk) AS t,
      |    unnest(generate_series(1, len(tk))) AS i FROM g),
      |clean AS (SELECT tp.doc_id, string_agg(tp.t, ' ' ORDER BY tp.i) AS ctext
      |  FROM tokpos tp LEFT JOIN cut ON cut.doc_id = tp.doc_id AND cut.cov = tp.i
      |  WHERE cut.cov IS NULL GROUP BY tp.doc_id),
      |rem AS (SELECT doc_id, count(*) AS n_removed FROM cut GROUP BY doc_id)
      |SELECT g.doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
      |  COALESCE(rem.n_removed, 0) AS n_removed,
      |  COALESCE(clean.ctext, '') AS clean_text
      |FROM g LEFT JOIN rem USING (doc_id) LEFT JOIN clean USING (doc_id)""".stripMargin

  // ---- q123 fixtures: gate model + planted hosts ------------------------
  /** Near-balanced logistic gate (Σw ≈ 0) so the keep/drop decision rides
    * on each doc's token composition, not its length; both engines build
    * z from THIS seq in file order. */
  private val WebGateWeights: Seq[(String, Double)] = Seq(
    "spark" -> 0.5, "fast" -> 0.4, "slow" -> -0.45, "dup" -> -0.5)
  private val WebGateBias: Double = 0.0
  /** Six hosts folding to three registrable domains. */
  private val WebHosts: Seq[String] = Seq(
    "a.shop.example.com", "shop.example.com", "blog.example.org",
    "news.example.org", "www.site.co.uk", "site.co.uk")
  private val WebQuota = 40

  val queries: Seq[Q] = Seq(

    // Exact dedup keep-first over a corpus with planted exact duplicates
    // (ids re-offset through a union — the corpus itself is dup-free).
    Q("q31_exact_dedup",
      Some("""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50)
             |SELECT min(doc_id) AS keeper, count(*) AS n_dups
             |FROM corpus GROUP BY md5(text) HAVING count(*) > 1""".stripMargin),
      (s, dir) => {
        val d = docs(s, dir).select("doc_id", "text")
        val corpus = d.union(
          d.filter(col("doc_id") < 50).select((col("doc_id") + 100000).as("doc_id"), col("text")))
        Dedup.exactGroups(corpus, col("doc_id"), col("text"), md5)
          .filter(col("n_dups") > 1)
          .select("keeper", "n_dups")
      }),

    // Canonicalized near-exact dedup: case/whitespace variants of a doc
    // (planted: ASCII-upcased + padded/doubled whitespace) hash-group
    // together after canonicalization, where raw exact dedup sees
    // nothing. ASCII-only case fold via translate — Unicode lower()
    // differs across engines (see TextFunctions.canonicalize).
    Q("q94_canon_dedup", {
      val canon = canonicalizeSql("text")
      val upper = s"translate(text, '${graft.functions.TextFunctions.Lc}', " +
        s"'${graft.functions.TextFunctions.Uc}')"
      Some(s"""WITH corpus AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 100000,
              |    '  ' || regexp_replace($upper, ' ', '  ', 'g') || CHR(9)
              |  FROM documents WHERE doc_id < 40)
              |SELECT min(doc_id) AS keeper, count(*) AS n_dups
              |FROM corpus GROUP BY md5($canon) HAVING count(*) > 1""".stripMargin)
    },
      (s, dir) => {
        val d = docs(s, dir).select("doc_id", "text")
        val variant = concat(lit("  "),
          regexp_replace(translate(col("text"),
            graft.functions.TextFunctions.Lc, graft.functions.TextFunctions.Uc),
            " ", "  "),
          lit("\t"))
        val corpus = d.union(d.filter(col("doc_id") < 40)
          .select((col("doc_id") + 100000).as("doc_id"), variant.as("text")))
        Dedup.exactGroups(corpus, col("doc_id"), canonicalize(col("text")), md5)
          .filter(col("n_dups") > 1)
          .select("keeper", "n_dups")
      }),

    // Per-doc MinHash signatures (4 permutations over 3-token shingles).
    // Docs with < k tokens yield no shingles: their sketch is null and
    // minhashSignatures emits no row for them; the oracle filter matches
    // that (without it, DuckDB's list_min over an empty list returns a
    // NULL row).
    Q("q35_minhash_sig",
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
              |sh AS (SELECT doc_id, $shSql AS hs FROM t WHERE len(tk) >= 3)
              |SELECT doc_id AS doc,
              |$minhashExprs
              |FROM sh""".stripMargin),
      (s, dir) =>
        Dedup.minhashSignatures(docs(s, dir), col("doc_id"), col("text"))),

    // Full MinHash-LSH near-dup pipeline: banded candidates → exact-Jaccard
    // verification ≥ 0.8. Finds the 25 planted pairs (minus any the two
    // bands miss — deterministic either way).
    Q("q36_lsh_neardup",
      Some(s"""$baseCtes,
              |$lshCtes
              |$verifyTail""".stripMargin),
      (s, dir) =>
        Dedup.nearDuplicates(docs(s, dir), col("doc_id"), col("text"), 0.8)
          .select(col("d1"), col("d2"), round(col("jaccard"), 4).as("jaccard_r"))),

    // The PRODUCTION LSH configuration, oracle-backed: the same pipeline
    // as q36 but with the 64-perm/16-band generated family the 100 TB
    // path runs (benched as x36b). The splitmix64 (a, b) constants are
    // engine-portable literals (see wideCfg above), so the generated
    // family is hash-checked against DuckDB, not just spec'd.
    Q("q91_lsh_neardup_wide",
      Some(s"""$baseCtes,
              |$wideSigCtes,
              |shs AS (SELECT doc_id, list_distinct($shSql) AS shs FROM t)
              |$verifyTail""".stripMargin),
      (s, dir) =>
        Dedup.nearDuplicates(docs(s, dir), col("doc_id"), col("text"), 0.8,
            graft.dedup.MinHashConfig.generated(64, 16))
          .select(col("d1"), col("d2"), round(col("jaccard"), 4).as("jaccard_r"))),

    // Exact-dup collapse fast path (Dedup.nearDuplicatesCollapsed) over
    // a corpus with planted byte-identical copies (q31's union shape):
    // md5-group first, star-connect members to the min-id rep at J=1,
    // run the production 64/16 LSH + exact verification on DISTINCT
    // texts only. The 1M composite probe measured the full operator
    // emitting every exact family's pairs once per band (16x) — this is
    // the crawl-scale (30%+ exact dups, Lee et al. 2021) remedy. The
    // oracle replays the collapse AND the rep-level LSH end to end.
    Q("q155_collapsed_neardup",
      Some(s"""WITH corpus AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50),
              |grp AS (SELECT md5(text) AS h, min(doc_id) AS rep
              |  FROM corpus GROUP BY md5(text)),
              |exact AS (SELECT g.rep AS d1, c.doc_id AS d2, 1.0 AS jaccard_r
              |  FROM corpus c JOIN grp g ON md5(c.text) = g.h
              |  WHERE c.doc_id <> g.rep),
              |t AS (SELECT c.doc_id, $toksSql AS tk FROM corpus c
              |  JOIN grp g ON md5(c.text) = g.h AND c.doc_id = g.rep),
              |sig AS (SELECT doc_id,
              |$wideMinhashExprs
              |  FROM (SELECT doc_id, $shSql AS hs FROM t)),
              |$wideCandCte,
              |shs AS (SELECT doc_id, list_distinct($shSql) AS shs FROM t),
              |near AS (SELECT c.d1, c.d2,
              |    round(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
              |      / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))), 4)
              |      AS jaccard_r
              |  FROM cand c
              |  JOIN shs a ON a.doc_id = c.d1
              |  JOIN shs b ON b.doc_id = c.d2
              |  WHERE CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
              |      / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))) >= 0.8)
              |SELECT * FROM exact UNION ALL SELECT * FROM near""".stripMargin),
      (s, dir) => {
        val d = docs(s, dir).select("doc_id", "text")
        val corpus = d.union(d.filter(col("doc_id") < 50)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
        Dedup.nearDuplicatesCollapsed(corpus, col("doc_id"), col("text"), 0.8,
            graft.dedup.MinHashConfig.generated(64, 16))
          .select(col("d1"), col("d2"), round(col("jaccard"), 4).as("jaccard_r"))
      }),

    // Estimated near-dup (Dedup.nearDuplicatesEstimatedFromSigs): banded
    // candidates scored by SIGNATURE AGREEMENT (52/64 ≈ J 0.8) instead of
    // exact-Jaccard verification — the scale variant whose verify step
    // never re-reads text. All-integer output; both engines replay the
    // identical 64-perm family, so n_agree matches exactly despite being
    // a statistical estimate of J.
    Q("q202_lsh_estimate", {
      val agreeSum = (0 until 64)
        .map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
              |$wideSigCtes
              |SELECT d1, d2, n_agree FROM (
              |  SELECT c.d1, c.d2, CAST(($agreeSum) AS BIGINT) AS n_agree
              |  FROM cand c
              |  JOIN sig a ON a.doc_id = c.d1
              |  JOIN sig b ON b.doc_id = c.d2)
              |WHERE n_agree >= 52""".stripMargin)
    },
      (s, dir) =>
        Dedup.nearDuplicatesEstimated(docs(s, dir), col("doc_id"), col("text"),
          minAgree = 52, graft.dedup.MinHashConfig.generated(64, 16))),

    // Exact all-pairs n-gram Jaccard (no LSH prefilter) at a 0.5 floor —
    // the ground truth the LSH pipeline approximates.
    // minIntersection=2 is a safe prune for the 0.5 floor: j >= 0.5 needs
    // |A∩B| >= (|A|+|B|)/3 >= 2 for any docs with >= 3 shingles each.
    Q("q37_jaccard_pairs",
      Some(s"""$baseCtes,
              |sz AS (SELECT doc_id, count(*) AS n FROM p GROUP BY 1),
              |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS ni
              |  FROM p a JOIN p b ON a.sh = b.sh AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2 HAVING count(*) >= 2)
              |SELECT i.d1, i.d2,
              |  round(CAST(ni AS DOUBLE) / (s1.n + s2.n - ni), 4) AS jaccard_r
              |FROM inter i
              |JOIN sz s1 ON s1.doc_id = i.d1
              |JOIN sz s2 ON s2.doc_id = i.d2
              |WHERE CAST(ni AS DOUBLE) / (s1.n + s2.n - ni) >= 0.5""".stripMargin),
      (s, dir) =>
        Dedup.jaccardPairs(docs(s, dir), col("doc_id"), col("text"), minIntersection = 2L)
          .filter(col("jaccard") >= 0.5)
          .select(col("d1"), col("d2"), round(col("jaccard"), 4).as("jaccard_r"))),

    // Asymmetric containment: a corpus where each doc's first-half
    // "excerpt" is planted as a new doc — tiny Jaccard against its
    // source (≈0.5) but containment ≈ 1.0 catches it. minIntersection=20
    // prunes the collision tail identically on both engines (a valid
    // bound for any pair whose smaller side has ≥ 23 shingles; shorter
    // planted excerpts are consistently pruned on both sides).
    Q("q59_containment",
      Some(s"""WITH corpus AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 100000,
              |    array_to_string(($toksSql)[1:len($toksSql)//2], ' ')
              |  FROM documents WHERE doc_id < 40),
              |t AS (SELECT doc_id, ${tokensSql("text")} AS tk FROM corpus),
              |p AS (SELECT doc_id, unnest(list_distinct(${shingleHashesSql("tk")})) AS sh FROM t),
              |sz AS (SELECT doc_id, count(*) AS n FROM p GROUP BY 1),
              |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS ni
              |  FROM p a JOIN p b ON a.sh = b.sh AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2 HAVING count(*) >= 20)
              |SELECT d1, d2,
              |  round(greatest(CAST(ni AS DOUBLE) / s1.n, CAST(ni AS DOUBLE) / s2.n), 4) AS containment_r
              |FROM inter i JOIN sz s1 ON s1.doc_id = i.d1 JOIN sz s2 ON s2.doc_id = i.d2
              |WHERE greatest(CAST(ni AS DOUBLE) / s1.n, CAST(ni AS DOUBLE) / s2.n) >= 0.9""".stripMargin),
      (s, dir) => {
        val d = docs(s, dir).select("doc_id", "text")
        val toks = tokens(col("text"))
        val excerpts = d.filter(col("doc_id") < 40)
          .select((col("doc_id") + 100000).as("doc_id"),
            concat_ws(" ", slice(toks, lit(1), (size(toks) / 2).cast("int"))).as("text"))
        Dedup.containmentPairs(d.union(excerpts), col("doc_id"), col("text"),
            minContainment = 0.9, minIntersection = 20L)
          .select(col("d1"), col("d2"),
            round(col("containment"), 4).as("containment_r"))
      }),

    // Near-dup pairs → dedup CLUSTERS: connected components over the q36
    // pair graph, every doc labeled with the smallest id reachable from it
    // (the canonical keeper). The oracle rebuilds the same pairs and
    // closes them with a recursive CTE (min over all reachable nodes).
    Q("q61_dedup_clusters",
      Some(s"""WITH RECURSIVE ${baseCtes.stripPrefix("WITH ")},
              |$closureCtes
              |SELECT node, min(c) AS canon FROM reach GROUP BY node""".stripMargin),
      (s, dir) => {
        val pairs = Dedup.nearDuplicates(docs(s, dir), col("doc_id"), col("text"), 0.8)
        Dedup.connectedComponents(pairs, col("d1"), col("d2"))
      }),

    // Leakage-safe train/eval split: near-dup clusters land WHOLE on one
    // side of the holdout (cluster canon % 10 → eval bucket 0), so no
    // near-duplicate pair straddles the split — the discipline that keeps
    // eval numbers honest. The oracle closes the same q61 clusters
    // recursively, then replays the bucket rule over every doc (docs in
    // no pair are their own singleton cluster via the left join).
    Q("q140_leakage_split",
      Some(s"""WITH RECURSIVE ${baseCtes.stripPrefix("WITH ")},
              |$closureCtes,
              |cc AS (SELECT node, min(c) AS canon FROM reach GROUP BY node)
              |SELECT d.doc_id, coalesce(cc.canon, d.doc_id) AS cluster,
              |  CASE WHEN coalesce(cc.canon, d.doc_id) % 10 < 1
              |       THEN 'eval' ELSE 'train' END AS split
              |FROM documents d LEFT JOIN cc ON cc.node = d.doc_id""".stripMargin),
      (s, dir) =>
        Dedup.leakageSafeSplit(docs(s, dir), col("doc_id"), col("text"), 0.8)),

    // The dedup DELETION step end to end: near-dup pairs → clusters →
    // anti-join away every non-canonical member, count survivors by lang.
    // This is what a pipeline actually ships — q61 diagnoses, q74 deletes.
    Q("q74_dedup_apply",
      Some(s"""WITH RECURSIVE ${baseCtes.stripPrefix("WITH ")},
              |$closureCtes,
              |cc AS (SELECT node, min(c) AS canon FROM reach GROUP BY node)
              |SELECT d.lang, count(*) AS n_kept
              |FROM documents d
              |WHERE d.doc_id NOT IN (SELECT node FROM cc WHERE node <> canon)
              |GROUP BY d.lang""".stripMargin),
      (s, dir) => {
        val d = docs(s, dir)
        val pairs = Dedup.nearDuplicates(d, col("doc_id"), col("text"), 0.8)
        val removed = Dedup.connectedComponents(pairs, col("d1"), col("d2"))
          .filter(col("node") =!= col("canon"))
          .select(col("node"))
        d.join(removed, col("doc_id") === col("node"), "left_anti")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_kept"))
      }),

    // The PRODUCTION deletion policy: per duplicate cluster, keep the
    // highest-quality member (n_chars, ties to smaller id) instead of
    // q74's min-id canon. One row per cluster: elected representative,
    // member count, the representative's quality. The oracle closes the
    // same clusters recursively, then replays the election as a
    // row_number window with the identical ordering.
    Q("q121_dedup_best_rep",
      Some(s"""WITH RECURSIVE ${baseCtes.stripPrefix("WITH ")},
              |$closureCtes,
              |cc AS (SELECT node, min(c) AS canon FROM reach GROUP BY node),
              |r AS (SELECT cc.canon, cc.node, d.n_chars,
              |  row_number() OVER (PARTITION BY cc.canon
              |    ORDER BY d.n_chars DESC, cc.node) AS rn
              |  FROM cc JOIN documents d ON d.doc_id = cc.node)
              |SELECT canon, count(*) AS n_members,
              |  max(CASE WHEN rn = 1 THEN node END) AS rep,
              |  max(CASE WHEN rn = 1 THEN n_chars END) AS rep_chars
              |FROM r GROUP BY canon""".stripMargin),
      (s, dir) => {
        val d = docs(s, dir)
        val pairs = Dedup.nearDuplicates(d, col("doc_id"), col("text"), 0.8)
        Dedup.bestQualityCanon(pairs, col("d1"), col("d2"),
            d, col("doc_id"), col("n_chars"))
          .groupBy("canon").agg(
            count(lit(1)).as("n_members"),
            // rep is window-constant within a canon group; max() just
            // carries it through the aggregate
            max(col("rep")).as("rep"),
            max(when(col("node") === col("rep"), col("quality"))).as("rep_chars"))
      }),

    // The round-7 web-corpus pipeline end to end: classifier gate
    // (bag-of-words logistic keep/drop) → near-dup clustering with
    // BEST-QUALITY representative election → per-domain quota. Each
    // stage is independently oracled (q120/q121/q122); this composite
    // proves they chain — DuckDB replays all three stages in one
    // recursive-CTE query. Survivor frame persisted once (CacheScope):
    // the gate+dedup chain feeds both the quota rank and the per-domain
    // totals without re-executing.
    Q("q123_webcorpus_e2e", {
      val zSql = WeightedSentiment.zSql(WebGateWeights, WebGateBias, "tk")
      Some(s"""WITH RECURSIVE d0 AS (SELECT doc_id, text, n_chars,
              |  ${PlantedHosts.caseSql(WebHosts)} AS host FROM documents),
              |g0 AS (SELECT doc_id, text, n_chars,
              |  ${registeredDomainSql("host")} AS domain, $toksSql AS tk FROM d0),
              |g AS (SELECT doc_id, text, n_chars, domain, tk FROM g0 WHERE $zSql > 0),
              |t AS (SELECT doc_id, tk FROM g),
              |$closureCtes,
              |cc AS (SELECT node, min(c) AS canon FROM reach GROUP BY node),
              |rq AS (SELECT cc.node,
              |  row_number() OVER (PARTITION BY cc.canon
              |    ORDER BY g.n_chars DESC, cc.node) AS rn
              |  FROM cc JOIN g ON g.doc_id = cc.node),
              |s AS (SELECT * FROM g
              |  WHERE doc_id NOT IN (SELECT node FROM rq WHERE rn > 1)),
              |k AS (SELECT domain, n_chars,
              |  row_number() OVER (PARTITION BY domain
              |    ORDER BY n_chars DESC, doc_id) AS rn FROM s)
              |SELECT domain, count(*) AS n_dedup,
              |  CAST(count_if(rn <= $WebQuota) AS BIGINT) AS n_kept,
              |  CAST(sum(CASE WHEN rn <= $WebQuota THEN n_chars END) AS BIGINT) AS kept_chars
              |FROM k GROUP BY domain""".stripMargin)
    },
      (s, dir) => {
        val d0 = docs(s, dir).select(col("doc_id"), col("text"),
          col("n_chars"), registeredDomain(PlantedHosts.column(WebHosts)).as("domain"))
        val g = CacheScope.unmanaged.persist(
          WeightedSentiment(WebGateWeights, WebGateBias)
            .score(d0, col("text"))
            .filter(col("sentiment") === "positive")
            .select("doc_id", "text", "n_chars", "domain"))
        val pairs = Dedup.nearDuplicates(g, col("doc_id"), col("text"), 0.8)
        val removed = Dedup.bestQualityCanon(pairs, col("d1"), col("d2"),
            g, col("doc_id"), col("n_chars"))
          .filter(col("node") =!= col("rep")).select("node")
        val sv = g.join(removed, g("doc_id") === col("node"), "left_anti")
        val kept = Relational.topKPerGroup(sv, Seq(col("domain")),
            Seq(col("n_chars").desc, col("doc_id")), WebQuota)
          .groupBy("domain").agg(
            count(lit(1)).as("n_kept"),
            sum("n_chars").as("kept_chars"))
        sv.groupBy("domain").agg(count(lit(1)).as("n_dedup"))
          .join(kept, Seq("domain"))
      }),

    // Train/eval contamination over an even/odd doc_id split — the
    // planted near-dup pairs that straddle the split surface as
    // contaminated eval docs (overlap >= 0.5).
    Q("q48_contamination",
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
              |tr AS (SELECT DISTINCT unnest(list_distinct($shSql)) AS sh
              |  FROM t WHERE doc_id % 2 = 0),
              |ev AS (SELECT doc_id, unnest(list_distinct($shSql)) AS sh
              |  FROM t WHERE doc_id % 2 = 1),
              |sz AS (SELECT doc_id, count(*) AS n_sh FROM ev GROUP BY 1),
              |hit AS (SELECT ev.doc_id, count(*) AS n_hit
              |  FROM ev JOIN tr USING (sh) GROUP BY 1)
              |SELECT sz.doc_id AS doc, n_sh,
              |  COALESCE(n_hit, 0) AS n_hit,
              |  round(CAST(COALESCE(n_hit, 0) AS DOUBLE) / n_sh, 4) AS overlap_r
              |FROM sz LEFT JOIN hit ON sz.doc_id = hit.doc_id
              |WHERE CAST(COALESCE(n_hit, 0) AS DOUBLE) / n_sh >= 0.5""".stripMargin),
      (s, dir) => {
        val d = docs(s, dir)
        Dedup.contamination(
            d.filter(col("doc_id") % 2 === 0), col("doc_id"), col("text"),
            d.filter(col("doc_id") % 2 === 1), col("doc_id"), col("text"))
          .filter(col("overlap") >= 0.5)
          .select(col("doc"), col("n_sh"), col("n_hit"),
            round(col("overlap"), 4).as("overlap_r"))
      }),

    // N-gram decontamination with span removal (the GPT-3-style eval
    // scrub): q48 FLAGS contaminated docs; this rewrites them — every
    // train-token position covered by a 5-gram that also occurs in the
    // eval half (odd doc_ids) is cut and the survivors re-join in
    // order. The planted near-dup pairs straddling the even/odd split
    // provide real shared spans. Eval grams broadcast (driver-small by
    // contract); only hit positions shuffle.
    Q("q138_decontaminate_spans", {
      val hs5 = shingleHashesSql("tk", 5)
      Some(s"""WITH tr AS (SELECT doc_id, $toksSql AS tk FROM documents
              |  WHERE doc_id % 2 = 0),
              |evt AS (SELECT $toksSql AS tk FROM documents WHERE doc_id % 2 = 1),
              |evg AS (SELECT DISTINCT unnest($hs5) AS sh FROM evt),
              |g AS (SELECT doc_id, tk, $hs5 AS hs FROM tr),
              |pos AS (SELECT doc_id, unnest(generate_series(1, len(hs))) AS p,
              |    unnest(hs) AS sh FROM g),
              |cut AS (SELECT DISTINCT doc_id, cov FROM (
              |  SELECT h.doc_id, unnest(generate_series(h.p, h.p + 4)) AS cov
              |  FROM (SELECT pos.doc_id, pos.p FROM pos JOIN evg USING (sh)) h)),
              |$spanRebuildSql""".stripMargin)
    },
      (s, dir) => {
        val d = docs(s, dir)
        Dedup.decontaminateSpans(
          d.filter(col("doc_id") % 2 === 0), col("doc_id"), col("text"),
          d.filter(col("doc_id") % 2 === 1), col("text"), k = 5)
      }),

    // Corpus-level exact-substring dedup (Lee et al. 2021 shape): every
    // duplicated 5-token run is cut from every occurrence except the
    // globally first (ordered by doc_id, start) — the cross-document
    // boilerplate scrub doc-level MinHash can't do. The oracle replays
    // first-occurrence selection as a row_number window; the engine's
    // map-side min(struct(doc,pos)) is the same ordering without a
    // corpus-scale sort.
    Q("q139_exact_substring_dedup", {
      val hs5 = shingleHashesSql("tk", 5)
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
              |g AS (SELECT doc_id, tk, $hs5 AS hs FROM t),
              |pos AS (SELECT doc_id, unnest(generate_series(1, len(hs))) AS p,
              |    unnest(hs) AS sh FROM g),
              |r AS (SELECT doc_id, p,
              |    row_number() OVER (PARTITION BY sh ORDER BY doc_id, p) AS rn
              |  FROM pos),
              |cut AS (SELECT DISTINCT doc_id, cov FROM (
              |  SELECT doc_id, unnest(generate_series(p, p + 4)) AS cov
              |  FROM r WHERE rn > 1)),
              |$spanRebuildSql""".stripMargin)
    },
      (s, dir) =>
        Dedup.dedupExactSubstrings(docs(s, dir), col("doc_id"), col("text"),
          k = 5)),

    // Cross-source overlap matrix: distinct-shingle containment for every
    // source pair (sources planted by doc_id % 4) — the corpus-composition
    // diagnostic that decides joint-vs-separate dedup and flags
    // double-counted mixture weights. No doc-pair enumeration: the corpus
    // collapses to distinct (source, shingle) rows and the join fans out
    // at most |sources| per hash.
    Q("q143_source_overlap",
      Some(s"""WITH d AS (SELECT CASE doc_id % 4 WHEN 0 THEN 'web' WHEN 1 THEN 'books'
              |      WHEN 2 THEN 'code' ELSE 'wiki' END AS source, text FROM documents),
              |t AS (SELECT source, $toksSql AS tk FROM d),
              |p AS (SELECT DISTINCT source, sh FROM
              |  (SELECT source, unnest($shSql) AS sh FROM t)),
              |sizes AS (SELECT source, count(*) AS n FROM p GROUP BY source),
              |ov AS (SELECT a.source AS s1, b.source AS s2, count(*) AS n_shared
              |  FROM p a JOIN p b ON a.sh = b.sh AND a.source < b.source
              |  GROUP BY 1, 2)
              |SELECT s1, s2, n_shared, x.n AS n_s1, y.n AS n_s2,
              |  round(CAST(n_shared AS DOUBLE) / least(x.n, y.n), 6) AS overlap
              |FROM ov JOIN sizes x ON x.source = s1
              |JOIN sizes y ON y.source = s2""".stripMargin),
      (s, dir) => {
        val src = col("doc_id") % 4
        val source = when(src === 0, "web").when(src === 1, "books")
          .when(src === 2, "code").otherwise("wiki")
        Dedup.sourceOverlapMatrix(
          docs(s, dir).withColumn("source", source),
          col("doc_id"), col("text"), col("source"))
      }),

    // Content-defined chunking + chunk-level dup census: boundaries where
    // the rolling 8-token shingle hash ≡ 0 (mod 32), one row per chunk
    // with its corpus-wide copy count — sub-document duplicate mass
    // (boilerplate, templates) surfaced without alignment search. The
    // oracle replays boundary selection, the lag-window span assembly,
    // the slice, the portable chunk hash, and the copy-count join.
    Q("q144_cdc_chunk_dedup", {
      val hs8 = shingleHashesSql("tk", 8)
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
              |g AS (SELECT doc_id, tk, $hs8 AS hs FROM t),
              |b AS (SELECT doc_id, unnest(generate_series(1, len(hs))) AS p,
              |    unnest(hs) AS sh FROM g),
              |bn AS (SELECT doc_id, p + 7 AS e FROM b WHERE sh % 32 = 0),
              |ends AS (SELECT doc_id, e FROM bn
              |  UNION SELECT doc_id, len(tk) FROM t),
              |sp AS (SELECT doc_id, e,
              |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0) + 1 AS s
              |  FROM ends),
              |ch AS (SELECT sp.doc_id, s, e, e - s + 1 AS n_tok,
              |    ${portableHashSql("array_to_string(tk[s:e], ' ')")} AS chunk_hash
              |  FROM sp JOIN t USING (doc_id)),
              |cg AS (SELECT chunk_hash, count(*) AS n_copies
              |  FROM ch GROUP BY chunk_hash)
              |SELECT doc_id, s, e, n_tok, chunk_hash, n_copies
              |FROM ch JOIN cg USING (chunk_hash)""".stripMargin)
    },
      (s, dir) => {
        val ch = Dedup.cdcChunks(docs(s, dir), col("doc_id"), col("text"),
          k = 8, divisor = 32)
        val cg = ch.groupBy("chunk_hash").agg(count(lit(1)).as("n_copies"))
        ch.join(cg, "chunk_hash")
          .select(col("doc_id"), col("s").cast("long").as("s"),
            col("e").cast("long").as("e"), col("n_tok"),
            col("chunk_hash"), col("n_copies"))
      }),

    // Winnowing fingerprints (MOSS): min-of-window selection over the
    // 3-shingle hash stream, w=4 — the position-anchored sketch whose
    // guarantee (any shared ≥ w+k−1-token run lands one identical
    // fingerprint in both docs) makes substring-level matching joinable.
    // The oracle replays the same window sweep with list_min +
    // list_position (ties to the earliest position on both sides).
    Q("q146_winnowing",
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
              |g AS (SELECT doc_id, $shSql AS hs FROM t),
              |wins AS (SELECT doc_id, unnest(generate_series(1,
              |      greatest(len(hs) - 3, 1))) AS i, hs
              |  FROM g WHERE len(hs) >= 1),
              |sel AS (SELECT DISTINCT doc_id,
              |    i + list_position(hs[i:i+3], list_min(hs[i:i+3])) - 1 AS p,
              |    list_min(hs[i:i+3]) AS sh
              |  FROM wins)
              |SELECT doc_id, p, sh FROM sel""".stripMargin),
      (s, dir) =>
        Dedup.winnowing(docs(s, dir), col("doc_id"), col("text"),
          k = 3, w = 4)),

    // Incremental dedup: a delta batch classified against the existing
    // base corpus (exact_dup / near_dup / kept) WITHOUT re-clustering the
    // base — the production shape at 100 TB, where every arriving batch
    // checks against stored base hashes and bands. Delta = the doc_id%4==1
    // quarter plus 10 re-id'd base docs (the planted exact dups); the
    // corpus's planted near-pairs straddling the split surface as
    // near_dups.
    Q("q89_incremental_dedup",
      Some(s"""WITH delta AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 1
              |  UNION ALL
              |  SELECT doc_id + 200000, text FROM documents
              |  WHERE doc_id % 4 = 0 AND doc_id < 40),
              |base AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 1),
              |dt AS (SELECT doc_id, $toksSql AS tk FROM delta),
              |bt AS (SELECT doc_id, $toksSql AS tk FROM base),
              |ex AS (SELECT doc_id FROM delta
              |  WHERE md5(text) IN (SELECT DISTINCT md5(text) FROM base)),
              |dsig AS (SELECT doc_id, mh0, mh1, mh2, mh3 FROM (
              |    SELECT doc_id,
              |$minhashExprs
              |    FROM (SELECT doc_id, $shSql AS hs FROM dt))),
              |bsig AS (SELECT doc_id, mh0, mh1, mh2, mh3 FROM (
              |    SELECT doc_id,
              |$minhashExprs
              |    FROM (SELECT doc_id, $shSql AS hs FROM bt))),
              |cand AS (SELECT DISTINCT d.doc_id AS dd, b.doc_id AS bd
              |  FROM dsig d JOIN bsig b
              |    ON ((d.mh0 = b.mh0 AND d.mh1 = b.mh1) OR (d.mh2 = b.mh2 AND d.mh3 = b.mh3))),
              |dshs AS (SELECT doc_id, list_distinct($shSql) AS shs FROM dt),
              |bshs AS (SELECT doc_id, list_distinct($shSql) AS shs FROM bt),
              |nr AS (SELECT DISTINCT c.dd AS doc_id FROM cand c
              |  JOIN dshs a ON a.doc_id = c.dd
              |  JOIN bshs b ON b.doc_id = c.bd
              |  WHERE CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
              |        / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))) >= 0.8)
              |SELECT d.doc_id,
              |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
              |       WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
              |       ELSE 'kept' END AS status
              |FROM delta d
              |LEFT JOIN ex ON ex.doc_id = d.doc_id
              |LEFT JOIN nr ON nr.doc_id = d.doc_id""".stripMargin),
      (s, dir) => {
        val d = docs(s, dir).select("doc_id", "text")
        val delta = d.filter(col("doc_id") % 4 === 1)
          .union(d.filter((col("doc_id") % 4 === 0) && (col("doc_id") < 40))
            .select((col("doc_id") + 200000).as("doc_id"), col("text")))
        val base = d.filter(col("doc_id") % 4 =!= 1)
        Dedup.incrementalDedup(base, col("doc_id"), col("text"),
          delta, col("doc_id"), col("text"), 0.8)
      }),

    // 16-bit SimHash per doc, distributed-aggregate formulation.
    Q("q38_simhash", {
      val bitTerms = (0 until 16).map { b =>
        s"CASE WHEN sum(CASE WHEN (hv >> $b) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN ${1L << b} ELSE 0 END"
      }.mkString("\n    + ")
      Some(s"""WITH p AS (SELECT doc_id AS doc, unnest($toksSql) AS t FROM documents),
              |h AS (SELECT doc, ${portableHashSql("t")} % 65536 AS hv FROM p)
              |SELECT doc, CAST($bitTerms AS BIGINT) AS simhash
              |FROM h GROUP BY doc""".stripMargin)
    },
      (s, dir) =>
        Dedup.simhash16(docs(s, dir), col("doc_id"), col("text"))),

    // SimHash hamming-radius pairs, exact via pigeonhole banding on the
    // full 60-bit hash (4 bands × 15 bits for radius 3): a within-radius
    // pair must collide on one band, and 32768 values per band keep the
    // candidate join linear in the corpus. Band buckets are frequency-
    // capped at 1000 postings (the boilerplate discipline — a corpus-
    // common signature value can't go quadratic); the oracle replays the
    // cap, so the semantics are pinned even where the cap binds.
    Q("q52_simhash_neardup", {
      val bitTerms = (0 until 60).map { b =>
        s"CASE WHEN sum(CASE WHEN (hv >> $b) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN ${1L << b} ELSE 0 END"
      }.mkString("\n    + ")
      Some(s"""WITH p AS (SELECT doc_id AS doc, unnest($toksSql) AS t FROM documents),
              |hh AS (SELECT doc, ${portableHashSql("t")} AS hv FROM p),
              |sig AS (SELECT doc, CAST($bitTerms AS BIGINT) AS simhash FROM hh GROUP BY doc),
              |bands AS (SELECT doc, simhash, band, (simhash >> (band * 15)) & 32767 AS bv
              |  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS band)),
              |ok AS (SELECT band, bv FROM bands GROUP BY band, bv
              |  HAVING count(*) >= 2 AND count(*) <= 1000),
              |bp AS (SELECT bands.* FROM bands JOIN ok USING (band, bv)),
              |cand AS (SELECT DISTINCT a.doc AS d1, b.doc AS d2,
              |    a.simhash AS s1, b.simhash AS s2
              |  FROM bp a JOIN bp b
              |    ON a.band = b.band AND a.bv = b.bv AND a.doc < b.doc)
              |SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming
              |FROM cand WHERE bit_count(xor(s1, s2)) <= 3""".stripMargin)
    },
      (s, dir) =>
        Dedup.simhashNearDup(docs(s, dir), col("doc_id"), col("text"))),

    // Substring-level dedup: document pairs sharing ≥1 distinct 8-token
    // span (posting-list join on span hashes, frequency-capped at 50 docs
    // per span so boilerplate spans can't go quadratic). Catches the
    // pasted-paragraph case whole-document Jaccard dilutes away.
    Q("q98_span_overlap",
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
              |p AS (SELECT DISTINCT doc_id, sh FROM
              |  (SELECT doc_id, unnest(${shingleHashesSql("tk", 8)}) AS sh FROM t)),
              |f AS (SELECT sh FROM p GROUP BY sh
              |  HAVING count(*) >= 2 AND count(*) <= 50),
              |pp AS (SELECT p.doc_id, p.sh FROM p JOIN f USING (sh))
              |SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_spans
              |FROM pp a JOIN pp b ON a.sh = b.sh AND a.doc_id < b.doc_id
              |GROUP BY 1, 2""".stripMargin),
      (s, dir) =>
        Dedup.sharedSpanPairs(docs(s, dir), col("doc_id"), col("text"),
          k = 8, minShared = 1L, maxDocsPerSpan = 50L)),

    // Unicode-normalized dedup: the SAME accented word planted once
    // composed (é = U+00E9) and once decomposed (e + U+0301) — byte-level
    // dedup sees two distinct docs, NFC-keyed dedup groups them. The
    // normalizer is the engine's codegen'd NfcNormalize expression; the
    // oracle replays it with DuckDB's nfc_normalize (both UAX #15).
    Q("q102_unicode_dedup",
      Some("""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000, text || ' caf' || chr(233)
             |  FROM documents WHERE doc_id < 40
             |  UNION ALL
             |  SELECT doc_id + 200000, text || ' cafe' || chr(769)
             |  FROM documents WHERE doc_id < 40)
             |SELECT min(doc_id) AS keeper, count(*) AS n_dups
             |FROM corpus GROUP BY md5(nfc_normalize(text))
             |HAVING count(*) > 1""".stripMargin),
      (s, dir) => {
        val d = docs(s, dir).select("doc_id", "text")
        val lt40 = d.filter(col("doc_id") < 40)
        val corpus = d
          .union(lt40.select((col("doc_id") + 100000).as("doc_id"),
            concat(col("text"), lit(" caf\u00e9")).as("text")))   // composed
          .union(lt40.select((col("doc_id") + 200000).as("doc_id"),
            concat(col("text"), lit(" cafe\u0301")).as("text")))  // decomposed
        Dedup.exactGroups(corpus, col("doc_id"), col("text"),
            c => md5(graft.functions.Native.nfcNormalize(c)))
          .filter(col("n_dups") > 1)
          .select("keeper", "n_dups")
      })
  )
}
