package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.TextFunctions
import graft.operators.{BradleyTerry, Frontier, Graph, Relational}
import graft.similarity.Similarity
import graft.sources.Tables

/** Round-8 corpus/crawl-management suite: link-graph centrality as a
  * document-quality prior (q124), product quantization + ADC search —
  * the compressed-vector tier of the ANN stack (q125/q126), JL random
  * projection (q127), crawl-release snapshot diff (q128), latest-crawl
  * selection per canonical URL (q129), the deterministic seeded
  * training-order shuffle with exact global positions (q130),
  * seed-personalized PageRank — proximity-to-vetted-seeds as the
  * quality prior (q131), and HITS hubs/authorities — the
  * directory-vs-content page separation (q133).
  *
  * Graph/URL inputs are synthesized deterministically from `doc_id`
  * (hash-generated edges, planted URL variants) with the SAME arithmetic
  * on both engines, so every query stays hash-checkable end to end.
  */
object CorpusQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)

  private val eCte = "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"

  /** 4 subspaces × 16 dims over the 64-dim embeddings; sub-codebooks
    * sliced from seed rows 1..8 (code = vec_id − 1), exactly like the
    * IVF oracle's seeded codebook. */
  private val PqSub = 4
  private val PqSubDim = 16
  private val PqSeeds: Seq[Long] = 1L to 8L

  /** DuckDB CTEs replaying [[Similarity.pqEncode]]: sub-codebook `cb`,
    * per-(vector, subspace) distances in the same ‖c‖² − 2⟨v_m,c⟩
    * rank-equivalent form (each fold strict left-to-right, so the
    * argmin keys are bit-identical), winner by (d, code) — the
    * `array_min` struct order. `srcFilter` narrows the encoded set. */
  private def pqEncodeCtes(srcFilter: String): String =
    s"""cb AS (SELECT m, (vec_id - 1) AS code,
       |    list_slice(v, m*$PqSubDim + 1, (m+1)*$PqSubDim) AS cent
       |  FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS m)
       |  WHERE vec_id BETWEEN 1 AND 8),
       |sub AS (SELECT t.vec_id, cb.m, cb.code, cb.cent,
       |    list_slice(t.v, cb.m*$PqSubDim + 1, (cb.m+1)*$PqSubDim) AS s
       |  FROM (SELECT vec_id, v FROM e $srcFilter) t CROSS JOIN cb),
       |scored AS (SELECT vec_id, m, code,
       |    (${Similarity.dotSql("cent", "cent")}) - 2.0*(${Similarity.dotSql("s", "cent")}) AS d
       |  FROM sub),
       |best AS (SELECT vec_id, m, code FROM scored
       |  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) = 1)""".stripMargin

  /** The q124 link graph as SQL: CTE `name` (src, dst) holds three
    * hash-drawn out-links per doc of CTE `docs`, self-loops dropped,
    * modulo `Nb` (the doc count, from CTE `nd`). The twin of
    * `linkEdges`. Used by q124, q131, q133, q134 and q159. */
  private def linkEdgesCte(name: String): String = {
    val h = TextFunctions.portableHashSql(
      "(CAST(d.doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR))")
    s"""$name AS (SELECT d.doc_id AS src, $h % Nb AS dst
       |  FROM docs d CROSS JOIN nd CROSS JOIN (SELECT unnest([1, 2, 3]) AS j)
       |  WHERE $h % Nb <> d.doc_id)""".stripMargin
  }

  /** The q124 link graph as a frame over `d` (doc_id): the twin of
    * `linkEdgesCte`. Used by q124, q131, q133, q134 and q159. */
  private def linkEdges(d: DataFrame): DataFrame = {
    val nb = d.agg(count(lit(1)).as("Nb"))
    d.crossJoin(broadcast(nb))
      .select(col("doc_id").as("src"),
        explode(sequence(lit(1), lit(3))).as("j"), col("Nb"))
      .withColumn("dst",
        TextFunctions.portableHash(
          concat(col("src").cast("string"), lit(":"), col("j"))) % col("Nb"))
      .filter(col("dst") =!= col("src"))
      .select("src", "dst")
  }

  /** The random-surfer graph: `docs`, `nd` (N and Nb), `edges` and each
    * source's out-degree `deg`. Used by `pagerankSql` and `pprSql`. */
  private def rankGraphCtes: String =
    s"""WITH docs AS (SELECT doc_id FROM documents),
       |nd AS (SELECT CAST(count(*) AS DOUBLE) AS N,
       |  CAST(count(*) AS BIGINT) AS Nb FROM docs),
       |${linkEdgesCte("edges")},
       |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg
       |  FROM edges GROUP BY src)""".stripMargin

  /** Round `i`'s rank flow from ranks `r(i-1)`: the out-degree-divided
    * contributions into each node (`c$i`) and the dangling mass of nodes
    * with no out-link (`m$i`). Used by `pagerankSql` and `pprSql`. */
  private def rankFlowCtes(i: Int): String =
    s"""c$i AS (SELECT e.dst AS node, sum(r.rank / g.outdeg) AS contrib
       |  FROM edges e JOIN r${i - 1} r ON r.node = e.src
       |  JOIN deg g ON g.src = e.src
       |  GROUP BY e.dst),
       |m$i AS (SELECT coalesce(sum(r.rank), 0.0) AS dmass
       |  FROM r${i - 1} r LEFT JOIN deg g ON g.src = r.node
       |  WHERE g.src IS NULL)""".stripMargin

  /** DuckDB replay of the q124 PageRank: hash-generated 3-out-degree
    * graph over doc_ids (self-loops removed), then `iters` unrolled
    * power iterations with out-degree division, teleport, and the
    * dangling-mass term — the operator's exact update rule. */
  private def pagerankSql(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""${rankFlowCtes(i)},
         |r$i AS (SELECT d.doc_id AS node,
         |    (1 - 0.85) / N + 0.85 * (coalesce(c.contrib, 0.0) + m.dmass / N) AS rank
         |  FROM docs d CROSS JOIN nd CROSS JOIN m$i m
         |  LEFT JOIN c$i c ON c.node = d.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""$rankGraphCtes,
       |r0 AS (SELECT doc_id AS node, 1.0 / N AS rank FROM docs CROSS JOIN nd),
       |$iterCtes
       |SELECT node AS doc_id,
       |  CAST(floor(rank * 1000000 + 0.001) AS BIGINT) AS pr_micro FROM r$iters""".stripMargin
  }

  /** DuckDB replay of the q131 personalized PageRank: same hash-generated
    * graph as q124, but teleportation lands on the seed distribution
    * (doc_id%10==0, weight 2 for %20==0 else 1, normalized) and dangling
    * mass re-teleports BY that distribution — the Haveliwala update
    *   r'(v) = (1−d)·p(v) + d·(Σ contribs + dmass·p(v)).
    * The teleport factor must be `(1 - CAST(0.85 AS DOUBLE))`, not
    * `(1 - 0.85)`: DuckDB evaluates the latter in exact DECIMAL (0.15,
    * one ulp BELOW Scala's binary64 1−0.85 = 0.15000000000000002), and
    * that ulp crossed a floor-quantization boundary at sf0.01 (doc 55:
    * 1614 vs 1615 micro). Forcing the subtraction into binary64 makes
    * both engines compute the identical constant. */
  private def pprSql(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""${rankFlowCtes(i)},
         |r$i AS (SELECT pp.node,
         |    (1 - CAST(0.85 AS DOUBLE)) * pp.p + 0.85 * (coalesce(c.contrib, 0.0) + m.dmass * pp.p) AS rank,
         |    pp.p AS p
         |  FROM p pp CROSS JOIN m$i m
         |  LEFT JOIN c$i c ON c.node = pp.node)""".stripMargin
    }.mkString(",\n")
    s"""$rankGraphCtes,
       |wt AS (SELECT sum(CASE WHEN doc_id % 20 = 0 THEN 2.0 ELSE 1.0 END) AS total
       |  FROM docs WHERE doc_id % 10 = 0),
       |p AS (SELECT d.doc_id AS node,
       |    (CASE WHEN d.doc_id % 10 = 0 THEN
       |       (CASE WHEN d.doc_id % 20 = 0 THEN 2.0 ELSE 1.0 END)
       |     ELSE 0.0 END) / wt.total AS p
       |  FROM docs d CROSS JOIN wt),
       |r0 AS (SELECT node, p AS rank, p FROM p),
       |$iterCtes
       |SELECT node AS doc_id,
       |  CAST(floor(rank * 1000000 + 0.001) AS BIGINT) AS ppr_micro FROM r$iters""".stripMargin
  }

  /** DuckDB replay of the q133 HITS iterations over the q124 graph:
    * auth from current hubs, max-normalize, hub from the NEW auths,
    * max-normalize — `max` (not an L1/L2 sum) is the normalizer
    * precisely because it is summation-order-independent, so the only
    * cross-engine float hazard left is the per-node contribution sums.
    * Unlike q124's teleport-smeared ranks, HITS scores are SMALL
    * RATIONALS (count/max ratios like 42/125) that land exactly on the
    * micro-quantization grid, where a summation-order ulp flips the
    * floor digit (observed at sf0.01: 335999 vs 336000). The quantizer
    * is therefore `floor(x·10⁶ + 10⁻³)`: the nudge is ~10⁷× the ulp
    * noise and 10⁻³ of the grid step, so both engines land on the same
    * side of every boundary, and a value within 10⁻³ micro BELOW a grid
    * point quantizes up — a documented definition choice, applied
    * identically on both sides. */
  private def hitsSql(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""ar$i AS (SELECT e.dst AS node, sum(r.hub) AS auth_raw
         |  FROM edges e JOIN r${i - 1} r ON r.node = e.src GROUP BY e.dst),
         |am$i AS (SELECT coalesce(max(auth_raw), 1.0) AS a_max FROM ar$i),
         |a$i AS (SELECT d.doc_id AS node,
         |    coalesce(ar.auth_raw, 0.0) / am.a_max AS auth
         |  FROM docs d CROSS JOIN am$i am
         |  LEFT JOIN ar$i ar ON ar.node = d.doc_id),
         |hr$i AS (SELECT e.src AS node, sum(a.auth) AS hub_raw
         |  FROM edges e JOIN a$i a ON a.node = e.dst GROUP BY e.src),
         |hm$i AS (SELECT coalesce(max(hub_raw), 1.0) AS h_max FROM hr$i),
         |r$i AS (SELECT d.doc_id AS node,
         |    coalesce(hr.hub_raw, 0.0) / hm.h_max AS hub, a.auth AS auth
         |  FROM docs d CROSS JOIN hm$i hm
         |  LEFT JOIN hr$i hr ON hr.node = d.doc_id
         |  JOIN a$i a ON a.node = d.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH docs AS (SELECT doc_id FROM documents),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS Nb FROM docs),
       |${linkEdgesCte("edges")},
       |r0 AS (SELECT doc_id AS node, 1.0 AS hub, 1.0 AS auth FROM docs),
       |$iterCtes
       |SELECT node AS doc_id,
       |  CAST(floor(hub * 1000000 + 0.001) AS BIGINT) AS hub_micro,
       |  CAST(floor(auth * 1000000 + 0.001) AS BIGINT) AS auth_micro FROM r$iters""".stripMargin
  }

  /** DuckDB replay of the q134 label propagation: seeds every 25th doc
    * with one of 5 community labels, then `iters` rounds of
    * mode-of-labeled-neighbors over the UNDIRECTED q124 graph with the
    * operator's exact rules (seeds clamped, min-label tie-break,
    * no-labeled-neighbor keeps previous). Counting is integer end to
    * end — no float anywhere, so parity is exact by construction. */
  private def labelPropSql(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""nc$i AS (SELECT u.dst, l.label, count(*) AS cnt
         |  FROM und u JOIN l${i - 1} l ON l.node = u.src
         |  WHERE l.label IS NOT NULL GROUP BY u.dst, l.label),
         |md$i AS (SELECT dst AS node, label AS mode_label FROM nc$i
         |  QUALIFY row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, label) = 1),
         |l$i AS (SELECT sd.node, coalesce(sd.seed, m.mode_label, p.label) AS label
         |  FROM sd LEFT JOIN md$i m ON m.node = sd.node
         |  LEFT JOIN l${i - 1} p ON p.node = sd.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH docs AS (SELECT doc_id FROM documents),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS Nb FROM docs),
       |${linkEdgesCte("edges")},
       |und AS (SELECT src, dst FROM edges
       |  UNION ALL SELECT dst AS src, src AS dst FROM edges),
       |sd AS (SELECT doc_id AS node,
       |    CASE WHEN doc_id % 25 = 0 THEN (doc_id // 25) % 5 END AS seed
       |  FROM docs),
       |l0 AS (SELECT node, seed AS label FROM sd),
       |$iterCtes
       |SELECT node AS doc_id, CAST(label AS BIGINT) AS community FROM l$iters""".stripMargin
  }

  private val CrawlHosts = Seq("crawl-a.example.com", "crawl-b.example.org",
    "crawl-c.example.net", "crawl-d.example.io")

  /** Host keyed by an arbitrary index COLUMN (0..3) — the link-target
    * variant of [[PlantedHosts.column]], which is hard-keyed on doc_id. */
  private def hostByIdx(idx: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    CrawlHosts.zipWithIndex.tail
      .foldLeft(when(idx === 0, lit(CrawlHosts.head))) {
        case (c, (h, i)) => c.when(idx === i, lit(h))
      }

  private def hostByIdxSql(e: String): String =
    s"CASE $e ${CrawlHosts.zipWithIndex.map { case (h, i) =>
      s"WHEN $i THEN '$h'" }.mkString(" ")} END"

  /** Shared DuckDB frontier CTEs (q167/q169): planted pages with 3
    * hash-drawn `<a href>` outlinks each (scheme-case / tracking-param /
    * fragment variants, plus relative and mailto links that must drop),
    * href extraction, canonicalization, per-URL discovery stats, and the
    * not-yet-crawled filter — the SQL twin of [[Frontier.expand]]'s
    * whole chain, ending in the `fr` frame. */
  private def frontierCtes: String = {
    val canonSrc = TextFunctions.canonicalizeUrlSql(crawlUrlSql)
    def kSql(j: Int) = "(" + TextFunctions.portableHashSql(
      s"(CAST(doc_id AS VARCHAR) || ':lnk:$j')") + " % 150)"
    def tgtSql(j: Int, scheme: String, suffix: String) =
      s"'$scheme' || ${hostByIdxSql(s"${kSql(j)} % 4")} || '/page/' || " +
        s"CAST(${kSql(j)} AS VARCHAR) || '$suffix'"
    s"""WITH pg AS (SELECT $canonSrc AS src,
       |    '<html><body>' ||
       |    '<a href="' || ${tgtSql(1, "HTTPS://", "#top")} || '">a</a>' ||
       |    '<a class="n" href="' || ${tgtSql(2, "https://", "?utm_source=crawl")} || '">b</a>' ||
       |    '<a href="' || ${tgtSql(3, "https://", "")} || '">c</a>' ||
       |    '<a href="/rel/0">r</a><a href="mailto:ops@example.com">m</a>' ||
       |    '</body></html>' AS html
       |  FROM documents),
       |lk AS (SELECT src, unnest(${Frontier.extractLinksSql("html")}) AS link
       |  FROM pg),
       |cl AS (SELECT src, ${TextFunctions.canonicalizeUrlSql("link")} AS url
       |  FROM lk WHERE regexp_matches(link, '${Frontier.AbsoluteHttpRe}')),
       |agg AS (SELECT url, count(*) AS n_refs,
       |    CAST(count(DISTINCT src) AS BIGINT) AS n_pages
       |  FROM cl GROUP BY url),
       |fr AS (SELECT url, n_refs, n_pages FROM agg
       |  WHERE url NOT IN (SELECT DISTINCT $canonSrc FROM documents))""".stripMargin
  }

  /** Upper bound on the planted crawled index's cardinality — the
    * advisory-recommended caller-side bloom sizing ([[Frontier.expand]]
    * `estimatedCrawled`): canonical doc URLs are (host, doc_id % 50)
    * combos over 4 hosts, so ≤ 200 distinct keys; 256 over-sizes
    * safely (over-estimation only adds bits) and skips the key-only
    * count's extra evaluation of the distinct plan. */
  private val CrawledBound = 256L

  /** The planted frontier pages as a DataFrame — the engine twin of
    * [[frontierCtes]]'s `pg`/crawled inputs, shared by q167/q169. */
  private def frontierInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = docs(s, dir).select(col("doc_id"))
    def k(j: Int) = TextFunctions.portableHash(
      concat(col("doc_id").cast("string"), lit(s":lnk:$j"))) % 150
    def tgt(j: Int, scheme: String, suffix: String) =
      concat(lit(scheme), hostByIdx(k(j) % 4), lit("/page/"),
        k(j).cast("string"), lit(suffix))
    val html = concat(lit("<html><body>"),
      lit("<a href=\""), tgt(1, "HTTPS://", "#top"), lit("\">a</a>"),
      lit("<a class=\"n\" href=\""), tgt(2, "https://", "?utm_source=crawl"),
      lit("\">b</a>"),
      lit("<a href=\""), tgt(3, "https://", ""), lit("\">c</a>"),
      lit("<a href=\"/rel/0\">r</a><a href=\"mailto:ops@example.com\">m</a>"),
      lit("</body></html>"))
    val pages = d.select(
      TextFunctions.canonicalizeUrl(crawlUrlColumn).as("src"), html.as("html"))
    val crawled = d.select(
      TextFunctions.canonicalizeUrl(crawlUrlColumn).as("url")).distinct()
    (pages, crawled)
  }

  /** DuckDB replay of the q166 Bradley–Terry fit: hash-paired document
    * comparisons (partner = hash(doc_id) mod N, winner = the
    * lexicographically greater (n_chars, doc_id) — deterministic), win
    * counts rolled up to `source`, then `iters` unrolled Hunter-MM
    * updates p_i' = W_i / Σ n_ij/(p_i+p_j), sum-normalized — the
    * operator's exact arithmetic. Output floor-micro-quantized with the
    * q124/q133 nudge (per-i denominator sums are float). */
  private def btSql(iters: Int): String = {
    val h = TextFunctions.portableHashSql("('bt:' || CAST(d.doc_id AS VARCHAR))")
    val iterCtes = (1 to iters).map { i =>
      s"""dn$i AS (SELECT g.i, sum(g.n / (pi.p + pj.p)) AS den
         |  FROM games g JOIN r${i - 1} pi ON pi.item = g.i
         |  JOIN r${i - 1} pj ON pj.item = g.jj
         |  GROUP BY g.i),
         |w$i AS (SELECT wins.item, wins.wins / dn.den AS praw
         |  FROM wins JOIN dn$i dn ON dn.i = wins.item),
         |t$i AS (SELECT sum(praw) AS tot FROM w$i),
         |r$i AS (SELECT item, praw / tot AS p FROM w$i CROSS JOIN t$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH d0 AS (SELECT doc_id, source, n_chars FROM documents),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS Nb FROM d0),
       |prd AS (SELECT d.doc_id, d.source, d.n_chars, $h % Nb AS j
       |  FROM d0 d CROSS JOIN nd),
       |cmp AS (SELECT
       |    CASE WHEN (p.n_chars, p.doc_id) > (e.n_chars, e.doc_id)
       |         THEN p.source ELSE e.source END AS w,
       |    CASE WHEN (p.n_chars, p.doc_id) > (e.n_chars, e.doc_id)
       |         THEN e.source ELSE p.source END AS l
       |  FROM prd p JOIN d0 e ON e.doc_id = p.j
       |  WHERE p.j <> p.doc_id AND p.source <> e.source),
       |games AS (SELECT i, jj, CAST(count(*) AS DOUBLE) AS n FROM (
       |    SELECT w AS i, l AS jj FROM cmp
       |    UNION ALL SELECT l AS i, w AS jj FROM cmp)
       |  GROUP BY i, jj),
       |wins AS (SELECT it.item, coalesce(ww.wins, 0.0) AS wins
       |  FROM (SELECT DISTINCT i AS item FROM games) it
       |  LEFT JOIN (SELECT w AS item, CAST(count(*) AS DOUBLE) AS wins
       |             FROM cmp GROUP BY w) ww USING (item)),
       |kk AS (SELECT CAST(count(*) AS DOUBLE) AS K FROM wins),
       |r0 AS (SELECT item, 1.0 / K AS p FROM wins CROSS JOIN kk),
       |$iterCtes
       |SELECT item AS source,
       |  CAST(floor(p * 1000000 + 0.001) AS BIGINT) AS bt_micro
       |FROM r$iters""".stripMargin
  }

  /** Planted crawl-log URL for a doc: scheme case varies by doc_id%3,
    * a tracking param rides along on odd ids, host by doc_id%4 and path
    * by doc_id%50 — so canonicalization must do real work before the
    * 100 canonical pages emerge. Column + SQL twin. */
  private def crawlUrlColumn: org.apache.spark.sql.Column =
    concat(
      when(col("doc_id") % 3 === 0, lit("HTTPS://")).otherwise(lit("https://")),
      PlantedHosts.column(CrawlHosts),
      lit("/page/"), (col("doc_id") % 50).cast("string"),
      when(col("doc_id") % 2 === 1, lit("?utm_campaign=abc")).otherwise(lit("")))

  private def crawlUrlSql: String =
    "(CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://' ELSE 'https://' END || " +
      s"${PlantedHosts.caseSql(CrawlHosts)} || '/page/' || " +
      "CAST(doc_id % 50 AS VARCHAR) || " +
      "CASE WHEN doc_id % 2 = 1 THEN '?utm_campaign=abc' ELSE '' END)"

  /** Caption key of a crossmodal pair: the portable hash of its
    * canonicalized caption, as SQL and as a column. Used by q184 and
    * q185. */
  private val capKeySql = TextFunctions.portableHashSql(
    TextFunctions.canonicalizeSql("caption"))
  private def capKey = TextFunctions.portableHash(
    TextFunctions.canonicalize(col("caption")))

  /** `j`: each pair of CTE `ki` (pair_id, cv, cap_key, img_key) with its
    * caption–image cosine as floored micro-units, over the vectors of
    * CTE `e`. Used by q184 and q185. */
  private val alignCte =
    s"""j AS (SELECT pair_id, cap_key, img_key,
       |    CAST(floor(round(${Similarity.cosineSql("a.v", "b.v")}, 4)
       |      * 10000 + 0.001) AS BIGINT) AS align_micro
       |  FROM ki JOIN e a ON a.vec_id = ki.cv
       |    JOIN e b ON b.vec_id = ki.img_key)""".stripMargin

  /** `pairs` with the caption vector of `cv` and the image vector of `iv`
    * joined in from the embeddings `e`. Used by q184 and q185. */
  private def pairVectors(e: DataFrame, pairs: DataFrame): DataFrame = {
    val v = e.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    pairs
      .join(broadcast(v.select(col("vec_id").as("cv"),
        col("v").as("cap_vec"))), Seq("cv"))
      .join(broadcast(v.select(col("vec_id").as("iv"),
        col("v").as("img_vec"))), Seq("iv"))
  }

  /** The synthetic scene track: six frames per doc, ids ≡0 (mod 5)
    * cutting to a second scene at frame 3, each frame hashed by
    * (media, scene); as a frame and as the SQL hash. Used by q213 and
    * q224. */
  private def sceneTrack(d: DataFrame): DataFrame =
    d.select(col("doc_id").as("media_id"),
        explode(sequence(lit(0), lit(5))).as("frame_idx"))
      .withColumn("scene",
        when(col("media_id") % 5 === 0 && col("frame_idx") >= 3, 1)
          .otherwise(0))
      .withColumn("fhash", TextFunctions.portableHash(
        concat(col("media_id").cast("string"), lit(":scene:"),
          col("scene").cast("string"))))
      .drop("scene")
  private val sceneHashSql = TextFunctions.portableHashSql(
    "(CAST(media_id AS VARCHAR) || ':scene:' || CAST(scene AS VARCHAR))")

  /** The synthetic energy track: forty 50 ms windows per doc, a tone on
    * windows ≡0..4 (mod 8) at a per-doc amplitude, silence otherwise.
    * Used by q214 and q224. */
  private def energyTrack(d: DataFrame): DataFrame =
    d.select(col("doc_id").as("media_id"),
        explode(sequence(lit(0), lit(39))).as("win_idx"))
      .withColumn("start_ms", (col("win_idx") * 50L).cast("long"))
      .withColumn("end_ms", ((col("win_idx") + 1) * 50L).cast("long"))
      .withColumn("rms",
        when(col("win_idx") % 8 < 5,
          (lit(2000L) + col("media_id") % 100).cast("double"))
          .otherwise(lit(0.0)))

  /** Two synthetic corpus releases of the docs `d`: ids ≡7 (mod 10)
    * only in the new one, ≡4 only in the old one, ≡0 (mod 5) edited in
    * the new one. Used by q128 and q215. */
  private def releases(d: DataFrame): (DataFrame, DataFrame) =
    (d.filter(col("doc_id") % 10 =!= 7),
      d.filter(col("doc_id") % 10 =!= 4)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text"))))

  val queries: Seq[Q] = Seq(

    // PageRank over a hash-generated web graph (3 outlinks per doc,
    // self-loops dropped): 3 power iterations, damping 0.85, dangling
    // mass redistributed. The link-centrality quality prior. Output in
    // fixed-point micro-units via floor, NOT round(…, 6): power-
    // iteration sums drift by an ulp between engines, and round's .5
    // grid turns that into a flipped digit when a rank lands on a
    // half-boundary (node 326 at sf0.01 sits 2e-18 from one); floor has
    // no tie grid (quantizeInt8's rationale). The +0.001 nudge is q133's
    // micro-quantizer, applied identically on both sides: a rank whose
    // exact value IS a grid point can land an ulp either side of it
    // depending on the partition order of the float contribution sum
    // (observed at 32 cores after the node frame gained
    // repartition(node): doc 217 emitted 2170 vs the 4-core 2169), and
    // the nudge — ~10⁷× the ulp noise, 10⁻³ of the grid step — puts
    // both engines on the same side of every boundary.
    Q("q124_pagerank",
      Some(pagerankSql(3)),
      (s, dir) => {
        val d = docs(s, dir).select(col("doc_id"))
        val edges = linkEdges(d)
        Graph.pageRank(d, col("doc_id"), edges, col("src"), col("dst"),
            iterations = 3)
          .select(col("node").as("doc_id"),
            floor(col("rank") * 1000000 + lit(0.001)).as("pr_micro"))
      }),

    // Per-node triangle counts + local clustering coefficient over the
    // q124 hash-generated link graph (Graph.triangleCounts): the
    // link-spam/community-density signal — a page farm is a near-clique
    // (high LCC at low degree). The oracle replays the degree-oriented
    // wedge join (compact-forward) exactly: canonical undirected edges,
    // (deg, id) orientation, wedge pairs of a shared low vertex, closing
    // equi-join — each triangle found once from its key-minimum vertex.
    Q("q159_triangles", {
      Some(s"""WITH docs AS (SELECT doc_id FROM documents),
              |nd AS (SELECT CAST(count(*) AS BIGINT) AS Nb FROM docs),
              |${linkEdgesCte("raw")},
              |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
              |  FROM raw),
              |deg AS (SELECT n, count(*) AS deg FROM (
              |    SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und)
              |  GROUP BY n),
              |o AS (SELECT
              |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
              |         THEN u ELSE v END AS lo,
              |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
              |         THEN v ELSE u END AS hi,
              |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
              |         THEN dv.deg ELSE du.deg END AS dhi
              |  FROM und JOIN deg du ON du.n = u JOIN deg dv ON dv.n = v),
              |tri AS (SELECT a.lo, a.hi AS h1, b.hi AS h2
              |  FROM o a JOIN o b ON a.lo = b.lo
              |   AND (a.dhi < b.dhi OR (a.dhi = b.dhi AND a.hi < b.hi))
              |  JOIN o c ON c.lo = a.hi AND c.hi = b.hi),
              |pn AS (SELECT n, count(*) AS n_tri FROM (
              |    SELECT lo AS n FROM tri UNION ALL SELECT h1 AS n FROM tri
              |    UNION ALL SELECT h2 AS n FROM tri)
              |  GROUP BY n)
              |SELECT deg.n AS node, deg.deg, coalesce(pn.n_tri, 0) AS n_tri,
              |  CASE WHEN deg.deg >= 2
              |       THEN round(2.0 * coalesce(pn.n_tri, 0)
              |         / CAST(deg.deg * (deg.deg - 1) AS DOUBLE), 6)
              |       ELSE 0.0 END AS lcc
              |FROM deg LEFT JOIN pn ON pn.n = deg.n""".stripMargin)
    },
      (s, dir) => {
        val d = docs(s, dir).select(col("doc_id"))
        val edges = linkEdges(d)
        Graph.triangleCounts(edges, col("src"), col("dst"))
      }),

    // PQ encode: every embedding compressed to 4 sub-codes (64× vs
    // f32 at production dims). Long-form dump of the wide codes.
    Q("q125_pq_encode",
      Some(s"""WITH $eCte,
              |${pqEncodeCtes("")}
              |SELECT vec_id, CAST(m AS INT) AS m, code FROM best""".stripMargin),
      (s, dir) => {
        val e = emb(s, dir)
        val cb = Similarity.pqCodebook(e, col("vec_id"), col("embedding"),
          PqSeeds, PqSub)
        Similarity.pqCodesLong(
          Similarity.pqEncode(e, col("vec_id"), col("embedding"), cb))
      }),

    // ADC top-10 around the vec_id=0 query: distance = sum of per-
    // subspace table lookups — the corpus is searched entirely through
    // its codes; original vectors are never read.
    Q("q126_pq_adc_topk",
      Some(s"""WITH $eCte,
              |${pqEncodeCtes("WHERE vec_id <> 0")},
              |qs AS (SELECT cb.m, cb.code, cb.cent,
              |    list_slice(q.v, cb.m*$PqSubDim + 1, (cb.m+1)*$PqSubDim) AS qsub
              |  FROM cb CROSS JOIN (SELECT v FROM e WHERE vec_id = 0) q),
              |dtab AS (SELECT m, code,
              |    (${Similarity.l2sqSql("qsub", "cent")}) AS d FROM qs),
              |j AS (SELECT b.vec_id, b.m, t.d
              |  FROM best b JOIN dtab t USING (m, code)),
              |w AS (SELECT vec_id,
              |    max(CASE WHEN m = 0 THEN d END) AS d0,
              |    max(CASE WHEN m = 1 THEN d END) AS d1,
              |    max(CASE WHEN m = 2 THEN d END) AS d2,
              |    max(CASE WHEN m = 3 THEN d END) AS d3
              |  FROM j GROUP BY vec_id)
              |SELECT vec_id, round(d0 + d1 + d2 + d3, 6) AS adist
              |FROM w ORDER BY adist, vec_id LIMIT 10""".stripMargin),
      (s, dir) => {
        val e = emb(s, dir)
        val cb = Similarity.pqCodebook(e, col("vec_id"), col("embedding"),
          PqSeeds, PqSub)
        val codes = Similarity.pqEncode(e.filter(col("vec_id") =!= 0),
          col("vec_id"), col("embedding"), cb)
        val qv = e.filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>"))
          .head.getSeq[Double](0).toArray
        Similarity.pqAdcTopK(codes, qv, cb, 10)
      }),

    // JL random projection 64 → 8 dims (planes = seed embeddings 1..8):
    // the cheap front of a cluster/dedup cascade. Long-form dump.
    // `+ 0` after the round: IEEE −0.0 + 0.0 = +0.0, normalizing the
    // SIGNED ZERO a projection component that rounds to zero can carry
    // (observed at sf0.001: one engine's '-0.0' vs the other's '0.0'
    // hash-mismatching on an otherwise identical row). Applied on both
    // sides so neither engine can leak a sign bit through repr().
    Q("q127_random_projection",
      Some(s"""WITH $eCte,
              |p AS (SELECT (vec_id - 1) AS j, v AS pv FROM e
              |  WHERE vec_id BETWEEN 1 AND 8)
              |SELECT t.vec_id, CAST(j AS INT) AS j,
              |  round(${Similarity.dotSql("t.v", "pv")}, 4) + 0 AS x
              |FROM e t CROSS JOIN p""".stripMargin),
      (s, dir) => {
        val e = emb(s, dir)
        val planes = Similarity.seededCentroids(e, col("vec_id"),
          col("embedding"), PqSeeds)
        Similarity.randomProject(e, col("vec_id"), col("embedding"), planes)
          .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "x")))
          .select(col("vec_id"), col("j"),
            (round(col("x"), 4) + lit(0.0)).as("x"))
      }),

    // Snapshot diff between two synthetic corpus releases: ids ≡7 (mod
    // 10) exist only in the new crawl (added), ≡4 only in the old
    // (removed), ≡0 (mod 5) re-crawled with edits (changed). Bodies
    // never move — the diff compares 8-byte content hashes.
    Q("q128_snapshot_diff",
      Some {
        val oh = TextFunctions.portableHashSql("text")
        val nh = TextFunctions.portableHashSql(
          "(CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]' ELSE text END)")
        s"""WITH o AS (SELECT doc_id, $oh AS h FROM documents WHERE doc_id % 10 <> 7),
           |nn AS (SELECT doc_id, $nh AS h FROM documents WHERE doc_id % 10 <> 4)
           |SELECT coalesce(o.doc_id, nn.doc_id) AS doc_id,
           |  CASE WHEN o.doc_id IS NULL THEN 'added'
           |       WHEN nn.doc_id IS NULL THEN 'removed'
           |       WHEN o.h <> nn.h THEN 'changed'
           |       ELSE 'unchanged' END AS status
           |FROM o FULL OUTER JOIN nn ON o.doc_id = nn.doc_id""".stripMargin
      },
      (s, dir) => {
        val (old, neu) = releases(docs(s, dir))
        Relational.snapshotDiff(old, neu, col("doc_id"),
            TextFunctions.portableHash(col("text")))
          .select(col("key").as("doc_id"), col("status"))
      }),

    // Per-source release delta card (Release.releaseDelta): q128's
    // planted A/B snapshots rolled up to the reviewer artifact — per
    // source, doc counts by diff status plus byte movement (added /
    // removed / net delta). The dataCard says what a release IS; this
    // says what the new one DID.
    Q("q215_release_delta",
      Some(s"""WITH o AS (SELECT doc_id, source, text,
              |    CAST(strlen(text) AS BIGINT) AS b FROM documents
              |  WHERE doc_id % 10 <> 7),
              |nn AS (SELECT doc_id, source,
              |    CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]'
              |         ELSE text END AS text
              |  FROM documents WHERE doc_id % 10 <> 4),
              |n2 AS (SELECT doc_id, source, text,
              |    CAST(strlen(text) AS BIGINT) AS b FROM nn),
              |j AS (SELECT coalesce(n2.source, o.source) AS source,
              |    CASE WHEN o.doc_id IS NULL THEN 'added'
              |         WHEN n2.doc_id IS NULL THEN 'removed'
              |         WHEN o.text <> n2.text THEN 'changed'
              |         ELSE 'unchanged' END AS status,
              |    o.b AS ob, n2.b AS nb
              |  FROM o FULL OUTER JOIN n2 ON o.doc_id = n2.doc_id)
              |SELECT source,
              |  CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT)
              |    AS added_docs,
              |  CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
              |    AS removed_docs,
              |  CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
              |    AS changed_docs,
              |  CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT)
              |    AS unchanged_docs,
              |  CAST(sum(CASE WHEN status = 'added' THEN nb ELSE 0 END) AS BIGINT)
              |    AS bytes_added,
              |  CAST(sum(CASE WHEN status = 'removed' THEN ob ELSE 0 END) AS BIGINT)
              |    AS bytes_removed,
              |  CAST(sum(coalesce(nb, 0) - coalesce(ob, 0)) AS BIGINT)
              |    AS bytes_delta
              |FROM j GROUP BY source""".stripMargin),
      (s, dir) => {
        val (old, neu) = releases(docs(s, dir))
        graft.operators.Release.releaseDelta(old, neu,
          col("doc_id"), col("source"), col("text"))
      }),

    // Latest crawl per canonical URL: canonicalize the planted variants
    // (scheme case, tracking params), keep the newest snapshot of each
    // of the 100 canonical pages plus its crawl count.
    Q("q129_crawl_latest",
      Some(s"""WITH c AS (SELECT doc_id, doc_id AS ts,
              |    ${TextFunctions.canonicalizeUrlSql(crawlUrlSql)} AS url_c
              |  FROM documents)
              |SELECT url_c, arg_max(doc_id, ts) AS doc_id,
              |  count(*) AS n_crawls
              |FROM c GROUP BY url_c""".stripMargin),
      (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"), col("doc_id").cast("long").as("ts"),
            TextFunctions.canonicalizeUrl(crawlUrlColumn).as("url_c"))
          .groupBy("url_c")
          .agg(max_by(col("doc_id"), col("ts")).as("doc_id"),
            count(lit(1)).as("n_crawls"))),

    // Seeded global training shuffle with EXACT positions: order by the
    // portable hash of (seed, doc_id), positions from the distributed
    // prefix sum — no global row_number window anywhere (plan shape:
    // one range exchange; see Relational.prefixSum).
    Q("q130_seeded_shuffle",
      Some(s"""WITH d AS (SELECT doc_id,
              |    ${TextFunctions.portableHashSql("('shuf42:' || CAST(doc_id AS VARCHAR))")} AS h
              |  FROM documents)
              |SELECT doc_id, row_number() OVER (ORDER BY h, doc_id) AS pos
              |FROM d""".stripMargin),
      (s, dir) => {
        val h = TextFunctions.portableHash(
          concat(lit("shuf42:"), col("doc_id").cast("string")))
        Relational.prefixSum(
            docs(s, dir).select(col("doc_id"), h.as("_h")),
            struct(col("_h"), col("doc_id")), lit(1L))
          .select(col("doc_id"), col("running").as("pos"))
      }),

    // Personalized PageRank over the SAME hash-generated graph as q124,
    // teleporting to a weighted seed set (doc_id%10==0; weight 2 for
    // %20==0 else 1) — proximity-to-seeds as a quality prior: pages no
    // seed can reach through links rank exactly 0 instead of collecting
    // uniform teleport mass. Same nudged floor micro-quantization as
    // q124 (the partition-order ulp hazard is identical — this row was
    // green only by summation-order luck before the nudge).
    Q("q131_personalized_pagerank",
      Some(pprSql(3)),
      (s, dir) => {
        val d = docs(s, dir).select(col("doc_id"))
        val edges = linkEdges(d)
        val seeds = d.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"),
            when(col("doc_id") % 20 === 0, 2.0).otherwise(1.0).as("w"))
        Graph.personalizedPageRank(d, col("doc_id"), edges, col("src"), col("dst"),
            seeds, col("doc_id"), col("w"), iterations = 3)
          .select(col("node").as("doc_id"),
            floor(col("rank") * 1000000 + lit(0.001)).as("ppr_micro"))
      }),

    // HITS hubs-and-authorities over the q124 graph: the complementary
    // link signal to PageRank's single centrality — hubs ≈ link/directory
    // pages, authorities ≈ canonical content pages. Max-normalized
    // (order-independent, unlike a floating L1 sum) and floor
    // micro-quantized like q124/q131.
    Q("q133_hits",
      Some(hitsSql(2)),
      (s, dir) => {
        val d = docs(s, dir).select(col("doc_id"))
        val edges = linkEdges(d)
        Graph.hits(d, col("doc_id"), edges, col("src"), col("dst"),
            iterations = 2)
          .select(col("node").as("doc_id"),
            floor(col("hub") * 1000000 + lit(0.001)).as("hub_micro"),
            floor(col("auth") * 1000000 + lit(0.001)).as("auth_micro"))
      }),

    // Semi-supervised label propagation over the undirected q124 graph:
    // 20 seed docs carry one of 5 community labels; 3 rounds of
    // mode-of-labeled-neighbors (seeds clamped, min-label ties) give
    // every page within 3 hops a topic prior without a classifier.
    // Integer counting end to end — exact cross-engine parity.
    Q("q134_label_propagation",
      Some(labelPropSql(3)),
      (s, dir) => {
        val d = docs(s, dir).select(col("doc_id"))
        val edges = linkEdges(d)
        val seeded = d.withColumn("seed",
          when(col("doc_id") % 25 === 0, expr("(doc_id div 25) % 5"))
            .otherwise(lit(null).cast("long")))
        Graph.labelPropagation(seeded, col("doc_id"), col("seed"),
            edges, col("src"), col("dst"), iterations = 3)
          .select(col("node").as("doc_id"), col("label").as("community"))
      }),

    // Bradley–Terry source strengths from hash-paired document duels
    // (BradleyTerry.fit): each doc meets a hash-drawn partner, the
    // higher-quality doc's SOURCE takes the win, and 3 Hunter-MM rounds
    // turn the win matrix into per-source strengths — the
    // pairwise-comparison ranking a preference pipeline fits over
    // sources/models. Nudged micro-quantization (the q124 family rule).
    Q("q166_bradley_terry",
      Some(btSql(3)),
      (s, dir) => btStrengths(s, dir)),

    // Preference-informed mixture (q179 binding): the Bradley–Terry
    // source strengths (q166's exact fit, integer-micro-quantized)
    // allocated over a token budget — alloc_i = budget·bt_i div Σbt —
    // the quality-weighted mixture a post-training pipeline derives
    // from pairwise preference outcomes instead of hand-set weights.
    // Everything after the fit is |sources|-row arithmetic (1-row total
    // broadcast); the doc-scale work is the fit's own, already audited.
    Q("q179_bt_mixture",
      Some(s"""WITH bt AS (
              |${btSql(3)}
              |),
              |tt AS (SELECT CAST(sum(bt_micro) AS BIGINT) AS st FROM bt),
              |pe AS (SELECT source, count(*) AS n_docs,
              |    CAST(sum(n_chars) AS BIGINT) AS chars_total
              |  FROM documents GROUP BY source)
              |SELECT b.source, b.bt_micro, p.n_docs, p.chars_total,
              |  1000000 * b.bt_micro // st AS alloc
              |FROM bt b JOIN pe p USING (source) CROSS JOIN tt""".stripMargin),
      (s, dir) => {
        val bt = btStrengths(s, dir)
        val tot = bt.agg(sum("bt_micro").as("st"))
        val per = docs(s, dir).groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars_total"))
        bt.join(per, "source").crossJoin(broadcast(tot))
          .select(col("source"), col("bt_micro"), col("n_docs"),
            col("chars_total"),
            expr("1000000 * bt_micro div st").as("alloc"))
      }),

    // Crawl-frontier expansion (Frontier.expand): pages carry planted
    // <a href> outlinks (hash-drawn targets over a 150-page space, with
    // scheme-case/tracking-param/fragment variants, plus relative and
    // mailto links that must be dropped); extraction → canonicalization
    // → per-URL aggregation → bloom-accelerated anti-join against the
    // already-crawled canonical index. Targets with page index < 50
    // collapse into the crawled set; >= 50 are the frontier.
    Q("q167_crawl_frontier",
      Some(s"""$frontierCtes
              |SELECT url, n_refs, n_pages FROM fr""".stripMargin),
      (s, dir) => {
        val (pages, crawled) = frontierInputs(s, dir)
        Frontier.expand(pages, col("src"), col("html"), crawled, col("url"),
            estimatedCrawled = CrawledBound)
      }),

    // Per-host fetch budget over the expanded frontier
    // (Frontier.hostBudget): the politeness/scheduling quota — at most 2
    // URLs per host per round, best-evidenced first (distinct referring
    // pages, then total refs, then URL). One window over host; the
    // rank-≤-k filter plans as WindowGroupLimit (top-k heap per host,
    // never the host's whole frontier buffered — spec-asserted).
    Q("q169_frontier_budget",
      Some(s"""$frontierCtes,
              |hb AS (SELECT ${TextFunctions.urlHostSql("url")} AS host,
              |    url, n_refs, n_pages,
              |    row_number() OVER (PARTITION BY ${TextFunctions.urlHostSql("url")}
              |      ORDER BY n_pages DESC, n_refs DESC, url) AS rk
              |  FROM fr)
              |SELECT host, url, n_refs, n_pages, CAST(rk AS BIGINT) AS rk
              |FROM hb WHERE rk <= 2""".stripMargin),
      (s, dir) => {
        val (pages, crawled) = frontierInputs(s, dir)
        Frontier.hostBudget(
          Frontier.expand(pages, col("src"), col("html"), crawled, col("url"),
            estimatedCrawled = CrawledBound),
          k = 2)
      }),

    // Robots-exclusion gate over the expanded frontier
    // (Frontier.robotsGate): per-host robots.txt files are PARSED (the
    // `User-agent: *` group's Disallow prefixes; a planted named-agent
    // decoy section must NOT apply) and every frontier URL carries its
    // allowed/blocked verdict — the fetch-legality audit a crawler runs
    // before scheduling. Host i disallows /page/(i+1), so the prefix
    // match does real work across the 0..149 page space.
    Q("q170_robots_gate", {
      val robotsRows = CrawlHosts.zipWithIndex.map { case (h, i) =>
        s"('$h', 'User-agent: fetchbot' || chr(10) || 'Disallow: /secret' " +
          s"|| chr(10) || chr(10) || 'User-agent: *' || chr(10) || " +
          s"'Disallow: /page/${i + 1}' || chr(10) || 'Disallow: /admin')"
      }.mkString(",\n|    ")
      Some(s"""$frontierCtes,
              |rb AS (SELECT * FROM (VALUES
              |    $robotsRows) AS t(host, txt)),
              |rules AS (SELECT host,
              |    unnest(${Frontier.robotsStarDisallowsSql("txt")}) AS dis
              |  FROM rb),
              |fh AS (SELECT url, n_refs, n_pages,
              |    ${TextFunctions.urlHostSql("url")} AS host,
              |    regexp_replace(url, '${TextFunctions.UrlHeadRe}', '', 'g') AS path
              |  FROM fr)
              |SELECT f.url, f.host, f.n_refs, f.n_pages,
              |  NOT coalesce(bool_or(starts_with(f.path, r.dis)), false) AS allowed
              |FROM fh f LEFT JOIN rules r ON r.host = f.host
              |GROUP BY f.url, f.host, f.n_refs, f.n_pages""".stripMargin)
    },
      (s, dir) => {
        import s.implicits._
        val (pages, crawled) = frontierInputs(s, dir)
        val robots = CrawlHosts.zipWithIndex.map { case (h, i) =>
          (h, "User-agent: fetchbot\nDisallow: /secret\n\nUser-agent: *\n" +
            s"Disallow: /page/${i + 1}\nDisallow: /admin")
        }.toDF("host", "txt")
        Frontier.robotsGate(
          Frontier.expand(pages, col("src"), col("html"), crawled, col("url"),
            estimatedCrawled = CrawledBound),
          robots, col("host"), col("txt"))
      }),

    // Relative-href link discovery (Frontier.discoveredResolved): pages
    // carry the link shapes real markup has — root-relative, ../ parent
    // hops (with a fragment), bare relative subpaths, protocol-relative
    // with its own host, query-only, and an unfetchable mailto — each
    // resolved against the page's canonical URL (RFC 3986 subset with
    // bounded dot-segment removal) before canonicalization and the
    // per-URL discovery aggregation. The r10 verdict's "first thing a
    // user pointing this at real WARC data hits", closed and
    // oracle-checked byte-for-byte.
    Q("q176_frontier_resolve",
      Some(s"""$resolvedFrontierCtes
              |SELECT url, count(*) AS n_refs,
              |  CAST(count(DISTINCT src) AS BIGINT) AS n_pages
              |FROM cl GROUP BY url""".stripMargin),
      (s, dir) => {
        Frontier.discoveredResolved(resolvedFrontierPages(s, dir),
          col("src"), col("html"))
      }),

    // Robots parse audit (Frontier.robotsStarCrawlDelay/robotsSitemaps):
    // per-host Crawl-delay of the `User-agent: *` group (named-agent
    // decoy delay must NOT apply; max across star sections; null when
    // undeclared) and the file-global Sitemap directives — the two
    // robots fields a scheduler reads beyond Disallow.
    Q("q178_robots_audit", {
      Some(s"""WITH rb AS (SELECT * FROM (VALUES
              |    $politenessRobotsSqlRows) AS t(host, txt))
              |SELECT host,
              |  ${Frontier.robotsStarCrawlDelaySql("txt")} AS crawl_delay,
              |  CAST(len(${Frontier.robotsSitemapsSql("txt")}) AS BIGINT)
              |    AS n_sitemaps
              |FROM rb""".stripMargin)
    },
      (s, dir) => {
        politenessRobots(s)
          .select(col("host"),
            Frontier.robotsStarCrawlDelay(col("txt")).as("crawl_delay"),
            size(Frontier.robotsSitemaps(col("txt"))).cast("long")
              .as("n_sitemaps"))
      }),

    // Delay-derived politeness budget (Frontier.politenessBudget): the
    // q169 quota with each host's cap taken from its OWN Crawl-delay —
    // a 60 s round admits floor(60/delay) fetches, bounded by the
    // default k=4; undeclared hosts get k, a zero delay clamps to 1 s.
    // The dynamic cap is the politeness semantics a real scheduler
    // enforces; decoy named-agent delays must not shrink anything.
    Q("q177_politeness_budget", {
      Some(s"""$frontierCtes,
              |rb AS (SELECT * FROM (VALUES
              |    $politenessRobotsSqlRows) AS t(host, txt)),
              |dl AS (SELECT host,
              |    ${Frontier.robotsStarCrawlDelaySql("txt")} AS crawl_delay
              |  FROM rb),
              |fh AS (SELECT url, n_refs, n_pages,
              |    ${TextFunctions.urlHostSql("url")} AS host FROM fr),
              |jj AS (SELECT f.url, f.n_refs, f.n_pages, f.host, d.crawl_delay,
              |    CASE WHEN d.crawl_delay IS NULL THEN 4
              |         ELSE least(4, CAST(floor(60 / greatest(d.crawl_delay, 1))
              |           AS BIGINT)) END AS cap
              |  FROM fh f LEFT JOIN dl d ON d.host = f.host),
              |rk AS (SELECT *, row_number() OVER (PARTITION BY host
              |    ORDER BY n_pages DESC, n_refs DESC, url) AS rk FROM jj)
              |SELECT host, url, n_refs, n_pages, CAST(rk AS BIGINT) AS rk,
              |  crawl_delay, cap
              |FROM rk WHERE rk <= cap""".stripMargin)
    },
      (s, dir) => {
        val (pages, crawled) = frontierInputs(s, dir)
        Frontier.politenessBudget(
          Frontier.expand(pages, col("src"), col("html"), crawled, col("url"),
            estimatedCrawled = CrawledBound),
          politenessRobots(s), col("host"), col("txt"),
          roundSeconds = 60L, k = 4)
      }),

    // Cross-modal pair curation (CrossModal.curatePairs): the LAION-style
    // composite over planted (caption, image) pairs — alignment gate
    // through the embedding seam, then both-modality dedup with the
    // caption/image reuse audit. Pairs are synthesized deterministically
    // from doc_id (the PlantedHosts discipline): every doc is a base
    // pair (caption = text, cap vec = doc_id, image chosen by the
    // canonical caption's hash); docs ≡0 (mod 7) add a WHITESPACE
    // variant caption (canonical-identical — no unicode-case hazards)
    // sharing the image → dup groups; docs ≡0 (mod 11) add the same
    // caption against the NEXT image slot → caption reuse. Image reuse
    // falls out of hash collisions into the 500 slots. Gate at 500
    // micro keeps ~1/3 at every sf; all four audit signals fire
    // tri-scale (probed: 8–94 dups, 4–67 caption-reuse keys).
    Q("q184_crossmodal_curation", {
      Some(s"""WITH $eCte,
              |p AS (
              |  SELECT doc_id AS pair_id, text AS caption,
              |    doc_id % 500 AS cv FROM documents
              |  UNION ALL
              |  SELECT doc_id + 1000000, ' ' || text || '  ',
              |    (doc_id + 3) % 500 FROM documents WHERE doc_id % 7 = 0
              |  UNION ALL
              |  SELECT doc_id + 2000000, text || CHR(9) || ' ',
              |    (doc_id + 5) % 500 FROM documents WHERE doc_id % 11 = 0),
              |k AS (SELECT pair_id, cv, $capKeySql AS cap_key FROM p),
              |ki AS (SELECT pair_id, cv, cap_key,
              |    CASE WHEN pair_id >= 2000000 THEN (cap_key + 1) % 500
              |         ELSE cap_key % 500 END AS img_key FROM k),
              |$alignCte,
              |al AS (SELECT * FROM j WHERE align_micro >= 500),
              |g AS (SELECT cap_key, img_key,
              |    CAST(min(pair_id) AS BIGINT) AS keeper
              |  FROM al GROUP BY 1, 2),
              |cr AS (SELECT cap_key, count(DISTINCT img_key) AS n_images
              |  FROM al GROUP BY 1),
              |ir AS (SELECT img_key, count(DISTINCT cap_key) AS n_captions
              |  FROM al GROUP BY 1)
              |SELECT al.pair_id, al.cap_key, al.img_key, al.align_micro,
              |  al.pair_id <> g.keeper AS is_dup, g.keeper,
              |  cr.n_images > 1 AS caption_reuse,
              |  ir.n_captions > 1 AS image_reuse
              |FROM al JOIN g USING (cap_key, img_key)
              |  JOIN cr USING (cap_key) JOIN ir USING (img_key)""".stripMargin)
    },
      (s, dir) => {
        val d = docs(s, dir)
        val base = d.select(col("doc_id").as("pair_id"),
          col("text").as("caption"), (col("doc_id") % 500).as("cv"))
        val varA = d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 1000000L).as("pair_id"),
            concat(lit(" "), col("text"), lit("  ")).as("caption"),
            ((col("doc_id") + 3) % 500).as("cv"))
        val varB = d.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 2000000L).as("pair_id"),
            concat(col("text"), lit("\t ")).as("caption"),
            ((col("doc_id") + 5) % 500).as("cv"))
        val p = base.unionByName(varA).unionByName(varB)
        val withImg = p.withColumn("iv",
          when(col("pair_id") >= 2000000L, (capKey + 1) % 500)
            .otherwise(capKey % 500))
        val pairs = pairVectors(emb(s, dir), withImg)
        graft.multimodal.CrossModal.curatePairs(pairs, col("pair_id"),
          col("caption"), col("cap_vec"), col("img_vec"), col("iv"),
          minMicro = 500L)
      }),

    // Incremental cross-modal curation (CrossModal.curateDelta): the
    // base batch (the q184 planted pairs' doc rows) curates into a
    // manifest index of (cap_key, img_key) identities; the variant rows
    // arrive as the DELTA batch and classify blocked / dup_index /
    // dup_batch / kept. A fourth whitespace variant (docs ≡0 mod 21,
    // its own cap vec) plants within-batch duplicate groups whose base
    // key may be absent from the index (base misaligned) — the
    // dup_batch case. All four statuses fire tri-scale (probed:
    // 2–22 dup_batch, 12–117 dup_index, 34–354 kept).
    Q("q185_crossmodal_incremental", {
      Some(s"""WITH $eCte,
              |p AS (
              |  SELECT doc_id AS pair_id, text AS caption,
              |    doc_id % 500 AS cv, 0 AS shift FROM documents
              |  UNION ALL
              |  SELECT doc_id + 1000000, ' ' || text || '  ',
              |    (doc_id + 3) % 500, 0 FROM documents WHERE doc_id % 7 = 0
              |  UNION ALL
              |  SELECT doc_id + 2000000, text || CHR(9) || ' ',
              |    (doc_id + 5) % 500, 1 FROM documents WHERE doc_id % 11 = 0
              |  UNION ALL
              |  SELECT doc_id + 3000000, '  ' || text,
              |    (doc_id + 6) % 500, 0 FROM documents WHERE doc_id % 21 = 0),
              |k AS (SELECT pair_id, cv, shift, $capKeySql AS cap_key FROM p),
              |ki AS (SELECT pair_id, cv, cap_key,
              |    (cap_key + shift) % 500 AS img_key FROM k),
              |$alignCte,
              |idx AS (SELECT DISTINCT cap_key, img_key FROM j
              |  WHERE pair_id < 1000000 AND align_micro >= 500),
              |delta AS (SELECT * FROM j WHERE pair_id >= 1000000),
              |kp AS (SELECT cap_key, img_key, CAST(min(pair_id) AS BIGINT)
              |    AS keeper FROM delta WHERE align_micro >= 500 GROUP BY 1, 2)
              |SELECT d.pair_id, d.cap_key, d.img_key, d.align_micro,
              |  CASE WHEN d.align_micro < 500 THEN 'blocked'
              |       WHEN EXISTS (SELECT 1 FROM idx
              |         WHERE idx.cap_key = d.cap_key
              |           AND idx.img_key = d.img_key) THEN 'dup_index'
              |       WHEN d.pair_id <> kp.keeper THEN 'dup_batch'
              |       ELSE 'kept' END AS status
              |FROM delta d LEFT JOIN kp
              |  ON kp.cap_key = d.cap_key AND kp.img_key = d.img_key""".stripMargin)
    },
      (s, dir) => {
        val d = docs(s, dir)
        def part(idFilter: org.apache.spark.sql.Column, idOff: Long,
                 cap: org.apache.spark.sql.Column, cvOff: Int,
                 shift: Long)(src: DataFrame) =
          src.filter(idFilter).select((col("doc_id") + idOff).as("pair_id"),
            cap.as("caption"), ((col("doc_id") + cvOff) % 500).as("cv"),
            lit(shift).as("shift"))
        val p = part(lit(true), 0L, col("text"), 0, 0L)(d)
          .unionByName(part(col("doc_id") % 7 === 0, 1000000L,
            concat(lit(" "), col("text"), lit("  ")), 3, 0L)(d))
          .unionByName(part(col("doc_id") % 11 === 0, 2000000L,
            concat(col("text"), lit("\t ")), 5, 1L)(d))
          .unionByName(part(col("doc_id") % 21 === 0, 3000000L,
            concat(lit("  "), col("text")), 6, 0L)(d))
        val withImg = p.withColumn("iv", (capKey + col("shift")) % 500)
        val pairs = pairVectors(emb(s, dir), withImg)
        val xm = graft.multimodal.CrossModal
        val index = xm.manifestIndex(
          xm.curatePairs(pairs.filter(col("pair_id") < 1000000L),
            col("pair_id"), col("caption"), col("cap_vec"), col("img_vec"),
            col("iv"), minMicro = 500L).filter(!col("is_dup")))
        xm.curateDelta(index, pairs.filter(col("pair_id") >= 1000000L),
          col("pair_id"), col("caption"), col("cap_vec"), col("img_vec"),
          col("iv"), minMicro = 500L)
      }),

    // Scene-cut detection over real MJPEG payloads (Media.sceneCuts):
    // the corpus's video shard (doc_id ≡2 mod 3 — Media.synthesize's
    // kind split) synthesizes 6-frame 48×32 clips — ids ≡0 (mod 5)
    // with a HARD CUT at frame 3 (grating seed change), the rest smooth
    // phase-walk motion — and the detector reports the cuts. Threshold
    // 25 = the probed decision boundary of the grating family (smooth
    // adjacent-frame dHash hamming ≤ 24, seed change ≥ 25; see
    // MediaTemporalSpec). No DuckDB oracle — the codec pass (JPEG
    // decode → dHash) isn't ANSI SQL; MediaTemporalSpec carries
    // correctness and the driver records the rows-only check.
    Q("q207_scene_cuts", None,
      (s, dir) => {
        import s.implicits._
        val m = graft.multimodal.Media
        val media = docs(s, dir).filter(col("doc_id") % 3 === 2)
          .select(col("doc_id")).as[Long].map { id =>
          val payload =
            if (id % 5 == 0)
              graft.multimodal.MediaCodec.synthAviCut(id, id + 5000L, 48, 32, 6, 3)
            else graft.multimodal.MediaCodec.synthAvi(id, 48, 32, 6 * 40L)
          m.MediaRow(id, "video", payload, 48, 32, 240L)
        }
        m.sceneCuts(media, threshold = 25)
          .filter(col("is_cut") && col("frame_idx") > 0)
          .select(col("media_id"), col("frame_idx"), col("t_ms"),
            col("dist_prev"))
      }),

    // Audio activity segmentation over real WAV payloads
    // (Media.audioActivity): the corpus's audio shard (doc_id ≡1 mod 3,
    // Media.synthesize's kind split) synthesizes gapped-tone clips
    // (250 ms tone / 150 ms digital silence, duration seeded off
    // n_chars), VAD segments them at 50 ms windows, and the per-clip
    // rollup reports segment count + total active time. Same
    // no-ANSI-SQL tier as q207 (PCM decode + RMS); MediaTemporalSpec
    // pins exact segment boundaries on the planted layout.
    Q("q208_audio_activity", None,
      (s, dir) => {
        import s.implicits._
        val m = graft.multimodal.Media
        val media = docs(s, dir).filter(col("doc_id") % 3 === 1)
          .select(col("doc_id"), col("n_chars").cast("long"))
          .as[(Long, Long)].map { case (id, nc) =>
            val dur = 400L + nc % 1600L
            m.MediaRow(id, "audio",
              graft.multimodal.MediaCodec.synthWavGapped(id, dur, 250L, 150L),
              0, 0, dur)
          }
        m.audioActivity(media, windowMs = 50, minRms = 100.0)
          .groupBy("media_id")
          .agg(count(lit(1)).as("n_segments"),
            sum(col("end_ms") - col("start_ms")).as("active_ms"))
      }),

    // Media metadata scrub (Media.scrubMetadataStats): the corpus's
    // image/audio shards synthesize payloads with PLANTED metadata
    // (PNG tEXt author+GPS, WAV LIST INFO artist — the fields a
    // release must not ship), the scrub strips them byte-surgically
    // (no re-encode: perceptual hashes stay valid — MediaScrubSpec),
    // and the per-row audit aggregates to (kind, rows, total bytes
    // removed). Rows-only tier like q207/q208 (byte surgery isn't
    // ANSI SQL); the spec family carries exactness.
    Q("q212_metadata_scrub", None,
      (s, dir) => {
        import s.implicits._
        val m = graft.multimodal.Media
        val media = docs(s, dir).filter(col("doc_id") % 3 =!= 2)
          .select(col("doc_id"), col("n_chars").cast("long"))
          .as[(Long, Long)].map { case (id, nc) =>
            import graft.multimodal.MediaCodec.{synthPng, synthWav, withPngText, withRiffInfo}
            if (id % 3 == 1) {
              val wav = withRiffInfo(synthWav(id, 400L + nc % 800L),
                s"artist-$id <user$id@example.com>")
              m.MediaRow(id, "audio", wav, 0, 0, 400L + nc % 800L)
            } else {
              val png = withPngText(synthPng(id, 48, 32),
                "Author", s"gps ${id % 90}.${id % 100},-${id % 180}.${id % 10}")
              m.MediaRow(id, "image", png, 48, 32, 0L)
            }
          }
        m.scrubMetadataStats(media)
          .groupBy("kind")
          .agg(count(lit(1)).as("n_rows"),
            sum("bytes_removed").as("bytes_removed"),
            sum("bytes_after").as("bytes_kept"))
      }),

    // Scene-cut CORE LOGIC at the oracle tier (the q202 FromSigs
    // discipline: the codec pass stays spec-tier, the track-based
    // operator gets a DuckDB twin): a 6-frame hash track synthesized
    // from doc_ids — docs ≡0 (mod 5) switch scene identity at frame 3,
    // hashes are portableHash(doc:scene) so within-scene distance is 0
    // and the cut distance is whatever the two hashes disagree on —
    // and Media.sceneCutsFromHashes runs the lag window + hamming +
    // threshold exactly as the oracle replays it.
    Q("q213_scene_cuts_track", {
      Some(s"""WITH fr AS (SELECT doc_id AS media_id,
              |    unnest([0, 1, 2, 3, 4, 5]) AS frame_idx FROM documents),
              |sc AS (SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
              |    CASE WHEN media_id % 5 = 0 AND frame_idx >= 3
              |         THEN 1 ELSE 0 END AS scene FROM fr),
              |hx AS (SELECT media_id, frame_idx, $sceneHashSql AS fhash FROM sc),
              |l AS (SELECT media_id, frame_idx, fhash,
              |    lag(fhash) OVER (PARTITION BY media_id ORDER BY frame_idx)
              |      AS prev FROM hx)
              |SELECT media_id, frame_idx, fhash,
              |  CASE WHEN prev IS NULL THEN NULL
              |       ELSE CAST(bit_count(xor(fhash, prev)) AS BIGINT)
              |       END AS dist_prev,
              |  (prev IS NULL OR bit_count(xor(fhash, prev)) >= 16) AS is_cut
              |FROM l""".stripMargin)
    },
      (s, dir) => {
        val track = sceneTrack(docs(s, dir))
        graft.multimodal.Media.sceneCutsFromHashes(track, threshold = 16)
      }),

    // Audio-activity CORE LOGIC at the oracle tier (same two-tier
    // discipline as q213): a 40-window energy track synthesized from
    // doc_ids — tone layout win%8<5 (250 ms on / 150 ms off at 50 ms
    // windows), per-doc amplitude — and
    // Media.audioActivityFromEnergy's filter-before-exchange
    // gaps-and-islands merge is replayed by the oracle window-for-window.
    Q("q214_vad_track",
      Some(s"""WITH w AS (SELECT doc_id AS media_id,
              |    unnest(range(0, 40)) AS win_idx FROM documents),
              |e AS (SELECT media_id, CAST(win_idx AS INT) AS win_idx,
              |    CAST(win_idx * 50 AS BIGINT) AS start_ms,
              |    CAST((win_idx + 1) * 50 AS BIGINT) AS end_ms,
              |    CASE WHEN win_idx % 8 < 5
              |         THEN CAST(2000 + media_id % 100 AS DOUBLE)
              |         ELSE 0.0 END AS rms FROM w),
              |a AS (SELECT *, win_idx - row_number()
              |    OVER (PARTITION BY media_id ORDER BY win_idx) AS island
              |  FROM e WHERE rms >= 100),
              |g AS (SELECT media_id, island,
              |    min(start_ms) AS start_ms, max(end_ms) AS end_ms,
              |    CAST(count(*) AS BIGINT) AS n_windows,
              |    round(avg(rms), 3) AS mean_rms
              |  FROM a GROUP BY 1, 2)
              |SELECT media_id,
              |  CAST(row_number() OVER (PARTITION BY media_id
              |    ORDER BY start_ms) AS BIGINT) AS seg_idx,
              |  start_ms, end_ms, n_windows, mean_rms
              |FROM g""".stripMargin),
      (s, dir) => {
        val track = energyTrack(docs(s, dir))
        graft.multimodal.Media.audioActivityFromEnergy(track, minRms = 100.0)
      }),

    // Temporal-media DATA CARD (Media.temporalCard): the release
    // summary of the persisted temporal tracks — clips/frames/cuts,
    // cut rate, mean scene length, speech segments and mass — over the
    // SAME synthetic q213/q214 tracks, so the oracle replays scene-cut
    // detection, the VAD gaps-and-islands merge, AND the card
    // arithmetic end to end. Track-sized aggregations only; payloads
    // are never touched (the FromSigs discipline's payoff: the card
    // needs no codec pass).
    Q("q224_temporal_card", {
      import graft.operators.Sampling.microRatioSql
      Some(s"""WITH fr AS (SELECT doc_id AS media_id,
              |    unnest([0, 1, 2, 3, 4, 5]) AS frame_idx FROM documents),
              |sc AS (SELECT media_id, frame_idx,
              |    CASE WHEN media_id % 5 = 0 AND frame_idx >= 3
              |         THEN 1 ELSE 0 END AS scene FROM fr),
              |hx AS (SELECT media_id, frame_idx, $sceneHashSql AS fhash FROM sc),
              |l AS (SELECT media_id, fhash,
              |    lag(fhash) OVER (PARTITION BY media_id ORDER BY frame_idx)
              |      AS prev FROM hx),
              |cuts AS (SELECT media_id,
              |    (prev IS NULL OR bit_count(xor(fhash, prev)) >= 16) AS is_cut
              |  FROM l),
              |v AS (SELECT
              |    CAST(count(DISTINCT media_id) AS BIGINT) AS n_video_clips,
              |    count(*) AS n_frames,
              |    CAST(sum(CASE WHEN is_cut THEN 1 ELSE 0 END) AS BIGINT)
              |      AS n_cuts FROM cuts),
              |w AS (SELECT doc_id AS media_id,
              |    unnest(range(0, 40)) AS win_idx FROM documents),
              |e AS (SELECT media_id, win_idx,
              |    CAST(win_idx * 50 AS BIGINT) AS start_ms,
              |    CAST((win_idx + 1) * 50 AS BIGINT) AS end_ms,
              |    CASE WHEN win_idx % 8 < 5
              |         THEN CAST(2000 + media_id % 100 AS DOUBLE)
              |         ELSE 0.0 END AS rms FROM w),
              |ai AS (SELECT *, win_idx - row_number()
              |    OVER (PARTITION BY media_id ORDER BY win_idx) AS island
              |  FROM e WHERE rms >= 100),
              |g AS (SELECT media_id, island,
              |    min(start_ms) AS start_ms, max(end_ms) AS end_ms
              |  FROM ai GROUP BY 1, 2),
              |a AS (SELECT
              |    CAST(count(DISTINCT media_id) AS BIGINT) AS n_audio_clips,
              |    count(*) AS n_segments,
              |    CAST(coalesce(sum(end_ms - start_ms), 0) AS BIGINT)
              |      AS speech_ms FROM g)
              |SELECT n_video_clips, n_frames, n_cuts,
              |  CASE WHEN n_frames > 0
              |       THEN ${microRatioSql("n_cuts", "n_frames", "//")}
              |       END AS cut_rate_ppm,
              |  CASE WHEN n_cuts > 0
              |       THEN ${microRatioSql("n_frames", "n_cuts", "//")}
              |       END AS mean_scene_frames_micro,
              |  n_audio_clips, n_segments, speech_ms,
              |  CASE WHEN n_segments > 0
              |       THEN ${microRatioSql("speech_ms", "n_segments", "//")}
              |       END AS mean_seg_ms_micro
              |FROM v CROSS JOIN a""".stripMargin)
    },
      (s, dir) => {
        val m = graft.multimodal.Media
        val track = sceneTrack(docs(s, dir))
        val energy = energyTrack(docs(s, dir))
        m.temporalCard(m.sceneCutsFromHashes(track, threshold = 16),
          m.audioActivityFromEnergy(energy, minRms = 100.0))
      }),

    // Metadata-scrub POLICY at the oracle tier (the q213/q214 two-tier
    // discipline, closing the one family whose correctness rested
    // entirely on self-authored byte fixtures): a container inventory
    // synthesized from doc_ids — each doc is a PNG / JPEG / RIFF / or
    // unrecognized container (doc_id % 4) whose chunk list comes from a
    // fixed spec dimension covering every policy branch (critical vs
    // ancillary vs tRNS; APPn vs COM vs structural vs SOS; JUNK vs
    // id3 vs LIST INFO vs kept LISTs; passthrough) — and
    // Media.scrubKeep + scrubPolicyAudit decide/aggregate exactly as
    // the oracle's CASE replays. The BYTE walkers stay spec-tier:
    // MediaScrubSpec ties them to this same policy chunk-for-chunk on
    // real payloads via MediaCodec.chunkInventory.
    Q("q218_scrub_policy",
      Some(s"""WITH spec(fmt, kind, marker, list_type, base_size) AS (VALUES
              |  ('png', 'IHDR', -1, '', 25), ('png', 'tEXt', -1, '', 40),
              |  ('png', 'eXIf', -1, '', 300), ('png', 'tRNS', -1, '', 18),
              |  ('png', 'pHYs', -1, '', 21), ('png', 'IDAT', -1, '', 5000),
              |  ('png', 'IEND', -1, '', 12),
              |  ('jpeg', 'mE0', 224, '', 18), ('jpeg', 'mE1', 225, '', 2000),
              |  ('jpeg', 'mDB', 219, '', 69), ('jpeg', 'mC0', 192, '', 19),
              |  ('jpeg', 'mFE', 254, '', 60), ('jpeg', 'SOS', 218, '', 8000),
              |  ('riff', 'fmt ', -1, '', 24), ('riff', 'JUNK', -1, '', 512),
              |  ('riff', 'LIST', -1, 'INFO', 128), ('riff', 'LIST', -1, 'movi', 9000),
              |  ('riff', 'id3 ', -1, '', 200), ('riff', 'data', -1, '', 7000),
              |  ('gif', 'hdr', -1, '', 100)),
              |inv AS (
              |  SELECT d.doc_id AS doc, s.fmt, s.kind, s.marker, s.list_type,
              |    CAST(s.base_size + d.doc_id % 7 AS BIGINT) AS sz,
              |    CASE WHEN s.fmt = 'png' THEN
              |           ((ascii(substr(s.kind, 1, 1)) & 32) = 0) OR s.kind = 'tRNS'
              |         WHEN s.fmt = 'jpeg' THEN
              |           NOT (s.marker BETWEEN 224 AND 239 OR s.marker = 254)
              |         WHEN s.fmt = 'riff' THEN
              |           NOT (s.kind IN ('JUNK', 'id3 ')
              |                OR (s.kind = 'LIST' AND s.list_type = 'INFO'))
              |         ELSE TRUE END AS keep
              |  FROM documents d JOIN spec s ON s.fmt =
              |    CASE d.doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
              |         WHEN 2 THEN 'riff' ELSE 'gif' END)
              |SELECT doc, fmt, count(*) AS n_chunks,
              |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              |  CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
              |  CAST(sum(CASE WHEN keep THEN sz ELSE 0 END) AS BIGINT) AS bytes_kept,
              |  CAST(sum(CASE WHEN NOT keep THEN sz ELSE 0 END) AS BIGINT) AS bytes_dropped
              |FROM inv GROUP BY 1, 2""".stripMargin),
      (s, dir) => {
        val spec = s.createDataFrame(Seq(
          ("png", "IHDR", -1, "", 25L), ("png", "tEXt", -1, "", 40L),
          ("png", "eXIf", -1, "", 300L), ("png", "tRNS", -1, "", 18L),
          ("png", "pHYs", -1, "", 21L), ("png", "IDAT", -1, "", 5000L),
          ("png", "IEND", -1, "", 12L),
          ("jpeg", "mE0", 224, "", 18L), ("jpeg", "mE1", 225, "", 2000L),
          ("jpeg", "mDB", 219, "", 69L), ("jpeg", "mC0", 192, "", 19L),
          ("jpeg", "mFE", 254, "", 60L), ("jpeg", "SOS", 218, "", 8000L),
          ("riff", "fmt ", -1, "", 24L), ("riff", "JUNK", -1, "", 512L),
          ("riff", "LIST", -1, "INFO", 128L), ("riff", "LIST", -1, "movi", 9000L),
          ("riff", "id3 ", -1, "", 200L), ("riff", "data", -1, "", 7000L),
          ("gif", "hdr", -1, "", 100L)))
          .toDF("fmt", "kind", "marker", "list_type", "base_size")
        val inv = docs(s, dir)
          .select(col("doc_id").as("doc"),
            (col("doc_id") % 4).cast("int").as("_f"),
            (col("doc_id") % 7).as("_var"))
          .withColumn("fmt",
            when(col("_f") === 0, "png").when(col("_f") === 1, "jpeg")
              .when(col("_f") === 2, "riff").otherwise("gif"))
          .join(broadcast(spec), "fmt")
          .withColumn("sz", (col("base_size") + col("_var")).cast("long"))
        graft.multimodal.Media.scrubPolicyAudit(inv, col("doc"), col("fmt"),
          col("kind"), col("marker"), col("list_type"), col("sz"))
      }))

  /** The q166 Bradley–Terry fit over hash-paired document duels, shared
    * by q166 and the q179 mixture composite: each doc meets a
    * hash-drawn partner, the higher-(n_chars, doc_id) doc's SOURCE
    * takes the win, same-source duels drop, 3 Hunter-MM rounds; output
    * (source, bt_micro) with the q124-family floor nudge. */
  private def btStrengths(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "source", "n_chars")
    val nb = d.agg(count(lit(1)).as("Nb"))
    val paired = d.crossJoin(broadcast(nb))
      .withColumn("j", TextFunctions.portableHash(
        concat(lit("bt:"), col("doc_id").cast("string"))) % col("Nb"))
      .filter(col("j") =!= col("doc_id"))
    val opp = d.select(col("doc_id").as("j"),
      col("source").as("src_j"), col("n_chars").as("nc_j"))
    val pWins = col("n_chars") > col("nc_j") ||
      (col("n_chars") === col("nc_j") && col("doc_id") > col("j"))
    val cmp = paired.join(opp, "j")
      .filter(col("source") =!= col("src_j"))
      .select(when(pWins, col("source")).otherwise(col("src_j")).as("w"),
        when(pWins, col("src_j")).otherwise(col("source")).as("l"))
    BradleyTerry.fit(cmp, col("w"), col("l"), iterations = 3)
      .select(col("item").as("source"),
        floor(col("strength") * 1000000 + lit(0.001)).as("bt_micro"))
  }

  /** Per-host Crawl-delay fixture: host0 declares none (default k),
    * host1 7 s (floor(60/7)=8 → capped at k), host2 31 s (cap 1),
    * host3 an explicit 0 (clamps to 1 s → cap k). Every file carries a
    * named-agent decoy delay that must not apply, and i+1 Sitemap
    * lines. */
  // def, not val: referenced during the strict `queries` Seq's object
  // init, which runs before any val declared below it (the q175 lesson)
  private def PolitenessDelays: Seq[Option[Int]] =
    Seq(None, Some(7), Some(31), Some(0))

  private def politenessRobotsTxt(i: Int): String = {
    val delay = PolitenessDelays(i).map(d => s"Crawl-delay: $d\n").getOrElse("")
    val maps = (1 to i + 1).map(j =>
      s"Sitemap: https://${CrawlHosts(i)}/sitemap$j.xml\n").mkString
    "User-agent: fetchbot\nCrawl-delay: 999\n\n" +
      s"User-agent: *\nDisallow: /admin\n$delay$maps"
  }

  private def politenessRobots(s: SparkSession): DataFrame = {
    import s.implicits._
    CrawlHosts.zipWithIndex.map { case (h, i) =>
      (h, politenessRobotsTxt(i))
    }.toDF("host", "txt")
  }

  private def politenessRobotsSqlRows: String =
    CrawlHosts.zipWithIndex.map { case (h, i) =>
      val lit = politenessRobotsTxt(i)
        .replace("'", "''").replace("\n", "' || chr(10) || '")
      s"('$h', '$lit')"
    }.mkString(",\n|    ")

  /** Planted relative-link pages: the engine twin of
    * [[resolvedFrontierCtes]]'s `pg` frame. */
  private def resolvedFrontierPages(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"))
    def k(j: Int) = TextFunctions.portableHash(
      concat(col("doc_id").cast("string"), lit(s":rlnk:$j"))) % 150
    val html = concat(lit("<html><body>"),
      lit("<a href=\"/page/"), k(1).cast("string"), lit("\">a</a>"),
      lit("<a href=\"../page/"), k(2).cast("string"), lit("#frag\">b</a>"),
      lit("<a href=\"sub/"), k(3).cast("string"), lit("\">c</a>"),
      lit("<a href=\"//"), hostByIdx(k(4) % 4), lit("/page/"),
      k(4).cast("string"), lit("\">d</a>"),
      lit("<a href=\"?v=2\">e</a>"),
      lit("<a href=\"mailto:ops@example.com\">m</a>"),
      lit("</body></html>"))
    d.select(TextFunctions.canonicalizeUrl(crawlUrlColumn).as("src"),
      html.as("html"))
  }

  /** DuckDB replay of [[resolvedFrontierPages]] + `discoveredResolved`
    * through the `cl` frame: same planted hrefs, href extraction,
    * [[Frontier.resolveUrlSql]] resolution, fetchable filter,
    * canonicalization. */
  private def resolvedFrontierCtes: String = {
    val canonSrc = TextFunctions.canonicalizeUrlSql(crawlUrlSql)
    def kSql(j: Int) = "(" + TextFunctions.portableHashSql(
      s"(CAST(doc_id AS VARCHAR) || ':rlnk:$j')") + " % 150)"
    s"""WITH pg AS (SELECT $canonSrc AS src,
       |    '<html><body>' ||
       |    '<a href="/page/' || CAST(${kSql(1)} AS VARCHAR) || '">a</a>' ||
       |    '<a href="../page/' || CAST(${kSql(2)} AS VARCHAR) || '#frag">b</a>' ||
       |    '<a href="sub/' || CAST(${kSql(3)} AS VARCHAR) || '">c</a>' ||
       |    '<a href="//' || ${hostByIdxSql(s"${kSql(4)} % 4")} || '/page/' ||
       |      CAST(${kSql(4)} AS VARCHAR) || '">d</a>' ||
       |    '<a href="?v=2">e</a>' ||
       |    '<a href="mailto:ops@example.com">m</a>' ||
       |    '</body></html>' AS html
       |  FROM documents),
       |lk AS (SELECT src, unnest(${Frontier.extractLinksSql("html")}) AS link
       |  FROM pg),
       |rs AS (SELECT src, ${Frontier.resolveUrlSql("src", "link")} AS abs
       |  FROM lk),
       |cl AS (SELECT src, ${TextFunctions.canonicalizeUrlSql("abs")} AS url
       |  FROM rs WHERE regexp_matches(abs, '${Frontier.AbsoluteHttpRe}'))""".stripMargin
  }
}
