package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.similarity.Similarity
import graft.sources.Tables

/** Similarity-search suite over `embeddings` (array<float> ⨯ 64):
  * brute-force cosine top-k, hyperplane-LSH bucketing, bucketed ANN,
  * and embedding-cosine near-dup pairs.
  */
object SimilarityQueries {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)

  private val eCte = "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"

  /** 20 planted exact-duplicate vectors (ids + 100000) added to the
    * embeddings `e` (vec_id, embedding). Used by q42, q95 and q234. */
  private def withPlantedDups(e: DataFrame): DataFrame =
    e.union(
      e.filter(col("vec_id") < 20)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))

  /** `e` with each vector's hyperplane-LSH bucket over the planes of
    * vectors 1..4. The twin of `planeBucketCtes`. Used by q40, q41 and
    * q81. */
  private def planeBuckets(e: DataFrame): DataFrame =
    Similarity.withLshBucket(e, col("vec_id"), col("embedding"),
      e.filter(col("vec_id").between(1, 4)), col("vec_id"), col("embedding"))

  /** The planes `p` (vectors 1..4) and each vector's bucket `b`, over
    * CTE `e`. Used by q40, q41 and q81. */
  private val planeBucketCtes =
    s"""p AS (SELECT vec_id AS plane_rank, v AS pv FROM e WHERE vec_id BETWEEN 1 AND 4),
       |b AS (SELECT e.vec_id,
       |    CAST(sum(CASE WHEN ${Similarity.dotSql("v", "pv")} > 0
       |             THEN (1 << (plane_rank - 1)) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM e, p GROUP BY e.vec_id)""".stripMargin

  /** The seeded codebook `c`: vectors 1..8 as cells 0..7. Used by q95,
    * q113 and q234, and through `cellCtes` by q221, q232 and q233. */
  private val codebookCte =
    """c AS (SELECT CAST(vec_id - 1 AS INT) AS cell, v AS cv
      |  FROM e WHERE vec_id BETWEEN 1 AND 8)""".stripMargin

  /** Each vector of `e` assigned its nearest `codebookCte` cell (`asgn`:
    * argmin ‖c‖² − 2⟨v,c⟩, ties to the lower cell). Used by q221, q232
    * and q233. */
  private val cellCtes =
    s"""$codebookCte,
       |asgn AS (SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY (${Similarity.dotSql("cv", "cv")}) - 2*(${Similarity.dotSql("v", "cv")}), c.cell) AS rn
       |    FROM e CROSS JOIN c) WHERE rn = 1)""".stripMargin

  /** SemDeDup's input: `base` (the embeddings plus the planted
    * duplicates of `withPlantedDups`) assigned to `codebookCte` cells,
    * keeping each vector (`asgn`). Used by q95 and q234. */
  private val semDedupCellCtes =
    s"""base AS (SELECT vec_id, v FROM e
       |  UNION ALL SELECT vec_id + 100000, v FROM e WHERE vec_id < 20),
       |$codebookCte,
       |asgn AS (SELECT vec_id, cell, v FROM (
       |    SELECT base.vec_id, base.v, c.cell,
       |      row_number() OVER (PARTITION BY base.vec_id
       |        ORDER BY (${Similarity.dotSql("cv", "cv")}) - 2*(${Similarity.dotSql("v", "cv")}), c.cell) AS rn
       |    FROM base CROSS JOIN c) WHERE rn = 1)""".stripMargin

  /** Every vector of `asgn` classified dropped when it is in `drp`, else
    * kept. Used by q95 and q234. */
  private val semDedupTail =
    """SELECT a.vec_id, a.cell,
      |  CASE WHEN d.vec_id IS NOT NULL THEN 'dropped' ELSE 'kept' END AS status
      |FROM asgn a LEFT JOIN drp d USING (vec_id)""".stripMargin

  /** The margin-mining oracle: even ids mine the 40 odd targets up to id
    * 80, top-4 neighbour sums on both sides, top-50 by margin. One-shot
    * (q180) and batched (q235) mining must both equal it. */
  private val bitextOracle =
    s"""WITH $eCte,
       |s AS (SELECT vec_id AS src_id, v FROM e WHERE vec_id % 2 = 0),
       |t AS (SELECT vec_id AS tgt_id, v AS tv FROM e
       |  WHERE vec_id % 2 = 1 AND vec_id <= 80),
       |m AS (SELECT src_id, tgt_id,
       |    CAST(floor(round(${Similarity.cosineSql("v", "tv")}, 4)
       |      * 10000 + 0.001) AS BIGINT) AS cos_micro
       |  FROM s CROSS JOIN t),
       |ax AS (SELECT src_id, CAST(sum(cos_micro) AS BIGINT) AS ax_sum,
       |    CAST(count(*) AS BIGINT) AS nx
       |  FROM (SELECT src_id, tgt_id, cos_micro FROM m
       |    QUALIFY row_number() OVER (PARTITION BY src_id
       |      ORDER BY cos_micro DESC, tgt_id) <= 4)
       |  GROUP BY src_id),
       |ay AS (SELECT tgt_id, CAST(sum(cos_micro) AS BIGINT) AS ay_sum,
       |    CAST(count(*) AS BIGINT) AS ny
       |  FROM (SELECT src_id, tgt_id, cos_micro FROM m
       |    QUALIFY row_number() OVER (PARTITION BY tgt_id
       |      ORDER BY cos_micro DESC, src_id) <= 4)
       |  GROUP BY tgt_id)
       |SELECT m.src_id, m.tgt_id, m.cos_micro,
       |  (2 * nx * ny * m.cos_micro * 1000000)
       |    // (ax_sum * ny + ay_sum * nx) AS margin_micro
       |FROM m JOIN ax USING (src_id) JOIN ay USING (tgt_id)
       |WHERE m.cos_micro > 0 AND ax_sum * ny + ay_sum * nx > 0
       |ORDER BY margin_micro DESC, m.src_id, m.tgt_id
       |LIMIT 50""".stripMargin

  /** The hash that draws negative j of an anchor. Used by q108 and
    * q109. */
  private val drawHashSql = graft.functions.TextFunctions
    .portableHashSql("(CAST(anchor AS VARCHAR) || ':' || CAST(j AS VARCHAR))")

  val queries: Seq[Q] = Seq(

    // Brute-force cosine top-10 against the vec_id=0 query vector.
    Q("q39_knn_cosine",
      Some(s"""WITH $eCte,
              |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
              |SELECT vec_id, round(${Similarity.cosineSql("v", "qv")}, 4) + 0 AS cos_sim
              |FROM e, q WHERE vec_id <> 0
              |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),
      (s, dir) => {
        val e = emb(s, dir)
        Similarity.knnBrute(
          e.filter(col("vec_id") =!= 0), col("vec_id"), col("embedding"),
          e.filter(col("vec_id") === 0), col("embedding"), 10)
      }),

    // Two-stage truncate-then-rerank retrieval (Matryoshka shape): coarse
    // top-50 by cosine over the first 16 dims, exact 64-dim rerank to
    // top-10 — the corpus-sized pass pays a quarter of the arithmetic,
    // the full-dim cosine touches 50 rows. Both cut points round to 4
    // places before ordering (ties on vec_id) so the candidate set is
    // engine-portable; the oracle replays both stages with the same
    // slice + LIMIT.
    Q("q142_truncated_rerank",
      Some(s"""WITH $eCte,
              |q AS (SELECT v AS qv, v[1:16] AS qp FROM e WHERE vec_id = 0),
              |pv AS (SELECT vec_id, v, v[1:16] AS vp FROM e WHERE vec_id <> 0),
              |c AS (SELECT vec_id, v, round(${Similarity.cosineSql("vp", "qp")}, 4) + 0 AS coarse_sim
              |  FROM pv, q
              |  ORDER BY coarse_sim DESC, vec_id LIMIT 50)
              |SELECT vec_id, round(${Similarity.cosineSql("v", "qv")}, 4) + 0 AS cos_sim, coarse_sim
              |FROM c, q
              |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),
      (s, dir) => {
        val e = emb(s, dir)
        Similarity.knnTruncatedRerank(
          e.filter(col("vec_id") =!= 0), col("vec_id"), col("embedding"),
          e.filter(col("vec_id") === 0), col("embedding"),
          dPrefix = 16, coarseK = 50, k = 10)
      }),

    // Hyperplane-LSH bucket histogram (planes = vectors 1..4, shared with
    // the oracle so bucketing is engine-portable).
    Q("q40_lsh_buckets",
      Some(s"""WITH $eCte,
              |$planeBucketCtes
              |SELECT bucket, count(*) AS n_vectors FROM b GROUP BY bucket""".stripMargin),
      (s, dir) => {
        val e = emb(s, dir)
        planeBuckets(e)
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_vectors"))
      }),

    // Bucketed ANN: top-5 within the query vector's LSH bucket only —
    // the candidate-reduction path that replaces the 100 TB cross join.
    Q("q41_ann_bucket",
      Some(s"""WITH $eCte,
              |$planeBucketCtes,
              |ev AS (SELECT b.vec_id, bucket, v FROM b JOIN e USING (vec_id)),
              |qq AS (SELECT bucket AS qbucket, v AS qv FROM ev WHERE vec_id = 0)
              |SELECT ev.vec_id, ev.bucket,
              |  round(${Similarity.cosineSql("v", "qv")}, 4) + 0 AS cos_sim
              |FROM ev, qq WHERE ev.bucket = qbucket AND ev.vec_id <> 0
              |ORDER BY cos_sim DESC, vec_id LIMIT 5""".stripMargin),
      (s, dir) => {
        val e = emb(s, dir)
        val bucketed = planeBuckets(e)
        Similarity.annInBucket(bucketed, 0L, 5)
      }),

    // IVF ANN: coarse quantizer → cell assignment → nearest-2-cells probe
    // around the vec_id=0 query. The oracle query uses the deterministic
    // seeded codebook (embeddings 1..8, cell = rank) so DuckDB replays the
    // whole assign→probe→search pipeline bit-for-bit; the production
    // k-means fit (trainCentroids) is covered by SimilaritySpec's
    // full-probe == brute-force property instead — the fit itself is the
    // only non-ANSI-expressible stage.
    Q("q47_ann_ivf",
      Some(s"""WITH $eCte,
              |$codebookCte,
              |corpus AS (SELECT vec_id, v FROM e WHERE vec_id <> 0),
              |asgn AS (SELECT vec_id, cell FROM (
              |    SELECT corpus.vec_id, c.cell,
              |      row_number() OVER (PARTITION BY corpus.vec_id
              |        ORDER BY (${Similarity.dotSql("cv", "cv")}) - 2*(${Similarity.dotSql("v", "cv")}), c.cell) AS rn
              |    FROM corpus CROSS JOIN c) WHERE rn = 1),
              |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
              |probes AS (SELECT cell FROM c CROSS JOIN q
              |  ORDER BY list_reduce(list_transform(generate_series(1, len(cv)),
              |      i -> (cv[i]-qv[i])*(cv[i]-qv[i])), (x,y) -> x+y), cell
              |  LIMIT 2)
              |SELECT corpus.vec_id, asgn.cell,
              |  round(${Similarity.cosineSql("v", "qv")}, 4) + 0 AS cos_sim
              |FROM corpus
              |JOIN asgn USING (vec_id)
              |JOIN probes ON asgn.cell = probes.cell
              |CROSS JOIN q
              |ORDER BY cos_sim DESC, vec_id LIMIT 5""".stripMargin),
      (s, dir) => {
        val e = emb(s, dir)
        val corpus = e.filter(col("vec_id") =!= 0)
        val queryVec = e.filter(col("vec_id") === 0)
          .select(col("embedding").cast("array<double>"))
          .head.getSeq[Double](0).toArray
        val cents = Similarity.seededCentroids(e, col("vec_id"), col("embedding"), 1L to 8L)
        val cells = Similarity.withIvfCell(corpus, col("vec_id"), col("embedding"), cents)
        Similarity.annIvf(cells, queryVec, cents, nProbe = 2, k = 5)
      }),

    // Multi-probe ANN: the query's bucket plus every 1-bit-flip neighbor
    // bucket — recall recovery without a second hash family. Probe set in
    // SQL: bucket XOR 2^i for the 4 planes.
    Q("q81_ann_multiprobe",
      Some(s"""WITH $eCte,
              |$planeBucketCtes,
              |ev AS (SELECT b.vec_id, bucket, v FROM b JOIN e USING (vec_id)),
              |q AS (SELECT bucket AS qb, v AS qv FROM ev WHERE vec_id = 0),
              |probes AS (SELECT qb AS pb FROM q
              |  UNION ALL SELECT CAST(xor(qb, 1) AS BIGINT) FROM q
              |  UNION ALL SELECT CAST(xor(qb, 2) AS BIGINT) FROM q
              |  UNION ALL SELECT CAST(xor(qb, 4) AS BIGINT) FROM q
              |  UNION ALL SELECT CAST(xor(qb, 8) AS BIGINT) FROM q)
              |SELECT ev.vec_id, ev.bucket,
              |  round(${Similarity.cosineSql("v", "qv")}, 4) + 0 AS cos_sim
              |FROM ev JOIN probes ON ev.bucket = probes.pb CROSS JOIN q
              |WHERE ev.vec_id <> 0
              |ORDER BY cos_sim DESC, vec_id LIMIT 5""".stripMargin),
      (s, dir) => {
        val e = emb(s, dir)
        val bucketed = planeBuckets(e)
        Similarity.annMultiProbe(bucketed, 0L, nPlanes = 4, k = 5)
      }),

    // Batch kNN: top-3 neighbors for each of the 5 query vectors at once
    // (the realistic retrieval shape). Rank-limit pushdown bounds the
    // shuffle at k rows per query per partition (WindowGroupLimit).
    Q("q76_knn_batch",
      Some(s"""WITH $eCte,
              |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
              |scored AS (SELECT query_id, vec_id,
              |    round(${Similarity.cosineSql("v", "qv")}, 4) + 0 AS cos_sim
              |  FROM e CROSS JOIN q WHERE vec_id <> query_id),
              |r AS (SELECT query_id, vec_id, cos_sim,
              |    CAST(row_number() OVER (PARTITION BY query_id
              |      ORDER BY cos_sim DESC, vec_id) AS INT) AS rnk
              |  FROM scored)
              |SELECT query_id, vec_id, cos_sim, rnk FROM r WHERE rnk <= 3""".stripMargin),
      (s, dir) => {
        val e = emb(s, dir)
        Similarity.knnBatch(e, col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 5), col("vec_id"), col("embedding"), 3)
      }),

    // Hard-negative mining: per anchor (vec_ids 0-4), the top-4 most
    // similar vectors excluding self and the planted positives
    // (anchor+10, anchor+20) — the contrastive-training batch builder.
    // Anchors and positives broadcast; the corpus never shuffles for the
    // exclusion and the rank keeps its WindowGroupLimit prune.
    Q("q145_hard_negatives",
      Some(s"""WITH $eCte,
              |q AS (SELECT vec_id AS anchor_id, v AS av FROM e WHERE vec_id < 5),
              |p AS (SELECT anchor_id, anchor_id + 10 AS vec_id FROM q
              |  UNION ALL SELECT anchor_id, anchor_id + 20 FROM q),
              |scored AS (SELECT q.anchor_id, e.vec_id,
              |    round(${Similarity.cosineSql("v", "av")}, 4) + 0 AS cos_sim
              |  FROM e CROSS JOIN q
              |  WHERE e.vec_id <> q.anchor_id
              |    AND NOT EXISTS (SELECT 1 FROM p
              |      WHERE p.anchor_id = q.anchor_id AND p.vec_id = e.vec_id)),
              |r AS (SELECT anchor_id, vec_id, cos_sim,
              |    CAST(row_number() OVER (PARTITION BY anchor_id
              |      ORDER BY cos_sim DESC, vec_id) AS INT) AS rnk
              |  FROM scored)
              |SELECT anchor_id, vec_id, cos_sim, rnk FROM r WHERE rnk <= 4""".stripMargin),
      (s, dir) => {
        val e = emb(s, dir)
        val anchors = e.filter(col("vec_id") < 5)
        val positives = anchors.select(col("vec_id").as("anchor"),
            (col("vec_id") + 10).as("pos"))
          .union(anchors.select(col("vec_id"), col("vec_id") + 20))
        Similarity.hardNegatives(e, col("vec_id"), col("embedding"),
          anchors, col("vec_id"), col("embedding"),
          positives, col("anchor"), col("pos"), k = 4)
      }),

    // Per-dimension z-score normalization of the embedding column — the
    // distributed feature-scaling pass (1 map-side-combinable stats
    // shuffle, stats broadcast back). Emitted in long form (vec_id, dim,
    // z) — scalar columns only, so the driver's sort-and-hash compare
    // works, and no array-reassembly shuffle. Rounded to 3 decimals on
    // both sides so summation-order ULP drift in avg/stddev can't flip
    // the hash.
    // Per-dimension symmetric int8 quantization (long form, like q65):
    // scale = per-dim absmax (exact, order-independent — bit-identical
    // across engines); q = floor(x/scale·127 + 0.5), floor-shift instead
    // of round() so no engine tie-breaking ambiguity exists anywhere.
    Q("q93_embed_quantize_int8",
      Some(s"""WITH $eCte,
              |dims AS (SELECT unnest(generate_series(1,
              |    (SELECT max(len(v)) FROM e))) AS dim),
              |st AS (SELECT dim, max(abs(v[dim])) AS amax
              |  FROM e CROSS JOIN dims GROUP BY dim)
              |SELECT vec_id, CAST(dim - 1 AS INT) AS dim,
              |  CAST(CASE WHEN amax = 0 THEN 0
              |       ELSE floor(v[dim] / amax * 127 + 0.5) END AS BIGINT) AS q,
              |  amax AS scale
              |FROM e CROSS JOIN st WHERE dim <= len(v)""".stripMargin),
      (s, dir) =>
        Similarity.quantizeInt8(emb(s, dir), col("vec_id"), col("embedding"))),

    Q("q65_embed_zscore",
      Some(s"""WITH $eCte,
              |dims AS (SELECT unnest(generate_series(1,
              |    (SELECT max(len(v)) FROM e))) AS dim),
              |st AS (SELECT dim, avg(v[dim]) AS mu, stddev_pop(v[dim]) AS sigma
              |  FROM e CROSS JOIN dims GROUP BY dim)
              |SELECT vec_id, CAST(dim - 1 AS INT) AS dim,
              |  CASE WHEN sigma = 0 THEN 0.0
              |       ELSE round((v[dim] - mu) / sigma, 3) + 0.0 END AS z
              |FROM e CROSS JOIN st WHERE dim <= len(v)""".stripMargin),
      (s, dir) =>
        Similarity.zScoreLong(emb(s, dir), col("vec_id"), col("embedding"))),

    // Embedding-cosine near-duplicates over a corpus with 20 planted
    // exact-duplicate vectors (cos = 1.0; corpus max off-diagonal is 0.51),
    // LSH-bucket prefiltered on both sides: pair joins run within buckets,
    // and identical vectors can never land in different buckets, so the
    // planted answer is exact by construction.
    Q("q42_embed_neardup",
      Some(s"""WITH base AS (
              |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
              |  UNION ALL
              |  SELECT vec_id + 100000, embedding::DOUBLE[] FROM embeddings WHERE vec_id < 20),
              |p AS (SELECT vec_id AS plane_rank, v AS pv FROM base WHERE vec_id BETWEEN 1 AND 4),
              |b AS (SELECT base.vec_id,
              |    CAST(sum(CASE WHEN ${Similarity.dotSql("v", "pv")} > 0
              |             THEN (1 << (plane_rank - 1)) ELSE 0 END) AS BIGINT) AS bucket
              |  FROM base, p GROUP BY base.vec_id),
              |e2 AS (SELECT b.vec_id, bucket, v FROM b JOIN base USING (vec_id)),
              |pr AS (SELECT a.vec_id AS d1, c.vec_id AS d2,
              |    round(${Similarity.cosineSql("a.v", "c.v")}, 4) + 0 AS cos_sim
              |  FROM e2 a JOIN e2 c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
              |SELECT d1, d2, cos_sim FROM pr WHERE cos_sim >= 0.99""".stripMargin),
      (s, dir) => {
        val e = emb(s, dir).select("vec_id", "embedding")
        val corpus = withPlantedDups(e)
        Similarity.nearDupPairsBucketed(corpus, col("vec_id"), col("embedding"),
          corpus.filter(col("vec_id").between(1, 4)), col("vec_id"), col("embedding"), 0.99)
      }),

    // SemDeDup: cluster-then-compare semantic dedup over a corpus with 20
    // planted exact-duplicate vectors. Cells come from the deterministic
    // seeded codebook (embeddings 1..8, like q47) so DuckDB replays the
    // assignment; within-cell pairs at cosine ≥ 0.99 mark the higher id
    // dropped. Whole-corpus classification: every vector kept/dropped.
    Q("q95_semantic_dedup",
      Some(s"""WITH $eCte,
              |$semDedupCellCtes,
              |drp AS (SELECT DISTINCT b2.vec_id FROM asgn a1 JOIN asgn b2
              |  ON a1.cell = b2.cell AND a1.vec_id < b2.vec_id
              |  WHERE round(${Similarity.cosineSql("a1.v", "b2.v")}, 4) >= 0.99)
              |$semDedupTail""".stripMargin),
      (s, dir) => {
        val e = emb(s, dir).select("vec_id", "embedding")
        val corpus = withPlantedDups(e)
        val cents = Similarity.seededCentroids(e, col("vec_id"), col("embedding"), 1L to 8L)
        Similarity.semanticDedup(corpus, col("vec_id"), col("embedding"), cents, 0.99)
      }),

    // Deterministic contrastive negative sampling: negative j of anchor a
    // is the row at portableHash(a ":" j) mod N — one projection + one
    // equi-join on the drawn id (linear in k·N, vs the quadratic
    // "everything but my neighbors" join). Accidental self/near-positive
    // draws filtered at cosine 0.95.
    Q("q108_negative_samples", {
      Some(s"""WITH $eCte,
              |n AS (SELECT CAST(count(*) AS BIGINT) AS N, min(vec_id) AS minId FROM e),
              |draws AS (SELECT a.vec_id AS anchor, a.v AS av, j, $drawHashSql % N + minId AS neg_id
              |  FROM e a CROSS JOIN n CROSS JOIN (SELECT unnest([1, 2, 3]) AS j))
              |SELECT anchor, CAST(j AS INT) AS j, neg_id,
              |  round(${Similarity.cosineSql("av", "nv")}, 4) + 0 AS cos_sim
              |FROM draws JOIN (SELECT vec_id AS neg_id, v AS nv FROM e) USING (neg_id)
              |WHERE neg_id <> anchor
              |  AND round(${Similarity.cosineSql("av", "nv")}, 4) < 0.95""".stripMargin)
    },
      (s, dir) =>
        Similarity.negativeSamples(emb(s, dir), col("vec_id"), col("embedding"),
          k = 3, maxCos = 0.95)),

    // Fixed-k negative sampling: over-draw k+extra by the same hash
    // pairing, rank-limit by draw index j to exactly k survivors per
    // anchor. DuckDB replays the over-draw and the QUALIFY rank.
    Q("q109_negative_samples_exactk", {
      Some(s"""WITH $eCte,
              |n AS (SELECT CAST(count(*) AS BIGINT) AS N, min(vec_id) AS minId FROM e),
              |draws AS (SELECT a.vec_id AS anchor, a.v AS av, j, $drawHashSql % N + minId AS neg_id
              |  FROM e a CROSS JOIN n CROSS JOIN (SELECT unnest(range(1, 12)) AS j)),
              |good AS (SELECT anchor, CAST(j AS INT) AS j, neg_id,
              |    round(${Similarity.cosineSql("av", "nv")}, 4) + 0 AS cos_sim
              |  FROM draws JOIN (SELECT vec_id AS neg_id, v AS nv FROM e) USING (neg_id)
              |  WHERE neg_id <> anchor
              |    AND round(${Similarity.cosineSql("av", "nv")}, 4) < 0.95)
              |SELECT anchor, j, neg_id, cos_sim FROM good
              |QUALIFY row_number() OVER (PARTITION BY anchor ORDER BY j) <= 3""".stripMargin)
    },
      (s, dir) =>
        Similarity.negativeSamplesExact(emb(s, dir), col("vec_id"), col("embedding"),
          k = 3, maxCos = 0.95, extraDraws = 8)),

    // One Lloyd's k-means iteration from the seeded codebook (embeddings
    // 1..8, the q47/q95 init): assign every vector its nearest cell
    // (min squared distance, ties to the lower cell), recompute each
    // cell's per-dimension mean. DuckDB replays assignment + means —
    // INCLUDING the empty-cell rule: a cell that attracts no vectors
    // keeps its init centroid (LEFT JOIN init→means + coalesce), the
    // same keep-previous rule kmeansRefine applies, so engine and
    // oracle stay row-for-row consistent even if seed embeddings
    // collide and a cell goes empty.
    Q("q113_kmeans_refine",
      Some(s"""WITH $eCte,
              |$codebookCte,
              |asgn AS (SELECT vec_id, cell, v FROM (
              |    SELECT e.vec_id, e.v, c.cell,
              |      row_number() OVER (PARTITION BY e.vec_id
              |        ORDER BY (${Similarity.dotSql("cv", "cv")}) - 2*(${Similarity.dotSql("v", "cv")}), c.cell) AS rn
              |    FROM e CROSS JOIN c) WHERE rn = 1),
              |means AS (SELECT cell, CAST(i - 1 AS INT) AS dim,
              |    sum(v[i]) / count(*) AS m
              |  FROM asgn CROSS JOIN LATERAL unnest(generate_series(1, len(v))) AS t(i)
              |  GROUP BY cell, i),
              |init AS (SELECT cell, CAST(i - 1 AS INT) AS dim, cv[i] AS m0
              |  FROM c CROSS JOIN LATERAL unnest(generate_series(1, len(cv))) AS t(i))
              |SELECT init.cell, init.dim, round(coalesce(m, m0), 6) AS c_r
              |FROM init LEFT JOIN means
              |  ON init.cell = means.cell AND init.dim = means.dim""".stripMargin),
      (s, dir) => {
        val e = emb(s, dir).select("vec_id", "embedding")
        val init = Similarity.seededCentroids(e, col("vec_id"), col("embedding"), 1L to 8L)
        val refined = Similarity.kmeansRefine(e, col("vec_id"), col("embedding"), init, 1)
        val rows = refined.zipWithIndex.flatMap { case (cent, cell) =>
          cent.zipWithIndex.map { case (x, dim) =>
            (cell, dim, BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
          }
        }
        s.createDataFrame(rows.toSeq).toDF("cell", "dim", "c_r")
      }),

    // Margin-based bitext mining (Similarity.bitextMine): even-id
    // vectors are the source corpus, 40 odd-id vectors the target
    // mining batch; each candidate's cosine is normalized by both
    // sides' top-4-neighbor mass (the Artetxe–Schwenk ratio margin —
    // hubs discount themselves) with integer-exact arithmetic: micro
    // cosines, integer neighbor SUMS with their actual counts (exact
    // when a side has < k candidates), one int64 division. Top-50 by
    // (margin, ids).
    Q("q180_bitext_margin",
      Some(bitextOracle),
      (s, dir) => {
        val e = emb(s, dir)
        Similarity.bitextMine(
          e.filter(col("vec_id") % 2 === 0), col("vec_id"), col("embedding"),
          e.filter(col("vec_id") % 2 === 1 && col("vec_id") <= 80),
          col("vec_id"), col("embedding"),
          nnK = 4, topN = 50)
      }),

    // SEMANTIC drift: the embedding-distribution monitor — assign every
    // vector to its seeded-codebook IVF cell (the q47 oracle pipeline:
    // argmin |c|² − 2·v·c, ties on cell), histogram cells per ingestion
    // period (vec_id % 4), and run the exact-integer TVD series over
    // the CELL histograms. At 100 TB this is how embedding shift is
    // monitored without storing or re-scanning embeddings: the
    // |periods × cells| histogram is the only retained state, and the
    // codebook pins cell identity across periods (re-fitting per
    // period would make the series incomparable). Composes
    // Similarity.withIvfCell ∘ Drift.tvdSeries — both oracle-proven
    // alone (q47, q193); this row pins the composition.
    Q("q221_semantic_drift",
      Some(s"""WITH $eCte,
              |$cellCtes,
              |h AS (SELECT vec_id % 4 AS period, cell AS b, count(*) AS c
              |  FROM asgn GROUP BY 1, 2),
              |${DriftSql.periodCtes},
              |${DriftSql.pairCte},
              |${DriftSql.tvdCtes("sx")}
              |${DriftSql.alertTail}""".stripMargin),
      (s, dir) => {
        val e = emb(s, dir)
        val cents = Similarity.seededCentroids(e, col("vec_id"),
          col("embedding"), 1L to 8L)
        val cells = Similarity.withIvfCell(e, col("vec_id"),
          col("embedding"), cents)
        graft.operators.Drift.tvdSeries(cells, col("vec_id") % 4, col("cell"))
      }),

    // Persisted IVF index LIFECYCLE (Similarity.ivfIndexAppend/Load —
    // the bm25 on-disk-index discipline applied to ANN): the corpus
    // ingests as three delta batches, batch 1 is ingested TWICE (a
    // replayed batch id must REPLACE its partition, not duplicate), and
    // the loaded accumulated index must equal a one-shot assignment of
    // the whole corpus — which is what the oracle computes (the q47
    // seeded-codebook argmin over ALL vectors, aggregated per cell).
    // Equality holds because assignment is per-row deterministic
    // against the FIXED saved codebook; that is exactly the property
    // that makes "assign once, persist, append deltas" sound at 100 TB
    // (round-16's 10M probe showed assignment dominates index cost —
    // queries must not re-pay it).
    Q("q232_ivf_index_lifecycle",
      Some(s"""WITH $eCte,
              |$cellCtes
              |SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
              |  CAST(sum(vec_id) AS BIGINT) AS sum_id,
              |  CAST(min(vec_id) AS BIGINT) AS min_id,
              |  CAST(max(vec_id) AS BIGINT) AS max_id
              |FROM asgn GROUP BY cell""".stripMargin),
      (s, dir) => {
        val e = emb(s, dir)
        val cents = Similarity.seededCentroids(e, col("vec_id"),
          col("embedding"), 1L to 8L)
        // lazily-read parquet means the dir must OUTLIVE this builder
        // (the returned frame re-reads it at every action) — cleanup is
        // a JVM shutdown hook, not an eager delete, and repeated
        // invocations (bench passes) would otherwise each leak a full
        // copy of the corpus assignments to disk
        val ixPath = java.nio.file.Files.createTempDirectory("graft_ivf_ix")
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          try graft.streaming.EventsStream.deleteRecursively(ixPath)
          catch { case _: Throwable => () }))
        val ix = ixPath.toString
        def ingest(m: Int, batchId: Long): Unit =
          Similarity.ivfIndexAppend(e.filter(col("vec_id") % 3 === m),
            col("vec_id"), col("embedding"), cents, ix, batchId)
        ingest(0, 0L)
        ingest(1, 1L)
        ingest(1, 1L) // replayed batch: must replace, not duplicate
        ingest(2, 2L) // late delta: only these vectors get scored
        val (cells, cb) = Similarity.ivfIndexLoad(s, ix)
        require(cb.length == cents.length &&
          cb.zip(cents).forall { case (a, b) => a.sameElements(b) },
          "loaded codebook must round-trip exactly")
        cells.groupBy("cell").agg(
          count(lit(1)).as("n_vecs"),
          sum("vec_id").cast("long").as("sum_id"),
          min("vec_id").cast("long").as("min_id"),
          max("vec_id").cast("long").as("max_id"))
      }),

    // TWO-LEVEL (IMI-style) cell assignment (Similarity.withIvfCell2 /
    // TwoLevelArgMin): coarse argmin over the q47 seeded codebook, then
    // argmin within that cell's fine sub-codebook — here the 2
    // lowest-id MEMBERS of each coarse cell (seededFineCodebooks: the
    // seeded-centroid rule applied per cell, replayable as a rank
    // window). Composite cell = coarse·2 + fineIdx. This is the
    // constant-cell-size scale path: Σ|cell|² pair work (SemDeDup) is
    // linear only if the codebook grows with the corpus, and flat
    // argmin at k ∝ N makes assignment itself the bottleneck —
    // (k₀+k₁)·d beats k₀·k₁·d per row. The oracle replays BOTH argmin
    // levels as chained rank windows over the same ‖c‖²−2⟨v,c⟩ scores.
    Q("q233_two_level_cells",
      Some(s"""WITH $eCte,
              |$cellCtes,
              |fs AS (SELECT cell, fid, CAST(rk - 1 AS INT) AS fi FROM (
              |    SELECT cell, vec_id AS fid,
              |      row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rk
              |    FROM asgn) WHERE rk <= 2),
              |fv AS (SELECT fs.cell, fs.fi, e.v AS fvv
              |  FROM fs JOIN e ON e.vec_id = fs.fid),
              |fasgn AS (SELECT vec_id, cell, fi FROM (
              |    SELECT a.vec_id, a.cell, fv.fi,
              |      row_number() OVER (PARTITION BY a.vec_id
              |        ORDER BY (${Similarity.dotSql("fvv", "fvv")}) - 2*(${Similarity.dotSql("v", "fvv")}), fv.fi) AS rn
              |    FROM asgn a JOIN e ON e.vec_id = a.vec_id
              |      JOIN fv ON fv.cell = a.cell) WHERE rn = 1)
              |SELECT CAST(cell * 2 + fi AS INT) AS cell2,
              |  CAST(count(*) AS BIGINT) AS n_vecs,
              |  CAST(sum(vec_id) AS BIGINT) AS sum_id,
              |  CAST(min(vec_id) AS BIGINT) AS min_id
              |FROM fasgn GROUP BY 1""".stripMargin),
      (s, dir) => {
        val e = emb(s, dir)
        val coarse = Similarity.seededCentroids(e, col("vec_id"),
          col("embedding"), 1L to 8L)
        val fines = Similarity.seededFineCodebooks(e, col("vec_id"),
          col("embedding"), coarse, kFine = 2)
        Similarity.withIvfCell2(e, col("vec_id"), col("embedding"),
            coarse, fines, fineStride = 2)
          .groupBy(col("cell").as("cell2")).agg(
            count(lit(1)).as("n_vecs"),
            sum("vec_id").cast("long").as("sum_id"),
            min("vec_id").cast("long").as("min_id"))
      }),

    // CAPPED SemDeDup (Similarity.semanticDedupOnCells maxCell — r18):
    // the q95 pipeline with the capBands discipline applied to the
    // semantic pair join. Cells with more than maxCell members are
    // excluded from PAIRING (every member kept — reported by
    // semanticCellAudit, never silently vanished): one pathological
    // hot cell of size m otherwise emits m² pairs with no bound (r17
    // observed max|cell| = 10,201 at 10M ≈ 52M pairs from one cell).
    // The cap is sized RELATIVE to the corpus (⌈1.5·N/8⌉ — binds on
    // above-average cells at every sf) and the oracle replays the
    // bound as the same cell-count filter, so the row pins that
    // capped-cell members classify kept while under-cap cells keep
    // exact q95 dedup semantics, tri-scale.
    Q("q234_semantic_dedup_capped",
      Some(s"""WITH $eCte,
              |$semDedupCellCtes,
              |cap AS (SELECT CAST(ceil(1.5 * count(*) / 8) AS BIGINT) AS mx FROM base),
              |ok AS (SELECT cell FROM asgn GROUP BY cell
              |  HAVING count(*) >= 2 AND count(*) <= (SELECT mx FROM cap)),
              |drp AS (SELECT DISTINCT b2.vec_id FROM asgn a1 JOIN asgn b2
              |  ON a1.cell = b2.cell AND a1.vec_id < b2.vec_id
              |  WHERE a1.cell IN (SELECT cell FROM ok)
              |    AND round(${Similarity.cosineSql("a1.v", "b2.v")}, 4) >= 0.99)
              |$semDedupTail""".stripMargin),
      (s, dir) => {
        val e = emb(s, dir).select("vec_id", "embedding")
        val corpus = withPlantedDups(e)
        val cents = Similarity.seededCentroids(e, col("vec_id"), col("embedding"), 1L to 8L)
        // corpus-relative cap, replayed by the oracle's `cap` CTE —
        // derived INSIDE the plan (r19): ceil(1.5·N/8) comes from a 1-row
        // broadcast aggregate over the persisted cell frame, so sizing
        // the cap no longer pays an eager full-corpus count() per
        // invocation
        val scope = graft.operators.CacheScope.unmanaged
        val cells = scope.persist(Similarity.withIvfCell(
          corpus, col("vec_id"), col("embedding"), cents))
        Similarity.semanticDedupOnCellsRelativeCap(cells, 0.99,
          capFactor = 1.5, nCells = cents.length)
      }),

    // BATCHED bitext mining (Similarity.bitextMineBatched — r18): the
    // q180 margin computation in 3 target hash sub-batches with NO
    // corpus-sized scored frame ever persisted (each sub-batch is
    // re-scored per consumer — the compute-for-scratch trade that
    // completes at 10M where the one-shot's persisted frame died on
    // local disk). The SAME q180 oracle replays it because the batched
    // merges are lossless: per-batch top-k value lists re-top exactly,
    // ay unions disjointly, and the margin cut re-limits under the
    // same total order — batched ≡ one-shot is the property this row
    // pins against an independent engine.
    Q("q235_bitext_batched",
      Some(bitextOracle),
      (s, dir) => {
        val e = emb(s, dir)
        Similarity.bitextMineBatched(
          e.filter(col("vec_id") % 2 === 0), col("vec_id"), col("embedding"),
          e.filter(col("vec_id") % 2 === 1 && col("vec_id") <= 80),
          col("vec_id"), col("embedding"),
          nnK = 4, topN = 50, tgtBatches = 3)
      })
  )
}
