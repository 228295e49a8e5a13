package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.functions.TextFunctions._
import graft.operators.CacheScope

/** MinHash/LSH tuning knobs. The 4-perm / 2-band default is the
  * oracle-pinned toy configuration (DuckDB replays it bit-for-bit); a real
  * 100 TB dedup wants ~64–128 permutations with b×r tuned to the target
  * Jaccard threshold (P[candidate] = 1−(1−j^r)^b). `portable` selects the
  * hash family: md5-prefix (engine-portable, oracle-replayable) vs
  * xxhash64 (the fast path — one mix per token, no digest allocation).
  */
final case class MinHashConfig(perms: IndexedSeq[(Long, Long)],
                               bands: Int,
                               shingleK: Int = 3,
                               portable: Boolean = true) {
  require(perms.nonEmpty && bands > 0 && perms.size % bands == 0,
    s"perms (${perms.size}) must divide evenly into bands ($bands)")
  def rowsPerBand: Int = perms.size / bands

  /** Stable identity of this config — stamped into [[Dedup.buildIndex]]
    * output so a classify pass with a different config fails loudly
    * instead of silently missing near-dups. MurmurHash3 of the perm
    * stream (Scala's Seq hashCode) is content-deterministic across JVMs. */
  def fingerprint: String =
    s"mh${perms.size}b${bands}k$shingleK${if (portable) "p" else "x"}h${perms.hashCode}"
}

object MinHashConfig {
  import graft.functions.TextFunctions

  /** The DuckDB-replayable default: 4 hand-picked prime perms, 2 bands. */
  val OraclePinned: MinHashConfig =
    MinHashConfig(TextFunctions.MinHashPerms.toIndexedSeq, bands = 2)

  /** Deterministically generated (a, b) permutation parameters — a
    * splitmix64 stream with fixed public-domain constants, so every run
    * and every executor derives the identical family. a ∈ [1, P),
    * b ∈ [0, P); products stay < 2^62 (P < 2^31). */
  def generated(nPerms: Int, bands: Int, shingleK: Int = 3,
                portable: Boolean = true): MinHashConfig = {
    val P = TextFunctions.MinHashP
    var x = 0x9E3779B97F4A7C15L
    def next(): Long = {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val perms = IndexedSeq.fill(nPerms)(
      (Math.floorMod(next(), P - 1) + 1, Math.floorMod(next(), P)))
    MinHashConfig(perms, bands, shingleK, portable)
  }
}

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and exact n-gram Jaccard. Each is designed
  * around its 100 TB shuffle shape (noted per op); the oracle queries
  * bind them to the `documents` table with the portable hash family.
  */
object Dedup {

  /** Exact dedup: group on a hash of the content, keep the smallest id.
    * Shuffles (hash, id) pairs only — never the document bodies. */
  def exactGroups(df: DataFrame, idCol: Column, textCol: Column,
                  hash: Column => Column = fastHash): DataFrame =
    df.groupBy(hash(textCol).as("content_hash"))
      .agg(min(idCol).as("keeper"), count(lit(1)).as("n_dups"))

  /** (doc, shingle-hash) rows with multiplicity, emitted by the custom
    * [[graft.functions.expressions.ShingleHashGenerator]] — a pure
    * map-side Generate (the window-lead formulation this replaces needed
    * an Exchange + Sort per evaluation just to see adjacent tokens).
    * Values are unchanged: per-token portable hash mod M folded with the
    * same constants the oracle uses. The posting-list operators
    * ([[jaccardPairs]], [[sharedSpanPairs]], [[contamination]]) join on
    * these flat rows; the MinHash operators use [[sketches]] instead. */
  def shingleHashes(df: DataFrame, idCol: Column, textCol: Column,
                    k: Int = 3, portable: Boolean = true): DataFrame =
    df.select(idCol.as("doc"),
      Bridge.column(graft.functions.expressions.ShingleHashGenerator(
        Bridge.expression(tokens(textCol)), k, portable)).as("sh"))

  /** The per-doc frame every MinHash operator runs on: `(doc, sig, shs)`
    * from one [[graft.functions.expressions.MinHashSketch]] per row — the
    * signature array and the sorted distinct shingle set. Docs with fewer
    * than `shingleK` tokens have no shingles and no row. No shuffle: a
    * document's shingles all sit in its row.
    *
    * Precondition of every operator built on it: ids are unique. The
    * sketch is per ROW, so two rows sharing an id stay two sketches. */
  private def sketches(df: DataFrame, idCol: Column, textCol: Column,
                       cfg: MinHashConfig): DataFrame =
    // inline over a compacted one-element array: the Generate drops the
    // null (sub-k) sketches with no Filter — a Filter on the sketch would
    // be pushed below the projection and evaluate the sketch twice
    df.select(idCol.as("doc"), inline(array_compact(array(sketch(textCol, cfg)))))

  private def sketch(textCol: Column, cfg: MinHashConfig): Column =
    Bridge.column(graft.functions.expressions.MinHashSketch(
      Bridge.expression(tokens(textCol)), cfg.shingleK, cfg.perms, cfg.portable))

  /** The `mh0…` signature columns of a `sig` array column, and back. */
  private def mhColumns(sig: Column, cfg: MinHashConfig): Seq[Column] =
    cfg.perms.indices.map(i => sig.getItem(i).as(s"mh$i"))

  private def sigArray(cfg: MinHashConfig): Column =
    array(cfg.perms.indices.map(i => col(s"mh$i")): _*).as("sig")

  /** Per-doc MinHash signature over k-token shingles: `(doc, mh0…)`, one
    * row per doc with at least `shingleK` tokens (shorter docs have no
    * shingles and no row). Ids must be unique ([[sketches]]). */
  def minhashSignatures(df: DataFrame, idCol: Column, textCol: Column,
                        cfg: MinHashConfig = MinHashConfig.OraclePinned): DataFrame =
    sketches(df, idCol, textCol, cfg).select(col("doc") +: mhColumns(col("sig"), cfg): _*)

  /** LSH banding: candidate pairs whose signatures collide on at least one
    * band (b bands × r rows from the b·r perms). One equi-join shuffle
    * keyed on (band_idx, band_key) — the scale path that avoids the
    * all-pairs cross join entirely. */
  def lshCandidates(sigs: DataFrame,
                    cfg: MinHashConfig = MinHashConfig.OraclePinned): DataFrame = {
    val s = sigs.select(col("doc"), sigArray(cfg))
    bandPairs(s, s, cfg).filter(col("d1") < col("d2"))
  }

  /** Distinct (d1, d2) pairs of `(doc, sig)` rows from `a` and `b` that
    * collide on at least one band: band i's key is the exact `array<long>`
    * slice of its r signature rows, and one equi-join on
    * (band_idx, band_key) finds the pairs — the self-join of
    * [[lshCandidates]] and [[nearDuplicates]] and the delta⋈index join of
    * the incremental family. */
  private def bandPairs(a: DataFrame, b: DataFrame, cfg: MinHashConfig): DataFrame = {
    val r = cfg.rowsPerBand
    def bands(sigs: DataFrame, doc: String): DataFrame =
      sigs.select(col("doc").as(doc), posexplode(array((0 until cfg.bands).map(i =>
        slice(col("sig"), i * r + 1, r)): _*)).as(Seq("band_idx", "band_key")))
    bands(a, "d1").join(bands(b, "d2"), Seq("band_idx", "band_key"))
      .select("d1", "d2")
      .distinct()
  }

  /** Incremental dedup: classify every document of a `delta` batch
    * against an existing `base` corpus as `exact_dup` (byte-identical
    * content already in base), `near_dup` (shingle-Jaccard ≥ `threshold`
    * against some base doc), or `kept` — the production shape of dedup at
    * 100 TB, where the base is never re-clustered: each arriving batch is
    * checked against it and appended. Delta-internal duplicates are out
    * of scope by design — run [[nearDuplicates]] on the (small) delta
    * for that before or after this pass.
    *
    * This is [[incrementalDedupAgainstIndex]]'s classification run over
    * an in-plan, scope-persisted [[buildIndex]] of `base`: one base text
    * pass, then every join is keyed on content hashes or band keys (NO
    * base×base or delta×delta pair work anywhere) and exact-Jaccard
    * verification touches candidate pairs only. Ids must be unique on
    * each side. */
  def incrementalDedup(base: DataFrame, baseId: Column, baseText: Column,
                       delta: DataFrame, deltaId: Column, deltaText: Column,
                       threshold: Double,
                       cfg: MinHashConfig = MinHashConfig.OraclePinned,
                       scope: CacheScope = CacheScope.unmanaged): DataFrame =
    classifyAgainstIndex(scope.persist(buildIndex(base, baseId, baseText, cfg)),
      delta, deltaId, deltaText, threshold, cfg, scope)

  /** Persistable dedup index of a base corpus: one row per doc,
    * `(doc, content_hash, mh0…, shs, _cfg)` — its content hash (md5,
    * 128-bit equality, the exact-dup key), its MinHash signature, and its
    * distinct shingle-hash set: everything [[incrementalDedupAgainstIndex]]
    * needs, so arriving batches NEVER rescan base text. One projection, no
    * shuffle; write it out with `df.write.parquet(...)` and classify
    * against the re-read frame. Docs with fewer than `shingleK` tokens
    * keep an index row (exact-dup checks must still see them) with null
    * signature columns — they can never band-match, which
    * [[incrementalDedupAgainstIndex]] preserves by filtering null bands.
    * Ids must be unique ([[sketches]]). */
  def buildIndex(base: DataFrame, baseId: Column, baseText: Column,
                 cfg: MinHashConfig = MinHashConfig.OraclePinned): DataFrame =
    // cfg fingerprint rides with the data: a classify pass with a
    // different config would band-join on never-matching keys and
    // silently miss every near-dup — the stamp turns that into a loud
    // require() in incrementalDedupAgainstIndex
    base.select(baseId.as("doc"), md5(baseText).as("content_hash"),
        sketch(baseText, cfg).as("sk"))
      .select((col("doc") +: col("content_hash") +: mhColumns(col("sk.sig"), cfg)) ++
        Seq(col("sk.shs").as("shs"), lit(cfg.fingerprint).as("_cfg")): _*)

  /** [[incrementalDedup]] against a PRECOMPUTED [[buildIndex]] frame —
    * the amortized multi-batch shape: the base corpus is hashed, signed,
    * and shingled exactly once, then every delta batch classifies with
    * joins against the stored index only (content-hash semi-join, delta
    * bands ⋈ index bands, verification against stored shingle sets). Base
    * text is never touched again. Same classification contract as
    * [[incrementalDedup]]: exact_dup > near_dup > kept per delta doc.
    * Delta ids must be unique. */
  def incrementalDedupAgainstIndex(index: DataFrame, delta: DataFrame,
                                   deltaId: Column, deltaText: Column,
                                   threshold: Double,
                                   cfg: MinHashConfig = MinHashConfig.OraclePinned,
                                   scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    // config-mismatch guard: band keys from a different MinHashConfig
    // never match, so a mismatch would classify every near-dup as "kept"
    // with no error. Schema check is free; the stamped fingerprint (one
    // constant row, limit(1) action) catches same-width different-perm
    // families too. Unstamped (pre-fingerprint) indexes pass the schema
    // check only.
    val mhCols = index.columns.count(_.matches("mh\\d+"))
    require(mhCols == cfg.perms.size,
      s"index carries $mhCols mh columns but cfg expects ${cfg.perms.size} " +
        "— was the index built with a different MinHashConfig?")
    if (index.columns.contains("_cfg"))
      index.select(col("_cfg")).limit(1).collect().headOption
        .map(_.getString(0)).filter(_ != cfg.fingerprint).foreach { fp =>
          throw new IllegalArgumentException(
            s"index was built with MinHashConfig fingerprint $fp but " +
              s"classification uses ${cfg.fingerprint} — near-dups would be silently missed")
        }
    classifyAgainstIndex(index, delta, deltaId, deltaText, threshold, cfg, scope)
  }

  /** The classification body of the incremental family: exact check =
    * semi-join of delta md5s against the index's distinct content hashes;
    * near check = delta bands ⋈ index bands, then [[verifyPairs]] against
    * the index's stored shingle sets; the status column ranks
    * exact_dup > near_dup > kept. */
  private def classifyAgainstIndex(index: DataFrame, delta: DataFrame,
                                   deltaId: Column, deltaText: Column,
                                   threshold: Double, cfg: MinHashConfig,
                                   scope: CacheScope): DataFrame = {
    val d = scope.persist(delta.select(deltaId.as("doc_id"), deltaText.as("text")))
    val exactIds = d.join(index.select(col("content_hash").as("bh")).distinct(),
        md5(col("text")) === col("bh"), "left_semi")
      .select(col("doc_id")).withColumn("_exact", lit(1))
    val dSk = scope.persist(sketches(d, col("doc_id"), col("text"), cfg))
    val iSk = index.filter(col("mh0").isNotNull).select(col("doc"), sigArray(cfg), col("shs"))
    val cand = scope.persist(bandPairs(dSk, iSk, cfg))
    val nearIds = verifyPairs(cand, dSk, iSk, threshold)
      .select(col("d1").as("doc_id")).distinct()
      .withColumn("_near", lit(1))
    d.select("doc_id")
      .join(exactIds, Seq("doc_id"), "left")
      .join(nearIds, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("_exact") === 1, "exact_dup")
          .when(col("_near") === 1, "near_dup")
          .otherwise("kept").as("status"))
  }

  /** Exact shingle-set Jaccard for doc pairs, via the counting formulation:
    * explode distinct (doc, shingle-hash) pairs, equi-join on the hash,
    * count intersections, derive |union| = |A|+|B|-|A∩B|. All equi-join/
    * groupBy shuffles — no arrays or shingle strings cross the wire (8-byte
    * join keys), no cross join. 60-bit hash collisions are negligible and
    * the oracle hashes identically, so both engines see the same sets. */
  def jaccardPairs(df: DataFrame, idCol: Column, textCol: Column,
                   minIntersection: Long = 1L,
                   scope: CacheScope = CacheScope.unmanaged): DataFrame =
    // minIntersection prunes the long tail of 1-shingle-collision pairs
    // before the size joins — callers filtering on jaccard >= τ can derive
    // a safe bound (j >= τ needs |A∩B| >= τ(|A|+|B|)/(1+τ)).
    intersectionCounts(df, idCol, textCol, minIntersection, scope)
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n1") + col("n2") - col("n_inter")))

  /** Shared core of the pairwise set-overlap operators: distinct
    * (doc, shingle-hash) rows → per-doc sizes + per-pair intersection
    * counts, with a consistent `minIntersection` prune. The pairs frame
    * feeds three consumers, so it is persisted through `scope` (see the
    * cache NOTE on [[nearDuplicates]] — applies to every caller of this). */
  private def intersectionCounts(df: DataFrame, idCol: Column, textCol: Column,
                                 minIntersection: Long,
                                 scope: CacheScope): DataFrame = {
    val pairs = scope.persist(shingleHashes(df, idCol, textCol).distinct())
    val sizes = pairs.groupBy("doc").agg(count(lit(1)).as("n_sh"))
    pairs.as("a").join(pairs.as("b"), Seq("sh"))
      .filter(col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("d1"), col("b.doc").as("d2"))
      .agg(count(lit(1)).as("n_inter"))
      .filter(col("n_inter") >= minIntersection)
      .join(sizes.withColumnRenamed("doc", "d1").withColumnRenamed("n_sh", "n1"), "d1")
      .join(sizes.withColumnRenamed("doc", "d2").withColumnRenamed("n_sh", "n2"), "d2")
  }

  /** Containment pairs: max(|A∩B|/|A|, |A∩B|/|B|) ≥ τ — the ASYMMETRIC
    * near-dup test symmetric Jaccard misses: a short document wholly
    * quoted inside a long one has tiny Jaccard but containment ≈ 1.
    * Same counting formulation and shuffle shape as [[jaccardPairs]]
    * (equi-joins on 8-byte shingle hashes, no pair enumeration beyond
    * colliding pairs). `minIntersection` prunes the collision tail:
    * containment ≥ τ needs |A∩B| ≥ τ·min(|A|,|B|). */
  def containmentPairs(df: DataFrame, idCol: Column, textCol: Column,
                       minContainment: Double,
                       minIntersection: Long = 1L,
                       scope: CacheScope = CacheScope.unmanaged): DataFrame =
    intersectionCounts(df, idCol, textCol, minIntersection, scope)
      .withColumn("containment",
        greatest(col("n_inter").cast("double") / col("n1"),
          col("n_inter").cast("double") / col("n2")))
      .filter(col("containment") >= minContainment)

  /** Long-span overlap detection — substring-level dedup at token
    * granularity (the train-dedup pass of Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", reshaped from suffix
    * arrays to posting-list joins): document pairs sharing at least
    * `minShared` distinct k-token spans, with the shared-span count.
    * Whole-document Jaccard misses a paragraph pasted into an otherwise
    * different document; a long shared span catches exactly that.
    *
    * Scale shape: spans come from the same map-side
    * [[graft.functions.expressions.ShingleHashGenerator]] Generate as the
    * MinHash pipeline (k=8 here instead of 3) → distinct (doc, span)
    * posting rows (map-side combinable) → frequency-cap the posting
    * lists: a span occurring in more than `maxDocsPerSpan` documents is
    * boilerplate (headers, licenses) whose pairings are quadratic noise —
    * dropping it bounds every posting list, so the self-join on the
    * 8-byte span hash is skew-proof by construction. Pair rows exist only
    * for documents actually sharing a capped span. */
  def sharedSpanPairs(df: DataFrame, idCol: Column, textCol: Column,
                      k: Int = 8, minShared: Long = 1L,
                      maxDocsPerSpan: Long = 50L,
                      portable: Boolean = true,
                      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val posts = scope.persist(
      shingleHashes(df, idCol, textCol, k, portable).distinct())
    val shared = posts.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDocsPerSpan)
      .select("sh")
    val pruned = posts.join(shared, "sh")
    pruned.as("a").join(pruned.as("b"), Seq("sh"))
      .filter(col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("d1"), col("b.doc").as("d2"))
      .agg(count(lit(1)).as("n_spans"))
      .filter(col("n_spans") >= minShared)
  }

  /** MinHash-LSH near-dup pipeline: signatures → banded candidates →
    * exact-Jaccard verification of the candidate pairs only. Ids must be
    * unique ([[sketches]]).
    *
    * NOTE this op (and [[jaccardPairs]] / [[containmentPairs]], via their
    * shared intersection core) persists small intermediate
    * frames (sketches, candidate pairs) that the returned DataFrame
    * cannot release. Long-lived applications calling it repeatedly should
    * pass a [[graft.operators.CacheScope]] and close it after the
    * consuming action; under the default unmanaged scope the frames stay
    * registered until `spark.catalog.clearCache()` (what the shipped
    * Bench/Verify harnesses do between queries). That
    * restriction is the whole point of LSH: exact verification touches
    * |candidates| rows, not |corpus|² — at 100 TB the candidate joins are
    * broadcasts. Verification uses per-pair array set-ops rather than the
    * counting self-join: with only candidate rows left, two broadcast
    * joins + a per-row intersect beat four more shuffle stages. */
  def nearDuplicates(df: DataFrame, idCol: Column, textCol: Column,
                     threshold: Double,
                     cfg: MinHashConfig = MinHashConfig.OraclePinned,
                     scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    // the sketch frame is read by both band-join sides and both verify
    // sides, so corpus text is read once; the candidate pairs are read by
    // the verify tail's doc broadcasts and its pair join
    val sk = scope.persist(sketches(df, idCol, textCol, cfg))
    val cand = scope.persist(bandPairs(sk, sk, cfg).filter(col("d1") < col("d2")))
    verifyPairs(cand, sk, sk, threshold)
  }

  /** Exact-Jaccard verification of a (d1, d2) candidate frame: `d1`
    * against the `(doc, shs)` rows of `left`, `d2` against `right` — the
    * one verify tail of the MinHash family. Each side is semi-joined to
    * its candidate docs (broadcast) before the pair joins, so shingle sets
    * move only for candidates (\|candidates\| ≪ \|corpus\|, the LSH
    * point). `cand` should be persisted by the caller (read for the doc
    * broadcasts and the pair join). Returns `(d1, d2, jaccard)`. */
  private def verifyPairs(cand: DataFrame, left: DataFrame, right: DataFrame,
                          threshold: Double): DataFrame = {
    def side(sk: DataFrame, d: String, s: String): DataFrame =
      sk.join(broadcast(cand.select(col(d).as("cdoc")).distinct()),
          col("doc") === col("cdoc"), "left_semi")
        .select(col("doc").as(d), col("shs").as(s))
    cand
      .join(side(left, "d1", "s1"), "d1")
      .join(side(right, "d2", "s2"), "d2")
      .withColumn("n_inter", size(array_intersect(col("s1"), col("s2"))).cast("long"))
      .withColumn("jaccard",
        col("n_inter").cast("double") / (size(col("s1")) + size(col("s2")) - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select("d1", "d2", "jaccard")
  }

  /** MinHash-LSH near-dup with ESTIMATED similarity: banded candidates
    * scored by their signature agreement count instead of exact-Jaccard
    * verification — the variance-for-cost trade at 100 TB, where exact
    * verification's candidate re-shingling is the ONLY stage of
    * [[nearDuplicates]] that re-reads document text. From persisted
    * signatures this operator never touches text at all: every frame is
    * |perms| longs per doc, and the verify step is a wide integer
    * projection over the candidate rows.
    *
    * `n_agree`/|perms| is the standard unbiased MinHash estimate of J
    * (std ≈ √(J(1−J)/n), ~0.05 at n=64 near J=0.8), so the caller
    * expresses the threshold as an integer `minAgree` (e.g. 52 ≈ 0.8·64)
    * — the output is all-integer `(d1, d2, n_agree)`, engine-portable
    * with no float anywhere. Where the decision boundary must be exact,
    * use [[nearDuplicates]].
    *
    * `sigs` is read four times (band self-join ×2, agreement join ×2) —
    * pass the frame [[minhashSignatures]] produced under a persist (the
    * one-shot [[nearDuplicatesEstimated]] does) or a parquet-loaded
    * signature table. */
  def nearDuplicatesEstimatedFromSigs(sigs: DataFrame, minAgree: Int,
                                      cfg: MinHashConfig = MinHashConfig.OraclePinned,
                                      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val n = cfg.perms.size
    require(minAgree >= 1 && minAgree <= n,
      s"minAgree must be in [1, $n], got $minAgree")
    val cand = scope.persist(lshCandidates(sigs, cfg))
    val a = sigs.select(col("doc").as("d1") +:
      (0 until n).map(i => col(s"mh$i").as(s"a$i")): _*)
    val b = sigs.select(col("doc").as("d2") +:
      (0 until n).map(i => col(s"mh$i").as(s"b$i")): _*)
    val agree = (0 until n)
      .map(i => when(col(s"a$i") === col(s"b$i"), lit(1L)).otherwise(lit(0L)))
      .reduce(_ + _)
    cand.join(a, "d1").join(b, "d2")
      .withColumn("n_agree", agree)
      .filter(col("n_agree") >= minAgree)
      .select("d1", "d2", "n_agree")
  }

  /** One-shot [[nearDuplicatesEstimatedFromSigs]]: signatures built (and
    * scope-persisted) from raw text — one corpus scan total. */
  def nearDuplicatesEstimated(df: DataFrame, idCol: Column, textCol: Column,
                              minAgree: Int,
                              cfg: MinHashConfig = MinHashConfig.OraclePinned,
                              scope: CacheScope = CacheScope.unmanaged): DataFrame =
    nearDuplicatesEstimatedFromSigs(
      scope.persist(minhashSignatures(df, idCol, textCol, cfg)),
      minAgree, cfg, scope)

  /** [[nearDuplicates]] with an exact-duplicate collapse fast path — the
    * production shape for crawl-scale corpora, where 30%+ of documents
    * are byte-identical copies (Lee et al. 2021): group by content hash
    * FIRST, run MinHash-LSH + exact-Jaccard verification only on the
    * distinct texts (one representative per group), and connect each
    * group's members to their representative with star pairs at J=1.
    *
    * Why it matters: identical texts have identical MinHash signatures,
    * so an n-member exact-dup family collides in EVERY band and the band
    * self-join emits its C(n,2) pairs `bands` times over — the 1M-doc
    * composite probe measured ~53M raw candidate rows for 3.3M true
    * pairs (16 bands, 10-member families) and re-shingled all 735k docs
    * for verification when only 73.5k distinct texts existed
    * (EXPLAIN.md "Full q123 composite"). The collapse pays one
    * md5-keyed aggregation (the exact-dedup shuffle: 16-byte hash +
    * 8-byte id per doc) to shrink every LSH stage by the duplication
    * factor.
    *
    * Output contract: same schema `(d1, d2, jaccard)`, CONNECTIVITY-
    * EQUIVALENT to [[nearDuplicates]] rather than pair-identical —
    * within an exact family the C(n,2) clique becomes an (n−1)-edge
    * star, and cross-family near-dup pairs are emitted between
    * representatives only (members reach them through their star).
    * Connected components, and therefore every cluster-level consumer
    * ([[connectedComponents]], [[bestQualityCanon]], dedup deletion),
    * see identical clusters — `NearDupCollapseSpec` proves the canon
    * maps equal on mixed corpora. Exact pairs carry J=1.0 without
    * verification: md5 is 128-bit, a collision is ~2^-64 at any corpus
    * size, the same trust the exact-dedup family (q31/q94) already
    * places in content hashes.
    *
    * DUP-FREE corpora short-circuit: the collapse machinery (rep
    * election + star join + rep semi-join) is pure overhead when every
    * text is distinct — measured ~25% on the 500-doc q140 corpus
    * (r13 bench: 3.19 s plain → 4.02 s collapsed) — so the operator
    * probes exact-dup presence first with ONE ungrouped aggregate over
    * the persisted (doc, h) frame (`count == count_distinct(h)`,
    * map-side-combinable, a 1-row driver read) and runs the plain
    * pipeline straight off the source when no text repeats. The probe's
    * cost on dup-heavy corpora is a rounding error next to the LSH
    * stages it then shrinks; on dup-free corpora it buys back the
    * collapse overhead (EXPLAIN.md round 14 has the break-even
    * numbers). */
  def nearDuplicatesCollapsed(df: DataFrame, idCol: Column, textCol: Column,
                              threshold: Double,
                              cfg: MinHashConfig = MinHashConfig.OraclePinned,
                              scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    // (doc, h) — 24 bytes per doc — is what the presence probe, the rep
    // election, and the star join read; persist THAT, never the text:
    // a full-text persist would write the whole corpus to executor
    // storage (r13 shipped exactly that; the 1M composite probe paid
    // ~13 s materializing ~600 MB of text nobody re-read in bulk, and
    // at 100 TB the shape is disqualifying). TEXT is only needed for
    // the rep corpus — |distinct texts| rows, the collapse's point —
    // re-derived from the source by one rep-id semi-join, and not
    // persisted: nearDuplicates reads its input once (into its sketch
    // frame), so a persist would copy text into the cache for one read.
    val src = df.select(idCol.as("doc"), textCol.as("text"))
    val keyed = scope.persist(src.select(col("doc"), md5(col("text")).as("h")))
    val Seq(nRows, nTexts) = keyed
      .agg(count(lit(1)), count_distinct(col("h")))
      .head().toSeq.map(_.asInstanceOf[Long])
    if (nRows == nTexts)
      nearDuplicates(src, col("doc"), col("text"), threshold, cfg, scope)
    else {
      val reps = keyed.groupBy("h").agg(min("doc").as("rep"))
      val exact = keyed.join(reps, "h")
        .filter(col("doc") =!= col("rep"))
        .select(col("rep").as("d1"), col("doc").as("d2"), lit(1.0).as("jaccard"))
      val repCorpus = src.join(
        reps.select(col("rep").as("doc")), Seq("doc"), "left_semi")
      val near = nearDuplicates(repCorpus, col("doc"), col("text"),
        threshold, cfg, scope)
      exact.union(near)
    }
  }

  /** Connected components over a near-dup pair graph: every node gets the
    * smallest doc id reachable from it (`canon`) — the canonical-id step
    * that turns pairwise near-dup output into dedup CLUSTERS ("keep one
    * doc per component"), which is what a training-data pipeline actually
    * deletes against. Only nodes that appear in `pairs` are returned;
    * absent docs are implicitly their own singleton cluster.
    *
    * Algorithm: iterative min-label propagation. Each round every node
    * takes min(own label, neighbors' labels) — two shuffles per round
    * (edge⋈label join + grouped min), data fully distributed, the driver
    * only checks the per-round changed-count. Rounds needed = graph
    * diameter: for dedup graphs that is small by construction (duplicate
    * clusters are near-cliques — LSH emits most intra-cluster pairs
    * directly), which is why the simple propagation beats the O(log n)
    * large-star/small-star scheme (Kiveris et al., "Connected Components
    * in MapReduce and Beyond") here — each of its rounds costs ~2× more.
    * HIGH-DIAMETER graphs (pathological chains) are no longer a throw:
    * if propagation is still changing after `switchAfter` rounds, the
    * engine hands the current state to [[starComponents]] — the Kiveris
    * alternating large-star/small-star contraction, O(log n) rounds on
    * any topology — instead of grinding out diameter-many rounds.
    * `maxIter` still bounds the fallback; hitting it throws rather than
    * silently returning a partial clustering. The rounds run through
    * [[graft.operators.Fixpoint.converge]]: the per-round changed-count
    * is the action that materializes each round. */
  def connectedComponents(pairs: DataFrame, d1: Column, d2: Column,
                          maxIter: Int = 25, switchAfter: Int = 8): DataFrame = {
    // the symmetric edge list is re-joined every round — materialize it
    // once instead of replaying the (possibly expensive) pairs pipeline;
    // lazily, so the first round's action stores it.
    // ONE pass over `pairs` (explode both orientations per row), not a
    // union of two projections: the union form replayed the whole pairs
    // pipeline — for the dedup family that is the LSH verify tail
    // (candidate re-shingle + two joins) — once per side.
    val edges = pairs
      .select(explode(array(
        struct(d1.as("src"), d2.as("dst")),
        struct(d2.as("src"), d1.as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .transform(graft.operators.Checkpoints.truncate(_, eager = false))
    val (labels, rounds, settled) = graft.operators.Fixpoint.converge(
        edges.select(col("src").as("node")).distinct().withColumn("canon", col("node")),
        math.min(switchAfter, maxIter)) { labels =>
      val nbrMin = edges
        .join(labels, edges("dst") === labels("node"))
        .groupBy(col("src")).agg(min(col("canon")).as("nbr_canon"))
      labels
        .join(nbrMin, labels("node") === nbrMin("src"), "left")
        .select(col("node"),
          least(col("canon"), coalesce(col("nbr_canon"), col("canon"))).as("canon"),
          (coalesce(col("nbr_canon"), col("canon")) < col("canon")).as("chg"))
    } { (round, _, labels) => round == 0 || labels.filter(col("chg")).count() > 0 }
    if (settled) labels.drop("chg")
    else {
      // high-diameter graph: propagation would need diameter-many rounds.
      // Seed the star contraction with the label links already discovered
      // (node→canon is an intra-component edge) so partial progress isn't
      // thrown away, then finish in O(log n) rounds.
      starComponents(
        edges.union(labels.filter(col("node") =!= col("canon"))
          .select(col("node").as("src"), col("canon").as("dst"))),
        maxIter - rounds)
    }
  }

  /** Alternating large-star/small-star connected components (Kiveris et
    * al., "Connected Components in MapReduce and Beyond"): converges in
    * O(log n) rounds on ANY topology — the scale fallback
    * [[connectedComponents]] switches to when min-label propagation
    * stalls on a high-diameter graph.
    *
    * Each round: large-star links every node's strictly-larger neighbors
    * to the minimum of its closed neighborhood; small-star (edges
    * oriented big→small) links each node and its smaller neighbors to
    * that minimum. The fixpoint is a star forest — every node points at
    * its component's global minimum. Convergence is detected by edge-set
    * equality (count + one anti-join — O(|E|), no driver data).
    * Input `edges0` may be directed/duplicated; it is canonicalized
    * first. Returns the same (node, canon) shape as
    * [[connectedComponents]]. */
  def starComponents(edges0: DataFrame, maxIter: Int = 25): DataFrame = {
    // every node ever seen — from the UNFILTERED input, so a node whose
    // only edge is a self-loop still gets its (x, x) row, matching the
    // propagation path's labeling (the filtered frame would drop it).
    // Truncated lazily: its one consumer, the final join, stores it. One
    // pass over edges0 (explode both endpoints), not a union of two
    // projections — edges0 may be an expensive uncheckpointed frame on
    // direct calls.
    val allNodes = edges0
      .select(explode(array(col("src"), col("dst"))).as("node")).distinct()
      .transform(graft.operators.Checkpoints.truncate(_, eager = false))
    // each round's check counts `next`; the next round's `e` is that frame,
    // so its count is reused instead of run again
    var counted: Option[Long] = None
    val (e, _, settled) = graft.operators.Fixpoint.converge(
        edges0
          .select(least(col("src"), col("dst")).as("src"),
            greatest(col("src"), col("dst")).as("dst"))
          .filter(col("src") =!= col("dst"))
          .distinct(),
        maxIter) { e =>
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      // large-star: m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u
      val ls = sym.join(sym.groupBy("src").agg(min(col("dst")).as("mn")), "src")
        .withColumn("m", least(col("mn"), col("src")))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      // small-star on big→small edges: m = min(N⁻(u) ∪ {u}); emit (v, m)
      // for every smaller neighbor v plus u itself
      val o = ls.select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      val j = o.join(o.groupBy("src").agg(min(col("dst")).as("m")), "src")
      j.filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(j.select(col("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
    } { (round, e, next) =>
      round == 0 || {
        val n = next.count()
        val same = counted.getOrElse(e.count()) == n
        counted = Some(n)
        !(same && next.join(e, Seq("src", "dst"), "left_anti").isEmpty)
      }
    }
    if (!settled)
      throw new IllegalStateException(
        s"starComponents did not converge in $maxIter rounds")
    // star forest: non-roots point at the component min; roots label themselves
    allNodes.join(e.select(col("src").as("node"), col("dst").as("canon")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("canon"), col("node")).as("canon"))
  }

  /** The production dedup DELETION policy: per duplicate cluster, elect
    * the highest-QUALITY member as the representative instead of the
    * smallest id (what q61/q74's min-label canon gives). Real curation
    * pipelines keep the longest / highest-scoring copy of a duplicated
    * page, not an arbitrary one — min-id is only a tiebreak.
    *
    * `quality` supplies one row per doc `(id, q)`; bigger q wins, ties
    * break to the smaller id (deterministic election). `quality` MUST
    * cover every id that appears in `pairs`; an uncovered node fails
    * LOUDLY at execution (`raise_error` naming the id) — a silent drop
    * would leave that duplicate unelectable and undeletable.
    *
    * Scale shape: the clusters frame is |clustered docs| rows — tiny
    * relative to the corpus (only docs with at least one near-dup edge)
    * — so the quality join moves no corpus text (8-byte ids + one
    * quality value). The election is ONE ordered window over `canon`
    * with an unbounded frame (first() of the quality-sorted members);
    * a downstream per-cluster aggregate shares the window's
    * hashpartitioning(canon) exchange (plan-probed in EXPLAIN.md: the
    * final HashAggregate runs in the window's stage). Total cost past
    * CC: the id-keyed quality join plus one canon exchange. No
    * per-cluster collect.
    *
    * Returns one row per CLUSTERED doc: `(node, canon, quality, rep)`
    * — delete nodes where `node != rep`, keep everything else. */
  def bestQualityCanon(pairs: DataFrame, d1: Column, d2: Column,
                       quality: DataFrame, id: Column, q: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cc = connectedComponents(pairs, d1, d2)
    val members = cc
      .join(quality.select(id.as("node"), q.as("quality")), Seq("node"), "left")
      .withColumn("quality",
        when(col("quality").isNull, raise_error(concat(
          lit("bestQualityCanon: no quality row for clustered id "),
          col("node").cast("string"))))
          .otherwise(col("quality")))
    val w = Window.partitionBy(col("canon"))
      .orderBy(col("quality").desc, col("node"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    members.withColumn("rep", first(col("node")).over(w))
  }

  /** Cross-source overlap matrix: for every source pair, how much of the
    * smaller source's distinct-shingle mass the two share — the
    * corpus-composition diagnostic ("how much of Books is already in
    * Web?") that decides whether sources should be deduped jointly and
    * which mixture weights double-count. One row per unordered pair
    * `(s1 < s2)` WITH any shared mass (fully disjoint pairs emit no
    * row): shared distinct shingles, each side's distinct-shingle
    * count, and `overlap = n_shared / min(n_s1, n_s2)` (containment of
    * the smaller side, the Dolma/RedPajama-style overlap report).
    *
    * Scale shape: the corpus collapses to DISTINCT (source, shingle)
    * pairs before any join — docs and text never cross the wire — and
    * the self-join fans out at most |sources| rows per shingle hash, so
    * the pair work is Σ_sh deg(sh)² with deg ≤ |sources| (a handful by
    * contract), linear in corpus size. No doc-pair enumeration
    * anywhere. */
  def sourceOverlapMatrix(df: DataFrame, idCol: Column, textCol: Column,
                          sourceCol: Column,
                          cfg: MinHashConfig = MinHashConfig.OraclePinned,
                          scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val p = df.select(sourceCol.as("source"), idCol.as("_id"), textCol.as("_t"))
    // (source, sh) is read three times (per-source sizes + both sides of
    // the overlap self-join); unpersisted, each read would re-run the
    // shingle Generate and the doc→source join over the corpus.
    val sh = scope.persist(
      shingleHashes(p, col("_id"), col("_t"), cfg.shingleK, cfg.portable)
        .join(p.select(col("_id").as("doc"), col("source")), "doc")
        .select("source", "sh").distinct())
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("n"))
    val shared = sh.select(col("source").as("s1"), col("sh"))
      .join(sh.select(col("source").as("s2"), col("sh")), "sh")
      .filter(col("s1") < col("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(sizes.select(col("source").as("s1"), col("n").as("n_s1"))), "s1")
      .join(broadcast(sizes.select(col("source").as("s2"), col("n").as("n_s2"))), "s2")
      .select(col("s1"), col("s2"), col("n_shared"), col("n_s1"), col("n_s2"),
        round(col("n_shared").cast("double") / least(col("n_s1"), col("n_s2")), 6)
          .as("overlap"))
  }

  /** Leakage-safe (cluster-aware) train/eval split: assign every doc to
    * train or eval so that NO near-duplicate pair straddles the split —
    * the holdout discipline a training pipeline needs before it can
    * trust an eval number (a random per-doc split leaks every duplicated
    * doc's content across the boundary; the contamination check then
    * flags the split itself). Docs are grouped by near-dup cluster
    * ([[connectedComponents]] over the [[nearDuplicates]] pair graph;
    * docs in no pair are their own singleton cluster), and the WHOLE
    * cluster lands on one side, chosen by its canonical id:
    * `cluster % nBuckets < evalBuckets` → eval, else train. The id-mod
    * rule is deterministic across runs, engines, and partitionings (the
    * same keyed-assignment discipline as `stratifiedExact`'s hash draw),
    * and `evalBuckets/nBuckets` sets the expected eval fraction.
    *
    * Returns one row per doc: `(doc_id, cluster, split)`.
    *
    * Scale shape: everything past the near-dup pipeline moves only
    * 8-byte ids — the CC label frame joins the corpus id projection
    * (left join, id-keyed), and the split column is arithmetic on the
    * cluster id. No text, no windows, no driver state. The pair graph
    * comes from [[nearDuplicatesCollapsed]]: the split consumes ONLY
    * component labels, and the collapsed graph is connectivity-
    * equivalent to the plain one (same components, same min-id canon —
    * `NearDupCollapseSpec`/`LeakageSplitSpec` pin it) while running the
    * LSH stages on distinct texts only — 10.5× faster at 1M on
    * exact-dup-heavy corpora (the q155 probe). */
  def leakageSafeSplit(df: DataFrame, idCol: Column, textCol: Column,
                       threshold: Double,
                       cfg: MinHashConfig = MinHashConfig.OraclePinned,
                       nBuckets: Int = 10, evalBuckets: Int = 1,
                       scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    require(nBuckets > 0 && evalBuckets >= 0 && evalBuckets <= nBuckets,
      s"need 0 <= evalBuckets <= nBuckets, got $evalBuckets/$nBuckets")
    val pairs = nearDuplicatesCollapsed(df, idCol, textCol, threshold, cfg, scope)
    val cc = connectedComponents(pairs, col("d1"), col("d2"))
    df.select(idCol.as("doc_id"))
      .join(cc, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("canon"), col("doc_id")).as("cluster"))
      .withColumn("split",
        when(pmod(col("cluster"), lit(nBuckets)) < evalBuckets, lit("eval"))
          .otherwise(lit("train")))
  }

  /** Train/eval contamination: for each eval doc, the fraction of its
    * distinct shingles that appear ANYWHERE in the train corpus — the
    * benchmark-leakage check an LLM data pipeline runs before training.
    *
    * Scale shape: the train side collapses to distinct 8-byte shingle
    * hashes before the join (no doc ids, no text cross the wire), the
    * join is a plain equi-join on that hash, and the per-doc ratio is one
    * grouped count — no pair enumeration anywhere, so cost is linear in
    * corpus size, not |train|×|eval|. */
  def contamination(train: DataFrame, trainId: Column, trainText: Column,
                    eval: DataFrame, evalId: Column, evalText: Column,
                    cfg: MinHashConfig = MinHashConfig.OraclePinned): DataFrame = {
    val trainSh = shingleHashes(train, trainId, trainText, cfg.shingleK, cfg.portable)
      .select("sh").distinct()
    val evalSh = shingleHashes(eval, evalId, evalText, cfg.shingleK, cfg.portable)
      .distinct()
    val sizes = evalSh.groupBy("doc").agg(count(lit(1)).as("n_sh"))
    val hits = evalSh.join(trainSh, "sh")
      .groupBy("doc").agg(count(lit(1)).as("n_hit"))
    sizes.join(hits, Seq("doc"), "left")
      .na.fill(0L, Seq("n_hit"))
      .withColumn("overlap", col("n_hit").cast("double") / col("n_sh"))
  }

  /** N-gram decontamination with SPAN REMOVAL — the GPT-3/PaLM-style
    * eval-leak scrub. [[contamination]] only FLAGS overlapping docs;
    * this rewrites the training text: every token position covered by a
    * k-gram that also occurs anywhere in the eval corpus is cut, and
    * the survivors re-join in order. Returns one row per train doc:
    * (doc_id, n_tokens, n_removed, clean_text) — docs with no overlap
    * pass through with n_removed = 0.
    *
    * Scale shape: the eval gram set is DRIVER-SMALL BY CONTRACT (eval
    * suites are MBs against a 100 TB train corpus) and broadcast, so
    * the hit scan is a map-side join over one positional-gram explode —
    * no shuffle touches train text. Only the HIT positions (typically a
    * tiny fraction) aggregate per doc, and the final doc_id join of
    * that hit frame back to the corpus is AQE-broadcastable for the
    * same reason. Positions travel as one covered-index array per
    * contaminated doc; the rewrite itself is a per-row lambda filter
    * (no explode of clean tokens, no re-sort). */
  def decontaminateSpans(train: DataFrame, trainId: Column, trainText: Column,
                         eval: DataFrame, evalText: Column,
                         k: Int = 13, portable: Boolean = true): DataFrame = {
    require(k >= 1, s"gram size must be >= 1, got $k")
    val evalGrams = broadcast(
      eval.select(explode(
          graft.functions.TextFunctions.shingleHashArray(tokens(evalText), k, portable)).as("sh"))
        .distinct())
    val t = train.select(trainId.as("doc_id"), tokens(trainText).as("toks"))
    val hits = t
      .select(col("doc_id"),
        posexplode(graft.functions.TextFunctions.shingleHashArray(col("toks"), k, portable))
          .as(Seq("p", "sh")))
      .join(evalGrams, "sh")
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + (k - 1))).as("cov"))
    cutCoveredPositions(t, hits)
  }

  /** Corpus-level EXACT-SUBSTRING dedup in the style of Lee et al. 2021
    * ("Deduplicating Training Data Makes Language Models Better"): every
    * duplicated run of `k` tokens is cut from every occurrence EXCEPT
    * the globally first one (ordered by (doc_id, start)), survivors
    * re-join in order. Catches the cross-document boilerplate /
    * license-block / template mass that document-level MinHash leaves
    * behind (two long docs sharing one paragraph never clear a doc-level
    * Jaccard threshold). Same output contract as
    * [[decontaminateSpans]]: (doc_id, n_tokens, n_removed, clean_text).
    *
    * Scale shape — the distributed stand-in for the paper's suffix
    * array: one positional-gram explode (a (sh, doc, pos) row per
    * token — linear), one map-side-combinable groupBy(sh) computing
    * min(struct(doc,pos)) over ONLY df>=2 grams, one hash join of grams
    * against that (duplicated-grams-only, typically a small fraction)
    * frame, then the per-doc covered-position rebuild shared with
    * decontaminateSpans. No sort-window over the corpus-scale gram
    * frame anywhere; skew is bounded because a single gram's row count
    * is its document frequency, and ubiquitous-boilerplate grams are
    * exactly the rows this op exists to cut. */
  def dedupExactSubstrings(df: DataFrame, idCol: Column, textCol: Column,
                           k: Int = 50, portable: Boolean = true): DataFrame = {
    require(k >= 1, s"run length must be >= 1, got $k")
    val t = df.select(idCol.as("doc_id"), tokens(textCol).as("toks"))
    val grams = t.select(col("doc_id"),
      posexplode(graft.functions.TextFunctions.shingleHashArray(col("toks"), k, portable))
        .as(Seq("p", "sh")))
    val firsts = grams
      .groupBy("sh")
      .agg(min(struct(col("doc_id"), col("p"))).as("first"),
        count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .select(col("sh"), col("first"))
    val cuts = grams.join(firsts, "sh")
      .filter(!(col("doc_id") === col("first.doc_id") && col("p") === col("first.p")))
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + (k - 1))).as("cov"))
    cutCoveredPositions(t, cuts)
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003 —
    * the MOSS algorithm): from every window of `w` consecutive k-shingle
    * hashes, select the minimum (ties to the earliest position), then
    * dedupe — a position-anchored document sketch with the winnowing
    * GUARANTEE that any shared run of at least `w + k − 1` tokens
    * contributes at least one IDENTICAL selected (hash) to both docs.
    * That local guarantee is what MinHash lacks: MinHash bounds
    * set-level Jaccard, winnowing certifies substring-level matches —
    * the plagiarism/attribution shape. Density is ~2/(w+1) of positions,
    * so the sketch is a tunable fraction of the gram stream.
    *
    * Returns `(doc_id, p, sh)` — 1-based shingle position and selected
    * hash. Docs shorter than `k` tokens have no shingles and emit no
    * rows; docs with fewer than `w` shingles select from one short
    * window (the whole doc).
    *
    * Scale shape: selection is ONE per-row projection (the window sweep
    * is an array transform inside the row — no explode of the gram
    * stream, no per-position shuffle); the per-doc dedupe keeps only
    * selections that DIFFER from the previous window's — O(n) adjacent
    * comparisons, correct because a position's covering windows form a
    * contiguous range and the first-min tiebreak keeps the selection
    * stable across it (if windows i < j both select p, every window
    * between them lies inside window_i ∪ window_j, still has hs[p] as
    * its min, and an earlier equal-min position would already have won
    * window i — so repeats are always consecutive). The first version
    * used `array_distinct` here: O(n²) struct comparisons per doc, and
    * at sf0.1 the single slowest query in the bench (20.4 s → see
    * BENCH_r09); the adjacent-dedupe form is the same output by the
    * argument above. Downstream matching joins on `sh` like any posting
    * list. */
  def winnowing(df: DataFrame, idCol: Column, textCol: Column,
                k: Int = 3, w: Int = 4, portable: Boolean = true): DataFrame = {
    require(k >= 1, s"shingle k must be >= 1, got $k")
    require(w >= 1, s"window w must be >= 1, got $w")
    // Everything below is ONE expression with the shingle-hash array and
    // the window picks bound as LAMBDA VARIABLES (`transform(array(e),
    // v => …)` is the let-binding idiom): plain column references here
    // get inlined by projection collapse / predicate pushdown into every
    // use site — the first version filtered on size(hs) over a projected
    // hs column, which pushed the filter under the projection, collapsed
    // the two projects, and inlined the md5 shingle sweep into the
    // per-window slice(hs, …) lambda — re-hashing the whole doc once per
    // window (measured 17 s at sf0.1 for an op whose stages each cost
    // ~1.2 s in isolation). With both bindings the sweep runs once per
    // doc and empty-shingle docs short-circuit to an empty array (no
    // filter, nothing to push).
    val emptyFp = array().cast("array<struct<p:long,sh:long>>")
    val fps = flatten(transform(
      array(graft.functions.TextFunctions.shingleHashArray(
        tokens(textCol), k, portable)),
      hs => {
        val picks = transform(
          sequence(lit(1), greatest(size(hs) - (w - 1), lit(1))),
          i => {
            val win = slice(hs, i, lit(w)) // truncates at the tail
            val mn = array_min(win)
            struct((i + array_position(win, mn) - 1).cast("long").as("p"),
              mn.as("sh"))
          })
        when(size(hs) >= 1,
          flatten(transform(array(picks), ps =>
            transform(
              filter(sequence(lit(1), size(ps)),
                i => i === 1 || element_at(ps, i) =!= element_at(ps, i - 1)),
              i => element_at(ps, i)))))
          .otherwise(emptyFp)
      }))
    df.select(idCol.as("doc_id"), explode(fps).as("f"))
      .select(col("doc_id"), col("f.p").as("p"), col("f.sh").as("sh"))
  }

  /** Content-defined chunking (FastCDC/LBFS shape, tokenized): cut a doc
    * into chunks at positions where the rolling k-token shingle hash
    * lands in a fixed residue class (`sh % divisor == 0`), so boundaries
    * are a pure function of LOCAL content — two docs sharing a long span
    * cut it identically regardless of how much prefix was inserted or
    * deleted before it, which is exactly what fixed-size chunking
    * breaks. The chunk-hash join then finds sub-document duplicate mass
    * (boilerplate, templates, quoted blocks) across the corpus without
    * any alignment search. Expected chunk length ≈ `divisor` tokens; the
    * doc tail is always a chunk.
    *
    * Returns one row per chunk: `(doc_id, s, e, n_tok, chunk,
    * chunk_hash)` with 1-based inclusive token span [s, e].
    *
    * Scale shape: the boundary scan is one positional-gram explode
    * filtered to ~1/divisor of positions (narrow (doc, int) rows); span
    * assembly is a per-DOC window over those boundary rows (bounded by
    * tokens/divisor per doc, never corpus-wide); the chunk slice is one
    * per-row projection of the token array. No corpus-scale sort, no
    * pair enumeration — downstream dedup joins on `chunk_hash` like any
    * exact-dedup key. */
  def cdcChunks(df: DataFrame, idCol: Column, textCol: Column,
                k: Int = 8, divisor: Int = 32,
                portable: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"window k must be >= 1, got $k")
    require(divisor >= 2, s"divisor must be >= 2, got $divisor")
    val t = df.select(idCol.as("doc_id"), tokens(textCol).as("toks"))
    val bnds = t.select(col("doc_id"),
        posexplode(graft.functions.TextFunctions.shingleHashArray(
          col("toks"), k, portable)).as(Seq("p", "sh")))
      .filter(pmod(col("sh"), lit(divisor)) === 0)
      .select(col("doc_id"), (col("p") + k).as("e")) // 0-based p → 1-based end
    val ends = bnds
      .union(t.select(col("doc_id"), size(col("toks")).as("e")))
      .distinct()
    val w = Window.partitionBy(col("doc_id")).orderBy(col("e"))
    ends.withColumn("s", coalesce(lag(col("e"), 1).over(w), lit(0)) + 1)
      .join(t, "doc_id")
      .select(col("doc_id"), col("s"), col("e"),
        (col("e") - col("s") + 1).cast("long").as("n_tok"),
        concat_ws(" ",
          slice(col("toks"), col("s"), col("e") - col("s") + 1)).as("chunk"))
      .withColumn("chunk_hash", portableHash(col("chunk")))
  }

  /** Shared rebuild for the span-cutting ops: aggregate the (doc_id,
    * cov) hit positions into one sorted covered-index array per doc,
    * left-join back to the corpus, and filter the token array by index
    * in a single per-row lambda — no clean-token explode, no re-sort. */
  private def cutCoveredPositions(t: DataFrame, hits: DataFrame): DataFrame = {
    val perDoc = hits.groupBy("doc_id")
      .agg(array_sort(collect_set(col("cov"))).as("cov"))
    t.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(size(col("cov")), lit(0)).cast("long").as("n_removed"),
        array_join(filter(col("toks"),
          (_, i) => not(array_contains(coalesce(col("cov"),
            array().cast("array<int>")), i))), " ").as("clean_text"))
  }

  // ------------------------------------------------- posting-list capping

  /** Keep only the band buckets whose posting list has between 2 and
    * `maxPostings` members — the shared frequency-cap discipline of every
    * banded near-dup self-join ([[sharedSpanPairs]] pioneered it for text
    * spans; [[simhashNearDupFromSigs]] and the
    * [[graft.multimodal.Media]] phash/audio/video pipelines reuse it).
    *
    * Why it exists: a banded self-join is quadratic IN EACH BUCKET. A
    * corpus-common band value — the black intro frame, the solid-color
    * thumbnail, the silent clip, the empty document — collects millions
    * of postings at web scale, and that single bucket then emits 10¹²+
    * candidate pairs. Such a value is boilerplate, not a duplicate
    * signal (the same argument as the span cap): dropping its bucket
    * bounds every posting list by construction, so the join's candidate
    * mass is ≤ maxPostings · |buckets| instead of Σ|bucket|².
    *
    * Semantics: pairs whose EVERY shared band is over the cap are
    * dropped — intended, but never silent: the paired
    * [[bandPostingAudit]] reports exactly which buckets were capped (an
    * operator run ships pairs + audit together). Singleton buckets are
    * dropped too (they can emit no pair — pure join-input savings). */
  private[graft] def capBands(bands: DataFrame, keys: Seq[String],
                              maxPostings: Long): DataFrame = {
    require(maxPostings >= 2, s"maxPostings must be >= 2, got $maxPostings")
    val ok = bands.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_postings"))
      .filter(col("n_postings") >= 2 && col("n_postings") <= maxPostings)
      .select(keys.map(col): _*)
    bands.join(ok, keys)
  }

  /** The audit artifact of [[capBands]]: one row per band bucket with
    * ≥2 postings — `(keys.., n_postings, capped)` — where `capped` marks
    * the buckets the frequency cap excluded from pairing. A release
    * pipeline files this next to the pair output so capped mass is
    * REPORTED, not silently vanished; a spike in capped buckets is
    * itself a data-quality signal (boilerplate flooding the corpus). */
  private[graft] def bandPostingAudit(bands: DataFrame, keys: Seq[String],
                                      maxPostings: Long): DataFrame = {
    require(maxPostings >= 2, s"maxPostings must be >= 2, got $maxPostings")
    bands.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_postings"))
      .filter(col("n_postings") >= 2)
      .withColumn("capped", col("n_postings") > maxPostings)
  }

  /** N-bit SimHash (generalizes [[simhash16]]): same distributed
    * bit-weight aggregate, `bits` wide. 16 bits is the compact
    * oracle-demo width; the near-dup path uses the full 60-bit portable
    * hash — band selectivity grows with width, which is what keeps the
    * banding join linear on large corpora. */
  def simhashN(df: DataFrame, idCol: Column, textCol: Column, bits: Int,
               hash: Column => Column = portableHash): DataFrame = {
    require(bits > 0 && bits <= 62, s"bits=$bits out of range")
    val tokHash = df.select(idCol.as("doc"), explode(tokens(textCol)).as("t"))
      .withColumn("h", hash(col("t")) % (1L << bits))
    val bitSums = (0 until bits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"w$b")
    }
    tokHash.groupBy("doc").agg(bitSums.head, bitSums.tail: _*)
      .withColumn("simhash",
        (0 until bits).map(b => when(col(s"w$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _))
      .select("doc", "simhash")
  }

  /** SimHash near-duplicate pairs within `maxHamming` bits — EXACT, via
    * pigeonhole banding: split the simhash into maxHamming+1 equal
    * bands; a pair within the radius must agree exactly on at least one
    * band (≤ maxHamming differing bits cannot touch all maxHamming+1
    * bands). Band equi-joins enumerate a candidate superset (one shuffle
    * on (band, value), no all-pairs anywhere); `bit_count(xor)` verifies
    * the exact distance on candidates only — the same
    * candidates-then-verify shape as the MinHash pipeline.
    *
    * Defaults to the full 60-bit hash: 15-bit bands give 32768 values
    * per band, so random collisions — and with them the join fan-out —
    * stay negligible as the corpus grows. (4-bit bands over a 16-bit
    * hash would go quadratic: only 16 values per band.)
    *
    * `maxPostings` frequency-caps each band bucket ([[capBands]] — a
    * corpus-common signature value, e.g. the near-empty-document
    * simhash, would otherwise make one bucket quadratic in its
    * membership); [[simhashBandAudit]] reports the capped buckets. The
    * signature frame is persisted through `scope` — three plan branches
    * read it (the posting count plus both join sides). */
  def simhashNearDup(df: DataFrame, idCol: Column, textCol: Column,
                     maxHamming: Int = 3, bits: Int = 60,
                     hash: Column => Column = portableHash,
                     maxPostings: Long = 1000L,
                     scope: CacheScope = CacheScope.unmanaged): DataFrame =
    simhashNearDupFromSigs(scope.persist(simhashN(df, idCol, textCol, bits, hash)),
      maxHamming, bits, maxPostings)

  /** [[simhashNearDup]] over an ALREADY-COMPUTED `(doc, simhash)` frame
    * — the production shape when signatures are persisted next to the
    * corpus and re-banded per radius without re-scanning text. */
  def simhashNearDupFromSigs(sigs: DataFrame, maxHamming: Int = 3,
                             bits: Int = 60,
                             maxPostings: Long = 1000L): DataFrame =
    hammingPairs(sigs, "doc", "simhash", bits, maxHamming, maxPostings, ("d1", "d2"))

  /** Capped-bucket audit for [[simhashNearDup]] ([[bandPostingAudit]]
    * over the same banding): `(band_idx, band_val, n_postings, capped)`
    * for every bucket with ≥2 postings. Pairs + audit of one operator
    * run should share one signature pass: compute [[simhashN]] once
    * (scope-persisted) and feed [[simhashNearDupFromSigs]] +
    * [[simhashBandAuditFromSigs]] — this convenience form re-runs the
    * signature aggregation from raw text. */
  def simhashBandAudit(df: DataFrame, idCol: Column, textCol: Column,
                       maxHamming: Int = 3, bits: Int = 60,
                       hash: Column => Column = portableHash,
                       maxPostings: Long = 1000L): DataFrame =
    simhashBandAuditFromSigs(simhashN(df, idCol, textCol, bits, hash),
      maxHamming, bits, maxPostings)

  /** [[simhashBandAudit]] over an ALREADY-COMPUTED `(doc, simhash)`
    * frame — the production shape: one persisted signature frame feeds
    * both [[simhashNearDupFromSigs]] and its audit, so the corpus is
    * hashed once per run, not once per artifact. */
  def simhashBandAuditFromSigs(sigs: DataFrame, maxHamming: Int = 3,
                               bits: Int = 60,
                               maxPostings: Long = 1000L): DataFrame =
    bandPostingAudit(hammingBands(sigs, "doc", "simhash", bits, maxHamming),
      Seq("band_idx", "band_val"), maxPostings)

  /** Pigeonhole banding of an `(idCol, hashCol)` frame of `bits`-wide
    * hashes: radius+1 equal bands, one `(idCol, hashCol, band_idx,
    * band_val)` row per band. A pair within `radius` bits agrees exactly
    * on at least one band. Serves the simhash text pipeline and
    * [[graft.multimodal.Media]]'s phash and audio pipelines. */
  private[graft] def hammingBands(sigs: DataFrame, idCol: String, hashCol: String,
                                  bits: Int, radius: Int): DataFrame = {
    require(radius >= 0 && bits % (radius + 1) == 0,
      s"radius+1 must divide $bits, got $radius")
    val nBands = radius + 1
    val width = bits / nBands
    // 1L << 64 is 1L on the JVM: a single 64-bit band keeps every bit
    val mask = if (width == 64) -1L else (1L << width) - 1
    val bandVals = (0 until nBands).map(b =>
      shiftright(col(hashCol), b * width).bitwiseAND(mask))
    sigs.select(col(idCol), col(hashCol),
      posexplode(array(bandVals: _*)).as(Seq("band_idx", "band_val")))
  }

  /** Exact Hamming pairs within `radius` over [[hammingBands]]: a
    * frequency-capped ([[capBands]]) band equi-join enumerates the
    * candidates, popcount of the xor verifies each one. Returns
    * `(pairCols._1, pairCols._2, hamming)` with the lower id first. */
  private[graft] def hammingPairs(sigs: DataFrame, idCol: String, hashCol: String,
                                  bits: Int, radius: Int, maxPostings: Long,
                                  pairCols: (String, String)): DataFrame = {
    val (lo, hi) = pairCols
    val bands = capBands(hammingBands(sigs, idCol, hashCol, bits, radius),
      Seq("band_idx", "band_val"), maxPostings)
    bands.as("a").join(bands.as("b"), Seq("band_idx", "band_val"))
      .filter(col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as(lo), col(s"b.$idCol").as(hi),
        col(s"a.$hashCol").as("h1"), col(s"b.$hashCol").as("h2"))
      .distinct()
      .withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))).cast("long"))
      .filter(col("hamming") <= radius)
      .select(lo, hi, "hamming")
  }

  /** 16-bit SimHash per doc via explode + grouped bit-weight sums — the
    * distributed-aggregate formulation (map-side partials, one shuffle on
    * doc id), not a per-row array fold. */
  def simhash16(df: DataFrame, idCol: Column, textCol: Column,
                hash: Column => Column = portableHash): DataFrame =
    simhashN(df, idCol, textCol, 16, hash)
}
