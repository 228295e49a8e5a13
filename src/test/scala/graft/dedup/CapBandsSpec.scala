package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The posting-list frequency cap AT BIND: every test here plants a
  * band bucket with MORE postings than `maxPostings`, so the cap's
  * drop semantics actually execute — pairs colliding only in the hot
  * bucket vanish, pairs colliding in any cool bucket survive, and the
  * audit marks exactly the hot bucket. (At sf0.1 no bucket ever
  * exceeds the production cap of 1000, so the oracle suite alone
  * would stay green with `capBands` deleted — these specs are the
  * round-14 answer to that gap.) */
class CapBandsSpec extends SparkSpec {
  import spark.implicits._

  private val Mask60 = (1L << 60) - 1

  /** Band values of a 60-bit sig at maxHamming=3 (4 bands × 15 bits) —
    * the test-side mirror of the engine banding, used to assert the
    * planted corpus has exactly the bucket shape each test claims. */
  private def bands60(sig: Long): Seq[(Int, Long)] =
    (0 until 4).map(b => b -> ((sig >> (15 * b)) & 0x7FFF))

  test("capBands keeps only buckets with 2..maxPostings postings") {
    val bands = Seq(
      // bucket (0, 10): 3 postings — kept
      (1L, 0, 10L), (2L, 0, 10L), (3L, 0, 10L),
      // bucket (0, 20): 4 postings — over cap 3, dropped
      (4L, 0, 20L), (5L, 0, 20L), (6L, 0, 20L), (7L, 0, 20L),
      // bucket (1, 10): singleton — dropped (no pair possible)
      (8L, 1, 10L)
    ).toDF("doc", "band_idx", "band_val")
    val kept = Dedup.capBands(bands, Seq("band_idx", "band_val"), maxPostings = 3)
      .select("doc").as[Long].collect().toSet
    assert(kept === Set(1L, 2L, 3L))
  }

  test("bandPostingAudit lists every >=2 bucket and flags exactly the over-cap ones") {
    val bands = Seq(
      (1L, 0, 10L), (2L, 0, 10L), (3L, 0, 10L),
      (4L, 0, 20L), (5L, 0, 20L), (6L, 0, 20L), (7L, 0, 20L),
      (8L, 1, 10L)
    ).toDF("doc", "band_idx", "band_val")
    val audit = Dedup.bandPostingAudit(bands, Seq("band_idx", "band_val"), 3)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> (r.getLong(2), r.getBoolean(3)))
      .toMap
    // singleton bucket absent; counts exact; capped flags only (0, 20)
    assert(audit === Map((0, 10L) -> ((3L, false)), (0, 20L) -> ((4L, true))))
  }

  /** Planted signature corpus for the simhash path (60 bits, radius 3):
    *  - docs 1/2: X and X^1 — hamming 1, shared bands 1..3 (cool).
    *  - docs 100..107: all share band 0 value V (the hot bucket);
    *    100/101 additionally differ in exactly one bit of each of
    *    bands 1..3 — hamming 3, WITHIN the radius, but their only
    *    shared band is the hot one, so the cap must drop the pair.
    *  - 102..107 carry fillers with a DISTINCT weight-2 value in every
    *    cool band (pairwise hamming ≥ 6, no cool-bucket sharing
    *    anywhere) — the precondition test asserts all of this. */
  private val hotV = 0x1ABCL
  private val sigX = 0x0FEDCBA987654321L & Mask60
  private val u100 = (0x7FL << 30) | 1L // bands: [1, 0, 0x7F]
  private val fillers = Seq(0x3L, 0x5L, 0x6L, 0x9L, 0xAL, 0xCL)
    .map(c => c | (c << 15) | (c << 30))
  private val plantedSigs: Seq[(Long, Long)] =
    Seq(1L -> sigX, 2L -> (sigX ^ 1L),
      100L -> (hotV | (u100 << 15)),
      101L -> ((hotV | (u100 << 15)) ^ (1L << 15) ^ (1L << 30) ^ (1L << 45))) ++
      fillers.zipWithIndex.map { case (u, i) => (102L + i) -> (hotV | (u << 15)) }

  test("planted corpus preconditions: one hot bucket, in-radius pairs as designed") {
    val sigs = plantedSigs.toMap
    // the two in-radius pairs
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(2L)) === 1)
    assert(java.lang.Long.bitCount(sigs(100L) ^ sigs(101L)) === 3)
    // (100,101) share ONLY band 0; (1,2) share bands 1..3, not the hot bucket
    assert(bands60(sigs(100L)).intersect(bands60(sigs(101L)))
      === Seq(0 -> hotV))
    assert(bands60(sigs(1L)).intersect(bands60(sigs(2L))).map(_._1) === Seq(1, 2, 3))
    assert(!bands60(sigs(1L)).contains(0 -> hotV))
    // every other doc pair is out of radius
    val ids = sigs.keys.toSeq.sorted
    for (a <- ids; b <- ids if a < b && (a, b) != ((1L, 2L)) && (a, b) != ((100L, 101L)))
      assert(java.lang.Long.bitCount(sigs(a) ^ sigs(b)) > 3, s"($a,$b)")
    // bucket census: (0, hotV) holds all 8 hot docs; nothing else exceeds 5
    val census = plantedSigs.flatMap { case (_, s) => bands60(s) }
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(census((0, hotV)) === 8)
    assert(census.filter(_._2 > 5).keySet === Set(0 -> hotV))
  }

  private def sigsDf: DataFrame = plantedSigs.toDF("doc", "simhash")

  private def pairSet(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("simhash cap at bind: hot-bucket-only pairs drop, cool-bucket pairs survive") {
    val capped = pairSet(Dedup.simhashNearDupFromSigs(sigsDf, maxPostings = 5))
    assert(capped === Set((1L, 2L, 1L)),
      "the (100,101) pair collides only in the over-cap bucket and must vanish")
    // same corpus, cap lifted: the dropped pair reappears — proves the
    // assertion above fails if capBands were a no-op
    val uncapped = pairSet(Dedup.simhashNearDupFromSigs(sigsDf, maxPostings = 1000))
    assert(uncapped === Set((1L, 2L, 1L), (100L, 101L, 3L)))
  }

  test("one 64-bit band (bits = 64, maxHamming = 0) buckets on the whole signature") {
    // (1L << 64) - 1 is 0 on the JVM: a mask built that way puts every
    // signature in one bucket, which the cap then drops with its real pair
    val sigs = Seq(1L -> 0x123456789ABCDEFL, 2L -> -42L, 3L -> -42L).toDF("doc", "simhash")
    assert(pairSet(Dedup.simhashNearDupFromSigs(sigs, maxHamming = 0, bits = 64,
      maxPostings = 2)) === Set((2L, 3L, 0L)))
  }

  test("simhash audit agrees with the cap: exactly the hot bucket is flagged") {
    val audit = Dedup.simhashBandAuditFromSigs(sigsDf, maxPostings = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> (r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(audit.filter(_._2._2).keySet === Set(0 -> hotV))
    assert(audit((0, hotV))._1 === 8L)
    // the surviving pair's shared buckets are present and uncapped
    val sigs = plantedSigs.toMap
    bands60(sigs(1L)).intersect(bands60(sigs(2L))).foreach { b =>
      assert(audit.contains(b) && !audit(b)._2, s"bucket $b")
    }
  }

  test("near-empty boilerplate docs: text-level cap drops their clique, real dups survive") {
    // the corpus-common value the cap exists for — 8 byte-identical
    // near-empty docs whose identical signatures collide in EVERY band
    val longText = (1 to 40).map(i => s"tok$i").mkString(" ")
    val corpus = ((1L to 8L).map(_ -> "a a") ++ Seq(20L -> longText, 21L -> longText))
      .toDF("doc_id", "text")
    val capped = pairSet(Dedup.simhashNearDup(corpus, col("doc_id"), col("text"),
      maxPostings = 5))
    assert(capped === Set((20L, 21L, 0L)),
      "boilerplate clique capped away; the real duplicate pair survives")
    // audit reports the capped mass instead of silently vanishing it:
    // the boilerplate signature's 4 buckets, 8 postings each
    val audit = Dedup.simhashBandAudit(corpus, col("doc_id"), col("text"),
      maxPostings = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> (r.getLong(2), r.getBoolean(3)))
      .toMap
    val flagged = audit.filter(_._2._2)
    assert(flagged.size === 4 && flagged.keys.map(_._1).toSet === Set(0, 1, 2, 3))
    assert(flagged.values.forall(_._1 === 8L))
    // and with the cap lifted the clique's C(8,2) pairs come back
    val uncapped = pairSet(Dedup.simhashNearDup(corpus, col("doc_id"), col("text"),
      maxPostings = 1000))
    assert(uncapped.size === 28 + 1)
  }
}
