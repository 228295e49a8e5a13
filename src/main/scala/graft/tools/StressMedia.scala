package graft.tools

import org.apache.spark.sql.functions._

import graft.multimodal.{Media, MediaCodec}

/** Media-family scale probe (driver-side tooling) — the last headline
  * family without a 10×-scale number (round-17 verdict #6: temporal
  * probes sat at 30k/100k clips). Two sections:
  *
  * 1. REAL CODEC PASS at `SPARK_GRAFT_MEDIA_N` images (default 300k):
  *    synthesize actual PNGs (small seeded gratings, 10 images per
  *    seed group so exact dups exist), run [[Media.withPerceptualHash]]
  *    — decode + 9×8 thumbnail + 64 gradient bits per image, the
  *    map-side pass whose throughput prices the whole image-dedup
  *    ingest — then band the persisted hashes into near-dup pairs.
  *
  * 2. FROM-HASHES BANDING at `SPARK_GRAFT_MEDIA_HASHES` rows (default
  *    1M): the production shape — hashes persisted next to the index,
  *    re-banded per radius without re-decoding — over a clustered
  *    synthetic hash corpus (64-member groups, ≤2 bits flipped per
  *    member) PLUS a planted 50k-row FLOOD on one hash value (the
  *    solid-black-thumbnail scenario: one band bucket would emit
  *    1.25G pairs uncapped). Run twice: flood-free uncapped as the
  *    cost baseline, flooded WITH the default maxPostings=1000 cap —
  *    the cap must bind (audit names the flood buckets) and hold the
  *    join cost at the baseline instead of the quadratic cliff.
  *
  * Results are committed to EXPLAIN.md. */
object StressMedia {
  def main(args: Array[String]): Unit = {
    val nImg = sys.env.getOrElse("SPARK_GRAFT_MEDIA_N", "300000").toLong
    val nHash = sys.env.getOrElse("SPARK_GRAFT_MEDIA_HASHES", "1000000").toLong
    val flood = 50000L
    val spark = graft.EngineConf.localSession(None)
    import spark.implicits._
    val rm = new RunMetrics(spark, "media")

    // ---- section 1: real codec pass ----
    // 10 images per seed group: group members are PIXEL-identical PNGs
    // (same synth seed), so each group contributes exact-dup pairs the
    // banding must recover; widths vary across groups only.
    val images = spark.range(nImg).map { i =>
      val seed = i / 10
      val w = 32 + (seed % 5).toInt * 8
      Media.MediaRow(i, "image", MediaCodec.synthPng(seed, w, w), w, w, 0L)
    }
    val hashes = Media.withPerceptualHash(images).cache()
    rm.stage(s"withPerceptualHash ($nImg real PNG decodes)")(hashes.count())
    rm.stage("phash near-dup pairs over persisted hashes") {
      val pairs = Media.phashNearDupPairsFromHashes(hashes, radius = 3,
        maxPostings = 1000L)
      println(s"[media]   pairs = ${"%,d".format(pairs.count())} " +
        s"(expect >= ${"%,d".format(nImg / 10 * (10 * 9 / 2))} from planted groups)")
    }
    hashes.unpersist()

    // ---- section 2: FromHashes banding at nHash, planted flood ----
    // group g's base hash with ≤2 member-specific bit flips: members
    // differ by ≤4 bits — banding generates candidates, popcount
    // verifies exactly (some cross-member pairs exceed radius 3 by
    // design; the verify step is the point).
    def clustered(n: Long, withFlood: Boolean) = {
      val g = (col("id") / lit(64L)).cast("long")
      val j = pmod(col("id"), lit(64L))
      // functions.shiftleft only takes a literal shift — go through the
      // SQL form, which accepts a column shift amount
      def flip(t: Int) = when(j % 4 > t,
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(pmod(xxhash64($t, id), 64) AS INT))"))
        .otherwise(lit(0L))
      val base = xxhash64(lit("p"), g)
      val h = base.bitwiseXOR(flip(0)).bitwiseXOR(flip(1))
      spark.range(n).select(col("id").as("media_id"),
        (if (withFlood) when(col("id") < flood, lit(0L)).otherwise(h) else h)
          .as("phash"))
    }
    val clean = clustered(nHash, withFlood = false).cache()
    val flooded = clustered(nHash, withFlood = true).cache()
    clean.count(); flooded.count()
    rm.stage(s"banding baseline: $nHash hashes, NO flood, cap 1000") {
      val p = Media.phashNearDupPairsFromHashes(clean, 3, 1000L)
      println(s"[media]   pairs = ${"%,d".format(p.count())}")
    }
    rm.stage(s"banding FLOODED: $flood-row hot value, cap 1000") {
      val p = Media.phashNearDupPairsFromHashes(flooded, 3, 1000L)
      println(s"[media]   pairs = ${"%,d".format(p.count())} " +
        "(flood bucket contributes ZERO — capped, not 1.25G pairs)")
    }
    rm.stage("band audit: flood buckets named") {
      val a = Media.phashBandAuditFromHashes(flooded, 3, 1000L)
        .filter(col("capped"))
        .agg(count(lit(1)).as("buckets"), max("n_postings").as("maxPost")).head
      println(s"[media]   capped buckets = ${a.getLong(0)}, " +
        s"max postings = ${"%,d".format(a.getLong(1))} (expect $flood = the flood)")
    }
    clean.unpersist(); flooded.unpersist()
    spark.stop()
  }
}
