package graft.tools

import org.apache.spark.sql.functions._

import graft.multimodal.CrossModal

/** Scale probe for the r12 cross-modal pair-curation family
  * (driver-side tooling): n (caption, image) pairs with planted
  * duplicate mass (every 20th pair is a whitespace-variant recapture of
  * its base — canonical-identical caption, same image) and genuine
  * reuse mass (captions drawn from n/4 templates, images from n/2
  * slots), 16-d embedding-seam vectors on both sides. Stages: the
  * alignment gate alone (per-row projection — its shuffle delta must be
  * ~zero), the both-modality dedup, and the full curatePairs composite.
  * Wall time + shuffle record deltas per stage (StressCuration
  * discipline). Committed numbers in EXPLAIN.md.
  *
  * Scale knob: SPARK_GRAFT_XMODAL_SCALE (default 1,000,000; the r12
  * record runs 10,000,000 with SPARK_DRIVER_MEM=48g). */
object StressCrossModal {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_XMODAL_SCALE", "1000000").toLong
    val spark = graft.EngineConf.localSession(None)
    val rm = new RunMetrics(spark, "xmodal")

    // caption template = id/20 truncated to n/4 groups; every 20th pair
    // re-captures its predecessor's (caption, image) with extra
    // whitespace — the planted 5% duplicate mass; images land in n/2
    // slots so hash collisions plant image reuse organically
    val pairs = spark.range(n).select(
      col("id").as("pair_id"),
      when(col("id") % 20 === 19,
        concat(lit("caption  t"), pmod(col("id") - 1, lit(n / 4)),
          lit("  body   text")))
        .otherwise(concat(lit("caption t"), pmod(col("id"), lit(n / 4)),
          lit(" body text"))).as("caption"),
      when(col("id") % 20 === 19,
        pmod(xxhash64(concat(lit("img:"), (col("id") - 1).cast("string"))), lit(n / 2)))
        .otherwise(pmod(xxhash64(concat(lit("img:"), col("id").cast("string"))), lit(n / 2)))
        .as("img_key"))
    // embedding seam: caption vec from the caption group, image vec from
    // the image slot — aligned iff the hashes land close, ~uniform mix
    def vec(tag: String, key: org.apache.spark.sql.Column) =
      transform(sequence(lit(0), lit(15)), d =>
        pmod(xxhash64(lit(tag), key, d), lit(2000001L)).cast("double") / 1e6 - 1.0)
    val seamed = pairs
      .withColumn("cap_vec", vec("cv", pmod(xxhash64(col("caption")), lit(n / 4))))
      .withColumn("img_vec", vec("iv", col("img_key")))
      .repartition(32).persist()
    println(f"[xmodal] ${seamed.count()}%,d pairs, ${n / 4}%,d caption templates, ${n / 2}%,d image slots")

    rm.stage("alignment_gate") {
      val g = CrossModal.alignmentGate(seamed, col("cap_vec"), col("img_vec"), 0L)
      val r = g.agg(count(lit(1)), count_if(col("aligned"))).head
      println(f"[xmodal]   pairs = ${r.getLong(0)}%,d  aligned = ${r.getLong(1)}%,d")
    }
    rm.stage("crossmodal_dedup") {
      val d = CrossModal.crossModalDedup(seamed, col("pair_id"),
        col("caption"), col("img_key"))
      val r = d.agg(count(lit(1)), count_if(col("is_dup")),
        count_if(col("caption_reuse")), count_if(col("image_reuse"))).head
      println(f"[xmodal]   rows = ${r.getLong(0)}%,d  dups = ${r.getLong(1)}%,d  " +
        f"cap_reuse = ${r.getLong(2)}%,d  img_reuse = ${r.getLong(3)}%,d")
    }
    rm.stage("curate_pairs_e2e") {
      val c = CrossModal.curatePairs(seamed, col("pair_id"), col("caption"),
        col("cap_vec"), col("img_vec"), col("img_key"), minMicro = 0L)
      val r = c.agg(count(lit(1)), count_if(!col("is_dup"))).head
      println(f"[xmodal]   aligned rows = ${r.getLong(0)}%,d  kept = ${r.getLong(1)}%,d")
    }
    spark.stop()
  }
}
