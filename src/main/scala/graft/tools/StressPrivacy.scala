package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Privacy

/** Scale probe for the r12 privacy/anonymization family (driver-side
  * tooling): n release rows with a deliberately adversarial group
  * structure — HALF the corpus lands in one mega demographic group
  * (the funnel case the no-window discipline exists for), the rest
  * spreads over ~20k (lang, src) combinations with a long tail of
  * singletons. Stages: group-size audit + k-suppression, l-diversity,
  * the 4-level generalization ladder (explode×L), t-closeness, and the
  * DP noisy release. Wall time + shuffle record deltas per stage
  * (StressCuration discipline). Committed numbers in EXPLAIN.md.
  *
  * Scale knob: SPARK_GRAFT_PRIVACY_SCALE (default 1,000,000). */
object StressPrivacy {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_PRIVACY_SCALE", "1000000").toLong
    val spark = graft.EngineConf.localSession(None)
    val rm = new RunMetrics(spark, "privacy")

    // even ids: ONE mega group ("xx", 0). Odd ids: ~20k combinations
    // with xxhash64 spread; ids divisible by 31 collapse src to a
    // singleton-ish tail (quasi combos seen once or twice).
    val rows = spark.range(n).select(
      col("id"),
      when(col("id") % 2 === 0, lit("xx"))
        .otherwise(concat(lit("l"), pmod(xxhash64(lit("lang"), col("id")), lit(200L))))
        .as("lang"),
      when(col("id") % 2 === 0, lit(0L))
        .when(col("id") % 31 === 0, col("id")) // near-singleton tail
        .otherwise(pmod(xxhash64(lit("src"), col("id")), lit(100L))).as("src"),
      pmod(xxhash64(lit("sens"), col("id")), lit(30L)).as("sens"),
      pmod(xxhash64(lit("num"), col("id")), lit(100000L)).as("num"))
      .repartition(32).persist()
    println(f"[privacy] ${rows.count()}%,d rows (half in one mega group)")
    val quasi = Seq(col("lang"), col("src"))

    rm.stage("k_anonymize") {
      val r = Privacy.kAnonymize(rows, quasi, k = 5L)
        .agg(count(lit(1)), count_if(col("suppressed"))).head
      println(s"[privacy]   rows=${r.getLong(0)} suppressed=${r.getLong(1)}")
    }
    rm.stage("l_diversity") {
      val r = Privacy.lDiversity(rows, quasi, col("sens"), l = 5L)
        .agg(count(lit(1)), count_if(!col("diverse"))).head
      println(s"[privacy]   groups=${r.getLong(0)} homogeneous=${r.getLong(1)}")
    }
    rm.stage("generalize_ladder") {
      // num spreads ~n/100k rows per value -> width-25 buckets hold
      // ~n/4000; k = n/1000 forces the ladder to level 2 (width 100)
      val r = Privacy.generalizeUntilK(rows, col("id"), col("num"),
          baseWidth = 25L, maxLevels = 4, k = n / 1000L)
        .agg(count(lit(1)), count_if(col("level") >= 0), max(col("level"))).head
      println(s"[privacy]   rows=${r.getLong(0)} generalized=${r.getLong(1)} maxLevel=${r.getLong(2)}")
    }
    rm.stage("t_closeness") {
      val r = Privacy.tCloseness(rows, quasi, col("sens"), tNum = 1L, tDen = 3L)
        .agg(count(lit(1)), count_if(col("close"))).head
      println(s"[privacy]   groups=${r.getLong(0)} close=${r.getLong(1)}")
    }
    rm.stage("dp_noisy_release") {
      val r = Privacy.dpNoisyCounts(rows, quasi, eps = 0.5, seed = "stress")
        .agg(count(lit(1)), sum(abs(col("noise"))), count_if(col("released") === 0)).head
      println(s"[privacy]   groups=${r.getLong(0)} sum|noise|=${r.getLong(1)} zeroed=${r.getLong(2)}")
    }
    // user-level DP: ~100k synthetic users (mega-user u0 owns every
    // 10th row — the contribution skew the bound exists for); the
    // per-user rank window is the family's only corpus-scale shuffle
    rm.stage("dp_user_counts") {
      val withUser = rows.withColumn("user",
        when(col("id") % 10 === 0, lit(0L))
          .otherwise(pmod(xxhash64(lit("usr"), col("id")), lit(100000L))))
      val r = Privacy.dpNoisyCountsByUser(withUser, col("user"),
          Seq(col("id")), k = 5, quasi = quasi, eps = 1.0, seed = "stress-u")
        .agg(count(lit(1)), sum("group_size")).head
      println(s"[privacy]   groups=${r.getLong(0)} bounded_rows=${r.getLong(1)}")
    }
    rm.stage("dp_user_sums") {
      val withUser = rows.withColumn("user",
        when(col("id") % 10 === 0, lit(0L))
          .otherwise(pmod(xxhash64(lit("usr"), col("id")), lit(100000L))))
      val r = Privacy.dpNoisySumsByUser(withUser, col("user"), quasi,
          col("num"), clipLo = 0L, clipHi = 500000L, eps = 0.5,
          seed = "stress-us")
        .agg(count(lit(1)), sum("group_sum")).head
      println(s"[privacy]   groups=${r.getLong(0)} clipped_mass=${r.getLong(1)}")
    }
    // erasure: ~6% of ids request deletion (mod 17 hits both parities,
    // so the derived frame's owner ids — first id per odd-id group —
    // are reachable too); audited through the base frame AND a derived
    // per-(lang, src) materialization
    rm.stage("erasure_cascade") {
      val requests = rows.filter(col("id") % 17 === 0).select("id")
      val derived = rows.groupBy("lang", "src")
        .agg(count(lit(1)).as("n"), first(col("id")).as("owner_id"))
      val audit = Privacy.erasureAudit(Seq(
          ("rows", rows, col("id")),
          ("group_counts", derived, col("owner_id"))), requests)
        .collect()
      audit.foreach(r => println(s"[privacy]   ${r.getString(0)}: before=${r.getLong(1)} erased=${r.getLong(2)} after=${r.getLong(3)}"))
    }
    spark.stop()
  }
}
