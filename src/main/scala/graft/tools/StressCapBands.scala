package graft.tools

import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Scale probe for the posting-list frequency cap (driver-side tooling):
  * n 60-bit signatures with ONE corpus-common band value — the
  * web-scale shape the cap exists for (the near-empty-doc simhash, the
  * black frame, the solid thumbnail): `hotPct`% of the corpus shares
  * band 0 = V while the other bands stay hash-random. Reports, from the
  * SAME banding frame:
  *  - pre-cap candidate mass Σ C(|bucket|,2) (what the banded self-join
  *    would emit with no cap — computed by aggregation, NOT materialized:
  *    at 100k hot postings that join would be 5·10⁹ rows);
  *  - post-cap candidate mass over the kept buckets;
  *  - capped-bucket count from [[Dedup.bandPostingAudit]];
  *  - wall time of the full capped [[Dedup.simhashNearDupFromSigs]]
  *    pipeline (which is FEASIBLE only because of the cap).
  *
  * Knobs: SPARK_GRAFT_CAP_SCALE (default 1,000,000 docs),
  * SPARK_GRAFT_CAP_HOTPCT (default 10). */
object StressCapBands {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_CAP_SCALE", "1000000").toLong
    val hotPct = sys.env.getOrElse("SPARK_GRAFT_CAP_HOTPCT", "10").toLong
    val spark = graft.EngineConf.localSession(None)
    val rm = new RunMetrics(spark, "cap")

    val mask60 = (1L << 60) - 1
    val hotV = 0x1ABCL
    // background: hash-random 60-bit sigs; hot docs (id % (100/hotPct)
    // == 0) get band 0 forced to the corpus-common value
    val raw = xxhash64(lit("sig"), col("id")).bitwiseAND(lit(mask60))
    val sigs = spark.range(n).select(col("id").as("doc"),
      when(pmod(col("id"), lit(100L / hotPct)) === 0,
        raw.bitwiseAND(lit(~0x7FFFL)).bitwiseOR(lit(hotV)))
        .otherwise(raw).as("simhash"))
      .persist()
    println(s"[cap] ${"%,d".format(n)} sigs, ${hotPct}% sharing band0=0x1ABC " +
      s"(${"%,d".format(n * hotPct / 100)} postings in the hot bucket)")

    // the banding frame both masses derive from (mirrors the engine's
    // private simhashBands: 4 bands x 15 bits at maxHamming=3)
    val bandVals = (0 until 4).map(b =>
      shiftright(col("simhash"), b * 15).bitwiseAND(lit(0x7FFFL)))
    val bands = sigs.select(col("doc"),
      posexplode(array(bandVals: _*)).as(Seq("band_idx", "band_val")))
    val counts = bands.groupBy("band_idx", "band_val")
      .agg(count(lit(1)).as("np")).persist()

    rm.stage("candidate_mass") {
      // np*(np-1) is even, so the div is exact; cast keeps it integral
      // (Spark's `/` on longs is a double divide)
      val c2 = (col("np") * (col("np") - 1) / 2).cast("long")
      val m = counts.agg(
        sum(c2).cast("long").as("pre"),
        sum(when(col("np") <= 1000, c2).otherwise(0L)).cast("long").as("post")).head
      println(f"[cap]   pre-cap candidates=${m.getLong(0)}%,d  " +
        f"post-cap candidates=${m.getLong(1)}%,d  " +
        f"(${m.getLong(0).toDouble / math.max(m.getLong(1), 1)}%,.0fx reduction)")
    }
    rm.stage("band_audit") {
      val a = Dedup.bandPostingAudit(bands, Seq("band_idx", "band_val"), 1000L)
        .agg(count(lit(1)), count_if(col("capped")), max("n_postings")).head
      println(f"[cap]   buckets>=2=${a.getLong(0)}%,d capped=${a.getLong(1)}%,d " +
        f"max_postings=${a.getLong(2)}%,d")
    }
    // result = surviving near-dup pairs
    rm.stage("capped_neardup_pipeline") {
      Dedup.simhashNearDupFromSigs(sigs, maxHamming = 3,
        bits = 60, maxPostings = 1000L).count()
    }
    spark.stop()
  }
}
