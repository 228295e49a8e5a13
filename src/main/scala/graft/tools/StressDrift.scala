package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Drift

/** Scale probe for the drift-telemetry family (driver-side tooling):
  * n rows over 30 ingestion days × 20 buckets, with the adversarial
  * shape the no-window discipline exists for — ONE mega bucket holds
  * half of every day's mass — plus an injected real drift on the last
  * day (the mega bucket's mass shifts to the tail). Stages: the
  * day-over-day TVD series, and the reference-vs-candidate gate
  * (day 1–15 histogram vs 16–30). Wall time + shuffle record deltas
  * per stage (StressCuration discipline); committed numbers in
  * EXPLAIN.md.
  *
  * Scale knob: SPARK_GRAFT_DRIFT_SCALE (default 1,000,000). */
object StressDrift {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_DRIFT_SCALE", "1000000").toLong
    val spark = graft.EngineConf.localSession(None)
    val rm = new RunMetrics(spark, "drift")

    // 30 days (hash-assigned, independent of id parity); even ids land
    // in the mega bucket b0 — except on the last day, where the mega
    // mass scatters over the tail (injected drift)
    val day = pmod(xxhash64(lit("day"), col("id")), lit(30L))
    val rows = spark.range(n).select(
      day.as("day"),
      when(col("id") % 2 === 0 && day =!= 29, lit("b0"))
        .otherwise(concat(lit("b"),
          pmod(xxhash64(lit("bkt"), col("id")), lit(19L)) + 1)).as("bucket"))
    println(s"[drift] ${"%,d".format(n)} rows, 30 days, mega bucket holds half of each day (drift injected on day 29)")

    // each stage cold then warm (fresh plan each time — only codegen/JIT
    // warm across reps, matching the Bench counting discipline)
    for (rep <- Seq("cold", "warm")) rm.stage(s"tvd_series_$rep") {
      // scope closed per rep: warm measures a full recompute (only
      // codegen/JIT carry over), not a cache read
      val s = scala.util.Using.resource(new graft.operators.CacheScope) { sc =>
        Drift.tvdSeries(rows, col("day"), col("bucket"), scope = sc)
          .agg(count(lit(1)), count_if(col("drifted")), max(col("tvd_ppm"))).head
      }
      println(s"[drift]   pairs=${s.getLong(0)} drifted=${s.getLong(1)} max_ppm=${s.getLong(2)}")
    }
    for (rep <- Seq("cold", "warm")) rm.stage(s"psi_series_$rep") {
      val s = scala.util.Using.resource(new graft.operators.CacheScope) { sc =>
        Drift.psiSeries(rows, col("day"), col("bucket"), scope = sc)
          .agg(count(lit(1)),
            count_if(col("level") =!= "stable"), max(col("psi_micro"))).head
      }
      println(s"[drift]   pairs=${s.getLong(0)} nonstable=${s.getLong(1)} max_psi_micro=${s.getLong(2)}")
    }
    for (rep <- Seq("cold", "warm")) rm.stage(s"tvd_gate_$rep") {
      val ref = rows.filter(col("day") < 15)
      val cur = rows.filter(col("day") >= 15)
      val g = Drift.tvdBetween(ref, col("bucket"), cur, col("bucket"), 1L, 16L)
        .select("tvd_ppm", "drifted").head
      println(s"[drift]   gate ppm=${g.getLong(0)} drifted=${g.getBoolean(1)}")
    }
    // fleet form: 64 stable hash-assigned sources, one series each —
    // every source carries the same day/bucket structure (mega bucket,
    // day-29 flip) at 1/64 the mass
    for (rep <- Seq("cold", "warm")) rm.stage(s"tvd_series_by_$rep") {
      val grouped = spark.range(n).select(
        day.as("day"),
        when(col("id") % 2 === 0 && day =!= 29, lit("b0"))
          .otherwise(concat(lit("b"),
            pmod(xxhash64(lit("bkt"), col("id")), lit(19L)) + 1)).as("bucket"),
        pmod(xxhash64(lit("grp"), col("id")), lit(64L)).as("grp"))
      val s = scala.util.Using.resource(new graft.operators.CacheScope) { sc =>
        Drift.tvdSeriesBy(grouped, Seq(col("grp")), col("day"), col("bucket"),
            scope = sc)
          .agg(count(lit(1)), count_if(col("drifted"))).head
      }
      println(s"[drift]   group-pairs=${s.getLong(0)} drifted=${s.getLong(1)}")
    }
    spark.stop()
  }
}
