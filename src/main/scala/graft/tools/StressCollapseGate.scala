package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, MinHashConfig}

/** Break-even probe for the exact-dup presence gate in
  * [[Dedup.nearDuplicatesCollapsed]] (driver-side tooling): the same
  * n-doc corpus at 0% / 10% / 30% planted exact-dup fractions, each run
  * through the plain operator and the (gated) collapsed operator, cold.
  * The r13 bench caught the ungated collapse costing ~25% on the
  * dup-free q140 corpus; the gate's contract is: dup-free → within
  * noise of plain (one extra 1-row aggregate over the persisted keyed
  * frame), dup-heavy → the collapse win intact. Committed numbers in
  * EXPLAIN.md round 14.
  *
  * Knob: SPARK_GRAFT_GATE_SCALE (default 100,000 docs). */
object StressCollapseGate {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_GATE_SCALE", "100000").toLong
    val spark = graft.EngineConf.localSession(None)
    val rm = new RunMetrics(spark, "gate")

    // ~40-token docs; a dup family shares its base doc's text. dupPct of
    // the corpus are EXTRA copies: ids with id%10 < dupPct/10 map to the
    // family base (id - id%10); the base itself is one of the copies.
    def corpus(dupPct: Int): DataFrame = {
      val base = when(pmod(col("id"), lit(10L)) <= lit(dupPct / 10L),
        col("id") - pmod(col("id"), lit(10L))).otherwise(col("id"))
      val toks = (0 until 40).map(j =>
        hex(xxhash64(lit(j), col("base"), pmod(col("base"), lit(977L)))))
      spark.range(n).select(col("id"), base.as("base"))
        .select(col("id").as("doc_id"), concat_ws(" ", toks: _*).as("text"))
    }

    val cfg = MinHashConfig.OraclePinned
    for (dupPct <- Seq(0, 10, 30)) {
      val c = corpus(dupPct).persist()
      val distinctTexts = c.select("text").distinct().count()
      println(s"[gate] dup=$dupPct% -> ${"%,d".format(n)} docs, " +
        s"${"%,d".format(distinctTexts)} distinct texts")
      rm.stage(s"plain_dup$dupPct") {
        scala.util.Using.resource(new graft.operators.CacheScope) { sc =>
          Dedup.nearDuplicates(c, col("doc_id"), col("text"), 0.8, cfg, sc).count()
        }
      }
      rm.stage(s"collapsed_dup$dupPct") {
        scala.util.Using.resource(new graft.operators.CacheScope) { sc =>
          Dedup.nearDuplicatesCollapsed(c, col("doc_id"), col("text"), 0.8, cfg, sc)
            .count()
        }
      }
      c.unpersist()
    }
    spark.stop()
  }
}
