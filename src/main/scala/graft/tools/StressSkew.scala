package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Relational

/** Skew-join evidence on the reference's own hazard shape (driver-side
  * tooling): BASELINE.md records one game thread drawing 9,528 comments
  * — a Zipfian link_id where the hot key owns ~1.6% of the whole
  * corpus. This synthesizes that shape at 20M fact rows by default
  * (SPARK_GRAFT_SKEW_ROWS), hot key scaled to 30% of rows to make the
  * straggler unmissable on a few local cores, and runs the q09-shaped
  * link_id equi-join three ways:
  *
  *  1. sort-merge join, AQE skew-join OFF — the straggler baseline;
  *  2. sort-merge join, AQE skew-join ON — runtime partition splitting;
  *  3. [[Relational.saltedJoin]] — the explicit salting operator.
  *
  * Broadcast is disabled throughout: at the reference's real 21M-row ×
  * wide-dim scale (the join BASELINE.md calls "absurdly long") the dim
  * side outgrows the broadcast threshold, and skew only matters in the
  * shuffle-join regime. (q09 itself stays a broadcast join — the dim is
  * 125 rows there; this probe is the SURVEY §4 evidence for when it
  * isn't.) Timings + executed-plan excerpts are committed to
  * EXPLAIN.md. */
object StressSkew {
  def main(args: Array[String]): Unit = {
    val rows = sys.env.getOrElse("SPARK_GRAFT_SKEW_ROWS", "20000000").toLong
    val spark = graft.EngineConf.localSession(None, Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      // default 256m advisory sizes never split a local-scale partition;
      // thresholds scaled so "skewed" means what it would mean per-task
      // on a 100 TB cluster (a partition ≫ the median)
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2m",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8m",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0"))
    val rm = new RunMetrics(spark, "skew")

    val nKeys = 100000L
    // Zipf-ish: key 0 ("the game thread") owns 30% of all comments; the
    // rest spread uniformly over 100k threads. The md5 body makes each
    // row ~32 incompressible bytes so the hot key's shuffle partition is
    // genuinely outsized on disk, the way real comment text is — an
    // all-literal payload would compress away the skew.
    val fact = spark.range(rows).select(
      when(pmod(col("id"), lit(10)) < 3, lit(0L))
        .otherwise(pmod(xxhash64(col("id")), lit(nKeys - 1)) + 1).as("link_id"),
      col("id").as("comment_id"),
      (col("id") % 1000).cast("double").as("score"),
      md5(col("id").cast("string")).as("body"))
    val dim = spark.range(nKeys).select(col("id").as("link_id"),
      concat(lit("thread_"), col("id")).as("title"),
      pmod(col("id"), lit(32)).as("home_team"))

    import RunMetrics.noop
    // collect() drives the DataFrame's OWN QueryExecution (write() spawns
    // a fresh one), so the adaptive plan we print is the finalized one
    def smjPlan(df: DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.toString.linesIterator
        .filter(l => l.contains("SortMergeJoin") || l.contains("skew") ||
          l.contains("AQEShuffleRead"))
        .map(_.trim).mkString("\n")
    }

    // fresh plan per run: AdaptiveSparkPlanExec finalizes once per
    // Dataset, so reusing one frame would pin the first config's plan
    def joined: DataFrame = fact.join(dim, "link_id")
      .groupBy("home_team").agg(count(lit(1)).as("n"), sum("score").as("s"))

    def withSkewJoin(on: Boolean)(f: => Unit): Unit = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", on.toString)
      try f finally
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    }

    // warm the join shape + JIT outside the timed region, then
    // INTERLEAVE the configurations twice — back-to-back single shots
    // would hand whichever runs second a warm-cache advantage
    withSkewJoin(on = false)(noop(joined))
    def salted: DataFrame = Relational.saltedJoin(fact, dim, "link_id",
        distributor = col("comment_id"), buckets = 32)
      .groupBy("home_team").agg(count(lit(1)).as("n"), sum("score").as("s"))
    for (round <- 1 to 2) {
      withSkewJoin(on = false)(rm.stage(s"r$round SMJ, AQE skew-join OFF")(noop(joined)))
      withSkewJoin(on = true)(rm.stage(s"r$round SMJ, AQE skew-join ON")(noop(joined)))
      // salting must not lean on AQE
      withSkewJoin(on = false)(rm.stage(s"r$round saltedJoin(32), AQE skew OFF")(noop(salted)))
    }
    withSkewJoin(on = false)(println("plan OFF:\n" + smjPlan(joined)))
    withSkewJoin(on = true)(println("plan ON:\n" + smjPlan(joined)))
    spark.stop()
  }
}
