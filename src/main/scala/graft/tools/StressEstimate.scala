package graft.tools

import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, MinHashConfig}
import graft.operators.CacheScope

/** Probe: exact-verified LSH near-dup vs signature-agreement estimation
  * (driver-side tooling). Same corpus — 10-doc families where member m
  * perturbs m of its base's 40 tokens (true Jaccard spread ≈ 0.62–1.0) —
  * through [[Dedup.nearDuplicates]] (re-shingles candidate docs' text)
  * and [[Dedup.nearDuplicatesEstimated]] at the matching 52/64 agreement
  * floor (never touches text after the signature pass). Reports wall
  * times and pair counts; the estimate's miss/extra rate vs exact is the
  * variance the cost saving buys. Committed numbers in EXPLAIN.md.
  *
  * Knob: SPARK_GRAFT_ESTIMATE_SCALE (default 100,000 docs). */
object StressEstimate {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_ESTIMATE_SCALE", "100000").toLong
    val spark = graft.EngineConf.localSession(None)
    val rm = new RunMetrics(spark, "estimate")

    // member m of family f perturbs its first (id%10) token positions
    val base = col("id") - pmod(col("id"), lit(10L))
    val m = pmod(col("id"), lit(10L))
    val toks = (0 until 40).map { j =>
      when(lit(j.toLong) < m,
        hex(xxhash64(lit("perturb"), col("id"), lit(j))))
        .otherwise(hex(xxhash64(lit(j), base, pmod(base, lit(977L)))))
    }
    val corpus = spark.range(n)
      .select(col("id").as("doc_id"), concat_ws(" ", toks: _*).as("text"))
      .persist()
    corpus.count()

    val cfg = MinHashConfig.generated(64, 16)
    val exactPairs = rm.stage("exact_verify_j0.8") {
      scala.util.Using.resource(new CacheScope) { sc =>
        Dedup.nearDuplicates(corpus, col("doc_id"), col("text"), 0.8, cfg, sc).count()
      }
    }
    val estPairs = rm.stage("estimated_52of64") {
      scala.util.Using.resource(new CacheScope) { sc =>
        Dedup.nearDuplicatesEstimated(corpus, col("doc_id"), col("text"), 52, cfg, sc)
          .count()
      }
    }
    // agreement between the two verdicts on the same candidate universe
    scala.util.Using.resource(new CacheScope) { sc =>
      val ex = Dedup.nearDuplicates(corpus, col("doc_id"), col("text"), 0.8, cfg, sc)
        .select("d1", "d2")
      val es = Dedup.nearDuplicatesEstimated(corpus, col("doc_id"), col("text"), 52, cfg, sc)
        .select("d1", "d2")
      val both = ex.intersect(es).count()
      println(s"[estimate] overlap: both=$both exact_only=${exactPairs - both} " +
        s"est_only=${estPairs - both}")
      // where do the disagreements live? exact J of the est-only pairs
      // (passed 52/64 but true J < 0.8) — the flip band the estimate's
      // variance predicts
      val allJ = Dedup.nearDuplicates(corpus, col("doc_id"), col("text"), 0.01, cfg, sc)
      val flipJ = es.except(ex).join(allJ, Seq("d1", "d2"))
        .agg(min("jaccard").as("min_j"), max("jaccard").as("max_j")).collect()(0)
      println(f"[estimate] est_only true-J range: " +
        f"[${flipJ.getDouble(0)}%.3f, ${flipJ.getDouble(1)}%.3f]")
    }
    spark.stop()
  }
}
