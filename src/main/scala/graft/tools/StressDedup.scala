package graft.tools

import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, MinHashConfig}
import graft.sources.Tables
import graft.text.TfIdf

/** Single-box scale evidence refresher (driver-side tooling): inflate the
  * sf0.1 documents table 20× (100k docs, planted near-dups replicated per
  * copy) and time the headline text/dedup pipelines end to end. */
object StressDedup {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_COPIES", "20").toInt
    require(copies > 0, s"SPARK_GRAFT_COPIES must be positive, got $copies")
    val spark = graft.EngineConf.localSession(None)
    val base = Tables.documents(spark, sfDir).select("doc_id", "text")
    // inflate via ONE explode, not an N-way union — a wide union makes
    // every downstream action re-analyze N plan branches, taxing each
    // timing with driver-side planning the engine's real plans never pay
    // (measured in EXPLAIN.md's probe-methodology note)
    val corpus = base
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), lit(copies - 1))).as("i"))
      .select((col("doc_id") + col("i") * 1000000L).as("doc_id"), col("text"))
      .repartition(32)
      .localCheckpoint() // pin 32 partitions; cut lineage out of timings
    println(s"[stress] corpus: ${corpus.count()} docs ($copies copies of $sfDir)")
    val cfg = MinHashConfig.generated(64, 16, portable = false)
    // incremental shape: index the big corpus once, classify one sf0.1
    // batch of arrivals against it — the steady-state cost per batch is
    // the classify number, not the index build
    val idxDir = java.nio.file.Files.createTempDirectory("graft_stress_idx").toString
    val delta = base.select((col("doc_id") + copies * 1000000L).as("doc_id"), col("text"))
    val rm = new RunMetrics(spark, "stress")
    import RunMetrics.noop
    Seq[(String, () => Unit)](
      "exact dedup (xxhash64 groups)" -> (() =>
        noop(Dedup.exactGroups(corpus, col("doc_id"), col("text")))),
      "minhash signatures 64-perm xxhash" -> (() =>
        noop(Dedup.minhashSignatures(corpus, col("doc_id"), col("text"), cfg))),
      // the 20-copy corpus is pathological on purpose: every doc sits in a
      // 20-strong duplicate class, so exact verification must score
      // C(20,2) × 5000 ≈ 1M true pairs — candidates-only isolates the LSH
      // core from that irreducible verify mass
      "LSH candidates-only 64-perm/16-band" -> (() =>
        noop(Dedup.lshCandidates(
          Dedup.minhashSignatures(corpus, col("doc_id"), col("text"), cfg), cfg))),
      "LSH near-dup 64/16 (verifies ~1M true pairs)" -> (() =>
        noop(Dedup.nearDuplicates(corpus, col("doc_id"), col("text"), 0.8, cfg))),
      "simhash hamming near-dup (60-bit, fastHash)" -> (() =>
        noop(Dedup.simhashNearDup(corpus, col("doc_id"), col("text"),
          hash = graft.functions.TextFunctions.fastHash))),
      "tf-idf top-5 per doc" -> (() =>
        noop(TfIdf.topKPerDoc(corpus, col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")), 5))),
      s"dedup index build ($copies×corpus, 64/16)" -> (() =>
        Dedup.buildIndex(corpus, col("doc_id"), col("text"), cfg)
          .write.mode("overwrite").parquet(idxDir)),
      "incremental classify (1 batch vs stored index)" -> (() =>
        noop(Dedup.incrementalDedupAgainstIndex(spark.read.parquet(idxDir),
          delta, col("doc_id"), col("text"), 0.8, cfg))),
      // span-overlap: every span's posting list is >= `copies` long here
      // (each doc has `copies` clones), so the frequency cap must clear
      // copies×(planted df) or the probe degenerates to an empty result —
      // cap 200 keeps all real postings while still bounding boilerplate
      "span overlap k=8 (posting joins, ~1M true pairs)" -> (() =>
        noop(Dedup.sharedSpanPairs(corpus, col("doc_id"), col("text"),
          k = 8, maxDocsPerSpan = 200L, portable = false)))
    ).foreach { case (label, run) =>
      spark.catalog.clearCache() // no stage reads another's persisted frames
      rm.stage(label)(run())
    }
    spark.stop()
  }
}
