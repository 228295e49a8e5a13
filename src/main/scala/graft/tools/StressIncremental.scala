package graft.tools

import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, MinHashConfig}
import graft.sources.Tables

/** Million-doc probe of the INCREMENTAL dedup path (driver-side tooling):
  * for base corpora of 0.25M / 0.5M / 1M docs (sf0.1 documents inflated
  * 50/100/200×), build the persistable index once, then classify three
  * 5k-doc delta batches against the stored parquet index. The numbers to
  * read out:
  *   - index build cost scales ~linearly with |base| (one corpus pass);
  *   - per-batch classify cost is flat across batches (nothing
  *     accumulates) and grows ~linearly in |base| (the delta-bands ⋈
  *     base-bands probe scans base band rows; base TEXT is never read
  *     after the index build).
  * Results are committed to EXPLAIN.md per round. */
object StressIncremental {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sizes = sys.env.getOrElse("SPARK_GRAFT_BASE_COPIES", "50,100,200")
      .split(",").map(_.trim.toInt).toSeq
    val spark = graft.EngineConf.localSession(None)
    val rm = new RunMetrics(spark, "inc")
    val cfg = MinHashConfig.generated(64, 16, portable = false)
    val base = Tables.documents(spark, sfDir).select("doc_id", "text")
    val baseN = base.count()
    sizes.foreach { copies =>
      spark.catalog.clearCache()
      // ONE explode, not an N-way union (EXPLAIN.md probe-methodology
      // note: wide unions tax every action with N-branch re-analysis)
      val corpus = base
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0), lit(copies - 1))).as("i"))
        .select((col("doc_id") + col("i") * 1000000L).as("doc_id"), col("text"))
        .repartition(32)
        .localCheckpoint()
      val idxDir = java.nio.file.Files.createTempDirectory(s"graft_inc_idx_$copies").toString
      rm.stage(s"base=${copies * baseN} index build")(
        Dedup.buildIndex(corpus, col("doc_id"), col("text"), cfg)
          .write.mode("overwrite").parquet(idxDir))
      val index = spark.read.parquet(idxDir)
      (1 to 3).foreach { b =>
        val delta = base.select(
          (col("doc_id") + (1000 + b) * 1000000L).as("doc_id"), col("text"))
        rm.stage(s"base=${copies * baseN} batch $b classify")(RunMetrics.noop(
          Dedup.incrementalDedupAgainstIndex(index, delta,
            col("doc_id"), col("text"), 0.8, cfg)))
      }
    }
    spark.stop()
  }
}
