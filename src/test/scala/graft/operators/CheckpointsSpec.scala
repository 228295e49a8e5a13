package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}

/** The checkpoint-posture seam: default = localCheckpoint (no checkpoint
  * dir needed), `spark.graft.reliableCheckpoints=true` = reliable
  * checkpoint into the configured dir — and an iterative operator run
  * under the reliable posture returns the identical result. */
class CheckpointsSpec extends SparkSpec with TempDirs {

  private def withReliable[A](f: => A): A = {
    val dir = tempDir("graft_ckpt")
    spark.conf.set(Checkpoints.ReliableConf, "true")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try f finally spark.conf.unset(Checkpoints.ReliableConf)
  }

  test("reliable posture without a checkpoint dir fails loudly (when no dir leaked in)") {
    val fresh = spark.newSession()
    fresh.conf.set(Checkpoints.ReliableConf, "true")
    // newSession shares the SparkContext (and so any dir another suite
    // set); only assert when no dir leaked in from elsewhere
    if (fresh.sparkContext.getCheckpointDir.isEmpty)
      intercept[IllegalArgumentException] {
        Checkpoints.truncate(fresh.range(3).toDF("x"))
      }
  }

  test("default posture localCheckpoints (no checkpoint dir required)") {
    val df = Checkpoints.truncate(spark.range(5).toDF("x"))
    assert(df.count() === 5)
    assert(df.queryExecution.analyzed.toString.contains("LogicalRDD"))
  }

  test("reliable posture writes a real checkpoint and preserves rows") {
    withReliable {
      val df = Checkpoints.truncate(spark.range(7).toDF("x"))
      assert(df.count() === 7)
      // reliable checkpoints materialize files under the checkpoint dir
      val dir = new java.io.File(
        spark.sparkContext.getCheckpointDir.get.stripPrefix("file:"))
      assert(dir.exists && dir.listFiles().nonEmpty,
        "reliable checkpoint left no files under the checkpoint dir")
    }
  }

  test("an iterative loop under the reliable posture returns the same result") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("d1", "d2")
    val base = graft.dedup.Dedup
      .connectedComponents(edges, col("d1"), col("d2"))
      .orderBy("node").collect().toSeq
    val rel = withReliable {
      graft.dedup.Dedup.connectedComponents(edges, col("d1"), col("d2"))
        .orderBy("node").collect().toSeq
    }
    assert(rel === base)
  }
}
