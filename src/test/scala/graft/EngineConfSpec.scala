package graft

import java.io.{File, RandomAccessFile}
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The local harness posture: [[EngineConf.harnessShufflePartitions]]'s
  * byte-derived width and the conf [[EngineConf.localSession]] applies,
  * checked as pure values (no session is opened). */
class EngineConfSpec extends AnyFunSuite {
  private def withTempDir[T](f: File => T): T = {
    val dir = Files.createTempDirectory("graft_width").toFile
    try f(dir) finally {
      Option(dir.listFiles()).foreach(_.foreach(_.delete()))
      dir.delete()
    }
  }

  private def writeMb(dir: File, name: String, mb: Int): Unit =
    Files.write(new File(dir, name).toPath, new Array[Byte](mb << 20))

  test("harnessShufflePartitions: ceil(dir bytes / 2 MB) clamped to [2, 4096]") {
    withTempDir { dir =>
      assert(EngineConf.harnessShufflePartitions(dir.getPath) == "2")
      (1 to 5).foreach(i => writeMb(dir, s"part$i", 1))
      assert(EngineConf.harnessShufflePartitions(dir.getPath) == "3")
    }
    assert(EngineConf.harnessShufflePartitions("/nonexistent/graft/input") == "2")
    withTempDir { dir =>
      // sparse: 9 GB of length, no blocks written
      val f = new RandomAccessFile(new File(dir, "huge"), "rw")
      try f.setLength(9L << 30) finally f.close()
      assert(EngineConf.harnessShufflePartitions(dir.getPath) == "4096")
    }
  }

  test("localPosture: AQE harness knobs, UTC, no UI, byte width for a read dir") {
    withTempDir { dir =>
      (1 to 5).foreach(i => writeMb(dir, s"part$i", 1))
      val posture = EngineConf.localPosture(Some(dir.getPath))
      assert(posture.map(_._1).distinct.length == posture.length)
      val conf = posture.toMap
      assert(conf("spark.master") == s"local[${EngineConf.localCpus}]")
      assert(conf("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
      assert(conf("spark.sql.adaptive.advisoryPartitionSizeInBytes") == "1m")
      assert(conf("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
      assert(conf("spark.sql.codegen.cache.maxEntries") == "4096")
      assert(conf("spark.sql.session.timeZone") == "UTC")
      assert(conf("spark.ui.enabled") == "false")
      assert(conf("spark.sql.shuffle.partitions") == "3")
    }
  }

  test("coalescing: production sets the harness's codegen cache size") {
    val set = scala.collection.mutable.Map.empty[String, String]
    val recorder = new SparkSession.Builder {
      override def config(key: String, value: String): this.type = {
        set(key) = value
        this
      }
    }
    EngineConf.coalescing(recorder)
    assert(set("spark.sql.codegen.cache.maxEntries") == "4096")
    assert(set("spark.sql.codegen.cache.maxEntries") ==
      EngineConf.localPosture(None).toMap.apply("spark.sql.codegen.cache.maxEntries"))
  }

  test("localPosture: generated inputs keep Spark's default width; extra wins") {
    val posture = EngineConf.localPosture(None,
      Map("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2m"))
    val keys = posture.map(_._1)
    assert(!keys.contains("spark.sql.shuffle.partitions"))
    assert(keys.count(_ == "spark.sql.adaptive.advisoryPartitionSizeInBytes") == 1)
    assert(posture.toMap.apply("spark.sql.adaptive.advisoryPartitionSizeInBytes") == "2m")
    assert(posture.toMap.apply("spark.sql.session.timeZone") == "UTC")
  }
}
