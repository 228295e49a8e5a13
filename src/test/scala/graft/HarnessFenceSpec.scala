package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the local-harness posture out of engine code. Sessions are built
  * only by `EngineConf`, listeners are registered only by
  * `tools.RunMetrics`, tools neither pin a core count nor sleep, and the
  * byte-derived harness width (whose [2, 4096] clamp and 2 MB target are
  * single-box rules that would give 25 GB partitions at 100 TB) is read
  * only by the harnesses. Tools take their scale from the [[tools.Stress]]
  * tier, not from environment knobs, and have three mains. Comment lines
  * are skipped: docs may name them. */
class HarnessFenceSpec extends AnyFunSuite {
  private val root = new File("src/main/scala")

  /** (path relative to src/main/scala, code lines) per Scala source. */
  private lazy val sources: Seq[(String, Seq[String])] = {
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    Files.walk(root.toPath).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map { p =>
        val code = Files.readAllLines(p).asScala.toSeq.filterNot { l =>
          val t = l.trim
          t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")
        }
        root.toPath.relativize(p).toString -> code
      }
  }

  private def filesWith(needle: String): Set[String] =
    sources.collect { case (f, code) if code.exists(_.contains(needle)) => f }.toSet

  private val tools = "graft/tools/"

  test("SparkSession.builder appears only in EngineConf") {
    assert(filesWith("SparkSession.builder") == Set("graft/EngineConf.scala"))
  }

  test("addSparkListener appears only in RunMetrics; tools hand-roll no listener") {
    assert(filesWith("addSparkListener") == Set("graft/tools/RunMetrics.scala"))
    assert(filesWith("new SparkListener").filter(_.startsWith(tools)).isEmpty)
  }

  test("tools/ pins no local[N] master and never sleeps") {
    assert(filesWith("local[").filter(_.startsWith(tools)).isEmpty)
    assert(filesWith("Thread.sleep").filter(_.startsWith(tools)).isEmpty)
  }

  test("tools/ reads no SPARK_GRAFT_* variable but the input directory") {
    val read = sources.filter(_._1.startsWith(tools)).flatMap(_._2)
      .flatMap("SPARK_GRAFT_[A-Z0-9_]+".r.findAllIn(_)).toSet
    assert(read.subsetOf(Set("SPARK_GRAFT_SF_DIR")), read)
  }

  test("tools/ has three mains: Stress, JobProfile and PlanSweep") {
    assert(filesWith("def main").filter(_.startsWith(tools)) ==
      Set("Stress", "JobProfile", "PlanSweep").map(t => s"$tools$t.scala"))
  }

  test("the harness width and AQE posture are read only by the harnesses") {
    val allowed = Set("graft/EngineConf.scala", "graft/Bench.scala", "graft/Verify.scala")
    val users = filesWith("localHarness") ++ filesWith("harnessShufflePartitions")
    assert(users.filterNot(f => allowed(f) || f.startsWith(tools)).isEmpty)
  }
}
