package graft.tools

import java.io.ByteArrayOutputStream

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import graft.SparkSpec

class RunMetricsSpec extends SparkSpec {
  test("each stage reads exactly its own job and tasks; close removes the listener") {
    val sc = spark.sparkContext
    // a slow listener ahead of RunMetrics on the shared bus queue holds
    // every later delivery back, the way a loaded box does: only an
    // exact drain reads the right counts right after the action
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(50)
    }
    sc.addSparkListener(slow)
    try {
      val rm = new RunMetrics(spark, "spec")
      val out = new ByteArrayOutputStream()
      val deltas = Console.withOut(out) {
        (1 to 2).map { i =>
          val before = rm.totals()
          assert(rm.stage(s"count$i")(sc.parallelize(1 to 100, 5).count()) == 100L)
          rm.totals() - before
        }
      }
      deltas.foreach { d =>
        assert(d("jobs") == 1)
        assert(d("stages") == 1)
        assert(d("tasks") == 5)
      }
      val lines = out.toString.linesIterator.toSeq
      assert(lines.length == 2)
      lines.zipWithIndex.foreach { case (l, i) =>
        assert(l.startsWith(s"""{"tool":"spec","stage":"count${i + 1}","wall_s":"""))
        assert(l.contains(""""result":100,"jobs":1,"stages":1,"tasks":5,"""))
        assert(l.endsWith("}"))
      }
      rm.close()
      val closed = rm.totals()
      sc.parallelize(1 to 100, 5).count()
      assert(rm.totals() == closed)
    } finally sc.removeSparkListener(slow)
  }
}
