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

  test("a frame this JVM never ran compiles classes; re-running it compiles none") {
    val rm = new RunMetrics(spark, "spec")
    try {
      // a literal no other query carries makes the generated source new
      val df = spark.range(0L, 1000L, 1L, 2)
        .selectExpr(s"id * ${System.nanoTime()}L % 97 AS k").groupBy("k").count()
      def compiled(): RunMetrics.Counts = {
        val before = rm.totals()
        assert(df.collect().length == 97)
        rm.totals() - before
      }
      val cold = compiled()
      assert(cold("compiles") > 0)
      assert(cold("compile_s") > 0)
      val warm = compiled()
      assert(warm("compiles") == 0)
      assert(warm("compile_s") == 0)
    } finally rm.close()
  }

  test("a non-ASCII stage label leaves as an ASCII escape and parses back intact") {
    val label = "dedup index build (2\u00d7corpus, 64/16)"
    val rm = new RunMetrics(spark, "spec")
    val out = new ByteArrayOutputStream()
    try Console.withOut(out)(rm.stage(label)(0)) finally rm.close()
    val line = out.toString("US-ASCII").trim
    assert(line.forall(c => c >= ' ' && c <= '~'), line)
    assert(line.contains("2\\u00d7corpus"))
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(json.get("stage").asText == label)
    assert(json.get("tool").asText == "spec")
    assert(RunMetrics.quote("a\"b\\c\n") == "\"a\\\"b\\\\c\\u000a\"")
  }
}
