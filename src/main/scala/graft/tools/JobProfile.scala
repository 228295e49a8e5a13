package graft.tools

import java.lang.management.ManagementFactory

/** Time and profile registry queries:
  *
  *   runMain graft.tools.JobProfile <name>[,<name>...] [sfDir] [reps]
  *
  * Comma-separate names to profile a subset in ONE JVM (the fast loop
  * for conf A/Bs — JVM spin-up would otherwise dominate). Reps
  * interleave across the set like Bench passes: each rep clears the
  * cache and runs the query into the noop sink, printing one
  * [[RunMetrics]] line (wall, jobs, stages, tasks, executor run / CPU /
  * GC / ser / other time, shuffle, spill). The gap between wall and
  * run_s / cores is driver, scheduling and barrier overhead — "is the
  * time compute, shuffle or scheduler" without the Spark UI, which the
  * harness disables. Rep 1 is cold; one line per query then gives the
  * min over the warm reps. Last, each query runs once more to print its
  * executed (final adaptive) plan with generate / reused-exchange /
  * exchange counts — the plan-iteration loop: run, read the exchanges,
  * adjust. Caveat: each InMemoryTableScan re-prints its cached subtree,
  * so node counts over the text overstate what actually runs. The last
  * line gives the heap in use after a full GC, Spark's codegen cache
  * included, so two postures' driver memory can be compared. Extra
  * Spark confs come in via SPARK_GRAFT_EXTRA_JAVA_OPTS -D passthrough
  * (build.sbt).
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.EngineConf.localSession(Some(dir))
    val rm = new RunMetrics(spark, "jobprofile")
    val qs = names.map(n => n -> graft.SparkEntry.queries(n))
    val warm = scala.collection.mutable.Map.empty[String, Double]
    for (r <- 1 to reps; (name, q) <- qs) {
      spark.catalog.clearCache()
      val secs = rm.stage(s"$name rep$r") {
        val t0 = System.nanoTime()
        RunMetrics.noop(q(spark, dir))
        (System.nanoTime() - t0) / 1e9
      }
      if (r > 1) warm(name) = warm.getOrElse(name, secs) min secs
    }
    for ((name, _) <- qs; secs <- warm.get(name))
      println(f"""{"tool":"jobprofile","query":"$name","warm_min_s":$secs%.3f}""")
    for ((name, q) <- qs) {
      spark.catalog.clearCache()
      val df = q(spark, dir)
      df.queryExecution.toRdd.count() // finalizes the adaptive plan
      val p = df.queryExecution.executedPlan.toString
      println(s"[plan] $name generates=${"Generate".r.findAllIn(p).size} " +
        s"reusedExchange=${"ReusedExchange".r.findAllIn(p).size} " +
        s"exchanges=${"Exchange hashpartitioning".r.findAllIn(p).size}")
      println(p)
    }
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    println(f"""{"tool":"jobprofile","heap_after_gc_mb":$heapMb%.1f}""")
    spark.stop()
  }
}
