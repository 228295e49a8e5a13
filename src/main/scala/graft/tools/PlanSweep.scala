package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for EVERY registry query plus a one-line
  * plan-shape summary (exchange / join-strategy / sort / generate counts,
  * pushdown flags) — the round-18 optimization screen (guide §1.1/§7.2:
  * read the plan before touching anything). Usage:
  *
  *   runMain graft.tools.PlanSweep [sfDir] [outDir]
  *
  * Writes `<outDir>/<query>.txt` (formatted plan) and
  * `<outDir>/SUMMARY.tsv`. Plans are the pre-execution view (AQE not yet
  * applied) — the same thing `df.explain("formatted")` prints, which is
  * what the plans/rNN commits hold. Iterative builders (pageRank, CC, …)
  * execute their loop during construction (each round runs a convergence
  * count/argmax or checkpoint-materializing action, independent of
  * checkpoint eagerness), so their plan shows the final frame over
  * checkpointed inputs; their loop-body plans are audited by the
  * dedicated specs/probes instead.
  */
object PlanSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/plans_r18"
    val spark = graft.EngineConf.localSession(Some(sfDir))
    Files.createDirectories(Paths.get(outDir))

    def count(p: String, needle: String): Int = needle.r.findAllIn(p).size

    val rows = new StringBuilder
    rows ++= Seq("query", "exchanges", "broadcast_exch", "reused_exch",
      "smj", "bhj", "shj",
      "bnlj", "cartesian", "sorts", "windows", "generates", "aggs",
      "scans", "empty_pushed_filters", "err").mkString("\t") + "\n"
    for (q <- graft.SparkEntry.registry.sortBy(_.name)) {
      val line =
        try {
          val df = q.run(spark, sfDir)
          val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
          Files.writeString(Paths.get(outDir, s"${q.name}.txt"), p)
          // "empty pushed filters on a scan that has a filter above it"
          // is the §6 signal; count scans whose PushedFilters is [].
          val emptyPushed = count(p, "PushedFilters: \\[\\]")
          Seq(q.name,
            // shuffle exchanges only, counted on the details-section header
            // lines ("(5) Exchange"): formatted mode puts the partitioning
            // on a separate Arguments: line, so the r18 substring patterns
            // ("Exchange hashpartitioning", then "Exchange (hash…)") both
            // matched NOTHING and the column read 0 for every plan. Each
            // operator appears once in the tree and once in the details;
            // counting details-header lines counts each exactly once.
            count(p, "(?m)^\\(\\d+\\) Exchange$"),
            count(p, "(?m)^\\(\\d+\\) BroadcastExchange$"),
            count(p, "(?m)^\\(\\d+\\) ReusedExchange"),
            count(p, "SortMergeJoin"),
            count(p, "BroadcastHashJoin"),
            count(p, "ShuffledHashJoin"),
            count(p, "BroadcastNestedLoopJoin"),
            count(p, "CartesianProduct"),
            count(p, "\\bSort\\b"),
            count(p, "\\bWindow\\b"),
            count(p, "Generate"),
            count(p, "HashAggregate"),
            count(p, "Scan parquet"),
            emptyPushed, "").mkString("\t")
        } catch {
          case e: Throwable =>
            Seq(q.name, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
              e.getClass.getSimpleName + ": " +
                Option(e.getMessage).getOrElse("").take(80)).mkString("\t")
        }
      rows ++= line + "\n"
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(outDir, "SUMMARY.tsv"), rows.toString)
    println(s"[plansweep] wrote ${Paths.get(outDir, "SUMMARY.tsv")}")
    spark.stop()
  }
}
