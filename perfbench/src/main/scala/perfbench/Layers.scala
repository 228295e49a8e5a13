package perfbench

/** Per-layer metrics of a traced run, all per pass of the timed window:
  * span durations by layer name, and executor counts summed over each
  * layer's spans and everything they called. Layers a workload does not
  * touch read 0. */
object Layers {
  val Mb = 1048576.0

  def metrics(tr: Tracer, passes: Int, windowS: Double, threads: Int,
              counters: Map[String, Double]): Seq[(String, Double, String)] = {
    val spans = tr.recorded
    val counts = tr.countsBySpan
    val kids = spans.groupBy(_.parent)
    def subtree(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(c => subtree(c.id))
    def named(p: String => Boolean) = spans.filter(s => p(s.name))
    def dur(name: String) = named(_ == name).map(_.durNs).sum / 1e9 / passes
    def count(ids: Seq[Int], key: String): Double =
      ids.distinct.map(i => counts.get(i).flatMap(_.get(key)).getOrElse(0L)).sum.toDouble / passes
    def under(p: String => Boolean) = named(p).flatMap(s => subtree(s.id))
    val everything = (0 +: spans.map(_.id))
    def total(key: String) = count(everything, key)

    val queries = Registry.families.map(_._1).flatMap { f =>
      Seq((s"queries.$f.build_s", dur(s"queries.$f.build"), "s"),
        (s"queries.$f.build_jobs", count(under(_ == s"queries.$f.build"), "jobs"), "count"),
        (s"queries.$f.action_s", dur(s"queries.$f.action"), "s"))
    }
    val cand = counters.getOrElse("dedup.candidate_pairs", 0.0)
    val verified = counters.getOrElse("dedup.verified_pairs", 0.0)
    val indexBytes = counters.getOrElse("sink.index_bytes", 0.0)
    val indexDocs = counters.getOrElse("sink.index_docs", 0.0)
    queries ++ Seq(
      ("catalyst.plan_s", total("plan_ms") / 1e3, "s"),
      ("catalyst.final_plan_s",
        count(under(n => n.startsWith("queries.") && n.endsWith(".action")), "plan_ms") / 1e3, "s"),
      ("spark.jobs", total("jobs"), "count"),
      ("spark.tasks", total("tasks"), "count"),
      ("spark.sched_delay_s", total("sched_ms") / 1e3, "s"),
      ("spark.ser_s", total("ser_ms") / 1e3, "s"),
      ("spark.executor_cpu_s", total("cpu_ns") / 1e9, "s"),
      ("spark.cpu_busy", total("cpu_ns") / 1e9 * passes / (windowS * threads), "ratio"),
      ("spark.gc_s", total("gc_ms") / 1e3, "s"),
      ("spark.shuffle_write_mb", total("shuffle_write_b") / Mb, "MB"),
      ("spark.shuffle_read_mb", total("shuffle_read_b") / Mb, "MB"),
      ("spark.spill_mb", total("spill_b") / Mb, "MB"),
      ("sources.scan_mb", total("input_b") / Mb, "MB"),
      ("dedup.near_duplicates_s", dur("dedup.near_duplicates"), "s"),
      ("dedup.exact_groups_s", dur("dedup.exact_groups"), "s"),
      ("dedup.candidate_pairs", cand, "count"),
      ("dedup.verified_pairs", verified, "count"),
      ("dedup.verify_yield", if (cand > 0) verified / cand else 0.0, "ratio"),
      ("dedup.cc_s", dur("dedup.cc"), "s"),
      ("dedup.cc_jobs", count(under(_ == "dedup.cc"), "jobs"), "count"),
      ("graph.pagerank_s", dur("graph.pagerank"), "s"),
      ("graph.pagerank_jobs", count(under(_ == "graph.pagerank"), "jobs"), "count"),
      ("dedup.build_index_s", dur("dedup.build_index"), "s"),
      ("dedup.classify_s", dur("dedup.classify"), "s"),
      ("sink.write_s", dur("sink.write"), "s"),
      ("sink.write_mb", counters.getOrElse("sink.write_bytes", 0.0) / Mb, "MB"),
      ("sink.index_mb", indexBytes / Mb, "MB"),
      ("sink.index_bytes_per_doc", if (indexDocs > 0) indexBytes / indexDocs else 0.0, "B"),
      ("sources.index_scan_mb", count(under(_ == "dedup.classify"), "input_b") / Mb, "MB"),
      ("trace.spans_per_pass", spans.size.toDouble / passes, "count"))
  }
}
