package graft.tools

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The scale probes, one entry point over a scenario table:
  *
  *   runMain graft.tools.Stress <name>[,<name>...] [smoke|full]
  *
  * A name is a scenario or a named set (`dedup`, `loops`, `webcorpus`,
  * `all`); the tier defaults to `smoke`. `smoke` is the reduced scale
  * that regenerates `TOOLS_SMOKE.jsonl` in one JVM (`Stress all smoke`);
  * `full` is the scale EXPLAIN.md's numbers were taken at. Every
  * scenario runs in ONE session from [[graft.EngineConf.localSession]]:
  * before its body Stress prints one `{"run":..}` header line on stdout,
  * the body prints one [[RunMetrics]] line per timed stage, and after it
  * every cached frame, persisted RDD and scratch directory is dropped, so
  * no scenario inherits another's memory. A scenario that throws ends
  * the run.
  * `SPARK_GRAFT_SF_DIR` (the documents/events input of the inflating
  * scenarios) defaults to sf0.01 at `smoke` and sf0.1 at `full`. */
object Stress {

  /** One scenario's scale at the chosen tier, its input directory, and
    * scratch directories that Stress deletes after the scenario. */
  final class Params(val tier: String, values: Map[String, Long], scratch: Path) {
    def apply(key: String): Long =
      values.getOrElse(key, throw new NoSuchElementException(s"no scale parameter '$key'"))
    def int(key: String): Int = apply(key).toInt
    def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      if (tier == "smoke") "/root/testdata/sf0.01" else "/root/testdata/sf0.1")
    def dir(prefix: String): String = Files.createTempDirectory(scratch, prefix).toString
  }

  /** A named probe: why it exists, its scale at each tier, and its body. */
  final case class Scenario(name: String, reason: String,
                            smoke: Map[String, Long], full: Map[String, Long])(
      val body: (SparkSession, RunMetrics, Params) => Unit)

  val Tiers: Seq[String] = Seq("smoke", "full")

  val scenarios: Seq[Scenario] = Seq(
    Scenario("hierarchy", "pointer doubling: rounds set by the one deep chain, join input collapses after round 1",
      Map("rows" -> 100000), Map("rows" -> 1000000))(LoopScenarios.hierarchy),
    Scenario("chat", "conversation family on inflated events: one exchange carries turns, spans and audit",
      Map("copies" -> 2), Map("copies" -> 100))(TableScenarios.chat),
    Scenario("bpe", "BPE merges are vocab-sized: a 10x corpus must not make merges 10x slower",
      Map("docs_small" -> 2000, "docs_large" -> 5000, "merges" -> 4),
      Map("docs_small" -> 100000, "docs_large" -> 1000000, "merges" -> 16))(LoopScenarios.bpe),
    Scenario("unigram", "unigram-LM EM rounds are vocab-sized; encode is corpus-sized",
      Map("docs_small" -> 2000, "docs_large" -> 5000, "rounds" -> 1),
      Map("docs_small" -> 100000, "docs_large" -> 1000000, "rounds" -> 2))(LoopScenarios.unigram),
    Scenario("wordpiece", "WordPiece merges are vocab-sized; encode is one codegen'd projection",
      Map("docs_small" -> 2000, "docs_large" -> 5000, "merges" -> 4),
      Map("docs_small" -> 100000, "docs_large" -> 1000000, "merges" -> 16))(LoopScenarios.wordpiece),
    Scenario("incremental", "dedup index build scales with the base; per-batch classify stays flat",
      Map("copies" -> 2, "steps" -> 1), Map("copies" -> 50, "steps" -> 3))(DedupScenarios.incremental),
    Scenario("collapse_gate", "the exact-dup gate: dup-free costs what plain costs, dup-heavy keeps the collapse win",
      Map("docs" -> 5000), Map("docs" -> 100000))(DedupScenarios.collapseGate),
    Scenario("estimate", "exact-verified vs signature-estimated near-dup: the variance the cost saving buys",
      Map("docs" -> 5000), Map("docs" -> 100000))(DedupScenarios.estimate),
    Scenario("cap_bands", "the posting cap makes a hot simhash band feasible",
      Map("docs" -> 20000, "hot_pct" -> 10), Map("docs" -> 1000000, "hot_pct" -> 10))(
      DedupScenarios.capBands),
    Scenario("dedup_ops", "text/dedup operators on an all-copies corpus: work scales with corpus + candidates",
      Map("copies" -> 2), Map("copies" -> 20))(DedupScenarios.dedupOps),
    Scenario("crossmodal", "alignment gate is shuffle-free; dedup and curatePairs stay linear",
      Map("pairs" -> 20000), Map("pairs" -> 1000000))(MediaScenarios.crossModal),
    Scenario("skew", "Zipf skew join: AQE skew-join off / on vs explicit salting",
      Map("rows" -> 200000), Map("rows" -> 20000000))(TableScenarios.skew),
    Scenario("drift", "drift series and gate survive a mega bucket without a window",
      Map("rows" -> 20000), Map("rows" -> 1000000))(TableScenarios.drift),
    Scenario("media", "real codec pass prices image-dedup ingest; the posting cap bounds a planted flood",
      Map("images" -> 2000, "hashes" -> 60000), Map("images" -> 300000, "hashes" -> 1000000))(
      MediaScenarios.media),
    Scenario("media_cap", "the posting cap on a solid-thumbnail dHash cluster hot in every band",
      Map("hashes" -> 20000, "hot_pct" -> 10), Map("hashes" -> 1000000, "hot_pct" -> 10))(
      MediaScenarios.mediaCap),
    Scenario("graph", "link-graph family on uniform and Zipf in-degree graphs",
      Map("nodes" -> 5000), Map("nodes" -> 1000000))(LoopScenarios.graph),
    Scenario("temporal", "decode-bound temporal media: per-row local, re-threshold is codec-free",
      Map("videos" -> 200, "audios" -> 500), Map("videos" -> 30000, "audios" -> 100000))(
      MediaScenarios.temporal),
    Scenario("privacy", "privacy family with half the rows in one mega group",
      Map("rows" -> 20000), Map("rows" -> 1000000))(TableScenarios.privacy),
    Scenario("curation", "q106 curation composite stage by stage: no stage goes super-linear",
      Map("copies" -> 2), Map("copies" -> 200))(DedupScenarios.curation),
    Scenario("retrieval", "BM25 cost follows postings for the query terms; graded metrics hit the provable ideal",
      Map("docs" -> 20000, "queries" -> 20, "families" -> 1000, "graded_queries" -> 100),
      Map("docs" -> 1000000, "queries" -> 100, "families" -> 250000, "graded_queries" -> 10000))(
      VectorScenarios.retrieval),
    Scenario("preference", "preference, frontier and bitext stages stay linear in their input",
      Map("n" -> 10000), Map("n" -> 1000000))(TableScenarios.preference),
    Scenario("ann", "IVF, two-level cells and bitext mining vs brute force, with recall@10",
      Map("vectors" -> 20000), Map("vectors" -> 1000000))(VectorScenarios.ann),
    Scenario("webcorpus_election", "best-quality election over a 20-copy corpus's worst-case cluster mass",
      Map(), Map())(DedupScenarios.webcorpusElection),
    Scenario("webcorpus_gate_quota", "per-row gate and 300-domain quota over 200 salted copies",
      Map(), Map())(DedupScenarios.webcorpusGateQuota),
    Scenario("webcorpus_composite", "the q123 composite end to end through plain LSH",
      Map("copies" -> 20, "group" -> 10), Map("copies" -> 200, "group" -> 10))(
      DedupScenarios.webcorpusComposite(collapsed = false)),
    Scenario("webcorpus_collapsed", "the q123 composite through nearDuplicatesCollapsed",
      Map("copies" -> 20, "group" -> 10), Map("copies" -> 200, "group" -> 10))(
      DedupScenarios.webcorpusComposite(collapsed = true)))

  /** Named scenario lists; a member may name another set. */
  val sets: Map[String, Seq[String]] = Map(
    "webcorpus" -> Seq("webcorpus_election", "webcorpus_gate_quota",
      "webcorpus_composite", "webcorpus_collapsed"),
    "dedup" -> Seq("dedup_ops", "incremental", "estimate", "collapse_gate",
      "cap_bands", "webcorpus"),
    "loops" -> Seq("graph", "hierarchy", "bpe", "wordpiece", "unigram"),
    "all" -> scenarios.map(_.name))

  /** The scenarios a comma list names, sets expanded, each once in
    * first-named order. An unknown name fails listing the valid ones. */
  def expand(names: String): Seq[Scenario] = {
    val byName = scenarios.map(sc => sc.name -> sc).toMap
    def one(n: String): Seq[Scenario] = byName.get(n).map(Seq(_))
      .orElse(sets.get(n).map(_.flatMap(one)))
      .getOrElse(throw new IllegalArgumentException(
        s"unknown scenario or set '$n'; scenarios: ${scenarios.map(_.name).mkString(", ")}; " +
          s"sets: ${sets.keys.toSeq.sorted.mkString(", ")}"))
    names.split(",").map(_.trim).filter(_.nonEmpty).toSeq.flatMap(one).distinct
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Stress <name>[,<name>...] [smoke|full]")
    val tier = args.lift(1).getOrElse("smoke")
    require(Tiers.contains(tier), s"tier must be one of ${Tiers.mkString(", ")}, got '$tier'")
    val picked = expand(args(0))
    val spark = graft.EngineConf.localSession(None)
    // unpersisting a local checkpoint warns once per RDD that its lineage
    // is gone; dropping them after a scenario is the point
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    val t0 = System.nanoTime()
    picked.foreach(run(spark, _, tier))
    System.err.println(f"[stress] ${picked.size} scenarios in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }

  /** Run one scenario, then drop everything it cached. */
  private def run(spark: SparkSession, sc: Scenario, tier: String): Unit = {
    val scale = if (tier == "smoke") sc.smoke else sc.full
    val scratch = Files.createTempDirectory(s"graft_stress_${sc.name}")
    println(s"""{"run":"${sc.name}","tier":"$tier","params":{""" +
      scale.map { case (k, v) => s""""$k":$v""" }.mkString(",") + "}}")
    val rm = new RunMetrics(spark, sc.name)
    val t0 = System.nanoTime()
    try sc.body(spark, rm, new Params(tier, scale, scratch))
    finally {
      System.err.println(f"[stress] ${sc.name} ${(System.nanoTime() - t0) / 1e9}%.1f s")
      rm.close()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      graft.streaming.EventsStream.deleteRecursively(scratch)
    }
  }

  // ---- shared generators ----------------------------------------------

  /** `base` times `copies`: ONE explode, not an N-way union — a wide union
    * makes every downstream action re-analyze N plan branches, taxing each
    * timing with driver-side planning the engine's real plans never pay.
    * `cols` builds each output row from `base`'s columns and the copy index
    * `i`. The result is pinned at 32 partitions and lineage-cut, so stage
    * timings measure operator work, not the inflation. */
  def inflate(base: DataFrame, copies: Long)(cols: Column*): DataFrame =
    base.select(col("*"), explode(sequence(lit(0), lit(copies - 1))).as("i"))
      .select(cols: _*)
      .repartition(32)
      .localCheckpoint()

  /** `nDocs` documents of 50 Zipf-ish words, shared by the tokenizer
    * scenarios. Rank floor(U^2 * 60000) concentrates draws at low ranks
    * (quadratic is cheap and close enough to 1/rank for the vocab-size
    * argument); the rank renders as 1-4 base-26 letters, the `[a-z]+`
    * vocab contract. */
  def zipfDocs(spark: SparkSession, nDocs: Long): DataFrame = {
    val wordsPerDoc = 50
    spark.range(nDocs).select(col("id"),
      concat_ws(" ", (0 until wordsPerDoc).map { j =>
        val u = pmod(xxhash64(col("id") * 31 + j), lit(1000000L))
          .cast("double") / 1000000d
        val rank = floor(u * u * 60000d).cast("long")
        // base-26 render: 4 letter positions, leading 'a's harmless
        concat((3 to 0 by -1).map { p =>
          val d = pmod(rank.divide(math.pow(26d, p)).cast("long"), lit(26L))
          chr(d + 97)
        }: _*)
      }: _*).as("text"))
  }

  /** Deterministic clustered `dim`-d vectors `(vec_id, embedding)`: vector
    * i sits near center xxhash64(i) % 1000, dim d = center(c, d) +
    * 0.05·noise(i, d), all hash-folded into [-1, 1] — replayable, no RNG
    * state. Clustered because real embedding corpora are; uniform noise
    * is IVF's adversarial case. */
  def clusteredVectors(ids: Dataset[_], dim: Int): DataFrame = {
    val cl = pmod(xxhash64(col("id")), lit(1000L))
    ids.select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), d =>
        (pmod(xxhash64(lit("c"), cl, d), lit(2000001L)).cast("double") / 1e6 - 1.0) +
          (pmod(xxhash64(col("id"), d), lit(2001L)).cast("double") / 1e3 - 1.0) * 0.05)
        .as("embedding"))
  }

  /** The tokenizer scenarios' two corpus sizes: work after the one corpus
    * shuffle is vocab-sized, so the larger corpus must not make it
    * proportionally slower. */
  def atTwoSizes(spark: SparkSession, p: Params)(f: (Long, DataFrame) => Unit): Unit =
    Seq(p("docs_small"), p("docs_large")).foreach(n => f(n, zipfDocs(spark, n)))

  /** Run `f` with runtime SQL confs set, then restore what was there. */
  def withConfs[A](spark: SparkSession, confs: Map[String, String])(f: => A): A = {
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k))
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
