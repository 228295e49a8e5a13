package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Runs one workload as a single closed-loop client and writes one result
  * record (JSON) to `--out`; `--trace 1` also writes the spans next to it.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --root <perfbench dir> --out <result.json>
  *   perfbench.Main --pin 1 --root <perfbench dir>    (re-pin the registry digests)
  *   perfbench.Main --train 1 --root <perfbench dir>  (one short cold registry pass,
  *                                                     to record a class-data archive)
  */
object Main {
  val Threads = 4
  val SetupReps = 3

  def load1m(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Throwable => -1d }

  /** CPU time the host took from this machine so far (steal, seconds),
    * -1 where the kernel does not report it. */
  def stealS(): Double =
    try scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+")(8).toDouble / 100
    catch { case _: Throwable => -1d }

  def session(root: File, partitions: String): SparkSession = {
    val out = new File(root, "out")
    graft.EngineConf.localHarness(SparkSession.builder()
        .master(s"local[$Threads]")
        .config("spark.sql.shuffle.partitions", partitions)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.local.dir", new File(out, "spark-local").getAbsolutePath)
        .config("spark.sql.warehouse.dir", new File(out, "warehouse").getAbsolutePath)
        .config("spark.hadoop.hadoop.tmp.dir", new File(out, "tmp").getAbsolutePath))
      .getOrCreate()
  }

  /** Fixed CPU stage (the graft.Bench calibration shape at a quarter of
    * its size): same rows, same partitions every run, so a slow box shows
    * as a slow calibration rather than as a slow workload. */
  def calibration(spark: SparkSession): Double = Seq.fill(3) {
    val t0 = System.nanoTime()
    spark.range(0L, 4000000L, 1L, 8)
      .agg(sum(pmod(xxhash64(col("id").cast("string")), lit(1000000L)))).collect()
    (System.nanoTime() - t0) / 1e9
  }.min

  /** Light engine warm-up shared by all workloads: one small shuffle. */
  def warmup(spark: SparkSession): Unit =
    spark.range(0L, 100000L, 1L, 4).groupBy(pmod(col("id"), lit(97L))).count().collect()

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = new File(a("root")).getAbsoluteFile
    if (a.contains("pin")) { Pin.run(root); return }
    if (a.contains("train")) {
      val spark = session(root, Registry.shufflePartitions(root))
      warmup(spark)
      Registry.prepare(spark, 0L, root, root)
        .pass(new Tracer(false, "", spark.sparkContext), new OpLog, check = true)
      spark.stop()
      return
    }
    val w = Workloads.byName(a("workload")).getOrElse(sys.error(s"unknown workload ${a("workload")}"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val workDir = new File(root, s"out/work-${ProcessHandle.current().pid()}")
    workDir.mkdirs()
    val loadBefore = load1m()

    // set-up, several times; every one but the last is torn down again
    var spark: SparkSession = null
    var prepared: Prepared = null
    val setups = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      spark = session(root, w.shufflePartitions(root))
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = System.nanoTime()
      prepared = w.prepare(spark, seed, root, workDir)
      val t2 = System.nanoTime()
      warmup(spark)
      val t3 = System.nanoTime()
      if (i < SetupReps) { prepared.close(); spark.stop() }
      Seq(t1 - t0, t2 - t1, t3 - t2, t3 - t0).map(_ / 1e9)
    }
    def setupMedian(k: Int) = Stats.median(setups.map(_(k)))
    val calib = calibration(spark)

    // first pass: checks every output and warms JIT and codegen
    val log = new OpLog
    val tCheck = System.nanoTime()
    prepared.pass(new Tracer(false, "", spark.sparkContext), log, check = true)
    val checkPassS = (System.nanoTime() - tCheck) / 1e9

    val runId = s"${w.name}-s$seed-${ProcessHandle.current().pid()}"
    val tr = new Tracer(traced, runId, spark.sparkContext)
    if (traced) {
      spark.sparkContext.addSparkListener(tr.listener)
      spark.listenerManager.register(tr.queryListener)
    }
    System.gc()
    val heap = new HeapWatch
    val window = new OpLog
    val passNs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val counters = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val steal0 = stealS()
    val tWin = System.nanoTime()
    while (passNs.size < w.minPasses || (System.nanoTime() - tWin) / 1e9 < seconds) {
      val t0 = System.nanoTime()
      tr.span("pass")(prepared.pass(tr, window, check = false))
      passNs += System.nanoTime() - t0
      prepared.counters.foreach { case (k, v) => counters(k) += v }
    }
    val peakLiveMb = heap.stop() / 1048576.0
    System.gc()
    val retainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    tr.settle()
    val loadAfter = load1m()
    val windowSteal = if (steal0 < 0) -1d else stealS() - steal0

    val passes = passNs.size
    val winS = passNs.sum / 1e9
    val failed = log.failed + window.failed
    val attempted = log.attempted + window.attempted
    val lat = window.latNs.map(_ / 1e6).toSeq
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupMedian(3), "s"),
        ("wall_s", Stats.median(passNs.map(_ / 1e9).toSeq), "s"),
        // no tail percentile: a run has tens of operations, too few to put
        // ten samples beyond any percentile above the median
        ("op_p50_ms", Stats.median(lat), "ms"),
        ("items_per_s", prepared.itemsPerPass * passes / winS, "1/s"))
      else Layers.metrics(tr, passes, winS, Threads, counters.toMap.map { case (k, v) => k -> v / passes }) ++ Seq(
        ("setup.session_s", setupMedian(0), "s"),
        ("setup.datagen_s", setupMedian(1), "s"),
        ("setup.warmup_s", setupMedian(2), "s"),
        ("setup.check_pass_s", checkPassS, "s"),
        ("jvm.peak_live_heap_mb", peakLiveMb, "MB"),
        ("jvm.retained_heap_mb", retainedMb, "MB"),
        ("trace.wall_s", Stats.median(passNs.map(_ / 1e9).toSeq), "s"))
    val record = Map(
      "workload" -> w.name, "seed" -> seed, "seconds" -> seconds, "trace" -> (if (traced) 1 else 0),
      "run_id" -> runId, "params" -> w.params, "input_digest" -> prepared.inputDigest,
      "context" -> Map("cpus" -> Runtime.getRuntime.availableProcessors, "spark_threads" -> Threads,
        "load_1m_before" -> loadBefore, "load_1m_after" -> loadAfter, "window_steal_s" -> windowSteal, "calibration_s" -> calib,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "setup_runs_s" -> setups),
      "process_s" -> (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3,
      "check_pass_s" -> checkPassS, "passes" -> passes, "window_s" -> winS, "ops_per_pass" -> window.attempted / passes,
      "check_ops_ms" -> log.names.zip(log.latNs).map { case (n, l) => Seq(n, l / 1e6) },
      "ops_ms" -> window.names.zip(window.latNs).map { case (n, l) => Seq(n, l / 1e6) },
      "attempted" -> attempted, "failed" -> failed,
      "failed_frac" -> failed.toDouble / attempted, "failures" -> (log.failures ++ window.failures),
      "metrics" -> metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap)
    val out = new File(a("out"))
    out.getParentFile.mkdirs()
    write(out, Json(record))
    if (traced) {
      val counts = tr.countsBySpan
      val self = Tracer.selfTimes(tr.recorded)
      write(new File(out.getPath.stripSuffix(".json") + ".spans.jsonl"),
        tr.recorded.map { s =>
          Json(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run_id" -> s.runId,
            "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> self(s.id),
            "counts" -> counts.getOrElse(s.id, Map.empty)))
        }.mkString("\n") + "\n")
    }
    prepared.close()
    spark.stop()
    Workloads.deleteTree(workDir)
  }

  def write(f: File, s: String): Unit = {
    val pw = new PrintWriter(f, "UTF-8")
    try pw.write(s) finally pw.close()
  }
}
