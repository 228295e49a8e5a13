package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, MinHashConfig}
import graft.functions.TextFunctions
import graft.sources.Tables
import graft.streaming.EventsStream

/** Per-round benchmark harness. Emits ONE JSON line (driver contract:
  * {"metric","value","unit","queries","sf"}) to stdout AND to
  * `bench_out.json` in the working directory — the stdout copy drowns in
  * sbt log noise, so the file is the machine-readable artifact. Failed
  * queries are honest: their `queries` entry is the sentinel -1 and they
  * are listed in `failed` (round 1 let failures masquerade as timings);
  * a query that failed on SOME iterations but produced a timing is
  * listed in `flaky` — min-of-k must not launder intermittent failures.
  * The whole suite runs up to SPARK_GRAFT_BENCH_ITERS (default 3)
  * INTERLEAVED passes, bounded by the SPARK_GRAFT_BENCH_BUDGET_SECS
  * wall-clock budget (default 1500 s — sized so the driver's timeout
  * is never hit again after r17's rc=124): pass 1 always completes,
  * later passes run only if the previous pass's measured cost fits the
  * remaining budget, degrading to warm-only passes (single counted
  * run) before dropping passes entirely. Within a paired pass each
  * query runs twice back to back and the SECOND (warm) run is counted;
  * each query reports its MIN across passes. Ambient load can only inflate a timing, so
  * min-of-k is the noise-proof estimate; interleaving means a load
  * burst must outlast a full suite pass (~90 s) to poison any single
  * query's min; the paired warm run keeps first-run codegen/JIT out of
  * the record the same way every pre-round-7 record implicitly did.
  * `pass_totals` (counted) and `cold_totals` (first runs) expose the
  * compile cost and any hot pass in the artifact.
  *
  * Two non-oracle extras bench the xxhash64 fast path of the dedup
  * pipeline (the claimed 100 TB hash family) against the md5-portable
  * path the oracle queries must use — the md5-vs-xxhash delta is the
  * number behind the "fast path" claim.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = EngineConf.localCpus
    val spark = EngineConf.localSession(Some(sfDir))
    // JVM/codegen warmup outside the timed region: the first query
    // otherwise absorbs several seconds of JIT + reader initialization
    // that a long-running cluster never sees per-query.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // noop sink: materializes EVERY column of every row (a count() lets
    // Spark prune the plan down to a row count).
    def toNoop(run: (SparkSession, String) => org.apache.spark.sql.DataFrame): SparkSession => Unit =
      s => run(s, sfDir).write.format("noop").mode("overwrite").save()

    val fastCfg = MinHashConfig.OraclePinned.copy(portable = false)
    val base: Seq[(String, SparkSession => Unit)] =
      SparkEntry.queries.toSeq.sortBy(_._1).map {
        // Bench the streaming agg the way it scales: Append mode into the
        // noop sink (watermark bounds state; nothing collects on the
        // driver). The Complete-mode memory sink stays in Verify only.
        // statePartitions: byte-derived state-store count sized to the
        // events stream's state volume (see StreamDriver.drain) — at 32,
        // per-partition state-store open/commit costs 3× the query.
        case ("q28_stream_tumbling", _) =>
          "q28_stream_tumbling" -> ((s: SparkSession) =>
            EventsStream.runToNoop(
              EventsStream.tumblingCounts(EventsStream.read(s, sfDir)),
              statePartitions = EventsStream.harnessStatePartitions(sfDir)))
        case ("q58_stream_interval_join", _) =>
          "q58_stream_interval_join" -> ((s: SparkSession) =>
            EventsStream.runToNoop(
              EventsStream.clickPurchaseJoin(EventsStream.read(s, sfDir)),
              statePartitions = EventsStream.harnessStatePartitions(sfDir)))
        case (name, fn) => name -> toNoop(fn)
      }
    val fastPath: Seq[(String, SparkSession => Unit)] = Seq(
      "x34_fingerprint_fast" -> toNoop((s, dir) =>
        Tables.documents(s, dir).select(col("doc_id"),
          TextFunctions.fingerprintFast(TextFunctions.tokens(col("text"))).as("fp"))),
      "x35_minhash_fast" -> toNoop((s, dir) =>
        Dedup.minhashSignatures(Tables.documents(s, dir),
          col("doc_id"), col("text"), fastCfg)),
      "x36_lsh_neardup_fast" -> toNoop((s, dir) =>
        Dedup.nearDuplicates(Tables.documents(s, dir),
          col("doc_id"), col("text"), 0.8, fastCfg)),
      // the production-shaped config: 64 perms / 16 bands, xxhash64 —
      // the number behind "parameterize MinHash for real scale"
      "x36_lsh_wide64" -> toNoop((s, dir) =>
        Dedup.nearDuplicates(Tables.documents(s, dir), col("doc_id"),
          col("text"), 0.8, MinHashConfig.generated(64, 16, portable = false))),
      // the exact-dup collapse fast path at the same production config —
      // tracked against x36_lsh_wide64 so the collapse overhead/payoff
      // is visible round-over-round (payoff grows with dup density; the
      // sf corpus is dup-free, so this row prices pure overhead)
      "x44_collapsed_wide64" -> toNoop((s, dir) =>
        Dedup.nearDuplicatesCollapsed(Tables.documents(s, dir), col("doc_id"),
          col("text"), 0.8, MinHashConfig.generated(64, 16, portable = false))))

    // Tokenizer-family rows (tracked round-over-round like x34-x36).
    // Train rows time the full learning loop at the oracle-pinned small
    // k (q116/q117 replay 4 merges; the per-round cost is what scales).
    // Encode rows time PURE encode: the artifacts are trained once,
    // driver-side, before the timed region (forced below with the JIT
    // warmup) — a production pipeline trains once and encodes trillions
    // of tokens, so encode throughput is the number that matters.
    lazy val benchBpeMerges: Seq[(String, String)] =
      graft.text.Bpe.learnMerges(graft.text.Bpe.initVocab(
        Tables.documents(spark, sfDir), col("text")), 16).map(m => (m._1, m._2))
    lazy val benchByteMerges: Seq[(String, String)] =
      graft.text.Bpe.learnMerges(graft.text.Bpe.initByteVocab(
        Tables.documents(spark, sfDir), col("text")), 16).map(m => (m._1, m._2))
    lazy val benchWpVocab: Seq[String] = {
      val v0 = graft.text.WordPiece.initVocab(
        Tables.documents(spark, sfDir), col("text"))
      graft.text.WordPiece.vocabulary(v0,
        graft.text.WordPiece.learnMerges(v0, 16))
    }
    lazy val benchUnigramScores: Seq[(String, Long)] = {
      import spark.implicits._
      graft.text.UnigramLm.train(Tables.documents(spark, sfDir), col("text"))
        .as[(String, Long)].collect().toSeq
    }
    val tokenizers: Seq[(String, SparkSession => Unit)] = Seq(
      "x37_bpe_train" -> toNoop((s, dir) => {
        import s.implicits._
        graft.text.Bpe.learnMerges(graft.text.Bpe.initVocab(
            Tables.documents(s, dir), col("text")), 4)
          .toDF("pa", "pb", "cnt")
      }),
      "x38_bpe_encode" -> toNoop((s, dir) =>
        Tables.documents(s, dir).select(col("doc_id"),
          graft.text.Bpe.applyMerges(col("text"), benchBpeMerges).as("pieces"))),
      "x39_bpe_byte_encode" -> toNoop((s, dir) =>
        Tables.documents(s, dir).select(col("doc_id"),
          graft.text.Bpe.applyByteMerges(col("text"), benchByteMerges).as("pieces"))),
      "x40_unigram_train" -> toNoop((s, dir) =>
        graft.text.UnigramLm.train(Tables.documents(s, dir), col("text"))),
      "x41_unigram_encode" -> toNoop((s, dir) => {
        import s.implicits._
        graft.text.UnigramLm.encode(Tables.documents(s, dir), col("doc_id"),
          col("text"), benchUnigramScores.toDF("piece", "score_micro"))
      }),
      "x42_wordpiece_train" -> toNoop((s, dir) => {
        import s.implicits._
        graft.text.WordPiece.learnMerges(graft.text.WordPiece.initVocab(
            Tables.documents(s, dir), col("text")), 4)
          .map(m => (m.pa, m.pb, m.cnt, m.score))
          .toDF("pa", "pb", "cnt", "score")
      }),
      "x43_wordpiece_encode" -> toNoop((s, dir) =>
        Tables.documents(s, dir).select(col("doc_id"),
          graft.text.WordPiece.encode(col("text"), benchWpVocab).as("pieces"))))

    // Single-shot timings at sf0.1 swing far more than the bench gate's
    // margin under ambient load (r5's file read ~23% hot vs a quiet re-run
    // of the same commit). Min-of-k is the standard fix: ambient load can
    // only inflate a timing, never deflate it, so the minimum over k runs
    // is the best unbiased estimate of the code's actual cost. The k runs
    // are INTERLEAVED — the whole suite runs k times and each query takes
    // its min across passes — because back-to-back iterations share any
    // multi-second load burst, letting the min launder ambient noise into
    // the record (r6's q16/q20/q26/q27 looked 2-3× regressed with code
    // untouched since r3). A burst now has to outlast an entire ~90 s
    // suite pass to poison a single query's min.
    //
    // Within a pass each query runs TWICE back to back and the SECOND
    // (warm) run is the one counted: the first pays that query's
    // codegen + JIT compile (~25% of a cold pass, uniformly), and every
    // record before round 7 was implicitly warm this same way (its
    // back-to-back min-of-2 was dominated by iteration 2) — counting
    // the paired warm run keeps records comparable round-over-round,
    // while the ACROSS-pass min still provides the burst immunity the
    // old protocol lacked (a burst inflates both runs of a pair, but
    // not the same query's pair in the other pass minutes away).
    // Cold-run totals are emitted alongside the counted pass totals so
    // the compile cost and any hot pass are visible in the artifact.
    // force the encode artifacts OUTSIDE the timed region (see above);
    // a failure here must not abort the whole bench before anything is
    // emitted — the lazy vals rethrow inside the dependent queries,
    // which then record as per-query failures
    try { benchBpeMerges; benchByteMerges; benchUnigramScores; () }
    catch { case e: Throwable =>
      System.err.println(s"[bench] artifact pre-force FAILED: ${e.getMessage}")
    }

    // default 3 passes (round-9 verdict #7): the per-query min over ≥3
    // interleaved passes, with load_1m recorded at every pass boundary,
    // makes the driver artifact itself carry a quiet-box estimate — a
    // burst now has to straddle two of three passes minutes apart.
    val iters = sys.env.get("SPARK_GRAFT_BENCH_ITERS").map(_.toInt).getOrElse(3).max(1)
    // WALL-CLOCK BUDGET (round-17 verdict #1): the driver runs this main
    // under a fixed timeout, and r17's run was killed (rc=124, no
    // artifact) when a 1.5-2.8×-slower box session pushed the 3-pass
    // suite past it. The budget degrades PASS COUNT, never the suite:
    // pass 1 always completes (partial passes would break min-of-k);
    // further passes start only if the measured cost of the previous
    // pass fits the remaining budget, falling back to a WARM-ONLY pass
    // (single counted run — the query is already JIT/codegen-warm from
    // pass 1, so a lone run is a warm run) when a full cold+warm pass
    // doesn't fit but half of one does. Worst case the artifact is a
    // 1-pass record with iters=1 — degraded burst immunity, honestly
    // labeled — instead of rc=124 with nothing.
    val budgetSecs = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_SECS")
      .map(_.toDouble).getOrElse(1500.0)
    val tMain = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - tMain) / 1e9
    // BOX-SPEED CALIBRATION (round-17 verdict #5): three rounds of
    // cross-session comparisons leaned on prose ("unchanged stages
    // measured 1.5-2.8× slower"). This fixed stage — same code, same
    // row count, same partition count every round — turns that into a
    // field: calibration_secs is the min of 3 runs of 16M string-ified
    // xxhash64 rows over 32 fixed partitions, CPU-bound and
    // deterministic, so round-over-round per-query deltas can be
    // normalized mechanically (2× calibration ≈ 2× box, not 2× code).
    // Runs AFTER the JIT warmup above so it measures the box, not the
    // compiler. Partition count is pinned at 32 so the WORK is
    // identical every round; wall time still scales with the thread
    // count, so compare calibration_secs only across records with the
    // same `cpus` field (the driver always runs 32 — the comparison
    // that matters).
    def calibrationOnce(): Double = {
      val t0 = System.nanoTime()
      // pmod before the sum: raw xxhash64 values are full-range longs
      // and 16M of them overflow an ANSI int64 sum (Spark 4 throws)
      spark.range(0L, 16000000L, 1L, 32)
        .agg(sum(pmod(xxhash64(col("id").cast("string")), lit(1000000L))).as("h"))
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    val calibrationRuns = Seq.fill(3)(calibrationOnce())
    val calibrationSecs = calibrationRuns.min
    val suite = base ++ fastPath ++ tokenizers
    // Load watermark: the record's pass totals have twice differed ~1.7×
    // under ambient load on this shared box. A 1-minute loadavg snapshot
    // at each pass boundary makes the artifact self-describing — a hot
    // pass with a hot loadavg is environment; a hot pass on a quiet box
    // is code.
    def load1m(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1d }
    val passLoads = scala.collection.mutable.ArrayBuffer.empty[Double]
    // kind per pass: "paired" = cold+warm, second counted (the r7+
    // protocol); "warm" = budget-degraded single counted run (NaN in
    // the cold slot = not run, distinct from -1 = failed)
    val passKinds = scala.collection.mutable.ArrayBuffer.empty[String]
    val passWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passesBuf =
      scala.collection.mutable.ArrayBuffer.empty[(Seq[Double], Seq[Double])]
    var keepGoing = true
    while (keepGoing && passesBuf.length < iters) {
      val paired =
        if (passesBuf.isEmpty) true // pass 1 is always full: its cost IS the estimate
        else {
          val lastWall = passWalls.last
          // a paired pass costs ~what the last paired pass cost; a
          // warm-only pass drops the cold half (cold runs were measured
          // directly last paired pass). 1.15 headroom for drift.
          val lastPaired = passKinds.lastIndexOf("paired")
          val pairedCost = passWalls(lastPaired)
          val warmShare = {
            val (c, w) = passesBuf(lastPaired)
            val cs = c.filter(_ >= 0).sum; val ws = w.filter(_ >= 0).sum
            if (cs + ws > 0) ws / (cs + ws) else 0.5
          }
          val warmCost =
            if (passKinds.last == "warm") lastWall else lastWall * warmShare
          if (elapsed() + 1.15 * pairedCost <= budgetSecs) true
          else if (elapsed() + 1.15 * warmCost <= budgetSecs) false
          else { keepGoing = false; true /* unused */ }
        }
      if (keepGoing) {
        passLoads += load1m()
        val tPass = System.nanoTime()
        val pairs = suite.map { case (name, run) =>
          def once(): Double = {
            // per-query isolation: drop frames persisted inside pipeline
            // builders (dedup signatures, tf cache) so no query is timed
            // against another query's leftover storage memory.
            spark.catalog.clearCache()
            val t0 = System.nanoTime()
            val ok =
              try { run(spark); true }
              catch { case e: Throwable =>
                System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
                false
              }
            val secs = (System.nanoTime() - t0) / 1e9
            if (ok) secs else -1d
          }
          val cold = if (paired) once() else Double.NaN
          val warm = once()
          (cold, warm)
        }
        passKinds += (if (paired) "paired" else "warm")
        passWalls += (System.nanoTime() - tPass) / 1e9
        passesBuf += ((pairs.map(_._1), pairs.map(_._2)))
      }
    }
    val allPasses: Seq[(Seq[Double], Seq[Double])] = passesBuf.toSeq
    val itersRun = allPasses.length
    passLoads += load1m() // closing watermark after the final pass
    val passTimes = allPasses.map(_._2) // counted = the warm run of each pair
    val results = suite.map(_._1).zipWithIndex.map { case (name, i) =>
      val times = passTimes.map(_(i))
      val good = times.filter(_ >= 0)
      // ANY failed run is NOT ok — including the uncounted cold run of a
      // pair: a query that fails cold but succeeds on its warm retry
      // would otherwise be laundered into a clean timing (min-of-k must
      // not hide intermittent failures, the invariant this file states).
      // (a NaN cold slot means "not run" under a warm-only pass — that
      // is not a failure; NaN < 0 is false so the check below is safe)
      val anyFailed = allPasses.exists { case (colds, warms) =>
        colds(i) < 0 || warms(i) < 0
      }
      val flaky = good.nonEmpty && anyFailed
      if (good.nonEmpty) (name, good.min, true, flaky) else (name, -1d, false, false)
    }
    // wall-clock sums per pass (failed queries excluded — a failed run
    // shows up in the flaky/failed markers above, not as a shorter
    // total): counted warm totals, plus cold first-run totals for the
    // compile-cost view (a warm-only pass's cold slots are NaN = not
    // run; `_ >= 0` is false for NaN so they sum to 0 there)
    val passTotals = passTimes.map(_.filter(_ >= 0).sum)
    val coldTotals = allPasses.map(_._1.filter(_ >= 0).sum)
    def fmt(v: Double, scale: Int): String =
      if (v.isNaN || v.isInfinite) "null"
      else BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toString
    def arrS(xs: Seq[String]): String =
      xs.map(x => s""""$x"""").mkString("[", ",", "]")
    def arrD(xs: Seq[Double], scale: Int): String =
      xs.map(fmt(_, scale)).mkString("[", ",", "]")
    val total = results.collect { case (_, v, true, _) => v }.sum
    val failedNames = results.collect { case (n, _, false, _) => n }
    val flakyNames = results.collect { case (n, _, _, true) => n }
    // quiet_estimate: the explicit name for what `value` already is —
    // the sum of per-query minima across passes, i.e. the closest the
    // artifact gets to a quiet-box number on a shared box (r10 verdict
    // item 7: the field makes BENCH_rN self-describing). iters = passes
    // actually RUN (what the min is over — the budget may have trimmed
    // it below iters_requested); calibration_secs is the fixed
    // box-speed stage (see above) for mechanical cross-round
    // normalization.
    def summaryFields(scale: Int): String = Seq(
      s""""metric":"total"""",
      s""""cpus":$cpus""",
      s""""value":${fmt(total, scale)}""",
      s""""quiet_estimate":${fmt(total, scale)}""",
      s""""unit":"sec"""",
      s""""iters":$itersRun""",
      s""""iters_requested":$iters""",
      s""""budget_secs":${fmt(budgetSecs, 0)}""",
      s""""elapsed_secs":${fmt(elapsed(), 1)}""",
      s""""calibration_secs":${fmt(calibrationSecs, 2)}""",
      s""""pass_totals":${arrD(passTotals, scale)}""",
      s""""cold_totals":${arrD(coldTotals, scale)}""",
      s""""pass_kinds":${arrS(passKinds.toSeq)}""",
      s""""load_1m":${arrD(passLoads.toSeq, 2)}""",
      s""""n_queries":${results.length}""",
      s""""n_failed":${failedNames.length}""",
      s""""n_flaky":${flakyNames.length}"""
    ).mkString(",")
    // Full-precision full-suite record: every query at 3 decimals, full
    // failed/flaky name lists, calibration runs. This file is the
    // machine-readable artifact (committed per round as BENCH_QUIET).
    val qsFull = results.map { case (n, v, _, _) => s""""$n":${fmt(v, 3)}""" }
      .mkString("{", ",", "}")
    val full = s"""{${summaryFields(3)},"calibration_runs":${arrD(calibrationRuns, 2)},"queries":$qsFull,"failed":${arrS(failedNames)},"flaky":${arrS(flakyNames)},"sf":"$sfDir"}"""
    // DRIVER TAIL FIT — the actual cause of four rounds of
    // parsed:null. The driver keeps only the LAST ~2000 chars of the
    // run's output and parses the JSON line out of that window; a
    // 245-entry per-query map is ~3000 chars even with qNN-degraded
    // keys, so from r14 on every driver artifact was truncated
    // MID-LINE and parsed as null (r16: rc=0, line visibly cut at the
    // front of the tail). The stdout line therefore carries the full
    // summary plus only the SLOWEST queries (the rows a plan audit
    // reads first), greedily packed while the whole line fits 1500
    // chars — leaving headroom for sbt's trailing [success] line
    // inside the 2000-char window. n_queries vs queries_top says how
    // many rows were elided; the complete map is in bench_out.json.
    val byTime = results.filter(_._3).sortBy(-_._2)
      .map { case (n, v, _, _) => s""""$n":${fmt(v, 2)}""" }
    def lineWith(qs: Seq[String]): String =
      s"""{${summaryFields(2)},"queries_top":${qs.length},"failed":${arrS(failedNames.take(8))},"flaky":${arrS(flakyNames.take(8))},"full":"bench_out.json","queries":${qs.mkString("{", ",", "}")},"sf":"$sfDir"}"""
    val stdoutLine = byTime.inits.map(lineWith)
      .find(_.length <= 1500)
      .getOrElse(lineWith(Seq.empty))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_out.json"), full + "\n")
    // the line must be the LAST thing in the tail window: quiet the
    // shutdown logging, stop Spark, THEN print — stray executor
    // shutdown WARNs after the line would push it out of the window
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    println(stdoutLine)
  }
}
