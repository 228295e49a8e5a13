package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.sources.Tables

class EventsStreamSpec extends SparkSpec {
  import spark.implicits._

  /** Stage the static events parquet into a stream-source directory. */
  lazy val streamDir: String = {
    val d = Files.createTempDirectory("graft_stream")
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      d.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    d.toString
  }

  test("tumbling-window counts match the batch equivalent") {
    // Complete mode emits every window; Append would (correctly) hold back
    // the trailing windows still inside the watermark on static input.
    val streamed = EventsStream.runToMemory(
      EventsStream.tumblingCounts(EventsStream.read(spark, streamDir)),
      OutputMode.Complete())
    val batch = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
    assert(streamed.count() == batch.count())
    val joined = streamed.select($"window", $"event_type", $"n".as("ns"))
      .join(batch.select($"window", $"event_type", $"n".as("nb")), Seq("window", "event_type"))
    assert(joined.filter($"ns" =!= $"nb").count() == 0)
  }

  test("safety gate on a stream: stateless projection, verdicts == batch per doc") {
    // the curation gates (q175 family) are per-row projections, so they
    // apply to a document stream UNCHANGED — this pins that contract:
    // two micro-batches through the same withSafetyGate must produce
    // the batch verdict for every doc_id
    val d = Tables.documents(spark, sfDir).select("doc_id", "text")
    val src = Files.createTempDirectory("graft_safety_stream")
    d.filter($"doc_id" % 2 === 0).write.parquet(s"$src/a.parquet.dir")
    d.filter($"doc_id" % 2 === 1).write.parquet(s"$src/b.parquet.dir")
    val stream = spark.readStream.schema(d.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(src.toString)
    def gate(df: org.apache.spark.sql.DataFrame) =
      graft.text.TextAnalysis.withSafetyGate(df, col("text"),
        Seq("dup"), Seq("slow", "broken"), softPermille = 80L)
        .select("doc_id", "safety")
    val streamed = EventsStream.runToMemory(
      gate(stream), OutputMode.Append())
      .as[(Long, String)].collect().toMap
    val batch = gate(d).as[(Long, String)].collect().toMap
    assert(streamed == batch,
      s"stream/batch verdict drift: ${streamed.size} vs ${batch.size}")
    assert(batch.values.toSet == Set("pass", "blocked_hard", "blocked_ratio"),
      "fixture must populate all three verdicts: " + batch.values.toSet)
  }

  test("substring DFA gate in a foreachBatch sink: micro-batch hit counts == batch") {
    // q182's Aho–Corasick substring tier, run the way a production
    // curation stream would host it — inside a foreachBatch sink — must
    // produce the batch hit count for every document across multiple
    // micro-batches (the per-row DFA holds no state between rows, so
    // batch boundaries must be invisible)
    val d = Tables.documents(spark, sfDir).select("doc_id", "text")
    val patterns = Seq("art", "rea", "dup") // q182's fixture patterns
    val src = Files.createTempDirectory("graft_substr_stream")
    val out = Files.createTempDirectory("graft_substr_out")
    val ckpt = Files.createTempDirectory("graft_substr_ckpt")
    d.filter($"doc_id" % 2 === 0).coalesce(1).write.parquet(s"$src/a.parquet.dir")
    d.filter($"doc_id" % 2 === 1).coalesce(1).write.parquet(s"$src/b.parquet.dir")
    val stream = spark.readStream.schema(d.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(src.toString)
    val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = stream.writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        nBatches.incrementAndGet()
        batch.select(col("doc_id"),
          graft.functions.TextFunctions.substringHits(col("text"), patterns)
            .as("n_hits"))
          .write.mode("append").parquet(out.toString)
      }
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(out.toString)
      .as[(Long, Long)].collect().toMap
    val batchMap = d.select(col("doc_id"),
        graft.functions.TextFunctions.substringHits(col("text"), patterns)
          .as("n_hits"))
      .as[(Long, Long)].collect().toMap
    assert(nBatches.get() >= 2, s"fixture must split into micro-batches: ${nBatches.get()}")
    assert(streamed == batchMap,
      s"stream/batch hit-count drift: ${streamed.size} vs ${batchMap.size}")
    assert(batchMap.values.exists(_ > 0), "fixture must produce substring hits")
  }

  test("cross-modal alignment gate in a foreachBatch sink: verdicts == batch") {
    // the q184 family's gate is a stateless projection like the safety
    // gates, so it must be batch-boundary-invisible when a pair stream
    // is curated incrementally (the production shape: new caption-image
    // pairs arrive, the gate scores them, the manifest sink appends)
    val d = Tables.documents(spark, sfDir).select("doc_id", "text")
    def seamed(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id"), col("text"),
      transform(sequence(lit(0), lit(7)), i =>
        pmod(xxhash64(lit("cv"), col("doc_id"), i), lit(2001L)).cast("double") / 1e3 - 1.0)
        .as("cap_vec"),
      transform(sequence(lit(0), lit(7)), i =>
        pmod(xxhash64(lit("iv"), col("doc_id"), i), lit(2001L)).cast("double") / 1e3 - 1.0)
        .as("img_vec"))
    def gate(df: org.apache.spark.sql.DataFrame) =
      graft.multimodal.CrossModal.alignmentGate(seamed(df),
        col("cap_vec"), col("img_vec"), minMicro = 0L)
        .select("doc_id", "align_micro", "aligned")
    val src = Files.createTempDirectory("graft_xmodal_stream")
    val out = Files.createTempDirectory("graft_xmodal_out")
    val ckpt = Files.createTempDirectory("graft_xmodal_ckpt")
    d.filter($"doc_id" % 2 === 0).coalesce(1).write.parquet(s"$src/a.parquet.dir")
    d.filter($"doc_id" % 2 === 1).coalesce(1).write.parquet(s"$src/b.parquet.dir")
    val stream = spark.readStream.schema(d.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(src.toString)
    val q = stream.writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        gate(batch).write.mode("append").parquet(out.toString)
      }
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(out.toString)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val batchMap = gate(d)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(streamed == batchMap,
      s"stream/batch alignment drift: ${streamed.size} vs ${batchMap.size}")
    assert(batchMap.values.exists(_._2) && batchMap.values.exists(!_._2),
      "fixture must produce both verdicts")
  }

  test("k-anonymity release gate in a foreachBatch sink: index verdicts == batch") {
    // k-anonymity is CORPUS-stateful (a group's size is a property of
    // the whole release, not of an arriving micro-batch), so the
    // streaming shape is the manifestIndex discipline: group sizes are
    // audited over the release corpus ONCE, and arriving rows join the
    // index for their verdict. A naive per-batch kAnonymize would
    // over-suppress (every group looks smaller inside one batch); this
    // pins that the index-joined gate reproduces the batch audit
    // exactly across micro-batch boundaries.
    val d = Tables.documents(spark, sfDir).select("doc_id", "lang", "source")
    val quasi = Seq(col("lang"), col("source"))
    val index = d.groupBy("lang", "source")
      .agg(count(lit(1)).as("group_size"))
    def gate(batch: org.apache.spark.sql.DataFrame) =
      batch.join(broadcast(index), Seq("lang", "source"), "left")
        .withColumn("suppressed",
          coalesce(col("group_size"), lit(0L)) < 5L)
        .select("doc_id", "group_size", "suppressed")
    val src = Files.createTempDirectory("graft_kanon_stream")
    val out = Files.createTempDirectory("graft_kanon_out")
    val ckpt = Files.createTempDirectory("graft_kanon_ckpt")
    d.filter($"doc_id" % 2 === 0).coalesce(1).write.parquet(s"$src/a.parquet.dir")
    d.filter($"doc_id" % 2 === 1).coalesce(1).write.parquet(s"$src/b.parquet.dir")
    val stream = spark.readStream.schema(d.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(src.toString)
    val q = stream.writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        gate(batch).write.mode("append").parquet(out.toString)
      }
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(out.toString)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val batchMap = graft.operators.Privacy.kAnonymize(d, quasi, k = 5L)
      .select("doc_id", "group_size", "suppressed")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(streamed == batchMap,
      s"stream/batch k-anonymity drift: ${streamed.size} vs ${batchMap.size}")
    assert(batchMap.values.exists(_._2) && batchMap.values.exists(!_._2),
      "fixture must exercise both verdicts")
  }

  test("drift gate in a foreachBatch sink: per-window verdicts == batch") {
    // The streaming shape of Drift.tvdBetween: each arriving ingestion
    // window is gated against a PINNED reference histogram (per-window
    // verdicts ARE the product here — unlike k-anonymity there is no
    // corpus-stateful index; the reference frame is the only state, and
    // it is static). Two micro-batches, one stationary (must pass) and
    // one with a vanished event type (must be held); each batch's gate
    // row must equal batch-mode tvdBetween on the same slice.
    val ev = Tables.events(spark, sfDir)
    val ref = ev.filter(to_date($"ts") < lit("2024-01-16").cast("date"))
      .select("event_type")
    val second = ev.filter(to_date($"ts") >= lit("2024-01-16").cast("date"))
    val stationary = second.select($"event_type", lit("stationary").as("slice"))
    val biased = second.filter($"event_type" =!= "error")
      .select($"event_type", lit("biased").as("slice"))
    val src = Files.createTempDirectory("graft_drift_stream")
    val out = Files.createTempDirectory("graft_drift_out")
    val ckpt = Files.createTempDirectory("graft_drift_ckpt")
    stationary.coalesce(1).write.parquet(s"$src/a.parquet.dir")
    biased.coalesce(1).write.parquet(s"$src/b.parquet.dir")
    val stream = spark.readStream.schema(stationary.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(src.toString)
    val q = stream.writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val tag = batch.agg(max("slice")).head().getString(0)
        graft.operators.Drift
          .tvdBetween(ref, col("event_type"), batch, col("event_type"), 1L, 16L)
          .withColumn("slice", lit(tag))
          .write.mode("append").parquet(out.toString)
      }
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(out.toString)
      .select("slice", "tvd_ppm", "drifted")
      .as[(String, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    def batchGate(cur: org.apache.spark.sql.DataFrame) =
      graft.operators.Drift
        .tvdBetween(ref, col("event_type"), cur, col("event_type"), 1L, 16L)
        .select("tvd_ppm", "drifted").as[(Long, Boolean)].head()
    assert(streamed.size == 2, streamed.toString)
    assert(streamed("stationary") == batchGate(stationary), streamed.toString)
    assert(streamed("biased") == batchGate(biased), streamed.toString)
    assert(!streamed("stationary")._2 && streamed("biased")._2,
      s"fixture must exercise both verdicts: $streamed")
  }

  test("maintained drift histograms: stream-appended generations drive the EXACT batch series") {
    // DriftStream.histogramsToParquet: each micro-batch appends its own
    // (period, bucket) counts as an on-disk generation; unlike the
    // forward-only driver-state form below, the accumulated histogram
    // supports the FULL batch series — self-normalizing verdicts
    // included — because tvdSeriesFromCounts re-sums generations
    // exactly. Batches deliberately SPLIT periods across arrivals
    // (each batch carries half of every period's rows) so the parity
    // only holds if partial counts really recombine.
    val ev = Tables.events(spark, sfDir)
      .withColumn("period", ((dayofmonth($"ts") - 1) / lit(10)).cast("long"))
      .select($"event_type", $"period", pmod(hash($"user_id"), lit(2)).as("half"))
    val src = Files.createTempDirectory("graft_drifthist_stream")
    val hist = Files.createTempDirectory("graft_drifthist_out")
    (0 to 1).foreach { h =>
      ev.filter($"half" === h).drop("half")
        .coalesce(1).write.parquet(s"$src/$h.parquet.dir")
    }
    val stream = spark.readStream.schema(ev.drop("half").schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(src.toString)
    graft.streaming.DriftStream.histogramsToParquet(stream, hist.toString,
      col("period"), col("event_type"))
    // two generations landed (one per micro-batch), with overlapping keys
    val gens = spark.read.parquet(hist.toString).select("batch_id").distinct().count()
    assert(gens === 2L, s"expected 2 on-disk generations, got $gens")
    val got = graft.operators.Drift.tvdSeriesFromCounts(
        graft.streaming.DriftStream.loadHistograms(spark, hist.toString),
        Nil, col("period"), col("bucket"), col("c"))
      .select("period", "n_prev", "n_cur", "tvd_num", "tvd_ppm", "drifted")
      .as[(Long, Long, Long, Long, Long, Boolean)].collect().toSet
    val want = graft.operators.Drift.tvdSeries(ev, col("period"), col("event_type"))
      .select("period", "n_prev", "n_cur", "tvd_num", "tvd_ppm", "drifted")
      .as[(Long, Long, Long, Long, Long, Boolean)].collect().toSet
    assert(got === want)
    assert(want.nonEmpty)
    // the SAME streamed generations drive the exact batch PSI series too
    // (psiSeriesFromCounts shares the histogram contract)
    val gotPsi = graft.operators.Drift.psiSeriesFromCounts(
        graft.streaming.DriftStream.loadHistograms(spark, hist.toString),
        Nil, col("period"), col("bucket"), col("c"))
      .select("period", "psi_micro", "level")
      .as[(Long, Long, String)].collect().toSet
    val wantPsi = graft.operators.Drift.psiSeries(ev, col("period"), col("event_type"))
      .select("period", "psi_micro", "level")
      .as[(Long, Long, String)].collect().toSet
    assert(gotPsi === wantPsi)
  }

  test("drift series over a stream: histogram state across micro-batches == batch series") {
    // The streaming twin of Drift.tvdSeries: each micro-batch is one
    // ingestion window; the only state carried between windows is the
    // PREVIOUS window's histogram (tiny by the bucketing contract —
    // collected to the driver, exactly what a production monitor
    // checkpoints). Three period-aligned batches; every consecutive
    // pair's (tvd_num, tvd_ppm) must equal the batch tvdSeries row for
    // that period. Verdicts are NOT compared: the batch series alert is
    // relative to the whole series' mean, which a forward-only stream
    // cannot know — the streaming form uses the gate threshold instead.
    val ev = Tables.events(spark, sfDir)
      .withColumn("period", ((dayofmonth($"ts") - 1) / lit(10)).cast("long"))
    val src = Files.createTempDirectory("graft_driftser_stream")
    val out = Files.createTempDirectory("graft_driftser_out")
    val ckpt = Files.createTempDirectory("graft_driftser_ckpt")
    (0 to 2).foreach { p =>
      ev.filter($"period" === p).select("event_type", "period")
        .coalesce(1).write.parquet(s"$src/$p.parquet.dir")
    }
    val schema = ev.select("event_type", "period").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(src.toString)
    // previous window's histogram — the monitor's whole state
    var prevHist: Option[(Long, Seq[(String, Long)])] = None
    val q = stream.writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val period = batch.agg(max("period")).head().getLong(0)
        val hist = batch.groupBy("event_type").agg(count(lit(1)).as("n"))
          .as[(String, Long)].collect().toSeq
        prevHist.foreach { case (_, ph) =>
          graft.operators.Drift.tvdFromHistograms(
              ph.toDF("bucket", "n"), col("bucket"), col("n"),
              hist.toDF("bucket", "n"), col("bucket"), col("n"), 1L, 16L)
            .withColumn("period", lit(period))
            .select("period", "tvd_num", "tvd_ppm")
            .write.mode("append").parquet(out.toString)
        }
        prevHist = Some((period, hist))
      }
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(out.toString)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val batchSeries = graft.operators.Drift
      .tvdSeries(ev, $"period", $"event_type")
      .select("period", "tvd_num", "tvd_ppm")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(streamed == batchSeries,
      s"stream/batch drift-series divergence: $streamed vs $batchSeries")
    assert(streamed.size == 2 && streamed.values.forall(_._1 > 0),
      s"three windows must yield two real drift pairs: $streamed")
  }

  test("sliding-window averages produce overlapping windows") {
    val out = EventsStream.runToMemory(
      EventsStream.slidingAvg(EventsStream.read(spark, streamDir)),
      OutputMode.Append())
    assert(out.count() > 0)
    // 1h window sliding every 30m -> ~2x as many windows as tumbling 1h
    val tumbling = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour")).count().count()
    assert(out.select("window").distinct().count() > tumbling)
  }

  test("foreachBatch parquet sink is idempotent across batches (replayed file dedupes)") {
    val src = Files.createTempDirectory("graft_febatch_src")
    Files.copy(Paths.get(s"$sfDir/events.parquet"), src.resolve("a.parquet"))
    Files.copy(Paths.get(s"$sfDir/events.parquet"), src.resolve("b.parquet"))
    val out = Files.createTempDirectory("graft_febatch_out").toString + "/events"
    // one file per trigger forces the duplicate copy into a SECOND batch,
    // exercising the anti-join-against-target path, not just in-batch dedup
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val resolved = spark.read.option("pathGlobFilter", "*.parquet")
      .parquet(src.toString).schema
    val stream = Tables.normalizeEventsTs(
      spark.readStream.schema(resolved)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(src.toString))
    EventsStream.runToParquetDedup(stream, out)
    val written = spark.read.parquet(out)
    val batch = Tables.events(spark, sfDir)
    assert(written.count() == batch.count(),
      s"expected ${batch.count()} deduped rows, got ${written.count()}")
    assert(written.select("event_id").distinct().count() == written.count())
  }

  test("erasure cascade at the inlet: 2 micro-batches == batch eraseByKey, replayed requests idempotent") {
    import graft.operators.Privacy
    val batch = Tables.events(spark, sfDir)
    // erase 3 users; requests arrive DUPLICATED (a replayed request
    // stream) — the index dedups, so the result must be identical to a
    // clean request frame
    val users = batch.select("user_id").distinct()
      .orderBy("user_id").limit(3).as[Long].collect().toSeq
    val requests = (users ++ users).toDF("user_id")
    // stage the corpus as two disjoint halves; one file per trigger ->
    // two micro-batches through the inlet filter
    val src = Files.createTempDirectory("graft_erase_src")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val half1 = batch.filter(col("event_id") % 2 === 0)
    val half2 = batch.filter(col("event_id") % 2 =!= 0)
    half1.coalesce(1).write.parquet(src.resolve("p1").toString)
    half2.coalesce(1).write.parquet(src.resolve("p2").toString)
    val out = Files.createTempDirectory("graft_erase_out").toString + "/events"
    val stream = spark.readStream
      .schema(half1.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(src.toString)
    EventsStream.runToParquetErased(stream, out, requests, "user_id")
    val written = spark.read.parquet(out)
    val want = Privacy.eraseByKey(batch, col("user_id"), users.toDF("user_id"))
    // row-for-row: same event_id multiset, none of the erased users
    assert(written.count() === want.count())
    assert(written.select("event_id").exceptAll(want.select("event_id")).isEmpty)
    assert(written.filter(col("user_id").isin(users: _*)).isEmpty,
      "no erased key may be re-admitted by a later micro-batch")
    assert(want.count() < batch.count(), "the erasure must actually bite")
  }

  test("streaming incremental dedup classifies micro-batches against the base index") {
    import graft.dedup.Dedup
    val d = Tables.documents(spark, sfDir).select("doc_id", "text")
    val delta = d.filter(col("doc_id") % 4 === 1)
    val base = d.filter(col("doc_id") % 4 =!= 1)
    val index = Dedup.buildIndex(base, col("doc_id"), col("text")).localCheckpoint()
    // stage the delta as TWO files; one file per trigger -> two batches
    val src = Files.createTempDirectory("graft_docstream_src")
    delta.filter(col("doc_id") < 250).coalesce(1)
      .write.parquet(src.resolve("p1").toString)
    delta.filter(col("doc_id") >= 250).coalesce(1)
      .write.parquet(src.resolve("p2").toString)
    val out = Files.createTempDirectory("graft_docstream_out").toString + "/status"
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(src.toString)
    graft.streaming.DocDedupStream.classifyToParquet(stream, index, out, 0.8)
    val got = spark.read.parquet(out)
    assert(got.select("batch_id").distinct().count() >= 2, "expected >= 2 micro-batches")
    // per-doc statuses equal the one-shot batch classification
    val want = Dedup.incrementalDedup(base, col("doc_id"), col("text"),
        delta, col("doc_id"), col("text"), 0.8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val gotMap = got.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gotMap == want)
  }

  test("streaming BM25 index ingestion equals the batch-built index, query for query") {
    import graft.functions.TextFunctions
    import graft.text.Retrieval
    val d = Tables.documents(spark, sfDir).select("doc_id", "text")
    val src = Files.createTempDirectory("graft_bm25_src")
    d.filter(col("doc_id") < 250).coalesce(1).write.parquet(src.resolve("p1").toString)
    d.filter(col("doc_id") >= 250).coalesce(1).write.parquet(src.resolve("p2").toString)
    val dir = Files.createTempDirectory("graft_bm25_ix").toString + "/ix"
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(src.toString)
    RetrievalStream.indexToParquet(stream, dir)
    assert(spark.read.parquet(s"$dir/stats").count() >= 2, "expected >= 2 micro-batches")
    val q = d.filter(col("doc_id") % 100 === 0)
    def qtoks = array_distinct(slice(TextFunctions.tokens(col("text")), 1, 10))
    val want = Retrieval.bm25TopK(d, col("doc_id"), TextFunctions.tokens(col("text")),
      q, col("doc_id"), qtoks, 5).collect().map(_.toSeq).toSet
    val got = Retrieval.bm25TopKFromIndex(Retrieval.bm25IndexLoad(spark, dir),
      q, col("doc_id"), qtoks, 5).collect().map(_.toSeq).toSet
    assert(got == want)
    // replaying a batch id REPLACES its partitions: re-append batch 0's
    // own doc set (recovered from its postings) and re-query
    // (ids collected first: a frame still READING batch 0's files would
    // race its own overwrite)
    val b0ids = spark.read.parquet(s"$dir/postings")
      .filter(col("batch_id") === 0)
      .select("doc").distinct().as[Long].collect().toSeq
    val b0 = d.filter(col("doc_id").isin(b0ids: _*))
    Retrieval.bm25IndexAppend(b0, col("doc_id"),
      TextFunctions.tokens(col("text")), dir, 0L)
    val replayed = Retrieval.bm25TopKFromIndex(Retrieval.bm25IndexLoad(spark, dir),
      q, col("doc_id"), qtoks, 5).collect().map(_.toSeq).toSet
    assert(replayed == want, "a replayed batch id must replace, not duplicate")
    // compaction: batch partitions collapse to one generation, scores
    // bit-identical, part-file count strictly reduced, never in place
    val compacted = Files.createTempDirectory("graft_bm25_cx").toString + "/ix"
    Retrieval.bm25IndexCompact(spark, dir, compacted, targetPartitions = 1)
    val viaCompacted = Retrieval.bm25TopKFromIndex(
      Retrieval.bm25IndexLoad(spark, compacted),
      q, col("doc_id"), qtoks, 5).collect().map(_.toSeq).toSet
    assert(viaCompacted == want)
    def parquetFiles(p: String): Long = {
      val it = Files.walk(Paths.get(p))
      try it.filter(f => f.toString.endsWith(".parquet")).count()
      finally it.close()
    }
    assert(parquetFiles(s"$compacted/postings") < parquetFiles(s"$dir/postings"),
      "compaction must reduce the part-file count")
    intercept[IllegalArgumentException] {
      Retrieval.bm25IndexCompact(spark, dir, dir)
    }
  }

  test("streaming dedupe drops replayed events within the watermark") {
    // stage the same parquet twice: every event arrives as a duplicate
    val d = Files.createTempDirectory("graft_dup_stream")
    Files.copy(Paths.get(s"$sfDir/events.parquet"), d.resolve("a.parquet"))
    Files.copy(Paths.get(s"$sfDir/events.parquet"), d.resolve("b.parquet"))
    val streamed = EventsStream.runToMemory(
      EventsStream.dedupe(EventsStream.read(spark, d.toString, glob = "*.parquet")),
      OutputMode.Append())
    val batch = Tables.events(spark, sfDir)
    assert(streamed.count() == batch.select("event_id").distinct().count())
    assert(streamed.select("event_id").distinct().count() == streamed.count())
  }

  test("flatMapGroupsWithState sessionization matches the batch gaps-and-islands (q25)") {
    val streamed = EventsStream.runToMemory(
      EventsStream.sessionize(EventsStream.read(spark, streamDir)).toDF(),
      OutputMode.Append())
    // Batch twin: lag + cumulative sum session ids (the q25 formulation),
    // with each session's last event time for the emission-boundary check.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts")
    val batch = Tables.events(spark, sfDir)
      .withColumn("prev", unix_timestamp(lag($"ts", 1).over(w)))
      .withColumn("new_s",
        when($"prev".isNull || unix_timestamp($"ts") - $"prev" > 3600, 1).otherwise(0))
      .withColumn("session_id", sum($"new_s").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)).cast("long"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_batch"), max(unix_timestamp($"ts")).as("last_epoch"))
    // Watermark delay 0 => final watermark = max event time; every session
    // that ended more than one gap before it must have been emitted, and
    // nothing emitted may disagree with the batch result.
    val joined = streamed.join(batch, Seq("user_id", "session_id"), "left")
    assert(joined.filter($"n_batch".isNull || $"n_events" =!= $"n_batch").count() == 0,
      "stream emitted a session the batch result disagrees with")
    val maxEpoch = Tables.events(spark, sfDir)
      .agg(max(unix_timestamp($"ts"))).head.getLong(0)
    val mustEmit = batch.filter($"last_epoch" + 3600 < maxEpoch)
    val missing = mustEmit.join(streamed, Seq("user_id", "session_id"), "left_anti").count()
    assert(missing == 0, s"$missing closed sessions were never emitted")
    assert(streamed.count() > 0)
  }

  test("sessionize: gap inside the (gap, gap+1)s band stays one session (floored-seconds rule)") {
    // ms diff 3600800 > gapMs, floored-second diff exactly 3600 — the
    // batch q25 twin (unix_timestamp diffs) keeps these together, so the
    // stream must too; the old millisecond-exact rule split here. (The
    // shipped test data has no gap in this band — synthetic pin.)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val q = EventsStream.sessionize(mem.toDF.toDF("user_id", "ts"))
      .toDF.writeStream.format("memory")
      .queryName("session_band_test").outputMode(OutputMode.Append()).start()
    try {
      mem.addData((1L, ts(86400100L)), (1L, ts(90000900L)))
      q.processAllAvailable()
      mem.addData((2L, ts(200000000L)))
      q.processAllAvailable()
      mem.addData((2L, ts(210000000L)))
      q.processAllAvailable()
    } finally q.stop()
    val u1 = spark.table("session_band_test").filter($"user_id" === 1L)
      .select($"session_id", $"n_events").as[(Long, Long)].collect().toSeq
    assert(u1 == Seq((1L, 2L)),
      s"band gap must stay one session like the batch twin, got $u1")
  }

  test("sessionize keeps the per-user session counter across event-time timeouts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    // +24h base: an event AT the initial watermark (epoch 0) would be
    // filtered as late before reaching the state function
    def at(hours: Double) = new java.sql.Timestamp(((hours + 24) * 3600 * 1000).toLong)
    val sessions = EventsStream.sessionize(
      mem.toDF.toDF("user_id", "ts"), gapSec = 3600)
    val q = sessions.toDF.writeStream.format("memory")
      .queryName("session_timeout_test").outputMode(OutputMode.Append()).start()
    try {
      // b1: user 1 opens session 1. Watermark (delay 0) after b1 = 0.5h.
      mem.addData((1L, at(0)), (1L, at(0.5)))
      q.processAllAvailable()
      // b2: user 2 only — advances the watermark to 3h.
      mem.addData((2L, at(3)))
      q.processAllAvailable()
      // b3: user 2 only; user 1 has NO data, watermark (3h) is past its
      // timeout (1.5h) → the event-time timeout path fires and emits
      // session 1. state.remove() here is the bug this test pins down.
      mem.addData((2L, at(3.2)))
      q.processAllAvailable()
      // b4: user 1 returns — must open session 2, not restart at 1.
      mem.addData((1L, at(5)))
      q.processAllAvailable()
      // b5+b6: advance the watermark past 6h, then trigger once more so
      // user 1's second session times out and emits.
      mem.addData((2L, at(10)))
      q.processAllAvailable()
      mem.addData((2L, at(10.1)))
      q.processAllAvailable()
    } finally q.stop()
    val u1 = spark.table("session_timeout_test")
      .filter($"user_id" === 1L).orderBy($"session_id")
      .select($"session_id", $"n_events").as[(Long, Long)].collect().toSeq
    assert(u1 == Seq((1L, 2L), (2L, 1L)),
      s"expected sessions 1 (2 events) then 2 (1 event) for user 1, got $u1")
  }

  // NOTE for both tests below: the stream/batch frames are compared as
  // COLLECTED sets, never joined to each other — fusing a batch
  // session_window (or the batch interval join) into one plan with the
  // memory-sink frame re-plans the sessionization aggregation and can
  // surface unmerged partials (observed: a batch∖stream anti-join
  // "found" 90 phantom rows while both standalone sides were stable and
  // equal). Standalone evaluation — the shape Verify/the oracle use —
  // is deterministic; the q136 oracle pins it against DuckDB.

  test("left-outer interval join emits inner matches plus certified non-matches") {
    val joined = EventsStream.runToMemory(
      EventsStream.clickPurchaseJoin(EventsStream.read(spark, streamDir),
        watermark = "0 seconds", joinType = "leftOuter"),
      OutputMode.Append())
      .select($"user_id", unix_timestamp($"click_ts").as("ct"),
        unix_timestamp($"purchase_ts").as("pt"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    val ev = Tables.events(spark, sfDir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", unix_timestamp($"ts").as("ct"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", unix_timestamp($"ts").as("pt"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inner = for {
      (u, ct) <- clicks
      (pu, pt) <- purchases if pu == u && pt >= ct - 3600 && pt <= ct + 3600
    } yield (u, ct, Some(pt))
    // every inner match emitted, exactly once, and nothing else non-null
    assert(joined.filter(_._3.isDefined) == inner)
    // every emitted null row is a click with truly no in-range purchase
    val matchedClicks = inner.map(t => (t._1, t._2))
    val nullRows = joined.filter(_._3.isEmpty).map(t => (t._1, t._2))
    assert(nullRows.intersect(matchedClicks).isEmpty,
      "a matched click was emitted as unmatched")
    assert(nullRows.nonEmpty,
      "the corpus has unmatched clicks; the outer join must surface some")
    // completeness with a conservative margin: state eviction and the
    // outer-row flush happen a batch apart, so only clicks several
    // range-widths behind the final watermark are guaranteed out
    val maxTs = ev.agg(max(unix_timestamp($"ts"))).head.getLong(0)
    val mustEmit = (clicks -- matchedClicks).filter(_._2 + 5 * 3600 < maxTs)
    val missing = mustEmit -- nullRows
    assert(missing.isEmpty, s"${missing.size} certified-unmatched clicks never emitted")
  }

  test("streaming session_window equals the batch session_window aggregation") {
    val streamed = EventsStream.runToMemory(
      EventsStream.read(spark, streamDir)
        .withWatermark("ts", "0 seconds")
        .groupBy($"user_id", session_window($"ts", "1 hour").as("sw"))
        .agg(count(lit(1)).as("n")),
      OutputMode.Append())
      .select($"user_id", unix_timestamp($"sw.start").as("ss"),
        unix_timestamp($"sw.end").as("se"), $"n")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val batch = Tables.events(spark, sfDir)
      .groupBy($"user_id", session_window($"ts", "1 hour").as("sw"))
      .agg(count(lit(1)).as("n"))
      .select($"user_id", unix_timestamp($"sw.start").as("ss"),
        unix_timestamp($"sw.end").as("se"), $"n")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // nothing streamed may disagree with batch
    assert((streamed -- batch).isEmpty,
      "stream emitted a session the batch session_window disagrees with")
    assert(streamed.nonEmpty)
    // Append emits once the watermark (max event time, delay 0) passes a
    // session's END; a session still open or just-closed at end-of-input
    // legitimately never flushes, hence the margin
    val maxTs = Tables.events(spark, sfDir)
      .agg(max(unix_timestamp($"ts"))).head.getLong(0)
    val missing = (batch -- streamed).filter(_._3 + 3600 < maxTs)
    assert(missing.isEmpty, s"${missing.size} closed sessions never emitted")
  }

  test("sessionAggComposable survives the anti-join trap shape") {
    // Regression pin for the fused-plan trap (EXPLAIN.md q136): fusing a
    // RAW batch session_window agg into one plan with the memory-sink
    // frame re-planned the sessionization and anti-join "found" 90
    // phantom rows. sessionAggComposable materializes first, so the very
    // same anti-join composition must now agree with the collected-set
    // comparison the parity test uses.
    val streamed = EventsStream.runToMemory(
      EventsStream.read(spark, streamDir)
        .withWatermark("ts", "0 seconds")
        .groupBy($"user_id", session_window($"ts", "1 hour").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          round(sum($"value"), 4).as("sum_value")),
      OutputMode.Append())
      .select($"user_id", $"sw.start".as("session_start"),
        $"sw.end".as("session_end"), $"n_events", $"sum_value")
    val batch = EventsStream.sessionAggComposable(Tables.events(spark, sfDir))
    val key = Seq("user_id", "session_start", "session_end", "n_events", "sum_value")
    // the fused shape itself: stream ∖ batch and batch ∖ stream anti-joins
    val phantoms = streamed.join(batch, key, "left_anti")
    assert(phantoms.count() == 0,
      "anti-join composition surfaced sessions the batch agg disagrees with")
    val missing = batch.join(streamed, key, "left_anti")
    // only sessions still open (or just closed) at end-of-input may be
    // held back by Append mode — same margin as the parity test
    val maxTs = Tables.events(spark, sfDir)
      .agg(max(unix_timestamp($"ts"))).head.getLong(0)
    val badMissing = missing
      .filter(unix_timestamp($"session_end") + 3600 < maxTs).count()
    assert(badMissing == 0,
      s"$badMissing closed sessions vanished under the anti-join composition")
    assert(streamed.count() > 0 && batch.count() > 0)
  }

  test("mapGroupsWithState per-user totals equal the batch group-by") {
    val streamed = EventsStream.runToMemory(
      EventsStream.userTotals(EventsStream.read(spark, streamDir)).toDF(),
      OutputMode.Update())
    // last update per user holds the final running totals
    val last = streamed.groupBy("user_id").agg(max("n").as("n_stream"))
    val batch = Tables.events(spark, sfDir).groupBy("user_id")
      .agg(count(lit(1)).as("n_batch"))
    val joined = last.join(batch, "user_id")
    assert(joined.filter($"n_stream" =!= $"n_batch").count() == 0)
    assert(joined.count() == batch.count())
  }

  test("streaming CDC upsert applies batches in order: update, delete, insert") {
    val src = Files.createTempDirectory("graft_cdc_src")
    val snap = Files.createTempDirectory("graft_cdc_out").toString + "/snapshot"
    // batch 1: three inserts (k=4 untouched later); batch 2 (later
    // mtime): update k=1, delete k=2, insert k=3
    Seq((1L, "x", 1L, "U"), (2L, "y", 1L, "U"), (4L, "w", 1L, "U"))
      .toDF("k", "v", "version", "op")
      .coalesce(1).write.parquet(src.resolve("a").toString)
    Seq((1L, "x2", 2L, "U"), (2L, "y", 2L, "D"), (3L, "z", 1L, "I"))
      .toDF("k", "v", "version", "op")
      .coalesce(1).write.parquet(src.resolve("b").toString)
    val later = System.currentTimeMillis() + 60000
    Files.walk(src.resolve("b")).forEach(p =>
      p.toFile.setLastModified(later))   // force b into the SECOND trigger
    val stream = spark.readStream
      .schema("k LONG, v STRING, version LONG, op STRING")
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(src.toString)
    EventsStream.runCdcToParquet(stream, snap, "k", "version", "op")
    val got = spark.read.parquet(snap).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // k=4 untouched by batch 2 keeps its TRUE version (1), not a reset 0
    assert(got == Seq((1L, "x2", 2L), (3L, "z", 1L), (4L, "w", 1L)))
  }

  test("stream-static enrichment matches the batch join and keeps unmatched events") {
    // dim covers only even user_ids — odd ones must survive with null tier
    val dim = Tables.events(spark, sfDir).select("user_id").distinct()
      .filter($"user_id" % 2 === 0)
      .withColumn("tier", when($"user_id" % 4 === 0, "gold").otherwise("basic"))
    val streamed = EventsStream.runToMemory(
      EventsStream.enrichWithStatic(EventsStream.read(spark, streamDir), dim, "user_id")
        .select("user_id", "tier"),
      OutputMode.Append())
    val batch = Tables.events(spark, sfDir).join(dim, Seq("user_id"), "left")
    assert(streamed.count() == batch.count())
    val s = streamed.groupBy("tier").count().withColumnRenamed("count", "ns")
    val b = batch.groupBy("tier").count().withColumnRenamed("count", "nb")
    assert(s.join(b, Seq("tier")).filter($"ns" =!= $"nb").count() == 0)
    assert(streamed.filter($"tier".isNull).count() > 0)
  }
}
