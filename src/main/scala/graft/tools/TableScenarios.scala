package graft.tools

import scala.util.Using

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{BradleyTerry, CacheScope, Drift, Frontier, Privacy, Relational}
import graft.similarity.Similarity
import graft.text.{Instruct, Masking, Preference}
import graft.tools.Stress.{inflate, Params}
import graft.tools.RunMetrics.noop

/** [[Stress]] scenarios of the row-table families: conversations, skew
  * joins, drift telemetry, privacy, and preference / frontier data. */
object TableScenarios {

  /** The conversation family on the events table inflated `copies`× by
    * replicating users under distinct ids (event ids re-offset, ts
    * jittered per replica so sessions differ) — more users at the same
    * per-user event density, the dimension that stresses the window sort.
    * Sessionization, turn numbering and render-prefix offsets all ride
    * ONE hashpartitioning(user_id) shuffle; the render groupBy is the
    * family's only second exchange. */
  def chat(spark: SparkSession, rm: RunMetrics, p: Params): Unit = {
    val big = inflate(graft.sources.Tables.events(spark, p.sfDir), p("copies"))(
      (col("user_id") + col("i") * 1000000L).as("user_id"),
      (col("event_id") + col("i") * 10000000L).as("event_id"),
      (col("ts") + expr("make_interval(0, 0, 0, 0, 0, 0, i % 97)")).as("ts"),
      col("event_type"), col("props"))
    println(s"[chat] corpus: ${big.count()} events, " +
      s"${big.select("user_id").distinct().count()} users")
    val turns = Instruct.turns(big)
    rm.stage("turns (sessionize+index+prefix, 1 exchange)")(noop(turns))
    rm.stage("alternation audit + token budget")(noop(Instruct.alternationAudit(turns)))
    rm.stage("loss-mask spans")(noop(Instruct.lossSpans(turns)))
    rm.stage("chat-template render")(noop(Instruct.render(turns)))
  }

  /** Skew join on the reference's own hazard shape: BASELINE.md records
    * one game thread drawing 9,528 comments, a Zipfian link_id. Here the
    * hot key owns 30% of `rows` fact rows (unmissable on a few local
    * cores) and the q09-shaped link_id join runs three ways: sort-merge
    * with AQE skew-join off (the straggler baseline), on (runtime
    * partition splitting), and [[Relational.saltedJoin]]. Broadcast is
    * off throughout: skew only matters in the shuffle-join regime, where
    * the reference's 21M-row × wide-dim join lives. Configurations are
    * interleaved twice after a warm-up, then the finalized plans print. */
  def skew(spark: SparkSession, rm: RunMetrics, p: Params): Unit = Stress.withConfs(spark, Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      // thresholds scaled so "skewed" means a partition ≫ the median, as
      // it would per task on a large cluster; the 256m defaults never
      // split a local-scale partition
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2m",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8m",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0")) {
    val nKeys = 100000L
    // key 0 owns 30% of the rows, the rest spread over 100k threads; the
    // md5 body (~32 incompressible bytes) keeps the hot partition outsized
    // on disk, where a literal payload would compress the skew away
    val fact = spark.range(p("rows")).select(
      when(pmod(col("id"), lit(10)) < 3, lit(0L))
        .otherwise(pmod(xxhash64(col("id")), lit(nKeys - 1)) + 1).as("link_id"),
      col("id").as("comment_id"),
      (col("id") % 1000).cast("double").as("score"),
      md5(col("id").cast("string")).as("body"))
    val dim = spark.range(nKeys).select(col("id").as("link_id"),
      concat(lit("thread_"), col("id")).as("title"),
      pmod(col("id"), lit(32)).as("home_team"))
    def perTeam(df: DataFrame) =
      df.groupBy("home_team").agg(count(lit(1)).as("n"), sum("score").as("s"))
    // fresh plan per run: AdaptiveSparkPlanExec finalizes once per Dataset
    def joined = perTeam(fact.join(dim, "link_id"))
    def salted = perTeam(Relational.saltedJoin(fact, dim, "link_id",
      distributor = col("comment_id"), buckets = 32))
    def skewJoin[A](on: Boolean)(f: => A): A =
      Stress.withConfs(spark, Map("spark.sql.adaptive.skewJoin.enabled" -> on.toString))(f)
    // collect() drives the Dataset's OWN QueryExecution, so the printed
    // adaptive plan is the finalized one
    def smjPlan(df: DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.toString.linesIterator
        .filter(l => l.contains("SortMergeJoin") || l.contains("skew") ||
          l.contains("AQEShuffleRead"))
        .map(_.trim).mkString("\n")
    }
    skewJoin(on = false)(noop(joined))
    for (round <- 1 to 2) {
      skewJoin(on = false)(rm.stage(s"r$round SMJ, AQE skew-join OFF")(noop(joined)))
      skewJoin(on = true)(rm.stage(s"r$round SMJ, AQE skew-join ON")(noop(joined)))
      skewJoin(on = false)(rm.stage(s"r$round saltedJoin(32), AQE skew OFF")(noop(salted)))
    }
    skewJoin(on = false)(println("plan OFF:\n" + smjPlan(joined)))
    skewJoin(on = true)(println("plan ON:\n" + smjPlan(joined)))
  }

  /** Drift telemetry over `rows` rows, 30 ingestion days × 20 buckets,
    * ONE mega bucket holding half of each day's mass and a real drift
    * injected on the last day. Stages run cold then warm, each with its
    * own [[CacheScope]] closed per rep, so warm is a full recompute with
    * only codegen/JIT carried over; the fleet form gives 64 hash-assigned
    * sources one series each. */
  def drift(spark: SparkSession, rm: RunMetrics, p: Params): Unit = {
    val n = p("rows")
    val day = pmod(xxhash64(lit("day"), col("id")), lit(30L))
    // even ids land in the mega bucket b0 except on day 29, where the
    // mega mass scatters over the tail
    val bucket = when(col("id") % 2 === 0 && day =!= 29, lit("b0"))
      .otherwise(concat(lit("b"), pmod(xxhash64(lit("bkt"), col("id")), lit(19L)) + 1))
    val rows = spark.range(n).select(day.as("day"), bucket.as("bucket"))
    println(s"[drift] ${"%,d".format(n)} rows, 30 days, mega bucket holds half of each day (drift injected on day 29)")
    def coldWarm(label: String)(f: CacheScope => String): Unit =
      for (rep <- Seq("cold", "warm"))
        rm.stage(s"${label}_$rep")(println(s"[drift]   ${Using.resource(new CacheScope)(f)}"))
    coldWarm("tvd_series") { sc =>
      val s = Drift.tvdSeries(rows, col("day"), col("bucket"), scope = sc)
        .agg(count(lit(1)), count_if(col("drifted")), max(col("tvd_ppm"))).head
      s"pairs=${s.getLong(0)} drifted=${s.getLong(1)} max_ppm=${s.getLong(2)}"
    }
    coldWarm("psi_series") { sc =>
      val s = Drift.psiSeries(rows, col("day"), col("bucket"), scope = sc)
        .agg(count(lit(1)), count_if(col("level") =!= "stable"), max(col("psi_micro"))).head
      s"pairs=${s.getLong(0)} nonstable=${s.getLong(1)} max_psi_micro=${s.getLong(2)}"
    }
    coldWarm("tvd_gate") { _ =>
      val g = Drift.tvdBetween(rows.filter(col("day") < 15), col("bucket"),
          rows.filter(col("day") >= 15), col("bucket"), 1L, 16L)
        .select("tvd_ppm", "drifted").head
      s"gate ppm=${g.getLong(0)} drifted=${g.getBoolean(1)}"
    }
    coldWarm("tvd_series_by") { sc =>
      val grouped = spark.range(n).select(day.as("day"), bucket.as("bucket"),
        pmod(xxhash64(lit("grp"), col("id")), lit(64L)).as("grp"))
      val s = Drift.tvdSeriesBy(grouped, Seq(col("grp")), col("day"), col("bucket"),
          scope = sc)
        .agg(count(lit(1)), count_if(col("drifted"))).head
      s"group-pairs=${s.getLong(0)} drifted=${s.getLong(1)}"
    }
  }

  /** The privacy family on `rows` release rows whose group structure is
    * adversarial: HALF the rows land in one mega demographic group (the
    * funnel case the no-window discipline exists for), the rest spread
    * over ~20k (lang, src) combinations with a singleton tail. */
  def privacy(spark: SparkSession, rm: RunMetrics, p: Params): Unit = {
    val n = p("rows")
    // even ids: ONE mega group ("xx", 0); ids divisible by 31 collapse src
    // to a near-singleton tail
    val rows = spark.range(n).select(
      col("id"),
      when(col("id") % 2 === 0, lit("xx"))
        .otherwise(concat(lit("l"), pmod(xxhash64(lit("lang"), col("id")), lit(200L))))
        .as("lang"),
      when(col("id") % 2 === 0, lit(0L))
        .when(col("id") % 31 === 0, col("id"))
        .otherwise(pmod(xxhash64(lit("src"), col("id")), lit(100L))).as("src"),
      pmod(xxhash64(lit("sens"), col("id")), lit(30L)).as("sens"),
      pmod(xxhash64(lit("num"), col("id")), lit(100000L)).as("num"))
      .repartition(32).persist()
    println(f"[privacy] ${rows.count()}%,d rows (half in one mega group)")
    val quasi = Seq(col("lang"), col("src"))
    // ~100k users; mega-user u0 owns every 10th row, the contribution
    // skew user-level DP's bound exists for
    def withUser = rows.withColumn("user", when(col("id") % 10 === 0, lit(0L))
      .otherwise(pmod(xxhash64(lit("usr"), col("id")), lit(100000L))))
    def report(label: String, names: String*)(df: => DataFrame): Unit = rm.stage(label) {
      val r = df.head
      println("[privacy]   " + names.zipWithIndex
        .map { case (nm, i) => s"$nm=${r.getLong(i)}" }.mkString(" "))
    }
    report("k_anonymize", "rows", "suppressed")(Privacy.kAnonymize(rows, quasi, k = 5L)
      .agg(count(lit(1)), count_if(col("suppressed"))))
    report("l_diversity", "groups", "homogeneous")(
      Privacy.lDiversity(rows, quasi, col("sens"), l = 5L)
        .agg(count(lit(1)), count_if(!col("diverse"))))
    // num spreads ~n/100k rows per value, so width-25 buckets hold
    // ~n/4000; k = n/1000 forces the ladder to level 2 (width 100)
    report("generalize_ladder", "rows", "generalized", "maxLevel")(
      Privacy.generalizeUntilK(rows, col("id"), col("num"),
          baseWidth = 25L, maxLevels = 4, k = n / 1000L)
        .agg(count(lit(1)), count_if(col("level") >= 0), max(col("level"))))
    report("t_closeness", "groups", "close")(
      Privacy.tCloseness(rows, quasi, col("sens"), tNum = 1L, tDen = 3L)
        .agg(count(lit(1)), count_if(col("close"))))
    report("dp_noisy_release", "groups", "sum|noise|", "zeroed")(
      Privacy.dpNoisyCounts(rows, quasi, eps = 0.5, seed = "stress")
        .agg(count(lit(1)), sum(abs(col("noise"))), count_if(col("released") === 0)))
    report("dp_user_counts", "groups", "bounded_rows")(
      Privacy.dpNoisyCountsByUser(withUser, col("user"),
          Seq(col("id")), k = 5, quasi = quasi, eps = 1.0, seed = "stress-u")
        .agg(count(lit(1)), sum("group_size")))
    report("dp_user_sums", "groups", "clipped_mass")(
      Privacy.dpNoisySumsByUser(withUser, col("user"), quasi,
          col("num"), clipLo = 0L, clipHi = 500000L, eps = 0.5, seed = "stress-us")
        .agg(count(lit(1)), sum("group_sum")))
    // ~6% of ids request deletion (mod 17 hits both parities, so owner
    // ids of the derived frame are reachable too), audited through the
    // base frame AND a derived per-(lang, src) materialization
    rm.stage("erasure_cascade") {
      val derived = rows.groupBy("lang", "src")
        .agg(count(lit(1)).as("n"), first(col("id")).as("owner_id"))
      Privacy.erasureAudit(Seq(
          ("rows", rows, col("id")),
          ("group_counts", derived, col("owner_id"))),
          rows.filter(col("id") % 17 === 0).select("id"))
        .collect()
        .foreach(r => println(s"[privacy]   ${r.getString(0)}: before=${r.getLong(1)} " +
          s"erased=${r.getLong(2)} after=${r.getLong(3)}"))
    }
  }

  /** Preference, pretraining, frontier and bitext data at `n`:
    * Bradley–Terry on n comparisons over 10k items, preference pairing
    * (both forms) and DPO pack over n 4-turn conversations, span
    * corruption and FIM over n docs, frontier expansion of n pages (3n
    * links) against an n-URL crawled index plus the full expand → robots
    * → politeness composite, bitext mining of n source vectors × 64
    * targets, and relative-href resolution. Shuffle record deltas per
    * stage show none goes super-linear. */
  def preference(spark: SparkSession, rm: RunMetrics, p: Params): Unit = {
    val n = p("n")
    def say(s: String): Unit = println(s"[pref]   $s")
    def h(tag: String, m: Column) = pmod(xxhash64(concat(lit(tag), col("id"))), m)

    val items = 10000L
    val win = col("r") < lit(500) + (col("a") - col("b")) * 500 / items
    val cmp = spark.range(n)
      .select(h("a:", lit(items)).as("a"), h("b:", lit(items)).as("b"), h("r:", lit(1000)).as("r"))
      .filter(col("a") =!= col("b"))
      // the higher id wins with probability growing with the id gap: a
      // planted ordering the fit must recover
      .select(when(win, col("a")).otherwise(col("b")).as("w"),
        when(win, col("b")).otherwise(col("a")).as("l"))
      .cache()
    println(f"[pref] ${cmp.count()}%,d comparisons over $items%,d items")
    rm.stage("bradley_terry(3)") {
      val bt = BradleyTerry.fit(cmp, col("w"), col("l"), 3)
      val row = bt.agg(sum("strength"), max("strength")).head
      say(f"mass = ${row.getDouble(0)}%.6f  top = ${row.getDouble(1)}%.2e")
      def avgOf(c: Column) = bt.filter(c).agg(avg("strength")).head.getDouble(0)
      say(f"top-decile avg / bottom-decile avg = " +
        f"${avgOf(col("item") >= items - items / 10) / avgOf(col("item") < items / 10)}%.1f (must be >> 1)")
    }
    cmp.unpersist()

    // n conversations of 4 alternating turns, 5 prompt groups, id%7 extra words
    val turns = spark.range(n)
      .select(col("id").as("user_id"), lit(1L).as("session_id"),
        explode(sequence(lit(1), lit(4))).as("turn_idx"))
      .select(col("user_id"), col("session_id"), col("turn_idx"),
        when(col("turn_idx") % 2 === 1, lit("user")).otherwise(lit("assistant")).as("role"),
        concat(lit("p"), col("user_id") % 5, lit(" body"),
          expr("repeat(' w', cast(user_id % 7 as int))")).as("content"))
      .cache()
    println(f"[pref] ${turns.count()}%,d turns, $n%,d conversations, 5 prompt groups")
    rm.stage("pairs")(say(f"pairs = ${Preference.pairs(turns).count()}%,d"))
    // the same fixture is the mega-prompt shape (n/5 conversations per
    // prompt) the range-partitioned fallback exists for
    rm.stage("pairs_range_part")(say(f"pairs = " +
      f"${Preference.pairsRangePartitioned(turns, partitions = 32).count()}%,d (range-partitioned)"))
    rm.stage("dpo_pack") {
      val r = Preference.dpoPack(turns).agg(count(lit(1)), sum("chosen_len")).head
      say(f"packs = ${r.getLong(0)}%,d  chosen chars = ${r.getLong(1)}%,d")
    }
    turns.unpersist()

    val docs = spark.range(n).select(col("id").as("doc_id"),
      concat(lit("alpha bravo charlie delta echo foxtrot golf hotel "),
        lit("india juliet kilo lima mike november oscar papa d"), col("id") % 1000).as("text"))
    rm.stage("span_corrupt") {
      val r = Masking.spanCorrupt(docs, col("doc_id"), col("text"))
        .agg(count(lit(1)), sum("n_masked"), sum(length(col("target_text")))).head
      say(f"docs = ${r.getLong(0)}%,d  masked blocks = ${r.getLong(1)}%,d  target chars = ${r.getLong(2)}%,d")
    }
    rm.stage("fim") {
      val r = Masking.fim(docs, col("doc_id"), col("text"))
        .agg(count(lit(1)), sum(length(col("fim_text")))).head
      say(f"docs = ${r.getLong(0)}%,d  fim chars = ${r.getLong(1)}%,d")
    }

    // n pages × 3 links (two absolute over 1000 hosts, one relative)
    // against an n-URL crawled index
    def url(host: Column, page: Column) =
      concat(lit("https://h"), host, lit(".example/p"), page)
    val pages = spark.range(n).select(url(col("id") % 1000, col("id")).as("src"),
      concat(lit("<html><body><a href=\""), url(h("l1:", lit(1000)), h("t1:", lit(n * 5))),
        lit("?utm_source=x\">a</a><a href=\""), url(h("l2:", lit(1000)), h("t2:", lit(n * 5))),
        lit("#f\">b</a><a href=\"/rel\">r</a></body></html>")).as("html"))
    val crawled = spark.range(n).select(url(col("id") % 1000, col("id")).as("url"))
    def expanded = Frontier.expand(pages, col("src"), col("html"), crawled, col("url"))
    rm.stage("frontier_expand") {
      val r = expanded.agg(count(lit(1)), sum("n_refs")).head
      say(f"frontier urls = ${r.getLong(0)}%,d  refs = ${r.getLong(1)}%,d")
    }
    rm.stage("frontier_budget(16)")(
      say(f"budgeted urls = ${Frontier.hostBudget(expanded, 16).count()}%,d (≤ 16 × 1000 hosts)"))
    // expand → robots gate → politeness budget: every host disallows
    // /p1* and /p2*, every third host sets a Crawl-delay, so the budget
    // exercises both the default k and the delay-derived cap
    val robots = spark.range(1000).select(concat(lit("h"), col("id"), lit(".example")).as("host"),
      concat(lit("User-agent: *\nDisallow: /p1\nDisallow: /p2\n"),
        when(col("id") % 3 === 0, concat(lit("Crawl-delay: "), col("id") % 40 + 1, lit("\n")))
          .otherwise(lit("")),
        lit("Sitemap: https://example/s.xml")).as("txt"))
    rm.stage("frontier_composite") {
      val gated = Frontier.robotsGate(expanded, robots, col("host"), col("txt"))
      val r = Frontier.politenessBudget(gated.filter(col("allowed")).drop("host", "allowed"),
          robots, col("host"), col("txt"), roundSeconds = 60L, k = 16)
        .agg(count(lit(1)), count_distinct(col("host")), max("rk")).head
      say(f"admitted = ${r.getLong(0)}%,d over ${r.getLong(1)}%,d hosts, max rk = ${r.getLong(2)}%,d (≤ 16)")
    }

    // the salted two-level target-side top-k must stay funnel-free as
    // |src| grows: per-target candidate mass is bounded by 64 salts × nnK
    val vecs = Stress.clusteredVectors(spark.range(n), 16)
    rm.stage("bitext_two_level") {
      val mined = Similarity.bitextMine(vecs, col("vec_id"), col("embedding"),
        vecs.filter(pmod(col("vec_id"), lit(n / 64)) === 7L), col("vec_id"), col("embedding"),
        nnK = 4, topN = 100)
      say(f"mined pairs = ${mined.count()}%,d (top-100 cut)")
    }

    // every href exercises the resolver: root-relative, ../ hop, bare
    val relPages = spark.range(n)
      .select(concat(lit("https://h"), col("id") % 1000, lit(".example/dir/p"), col("id")).as("src"),
        concat(lit("<html><body><a href=\"/p"), h("r1:", lit(n * 5)),
          lit("\">a</a><a href=\"../up/p"), h("r2:", lit(n * 5)),
          lit("#f\">b</a><a href=\"sub/p"), h("r3:", lit(n * 5)),
          lit("\">c</a></body></html>")).as("html"))
    rm.stage("discovered_resolved") {
      val r = Frontier.discoveredResolved(relPages, col("src"), col("html"))
        .agg(count(lit(1)), sum("n_refs")).head
      say(f"resolved urls = ${r.getLong(0)}%,d  refs = ${r.getLong(1)}%,d")
    }
  }
}
