package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{BradleyTerry, Frontier}
import graft.similarity.Similarity
import graft.text.Preference

/** Scale probe for the round-10/11 preference/frontier/bitext family
  * (driver-side tooling): Bradley–Terry at n comparisons over 10k items,
  * preference pairing (both forms) + DPO pack over an n-conversation
  * turn frame, pretraining objectives at n docs, crawl-frontier
  * expansion at n pages (3n links) against an n-URL crawled index, the
  * full expand→robots→politeness composite, and bitext margin mining at
  * n source vectors × 64 targets. Each stage reports wall time AND its
  * shuffle record deltas off [[RunMetrics]] (the StressCuration
  * discipline) — the evidence that no stage goes super-linear in
  * conversations/hosts/targets. Committed numbers in EXPLAIN.md.
  *
  * Scale knob: SPARK_GRAFT_PREF_SCALE (default 1,000,000; the r12
  * record runs 10,000,000 with SPARK_DRIVER_MEM=48g). */
object StressPreference {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_PREF_SCALE", "1000000").toLong
    val spark = graft.EngineConf.localSession(None)
    val rm = new RunMetrics(spark, "pref")

    // ---- Bradley–Terry: n comparisons over 10k items -------------------
    val items = 10000L
    val cmp = spark.range(n)
      .select(pmod(xxhash64(concat(lit("a:"), col("id"))), lit(items)).as("a"),
        pmod(xxhash64(concat(lit("b:"), col("id"))), lit(items)).as("b"),
        pmod(xxhash64(concat(lit("r:"), col("id"))), lit(1000)).as("r"))
      .filter(col("a") =!= col("b"))
      // higher item id wins with probability scaling with the id gap —
      // a planted ground-truth ordering the fit must recover
      .select(
        when(col("r") < lit(500) + (col("a") - col("b")) * 500 / items, col("a"))
          .otherwise(col("b")).as("w"),
        when(col("r") < lit(500) + (col("a") - col("b")) * 500 / items, col("b"))
          .otherwise(col("a")).as("l"))
      .cache()
    val nc = cmp.count()
    println(f"[pref] $nc%,d comparisons over $items%,d items")
    rm.stage("bradley_terry(3)") {
      val p = BradleyTerry.fit(cmp, col("w"), col("l"), 3)
      val row = p.agg(sum("strength"), max("strength")).head
      println(f"[pref]   mass = ${row.getDouble(0)}%.6f  top = ${row.getDouble(1)}%.2e")
      // planted ordering recovered: top-decile items outrank bottom decile
      val hi = p.filter(col("item") >= items - items / 10)
        .agg(avg("strength")).head.getDouble(0)
      val lo = p.filter(col("item") < items / 10)
        .agg(avg("strength")).head.getDouble(0)
      println(f"[pref]   top-decile avg / bottom-decile avg = ${hi / lo}%.1f (must be >> 1)")
    }
    cmp.unpersist()

    // ---- Preference pairs + DPO pack over n conversations --------------
    // 1M conversations of 4 turns each (user/assistant alternating), 5
    // prompt groups, loss-token budget varying by conversation id
    val turns = spark.range(n)
      .select(col("id").as("user_id"), lit(1L).as("session_id"),
        explode(sequence(lit(1), lit(4))).as("turn_idx"))
      .select(col("user_id"), col("session_id"), col("turn_idx"),
        when(col("turn_idx") % 2 === 1, lit("user")).otherwise(lit("assistant"))
          .as("role"),
        concat(lit("p"), col("user_id") % 5, lit(" body"),
          // variable token count: id%7 extra words
          expr("repeat(' w', cast(user_id % 7 as int))")).as("content"))
      .cache()
    val nt = turns.count()
    println(f"[pref] $nt%,d turns, ${n}%,d conversations, 5 prompt groups")
    rm.stage("pairs") {
      val np = Preference.pairs(turns).count()
      println(f"[pref]   pairs = $np%,d")
    }
    // the SAME fixture is the mega-prompt degenerate shape (n/5
    // conversations per prompt): the range-partitioned fallback must
    // beat-or-match the windowed form here, since this is exactly the
    // skew it exists for
    rm.stage("pairs_range_part") {
      val np = Preference.pairsRangePartitioned(turns, partitions = 32).count()
      println(f"[pref]   pairs = $np%,d (range-partitioned)")
    }
    rm.stage("dpo_pack") {
      val pk = Preference.dpoPack(turns)
      val r = pk.agg(count(lit(1)), sum("chosen_len")).head
      println(f"[pref]   packs = ${r.getLong(0)}%,d  chosen chars = ${r.getLong(1)}%,d")
    }
    turns.unpersist()

    // ---- Pretraining objectives over n synthetic documents -------------
    val docs = spark.range(n)
      .select(col("id").as("doc_id"),
        concat(lit("alpha bravo charlie delta echo foxtrot golf hotel "),
          lit("india juliet kilo lima mike november oscar papa d"),
          col("id") % 1000).as("text"))
    rm.stage("span_corrupt") {
      val r = graft.text.Masking.spanCorrupt(docs, col("doc_id"), col("text"))
        .agg(count(lit(1)), sum("n_masked"), sum(length(col("target_text")))).head
      println(f"[pref]   docs = ${r.getLong(0)}%,d  masked blocks = ${r.getLong(1)}%,d  target chars = ${r.getLong(2)}%,d")
    }
    rm.stage("fim") {
      val r = graft.text.Masking.fim(docs, col("doc_id"), col("text"))
        .agg(count(lit(1)), sum(length(col("fim_text")))).head
      println(f"[pref]   docs = ${r.getLong(0)}%,d  fim chars = ${r.getLong(1)}%,d")
    }

    // ---- Frontier: n pages × 3 links vs an n-URL crawled index ---------
    val pages = spark.range(n)
      .select(concat(lit("https://h"), col("id") % 1000, lit(".example/p"),
          col("id")).as("src"),
        concat(lit("<html><body>"),
          lit("<a href=\"https://h"),
          pmod(xxhash64(concat(lit("l1:"), col("id"))), lit(1000)),
          lit(".example/p"),
          pmod(xxhash64(concat(lit("t1:"), col("id"))), lit(n * 5)),
          lit("?utm_source=x\">a</a>"),
          lit("<a href=\"https://h"),
          pmod(xxhash64(concat(lit("l2:"), col("id"))), lit(1000)),
          lit(".example/p"),
          pmod(xxhash64(concat(lit("t2:"), col("id"))), lit(n * 5)),
          lit("#f\">b</a>"),
          lit("<a href=\"/rel\">r</a></body></html>")).as("html"))
    val crawled = spark.range(n)
      .select(concat(lit("https://h"), col("id") % 1000, lit(".example/p"),
        col("id")).as("url"))
    rm.stage("frontier_expand") {
      val fr = Frontier.expand(pages, org.apache.spark.sql.functions.col("src"),
        col("html"), crawled, col("url"))
      val r = fr.agg(count(lit(1)), sum("n_refs")).head
      println(f"[pref]   frontier urls = ${r.getLong(0)}%,d  refs = ${r.getLong(1)}%,d")
    }
    rm.stage("frontier_budget(16)") {
      val fr = Frontier.expand(pages, col("src"), col("html"), crawled, col("url"))
      val b = Frontier.hostBudget(fr, 16).count()
      println(f"[pref]   budgeted urls = $b%,d (≤ 16 × 1000 hosts)")
    }

    // ---- The FULL crawl-round composite: expand → robots gate →
    // politeness budget (r12). 1000 hosts, every host a 2-prefix
    // Disallow list (paths /p1*/p2* — real block mass), every third
    // host a Crawl-delay so the budget path exercises both the default
    // k and the delay-derived cap, WindowGroupLimit prune included.
    val robots = spark.range(1000)
      .select(concat(lit("h"), col("id"), lit(".example")).as("host"),
        concat(lit("User-agent: *\nDisallow: /p1\nDisallow: /p2\n"),
          when(col("id") % 3 === 0,
            concat(lit("Crawl-delay: "), col("id") % 40 + 1, lit("\n")))
            .otherwise(lit("")),
          lit("Sitemap: https://example/s.xml")).as("txt"))
    rm.stage("frontier_composite") {
      val fr = Frontier.expand(pages, col("src"), col("html"), crawled, col("url"))
      val gated = Frontier.robotsGate(fr, robots, col("host"), col("txt"))
      val admitted = Frontier.politenessBudget(
        gated.filter(col("allowed")).drop("host", "allowed"),
        robots, col("host"), col("txt"), roundSeconds = 60L, k = 16)
      val r = admitted.agg(count(lit(1)), count_distinct(col("host")),
        max("rk")).head
      println(f"[pref]   admitted = ${r.getLong(0)}%,d over ${r.getLong(1)}%,d hosts, max rk = ${r.getLong(2)}%,d (≤ 16)")
    }

    // ---- Bitext margin mining at n src × 64 targets (r12): the salted
    // two-level tgt-side top-k is exactly the stage that must stay
    // funnel-free when |src| grows 10× — per-target candidate mass is
    // bounded by 64 salts × nnK regardless of n.
    val vecs = spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)), d =>
        (pmod(xxhash64(lit("c"), pmod(xxhash64(col("id")), lit(1000L)), d),
          lit(2000001L)).cast("double") / 1e6 - 1.0) +
          (pmod(xxhash64(col("id"), d), lit(2001L)).cast("double") / 1e3 - 1.0) * 0.05)
        .as("embedding"))
    val tgtBatch = vecs.filter(pmod(col("vec_id"), lit(n / 64)) === 7L)
    rm.stage("bitext_two_level") {
      val mined = Similarity.bitextMine(vecs, col("vec_id"), col("embedding"),
        tgtBatch, col("vec_id"), col("embedding"), nnK = 4, topN = 100)
      println(f"[pref]   mined pairs = ${mined.count()}%,d (top-100 cut)")
    }

    // ---- Relative-href resolution at n pages (r11) ---------------------
    // same link volume, but every href exercises the resolver: root-
    // relative, ../ parent hop, bare relative — the regex-heavy path
    val relPages = spark.range(n)
      .select(concat(lit("https://h"), col("id") % 1000, lit(".example/dir/p"),
          col("id")).as("src"),
        concat(lit("<html><body>"),
          lit("<a href=\"/p"),
          pmod(xxhash64(concat(lit("r1:"), col("id"))), lit(n * 5)),
          lit("\">a</a>"),
          lit("<a href=\"../up/p"),
          pmod(xxhash64(concat(lit("r2:"), col("id"))), lit(n * 5)),
          lit("#f\">b</a>"),
          lit("<a href=\"sub/p"),
          pmod(xxhash64(concat(lit("r3:"), col("id"))), lit(n * 5)),
          lit("\">c</a></body></html>")).as("html"))
    rm.stage("discovered_resolved") {
      val r = Frontier.discoveredResolved(relPages, col("src"), col("html"))
        .agg(count(lit(1)), sum("n_refs")).head
      println(f"[pref]   resolved urls = ${r.getLong(0)}%,d  refs = ${r.getLong(1)}%,d")
    }
    spark.stop()
  }
}
