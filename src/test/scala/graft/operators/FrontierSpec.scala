package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}

class FrontierSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  test("extractLinks: hrefs in document order; expand drops relative/mailto") {
    val html = """<html><body><a href="https://a.example/x">1</a>
      |<a class="k" HREF="HTTP://b.example/y?utm_source=z">2</a>
      |<a href="/relative/path">3</a>
      |<a href="mailto:ops@example.com">4</a>
      |<img src="https://ignored.example/img.png">
      |</body></html>""".stripMargin
    val links = Seq(html).toDF("h")
      .select(Frontier.extractLinks(col("h")).as("l"))
      .head.getSeq[String](0)
    assert(links == Seq("https://a.example/x",
      "HTTP://b.example/y?utm_source=z", "/relative/path",
      "mailto:ops@example.com"), links.toString)
  }

  test("expand: canonicalization collapses variants, stats count refs and pages, crawled URLs drop") {
    val pages = Seq(
      // p1 links to target t twice (two raw variants of one canonical
      // URL) and to the already-crawled c
      ("https://p1.example", """<a href="https://t.example/doc?utm_source=x">a</a>
        |<a href="HTTPS://T.example/doc#frag">b</a>
        |<a href="https://c.example/seen">c</a>""".stripMargin),
      // p2 links to t once, plus a relative link (dropped)
      ("https://p2.example", """<a href="https://t.example/doc">d</a>
        |<a href="/rel">e</a>""".stripMargin))
      .toDF("src", "html")
    val crawled = Seq("https://c.example/seen").toDF("url")
    val got = Frontier.expand(pages, col("src"), col("html"),
        crawled, col("url"))
      .as[(String, Long, Long)].collect()
      .map { case (u, r, p) => u -> (r, p) }.toMap
    assert(got == Map("https://t.example/doc" -> ((3L, 2L))), got.toString)
  }

  test("bloomAntiJoin: exactly left_anti semantics, including duplicates and empty small side") {
    val big = Seq(("k1", 1), ("k2", 2), ("k2", 22), ("k3", 3)).toDF("k", "v")
    val small = Seq("k2", "k9").toDF("sk")
    val got = Relational.bloomAntiJoin(big, col("k"), small, col("sk"))
      .as[(String, Int)].collect().sorted.toSeq
    val want = big.join(small, col("k") === col("sk"), "left_anti")
      .as[(String, Int)].collect().sorted.toSeq
    assert(got == want && want == Seq(("k1", 1), ("k3", 3)))
    // empty crawled index: everything passes, nothing throws
    val all = Relational.bloomAntiJoin(big, col("k"),
        small.limit(0), col("sk")).count()
    assert(all == 4)
  }

  test("bloomAntiJoin == left_anti on random keys (fpp only costs work, never rows)") {
    val big = spark.range(0, 2000).select(concat(lit("b"), col("id") % 700).as("k"))
    val small = spark.range(0, 300).select(concat(lit("b"), col("id") * 2).as("sk"))
    val got = Relational.bloomAntiJoin(big, col("k"), small, col("sk"))
      .groupBy("k").count().as[(String, Long)].collect().toMap
    val want = big.join(small, col("k") === col("sk"), "left_anti")
      .groupBy("k").count().as[(String, Long)].collect().toMap
    assert(got == want)
  }

  test("robotsStarDisallows: only the star group's rules apply; multiple star groups merge") {
    val txt = """User-agent: fetchbot
      |Disallow: /only-for-fetchbot
      |
      |User-agent: *
      |Disallow: /private
      |Disallow: /tmp
      |Crawl-delay: 2
      |
      |User-agent: otherbot
      |Disallow: /decoy
      |
      |User-agent: *
      |disallow: /lower""".stripMargin
    val got = Seq(txt).toDF("t")
      .select(Frontier.robotsStarDisallows(col("t")).as("d"))
      .head.getSeq[String](0)
    assert(got == Seq("/private", "/tmp", "/lower"),
      s"named-agent rules must not leak into the star set: $got")
  }

  test("robotsGate: prefix match per host, missing robots allows, verdicts kept") {
    val frontier = Seq(
      ("https://a.example/private/x", 1L, 1L), // blocked by /private
      ("https://a.example/privately", 2L, 1L), // PREFIX match: also blocked
      ("https://a.example/pub/1", 3L, 2L),     // allowed
      ("https://b.example/private/x", 1L, 1L)) // b has no robots -> allowed
      .toDF("url", "n_refs", "n_pages")
    val robots = Seq(("a.example",
      "User-agent: *\nDisallow: /private")).toDF("h", "t")
    val got = Frontier.robotsGate(frontier, robots, col("h"), col("t"))
      .select("url", "allowed").as[(String, Boolean)].collect().toMap
    assert(got == Map(
      "https://a.example/private/x" -> false,
      "https://a.example/privately" -> false,
      "https://a.example/pub/1" -> true,
      "https://b.example/private/x" -> true), got.toString)
  }

  test("robotsGate above the broadcast threshold: same verdicts through the host equi-join") {
    val frontier = Seq(
      ("https://a.example/private/x", 1L, 1L),
      ("https://a.example/pub/1", 3L, 2L),
      ("https://b.example/private/x", 1L, 1L))
      .toDF("url", "n_refs", "n_pages")
    val robots = Seq(("a.example",
      "User-agent: *\nDisallow: /private")).toDF("h", "t")
    val gated = Frontier.robotsGate(frontier, robots, col("h"), col("t"),
      maxBroadcastRules = 0L) // force the non-broadcast path
    val got = gated.select("url", "allowed")
      .as[(String, Boolean)].collect().toMap
    assert(got == Map(
      "https://a.example/private/x" -> false,
      "https://a.example/pub/1" -> true,
      "https://b.example/private/x" -> true), got.toString)
    // NOTE: Spark's own autoBroadcastJoinThreshold may still pick a
    // broadcast for this tiny fixture — the guard's contract is only
    // that the FORCED hint is gone, so a tens-of-GB rules frame at real
    // crawl scale degrades to a shuffle join instead of an OOM; that is
    // Spark's size estimation doing its job, not ours to re-pin here.
  }

  test("resolveUrl: RFC 3986 resolution cases against a canonical base") {
    val base = "https://h.example/a/b/page.html?q=1"
    val cases = Seq(
      "https://other.example/x" -> "https://other.example/x", // own scheme
      "mailto:ops@example.com" -> "mailto:ops@example.com",   // unfetchable, dropped later
      "//cdn.example/img.png" -> "https://cdn.example/img.png",
      "/rooted/doc" -> "https://h.example/rooted/doc",
      "/a/../c" -> "https://h.example/c",
      "#sec" -> base,
      "" -> base,
      "?p=2" -> "https://h.example/a/b/page.html?p=2",
      "sub/next.html" -> "https://h.example/a/b/sub/next.html",
      "./same.html" -> "https://h.example/a/b/same.html",
      "../up.html" -> "https://h.example/a/up.html",
      "../../../../deep" -> "https://h.example/deep", // clamped at root
      "n.html?x=2#f" -> "https://h.example/a/b/n.html?x=2#f")
    val got = cases.map(_._1).toDF("href")
      .select(col("href"), Frontier.resolveUrl(lit(base), col("href")).as("abs"))
      .as[(String, String)].collect().toMap
    for ((href, want) <- cases)
      assert(got(href) == want, s"href '$href': got ${got(href)}, want $want")
    // pathless base: relative links resolve against the origin
    val rootGot = Seq("x").toDF("href")
      .select(Frontier.resolveUrl(lit("https://h.example"), col("href")))
      .as[String].head()
    assert(rootGot == "https://h.example/x")
  }

  test("discoveredResolved: relative links counted, unfetchable schemes dropped") {
    val pages = Seq(
      ("https://h.example/a/index.html",
        """<a href="./one.html">1</a><a href="../two.html">2</a>""" +
        """<a href="mailto:x@y">m</a><a href="https://z.example/abs">3</a>"""),
      ("https://h.example/b/index.html",
        """<a href="/a/one.html">1</a><a href="#top">t</a>"""))
      .toDF("src", "html")
    val got = Frontier.discoveredResolved(pages, col("src"), col("html"))
      .as[(String, Long, Long)].collect()
      .map { case (u, r, p) => u -> ((r, p)) }.toMap
    assert(got == Map(
      "https://h.example/a/one.html" -> ((2L, 2L)), // ./one.html + /a/one.html
      "https://h.example/two.html" -> ((1L, 1L)),
      "https://z.example/abs" -> ((1L, 1L)),
      // #top resolves to the page itself — a self-reference, still a URL
      "https://h.example/b/index.html" -> ((1L, 1L))), got.toString)
  }

  test("expandResolved == expand on absolute-only links; adds the relative ones") {
    val pages = Seq(
      ("https://p1.example/a/", """<a href="https://t1.example/x">1</a>""" +
        """<a href="rel/2">r</a>"""),
      ("https://p2.example/", """<a href="https://t1.example/x">1</a>"""))
      .toDF("src", "html")
    val crawled = Seq("https://t9.example/seen").toDF("url")
    val abs = Frontier.expand(pages, col("src"), col("html"),
        crawled, col("url"))
      .as[(String, Long, Long)].collect().toSet
    val res = Frontier.expandResolved(pages, col("src"), col("html"),
        crawled, col("url"))
      .as[(String, Long, Long)].collect().toSet
    assert(abs == Set(("https://t1.example/x", 2L, 2L)), abs.toString)
    // resolved = the absolute set PLUS the page-relative link
    assert(res == abs + (("https://p1.example/a/rel/2", 1L, 1L)),
      res.toString)
  }

  test("robots crawl-delay: star sections only, max wins, null when undeclared, sitemaps global") {
    val robots = Seq(
      // decoy named-agent delay must not apply; two star sections -> max
      ("a.example", "User-agent: bot\nCrawl-delay: 999\n\n" +
        "User-agent: *\nCrawl-delay: 5\n\nUser-agent: *\nCrawl-delay: 9\n" +
        "Sitemap: https://a.example/s1.xml\nSitemap: https://a.example/s2.xml"),
      ("b.example", "User-agent: *\nDisallow: /x"), // no delay declared
      ("c.example", "User-agent: *\nCrawl-delay: 0")) // explicit zero
      .toDF("h", "t")
    val got = robots.select(col("h"),
        Frontier.robotsStarCrawlDelay(col("t")).as("d"),
        size(Frontier.robotsSitemaps(col("t"))).as("n"))
      .as[(String, Option[Long], Int)].collect()
      .map { case (h, d, n) => h -> ((d, n)) }.toMap
    assert(got("a.example") == ((Some(9L), 2)), got.toString)
    assert(got("b.example") == ((None, 0)), got.toString)
    assert(got("c.example") == ((Some(0L), 0)), got.toString)
  }

  test("politenessBudget: per-host caps from each host's own delay") {
    val frontier = (1 to 6).flatMap(i => Seq(
      (s"https://slow.example/p$i", 1L, 1L),
      (s"https://free.example/p$i", 1L, 1L),
      (s"https://zero.example/p$i", 1L, 1L)))
      .toDF("url", "n_refs", "n_pages")
    val robots = Seq(
      ("slow.example", "User-agent: *\nCrawl-delay: 31"), // 60/31 -> cap 1
      ("zero.example", "User-agent: *\nCrawl-delay: 0"))  // clamps to 1s -> cap k
      .toDF("h", "t") // free.example: no robots row -> default k
    val got = Frontier.politenessBudget(frontier, robots, col("h"), col("t"),
        roundSeconds = 60L, k = 4)
      .groupBy("host").agg(count(lit(1)).as("n"), max("cap").as("cap"))
      .as[(String, Long, Long)].collect()
      .map { case (h, n, c) => h -> ((n, c)) }.toMap
    assert(got("slow.example") == ((1L, 1L)), got.toString)
    assert(got("free.example") == ((4L, 4L)), got.toString)
    assert(got("zero.example") == ((4L, 4L)), got.toString)
  }

  test("politenessBudget plans WindowGroupLimit; the literal pre-filter changes nothing") {
    // cap <= k always, so rk <= k (literal, map-side top-k heap) before
    // rk <= cap (column-valued) is semantics-identical to the dynamic
    // cut alone — a mega-host's frontier must NOT reach the window task
    val frontier = spark.range(0, 600).select(
      concat(lit("https://h"), col("id") % 5, lit(".example/p"), col("id")).as("url"),
      (col("id") % 5 + 1).as("n_refs"), (col("id") % 3 + 1).as("n_pages"))
    val robots = Seq(
      ("h0.example", "User-agent: *\nCrawl-delay: 17"), // 60/17 -> cap 3
      ("h1.example", "User-agent: *\nCrawl-delay: 2"),  // 60/2 -> 30, least(k)=8
      ("h3.example", "User-agent: *\nCrawl-delay: 0"))  // clamp -> cap 8
      .toDF("h", "t")
    val budgeted = Frontier.politenessBudget(frontier, robots,
      col("h"), col("t"), roundSeconds = 60L, k = 8)
    val plan = budgeted.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"the literal rk<=k bound must plan as WindowGroupLimit:\n$plan")
    // output equality with the un-prefiltered dynamic cut
    val byHost = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host"))
      .orderBy(col("n_pages").desc, col("n_refs").desc, col("url"))
    val reference = frontier
      .withColumn("host", graft.functions.TextFunctions.urlHost(col("url")))
      .join(robots.select(col("h").as("host"),
        Frontier.robotsStarCrawlDelay(col("t")).as("crawl_delay")),
        Seq("host"), "left")
      .withColumn("cap",
        when(col("crawl_delay").isNull, lit(8L))
          .otherwise(least(lit(8L),
            floor(lit(60L) / greatest(col("crawl_delay"), lit(1L))).cast("long"))))
      .withColumn("rk", row_number().over(byHost))
      .filter(col("rk") <= col("cap"))
      .select(col("host"), col("url"), col("rk").cast("long").as("rk"))
    val gotSet = budgeted.select("host", "url", "rk")
      .as[(String, String, Long)].collect().toSet
    val refSet = reference.as[(String, String, Long)].collect().toSet
    assert(gotSet == refSet, s"pre-filter must be invisible in the output")
  }

  test("hostBudget: top-k per host by evidence, deterministic ties, rank carried") {
    val frontier = Seq(
      ("https://a.example/1", 9L, 1L), // a: most refs but fewest pages
      ("https://a.example/2", 3L, 3L),
      ("https://a.example/3", 3L, 2L),
      ("https://b.example/1", 1L, 1L))
      .toDF("url", "n_refs", "n_pages")
    val got = Frontier.hostBudget(frontier, k = 2)
      .select("host", "url", "rk").as[(String, String, Long)]
      .collect().toSet
    // a.example: /2 (3 pages) then /3 (2 pages) — /1's raw refs lose to
    // distinct-page evidence; b.example: its only row
    assert(got == Set(
      ("a.example", "https://a.example/2", 1L),
      ("a.example", "https://a.example/3", 2L),
      ("b.example", "https://b.example/1", 1L)), got.toString)
  }

  test("hostBudget plans as WindowGroupLimit (top-k heap per host, not full buffering)") {
    val frontier = spark.range(0, 1000).select(
      concat(lit("https://h"), col("id") % 7, lit(".example/p"), col("id")).as("url"),
      (col("id") % 5 + 1).as("n_refs"), (col("id") % 3 + 1).as("n_pages"))
    val plan = Frontier.hostBudget(frontier, 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=k must plan as WindowGroupLimit:\n$plan")
  }

  test("streaming frontier: exactly-once URL emission across batches, seeded index honored") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val crawledDir = tempDir("graft_fr_crawled").toString
    val frontierDir = tempDir("graft_fr_out").toString + "/fr"
    // seed: t0 is already crawled before the stream starts
    Seq("https://t0.example/seen").toDF("url")
      .write.mode("overwrite").parquet(crawledDir)
    def page(src: String, targets: String*) =
      (src, targets.map(t => s"""<a href="$t">l</a>""").mkString)
    val mem = MemoryStream[(String, String)]
    val run = () => Frontier.runFrontierStream(
      mem.toDF.toDF("src", "html"), col("src"), col("html"),
      crawledDir, frontierDir)
    // batch 1: discovers t1 (twice, from two pages) and hits the seeded t0
    mem.addData(
      page("https://p1.example", "https://t1.example/a", "https://t0.example/seen"),
      page("https://p2.example", "https://t1.example/a?utm_source=x"))
    run()
    // batch 2: re-links t1 (must NOT re-emit) and discovers t2
    mem.addData(
      page("https://p3.example", "https://t1.example/a", "https://t2.example/b"))
    run()
    val got = spark.read.parquet(frontierDir)
      .select("url", "n_refs", "n_pages")
      .as[(String, Long, Long)].collect()
      .map { case (u, r, p) => u -> ((r, p)) }.toMap
    assert(got == Map(
      // batch-1 stats: 2 refs from 2 pages; t0 never emitted (seeded)
      "https://t1.example/a" -> ((2L, 2L)),
      "https://t2.example/b" -> ((1L, 1L))), got.toString)
    // each batch staged exactly one commit dir (the single-write
    // idempotency unit — no append, no two-write crash window)
    val commits = new java.io.File(frontierDir).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("commit="))
    assert(commits.length == 2, commits.mkString(","))
    // the accumulated index is seed ∪ emissions
    val idx = Frontier.crawledIndex(spark, crawledDir, frontierDir)
      .as[String].collect().toSet
    assert(idx == Set("https://t0.example/seen",
      "https://t1.example/a", "https://t2.example/b"))
  }

  test("streaming frontier: durable checkpoint — replayed batch overwrites its own commit dir") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = tempDir("graft_fr_ckpt").toString
    val crawledDir = s"$base/crawled" // never written: no seed
    val frontierDir = s"$base/fr"
    val ckptDir = s"$base/ckpt"
    def page(src: String, targets: String*) =
      (src, targets.map(t => s"""<a href="$t">l</a>""").mkString)
    val mem = MemoryStream[(String, String)]
    mem.addData(page("https://p1.example", "https://t1.example/a"))
    Frontier.runFrontierStream(mem.toDF.toDF("src", "html"),
      col("src"), col("html"), crawledDir, frontierDir, Some(ckptDir))
    val afterFirst = spark.read.parquet(frontierDir)
      .select("url").as[String].collect().toSeq
    assert(afterFirst == Seq("https://t1.example/a"))
    // simulate a replay of the SAME batch: wipe the checkpoint's commit
    // log so the restarted query reprocesses batch 0 from the source —
    // the stable run token must route it onto the SAME commit dir
    // (overwrite, not duplicate)
    val commitsDir = new java.io.File(s"$ckptDir/commits")
    commitsDir.listFiles().foreach(_.delete())
    Frontier.runFrontierStream(mem.toDF.toDF("src", "html"),
      col("src"), col("html"), crawledDir, frontierDir, Some(ckptDir))
    val afterReplay = spark.read.parquet(frontierDir)
      .select("url").as[String].collect().toSeq
    assert(afterReplay == Seq("https://t1.example/a"),
      s"replay must overwrite its own commit dir, not duplicate: $afterReplay")
    val commits = new java.io.File(frontierDir).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("commit="))
    assert(commits.length == 1, commits.mkString(","))
  }

  test("plan: bloom probe present, proven-new branch join-free, no cartesian anywhere") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    def expand(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => expand(a.executedPlan)
      case q: QueryStageExec => expand(q.plan)
      case _ => p.children.flatMap(expand)
    })
    val big = spark.range(0, 500).select(concat(lit("u"), col("id")).as("k"))
    val small = spark.range(0, 100).select(concat(lit("u"), col("id") * 3).as("sk"))
    val df = Relational.bloomAntiJoin(big, col("k"), small, col("sk"))
    df.collect()
    val nodes = expand(df.queryExecution.executedPlan)
    val txt = nodes.mkString("\n")
    assert(txt.contains("might_contain"),
      s"bloom probe must gate the anti-join:\n$txt")
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]) &&
      !nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      s"no all-pairs shapes:\n$txt")
  }
}
