package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Crawl-frontier expansion — the web-family composite that closes the
  * crawl loop: fetched pages carry outlinks; the frontier is the set of
  * canonical link targets NOT yet crawled, with per-URL discovery
  * stats for prioritization. Composes the existing web primitives:
  * href extraction (the q114 HTML machinery's sibling), URL
  * canonicalization (q115's [[TextFunctions.canonicalizeUrl]] — dedup
  * BEFORE fetch, the cheapest dedup a crawler has), and the
  * bloom-accelerated anti-join against the crawled index
  * ([[Relational.bloomAntiJoin]], the q89 stored-index discipline).
  *
  * Scale shape (100 TB crawl): link extraction/canonicalization are one
  * codegen'd map-side pass; the per-URL aggregation is the single
  * frontier-scale shuffle (map-side combinable counts); the crawled-index
  * check bloom-bypasses the overwhelmingly-new fraction so only
  * might-be-seen URLs pay the anti-join exchange. No all-pairs shapes
  * anywhere.
  */
object Frontier {

  /** All `href="…"` targets of an HTML page, document order. Attribute
    * extraction wants the raw markup — run BEFORE any tag stripping
    * ([[TextFunctions]]'s HTML extraction destroys the attributes). Same
    * Java ∩ RE2 regex discipline as the HTML/URL families, so the DuckDB
    * twin matches byte-for-byte. */
  val HrefRe = "(?i)href=\"([^\"]*)\""

  def extractLinks(html: Column): Column =
    regexp_extract_all(html, lit(HrefRe), lit(1))

  def extractLinksSql(e: String): String =
    s"regexp_extract_all($e, '$HrefRe', 1)"

  /** Absolute-http(s) links only — the fast path when the corpus
    * carries absolute URLs (the reference pipelines do); schemes like
    * `mailto:`/`javascript:` are never fetchable. For relative links
    * use [[resolveUrl]] / [[discoveredResolved]]. */
  val AbsoluteHttpRe = "(?i)^https?://"

  // --- relative-reference resolution (RFC 3986 §5, the subset a -------
  // --- crawler needs, in Java ∩ RE2 regex so DuckDB twins match) ------

  /** `scheme://authority` head of a CANONICAL base URL (no fragment;
    * lowercased head — [[TextFunctions.canonicalizeUrl]]'s output). */
  val OriginRe = "^https?://[^/?#]*"
  /** Any-scheme prefix: a href that carries its own scheme is already
    * absolute and resolves to itself. */
  val SchemeRe = "^[A-Za-z][A-Za-z0-9+.-]*:"

  private val DotSegIters = 4

  /** Bounded dot-segment removal over an absolute path (leading `/`):
    * a trailing `/` sentinel makes every segment boundary a literal
    * slash (RE2 has no lookahead), then `/./` collapses and
    * `/seg/../` pairs cancel for up to [[DotSegIters]] nesting levels
    * (deeper chains — hostile input — pass through partially
    * normalized: a weird URL, never a wrong row), and leading `/../`
    * runs clamp to root per the RFC. The sentinel slash is stripped at
    * the end unless the path IS `/`. */
  private def removeDotSegments(p: Column): Column = {
    val norm = (1 to DotSegIters).foldLeft(concat(p, lit("/"))) { (c, _) =>
      regexp_replace(regexp_replace(c, "/\\./", "/"), "/[^/]+/\\.\\./", "/")
    }
    val clamped = regexp_replace(norm, "^(/\\.\\.)+/", "/")
    // fast path: a path with no "/." substring has no dot segment — the
    // 2·DotSegIters+1 regex passes are a no-op there, and the literal
    // scan is ~8× cheaper per link (1M-probe, `StressPreference`). A
    // "/.hidden" segment hits the slow path harmlessly (no regex
    // matches). Mirrored in [[removeDotSegmentsSql]] — the twin must
    // stay structurally identical so the engines cannot drift.
    when(!p.contains("/."), p)
      .when(clamped === "/", clamped)
      .otherwise(clamped.substr(lit(1), length(clamped) - 1))
  }

  private def removeDotSegmentsSql(p: String): String = {
    val norm = (1 to DotSegIters).foldLeft(s"($p || '/')") { (c, _) =>
      s"regexp_replace(regexp_replace($c, '/\\./', '/', 'g'), '/[^/]+/\\.\\./', '/', 'g')"
    }
    val clamped = s"regexp_replace($norm, '^(/\\.\\.)+/', '/', 'g')"
    s"(CASE WHEN instr($p, '/.') = 0 THEN $p " +
      s"WHEN $clamped = '/' THEN '/' " +
      s"ELSE substr($clamped, 1, length($clamped) - 1) END)"
  }

  /** Resolve a href against its page's CANONICAL base URL — the gap a
    * real crawler hits first on real markup (`/root/reference` pipelines
    * only ever carry absolute URLs, so the reference has no equivalent):
    * own-scheme hrefs pass through; `//host/x` takes the base's scheme;
    * `/x`, `?q`, `#frag`, and relative paths resolve against the base's
    * origin/path with bounded dot-segment removal. Everything is
    * codegen'd regex/branch work on the exploded link rows — per-row,
    * no shuffle, and byte-identical to [[resolveUrlSql]]. */
  def resolveUrl(base: Column, href: Column): Column = {
    val origin = regexp_extract(base, OriginRe, 0)
    val scheme = regexp_extract(base, "^(https?):", 1)
    val basePathQ = regexp_replace(base, OriginRe, "")
    val basePath = regexp_replace(basePathQ, "[?#].*", "")
    val hrefPath = regexp_replace(href, "[?#].*", "")
    val hrefTail = regexp_extract(href, "[?#].*", 0)
    val baseDir = regexp_replace(basePath, "/[^/]*$", "")
    when(href.rlike(SchemeRe), href)
      .when(href.startsWith("//"), concat(scheme, lit(":"), href))
      .when(href.startsWith("/"),
        concat(origin, removeDotSegments(hrefPath), hrefTail))
      .when(href.startsWith("#") || href === "", base)
      .when(href.startsWith("?"), concat(origin, basePath, href))
      .otherwise(concat(origin,
        removeDotSegments(concat(baseDir, lit("/"), hrefPath)), hrefTail))
  }

  /** DuckDB twin of [[resolveUrl]] — same branches, same regexes, same
    * iteration bound. */
  def resolveUrlSql(base: String, href: String): String = {
    val origin = s"regexp_extract($base, '$OriginRe', 0)"
    val scheme = s"regexp_extract($base, '^(https?):', 1)"
    val basePathQ = s"regexp_replace($base, '$OriginRe', '', 'g')"
    val basePath = s"regexp_replace($basePathQ, '[?#].*', '', 'g')"
    val hrefPath = s"regexp_replace($href, '[?#].*', '', 'g')"
    val hrefTail = s"coalesce(regexp_extract($href, '[?#].*', 0), '')"
    val baseDir = s"regexp_replace($basePath, '/[^/]*$$', '', 'g')"
    s"""(CASE
       |  WHEN regexp_matches($href, '$SchemeRe') THEN $href
       |  WHEN starts_with($href, '//') THEN $scheme || ':' || $href
       |  WHEN starts_with($href, '/')
       |    THEN $origin || ${removeDotSegmentsSql(hrefPath)} || $hrefTail
       |  WHEN starts_with($href, '#') OR $href = '' THEN $base
       |  WHEN starts_with($href, '?') THEN $origin || $basePath || $href
       |  ELSE $origin ||
       |    ${removeDotSegmentsSql(s"($baseDir || '/' || $hrefPath)")} ||
       |    $hrefTail
       |END)""".stripMargin
  }

  /** Disallow prefixes of a robots.txt's `User-agent: *` group(s) — the
    * subset of the robots exclusion protocol a generic crawler honors.
    * Sections split on the literal `User-agent:` header; a section
    * applies iff its agent token is `*`; each applying section
    * contributes its `Disallow:` values (rules for named agents are
    * deliberately NOT honored — the spec plants a decoy section to pin
    * that). Returns `array<string>` of path prefixes. Per-row HOF
    * lambdas are fine here: robots files are KB-sized and
    * host-cardinality, never corpus-scale. */
  def robotsStarDisallows(robotsTxt: Column): Column =
    flatten(transform(
      filter(split(robotsTxt, "User-agent:"),
        s => ltrim(s).startsWith("*")),
      s => regexp_extract_all(s, lit(RobotsDisallowRe), lit(1))))

  val RobotsDisallowRe = "(?i)Disallow:[ \\t]*([^\\s]+)"

  /** `Crawl-delay` (seconds) of the `User-agent: *` group(s) — the
    * politeness interval a scheduler honors between fetches to a host.
    * Same section rule as [[robotsStarDisallows]]; when several star
    * sections declare delays the MAX applies (the conservative read).
    * Null when no star section declares one. The `nullif` guard keeps
    * the cast ANSI-safe (no-match extraction yields `''`). */
  val RobotsCrawlDelayRe = "(?i)Crawl-delay:[ \\t]*([0-9]+)"

  def robotsStarCrawlDelay(robotsTxt: Column): Column =
    array_max(transform(
      filter(split(robotsTxt, "User-agent:"),
        s => ltrim(s).startsWith("*")),
      s => nullif(regexp_extract(s, RobotsCrawlDelayRe, 1), lit(""))
        .cast("long")))

  def robotsStarCrawlDelaySql(e: String): String =
    "list_max(list_transform(" +
      s"list_filter(string_split($e, 'User-agent:'), " +
      "s -> starts_with(ltrim(s), '*')), " +
      s"s -> TRY_CAST(regexp_extract(s, '$RobotsCrawlDelayRe', 1) AS BIGINT)))"

  /** All `Sitemap:` URLs of a robots.txt — a GLOBAL directive per the
    * protocol (not scoped to any User-agent section), so it is one
    * extraction over the whole file. */
  val RobotsSitemapRe = "(?i)Sitemap:[ \\t]*([^\\s]+)"

  def robotsSitemaps(robotsTxt: Column): Column =
    regexp_extract_all(robotsTxt, lit(RobotsSitemapRe), lit(1))

  def robotsSitemapsSql(e: String): String =
    s"regexp_extract_all($e, '$RobotsSitemapRe', 1)"

  /** DuckDB twin of [[robotsStarDisallows]] (same split, same section
    * rule, same extraction regex). */
  def robotsStarDisallowsSql(e: String): String =
    "flatten(list_transform(" +
      s"list_filter(string_split($e, 'User-agent:'), " +
      "s -> starts_with(ltrim(s), '*')), " +
      s"s -> regexp_extract_all(s, '$RobotsDisallowRe', 1)))"

  /** Robots gate over an expanded frontier: each URL is `allowed` iff NO
    * `User-agent: *` Disallow prefix of its host's robots.txt
    * prefix-matches its path. The exploded rule frame is host-cardinality
    * × rules-per-host: usually broadcastable, but at real crawl scale
    * (10⁷–10⁸ hosts) it is tens of GB — so the broadcast hint is
    * SIZE-GUARDED: one cheap count over the rules, broadcast only under
    * `maxBroadcastRules`, else a plain equi-join on `host` (both sides
    * hash on the same key the downstream per-URL aggregate reuses).
    * A hint that OOMs the driver at 100× is worse than an exchange.
    * Keeps every URL with its verdict (a crawler records blocked URLs;
    * silently dropping them loses the audit trail). */
  def robotsGate(frontier: DataFrame,
                 robots: DataFrame, hostCol: Column, txtCol: Column,
                 maxBroadcastRules: Long = 4000000L): DataFrame = {
    val rules = robots.select(hostCol.as("host"),
      explode(robotsStarDisallows(txtCol)).as("dis"))
    val ruled =
      if (rules.count() <= maxBroadcastRules) broadcast(rules) else rules
    frontier
      .withColumn("host", TextFunctions.urlHost(col("url")))
      .withColumn("path",
        regexp_replace(col("url"), TextFunctions.UrlHeadRe, ""))
      .join(ruled, Seq("host"), "left")
      .groupBy("url", "host", "n_refs", "n_pages")
      .agg((!max(col("dis").isNotNull &&
        col("path").startsWith(col("dis")))).as("allowed"))
  }

  /** Per-host fetch budget over an expanded frontier — the politeness /
    * scheduling quota: at most `k` URLs per host per crawl round, the
    * best-evidenced first (`n_pages` desc — distinct referring pages is
    * the robust in-degree prior; `n_refs`, then `url` break ties
    * deterministically). One window over `host`; Spark plans the
    * rank-≤-k filter as WindowGroupLimit, so per-host state is the
    * top-k heap, not the host's whole frontier (the q123 quota
    * discipline — the spec plan-asserts it). */
  def hostBudget(frontier: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"host budget must be >= 1, got $k")
    val byHost = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host"))
      .orderBy(col("n_pages").desc, col("n_refs").desc, col("url"))
    frontier
      .withColumn("host", TextFunctions.urlHost(col("url")))
      .withColumn("rk", row_number().over(byHost))
      .filter(col("rk") <= k)
      .select(col("host"), col("url"), col("n_refs"), col("n_pages"),
        col("rk").cast("long").as("rk"))
  }

  /** Frontier expansion: `pages (src_url, html)` × `crawled (url)` →
    * `(url, n_refs, n_pages)` for every canonical outlink target not in
    * the crawled index — `n_refs` total references, `n_pages` distinct
    * referring pages (the in-degree prior a frontier scheduler ranks
    * by). `crawled` must already hold CANONICAL urls (it is the output
    * of previous rounds of this very loop). */
  /** Delay-derived per-host budget — [[hostBudget]] with the quota
    * taken from each host's OWN robots `Crawl-delay` instead of one
    * global k: a crawl round of `roundSeconds` admits
    * `roundSeconds / max(delay, 1)` fetches to a host (hosts with no
    * declared delay get the full default `k`). Ordering/tie-breaks are
    * [[hostBudget]]'s. The dynamic (column-valued) cut alone cannot
    * plan as WindowGroupLimit — but `cap <= k` ALWAYS (undeclared
    * hosts get exactly k; declared ones `least(k, …)`), so a literal
    * `rk <= k` pre-filter is semantics-identical and restores the
    * map-side top-k heap: a mega-host's frontier is pruned to k rows
    * per partition BEFORE the window exchange, and only then does the
    * per-host delay shrink the admitted set further. Output adds
    * `crawl_delay` (null when undeclared) and `cap`. */
  def politenessBudget(frontier: DataFrame,
                       robots: DataFrame, hostCol: Column, txtCol: Column,
                       roundSeconds: Long, k: Int): DataFrame = {
    require(roundSeconds >= 1, s"roundSeconds must be >= 1, got $roundSeconds")
    require(k >= 1, s"default budget k must be >= 1, got $k")
    val delays = robots.select(hostCol.as("host"),
      robotsStarCrawlDelay(txtCol).as("crawl_delay"))
    val byHost = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host"))
      .orderBy(col("n_pages").desc, col("n_refs").desc, col("url"))
    frontier
      .withColumn("host", TextFunctions.urlHost(col("url")))
      .join(delays, Seq("host"), "left")
      .withColumn("cap",
        when(col("crawl_delay").isNull, lit(k.toLong))
          .otherwise(least(lit(k.toLong),
            // floor of a positive double quotient at seconds magnitude
            // == exact integer division (both operands << 2^53)
            floor(lit(roundSeconds) /
              greatest(col("crawl_delay"), lit(1L))).cast("long"))))
      .withColumn("rk", row_number().over(byHost))
      // literal bound first: Catalyst plans it as WindowGroupLimit
      // (per-partition top-k heap); the column-valued cut then only
      // ever sees <= k rows per host
      .filter(col("rk") <= lit(k.toLong))
      .filter(col("rk") <= col("cap"))
      .select(col("host"), col("url"), col("n_refs"), col("n_pages"),
        col("rk").cast("long").as("rk"), col("crawl_delay"), col("cap"))
  }

  /** `estimatedCrawled` sizes the bloom sketch when the caller knows the
    * crawled index's cardinality (a crawler always does — it is the
    * previous rounds' output size); the default (-1) lets
    * [[Relational.bloomAntiJoin]] derive it with a key-only count, an
    * extra evaluation of the crawled plan worth skipping when the index
    * is a distinct/aggregate. */
  def expand(pages: DataFrame, srcUrlCol: Column, htmlCol: Column,
             crawled: DataFrame, crawledUrlCol: Column,
             scope: CacheScope = CacheScope.unmanaged,
             estimatedCrawled: Long = -1L): DataFrame = {
    // persisted: the bloom anti-join reads the aggregated frontier twice
    // (proven-new bypass + candidate branch) — persist the SMALL
    // aggregated frame, never the raw link explosion
    val agg = scope.persist(discovered(pages, srcUrlCol, htmlCol))
    Relational.bloomAntiJoin(agg, col("url"),
      crawled.select(crawledUrlCol.as("url")), col("url"),
      estimatedItems = estimatedCrawled)
  }

  /** [[expand]] over [[discoveredResolved]]: the full frontier loop —
    * discovery with relative-href resolution, then the bloom-bypassed
    * crawled-index check. Same persist/scan shape as [[expand]]. */
  def expandResolved(pages: DataFrame, srcUrlCol: Column, htmlCol: Column,
                     crawled: DataFrame, crawledUrlCol: Column,
                     scope: CacheScope = CacheScope.unmanaged,
                     estimatedCrawled: Long = -1L): DataFrame = {
    val agg = scope.persist(discoveredResolved(pages, srcUrlCol, htmlCol))
    Relational.bloomAntiJoin(agg, col("url"),
      crawled.select(crawledUrlCol.as("url")), col("url"),
      estimatedItems = estimatedCrawled)
  }

  /** Link-discovery half of [[expand]]: extraction, absolute-http
    * filter, canonicalization, per-URL stats — everything but the
    * crawled-index check. Shared with [[runFrontierStream]]. */
  def discovered(pages: DataFrame, srcUrlCol: Column, htmlCol: Column): DataFrame =
    pages
      .select(srcUrlCol.as("src"), explode(extractLinks(htmlCol)).as("link"))
      .filter(col("link").rlike(AbsoluteHttpRe))
      .select(col("src"), TextFunctions.canonicalizeUrl(col("link")).as("url"))
      .groupBy("url")
      .agg(count(lit(1)).as("n_refs"), countDistinct(col("src")).as("n_pages"))

  /** [[discovered]] with RELATIVE-link resolution: every href — `/abs`,
    * `../up`, `sub/page`, `?query`, `//proto-relative`, `#frag` — is
    * resolved against its page's canonical URL ([[resolveUrl]]) before
    * the unfetchable-scheme filter, so a corpus of real markup loses no
    * in-site links. Same shape as [[discovered]]: one codegen'd
    * map-side pass, then the single per-URL aggregation. */
  def discoveredResolved(pages: DataFrame, srcUrlCol: Column, htmlCol: Column): DataFrame =
    pages
      .select(srcUrlCol.as("src"), explode(extractLinks(htmlCol)).as("link"))
      .select(col("src"), resolveUrl(col("src"), col("link")).as("abs"))
      .filter(col("abs").rlike(AbsoluteHttpRe))
      .select(col("src"), TextFunctions.canonicalizeUrl(col("abs")).as("url"))
      .groupBy("url")
      .agg(count(lit(1)).as("n_refs"), countDistinct(col("src")).as("n_pages"))

  /** The crawl loop as a STREAM: fetched pages arrive continuously, each
    * microbatch's discovered URLs are anti-joined against the crawled
    * index — `crawledDir`'s SEED keys plus every previously COMMITTED
    * batch's emissions — and staged into `frontierDir/commit=<run>-<batch>`
    * with ONE overwrite write. That single staged write is the whole
    * idempotency story (the r10 advisory's two-append window is gone by
    * construction): a replayed batch reads an index that EXCLUDES its
    * own commit dir, recomputes the identical frame, and overwrites the
    * same dir — effectively-once with no ordering hazard and no
    * crash window between writes. A missing `crawledDir` is detected by
    * an explicit FS existence check (an unreadable/corrupt index now
    * fails loudly instead of silently re-emitting history). The
    * accumulated crawled index is the seed ∪ the emissions — read it
    * with [[crawledIndex]].
    *
    * `checkpointDir`: pass a durable location in production so replays
    * after a restart land on their original commit dirs (the run token
    * is the hash of the checkpoint path); the default is the stream
    * driver's throwaway checkpoint, deleted when the run ends, with a
    * fresh random run token. */
  def runFrontierStream(pages: DataFrame, srcUrlCol: Column, htmlCol: Column,
                        crawledDir: String, frontierDir: String,
                        checkpointDir: Option[String] = None): Unit = {
    val spark = pages.sparkSession
    // stable across replays of the SAME checkpoint (a replayed batch
    // must overwrite its own commit dir), distinct across independent
    // runs (each fresh checkpoint restarts batch ids at 0)
    val runTok = java.lang.Integer.toHexString(checkpointDir
      .fold(scala.util.Random.nextInt())(scala.util.hashing.MurmurHash3.stringHash))
    val hconf = spark.sparkContext.hadoopConfiguration
    def exists(dir: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(hconf).exists(p)
    }
    def priorCommitDirs(except: String): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(frontierDir)
      val fs = p.getFileSystem(hconf)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
        .filter(_.getName.startsWith("commit="))
        .filterNot(_.getName == except).map(_.toString)
    }
    graft.streaming.StreamDriver.eachBatch(pages, checkpointDir) { (batch, batchId) =>
      val commitName = s"commit=$runTok-$batchId"
      val agg = discovered(batch, srcUrlCol, htmlCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val index =
          (if (exists(crawledDir))
             Seq(spark.read.option("recursiveFileLookup", "true")
               .parquet(crawledDir).select("url"))
           else Seq.empty) ++ {
            val dirs = priorCommitDirs(except = commitName)
            if (dirs.isEmpty) Seq.empty
            else Seq(spark.read.parquet(dirs: _*).select("url"))
          }
        val fresh = index.reduceOption(_.unionByName(_)).fold(agg: DataFrame)(
          idx => Relational.bloomAntiJoin(agg, col("url"), idx, col("url")))
        fresh.write.mode("overwrite").parquet(s"$frontierDir/$commitName")
      } finally agg.unpersist(false)
    }
  }

  /** The accumulated crawled index of a [[runFrontierStream]] loop:
    * the seed keys ∪ every committed emission — one key-only column,
    * deduplicated. */
  def crawledIndex(spark: org.apache.spark.sql.SparkSession,
                   crawledDir: String, frontierDir: String): DataFrame = {
    val hconf = spark.sparkContext.hadoopConfiguration
    def exists(dir: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(hconf).exists(p)
    }
    val parts =
      (if (exists(crawledDir))
         Seq(spark.read.option("recursiveFileLookup", "true")
           .parquet(crawledDir).select("url"))
       else Seq.empty) ++
      (if (exists(frontierDir))
         Seq(spark.read.option("recursiveFileLookup", "true")
           .parquet(frontierDir).select("url"))
       else Seq.empty)
    parts.reduceOption(_.unionByName(_))
      .getOrElse(spark.emptyDataFrame.select(lit("").as("url")).limit(0))
      .distinct()
  }
}
