package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.Buckets
import graft.operators.{Drift, Layout, Relational, Sampling}
import graft.sources.Tables

/** The relational operator surface of SURVEY.md §2.1–§2.8, expressed as
  * named queries over the TESTDATA tables, each hash-checked against a
  * DuckDB oracle. Query shapes mirror the reference's (scan→filter→derive→
  * join→agg→window→sort); scale notes inline.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Day-over-day histograms of `events`: `h` (period, b, c) with the
    * bucket `b` given as SQL, then `DriftSql.periodCtes`. Used by q193,
    * q196, q198, q199, q210 and q220. */
  private def eventHistCtes(bucket: String): String =
    s"""WITH h AS (
       |  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS period,
       |         $bucket AS b, count(*) AS c
       |  FROM events GROUP BY 1, 2),
       |${DriftSql.periodCtes}""".stripMargin

  /** The whole TVD series with its 1.5×-of-mean alert over the events
    * histogram of `bucket`. Used by q193, q196 and q210. */
  private def tvdSeriesSql(bucket: String): String =
    s"""${eventHistCtes(bucket)},
       |${DriftSql.pairCte},
       |${DriftSql.tvdCtes("s")}
       |${DriftSql.alertTail}""".stripMargin

  /** `j` like `DriftSql.pairCte`, but keeping the bucket `b` so each
    * bucket's contribution can be ranked. Used by q198 and q199. */
  private val bucketPairCte =
    """j AS (
      |  SELECT coalesce(h.period, hp.period) AS period, coalesce(h.b, hp.b) AS b,
      |         coalesce(h.c, 0) AS c, coalesce(hp.c, 0) AS cp
      |  FROM h FULL JOIN hp ON h.period = hp.period AND h.b = hp.b)""".stripMargin

  /** Per-bucket TVD contributions over `bucketPairCte` (`a`) and their
    * per-period rank (`r`, ties to the bucket value). Used by q198 and
    * q199. */
  private val attributionCtes =
    s"""a AS (
       |  SELECT j.period, b, cp AS c_prev, c AS c_cur,
       |         CAST(abs(c * n_prev - cp * n_cur) AS BIGINT) AS contrib_num,
       |         CAST(2 * n_cur * n_prev AS BIGINT) AS den
       |  FROM j JOIN tot ON j.period = tot.period JOIN tp ON j.period = tp.period),
       |r AS (
       |  SELECT period, b AS bucket, c_prev, c_cur, contrib_num,
       |         ${Sampling.microRatioSql("contrib_num", "den", "//")} AS contrib_ppm,
       |         CAST(row_number() OVER (PARTITION BY period
       |           ORDER BY contrib_num DESC, b) AS BIGINT) AS rk
       |  FROM a)""".stripMargin

  val queries: Seq[Q] = Seq(

    // ---- scans + aggregation -------------------------------------------

    // Multi-aggregate summary after a pushed-down timestamp range filter.
    // Shape of the reference's grouped stats (project_eda.py:352-354,448);
    // partial (map-side) aggregation + single hash shuffle on 6 groups.
    Q("q01_pricing_summary",
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
             |  round(sum(l_extendedprice), 2) AS sum_base_price,
             |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             |  round(avg(l_quantity), 4) AS avg_qty,
             |  round(avg(l_discount), 4) AS avg_disc,
             |  count(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1999-09-02 00:00:00'
             |GROUP BY l_returnflag, l_linestatus""".stripMargin),
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") <= lit("1999-09-02 00:00:00").cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity")).cast("long").as("sum_qty"),
            round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
            round(avg(col("l_quantity")), 4).as("avg_qty"),
            round(avg(col("l_discount")), 4).as("avg_disc"),
            count(lit(1)).as("count_order"))),

    // Row-level projection + range predicate: both must reach the parquet
    // scan (PushedFilters + 4-column ReadSchema over an 11-column table).
    Q("q02_scan_pushdown",
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice
             |FROM lineitem
             |WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
             |                     AND TIMESTAMP '1997-03-31 00:00:00'
             |  AND l_quantity > 45""".stripMargin),
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_shipdate").between(
            lit("1997-01-01 00:00:00").cast("timestamp"),
            lit("1997-03-31 00:00:00").cast("timestamp")) && col("l_quantity") > 45)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")),

    // Set membership / negated membership / not-equal (SURVEY §2.2 P5,P6,P8).
    Q("q03_membership",
      Some("""SELECT l_returnflag, count(*) AS n,
             |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
             |FROM lineitem
             |WHERE l_returnflag IN ('A','R')
             |  AND l_linestatus NOT IN ('O')
             |  AND l_discount <> 0.0
             |GROUP BY l_returnflag""".stripMargin),
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_returnflag").isin("A", "R")
            && !col("l_linestatus").isin("O")
            && col("l_discount") =!= 0.0)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), sum(col("l_quantity")).cast("long").as("sum_qty"))),

    // Regex + substring predicates (reference rlike game-thread filter,
    // Data_Gathering.py:45; video-url regex project_eda.py:253).
    Q("q04_regex_filter",
      Some("""SELECT p_brand, count(*) AS n
             |FROM part
             |WHERE regexp_matches(p_name, '^(red|blue) ') AND contains(p_type, 'ECO')
             |GROUP BY p_brand""".stripMargin),
      (s, dir) =>
        t(s, dir, "part")
          .filter(col("p_name").rlike("^(red|blue) ") && col("p_type").contains("ECO"))
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n"))),

    // NULL plumbing: nullif/coalesce/isnull counters (reference missing-value
    // scan, project_eda.py:657-674).
    Q("q05_null_handling",
      Some("""SELECT coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status,
             |  count(*) AS n,
             |  CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_date
             |FROM orders GROUP BY 1""".stripMargin),
      (s, dir) =>
        t(s, dir, "orders")
          .withColumn("status",
            coalesce(when(col("o_orderstatus") === "O", lit(null)).otherwise(col("o_orderstatus")), lit("OPEN")))
          .groupBy("status")
          .agg(count(lit(1)).as("n"),
            sum(when(col("o_orderdate").isNull, 1).otherwise(0)).cast("long").as("n_null_date"))),

    // The reference's four time-bucketing UDFs as when-chains over event
    // timestamps (project_eda.py:304-333, 690-701) — entirely codegen'd.
    Q("q06_time_buckets",
      Some("""SELECT
             |  CASE WHEN hour(ts) < 9 THEN 'sleep_hours'
             |       WHEN hour(ts) <= 17 THEN 'workday'
             |       ELSE 'afternoon' END AS time_of_day,
             |  CASE WHEN dayname(ts) IN ('Saturday','Sunday') THEN 'weekend'
             |       ELSE 'weekday' END AS is_weekday,
             |  CASE CAST(floor((month(ts) + 1) / 4.0) AS INT)
             |       WHEN 0 THEN 'winter' WHEN 1 THEN 'spring'
             |       WHEN 2 THEN 'summer' ELSE 'fall' END AS season,
             |  CASE WHEN hour(ts) BETWEEN 0 AND 2 THEN '00:00-03:00'
             |       WHEN hour(ts) BETWEEN 3 AND 5 THEN '03:00-06:00'
             |       WHEN hour(ts) BETWEEN 6 AND 8 THEN '06:00-09:00'
             |       WHEN hour(ts) BETWEEN 9 AND 11 THEN '09:00-12:00'
             |       WHEN hour(ts) BETWEEN 12 AND 14 THEN '12:00-15:00'
             |       WHEN hour(ts) BETWEEN 15 AND 17 THEN '15:00-18:00'
             |       WHEN hour(ts) BETWEEN 18 AND 20 THEN '18:00-21:00'
             |       WHEN hour(ts) BETWEEN 21 AND 23 THEN '21:00-00:00'
             |       ELSE '0' END AS time_slot,
             |  count(*) AS n, round(avg(value), 4) AS avg_value
             |FROM events GROUP BY 1, 2, 3, 4""".stripMargin),
      (s, dir) =>
        t(s, dir, "events")
          .withColumn("time_of_day", Buckets.timeOfDay(hour(col("ts"))))
          .withColumn("is_weekday", Buckets.weekendFromDayName(date_format(col("ts"), "EEEE")))
          .withColumn("season", Buckets.season(month(col("ts"))))
          .withColumn("time_slot", Buckets.timeSlot(hour(col("ts"))))
          .groupBy("time_of_day", "is_weekday", "season", "time_slot")
          .agg(count(lit(1)).as("n"), round(avg(col("value")), 4).as("avg_value"))),

    // Derived columns: concat key synthesis (Data_Gathering.py:165),
    // casts (project_eda.py:253,446), floor-arithmetic.
    Q("q07_derive_cast_concat",
      Some("""SELECT concat('ord_', CAST(o_orderkey AS VARCHAR)) AS okey,
             |  CAST(substr(o_orderpriority, 1, 1) AS INT) AS prio_rank,
             |  CAST(floor(o_totalprice) AS BIGINT) AS price_floor
             |FROM orders WHERE o_orderkey < 100""".stripMargin),
      (s, dir) =>
        t(s, dir, "orders")
          .filter(col("o_orderkey") < 100)
          .select(
            concat(lit("ord_"), col("o_orderkey").cast("string")).as("okey"),
            substring(col("o_orderpriority"), 1, 1).cast("int").as("prio_rank"),
            floor(col("o_totalprice")).cast("long").as("price_floor"))),

    // ---- joins ----------------------------------------------------------

    // Star join through three broadcast dimensions (reference J1/J2 small-dim
    // joins, Data_Gathering.py:155,214). All three dims are broadcast: zero
    // shuffles of the fact table before the final 5-group aggregate.
    Q("q08_join_dims",
      Some("""SELECT r_name, count(*) AS n_orders,
             |  round(sum(o_totalprice), 2) AS revenue
             |FROM orders
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name""".stripMargin),
      (s, dir) =>
        t(s, dir, "orders")
          .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name")
          .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))),

    // Fact-to-fact equi join (lineitem ⋈ orders shuffles on orderkey; part
    // is broadcast). The 100 TB shape of the reference's "absurdly long"
    // comments join (Data_Gathering.py:214-224) with the dim broadcast.
    Q("q09_join_facts",
      Some("""SELECT p_brand, o_orderpriority, count(*) AS n,
             |  round(sum(l_extendedprice), 2) AS sum_price
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN part ON l_partkey = p_partkey
             |WHERE o_orderstatus = 'F'
             |GROUP BY p_brand, o_orderpriority""".stripMargin),
      (s, dir) =>
        t(s, dir, "lineitem")
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
          .filter(col("o_orderstatus") === "F")
          .groupBy("p_brand", "o_orderpriority")
          .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("sum_price"))),

    // Left-semi join (EXISTS) — not in the reference but part of the engine
    // join surface (SURVEY.md §2.3 note): semi avoids materializing the
    // probe side's payload through the shuffle.
    Q("q10_semi_join",
      Some("""SELECT c_mktsegment, count(*) AS n_cust
             |FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |              WHERE o.o_custkey = c.c_custkey
             |                AND o.o_totalprice > 400000)
             |GROUP BY c_mktsegment""".stripMargin),
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_cust"))
      }),

    // Left-anti join (NOT EXISTS): customers with no high-value order.
    Q("q11_anti_join",
      Some("""SELECT c_mktsegment, count(*) AS n_cust
             |FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o
             |                  WHERE o.o_custkey = c.c_custkey
             |                    AND o.o_totalprice > 400000)
             |GROUP BY c_mktsegment""".stripMargin),
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_cust"))
      }),

    // Left-outer join with NULL-aware aggregation over the unmatched side.
    Q("q12_outer_join",
      Some("""SELECT c_custkey, count(o_orderkey) AS n_orders,
             |  round(coalesce(sum(o_totalprice), 0), 2) AS spend
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_custkey""".stripMargin),
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("n_orders"),
            round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("spend"))
      }),

    // ---- windows --------------------------------------------------------

    // Running sum + running count per key, RANGE unboundedPreceding..current
    // (reference W1/W2: per-author running score, project_eda.py:482-510).
    // RANGE frame → peer rows (same date) share a value → deterministic.
    Q("q13_window_running",
      Some("""SELECT o_orderkey, o_custkey,
             |  round(sum(o_totalprice) OVER w, 2) AS running_spend,
             |  count(*) OVER w AS running_n
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
             |             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"))
          .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            round(sum(col("o_totalprice")).over(w), 2).as("running_spend"),
            count(lit(1)).over(w).as("running_n"))
      }),

    // Per-group top-k by row_number with a unique tie-breaker (reference
    // W3/W4 top-5 TF-IDF tokens per thread, NFL_Processing.py:504-506).
    Q("q14_window_topk",
      Some("""SELECT * FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
             |                       ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rnk
             |  FROM orders) WHERE rnk <= 3""".stripMargin),
      (s, dir) =>
        Relational.topKPerGroup(
          t(s, dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
          Seq(col("o_custkey")),
          Seq(col("o_totalprice").desc, col("o_orderkey")), 3)),

    // ---- sort / limit / distinct / set ops ------------------------------

    // Global top-N: Spark plans TakeOrderedAndProject (no full sort of the
    // table; per-partition heaps + driver merge) — the scale-correct form of
    // the reference's orderBy().collect()[:10] (project_starter_script.py:80).
    Q("q15_global_topn",
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),
      (s, dir) =>
        t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(10)),

    // Distinct aggregates (value-counts scan, ML_Modeling.py:128-132).
    Q("q16_distinct_agg",
      Some("""SELECT l_returnflag,
             |  count(DISTINCT l_partkey) AS n_parts,
             |  count(DISTINCT l_suppkey) AS n_supps,
             |  count(*) AS n_rows
             |FROM lineitem GROUP BY l_returnflag""".stripMargin),
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(countDistinct(col("l_partkey")).as("n_parts"),
            countDistinct(col("l_suppkey")).as("n_supps"),
            count(lit(1)).as("n_rows"))),

    // UNION with dedup (engine set-op surface, SURVEY.md §2.7).
    Q("q17_union_distinct",
      Some("""SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 450000
             |UNION
             |SELECT c_custkey FROM customer WHERE c_acctbal > 9900""".stripMargin),
      (s, dir) =>
        t(s, dir, "orders").filter(col("o_totalprice") > 450000)
          .select(col("o_custkey").as("custkey"))
          .union(t(s, dir, "customer").filter(col("c_acctbal") > 9900)
            .select(col("c_custkey").as("custkey")))
          .distinct()),

    // Correlation / stddev / min-max stats (reference df.stat.corr sites,
    // project_eda.py:229-261; summary() ML_Modeling.py:145).
    Q("q18_stats",
      Some("""SELECT l_returnflag,
             |  round(corr(l_quantity, l_extendedprice), 4) + 0 AS corr_qty_price,
             |  round(stddev_samp(l_quantity), 4) AS sd_qty,
             |  round(min(l_extendedprice), 2) AS min_price,
             |  round(max(l_extendedprice), 2) AS max_price,
             |  round(avg(l_extendedprice), 4) AS avg_price
             |FROM lineitem GROUP BY l_returnflag""".stripMargin),
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            // + 0.0 normalizes a signed zero (IEEE −0.0 + 0.0 = +0.0):
            // a near-zero correlation that rounds to zero must not leak
            // its sign bit into the hash compare (q127's sf0.001 lesson)
            (round(corr(col("l_quantity"), col("l_extendedprice")), 4) + lit(0.0))
              .as("corr_qty_price"),
            round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
            round(min(col("l_extendedprice")), 2).as("min_price"),
            round(max(col("l_extendedprice")), 2).as("max_price"),
            round(avg(col("l_extendedprice")), 4).as("avg_price"))),

    // Histogram + engine-side cumulative sum (reference comment-length
    // histogram + pandas cumsum, NFL_Processing.py:56-77 → SURVEY §2.4 A12).
    Q("q19_hist_cumsum",
      Some("""WITH h AS (
             |  SELECT len(regexp_split_to_array(trim(text), '\s+')) AS bucket,
             |         count(*) AS n
             |  FROM documents GROUP BY 1)
             |SELECT bucket, n,
             |  CAST(sum(n) OVER (ORDER BY bucket
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n
             |FROM h""".stripMargin),
      (s, dir) =>
        Relational.histogramWithCumsum(
          t(s, dir, "documents"),
          size(split(trim(col("text")), "\\s+")).cast("long"))),

    // Multi-key grouping incl. a derived time key (SURVEY §2.4 A4).
    Q("q20_multikey_agg",
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(year(l_shipdate) AS INT) AS ship_year,
             |  count(*) AS n, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
             |FROM lineitem GROUP BY 1, 2, 3""".stripMargin),
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"), col("l_linestatus"),
            year(col("l_shipdate")).as("ship_year"))
          .agg(count(lit(1)).as("n"), sum(col("l_quantity")).cast("long").as("sum_qty"))),

    // Date/time function surface: date_trunc, epoch seconds (reference
    // from_unixtime/to_date/hour/month sites, SURVEY §2.8).
    Q("q21_date_trunc",
      Some("""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
             |  count(*) AS n, round(sum(value), 4) AS sum_value,
             |  CAST(max(floor(epoch(ts))) AS BIGINT) AS max_epoch
             |FROM events GROUP BY 1, 2""".stripMargin),
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"),
            max(unix_timestamp(col("ts"))).as("max_epoch"))),

    // Interval arithmetic: the reference's UTC→EST shift
    // (project_eda.py:286: datetime - INTERVAL 5 HOURS).
    Q("q22_interval_shift",
      Some("""SELECT dayname(ts - INTERVAL 5 HOUR) AS dow_est,
             |  count(*) AS n, round(avg(value), 4) AS avg_value
             |FROM events GROUP BY 1""".stripMargin),
      (s, dir) =>
        t(s, dir, "events")
          .withColumn("est", col("ts") - expr("INTERVAL 5 HOURS"))
          .groupBy(date_format(col("est"), "EEEE").as("dow_est"))
          .agg(count(lit(1)).as("n"), round(avg(col("value")), 4).as("avg_value"))),

    // Cross-tab (the reference's confusion matrix / judge-sanchez cross-tab,
    // ML_Modeling.py:410, Yankees_Processing_with_NLP.py:737-744).
    Q("q23_crosstab",
      Some("""SELECT event_type,
             |  count(*) FILTER (WHERE dayname(ts) NOT IN ('Saturday','Sunday')) AS weekday,
             |  count(*) FILTER (WHERE dayname(ts) IN ('Saturday','Sunday')) AS weekend
             |FROM events GROUP BY event_type""".stripMargin),
      (s, dir) =>
        Relational.crossTab(
          t(s, dir, "events").withColumn("wd",
            Buckets.weekendFromDayName(date_format(col("ts"), "EEEE"))),
          col("event_type"), col("wd"), Seq("weekday", "weekend"))),

    // ROLLUP grouping sets (engine extension past the reference's flat
    // groupBys; NULL super-aggregate semantics match ANSI).
    Q("q24_rollup",
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
             |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin),
      (s, dir) =>
        t(s, dir, "lineitem")
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"), sum(col("l_quantity")).cast("long").as("sum_qty"))),

    // Exact interpolated percentiles (engine extension: the reference has
    // summary() only; exact quantiles ARE cross-engine checkable, unlike
    // approx sketches). Rank-based, not buffer-based: see
    // Relational.groupedQuantilesExact — Spark's percentile() aggregate
    // buffers whole groups in memory and is a 100 TB OOM.
    Q("q29_percentiles",
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
             |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
             |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99_price
             |FROM lineitem GROUP BY l_returnflag""".stripMargin),
      (s, dir) =>
        Relational.groupedQuantilesExact(
          t(s, dir, "lineitem"), "l_returnflag",
          Seq(("l_quantity", 0.5, "median_qty"),
            ("l_extendedprice", 0.9, "p90_price"),
            ("l_extendedprice", 0.99, "p99_price")))),

    // JSON/map access: parse the props JSON and bucket by its key — the
    // engine's version of the reference's map<string,string> key lookup
    // (Sentiment_Analysis.py:89-94 getItem) over serialized props.
    Q("q26_json_props",
      Some("""SELECT CAST(floor(CAST(json_extract_string(props, '$.k') AS INT) / 10) AS INT) AS k_bucket,
             |  count(*) AS n, round(avg(value), 4) AS avg_value
             |FROM events GROUP BY 1""".stripMargin),
      (s, dir) =>
        t(s, dir, "events")
          .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
          .groupBy(floor(col("k") / 10).cast("int").as("k_bucket"))
          .agg(count(lit(1)).as("n"), round(avg(col("value")), 4).as("avg_value"))),

    // CUBE grouping sets over two dims (engine extension past ROLLUP).
    Q("q27_cube",
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n
             |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin),
      (s, dir) =>
        t(s, dir, "lineitem")
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"))),

    // As-of join (merge_asof): each click joined to the user's latest
    // purchase at-or-before it. Spark has no native ASOF; the engine's
    // union+window re-expression is oracle-checked against DuckDB's
    // native ASOF LEFT JOIN (see Relational.asOfJoin for the plan shape).
    Q("q50_asof_join",
      Some("""WITH l AS (SELECT user_id, ts, value AS lval FROM events WHERE event_type = 'click'),
             |r AS (SELECT user_id, ts AS rts, max(value) AS rval
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
             |SELECT l.user_id, l.ts, l.lval, r.rts, r.rval
             |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.rts""".stripMargin),
      (s, dir) => {
        val ev = t(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("value").as("lval"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id", "ts").agg(max(col("value")).as("rval"))
          .withColumn("rts", col("ts"))
        Relational.asOfJoin(clicks, purchases, "user_id", "ts", "ts",
          Seq("rts", "rval"))
      }),

    // Bucketed range join: customers matched into supplier balance
    // intervals via chunked equi-join, not a quadratic nested loop
    // (Relational.rangeJoin; oracle is DuckDB's native BETWEEN join).
    Q("q51_range_join",
      Some("""SELECT c_custkey, s_suppkey, c_acctbal, s_acctbal AS lo
             |FROM customer JOIN supplier
             |  ON c_acctbal BETWEEN s_acctbal AND s_acctbal + 100""".stripMargin),
      (s, dir) =>
        Relational.rangeJoin(
            t(s, dir, "customer").select(col("c_custkey"), col("c_acctbal")),
            col("c_acctbal"),
            t(s, dir, "supplier").select(col("s_suppkey"),
              col("s_acctbal").as("lo"), (col("s_acctbal") + 100).as("hi")),
            col("lo"), col("hi"), chunk = 100.0)
          .select("c_custkey", "s_suppkey", "c_acctbal", "lo")),

    // Ranking-function family over one shared window: ntile quartiles,
    // percent_rank, cume_dist, dense_rank, and a lag with default —
    // widens §2.5 beyond row_number/running sums. One shuffle; the
    // (price, orderkey) tie-break keeps every rank deterministic.
    Q("q53_window_ranks",
      Some("""SELECT o_custkey, o_orderkey,
             |  CAST(ntile(4) OVER w AS INT) AS quartile,
             |  round(percent_rank() OVER w, 4) AS pr,
             |  round(cume_dist() OVER w, 4) AS cd,
             |  CAST(dense_rank() OVER w AS INT) AS dr,
             |  round(coalesce(lag(o_totalprice, 1) OVER w, 0.0), 2) AS prev_price
             |FROM orders WHERE o_custkey < 100
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        t(s, dir, "orders").filter(col("o_custkey") < 100)
          .select(col("o_custkey"), col("o_orderkey"),
            ntile(4).over(w).as("quartile"),
            round(percent_rank().over(w), 4).as("pr"),
            round(cume_dist().over(w), 4).as("cd"),
            dense_rank().over(w).as("dr"),
            round(coalesce(lag(col("o_totalprice"), 1).over(w), lit(0.0)), 2)
              .as("prev_price"))
      }),

    // Explicit GROUPING SETS with grouping() flags (finer than
    // rollup/cube: exactly the three requested groupings).
    Q("q54_grouping_sets",
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin),
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupingSets(
            Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
            col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"),
            (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
              .cast("long").as("gid"))),

    // Unpivot (melt): wide metric columns to (metric, value) rows then
    // re-aggregate — the inverse of crossTab's pivot.
    Q("q55_unpivot",
      Some("""WITH m AS (
             |  SELECT l_returnflag, 'l_quantity' AS metric,
             |    CAST(l_quantity AS DOUBLE) AS value FROM lineitem
             |  UNION ALL
             |  SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem)
             |SELECT l_returnflag, metric, round(sum(value), 2) AS sum_value,
             |  count(*) AS n
             |FROM m GROUP BY 1, 2""".stripMargin),
      (s, dir) =>
        t(s, dir, "lineitem")
          .select(col("l_returnflag"),
            col("l_quantity").cast("double").as("l_quantity"),
            col("l_extendedprice"))
          .unpivot(Array(col("l_returnflag")),
            Array(col("l_quantity"), col("l_extendedprice")), "metric", "value")
          .groupBy("l_returnflag", "metric")
          .agg(round(sum(col("value")), 2).as("sum_value"), count(lit(1)).as("n"))),

    // Fuzzy (edit-distance) pair matching over the nation dimension —
    // levenshtein is deterministic and identical across engines. Runs the
    // BLOCKED variant (length-band equi-join, no BroadcastNestedLoop) so
    // the oracle covers the plan that survives large inputs; the direct
    // theta-join form stays available for dimension-sized ad-hoc use.
    Q("q56_fuzzy_pairs",
      Some("""SELECT a.n_name AS name1, b.n_name AS name2,
             |  CAST(levenshtein(a.n_name, b.n_name) AS BIGINT) AS dist
             |FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
             |WHERE levenshtein(a.n_name, b.n_name) <= 5
             |  AND abs(len(a.n_name) - len(b.n_name)) <= 5""".stripMargin),
      (s, dir) =>
        Relational.fuzzyPairsBlocked(t(s, dir, "nation"),
          col("n_nationkey"), col("n_name"), maxDist = 5)
          .select(col("name1"), col("name2"), col("dist"))),

    // Pivot (long→wide): explicit value list, NOT the values-discovery
    // overload — pinning the columns both fixes the output schema at plan
    // time and skips the extra distinct-scan job the discovery form runs
    // (a full pass over the fact table at 100 TB just to learn "F"/"O").
    Q("q62_pivot",
      Some("""SELECT l_returnflag,
             |  CAST(sum(l_quantity) FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS F,
             |  CAST(sum(l_quantity) FILTER (WHERE l_linestatus = 'O') AS BIGINT) AS O
             |FROM lineitem GROUP BY l_returnflag""".stripMargin),
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .pivot("l_linestatus", Seq("F", "O"))
          .agg(sum(col("l_quantity")).cast("long"))),

    // Deterministic hash split: train/val/test assignment by portable
    // content hash of the key — reproducible across engines, runs, and
    // cluster layouts (what a training pipeline needs from a held-out
    // split; engine-RNG sample() can never be oracle-checked).
    Q("q66_hash_split", {
      val h = graft.functions.TextFunctions.portableHashSql("CAST(doc_id AS VARCHAR)")
      Some(s"""WITH d AS (SELECT source, $h % 10 AS b FROM documents)
              |SELECT source,
              |  CASE WHEN b <= 7 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split,
              |  count(*) AS n
              |FROM d GROUP BY 1, 2""".stripMargin)
    },
      (s, dir) => {
        import graft.functions.TextFunctions.portableHash
        t(s, dir, "documents")
          .withColumn("b", pmod(portableHash(col("doc_id").cast("string")), lit(10)))
          .withColumn("split",
            when(col("b") <= 7, "train").when(col("b") === 8, "val").otherwise("test"))
          .groupBy("source", "split")
          .agg(count(lit(1)).as("n"))
      }),

    // Deterministic domain-mixture resampling: downsample en 0.5×,
    // upsample de 2.3× (integer copies + hash-selected fraction), count
    // the resulting mixture. Content-hash keyed, so the oracle draws the
    // identical sample — engine-RNG sampling never could.
    Q("q69_domain_mix", {
      val h = graft.functions.TextFunctions.portableHashSql("CAST(doc_id AS VARCHAR)")
      Some(s"""WITH d AS (SELECT doc_id, lang,
              |    CASE lang WHEN 'en' THEN CAST(0.5 AS DOUBLE)
              |      WHEN 'de' THEN CAST(2.3 AS DOUBLE)
              |      ELSE CAST(1.0 AS DOUBLE) END AS w
              |  FROM documents),
              |n AS (SELECT lang, CAST(floor(w) AS BIGINT)
              |    + CASE WHEN $h % 1000 < (w - floor(w)) * 1000 THEN 1 ELSE 0 END AS n
              |  FROM d),
              |r AS (SELECT lang, unnest(generate_series(1, n)) AS copy_n FROM n)
              |SELECT lang, count(*) AS n_docs FROM r GROUP BY lang""".stripMargin)
    },
      (s, dir) =>
        Relational.resampleMixture(t(s, dir, "documents"),
            col("doc_id"), col("lang"), Map("en" -> 0.5, "de" -> 2.3))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"))),

    // CDC upsert-apply (batch MERGE): overlay planted updates/deletes/
    // inserts onto an orders snapshot, latest version per key wins.
    Q("q67_upsert_cdc",
      Some("""WITH base AS (SELECT o_orderkey AS k, round(o_totalprice, 2) AS price,
             |    CAST(0 AS BIGINT) AS version, 'U' AS op
             |  FROM orders WHERE o_orderkey <= 1000),
             |chg AS (
             |  SELECT k, round(price * 2, 2) AS price, CAST(2 AS BIGINT) AS version, 'U' AS op
             |  FROM base WHERE k <= 200
             |  UNION ALL
             |  SELECT k, price, CAST(2 AS BIGINT), 'D' FROM base WHERE k BETWEEN 201 AND 250
             |  UNION ALL
             |  SELECT k + 1000000, 99.99, CAST(1 AS BIGINT), 'I' FROM base WHERE k <= 50),
             |u AS (SELECT *, row_number() OVER (PARTITION BY k ORDER BY version DESC) AS rn
             |  FROM (SELECT * FROM base UNION ALL SELECT * FROM chg))
             |SELECT k, price, version FROM u WHERE rn = 1 AND op <> 'D'""".stripMargin),
      (s, dir) => {
        val base = t(s, dir, "orders").filter(col("o_orderkey") <= 1000)
          .select(col("o_orderkey").as("k"), round(col("o_totalprice"), 2).as("price"))
        val chg = base.filter(col("k") <= 200)
          .select(col("k"), round(col("price") * 2, 2).as("price"),
            lit(2L).as("version"), lit("U").as("op"))
          .unionByName(base.filter(col("k").between(201, 250))
            .select(col("k"), col("price"), lit(2L).as("version"), lit("D").as("op")))
          .unionByName(base.filter(col("k") <= 50)
            .select((col("k") + 1000000).as("k"), lit(99.99).as("price"),
              lit(1L).as("version"), lit("I").as("op")))
        Relational.applyCdc(base, chg, "k", "version", "op")
      }),

    // Retention cohorts: users grouped by first-seen week × weeks-since,
    // distinct actives per cell — the cohort triangle. Two grouped
    // aggregations + one key join; week arithmetic is exact on both
    // engines (date_trunc('week') is ISO-Monday in each, so the day gap
    // is always a multiple of 7).
    Q("q84_cohort_retention",
      Some("""WITH fw AS (SELECT user_id,
             |    CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
             |  FROM events GROUP BY user_id),
             |act AS (SELECT DISTINCT user_id,
             |    CAST(date_trunc('week', ts) AS DATE) AS wk FROM events)
             |SELECT cohort_week,
             |  CAST(date_diff('day', cohort_week, wk) / 7 AS INT) AS weeks_since,
             |  count(*) AS n_users
             |FROM act JOIN fw USING (user_id)
             |GROUP BY 1, 2""".stripMargin),
      (s, dir) => {
        val ev = t(s, dir, "events")
        val fw = ev.groupBy("user_id")
          .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort_week"))
        val act = ev.select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("wk")).distinct()
        act.join(fw, "user_id")
          .groupBy(col("cohort_week"),
            (datediff(col("wk"), col("cohort_week")) / 7).cast("int").as("weeks_since"))
          .agg(count(lit(1)).as("n_users"))
      }),

    // Conditional/boolean/argmax aggregate family: count_if, bool_and/or,
    // max_by/min_by (keyed on the unique o_orderkey so the argmax is
    // deterministic on both engines).
    Q("q83_agg_family",
      Some("""SELECT o_orderstatus,
             |  CAST(count(*) FILTER (WHERE o_totalprice > 100000) AS BIGINT) AS n_big,
             |  bool_and(o_totalprice > 0) AS all_positive,
             |  bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
             |  max_by(o_orderpriority, o_orderkey) AS last_priority,
             |  min_by(o_orderpriority, o_orderkey) AS first_priority
             |FROM orders GROUP BY o_orderstatus""".stripMargin),
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy("o_orderstatus")
          .agg(count_if(col("o_totalprice") > 100000).as("n_big"),
            bool_and(col("o_totalprice") > 0).as("all_positive"),
            bool_or(col("o_orderpriority") === "1-URGENT").as("any_urgent"),
            max_by(col("o_orderpriority"), col("o_orderkey")).as("last_priority"),
            min_by(col("o_orderpriority"), col("o_orderkey")).as("first_priority"))),

    // SCD2 dimension build: turn a change log into validity intervals —
    // valid_from = change ts, valid_to = next change for the key (lead),
    // open row marked current. One window over one key shuffle; the
    // complement of applyCdc (q67), which keeps only the latest row.
    Q("q82_scd2",
      Some("""WITH log AS (SELECT o_orderkey AS k, o_orderpriority AS attr, ts FROM (
             |    SELECT o_orderkey, o_orderpriority, o_orderdate AS ts
             |    FROM orders WHERE o_orderkey <= 500
             |    UNION ALL
             |    SELECT o_orderkey, '9-REPRICED', o_orderdate + INTERVAL 30 DAY
             |    FROM orders WHERE o_orderkey <= 250))
             |SELECT k, attr, ts AS valid_from,
             |  lead(ts) OVER (PARTITION BY k ORDER BY ts, attr) AS valid_to,
             |  CAST(lead(ts) OVER (PARTITION BY k ORDER BY ts, attr) IS NULL AS BOOLEAN)
             |    AS is_current
             |FROM log""".stripMargin),
      (s, dir) => {
        val o = t(s, dir, "orders").filter(col("o_orderkey") <= 500)
        val log = o.select(col("o_orderkey").as("k"),
            col("o_orderpriority").as("attr"), col("o_orderdate").as("ts"))
          .unionByName(o.filter(col("o_orderkey") <= 250)
            .select(col("o_orderkey").as("k"), lit("9-REPRICED").as("attr"),
              (col("o_orderdate") + expr("INTERVAL 30 DAY")).as("ts")))
        val w = Window.partitionBy(col("k")).orderBy(col("ts"), col("attr"))
        log.select(col("k"), col("attr"), col("ts").as("valid_from"),
          lead(col("ts"), 1).over(w).as("valid_to"),
          lead(col("ts"), 1).over(w).isNull.as("is_current"))
      }),

    // Trailing-interval moving average: per-user mean event value over
    // the preceding hour — a RANGE frame keyed on event TIME (seconds),
    // not row counts, so bursts and gaps weight correctly. One key
    // shuffle; peers at the same timestamp share a frame (deterministic
    // under ties, unlike a ROWS frame).
    Q("q80_moving_avg",
      Some("""WITH e AS (SELECT user_id, ts,
             |    CAST(floor(epoch(ts)) AS BIGINT) AS sec, value
             |  FROM events WHERE user_id < 50)
             |SELECT user_id, sec,
             |  round(avg(value) OVER (PARTITION BY user_id ORDER BY sec
             |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 4) AS avg_1h
             |FROM e""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
          .rangeBetween(-3600L, Window.currentRow)
        t(s, dir, "events").filter(col("user_id") < 50)
          .select(col("user_id"), unix_timestamp(col("ts")).as("sec"), col("value"))
          .withColumn("avg_1h", round(avg(col("value")).over(w), 4))
          .select("user_id", "sec", "avg_1h")
      }),

    // Funnel conversion: first view → click within 1h → purchase within
    // 1h of that click, per user; one summary row. Each stage is a
    // grouped min + an equi-join on user_id — no window over the event
    // stream, no cross-stage state.
    Q("q78_funnel",
      Some("""WITH fv AS (SELECT user_id, min(ts) AS v FROM events
             |  WHERE event_type = 'view' GROUP BY user_id),
             |fc AS (SELECT e.user_id, min(ts) AS c FROM events e JOIN fv USING (user_id)
             |  WHERE event_type = 'click' AND ts >= v AND ts <= v + INTERVAL 1 HOUR
             |  GROUP BY e.user_id),
             |fp AS (SELECT e.user_id FROM events e JOIN fc USING (user_id)
             |  WHERE event_type = 'purchase' AND ts >= c AND ts <= c + INTERVAL 1 HOUR
             |  GROUP BY e.user_id)
             |SELECT (SELECT count(*) FROM fv) AS n_viewers,
             |  (SELECT count(*) FROM fc) AS n_clickers,
             |  (SELECT count(*) FROM fp) AS n_buyers""".stripMargin),
      (s, dir) => {
        val ev = t(s, dir, "events")
        val fv = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts")).as("v"))
        val fc = ev.filter(col("event_type") === "click").join(fv, "user_id")
          .filter(col("ts") >= col("v") && col("ts") <= col("v") + expr("INTERVAL 1 HOUR"))
          .groupBy("user_id").agg(min(col("ts")).as("c"))
        val fp = ev.filter(col("event_type") === "purchase").join(fc, "user_id")
          .filter(col("ts") >= col("c") && col("ts") <= col("c") + expr("INTERVAL 1 HOUR"))
          .select("user_id").distinct()
        fv.agg(count(lit(1)).as("n_viewers"))
          .crossJoin(fc.agg(count(lit(1)).as("n_clickers")))
          .crossJoin(fp.agg(count(lit(1)).as("n_buyers")))
      }),

    // Ratio-to-report: each priority's share of its order-status total —
    // the percent-of-total window every BI layer needs.
    Q("q79_ratio_to_report",
      Some("""WITH c AS (SELECT o_orderstatus, o_orderpriority, count(*) AS n
             |  FROM orders GROUP BY 1, 2)
             |SELECT o_orderstatus, o_orderpriority, n,
             |  round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY o_orderstatus), 4) AS share_r
             |FROM c""".stripMargin),
      (s, dir) => {
        val c = t(s, dir, "orders")
          .groupBy("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("n"))
        c.withColumn("share_r",
          round(col("n").cast("double")
            / sum(col("n")).over(Window.partitionBy(col("o_orderstatus"))), 4))
      }),

    // Winsorization: clamp a metric to its per-group exact [p05, p95]
    // band — the outlier-clipping pass before feature scaling. The tiny
    // per-group quantile frame joins back broadcast; answers stay exact
    // because the quantiles are (q29's distinct-value-count formulation).
    Q("q77_winsorize",
      Some("""WITH b AS (SELECT l_returnflag,
             |    round(quantile_cont(l_extendedprice, 0.05), 4) AS lo,
             |    round(quantile_cont(l_extendedprice, 0.95), 4) AS hi
             |  FROM lineitem GROUP BY l_returnflag)
             |SELECT l.l_returnflag, count(*) AS n,
             |  round(avg(l_extendedprice), 4) AS avg_raw,
             |  round(avg(least(greatest(l_extendedprice, lo), hi)), 4) AS avg_clipped,
             |  CAST(sum(CASE WHEN l_extendedprice < lo OR l_extendedprice > hi
             |       THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
             |FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
             |GROUP BY l.l_returnflag""".stripMargin),
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val bounds = Relational.groupedQuantilesExact(li, "l_returnflag",
          Seq(("l_extendedprice", 0.05, "lo"), ("l_extendedprice", 0.95, "hi")))
        li.join(broadcast(bounds), "l_returnflag")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            round(avg(col("l_extendedprice")), 4).as("avg_raw"),
            round(avg(least(greatest(col("l_extendedprice"), col("lo")), col("hi"))), 4)
              .as("avg_clipped"),
            sum(when(col("l_extendedprice") < col("lo")
              || col("l_extendedprice") > col("hi"), 1L).otherwise(0L)).as("n_clipped"))
      }),

    // Window value-function family: first/last/nth order price per
    // customer over the full frame (last_value needs the explicit
    // unbounded-following frame in BOTH engines, or it silently reads
    // only up to the current row).
    Q("q68_window_values",
      Some("""WITH o AS (SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS p
             |  FROM orders),
             |w AS (SELECT o_custkey,
             |    first_value(p) OVER win AS first_p,
             |    last_value(p) OVER win AS last_p,
             |    nth_value(p, 2) OVER win AS second_p
             |  FROM o
             |  WINDOW win AS (PARTITION BY o_custkey ORDER BY o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
             |SELECT DISTINCT o_custkey, first_p, last_p, second_p FROM w""".stripMargin),
      (s, dir) => {
        val full = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            round(col("o_totalprice"), 2).as("p"))
          .select(col("o_custkey"),
            first(col("p")).over(full).as("first_p"),
            last(col("p")).over(full).as("last_p"),
            nth_value(col("p"), 2).over(full).as("second_p"))
          .distinct()
      }),

    // Date arithmetic family: day offsets, day diffs, month-end, clamped
    // month addition — the date function subset whose semantics (incl.
    // end-of-month clamping) agree exactly across engines.
    Q("q60_date_arith",
      Some("""WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
             |  FROM orders WHERE o_orderkey <= 500)
             |SELECT o_orderkey, d,
             |  CAST(d + INTERVAL 30 DAY AS DATE) AS due_date,
             |  CAST(date_diff('day', d, DATE '1998-12-31') AS INT) AS days_to_eoy,
             |  last_day(d) AS month_end,
             |  CAST(d + INTERVAL 3 MONTH AS DATE) AS plus_q
             |FROM o""".stripMargin),
      (s, dir) =>
        t(s, dir, "orders").filter(col("o_orderkey") <= 500)
          .select(col("o_orderkey"), col("o_orderdate").cast("date").as("d"))
          .select(col("o_orderkey"), col("d"),
            date_add(col("d"), 30).as("due_date"),
            datediff(lit("1998-12-31").cast("date"), col("d")).as("days_to_eoy"),
            last_day(col("d")).as("month_end"),
            add_months(col("d"), 3).as("plus_q"))),

    // Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    // match each other, unlike plain equality.
    Q("q57_nullsafe_join",
      Some("""WITH a AS (SELECT o_orderkey,
             |    nullif(o_orderpriority, '3-MEDIUM') AS p
             |  FROM orders WHERE o_orderkey <= 1000),
             |b AS (SELECT DISTINCT nullif(o_orderpriority, '3-MEDIUM') AS p FROM orders)
             |SELECT b.p, count(*) AS n
             |FROM a JOIN b ON a.p IS NOT DISTINCT FROM b.p
             |GROUP BY b.p""".stripMargin),
      (s, dir) => {
        val o = t(s, dir, "orders")
        val a = o.filter(col("o_orderkey") <= 1000)
          .select(col("o_orderkey"),
            nullif(col("o_orderpriority"), lit("3-MEDIUM")).as("p"))
        val b = o.select(nullif(col("o_orderpriority"), lit("3-MEDIUM")).as("p"))
          .distinct().withColumnRenamed("p", "bp")
        a.join(b, col("p") <=> col("bp"))
          .groupBy(col("bp").as("p"))
          .agg(count(lit(1)).as("n"))
      }),

    // Z-order (Morton) layout audit — the data-skipping write path
    // (operators.Layout): interleave l_partkey/l_suppkey bits, slice the
    // z-range into 64 coarse buckets, report each bucket's bounding box
    // over BOTH dimensions. The audit IS the data-skipping argument: a
    // single-column sort gives unbounded boxes on the other key; z-order
    // boxes stay ~1/8 of the domain on each axis, which is what parquet
    // min/max pruning sees. The oracle replays the identical
    // parallel-prefix bit spread (Layout.spread16Sql), so the layout key
    // itself is hash-certified.
    Q("q152_zorder_layout",
      Some(s"""WITH d AS (SELECT l_partkey % 65536 AS x, l_suppkey % 65536 AS y
              |  FROM lineitem),
              |z AS (SELECT x, y, ${Layout.zValueSql("x", "y")} AS zv FROM d)
              |SELECT zv >> 26 AS bucket, count(*) AS n,
              |  min(x) AS x_min, max(x) AS x_max,
              |  min(y) AS y_min, max(y) AS y_max
              |FROM z GROUP BY bucket""".stripMargin),
      (s, dir) => {
        val d = t(s, dir, "lineitem")
          .select((col("l_partkey") % 65536).as("x"),
            (col("l_suppkey") % 65536).as("y"))
        d.select(col("x"), col("y"), Layout.zValue(col("x"), col("y")).as("zv"))
          .groupBy(shiftright(col("zv"), 26).as("bucket"))
          .agg(count(lit(1)).as("n"),
            min("x").as("x_min"), max("x").as("x_max"),
            min("y").as("y_min"), max("y").as("y_max"))
      }),

    // Table profile: per-column stats report (count/nulls/distinct/
    // min/max/mean) over the numeric measure columns — the data-quality
    // survey every ingest runs first. ONE pass: columns melt through
    // stack() and every stat is a map-side-combinable aggregate; no
    // per-column scans, no driver loop.
    Q("q162_table_profile",
      Some("""WITH m AS (
             |  SELECT 'l_quantity' AS col, l_quantity AS v FROM lineitem
             |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
             |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
             |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
             |SELECT col, count(*) AS n,
             |  CAST(count(*) - count(v) AS BIGINT) AS n_null,
             |  CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
             |  round(min(v), 4) AS v_min, round(max(v), 4) AS v_max,
             |  round(avg(v), 4) AS v_mean
             |FROM m GROUP BY col""".stripMargin),
      (s, dir) => {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val stackExpr = expr(s"stack(${cols.size}, " +
          cols.map(c => s"'$c', CAST($c AS DOUBLE)").mkString(", ") +
          ") AS (col, v)")
        t(s, dir, "lineitem").select(stackExpr)
          .groupBy("col")
          .agg(count(lit(1)).as("n"),
            (count(lit(1)) - count(col("v"))).as("n_null"),
            countDistinct(col("v")).as("n_distinct"),
            round(min(col("v")), 4).as("v_min"),
            round(max(col("v")), 4).as("v_max"),
            round(avg(col("v")), 4).as("v_mean"))
      }),

    // Per-group z-score anomaly flags on the events stream (|z| >= 3
    // against the event-type's own distribution) — the telemetry-hygiene
    // gate. Two aggregations: per-type moments, then a broadcast
    // join-back and a map-side flag; population variance in the ONE-PASS
    // moments form (E[v²] − E[v]²), guarded: that form is
    // cancellation-prone, and for a (near-)constant group the rounding
    // residue can land a hair below zero — sqrt would give NaN and
    // (v−mu)/0 has divergent NaN/Inf semantics between the engines — so
    // variance clamps at 0 and a zero-sigma group flags nothing (its z
    // is defined as 0 on both sides).
    Q("q163_value_anomalies",
      Some("""WITH s AS (SELECT event_type, avg(value) AS mu,
             |    sqrt(greatest(avg(value * value) - avg(value) * avg(value), 0)) AS sigma,
             |    count(*) AS n
             |  FROM events GROUP BY event_type)
             |SELECT e.event_type, s.n,
             |  CAST(count_if(sigma > 0 AND abs((e.value - s.mu) / sigma) >= 3)
             |    AS BIGINT) AS n_anomalous,
             |  round(max(CASE WHEN sigma > 0
             |    THEN abs((e.value - s.mu) / sigma) ELSE 0 END), 4) AS max_abs_z
             |FROM events e JOIN s USING (event_type)
             |GROUP BY e.event_type, s.n""".stripMargin),
      (s, dir) => {
        val ev = t(s, dir, "events")
        val stats = ev.groupBy("event_type")
          .agg(avg("value").as("mu"),
            sqrt(greatest(
              avg(col("value") * col("value")) - avg("value") * avg("value"),
              lit(0.0))).as("sigma"),
            count(lit(1)).as("n"))
        val z = when(col("sigma") > 0,
          abs((col("value") - col("mu")) / col("sigma"))).otherwise(lit(0.0))
        ev.join(broadcast(stats), "event_type")
          .groupBy("event_type", "n")
          .agg(sum(when(z >= 3, 1L).otherwise(0L)).as("n_anomalous"),
            round(max(z), 4).as("max_abs_z"))
      }),

    // Sessionization via lag + conditional cumulative sum — the gaps-and-
    // islands pattern a 100 TB event pipeline needs (engine extension;
    // exercises lag + two stacked windows over one partition shuffle).
    Q("q25_sessionize",
      Some("""WITH g AS (
             |  SELECT user_id, ts,
             |    CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
             |            - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))) AS BIGINT)
             |            > 3600
             |         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             |         THEN 1 ELSE 0 END AS new_session
             |  FROM events),
             |s AS (
             |  SELECT user_id,
             |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
             |  FROM g)
             |SELECT user_id, session_id, count(*) AS n_events
             |FROM s GROUP BY user_id, session_id""".stripMargin),
      (s, dir) => {
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
        val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "events")
          .withColumn("prev_epoch", unix_timestamp(lag(col("ts"), 1).over(byUser)))
          .withColumn("new_session",
            when(col("prev_epoch").isNull
              || unix_timestamp(col("ts")) - col("prev_epoch") > 3600, 1).otherwise(0))
          .withColumn("session_id", sum(col("new_session")).over(cum).cast("long"))
          .groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_events"))
      }),

    // Day-over-day distribution-drift series (ingestion telemetry):
    // exact-integer TVD between each day's event-type histogram and the
    // previous day's, with the self-normalizing 1.5×-of-mean alert
    // (Drift.tvdSeries; a fixed absolute threshold can't survive corpus
    // growth — per-window noise scales ~1/√N). Twin's micro-ratio is
    // generated from the same helper as the engine's (anti-drift).
    Q("q193_drift_series",
      Some(tvdSeriesSql("event_type")),
      (s, dir) =>
        Drift.tvdSeries(t(s, dir, "events"),
          unix_date(to_date(col("ts"))), col("event_type"))),

    // The SAME drift series from MAINTAINED histograms
    // (Drift.tvdSeriesFromCounts): the monitor's production shape — a
    // streaming ingestion appends per-batch (period, bucket) counts
    // (streaming.DriftStream) and the series runs on the accumulated
    // generations without rescanning the corpus. The engine path
    // deliberately splits every count into two partial generations
    // (c−1 and 1) before re-summing, so the oracle hash — q193's SQL
    // verbatim, over raw events — certifies that partial counts
    // recombine EXACTLY, verdicts included.
    Q("q210_drift_series_counts",
      Some(tvdSeriesSql("event_type")),
      (s, dir) => {
        val counts = t(s, dir, "events")
          .groupBy(unix_date(to_date(col("ts"))).as("period"),
            col("event_type").as("bucket"))
          .agg(count(lit(1)).as("c"))
        val gen1 = counts.withColumn("c", col("c") - 1).filter(col("c") > 0)
        val gen2 = counts.withColumn("c", lit(1L))
        Drift.tvdSeriesFromCounts(gen1.unionByName(gen2),
          Nil, col("period"), col("bucket"), col("c"))
      }),

    // Day-over-day POPULATION STABILITY INDEX series (Drift.psiSeries):
    // the scorecard-monitoring drift statistic alongside q193's TVD —
    // the log ratio amplifies RELATIVE mass moves TVD underweights, and
    // add-one smoothing over the pair's bucket union gives the fixed
    // industry reading (<0.1 / 0.1–0.25 / ≥0.25). Engine portability by
    // the DP-sums ln precedent, hardened one step further: each
    // bucket's term is ONE float tree floored to a long BEFORE the
    // cross-bucket sum, so no float summation-order hazard exists; the
    // per-bucket term SQL is generated from the same helper as the
    // engine's (anti-drift).
    Q("q220_psi_series",
      Some(s"""${eventHistCtes("event_type")},
             |${DriftSql.pairCte},
             |k AS (
             |  SELECT j.period, c, cp, n_cur, n_prev,
             |         count(*) OVER (PARTITION BY j.period) AS nb
             |  FROM j JOIN tot ON j.period = tot.period
             |         JOIN tp ON j.period = tp.period),
             |t AS (
             |  SELECT period, n_prev, n_cur, nb,
             |         greatest(1, ((c + 1) * 1000000) // (n_cur + nb)) AS p,
             |         greatest(1, ((cp + 1) * 1000000) // (n_prev + nb)) AS q
             |  FROM k),
             |u AS (SELECT period, n_prev, n_cur, nb,
             |         ${Drift.psiTermSql("p", "q")} AS term FROM t)
             |SELECT period, max(n_prev) AS n_prev, max(n_cur) AS n_cur,
             |  CAST(max(nb) AS BIGINT) AS n_buckets,
             |  CAST(sum(term) AS BIGINT) AS psi_micro,
             |  CASE WHEN sum(term) < 100000 THEN 'stable'
             |       WHEN sum(term) < 250000 THEN 'moderate'
             |       ELSE 'shifted' END AS level
             |FROM u GROUP BY period""".stripMargin),
      (s, dir) =>
        Drift.psiSeries(t(s, dir, "events"),
          unix_date(to_date(col("ts"))), col("event_type"))),

    // Reference-vs-candidate PSI gate (Drift.psiBetween): q194's
    // promote/hold fixture read through the scorecard statistic — the
    // true second half is 'stable' against the first-half reference,
    // the candidate missing one 20%-share event type reads 'shifted'
    // at every scale (a vanished bucket's smoothed log-ratio term is
    // large by construction). Per-gate twin SQL generated by one local
    // builder; the per-bucket term by Drift.psiTermSql (anti-drift).
    Q("q227_psi_gate", {
      def gate(g: String, curFilter: String): String =
        s"""SELECT '$g' AS gate, n_ref, n_cur, n_buckets,
           |  psi_micro,
           |  CASE WHEN psi_micro < 100000 THEN 'stable'
           |       WHEN psi_micro < 250000 THEN 'moderate'
           |       ELSE 'shifted' END AS level
           |FROM (
           |  SELECT CAST(max(n_ref) AS BIGINT) AS n_ref,
           |    CAST(max(n_cur) AS BIGINT) AS n_cur,
           |    CAST(max(nb) AS BIGINT) AS n_buckets,
           |    CAST(sum(${Drift.psiTermSql("p", "q")}) AS BIGINT) AS psi_micro
           |  FROM (
           |    SELECT n_ref, n_cur, nb,
           |      greatest(1, ((cc + 1) * 1000000) // (n_cur + nb)) AS p,
           |      greatest(1, ((cr + 1) * 1000000) // (n_ref + nb)) AS q
           |    FROM (
           |      SELECT cr, cc, CAST(sum(cr) OVER () AS BIGINT) AS n_ref,
           |        CAST(sum(cc) OVER () AS BIGINT) AS n_cur,
           |        count(*) OVER () AS nb
           |      FROM (
           |        SELECT coalesce(cr, 0) AS cr, coalesce(cc, 0) AS cc
           |        FROM (SELECT event_type AS b, count(*) AS cr FROM events
           |              WHERE CAST(ts AS DATE) < DATE '2024-01-16' GROUP BY 1) h1
           |        FULL JOIN (SELECT event_type AS b, count(*) AS cc FROM events
           |              WHERE CAST(ts AS DATE) >= DATE '2024-01-16'
           |                AND ($curFilter) GROUP BY 1) h2 USING (b)))))""".stripMargin
      Some(gate("second_half", "TRUE") + "\nUNION ALL\n" +
        gate("biased_no_error", "event_type <> 'error'"))
    },
      (s, dir) => {
        val ev = t(s, dir, "events")
        val ref = ev.filter(to_date(col("ts")) < lit("2024-01-16"))
        val cur = ev.filter(to_date(col("ts")) >= lit("2024-01-16"))
        Drift.psiBetween(ref, col("event_type"), cur, col("event_type"))
          .withColumn("gate", lit("second_half"))
          .unionByName(
            Drift.psiBetween(ref, col("event_type"),
                cur.filter(col("event_type") =!= "error"), col("event_type"))
              .withColumn("gate", lit("biased_no_error")))
      }),

    // Reference-vs-candidate drift gate: the promote/hold decision for an
    // ingestion window against a pinned reference (fixed threshold — the
    // reference is a contract). Two gates: the true second half passes
    // (mix is stationary), a biased candidate missing one event type is
    // held at every scale (TVD ≥ the dropped type's 20% share).
    Q("q194_drift_gate",
      Some(s"""WITH ref AS (SELECT event_type FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-16'),
             |cur AS (SELECT event_type FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-16'),
             |gates AS (
             |  SELECT 'second_half' AS gate, event_type, 1 AS is_cur FROM cur
             |  UNION ALL SELECT 'second_half', event_type, 0 FROM ref
             |  UNION ALL SELECT 'biased_no_error', event_type, 1 FROM cur WHERE event_type <> 'error'
             |  UNION ALL SELECT 'biased_no_error', event_type, 0 FROM ref),
             |h AS (
             |  SELECT gate, event_type,
             |         CAST(sum(1 - is_cur) AS BIGINT) AS cr, CAST(sum(is_cur) AS BIGINT) AS cc
             |  FROM gates GROUP BY 1, 2),
             |t AS (SELECT gate, CAST(sum(cr) AS BIGINT) AS n_ref, CAST(sum(cc) AS BIGINT) AS n_cur
             |      FROM h GROUP BY 1),
             |a AS (
             |  SELECT h.gate, max(n_ref) AS n_ref, max(n_cur) AS n_cur,
             |         CAST(sum(abs(cr * n_cur - cc * n_ref)) AS BIGINT) AS tvd_num
             |  FROM h JOIN t ON h.gate = t.gate GROUP BY 1)
             |SELECT gate, n_ref, n_cur, tvd_num,
             |       ${Sampling.microRatioSql("tvd_num", "2 * n_ref * n_cur", "//")} AS tvd_ppm,
             |       ${Sampling.microRatioSql("tvd_num", "2 * n_ref * n_cur", "//")} * 16 > 1000000 AS drifted
             |FROM a""".stripMargin),
      (s, dir) => {
        val ev = t(s, dir, "events")
        val ref = ev.filter(to_date(col("ts")) < lit("2024-01-16").cast("date"))
        val cur = ev.filter(to_date(col("ts")) >= lit("2024-01-16").cast("date"))
        val biased = cur.filter(col("event_type") =!= "error")
        Drift.tvdBetween(ref, col("event_type"), cur, col("event_type"), 1L, 16L)
          .withColumn("gate", lit("second_half"))
          .unionByName(
            Drift.tvdBetween(ref, col("event_type"), biased, col("event_type"), 1L, 16L)
              .withColumn("gate", lit("biased_no_error")))
      }),

    // Numeric-column drift: the same TVD series over a BINNED continuous
    // column (fixed width-50 bins over events.value) — the value-
    // distribution monitor; binning is a plain projection, so numeric
    // drift costs exactly what categorical drift costs. Bin width is the
    // caller's statistical choice: too-fine bins drown the signal in
    // per-bin sparsity noise (floor(value) → ~490 buckets pushes every
    // day-pair TVD to 0.7+ at sf0.001).
    Q("q196_drift_numeric",
      Some(tvdSeriesSql("CAST(floor(value / 50) AS BIGINT)")),
      (s, dir) =>
        Drift.tvdSeries(t(s, dir, "events"),
          unix_date(to_date(col("ts"))),
          floor(col("value") / 50).cast("long"))),

    // Per-group drift (the fleet form): one value-distribution series
    // PER EVENT TYPE, alert mean computed within each type's own series
    // — a noisy little source cannot page a quiet big one, and a big
    // stable one cannot drown a drifting niche. Group key comes back as
    // g0 (the lDiversity q0 naming precedent).
    Q("q197_drift_by_group",
      Some(s"""WITH h AS (
             |  SELECT event_type AS g0,
             |         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS period,
             |         CAST(floor(value / 50) AS BIGINT) AS b, count(*) AS c
             |  FROM events GROUP BY 1, 2, 3),
             |tot AS (SELECT g0, period, CAST(sum(c) AS BIGINT) AS n_cur FROM h GROUP BY 1, 2),
             |hp AS (SELECT g0, period + 1 AS period, b, c FROM h),
             |tp AS (SELECT g0, period + 1 AS period, n_cur AS n_prev FROM tot),
             |j AS (
             |  SELECT coalesce(h.g0, hp.g0) AS g0, coalesce(h.period, hp.period) AS period,
             |         coalesce(h.c, 0) AS c, coalesce(hp.c, 0) AS cp
             |  FROM h FULL JOIN hp ON h.g0 = hp.g0 AND h.period = hp.period AND h.b = hp.b),
             |s AS (
             |  SELECT j.g0, j.period, max(n_prev) AS n_prev, max(n_cur) AS n_cur,
             |         CAST(sum(abs(c * n_prev - cp * n_cur)) AS BIGINT) AS tvd_num
             |  FROM j JOIN tot ON j.g0 = tot.g0 AND j.period = tot.period
             |         JOIN tp ON j.g0 = tp.g0 AND j.period = tp.period
             |  GROUP BY 1, 2),
             |p AS (
             |  SELECT g0, period, n_prev, n_cur, tvd_num,
             |         ${graft.operators.Sampling.microRatioSql("tvd_num", "2 * n_cur * n_prev", "//")} AS tvd_ppm
             |  FROM s),
             |st AS (SELECT g0, count(*) AS k, CAST(sum(tvd_ppm) AS BIGINT) AS sv FROM p GROUP BY 1)
             |SELECT p.g0, period, n_prev, n_cur, tvd_num, tvd_ppm,
             |       2 * k * tvd_ppm > 3 * sv AS drifted
             |FROM p JOIN st ON p.g0 = st.g0""".stripMargin),
      (s, dir) =>
        Drift.tvdSeriesBy(t(s, dir, "events"), Seq(col("event_type")),
          unix_date(to_date(col("ts"))),
          floor(col("value") / 50).cast("long"))),

    // Drift attribution: the drill-down behind a q193 page — per
    // day-pair, the top-2 event types by contribution |c·M − cp·N| to
    // the pair's TVD numerator (Σ over all buckets == the series row's
    // tvd_num; the spec pins the decomposition). Rank runs over the
    // histogram frame; ties break on the bucket value.
    Q("q198_drift_attribution",
      Some(s"""${eventHistCtes("event_type")},
             |$bucketPairCte,
             |$attributionCtes
             |SELECT period, bucket, c_prev, c_cur, contrib_num, contrib_ppm, rk
             |FROM r WHERE rk <= 2""".stripMargin),
      (s, dir) =>
        Drift.tvdAttribution(t(s, dir, "events"), Nil,
          unix_date(to_date(col("ts"))), col("event_type"), k = 2)),

    // The composed page payload (Drift.driftReport): every ALERTED
    // period of the q193 series joined to its top-2 q198 attribution
    // buckets — the monitor's actual product as one artifact (did it
    // drift × which buckets moved). Corpus touched once: both composed
    // operators read the shared persisted histogram; everything else is
    // histogram-sized.
    Q("q199_drift_report",
      Some(s"""${eventHistCtes("event_type")},
             |$bucketPairCte,
             |${DriftSql.tvdCtes("s")},
             |alerts AS (
             |  SELECT period, n_prev, n_cur, tvd_num, tvd_ppm FROM p
             |  WHERE 2 * (SELECT count(*) FROM p) * tvd_ppm
             |          > 3 * (SELECT CAST(sum(tvd_ppm) AS BIGINT) FROM p)),
             |$attributionCtes
             |SELECT alerts.period, n_prev, n_cur, tvd_num, tvd_ppm,
             |       bucket, c_prev, c_cur, contrib_num, contrib_ppm, rk
             |FROM alerts JOIN r ON alerts.period = r.period
             |WHERE rk <= 2""".stripMargin),
      (s, dir) =>
        Drift.driftReport(t(s, dir, "events"), Nil,
          unix_date(to_date(col("ts"))), col("event_type"), k = 2))
  )
}

/** The drift-series CTEs shared by the histogram-drift oracles. Each
  * starts from a CTE `h` (period, b, c): the count of bucket `b` in
  * `period`. */
private[queries] object DriftSql {
  import graft.operators.Sampling

  /** Per-period totals `tot`, and `hp`/`tp`: the histogram and totals
    * shifted one period forward, so each period meets its predecessor.
    * Used by q193, q196, q198, q199, q210, q220 and q221. */
  val periodCtes: String =
    """tot AS (SELECT period, CAST(sum(c) AS BIGINT) AS n_cur FROM h GROUP BY 1),
      |hp AS (SELECT period + 1 AS period, b, c FROM h),
      |tp AS (SELECT period + 1 AS period, n_cur AS n_prev FROM tot)""".stripMargin

  /** `j`: each period's bucket counts beside the previous period's, zero
    * where a bucket is absent on one side. Used by q193, q196, q210, q220
    * and q221. */
  val pairCte: String =
    """j AS (
      |  SELECT coalesce(h.period, hp.period) AS period,
      |         coalesce(h.c, 0) AS c, coalesce(hp.c, 0) AS cp
      |  FROM h FULL JOIN hp ON h.period = hp.period AND h.b = hp.b)""".stripMargin

  /** The exact-integer TVD numerator per period pair (CTE `name`) and its
    * ppm ratio `p`, generated from the engine's own micro-ratio helper.
    * Used by q193, q196, q199, q210 (name `s`) and q221 (`sx`). */
  def tvdCtes(name: String): String =
    s"""$name AS (
       |  SELECT j.period, max(n_prev) AS n_prev, max(n_cur) AS n_cur,
       |         CAST(sum(abs(c * n_prev - cp * n_cur)) AS BIGINT) AS tvd_num
       |  FROM j JOIN tot ON j.period = tot.period JOIN tp ON j.period = tp.period
       |  GROUP BY 1),
       |p AS (
       |  SELECT period, n_prev, n_cur, tvd_num,
       |         ${Sampling.microRatioSql("tvd_num", "2 * n_cur * n_prev", "//")} AS tvd_ppm
       |  FROM $name)""".stripMargin

  /** The series rows of `p`, each flagged when its TVD exceeds 1.5× the
    * series mean. Used by q193, q196, q210 and q221. */
  val alertTail: String =
    """SELECT period, n_prev, n_cur, tvd_num, tvd_ppm,
      |       2 * (SELECT count(*) FROM p) * tvd_ppm
      |         > 3 * (SELECT CAST(sum(tvd_ppm) AS BIGINT) FROM p) AS drifted
      |FROM p""".stripMargin
}
