package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic relational combinators — the reference's recurring query shapes
  * (SURVEY.md §2.4-§2.6) factored into reusable, shuffle-aware operators.
  */
object Relational extends org.apache.spark.internal.Logging {

  /** Per-group top-k via `row_number` over a deterministic ordering
    * (reference: code/nlp/NFL_Processing.py:504-506 — rank game-thread
    * tokens by TF-IDF and keep 1..5). One shuffle on `partitionCols`.
    * Callers must include a unique tie-breaker in `orderCols` when the
    * primary sort key can tie, or results are nondeterministic. */
  def topKPerGroup(df: DataFrame, partitionCols: Seq[Column],
                   orderCols: Seq[Column], k: Int,
                   rankCol: String = "rnk"): DataFrame = {
    val w = Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*)
    df.withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= k)
  }

  /** Running aggregate per key with a RANGE unboundedPreceding..currentRow
    * frame (reference: code/eda/project_eda.py:482-510 — per-author running
    * score sum / post count). RANGE (not ROWS) so peer rows with the same
    * order value share a frame — deterministic under order-key ties. */
  def runningAggs(df: DataFrame, partitionCol: Column, orderCol: Column,
                  aggs: (Column => Column, String)*): DataFrame = {
    val w = Window.partitionBy(partitionCol).orderBy(orderCol)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    aggs.foldLeft(df) { case (d, (f, name)) =>
      d.withColumn(name, f(orderCol).over(w))
    }
  }

  /** Value-histogram with a running cumulative count, the engine-side
    * version of the reference's driver-side pandas `cumsum` over a
    * comment-length histogram (code/nlp/NFL_Processing.py:56-77). The
    * cumsum window is unpartitioned but runs AFTER the aggregation, so at
    * scale it sees only |distinct buckets| rows, not the input. */
  def histogramWithCumsum(df: DataFrame, bucket: Column,
                          bucketName: String = "bucket"): DataFrame = {
    val w = Window.orderBy(col(bucketName))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.groupBy(bucket.as(bucketName))
      .agg(count(lit(1)).as("n"))
      .withColumn("cum_n", sum(col("n")).over(w))
  }

  /** Cross-tab counts (reference confusion matrix,
    * code/ml/ML_Modeling.py:410 / ML_Sentiment.py:277, kept in-engine as
    * groupBy+pivot per SURVEY.md §2.11). `colValues` must be the explicit
    * pivot domain: it keeps the plan to one shuffle (no distinct-value
    * pre-scan) and a stable column order. */
  def crossTab(df: DataFrame, rowKey: Column, colKey: Column,
               colValues: Seq[String]): DataFrame =
    df.groupBy(rowKey).pivot(colKey, colValues).count().na.fill(0L)

  /** Salted equi-join for skewed keys: the left (skewed) side gets a
    * deterministic salt derived from a caller-chosen distributor column;
    * the right side is replicated across all `buckets` salt values. Same
    * result as a plain inner equi-join, but the hot key's rows spread over
    * `buckets` tasks instead of one straggler. AQE's skew-join handles
    * moderate skew automatically; salting is the explicit tool for the
    * pathological keys (reference hazard: the Zipfian link_id join,
    * SURVEY.md §4 "Skew"). */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 distributor: Column, buckets: Int): DataFrame = {
    val salted = left.withColumn("_salt", pmod(xxhash64(distributor), lit(buckets)))
    val replicated = right
      .withColumn("_salt", explode(sequence(lit(0), lit(buckets - 1))))
      .withColumn("_salt", col("_salt").cast("long"))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }

  /** Exact interpolated quantiles per group (`quantile_cont` semantics:
    * value at 0-based position p·(n-1), linearly interpolated), computed
    * over DISTINCT-VALUE counts, not by buffering rows.
    *
    * Spark's `percentile(...)` aggregate is a TypedImperativeAggregate that
    * holds every value of the group in executor memory — 14 s at sf0.1 and
    * an OOM at 100 TB (a 3-group corpus would buffer billions of values in
    * the three final tasks). This formulation melts the requested value
    * columns to (group, metric, v) rows, collapses them to per-distinct-
    * value counts FIRST (map-side combine: duplicates never cross the
    * wire), then sorts only the distinct values through a spillable window
    * to build cumulative ranks. A value v with count c covers 1-based rank
    * range (cum−c, cum]; each quantile needs the ≤2 values whose ranges
    * contain ⌊pos⌋ / ⌊pos⌋+1, and interpolates. Cost is bounded by
    * |distinct values| per (group, metric) — for a low-cardinality column
    * (l_quantity: 50 distinct) the 100 TB sort is 50 rows, and in the
    * worst all-unique case it degrades exactly to the previous all-rows
    * rank, never worse. Identical answers to Spark's exact percentile
    * (same lower + frac·(higher−lower) lerp).
    *
    * `specs`: (valueColumn, probability in [0,1], outputAlias). Output:
    * one row per group, one column per spec, values rounded to `scale`.
    */
  def groupedQuantilesExact(df: DataFrame, groupCol: String,
                            specs: Seq[(String, Double, String)],
                            scale: Int = 4): DataFrame = {
    val metrics = specs.map(_._1).distinct
    val stackExpr = expr(
      s"stack(${metrics.size}, ${metrics.map(m => s"'$m', CAST($m AS DOUBLE)").mkString(", ")}) AS (metric, v)")
    val melted = df.select(col(groupCol), stackExpr).where(col("v").isNotNull)
    val counted = melted.groupBy(col(groupCol), col("metric"), col("v"))
      .agg(count(lit(1)).as("c"))
    val part = Window.partitionBy(col(groupCol), col("metric"))
    val ranked = counted
      .withColumn("cum", sum(col("c")).over(part.orderBy(col("v"))))
      .withColumn("n", sum(col("c")).over(part))
    // 0-based target position p·(n−1), expressed against 1-based ranks;
    // value v covers ranks (cum−c, cum].
    def pos(p: Double): Column = lit(p) * (col("n") - 1).cast("double") + 1d
    def loRn(p: Double): Column = floor(pos(p)).cast("long")
    def hiRn(p: Double): Column = least(loRn(p) + 1, col("n"))
    def covers(rn: Column): Column = rn > col("cum") - col("c") && rn <= col("cum")
    val isNeeded = specs.map { case (m, p, _) =>
      col("metric") === m && (covers(loRn(p)) || covers(hiRn(p)))
    }.reduce(_ || _)
    val aggs = specs.map { case (m, p, alias) =>
      val onMetric = col("metric") === m
      val lo = max(when(onMetric && covers(loRn(p)), col("v")))
      val hi = max(when(onMetric && covers(hiRn(p)), col("v")))
      val frac = max(when(onMetric, pos(p) - floor(pos(p))))
      round(lo + frac * (hi - lo), scale).as(alias)
    }
    ranked.filter(isNeeded)
      .groupBy(groupCol)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** As-of join (pandas merge_asof / DuckDB ASOF JOIN): for every left
    * row, the single right row with the largest `rightTime` <= `leftTime`
    * within the same key (inclusive, left-outer). Spark has no native
    * operator; a direct inequality join would plan as a per-key cross
    * product. This is the union+window re-expression: tag the sides,
    * union them, sort each key partition ONCE by (time, side) — right
    * rows ahead of left rows at equal timestamps for the inclusive
    * match — and carry the last-seen right values forward with
    * `last(_, ignoreNulls)`. One spillable-sort shuffle on the key, the
    * same cost class as a sort-merge join, at any scale.
    *
    * `right` must be unique per (key, rightTime) — pre-aggregate if not
    * (ties would otherwise resolve by union order). Output: every left
    * row + `rightCols` (null where no right row precedes). `rightCols`
    * must not collide with left column names. */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String,
               leftTime: String, rightTime: String,
               rightCols: Seq[String]): DataFrame = {
    // The right row is carried as ONE struct, not per-column: a struct is
    // non-null on every right row even when its fields are null, so
    // last(ignoreNulls) always picks the latest right ROW atomically.
    // Carrying columns independently would resurrect an older row's value
    // wherever the latest row holds a null — a merged row that never
    // existed (diverging from merge_asof / DuckDB ASOF semantics).
    val rStructType = org.apache.spark.sql.types.StructType(
      rightCols.map(c => org.apache.spark.sql.types.StructField(c, right.schema(c).dataType)))
    val lPadded = left
      .withColumn("_t", col(leftTime))
      .withColumn("_side", lit(0))
      .withColumn("_r", lit(null).cast(rStructType))
    val leftPad = left.columns.filterNot(_ == key)
      .map(c => c -> left.schema(c).dataType)
    val rSide0 = right
      // a NULL right timestamp can never satisfy "largest rt <= t"
      // (merge_asof/ASOF semantics) — drop it here, or it would sort
      // nulls-first and be carried as the "earliest" row
      .filter(col(rightTime).isNotNull)
      .select((Seq(key, rightTime) ++ rightCols).distinct.map(col): _*)
      .withColumn("_t", col(rightTime))
      .withColumn("_side", lit(1))
      .withColumn("_r", struct(rightCols.map(col): _*))
    val rPadded = leftPad.foldLeft(rSide0) { case (d, (c, dt)) =>
      d.withColumn(c, lit(null).cast(dt))
    }
    val unioned = lPadded.unionByName(rPadded.select(lPadded.columns.map(col): _*))
    val w = Window.partitionBy(col(key))
      .orderBy(col("_t"), col("_side").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned.withColumn("_r", last(col("_r"), ignoreNulls = true).over(w))
    rightCols.foldLeft(carried) { (d, c) => d.withColumn(c, col("_r").getField(c)) }
      .filter(col("_side") === 0).drop("_t", "_side", "_r")
  }

  /** Bucketed range join: point-in-interval matching as an equi-join.
    * Spark plans `point BETWEEN lo AND hi` as a broadcast-nested-loop (or
    * cartesian) — quadratic. Chunking the number line makes it linear:
    * every interval explodes to the chunks it overlaps
    * (⌈width/chunk⌉+1 rows), every point probes exactly its own chunk,
    * and the exact BETWEEN filter runs on the equi-join's survivors. No
    * duplicates by construction (a point lives in one chunk). Pick
    * `chunk` ≈ the typical interval width. */
  def rangeJoin(points: DataFrame, pointCol: Column,
                intervals: DataFrame, loCol: Column, hiCol: Column,
                chunk: Double): DataFrame = {
    val p = points.withColumn("_chunk", floor(pointCol / chunk).cast("long"))
    val iv = intervals.withColumn("_chunk",
      explode(sequence(floor(loCol / chunk).cast("long"),
        floor(hiCol / chunk).cast("long"))))
    p.join(iv, "_chunk")
      .filter(pointCol >= loCol && pointCol <= hiCol)
      .drop("_chunk")
  }

  /** Fuzzy (edit-distance) self-pairs over a dimension: id-ordered pairs
    * within `maxDist` edits. The length-difference prune — a necessary
    * condition for edit distance — sits in the join condition so it cuts
    * pairs before levenshtein evaluates. For anything beyond
    * dimension-sized inputs use [[fuzzyPairsBlocked]], which turns the
    * same prune into a blocking equi-key so the pair space never
    * materializes; this direct form remains for ad-hoc dimension work
    * (name canonicalization, key reconciliation). */
  def fuzzyPairs(df: DataFrame, idCol: Column, nameCol: Column,
                 maxDist: Int): DataFrame = {
    val a = df.select(idCol.as("id1"), nameCol.as("name1"))
    val b = df.select(idCol.as("id2"), nameCol.as("name2"))
    a.join(b, col("id1") < col("id2")
        && abs(length(col("name1")) - length(col("name2"))) <= maxDist)
      .withColumn("dist", levenshtein(col("name1"), col("name2")).cast("long"))
      .filter(col("dist") <= maxDist)
  }

  /** Scale-safe [[fuzzyPairs]]: the length-difference prune becomes a
    * BLOCKING equi-key, so the pair space never materializes and the plan
    * is a hash/sort-merge join instead of the quadratic
    * BroadcastNestedLoop the direct theta-join gets. Band =
    * ⌊len/(maxDist+1)⌋; any pair within `maxDist` edits has
    * |len(a)−len(b)| ≤ maxDist < bandWidth, so its bands differ by at most
    * one. Both sides emit {band, band+1} and a match is kept only at the
    * GREATER of the two true bands — every qualifying pair matches in
    * exactly one band (no duplicates), adjacent-band pairs included.
    * Cost: 2× row duplication through one shuffle, vs |df|² candidate
    * pairs. Results are identical to [[fuzzyPairs]] (spec-asserted). */
  def fuzzyPairsBlocked(df: DataFrame, idCol: Column, nameCol: Column,
                        maxDist: Int): DataFrame = {
    val bandW = maxDist + 1
    def side(n: Int) = df.select(idCol.as(s"id$n"), nameCol.as(s"name$n"))
      .withColumn(s"_b$n", floor(length(col(s"name$n")) / bandW).cast("long"))
      .withColumn("_band", explode(array(col(s"_b$n"), col(s"_b$n") + 1L)))
    side(1).join(side(2), Seq("_band"))
      .filter(col("_band") === greatest(col("_b1"), col("_b2"))
        && col("id1") < col("id2")
        && abs(length(col("name1")) - length(col("name2"))) <= maxDist)
      .withColumn("dist", levenshtein(col("name1"), col("name2")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("id1"), col("name1"), col("id2"), col("name2"), col("dist"))
  }

  /** Deterministic mixture resampling: replicate (or drop) rows so each
    * class hits its target weight — the domain-mixing step that turns a
    * filtered corpus into a training mixture ("2.3× books, 0.5× web").
    * A weight w yields ⌊w⌋ copies plus one more for the hash-selected
    * (w−⌊w⌋) fraction of rows, keyed on a PORTABLE content hash of the id
    * — so the mixture is reproducible across engines, runs, and cluster
    * layouts, unlike `sample()`'s partition-seeded RNG, and any row's
    * in/out decision can be audited after the fact. Pure per-row
    * projection + generator: no shuffle, no state; classes absent from
    * `weights` default to 1.0. */
  def resampleMixture(df: DataFrame, idCol: Column, classCol: Column,
                      weights: Map[String, Double]): DataFrame = {
    require(weights.values.forall(_ >= 0), s"negative weight in $weights")
    val w = weights.foldLeft(lit(1.0)) { case (acc, (k, v)) =>
      when(classCol === k, lit(v)).otherwise(acc)
    }
    import graft.functions.TextFunctions.portableHash
    val frac = (w - floor(w)) * 1000d
    val copies = (floor(w) +
      when(pmod(portableHash(idCol.cast("string")), lit(1000)) < frac, 1L)
        .otherwise(0L)).cast("long")
    // guard: Spark's sequence(1, 0) infers a DESCENDING step and yields
    // [1, 0] — a 0-copy row must produce an empty array (dropped by
    // explode), not two copies
    df.withColumn("copy_n",
      explode(when(copies >= 1L, sequence(lit(1L), copies))))
  }

  /** CDC apply (the batch MERGE/upsert a snapshot pipeline runs): overlay a
    * change set onto a base table, latest version per key wins, deletes
    * drop the key. `changes` carries (`keyCol`, payload…, `versionCol` > 0,
    * `opCol` ∈ {'U','I','D'}); the base is treated as version 0. One
    * window over a single hash shuffle on the key — rank rows per key by
    * version descending, keep the head, filter deletes. No driver-side
    * diffing, no join explosion: cost is a sort of (base ∪ changes) within
    * key partitions, the same class as the sort-merge join a MERGE INTO
    * would plan. Versions must be unique per key (upstream CDC sequence
    * numbers are); equal versions would tie non-deterministically.
    *
    * A base that already carries `versionCol` (a snapshot produced by a
    * previous apply — the streaming sink re-merges every batch) keeps its
    * stored versions rather than being reset to 0: an untouched key's row
    * must survive with its true version, or the snapshot would lie to any
    * later out-of-order audit. */
  def applyCdc(base: DataFrame, changes: DataFrame,
               keyCol: String, versionCol: String, opCol: String): DataFrame = {
    val withVer =
      if (base.columns.contains(versionCol)) base
      else base.withColumn(versionCol, lit(0L))
    val based = (
      if (withVer.columns.contains(opCol)) withVer
      else withVer.withColumn(opCol, lit("U")))
      .select(changes.columns.map(col).toIndexedSeq: _*)
    val w = Window.partitionBy(col(keyCol)).orderBy(col(versionCol).desc)
    based.unionByName(changes)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col(opCol) =!= "D")
      .drop("_rn", opCol)
  }

  /** Exact deduplication keeping the smallest `tieBreaker` row per key —
    * one hash-aggregate shuffle on the (hashed) key. The training-data
    * dedup baseline (builder brief): at 100 TB the groupBy key is
    * `xxhash64(text)` rather than the full text so shuffle rows stay
    * small; collisions at 64-bit are negligible (~5e-8 at 1e9 docs). */
  /** Corpus snapshot diff — classify every key across two corpus
    * versions as `added` / `removed` / `changed` / `unchanged`. The audit
    * step between crawls or dataset releases: what a new release
    * actually changed, before dedup/training decide what to do about it.
    *
    * One full-outer join on the key. Presence is tracked with explicit
    * marker columns, NOT payload nullness (a legitimately-null payload in
    * both versions is `unchanged`, not `added`); payload comparison is
    * null-safe `<=>`. At 100 TB pass a CONTENT HASH as `payloadCol`
    * (e.g. `portableHash(text)`, or a struct of the columns that define
    * identity) so the join moves 8-byte keys + hashes, never bodies —
    * and co-locate the two snapshots by bucketing on the key to drop the
    * shuffle entirely. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   keyCol: Column, payloadCol: Column): DataFrame =
    oldDf.select(keyCol.as("key"), payloadCol.as("_ov"), lit(true).as("_op"))
      .join(
        newDf.select(keyCol.as("key"), payloadCol.as("_nv"), lit(true).as("_np")),
        Seq("key"), "full_outer")
      .select(col("key"),
        when(col("_op").isNull, lit("added"))
          .when(col("_np").isNull, lit("removed"))
          .when(!(col("_ov") <=> col("_nv")), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))

  /** Bloom-filter join pruning: drop big-side rows whose key cannot be in
    * `small` BEFORE the join shuffle — the runtime-filter technique that
    * turns a fact⋈dim join at 100 TB from "shuffle everything" into
    * "shuffle the ~matching fraction". The filter is built with ONE
    * aggregate over the small side (Spark's own BloomFilterAggregate —
    * partial sketches OR-merge, so it is map-side combinable), embedded
    * as a literal, and evaluated as a codegen'd per-row probe
    * (BloomFilterMightContain) with zero shuffle on the big side.
    * Returns the pruned big side: a SUPERSET of the rows with matches
    * (fpp controls the false-positive excess) — callers still run the
    * exact join on the survivors; no row with a match is ever dropped.
    * Complements Spark's automatic runtime bloom filters (which only
    * trigger inside one query plan): this form works across frames,
    * e.g. pruning a scan against yesterday's key set. */
  def bloomPruned(big: DataFrame, bigKey: Column,
                  small: DataFrame, smallKey: Column,
                  estimatedItems: Long = 1000000L,
                  numBits: Long = 8L * 1024 * 1024): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.types.BinaryType
    val agg = new BloomFilterAggregate(Bridge.expression(xxhash64(smallKey)),
      Literal(estimatedItems), Literal(numBits)).toAggregateExpression()
    val sketch = small.select(Bridge.column(agg)).head.getAs[Array[Byte]](0)
    if (sketch == null) big.limit(0) // empty small side: nothing can match
    else big.filter(Bridge.column(BloomFilterMightContain(
      Literal(sketch, BinaryType), Bridge.expression(xxhash64(bigKey)))))
  }

  /** Bloom-accelerated ANTI join — keep the big-side rows whose key is
    * NOT in `small` (the crawl-frontier / not-yet-seen shape). The bloom
    * probe's direction makes anti-joins the best case for the sketch: a
    * row whose probe says "cannot be in small" is PROVEN new (a bloom
    * filter has no false negatives) and bypasses the join entirely —
    * only the might-contain fraction (true matches + fpp noise) pays the
    * exact anti-join shuffle. At a crawl frontier where most discovered
    * URLs are genuinely new, that is the difference between shuffling
    * the whole frontier and shuffling a sliver.
    *
    * The big side is read twice (two complementary filters of one
    * scan); for a columnar source a second pruned scan is far cheaper
    * than shuffling the bypassed rows — callers with an expensive big
    * plan persist it first. Semantics are EXACTLY `left_anti` on
    * `bigKey = smallKey`: the result is the anti-join, just cheaper.
    *
    * Sizing: pass `estimatedItems` when the caller knows the small
    * side's cardinality; the default (-1) derives it with a key-only
    * `small.count()` — one cheap extra pass that keeps the fpp honest
    * (a fixed 1M default against a 100M-key crawled index drives fpp
    * toward 1 and silently degrades the bypass to a plain anti-join).
    * `numBits` defaults to 8 bits/item (fpp ≈ 2%) with NO large floor:
    * Spark derives the hash-function count as k ≈ (bits/items)·ln 2,
    * so a big fixed floor against a small item count explodes k into
    * the thousands and every probe pays it. Spark itself caps both
    * against the runtime-bloom-filter session confs, and when the
    * capped sketch falls under 2 bits/item (fpp ≳ 40% — the bypass has
    * mostly evaporated) a warning is logged rather than failing:
    * correctness never depends on the sketch. */
  def bloomAntiJoin(big: DataFrame, bigKey: Column,
                    small: DataFrame, smallKey: Column,
                    estimatedItems: Long = -1L,
                    numBits: Long = -1L): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.types.BinaryType
    val items =
      if (estimatedItems > 0L) estimatedItems
      else math.max(1L, small.select(smallKey.as("k")).count())
    val bits =
      if (numBits > 0L) numBits
      else math.max(64L, 8L * items)
    val maxBits = org.apache.spark.sql.internal.SQLConf.get.getConf(
      org.apache.spark.sql.internal.SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_BITS)
    if (math.min(bits, maxBits) < 2L * items)
      log.warn(s"bloomAntiJoin: sketch capped at ${math.min(bits, maxBits)} " +
        s"bits for ~$items keys (<2 bits/item) — fpp near 1, bypass " +
        "mostly degrades to the plain anti-join; raise " +
        "spark.sql.optimizer.runtime.bloomFilter.maxNumBits or prune the " +
        "small side")
    val agg = new BloomFilterAggregate(Bridge.expression(xxhash64(smallKey)),
      Literal(items), Literal(bits)).toAggregateExpression()
    val sketch = small.select(Bridge.column(agg)).head.getAs[Array[Byte]](0)
    if (sketch == null) return big // empty small side: everything is new
    val might = Bridge.column(BloomFilterMightContain(
      Literal(sketch, BinaryType), Bridge.expression(xxhash64(bigKey))))
    // internal key name salted per-call so a big-side column of the same
    // name can never capture the join condition
    val k = s"__graft_bloom_k_${bloomJoinSeq.incrementAndGet()}"
    val provenNew = big.filter(!might)
    val candidates = big.filter(might)
      .join(small.select(smallKey.as(k)).distinct(), bigKey === col(k), "left_anti")
    provenNew.unionByName(candidates)
  }

  private val bloomJoinSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Distributed global prefix sum (running total in a TOTAL order) —
    * the scale-correct form of `sum() OVER (ORDER BY …)`: an
    * unpartitioned window funnels every row through ONE task; this runs
    * the classic two-pass scan instead. Range-partition + sort by the
    * order key (ONE exchange — Spark's sampled split points put
    * partition i strictly before partition i+1), pass 1 reduces each
    * partition to its value total (#partitions longs to the driver —
    * tiny by construction), pass 2 re-reads the persisted partitions and
    * emits the local cumsum shifted by the exclusive scan of those
    * totals. The per-partition accumulation is genuine imperative
    * per-partition logic (the one place the engine's no-RDD rule makes
    * an exception, like sequence packing): a partitionBy(_pid) window
    * would satisfy neither RangePartitioning nor avoid a SECOND
    * full-data hash exchange, and a max-of-running-sum offset would be
    * wrong the moment values go negative — the fold is exact for any
    * sign. Values are summed as longs via `Math.addExact` — a running
    * total that exceeds Long range throws instead of wrapping (note the
    * non-ANSI `cast("long")` itself truncates fractional doubles; feed
    * integral values). The order key must be unique for a well-defined
    * total order.
    *
    * Scale shape: one range exchange, one persisted materialization read
    * twice, #partitions longs through the driver. No stage ever holds
    * more than its partition. */
  def prefixSum(df: DataFrame, orderCol: Column, valueCol: Column,
                partitions: Int = 0,
                scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val spark = df.sparkSession
    val n = if (partitions > 0) partitions
      else spark.sparkContext.defaultParallelism
    val prepared = scope.persist(
      df.withColumn("_v", valueCol.cast("long"))
        .repartitionByRange(n, orderCol)
        .sortWithinPartitions(orderCol))
    val vIdx = prepared.schema.fieldIndex("_v")
    val totals = prepared.rdd.mapPartitionsWithIndex { (pid, it) =>
      var s = 0L
      it.foreach(r => s = Math.addExact(s, r.getLong(vIdx)))
      Iterator((pid, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = spark.sparkContext.broadcast(totals.scanLeft(0L)(Math.addExact))
    val outSchema = prepared.schema
      .add(org.apache.spark.sql.types.StructField("running",
        org.apache.spark.sql.types.LongType, nullable = false))
    val out = prepared.rdd.mapPartitionsWithIndex { (pid, it) =>
      var acc = offsets.value(pid)
      it.map { r =>
        acc = Math.addExact(acc, r.getLong(vIdx))
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ acc)
      }
    }
    spark.createDataFrame(out, outSchema).drop("_v")
  }

  /** Depth of every node in a parent-pointer hierarchy (comment-thread
    * trees, category taxonomies, org charts) by POINTER DOUBLING: the
    * state table maps each node to (its 2^i-th ancestor, hops consumed),
    * and one self-join per round squares the jump — depth-d hierarchies
    * resolve in ⌈log₂ d⌉ joins, not d (the naive per-level loop is
    * unrunnable on a deep thread at 100 TB). Roots are rows whose parent
    * is null or equals the id; a node whose walk hasn't reached a root
    * within 2^maxDoubling hops throws (cycle or deeper-than-declared —
    * loud, like connectedComponents' maxIter).
    *
    * Scale shape per round: one equi-join on the 8-byte ancestor key +
    * one convergence count on the driver (a scalar, not data); the
    * rounds run through [[Fixpoint.converge]], like
    * [[graft.dedup.Dedup.connectedComponents]]. Finished walks are SPLIT
    * OUT of the advancing side as soon as they resolve and unioned back
    * at the end — on the common mostly-shallow forest (Reddit-thread
    * shape) most walks finish in rounds 1–2, so the join's streamed
    * input shrinks geometrically instead of carrying resolved rows
    * through every remaining round. Finished rows still serve as hop
    * TARGETS (an open walk completes by landing on one), so the build
    * side stays the full node set — that is inherent to the algorithm.
    *
    * `roundProbe` (default no-op) receives (round, openWalks) before
    * each round — instrumentation for specs and scale probes, not a
    * data-path hook. */
  def hierarchyDepth(df: DataFrame, idCol: Column, parentCol: Column,
                     maxDoubling: Int = 20,
                     roundProbe: (Int, Long) => Unit = (_, _) => ()): DataFrame = {
    val isRoot = parentCol.isNull || parentCol === idCol
    // loop state: (node, anc, d, fin) — after `d` hops from `node` the
    // walk stands at `anc`, `fin` once that is a root. The init holds
    // every node (roots resolved at depth 0); each later state holds only
    // the walks its round advanced. `resolved` collects every stepped
    // state's finished walks, newest first.
    val resolved = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val (walks, _, settled) = Fixpoint.converge(
        df.select(idCol.as("node"), when(isRoot, idCol).otherwise(parentCol).as("anc"),
          when(isRoot, lit(0L)).otherwise(lit(1L)).as("d"), isRoot.as("fin")),
        maxDoubling) { walks =>
      walks.filter(col("fin")).drop("fin") +=: resolved
      val open = walks.filter(!col("fin")).drop("fin")
      // hop lookup = every node's best-known walk (open ∪ resolved); a hop
      // landing on a resolved row means the walk has reached its root
      val hop = (open.withColumn("j_fin", lit(false)) :: resolved.toList.map(
          _.withColumn("j_fin", lit(true))))
        .reduce(_ unionByName _)
        .select(col("node").as("j_node"), col("anc").as("j_anc"),
          col("d").as("j_d"), col("j_fin"))
      open.join(hop, open("anc") === hop("j_node"), "left")
        .select(col("node"),
          coalesce(col("j_anc"), col("anc")).as("anc"),
          (col("d") + coalesce(col("j_d"), lit(0L))).as("d"),
          coalesce(col("j_fin"), lit(false)).as("fin"))
    } { (round, _, walks) =>
      val openCount = walks.filter(!col("fin")).count()
      if (openCount > 0 && round < maxDoubling) roundProbe(round, openCount)
      openCount > 0
    }
    require(settled,
      s"hierarchy deeper than 2^$maxDoubling, cyclic, or dangling parents: " +
        s"${walks.filter(!col("fin")).count()} unresolved walks")
    (walks.filter(col("fin")).drop("fin") +: resolved.toList)
      .reduce(_ unionByName _).select(col("node"), col("d").as("depth"))
  }

  def dedupExactKeepFirst(df: DataFrame, key: Column, tieBreaker: Column): DataFrame =
    df.groupBy(key.as("dedup_key"))
      .agg(min(tieBreaker).as("keeper"), count(lit(1)).as("n_dups"))
}
