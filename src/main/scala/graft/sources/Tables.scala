package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table readers for the engine's corpus (TESTDATA.md).
  *
  * The reference reads its base tables straight from self-describing
  * parquet (reference: code/project_starter_script.py:24-25); we keep that
  * contract but centralize path handling so queries, bench and verify all
  * load identically. At cluster scale the same entry point is where
  * partition-discovery / bucketed-table metadata would be attached.
  */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  /** The events table's `ts` encoding has drifted across corpus
    * generations — parquet TIMESTAMP(NANOS) (which Spark's vectorized
    * reader rejects outright, [PARQUET_TYPE_ILLEGAL]) in older drops,
    * plain `timestamp[us]` in newer ones — so the reader adapts to the
    * encoding it actually finds instead of hard-wiring one:
    *
    *  - `LongType` (TIMESTAMP(NANOS) surfaced as raw nanos via the
    *    legacy conf, or a plain int64-nanos column): rebuild a
    *    microsecond timestamp with integer `div` — double division would
    *    lose precision above 2^53 ns; truncation (not rounding) matches
    *    how other engines narrow ns→µs.
    *  - `TimestampType`: already what every consumer expects.
    *  - `TimestampNTZType` (parquet timestamp[us] with
    *    isAdjustedToUTC=false, Spark's default inference): the data
    *    contract says the wall-clock values ARE UTC instants (the DuckDB
    *    oracle reads the same file that way), so re-tag explicitly via
    *    `convert_timezone('UTC', sessionZone, ts)::timestamp` — shift the
    *    NTZ wall clock from UTC to the session zone, then cast, which
    *    re-tags those session-local walls as the original instants. Under
    *    a UTC session (the engine default) both steps are identity on the
    *    stored micros; under any other session TZ the conversion keeps
    *    the decoded instants equal to the int64-nanos path instead of
    *    silently shifting them by the zone offset (a bare
    *    `cast(TimestampType)` was only correct because Bench/Verify/
    *    SparkSpec pin UTC — correctness no longer rests on that pin).
    *  - anything else: fail loudly naming the type. A reader that
    *    silently misreads a new encoding is strictly worse than one that
    *    throws (a µs-as-ns misread once compressed 30 days of events
    *    into 43 minutes and returned plausible-looking garbage).
    */
  private[graft] def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType          => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType     => df
      case TimestampNTZType  =>
        val zone = df.sparkSession.conf.get("spark.sql.session.timeZone")
        df.withColumn("ts",
          expr(s"convert_timezone('UTC', '$zone', ts)").cast(TimestampType))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other — expected raw int64 nanos, " +
          "TIMESTAMP, or TIMESTAMP_NTZ; teach Tables.normalizeEventsTs the new encoding")
    }
  }

  private def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    // harmless for non-NANOS files; required to read NANOS files at all
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/events.parquet")
  }

  def region(s: SparkSession, dir: String): DataFrame    = load(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame    = load(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame  = load(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame  = load(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame      = load(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame    = load(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame  = load(s, dir, "lineitem")
  def events(s: SparkSession, dir: String): DataFrame =
    normalizeEventsTs(eventsRaw(s, dir))
  /** Repair pathological scan under-parallelism. A single-file, single-
    * row-group parquet table plans as ONE scan task no matter how many
    * cores the cluster has (extra byte-range splits of one row group read
    * zero rows), which serializes every CPU-bound per-row stage downstream
    * — per-token hashing over `documents` was running on 1 of 32 cores.
    * When the scan already has enough splits (any real multi-file corpus,
    * e.g. the 100 TB case) this is a no-op; otherwise one cheap
    * round-robin exchange of the raw rows buys parallelism for everything
    * after it. Filters/pruning still reach the scan — Catalyst pushes
    * both through a Repartition.
    *
    * The repair width is derived from INPUT BYTES, not pinned to the core
    * count (r19 — the 32-slower-than-8 fix): ceil(scanBytes / 32 KB of
    * parquet per task — the shingle/md5 pipelines cost ~2-4 µs of CPU per
    * compressed byte, so a 32 KB slice is a ~100 ms task), capped at
    * defaultParallelism. A
    * core-pinned width made EVERY documents-derived stage `cpus` tasks
    * wide regardless of data volume; at 32 threads on this fixture the
    * per-task launch+serde overhead made whole families measurably slower
    * than the same code at 8 threads (BENCH_r18_c8 vs r18: every scaling
    * ratio ≤ 1.09; the min-of-6 A/B behind this change: q155 4.06→3.42 s,
    * q179 2.78→2.41 s, q124 1.83→1.64 s at 32 threads). Byte-derived, the
    * width grows with the corpus until the core cap binds — at which
    * point a real cluster's scan has that many native splits anyway. */
  private def balanced(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val cores = BigInt(spark.sparkContext.defaultParallelism)
    val perTask = BigInt(32L << 10)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = ((bytes + perTask - 1) / perTask).min(cores).max(BigInt(1)).toInt
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** documents/embeddings feed the CPU-heavy per-row pipelines (shingle
    * hashing, simhash, dot products), so their readers go through
    * [[balanced]]; the relational tables keep the raw scan — their queries
    * are shuffle-bound at the aggregation, not map-bound at the scan. */
  def documents(s: SparkSession, dir: String): DataFrame = balanced(load(s, dir, "documents"))
  def embeddings(s: SparkSession, dir: String): DataFrame = balanced(load(s, dir, "embeddings"))
}
