package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}
import graft.sources.Tables

class ReleaseSpec extends SparkSpec with TempDirs {

  private val d = Tables.documents(spark, sfDir).select("doc_id", "text")

  test("writeRelease: files on disk re-derive the exact returned manifest") {
    val dir = tempDir("graft_release").toString
    val m = Release.writeRelease(d, col("doc_id"), col("text"), 8, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    // every shard directory exists and re-reading reproduces the manifest
    val back = spark.read.parquet(dir)
    val m2 = Release.manifest(back, col("doc_id"), col("text"), 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(m === m2)
    assert(m.keySet === (0L until 8L).toSet)
    assert(m.values.map(_._1).sum === d.count())
    // partition directories are per-shard fetchable units
    (0 until 8).foreach { s =>
      assert(Files.exists(java.nio.file.Paths.get(dir, s"shard=$s")), s"shard $s")
    }
  }

  test("sharding is content-stable: input order and partitioning don't move docs") {
    val a = Release.manifest(d, col("doc_id"), col("text"), 8)
      .collect().map(_.toString).sorted.toSeq
    val shuffled = d.orderBy(rand(42)).repartition(3)
    val b = Release.manifest(shuffled, col("doc_id"), col("text"), 8)
      .collect().map(_.toString).sorted.toSeq
    assert(a === b)
  }

  test("checksum catches a corrupted row") {
    val m = Release.manifest(d, col("doc_id"), col("text"), 8)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val corrupted = d.withColumn("text",
      when(col("doc_id") === d.select(min("doc_id")).head.getLong(0),
        concat(col("text"), lit("x"))).otherwise(col("text")))
    val mc = Release.manifest(corrupted, col("doc_id"), col("text"), 8)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(m !== mc)
    // and only the corrupted doc's shard moved
    assert(m.count { case (k, v) => mc(k) != v } === 1)
  }

  test("dataCard: volume, election tie-break, median, dup rate — hand-computed") {
    import spark.implicits._
    val rows = Seq(
      // src a: 4 docs, langs en(2)/de(2) — COUNT TIE, election must pick
      // the lexicographically larger lang at equal counts (struct order);
      // one exact dup pair; lengths 2,2,3,7 → median (2+3)/2 = 2.5
      ("a", "en", "xx"), ("a", "en", "xx"), ("a", "de", "yyy"), ("a", "de", "zzzzzzz"),
      // src b: 2 docs, single lang, no dups; lengths 1,5 → median 3.0
      ("b", "fr", "q"), ("b", "fr", "wwwww"))
      .toDF("source", "lang", "text")
    val got = Release.dataCard(rows, col("source"), col("text"), col("lang"))
      .as[(String, Long, Long, Long, Long, String, Long, Double, Long)]
      .collect().map(r => r._1 -> r).toMap
    // (source, n_docs, n_chars, share_ppm, n_langs, major_lang,
    //  major_lang_ppm, median_chars, exact_dup_ppm)
    assert(got("a") == (("a", 4L, 14L, 666666L, 2L, "en", 500000L, 2.5, 250000L)),
      got.toString)
    assert(got("b") == (("b", 2L, 6L, 333333L, 1L, "fr", 1000000L, 3.0, 0L)),
      got.toString)
  }

  test("dataCard mega-source: grouped-quantile median == percentile() on a 1-source-dominates corpus") {
    import spark.implicits._
    // the shape the groupedQuantilesExact reroute exists for: one source
    // holding ~all rows (the per-group state of a buffering percentile
    // would scale with that group's row count). 403 rows in "mega" with
    // repeated lengths, 3 in "tiny". Odd count -> exact middle element;
    // the driver-computed value and Spark's own percentile() must both
    // agree with the card.
    val lengths = (1 to 403).map(i => (i * 37 % 97) + 1) // many repeats, 1..97
    val rows = lengths.zipWithIndex.map { case (n, i) =>
      ("mega", "en", "x" * n, i) } ++
      Seq(("tiny", "en", "ab", 9001), ("tiny", "en", "abcd", 9002),
        ("tiny", "en", "abcdef", 9003))
    val df = rows.toDF("source", "lang", "text", "i")
    val got = Release.dataCard(df, col("source"), col("text"), col("lang"))
      .select("source", "median_chars")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // driver-computed interpolated medians
    def medianOf(xs: Seq[Int]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2).toDouble
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    assert(got("mega") === medianOf(lengths))
    assert(got("tiny") === 4.0)
    // and equality with the buffering percentile() the reroute replaced
    val viaPercentile = df
      .groupBy("source")
      .agg(round(expr("percentile(length(text), 0.5)"), 1).as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got === viaPercentile)
  }

  test("dataCard keeps a degenerate all-NULL-text source, median null") {
    import spark.implicits._
    val df = Seq(("a", "en", Some("xyz")), ("a", "en", Some("pqrst")),
      ("ghost", "en", None), ("ghost", "en", None))
      .toDF("source", "lang", "text")
    val got = Release.dataCard(df, col("source"), col("text"), col("lang"))
      .collect().map(r => r.getString(0) -> r).toMap
    // the ghost source must not vanish (the pre-r14 inner join dropped
    // it); its median is null, its n_docs real
    assert(got.keySet === Set("a", "ghost"))
    assert(got("ghost").getLong(1) === 2L)
    assert(got("ghost").isNullAt(got("ghost").fieldIndex("median_chars")))
    assert(got("a").getDouble(got("a").fieldIndex("median_chars")) === 4.0)
  }

  test("shardByBytes: equal-byte shards under length skew — bound, contiguity, determinism") {
    import spark.implicits._
    // heavy length skew: doc i carries (i*37 % 900) + 10 bytes
    val rows = (1L to 200L).map(i => (i, i * 37 % 900 + 10)).toDF("doc_id", "nb")
    val target = 5000L
    def run(df: org.apache.spark.sql.DataFrame) =
      Release.shardByBytes(df, col("doc_id"), col("nb"), target)
        .select("doc_id", "nb", "shard_id")
        .as[(Long, Long, Long)].collect().sortBy(_._1)
    val got = run(rows)
    // per-shard byte bound: <= target + max single doc
    val maxDoc = got.map(_._2).max
    val perShard = got.groupBy(_._3).view.mapValues(_.map(_._2).sum)
    perShard.foreach { case (s, b) =>
      assert(b <= target + maxDoc, s"shard $s carries $b bytes > $target + $maxDoc")
    }
    // every shard except possibly the last is filled past target - maxDoc
    val last = got.map(_._3).max
    perShard.filter(_._1 != last).foreach { case (s, b) =>
      assert(b > target - maxDoc, s"shard $s underfilled at $b")
    }
    // ids contiguous from 0, non-decreasing in the order
    assert(got.map(_._3).distinct.sorted.sameElements(0L to last))
    assert(got.map(_._3).sameElements(got.map(_._3).sorted), "order-respecting")
    // partitioning-invariant (the release determinism contract)
    assert(run(rows.repartition(7)).toSeq == got.toSeq)
    intercept[IllegalArgumentException] {
      Release.shardByBytes(rows, col("doc_id"), col("nb"), 0L)
    }
  }

  test("releaseDelta: planted add/remove/change rolls up per source with exact bytes") {
    import spark.implicits._
    val old = Seq(
      (1L, "web", "aaaa"), (2L, "web", "bb"), (3L, "books", "cccc"),
      (4L, "books", "dd")).toDF("doc_id", "source", "text")
    val neu = Seq(
      (1L, "web", "aaaa"),        // unchanged
      (2L, "web", "bbbbbb"),      // changed: +4 chars
      (4L, "books", "dd"),        // unchanged (doc 3 removed: -4)
      (5L, "web", "eee")).toDF("doc_id", "source", "text") // added: +3
    val got = Release.releaseDelta(old, neu, col("doc_id"), col("source"),
        col("text")).collect()
      .map(r => r.getString(0) -> r.toSeq.drop(1).map(_.asInstanceOf[Long]))
      .toMap
    //              added removed changed unchanged b_add b_rm b_delta
    assert(got("web") === Seq(1L, 0L, 1L, 1L, 3L, 0L, 7L))
    assert(got("books") === Seq(0L, 1L, 0L, 1L, 0L, 4L, -4L))
  }

  test("releaseDelta: byte columns count UTF-8 octets, not characters") {
    import spark.implicits._
    // "é" is 2 bytes, "日本" is 6 bytes — a char count would report 1 and 2
    val old = Seq((1L, "web", "é")).toDF("doc_id", "source", "text")
    val neu = Seq((1L, "web", "é"), (2L, "web", "日本"))
      .toDF("doc_id", "source", "text")
    val r = Release.releaseDelta(old, neu, col("doc_id"), col("source"),
      col("text")).collect().head
    assert(r.getAs[Long]("bytes_added") === 6L)
    assert(r.getAs[Long]("bytes_delta") === 6L)
  }

  test("releaseDelta: a duplicated key in a snapshot fails loudly") {
    import spark.implicits._
    val old = Seq((1L, "web", "a"), (1L, "web", "a2"))
      .toDF("doc_id", "source", "text")
    val neu = Seq((1L, "web", "a")).toDF("doc_id", "source", "text")
    val ex = intercept[Exception] {
      Release.releaseDelta(old, neu, col("doc_id"), col("source"),
        col("text")).collect()
    }
    // Spark wraps raise_error in a SparkRuntimeException at USER_RAISED_EXCEPTION
    assert(ex.getMessage.contains("duplicate key")
      || Option(ex.getCause).exists(_.getMessage.contains("duplicate key")),
      s"unexpected failure: ${ex.getMessage}")
  }

  test("dataCard: ppm columns are partitioning-invariant exact integers") {
    val base = Tables.documents(spark, sfDir)
      .select("source", "lang", "text")
    val one = Release.dataCard(base.coalesce(1), col("source"),
      col("text"), col("lang")).collect().map(r => r.getString(0) -> r.toSeq).toMap
    val many = Release.dataCard(base.repartition(13), col("source"),
      col("text"), col("lang")).collect().map(r => r.getString(0) -> r.toSeq).toMap
    assert(one == many, "data card must not depend on partitioning")
    assert(one.values.map(_(3).asInstanceOf[Long]).sum <= 1000000L,
      "shares are floor ppm — they sum to at most 10⁶")
  }
}
