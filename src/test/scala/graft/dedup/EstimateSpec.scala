package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}

/** [[Dedup.nearDuplicatesEstimated]] — signature-agreement scoring of
  * banded candidates (the verify-without-text scale path). */
class EstimateSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private val cfg = MinHashConfig.generated(64, 16)

  /** Sliding-overlap corpus: doc i = tokens t(5i)..t(5i+19), so adjacent
    * docs share 15 of 20 tokens (J ≈ 0.6 on 3-shingles) and docs two
    * apart share 10 (J ≈ 0.33). Doc 100 is an exact copy of doc 0. */
  private val corpus: DataFrame =
    ((0 until 8).map { i =>
      (i.toLong, (5 * i until 5 * i + 20).map(t => s"t$t").mkString(" "))
    } :+ (100L, (0 until 20).map(t => s"t$t").mkString(" "))).toDF("doc_id", "text")

  test("estimated: exact copies agree on every permutation") {
    val got = Dedup.nearDuplicatesEstimated(corpus, col("doc_id"), col("text"),
        minAgree = 1, cfg)
      .filter(col("d1") === 0L && col("d2") === 100L)
      .select("n_agree").as[Long].collect()
    assert(got.toSeq == Seq(64L), s"got ${got.toSeq}")
  }

  test("estimated: n_agree/64 tracks exact Jaccard on every candidate pair") {
    val exact = Dedup.nearDuplicates(corpus, col("doc_id"), col("text"), 0.01, cfg)
      .select(col("d1"), col("d2"), col("jaccard"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val est = Dedup.nearDuplicatesEstimated(corpus, col("doc_id"), col("text"),
        minAgree = 1, cfg)
      .as[(Long, Long, Long)].collect()
    assert(est.nonEmpty)
    est.foreach { case (a, b, n) =>
      val j = exact((a, b))
      assert(math.abs(n / 64.0 - j) <= 0.25,
        s"($a,$b): estimate ${n / 64.0} too far from exact $j")
    }
  }

  test("estimated: raising minAgree only removes pairs; filter is by count") {
    val loose = Dedup.nearDuplicatesEstimated(corpus, col("doc_id"), col("text"),
      minAgree = 1, cfg).as[(Long, Long, Long)].collect().toSet
    val tight = Dedup.nearDuplicatesEstimated(corpus, col("doc_id"), col("text"),
      minAgree = 40, cfg).as[(Long, Long, Long)].collect().toSet
    assert(tight.subsetOf(loose))
    assert(tight == loose.filter(_._3 >= 40L))
    assert(tight.size < loose.size, "fixture must exercise the filter")
  }

  test("estimated: FromSigs over parquet-reloaded signatures equals one-shot") {
    val oneShot = Dedup.nearDuplicatesEstimated(corpus, col("doc_id"), col("text"),
      minAgree = 30, cfg).collect().map(_.toSeq).toSet
    val tmp = tempDir("mhsigs").toString
    Dedup.minhashSignatures(corpus, col("doc_id"), col("text"), cfg)
      .write.mode("overwrite").parquet(tmp)
    val viaSigs = Dedup.nearDuplicatesEstimatedFromSigs(
        spark.read.parquet(tmp), minAgree = 30, cfg)
      .collect().map(_.toSeq).toSet
    assert(oneShot == viaSigs)
  }

  test("estimated: minAgree outside [1, perms] fails loudly") {
    val sigs = Dedup.minhashSignatures(corpus, col("doc_id"), col("text"), cfg)
    intercept[IllegalArgumentException] {
      Dedup.nearDuplicatesEstimatedFromSigs(sigs, minAgree = 0, cfg)
    }
    intercept[IllegalArgumentException] {
      Dedup.nearDuplicatesEstimatedFromSigs(sigs, minAgree = 65, cfg)
    }
  }
}
