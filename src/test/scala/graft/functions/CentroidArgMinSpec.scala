package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.similarity.Similarity
import graft.sources.Tables

/** The codegen'd nearest-centroid assignment ([[Native.centroidArgMin]])
  * that replaced the literal `array_min(struct(dist, cell))` form after
  * round 16's StressAnn probe caught the literal form tripping Janino's
  * 64 KB method limit at 256×64 (interpreted fallback, 29× cost for 10×
  * data). These specs pin (a) value equality with the literal form it
  * replaced, (b) the tie/NaN/null contract, and (c) that the production
  * codebook size actually compiles — fallback DISABLED, so a 64 KB bail
  * is a test failure here, not a silent slowdown. */
class CentroidArgMinSpec extends SparkSpec {
  import spark.implicits._

  lazy val emb = Tables.embeddings(spark, sfDir).cache()

  /** The pre-round-17 literal form, kept verbatim as the semantics
    * reference: k struct(dist, cell) literals + array_min. */
  private def literalForm(centroids: Array[Array[Double]]) = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct((lit(c.map(x => x * x).sum) -
        lit(2.0) * Similarity.dot(col("v"), typedLit(c.toSeq))).as("d"),
        lit(i).as("cell"))
    }
    array_min(array(scored: _*)).getField("cell")
  }

  test("assignments equal the literal array_min form on the corpus") {
    val cents = Similarity.seededCentroids(emb, col("vec_id"), col("embedding"),
      Seq(3L, 11L, 19L, 42L))
    val both = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"),
        Native.centroidArgMin(col("v"), cents).as("native"),
        literalForm(cents).as("lit"))
    assert(both.filter(col("native") =!= col("lit")).count() == 0)
    assert(both.filter(col("native").isNull).count() == 0)
  }

  test("ties break to the lower cell index (the array_min struct rule)") {
    val c = Array(Array(1.0, 0.0), Array(5.0, 5.0), Array(1.0, 0.0))
    val got = Seq(Seq(1.0, 0.0), Seq(0.9, 0.1)).toDF("v")
      .select(Native.centroidArgMin(col("v"), c).as("cell"))
      .as[Int].collect().toSeq
    assert(got == Seq(0, 0), got.toString)
  }

  test("null input, null element, and dimension mismatch are NULL") {
    val c = Array(Array(1.0, 0.0))
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0)),
      (2L, Seq[java.lang.Double](1.0, null)),
      (3L, Seq[java.lang.Double](1.0, 2.0, 3.0)),
      (4L, null.asInstanceOf[Seq[java.lang.Double]])).toDF("id", "v")
    val got = df.select(col("id"),
        Native.centroidArgMin(col("v"), c).as("cell"))
      .orderBy("id").collect().map(r => r.isNullAt(1)).toSeq
    assert(got == Seq(false, true, true, true), got.toString)
  }

  test("NaN-scoring cells order greatest: any finite cell beats them; all-NaN picks cell 0") {
    // centroid with a NaN coordinate → dist is NaN for every vector
    val c = Array(Array(Double.NaN, 0.0), Array(100.0, 100.0))
    val one = Seq(Seq(0.0, 0.0)).toDF("v")
      .select(Native.centroidArgMin(col("v"), c)).as[Int].head()
    assert(one == 1, "finite cell must beat the NaN cell")
    val allNaN = Array(Array(Double.NaN, 0.0), Array(Double.NaN, 1.0))
    val z = Seq(Seq(0.0, 0.0)).toDF("v")
      .select(Native.centroidArgMin(col("v"), allNaN)).as[Int].head()
    assert(z == 0, "all-NaN must pick cell 0 (array_min's rule)")
  }

  test("256×64 production codebook COMPILES under codegen (fallback disabled)") {
    // The regression this whole expression exists for: with
    // spark.sql.codegen.fallback=false a Janino 64 KB bail THROWS
    // instead of silently running interpreted. The literal form fails
    // this test; the reference-object form must pass at the production
    // codebook size — and the assignment must still be the true argmin.
    val k = 256; val d = 64
    val cents = Array.tabulate(k, d)((c, i) => math.sin(c * 131 + i * 7) * 3)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val vecs = spark.range(200).select(col("id"),
        transform(sequence(lit(0), lit(d - 1)),
          i => sin(col("id") * 13 + i) * lit(2.5)).as("v"))
      val got = Similarity.withIvfCell(vecs, col("id"), col("v"), cents)
        .collect()
      assert(got.length == 200)
      val bad = got.filter { r =>
        val v = r.getSeq[Double](1).toArray
        val best = cents.zipWithIndex.minBy { case (c, i) =>
          (c.map(x => x * x).sum - 2.0 * c.zip(v).map(p => p._1 * p._2).sum, i)
        }._2
        r.getInt(2) != best
      }
      assert(bad.isEmpty, s"${bad.length} misassigned at 256x64")
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("pqEncode at a production 16×256-code book compiles under codegen and matches driver argmin") {
    // Same audit for the PQ path (also rewritten onto CentroidArgMin):
    // 16 subspaces × 256 codes × 4 dims — the documented production
    // shape that the literal-struct form could never codegen.
    val numSub = 16; val codes = 256; val subDim = 4
    val cb = Array.tabulate(numSub, codes, subDim)((m, c, i) =>
      math.cos(m * 97 + c * 13 + i) * 2)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val d = numSub * subDim
      val vecs = spark.range(50).select(col("id"),
        transform(sequence(lit(0), lit(d - 1)),
          i => cos(col("id") * 7 + i * 3) * lit(1.5)).as("v"))
      val got = Similarity.pqEncode(vecs, col("id"), col("v"), cb).collect()
      assert(got.length == 50)
      val vmap = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      got.foreach { r =>
        val v = vmap(r.getLong(0))
        val cs = r.getSeq[Long](1)
        for (m <- 0 until numSub) {
          val sub = v.slice(m * subDim, (m + 1) * subDim)
          val best = cb(m).zipWithIndex.minBy { case (c, ci) =>
            (c.map(x => x * x).sum - 2.0 * c.zip(sub).map(p => p._1 * p._2).sum, ci)
          }._2
          assert(cs(m) == best.toLong, s"vec ${r.getLong(0)} sub $m")
        }
      }
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("TwoLevelArgMin == driver-side two-step argmin on the corpus; duplicates share cells") {
    val coarse = Similarity.seededCentroids(emb, col("vec_id"), col("embedding"),
      Seq(1L, 2L, 3L, 4L))
    val fines = Similarity.seededFineCodebooks(emb, col("vec_id"),
      col("embedding"), coarse, kFine = 3)
    val stride = 3
    val got = Similarity.withIvfCell2(emb, col("vec_id"), col("embedding"),
      coarse, fines, stride).collect()
    assert(got.nonEmpty)
    def am(v: Array[Double], book: Array[Array[Double]]): Int =
      book.zipWithIndex.minBy { case (c, i) =>
        (c.map(x => x * x).sum - 2.0 * c.zip(v).map(p => p._1 * p._2).sum, i)
      }._2
    got.foreach { r =>
      val v = r.getSeq[Double](1).toArray
      val bc = am(v, coarse)
      val bf = am(v, fines(bc))
      assert(r.getInt(2) == bc * stride + bf, s"vec ${r.get(0)}")
    }
    // identical vectors always share a composite cell (the dedup guarantee)
    val base = emb.select("vec_id", "embedding").limit(5)
    val dup = base.select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      .unionByName(base)
    val cells2 = Similarity.withIvfCell2(dup, col("vec_id"), col("embedding"),
      coarse, fines, stride)
      .select((col("vec_id") % 100000).as("k"), col("cell"))
    assert(cells2.groupBy("k").agg(countDistinct("cell").as("n"))
      .filter(col("n") =!= 1).count() == 0)
  }

  test("TwoLevelArgMin at the 256×156 constant-cell-size config compiles under codegen") {
    // 256 coarse × 156 fine ≈ 40k effective cells at (256+156)·d per-row
    // cost — the k ∝ N SemDeDup config flat argmin can't afford. Must
    // stay inside codegen (fallback disabled ⇒ a 64 KB bail fails here).
    val k0 = 256; val kf = 156; val d = 16
    val coarse = Array.tabulate(k0, d)((c, i) => math.sin(c * 31 + i) * 2)
    val fines = Array.tabulate(k0, kf, d)((c, f, i) => math.cos(c * 7 + f * 3 + i))
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val vecs = spark.range(100).select(col("id"),
        transform(sequence(lit(0), lit(d - 1)),
          i => sin(col("id") * 5 + i) * lit(2.0)).as("v"))
      val cells = Similarity.withIvfCell2(vecs, col("id"), col("v"),
        coarse, fines, kf).select("cell").as[Int].collect()
      assert(cells.length == 100)
      assert(cells.forall(c => c >= 0 && c < k0 * kf))
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("interpreted eval (no codegen) agrees with codegen'd eval") {
    val cents = Array(Array(1.0, 2.0, 3.0), Array(-1.0, 0.5, 2.0),
      Array(0.0, 0.0, 0.0))
    val fines = Array(
      Array(Array(1.0, 2.0, 3.0), Array(1.1, 1.9, 3.2)),
      Array(Array(-1.0, 0.5, 2.0)),
      Array(Array(0.0, 0.0, 0.0), Array(0.1, -0.1, 0.0)))
    val df = Seq(Seq(1.1, 1.9, 3.2), Seq(-0.5, 0.2, 1.0), Seq(0.1, -0.1, 0.0))
      .toDF("v")
    // flat, row 2: dist(c2=origin) = 0 < dist(c1) = 0.05 — the origin wins;
    // two-level (stride 2): rows 0 and 2 sit on fine centroid 1 of their
    // coarse cell, row 1 is nearer the origin than (0.1, -0.1, 0)
    Seq(Native.centroidArgMin(col("v"), cents) -> Seq(0, 2, 2),
      Native.twoLevelArgMin(col("v"), cents, fines, 2) -> Seq(1, 4, 5)).foreach {
      case (argmin, want) =>
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        val interp =
          try df.select(argmin).as[Int].collect().toSeq
          finally {
            spark.conf.unset("spark.sql.codegen.wholeStage")
            spark.conf.unset("spark.sql.codegen.factoryMode")
          }
        val gen = df.select(argmin).as[Int].collect().toSeq
        assert(interp == gen && interp == want, s"$interp vs $gen")
    }
  }
}
