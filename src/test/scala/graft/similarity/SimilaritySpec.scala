package graft.similarity

import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}
import graft.sources.Tables

class SimilaritySpec extends SparkSpec with TempDirs {
  import spark.implicits._

  lazy val emb = Tables.embeddings(spark, sfDir).cache()

  test("native DotProduct is bit-identical to the interpreted HOF fold") {
    val hof = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0d), (acc, x) => acc + x)
    val df = Seq((Seq(1.5, 2.5, -3.0), Seq(0.5, -1.0, 2.0))).toDF("a", "b")
    val Array(native, interp) = df
      .select(Similarity.dot(col("a"), col("b")), hof).head
      .toSeq.map(_.asInstanceOf[Double]).toArray
    assert(native == interp)
    // and against the corpus: every vector dotted with itself == |v|^2, > 0
    val self = emb.select(Similarity.dot(col("embedding"), col("embedding")).as("d"))
    assert(self.filter($"d" <= 0).count() == 0)
  }

  test("DotProduct of mismatched dimensions is NULL, same as the HOF form") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
    val hof = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0d), (acc, x) => acc + x)
    val row = df.select(Similarity.dot(col("a"), col("b")), hof).head
    assert(row.isNullAt(0), "native must be NULL on dimension mismatch")
    assert(row.isNullAt(1), "HOF reference is NULL on dimension mismatch")
  }

  test("cosine of a vector with itself rounds to 1") {
    val bad = emb.select(round(Similarity.cosine(col("embedding"), col("embedding")), 6).as("c"))
      .filter($"c" =!= 1.0).count()
    assert(bad == 0)
  }

  test("knnBrute returns k rows ordered by similarity desc") {
    val got = Similarity.knnBrute(
      emb.filter($"vec_id" =!= 0), col("vec_id"), col("embedding"),
      emb.filter($"vec_id" === 0), col("embedding"), 10).collect()
    assert(got.length == 10)
    val sims = got.map(_.getDouble(1))
    assert(sims.sameElements(sims.sorted.reverse))
  }

  test("bucketed ANN results are a subset of brute-force candidates' bucket") {
    val bucketed = Similarity.withLshBucket(emb, col("vec_id"), col("embedding"),
      emb.filter($"vec_id".between(1, 4)), col("vec_id"), col("embedding")).cache()
    val qBucket = bucketed.filter($"vec_id" === 0).head.getLong(1)
    val ann = Similarity.annInBucket(bucketed, 0L, 5).collect()
    assert(ann.nonEmpty)
    assert(ann.forall(_.getLong(1) == qBucket))
  }

  test("withLshBucket with an empty planes frame folds to bucket 0 (brute force)") {
    val noPlanes = emb.filter($"vec_id" < 0) // empty by construction
    val bucketed = Similarity.withLshBucket(emb.limit(20), col("vec_id"),
      col("embedding"), noPlanes, col("vec_id"), col("embedding"))
    assert(bucketed.count() == 20)
    assert(bucketed.filter($"bucket" =!= 0L).count() == 0)
  }

  test("bucketed near-dup equals the brute-force baseline on planted dups") {
    val e = emb.select("vec_id", "embedding")
    val corpus = e.union(e.filter($"vec_id" < 5)
      .select(($"vec_id" + 100000).as("vec_id"), $"embedding"))
    val brute = Similarity.nearDupPairs(corpus, col("vec_id"), col("embedding"), 0.99)
      .orderBy("d1").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val bucketed = Similarity.nearDupPairsBucketed(corpus, col("vec_id"), col("embedding"),
        corpus.filter($"vec_id".between(1, 4)), col("vec_id"), col("embedding"), 0.99)
      .orderBy("d1").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(bucketed == brute)
  }

  test("IVF ANN with full probe equals brute-force top-k; cell assignment is shuffle-free") {
    val corpus = emb.filter($"vec_id" =!= 0)
    val queryVec = emb.filter($"vec_id" === 0)
      .select(col("embedding").cast("array<double>")).head.getSeq[Double](0).toArray
    val cents = Similarity.trainCentroids(corpus, col("embedding"), k = 4)
    val cells = Similarity.withIvfCell(corpus, col("vec_id"), col("embedding"), cents)
    // probing every cell must reduce IVF to exact brute-force search
    val ivf = Similarity.annIvf(cells, queryVec, cents, nProbe = 4, k = 5)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val brute = Similarity.knnBrute(corpus, col("vec_id"), col("embedding"),
        emb.filter($"vec_id" === 0), col("embedding"), 5)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(ivf == brute, s"ivf=$ivf brute=$brute")
    // the codebook is inlined: assignment adds nothing — every exchange in
    // the plan must be the source reader's round-robin parallelism repair
    cells.collect()
    val cellPlan = cells.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(cellPlan).size ==
      "Exchange RoundRobinPartitioning".r.findAllIn(cellPlan).size, cellPlan)
    // nProbe=1 searches only the query's nearest cell
    val one = Similarity.annIvf(cells, queryVec, cents, nProbe = 1, k = 5)
    assert(one.select("cell").distinct().count() == 1)
  }

  test("withIvfCell assigns every vector to its nearest centroid") {
    val cents = Similarity.trainCentroids(emb, col("embedding"), k = 4)
    val cells = Similarity.withIvfCell(emb, col("vec_id"), col("embedding"), cents)
      .collect()
    def d2(v: Seq[Double], c: Array[Double]): Double =
      v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
    val bad = cells.filter { r =>
      val v = r.getSeq[Double](1)
      val best = cents.zipWithIndex.minBy { case (c, i) => (d2(v, c), i) }._2
      r.getInt(2) != best
    }
    assert(bad.isEmpty, s"${bad.length} misassigned vectors")
  }

  test("persisted IVF index: delta build == one-shot, replay replaces, codebook drift rejected") {
    val cents = Similarity.seededCentroids(emb, col("vec_id"), col("embedding"),
      Seq(1L, 2L, 3L, 4L))
    val dir = tempDir("ivf_spec").toString
    def ingest(m: Int, id: Long): Unit =
      Similarity.ivfIndexAppend(emb.filter(col("vec_id") % 2 === m),
        col("vec_id"), col("embedding"), cents, dir, id)
    ingest(0, 0L); ingest(1, 1L); ingest(1, 1L) // replay batch 1
    val (cells, cb) = Similarity.ivfIndexLoad(spark, dir)
    // replay replaced, not duplicated: exactly one row per vector
    assert(cells.count() == emb.count())
    // accumulated deltas == one-shot assignment over the union
    val oneShot = Similarity.withIvfCell(emb, col("vec_id"), col("embedding"), cents)
    assert(cells.select("vec_id", "cell")
      .exceptAll(oneShot.select("vec_id", "cell")).count() == 0)
    // probes over the LOADED index equal probes over the one-shot frame
    val qv = emb.filter($"vec_id" === 0).select(col("embedding").cast("array<double>"))
      .head.getSeq[Double](0).toArray
    val a = Similarity.annIvf(cells, qv, cb, nProbe = 2, k = 5).collect().toSeq
    val b = Similarity.annIvf(oneShot, qv, cents, nProbe = 2, k = 5).collect().toSeq
    assert(a == b, s"$a vs $b")
    // appending under a DIFFERENT codebook is corruption — rejected
    val drifted = cents.map(_.map(_ + 0.25))
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfIndexAppend(emb.limit(1), col("vec_id"), col("embedding"),
        drifted, dir, 9L)
    }
    assert(ex.getMessage.contains("codebook mismatch"), ex.getMessage)
  }

  test("ivfIndexAppend crash ordering: a cells-only dir self-heals on retry") {
    // simulate a first append that died between its two writes: since
    // r18 the codebook is written LAST (the commit marker), so the
    // crash leaves a cells-only dir — ivfIndexLoad must fail LOUDLY on
    // it (a half-index must never read as an empty-but-valid one), and
    // a straight retry of the same append must complete the index with
    // no special-casing (same batch id overwrites its own partition).
    val cents = Similarity.seededCentroids(emb, col("vec_id"), col("embedding"),
      Seq(1L, 2L, 3L, 4L))
    val dir = tempDir("ivf_crash").toString
    Similarity.ivfIndexAppend(emb, col("vec_id"), col("embedding"), cents, dir, 0L)
    // "crash": delete the commit marker, leaving only the cells
    graft.streaming.EventsStream.deleteRecursively(
      java.nio.file.Paths.get(dir, "codebook"))
    val ex = intercept[Exception] { Similarity.ivfIndexLoad(spark, dir)._1.count() }
    assert(ex.getMessage != null, "half-index load must throw, not read empty")
    // retry self-heals: same batch id, same codebook
    Similarity.ivfIndexAppend(emb, col("vec_id"), col("embedding"), cents, dir, 0L)
    val (cells, cb) = Similarity.ivfIndexLoad(spark, dir)
    assert(cells.count() == emb.count(), "retried append must complete the index")
    assert(cb.length == cents.length &&
      cb.zip(cents).forall { case (a, b) => a.sameElements(b) })
  }

  test("two-level cells probe through annIvfBatch via compositeCentroids; full probe == brute") {
    val e = emb.select("vec_id", "embedding")
    val coarse = Similarity.seededCentroids(e, col("vec_id"), col("embedding"),
      Seq(1L, 2L, 3L, 4L))
    val fines = Similarity.seededFineCodebooks(e, col("vec_id"),
      col("embedding"), coarse, kFine = 2)
    val comp = Similarity.compositeCentroids(coarse, fines, fineStride = 2)
    assert(comp.length == 8)
    val cells2 = Similarity.withIvfCell2(e, col("vec_id"), col("embedding"),
      coarse, fines, fineStride = 2).cache()
    val qv = Seq(5L, 9L).map(i => i ->
      e.filter($"vec_id" === i).select(col("embedding").cast("array<double>"))
        .head.getSeq[Double](0).toArray)
    // probing EVERY composite cell is brute force — must equal knnBatch
    val full = Similarity.annIvfBatch(cells2, qv, comp, nProbe = 8, k = 5)
      .select("query_id", "vec_id", "cos_sim").collect().toSet
    val brute = Similarity.knnBatch(e, col("vec_id"), col("embedding"),
        e.filter($"vec_id".isin(5L, 9L))
          .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
        col("query_id"), col("qv"), 5)
      .select("query_id", "vec_id", "cos_sim").collect().toSet
    assert(full == brute)
    // a 2-cell probe list never contains a filler slot and returns k rows
    val narrow = Similarity.annIvfBatch(cells2, qv, comp, nProbe = 2, k = 5)
    assert(narrow.groupBy("query_id").count()
      .filter(col("count") =!= 5).count() == 0)
    cells2.unpersist()
  }

  test("refineFineCodebooks: SSE non-increasing, coarse routing untouched, shapes stable") {
    val e = emb.select("vec_id", "embedding")
    val coarse = Similarity.seededCentroids(e, col("vec_id"), col("embedding"),
      Seq(1L, 2L, 3L, 4L))
    val init = Similarity.seededFineCodebooks(e, col("vec_id"),
      col("embedding"), coarse, kFine = 3)
    def sse(fines: Array[Array[Array[Double]]]): Double =
      Similarity.withIvfCell2(e, col("vec_id"), col("embedding"), coarse, fines, 3)
        .collect().map { r =>
          val v = r.getSeq[Double](1).toArray
          val cid = r.getInt(2)
          val c = fines(cid / 3)(cid % 3)
          v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
        }.sum
    val refined = Similarity.refineFineCodebooks(e, col("vec_id"),
      col("embedding"), coarse, init, fineStride = 3, iters = 3)
    // Lloyd never increases within-cell SSE (assignment AND update both
    // monotone); strict improvement expected on real data
    assert(sse(refined) <= sse(init) + 1e-9, s"${sse(refined)} vs ${sse(init)}")
    assert(refined.length == init.length &&
      refined.zip(init).forall { case (a, b) => a.length == b.length })
    // coarse level untouched — composite ids still route by the SAME
    // coarse argmin (cell div stride equals flat withIvfCell's cell)
    val flat = Similarity.withIvfCell(e, col("vec_id"), col("embedding"), coarse)
      .select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val twoL = Similarity.withIvfCell2(e, col("vec_id"), col("embedding"),
      coarse, refined, 3).select("vec_id", "cell").collect()
    assert(twoL.forall(r => r.getInt(1) / 3 == flat(r.getLong(0))))
    // 0 iters is the identity
    val zero = Similarity.refineFineCodebooks(e, col("vec_id"),
      col("embedding"), coarse, init, fineStride = 3, iters = 0)
    assert(zero.zip(init).forall { case (a, b) =>
      a.zip(b).forall { case (x, y) => x.sameElements(y) } })
  }

  test("semanticDedupOnCells over two-level cells drops exactly the planted exact dups") {
    val e = emb.select("vec_id", "embedding")
    val corpus = e.unionByName(e.filter($"vec_id" < 5)
      .select(($"vec_id" + 100000).as("vec_id"), $"embedding"))
    val coarse = Similarity.seededCentroids(e, col("vec_id"), col("embedding"),
      Seq(1L, 2L, 3L, 4L))
    val fines = Similarity.seededFineCodebooks(e, col("vec_id"),
      col("embedding"), coarse, kFine = 2)
    val cells = Similarity.withIvfCell2(corpus, col("vec_id"), col("embedding"),
      coarse, fines, fineStride = 2).cache()
    val dropped = Similarity.semanticDedupOnCells(cells, threshold = 1.0)
      .filter($"status" === "dropped").select("vec_id").as[Long].collect().toSet
    cells.unpersist()
    // exact duplicates ALWAYS share a composite cell → all 5 planted
    // copies drop (higher id loses); nothing else is cosine-1.0-identical
    assert(dropped == (100000L until 100005L).toSet, dropped.toString)
  }

  test("nearDupPairs finds exactly the planted duplicates") {
    val e = emb.select("vec_id", "embedding")
    val corpus = e.union(e.filter($"vec_id" < 5)
      .select(($"vec_id" + 100000).as("vec_id"), $"embedding"))
    val got = Similarity.nearDupPairs(corpus, col("vec_id"), col("embedding"), 0.99)
      .orderBy("d1").collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (0L until 5L).map(i => (i, i + 100000)))
    assert(got.forall(_.getDouble(2) == 1.0))
  }

  test("multi-probe ANN candidates strictly contain the single-bucket probe's") {
    val bucketed = Similarity.withLshBucket(emb, col("vec_id"), col("embedding"),
      emb.filter($"vec_id".between(1, 4)), col("vec_id"), col("embedding")).cache()
    val single = Similarity.annInBucket(bucketed, 0L, 1000)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val multi = Similarity.annMultiProbe(bucketed, 0L, nPlanes = 4, k = 1000)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(single.subsetOf(multi))
    assert(multi.size > single.size)   // 1-flip neighbors contribute candidates
    // multi-probe top-k cosines are >= the single-bucket top-k elementwise
    val sTop = Similarity.annInBucket(bucketed, 0L, 5)
      .select("cos_sim").collect().map(_.getDouble(0))
    val mTop = Similarity.annMultiProbe(bucketed, 0L, nPlanes = 4, k = 5)
      .select("cos_sim").collect().map(_.getDouble(0))
    assert(mTop.zip(sTop).forall { case (m, s) => m >= s })
  }

  test("fused CosineSimilarity is bit-identical to the composed dot/sqrt form") {
    val composed = Similarity.dot(col("a"), col("b")) /
      (sqrt(Similarity.dot(col("a"), col("a"))) * sqrt(Similarity.dot(col("b"), col("b"))))
    val df = Seq(
      (Seq(1.5, -2.5, 3.25), Seq(0.5, 1.0, -2.0)),
      (Seq(1e-8, 2e8, -3.3), Seq(7.7, -1e-9, 0.1))).toDF("a", "b")
    val rows = df.select(Similarity.cosine(col("a"), col("b")), composed).collect()
    assert(rows.forall(r => r.getDouble(0) == r.getDouble(1)))
    // and against the corpus, elementwise over all pairs vs query 0
    val q0 = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val both = emb.crossJoin(q0)
      .select(Similarity.cosine($"embedding", $"qv").as("f"),
        (Similarity.dot($"embedding", $"qv") /
          (sqrt(Similarity.dot($"embedding", $"embedding")) *
           sqrt(Similarity.dot($"qv", $"qv")))).as("c"))
    assert(both.filter($"f" =!= $"c").count() == 0)
    // null semantics: dimension mismatch -> NULL, like the composed form
    val mm = Seq((Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0))).toDF("a", "b")
    assert(mm.select(Similarity.cosine(col("a"), col("b"))).head.isNullAt(0))
  }

  test("knnBatch equals per-query brute-force knn, with rank-limit pushdown") {
    val batch = Similarity.knnBatch(emb, col("vec_id"), col("embedding"),
      emb.filter($"vec_id" < 3), col("vec_id"), col("embedding"), 5)
    batch.collect()
    assert(batch.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
    for (q <- 0L until 3L) {
      val one = Similarity.knnBrute(
          emb.filter($"vec_id" =!= q), col("vec_id"), col("embedding"),
          emb.filter($"vec_id" === q), col("embedding"), 5)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      val fromBatch = batch.filter($"query_id" === q).orderBy("rnk")
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(fromBatch == one, s"query $q: $fromBatch != $one")
    }
  }

  test("annIvfBatch equals per-query annIvf, query for query") {
    val cents = Similarity.seededCentroids(emb, $"vec_id", $"embedding", Seq(5L, 17L, 29L, 41L))
    val cells = Similarity.withIvfCell(emb, $"vec_id", $"embedding", cents).cache()
    val qvecs = emb.filter($"vec_id".isin(1L, 2L, 3L))
      .select($"vec_id", $"embedding".cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toSeq.sortBy(_._1)
    val batch = Similarity.annIvfBatch(cells, qvecs, cents, nProbe = 2, k = 5)
      .select("query_id", "vec_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val single = qvecs.flatMap { case (qid, qv) =>
      Similarity.annIvf(cells.filter($"vec_id" =!= qid), qv, cents, nProbe = 2, k = 5)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(2)))
    }.toSet
    assert(batch == single, s"batch=$batch single=$single")
    cells.unpersist()
  }

  test("quantizeInt8: values bounded, reconstruction error within half a step, extremes hit ±127") {
    val q = Similarity.quantizeInt8(emb, col("vec_id"), col("embedding")).cache()
    assert(q.filter(abs($"q") > 127).count() == 0)
    // each dimension's absmax vector quantizes to exactly ±127
    assert(q.filter(abs($"q") === 127).select("dim").distinct().count()
      == q.select("dim").distinct().count())
    // dequantized value within half a quantization step of the original
    val joined = emb.select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .join(q, Seq("vec_id", "dim"))
    val bad = joined.filter(
      abs($"x" - $"q" * $"scale" / 127d) > $"scale" / 254d + 1e-12).count()
    assert(bad == 0)
    q.unpersist()
  }

  test("zScoreNormalized standardizes each dimension and keeps order") {
    // dim 0: values 1,3 (mu 2, sigma 1); dim 1: 10,30 (mu 20, sigma 10)
    val df = Seq((1L, Seq(1.0, 10.0)), (2L, Seq(3.0, 30.0))).toDF("vec_id", "embedding")
    val z = Similarity.zScoreNormalized(df, col("vec_id"), col("embedding"))
      .orderBy("vec_id").collect().map(_.getSeq[Double](1).toSeq).toSeq
    assert(z == Seq(Seq(-1.0, -1.0), Seq(1.0, 1.0)))
  }

  test("zScoreNormalized maps a zero-variance dimension to 0, not null/NaN") {
    // dim 1 is constant: sigma = 0 must standardize to 0.0
    val df = Seq((1L, Seq(1.0, 7.0)), (2L, Seq(3.0, 7.0))).toDF("vec_id", "embedding")
    val z = Similarity.zScoreNormalized(df, col("vec_id"), col("embedding"))
      .orderBy("vec_id").collect().map(_.getSeq[Double](1).toSeq).toSeq
    assert(z == Seq(Seq(-1.0, 0.0), Seq(1.0, 0.0)))
  }

  test("zScoreNormalized on the corpus: every dimension has mean ~0, std ~1") {
    val z = Similarity.zScoreNormalized(emb, col("vec_id"), col("embedding"), scale = 9)
      .select(posexplode($"z").as(Seq("dim", "x")))
      .groupBy("dim")
      .agg(avg($"x").as("mu"), stddev_pop($"x").as("sd"))
    assert(z.filter(abs($"mu") > 1e-6 || abs($"sd" - 1.0) > 1e-6).count() == 0)
  }

  test("semanticDedup classifies every vector and drops exactly the planted dups") {
    val e = emb.select("vec_id", "embedding")
    val corpus = e.union(
      e.filter($"vec_id" < 10)
        .select(($"vec_id" + 100000).as("vec_id"), $"embedding"))
    val cents = Similarity.seededCentroids(e, col("vec_id"), col("embedding"), 1L to 4L)
    val st = Similarity.semanticDedup(corpus, col("vec_id"), col("embedding"), cents, 0.99)
    assert(st.count() == corpus.count(), "one status row per vector")
    // identical vectors always share a nearest cell, so every planted copy
    // (higher id than its original by construction) must be dropped
    val dropped = st.filter($"status" === "dropped")
      .select("vec_id").as[Long].collect().toSet
    assert((0L until 10L).map(_ + 100000).toSet.subsetOf(dropped),
      s"every planted copy must drop: $dropped")
    // the corpus's max off-diagonal cosine is ~0.5, so nothing else drops
    assert(dropped.size == 10, s"only planted copies should drop: $dropped")
  }

  test("negativeSamples: deterministic hash pairing, no self/near-positive draws") {
    val e = emb.select("vec_id", "embedding")
    val a = Similarity.negativeSamples(e, col("vec_id"), col("embedding"), 4, 0.95)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val b = Similarity.negativeSamples(e.repartition(7), col("vec_id"), col("embedding"), 4, 0.95)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(a.sortBy(x => (x._1, x._2)).sameElements(b.sortBy(x => (x._1, x._2))),
      "pairing must not depend on partitioning")
    val ids = e.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(a.forall(x => ids.contains(x._3)), "every draw must land on a real row")
    assert(a.forall(x => x._1 != x._3), "no self negatives")
    assert(a.forall(_._4 < 0.95), "no near-positive negatives")
    val perAnchor = a.groupBy(_._1).view.mapValues(_.length)
    assert(perAnchor.values.forall(_ <= 4))
    // with a 0.95 cut on this corpus (max off-diag ~0.5) almost every
    // draw survives: each anchor keeps at least 3 of its 4 draws
    assert(perAnchor.values.forall(_ >= 3), perAnchor.toMap.toString)
  }

  test("negativeSamples honors dense ids at ANY offset (minId contract)") {
    // ids 101.. : under a 0..N-1-only draw every neg_id would land on
    // 0..N-1 (no real row) and the whole result would silently vanish
    val e = emb.select(($"vec_id" + 100).as("vec_id"), $"embedding")
    val n = e.count()
    val out = Similarity.negativeSamples(e, col("vec_id"), col("embedding"), 4, 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val ids = e.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(out.length >= 3 * n, s"draws must survive the join: ${out.length} rows for $n anchors")
    assert(out.forall(x => ids.contains(x._2)), "every draw must land on a real row")
  }

  test("negativeSamplesExact: every anchor yields exactly k, a prefix of the over-draw") {
    val e = emb.select("vec_id", "embedding")
    val k = 3
    val exact = Similarity.negativeSamplesExact(e, col("vec_id"), col("embedding"), k, 0.95, extraDraws = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val perAnchor = exact.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toList).toMap
    assert(perAnchor.size == e.count(), "every anchor must appear")
    assert(perAnchor.values.forall(_.length == k), "exactly k negatives per anchor")
    // the survivors are the k LOWEST surviving draw indices of the base
    // over-draw — rank-limit by j, not an arbitrary subset
    val base = Similarity.negativeSamples(e, col("vec_id"), col("embedding"), k + 8, 0.95)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val baseFirstK = base.groupBy(_._1).view.mapValues(_.map(_._2).sorted.take(k).toList).toMap
    assert(perAnchor == baseFirstK, "exact-k must be the j-ranked prefix of the over-draw")
  }

  test("semanticDedupGreedy: chains keep {a, c}; agrees with one-shot when no chains") {
    // 2-d unit vectors at 0°, 25°, 50°: a~b and b~c at cos25° ≈ 0.906,
    // a≁c at cos50° ≈ 0.643; threshold 0.87 picks exactly the chain
    def unit(deg: Double) = Array(math.cos(deg.toRadians), math.sin(deg.toRadians))
    val chain = Seq(
      (1L, unit(0)), (2L, unit(25)), (3L, unit(50))
    ).toDF("vec_id", "embedding")
    val oneCell = Array(Array(1.0, 0.0))
    val greedy = Similarity.semanticDedupGreedy(
      chain, col("vec_id"), col("embedding"), oneCell, 0.87)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(greedy == Map(1L -> "kept", 2L -> "dropped", 3L -> "kept"),
      s"greedy must re-keep c once b is dropped: $greedy")
    val oneShot = Similarity.semanticDedup(
      chain, col("vec_id"), col("embedding"), oneCell, 0.87)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(oneShot == Map(1L -> "kept", 2L -> "dropped", 3L -> "dropped"),
      "the one-shot rule drops the whole chain tail by design")
    // chain-free corpus (planted exact dups only): both rules agree
    val e = emb.select("vec_id", "embedding")
    val corpus = e.union(
      e.filter($"vec_id" < 10)
        .select(($"vec_id" + 100000).as("vec_id"), $"embedding"))
    val cents = Similarity.seededCentroids(e, col("vec_id"), col("embedding"), 1L to 4L)
    val g = Similarity.semanticDedupGreedy(corpus, col("vec_id"), col("embedding"), cents, 0.99)
      .collect().map(r => (r.getLong(0), r.getString(2))).sortBy(_._1)
    val o = Similarity.semanticDedup(corpus, col("vec_id"), col("embedding"), cents, 0.99)
      .collect().map(r => (r.getLong(0), r.getString(2))).sortBy(_._1)
    assert(g.sameElements(o), "without chains the two rules are identical")
  }

  test("semanticDedupGreedy agrees with one-shot AT the rounding boundary") {
    // threshold 0.9's double rep (0.90000000000000002...) exceeds the
    // decimal 0.9; a pair whose cosine rounds to exactly 0.9000 must be
    // a dup under BOTH rules (Spark compares round(cos,4) >= 0.9 as
    // doubles). A decimal-vs-decimal compare in greedy would keep the
    // row the one-shot rule drops.
    val a = Array(1.0, 0.0)
    val b = Array(0.9, math.sqrt(1 - 0.81)) // cos(a,b) ≈ 0.9 → rounds to 0.9000
    val pair = Seq((1L, a), (2L, b)).toDF("vec_id", "embedding")
    val oneCell = Array(Array(1.0, 0.0))
    val g = Similarity.semanticDedupGreedy(pair, col("vec_id"), col("embedding"), oneCell, 0.9)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val o = Similarity.semanticDedup(pair, col("vec_id"), col("embedding"), oneCell, 0.9)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(o == Map(1L -> "kept", 2L -> "dropped"),
      s"one-shot must treat the 0.9000-rounded pair as a dup: $o")
    assert(g == o, s"greedy must agree at the boundary: $g vs $o")
  }

  test("kmeansRefine: each Lloyd iteration lowers within-cell SSE; empty cells survive") {
    val e = emb.select("vec_id", "embedding")
    val init = Similarity.seededCentroids(e, col("vec_id"), col("embedding"), 1L to 8L)
    def sse(cents: Array[Array[Double]]): Double =
      Similarity.withIvfCell(e, col("vec_id"), col("embedding"), cents)
        .collect().map { r =>
          val v = r.getSeq[Double](1)
          val c = cents(r.getInt(2))
          v.indices.map(i => { val d = v(i) - c(i); d * d }).sum
        }.sum
    val r1 = Similarity.kmeansRefine(e, col("vec_id"), col("embedding"), init, 1)
    val r3 = Similarity.kmeansRefine(e, col("vec_id"), col("embedding"), init, 3)
    assert(sse(r1) < sse(init), "one Lloyd iteration must not raise SSE")
    assert(sse(r3) <= sse(r1) + 1e-9, "SSE is monotone over iterations")
    // determinism: partitioning must not change the refined codebook
    val rAgain = Similarity.kmeansRefine(
      e.repartition(7), col("vec_id"), col("embedding"), init, 1)
    r1.zip(rAgain).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9) }
    }
    // an unreachable centroid attracts nothing and must survive untouched
    val far = Array.fill(init.head.length)(1e9)
    val withFar = Similarity.kmeansRefine(
      e, col("vec_id"), col("embedding"), init :+ far, 1)
    assert(withFar.last.sameElements(far), "empty cell keeps its previous centroid")
    assert(withFar.length == init.length + 1)
  }

  test("pqEncode: a vector assembled from centroids encodes to exactly those codes") {
    // 2 subspaces × 2 dims, 3 codes each
    val cb: Array[Array[Array[Double]]] = Array(
      Array(Array(0.0, 0.0), Array(10.0, 0.0), Array(0.0, 10.0)),
      Array(Array(1.0, 1.0), Array(-5.0, 2.0), Array(7.0, -7.0)))
    val vecs = Seq(
      (1L, Seq(10.0, 0.0, 7.0, -7.0)), // codes (1, 2) exactly
      (2L, Seq(0.1, 9.8, -4.6, 2.2)), // near (2, 1)
      (3L, Seq(0.0, 0.0, 1.0, 1.0))) // exact (0, 0)
      .toDF("vec_id", "v")
    val got = Similarity.pqEncode(vecs, col("vec_id"), col("v"), cb)
      .as[(Long, Seq[Long])].collect().toMap
    assert(got(1L) == Seq(1L, 2L))
    assert(got(2L) == Seq(2L, 1L))
    assert(got(3L) == Seq(0L, 0L))
    // long form is the exact explode of the wide form
    val long = Similarity.pqCodesLong(
        Similarity.pqEncode(vecs, col("vec_id"), col("v"), cb))
      .as[(Long, Int, Long)].collect().toSet
    assert(long == got.flatMap { case (id, cs) =>
      cs.zipWithIndex.map { case (c, m) => (id, m, c) } }.toSet)
  }

  test("pqEncode ties break to the lower code") {
    val cb: Array[Array[Array[Double]]] =
      Array(Array(Array(1.0, 1.0), Array(1.0, 1.0)))
    val got = Similarity.pqEncode(Seq((1L, Seq(3.0, 4.0))).toDF("vec_id", "v"),
        col("vec_id"), col("v"), cb)
      .as[(Long, Seq[Long])].head()
    assert(got._2 == Seq(0L))
  }

  test("pqAdcTopK: ADC distance is exact when corpus vectors sit on centroids") {
    val cb: Array[Array[Array[Double]]] = Array(
      Array(Array(0.0, 0.0), Array(4.0, 0.0)),
      Array(Array(0.0, 0.0), Array(0.0, 3.0)))
    // vectors ON centroid grid: ADC == true squared L2 to the query
    val vecs = Seq(
      (1L, Seq(0.0, 0.0, 0.0, 0.0)),
      (2L, Seq(4.0, 0.0, 0.0, 3.0)),
      (3L, Seq(4.0, 0.0, 0.0, 0.0)))
      .toDF("vec_id", "v")
    val codes = Similarity.pqEncode(vecs, col("vec_id"), col("v"), cb)
    val q = Array(4.0, 0.0, 0.0, 0.0)
    val got = Similarity.pqAdcTopK(codes, q, cb, 3)
      .as[(Long, Double)].collect().toMap
    assert(got(3L) == 0.0) // the query itself
    assert(got(2L) == 9.0) // off by (0,3) in subspace 2
    assert(got(1L) == 16.0) // off by (4,0) in subspace 1
  }

  test("pqAdcTopK on the corpus: codes-only search recalls true neighbors") {
    val cb = Similarity.pqCodebook(emb, col("vec_id"), col("embedding"), 1L to 8L, 4)
    val codes = Similarity.pqEncode(
      emb.filter($"vec_id" =!= 0), col("vec_id"), col("embedding"), cb)
    val qv = emb.filter($"vec_id" === 0)
      .select(col("embedding").cast("array<double>")).head.getSeq[Double](0).toArray
    val adc = Similarity.pqAdcTopK(codes, qv, cb, 10)
      .as[(Long, Double)].collect()
    assert(adc.length == 10)
    assert(adc.map(_._2).toSeq == adc.map(_._2).sorted.toSeq)
    // seeded 8-code-per-subspace codebooks are coarse: require overlap
    // with the exact-L2 top-10, not equality
    val exact = emb.filter($"vec_id" =!= 0)
      .select($"vec_id", Similarity.l2sq(col("embedding").cast("array<double>"),
        typedLit(qv.toSeq)).as("d"))
      .orderBy($"d", $"vec_id").limit(10).as[(Long, Double)].collect()
    assert(adc.map(_._1).toSet.intersect(exact.map(_._1).toSet).nonEmpty)
  }

  test("randomProject: projection is the plane-wise dot (linear, right dims)") {
    val planes: Array[Array[Double]] = Array(Array(1.0, 0.0), Array(1.0, 1.0))
    val df = Seq((1L, Seq(2.0, 3.0)), (2L, Seq(-1.0, 4.0))).toDF("vec_id", "v")
    val got = Similarity.randomProject(df, col("vec_id"), col("v"), planes)
      .as[(Long, Seq[Double])].collect().toMap
    assert(got(1L) == Seq(2.0, 5.0))
    assert(got(2L) == Seq(-1.0, 3.0))
    // linearity on the sum vector
    val sum = Similarity.randomProject(
        Seq((3L, Seq(1.0, 7.0))).toDF("vec_id", "v"), col("vec_id"), col("v"), planes)
      .as[(Long, Seq[Double])].head()._2
    assert(sum.zip(got(1L).zip(got(2L)).map(p => p._1 + p._2)).forall(p => p._1 == p._2))
  }

  test("semanticDedup keep-the-earliest: originals of planted dups stay kept") {
    val e = emb.select("vec_id", "embedding")
    val corpus = e.union(
      e.filter($"vec_id" < 10)
        .select(($"vec_id" + 100000).as("vec_id"), $"embedding"))
    val cents = Similarity.seededCentroids(e, col("vec_id"), col("embedding"), 1L to 4L)
    val st = Similarity.semanticDedup(corpus, col("vec_id"), col("embedding"), cents, 0.99)
    val keptIds = st.filter($"status" === "kept").select("vec_id").as[Long].collect().toSet
    assert((0L until 10L).forall(keptIds.contains),
      "the lower-id original of each dup pair must be kept")
  }

  test("knnTruncatedRerank with coarseK = |corpus| degrades to exact knnBrute") {
    val e = emb.select("vec_id", "embedding")
    val corpus = e.filter($"vec_id" =!= 0)
    val query = e.filter($"vec_id" === 0)
    val n = corpus.count().toInt
    val exact = Similarity.knnBrute(corpus, col("vec_id"), col("embedding"),
      query, col("embedding"), 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val staged = Similarity.knnTruncatedRerank(corpus, col("vec_id"),
        col("embedding"), query, col("embedding"),
        dPrefix = 64, coarseK = n, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(staged.toSeq == exact.toSeq,
      "full-width coarse stage must reproduce exact brute-force top-k")
  }

  test("knnTruncatedRerank: coarse prefix cut loses what rerank can't see") {
    // q's mass lives in the TAIL dims: the prefix-aligned decoy wins the
    // coarse stage at coarseK=1, the true neighbor needs coarseK=2
    val corpus = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),   // decoy: perfect prefix, ~0 full cosine
      (2L, Seq(0.0, 1.0, 0.0, 10.0))). // true neighbor on full dims
      toDF("vec_id", "v")
    val query = Seq((0L, Seq(1.0, 0.0, 0.0, 10.0))).toDF("vec_id", "v")
    def top(ck: Int) = Similarity.knnTruncatedRerank(corpus, col("vec_id"),
        col("v"), query.select("v"), col("v"), dPrefix = 2, coarseK = ck, k = 1)
      .head().getLong(0)
    assert(top(1) == 1L, "coarseK=1 must keep only the prefix winner")
    assert(top(2) == 2L, "widening the coarse stage recovers the true neighbor")
  }

  test("hardNegatives excludes self and positives; degrades to knnBatch when unlabeled") {
    val e = emb.select("vec_id", "embedding")
    val anchors = e.filter($"vec_id" < 3)
    val positives = Seq((0L, 5L), (0L, 7L), (1L, 5L)).toDF("a", "p")
    val hn = Similarity.hardNegatives(e, col("vec_id"), col("embedding"),
      anchors, col("vec_id"), col("embedding"),
      positives, col("a"), col("p"), k = 5).cache()
    assert(hn.filter($"anchor_id" === $"vec_id").count() == 0, "self excluded")
    assert(hn.join(positives, $"anchor_id" === $"a" && $"vec_id" === $"p")
      .count() == 0, "labeled positives excluded")
    assert(hn.groupBy("anchor_id").count().filter($"count" =!= 5).count() == 0,
      "exactly k negatives per anchor")
    // with no labels it is exactly batch kNN
    val none = Seq.empty[(Long, Long)].toDF("a", "p")
    val unlabeled = Similarity.hardNegatives(e, col("vec_id"), col("embedding"),
        anchors, col("vec_id"), col("embedding"), none, col("a"), col("p"), k = 3)
      .select($"anchor_id".as("query_id"), $"vec_id", $"cos_sim", $"rnk")
    val knn = Similarity.knnBatch(e, col("vec_id"), col("embedding"),
      anchors, col("vec_id"), col("embedding"), 3)
    assert(unlabeled.collect().toSet == knn.collect().toSet,
      "empty positive set must reproduce knnBatch")
    hn.unpersist()
  }

  test("bitextMine: the ratio margin surfaces true pairs and discounts hubs") {
    // src 1 and tgt 101 are a planted parallel pair on a unique axis;
    // tgt 102 is a HUB: decently close to EVERY src (a high raw cosine
    // everywhere), which the margin must discount below the true pair.
    def v(x: Double, y: Double, z: Double) = Array(x, y, z)
    val src = Seq(
      (1L, v(1, 0, 0)),
      (2L, v(0.6, 0.8, 0)), (3L, v(0.6, 0, 0.8)), (4L, v(0.6, 0.57, 0.57)))
      .toDF("id", "vec")
    val hub = v(0.75, 0.47, 0.47) // ~0.75 cosine against every src
    val tgt = Seq(
      (101L, v(1, 0, 0)),   // exact match for src 1 only
      (102L, hub),
      (103L, v(0, 1, 0)))
      .toDF("id", "vec")
    val got = Similarity.bitextMine(src, col("id"), col("vec"),
        tgt, col("id"), col("vec"), nnK = 2, topN = 12)
      .select("src_id", "tgt_id", "margin_micro")
      .as[(Long, Long, Long)].collect()
    val top = got.maxBy(_._3)
    assert((top._1, top._2) == ((1L, 101L)),
      s"the planted parallel pair must rank first: ${got.toSeq}")
    // every hub pair's margin is below the true pair's
    val hubBest = got.filter(_._2 == 102L).map(_._3).max
    assert(hubBest < top._3,
      s"hub margins must be discounted: hub=$hubBest true=${top._3}")
    // non-positive cosines never mine: src 1 vs tgt 103 is orthogonal
    assert(!got.exists(p => p._1 == 1L && p._2 == 103L),
      "orthogonal pair must be filtered")
  }

  test("bitextMine: margins stay exact below nnK candidates, string ids salt-spread") {
    // |tgt| = 1 < nnK = 5: each src side sums ONE neighbor (nx = 1) and
    // the tgt side two (ny = 2) — a hardcoded-k denominator would deflate
    // every margin ~2.5×. String src ids also exercise the xxhash64 salt
    // (a raw `src_id mod 64` casts strings to null — one salt group).
    val src = Seq(
      ("s1", Array(1.0, 0.0)), ("s2", Array(0.6, 0.8))).toDF("id", "vec")
    val tgt = Seq(("t1", Array(1.0, 0.0))).toDF("id", "vec")
    val got = Similarity.bitextMine(src, col("id"), col("vec"),
        tgt, col("id"), col("vec"), nnK = 5, topN = 10)
      .select("src_id", "tgt_id", "cos_micro", "margin_micro")
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // cos(s1,t1)=1.0 -> 10000; cos(s2,t1)=0.6 -> 6000
    // ax: s1 {10000} nx=1; s2 {6000} nx=1. ay: t1 {10000,6000} sum 16000 ny=2
    // margin(s1) = 2*1*2*10000*1e6 div (10000*2 + 16000*1) = 1111111
    // margin(s2) = 2*1*2*6000*1e6  div (6000*2  + 16000*1) = 857142
    assert(got(("s1", "t1")) == ((10000L, 1111111L)), got.toString)
    assert(got(("s2", "t1")) == ((6000L, 857142L)), got.toString)
  }

  test("bitextMineBatched ≡ one-shot bitextMine at any batch count") {
    // real corpus shapes: src = the embeddings table, tgt = a 25-row
    // mining batch (reshifted ids so src/tgt ids differ). Every
    // cross-batch merge is exercised: the src-side top-nnK re-top (a
    // src's neighbors straddle batches), the disjoint ay union, and
    // the global re-limit of per-batch margin cuts.
    val e = emb.select("vec_id", "embedding")
    val tgt = e.filter($"vec_id" <= 25)
      .select(($"vec_id" + 1000).as("vec_id"), $"embedding")
    def run(df: => org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] =
      df.as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val oneShot = run(Similarity.bitextMine(e, col("vec_id"), col("embedding"),
      tgt, col("vec_id"), col("embedding"), nnK = 4, topN = 40))
    assert(oneShot.size == 40, "fixture must fill topN so the cut is exercised")
    for (b <- Seq(1, 3, 7, 40)) { // 40 > |tgt|: some batches empty
      val batched = run(Similarity.bitextMineBatched(e, col("vec_id"),
        col("embedding"), tgt, col("vec_id"), col("embedding"),
        nnK = 4, topN = 40, tgtBatches = b))
      assert(batched == oneShot, s"tgtBatches=$b must be exact: " +
        s"got ${batched.take(3)}... want ${oneShot.take(3)}...")
    }
  }

  test("bitextMineBatched: string ids through the fused ax+ay pass (type seam)") {
    // the r19 fused side-pass carries BOTH id columns (one null per side)
    // in a single exploded struct — this pins the non-numeric-id surface:
    // string keys must group, salt (xxhash64), and join back identically
    // to the one-shot operator
    val src = Seq(("s1", Array(1.0, 0.0)), ("s2", Array(0.6, 0.8)),
      ("s3", Array(0.0, 1.0))).toDF("id", "vec")
    val tgt = Seq(("t1", Array(1.0, 0.0)), ("t2", Array(0.8, 0.6)))
      .toDF("id", "vec")
    def run(df: => org.apache.spark.sql.DataFrame): Seq[(String, String, Long, Long)] =
      df.as[(String, String, Long, Long)].collect().toSeq.sorted
    val oneShot = run(Similarity.bitextMine(src, col("id"), col("vec"),
      tgt, col("id"), col("vec"), nnK = 3, topN = 10))
    for (b <- Seq(1, 2, 5)) {
      val batched = run(Similarity.bitextMineBatched(src, col("id"), col("vec"),
        tgt, col("id"), col("vec"), nnK = 3, topN = 10, tgtBatches = b))
      assert(batched == oneShot, s"tgtBatches=$b: $batched != $oneShot")
    }
  }

  test("semanticDedup maxCell: a hot cell binds the cap, audit flags exactly it") {
    // cell 0 = 12 exact copies (the pathological hot cell: m² = 144
    // pairs with no guard), cell 1 = one dup pair. Cap 10 binds on
    // cell 0 only: its members are excluded from PAIRING (all kept,
    // never silently vanished — the audit reports the cell), while
    // cell 1 keeps normal dedup semantics.
    val hot = (1L to 12L).map(i => (i, Array(1.0, 0.0)))
    val pair = Seq((101L, Array(0.0, 1.0)), (102L, Array(0.0, 1.0)))
    val corpus = (hot ++ pair).toDF("vec_id", "embedding")
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    def statuses(maxCell: Long): Map[Long, String] =
      Similarity.semanticDedup(corpus, col("vec_id"), col("embedding"),
          cents, 0.99, maxCell = maxCell)
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val capped = statuses(10L)
    assert(capped.size == 14, "one status row per vector, capped cell included")
    assert((1L to 12L).forall(capped(_) == "kept"),
      s"over-cap cell members must all be kept: $capped")
    assert(capped(101L) == "kept" && capped(102L) == "dropped",
      s"under-cap cells keep normal dedup semantics: $capped")
    // audit names exactly the capped cell, with the pair mass it avoided
    val audit = Similarity.semanticCellAudit(
        Similarity.withIvfCell(corpus, col("vec_id"), col("embedding"), cents), 10L)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(audit == Set((0, 12L, true), (1, 2L, false)), audit.toString)
    // a cap above the max cell size is a no-op: identical to uncapped
    val uncapped = statuses(Long.MaxValue)
    assert(statuses(12L) == uncapped, "cap >= max cell size must change nothing")
    assert((2L to 12L).forall(uncapped(_) == "dropped"),
      s"uncapped must drop the whole hot cell's tail: $uncapped")
    // greedy shares the cap semantics
    val g = Similarity.semanticDedupGreedy(corpus, col("vec_id"),
        col("embedding"), cents, 0.99, maxCell = 10L)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(g == capped, s"greedy cap must agree with the pair join's: $g")
    val gFull = Similarity.semanticDedupGreedy(corpus, col("vec_id"),
        col("embedding"), cents, 0.99)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(gFull == uncapped, "greedy default stays uncapped")
  }

  test("semanticDedupOnCellsRelativeCap ≡ precomputed maxCell (in-plan sizing)") {
    // 14 vectors over 2 cells: capFactor·N/nCells = 1.5·14/2 = 21 →
    // cap 21 (binds nothing here), and 0.5·14/2 = 3.5 → ceil 4 (binds
    // the 12-member hot cell) — both must equal the driver-side
    // formula the q234 builder used before r19
    val hot = (1L to 12L).map(i => (i, Array(1.0, 0.0)))
    val pair = Seq((101L, Array(0.0, 1.0)), (102L, Array(0.0, 1.0)))
    val corpus = (hot ++ pair).toDF("vec_id", "embedding")
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val cells = Similarity.withIvfCell(corpus, col("vec_id"), col("embedding"), cents)
    for (f <- Seq(1.5, 0.5)) {
      val mx = math.ceil(f * 14 / 2).toLong
      val expect = Similarity.semanticDedupOnCells(cells, 0.99, maxCell = mx)
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      val got = Similarity.semanticDedupOnCellsRelativeCap(cells, 0.99,
          capFactor = f, nCells = 2)
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(got == expect, s"capFactor=$f (mx=$mx): $got != $expect")
    }
  }
}
