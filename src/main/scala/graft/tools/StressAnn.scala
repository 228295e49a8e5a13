package graft.tools

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.similarity.Similarity

/** Million-vector probe of the ANN path (driver-side tooling): a
  * deterministic synthetic corpus of 1M 64-d vectors drawn around 1000
  * hash-derived cluster centers (real embedding corpora are clustered —
  * uniform noise is IVF's adversarial case and nothing like production
  * data), a 256-cell KMeans codebook trained on a 20k sample, then 20
  * queries answered three ways: batch brute kNN (exact baseline, one
  * broadcast crossJoin scan amortized over all queries), single-query
  * brute (the per-query exact cost), and per-query IVF with nProbe=8
  * (scan bounded to ~3% of the corpus). Reports wall times and
  * recall@10 of IVF vs brute — the cost/recall trade the 100 TB
  * deployment actually tunes. Results are committed to EXPLAIN.md. */
object StressAnn {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_ANN_N", "1000000").toLong
    val nQ = 20
    val k = 10
    val spark = graft.EngineConf.localSession(None)
    // deterministic clustered corpus: vector i sits near center
    // xxhash64(i) % 1000; dim d = center(c, d) + 0.05·noise(i, d), all
    // hash-folded into [-1, 1] — fully replayable, no RNG state
    def clustered(ids: Dataset[_]): DataFrame = {
      val cl = pmod(xxhash64(col("id")), lit(1000L))
      ids.select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), d =>
          (pmod(xxhash64(lit("c"), cl, d), lit(2000001L)).cast("double") / 1e6 - 1.0) +
            (pmod(xxhash64(col("id"), d), lit(2001L)).cast("double") / 1e3 - 1.0) * 0.05)
          .as("embedding"))
    }
    val corpus = clustered(spark.range(n)).repartition(32).cache()
    println(s"[ann] corpus ${corpus.count()} vectors x 64 dims")
    val rm = new RunMetrics(spark, "ann")
    val sample = corpus.filter(pmod(col("vec_id"), lit(50L)) === 0).select(col("embedding"))
    val centroids = rm.stage("codebook: KMeans k=256 on 20k sample")(
      Similarity.trainCentroids(sample, col("embedding"), k = 256))
    val cells = rm.stage("cell assignment (map-side, inlined codebook)") {
      val c = Similarity.withIvfCell(corpus, col("vec_id"), col("embedding"), centroids).cache()
      c.count(); c
    }
    val queries = corpus.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val brute = rm.stage(s"brute batch kNN ($nQ queries x ${n} vectors)") {
      val b = Similarity.knnBatch(corpus, col("vec_id"), col("embedding"),
        queries, col("query_id"), col("qv"), k).cache()
      b.count(); b
    }
    rm.stage("brute single query (per-query exact cost)")(
      Similarity.knnBrute(corpus.filter(col("vec_id") =!= 0L), col("vec_id"),
        col("embedding"), corpus.filter(col("vec_id") === 0L), col("embedding"), k)
        .collect())
    val qVecs = queries.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    // (query_id, vec_id) rows -> neighbor set per query
    def neighborSets(df: DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val bruteSets = neighborSets(brute)
    def recall(label: String, sets: Iterable[(Long, Set[Long])]): Unit = {
      val hits = sets.iterator.map { case (q, s) => (s & bruteSets(q)).size }.sum
      println(f"[ann] $label recall@$k vs brute: ${hits.toDouble / (nQ * k)}%.3f")
    }
    val ivfResults = rm.stage(s"IVF nProbe=8 ($nQ queries, job each)")(qVecs.map {
      case (qid, qv) =>
        qid -> Similarity.annIvf(cells.filter(col("vec_id") =!= qid), qv, centroids,
          nProbe = 8, k = k).collect().map(_.getLong(0)).toSet
    })
    val batchSets = rm.stage(s"IVF batched, ONE job ($nQ queries)")(neighborSets(
      Similarity.annIvfBatch(cells, qVecs.toSeq, centroids, nProbe = 8, k = k)))
    recall("per-query", ivfResults)
    recall("batched", batchSets)

    // Refined-codebook recall (r15): kmeansRefine's distributed Lloyd
    // iterations over the FULL corpus, seeded from the sample-trained
    // codebook — the q113 production path (sample-train then full-corpus
    // refine). Recall must hold (or improve) under the refined cells.
    val refined = rm.stage("kmeansRefine: 5 Lloyd iters over 1M") {
      Similarity.kmeansRefine(corpus, col("vec_id"), col("embedding"),
        centroids, iters = 5)
    }
    val refinedCells = rm.stage("refined cell re-assignment") {
      val c = Similarity.withIvfCell(corpus, col("vec_id"), col("embedding"),
        refined).cache()
      c.count(); c
    }
    recall("refined-codebook", rm.stage("IVF batched over refined codebook")(
      neighborSets(Similarity.annIvfBatch(refinedCells, qVecs.toSeq,
        refined, nProbe = 8, k = k))))
    refinedCells.unpersist()

    // Persisted-index lifecycle (r17): the "assign once and persist"
    // mitigation as an operator. Ingest the corpus as 4 on-disk delta
    // batches, then append a NEW n/10 delta (only the delta is scored —
    // the incremental cost a streaming ingest pays per batch), then load
    // and probe: batched-IVF results over the LOADED index must equal
    // the in-memory cells' results on the original corpus ids.
    val ixDir = java.nio.file.Files.createTempDirectory("ivf_ix").toString
    rm.stage("ivf index build (4 on-disk delta batches)") {
      (0 until 4).foreach { b =>
        Similarity.ivfIndexAppend(corpus.filter(pmod(col("vec_id"), lit(4L)) === b),
          col("vec_id"), col("embedding"), centroids, ixDir, b.toLong)
      }
    }
    val (loadedCells, loadedCb) = Similarity.ivfIndexLoad(spark, ixDir)
    val loadedSets = rm.stage("IVF batched over LOADED index")(neighborSets(
      Similarity.annIvfBatch(loadedCells, qVecs.toSeq, loadedCb, nProbe = 8, k = k)))
    val mismatch = batchSets.count { case (q, s) => loadedSets.getOrElse(q, Set()) != s }
    println(s"[ann] loaded-index probe equality: ${if (mismatch == 0) "EXACT" else s"$mismatch/$nQ queries differ"}")
    val delta = clustered(spark.range(n, n + n / 10))
    rm.stage(s"ivf index delta append (${n / 10} new vectors)") {
      Similarity.ivfIndexAppend(delta, col("vec_id"), col("embedding"),
        centroids, ixDir, 4L)
    }
    val grown = Similarity.ivfIndexLoad(spark, ixDir)._1.count()
    println(s"[ann] index rows after delta = ${"%,d".format(grown)} (expect ${"%,d".format(n + n / 10)})")

    // ---- semantic family at scale through codegen'd assignment (r17) ----
    // Constant-cell-size config: k_eff ≈ n/250 composite cells via
    // two-level assignment (256 coarse × kFine fine at (256+kFine)·64
    // per-row cost — flat argmin at k_eff·64 would be the next scale
    // killer after the codegen fix). Σ|cell|² is the SemDeDup pair-work
    // bound; the occupancy line makes it a measured number, then the
    // actual pair join runs through it.
    val kFine = math.max(2, (n / 250 / 256).toInt)
    val fines = rm.stage(s"seeded fine codebooks (256 x $kFine)") {
      Similarity.seededFineCodebooks(corpus, col("vec_id"), col("embedding"),
        centroids, kFine)
    }
    val cells2 = rm.stage(s"two-level assignment (${256 * kFine} eff cells)") {
      val c = Similarity.withIvfCell2(corpus, col("vec_id"), col("embedding"),
        centroids, fines, kFine).cache()
      c.count(); c
    }
    cells.unpersist() // flat cells no longer needed; free executor memory
    val occ = cells2.groupBy("cell").count()
      .agg(count(lit(1)), max("count"), sum(col("count") * col("count"))).head
    println(s"[ann] occupied cells = ${"%,d".format(occ.getLong(0))}, " +
      s"max|cell| = ${"%,d".format(occ.getLong(1))}, " +
      s"sum|cell|^2 = ${"%,d".format(occ.getLong(2))} (pair-work bound)")
    rm.stage("semantic drift over two-level cells (TVD)") {
      val d = graft.operators.Drift.tvdSeries(cells2, pmod(col("vec_id"), lit(4L)),
        col("cell")).collect()
      println(s"[ann]   drift rows = ${d.length}")
    }
    rm.stage("semanticDedup pair join (threshold 0.999)") {
      val st = Similarity.semanticDedupOnCells(cells2, 0.999)
        .groupBy("status").count().orderBy("status").collect()
      println(s"[ann]   " + st.map(r => s"${r.getString(0)}=${"%,d".format(r.getLong(1))}")
        .mkString(", "))
    }
    // CAPPED pair mass (r18): maxCell at 3× the mean cell size — on
    // this corpus the cap binds on the occupancy tail, and the audit's
    // Σ|capped cell|² is EXACTLY the pair mass the join no longer pays.
    // One pathological hot cell (r17 saw max|cell| = 10,201 → ~52M
    // pairs from that one cell) is bounded by construction.
    val meanCell = math.max(2L, n / math.max(1L, occ.getLong(0)))
    val capAt = 3L * meanCell
    rm.stage(s"semanticDedup CAPPED pair join (maxCell=$capAt)") {
      val audit = Similarity.semanticCellAudit(cells2, capAt)
        .filter(col("capped"))
        .agg(count(lit(1)).as("cells"),
          sum(col("n_members") * col("n_members")).as("pairMass"),
          max("n_members").as("maxM")).head
      val cappedCells = audit.getLong(0)
      println(s"[ann]   capped cells = ${"%,d".format(cappedCells)}, " +
        s"avoided pair mass = ${if (audit.isNullAt(1)) 0L else "%,d".format(audit.getLong(1))}, " +
        s"max capped |cell| = ${if (audit.isNullAt(2)) 0L else "%,d".format(audit.getLong(2))}")
      val st = Similarity.semanticDedupOnCells(cells2, 0.999, maxCell = capAt)
        .groupBy("status").count().orderBy("status").collect()
      println(s"[ann]   " + st.map(r => s"${r.getString(0)}=${"%,d".format(r.getLong(1))}")
        .mkString(", "))
    }
    // ANN retrieval THROUGH the two-level cells: probe the composite
    // table at the same corpus fraction flat-256/nProbe=8 scans (8/256
    // = 3.1% → nProbe2 = 8·kFine of the 256·kFine composite cells) —
    // the recall trade of coarse-first routing, measured.
    val comp = Similarity.compositeCentroids(centroids, fines, kFine)
    recall("two-level (same 3.1% scan)", rm.stage("IVF batched over TWO-LEVEL cells")(
      neighborSets(Similarity.annIvfBatch(cells2, qVecs.toSeq, comp,
        nProbe = 8 * kFine, k = k))))

    // Two-level END TO END (r18): Lloyd-refine the FINE books under the
    // fixed coarse routing, re-assign, and probe the refined composite
    // table at the SAME scan fraction — the before/after-refinement
    // recall comparison the residual-quantizer training split is for.
    val finesR = rm.stage("refineFineCodebooks: 2 fine-only Lloyd iters") {
      Similarity.refineFineCodebooks(corpus, col("vec_id"), col("embedding"),
        centroids, fines, kFine, iters = 2)
    }
    val cells2R = rm.stage("two-level re-assignment (refined fines)") {
      val c = Similarity.withIvfCell2(corpus, col("vec_id"), col("embedding"),
        centroids, finesR, kFine).cache()
      c.count(); c
    }
    cells2.unpersist()
    val compR = Similarity.compositeCentroids(centroids, finesR, kFine)
    recall("refined two-level (same scan)", rm.stage("IVF batched over REFINED two-level")(
      neighborSets(Similarity.annIvfBatch(cells2R, qVecs.toSeq, compR,
        nProbe = 8 * kFine, k = k))))
    val occR = cells2R.groupBy("cell").count()
      .agg(count(lit(1)), max("count"), sum(col("count") * col("count"))).head
    println(s"[ann] refined occupancy: cells = ${"%,d".format(occR.getLong(0))}, " +
      s"max|cell| = ${"%,d".format(occR.getLong(1))}, " +
      s"sum|cell|^2 = ${"%,d".format(occR.getLong(2))}")
    cells2R.unpersist()

    // Bitext margin mining (r11): the full corpus src side against a
    // 64-vector target batch — one corpus scan into the scored frame,
    // both neighbor ranks, the margin division, the global top cut.
    // The ONE-SHOT form persists the |src|×|tgt| scored frame: at 10M
    // src that frame killed the r17 probe on ~74 GB of local scratch,
    // so it only runs here below 4M; the BATCHED form (r18) never
    // persists corpus-sized state — it recomputes the per-batch scoring
    // per consumer — and is the shape that completes at 10M.
    val tgtBatch = corpus.filter(pmod(col("vec_id"), lit(n / 64)) === 7L)
    def mined(df: DataFrame): Seq[(Long, Long, Long, Long)] = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq.sorted
    val oneShotTop: Option[Seq[(Long, Long, Long, Long)]] =
      if (n <= 4000000L) Some(rm.stage("bitext ONE-SHOT mine (64-target batch)")(
        mined(Similarity.bitextMine(corpus, col("vec_id"), col("embedding"),
          tgtBatch, col("vec_id"), col("embedding"), nnK = 4, topN = 100))))
      else { println("[ann] bitext one-shot SKIPPED at this N (r17: scored-frame persist exceeds local scratch)"); None }
    val batchedTop = rm.stage("bitext BATCHED mine (64 targets, 8 sub-batches)")(
      mined(Similarity.bitextMineBatched(corpus, col("vec_id"), col("embedding"),
        tgtBatch, col("vec_id"), col("embedding"), nnK = 4, topN = 100, tgtBatches = 8)))
    println(s"[ann]   mined pairs = ${batchedTop.size} (top-100 cut)")
    oneShotTop.foreach { os =>
      println(s"[ann] batched == one-shot: ${if (os == batchedTop) "EXACT" else "MISMATCH"}")
    }
    spark.stop()
  }
}
