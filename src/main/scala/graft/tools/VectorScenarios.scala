package graft.tools

import scala.util.Using

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.CacheScope
import graft.similarity.Similarity
import graft.text.Retrieval
import graft.tools.Stress.{clusteredVectors, Params}

/** [[Stress]] scenarios of the retrieval families: vector ANN and
  * semantic dedup, and BM25 sparse retrieval. */
object VectorScenarios {

  /** `vectors` clustered 64-d vectors, a 256-cell KMeans codebook trained
    * on a 2% sample, and 20 queries answered by batch brute kNN (the exact
    * baseline), single-query brute, per-query and batched IVF at nProbe=8
    * (~3% of the corpus scanned), with recall@10 vs brute — the cost /
    * recall trade a deployment tunes. Then, on the same corpus: the
    * full-corpus refined codebook; the persisted-index lifecycle (4
    * on-disk batches, a delta append, load and probe, which must equal the
    * in-memory cells); two-level cells at ~250 vectors per cell with
    * SemDeDup pair joins uncapped and capped at 3× the mean cell (the
    * audit's Σ|capped cell|² is exactly the pair mass avoided); refined
    * fine codebooks; and bitext margin mining one-shot vs batched (the
    * one-shot form persists the |src|×|tgt| scored frame, which outgrows
    * local scratch above 4M, so it runs only below that). */
  def ann(spark: SparkSession, rm: RunMetrics, p: Params): Unit = {
    val n = p("vectors")
    val nQ = 20
    val k = 10
    val corpus = clusteredVectors(spark.range(n), 64).repartition(32).cache()
    println(s"[ann] corpus ${corpus.count()} vectors x 64 dims")
    def cached(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }
    val sample = corpus.filter(pmod(col("vec_id"), lit(50L)) === 0).select(col("embedding"))
    val centroids = rm.stage("codebook: KMeans k=256 on 20k sample")(
      Similarity.trainCentroids(sample, col("embedding"), k = 256))
    val cells = rm.stage("cell assignment (map-side, inlined codebook)")(cached(
      Similarity.withIvfCell(corpus, col("vec_id"), col("embedding"), centroids)))
    val queries = corpus.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val brute = rm.stage(s"brute batch kNN ($nQ queries x ${n} vectors)")(cached(
      Similarity.knnBatch(corpus, col("vec_id"), col("embedding"),
        queries, col("query_id"), col("qv"), k)))
    rm.stage("brute single query (per-query exact cost)")(
      Similarity.knnBrute(corpus.filter(col("vec_id") =!= 0L), col("vec_id"),
        col("embedding"), corpus.filter(col("vec_id") === 0L), col("embedding"), k)
        .collect())
    val qVecs = queries.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1).toSeq
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
    def ivfBatch(label: String, c: DataFrame, cb: Array[Array[Double]], nProbe: Int) =
      rm.stage(label)(neighborSets(Similarity.annIvfBatch(c, qVecs, cb, nProbe = nProbe, k = k)))
    val ivfResults = rm.stage(s"IVF nProbe=8 ($nQ queries, job each)")(qVecs.map {
      case (qid, qv) =>
        qid -> Similarity.annIvf(cells.filter(col("vec_id") =!= qid), qv, centroids,
          nProbe = 8, k = k).collect().map(_.getLong(0)).toSet
    })
    val batchSets = ivfBatch(s"IVF batched, ONE job ($nQ queries)", cells, centroids, 8)
    recall("per-query", ivfResults)
    recall("batched", batchSets)

    // sample-train then full-corpus refine: the q113 production path
    val refined = rm.stage("kmeansRefine: 5 Lloyd iters over 1M")(
      Similarity.kmeansRefine(corpus, col("vec_id"), col("embedding"), centroids, iters = 5))
    val refinedCells = rm.stage("refined cell re-assignment")(cached(
      Similarity.withIvfCell(corpus, col("vec_id"), col("embedding"), refined)))
    recall("refined-codebook",
      ivfBatch("IVF batched over refined codebook", refinedCells, refined, 8))
    refinedCells.unpersist()

    // assign once and persist: ingest as 4 on-disk batches, probe the
    // LOADED index, then append an n/10 delta (only the delta is scored)
    val ixDir = p.dir("ivf_ix")
    rm.stage("ivf index build (4 on-disk delta batches)") {
      (0 until 4).foreach { b =>
        Similarity.ivfIndexAppend(corpus.filter(pmod(col("vec_id"), lit(4L)) === b),
          col("vec_id"), col("embedding"), centroids, ixDir, b.toLong)
      }
    }
    val (loadedCells, loadedCb) = Similarity.ivfIndexLoad(spark, ixDir)
    val loadedSets = ivfBatch("IVF batched over LOADED index", loadedCells, loadedCb, 8)
    val mismatch = batchSets.count { case (q, s) => loadedSets.getOrElse(q, Set()) != s }
    println(s"[ann] loaded-index probe equality: ${if (mismatch == 0) "EXACT" else s"$mismatch/$nQ queries differ"}")
    rm.stage(s"ivf index delta append (${n / 10} new vectors)") {
      Similarity.ivfIndexAppend(clusteredVectors(spark.range(n, n + n / 10), 64),
        col("vec_id"), col("embedding"), centroids, ixDir, 4L)
    }
    val grown = Similarity.ivfIndexLoad(spark, ixDir)._1.count()
    println(s"[ann] index rows after delta = ${"%,d".format(grown)} (expect ${"%,d".format(n + n / 10)})")

    // two-level assignment at k_eff ≈ n/250 cells: (256 + kFine)·64 work
    // per row where a flat argmin would pay k_eff·64
    val kFine = math.max(2, (n / 250 / 256).toInt)
    def occupancy(c: DataFrame): Row = c.groupBy("cell").count()
      .agg(count(lit(1)), max("count"), sum(col("count") * col("count"))).head
    def occLine(r: Row) = s"cells = ${"%,d".format(r.getLong(0))}, " +
      s"max|cell| = ${"%,d".format(r.getLong(1))}, sum|cell|^2 = ${"%,d".format(r.getLong(2))}"
    def statusCounts(df: DataFrame): Unit = println("[ann]   " +
      df.groupBy("status").count().orderBy("status").collect()
        .map(r => s"${r.getString(0)}=${"%,d".format(r.getLong(1))}").mkString(", "))
    val fines = rm.stage(s"seeded fine codebooks (256 x $kFine)")(
      Similarity.seededFineCodebooks(corpus, col("vec_id"), col("embedding"), centroids, kFine))
    val cells2 = rm.stage(s"two-level assignment (${256 * kFine} eff cells)")(cached(
      Similarity.withIvfCell2(corpus, col("vec_id"), col("embedding"), centroids, fines, kFine)))
    cells.unpersist()
    val occ = occupancy(cells2)
    println(s"[ann] occupied ${occLine(occ)} (pair-work bound)")
    rm.stage("semantic drift over two-level cells (TVD)") {
      val d = graft.operators.Drift.tvdSeries(cells2, pmod(col("vec_id"), lit(4L)),
        col("cell")).collect()
      println(s"[ann]   drift rows = ${d.length}")
    }
    rm.stage("semanticDedup pair join (threshold 0.999)")(
      statusCounts(Similarity.semanticDedupOnCells(cells2, 0.999)))
    val capAt = 3L * math.max(2L, n / math.max(1L, occ.getLong(0)))
    rm.stage(s"semanticDedup CAPPED pair join (maxCell=$capAt)") {
      val audit = Similarity.semanticCellAudit(cells2, capAt)
        .filter(col("capped"))
        .agg(count(lit(1)).as("cells"),
          sum(col("n_members") * col("n_members")).as("pairMass"),
          max("n_members").as("maxM")).head
      def orZero(i: Int) = if (audit.isNullAt(i)) "0" else "%,d".format(audit.getLong(i))
      println(s"[ann]   capped cells = ${orZero(0)}, avoided pair mass = ${orZero(1)}, " +
        s"max capped |cell| = ${orZero(2)}")
      statusCounts(Similarity.semanticDedupOnCells(cells2, 0.999, maxCell = capAt))
    }
    // probe the composite cells at the flat path's scan fraction (8/256):
    // the recall trade of coarse-first routing
    recall("two-level (same 3.1% scan)", ivfBatch("IVF batched over TWO-LEVEL cells",
      cells2, Similarity.compositeCentroids(centroids, fines, kFine), 8 * kFine))
    // fine-only Lloyd refinement under the fixed coarse routing, probed at
    // the same scan fraction
    val finesR = rm.stage("refineFineCodebooks: 2 fine-only Lloyd iters")(
      Similarity.refineFineCodebooks(corpus, col("vec_id"), col("embedding"),
        centroids, fines, kFine, iters = 2))
    val cells2R = rm.stage("two-level re-assignment (refined fines)")(cached(
      Similarity.withIvfCell2(corpus, col("vec_id"), col("embedding"), centroids, finesR, kFine)))
    cells2.unpersist()
    recall("refined two-level (same scan)", ivfBatch("IVF batched over REFINED two-level",
      cells2R, Similarity.compositeCentroids(centroids, finesR, kFine), 8 * kFine))
    println(s"[ann] refined occupancy: ${occLine(occupancy(cells2R))}")
    cells2R.unpersist()

    // bitext margin mining: corpus src against a 64-vector target batch
    val tgtBatch = corpus.filter(pmod(col("vec_id"), lit(n / 64)) === 7L)
    def mined(df: DataFrame): Seq[(Long, Long, Long, Long)] = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq.sorted
    val oneShotTop =
      if (n <= 4000000L) Some(rm.stage("bitext ONE-SHOT mine (64-target batch)")(
        mined(Similarity.bitextMine(corpus, col("vec_id"), col("embedding"),
          tgtBatch, col("vec_id"), col("embedding"), nnK = 4, topN = 100))))
      else { println("[ann] bitext one-shot SKIPPED above 4M vectors (scored-frame persist exceeds local scratch)"); None }
    val batchedTop = rm.stage("bitext BATCHED mine (64 targets, 8 sub-batches)")(
      mined(Similarity.bitextMineBatched(corpus, col("vec_id"), col("embedding"),
        tgtBatch, col("vec_id"), col("embedding"), nnK = 4, topN = 100, tgtBatches = 8)))
    println(s"[ann]   mined pairs = ${batchedTop.size} (top-100 cut)")
    oneShotTop.foreach { os =>
      println(s"[ann] batched == one-shot: ${if (os == batchedTop) "EXACT" else "MISMATCH"}")
    }
  }

  /** BM25 over `docs` docs whose vocabulary mixes common terms (high df,
    * the prune keeps many postings) and rare ones (low df), the regime
    * idf exists for: index build, a `queries`-query top-10 batch cold and
    * warm, with the postings → pruned funnel printed, so "query cost
    * follows postings for the query terms, not the corpus" is measured.
    * Then graded relevance at scale: the q217 provably-ideal fixture at
    * `families` families × 4 docs, queried for `graded_queries` of them,
    * where exact expected metrics are asserted (bm25 hits@1 = 0, rrf
    * hits@1 = nGq with CG@2 = 2·nGq, rerank hits@1 = nGq with CG@2 =
    * 3·nGq), ingested as 8 on-disk batches, compacted, and re-measured:
    * the compacted index must give identical rows. */
  def retrieval(spark: SparkSession, rm: RunMetrics, p: Params): Unit = {
    val n = p("docs")
    val nq = p("queries")
    // 40 tokens/doc: positions 0-9 from ~100-value pools (df ≈ n/100),
    // 10-39 from ~100k pools (df ≈ n/100k)
    def tokenExprs(id: Column) = (0 until 40).map { j =>
      hex(xxhash64(lit(j), pmod(id, lit(if (j < 10) 100L else 100000L))))
    }
    val corpus = spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", tokenExprs(col("id")): _*).as("text"))
    // queries = 8 terms of a pseudo-random existing doc: 2 common + 6 rare
    val qdoc = tokenExprs(pmod(col("id") * 1009L + 17L, lit(n)))
    val queries = spark.range(nq)
      .select(col("id").as("qid"), array(qdoc.take(2) ++ qdoc.slice(10, 16): _*).as("qtoks"))
    Using.resource(new CacheScope) { scope =>
      val ix = rm.stage(s"index_build_${n / 1000}k") {
        val i = Retrieval.bm25Index(corpus, col("doc_id"), split(col("text"), " "), scope)
        println(s"[retrieval] postings rows = ${"%,d".format(i.postings.count())}")
        i
      }
      val pruned = ix.postings.join(
        broadcast(queries.select(explode(col("qtoks")).as("token")).distinct()), "token")
      println(s"[retrieval] pruned postings for $nq queries = ${"%,d".format(pruned.count())}")
      def top10 = Retrieval.bm25TopKFromIndex(ix, queries, col("qid"), col("qtoks"), 10,
        scope = scope)
      val top = rm.stage(s"bm25_top10_${nq}q") {
        val t = top10
        println(s"[retrieval] result rows = ${t.count()}")
        t
      }
      // re-query against the warm index: the per-batch marginal cost
      rm.stage(s"bm25_top10_${nq}q_warm")(top10.count())
      top.show(5, truncate = false)
    }

    val nFam = p("families")
    val nGq = p("graded_queries")
    require(nGq >= 1 && nGq <= nFam && nFam % nGq == 0,
      s"graded_queries must divide families (got $nGq of $nFam): the stride " +
        "filter selects exactly nGq queries only when nFam % nGq == 0, " +
        "and the exact-metrics assertions depend on that count")
    // per family: grade-2 relevant, grade-0 term-spam decoy (BM25's tf
    // saturation ranks it first at ANY corpus size), grade-1 partial,
    // grade-0 noise; token namespaces are per family, so the ideal top-5
    // is the family
    val fams = spark.range(nFam).select(col("id").as("qid"))
    def kt(sfx: String) = concat(lit("k"), col("qid"), lit(sfx))
    def ft(sfx: String) = concat(lit("f"), col("doc"), lit(sfx))
    def fam(v: Int, grade: Int, vec: (Double, Double))(tk: Column*) =
      fams.withColumn("doc", col("qid") * 10 + v)
        .withColumn("grade", lit(grade.toLong))
        .withColumn("tk", array(tk: _*))
        .withColumn("v", array(lit(vec._1), lit(vec._2)))
    val corp = fam(1, 2, (600.0, 400.0))(kt("a"), kt("b"), kt("c"), ft("x"), ft("y"), ft("z"))
      .unionByName(fam(2, 0, (50.0, 50.0))(
        kt("a"), kt("a"), kt("a"), kt("b"), kt("b"), kt("b"), kt("c"), kt("c"), kt("c")))
      .unionByName(fam(3, 1, (300.0, 200.0))(kt("a"), ft("x"), ft("y"), ft("z")))
      .unionByName(fam(4, 0, (10.0, 10.0))(ft("x"), ft("y")))
      .cache()
    println(s"[retrieval] graded corpus = ${"%,d".format(corp.count())} docs")
    val dir = p.dir("graded_ix")
    rm.stage(s"graded_ingest_8_batches") {
      (0 until 8).foreach { b =>
        Retrieval.bm25IndexAppend(corp.filter(pmod(col("doc"), lit(8)) === b),
          col("doc"), col("tk"), dir, b.toLong)
      }
    }
    val gq = fams.filter(col("qid") % (nFam / nGq) === 0)
      .select(col("qid"), array(kt("a"), kt("b"), kt("c")).as("qtoks"))
    def metrics(label: String, ixDir: String): Array[Row] =
      Using.resource(new CacheScope) { scope =>
        val ixg = Retrieval.bm25IndexLoad(spark, ixDir)
        def ranked(stage: String)(df: => DataFrame) = rm.stage(s"${label}_$stage") {
          val r = df.select("qid", "doc", "rank").cache()
          r.count(); r
        }
        val sp = ranked("bm25_top5")(Retrieval.bm25TopKFromIndex(ixg, gq,
          col("qid"), col("qtoks"), 5, scope = scope))
        val dn = ranked("rerank_top5")(Retrieval.rerankDense(sp.select("qid", "doc"),
          gq.select(col("qid"), array(lit(1.0), lit(1.0)).as("qv")),
          corp.select(col("doc"), col("v")), 5))
        val rr = ranked("rrf")(Retrieval.rrfFuse(Seq(sp, dn), k = 5))
        val rows = sp.withColumn("ranker", lit("bm25"))
          .unionByName(dn.withColumn("ranker", lit("rerank")))
          .unionByName(rr.withColumn("ranker", lit("rrf")))
          .join(corp.select("doc", "grade"), "doc")
          .groupBy("ranker")
          .agg(count_if(col("grade") === 2 && col("rank") === 1).as("hits_at_1"),
            sum(when(col("rank") <= 2, col("grade")).otherwise(0L)).as("cg_at_2"))
          .orderBy("ranker").collect()
        rows.foreach(r => println(s"[retrieval] $label ${r.getString(0)}: " +
          s"hits@1=${r.getLong(1)} cg@2=${r.getLong(2)}"))
        Seq(sp, dn, rr).foreach(_.unpersist())
        rows
      }
    val before = metrics(s"graded_${nGq / 1000}kq", dir)
    val want = Map("bm25" -> (0L, 2 * nGq), "rrf" -> (nGq, 2 * nGq), "rerank" -> (nGq, 3 * nGq))
    before.foreach { r =>
      val (h, c) = want(r.getString(0))
      assert(r.getLong(1) == h && r.getLong(2) == c,
        s"graded metrics off the provable ideal: $r (want $h/$c)")
    }
    val dir2 = p.dir("graded_ix2")
    rm.stage("graded_compact_16p")(
      Retrieval.bm25IndexCompact(spark, dir, dir2, targetPartitions = 16))
    def partFiles(d: String) = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
      .filter(_.toString.endsWith(".parquet")).count()
    println(s"[retrieval] part files: ${partFiles(dir)} -> ${partFiles(dir2)}")
    val after = metrics(s"graded_${nGq / 1000}kq_compacted", dir2)
    assert(before.map(_.toString).toSeq == after.map(_.toString).toSeq,
      s"compacted index changed the metrics: ${after.mkString(";")}")
    println(s"[retrieval] post-compact metrics identical ($dir -> $dir2)")
  }
}
