package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.CacheScope
import graft.text.Retrieval

/** Scale probe for the BM25 retrieval family (driver-side tooling):
  * index build + query-batch top-k over a corpus whose vocabulary mixes
  * common terms (high df — the prune keeps many postings) and rare terms
  * (low df — the prune keeps few), which is the regime BM25's idf exists
  * for. Reports the postings→pruned candidate funnel alongside wall
  * times, so "query cost scales with postings-for-query-terms, not
  * corpus" is a measured property rather than a claim. Committed numbers
  * in EXPLAIN.md round 14.
  *
  * Knobs: SPARK_GRAFT_RETRIEVAL_SCALE (docs, default 1,000,000),
  * SPARK_GRAFT_RETRIEVAL_QUERIES (batch size, default 100). */
object StressRetrieval {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_RETRIEVAL_SCALE", "1000000").toLong
    val nq = sys.env.getOrElse("SPARK_GRAFT_RETRIEVAL_QUERIES", "100").toLong
    val spark = graft.EngineConf.localSession(None)
    val rm = new RunMetrics(spark, "retrieval")

    // 40 tokens/doc: positions 0-9 draw from ~100-value pools (common,
    // df ≈ n/100), positions 10-39 from ~100k pools (rare, df ≈ n/100k).
    def tokenExprs(id: org.apache.spark.sql.Column) = (0 until 40).map { j =>
      val pool = if (j < 10) 100L else 100000L
      hex(xxhash64(lit(j), pmod(id, lit(pool))))
    }
    val corpus = spark.range(n)
      .select(col("id").as("doc_id"),
        concat_ws(" ", tokenExprs(col("id")): _*).as("text"))

    // queries = 8 terms of a pseudo-random existing doc: 2 common + 6 rare
    val qdoc = pmod(col("id") * 1009L + 17L, lit(n))
    val qterms = tokenExprs(qdoc).take(2) ++ tokenExprs(qdoc).slice(10, 16)
    val queries = spark.range(nq)
      .select(col("id").as("qid"), array(qterms: _*).as("qtoks"))

    scala.util.Using.resource(new CacheScope) { scope =>
      val ix = rm.stage(s"index_build_${n / 1000}k") {
        val i = Retrieval.bm25Index(corpus, col("doc_id"),
          split(col("text"), " "), scope)
        println(s"[retrieval] postings rows = ${"%,d".format(i.postings.count())}")
        i
      }
      val pruned = ix.postings.join(
        broadcast(queries.select(explode(col("qtoks")).as("token")).distinct()),
        "token")
      println(s"[retrieval] pruned postings for $nq queries = " +
        s"${"%,d".format(pruned.count())}")
      val top = rm.stage(s"bm25_top10_${nq}q") {
        val t = Retrieval.bm25TopKFromIndex(ix, queries,
          col("qid"), col("qtoks"), 10, scope = scope)
        println(s"[retrieval] result rows = ${t.count()}")
        t
      }
      // re-query against the warm index: the per-batch marginal cost
      rm.stage(s"bm25_top10_${nq}q_warm") {
        Retrieval.bm25TopKFromIndex(ix, queries,
          col("qid"), col("qtoks"), 10, scope = scope).count()
      }
      top.show(5, truncate = false)
    }

    // ---- graded RELEVANCE at scale: the q217 provably-ideal fixture
    // instantiated at nFam families x 4 docs (default 1M docs), queried
    // for nGq of the families. Per family: grade-2 relevant, grade-0
    // term-spam decoy (BM25's tf saturation provably ranks it first at
    // ANY corpus size), grade-1 partial, grade-0 noise — token
    // namespaces are per-family, so the ideal top-5 is the family and
    // the metrics have EXACT expected values: bm25 hits@1 = 0,
    // rrf hits@1 = nGq with CG@2 = 2*nGq, rerank hits@1 = nGq with
    // CG@2 = 3*nGq. The index ingests via 8 on-disk batches then
    // compacts; post-compact metrics must be identical rows.
    val nFam = sys.env.getOrElse("SPARK_GRAFT_RETRIEVAL_FAMILIES",
      "250000").toLong
    val nGq = sys.env.getOrElse("SPARK_GRAFT_RETRIEVAL_GRADED_QUERIES",
      "10000").toLong
    val fams = spark.range(nFam).select(col("id").as("qid"))
    def kt(sfx: String) = concat(lit("k"), col("qid"), lit(sfx))
    def ft(sfx: String) = concat(lit("f"), col("doc"), lit(sfx))
    def fam(v: Int, grade: Int, vec: (Double, Double))(
        tk: Seq[org.apache.spark.sql.Column]) =
      fams.withColumn("doc", col("qid") * 10 + v)
        .withColumn("grade", lit(grade.toLong))
        .withColumn("tk", array(tk: _*))
        .withColumn("v", array(lit(vec._1), lit(vec._2)))
    val corp =
      fam(1, 2, (600.0, 400.0))(
          Seq(kt("a"), kt("b"), kt("c"), ft("x"), ft("y"), ft("z")))
        .unionByName(fam(2, 0, (50.0, 50.0))(
          Seq(kt("a"), kt("a"), kt("a"), kt("b"), kt("b"), kt("b"),
            kt("c"), kt("c"), kt("c"))))
        .unionByName(fam(3, 1, (300.0, 200.0))(
          Seq(kt("a"), ft("x"), ft("y"), ft("z"))))
        .unionByName(fam(4, 0, (10.0, 10.0))(Seq(ft("x"), ft("y"))))
        .cache()
    println(s"[retrieval] graded corpus = ${"%,d".format(corp.count())} docs")
    val dir = java.nio.file.Files.createTempDirectory("graded_ix").toString
    rm.stage(s"graded_ingest_8_batches") {
      (0 until 8).foreach { b =>
        Retrieval.bm25IndexAppend(corp.filter(pmod(col("doc"), lit(8)) === b),
          col("doc"), col("tk"), dir, b.toLong)
      }
    }
    require(nGq >= 1 && nGq <= nFam && nFam % nGq == 0,
      s"GRADED_QUERIES must divide FAMILIES (got $nGq of $nFam): the stride " +
        "filter below selects exactly nGq queries only when nFam % nGq == 0, " +
        "and the exact-metrics assertions depend on that count")
    val gq = fams.filter(col("qid") % (nFam / nGq) === 0)
      .select(col("qid"), array(kt("a"), kt("b"), kt("c")).as("qtoks"))
    def metrics(label: String, ixDir: String): Array[org.apache.spark.sql.Row] =
      scala.util.Using.resource(new CacheScope) { scope =>
        val ixg = Retrieval.bm25IndexLoad(spark, ixDir)
        val sp = rm.stage(s"${label}_bm25_top5") {
          val r = Retrieval.bm25TopKFromIndex(ixg, gq,
            col("qid"), col("qtoks"), 5, scope = scope)
            .select("qid", "doc", "rank").cache()
          r.count(); r
        }
        val qv = gq.select(col("qid"), array(lit(1.0), lit(1.0)).as("qv"))
        val dn = rm.stage(s"${label}_rerank_top5") {
          val r = Retrieval.rerankDense(sp.select("qid", "doc"), qv,
            corp.select(col("doc"), col("v")), 5)
            .select("qid", "doc", "rank").cache()
          r.count(); r
        }
        val rr = rm.stage(s"${label}_rrf") {
          val r = Retrieval.rrfFuse(Seq(sp, dn), k = 5)
            .select("qid", "doc", "rank").cache()
          r.count(); r
        }
        val sys0 = sp.withColumn("ranker", lit("bm25"))
          .unionByName(dn.withColumn("ranker", lit("rerank")))
          .unionByName(rr.withColumn("ranker", lit("rrf")))
        val rows = sys0.join(corp.select("doc", "grade"), "doc")
          .groupBy("ranker")
          .agg(count_if(col("grade") === 2 && col("rank") === 1)
              .as("hits_at_1"),
            sum(when(col("rank") <= 2, col("grade")).otherwise(0L))
              .as("cg_at_2"))
          .orderBy("ranker").collect()
        rows.foreach(r => println(s"[retrieval] $label ${r.getString(0)}: " +
          s"hits@1=${r.getLong(1)} cg@2=${r.getLong(2)}"))
        Seq(sp, dn, rr).foreach(_.unpersist())
        rows
      }
    val before = metrics(s"graded_${nGq / 1000}kq", dir)
    val want = Map("bm25" -> (0L, 2 * nGq), "rrf" -> (nGq, 2 * nGq),
      "rerank" -> (nGq, 3 * nGq))
    before.foreach { r =>
      val (h, c) = want(r.getString(0))
      assert(r.getLong(1) == h && r.getLong(2) == c,
        s"graded metrics off the provable ideal: $r (want $h/$c)")
    }
    val dir2 = java.nio.file.Files.createTempDirectory("graded_ix2").toString
    rm.stage("graded_compact_16p") {
      Retrieval.bm25IndexCompact(spark, dir, dir2, targetPartitions = 16)
    }
    def partFiles(d: String) =
      java.nio.file.Files.walk(java.nio.file.Paths.get(d))
        .filter(p => p.toString.endsWith(".parquet")).count()
    println(s"[retrieval] part files: ${partFiles(dir)} -> ${partFiles(dir2)}")
    // re-measure against the compacted index: rows identical
    val after = metrics(s"graded_${nGq / 1000}kq_compacted", dir2)
    assert(before.map(_.toString).toSeq == after.map(_.toString).toSeq,
      s"compacted index changed the metrics: ${after.mkString(";")}")
    println(s"[retrieval] post-compact metrics identical ($dir -> $dir2)")
    spark.stop()
  }
}
