package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}

class RetrievalSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private def corpus(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")

  private def queriesOf(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("qid", "qtext")

  private def topK(c: DataFrame, q: DataFrame, k: Int,
                   k1: Double = 1.2, b: Double = 0.75): DataFrame =
    Retrieval.bm25TopK(c, col("doc_id"), split(col("text"), " "),
      q, col("qid"), split(col("qtext"), " "), k, k1, b)

  // ---- BM25 semantics -----------------------------------------------------

  test("bm25: idf — evidence on a rare term outranks evidence on a common one") {
    // "rare" appears in 1 of 4 docs, "common" in 3 of 4; doc lengths equal
    val c = corpus(Seq(
      (1L, "rare alpha beta"),
      (2L, "common alpha beta"),
      (3L, "common gamma beta"),
      (4L, "common delta beta")))
    val got = topK(c, queriesOf(Seq((10L, "rare common"))), 4)
      .select("doc", "rank").as[(Long, Int)].collect().toMap
    assert(got(1L) == 1, s"rare-term doc should rank first, got $got")
  }

  test("bm25: tf saturation — doubling tf gains, but less than doubles, the score") {
    val c = corpus(Seq(
      (1L, "term x x x"),
      (2L, "term term x x"), // tf=2 on "term", same dl
      (3L, "y y y y")))
    val scores = topK(c, queriesOf(Seq((10L, "term"))), 3)
      .select("doc", "bm25_micro").as[(Long, Long)].collect().toMap
    assert(scores.contains(1L) && scores.contains(2L) && !scores.contains(3L))
    assert(scores(2L) > scores(1L), "higher tf must score higher")
    assert(scores(2L) < 2 * scores(1L),
      s"k1 saturation must hold tf=2 under 2x tf=1: $scores")
  }

  test("bm25: length normalization — same tf, shorter doc wins; b=0 disables it") {
    val c = corpus(Seq(
      (1L, "term pad"),
      (2L, "term pad pad pad pad pad pad pad")))
    val q = queriesOf(Seq((10L, "term")))
    val withB = topK(c, q, 2).select("doc", "rank")
      .as[(Long, Int)].collect().toMap
    assert(withB(1L) == 1 && withB(2L) == 2, s"short doc must win: $withB")
    val noB = topK(c, q, 2, b = 0.0)
      .select("doc", "bm25_micro").as[(Long, Long)].collect().toMap
    assert(noB(1L) == noB(2L), s"b=0 must ignore length: $noB")
  }

  test("bm25: self-retrieval — a doc queried by its own tokens ranks itself first") {
    val c = corpus(Seq(
      (1L, "apple banana cherry"),
      (2L, "banana cherry date egg"),
      (3L, "fig grape hazel")))
    val q = c.select(col("doc_id").as("qid"), col("text").as("qtext"))
    val top1 = topK(c, q, 1).select("qid", "doc")
      .as[(Long, Long)].collect().toMap
    assert(top1 == Map(1L -> 1L, 2L -> 2L, 3L -> 3L), s"got $top1")
  }

  test("bm25: query terms deduplicate (set semantics) and absent terms contribute 0") {
    val c = corpus(Seq((1L, "alpha beta"), (2L, "beta gamma")))
    val once = topK(c, queriesOf(Seq((10L, "alpha zzz-not-in-corpus"))), 2)
      .select("doc", "bm25_micro").as[(Long, Long)].collect().toMap
    val twice = topK(c, queriesOf(Seq((10L, "alpha alpha zzz-not-in-corpus"))), 2)
      .select("doc", "bm25_micro").as[(Long, Long)].collect().toMap
    assert(once == twice, s"repeated query term must not double-count: $once vs $twice")
    assert(once.keySet == Set(1L), "docs sharing no term must be absent")
  }

  test("bm25: index round-trip — FromIndex over a rebuilt frame equals one-shot") {
    val c = corpus(Seq(
      (1L, "apple banana cherry"), (2L, "banana cherry date"),
      (3L, "cherry date egg"), (4L, "fig grape")))
    val q = queriesOf(Seq((10L, "banana cherry"), (20L, "fig")))
    val oneShot = topK(c, q, 3).collect().map(_.toSeq).toSet
    val ix = Retrieval.bm25Index(c, col("doc_id"), split(col("text"), " "))
    // the index IS the persistable artifact: parquet round-trip, query the reload
    val tmp = tempDir("bm25ix").toString
    ix.postings.write.mode("overwrite").parquet(s"$tmp/postings")
    ix.stats.write.mode("overwrite").parquet(s"$tmp/stats")
    val reloaded = Retrieval.Bm25Index(
      spark.read.parquet(s"$tmp/postings"), spark.read.parquet(s"$tmp/stats"))
    val viaIndex = Retrieval.bm25TopKFromIndex(reloaded, q,
      col("qid"), split(col("qtext"), " "), 3).collect().map(_.toSeq).toSet
    assert(oneShot == viaIndex)
  }

  test("bm25: merged delta index scores bit-identically to a full rebuild") {
    // length-unbalanced halves so avgdl genuinely differs per half —
    // the merge algebra (exact long n/sum recombination) must reproduce
    // the union corpus's avgdl, or length normalization drifts
    val all = corpus(Seq(
      (1L, "apple banana"), (2L, "banana cherry date egg fig grape"),
      (3L, "cherry date"), (4L, "apple egg fig grape hazel iris june kiwi"),
      (5L, "banana egg"), (6L, "date fig")))
    val q = queriesOf(Seq((10L, "banana date"), (20L, "apple fig")))
    def ixOf(c: DataFrame) =
      Retrieval.bm25Index(c, col("doc_id"), split(col("text"), " "))
    val full = Retrieval.bm25TopKFromIndex(ixOf(all), q,
      col("qid"), split(col("qtext"), " "), 4).collect().map(_.toSeq).toSet
    val merged = Retrieval.bm25IndexMerge(
      ixOf(all.filter(col("doc_id") <= 2)), ixOf(all.filter(col("doc_id") > 2)))
    val got = Retrieval.bm25TopKFromIndex(merged, q,
      col("qid"), split(col("qtext"), " "), 4).collect().map(_.toSeq).toSet
    assert(got == full)
  }

  test("bm25: partitioning invariance — exact integer scores under any layout") {
    val c = corpus((1L to 60L).map(i =>
      (i, s"w${i % 7} w${i % 5} w${i % 3} shared")))
    val q = queriesOf(Seq((100L, "w1 w2 shared"), (200L, "w4 shared")))
    val ref = topK(c, q, 5).collect().map(_.toSeq).toSet
    for (parts <- Seq(1, 7)) {
      val got = topK(c.repartition(parts), q, 5).collect().map(_.toSeq).toSet
      assert(got == ref, s"parts=$parts drifted")
    }
  }

  test("rerankDense: scores only nominated candidates; full nomination == brute") {
    val docVecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)),
      (3L, Seq(2.0, 0.0)), (4L, Seq(0.5, 0.5))).toDF("doc", "v")
    val qv = Seq((10L, Seq(1.0, 0.0))).toDF("qid", "qv")
    // doc 3 has the best dot (2.0) but is NOT nominated — must not appear
    val cands = Seq((10L, 1L), (10L, 2L), (10L, 4L)).toDF("qid", "doc")
    val got = Retrieval.rerankDense(cands, qv, docVecs, 2)
      .select("doc", "rank").as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 1, 4L -> 2), s"got $got")
    val all = docVecs.select(lit(10L).as("qid"), col("doc"))
    val brute = Retrieval.rerankDense(all, qv, docVecs, 4)
      .select("doc", "rank").as[(Long, Int)].collect().toMap
    assert(brute == Map(3L -> 1, 1L -> 2, 4L -> 3, 2L -> 4), s"got $brute")
  }

  // ---- RRF fusion -----------------------------------------------------------

  private def ranking(rows: Seq[(Long, Long, Int)]): DataFrame =
    rows.toDF("qid", "doc", "rank")

  test("rrf: hand-computed nano contributions and fused ordering") {
    // list A: d1@1, d2@2 ; list B: d2@1, d3@2
    val a = ranking(Seq((1L, 1L, 1), (1L, 2L, 2)))
    val b = ranking(Seq((1L, 2L, 1), (1L, 3L, 2)))
    val got = Retrieval.rrfFuse(Seq(a, b), k = 3)
      .select("doc", "rrf_nano", "rank")
      .as[(Long, Long, Int)].collect()
      .map { case (d, n, r) => d -> ((n, r)) }.toMap
    val c1 = 1000000000L / 61 // rank 1
    val c2 = 1000000000L / 62 // rank 2
    // d2 on both lists beats d1 (one rank-1) beats d3 (one rank-2)
    assert(got == Map(
      2L -> ((c1 + c2, 1)), 1L -> ((c1, 2)), 3L -> ((c2, 3))), s"got $got")
  }

  test("rrf: doc on both lists outranks equal-rank docs on one; per-qid isolation") {
    val a = ranking(Seq((1L, 10L, 3), (1L, 11L, 1), (2L, 20L, 1)))
    val b = ranking(Seq((1L, 10L, 3), (2L, 21L, 1)))
    val got = Retrieval.rrfFuse(Seq(a, b), k = 2)
      .select("qid", "doc", "rank").as[(Long, Long, Int)].collect().toSet
    // qid 1: d10 = 2/63 nano > d11 = 1/61; qid 2 ties broken by doc
    assert(got == Set((1L, 10L, 1), (1L, 11L, 2), (2L, 20L, 1), (2L, 21L, 2)),
      s"got $got")
  }

  test("relevance quality: rerank and rrf strictly improve over bm25 on " +
    "the planted term-spam fixture (the q217 construction)") {
    import org.apache.spark.sql.functions._
    // one query family: grade-2 relevant (each term once), grade-0 spam
    // (every term ×3 — tf saturation still ranks it above the relevant
    // doc), grade-1 partial, grade-0 noise; dense vectors order the
    // OPPOSITE way (rel > partial > spam)
    val corp = Seq(
      (11L, 2L, Seq("ka", "kb", "kc", "f1", "f2", "f3"), Seq(600.0, 400.0)),
      (12L, 0L, Seq("ka", "ka", "ka", "kb", "kb", "kb", "kc", "kc", "kc"),
        Seq(50.0, 50.0)),
      (13L, 1L, Seq("ka", "g1", "g2", "g3"), Seq(300.0, 200.0)),
      (14L, 0L, Seq("h1", "h2"), Seq(10.0, 10.0)))
      .toDF("doc", "grade", "tk", "v")
    val queries = Seq((1L, Seq("ka", "kb", "kc"))).toDF("qid", "qtoks")
    val sp = Retrieval.bm25TopK(corp, col("doc"), col("tk"), queries,
      col("qid"), col("qtoks"), k = 5).select("qid", "doc", "rank")
    val bmRanks = sp.as[(Long, Long, Int)].collect().map(r => r._2 -> r._3).toMap
    assert(bmRanks(12L) === 1 && bmRanks(11L) === 2 && bmRanks(13L) === 3,
      s"the lexical failure must be planted: spam above relevant ($bmRanks)")
    val qv = Seq((1L, Seq(1.0, 1.0))).toDF("qid", "qv")
    val dn = Retrieval.rerankDense(sp.select("qid", "doc"), qv,
      corp.select(col("doc"), col("v")), k = 5).select("qid", "doc", "rank")
    val rrRanks = dn.as[(Long, Long, Int)].collect().map(r => r._2 -> r._3).toMap
    assert(rrRanks(11L) === 1, s"rerank must put the relevant doc first ($rrRanks)")
    val fused = Retrieval.rrfFuse(Seq(sp, dn), k = 5)
      .select("doc", "rank").as[(Long, Int)].collect().toMap
    assert(fused(11L) === 1, s"fusion must recover the relevant doc at 1 ($fused)")
    // the metric ordering the q217 oracle row freezes: RR 1/2 -> 1,
    // CG@2 2 -> 2 (rrf) -> 3 (rerank)
    def cg2(m: Map[Long, Int], grades: Map[Long, Long]) =
      m.collect { case (d, r) if r <= 2 => grades(d) }.sum
    val grades = Map(11L -> 2L, 12L -> 0L, 13L -> 1L, 14L -> 0L)
    assert(cg2(bmRanks, grades) === 2L)
    assert(cg2(fused, grades) === 2L)
    assert(cg2(rrRanks, grades) === 3L)
  }

  test("rrf: k0 damping flattens rank differences") {
    val a = ranking(Seq((1L, 1L, 1), (1L, 2L, 10)))
    def gap(k0: Int): Long = {
      val m = Retrieval.rrfFuse(Seq(a), k = 2, k0 = k0)
        .select("doc", "rrf_nano").as[(Long, Long)].collect().toMap
      m(1L) - m(2L)
    }
    assert(gap(600) < gap(60) && gap(60) < gap(6))
  }
}
