package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, TempDirs}
import graft.tools.RunMetrics

/** The one round loop: its job shape (eager truncation for fixed-count
  * loops, one fused job per round for converging ones), its round limit,
  * and — for every operator built on it — posture invariance: the
  * reliable-checkpoint posture returns the same rows as the default. */
class FixpointSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  /** `f`'s result and the Spark jobs it ran. */
  private def jobs[A](f: => A): (A, Long) = {
    val rm = new RunMetrics(spark, "fixpoint")
    try {
      val before = rm.totals()
      val a = f
      (a, (rm.totals() - before)("jobs"))
    } finally rm.close()
  }

  private def xs(df: DataFrame): Seq[Long] =
    df.select("x").as[Long].collect().toSeq.sorted

  /** x → min(x + 1, 3), with `chg` marking rows the step moved. */
  private def climb(s: DataFrame): DataFrame =
    s.select(least(col("x") + 1, lit(3L)).as("x"), (col("x") < 3).as("chg"))

  /** The test loops' pending action: one RDD count, exactly one job. */
  private def moved(round: Int, s: DataFrame): Boolean =
    round == 0 || s.filter(col("chg")).rdd.count() > 0

  test("iterate truncates init and every round eagerly: rounds + 1 jobs") {
    val (out, n) = jobs(
      Fixpoint.iterate(spark.range(4).toDF("x"), 3)(_.select((col("x") * 2).as("x"))))
    assert(n == 4)
    assert(xs(out) == Seq(0L, 8L, 16L, 24L))
    intercept[IllegalArgumentException](
      Fixpoint.iterate(spark.range(4).toDF("x"), 0)(identity))
  }

  test("converge fuses each round's truncation into its pending action: one job per round") {
    val ((out, rounds, settled), n) = jobs(
      Fixpoint.converge(spark.range(4).toDF("x"), 10)(climb)(
        (round, _, s) => moved(round, s)))
    // x = 0 needs 3 climbs; the 4th round moves nothing
    assert(settled && rounds == 4)
    assert(n == rounds)
    assert(xs(out) == Seq(3L, 3L, 3L, 3L))
  }

  test("converge returns settled = false at maxRounds instead of throwing") {
    val (out, rounds, settled) =
      Fixpoint.converge(spark.range(4).toDF("x"), 2)(climb)(
        (round, _, s) => moved(round, s))
    assert(!settled && rounds == 2)
    assert(xs(out) == Seq(2L, 3L, 3L, 3L))
    // a zero limit never steps
    val (_, r0, s0) = Fixpoint.converge(spark.range(4).toDF("x"), 0)(climb)(
      (round, _, s) => moved(round, s))
    assert(r0 == 0 && !s0)
  }

  test("converge hands pending the round's input as prev") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    Fixpoint.converge(spark.range(2).toDF("x"), 3)(
        _.select((col("x") + 10).as("x"))) { (round, prev, s) =>
      seen += ((round, xs(prev).head, xs(s).head))
      true
    }
    assert(seen.toSeq == Seq((0, 0L, 0L), (1, 0L, 10L), (2, 10L, 20L), (3, 20L, 30L)))
  }

  test("starComponents counts each round's state once") {
    // each round's check counts the new state; the next round's check
    // reads that count instead of counting the same frame again, which
    // under AQE is 2 jobs (the count's exchange map stage and its result)
    // per round from the second on. This chain: 85 jobs; counting both
    // frames every round ran 97
    val chain = (1L to 40L).map(i => (i, i + 1)).toDF("src", "dst")
    val (out, n) = jobs(graft.dedup.Dedup.starComponents(chain))
    assert(n == 85)
    assert(out.count() == 41)
    assert(out.select("canon").distinct().as[Long].collect().toSeq == Seq(1L))
  }

  test("UnigramLm.trainFromWords leaves no cache entry behind on an uncached word table") {
    val docs = Seq("aa ab ba", "ab ab aa", "ba aa ab").toDF("text")
    val words = graft.text.UnigramLm.wordCounts(docs, col("text"))
    import org.apache.spark.sql.graft.CacheEntries
    val before = CacheEntries.count(spark)
    graft.text.UnigramLm.trainFromWords(words, maxPieceLen = 2, seedSize = 10,
      vocabSize = 8, rounds = 2).collect()
    assert(CacheEntries.count(spark) == before,
      "trainFromWords left a cached frame behind")
  }

  private def withReliable[A](f: => A): A = {
    val dir = tempDir("graft_fixpoint_ckpt")
    spark.conf.set(Checkpoints.ReliableConf, "true")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try f finally spark.conf.unset(Checkpoints.ReliableConf)
  }

  test("every Fixpoint user returns the same rows under the reliable-checkpoint posture") {
    import graft.dedup.Dedup
    import graft.text.{Bpe, UnigramLm, WordPiece}
    val nodes = (1L to 6L).map(i => (i, if (i == 1L) Some(7L) else None)).toDF("id", "seed")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 6L), (6L, 4L))
      .toDF("s", "t")
    val prefs = Seq((1L, 1.0), (5L, 3.0)).toDF("id", "w")
    val chain = (1L to 12L).map(i => (i, i + 1)).toDF("d1", "d2")
    val tree = (0L to 20L).map(i => (i, if (i == 0L) None else Some(i / 2))).toDF("id", "parent")
    val docs = Seq("low lower lowest", "newest widest", "new low wide", "lower newer")
      .toDF("text")
    val users: Seq[(String, () => Seq[Any])] = Seq(
      "pageRank" -> (() => rows(Graph.pageRank(nodes, col("id"), edges,
        col("s"), col("t"), 3))),
      "personalizedPageRank" -> (() => rows(Graph.personalizedPageRank(nodes, col("id"),
        edges, col("s"), col("t"), prefs, col("id"), col("w"), 3))),
      "labelPropagation" -> (() => rows(Graph.labelPropagation(nodes, col("id"),
        col("seed"), edges, col("s"), col("t"), 3))),
      "hits" -> (() => rows(Graph.hits(nodes, col("id"), edges, col("s"), col("t"), 2))),
      "BradleyTerry.fit" -> (() => rows(BradleyTerry.fit(edges, col("s"), col("t"), 3))),
      "UnigramLm.trainFromWords" -> (() => rows(UnigramLm.trainFromWords(
        UnigramLm.wordCounts(docs, col("text")), maxPieceLen = 3, seedSize = 20,
        vocabSize = 12, rounds = 2))),
      "connectedComponents" -> (() => rows(Dedup.connectedComponents(edges,
        col("s"), col("t")))),
      // switchAfter = 1 on a long chain hands off to starComponents
      "connectedComponents → starComponents" -> (() => rows(Dedup.connectedComponents(
        chain, col("d1"), col("d2"), switchAfter = 1))),
      "starComponents" -> (() => rows(Dedup.starComponents(
        chain.select(col("d1").as("src"), col("d2").as("dst"))))),
      "hierarchyDepth" -> (() => rows(Relational.hierarchyDepth(tree, col("id"),
        col("parent")))),
      "Bpe.learnMerges" -> (() => Bpe.learnMerges(Bpe.initVocab(docs, col("text")), 5)),
      "WordPiece.learnMerges" -> (() =>
        WordPiece.learnMerges(WordPiece.initVocab(docs, col("text")), 5)))
    def sorted(r: Seq[Any]) = r.map(_.toString).sorted
    val base = users.map { case (name, run) => name -> sorted(run()) }
    val reliable = withReliable(users.map { case (name, run) => name -> sorted(run()) })
    base.zip(reliable).foreach { case ((name, b), (_, r)) =>
      assert(b.nonEmpty, s"$name returned nothing")
      assert(r == b, s"$name differs under the reliable posture")
    }
  }
}
