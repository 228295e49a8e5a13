package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private val sources = IndexedSeq.tabulate(40)(i =>
    Array.tabulate(20 + i * 2)(p => s"w${(i * 7 + p * 3) % 37}"))

  test("the same seed gives the same corpus, another seed another one") {
    val a = Gen.corpus(sources, 2000, seed = 7)
    val b = Gen.corpus(sources, 2000, seed = 7)
    val c = Gen.corpus(sources, 2000, seed = 8)
    assert(a.digest == b.digest && a.nearPairs == b.nearPairs && a.exactPairs == b.exactPairs)
    assert(a.digest != c.digest)
    assert(a.nearPairs.nonEmpty && a.exactPairs.nonEmpty)
  }

  test("planted near copies clear the verify threshold with margin") {
    val c = Gen.corpus(sources, 2000, seed = 3)
    val text = c.docs.toMap
    c.nearPairs.foreach { case (x, y) => assert(Gen.jaccard(text(x), text(y)) >= 0.9) }
    c.exactPairs.foreach { case (x, y) => assert(text(x) == text(y)) }
  }

  test("arrival batches are deterministic per seed and batch") {
    val base = Gen.corpus(sources, 500, seed = 5)
    val a = Gen.batch(sources, base, 2, 300, seed = 5, idBase = 1L << 40)
    assert(a == Gen.batch(sources, base, 2, 300, seed = 5, idBase = 1L << 40))
    assert(a != Gen.batch(sources, base, 3, 300, seed = 5, idBase = 1L << 40))
    assert(a.map(_._1).distinct.size == 300)
  }

  test("graph inputs are deterministic per seed and independent of partitioning") {
    val (_, e1) = Gen.graph(spark, 2000, seed = 11)
    val (_, e2) = Gen.graph(spark, 2000, seed = 11)
    val (_, e3) = Gen.graph(spark, 2000, seed = 12)
    assert(Gen.edgeDigest(e1) == Gen.edgeDigest(e2.repartition(7)))
    assert(Gen.edgeDigest(e1) != Gen.edgeDigest(e3))
    assert(Gen.edgeDigest(e1)._1 > 5000)
  }

  test("output digests ignore row order and partition count, not values") {
    val df = spark.range(0, 500).select(col("id"), (col("id") % 7).as("k"),
      (col("id") / 3.0).as("x"), array(col("id"), lit(1L)).as("arr"))
    val d = Digest(df)
    assert(Digest(df.repartition(5)) == d)
    assert(Digest(df.orderBy(col("id").desc).coalesce(1)) == d)
    assert(Digest(df.select("x", "arr", "k", "id")) == d)
    assert(Digest(df.withColumn("x", col("x") + 1e-6)) != d)
    assert(Digest(df.filter(col("id") > 0)) != d)
  }

  test("digest cells: signed zero, rounding noise below 1e-9 and map order") {
    assert(Digest.cell(-0.0) == Digest.cell(0.0))
    assert(Digest.cell(0.1 + 0.2) == Digest.cell(0.3))
    assert(Digest.cell(Map("b" -> 1, "a" -> 2)) == Digest.cell(Map("a" -> 2, "b" -> 1)))
    assert(Digest.cell(Seq(1, 2)) != Digest.cell(Seq(2, 1)))
  }

  test("union-find labels every node with the smallest node of its component") {
    val labels = Gen.unionFind(Seq(5L -> 3L, 3L -> 9L, 10L -> 11L, 9L -> 1L))
    assert(labels == Map(1L -> 1L, 3L -> 1L, 5L -> 1L, 9L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  private def span(id: Int, parent: Int, a: Long, b: Long) = Span(id, s"s$id", parent, a, b, 0, 0, "r")

  test("self time subtracts the union of direct children only") {
    val spans = Seq(span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 25, 50),
      span(4, 2, 12, 20), span(5, 1, 90, 120))
    val self = Tracer.selfTimes(spans)
    assert(self(1) == 100 - (50 - 10) - (100 - 90)) // overlap counted once, clipped to parent
    assert(self(2) == 20 - 8)
    assert(self(3) == 25)
    assert(self(4) == 8)
    assert(self.values.forall(_ >= 0))
  }

  test("stats: linear quantiles") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) == 2.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.9) == 9.0)
  }

  test("an untraced tracer records nothing and a traced one nests spans") {
    val off = new Tracer(false, "r", spark.sparkContext)
    assert(off.span("x")(41 + 1) == 42 && off.recorded.isEmpty)
    val on = new Tracer(true, "r", spark.sparkContext)
    on.span("outer") { on.span("inner")(spark.range(10).count()) }
    val Seq(inner, outer) = on.recorded
    assert(inner.parent == outer.id && outer.parent == 0 && inner.runId == "r")
  }
}
