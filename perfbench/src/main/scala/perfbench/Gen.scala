package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A generated document corpus plus the duplicates planted in it. */
final case class Corpus(docs: IndexedSeq[(Long, String)],
                        nearPairs: Seq[(Long, Long)],
                        exactPairs: Seq[(Long, Long)]) {
  def digest: String = Sha.hex(docs.iterator.map { case (i, t) => s"$i\t$t" })
  def toDF(spark: SparkSession): DataFrame =
    spark.createDataFrame(docs).toDF("doc_id", "text")
}

/** Seeded input generators. Every choice is a pure function of
  * (seed, stream, index, position), so a seed fixes the inputs exactly and
  * no generator depends on iteration order or partitioning. */
object Gen {
  /** splitmix64 finalizer over an ordered tuple of longs. */
  def h(xs: Long*): Long = xs.foldLeft(0x9E3779B97F4A7C15L) { (acc, x) =>
    var z = acc ^ (x + 0x9E3779B97F4A7C15L + (acc << 6) + (acc >>> 2))
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def unit(x: Long): Double = (x >>> 11).toDouble / (1L << 53).toDouble

  // stream tags keep the draws of different purposes independent
  private val Src = 1L; private val Salt = 2L; private val Near = 3L
  private val Exact = 4L; private val Drop = 5L; private val Batch = 6L

  /** 3-token shingle set, the engine's default MinHash shingling over
    * whitespace tokens (the generator only emits single-space text). */
  def shingles(text: String, k: Int = 3): Set[String] = {
    val t = text.split(" ")
    if (t.length < k) Set.empty else t.sliding(k).map(_.mkString(" ")).toSet
  }
  def jaccard(a: String, b: String): Double = {
    val x = shingles(a); val y = shingles(b)
    val u = (x union y).size
    if (u == 0) 0.0 else (x intersect y).size.toDouble / u
  }

  /** A salted copy of a source text: each token is kept or replaced by a
    * per-(doc, position) salt word, so copies of one source share few
    * shingles while keeping its length and word distribution. */
  def salted(sources: IndexedSeq[Array[String]], seed: Long, stream: Long, i: Long): String = {
    val src = sources(java.lang.Math.floorMod(h(seed, Src, stream, i), sources.size.toLong).toInt)
    src.indices.map { p =>
      val r = h(seed, Salt, stream, i, p)
      if ((r & 1L) == 0L) src(p) else "s" + java.lang.Long.toString((r >>> 40) & 0xFFFFFFL, 36)
    }.mkString(" ")
  }

  /** `text` with one interior token dropped, when that leaves the pair's
    * shingle Jaccard at or above `minJ` (planted pairs must be found by a
    * 0.8-threshold near-dup search with LSH recall close to 1). */
  def nearCopy(text: String, seed: Long, stream: Long, i: Long, minJ: Double = 0.9): Option[String] = {
    val t = text.split(" ")
    if (t.length < 12) None
    else {
      val pos = 3 + java.lang.Math.floorMod(h(seed, Drop, stream, i), (t.length - 6).toLong).toInt
      val out = (t.take(pos) ++ t.drop(pos + 1)).mkString(" ")
      if (jaccard(text, out) >= minJ) Some(out) else None
    }
  }

  /** `n` salted base docs (ids idBase…), then near copies of ~nearFrac and
    * exact copies of ~exactFrac of them, appended with fresh ids. */
  def corpus(sources: IndexedSeq[Array[String]], n: Int, seed: Long,
             idBase: Long = 0L, nearFrac: Double = 0.05, exactFrac: Double = 0.01): Corpus = {
    val base = (0 until n).map(i => (idBase + i, salted(sources, seed, 0L, idBase + i)))
    var next = idBase + n
    val extra = mutable.ArrayBuffer.empty[(Long, String)]
    val near = mutable.ArrayBuffer.empty[(Long, Long)]
    val exact = mutable.ArrayBuffer.empty[(Long, Long)]
    base.foreach { case (id, text) =>
      if (unit(h(seed, Near, id)) < nearFrac)
        nearCopy(text, seed, 0L, id).foreach { t =>
          extra += (next -> t); near += (id -> next); next += 1
        }
      if (unit(h(seed, Exact, id)) < exactFrac) {
        extra += (next -> text); exact += (id -> next); next += 1
      }
    }
    Corpus(base ++ extra, near.toSeq, exact.toSeq)
  }

  /** Arrival batch `b` of `size` docs against `base`: fresh salted docs,
    * plus near and exact copies of base docs. */
  def batch(sources: IndexedSeq[Array[String]], base: Corpus, b: Int, size: Int,
            seed: Long, idBase: Long): IndexedSeq[(Long, String)] =
    (0 until size).map { j =>
      val id = idBase + b.toLong * size + j
      val r = unit(h(seed, Batch, b, j))
      def baseDoc = base.docs(java.lang.Math.floorMod(h(seed, Batch, b, j, 1L), base.docs.size.toLong).toInt)._2
      val text =
        if (r < 0.05) baseDoc
        else if (r < 0.15) nearCopy(baseDoc, seed, 1L + b, j).getOrElse(salted(sources, seed, 1L + b, id))
        else salted(sources, seed, 1L + b, id)
      id -> text
    }

  /** Source token arrays from the fixture `documents` table. */
  def sources(spark: SparkSession, fixtureDir: String): IndexedSeq[Array[String]] =
    spark.read.parquet(s"$fixtureDir/documents.parquet").orderBy("doc_id")
      .select("text").collect().map(_.getString(0).trim.split("\\s+")).toIndexedSeq

  /** The StressGraph hash web graph, seeded: `n` nodes and up to 3 hash
    * out-links each (self-loops dropped). */
  def graph(spark: SparkSession, n: Long, seed: Long): (DataFrame, DataFrame) = {
    val nodes = spark.range(n).select(col("id").as("node"))
    val edges = nodes
      .select(col("node").as("src"), explode(sequence(lit(1), lit(3))).as("j"))
      .withColumn("dst", pmod(xxhash64(lit(seed), col("src"), col("j")), lit(n)))
      .filter(col("dst") =!= col("src"))
      .select("src", "dst")
    (nodes, edges)
  }

  /** Edge count and an order- and partition-insensitive digest. */
  def edgeDigest(edges: DataFrame): (Long, String) = {
    val r = edges.agg(count(lit(1)),
      sum(pmod(xxhash64(col("src"), col("dst")), lit(1L << 31)))).head()
    (r.getLong(0), s"${r.getLong(0)}:${r.getLong(1)}")
  }

  /** Component label (smallest member) of every node in `edges`. */
  def unionFind(edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var y = x
      while (y != r) { val p = parent(y); parent(y) = r; y = p }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.map(k => k -> find(k)).toMap
  }
}
