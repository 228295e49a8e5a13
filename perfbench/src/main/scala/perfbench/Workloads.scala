package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, MinHashConfig}
import graft.operators.{CacheScope, Graph}

/** Timed operations of one run: latency, outcome and the first few
  * failure messages. A failed output check counts as a failed op. */
final class OpLog {
  val latNs = mutable.ArrayBuffer.empty[Long]
  val names = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]

  def op(name: String)(f: => Boolean): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val failure =
      try { if (f) None else Some("output check failed") }
      catch { case e: Throwable => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    latNs += System.nanoTime() - t0
    names += name
    failure.foreach { msg =>
      failed += 1
      if (failures.size < 20) failures += s"$name: $msg"
    }
  }
}

/** Everything a workload needs between set-up and the end of a run. */
trait Prepared {
  def inputDigest: String
  /** Units of work one pass processes (queries, docs or edges). */
  def itemsPerPass: Long
  /** One pass over the workload's operations; `check` verifies outputs. */
  def pass(tr: Tracer, log: OpLog, check: Boolean): Unit
  /** Per-pass counters (pairs, bytes) that are not spans. */
  def counters: Map[String, Double] = Map.empty
  def close(): Unit = ()
}

trait Workload {
  def name: String
  def params: Map[String, Any]
  def shufflePartitions(root: File): String = "8"
  /** Whole passes a run times at least, whatever `--seconds` says. */
  def minPasses: Int = 1
  /** Generates and materializes the inputs; `root` is the benchmark
    * directory (fixtures, pinned digests), `workDir` a private scratch dir. */
  def prepare(spark: SparkSession, seed: Long, root: File, workDir: File): Prepared
}

object Workloads {
  val all: Seq[Workload] = Seq(Registry, CorpusOps)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Production-shaped MinHash: 64 permutations, 16 bands, xxhash64. */
  val Cfg: MinHashConfig = MinHashConfig.generated(64, 16, portable = false)
  val Threshold = 0.8

  /** The committed sf0.01 tables every input is made from. */
  def fixture(root: File): String = new File(root, "fixtures/sf0.01").getPath

  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

import Workloads._

/** Registry queries over the committed sf0.01 fixture, noop sink, seeded
  * order. Outputs are checked against digests pinned from this engine. */
object Registry extends Workload {
  val name = "registry_sf0.01"
  def digestsFile(root: File) = new File(root, "registry_digests.tsv")

  val families: Seq[(String, Seq[graft.queries.Q])] = {
    import graft.queries._
    Seq("relational" -> RelationalQueries.queries, "text" -> TextQueries.queries,
      "dedup" -> DedupQueries.queries, "similarity" -> SimilarityQueries.queries,
      "streaming" -> StreamingQueries.queries, "pipeline" -> PipelineQueries.queries,
      "corpus" -> CorpusQueries.queries, "chat" -> ChatQueries.queries,
      "privacy" -> PrivacyQueries.queries)
  }

  /** name -> digest, for the queries whose digest was stable when pinned. */
  def pinned(root: File): Map[String, String] = {
    val src = scala.io.Source.fromFile(digestsFile(root))
    try src.getLines().filter(_.nonEmpty).map(_.split("\t")).map(a => a(0) -> a(1)).toMap
    finally src.close()
  }

  /** The first pinned query of each family, in name order. */
  def subset(pins: Map[String, String]): Seq[(String, graft.queries.Q)] =
    families.flatMap { case (fam, qs) =>
      qs.filter(q => pins.contains(q.name)).sortBy(_.name).headOption.map(fam -> _)
    }

  def params: Map[String, Any] = Map("fixture" -> "sf0.01", "queries_per_family" -> 1)
  override def shufflePartitions(root: File): String =
    graft.EngineConf.harnessShufflePartitions(fixture(root))
  override def minPasses: Int = 2

  def prepare(spark: SparkSession, seed: Long, root: File, workDir: File): Prepared = {
    val fixtureDir = fixture(root)
    val pins = pinned(root)
    val order = new scala.util.Random(seed).shuffle(subset(pins))
    val files = Option(new File(fixtureDir).listFiles).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val digest = Sha.bytes(files.iterator.flatMap(f =>
      Iterator(f.getName.getBytes, java.nio.file.Files.readAllBytes(f.toPath))))
    new Prepared {
      val inputDigest = digest
      val itemsPerPass = order.size.toLong
      def pass(tr: Tracer, log: OpLog, check: Boolean): Unit =
        order.foreach { case (fam, q) =>
          spark.catalog.clearCache()
          log.op(q.name) {
            val df = tr.span(s"queries.$fam.build")(q.run(spark, fixtureDir))
            tr.span(s"queries.$fam.action") {
              if (check) Digest(df) == pins(q.name)
              else { df.write.format("noop").mode("overwrite").save(); true }
            }
          }
        }
    }
  }
}

/** The dedup layer end to end on a seeded salted corpus with planted near
  * and exact duplicates: the batch pipeline (nearDuplicates ->
  * connectedComponents -> exactGroups), then
  * the stored-index path (buildIndex written to parquet, and an arrival
  * batch classified against the re-read index and appended to parquet). */
object DedupIngest extends Workload {
  val name = "dedup_ingest"
  val Docs = 1500
  val BatchDocs = 300
  def params: Map[String, Any] = Map("docs" -> Docs, "near_frac" -> 0.05, "exact_frac" -> 0.01,
    "batch_docs" -> BatchDocs, "perms" -> 64, "bands" -> 16, "threshold" -> Threshold)

  def prepare(spark: SparkSession, seed: Long, root: File, workDir: File): Prepared = {
    val sources = Gen.sources(spark, fixture(root))
    val corpus = Gen.corpus(sources, Docs, seed)
    val arrivals = Gen.batch(sources, corpus, 0, BatchDocs, seed, 1L << 40)
    val df = corpus.toDF(spark).persist()
    val delta = spark.createDataFrame(arrivals).toDF("doc_id", "text").persist()
    df.count(); delta.count()
    val digest = Sha.hex(Iterator(corpus.digest, Sha.hex(arrivals.iterator.map { case (i, t) => s"$i\t$t" })))
    val texts = corpus.docs.toMap
    val exactTruth = corpus.docs.groupBy(_._2).values.filter(_.size > 1)
      .map(g => g.map(_._1).min -> g.size.toLong).toMap
    val rnd = new scala.util.Random(seed)
    def statusCounts(st: DataFrame): Map[String, Long] =
      st.groupBy("status").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    var expected: Map[String, Long] = null
    var passNo = 0
    new Prepared {
      val inputDigest = digest
      val itemsPerPass = (corpus.docs.size + BatchDocs).toLong
      private var cand, verified, indexBytes, written = 0.0
      override def counters = Map("dedup.candidate_pairs" -> cand, "dedup.verified_pairs" -> verified,
        "sink.index_bytes" -> indexBytes, "sink.index_docs" -> corpus.docs.size.toDouble,
        "sink.write_bytes" -> written)

      def pass(tr: Tracer, log: OpLog, check: Boolean): Unit = {
        // LSH candidate count (for the verify yield), once: it is a
        // property of the input and the MinHash config, not a timing
        if (check) log.op("lsh_candidates") {
          cand = Dedup.lshCandidates(Dedup.minhashSignatures(df, col("doc_id"), col("text"), Cfg), Cfg)
            .count().toDouble
          cand > 0
        }
        val scope = new CacheScope
        var pairs: DataFrame = null
        try {
          log.op("near_duplicates") {
            pairs = tr.span("dedup.near_duplicates") {
              val p = Dedup.nearDuplicates(df, col("doc_id"), col("text"), Threshold, Cfg, scope).persist()
              verified = p.count().toDouble
              p
            }
            !check || {
              val got = pairs.select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
              val planted = (corpus.nearPairs ++ corpus.exactPairs).forall(got.contains)
              val sample = rnd.shuffle(got.toSeq).take(200)
              planted && sample.forall { case (a, b) => Gen.jaccard(texts(a), texts(b)) >= Threshold - 1e-9 }
            }
          }
          log.op("connected_components") {
            val cc = tr.span("dedup.cc") {
              val c = Dedup.connectedComponents(pairs, col("d1"), col("d2")).persist()
              c.count(); c
            }
            try !check || {
              val truth = Gen.unionFind(pairs.select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))))
              cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == truth
            } finally cc.unpersist()
          }
        } finally {
          if (pairs != null) pairs.unpersist()
          scope.close()
        }
        log.op("exact_groups") {
          val groups = tr.span("dedup.exact_groups") {
            Dedup.exactGroups(df, col("doc_id"), col("text")).filter(col("n_dups") > 1)
              .select("keeper", "n_dups").collect()
          }
          !check || groups.map(r => r.getLong(0) -> r.getLong(1)).toMap == exactTruth
        }

        passNo += 1
        val dir = new File(workDir, s"ingest-pass$passNo")
        val indexPath = new File(dir, "index").getPath
        log.op("build_index") {
          val idx = tr.span("dedup.build_index") {
            val i = Dedup.buildIndex(df, col("doc_id"), col("text"), Cfg).persist()
            i.count(); i
          }
          try tr.span("sink.write")(idx.write.parquet(indexPath))
          finally idx.unpersist()
          indexBytes = dirBytes(new File(indexPath)).toDouble
          indexBytes > 0
        }
        log.op("classify_append") {
          val scope = new CacheScope
          try {
            val (st, counts) = tr.span("dedup.classify") {
              val s = Dedup.incrementalDedupAgainstIndex(spark.read.parquet(indexPath), delta,
                col("doc_id"), col("text"), Threshold, Cfg, scope).persist()
              (s, statusCounts(s))
            }
            try tr.span("sink.write")(st.write.parquet(new File(dir, "status").getPath))
            finally st.unpersist()
            if (check && expected == null) {
              val ref = new CacheScope
              try expected = statusCounts(Dedup.incrementalDedup(df, col("doc_id"), col("text"),
                delta, col("doc_id"), col("text"), Threshold, Cfg, ref))
              finally ref.close()
            }
            counts.values.sum == BatchDocs && counts == expected
          } finally scope.close()
        }
        written = dirBytes(dir).toDouble
        deleteTree(dir)
      }
      override def close(): Unit = { df.unpersist(); delta.unpersist() }
    }
  }
}

/** The iterative PageRank loop on the seeded StressGraph hash web graph:
  * every round is a join, an aggregation and a lineage-truncating
  * checkpoint. */
object GraphLoops extends Workload {
  val name = "graph_10k"
  val Nodes = 10000L
  val PageRankIters = 3
  def params: Map[String, Any] = Map("nodes" -> Nodes, "out_links" -> 3,
    "pagerank_iters" -> PageRankIters)

  def prepare(spark: SparkSession, seed: Long, root: File, workDir: File): Prepared = {
    val (n0, e0) = Gen.graph(spark, Nodes, seed)
    val nodes = n0.persist()
    val edges = e0.persist()
    nodes.count()
    val (nEdges, digest) = Gen.edgeDigest(edges)
    new Prepared {
      val inputDigest = digest
      val itemsPerPass = nEdges
      def pass(tr: Tracer, log: OpLog, check: Boolean): Unit =
        log.op("pagerank") {
          val scope = new CacheScope
          try {
            val mass = tr.span("graph.pagerank") {
              Graph.pageRank(nodes, col("node"), edges, col("src"), col("dst"), PageRankIters, scope = scope)
                .agg(sum("rank")).head().getDouble(0)
            }
            math.abs(mass - 1.0) < 1e-6
          } finally scope.close()
        }
      override def close(): Unit = { nodes.unpersist(); edges.unpersist() }
    }
  }
}

/** The corpus operators in one pass: [[DedupIngest]] then [[GraphLoops]],
  * each on its own seeded input. Items are the documents deduplicated. */
object CorpusOps extends Workload {
  val name = "corpus_ops"
  val parts: Seq[Workload] = Seq(DedupIngest, GraphLoops)
  def params: Map[String, Any] = parts.map(p => p.name -> p.params).toMap

  def prepare(spark: SparkSession, seed: Long, root: File, workDir: File): Prepared = {
    val ps = parts.map(_.prepare(spark, seed, root, workDir))
    new Prepared {
      val inputDigest = Sha.hex(ps.iterator.map(_.inputDigest))
      val itemsPerPass = ps.head.itemsPerPass
      def pass(tr: Tracer, log: OpLog, check: Boolean): Unit = ps.foreach(_.pass(tr, log, check))
      override def counters = ps.flatMap(_.counters).toMap
      override def close(): Unit = ps.foreach(_.close())
    }
  }
}
