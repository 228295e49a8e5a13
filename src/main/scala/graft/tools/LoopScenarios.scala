package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Graph, Relational}
import graft.text.{Bpe, UnigramLm, WordPiece}
import graft.tools.Stress.{atTwoSizes, Params}

/** [[Stress]] scenarios of the iterative operators: the link-graph
  * family, pointer doubling and the three tokenizer trainers. */
object LoopScenarios {

  /** A `nodes`-node, 3-outlink hash web graph — the q124/q131/q133/q134
    * generator shape — through PageRank, personalized PageRank, HITS,
    * triangles and label propagation at the oracle queries' iteration
    * counts, then the same loops on a Zipf in-degree graph. Each stage
    * prints its result check (rank mass, top score, label coverage). */
  def graph(spark: SparkSession, rm: RunMetrics, p: Params): Unit = {
    val n = p("nodes")
    val nodes = spark.range(n).select(col("id").as("node")).cache()
    nodes.count()
    // 3 outlinks per node, `dst` a function of (src, j), self-loops dropped
    def linkGraph(dst: Column) = nodes
      .select(col("node").as("src"), explode(sequence(lit(1), lit(3))).as("j"))
      .withColumn("dst", dst)
      .filter(col("dst") =!= col("src"))
      .select("src", "dst").cache()
    def labelProp(edges: DataFrame) = {
      val seeded = nodes.withColumn("seed",
        when(col("node") % 1000 === 0, col("node") % 5).otherwise(lit(null).cast("long")))
      Graph.labelPropagation(seeded, col("node"), col("seed"), edges, col("src"), col("dst"), 3)
        .filter(col("label").isNotNull).count()
    }
    def rankMass(pr: DataFrame) = pr.agg(sum("rank")).head.getDouble(0)

    // uniform hash targets: the q124 generator
    val edges = linkGraph(pmod(xxhash64(concat(col("src").cast("string"), lit(":"), col("j"))), lit(n)))
    println(f"[graph] $n%,d nodes, ${edges.count()}%,d edges")
    rm.stage("pagerank(3)") {
      val m = rankMass(Graph.pageRank(nodes, col("node"), edges, col("src"), col("dst"), 3))
      println(f"[graph]   rank mass = $m%.6f (must be ~1)")
    }
    rm.stage("personalized_pr(3)") {
      val seeds = nodes.filter(col("node") % 10 === 0).select(col("node"), lit(1.0).as("w"))
      val m = rankMass(Graph.personalizedPageRank(nodes, col("node"),
        edges, col("src"), col("dst"), seeds, col("node"), col("w"), 3))
      println(f"[graph]   rank mass = $m%.6f (must be ~1)")
    }
    rm.stage("hits(2)") {
      val tops = Graph.hits(nodes, col("node"), edges, col("src"), col("dst"), 2)
        .agg(max("hub"), max("auth")).head
      println(s"[graph]   max hub = ${tops.getDouble(0)}, max auth = ${tops.getDouble(1)} (must be 1.0)")
    }
    rm.stage("triangles") {
      val agg = Graph.triangleCounts(edges, col("src"), col("dst"))
        .agg(sum("n_tri"), max("deg"), avg("lcc")).head
      println(f"[graph]   sum(tri)/3 = ${agg.getLong(0) / 3}%,d triangles, " +
        f"max deg = ${agg.getLong(1)}, mean lcc = ${agg.getDouble(2)}%.6f")
    }
    rm.stage("label_prop(3)")(
      println(f"[graph]   labeled ${labelProp(edges)}%,d / $n%,d nodes from ${n / 1000}%,d seeds"))
    edges.unpersist()

    // Zipf in-degree: dst = floor(n^u) with u uniform gives P(dst=v) ∝
    // 1/v, so at 1M nodes the top vertex takes ~5% of all edges. PageRank
    // and label propagation must survive it WITHOUT a per-key repartition:
    // PageRank's per-dst sum is map-side combinable, and label prop's mode
    // is a combinable count per (dst, label) then a window over the label
    // domain (≤ 5 rows per dst however hot the vertex).
    val u = pmod(xxhash64(concat(col("src").cast("string"),
      lit("#"), col("j"))), lit(1000000L)).cast("double") / 1e6
    val zedges = linkGraph(least(lit(n - 1), floor(pow(lit(n.toDouble), u))).cast("long"))
    val nze = zedges.count()
    val hot = zedges.groupBy("dst").count().orderBy(desc("count")).limit(3).collect()
    println(f"[graph] zipf: $nze%,d edges, hottest in-degrees = " +
      hot.map(r => f"${r.getLong(0)}:${r.getLong(1)}%,d").mkString(", "))
    rm.stage("zipf_pagerank(3)") {
      val pr = Graph.pageRank(nodes, col("node"), zedges, col("src"), col("dst"), 3)
      val top = pr.orderBy(desc("rank")).limit(1).collect().head
      println(f"[graph]   rank mass = ${rankMass(pr)}%.6f, top rank node ${top.getLong(0)} " +
        f"= ${top.getDouble(1)}%.6f")
    }
    rm.stage("zipf_label_prop(3)")(
      println(f"[graph]   labeled ${labelProp(zedges)}%,d / $n%,d nodes"))
  }

  /** Pointer-doubling hierarchy depth on a forest in the Reddit-thread
    * shape — 50k roots, ~95% of non-roots at depth 1–2 — plus ONE
    * 5,000-deep chain (the mega-thread). The per-round open-walk counts
    * show the finished-walk split collapsing the join input after round
    * 1 while only the deep chain sets the log-round count. */
  def hierarchy(spark: SparkSession, rm: RunMetrics, p: Params): Unit = {
    val n = p("rows")
    val chainLen = 5000L
    val roots = 50000L
    // id < roots → root; otherwise 80% attach directly to a root (depth
    // 1) and 20% to a node of the first band above the roots — a
    // geometric depth tail that stays shallow, the comment-thread shape
    val forest = spark.range(n).select(col("id"),
      when(col("id") < roots, lit(null).cast("long"))
        .when(pmod(xxhash64(col("id")), lit(5)) < 4,
          pmod(xxhash64(col("id") * 7), lit(roots)))
        .otherwise(lit(roots) + pmod(xxhash64(col("id") * 13),
          greatest(least(col("id") - roots, lit(roots)), lit(1L)))).as("parent"))
    // one deep chain appended above the id space
    val chain = spark.range(chainLen).select((col("id") + 10000000L).as("id"),
      when(col("id") === 0, lit(null).cast("long"))
        .otherwise(col("id") + 10000000L - 1).as("parent"))
    val byDepth = rm.stage("hierarchy_depth") {
      val depths = Relational.hierarchyDepth(forest.unionByName(chain),
        col("id"), col("parent"), maxDoubling = 20,
        roundProbe = (r, open) => println(f"[hier] round $r%2d open walks = $open%,12d"))
      depths.groupBy("depth").count().orderBy(col("depth"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    println(f"[hier] ${n + chainLen}%,d nodes resolved; " +
      s"max depth ${byDepth.last._1} (chain intact: ${byDepth.last._2} node)")
    println(s"[hier] depth histogram head: ${byDepth.take(8).mkString(" ")}")
  }

  /** BPE merge training: `initVocab` pays the one corpus shuffle; merge
    * rounds run on the Zipf-pinned vocabulary, so the larger corpus must
    * not make them proportionally slower. */
  def bpe(spark: SparkSession, rm: RunMetrics, p: Params): Unit = {
    val k = p.int("merges")
    atTwoSizes(spark, p) { (n, docs) =>
      val vocab = Bpe.initVocab(docs, col("text")).persist()
      val vRows = rm.stage(s"init_vocab ${n}docs")(vocab.count())
      val merges = rm.stage(s"$k merges ${n}docs")(Bpe.learnMerges(vocab, k))
      vocab.unpersist()
      println(f"[bpe] $n%,9d docs (${n * 50}%,d tokens): vocab $vRows%,6d rows; " +
        s"first: ${merges.take(3).mkString(" ")}")
    }
  }

  /** WordPiece: per-merge cost is vocab-sized like BPE's (the likelihood
    * score adds one symbol-count aggregation per round, also on the vocab
    * frame); encode is one codegen'd projection whose wall scales with
    * corpus tokens, timed at the large size with the trained vocabulary. */
  def wordpiece(spark: SparkSession, rm: RunMetrics, p: Params): Unit = {
    val k = p.int("merges")
    var vocabLarge: Seq[String] = Nil
    atTwoSizes(spark, p) { (n, docs) =>
      val vocab0 = WordPiece.initVocab(docs, col("text")).persist()
      val vRows = rm.stage(s"init_vocab ${n}docs")(vocab0.count())
      val merges = rm.stage(s"$k merges ${n}docs")(WordPiece.learnMerges(vocab0, k))
      vocabLarge = WordPiece.vocabulary(vocab0, merges)
      vocab0.unpersist()
      println(f"[wordpiece] $n%,9d docs (${n * 50}%,d tokens): vocab $vRows%,6d rows; " +
        s"|V|=${vocabLarge.size}; " +
        s"first: ${merges.take(2).map(m => s"${m.pa}+${m.pb}").mkString(" ")}")
    }
    val nLarge = p("docs_large")
    val enc = Stress.zipfDocs(spark, nLarge).select(col("id"),
      WordPiece.encode(col("text"), vocabLarge).as("pieces"))
    rm.stage(s"encode ${nLarge}docs |V|=${vocabLarge.size}")(RunMetrics.noop(enc))
  }

  /** Unigram-LM: the corpus collapses to distinct (word, freq) once; every
    * EM round is a Viterbi pass over that Zipf-pinned word table plus a
    * piece-count aggregation. Encode is corpus-sized by definition and is
    * timed separately (its result is the pieces emitted). */
  def unigram(spark: SparkSession, rm: RunMetrics, p: Params): Unit = {
    val rounds = p.int("rounds")
    atTwoSizes(spark, p) { (n, docs) =>
      val words = UnigramLm.wordCounts(docs, col("text")).cache()
      rm.stage(s"word_counts ${n}docs")(words.count())
      var counts: DataFrame = UnigramLm.seedVocab(words, maxPieceLen = 4, seedSize = 8000)
        .localCheckpoint()
      rm.stage(s"seed_vocab ${n}docs")(counts.count())
      rm.stage(s"$rounds em_rounds ${n}docs") {
        for (_ <- 1 to rounds)
          counts = UnigramLm.emRound(words,
            UnigramLm.scoresFromCounts(counts), maxPieceLen = 4)
            .localCheckpoint()
      }
      val scores = UnigramLm.scoresFromCounts(counts).localCheckpoint()
      rm.stage(s"encode ${n}docs")(UnigramLm.encode(docs, col("id"), col("text"),
        scores, maxPieceLen = 4).select(explode(col("pieces"))).count())
      words.unpersist()
    }
  }
}
