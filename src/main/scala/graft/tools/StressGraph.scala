package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Graph

/** Scale probe for the link-graph operator family (driver-side tooling):
  * a 1M-node, 3M-edge hash-generated web graph — the q124/q131/q133/q134
  * generator shape at 2000× the sf0.01 corpus — through PageRank,
  * personalized PageRank, HITS, and label propagation at the oracle
  * queries' iteration counts. Records wall time per operator plus the
  * result-side sanity numbers (mass, top score, label coverage) that
  * prove the runs did real work. Committed numbers in EXPLAIN.md.
  *
  * Graph scale knob: SPARK_GRAFT_GRAPH_NODES (default 1,000,000). */
object StressGraph {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_GRAPH_NODES", "1000000").toLong
    val spark = graft.EngineConf.localSession(None)

    val nodes = spark.range(n).select(col("id").as("node")).cache()
    nodes.count()
    // 3 hash outlinks per node, self-loops dropped — the q124 generator
    val edges = nodes
      .select(col("node").as("src"),
        explode(sequence(lit(1), lit(3))).as("j"))
      .withColumn("dst", pmod(xxhash64(concat(col("src").cast("string"),
        lit(":"), col("j"))), lit(n)))
      .filter(col("dst") =!= col("src"))
      .select("src", "dst").cache()
    val ne = edges.count()
    println(f"[graph] $n%,d nodes, $ne%,d edges")

    val rm = new RunMetrics(spark, "graph")
    rm.stage("pagerank(3)") {
      val pr = Graph.pageRank(nodes, col("node"), edges, col("src"), col("dst"), 3)
      val m = pr.agg(sum("rank")).head.getDouble(0)
      println(f"[graph]   rank mass = $m%.6f (must be ~1)")
    }
    rm.stage("personalized_pr(3)") {
      val seeds = nodes.filter(col("node") % 10 === 0)
        .select(col("node"), lit(1.0).as("w"))
      val pr = Graph.personalizedPageRank(nodes, col("node"),
        edges, col("src"), col("dst"), seeds, col("node"), col("w"), 3)
      val m = pr.agg(sum("rank")).head.getDouble(0)
      println(f"[graph]   rank mass = $m%.6f (must be ~1)")
    }
    rm.stage("hits(2)") {
      val h = Graph.hits(nodes, col("node"), edges, col("src"), col("dst"), 2)
      val tops = h.agg(max("hub"), max("auth")).head
      println(s"[graph]   max hub = ${tops.getDouble(0)}, max auth = ${tops.getDouble(1)} (must be 1.0)")
    }
    rm.stage("triangles") {
      val t = Graph.triangleCounts(edges, col("src"), col("dst"))
      val agg = t.agg(sum("n_tri"), max("deg"), avg("lcc")).head
      println(f"[graph]   Σtri/3 = ${agg.getLong(0) / 3}%,d triangles, " +
        f"max deg = ${agg.getLong(1)}, mean lcc = ${agg.getDouble(2)}%.6f")
    }
    rm.stage("label_prop(3)") {
      val seeded = nodes.withColumn("seed",
        when(col("node") % 1000 === 0, col("node") % 5)
          .otherwise(lit(null).cast("long")))
      val lp = Graph.labelPropagation(seeded, col("node"), col("seed"),
        edges, col("src"), col("dst"), 3)
      val covered = lp.filter(col("label").isNotNull).count()
      println(f"[graph]   labeled $covered%,d / $n%,d nodes from ${n / 1000}%,d seeds")
    }
    edges.unpersist()

    // ---- ZIPF in-degree skew: the graph family's real hazard --------
    // Uniform hash targets spread in-neighbor lists evenly; a web/link
    // graph doesn't — in-degree is Zipfian and the hottest vertex's
    // neighbor list dominates the contribution aggregate. dst =
    // floor(n^u) with u uniform gives P(dst=v) ∝ 1/v (s≈1 Zipf): at 1M
    // nodes / 3M edges the top vertex takes ~5% of ALL edges. PageRank
    // and label propagation must survive this WITHOUT a per-key
    // repartition: PageRank's per-dst contribution sum is map-side
    // combinable, and label prop's mode is a combinable count per
    // (dst, label) followed by a window over the LABEL DOMAIN (≤ 5
    // rows per dst however hot the vertex) — the probe proves the
    // skewed runs stay in the uniform runs' envelope.
    val u = pmod(xxhash64(concat(col("src").cast("string"),
      lit("#"), col("j"))), lit(1000000L)).cast("double") / 1e6
    val zedges = nodes
      .select(col("node").as("src"),
        explode(sequence(lit(1), lit(3))).as("j"))
      .withColumn("dst", least(lit(n - 1),
        floor(pow(lit(n.toDouble), u))).cast("long"))
      .filter(col("dst") =!= col("src"))
      .select("src", "dst").cache()
    val nze = zedges.count()
    val hot = zedges.groupBy("dst").count()
      .orderBy(desc("count")).limit(3).collect()
    println(f"[graph] zipf: $nze%,d edges, hottest in-degrees = " +
      hot.map(r => f"${r.getLong(0)}:${r.getLong(1)}%,d").mkString(", "))
    rm.stage("zipf_pagerank(3)") {
      val pr = Graph.pageRank(nodes, col("node"), zedges,
        col("src"), col("dst"), 3)
      val top = pr.orderBy(desc("rank")).limit(1).collect().head
      val m = pr.agg(sum("rank")).head.getDouble(0)
      println(f"[graph]   rank mass = $m%.6f, top rank node ${top.getLong(0)} " +
        f"= ${top.getDouble(1)}%.6f")
    }
    rm.stage("zipf_label_prop(3)") {
      val seeded = nodes.withColumn("seed",
        when(col("node") % 1000 === 0, col("node") % 5)
          .otherwise(lit(null).cast("long")))
      val lp = Graph.labelPropagation(seeded, col("node"), col("seed"),
        zedges, col("src"), col("dst"), 3)
      val covered = lp.filter(col("label").isNotNull).count()
      println(f"[graph]   labeled $covered%,d / $n%,d nodes")
    }
    spark.stop()
  }
}
