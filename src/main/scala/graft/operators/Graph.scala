package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Link-graph analytics for web-corpus curation. A crawl-scale corpus
  * carries a link graph (page → outlinks), and production pipelines use
  * link centrality as a document-quality prior (Common Crawl publishes
  * harmonic/PageRank centrality per host; quality-gated corpora weight
  * by it). Reference tie-in: the reference scores documents only by
  * content signals — centrality is the graph-side signal its corpus
  * lacks, computed here with the same iterative-join discipline as
  * [[graft.dedup.Dedup.connectedComponents]].
  */
object Graph {

  /** PageRank over an explicit node set by power iteration:
    *
    *   rank'(v) = (1−d)/N + d·(Σ_{u→v} rank(u)/outdeg(u) + dangling/N)
    *
    * where `dangling` is the total rank parked on nodes with no
    * out-edges (redistributed uniformly — the standard stochastic-matrix
    * patch, so Σ rank stays 1 every iteration). Fixed iteration count:
    * a convergence test would add a driver round-trip per iteration for
    * a number production jobs pin anyway (power iteration's error decays
    * as d^k regardless of graph size, so k is a precision knob, not a
    * data-dependent one).
    *
    * The node set is explicit (not inferred from edges) because corpus
    * membership is the caller's contract: isolated documents must still
    * receive the teleport mass. Edges referencing ids outside `nodes`
    * contribute mass that vanishes (standard subgraph projection).
    *
    * Scale shape per iteration: the edge table — joined once with
    * out-degrees, persisted, and pre-partitioned on `src` — never moves
    * again; only the rank frame (8-byte id + double) shuffles into the
    * contribution join, followed by one `groupBy(dst)` partial-agg
    * shuffle. The dangling mass is a 1-row aggregate crossed back in by
    * broadcast — never a driver collect. The rounds run through
    * [[Fixpoint.iterate]], which truncates each round's lineage; the
    * driver sees one scalar count up front (N) and nothing else.
    */
  def pageRank(nodes: DataFrame, nodeCol: Column,
               edges: DataFrame, srcCol: Column, dstCol: Column,
               iterations: Int, damping: Double = 0.85,
               scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    // pre-partitioned on node: the per-iteration rank rebuild joins the
    // node frame on `node` every round — partitioning the cached copy
    // once buys that exchange out of the loop (same trade as the edges)
    val nodeDf = scope.persist(
      nodes.select(nodeCol.as("node")).repartition(col("node")))
    val n = nodeDf.count().toDouble
    require(n > 0, "pageRank over an empty node set")
    val e = edges.select(srcCol.as("src"), dstCol.as("dst"))
    val deg = scope.persist(
      e.groupBy("src").agg(count(lit(1)).cast("double").as("outdeg")))
    val outE = scope.persist(e.join(deg, "src").repartition(col("src")))

    // NOT expressed via the personalized loop with uniform p: the update
    // here folds the teleport into the compile-time constant (1−d)/N and
    // divides dangling mass by N, and the q124 oracle replays exactly
    // that associativity — (1−d)·(1/N) and dmass·(1/N) can differ from
    // (1−d)/N and dmass/N by an ulp, which the floor-quantized output
    // would surface as a flipped micro-digit.
    Fixpoint.iterate(nodeDf.select(col("node"), lit(1.0 / n).as("rank")),
        iterations) { ranks =>
      val contribs = outE
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .groupBy("dst")
        .agg(sum(col("rank") / col("outdeg")).as("contrib"))
      val dangling = ranks
        .join(deg.select(col("src").as("node")), Seq("node"), "left_anti")
        .agg(coalesce(sum("rank"), lit(0.0)).as("dmass"))
      nodeDf
        .join(contribs.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          (lit((1 - damping) / n) + lit(damping) *
            (coalesce(col("contrib"), lit(0.0)) + col("dmass") / n))
            .as("rank"))
    }
  }

  /** Personalized (topic-sensitive) PageRank: teleportation lands on a
    * caller-supplied preference distribution instead of uniformly —
    *
    *   rank'(v) = (1−d)·p(v) + d·(Σ_{u→v} rank(u)/outdeg(u) + dangling·p(v))
    *
    * with p the normalized preference vector (weights are normalized here;
    * nodes absent from `prefs` get p = 0) and dangling mass re-teleported
    * BY p — the Haveliwala topic-sensitive formulation, which keeps the
    * chain stochastic over the personalized geometry so Σ rank stays 1.
    * The corpus use is a seeded quality prior: teleport to a vetted seed
    * set (curated domains, high-quality docs) and rank measures proximity
    * to the seeds through the link graph — unreachable spam pools that
    * plain PageRank still pays teleport mass to collapse to rank 0.
    *
    * Same per-iteration scale shape as [[pageRank]]; the only extra cost
    * is p riding along in the rank frame (one more double per node).
    */
  def personalizedPageRank(nodes: DataFrame, nodeCol: Column,
                           edges: DataFrame, srcCol: Column, dstCol: Column,
                           prefs: DataFrame, prefNodeCol: Column, prefWeightCol: Column,
                           iterations: Int, damping: Double = 0.85,
                           scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val nodeDf = scope.persist(
      nodes.select(nodeCol.as("node")).repartition(col("node")))
    require(nodeDf.count() > 0, "personalizedPageRank over an empty node set")
    // Preference weights are restricted to the node set BEFORE the
    // normalization total is computed: a seed outside the graph must not
    // be counted in totalW and then dropped by the node join — that
    // silently deflates Σp below 1 and every rank with it, exactly the
    // silent-degradation mode the loud validation below exists to stop.
    // Out-of-graph seeds simply don't participate (subgraph projection,
    // same contract as edges referencing unknown ids in [[pageRank]]).
    val w = scope.persist(
      prefs.select(prefNodeCol.as("node"), prefWeightCol.cast("double").as("w"))
        .join(nodeDf, Seq("node"), "left_semi"))
    // Normalization total: a 1-row driver read (documented driver-tiny
    // contract) so a degenerate preference vector fails LOUDLY here, not
    // as silent NaN ranks downstream. Negative weights and an all-zero /
    // empty seed set are caller bugs, not distributions.
    val Array(minW, totalW) = w.agg(
      coalesce(min("w"), lit(0.0)), coalesce(sum("w"), lit(0.0)))
      .head().toSeq.map(_.asInstanceOf[Double]).toArray
    require(minW >= 0, s"personalizedPageRank: negative preference weight $minW")
    require(totalW > 0,
      "personalizedPageRank: preference weights sum to 0 over the node set " +
        "(empty seed set, or all seeds outside the graph?)")
    val p = scope.persist(nodeDf
      .join(w, Seq("node"), "left")
      .select(col("node"), (coalesce(col("w"), lit(0.0)) / totalW).as("p")))
    val e = edges.select(srcCol.as("src"), dstCol.as("dst"))
    val deg = scope.persist(
      e.groupBy("src").agg(count(lit(1)).cast("double").as("outdeg")))
    val outE = scope.persist(e.join(deg, "src").repartition(col("src")))

    Fixpoint.iterate(p.select(col("node"), col("p").as("rank"), col("p")),
        iterations) { ranks =>
      val contribs = outE
        .join(ranks.select(col("node").as("src"), col("rank")), "src")
        .groupBy("dst")
        .agg(sum(col("rank") / col("outdeg")).as("contrib"))
      val dangling = ranks
        .join(deg.select(col("src").as("node")), Seq("node"), "left_anti")
        .agg(coalesce(sum("rank"), lit(0.0)).as("dmass"))
      p
        .join(contribs.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          (lit(1 - damping) * col("p") + lit(damping) *
            (coalesce(col("contrib"), lit(0.0)) + col("dmass") * col("p")))
            .as("rank"),
          col("p"))
    }.select("node", "rank")
  }

  /** Semi-supervised label propagation: seed nodes carry labels, every
    * round each node adopts the MODE label among its (undirected)
    * neighbors' current labels, seeds stay clamped to their seed label,
    * and an unlabeled node with no labeled neighbor stays unlabeled.
    * Ties break to the SMALLEST label — the determinism rule that makes
    * the result a pure function of the graph (and hash-checkable by an
    * oracle): mode counting is integer arithmetic end to end, so unlike
    * the rank operators there is no floating-point anywhere. Corpus use:
    * propagate a small vetted topic/community labeling (curated seed
    * domains) across the crawl link graph to give every page a topic
    * prior without a classifier.
    *
    * Fixed iteration count, like [[pageRank]]: labels spread one hop per
    * round, so k rounds label everything within distance k of a seed —
    * a radius knob, not a convergence guess.
    *
    * Scale shape per round: the undirected edge list (built once as
    * src∪reversed, persisted, pre-partitioned on src) joins the current
    * (node, label) frame on src, then one `groupBy(dst, label)` count and
    * one per-dst argmax window over the COUNTS frame (|labeled-neighbor
    * pairs| rows, not corpus rows); [[Fixpoint.iterate]] truncates
    * lineage each round. No driver reads at all.
    */
  def labelPropagation(nodes: DataFrame, nodeCol: Column, seedLabelCol: Column,
                       edges: DataFrame, srcCol: Column, dstCol: Column,
                       iterations: Int,
                       scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val seeds = scope.persist(
      nodes.select(nodeCol.as("node"), seedLabelCol.cast("long").as("seed_label"))
        .repartition(col("node")))
    val dir = edges.select(srcCol.as("src"), dstCol.as("dst"))
    val und = scope.persist(
      dir.union(dir.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(col("src")))

    Fixpoint.iterate(seeds.select(col("node"), col("seed_label").as("label")),
        iterations) { labels =>
      val neighborCounts = und
        .join(labels.filter(col("label").isNotNull)
          .select(col("node").as("src"), col("label")), "src")
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val byCount = org.apache.spark.sql.expressions.Window
        .partitionBy(col("dst")).orderBy(col("cnt").desc, col("label").asc)
      val mode = neighborCounts
        .withColumn("_rk", row_number().over(byCount))
        .filter(col("_rk") === 1)
        .select(col("dst").as("node"), col("label").as("mode_label"))
      seeds
        .join(labels.select(col("node"), col("label").as("prev")), Seq("node"))
        .join(mode, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("seed_label"), col("mode_label"), col("prev")).as("label"))
    }
  }

  /** HITS hubs-and-authorities (Kleinberg): alternating updates
    *
    *   auth'(v) = Σ_{u→v} hub(u)      hub'(u) = Σ_{u→v} auth'(v)
    *
    * each normalized after its update. The normalizer here is the MAX
    * score, not the L1/L2 sum: any positive scalar yields the same
    * ranking (the fixed point is defined up to scale), and `max` is
    * order-independent — a floating SUM over a shuffled frame changes
    * with partitioning and would make the result irreproducible across
    * runs and engines, the same reason [[graft.similarity.Similarity.dot]]
    * fixes its fold order. Corpus use: hubs ≈ link/directory pages,
    * authorities ≈ canonical content pages — the complementary signal to
    * PageRank's single centrality (a page can be a strong hub and a weak
    * authority), used to separate navigation boilerplate from content
    * when weighting a crawl.
    *
    * Scale shape per iteration: the edge list is persisted TWICE — once
    * pre-partitioned on `src` (feeding the auth update's join+agg) and
    * once on `dst` (feeding the hub update) — the standard two-copy HITS
    * layout. Unlike PageRank, whose single join key lets one projection
    * serve every round, HITS joins the edge table on BOTH endpoints each
    * iteration; with a single src-partitioned copy the hub update would
    * re-exchange the full edge frame by dst once per round, and at crawl
    * scale edges dwarf the (id, double) score frames — that exchange is
    * the dominant per-round cost, so it's bought out once with memory.
    * Per round only the score frames shuffle (into the two joins and two
    * partial-agg exchanges); the two 1-row max normalizers broadcast back
    * in (never a driver collect); [[Fixpoint.iterate]] truncates lineage
    * per round. Nodes without the relevant edges coalesce to score 0.
    */
  def hits(nodes: DataFrame, nodeCol: Column,
           edges: DataFrame, srcCol: Column, dstCol: Column,
           iterations: Int,
           scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val (nodeDf, eSrc, eByDst) =
      hitsEdges(nodes, nodeCol, edges, srcCol, dstCol, scope)
    Fixpoint.iterate(
        nodeDf.select(col("node"), lit(1.0).as("hub"), lit(1.0).as("auth")),
        iterations)(hitsIteration(nodeDf, eSrc, eByDst, _))
  }

  /** Persisted inputs for [[hits]]: the node frame plus the two edge
    * projections (src- and dst-partitioned). Exposed `private[graft]` so
    * the plan audit can build one un-checkpointed iteration and assert
    * the edge frames never re-exchange inside the loop.
    */
  private[graft] def hitsEdges(nodes: DataFrame, nodeCol: Column,
                               edges: DataFrame, srcCol: Column, dstCol: Column,
                               scope: CacheScope): (DataFrame, DataFrame, DataFrame) = {
    val nodeDf = scope.persist(
      nodes.select(nodeCol.as("node")).repartition(col("node")))
    val eSrc = scope.persist(
      edges.select(srcCol.as("src"), dstCol.as("dst")).repartition(col("src")))
    val eByDst = scope.persist(eSrc.repartition(col("dst")))
    (nodeDf, eSrc, eByDst)
  }

  /** One full HITS iteration (auth update, then hub update from the NEW
    * auths — the standard sequencing), WITHOUT the final checkpoint, so
    * the hub half's physical plan stays inspectable. The auth frame is
    * still checkpointed internally: it feeds BOTH the hub update and the
    * emitted frame — without materialization the auth aggregation would
    * run twice per iteration (and lineage would double per round).
    */
  private[graft] def hitsIteration(nodeDf: DataFrame, eSrc: DataFrame,
                                   eByDst: DataFrame, scores: DataFrame): DataFrame =
    hitsHubUpdate(nodeDf, eByDst,
      Checkpoints.truncate(hitsAuthUpdate(nodeDf, eSrc, scores)))

  /** Auth half-update (un-checkpointed): join current hubs into the
    * src-partitioned edge copy, aggregate on dst, max-normalize. */
  private[graft] def hitsAuthUpdate(nodeDf: DataFrame, eSrc: DataFrame,
                                    scores: DataFrame): DataFrame = {
    val authRaw = eSrc
      .join(scores.select(col("node").as("src"), col("hub")), "src")
      .groupBy("dst").agg(sum("hub").as("auth_raw"))
    val aMax = authRaw.agg(
      coalesce(max("auth_raw"), lit(1.0)).as("a_max"))
    nodeDf
      .join(authRaw.withColumnRenamed("dst", "node"), Seq("node"), "left")
      .crossJoin(broadcast(aMax))
      .select(col("node"),
        (coalesce(col("auth_raw"), lit(0.0)) / col("a_max")).as("auth"))
  }

  /** Hub half-update (un-checkpointed), against the dst-partitioned edge
    * copy — joining the src-partitioned copy here would re-exchange the
    * full edge table by dst once per iteration (the scaladoc scale note).
    *
    * The emitted frame builds on `auth` directly, NOT on a fresh
    * nodeDf ⋈ hubRaw ⋈ auth chain: the auth frame already carries every
    * node exactly once (it was left-joined off the node set), so using
    * it as the spine drops a third full-width join per iteration. */
  private[graft] def hitsHubUpdate(nodeDf: DataFrame, eByDst: DataFrame,
                                   auth: DataFrame): DataFrame = {
    val hubRaw = eByDst
      .join(auth.select(col("node").as("dst"), col("auth")), "dst")
      .groupBy("src").agg(sum("auth").as("hub_raw"))
    val hMax = hubRaw.agg(
      coalesce(max("hub_raw"), lit(1.0)).as("h_max"))
    auth
      .join(hubRaw.withColumnRenamed("src", "node"), Seq("node"), "left")
      .crossJoin(broadcast(hMax))
      .select(col("node"),
        (coalesce(col("hub_raw"), lit(0.0)) / col("h_max")).as("hub"),
        col("auth"))
  }

  /** Per-node triangle counts + local clustering coefficient over the
    * UNDIRECTED simple graph induced by `edges` (direction and
    * multiplicity dropped, self-loops removed) — the link-spam /
    * community-density signal next to PageRank/HITS (a page farm is a
    * near-clique: high LCC at low degree; organic hub neighborhoods are
    * sparse).
    *
    * Algorithm: degree-oriented wedge join (the compact-forward /
    * node-iterator++ shape, Latapy 2008). Every canonical edge {u,v}
    * orients from the endpoint with the smaller `(degree, id)` key to
    * the larger; wedges are pairs of out-neighbors of a shared low
    * vertex, and a wedge (y, z) closes iff the oriented edge y→z
    * exists. Each triangle has exactly one vertex from which both
    * others are out-neighbors (its key-minimum), so it is found exactly
    * once — no /3 correction, no double counting.
    *
    * Why this is THE scale shape: an unoriented neighbor self-join
    * explodes on hubs (Σ deg² — one 10⁶-degree node is 10¹² wedges);
    * degree-orientation caps every out-degree at O(√m), bounding total
    * wedge work at O(m^1.5) — on a power-law web graph orders of
    * magnitude below Σ deg². Three shuffles total (degree count, wedge
    * self-join on the low vertex, closing equi-join on (y, z)); all
    * joins are equi-joins on 8-byte keys, no driver state. Returns
    * `(node, deg, n_tri, lcc)` for every node with degree ≥ 1. */
  def triangleCounts(edges: DataFrame, srcCol: Column, dstCol: Column,
                     scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val und = edges
      .select(least(srcCol, dstCol).as("u"), greatest(srcCol, dstCol).as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .distinct()
    val deg = scope.persist(
      und.select(col("u").as("n")).union(und.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg")))
    // orient by (deg, id): lo = smaller key, carrying the hi endpoint's
    // degree so the wedge pair can be canonicalized without a re-join
    val keyed = und
      .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = scope.persist(keyed.select(
      when(uFirst, col("u")).otherwise(col("v")).as("lo"),
      when(uFirst, col("v")).otherwise(col("u")).as("hi"),
      when(uFirst, col("dv")).otherwise(col("du")).as("dhi")))
    val a = oriented.select(col("lo"), col("hi").as("h1"), col("dhi").as("d1"))
    val b = oriented.select(col("lo"), col("hi").as("h2"), col("dhi").as("d2"))
    val wedges = a.join(b, "lo")
      .filter(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("h1") < col("h2")))
    val tris = wedges.join(
      oriented.select(col("lo").as("h1"), col("hi").as("h2")), Seq("h1", "h2"))
      .select(col("lo"), col("h1"), col("h2"))
    val perNode = tris
      .select(explode(array(col("lo"), col("h1"), col("h2"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("n"), "left")
      .select(col("n").as("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("lcc",
        when(col("deg") >= 2,
          round(lit(2.0) * col("n_tri") /
            (col("deg") * (col("deg") - 1)).cast("double"), 6))
          .otherwise(lit(0.0)))
  }
}
