package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Relational

/** Scale probe for pointer-doubling hierarchy depth (driver-side
  * tooling): a 1M-node forest in the Reddit-thread shape — 50k roots,
  * ~95% of non-roots at depth 1–2 — plus ONE 5,000-deep chain (the
  * pathological mega-thread). Records per-round open-walk counts via
  * `roundProbe` and total wall: the evidence that the round-7
  * finished-walk split makes the join input collapse after round 1
  * while the log-round count is set only by the deep chain.
  * Committed numbers in EXPLAIN.md. */
object StressHierarchy {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_HIER_ROWS", "1000000").toLong
    val chainLen = 5000L
    val spark = graft.EngineConf.localSession(None)

    val roots = 50000L
    // forest: id < roots → root; otherwise 80% attach directly to a
    // root (depth 1) and 20% to a node of the first band above the
    // roots — a geometric depth tail that stays shallow (depth ≤ ~6),
    // the comment-thread shape
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
    val nodes = forest.unionByName(chain)

    val byDepth = new RunMetrics(spark, "hier").stage("hierarchy_depth") {
      val depths = Relational.hierarchyDepth(nodes, col("id"), col("parent"),
        maxDoubling = 20,
        roundProbe = (r, open) => println(f"[hier] round $r%2d open walks = $open%,12d"))
      depths.groupBy("depth").count().orderBy(col("depth"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    println(f"[hier] ${n + chainLen}%,d nodes resolved; " +
      s"max depth ${byDepth.last._1} (chain intact: ${byDepth.last._2} node)")
    println(s"[hier] depth histogram head: ${byDepth.take(8).mkString(" ")}")
    spark.stop()
  }
}
