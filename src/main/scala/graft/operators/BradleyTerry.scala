package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bradley–Terry strength estimation from pairwise outcomes — the
  * reward-model-adjacent ranking fit: given "i beat j" counts (human
  * preference votes, A/B dedup elections, model-arena results), recover
  * per-item strengths p with P(i beats j) = p_i / (p_i + p_j).
  *
  * Fit by the Hunter (2004) MM update, the standard fixed-point:
  *
  *   p_i' = W_i / Σ_{j≠i} n_ij / (p_i + p_j)
  *
  * (W_i = total wins of i, n_ij = games between i and j), normalized to
  * Σ p = 1 each round. Fixed iteration count like [[Graph.pageRank]]:
  * the MM step is monotone in likelihood, so k is a precision knob.
  *
  * Scale shape per iteration: the games table — symmetrized once,
  * persisted, pre-partitioned on `i` — NEVER moves: the strength frame
  * is item-cardinality (the things being ranked: sources, models,
  * annotators — broadcast-sized by this operator's contract, while the
  * games/comparisons side is unbounded), so both per-iteration strength
  * joins BROADCAST and the `groupBy(i)` denominator aggregation is
  * satisfied by the cache's own partitioning — zero shuffles of
  * games-sized data per round, spec-audited. (A hash-join formulation
  * would re-exchange the games frame on `j` every iteration — the exact
  * in-loop edge-exchange the HITS operator had to buy out with a second
  * cached copy; broadcasting the small side dissolves it entirely.)
  * The 1-row normalizer broadcasts back in; the driver sees ONE scalar
  * up front (the item count for p₀); [[Fixpoint.iterate]] truncates
  * lineage per round.
  *
  * Degenerate inputs stay total-function: an item with zero wins fixes
  * at strength 0 (the MM fixed point for it), and a pair of zero-strength
  * items contributes n/(0+0) = +Inf to a denominator, driving that
  * item's next strength to W/Inf = 0 — no NaN can arise. A DISCONNECTED
  * comparison graph has no unique BT solution (standard caveat);
  * callers wanting regularization add pseudo-games upstream.
  */
object BradleyTerry {

  /** `comparisons`: one row per ordered win — `winnerCol` beat
    * `loserCol` (repeats accumulate). Returns `(item, strength)` for
    * every item that appears, Σ strength = 1. */
  def fit(comparisons: DataFrame, winnerCol: Column, loserCol: Column,
          iterations: Int,
          scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val cmp = comparisons.select(winnerCol.as("w"), loserCol.as("l"))
    // games between i and j, kept in BOTH orientations so one
    // i-partitioned frame serves the per-i denominator sum directly
    val games = scope.persist(
      cmp.select(col("w").as("i"), col("l").as("j"))
        .union(cmp.select(col("l").as("i"), col("w").as("j")))
        .groupBy("i", "j").agg(count(lit(1)).cast("double").as("n"))
        .repartition(col("i")))
    val wins = scope.persist(
      games.select(col("i").as("item")).distinct()
        .join(cmp.groupBy(col("w").as("item"))
          .agg(count(lit(1)).cast("double").as("wins")), Seq("item"), "left")
        .select(col("item"), coalesce(col("wins"), lit(0.0)).as("wins"))
        .repartition(col("item")))
    val k = wins.count().toDouble
    require(k > 0, "BradleyTerry.fit over an empty comparison set")
    Fixpoint.iterate(wins.select(col("item"), lit(1.0 / k).as("p")), iterations)(
      iteration(games, wins, _)).select(col("item"), col("p").as("strength"))
  }

  /** One MM iteration, un-checkpointed — exposed `private[graft]` so the
    * plan audit can assert the games cache never re-exchanges. */
  private[graft] def iteration(games: DataFrame, wins: DataFrame,
                               p: DataFrame): DataFrame = {
    val denom = games
      .join(broadcast(p.select(col("item").as("i"), col("p").as("pi"))), "i")
      .join(broadcast(p.select(col("item").as("j"), col("p").as("pj"))), "j")
      .groupBy("i")
      .agg(sum(col("n") / (col("pi") + col("pj"))).as("den"))
    val raw = wins
      .join(denom.withColumnRenamed("i", "item"), Seq("item"))
      .select(col("item"), (col("wins") / col("den")).as("praw"))
    val total = raw.agg(sum("praw").as("tot"))
    raw.crossJoin(broadcast(total))
      .select(col("item"), (col("praw") / col("tot")).as("p"))
  }
}
