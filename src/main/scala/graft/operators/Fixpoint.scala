package graft.operators

import scala.annotation.tailrec

import org.apache.spark.sql.DataFrame

/** The one round loop of the engine's iterative operators (graph power
  * iterations, connected components, pointer doubling, tokenizer and
  * Bradley–Terry trainers). It owns the per-round plumbing every loop
  * shares: the round limit, and lineage truncation of the loop state
  * through [[Checkpoints.truncate]] — without it each round's frame is
  * consumed by 2-3 branches of the next round's plan, so a k-round loop
  * would replay round 1 O(3^k) times.
  *
  * The two entry points differ only in WHEN the truncation materializes,
  * which is what fixes a loop's Spark job count:
  *  - [[iterate]] (fixed round count): no action follows a round, so the
  *    init and every round are truncated EAGERLY — one job each.
  *  - [[converge]] (stop on convergence): each round is followed by the
  *    caller's `pending` action, so truncation is LAZY and that action
  *    materializes the round — "materialize" and "check" fuse into ONE
  *    job per round instead of two (the action would otherwise re-scan
  *    the partitions an eager truncation had just stored). A state that
  *    no action ever reads (a trainer's last rewrite) is never computed.
  */
object Fixpoint {

  /** `rounds` applications of `step` to `init`, each round's frame (and
    * `init`) truncated eagerly: `rounds + 1` jobs, nothing left cached. */
  def iterate(init: DataFrame, rounds: Int)(step: DataFrame => DataFrame): DataFrame = {
    require(rounds >= 1, s"iterations must be >= 1, got $rounds")
    (1 to rounds).foldLeft(Checkpoints.truncate(init))(
      (state, _) => Checkpoints.truncate(step(state)))
  }

  /** Run `step` until `pending` reports no work left, or `maxRounds`
    * rounds have run. `pending(round, prev, state)` is asked about every
    * state BEFORE the limit is checked — round 0 is the (lazily
    * truncated) `init`, whose `prev` is itself; round r > 0 is the r-th
    * step's output, `prev` its input — and its action is what
    * materializes that state. A loop whose init is unsettled by
    * construction answers `round == 0` without an action.
    *
    * Returns `(state, rounds, settled)`: the last state, the number of
    * steps run, and whether `pending` cleared it. `settled = false` means
    * the limit stopped a loop that still had work; the caller decides
    * what that means (fall back, throw, fail a `require`). */
  def converge(init: DataFrame, maxRounds: Int)(step: DataFrame => DataFrame)(
      pending: (Int, DataFrame, DataFrame) => Boolean): (DataFrame, Int, Boolean) = {
    @tailrec def loop(round: Int, prev: DataFrame, state: DataFrame): (DataFrame, Int, Boolean) =
      if (!pending(round, prev, state)) (state, round, true)
      else if (round >= maxRounds) (state, round, false)
      else loop(round + 1, state, Checkpoints.truncate(step(state), eager = false))
    val seed = Checkpoints.truncate(init, eager = false)
    loop(0, seed, seed)
  }
}
