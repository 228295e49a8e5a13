package graft.operators

import org.apache.spark.sql.DataFrame

/** Lineage-truncation seam for the engine's iterative loops: every
  * round of [[Fixpoint]] and the few loop-invariant frames a loop reuses
  * each round truncate through here. The HOW is a deployment decision:
  *
  *  - `localCheckpoint` (the default): blocks live on executor
  *    local storage, no DFS round-trip — the right call single-box and
  *    the fastest on any cluster, but NOT fault-tolerant: Spark's
  *    documented caveat is that losing an executor mid-job makes the
  *    checkpointed partitions unrecoverable, failing the job. Acceptable
  *    when the loop is cheap to re-run from scratch on failure.
  *  - RELIABLE `checkpoint`: blocks go to the (DFS) directory set via
  *    `SparkContext.setCheckpointDir` and survive executor loss — the
  *    posture for long loops over 100 TB inputs where re-running the
  *    whole loop on one lost executor is unacceptable.
  *
  * Selection: set `spark.graft.reliableCheckpoints=true` on the session
  * (and a checkpoint dir) to switch every loop to reliable checkpoints;
  * default (unset/false) keeps the local behavior. A session conf rather
  * than an operator parameter because the posture is a property of the
  * DEPLOYMENT, not of one call site — threading a flag through every
  * operator signature would let two loops in one job silently disagree.
  */
object Checkpoints {

  /** The conf key selecting reliable checkpoints. */
  val ReliableConf = "spark.graft.reliableCheckpoints"

  /** Truncate `df`'s lineage per the session's checkpoint posture;
    * `eager = false` defers the materialization to the first action that
    * reads the result (see [[Fixpoint]] for when each is right). */
  def truncate(df: DataFrame, eager: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    if (spark.conf.get(ReliableConf, "false").toBoolean) {
      require(spark.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableConf=true but no checkpoint dir is set — call " +
          "SparkContext.setCheckpointDir with a fault-tolerant (DFS) path")
      df.checkpoint(eager)
    } else df.localCheckpoint(eager)
  }
}
