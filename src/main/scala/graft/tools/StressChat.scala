package graft.tools

import org.apache.spark.sql.functions._

import graft.text.Instruct

/** Scale probe for the instruction-data conversation family
  * (driver-side tooling): the claim is the one-exchange turn frame —
  * sessionization, turn numbering AND render-prefix offsets all ride a
  * single hashpartitioning(user_id) shuffle, so audit/spans cost is one
  * exchange + per-user sorted windows regardless of conversation count,
  * and the render groupBy is the only second exchange in the family.
  *
  * Corpus: events sf0.1 (~100k rows, 150 users) inflated 100× by
  * replicating users with distinct ids (user_id + i*1e6, event ids
  * re-offset, ts jittered per replica so sessions differ) → 10M events,
  * 15k users, same per-user event density as the base table — the
  * dimension that actually stresses the window sort. Committed numbers
  * in EXPLAIN.md. */
object StressChat {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_CHAT_COPIES", "100").toInt
    val spark = graft.EngineConf.localSession(None)
    val rm = new RunMetrics(spark, "chat")
    import RunMetrics.noop

    val base = graft.sources.Tables.events(spark, sfDir)
    val big = base
      .select(col("user_id").as("base_user"), col("event_id").as("base_event"),
        col("ts"), col("event_type"), col("props"),
        explode(sequence(lit(0), lit(copies - 1))).as("i"))
      .select(
        (col("base_user") + col("i") * 1000000L).as("user_id"),
        (col("base_event") + col("i") * 10000000L).as("event_id"),
        // jitter per replica so replica sessions aren't byte-copies
        (col("ts") + expr("make_interval(0, 0, 0, 0, 0, 0, i % 97)")).as("ts"),
        col("event_type"), col("props"))
      .repartition(32)
      .localCheckpoint()
    println(s"[chat] corpus: ${big.count()} events, " +
      s"${big.select("user_id").distinct().count()} users")

    val turns = Instruct.turns(big)
    rm.stage("turns (sessionize+index+prefix, 1 exchange)")(noop(turns))
    rm.stage("alternation audit + token budget")(noop(Instruct.alternationAudit(turns)))
    rm.stage("loss-mask spans")(noop(Instruct.lossSpans(turns)))
    rm.stage("chat-template render")(noop(Instruct.render(turns)))
    spark.stop()
  }
}
