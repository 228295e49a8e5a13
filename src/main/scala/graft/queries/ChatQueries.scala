package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.sources.Tables
import graft.text.{Instruct, Preference}

/** Instruction/chat-data suite: the post-training corpus shape.
  * Conversations are derived from the `events` stream (q25's
  * sessionization, role/content from `event_type`/`props`), then audited
  * ([[Instruct.alternationAudit]], q147), mask-indexed
  * ([[Instruct.lossSpans]], q148), template-rendered
  * ([[Instruct.render]], q149), and extended to the PREFERENCE shape —
  * pair construction ([[Preference.pairs]], q164), annotator-agreement
  * audit ([[Preference.agreement]], q165), and the DPO training pack
  * ([[Preference.dpoPack]], q168). Every op is pure column arithmetic
  * over the shared turn frame, so every query hash-checks end to end
  * against DuckDB replays of the identical derivation.
  */
object ChatQueries {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)

  /** Shared DuckDB turn frame — the SQL twin of [[Instruct.turns]]:
    * sessionize (q25 gap rule, `(ts, event_id)` orderd), derive
    * role/content, number turns within the conversation, and compute the
    * rendered-prefix length of all prior turns. The oracle windows
    * directly on `(user_id, session_id)`; the engine recovers the same
    * values from per-user running aggregates to stay on one exchange —
    * same semantics, different physical shape, which is exactly what the
    * hash compare certifies. */
  private val turnsCtes: String =
    """WITH t0 AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN event_type IN ('click', 'view', 'signup')
      |         THEN 'user' ELSE 'assistant' END AS role,
      |    event_type || ' ' || props AS content
      |  FROM events),
      |g AS (
      |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
      |         OR CAST(floor(epoch(ts)) AS BIGINT)
      |            - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 3600
      |       THEN 1 ELSE 0 END AS new_session
      |  FROM t0 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM g),
      |turns AS (
      |  SELECT user_id, session_id, role, content, ts,
      |    row_number() OVER conv AS turn_idx,
      |    CAST(len('<|' || role || '|>' || content || '<|end|>') AS BIGINT) AS turn_len,
      |    coalesce(sum(CAST(len('<|' || role || '|>' || content || '<|end|>') AS BIGINT))
      |      OVER (PARTITION BY user_id, session_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix_len
      |  FROM s WINDOW conv AS (PARTITION BY user_id, session_id ORDER BY ts, event_id))""".stripMargin

  /** Shared preference-pair CTEs (extends [[turnsCtes]]): per-conversation
    * audit (q147's valid gate + supervised-token budget), the prompt key
    * (first turn's event type), the integer quality score, and the
    * adjacent-rank pairing window — the SQL twin of
    * [[Preference.pairs]]. Every aggregate-derived column CASTs back to
    * BIGINT (the q148 HUGEINT lesson, enforced by the verify lint). */
  private val prefPairCtes: String =
    s"""$turnsCtes,
       |pa AS (SELECT *,
       |    CAST(len(regexp_split_to_array(trim(content), '\\s+')) AS BIGINT) AS n_tok,
       |    CASE WHEN lag(role) OVER (PARTITION BY user_id, session_id
       |        ORDER BY turn_idx) = role THEN 1 ELSE 0 END AS rep
       |  FROM turns),
       |audit AS (SELECT user_id, session_id,
       |    (max(CASE WHEN turn_idx = 1 THEN role = 'user' END)
       |      AND max_by(role = 'assistant', turn_idx)
       |      AND sum(rep) = 0) AS valid,
       |    CAST(sum(CASE WHEN role = 'assistant' THEN n_tok ELSE 0 END) AS BIGINT)
       |      AS n_loss
       |  FROM pa GROUP BY user_id, session_id),
       |pr AS (SELECT user_id, session_id, split_part(content, ' ', 1) AS prompt
       |  FROM turns WHERE turn_idx = 1),
       |sc AS (SELECT pr.prompt, audit.user_id, audit.session_id,
       |    (CASE WHEN audit.valid THEN 100000 ELSE 0 END) + audit.n_loss AS score
       |  FROM audit JOIN pr USING (user_id, session_id)),
       |pairs AS (SELECT prompt,
       |    user_id AS c_user, session_id AS c_session,
       |    lead(user_id) OVER w AS r_user,
       |    lead(session_id) OVER w AS r_session,
       |    score - lead(score) OVER w AS margin
       |  FROM sc WINDOW w AS (PARTITION BY prompt
       |    ORDER BY score DESC, user_id, session_id)),
       |kept AS (SELECT prompt, c_user, c_session, r_user, r_session,
       |    CAST(margin AS BIGINT) AS margin
       |  FROM pairs WHERE r_user IS NOT NULL AND margin > 0)""".stripMargin

  val queries: Seq[Q] = Seq(

    // Role-alternation audit + supervised-token budget per conversation:
    // the SFT curation gate (starts with a user turn, strictly
    // alternates, ends on the assistant) plus the loss/total token
    // split the trainer's budget planning needs.
    Q("q147_chat_audit",
      Some(s"""$turnsCtes,
              |a AS (SELECT *,
              |    CASE WHEN lag(role) OVER (PARTITION BY user_id, session_id
              |        ORDER BY turn_idx) = role THEN 1 ELSE 0 END AS rep,
              |    CAST(len(regexp_split_to_array(trim(content), '\\s+')) AS BIGINT) AS n_tok
              |  FROM turns)
              |SELECT user_id, session_id,
              |  count(*) AS n_turns,
              |  CAST(count_if(role = 'user') AS BIGINT) AS n_user,
              |  CAST(count_if(role = 'assistant') AS BIGINT) AS n_assistant,
              |  CAST(sum(rep) AS BIGINT) AS n_repeats,
              |  max(CASE WHEN turn_idx = 1 THEN role = 'user' END) AS starts_user,
              |  max_by(role = 'assistant', turn_idx) AS ends_assistant,
              |  CAST(sum(CASE WHEN role = 'assistant' THEN n_tok ELSE 0 END) AS BIGINT)
              |    AS n_loss_tokens,
              |  CAST(sum(n_tok) AS BIGINT) AS n_total_tokens,
              |  (max(CASE WHEN turn_idx = 1 THEN role = 'user' END)
              |    AND max_by(role = 'assistant', turn_idx)
              |    AND sum(rep) = 0) AS valid
              |FROM a GROUP BY user_id, session_id""".stripMargin),
      (s, dir) => Instruct.alternationAudit(Instruct.turns(ev(s, dir)))),

    // Loss-mask spans: the half-open character range of each assistant
    // turn's CONTENT inside the conversation's rendered string (template
    // scaffolding stays unsupervised). Offsets derive from the engine's
    // single-exchange prefix sums; the oracle re-windows per
    // conversation — the hash certifies the rebasing arithmetic.
    // span_start's prefix_len is a raw window sum, which DuckDB types
    // HUGEINT (int128) — the CAST back to BIGINT is load-bearing: the
    // driver hashes typed values, and an int128-vs-int64 repr mismatch
    // reads as red with identical numbers (the round-9 q148 failure;
    // every other aggregate-derived oracle column already casts).
    Q("q148_chat_spans",
      Some(s"""$turnsCtes
              |SELECT user_id, session_id, turn_idx,
              |  CAST(prefix_len + len('<|assistant|>') AS BIGINT) AS span_start,
              |  CAST(len(content) AS BIGINT) AS span_len
              |FROM turns WHERE role = 'assistant'""".stripMargin),
      (s, dir) => Instruct.lossSpans(Instruct.turns(ev(s, dir)))),

    // Chat-template render: one training-example string per
    // conversation, turns concatenated in order — hash-checking the
    // full rendered text pins header/end-marker layout AND ordering
    // determinism (sort_array(collect_list(struct)) vs ordered
    // string_agg).
    // Streaming chat audit (ChatStream.audit) run to completion over the
    // static events table, restricted — on BOTH engines — to
    // conversations whose close precedes the final watermark by more
    // than gap+1 seconds (those are guaranteed emitted via event-time
    // timeout; later ones may sit in open state at stream end). Values are the
    // q147 audit columns, so this row proves stream==batch==DuckDB in
    // one hash.
    Q("q158_chat_audit_stream",
      Some(s"""$turnsCtes,
              |a AS (SELECT *,
              |    CASE WHEN lag(role) OVER (PARTITION BY user_id, session_id
              |        ORDER BY turn_idx) = role THEN 1 ELSE 0 END AS rep,
              |    CAST(len(regexp_split_to_array(trim(content), '\\s+')) AS BIGINT) AS n_tok
              |  FROM turns),
              |audit AS (SELECT user_id, session_id,
              |  count(*) AS n_turns,
              |  CAST(count_if(role = 'user') AS BIGINT) AS n_user,
              |  CAST(count_if(role = 'assistant') AS BIGINT) AS n_assistant,
              |  CAST(sum(rep) AS BIGINT) AS n_repeats,
              |  max(CASE WHEN turn_idx = 1 THEN role = 'user' END) AS starts_user,
              |  max_by(role = 'assistant', turn_idx) AS ends_assistant,
              |  CAST(sum(CASE WHEN role = 'assistant' THEN n_tok ELSE 0 END) AS BIGINT)
              |    AS n_loss_tokens,
              |  CAST(sum(n_tok) AS BIGINT) AS n_total_tokens,
              |  (max(CASE WHEN turn_idx = 1 THEN role = 'user' END)
              |    AND max_by(role = 'assistant', turn_idx)
              |    AND sum(rep) = 0) AS valid,
              |  max(CAST(floor(epoch(ts)) AS BIGINT)) AS last_epoch
              |FROM a GROUP BY user_id, session_id)
              |SELECT user_id, session_id, n_turns, n_user, n_assistant,
              |  n_repeats, starts_user, ends_assistant, n_loss_tokens,
              |  n_total_tokens, valid
              |FROM audit
              |WHERE last_epoch + 3601 < (SELECT max(CAST(floor(epoch(ts)) AS BIGINT))
              |                           FROM events)""".stripMargin),
      (s, dir) => {
        // statePartitions: byte-derived (see harnessStatePartitions);
        // state volume is (user, session) keys — the
        // q28/q58 sizing (see StreamDriver.drain); at 32 the per-batch
        // state-store open/commit overhead costs ~3× the query. Emitted
        // rows are identical at any setting.
        val emitted = graft.streaming.EventsStream.runToMemory(
          graft.streaming.ChatStream.audit(
            graft.streaming.EventsStream.read(s, dir)).toDF(),
          org.apache.spark.sql.streaming.OutputMode.Append(),
          statePartitions = graft.streaming.EventsStream.harnessStatePartitions(dir))
        val events = ev(s, dir)
        val bounds = Instruct.turns(events)
          .groupBy("user_id", "session_id")
          .agg(max(unix_timestamp(col("ts"))).as("last_epoch"))
        val maxE = events.agg(max(unix_timestamp(col("ts"))).as("max_epoch"))
        // margin is gap+1, not gap: the stream's event-time timeout sits
        // at the first second strictly beyond the floored-seconds gap
        // band (EventsStream.sessionTimeoutMs) and fires only once the
        // watermark passes it STRICTLY — gap+1 keeps the restriction to
        // conversations whose timeout is provably behind the final
        // watermark on both engines.
        val closed = bounds.join(broadcast(maxE))
          .filter(col("last_epoch") + 3601 < col("max_epoch"))
          .select("user_id", "session_id")
        emitted.join(closed, Seq("user_id", "session_id"), "left_semi")
      }),

    // Preference-pair construction (Preference.pairs): conversations
    // answering the same prompt (first turn's event type) ranked by the
    // integer quality score (valid gate dominant, then supervised-token
    // budget) and paired adjacently — chosen/rejected with a strict
    // margin, the reward-model training input. n−1 pairs per prompt
    // group, never all-pairs; one window over `prompt`.
    Q("q164_pref_pairs",
      Some(s"""$prefPairCtes
              |SELECT prompt, c_user, c_session, r_user, r_session, margin
              |FROM kept""".stripMargin),
      (s, dir) => Preference.pairs(Instruct.turns(ev(s, dir)))),

    // Inter-annotator agreement audit over the preference pairs: 3
    // deterministic hash-annotators per pair (vote-for-chosen
    // probability widens with the margin), then per-prompt unanimity /
    // majority counts and the pairwise-agreement rate in exact integer
    // micro-units — integer division on both engines, no float anywhere.
    Q("q165_pref_agreement",
      Some(s"""$prefPairCtes,
              |pv AS (SELECT prompt,
              |    concat_ws(':', prompt, c_user, c_session, r_user, r_session)
              |      AS pair_key,
              |    margin FROM kept),
              |votes AS (SELECT prompt, pair_key,
              |    ${TextFunctions.portableHashSql(
                     "('ann' || CAST(ann AS VARCHAR) || ':' || pair_key)")} % 100
              |      < 50 + least(margin, 50) AS vote
              |  FROM pv CROSS JOIN (SELECT unnest([0, 1, 2]) AS ann)),
              |pp AS (SELECT prompt, pair_key,
              |    CAST(sum(CASE WHEN vote THEN 1 ELSE 0 END) AS BIGINT) AS v
              |  FROM votes GROUP BY prompt, pair_key)
              |SELECT prompt, count(*) AS n_pairs,
              |  CAST(count_if(v = 3 OR v = 0) AS BIGINT) AS n_unanimous,
              |  CAST(count_if(v >= 2) AS BIGINT) AS n_majority_chosen,
              |  CAST((1000000 * sum(v * (v - 1) + (3 - v) * (2 - v)))
              |    // (6 * count(*)) AS BIGINT) AS agree_micro
              |FROM pp GROUP BY prompt""".stripMargin),
      (s, dir) => Preference.agreement(
        Preference.pairs(Instruct.turns(ev(s, dir))))),

    // Vote-reliability readout (Preference.voteReliability): pairs
    // bucketed by preference margin; per bucket the mean
    // vote-for-chosen and majority-correct rates in exact integer
    // micro-units — the calibration audit of the annotation channel
    // (rates must rise with margin; flat = annotators not reading the
    // signal).
    Q("q174_vote_reliability",
      Some(s"""$prefPairCtes,
              |pv AS (SELECT CAST(CASE WHEN margin < 5 THEN 0
              |         WHEN margin < 20 THEN 1
              |         WHEN margin < 50 THEN 2 ELSE 3 END AS BIGINT) AS bin,
              |    concat_ws(':', prompt, c_user, c_session, r_user, r_session)
              |      AS pair_key,
              |    margin FROM kept),
              |votes AS (SELECT bin, pair_key,
              |    ${TextFunctions.portableHashSql(
                     "('ann' || CAST(ann AS VARCHAR) || ':' || pair_key)")} % 100
              |      < 50 + least(margin, 50) AS vote
              |  FROM pv CROSS JOIN (SELECT unnest([0, 1, 2]) AS ann)),
              |pp AS (SELECT bin, pair_key,
              |    CAST(sum(CASE WHEN vote THEN 1 ELSE 0 END) AS BIGINT) AS v
              |  FROM votes GROUP BY bin, pair_key)
              |SELECT bin, count(*) AS n_pairs,
              |  CAST((1000000 * sum(v)) // (3 * count(*)) AS BIGINT) AS vote_micro,
              |  CAST((1000000 * count_if(v >= 2)) // count(*) AS BIGINT)
              |    AS majority_micro
              |FROM pp GROUP BY bin""".stripMargin),
      (s, dir) => Preference.voteReliability(
        Preference.pairs(Instruct.turns(ev(s, dir))))),

    // DPO training pack (Preference.dpoPack): each preference pair with
    // BOTH rendered conversation strings — the literal (chosen, rejected)
    // example a DPO/reward-model trainer consumes. The full rendered
    // texts are in the hash, so pairing + rendering + rebasing certify
    // together; the renders join against the (tiny) pair frame, never
    // the other way around.
    Q("q168_dpo_pack",
      Some(s"""$prefPairCtes,
              |rd AS (SELECT user_id, session_id,
              |    string_agg('<|' || role || '|>' || content || '<|end|>', ''
              |      ORDER BY turn_idx) AS rendered
              |  FROM turns GROUP BY user_id, session_id)
              |SELECT k.prompt, k.c_user, k.c_session, k.r_user, k.r_session,
              |  k.margin, c.rendered AS chosen, r.rendered AS rejected,
              |  CAST(len(c.rendered) AS BIGINT) AS chosen_len,
              |  CAST(len(r.rendered) AS BIGINT) AS rejected_len
              |FROM kept k
              |JOIN rd c ON c.user_id = k.c_user AND c.session_id = k.c_session
              |JOIN rd r ON r.user_id = k.r_user AND r.session_id = k.r_session""".stripMargin),
      (s, dir) => Preference.dpoPack(Instruct.turns(ev(s, dir)))),

    Q("q149_chat_render",
      Some(s"""$turnsCtes
              |SELECT user_id, session_id,
              |  string_agg('<|' || role || '|>' || content || '<|end|>', ''
              |    ORDER BY turn_idx) AS rendered,
              |  CAST(sum(turn_len) AS BIGINT) AS rendered_len
              |FROM turns GROUP BY user_id, session_id""".stripMargin),
      (s, dir) => Instruct.render(Instruct.turns(ev(s, dir)))),

    // Best-of-n rejection-sampling selection (Preference.bestOf): per
    // prompt the single highest-scoring conversation, with its rendered
    // training string — the SFT pack distilled from an implicit reward
    // over each prompt's candidates. The winner is ONE
    // map-side-combinable struct-max aggregation (no prompt window);
    // the render stream joins the broadcast winner frame. Full rendered
    // texts are in the hash, so selection + rendering certify together.
    Q("q181_best_of_n",
      Some(s"""$prefPairCtes,
              |best AS (SELECT prompt, user_id, session_id,
              |    CAST(score AS BIGINT) AS score
              |  FROM sc
              |  QUALIFY row_number() OVER (PARTITION BY prompt
              |    ORDER BY score DESC, user_id, session_id) = 1),
              |rd AS (SELECT user_id, session_id,
              |    string_agg('<|' || role || '|>' || content || '<|end|>', ''
              |      ORDER BY turn_idx) AS rendered
              |  FROM turns GROUP BY user_id, session_id)
              |SELECT b.prompt, b.user_id, b.session_id, b.score,
              |  rd.rendered AS best_response
              |FROM best b JOIN rd USING (user_id, session_id)""".stripMargin),
      (s, dir) => Preference.bestOf(Instruct.turns(ev(s, dir)))),

    // PII scrub inside the SFT render path (scrubPii ∘ render): turns
    // carry PLANTED emails/phones (by turn_idx mod 3 — both PII kinds
    // exercised in every conversation shape), content is scrubbed to
    // typed placeholders BEFORE rendering — the order a training
    // pipeline requires (scrub before anything persists) — and each
    // conversation reports its pre-scrub PII count. Full scrubbed
    // renders are in the hash, so the scrub, the planting, and the
    // render ordering all certify together.
    Q("q183_chat_scrub", {
      val scrub = TextFunctions.scrubPiiSql("planted")
      Some(s"""$turnsCtes,
              |pl AS (SELECT user_id, session_id, turn_idx, role,
              |    content || CASE CAST(turn_idx % 3 AS INT)
              |      WHEN 0 THEN ' contact a.b@test.org'
              |      WHEN 1 THEN ' call 555-010-1234' ELSE '' END AS planted
              |  FROM turns)
              |SELECT user_id, session_id,
              |  string_agg('<|' || role || '|>' || $scrub || '<|end|>', ''
              |    ORDER BY turn_idx) AS rendered,
              |  CAST(sum(${TextFunctions.piiCountSql("planted")}) AS BIGINT)
              |    AS n_pii
              |FROM pl GROUP BY user_id, session_id""".stripMargin)
    },
      (s, dir) => {
        val planted = Instruct.turns(ev(s, dir))
          .withColumn("planted", concat(col("content"),
            when(col("turn_idx") % 3 === 0, lit(" contact a.b@test.org"))
              .when(col("turn_idx") % 3 === 1, lit(" call 555-010-1234"))
              .otherwise(lit(""))))
        val counts = planted.groupBy("user_id", "session_id")
          .agg(sum(TextFunctions.piiCount(col("planted"))).as("n_pii"))
        Instruct.render(
            planted.withColumn("content", TextFunctions.scrubPii(col("planted"))))
          .drop("rendered_len")
          .join(counts, Seq("user_id", "session_id"))
      })
  )
}
