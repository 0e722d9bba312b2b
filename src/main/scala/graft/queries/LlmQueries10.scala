package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.T
import graft.ops.Sft

/** Round-11 registry: SFT / conversation-data preparation — the
  * turn-structure audits an instruction-tuning corpus needs between raw
  * collection and training (turn stats + loss-mask ratios, role-alternation
  * validation, templated-response dedup, prompt/response length audit).
  */
object LlmQueries10 {

  private def conv(spark: SparkSession, dir: String): DataFrame =
    Sft.conversationView(T.par(spark, T.t(spark, dir, "documents")))

  /** Per-conversation turn statistics over the derived conversation view
    * ([[Sft.turnStats]]): role counts, token totals, the trainable-token
    * (loss-mask) micro ratio, and the alternation audit flag. */
  def sftTurnStats(spark: SparkSession, dir: String): DataFrame =
    Sft.turnStats(conv(spark, dir)).orderBy(col("conv_id"))

  /** Individual role-alternation violations ([[Sft.roleViolations]]):
    * assistant-first conversations and back-to-back same-role turns. */
  def sftRoleViolations(spark: SparkSession, dir: String): DataFrame =
    Sft.roleViolations(conv(spark, dir))
      .orderBy(col("conv_id"), col("turn_idx"))

  /** Templated-response dedup ([[Sft.responseOpeningDedup]]): assistant
    * turns keyed by their first 8 whitespace tokens, each row flagged with
    * its opening's copy count and canonical holder. */
  def sftResponseDedup(spark: SparkSession, dir: String): DataFrame =
    Sft.responseOpeningDedup(conv(spark, dir))
      .orderBy(col("conv_id"), col("turn_idx"))

  /** Prompt/response token-length ratio for adjacent (user, assistant)
    * pairs ([[Sft.promptResponseRatio]]). */
  def sftPairRatio(spark: SparkSession, dir: String): DataFrame =
    Sft.promptResponseRatio(conv(spark, dir))
      .orderBy(col("conv_id"), col("prompt_turn"))

  private def cmp(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Preference.comparisonsFromEvents(T.events(spark, dir))

  /** Pairwise win/loss matrix over the event-derived comparison log
    * ([[graft.ops.Preference.winMatrix]]): game counts and exact micro
    * win rates per unordered model pair. */
  def prefWinMatrix(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Preference.winMatrix(cmp(spark, dir))
      .orderBy(col("model_a"), col("model_b"))

  /** Bradley–Terry strength scores ([[graft.ops.Preference.btScores]]):
    * five MM rounds (Hunter 2004) in integer micro units, the full
    * trajectory replayed by the oracle's unrolled MATERIALIZED CTEs. */
  def prefBtScores(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Preference.btScores(cmp(spark, dir), iters = 5)
      .orderBy(col("model"))

  /** BT fit-calibration audit ([[graft.ops.Preference.btCalibration]]):
    * BT-implied vs empirical win rate per pair, signed micro gap. */
  def prefBtCalibration(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Preference.btCalibration(cmp(spark, dir), iters = 5)
      .orderBy(col("model_a"), col("model_b"))

  /** Conversation-level context packing for SFT batches: whole
    * conversations (never split mid-conversation — the packing key is the
    * conversation, unlike `sample_pack_bins`' per-document packing) laid
    * into 1024-token bins via the sharded-cumsum
    * [[graft.ops.Curation.packSequences]] kernel over [[Sft.turnStats]]
    * totals. */
  def sftPackConversations(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Curation.packSequences(
        graft.ops.Sft.turnStats(conv(spark, dir))
          .select(col("conv_id"), col("total_tokens")),
        maxTokens = 1024, nShards = 8,
        keyCol = "conv_id", tokensCol = "total_tokens")
      .orderBy(col("conv_id"))

  /** The fixed demo dictionary for `text_gazetteer_spans` — mixed 1/2/3
    * token phrases drawn from the synthetic corpus vocabulary. */
  private val gazetteer = Seq("merge", "order fast", "stream column",
    "big order scan", "group slow spark")

  /** Gazetteer phrase-span tagging
    * ([[graft.ops.TextAnalysis.gazetteerSpans]]): every dictionary-phrase
    * occurrence with its 0-based start-token position. */
  def textGazetteerSpans(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.gazetteerSpans(
        T.par(spark, T.t(spark, dir, "documents")), gazetteer)
      .orderBy(col("doc_id"), col("start_token"), col("phrase_len"))

  /** Deequ-style declarative validation report over `documents`
    * ([[graft.ops.Validation.report]]) — one aggregate pass, one row per
    * constraint. `lang_latin` is intentionally tighter than the data
    * (the zh stratum fails it), so the report exercises both verdicts. */
  def validationDocuments(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Validation._
    report(T.par(spark, T.t(spark, dir, "documents")), Seq(
      completeness("doc_id_complete", col("doc_id"), 1000000L),
      uniqueness("doc_id_unique", col("doc_id"), 1000000L),
      membership("lang_known", col("lang"),
        Seq("de", "en", "es", "fr", "zh"), 1000000L),
      membership("lang_latin", col("lang"),
        Seq("de", "en", "es", "fr"), 950000L),
      predicateCompliance("n_chars_consistent",
        length(col("text")).cast("long") === col("n_chars"), 1000000L),
      rangeCompliance("n_chars_range", col("n_chars"), 1L, 100000L,
        1000000L),
      completeness("text_complete", col("text"), 1000000L)))
  }

  /** The same validation pass over the events log. */
  def validationEvents(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Validation._
    report(T.events(spark, dir), Seq(
      uniqueness("event_id_unique", col("event_id"), 1000000L),
      membership("event_type_known", col("event_type"),
        Seq("click", "error", "purchase", "signup", "view"), 1000000L),
      completeness("ts_complete", col("ts"), 1000000L),
      completeness("user_id_complete", col("user_id"), 1000000L),
      predicateCompliance("value_in_range",
        col("value") > 0.0 && col("value") <= 500.0, 1000000L)))
  }

  /** Min-K% Prob contamination signal
    * ([[graft.ops.TextAnalysis.minKProbBigram]], Shi et al. ICLR 2024):
    * mean of each doc's 20% lowest-scored bigram types under the corpus
    * Kneser–Ney LM — high values flag memorization/contamination
    * candidates. */
  def deconMinKProb(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.minKProbBigram(
        T.par(spark, T.t(spark, dir, "documents")))
      .orderBy(col("doc_id"))

  /** Per-user Theil–Sen robust value trend
    * ([[graft.ops.Sessions.theilSenSlope]]): median pairwise slope in
    * micro cents/second. */
  def eventTheilSen(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sessions.theilSenSlope(T.events(spark, dir))
      .orderBy(col("user_id"))

  // The event-derived comparison log (must mirror
  // Preference.comparisonsFromEvents: adjacent same-user events, differing
  // type and value, higher value wins).
  private val cmpCte =
    """cmp AS MATERIALIZED (
      |  SELECT event_type AS a, next_type AS b,
      |    CASE WHEN value > next_value THEN event_type ELSE next_type END AS winner
      |  FROM (
      |    SELECT event_type, value,
      |      lead(event_type) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS next_type,
      |      lead(value) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS next_value
      |    FROM events)
      |  WHERE next_type IS NOT NULL AND event_type <> next_type
      |    AND value <> next_value)""".stripMargin

  /** The unrolled Bradley–Terry MM oracle (same discipline as KmeansSql:
    * MATERIALIZED CTEs — each state is referenced twice per round, and
    * plain CTE inlining would expand the chain exponentially). Returns the
    * CTE chain ending at `it<iters>`; callers append their final select. */
  private def btChain(iters: Int): String = {
    val iterCtes = (1 to iters).map { k =>
      s"""raw$k AS MATERIALIZED (
         |  SELECT g.model, CAST(
         |      (CAST(coalesce(max(w.w), 0) AS HUGEINT) * 1000000000000)
         |        // greatest(sum((CAST(g.n AS HUGEINT) * 1000000000000)
         |                        // greatest(pi.p + pj.p, 1)), 1)
         |    AS BIGINT) AS p
         |  FROM games g
         |  JOIN it${k - 1} pi ON pi.model = g.model
         |  JOIN it${k - 1} pj ON pj.model = g.opp
         |  LEFT JOIN wins w ON w.model = g.model
         |  GROUP BY g.model),
         |tot$k AS MATERIALIZED (SELECT sum(p) AS s FROM raw$k),
         |it$k AS MATERIALIZED (
         |  SELECT model, CAST((p * kk.t) // greatest(t.s, 1) AS BIGINT) AS p
         |  FROM raw$k CROSS JOIN tot$k t CROSS JOIN kk)""".stripMargin
    }.mkString(",\n")
    s"""WITH $cmpCte,
       |pairs AS MATERIALIZED (
       |  SELECT least(a, b) AS ma, greatest(a, b) AS mb,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN winner = least(a, b) THEN 1 ELSE 0 END) AS BIGINT) AS wa
       |  FROM cmp GROUP BY 1, 2),
       |games AS MATERIALIZED (
       |  SELECT ma AS model, mb AS opp, n FROM pairs
       |  UNION ALL SELECT mb, ma, n FROM pairs),
       |wins AS MATERIALIZED (
       |  SELECT winner AS model, CAST(count(*) AS BIGINT) AS w
       |  FROM cmp GROUP BY 1),
       |models AS MATERIALIZED (SELECT DISTINCT model FROM games),
       |kk AS MATERIALIZED (
       |  SELECT CAST(count(*) AS BIGINT) * 1000000 AS t FROM models),
       |it0 AS MATERIALIZED (
       |  SELECT model, CAST(1000000 AS BIGINT) AS p FROM models),
       |$iterCtes""".stripMargin
  }

  private def btSql(iters: Int): String =
    s"""${btChain(iters)},
       |ng AS (SELECT model, CAST(sum(n) AS BIGINT) AS n_games
       |       FROM games GROUP BY model)
       |SELECT m.model AS model, ng.n_games, coalesce(w.w, 0) AS n_wins,
       |  i.p AS bt_micro
       |FROM models m JOIN it$iters i ON i.model = m.model
       |JOIN ng ON ng.model = m.model
       |LEFT JOIN wins w ON w.model = m.model
       |ORDER BY m.model""".stripMargin

  private def btCalibrationSql(iters: Int): String =
    s"""${btChain(iters)},
       |m AS (SELECT least(a, b) AS model_a, greatest(a, b) AS model_b,
       |    CAST(count(*) AS BIGINT) AS n_games,
       |    CAST(sum(CASE WHEN winner = least(a, b) THEN 1 ELSE 0 END) AS BIGINT) AS wins_a
       |  FROM cmp GROUP BY 1, 2)
       |SELECT m.model_a, m.model_b, m.n_games,
       |  (1000000 * m.wins_a) // m.n_games AS win_rate_a_micro,
       |  CAST((pa.p * 1000000) // greatest(pa.p + pb.p, 1) AS BIGINT)
       |    AS bt_expected_a_micro,
       |  (1000000 * m.wins_a) // m.n_games
       |    - CAST((pa.p * 1000000) // greatest(pa.p + pb.p, 1) AS BIGINT)
       |    AS gap_micro
       |FROM m JOIN it$iters pa ON pa.model = m.model_a
       |JOIN it$iters pb ON pb.model = m.model_b
       |ORDER BY m.model_a, m.model_b""".stripMargin

  // The derived conversation view (must mirror Sft.conversationView exactly:
  // 8-turn doc_id blocks, n_chars-parity roles, whitespace token counts).
  private val convCte =
    """conv AS (
      |  SELECT doc_id // 8 AS conv_id, doc_id % 8 AS turn_idx,
      |         CASE WHEN n_chars % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
      |         text,
      |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents)""".stripMargin

  val all: Seq[Query] = Seq(
    Query("sft_turn_stats", sftTurnStats,
      s"""WITH $convCte,
         |w AS (SELECT *, lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role
         |      FROM conv),
         |g AS (SELECT conv_id,
         |    CAST(count(*) AS BIGINT) AS n_turns,
         |    CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
         |    CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS n_assistant,
         |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |    CAST(sum(CASE WHEN role = 'assistant' THEN n_tokens ELSE 0 END) AS BIGINT) AS assistant_tokens,
         |    min(CASE WHEN turn_idx = 0 THEN role END) AS first_role,
         |    CAST(sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END) AS BIGINT) AS n_role_repeats
         |  FROM w GROUP BY conv_id)
         |SELECT conv_id, n_turns, n_user, n_assistant, total_tokens,
         |  assistant_tokens,
         |  (1000000 * assistant_tokens) // greatest(total_tokens, 1) AS assistant_ratio_micro,
         |  first_role, n_role_repeats,
         |  (n_role_repeats = 0 AND coalesce(first_role = 'user', FALSE)) AS alternation_ok
         |FROM g ORDER BY conv_id""".stripMargin),
    Query("sft_role_violations", sftRoleViolations,
      s"""WITH $convCte,
         |w AS (SELECT conv_id, turn_idx, role,
         |    lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role
         |  FROM conv)
         |SELECT conv_id, turn_idx, role,
         |  CASE WHEN turn_idx = 0 AND role <> 'user' THEN 'leading_assistant'
         |       ELSE 'repeated_role' END AS violation
         |FROM w
         |WHERE (turn_idx = 0 AND role <> 'user') OR role = prev_role
         |ORDER BY conv_id, turn_idx""".stripMargin),
    Query("sft_response_dedup", sftResponseDedup,
      s"""WITH $convCte,
         |a AS (SELECT conv_id, turn_idx, n_tokens,
         |    array_to_string(string_split_regex(trim(text), '\\s+')[1:8], ' ') AS opening
         |  FROM conv WHERE role = 'assistant'),
         |g AS (SELECT opening, CAST(count(*) AS BIGINT) AS n_copies,
         |    min(conv_id * 8 + turn_idx) AS keep_key
         |  FROM a GROUP BY opening)
         |SELECT a.conv_id, a.turn_idx, a.n_tokens, g.n_copies,
         |  (a.conv_id * 8 + a.turn_idx) = g.keep_key AS is_canonical,
         |  g.keep_key // 8 AS keep_conv_id, g.keep_key % 8 AS keep_turn_idx
         |FROM a JOIN g ON g.opening = a.opening
         |ORDER BY conv_id, turn_idx""".stripMargin),
    Query("sft_pair_ratio", sftPairRatio,
      s"""WITH $convCte,
         |p AS (SELECT conv_id, turn_idx, role, n_tokens,
         |    lead(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_role,
         |    lead(n_tokens) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_tokens
         |  FROM conv)
         |SELECT conv_id, turn_idx AS prompt_turn, n_tokens AS prompt_tokens,
         |  next_tokens AS response_tokens,
         |  (1000000 * next_tokens) // greatest(n_tokens, 1) AS ratio_micro
         |FROM p WHERE role = 'user' AND next_role = 'assistant'
         |ORDER BY conv_id, prompt_turn""".stripMargin),
    Query("pref_win_matrix", prefWinMatrix,
      s"""WITH $cmpCte,
         |m AS (SELECT least(a, b) AS model_a, greatest(a, b) AS model_b,
         |    CAST(count(*) AS BIGINT) AS n_games,
         |    CAST(sum(CASE WHEN winner = least(a, b) THEN 1 ELSE 0 END) AS BIGINT) AS wins_a
         |  FROM cmp GROUP BY 1, 2)
         |SELECT model_a, model_b, n_games, wins_a,
         |  n_games - wins_a AS wins_b,
         |  (1000000 * wins_a) // n_games AS win_rate_a_micro
         |FROM m ORDER BY model_a, model_b""".stripMargin),
    Query("pref_bt_scores", prefBtScores, btSql(5)),
    Query("pref_bt_calibration", prefBtCalibration, btCalibrationSql(5)),
    // Conversation totals from the conv CTE, then the sample_pack_bins
    // sharded-cumsum recipe keyed by conv_id at 1024 tokens / 8 shards.
    Query("sft_pack_conversations", sftPackConversations,
      s"""WITH $convCte,
         |t AS (SELECT conv_id, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |    md5(CAST(conv_id AS VARCHAR)) AS h
         |  FROM conv GROUP BY conv_id),
         |s AS (SELECT conv_id, total_tokens, h,
         |    CAST(CAST('0x' || substring(h, 1, 2) AS BIGINT) % 8 AS INTEGER) AS shard
         |  FROM t),
         |c AS (SELECT conv_id, shard, total_tokens,
         |    coalesce(sum(total_tokens) OVER (PARTITION BY shard ORDER BY h
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - total_tokens, 0) AS strt
         |  FROM s)
         |SELECT conv_id, shard, CAST(strt // 1024 AS BIGINT) AS bin_id,
         |  CAST(strt % 1024 AS BIGINT) AS bin_offset,
         |  total_tokens
         |FROM c ORDER BY conv_id""".stripMargin),
    // Same per-length n-gram construction: 0-based start positions, the
    // range upper bound (2000) exceeds any document's token count.
    Query("text_gazetteer_spans", textGazetteerSpans,
      s"""WITH p(phrase, phrase_len) AS (VALUES
         |  ${gazetteer.map { ph =>
               val t = ph.trim.toLowerCase.split("\\s+")
               s"('${t.mkString(" ")}', ${t.length})"
             }.mkString(",\n  ")}),
         |t AS (SELECT doc_id,
         |    string_split_regex(lower(trim(text)), '\\s+') AS toks
         |  FROM documents),
         |g AS (SELECT doc_id, CAST(r.range AS INTEGER) AS start_token,
         |    CAST(pl.l AS INTEGER) AS phrase_len,
         |    array_to_string(toks[CAST(r.range + 1 AS INTEGER):CAST(r.range + pl.l AS INTEGER)], ' ') AS phrase
         |  FROM t
         |  CROSS JOIN (SELECT DISTINCT phrase_len AS l FROM p) pl
         |  CROSS JOIN range(2000) r
         |  WHERE r.range + pl.l <= len(toks))
         |SELECT g.doc_id, g.start_token, g.phrase_len, g.phrase
         |FROM g JOIN p ON p.phrase = g.phrase AND p.phrase_len = g.phrase_len
         |ORDER BY g.doc_id, g.start_token, g.phrase_len""".stripMargin),
    // One aggregate row, stacked to one row per constraint — the same
    // exact integer micro fractions, thresholds as BIGINT literals.
    Query("validation_documents", validationDocuments,
      """WITH a AS (SELECT
        |    CAST(count(doc_id) AS BIGINT) AS n0,
        |    CAST(count(*) AS BIGINT) AS d,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN lang IN ('de','en','es','fr','zh') THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN lang IN ('de','en','es','fr') THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |    CAST(sum(CASE WHEN CAST(length(text) AS BIGINT) = n_chars THEN 1 ELSE 0 END) AS BIGINT) AS n4,
        |    CAST(sum(CASE WHEN n_chars BETWEEN 1 AND 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n5,
        |    CAST(count(text) AS BIGINT) AS n6
        |  FROM documents),
        |r(check_name, metric_micro, min_required_micro) AS (
        |  SELECT 'doc_id_complete', (1000000 * n0) // greatest(d, 1), CAST(1000000 AS BIGINT) FROM a
        |  UNION ALL SELECT 'doc_id_unique', (1000000 * n1) // greatest(d, 1), CAST(1000000 AS BIGINT) FROM a
        |  UNION ALL SELECT 'lang_known', (1000000 * n2) // greatest(d, 1), CAST(1000000 AS BIGINT) FROM a
        |  UNION ALL SELECT 'lang_latin', (1000000 * n3) // greatest(d, 1), CAST(950000 AS BIGINT) FROM a
        |  UNION ALL SELECT 'n_chars_consistent', (1000000 * n4) // greatest(d, 1), CAST(1000000 AS BIGINT) FROM a
        |  UNION ALL SELECT 'n_chars_range', (1000000 * n5) // greatest(d, 1), CAST(1000000 AS BIGINT) FROM a
        |  UNION ALL SELECT 'text_complete', (1000000 * n6) // greatest(d, 1), CAST(1000000 AS BIGINT) FROM a)
        |SELECT check_name, metric_micro, min_required_micro,
        |  metric_micro >= min_required_micro AS passed
        |FROM r ORDER BY check_name""".stripMargin),
    Query("validation_events", validationEvents,
      """WITH a AS (SELECT
        |    CAST(count(DISTINCT event_id) AS BIGINT) AS n0,
        |    CAST(count(*) AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN event_type IN ('click','error','purchase','signup','view') THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(count(ts) AS BIGINT) AS n2,
        |    CAST(count(user_id) AS BIGINT) AS n3,
        |    CAST(sum(CASE WHEN value > 0 AND value <= 500 THEN 1 ELSE 0 END) AS BIGINT) AS n4
        |  FROM events),
        |r(check_name, metric_micro, min_required_micro) AS (
        |  SELECT 'event_id_unique', (1000000 * n0) // greatest(d, 1), CAST(1000000 AS BIGINT) FROM a
        |  UNION ALL SELECT 'event_type_known', (1000000 * n1) // greatest(d, 1), CAST(1000000 AS BIGINT) FROM a
        |  UNION ALL SELECT 'ts_complete', (1000000 * n2) // greatest(d, 1), CAST(1000000 AS BIGINT) FROM a
        |  UNION ALL SELECT 'user_id_complete', (1000000 * n3) // greatest(d, 1), CAST(1000000 AS BIGINT) FROM a
        |  UNION ALL SELECT 'value_in_range', (1000000 * n4) // greatest(d, 1), CAST(1000000 AS BIGINT) FROM a)
        |SELECT check_name, metric_micro, min_required_micro,
        |  metric_micro >= min_required_micro AS passed
        |FROM r ORDER BY check_name""".stripMargin),
    // The shared KN chain's per-type occ relation, ranked ascending per
    // doc with the (o, w1, w2) tie pin, bottom ceil(20%) kept.
    Query("decon_min_k_prob", deconMinKProb,
      s"""WITH ${LlmQueries7.knCtes},
         |rk AS (SELECT id, o,
         |    row_number() OVER (PARTITION BY id ORDER BY o, w1, w2) AS rn,
         |    count(*) OVER (PARTITION BY id) AS n_types
         |  FROM occ),
         |mk AS (SELECT id, CAST(max(n_types) AS BIGINT) AS n_types,
         |    CAST(count(*) AS BIGINT) AS k_types,
         |    CAST(sum(o) // count(*) AS BIGINT) AS min_k_micro
         |  FROM rk WHERE rn <= greatest(1, (n_types * 1 + 4) // 5)
         |  GROUP BY id)
         |SELECT d.doc_id, coalesce(mk.n_types, 0) AS n_types,
         |  coalesce(mk.k_types, 0) AS k_types,
         |  coalesce(mk.min_k_micro, 0) AS min_k_micro
         |FROM documents d LEFT JOIN mk ON mk.id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),
    // Micro-quantized pairwise slopes, rank-median per user;
    // same-timestamp pairs excluded. The slope division is written
    // magnitude-then-sign (r13 hardening, same class as cosMicroOver):
    // value-identical under a truncating `//`, robust to a flooring
    // build — Spark's `div` twin truncates, so negative slopes with a
    // remainder must truncate here too.
    Query("event_theil_sen", eventTheilSen,
      """WITH e AS (SELECT user_id AS k, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
        |    CAST(round(value * 100, 0) AS BIGINT) AS v FROM events),
        |pr AS (SELECT a.k,
        |    CAST(CASE WHEN b.v >= a.v
        |      THEN (1000000000000 * (b.v - a.v)) // (b.t - a.t)
        |      ELSE -((1000000000000 * (a.v - b.v)) // (b.t - a.t))
        |    END AS BIGINT) AS s
        |  FROM e a JOIN e b ON a.k = b.k AND a.t < b.t),
        |rk AS (SELECT k, s, row_number() OVER (PARTITION BY k ORDER BY s) AS rn,
        |    count(*) OVER (PARTITION BY k) AS n FROM pr),
        |med AS (SELECT k, CAST(max(n) AS BIGINT) AS n_pairs,
        |    CAST(max(s) AS BIGINT) AS slope_micro
        |  FROM rk WHERE rn = (n + 1) // 2 GROUP BY k),
        |np AS (SELECT k, CAST(count(*) AS BIGINT) AS n_points FROM e GROUP BY k)
        |SELECT np.k AS user_id, np.n_points,
        |  coalesce(med.n_pairs, 0) AS n_pairs,
        |  coalesce(med.slope_micro, 0) AS slope_micro
        |FROM np LEFT JOIN med ON med.k = np.k
        |ORDER BY user_id""".stripMargin),
  )
}
