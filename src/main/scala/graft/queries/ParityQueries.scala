package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.T
import graft.config.{ParserConf, RuleConf, SensorConf}
import graft.parse.LogParser
import graft.enrich.GeoIp
import graft.report.Reporter
import graft.ops.AsOf

/** Takuan-parity operators (SURVEY §2) exercised through the real library
  * modules ([[LogParser]], [[GeoIp]], [[Reporter]], [[AsOf]]) over the
  * driver's parquet corpus, each with a DuckDB oracle. The synthetic mapping:
  * `events.user_id` becomes a dotted-quad address, `event_type` becomes the
  * rule, and a nation-derived range table stands in for the GeoIP database.
  */
object ParityQueries {

  private val IpBase = 167772160L // ip_to_num("10.0.0.0")

  /** Synthetic dotted-quad address from user_id (10.0.x.y ⇒ ip = base+uid). */
  private def addrCol = format_string("10.0.%d.%d",
    expr("user_id div 256"), expr("user_id % 256"))
  private val addrSql =
    "('10.0.' || CAST(user_id // 256 AS VARCHAR) || '.' || CAST(user_id % 256 AS VARCHAR))"

  /** Nation-derived geo range table: nation n covers 64 addresses. */
  private def geoTable(spark: SparkSession, dir: String): DataFrame =
    T.t(spark, dir, "nation").select(
      (lit(IpBase) + col("n_nationkey").cast("long") * 64).as("start_ip_num"),
      (lit(IpBase) + col("n_nationkey").cast("long") * 64 + 63).as("end_ip_num"),
      col("n_name").as("country_code"),
      col("n_name").as("country_name"))

  private val geoSqlJoin =
    s"""LEFT JOIN nation
       |    ON (167772160 + user_id) >= (167772160 + n_nationkey * 64)
       |   AND (167772160 + user_id) <= (167772160 + n_nationkey * 64 + 63)""".stripMargin

  /** The ssh sensor from the reference config (config.example.yml:28-48),
    * applied to log lines synthesized from the events table. */
  private val sshSensor = SensorConf(
    name = "ssh", filename = "", enabled = true, periodSecs = 10,
    parser = ParserConf(
      expression = "^(.+)\\s+.+\\s+sshd\\[\\d+\\]: (.+)\\s+(.+)\\s+port\\s+\\d+$",
      datetimeFormat = "2006 Jan _2 15:04:05",
      tokens = Map("datetime" -> 1, "message" -> 2, "address" -> 3)),
    rules = Seq(
      RuleConf("auth-failure", "message", "Authentication (failure|error|failed) for .+"),
      RuleConf("user-enumeration", "message", "(Illegal|Invalid) user .+")))

  /** Synthesized syslog lines: error→auth-failure, signup→user-enumeration,
    * click/view/purchase→parses but matches no rule (dropped — exercising
    * the ≤1-event-per-line contract). The port carries event_id so payloads
    * are unique. */
  private def syslogLines(spark: SparkSession, dir: String): DataFrame =
    T.events(spark, dir).select(
      format_string("%s host sshd[77]: %s %s port %d",
        date_format(col("ts"), "MMM d HH:mm:ss"),
        when(col("event_type") === "error", "Authentication failed for root")
          .when(col("event_type") === "signup", "Invalid user admin from")
          .otherwise("Accepted publickey for deploy from"),
        addrCol,
        col("event_id")).as("value"))
      // parCpu: regex capture-group parse per line — CPU-bound at any
      // byte volume (r17: takuan_ssh_pipeline 5.1 s at width 1 vs 0.9 s)
      .transform(df => T.parCpu(spark, df))

  // ---------------------------------------------------------------- queries

  /** P1: regex tokenizer — named capture-group projection, non-matches
    * dropped. */
  def p1RegexTokenize(spark: SparkSession, dir: String): DataFrame =
    T.events(spark, dir)
      .select(col("event_id"),
        regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).as("k_str"))
      .filter(col("k_str") =!= "")
      .select(col("event_id"), col("k_str").cast("long").as("k"))
      .orderBy(col("event_id"))

  /** JSON field extraction from the props column (semi-structured
    * projection — companion to the regex tokenizer). */
  def p1bJsonExtract(spark: SparkSession, dir: String): DataFrame =
    T.events(spark, dir)
      // Generate fence: the isNotNull filter on the alias would otherwise
      // be pushed below the projection with the JSON parse inlined -
      // two full get_json_object evaluations per row
      .select(col("event_id"),
        explode(array(get_json_object(col("props"), "$.k").cast("long"))).as("k"))
      .filter(col("k").isNotNull)
      .orderBy(col("event_id"))

  /** P5: first-match-wins ordered rule classification over document text —
    * via the library's CASE WHEN builder (order is semantic). */
  def p5FirstMatchRules(spark: SparkSession, dir: String): DataFrame = {
    val rules = Seq(
      RuleConf("mentions_window", "text", "window"),
      RuleConf("mentions_join", "text", "join"),
      RuleConf("mentions_spark", "text", "spark"))
    LogParser.classify(T.t(spark, dir, "documents"), rules)
      .select(col("doc_id"), col("rule"))
      .orderBy(col("doc_id"))
  }

  /** P6: datetime parse round-trip with the http sensor's Go layout
    * (02/Jan/2006:15:04:05 → dd/MMM/yyyy:HH:mm:ss). */
  def p6DatetimeParse(spark: SparkSession, dir: String): DataFrame = {
    val fmt = graft.timefmt.GoTimeFormat.translate("02/Jan/2006:15:04:05")
    T.events(spark, dir)
      .select(col("event_id"),
        date_format(col("ts"), "dd/MMM/yyyy:HH:mm:ss").as("dt_str"))
      .select(col("event_id"),
        try_to_timestamp(col("dt_str"), lit(fmt.pattern)).as("parsed"))
      .orderBy(col("event_id"))
  }

  /** F9: ip_to_num — the codegen'd Catalyst expression vs arithmetic. */
  def f9IpToNum(spark: SparkSession, dir: String): DataFrame =
    T.events(spark, dir)
      .select(col("event_id"), addrCol.as("address"))
      .withColumn("ip_num", graft.functions.GraftFunctions.ip_to_num(col("address")))
      .orderBy(col("event_id"))

  /** J1: GeoIP range lookup via [[GeoIp.enrich]]'s broadcast range index
    * (binary search per event, no join). */
  def j1GeoRangeJoin(spark: SparkSession, dir: String): DataFrame =
    GeoIp.enrich(
      T.events(spark, dir).select(col("event_id"), addrCol.as("address")),
      geoTable(spark, dir))
      .select(col("event_id"), col("country_code"))
      .orderBy(col("event_id"))

  /** J1 via the automatic [[graft.plans.RangeJoinRewrite]] optimizer rule:
    * the raw BETWEEN join (no hand-bucketing) — the rule turns it into a
    * /16-bucketed hash equi-join; J1 computes the same answer with
    * GeoIp.enrich's range index. */
  def j2AutoRangeJoin(spark: SparkSession, dir: String): DataFrame =
    T.events(spark, dir).select(col("event_id"), addrCol.as("address"))
      .withColumn("ip", graft.functions.GraftFunctions.ip_to_num(col("address")))
      .join(geoTable(spark, dir),
        col("ip") >= col("start_ip_num") && col("ip") <= col("end_ip_num"), "left_outer")
      .select(col("event_id"), col("country_code"))
      .orderBy(col("event_id"))

  /** A1-A4 + O1: the full takuan report (address grouping, nested
    * sensor/rule counters, stringification, desc sort) via Reporter. */
  def a1ReportCounters(spark: SparkSession, dir: String): DataFrame =
    Reporter.reportLateEnrich(
      T.events(spark, dir).select(addrCol.as("address"), lit("app").as("sensor"),
        col("event_type").as("rule")),
      geoTable(spark, dir))

  /** A5/O2/O3: per-country counts, top 5 — the tweet summary aggregation. */
  def a5CountryTopk(spark: SparkSession, dir: String): DataFrame =
    Reporter.countrySummary(
      GeoIp.enrich(
        T.events(spark, dir).select(col("event_id"), addrCol.as("address")),
        geoTable(spark, dir))
        // NULL order keys sort differently across engines — pin unmatched to '??'
        .withColumn("country_code", coalesce(col("country_code"), lit("??"))))
      .limit(5)

  /** S6/P8-analogue: filtered scan with parquet pushdown. */
  def s6FilteredScan(spark: SparkSession, dir: String): DataFrame =
    T.events(spark, dir)
      .filter(col("event_type") === "error" && col("value") > 50)
      .select(col("event_id"), col("user_id"), (T.cents(col("value")) / 100.0).as("value"))
      .orderBy(col("event_id"))

  /** A6: report totals (row count + distinct addresses) in one pass. */
  def a6Totals(spark: SparkSession, dir: String): DataFrame =
    T.events(spark, dir)
      .agg(count(lit(1)).as("total_events"),
        countDistinct(col("user_id")).as("n_addresses"))

  /** ST4 extension: event-time tumbling window aggregation. */
  def st4EventWindow(spark: SparkSession, dir: String): DataFrame =
    T.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), T.moneySum(col("value")).as("value_sum"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"), col("value_sum"))
      .orderBy(col("hour"), col("event_type"))

  /** ST4 extension: sliding event-time windows (2h window, 1h slide —
    * each event lands in two overlapping windows). */
  def st4SlidingWindow(spark: SparkSession, dir: String): DataFrame =
    T.events(spark, dir)
      .groupBy(window(col("ts"), "2 hours", "1 hour"))
      .agg(count(lit(1)).as("n"), T.moneySum(col("value")).as("value_sum"))
      .select(col("window.start").as("win_start"), col("n"), col("value_sum"))
      .orderBy(col("win_start"))

  /** ST5 extension: native session windows (gap-merged event-time sessions,
    * the Structured-Streaming-compatible formulation of sessionization —
    * complements the lag+cumsum batch version in `sessionize_events`).
    * Session end is last-event + gap, new session at gap boundary (>=). */
  def st5SessionWindow(spark: SparkSession, dir: String): DataFrame =
    T.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "20 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))
      .orderBy(col("user_id"), col("session_start"))

  /** Beyond-parity: backward as-of join — each purchase matched to the
    * user's most recent click at-or-before it. */
  def asofPurchaseClick(spark: SparkSession, dir: String): DataFrame = {
    val ev = T.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("value"))
    AsOf.backward(purchases, clicks, key = "user_id", ts = "ts", rightCols = Seq("value"))
      .select(col("event_id"), col("user_id"), col("asof_ts").as("click_ts"),
        col("asof_value").as("click_value"))
      .orderBy(col("event_id"))
  }

  /** Beyond-parity: forward as-of join — each purchase matched to the
    * user's next click at-or-after it. */
  def asofNextClick(spark: SparkSession, dir: String): DataFrame = {
    val ev = T.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("value"))
    AsOf.forward(purchases, clicks, key = "user_id", ts = "ts", rightCols = Seq("value"))
      .select(col("event_id"), col("user_id"), col("asof_ts").as("click_ts"),
        col("asof_value").as("click_value"))
      .orderBy(col("event_id"))
  }

  /** Beyond-parity event analytics: strict-ordering conversion funnel
    * view → click → purchase. Each stage's entry is the user's first
    * qualifying event at-or-after the previous stage's entry, so an early
    * purchase before any view does not count.
    *
    * Single-pass shape: one shuffle on user_id, three chained
    * whole-partition window minima (each conditioned on the previous
    * stage's entry time), then a per-user reduce and a tiny global count.
    * The per-stage aggregate-and-join formulation reads the events table
    * once per stage per reference (~6 scans); this reads it once. */
  def funnelConversion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
    val staged = T.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
      .withColumn("v_ts",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("c_ts",
        min(when(col("event_type") === "click" && col("ts") >= col("v_ts"),
          col("ts"))).over(w))
      .withColumn("p_ts",
        min(when(col("event_type") === "purchase" && col("ts") >= col("c_ts"),
          col("ts"))).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("v_ts")).as("v_ts"), max(col("c_ts")).as("c_ts"),
        max(col("p_ts")).as("p_ts"))
    val counts = staged.agg(
      count(col("v_ts")).as("n_view"), count(col("c_ts")).as("n_click"),
      count(col("p_ts")).as("n_purchase"))
    counts.select(expr(
      "stack(3, '1_view', n_view, '2_click', n_click, '3_purchase', n_purchase)")
      .as(Seq("stage", "n_users")))
      .orderBy(col("stage"))
  }

  /** Beyond-parity event analytics: the behavior transition matrix —
    * counts of consecutive (prev_type → type) pairs per user sequence
    * (first-order Markov statistics). One shuffle on user_id for the lag
    * window, then a tiny global aggregate over the |types|² matrix.
    * Ordering ties broken by event_id, so the sequence is deterministic. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    T.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("prev_type"), col("event_type"))
  }

  /** The full parse→classify→datetime pipeline (P1+P2+P5+P6+P7+P9) on
    * synthesized syslog lines, through LogParser.pipeline with the
    * reference's ssh sensor config. currYear pinned to the data's year so
    * the year-repair hack reconstructs the original timestamps. */
  def takuanSshPipeline(spark: SparkSession, dir: String): DataFrame =
    LogParser.pipeline(
      syslogLines(spark, dir), sshSensor, nodeName = "node1",
      detectedAt = Some(java.sql.Timestamp.valueOf("2024-06-01 00:00:00")),
      currYear = 2024)
      .select(col("payload"), col("address"), col("rule"), col("created_at"),
        col("node_name"), col("sensor"))
      .orderBy(col("payload"))

  /** Robust per-type value anomalies: |value − median| > 3·MAD in exact
    * integer half/quarter-cents ([[graft.ops.Sessions.robustOutliers]]).
    * The log-analytics "this sensor's numbers went weird" gate. */
  def eventOutliers(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sessions.robustOutliers(T.events(spark, dir))
      .select(col("event_id"), col("event_type"), col("cents"),
        col("med_half"), col("dev_half"), col("mad_quarter"))
      .orderBy(col("event_type"), col("event_id"))

  import T.sql.{cents => c, moneySum => ms}

  val all: Seq[Query] = Seq(
    Query("event_outliers", eventOutliers,
      """WITH e AS (SELECT event_id, event_type,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
        |m AS (SELECT event_type,
        |    CAST(quantile_cont(2 * cents, 0.5) AS BIGINT) AS med_half
        |  FROM e GROUP BY 1),
        |d AS (SELECT e.event_id, e.event_type, e.cents, m.med_half,
        |    abs(2 * e.cents - m.med_half) AS dev_half
        |  FROM e JOIN m USING (event_type)),
        |s AS (SELECT event_type,
        |    CAST(quantile_cont(2 * dev_half, 0.5) AS BIGINT) AS mad_quarter
        |  FROM d GROUP BY 1)
        |SELECT d.event_id, d.event_type, d.cents, d.med_half, d.dev_half,
        |  s.mad_quarter
        |FROM d JOIN s USING (event_type)
        |WHERE 2 * d.dev_half > 3 * s.mad_quarter
        |ORDER BY d.event_type, d.event_id""".stripMargin),
    Query("p1b_json_extract", p1bJsonExtract,
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events
        |WHERE json_extract_string(props, '$.k') IS NOT NULL
        |ORDER BY event_id""".stripMargin),
    Query("p1_regex_tokenize", p1RegexTokenize,
      """SELECT event_id, CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k
        |FROM events
        |WHERE regexp_extract(props, '"k":\s*(\d+)', 1) <> ''
        |ORDER BY event_id""".stripMargin),
    Query("p5_first_match_rules", p5FirstMatchRules,
      """SELECT doc_id,
        |  CASE WHEN regexp_matches(text, 'window') THEN 'mentions_window'
        |       WHEN regexp_matches(text, 'join') THEN 'mentions_join'
        |       WHEN regexp_matches(text, 'spark') THEN 'mentions_spark'
        |  END AS rule
        |FROM documents
        |WHERE regexp_matches(text, 'window|join|spark')
        |ORDER BY doc_id""".stripMargin),
    Query("p6_datetime_parse", p6DatetimeParse,
      """SELECT event_id,
        |  strptime(strftime(CAST(ts AS TIMESTAMP), '%d/%b/%Y:%H:%M:%S'), '%d/%b/%Y:%H:%M:%S') AS parsed
        |FROM events
        |ORDER BY event_id""".stripMargin),
    Query("f9_ip_to_num", f9IpToNum,
      s"""SELECT event_id, $addrSql AS address,
         |  (167772160 + CAST(user_id // 256 AS BIGINT) * 256 + user_id % 256) AS ip_num
         |FROM events
         |ORDER BY event_id""".stripMargin),
    Query("j1_geo_range_join", j1GeoRangeJoin,
      s"""SELECT event_id, n_name AS country_code
         |FROM events
         |$geoSqlJoin
         |ORDER BY event_id""".stripMargin),
    Query("j2_auto_range_join", j2AutoRangeJoin,
      s"""SELECT event_id, n_name AS country_code
         |FROM events
         |$geoSqlJoin
         |ORDER BY event_id""".stripMargin),
    Query("a1_report_counters", a1ReportCounters,
      s"""WITH ev AS (
         |  SELECT $addrSql AS address, 'app' AS sensor, event_type AS rule,
         |         n_name AS country_code, n_name AS country_name
         |  FROM events
         |  $geoSqlJoin
         |), per AS (
         |  SELECT address, country_code AS cc, country_name AS cn,
         |         sensor, rule, count(*) AS n
         |  FROM ev GROUP BY address, country_code, country_name, sensor, rule
         |)
         |SELECT address, min(cc) AS country_code, min(cn) AS country_name,
         |  CAST(sum(n) AS BIGINT) AS total_events,
         |  string_agg(sensor || '/' || rule || ':' || n, '|'
         |    ORDER BY sensor || '/' || rule || ':' || n) AS counters
         |FROM per GROUP BY address
         |ORDER BY total_events DESC, address""".stripMargin),
    Query("a5_country_topk", a5CountryTopk,
      s"""SELECT coalesce(n_name, '??') AS country_code, count(*) AS n
         |FROM events
         |$geoSqlJoin
         |GROUP BY 1
         |ORDER BY n DESC, country_code
         |LIMIT 5""".stripMargin),
    Query("s6_filtered_scan", s6FilteredScan,
      s"""SELECT event_id, user_id, (${c("value")} / 100.0) AS value
         |FROM events
         |WHERE event_type = 'error' AND value > 50
         |ORDER BY event_id""".stripMargin),
    Query("a6_totals", a6Totals,
      """SELECT count(*) AS total_events,
        |  count(DISTINCT user_id) AS n_addresses
        |FROM events""".stripMargin),
    Query("event_transitions", eventTransitions,
      """SELECT prev_type, event_type, count(*) AS n
        |FROM (SELECT event_type,
        |        lag(event_type) OVER (PARTITION BY user_id
        |          ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
        |      FROM events)
        |WHERE prev_type IS NOT NULL
        |GROUP BY prev_type, event_type
        |ORDER BY prev_type, event_type""".stripMargin),
    Query("funnel_conversion", funnelConversion,
      """WITH v AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS v_ts
        |           FROM events WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS c_ts
        |      FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) >= v.v_ts
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS p_ts
        |      FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= c.c_ts
        |      GROUP BY e.user_id)
        |SELECT '1_view' AS stage, count(*) AS n_users FROM v
        |UNION ALL SELECT '2_click', count(*) FROM c
        |UNION ALL SELECT '3_purchase', count(*) FROM p
        |ORDER BY stage""".stripMargin),
    Query("st4_event_window", st4EventWindow,
      s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
         |  count(*) AS n, ${ms("value")} AS value_sum
         |FROM events
         |GROUP BY 1, 2
         |ORDER BY hour, event_type""".stripMargin),
    Query("st4_sliding_window", st4SlidingWindow,
      s"""WITH slid AS (
         |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) - to_hours(r.range) AS win_start,
         |         value
         |  FROM events CROSS JOIN range(2) r
         |)
         |SELECT win_start, count(*) AS n, ${ms("value")} AS value_sum
         |FROM slid GROUP BY win_start
         |ORDER BY win_start""".stripMargin),
    Query("st5_session_window", st5SessionWindow,
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |x AS (SELECT user_id, ts,
        |        lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM e),
        |y AS (SELECT user_id, ts,
        |        CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 20 MINUTE
        |             THEN 1 ELSE 0 END AS ns FROM x),
        |z AS (SELECT user_id, ts,
        |        sum(ns) OVER (PARTITION BY user_id ORDER BY ts
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM y)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 20 MINUTE AS session_end, count(*) AS n_events
        |FROM z GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin),
    Query("asof_purchase_click", asofPurchaseClick,
      """SELECT p.event_id, p.user_id, c.ts AS click_ts, c.value AS click_value
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |      FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN
        |     (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |      FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin),
    Query("asof_next_click", asofNextClick,
      """SELECT p.event_id, p.user_id, c.ts AS click_ts, c.value AS click_value
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |      FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN
        |     (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |      FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts <= c.ts
        |ORDER BY p.event_id""".stripMargin),
    Query("takuan_ssh_pipeline", takuanSshPipeline,
      s"""WITH lines AS (
         |  SELECT strftime(CAST(ts AS TIMESTAMP), '%b %-d %H:%M:%S')
         |           || ' host sshd[77]: '
         |           || CASE WHEN event_type = 'error' THEN 'Authentication failed for root'
         |                   WHEN event_type = 'signup' THEN 'Invalid user admin from'
         |                   ELSE 'Accepted publickey for deploy from' END
         |           || ' ' || $addrSql || ' port ' || event_id AS payload,
         |         $addrSql AS address,
         |         CASE WHEN event_type = 'error' THEN 'auth-failure'
         |              WHEN event_type = 'signup' THEN 'user-enumeration'
         |         END AS rule,
         |         date_trunc('second', CAST(ts AS TIMESTAMP)) AS created_at
         |  FROM events
         |)
         |SELECT payload, address, rule, created_at,
         |  'node1' AS node_name, 'ssh' AS sensor
         |FROM lines
         |WHERE rule IS NOT NULL
         |ORDER BY payload""".stripMargin),
  )
}
