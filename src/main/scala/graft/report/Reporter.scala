package graft.report

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The report pipeline (SURVEY §2.4/§2.5; reference: core/reporter.go,
  * core/twitter.go): per-address aggregation with nested sensor/rule
  * counters, descending sort, CSV publication, and the per-country top-5
  * summary.
  *
  * Scale design: the nested counters are computed with a two-phase
  * partial/final hash aggregate — `groupBy(address, sensor, rule).count()`
  * first (map-side combine shrinks the shuffle to distinct key triples),
  * then `groupBy(address)` assembles the counter string. Per-address event
  * *lists* are never materialized, unlike the reference's
  * `map[string][]Event` (core/reporter.go:102-109), so a hot address with
  * millions of events costs O(#distinct rules), not O(#events). The only
  * driver-side collect anywhere is the ≤6-element tweet summary.
  */
object Reporter {

  /** CSV header, exactly the reference's (core/reporter.go:136-142). */
  val Header: Seq[String] =
    Seq("address", "country_code", "country_name", "total_events", "counters")

  /** A1-A4 + O1: the report table. `counters` is "sensor/rule:count" pairs
    * joined by '|' (core/reporter.go:148-169). The reference's pair order is
    * Go map-iteration order (nondeterministic); we pin lexicographic order.
    * Likewise A2's "first event's country" (buffer order in the reference)
    * is pinned to `min` — deterministic and almost always identical, since
    * an address maps to one country. */
  def report(events: DataFrame): DataFrame = {
    // Country columns ride in the level-1 GROUP BY key rather than as
    // min() aggregates: a string min() forces SortAggregate (immutable agg
    // buffer), while a pure count() stays in codegen'd HashAggregate. Geo
    // enrichment maps an address to exactly one country within a batch, so
    // the key extension doesn't split groups.
    val perRule = events
      .groupBy(col("address"), col("country_code"), col("country_name"),
        col("sensor"), col("rule"))
      .agg(count(lit(1)).as("n"))
    perRule
      .groupBy(col("address"))
      .agg(
        min(col("country_code")).as("country_code"),
        min(col("country_name")).as("country_name"),
        sum(col("n")).as("total_events"),
        concat_ws("|", array_sort(collect_list(
          concat_ws(":", concat_ws("/", col("sensor"), col("rule")), col("n")))))
          .as("counters"))
      .select(col("address"), col("country_code"), col("country_name"),
        col("total_events"), col("counters"))
      .orderBy(col("total_events").desc, col("address"))
  }

  /** [[report]] with late geo enrichment: aggregate first, enrich the
    * (address, sensor, rule) aggregate rows — not the raw events. The
    * address→country mapping is functional, so results are identical to
    * `report(GeoIp.enrich(events, geo))`, but the geo lookup touches
    * |distinct address×rule| rows instead of |events|: at 100 TB that is
    * the difference between enriching billions of rows and enriching a few
    * million aggregates. The reference enriches per event at ingest
    * (core/aggregator.go:62-66) because its store is row-per-event; a
    * columnar engine needn't. */
  def reportLateEnrich(events: DataFrame, geo: DataFrame,
      addrCol: String = "address"): DataFrame = {
    val perRule = events
      .groupBy(col(addrCol), col("sensor"), col("rule"))
      .agg(count(lit(1)).as("n"))
    graft.enrich.GeoIp.enrich(perRule, geo, addrCol)
      .groupBy(col(addrCol))
      .agg(
        min(col("country_code")).as("country_code"),
        min(col("country_name")).as("country_name"),
        sum(col("n")).as("total_events"),
        concat_ws("|", array_sort(collect_list(
          concat_ws(":", concat_ws("/", col("sensor"), col("rule")), col("n")))))
          .as("counters"))
      .select(col(addrCol), col("country_code"), col("country_name"),
        col("total_events"), col("counters"))
      .orderBy(col("total_events").desc, col(addrCol))
  }

  /** S10: write the report CSV. `singleFile` reproduces the reference's
    * one-file-per-report artifact (fine for operational report sizes); at
    * data-warehouse scale leave it false and get one file per partition. */
  def writeCsv(report: DataFrame, dir: String,
      now: java.time.ZonedDateTime = java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC),
      singleFile: Boolean = true): String = {
    val out = s"$dir/${fileName(now)}"
    val df = if (singleFile) report.coalesce(1) else report
    df.write.option("header", "true").mode("overwrite").csv(out)
    out
  }

  /** Report artifact name (core/reporter.go:124): report_<ISO8601>.csv. */
  def fileName(now: java.time.ZonedDateTime): String =
    "report_" + now.format(java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ssZ")) + ".csv"

  /** A5/O2/O3: per-country counts, descending, for the tweet
    * (core/twitter.go:48-67). Ties broken by code for determinism. */
  def countrySummary(events: DataFrame): DataFrame =
    events.groupBy(col("country_code"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("country_code"))

  /** ISO code -> flag emoji via regional-indicator arithmetic
    * (presentation parity with core/twitter.go:72-74). */
  def countryFlag(code: String): String =
    if (code != null && code.length == 2 && code.forall(c => c >= 'A' && c <= 'Z'))
      code.toCharArray.flatMap(c => Character.toChars(0x1F1E6 + (c - 'A'))).mkString
    else code

  /** Tweet text (core/twitter.go:78-96): top-5 countries with flags and
    * counts, "..." if truncated, pluralized event count. The summary is the
    * one place a driver-side collect is allowed (≤ 6 rows by construction).
    */
  def tweetText(summary: DataFrame, totalEvents: Long, reportUrl: String): String = {
    val top = summary.limit(6).collect().toSeq
    val shown = top.take(5).map { r =>
      val code = Option(r.getString(0)).getOrElse("?")
      s"${countryFlag(code)}  (${r.getLong(1)})"
    } ++ (if (top.length > 5) Seq("...") else Nil)
    val plural = if (totalEvents == 1) "" else "s"
    s"$totalEvents new event$plural from ${shown.mkString(", ")} $reportUrl #takuan #threatreport"
  }

  /** A6: the commit-message totals (core/reporter.go:182) as a standalone
    * pass: (events, distinct non-null addresses). The service path does not
    * call it; `ReportJob.reportBatch` observes the same two numbers on the
    * report's CSV write. It stays as the batch form and the test oracle. */
  def totals(events: DataFrame): (Long, Long) = {
    val r = events.agg(count(lit(1)), countDistinct(col("address"))).head()
    (r.getLong(0), r.getLong(1))
  }
}
