package graft.report

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.streaming.{LogPublisher, ReportJob}

class ReporterSpec extends SparkSpec {

  def mkEvents() = {
    import spark.implicits._
    Seq(
      ("1.1.1.1", "US", "United States", "ssh", "auth-failure"),
      ("1.1.1.1", "US", "United States", "ssh", "auth-failure"),
      ("1.1.1.1", "US", "United States", "http", "XDebug"),
      ("2.2.2.2", "NL", "Netherlands", "ssh", "user-enumeration"))
      .toDF("address", "country_code", "country_name", "sensor", "rule")
  }

  test("report: totals, counters string, desc order (A1-A4, O1)") {
    val rows = Reporter.report(mkEvents()).collect()
    assert(rows.map(_.getAs[String]("address")).toSeq == Seq("1.1.1.1", "2.2.2.2"))
    val top = rows.head
    assert(top.getAs[Long]("total_events") == 3L)
    assert(top.getAs[String]("counters") == "http/XDebug:1|ssh/auth-failure:2")
    assert(top.getAs[String]("country_code") == "US")
    assert(rows(1).getAs[String]("counters") == "ssh/user-enumeration:1")
  }

  test("report columns match the reference CSV header (B.3)") {
    assert(Reporter.report(mkEvents()).columns.toSeq == Reporter.Header)
  }

  test("csv file naming (core/reporter.go:124)") {
    val now = java.time.ZonedDateTime.of(2026, 8, 3, 11, 22, 33, 0, java.time.ZoneOffset.UTC)
    assert(Reporter.fileName(now) == "report_2026-08-03T11:22:33+0000.csv")
  }

  test("writeCsv produces a single header'd file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-report").toString
    val out = Reporter.writeCsv(Reporter.report(mkEvents()), dir)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length == 1)
    val lines = scala.io.Source.fromFile(files.head).getLines().toSeq
    assert(lines.head == "address,country_code,country_name,total_events,counters")
    assert(lines.length == 3)
  }

  test("country summary + tweet text (A5, O2, O3, F10, F11)") {
    import spark.implicits._
    val ev = Seq("US", "US", "US", "NL", "NL", "CN", "DE", "FR", "IT", "GB")
      .map(c => (c, c + " Name")).toDF("country_code", "country_name")
    val summary = Reporter.countrySummary(ev)
    val top = summary.head()
    assert(top.getString(0) == "US" && top.getLong(1) == 3L)
    val tweet = Reporter.tweetText(summary, totalEvents = 10, reportUrl = "http://r/x.csv")
    assert(tweet.startsWith("10 new events from "))
    assert(tweet.contains("🇺🇸  (3)")) // US flag
    assert(tweet.contains("...")) // 7 countries -> truncated to 5
    assert(tweet.endsWith("http://r/x.csv #takuan #threatreport"))
  }

  test("tweet pluralization: 1 event (F11)") {
    import spark.implicits._
    val ev = Seq(("US", "n")).toDF("country_code", "country_name")
    val tweet = Reporter.tweetText(Reporter.countrySummary(ev), 1, "u")
    assert(tweet.startsWith("1 new event from "))
  }

  test("totals: events + distinct addresses in one pass (A6)") {
    assert(Reporter.totals(mkEvents()) == (4L, 2L))
  }

  test("late-enrich report is identical to enrich-then-report") {
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val geo = graft.T.t(spark, dir, "nation").select(
      (lit(167772160L) + col("n_nationkey").cast("long") * 64).as("start_ip_num"),
      (lit(167772160L) + col("n_nationkey").cast("long") * 64 + 63).as("end_ip_num"),
      col("n_name").as("country_code"), col("n_name").as("country_name"))
    val ev = graft.T.events(spark, dir).select(
      format_string("10.0.%d.%d", expr("user_id div 256"), expr("user_id % 256")).as("address"),
      lit("app").as("sensor"), col("event_type").as("rule"))
    val early = Reporter.report(graft.enrich.GeoIp.enrich(ev, geo))
      .collect().map(_.toSeq).toSeq
    val late = Reporter.reportLateEnrich(ev, geo)
      .collect().map(_.toSeq).toSeq
    assert(late == early)
  }

  /** The two-level report expression `Reporter.report` used before its
    * one-pass aggregate, kept here as the reference the CSV bytes are
    * compared with: per-(address, country, sensor, rule) counts, then one
    * row per address, globally sorted. */
  def twoLevelReport(events: DataFrame): DataFrame =
    events
      .groupBy(col("address"), col("country_code"), col("country_name"),
        col("sensor"), col("rule"))
      .agg(count(lit(1)).as("n"))
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

  def csvBytes(dir: String): Seq[Byte] = {
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length == 1, files.toSeq)
    java.nio.file.Files.readAllBytes(files.head.toPath).toSeq
  }

  test("reportBatch's CSV is byte-identical to the two-level report expression") {
    import spark.implicits._
    val events = Seq(
      // 10.0.0.1 and 10.0.0.2 tie at 2 events: the address breaks the tie
      ("10.0.0.2", "US", "United States", "ssh", "auth-failure"),
      ("10.0.0.2", "US", "United States", "ssh", "auth-failure"),
      ("10.0.0.1", "US", "United States", "ssh", "auth-failure"),
      ("10.0.0.1", "US", "United States", "http", "XDebug"),
      // a null address is one report row, sorted first among its ties
      (null, null, null, "ssh", "auth-failure"),
      (null, null, null, "http", "XDebug"),
      // one address under two countries: min of each, total across both
      ("10.0.0.3", "US", "United States", "ssh", "auth-failure"),
      ("10.0.0.3", "NL", "Netherlands", "ssh", "user-enumeration"),
      ("10.0.0.3", "NL", "Netherlands", "http", "XDebug"),
      // a null sensor and a null rule drop out of the key
      ("10.0.0.4", "CN", "China", null, "orphan-rule"),
      ("10.0.0.4", "CN", "China", "lone-sensor", null),
      // a rule that is a prefix of another: "x-y:1" sorts before "x:1"
      ("10.0.0.5", "CN", "China", "http", "x"),
      ("10.0.0.5", "CN", "China", "http", "x-y"),
      ("10.0.0.5", "CN", "China", "http", "x-y"),
      // U+FB00 sorts before U+1F600 in UTF-8, after it in UTF-16
      ("10.0.0.6", "DE", "Germany", "http", "\uFB00"),
      ("10.0.0.6", "DE", "Germany", "http", "\uD83D\uDE00"),
      ("10.0.0.6", "DE", "Germany", "http", "\uD83D\uDE00"))
      .toDF("address", "country_code", "country_name", "sensor", "rule")
    val now = java.time.ZonedDateTime.of(2026, 8, 3, 12, 0, 0, 0, java.time.ZoneOffset.UTC)
    val got = java.nio.file.Files.createTempDirectory("graft-report-one").toString
    assert(ReportJob.reportBatch(events, got, new LogPublisher, now) == 7L)
    val want = Reporter.writeCsv(twoLevelReport(events),
      java.nio.file.Files.createTempDirectory("graft-report-two").toString, now)
    val gotBytes = csvBytes(s"$got/${Reporter.fileName(now)}")
    assert(gotBytes == csvBytes(want), new String(gotBytes.toArray, "UTF-8"))
    assert(Reporter.report(events).collect().toSeq == twoLevelReport(events).collect().toSeq)
    val six = Reporter.report(events).filter(col("address") === "10.0.0.6").head()
    assert(six.getAs[String]("counters") == "http/\uFB00:1|http/\uD83D\uDE00:2")
  }

  test("counters are per rendered sensor/rule key, summed across countries") {
    import spark.implicits._
    // the two-level expression kept the country in its first grouping key,
    // so it listed "ssh/auth-failure:1|ssh/auth-failure:1" here
    val events = Seq(
      ("10.0.0.3", "US", "United States", "ssh", "auth-failure"),
      ("10.0.0.3", "NL", "Netherlands", "ssh", "auth-failure"))
      .toDF("address", "country_code", "country_name", "sensor", "rule")
    val r = Reporter.report(events).head()
    assert(r.getAs[String]("counters") == "ssh/auth-failure:2")
    assert(r.getAs[String]("country_code") == "NL")
    assert(r.getAs[Long]("total_events") == 2L)
  }
}
