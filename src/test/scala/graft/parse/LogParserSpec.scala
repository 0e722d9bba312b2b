package graft.parse

import java.util.regex.Pattern
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.RLike
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.config.{GraftConfig, RuleConf, SensorConf}

class LogParserSpec extends SparkSpec {

  lazy val conf = GraftConfig.load(fixture("config.yml"))
  lazy val ssh = conf.sensors.find(_.name == "ssh").get
  lazy val http = conf.sensors.find(_.name == "http").get
  val detectedAt = Some(java.sql.Timestamp.valueOf("2026-08-03 12:00:00"))

  def run(sensor: graft.config.SensorConf) = {
    val lines = spark.read.text(sensor.filename)
    LogParser.pipeline(lines, sensor, "testnode", detectedAt, currYear = 2026)
      .orderBy("payload").collect()
  }

  test("ssh fixture: classification + drops (FIXTURES.md A.1)") {
    val rows = run(ssh)
    // 5 lines: 2 auth-failure-ish, 1 user-enumeration, 1 no-rule, 1 garbage
    assert(rows.length == 3)
    val byAddr = rows.map(r => r.getAs[String]("address") -> r.getAs[String]("rule")).toMap
    assert(byAddr == Map(
      "203.0.113.7" -> "auth-failure",
      "203.0.113.9" -> "auth-failure",
      "198.51.100.23" -> "user-enumeration"))
  }

  test("ssh fixture: year repair + _2 space-padded datetime parse") {
    val rows = run(ssh)
    val created = rows.map(_.getAs[java.sql.Timestamp]("created_at")).toSet
    // "Aug  3 11:22:33" + repaired year 2026, double space collapsed
    assert(created.contains(java.sql.Timestamp.valueOf("2026-08-03 11:22:33")))
    assert(!created.contains(null))
  }

  test("http fixture: first-match-wins order (CVE before php_files_scan)") {
    val rows = run(http)
    val byAddr = rows.map(r => r.getAs[String]("address") -> r.getAs[String]("rule")).toMap
    assert(byAddr == Map(
      "203.0.113.7" -> "CVE-2017-9841",   // not php_files_scan
      "198.51.100.23" -> "XDebug",        // not php_files_scan / not_a_browser
      "192.0.2.10" -> "not_a_browser",
      "192.0.2.99" -> "php_files_scan"))
  }

  test("http fixture: zoned datetime parses to UTC instant") {
    val rows = run(http)
    val cve = rows.find(_.getAs[String]("rule") == "CVE-2017-9841").get
    assert(cve.getAs[java.sql.Timestamp]("created_at") ==
      java.sql.Timestamp.valueOf("2026-08-03 11:22:33"))
  }

  test("pipeline emits the reference event schema (models/event.go:7-20)") {
    val df = LogParser.pipeline(spark.read.text(ssh.filename), ssh, "n", detectedAt)
    assert(df.columns.toSeq == Seq("created_at", "detected_at", "node_name",
      "address", "country_code", "country_name", "sensor", "rule", "payload",
      "reported_at"))
  }

  test("ingest columns: node_name/sensor/payload/detected_at (P9)") {
    val r = run(ssh).head
    assert(r.getAs[String]("node_name") == "testnode")
    assert(r.getAs[String]("sensor") == "ssh")
    assert(r.getAs[java.sql.Timestamp]("detected_at") == detectedAt.get)
    assert(r.getAs[String]("payload").contains("sshd["))
    assert(r.getAs[java.sql.Timestamp]("reported_at") == null)
  }

  test("malformed datetime side output is empty for clean fixtures (ST7)") {
    val m = LogParser.malformedDatetimes(spark.read.text(ssh.filename), ssh, currYear = 2026)
    assert(m.count() == 0)
  }

  test("case-insensitive parser regex ((?i) parity, P2)") {
    import spark.implicits._
    val lines = Seq("Aug  3 11:22:33 h SSHD[1]: Authentication failed for x 1.2.3.4 port 9").toDF("value")
    val out = LogParser.pipeline(lines, ssh, "n", detectedAt, currYear = 2026).collect()
    assert(out.length == 1) // parser matches case-insensitively
    assert(out.head.getAs[String]("rule") == "auth-failure") // rules stay case-sensitive
  }

  test("rules are case-sensitive (core/rule.go parity)") {
    import spark.implicits._
    val lines = Seq("Aug  3 11:22:33 h sshd[1]: AUTHENTICATION FAILED for x 1.2.3.4 port 9").toDF("value")
    val out = LogParser.pipeline(lines, ssh, "n", detectedAt, currYear = 2026).collect()
    assert(out.isEmpty) // parses, but no case-sensitive rule matches
  }

  /** The reference's http rules, in order (FIXTURES A.2,
    * config.example.yml:50-96); the fixture config keeps four of them. */
  val referenceHttpRules = Seq(
    RuleConf("Axis SSI RCE", "request", ".+/incl/image_test\\.shtml.*"),
    RuleConf("CVE-2017-9841", "request", ".+Util/PHP/eval-stdin\\.php"),
    RuleConf("ThinkPHP RCE", "request", ".+invokefunction.+call_user_func_array.*"),
    RuleConf("WP-File-Manager RCE", "request",
      ".+wp-file-manager/lib/php/connector\\.minimal\\.php.*"),
    RuleConf("XDebug", "request", ".+XDEBUG_SESSION_START=.+"),
    RuleConf("php_files_scan", "request", ".+\\.php.*"),
    RuleConf("not_a_browser", "user_agent", "(python|curl|wget)"))
  lazy val referenceHttp = http.copy(rules = referenceHttpRules)

  def fixtureLines(name: String): Seq[String] = {
    val src = scala.io.Source.fromFile(fixture(name))
    try src.getLines().toList finally src.close()
  }

  test("findForm: find on the rewritten rule pattern equals find on the original") {
    val rewritten = (ssh.rules ++ referenceHttpRules).map(_.expression)
      .filterNot(_ == "(python|curl|wget)")
    val kept = Seq(".+?x", ".++x", "\\.+", "\\Q.*", "(?s).+x", "a|.*", "(python|curl|wget)")
    assert(rewritten.size == 8)
    rewritten.foreach(p => assert(LogParser.findForm(p) != p, s"not rewritten: $p"))
    kept.foreach(p => assert(LogParser.findForm(p) == p))
    assert(LogParser.findForm(".+XDEBUG_SESSION_START=.+") == ".XDEBUG_SESSION_START=.")
    assert(LogParser.findForm("(Illegal|Invalid) user .+") == "(Illegal|Invalid) user .")
    assert(LogParser.findForm(".+\\.php.*") == ".\\.php")
    // an escaped backslash, then a bare dot: the trailing .* goes
    assert(LogParser.findForm("\\\\.*") == "\\\\")

    // each core a rule looks for, between affixes that include the line
    // terminators `.` does not match
    val cores = Seq("x", "Authentication failed for ", "Invalid user ",
      "/incl/image_test.shtml", "Util/PHP/eval-stdin.php",
      "invokefunction&call_user_func_array", "invokefunctioncall_user_func_array",
      "wp-file-manager/lib/php/connector.minimal.php", "XDEBUG_SESSION_START=",
      ".php", "python", "\\")
    val affixes = Seq("", "a", "\r", "\u0085", "\u2028", "a\r", "\ra", "\\")
    val subjects = fixtureLines("auth.log") ++ fixtureLines("access.log") ++
      (for (c <- cores; a <- affixes; b <- affixes) yield a + c + b) :+ ""
    for (p <- rewritten ++ kept :+ "\\\\.*") {
      val (orig, form) = (Pattern.compile(p), Pattern.compile(LogParser.findForm(p)))
      val found = subjects.map(s => orig.matcher(s).find())
      subjects.zip(found).foreach { case (s, f) =>
        assert(form.matcher(s).find() == f,
          s"pattern $p (as ${LogParser.findForm(p)}) on ${s.map(_.toInt)}")
      }
      // the subjects exercise both outcomes of every rewritten pattern
      if (rewritten.contains(p)) assert(found.contains(true) && found.contains(false), p)
    }
  }

  test("one pass: each rule's regex appears once in the optimized plan, no rule filter") {
    for (s <- Seq(ssh, referenceHttp)) {
      val plan = LogParser.pipeline(spark.read.text(s.filename), s, "n", detectedAt,
        currYear = 2026).queryExecution.optimizedPlan
      val likes = plan.flatMap(_.expressions.flatMap(_.collect {
        case r: RLike => r.right.eval().toString
      }))
      s.rules.foreach { r =>
        assert(likes.count(_ == LogParser.findForm(r.expression)) == 1,
          s"${r.name}: $likes")
      }
      assert(!likes.exists(_.contains("(?:")), s"an alternation of rules remains: $likes")
      assert(plan.collect { case f: Filter => f.condition }
        .forall(_.find(_.isInstanceOf[RLike]).isEmpty), plan)
    }
  }

  /** The classification as it was before the one-pass form: a filter on
    * the alternation of each token's rules, then the ordered chain, both
    * on the rules as written. */
  def twoPass(lines: DataFrame, s: SensorConf): DataFrame = {
    val anyRule = s.rules.groupBy(_.token).toSeq.sortBy(_._1).map { case (token, rs) =>
      col(token).rlike(rs.map(r => s"(?:${r.expression})").mkString("|"))
    }.reduce(_ || _)
    val chain = s.rules.foldLeft(lit(null).cast("string")) { (acc, r) =>
      coalesce(acc, when(col(r.token).rlike(r.expression), lit(r.name)))
    }
    LogParser.tokenize(lines, s.parser, 2026).filter(anyRule).withColumn("rule", chain)
      .select(col("value").as("payload"), col("address"), col("rule"),
        LogParser.datetimeColumn(s.parser).as("created_at"))
  }

  test("one pass: pipeline classifies as the two-pass form did, in rule order") {
    import spark.implicits._
    def line(req: String, agent: String) =
      s"""192.0.2.50 - - [03/Aug/2026:11:22:40 +0000] "$req" 200 1 "-" "$agent""""
    val httpLines = fixtureLines("access.log") ++ Seq(
      line("GET /incl/image_test.shtml?x=1 HTTP/1.1", "Mozilla/5.0"),
      line("GET /index.php?s=/x/invokefunction&function=call_user_func_array HTTP/1.1", "Mozilla/5.0"),
      line("POST /wp-file-manager/lib/php/connector.minimal.php HTTP/1.1", "wget/1.21"),
      line(".php", "curl/8"),                  // no char before .php: not_a_browser
      line("GET /a.php\r HTTP/1.1", "Mozilla/5.0"),
      line("\u2028.php", "Mozilla/5.0"),        // only a terminator before .php
      line("GET /?XDEBUG_SESSION_START=", "Mozilla/5.0"), // nothing after =
      line("GET /?XDEBUG_SESSION_START=\u0085", "Mozilla/5.0"))
    for ((s, lines) <- Seq(ssh -> fixtureLines("auth.log"), referenceHttp -> httpLines)) {
      val df = lines.toDF("value")
      val got = LogParser.pipeline(df, s, "n", detectedAt, currYear = 2026)
        .select("payload", "address", "rule", "created_at").collect().sortBy(_.getString(0))
      val want = twoPass(df, s).collect().sortBy(_.getString(0))
      assert(got.nonEmpty)
      assert(got.toSeq == want.toSeq)
    }
    val byAddr = LogParser.pipeline(spark.read.text(http.filename), referenceHttp, "n",
      detectedAt, currYear = 2026).collect()
      .map(r => r.getAs[String]("address") -> r.getAs[String]("rule")).toMap
    assert(byAddr("203.0.113.7") == "CVE-2017-9841")  // not php_files_scan
    assert(byAddr("198.51.100.23") == "XDebug")       // not php_files_scan / not_a_browser
  }
}
