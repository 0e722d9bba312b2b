package graft.parse

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.config.{ParserConf, RuleConf, SensorConf}
import graft.timefmt.GoTimeFormat

/** The parse/classify hot path (reference: core/sensor.go:80-110,
  * core/parser.go:64-80, core/rule.go:23-31), re-expressed as narrow
  * DataFrame transformations: everything here fuses into a single
  * whole-stage-codegen pipeline with zero shuffles — one pass over the raw
  * lines regardless of sensor/rule count. Regex patterns are literals, so
  * Catalyst compiles each `Pattern` once per task.
  *
  * Per line, the parser regex runs once ([[tokenize]]) and each rule regex
  * at most once, in order, until one matches ([[classify]]); both sit
  * behind a Generate fence so no optimizer rewrite re-evaluates them. Rules
  * run in their [[findForm]], which drops the leading/trailing `.+`/`.*`
  * that make Java's backtracking `find` quadratic in the token length (the
  * reference evaluates them with Go's linear-time RE2).
  */
object LogParser {

  /** The raw-line input column (what `spark.read.text` produces). */
  val LineCol = "value"

  /** P1/P2: per-sensor regex tokenizer. A line that doesn't match the parser
    * expression is dropped (reference: core/parser.go:65 — FindStringSubmatch
    * returns nil ⇒ no event). Produces one StringType column per configured
    * token; schema is fixed at plan-build time from config.
    *
    * One regex pass per line via the codegen'd [[graft.functions.RegexGroups]]
    * expression — stock `rlike` + N×`regexp_extract` would re-match the
    * (backtracking-heavy) parser pattern N+1 times per row.
    */
  def tokenize(lines: DataFrame, parser: ParserConf,
      currYear: Int = java.time.Year.now.getValue): DataFrame = {
    val groups = graft.functions.RegexFunctions
      .regex_groups(col(LineCol), parser.normalizedExpression)
    // explode(array(...)) is a deliberate optimizer fence: a Generate's
    // output can't be substituted into pushed-down predicates or collapsed
    // into downstream projections, so the (expensive) regex matches exactly
    // once per row — a plain column alias gets re-expanded once per token
    // plus once in the null filter (4 evals/row for the ssh parser).
    val withTokens = parser.tokens.toSeq.sortBy(_._2).foldLeft(
      lines.select(col("*"), explode(array(groups)).as("__groups"))
        .filter(col("__groups").isNotNull)) {
      case (df, (name, idx)) =>
        df.withColumn(name, coalesce(get(col("__groups"), lit(idx - 1)), lit("")))
    }.drop("__groups")
    // P7 year repair (core/parser.go:55-62,72-74): applied to the datetime
    // token only, when no year in [currYear-5, currYear] appears.
    if (parser.tokens.contains("datetime")) {
      val hasYear = col("datetime").rlike(GoTimeFormat.yearAlternation(currYear))
      withTokens.withColumn("datetime",
        when(hasYear, col("datetime"))
          .otherwise(concat(lit(s"$currYear "), col("datetime"))))
    } else withTokens
  }

  /** P4/P5: ordered first-match-wins rule classification
    * (core/sensor.go:88-106 — `break` after first match ⇒ ≤1 event/line).
    * Compiles to one lazily-evaluated CASE WHEN chain: codegen emits an
    * early-exit branch per rule, preserving the reference's short-circuit.
    * Rules are case-sensitive (core/rule.go:19) and run in their
    * [[findForm]]. Rows matching no rule get NULL.
    */
  def classifyColumn(rules: Seq[RuleConf]): Column =
    rules.foldLeft(lit(null).cast("string")) { (acc, r) =>
      coalesce(acc, when(col(r.token).rlike(findForm(r.expression)), lit(r.name)))
    }

  /** `df` plus a `rule` column (the first matching rule's name); rows that
    * match no rule are dropped. The chain runs once per row: as in
    * [[tokenize]], explode(array(...)) is an optimizer fence, so the null
    * filter reads the Generate's output instead of re-evaluating every
    * rule regex in a pushed-down predicate. */
  def classify(df: DataFrame, rules: Seq[RuleConf]): DataFrame =
    df.select(col("*"), explode(array(classifyColumn(rules))).as("rule"))
      .filter(col("rule").isNotNull)

  /** A rule pattern that `find` matches on exactly the strings the
    * original matches, in linear time. Under find semantics a leading
    * `.*` and a trailing `.*` match the empty string and can go, and a
    * leading or trailing `.+` only needs its one character next to the
    * rest: `.+X` finds a match iff `.X` does. Java's `find` tries every
    * start position and backtracks the greedy `.+` over the rest of the
    * token from each, so the original forms cost O(n²).
    *
    * Only a bare `.` (not escaped, not in a class) with a plain `*`/`+`
    * (no `?`, `+`, `*` or `{` after it) is rewritten. A pattern with `\Q`
    * (quoting), `(?` (flags, lookaround, non-capturing groups), `\G` or a
    * top-level `|` is returned as it is. */
  def findForm(pattern: String): String = bareDots(pattern).fold(pattern) { dots =>
    val n = pattern.length
    // X.* -> X, X.+ -> X.
    val p =
      if (n >= 2 && dots(n - 2) && "*+".contains(pattern(n - 1)))
        pattern.dropRight(if (pattern(n - 1) == '+') 1 else 2)
      else pattern
    // .*X -> X, .+X -> .X
    if (p.length >= 2 && p(0) == '.' && "*+".contains(p(1)) &&
        !p.lift(2).exists("?+*{".contains(_)))
      (if (p(1) == '+') "." else "") + p.drop(2)
    else p
  }

  /** The indices of the bare `.` atoms of `p`; None when [[findForm]]
    * must leave `p` as it is. */
  private def bareDots(p: String): Option[Set[Int]] = {
    val dots = Set.newBuilder[Int]
    var i = 0
    var depth = 0   // group nesting
    var inClass = 0 // character-class nesting
    while (i < p.length) {
      p(i) match {
        case '\\' =>
          if (p.lift(i + 1).exists("QG".contains(_))) return None
          i += (if (p.lift(i + 1).contains('c')) 2 else 1) // \cX: one more char
        case '[' => inClass += 1
        case ']' if inClass > 0 => inClass -= 1
        case _ if inClass > 0 =>
        case '(' =>
          if (p.lift(i + 1).contains('?')) return None
          depth += 1
        case ')' => depth -= 1
        case '|' if depth == 0 => return None
        case '.' => dots += i
        case _ =>
      }
      i += 1
    }
    Some(dots.result())
  }

  /** P6: parse the (year-repaired) datetime token with the sensor's Go
    * layout. `try_to_timestamp` nulls on failure — the reference emits the
    * event anyway with zero time and routes the error to a side channel
    * (core/sensor.go:98-101); [[malformedDatetimes]] is that side output. */
  def datetimeColumn(parser: ParserConf): Column = {
    val t = GoTimeFormat.translate(
      if (GoTimeFormat.hasYearField(parser.datetimeFormat)) parser.datetimeFormat
      else "2006 " + parser.datetimeFormat)
    val src =
      if (t.normalizeSpaces) regexp_replace(col("datetime"), " +", " ")
      else col("datetime")
    try_to_timestamp(src, lit(t.pattern))
  }

  /** Full per-sensor pipeline (reference §3.1 stages 1-3 + P9 column
    * injection): lines -> events with the reference's table schema
    * (models/event.go:7-20), tokenizing and classifying each line in one
    * pass. `detectedAt` is injectable for reproducible golden tests; None
    * means wall-clock `current_timestamp()` — in a stream, the micro-batch
    * timestamp, one value per batch. That value is read through
    * [[graft.functions.ConstantRef]] rather than written into the
    * generated code, so every batch of a stream runs the stage classes the
    * first batch compiled.
    */
  def pipeline(lines: DataFrame, sensor: SensorConf, nodeName: String,
      detectedAt: Option[java.sql.Timestamp] = None,
      currYear: Int = java.time.Year.now.getValue): DataFrame =
    classify(tokenize(lines, sensor.parser, currYear), sensor.rules)
      .withColumn("created_at", datetimeColumn(sensor.parser))
      .withColumn("detected_at", detectedAt.map(lit(_))
        .getOrElse(graft.functions.ConstantFunctions.constant_ref(current_timestamp())))
      .withColumn("node_name", lit(nodeName))
      .withColumn("sensor", lit(sensor.name))
      .withColumn("payload", col(LineCol))
      .withColumn("country_code", lit(null).cast("string"))
      .withColumn("country_name", lit(null).cast("string"))
      .withColumn("reported_at", lit(null).cast("timestamp"))
      .select("created_at", "detected_at", "node_name", "address",
        "country_code", "country_name", "sensor", "rule", "payload",
        "reported_at")

  /** ST7 side output: classified rows whose datetime failed to parse.
    * Routed to a quarantine sink instead of failing the stream. */
  def malformedDatetimes(lines: DataFrame, sensor: SensorConf,
      currYear: Int = java.time.Year.now.getValue): DataFrame =
    classify(tokenize(lines, sensor.parser, currYear), sensor.rules)
      .filter(datetimeColumn(sensor.parser).isNull)
      .select(col(LineCol).as("payload"), col("datetime"))
}
