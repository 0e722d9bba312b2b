package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded input generator for the service workloads.
  *
  * Two sensors in the FIXTURES.md A.1 (ssh/syslog) and A.2 (nginx combined)
  * formats. Every line is drawn from a fixed template mix (rule-matching,
  * parse-only, garbage, malformed-datetime) and a Zipf-skewed address pool,
  * so the generator knows, line by line, which (sensor, rule, address) event
  * the service must commit. A synthetic GeoLite2-scale range table covers the
  * address space with ~10% of it left as gaps (unmatched addresses).
  *
  * Everything derives from the seed through `SplittableRandom`, whose output
  * is specified bit for bit, so a seed yields byte-identical files on any JVM.
  */
object Gen {

  /** The service config: the reference's two sensors (FIXTURES A.1/A.2),
    * with the seven A.2 http rules in their reference order. `period` is the
    * 1 s sensor period the live workload runs at. */
  def configYaml(sshPath: String, httpPath: String): String =
    s"""name: 'benchnode'
       |sensors:
       |- name: ssh
       |  filename: '$sshPath'
       |  period: 1
       |  parser:
       |    expression: '^(.+)\\s+.+\\s+sshd\\[\\d+\\]: (.+)\\s+(.+)\\s+port\\s+\\d+$$'
       |    datetime_format: '2006 Jan _2 15:04:05'
       |    tokens: {datetime: 1, message: 2, address: 3}
       |  rules:
       |  - {name: 'auth-failure', token: message, expression: 'Authentication (failure|error|failed) for .+'}
       |  - {name: 'user-enumeration', token: message, expression: '(Illegal|Invalid) user .+'}
       |- name: http
       |  filename: '$httpPath'
       |  period: 1
       |  parser:
       |    expression: '^([^\\s]+).+\\[(.+)\\]\\s+"([^"]+)"\\s+(\\d+)\\s+(\\d+)\\s+"([^"]+)"\\s+"([^"]+)"$$'
       |    datetime_format: '02/Jan/2006:15:04:05 -0700'
       |    tokens: {address: 1, datetime: 2, request: 3, response_code: 4, response_size: 5, user_agent: 7}
       |  rules:
       |  - {name: 'Axis SSI RCE', token: request, expression: '.+/incl/image_test\\.shtml.*'}
       |  - {name: 'CVE-2017-9841', token: request, expression: '.+Util/PHP/eval-stdin\\.php'}
       |  - {name: 'ThinkPHP RCE', token: request, expression: '.+invokefunction.+call_user_func_array.*'}
       |  - {name: 'WP-File-Manager RCE', token: request, expression: '.+wp-file-manager/lib/php/connector\\.minimal\\.php.*'}
       |  - {name: 'XDebug', token: request, expression: '.+XDEBUG_SESSION_START=.+'}
       |  - {name: 'php_files_scan', token: request, expression: '.+\\.php.*'}
       |  - {name: 'not_a_browser', token: user_agent, expression: '(python|curl|wget)'}
       |""".stripMargin

  val Sensors: Seq[String] = Seq("ssh", "http")

  /** One line shape. `rule` is the event the line must produce (None: no
    * event); `malformed` marks a rule-matching line whose datetime token
    * cannot be parsed (the event is still emitted, with a NULL created_at). */
  final case class Template(rule: Option[String], weight: Double,
      malformed: Boolean, render: (String, Long, Long, Int) => String)

  private val Months = "Aug"

  private def two(n: Long): String = if (n < 10) "0" + n else n.toString

  /** Clock fields for line `i`: 50 lines per log second across 28 days. */
  private def clock(i: Long): (Long, String) = {
    val sec = i / 50
    val day = 1 + (sec / 86400) % 28
    (day, s"${two(sec / 3600 % 24)}:${two(sec / 60 % 60)}:${two(sec % 60)}")
  }

  private def sshLine(message: String, badDay: Boolean)(
      addr: String, i: Long, num: Long, v: Int): String = {
    val (day, hms) = clock(i)
    val d = if (badDay) "33" else if (day < 10) " " + day else day.toString
    s"$Months $d $hms host${v % 4} sshd[${1000 + v}]: $message $addr port $num"
  }

  private def sshGarbage(addr: String, i: Long, num: Long, v: Int): String = {
    val (day, hms) = clock(i)
    s"$Months ${if (day < 10) " " + day else day} $hms host${v % 4} kernel: [$num.$v] eth0 link up from $addr"
  }

  private val sshMessages = Seq(
    "Authentication failed for root from", "Authentication failure for admin from",
    "Authentication error for oracle from")
  private val enumMessages = Seq("Invalid user admin from", "Illegal user test from")

  val SshTemplates: IndexedSeq[Template] = IndexedSeq(
    Template(Some("auth-failure"), 0.45, false,
      (a, i, n, v) => sshLine(sshMessages(v % 3), false)(a, i, n, v)),
    Template(Some("user-enumeration"), 0.20, false,
      (a, i, n, v) => sshLine(enumMessages(v % 2), false)(a, i, n, v)),
    Template(None, 0.25, false,
      sshLine("Accepted publickey for deploy from", false)),
    Template(None, 0.07, false, sshGarbage),
    Template(Some("auth-failure"), 0.03, true,
      (a, i, n, v) => sshLine(sshMessages(v % 3), true)(a, i, n, v)))

  private def httpLine(request: String, uas: Seq[String], badDay: Boolean)(
      addr: String, i: Long, num: Long, v: Int): String = {
    val (day, hms) = clock(i)
    val d = if (badDay) "35" else two(day)
    val code = if (v % 3 == 0) 404 else 200
    s"""$addr - - [$d/Aug/2026:$hms +0000] "$request" $code $num "-" "${uas(v % uas.size)}""""
  }

  private val browsers = Seq("Mozilla/5.0 (X11; Linux x86_64)", "Mozilla/5.0 (Windows NT 10.0)")
  private val anyUa = browsers :+ "curl/7.88"
  private val bots = Seq("python-requests/2.31", "curl/8.4.0", "wget/1.21")

  val HttpTemplates: IndexedSeq[Template] = IndexedSeq(
    Template(Some("Axis SSI RCE"), 0.03, false, httpLine(
      "GET /incl/image_test.shtml?camnbr=%22%3c%21--%23exec%20cmd=%22id%22--%3e HTTP/1.1", anyUa, false)),
    Template(Some("CVE-2017-9841"), 0.10, false, httpLine(
      "POST /vendor/phpunit/phpunit/src/Util/PHP/eval-stdin.php HTTP/1.1", anyUa, false)),
    Template(Some("ThinkPHP RCE"), 0.05, false, httpLine(
      "GET /index.php?s=/index/think/app/invokefunction&function=call_user_func_array HTTP/1.1",
      anyUa, false)),
    Template(Some("WP-File-Manager RCE"), 0.05, false, httpLine(
      "POST /wp-content/plugins/wp-file-manager/lib/php/connector.minimal.php HTTP/1.1", anyUa, false)),
    Template(Some("XDebug"), 0.07, false, httpLine(
      "GET /index.php?XDEBUG_SESSION_START=phpstorm HTTP/1.1", anyUa, false)),
    Template(Some("php_files_scan"), 0.20, false, httpLine(
      "GET /wp-login.php HTTP/1.1", anyUa, false)),
    Template(Some("not_a_browser"), 0.10, false, httpLine(
      "GET /robots.txt HTTP/1.1", bots, false)),
    Template(None, 0.30, false, httpLine("GET /index.html HTTP/1.1", browsers, false)),
    Template(None, 0.07, false, (a, i, n, v) => {
      val (day, hms) = clock(i)
      s"$a - - [${two(day)}/Aug/2026:$hms +0000] GET /status $n"
    }),
    Template(Some("CVE-2017-9841"), 0.03, true, httpLine(
      "POST /vendor/phpunit/phpunit/src/Util/PHP/eval-stdin.php HTTP/1.1", anyUa, true)))

  def templates(sensor: String): IndexedSeq[Template] =
    if (sensor == "ssh") SshTemplates else HttpTemplates

  def rules(sensor: String): IndexedSeq[String] =
    templates(sensor).flatMap(_.rule).distinct

  private def cdf(ws: Seq[Double]): Array[Double] = {
    val c = ws.scanLeft(0.0)(_ + _).tail.toArray
    c.map(_ / c.last)
  }

  private def pick(c: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(c, u)
    math.min(if (i >= 0) i + 1 else -i - 1, c.length - 1)
  }

  private val SpaceLo = 0x01000000L
  private val SpaceHi = 0xE0000000L

  def dotted(ip: Long): String =
    s"${ip >>> 24 & 255}.${ip >>> 16 & 255}.${ip >>> 8 & 255}.${ip & 255}"

  /** Distinct addresses, drawn uniformly over 1.0.0.0-223.255.255.255;
    * rank r is drawn with Zipf(s) probability. */
  final class AddressPool(seed: Long, val size: Int, s: Double) {
    val ips: Array[Long] = {
      val rnd = new SplittableRandom(seed ^ 0x5eed0001L)
      val seen = new java.util.HashSet[java.lang.Long]()
      val out = new Array[Long](size)
      var n = 0
      while (n < size) {
        val ip = SpaceLo + rnd.nextLong(SpaceHi - SpaceLo)
        if (seen.add(ip)) { out(n) = ip; n += 1 }
      }
      out
    }
    val strs: Array[String] = ips.map(dotted)
    private val zipf = cdf((1 to size).map(r => 1.0 / math.pow(r, s)))
    def draw(rnd: SplittableRandom): Int = pick(zipf, rnd.nextDouble())
  }

  /** Synthetic GeoLite2-scale range table: the address space is cut into
    * `slots` contiguous ranges at seeded points; each range is a gap with
    * probability `gapShare`, else it maps to one of [[Countries]]. */
  final class GeoTable(seed: Long, slots: Int, gapShare: Double) {
    val (starts, ends, country) = {
      val rnd = new SplittableRandom(seed ^ 0x5eed0002L)
      val cuts = new java.util.TreeSet[java.lang.Long]()
      while (cuts.size < slots - 1) cuts.add(SpaceLo + 1 + rnd.nextLong(SpaceHi - SpaceLo - 1))
      val bounds = (SpaceLo +: cuts.toArray.map(_.asInstanceOf[java.lang.Long].longValue)) :+ SpaceHi
      val s = bounds.init
      val e = bounds.tail.map(_ - 1)
      val c = Array.fill(s.length)(
        if (rnd.nextDouble() < gapShare) -1 else rnd.nextInt(Countries.size))
      (s, e, c)
    }
    def ranges: Int = country.count(_ >= 0)

    /** Index into [[Countries]] for `ip`, or -1 when no range covers it. */
    def lookup(ip: Long): Int = {
      val i = java.util.Arrays.binarySearch(starts, ip)
      val k = if (i >= 0) i else -i - 2
      if (k < 0 || ip > ends(k)) -1 else country(k)
    }

    def writeCsv(path: File): Unit = {
      val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 16)
      try {
        out.write("start_ip_num,end_ip_num,country_code,country_name\n".getBytes(UTF_8))
        var i = 0
        while (i < starts.length) {
          if (country(i) >= 0) {
            val (code, name) = Countries(country(i))
            out.write(s"${starts(i)},${ends(i)},$code,$name\n".getBytes(UTF_8))
          }
          i += 1
        }
      } finally out.close()
    }
  }

  val Countries: IndexedSeq[(String, String)] = IndexedSeq(
    "US" -> "United States", "CN" -> "China", "NL" -> "Netherlands", "DE" -> "Germany",
    "RU" -> "Russia", "BR" -> "Brazil", "IN" -> "India", "FR" -> "France",
    "GB" -> "United Kingdom", "JP" -> "Japan", "KR" -> "South Korea", "VN" -> "Vietnam",
    "ID" -> "Indonesia", "SG" -> "Singapore", "HK" -> "Hong Kong", "TW" -> "Taiwan",
    "UA" -> "Ukraine", "IR" -> "Iran", "TR" -> "Turkey", "PL" -> "Poland",
    "IT" -> "Italy", "ES" -> "Spain", "CA" -> "Canada", "AU" -> "Australia",
    "MX" -> "Mexico", "AR" -> "Argentina", "ZA" -> "South Africa", "EG" -> "Egypt",
    "NG" -> "Nigeria", "TH" -> "Thailand", "PK" -> "Pakistan", "BD" -> "Bangladesh",
    "SE" -> "Sweden", "NO" -> "Norway", "FI" -> "Finland", "RO" -> "Romania",
    "CZ" -> "Czechia", "BG" -> "Bulgaria", "SC" -> "Seychelles", "PA" -> "Panama")

  /** Expected events: counts per (sensor, rule, address index). */
  final class Expected(pool: AddressPool) {
    private val counts = Sensors.map(s =>
      s -> Array.ofDim[Int](rules(s).size, pool.size)).toMap
    def add(sensor: String, rule: String, addr: Int): Unit =
      counts(sensor)(rules(sensor).indexOf(rule))(addr) += 1

    /** (sensor, rule, address) -> count, non-zero entries only. */
    def multiset: Map[(String, String, String), Long] = (for {
      s <- Sensors; (r, ri) <- rules(s).zipWithIndex; a <- 0 until pool.size
      if counts(s)(ri)(a) > 0
    } yield (s, r, pool.strs(a)) -> counts(s)(ri)(a).toLong).toMap

    def events: Long = counts.values.map(_.map(_.map(_.toLong).sum).sum).sum
  }

  /** A sensor's line stream: line `i` of a seed is always the same text
    * for the same `num` (the value carried in the ssh port / nginx size). */
  final class LineStream(sensor: String, seed: Long, pool: AddressPool) {
    private val rnd = new SplittableRandom(seed ^ sensor.hashCode.toLong * 0x9E3779B97F4A7C15L)
    private val tpl = templates(sensor)
    private val c = cdf(tpl.map(_.weight))
    private var i = 0L
    var malformed = 0L

    /** Next line; records its event (if any) into `exp`. Returns
      * (text, produces-an-event). */
    def next(num: Long, exp: Expected): (String, Boolean) = {
      val t = tpl(pick(c, rnd.nextDouble()))
      val a = pool.draw(rnd)
      val v = rnd.nextInt(1 << 16)
      val text = t.render(pool.strs(a), i, num, v)
      i += 1
      t.rule.foreach(exp.add(sensor, _, a))
      if (t.malformed) malformed += 1
      (text, t.rule.isDefined)
    }
  }

  /** Write `n` lines of a sensor's backlog file; the port/size field
    * carries the line number. */
  def writeBacklog(path: File, sensor: String, seed: Long, n: Int,
      pool: AddressPool, exp: Expected): Long = {
    val ls = new LineStream(sensor, seed, pool)
    val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 16)
    try {
      var k = 0
      while (k < n) {
        out.write(ls.next(k.toLong, exp)._1.getBytes(UTF_8)); out.write('\n')
        k += 1
      }
    } finally out.close()
    ls.malformed
  }
}
