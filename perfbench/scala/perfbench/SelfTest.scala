package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.config.GraftConfig
import graft.parse.LogParser

/** Tests of the benchmark's own code (`python3 perfbench/run.py --self-test`):
  *  - a seed gives byte-identical inputs, and another seed different ones;
  *  - the generator's expected events equal a `LogParser.pipeline` run over
  *    a sample, and its malformed-datetime count equals
  *    `LogParser.malformedDatetimes`;
  *  - span self time and interval-union arithmetic. */
object SelfTest {
  private var failures = 0
  private def expect(ok: Boolean, what: String): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  private def inputs(dir: File, seed: Long, lines: Int): (Map[String, File], Gen.Expected, Long) = {
    dir.mkdirs()
    val pool = new Gen.AddressPool(seed, 2000, Service.ZipfS)
    val exp = new Gen.Expected(pool)
    val files = Gen.Sensors.map(s => s -> new File(dir, s"$s.log")).toMap
    val mal = Gen.Sensors.map(s => Gen.writeBacklog(files(s), s, seed, lines, pool, exp)).sum
    new Gen.GeoTable(seed, 5000, Service.GeoGapShare).writeCsv(new File(dir, "geo.csv"))
    (files, exp, mal)
  }

  private def bytes(dir: File): Seq[Seq[Byte]] =
    Seq("ssh.log", "http.log", "geo.csv").map(n => Files.readAllBytes(new File(dir, n).toPath).toSeq)

  def run(work: File): Int = {
    // determinism
    val a = inputs(new File(work, "a"), 7, 3000)
    inputs(new File(work, "b"), 7, 3000)
    inputs(new File(work, "c"), 8, 3000)
    expect(bytes(new File(work, "a")) == bytes(new File(work, "b")), "same seed: byte-identical inputs")
    val (da, dc) = (bytes(new File(work, "a")), bytes(new File(work, "c")))
    expect(da.zip(dc).forall { case (x, y) => x != y }, "different seed: every input differs")

    // span arithmetic
    val t = new Trace
    val p = t.span("parent", 0, 100)
    t.span("a", 10, 30, p); t.span("b", 20, 50, p); t.span("c", 90, 120, p)
    val g = t.span("grandchild", 12, 14, 1)
    expect(t.selfTime(p) == 50.0, s"self time = duration - union of children (${t.selfTime(p)})")
    expect(t.selfTime(1) == 18.0 && t.selfTime(g) == 2.0, "self time of nested spans")
    expect(Stats.unionLength(Seq((0.0, 1.0), (5.0, 6.0), (0.5, 2.0))) == 3.0, "interval union")
    expect(Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.5) == 2.0 &&
      Stats.quantile((1 to 10).map(_.toDouble), 0.9) == 9.0, "nearest-rank quantiles")

    // expected events vs the parser
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2").getOrCreate()
    try {
      val (files, exp, mal) = a
      val c = GraftConfig.fromYaml(Gen.configYaml(files("ssh").getPath, files("http").getPath))
      val got = c.enabledSensors.map { s =>
        LogParser.pipeline(spark.read.text(files(s.name).getPath), s, c.nodeName)
          .groupBy("sensor", "rule", "address").count().collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
      }.reduce(_ ++ _)
      val diff = (got.keySet ++ exp.multiset.keySet).filter(k => got.get(k) != exp.multiset.get(k))
      expect(diff.isEmpty, s"generator expectation = LogParser.pipeline " +
        s"(${exp.events} events, ${got.values.sum} parsed; differing keys e.g. " +
        diff.take(4).map(k => s"$k: ${exp.multiset.get(k)} vs ${got.get(k)}").mkString(", ") + ")")
      val gotMal = c.enabledSensors.map(s =>
        LogParser.malformedDatetimes(spark.read.text(files(s.name).getPath), s).count()).sum
      expect(gotMal == mal && mal > 0, s"malformed datetimes = LogParser.malformedDatetimes ($mal, $gotMal)")
      val rules = c.enabledSensors.map(s => s.name -> s.rules.map(_.name)).toMap
      expect(Gen.Sensors.forall(s => Gen.rules(s).toSet == rules(s).toSet &&
        rules(s).forall(r => exp.multiset.keys.exists(k => k._1 == s && k._2 == r))),
        "every configured rule is generated")
    } finally spark.stop()
    println(if (failures == 0) "self-test passed" else s"self-test: $failures failure(s)")
    if (failures == 0) 0 else 1
  }
}
