package graft.enrich

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec
import graft.streaming.Ingest

class GeoIpSpec extends SparkSpec {

  lazy val geo = GeoIp.fromCsv(spark, fixture("geo.csv"))

  test("point lookups hit the right range (J1)") {
    import spark.implicits._
    val events = Seq("203.0.113.7", "198.51.100.23", "192.0.2.10").toDF("address")
    val got = GeoIp.enrich(events, geo)
      .select("address", "country_code", "country_name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      ("203.0.113.7", "US", "United States"),
      ("198.51.100.23", "NL", "Netherlands"),
      ("192.0.2.10", "CN", "China")))
  }

  test("gap and invalid addresses stay NULL (left-outer parity)") {
    import spark.implicits._
    val events = Seq("8.8.8.8", "not-an-ip", "203.0.114.1").toDF("address")
    val got = GeoIp.enrich(events, geo).select("country_code").collect()
    assert(got.forall(_.isNullAt(0)))
    assert(got.length == 3) // no rows lost
  }

  test("range spanning multiple /16 buckets still matches once") {
    import spark.implicits._
    // 10.0.0.0 - 10.3.255.255 spans 4 /16 buckets
    val wide = Seq((167772160L, 168034303L, "XX", "Wide")).toDF(
      "start_ip_num", "end_ip_num", "country_code", "country_name")
    val events = Seq("10.0.0.1", "10.3.255.254", "10.4.0.1").toDF("address")
    val got = GeoIp.enrich(events, wide)
      .select("address", "country_code")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(
      ("10.0.0.1", "XX"), ("10.3.255.254", "XX"), ("10.4.0.1", null)))
  }

  test("range index lookup: no join, no broadcast exchange (scale contract)") {
    import spark.implicits._
    val events = Seq("10.0.0.1").toDF("address")
    val qe = GeoIp.enrich(events, geo).queryExecution
    assert(qe.optimizedPlan.find(_.isInstanceOf[Join]).isEmpty, qe.optimizedPlan)
    val plan = qe.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  /** Ranges as (start, end, code) rows; names repeat the code. */
  private def ranges(rows: (java.lang.Long, java.lang.Long, String)*) = {
    import spark.implicits._
    rows.map { case (s, e, c) => (s, e, c, c) }
      .toDF("start_ip_num", "end_ip_num", "country_code", "country_name")
  }

  /** Country of each numeric address, in input order. */
  private def lookup(g: org.apache.spark.sql.DataFrame, ips: Long*): Seq[String] = {
    import spark.implicits._
    val events = ips.map(graft.functions.IpUtil.longToIpv4(_).toString)
      .zipWithIndex.toDF("address", "i")
    GeoIp.enrich(events, g).orderBy("i").select("country_code")
      .collect().map(_.getString(0)).toSeq
  }

  test("range bounds are inclusive: start and end match, start-1 and end+1 do not") {
    val g = ranges((1000L, 2000L, "AA"), (2001L, 3000L, "BB"), (5000L, 5000L, "CC"))
    assert(lookup(g, 999, 1000, 2000, 2001, 3000, 3001, 4999, 5000, 5001) ==
      Seq(null, "AA", "AA", "BB", "BB", null, null, "CC", null))
  }

  test("a NULL-bound row and an inverted row never match") {
    val g = ranges((null, 600L, "N1"), (700L, null, "N2"), (900L, 800L, "IN"),
      (850L, 860L, "OK"))
    assert(lookup(g, 600, 700, 800, 855, 900) == Seq(null, null, null, "OK", null))
  }

  test("overlapping ranges are rejected, naming the first overlapping pair") {
    val g = ranges((100L, 200L, "AA"), (300L, 400L, "CC"), (150L, 250L, "BB"))
    val e = intercept[IllegalArgumentException](lookup(g, 120))
    assert(e.getMessage.contains("geo ranges overlap: [100, 200] AA and [150, 250] BB"),
      e.getMessage)
  }

  test("an empty geo table leaves every country NULL and keeps every row") {
    assert(lookup(ranges(), 1, 2, 3) == Seq(null, null, null))
  }

  private lazy val conf = graft.config.GraftConfig.load(fixture("config.yml"))

  /** Drain one geo-enriched ssh sensor stream over a fresh two-line log. */
  private def drain(g: org.apache.spark.sql.DataFrame) = {
    val dir = Files.createTempDirectory("graft-geo-stream")
    val log = dir.resolve("auth.log")
    Files.write(log, Seq(
      "Aug  3 11:22:33 host1 sshd[1]: Authentication failed for root 203.0.113.7 port 1",
      "Aug  3 11:25:00 host1 sshd[3]: Invalid user admin 198.51.100.23 port 3", "")
      .mkString("\n").getBytes)
    val sensor = conf.sensors.find(_.name == "ssh").get.copy(filename = log.toString)
    val events = dir.resolve("events").toString
    val q = Ingest.sensorQuery(spark, sensor, "n", events, dir.resolve("ck").toString,
      Some(g), Trigger.AvailableNow())
    q.awaitTermination(120000)
    (q, spark.read.parquet(events))
  }

  test("one index build per geo DataFrame, shared by every sensor stream") {
    val g = GeoIp.fromCsv(spark, fixture("geo.csv"))
    val before = GeoIp.buildCount
    val (_, e1) = drain(g)
    val (_, e2) = drain(g)
    assert(GeoIp.buildCount == before + 1, "second stream must reuse the index")
    assert(e1.select("country_code").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("NL", "US"))
    assert(e2.count() == 2)
    drain(GeoIp.fromCsv(spark, fixture("geo.csv")))
    assert(GeoIp.buildCount == before + 2, "a new geo DataFrame rereads its source")
  }

  test("a micro-batch of a geo-enriched sensor stream runs exactly one Spark job") {
    val g = GeoIp.fromCsv(spark, fixture("geo.csv"))
    val jobs = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.add((j.properties.getProperty("spark.jobGroup.id"),
          j.properties.getProperty("streaming.sql.batchId")))
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (q, events) = drain(g)
      ListenerBusDrain(spark.sparkContext)
      val perBatch = jobs.asScala.filter(_._1 == q.runId.toString).groupBy(_._2)
      assert(perBatch.keySet == Set("0"), perBatch)
      assert(perBatch("0").size == 1, s"batch 0 ran ${perBatch("0").size} jobs")
      assert(events.count() == 2)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("backfill flags changed countries (S9/P10)") {
    import spark.implicits._
    val events = Seq(
      ("203.0.113.7", "XX", "Wrong"),   // should change to US
      ("198.51.100.23", "NL", "Netherlands")) // unchanged
      .toDF("address", "country_code", "country_name")
    val (refreshed, changed) = GeoIp.backfill(events, geo)
    val n = refreshed.filter(changed).count()
    assert(n == 1)
    val us = refreshed.filter(col("address") === "203.0.113.7").head()
    assert(us.getAs[String]("country_code") == "US")
  }
}
