package graft.streaming

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkSpec
import graft.config.GraftConfig
import graft.enrich.GeoIp

class StreamingSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  def writeLog(dir: String, name: String, lines: String*): Unit =
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)

  lazy val conf = GraftConfig.load(fixture("config.yml"))

  test("streaming ingest: parse+classify+geo-enrich, exactly-once across batches (S1-S5, ST1, ST6)") {
    val logDir = tmp("graft-logs")
    val eventsPath = tmp("graft-events") + "/events"
    val ckpt = tmp("graft-ckpt")
    val sensor = conf.sensors.find(_.name == "ssh").get.copy(filename = logDir)
    val geo = GeoIp.fromCsv(spark, fixture("geo.csv"))

    writeLog(logDir, "auth.1.log",
      "Aug  3 11:22:33 host1 sshd[1]: Authentication failed for root 203.0.113.7 port 1",
      "Aug  3 11:22:34 host1 sshd[2]: Accepted publickey for deploy 192.0.2.10 port 2",
      "garbage line")

    val q = Ingest.sensorQuery(spark, sensor, "testnode", eventsPath, ckpt,
      Some(geo), Trigger.AvailableNow())
    q.awaitTermination(120000)

    val batch1 = spark.read.parquet(eventsPath)
    assert(batch1.count() == 1) // only the auth-failure line produces an event
    val r = batch1.head()
    assert(r.getAs[String]("rule") == "auth-failure")
    assert(r.getAs[String]("country_code") == "US") // geo enrichment in-stream
    assert(r.getAs[String]("node_name") == "testnode")

    // second sweep: a new rotated file appears; only the new file is read
    writeLog(logDir, "auth.2.log",
      "Aug  3 11:25:00 host1 sshd[3]: Invalid user admin 198.51.100.23 port 3")
    val q2 = Ingest.sensorQuery(spark, sensor, "testnode", eventsPath, ckpt,
      Some(geo), Trigger.AvailableNow())
    q2.awaitTermination(120000)

    val all = spark.read.parquet(eventsPath)
    assert(all.count() == 2) // no re-ingest of file 1 (checkpoint restart, S3/S4)
    assert(all.filter(col("rule") === "user-enumeration").count() == 1)
  }

  test("tail-file source: append resume, partial lines, truncation reset (S1/S2)") {
    val dir = tmp("graft-tail")
    val file = Paths.get(dir, "auth.log")
    val ckpt = tmp("graft-tail-ckpt")
    val out = tmp("graft-tail-out") + "/rows"
    // parquet sink (checkpoint-recoverable, unlike memory): each run
    // drains whatever the tail source has past the recorded offset and
    // stops; assertions are on the ACCUMULATED content, so duplicates
    // would fail them as surely as losses.
    def run(): Seq[String] = {
      val q = spark.readStream.format("tail-file").load(file.toString)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      spark.read.parquet(out).collect().map(_.getString(0)).toSeq.sorted
    }
    Files.write(file, "l1\nl2\n".getBytes)
    assert(run() == Seq("l1", "l2"))
    // append to the SAME file: exactly the appended lines are added
    // (the checkpointed byte offset skips the already-read region —
    // the intra-file S1 case the directory source cannot serve)
    Files.write(file, "l3\nl4\n".getBytes, StandardOpenOption.APPEND)
    assert(run() == Seq("l1", "l2", "l3", "l4"))
    // a partial line (no terminator) stays out of the batch…
    Files.write(file, "half".getBytes, StandardOpenOption.APPEND)
    assert(run() == Seq("l1", "l2", "l3", "l4"))
    // …and surfaces once its newline lands, as ONE complete line
    Files.write(file, "-done\n".getBytes, StandardOpenOption.APPEND)
    assert(run() == Seq("half-done", "l1", "l2", "l3", "l4"))
    // truncation: size drops below the recorded offset -> reset to 0
    // (core/sensor.go:60-68 semantics), fresh content read exactly once
    Files.write(file, "fresh\n".getBytes,
      StandardOpenOption.TRUNCATE_EXISTING)
    assert(run() == Seq("fresh", "half-done", "l1", "l2", "l3", "l4"))
    // idle file, no growth -> empty batch, offset stable
    assert(run() == Seq("fresh", "half-done", "l1", "l2", "l3", "l4"))
  }

  test("tail-file source: rotation to a SAME-OR-LARGER file resets via fingerprint") {
    val dir = tmp("graft-tail-rot")
    val file = Paths.get(dir, "auth.log")
    val ckpt = tmp("graft-tail-rot-ckpt")
    val out = tmp("graft-tail-rot-out") + "/rows"
    def run(): Seq[String] = {
      val q = spark.readStream.format("tail-file").load(file.toString)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      spark.read.parquet(out).collect().map(_.getString(0)).toSeq.sorted
    }
    Files.write(file, "aa\nbb\n".getBytes) // 6 bytes, offset lands at 6
    assert(run() == Seq("aa", "bb"))
    // rotate: replace with DIFFERENT content at a LARGER size (15 > 6).
    // The size heuristic alone cannot see this (len > offset, the
    // reference's silent-miss case, core/sensor.go:60-68); the first-KB
    // content fingerprint must reset to byte 0 — without it the batch
    // would resume mid-line at byte 6 and emit torn garbage ("dd",
    // "eeee"), never "cccc".
    Files.write(file, "cccc\ndddd\neeee\n".getBytes,
      StandardOpenOption.TRUNCATE_EXISTING)
    assert(run() == Seq("aa", "bb", "cccc", "dddd", "eeee"))
    // rotation to the EXACT SAME size with different bytes: also caught
    Files.write(file, "ffff\ngggg\nhhhh\n".getBytes,
      StandardOpenOption.TRUNCATE_EXISTING)
    assert(run() ==
      Seq("aa", "bb", "cccc", "dddd", "eeee", "ffff", "gggg", "hhhh"))
    // appends after a fingerprint reset resume from the recorded offset
    // (no re-ingest: the generation only bumps on a real reset)
    Files.write(file, "ii\n".getBytes, StandardOpenOption.APPEND)
    assert(run() ==
      Seq("aa", "bb", "cccc", "dddd", "eeee", "ffff", "gggg", "hhhh", "ii"))
    // idle -> no duplicates, offset/generation stable across restarts
    assert(run() ==
      Seq("aa", "bb", "cccc", "dddd", "eeee", "ffff", "gggg", "hhhh", "ii"))
  }

  test("tail-file: unreadable fingerprint prefix makes NO reset decision and NO progress") {
    // ADVICE r11: a transient IOException during the prefix read used to
    // register as a content MISMATCH -> generation bump -> whole live
    // file re-ingested from byte 0 (duplicates through the exactly-once
    // sink). Contract now: unreadable = no decision, no progress for
    // that file this trigger; re-checked next trigger.
    val dir = tmp("graft-tail-ioerr")
    val file = Paths.get(dir, "x.log")
    Files.write(file, "l1\nl2\n".getBytes)
    var fail = false
    val s = new TailMicroBatchStream(file.toString) {
      override protected def fingerprint(path: String, n: Int): Option[String] =
        if (fail) None else super.fingerprint(path, n)
    }
    // key is the path as the Hadoop FS renders it (file: scheme) — there
    // is exactly one watched file, so take the single entry
    def state() = {
      val fs = s.latestOffset().asInstanceOf[TailOffset].files
      assert(fs.size == 1); fs.head._2
    }
    val st1 = state()
    assert(st1.off == 6L && st1.gen == 0L && st1.fp.nonEmpty)
    // file grows, then the prefix read fails: state must carry forward
    // untouched (same offset, SAME generation, same fingerprint)
    Files.write(file, "l3\n".getBytes, StandardOpenOption.APPEND)
    fail = true
    val st2 = state()
    assert(st2 == st1, s"transient IO error changed state: $st2 vs $st1")
    // error clears: the append is picked up as a plain S1 advance —
    // generation still 0, nothing re-ingested
    fail = false
    val st3 = state()
    assert(st3.off == 9L && st3.gen == 0L)
  }

  test("tail-file: a batch over 64 KiB is cut into line-aligned slices that lose and repeat no line") {
    val dir = tmp("graft-tail-slices")
    val file = Paths.get(dir, "big.log")
    // ~420 KiB: lines of varying length (so cut targets fall mid-line), a
    // CRLF line, an empty line, and one 170 KiB line — longer than a
    // slice, spanning two cut targets
    val lines = (0 until 6000).map(i => s"line-$i-" + "x" * (i * 37 % 61)) ++
      Seq("crlf\r", "", "L" * (170 << 10)) ++
      (6000 until 6400).map(i => s"line-$i-" + "y" * (i % 53))
    val bytes = lines.mkString("", "\n", "\n").getBytes("UTF-8")
    Files.write(file, bytes)
    assert(bytes.length > (4 << 16))

    val s = new TailMicroBatchStream(file.toString)
    val parts = s.planInputPartitions(s.initialOffset(), s.latestOffset())
      .map(_.asInstanceOf[TailInputPartition]).toSeq
    assert(parts.size >= 2, s"one slice for ${bytes.length} bytes: $parts")
    assert(parts.head.start == 0L && parts.last.end == bytes.length.toLong)
    parts.zip(parts.tail).foreach { case (a, b) =>
      assert(a.end == b.start, s"slices do not tile: $a, $b")
      assert(a.end > a.start && bytes((a.end - 1).toInt) == '\n',
        s"cut ${a.end} is not just past a newline")
    }

    val out = tmp("graft-tail-slices-out") + "/rows"
    spark.readStream.format("tail-file").load(file.toString)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", tmp("graft-tail-slices-ckpt"))
      .trigger(Trigger.AvailableNow()).start().awaitTermination(120000)
    val got = spark.read.parquet(out).collect().map(_.getString(0)).toSeq
    val want = lines.map(_.stripSuffix("\r"))
    assert(got.size == want.size)
    assert(got.groupBy(identity).view.mapValues(_.size).toMap ==
      want.groupBy(identity).view.mapValues(_.size).toMap)
  }

  test("sensorQuery on a FILE config tails appends through the full pipeline (S1)") {
    val dir = tmp("graft-tailq")
    val logFile = Paths.get(dir, "auth.log")
    val eventsPath = tmp("graft-tailq-events") + "/events"
    val ckpt = tmp("graft-tailq-ckpt")
    Files.write(logFile,
      "Aug  3 11:22:33 host1 sshd[1]: Authentication failed for root 203.0.113.7 port 1\n".getBytes)
    val sensor = conf.sensors.find(_.name == "ssh").get
      .copy(filename = logFile.toString)
    val q = Ingest.sensorQuery(spark, sensor, "n", eventsPath, ckpt,
      None, Trigger.AvailableNow())
    q.awaitTermination(120000)
    assert(spark.read.parquet(eventsPath).count() == 1)
    // append IN PLACE — the directory source would never re-visit this
    // file; the tail source resumes at the stored byte offset
    Files.write(logFile,
      "Aug  3 11:25:00 host1 sshd[3]: Invalid user admin 198.51.100.23 port 3\n".getBytes,
      StandardOpenOption.APPEND)
    val q2 = Ingest.sensorQuery(spark, sensor, "n", eventsPath, ckpt,
      None, Trigger.AvailableNow())
    q2.awaitTermination(120000)
    val all = spark.read.parquet(eventsPath)
    assert(all.count() == 2) // appended event ingested exactly once
    assert(all.filter(col("rule") === "user-enumeration").count() == 1)
  }

  test("sink partitions by (sensor, event_date) for downstream pruning") {
    val logDir = tmp("graft-logs2")
    val eventsPath = tmp("graft-events2") + "/events"
    val sensor = conf.sensors.find(_.name == "ssh").get.copy(filename = logDir)
    writeLog(logDir, "a.log",
      "Aug  3 11:22:33 host1 sshd[1]: Authentication failed for root 203.0.113.7 port 1")
    val q = Ingest.sensorQuery(spark, sensor, "n", eventsPath, tmp("ck2"),
      None, Trigger.AvailableNow())
    q.awaitTermination(120000)
    val top = new java.io.File(eventsPath).listFiles().map(_.getName)
    assert(top.contains("sensor=ssh"))
    val below = new java.io.File(s"$eventsPath/sensor=ssh").listFiles().map(_.getName)
    assert(below.exists(_.startsWith("event_date=")))
    // partition discovery restores `sensor` as a column
    val df = spark.read.parquet(eventsPath)
    assert(df.columns.contains("sensor"))
    assert(df.head().getAs[String]("sensor") == "ssh")
  }

  test("report job: CSV + publisher side effects from a batch (ST2, S10-S12)") {
    import spark.implicits._
    val events = Seq(
      ("1.1.1.1", "US", "United States", "ssh", "auth-failure"),
      ("1.1.1.1", "US", "United States", "ssh", "auth-failure"),
      ("2.2.2.2", "NL", "Netherlands", "http", "XDebug"))
      .toDF("address", "country_code", "country_name", "sensor", "rule")
    val outDir = tmp("graft-reports")
    val pub = new LogPublisher
    val now = java.time.ZonedDateTime.of(2026, 8, 3, 12, 0, 0, 0, java.time.ZoneOffset.UTC)
    val n = ReportJob.reportBatch(events, outDir, pub, now)
    assert(n == 2) // two addresses
    assert(pub.published.exists(_.contains("reporting 2 addresses, 3 total events")))
    assert(pub.published.exists(s => s.startsWith("tweet: 3 new events from") &&
      s.contains("🇺🇸  (2)") && s.contains("#takuan #threatreport")))
    val csv = new java.io.File(s"$outDir/report_2026-08-03T12:00:00+0000.csv")
      .listFiles().filter(_.getName.endsWith(".csv"))
    assert(csv.length == 1)
  }

  test("report batch: one observed pass gives the separate-pass row count and totals, nothing cached") {
    import spark.implicits._
    // a null address is a report row (groupBy keeps the null group) but
    // not an address (countDistinct ignores it); a null country reaches
    // the tweet summary
    val events = Seq(
      ("1.1.1.1", "US", "United States", "ssh", "auth-failure"),
      ("1.1.1.1", "US", "United States", "ssh", "auth-failure"),
      (null, "US", "United States", "ssh", "auth-failure"),
      ("2.2.2.2", null, null, "http", "XDebug"),
      ("3.3.3.3", "NL", "Netherlands", "http", "XDebug"))
      .toDF("address", "country_code", "country_name", "sensor", "rule")
    val pub = new LogPublisher
    val cached = spark.sparkContext.getPersistentRDDs.size
    val n = ReportJob.reportBatch(events, tmp("graft-reports-obs"), pub)
    assert(spark.sparkContext.getPersistentRDDs.size == cached)
    val rows = graft.report.Reporter.report(events).count()
    val (total, addresses) = graft.report.Reporter.totals(events)
    assert(n == rows)
    assert(rows == addresses + 1)
    assert(pub.published.exists(s => s.startsWith("csv:") &&
      s.endsWith(s"(reporting $addresses addresses, $total total events)")), pub.published)
    assert(pub.published.exists(_.startsWith(s"tweet: $total new events from")), pub.published)
  }

  test("report batch publishes the summary through the REAL twitter poster (S12)") {
    import spark.implicits._
    import java.net.InetSocketAddress
    import com.sun.net.httpserver.HttpServer
    val events = Seq(
      ("1.1.1.1", "US", "United States", "ssh", "auth-failure"),
      ("2.2.2.2", "NL", "Netherlands", "http", "XDebug"))
      .toDF("address", "country_code", "country_name", "sensor", "rule")
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var body: String = null
    server.createContext("/post", exchange => {
      body = new String(exchange.getRequestBody.readAllBytes, "UTF-8")
      exchange.sendResponseHeaders(200, 2)
      exchange.getResponseBody.write("ok".getBytes)
      exchange.close()
    })
    server.start()
    try {
      val poster = new graft.report.TwitterPoster(
        graft.report.OAuth1Creds("ck", "cs", "ak", "as"),
        endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/post")
      val inner = new LogPublisher
      val pub = new graft.report.TwitterSummaryPublisher(poster, inner)
      val n = ReportJob.reportBatch(events, tmp("graft-tw-reports"), pub)
      assert(n == 2)
      // CSV publication went to the inner publisher; the tweet hit the wire
      assert(inner.published.exists(_.startsWith("csv:")))
      assert(body != null && body.startsWith("status=2%20new%20events%20from%20"))
      assert(body.contains("%23takuan")) // "#takuan" form-encoded
    } finally server.stop(0)
  }

  test("empty batch produces no report (warmup/no-op parity)") {
    val pub = new LogPublisher
    val empty = spark.emptyDataFrame
    assert(ReportJob.reportBatch(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq())), "/tmp/none", pub) == 0)
    assert(pub.published.isEmpty)
  }

  test("a zero-row events frame reports nothing and leaves no report directory") {
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Ingest.EventsSchema)
    val outDir = tmp("graft-reports-empty")
    val pub = new LogPublisher
    assert(ReportJob.reportBatch(empty, outDir, pub) == 0)
    assert(pub.published.isEmpty)
    assert(new java.io.File(outDir).list().toSeq == Nil)
  }

  test("a report pass writes its CSV through one hash exchange: no range sort, no isEmpty job") {
    val eventsPath = tmp("graft-events-plan") + "/events"
    val ckpt = tmp("graft-ck-plan")
    val geo = GeoIp.fromCsv(spark, fixture("geo.csv"))
    conf.enabledSensors.foreach(s => Ingest.sensorQuery(spark, s, "n", eventsPath, ckpt,
      Some(geo), Trigger.AvailableNow()).awaitTermination(120000))
    val events = spark.read.parquet(eventsPath)
    assert(events.select("sensor").distinct().count() == 2)

    val outDir = tmp("graft-reports-plan")
    val writes = new ConcurrentLinkedQueue[SparkPlan]()
    val plans = new QueryExecutionListener {
      // AQE plans the whole write: the command sits inside a query stage
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (collect(qe.executedPlan) { case w: DataWritingCommandExec => w.cmd }.exists {
            case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString.contains(outDir)
            case _ => false
          }) writes.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val callSites = new ConcurrentLinkedQueue[String]()
    val jobs = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        // the result stage is named after the job's call site ("isEmpty at X.scala:N")
        j.stageInfos.maxByOption(_.stageId).foreach(s => callSites.add(s.name))
      }
    }
    spark.listenerManager.register(plans)
    spark.sparkContext.addSparkListener(jobs)
    try {
      val pub = new LogPublisher
      assert(ReportJob.reportBatch(events, outDir, pub) > 0)
      ListenerBusDrain(spark.sparkContext)
      assert(writes.size == 1, writes)
      val shuffles = collect(writes.peek()) { case e: ShuffleExchangeLike => e.outputPartitioning }
      assert(shuffles.size == 1, writes.peek())
      assert(shuffles.head.isInstanceOf[HashPartitioning], shuffles)
      assert(collect(writes.peek()) { case p if p.outputPartitioning.isInstanceOf[RangePartitioning] => p }
        .isEmpty, writes.peek())
      assert(!callSites.asScala.exists(_.startsWith("isEmpty")), callSites)
      assert(pub.published.exists(_.startsWith("csv:")), pub.published)
    } finally {
      spark.sparkContext.removeSparkListener(jobs)
      spark.listenerManager.unregister(plans)
    }
  }

  test("two report passes on two threads of one session publish their own rows and totals") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    def ev(addresses: Seq[String], perAddress: Int) =
      addresses.flatMap(a => Seq.fill(perAddress)((a, "US", "United States", "ssh", "auth-failure")))
        .toDF("address", "country_code", "country_name", "sensor", "rule")
    val a = ev(Seq("1.1.1.1", "1.1.1.2", "1.1.1.3"), 2)
    val b = ev(Seq("2.2.2.1", "2.2.2.2"), 5)
    for (_ <- 1 to 3) {
      val start = new java.util.concurrent.CountDownLatch(2)
      val runs = Seq(a, b).map { events =>
        Future {
          val pub = new LogPublisher
          start.countDown()
          start.await()
          (ReportJob.reportBatch(events, tmp("graft-reports-par"), pub), pub.published.toSeq)
        }
      }
      val Seq((na, pa), (nb, pb)) = runs.map(Await.result(_, 2.minutes))
      assert(na == 3 && nb == 2)
      assert(pa.exists(_.endsWith("(reporting 3 addresses, 6 total events)")), pa)
      assert(pa.exists(_.startsWith("tweet: 6 new events from")), pa)
      assert(pb.exists(_.endsWith("(reporting 2 addresses, 10 total events)")), pb)
      assert(pb.exists(_.startsWith("tweet: 10 new events from")), pb)
    }
  }

  test("streaming dedup: dropDuplicates within the watermark (exactly-once by id)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val deduped = in.toDS().toDF("event_id", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .option("checkpointLocation", tmp("graft-dd-ck")).start()
    try {
      in.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:01:00")))
      q.processAllAvailable()
      in.addData((1L, ts("2024-01-01 10:02:00")), (3L, ts("2024-01-01 10:03:00"))) // 1 is a dup
      q.processAllAvailable()
      val ids = spark.sql("SELECT event_id FROM dedup_out").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("stream-stream interval join with watermarks (beyond-reference streaming)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val buys = MemoryStream[(Long, java.sql.Timestamp)]
    val c = clicks.toDS().toDF("user_id", "click_ts").withWatermark("click_ts", "1 hour")
    val b = buys.toDS().toDF("buy_user", "buy_ts").withWatermark("buy_ts", "1 hour")
    // purchases joined to clicks at most 30 min before them
    val joined = b.join(c,
      expr("""buy_user = user_id AND
             |click_ts <= buy_ts AND
             |click_ts >= buy_ts - INTERVAL 30 MINUTES""".stripMargin))
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .option("checkpointLocation", tmp("graft-ssj-ck")).start()
    try {
      clicks.addData((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 08:00:00")),
        (2L, ts("2024-01-01 10:10:00")))
      buys.addData((1L, ts("2024-01-01 10:15:00")))
      q.processAllAvailable()
      val got = spark.sql("SELECT user_id, click_ts FROM ssj_out").collect()
      // only user 1's 10:00 click is within [09:45, 10:15]
      assert(got.length == 1)
      assert(got.head.getTimestamp(1) == ts("2024-01-01 10:00:00"))
    } finally q.stop()
  }

  test("watermarked event-time window aggregation in a stream (ST3/ST4 extension)") {
    import spark.implicits._
    val src = tmp("graft-winsrc")
    graft.T.events(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    val agg = spark.readStream.schema(schema).parquet(src)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("win_out")
      .option("checkpointLocation", tmp("graft-winck"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // append mode emits only windows older than the watermark — with the
    // whole batch read at once, all but the last open window close
    val rows = spark.sql("SELECT count(*) FROM win_out").head().getLong(0)
    assert(rows > 0)
  }

  test("streaming sketches: HLL registers and CMS counters equal the batch sketch") {
    // the portable sketches are plain groupBy aggregations (max / count),
    // so the SAME builder runs unmodified on a stream — complete-mode
    // output of a fixed-size relation. The streamed sketch must equal
    // the batch sketch over the same data (order-insensitive merge).
    val src = tmp("graft-sketchsrc")
    graft.T.events(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)

    val hllQ = graft.ops.Sketches.hllRegisters(stream, Seq("event_type"), "user_id")
      .writeStream.outputMode("complete")
      .format("memory").queryName("hll_out")
      .option("checkpointLocation", tmp("graft-sketchck1"))
      .trigger(Trigger.AvailableNow()).start()
    hllQ.awaitTermination(120000)
    val streamed = spark.sql("SELECT * FROM hll_out").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val batch = graft.ops.Sketches.hllRegisters(
        spark.read.parquet(src), Seq("event_type"), "user_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(streamed == batch, "streamed HLL registers must equal batch registers")

    val cmsQ = graft.ops.Sketches.cmsCounters(
        stream.filter(col("user_id").isNotNull).select(col("user_id")), "user_id")
      .writeStream.outputMode("complete")
      .format("memory").queryName("cms_out")
      .option("checkpointLocation", tmp("graft-sketchck2"))
      .trigger(Trigger.AvailableNow()).start()
    cmsQ.awaitTermination(120000)
    val streamedCms = spark.sql("SELECT * FROM cms_out").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val batchCms = graft.ops.Sketches.cmsCounters(
        spark.read.parquet(src).filter(col("user_id").isNotNull)
          .select(col("user_id")), "user_id").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamedCms == batchCms, "streamed CMS counters must equal batch counters")
  }

  test("streaming report cadence over the events table (ST2 streaming form)") {
    val logDir = tmp("graft-logs3")
    val eventsPath = tmp("graft-events3") + "/events"
    val sensor = conf.sensors.find(_.name == "ssh").get.copy(filename = logDir)
    writeLog(logDir, "a.log",
      "Aug  3 11:22:33 host1 sshd[1]: Authentication failed for root 203.0.113.7 port 1",
      "Aug  3 11:22:35 host1 sshd[2]: Authentication failed for root 203.0.113.7 port 2")
    // a fresh deployment: the report stream starts before any event exists
    val early = new LogPublisher
    val q0 = ReportJob.stream(spark, eventsPath, tmp("graft-reports3e"), tmp("ck3e"), early, 1)
    try {
      Ingest.sensorQuery(spark, sensor, "n", eventsPath, tmp("ck3"),
        None, Trigger.AvailableNow()).awaitTermination(120000)
      q0.processAllAvailable()
      assert(early.published.exists(_.contains("2 total events")))
    } finally q0.stop()
    // the declared events schema is the one the table infers
    def cols(t: org.apache.spark.sql.types.StructType) = t.map(f => f.name -> f.dataType)
    assert(cols(spark.read.parquet(eventsPath).schema) == cols(Ingest.EventsSchema))

    val pub = new LogPublisher
    val q = ReportJob.stream(spark, eventsPath, tmp("graft-reports3"), tmp("ck3r"), pub, 1)
    try {
      q.processAllAvailable()
      assert(pub.published.exists(_.contains("2 total events")))
    } finally q.stop()
  }

  test("a report batch replayed after a crash is published once") {
    val logDir = tmp("graft-logs4")
    val eventsPath = tmp("graft-events4") + "/events"
    val (ingestCk, ck) = (tmp("ck4"), tmp("ck4r"))
    val sensor = conf.sensors.find(_.name == "ssh").get.copy(filename = logDir)
    val pub = new LogPublisher
    def ingestAndReport(log: String, line: String): Unit = {
      writeLog(logDir, log, line)
      Ingest.sensorQuery(spark, sensor, "n", eventsPath, ingestCk,
        None, Trigger.AvailableNow()).awaitTermination(120000)
      val q = ReportJob.stream(spark, eventsPath, tmp("graft-reports4"), ck, pub, 1)
      try q.processAllAvailable() finally q.stop()
    }
    ingestAndReport("a.log",
      "Aug  3 11:22:33 host1 sshd[1]: Authentication failed for root 203.0.113.7 port 1")
    ingestAndReport("b.log",
      "Aug  3 11:22:35 host1 sshd[2]: Authentication failed for root 203.0.113.9 port 2")
    // a crash after publication, before the commit: the batch's offsets
    // are logged, its commit is not, so the restart runs it again
    val commits = new java.io.File(ck, "commits")
    Seq("1", ".1.crc").foreach(f => new java.io.File(commits, f).delete())
    val q = ReportJob.stream(spark, eventsPath, tmp("graft-reports4"), ck, pub, 1)
    try q.processAllAvailable() finally q.stop()
    assert(new java.io.File(commits, "1").exists(), "the batch was not replayed")
    assert(pub.published.count(_.startsWith("csv:")) == 2, pub.published)
    assert(pub.published.count(_.startsWith("tweet:")) == 2, pub.published)
    // the ledger keeps only the latest id: no older batch is replayed
    assert(new java.io.File(ck, "published").list().filterNot(_.startsWith(".")).toSeq == Seq("1"))
  }
}
