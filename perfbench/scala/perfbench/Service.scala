package perfbench

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.GraftApp
import graft.config.GraftConfig
import graft.enrich.GeoIp
import graft.parse.LogParser
import graft.report.Reporter
import graft.streaming.{Ingest, LogPublisher, ReportJob}

/** The `service` workload: the takuan service through its public entry
  * points (`GraftApp.session`, `Ingest.sensorQuery`, `ReportJob.reportBatch`,
  * `ReportJob.stream`). Closed-loop backlog drains, each followed by a report
  * over what it committed, measure the per-line and per-report cost; in a
  * traced run an open loop with files appended on a fixed schedule while
  * ingest and the report stream run measures per-batch cost and contention. */
final class Service(run: Run) {
  import Service._

  private val work = run.work
  private val seed = run.seed
  private val pool = new Gen.AddressPool(seed, PoolSize, ZipfS)
  private var geoCsv: String = _
  private var geo: Gen.GeoTable = _

  /** Publisher that also stamps when the CSV and the summary went out,
    * which splits one report pass into its report/totals/summary parts. */
  final class TimedPublisher extends LogPublisher {
    @volatile var csvAt = 0L
    @volatile var summaryAt = 0L
    val csvDirs = mutable.ArrayBuffer[String]()
    override def publishCsv(dir: String, addresses: Long, events: Long): String = {
      csvAt = System.currentTimeMillis(); csvDirs.synchronized(csvDirs += dir)
      super.publishCsv(dir, addresses, events)
    }
    override def publishSummary(tweet: String): Unit = {
      summaryAt = System.currentTimeMillis(); super.publishSummary(tweet)
    }
  }

  private def dir(p: String): File = { val f = new File(work, p); f.mkdirs(); f }

  private def conf(ssh: File, http: File): GraftConfig =
    GraftConfig.fromYaml(Gen.configYaml(ssh.getAbsolutePath, http.getAbsolutePath))

  /** Start the service session and its sensor streams on a small backlog
    * (AvailableNow), the way GraftApp starts them; `Setups` times, the
    * first in a cold JVM. `setup_s` is the median. After the first start an
    * untimed report warms the report path. Returns the last, live session. */
  private def setup(): (SparkSession, Meters) = {
    val warmDir = dir("warm")
    val ssh = new File(warmDir, "ssh.log")
    val http = new File(warmDir, "http.log")
    val wexp = new Gen.Expected(pool)
    Gen.writeBacklog(ssh, "ssh", seed + 1, WarmLines, pool, wexp)
    Gen.writeBacklog(http, "http", seed + 1, WarmLines, pool, wexp)
    val c = conf(ssh, http)
    var last: (SparkSession, Meters) = null
    val times = (0 until Setups).map { k =>
      if (last != null) stop(last._1)
      val t0 = System.nanoTime()
      val t = run.trace
      val (spark, _) = t.timed("setup.session", op = s"setup$k")(GraftApp.session("perfbench-service"))
      val meters = new Meters(spark, run.traced)
      val g = GeoIp.fromCsv(spark, geoCsv)
      val ev = new File(warmDir, s"events$k").getAbsolutePath
      t.timed("setup.drain", op = s"setup$k")(c.enabledSensors.map(s =>
        Ingest.sensorQuery(spark, s, c.nodeName, ev, new File(warmDir, s"ck$k").getAbsolutePath,
          Some(g), Trigger.AvailableNow())).foreach(_.awaitTermination()))
      val dt = (System.nanoTime() - t0) / 1e9
      if (k == 0) ReportJob.reportBatch(spark.read.parquet(ev),
        new File(warmDir, "report").getAbsolutePath, new LogPublisher)
      last = (spark, meters)
      run.log(s"setup $k done")
      dt
    }
    run.note("setup_samples_s", times.mkString("[", ",", "]"))
    run.recordConf(last._1)
    run.metric("setup_s", Stats.median(times))
    last
  }

  private def stop(spark: SparkSession): Unit = {
    spark.streams.active.foreach(_.stop())
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def commitMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution")

  private val OffRe = "\"off\":(\\d+)".r
  private def endOff(p: StreamingQueryProgress): Long =
    OffRe.findFirstMatchIn(p.sources(0).endOffset).map(_.group(1).toLong).getOrElse(0L)

  private def dataBatches(ps: Seq[StreamingQueryProgress], q: StreamingQuery) =
    ps.filter(p => p.runId == q.runId && p.numInputRows > 0).sortBy(_.batchId)

  // ------------------------------------------------------------ phases

  /** The `service` workload: generate inputs, set up, drain a backlog and
    * report it; check every output. A traced run then adds the live open
    * loop and the static layer split, whose metrics are all per-layer: an
    * untraced run spends its time on the end-to-end metrics it reports. */
  def service(): Unit = {
    val g0 = System.nanoTime()
    geo = new Gen.GeoTable(seed, GeoSlots, GeoGapShare)
    val f = new File(dir("geo"), "geo.csv")
    geo.writeCsv(f)
    geoCsv = f.getAbsolutePath
    run.note("geo_ranges", geo.ranges)
    val inDir = dir("backlog")
    val files = Gen.Sensors.map(s => s -> new File(inDir, s"$s.log")).toMap
    val exp = new Gen.Expected(pool)
    val malformed = Gen.Sensors.map(s =>
      Gen.writeBacklog(files(s), s, seed, BacklogLines, pool, exp)).sum
    run.note("gen_s", (System.nanoTime() - g0) / 1e9)
    val (spark, m) = setup()
    val geoDf = GeoIp.fromCsv(spark, geoCsv)
    val c = conf(files("ssh"), files("http"))
    val lastEvents = run.phase("backlog")(backlog(spark, m, c, files, geoDf, exp))
    if (run.traced) {
      run.phase("live")(live(spark, m, geoDf))
      staticLayers(spark, m, c, files, geoDf, exp.events, malformed)
      sinkLayer(spark, lastEvents, exp.events)
    }
    stop(spark)
  }

  /** Closed loop, in cycles until `run.seconds` have passed (at least
    * `MinCycles`): drain the pre-written files with Trigger.AvailableNow
    * through a fresh checkpoint and table, then one report over everything
    * that drain committed. Throughput is the median drain's lines per second
    * of its wall time and `report_s` the median report pass: the first cycle
    * still runs in a JVM that is warming up. Drains and reports alternate so
    * that both sample the whole phase, not one stretch of it.
    * Returns the last drain's events path. */
  private def backlog(spark: SparkSession, m: Meters, c: GraftConfig,
      files: Map[String, File], geoDf: DataFrame, exp: Gen.Expected): String = {
    val lines = BacklogLines.toLong * Gen.Sensors.size
    val walls = mutable.ArrayBuffer[Long]()
    val reports = mutable.ArrayBuffer[Double]()
    val runs = mutable.Set[java.util.UUID]()
    val end = System.nanoTime() + (run.seconds * 1e9).toLong
    var events = ""
    var d = 0
    while (d < MinCycles || System.nanoTime() < end) {
      events = new File(dir(s"drain$d"), "events").getAbsolutePath
      val t0 = System.currentTimeMillis()
      val qs = c.enabledSensors.map(s => s.name -> Ingest.sensorQuery(spark, s, c.nodeName, events,
        new File(dir(s"drain$d"), "ck").getAbsolutePath, Some(geoDf), Trigger.AvailableNow()))
      qs.foreach { case (_, q) => run.attempt(s"drain ${q.name}", op = false)(q.awaitTermination()) }
      val t1 = System.currentTimeMillis()
      walls += t1 - t0
      m.drain()
      val ps = m.progress.all
      qs.foreach { case (name, q) =>
        val bs = dataBatches(ps, q)
        run.ops(bs.size)
        runs += q.runId
        if (run.traced) bs.foreach(traceBatch(_, s"ingest.$name", s"drain$d"))
      }

      val pub = new TimedPublisher
      val r0 = System.currentTimeMillis()
      val ok = run.attempt("report") {
        ReportJob.reportBatch(spark.read.parquet(events), new File(dir(s"report$d"), "out").getAbsolutePath,
          pub, ReportClock)
      }.isDefined
      val r1 = System.currentTimeMillis()
      if (ok) reports += (r1 - r0) / 1000.0
      if (run.traced) traceReport(m, pub, r0, r1, s"report$d")
      run.check(s"committed events (drain $d)")(checkEvents(spark, events, exp))
      run.check(s"report CSV (drain $d)")(checkReportCsv(pub.csvDirs.toSeq, exp, ordered = true))
      run.log(s"backlog cycle $d done")
      d += 1
    }
    val rates = walls.map(w => lines * 1000.0 / w).toSeq
    run.note("backlog_lines_per_s", rates.mkString(","))
    run.note("report_samples_s", reports.mkString(","))
    run.metric("throughput_per_s", Stats.median(rates))
    if (reports.nonEmpty) run.metric("report_s", Stats.median(reports.toSeq))
    if (run.traced) {
      streamingLayer(m, "backlog", runs.toSet, walls.sum)
      run.metric("backlog.lag_bytes_end", lagBytes(files, m, runs.toSet))
    }
    events
  }

  // ------------------------------------------------------------ live

  /** Appends both sensor files on a fixed schedule: line i of a sensor is
    * due at t0 + i / rate and carries that due time (epoch ms) in its
    * port / size field. Runs on its own thread and never slows down for
    * the service; how late it ran is recorded. */
  final class Appender(files: Map[String, File], rate: Double, exp: Gen.Expected) extends Thread {
    setDaemon(true)
    val t0: Long = System.currentTimeMillis() + 200
    @volatile var running = true
    val streams = Gen.Sensors.map(s => s -> new Gen.LineStream(s, seed, pool)).toMap
    val offs = Gen.Sensors.map(s => s -> new mutable.ArrayBuilder.ofLong).toMap
    val dues = Gen.Sensors.map(s => s -> new mutable.ArrayBuilder.ofLong).toMap
    val isEvent = Gen.Sensors.map(s => s -> new mutable.ArrayBuilder.ofBoolean).toMap
    val late = new mutable.ArrayBuilder.ofLong
    var written = 0L
    override def run(): Unit = {
      val outs = files.map { case (s, f) => s -> new java.io.FileOutputStream(f, true) }
      val pos = mutable.Map(Gen.Sensors.map(_ -> 0L): _*)
      var i = 0L
      try while (running) {
        val now = System.currentTimeMillis()
        val bufs = Gen.Sensors.map(_ -> new java.io.ByteArrayOutputStream()).toMap
        var due = t0 + (i * 1000 / rate).toLong
        while (due <= now) {
          Gen.Sensors.foreach { s =>
            val (text, ev) = streams(s).next(due, exp)
            val b = (text + "\n").getBytes("UTF-8")
            bufs(s).write(b)
            pos(s) += b.length
            offs(s) += pos(s); dues(s) += due; isEvent(s) += ev
          }
          late += now - due
          i += 1
          due = t0 + (i * 1000 / rate).toLong
        }
        Gen.Sensors.foreach(s => if (bufs(s).size > 0) { outs(s).write(bufs(s).toByteArray); outs(s).flush() })
        written = i
        Thread.sleep(math.max(1L, math.min(TickMs, due - System.currentTimeMillis())))
      } finally outs.values.foreach(_.close())
    }
  }

  /** Open loop for `run.seconds`: the files grow on schedule while the
    * ingest streams (1 s sensor period) and the report stream run. */
  private def live(spark: SparkSession, m: Meters, geoDf: DataFrame): Unit = {
    val inDir = dir("live")
    val files = Gen.Sensors.map(s => s -> new File(inDir, s"$s.log")).toMap
    files.values.foreach(_.createNewFile())
    val c = conf(files("ssh"), files("http"))
    val exp = new Gen.Expected(pool)
    val ev = new File(work, "live-events").getAbsolutePath
    val ck = new File(work, "live-ck").getAbsolutePath
    val repDir = new File(work, "live-reports").getAbsolutePath
    val pub = new TimedPublisher
    val clock = new AtomicLong(0)
    val now = () => ReportClock.plusMinutes(clock.incrementAndGet())
    val app = new Appender(files, LiveRatePerSensor, exp)
    var report: StreamingQuery = null
    var lag = 0L
    val w0 = System.currentTimeMillis()
    locally {
      app.start()
      // Started the way GraftApp starts them: every sensor stream, then
      // the report stream, with no wait in between.
      val qs = c.enabledSensors.map(s => s.name -> Ingest.sensorQuery(spark, s, c.nodeName, ev, ck,
        Some(geoDf)))
      // ROADMAP 4(c): ReportJob.stream takes its schema from
      // spark.read.parquet(eventsPath), which throws on a fresh deployment
      // (PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA) until the first ingest
      // batch commits. The failure is counted, not hidden; the start is
      // retried once the first batch has committed.
      def startReport() = ReportJob.stream(spark, ev, repDir, s"$ck/__report", pub,
        ReportPeriodSecs, now)
      val end = w0 + (run.seconds * 1000).toLong
      report = run.attempt("report stream start")(startReport()).getOrElse {
        while (System.currentTimeMillis() < end &&
            !qs.exists { case (_, q) => Option(q.lastProgress).exists(_.numInputRows > 0) })
          Thread.sleep(20)
        run.attempt("report stream start (retry)")(startReport()).orNull
      }
      Thread.sleep(math.max(0L, end - System.currentTimeMillis()))
      app.running = false
      app.join()
      lag = lagBytes(files, qs)
      qs.foreach { case (_, q) => run.attempt(s"catch up ${q.name}", op = false)(q.processAllAvailable()) }
      val wall = System.currentTimeMillis() - w0
      m.drain()
      val ps = m.progress.all
      run.note("live_lines", app.written * Gen.Sensors.size)
      run.note("live_lines_per_s", app.written * Gen.Sensors.size / (wall / 1000.0))
      // line -> event latency: the batch holding a line is the first whose
      // committed end offset reaches the line's end offset. Lines due in
      // the first LiveWarmupMs (stream start, first batches) are left out.
      val lat = mutable.ArrayBuffer[(Double, String)]() // (seconds, batch)
      val uncommitted = mutable.ArrayBuffer[String]()
      val from = app.t0 + LiveWarmupMs
      qs.foreach { case (name, q) =>
        val bs = dataBatches(ps, q)
        run.ops(bs.size)
        val offs = app.offs(name).result(); val dues = app.dues(name).result()
        val isEv = app.isEvent(name).result()
        var k = 0
        bs.foreach { b =>
          val e = endOff(b); val cm = commitMs(b)
          while (k < offs.length && offs(k) <= e) {
            if (isEv(k) && dues(k) >= from) lat += (((cm - dues(k)) / 1000.0, s"$name${b.batchId}"))
            k += 1
          }
          if (run.traced) traceBatch(b, s"ingest.$name", s"batch$name${b.batchId}")
        }
        if (k < offs.length) uncommitted += s"$name: ${offs.length - k} lines never committed"
      }
      run.check("every line committed")(uncommitted.toSeq)
      val ls = lat.map(_._1).toSeq
      val p90 = Stats.quantile(ls, 0.9)
      run.metric("latency_p50_s", Stats.quantile(ls, 0.5))
      run.metric("latency.p90_s", p90)
      run.metric("latency.p90_batches", lat.filter(_._1 >= p90).map(_._2).distinct.size)
      run.note("latency_events", ls.size)
      val late = app.late.result().map(_.toDouble).toSeq
      run.metric("gen.late_ms.p99", Stats.quantile(late, 0.99))
      if (report != null) {
        val rb = dataBatches(ps, report)
        run.ops(rb.size)
        run.metric("report.batch_ms.p50", Stats.median(rb.map(_.durationMs.get("triggerExecution").toDouble)))
        if (run.traced) rb.foreach(b => traceBatch(b, "report.stream", s"report${b.batchId}"))
      }
      if (run.traced) {
        streamingLayer(m, "streaming", qs.map(_._2.runId).toSet, wall)
        run.metric("streaming.lag_bytes_end", lag)
      }
      (qs.map(_._2) :+ report).filter(_ != null).foreach(_.stop())
      if (report != null) run.attempt("report stream")(report.exception.foreach(e => throw e))
    }
    run.check("committed events (live)")(checkEvents(spark, ev, exp))
    run.check("report CSVs (live)")(checkReportCsv(pub.csvDirs.toSeq, exp, ordered = false))
  }

  private def lagBytes(files: Map[String, File], qs: Seq[(String, StreamingQuery)]): Long =
    qs.map { case (name, q) =>
      files(name).length() - Option(q.lastProgress).map(endOff).getOrElse(0L)
    }.sum

  private def lagBytes(files: Map[String, File], m: Meters, runs: Set[java.util.UUID]): Long = {
    val last = m.progress.all.filter(p => runs(p.runId) && p.numInputRows > 0)
      .groupBy(_.name).map { case (n, ps) => n.stripPrefix("graft-ingest-") -> ps.map(endOff).max }
    files.map { case (s, f) => f.length() - last.getOrElse(s, 0L) }.sum
  }

  // ------------------------------------------------------------ metrics

  private def traceBatch(b: StreamingQueryProgress, name: String, op: String): Unit = {
    val t = run.trace
    val s = java.time.Instant.parse(b.timestamp).toEpochMilli.toDouble
    val d = b.durationMs.asScala.map { case (k, v) => k -> v.longValue }.withDefaultValue(0L)
    val id = t.span(s"$name.batch", s, s + d("triggerExecution"), -1, op)
    var at = s
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
      .foreach { ph => t.span(s"$name.$ph", at, at + d(ph), id, op); at += d(ph) }
    t.count(s"$name.input_rows", b.numInputRows.toDouble)
  }

  /** Streaming progress phases and the Spark jobs of the ingest queries. */
  private def streamingLayer(m: Meters, prefix: String, runs: Set[java.util.UUID], wallMs: Long): Unit = {
    m.drain()
    val bs = m.progress.all.filter(p => runs(p.runId) && p.numInputRows > 0)
    def ph(k: String) = Stats.median(bs.map(_.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0)))
    run.metric(s"$prefix.batches", bs.size)
    val tr = bs.map(_.durationMs.get("triggerExecution").toDouble)
    run.metric(s"$prefix.batch_ms.p50", Stats.quantile(tr, 0.5))
    run.metric(s"$prefix.batch_ms.p90", Stats.quantile(tr, 0.9))
    run.metric(s"$prefix.latest_offset_ms", ph("latestOffset"))
    run.metric(s"$prefix.planning_ms", ph("queryPlanning"))
    run.metric(s"$prefix.commit_ms", Stats.median(bs.map(b =>
      Seq("walCommit", "commitOffsets").map(k => b.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0)).sum)))
    run.metric(s"$prefix.add_batch_ms", ph("addBatch"))
    val ids = bs.map(_.id.toString).toSet
    val js = m.jobs.all.filter(j => ids(j.streamQuery))
    run.metric(s"$prefix.scan_tasks_per_batch",
      if (bs.isEmpty) 0.0 else js.map(_.tasks).sum.toDouble / bs.size)
    run.metric(s"$prefix.core_busy_share",
      js.map(_.runMs).sum.toDouble / (wallMs.toDouble * run.cores))
  }

  /** Report pass split by the publisher callbacks and the CSV job:
    * report = up to the end of the CSV write plus the tail after the tweet
    * (the report row count); totals = from the CSV write to the CSV
    * publication; summary = from there to the tweet. */
  private def traceReport(m: Meters, pub: TimedPublisher, r0: Long, r1: Long, op: String): Unit = {
    m.drain()
    val js = m.jobs.between(r0, r1)
    val csvDone = js.filter(_.callSite.startsWith("csv at Reporter")).map(_.end).maxOption
      .getOrElse(pub.csvAt)
    val t = run.trace
    val id = t.span("report.pass", r0, r1, -1, op)
    t.span("report.report", r0, csvDone, id, op)
    t.span("report.totals", csvDone, pub.csvAt, id, op)
    t.span("report.summary", pub.csvAt, pub.summaryAt, id, op)
    t.span("report.report", pub.summaryAt, r1, id, op)
    js.foreach(j => t.span("report.job", j.start, j.end, id, s"$op ${j.callSite}"))
    run.sample("report.report_ms", (csvDone - r0) + (r1 - pub.summaryAt))
    run.sample("report.totals_ms", pub.csvAt - csvDone)
    run.sample("report.summary_ms", pub.summaryAt - pub.csvAt)
    run.sample("report.jobs", js.size)
    run.sample("report.tasks", js.map(_.tasks).sum)
    run.sample("report.shuffle_bytes", js.map(_.shuffleWriteBytes).sum)
  }

  /** parse / enrich / sink timed over the same lines as a static DataFrame:
    * parse = LogParser.pipeline, enrich = (pipeline + GeoIp.enrich) − parse,
    * sink = (… + parquet write) − (pipeline + enrich). */
  private def staticLayers(spark: SparkSession, m: Meters, c: GraftConfig,
      files: Map[String, File], geoDf: DataFrame, events: Long, malformed: Long): Unit = {
    val t = run.trace
    var parseMs, enrichMs, sinkMs, lines, parsed, evs, bcast, geoMiss, mal = 0.0
    var taskMs = 0.0
    c.enabledSensors.foreach { s =>
      val txt = spark.read.text(files(s.name).getAbsolutePath)
      def timedNoop(name: String, df: DataFrame): (Double, Seq[JobRec]) = {
        m.drain()
        val t0 = System.currentTimeMillis()
        df.write.format("noop").mode("overwrite").save()
        val t1 = System.currentTimeMillis()
        t.span(name, t0, t1, -1, s"static.${s.name}")
        m.drain()
        (t1 - t0, m.jobs.between(t0, t1))
      }
      val p = LogParser.pipeline(txt, s, c.nodeName)
      val (pm, pj) = timedNoop("parse", p)
      val e = GeoIp.enrich(p, geoDf).select(p.columns.map(col): _*)
      m.plans.tag = s"static-enrich-${s.name}"
      val (em, _) = timedNoop("enrich", e)
      bcast += m.plans.synchronized(m.plans.executions.filter(_._1 == m.plans.tag).toList)
        .map(x => broadcastBytes(x._2.executedPlan)).sum
      val sinkDir = new File(work, s"static-sink-${s.name}").getAbsolutePath
      val s0 = System.currentTimeMillis()
      e.withColumn("event_date", to_date(col("detected_at"))).drop("sensor")
        .write.mode("overwrite").partitionBy("event_date").parquet(sinkDir)
      val s1 = System.currentTimeMillis()
      t.span("sink", s0, s1, -1, s"static.${s.name}")
      parseMs += pm; enrichMs += em - pm; sinkMs += (s1 - s0) - em
      taskMs += pj.map(_.runMs).sum
      lines += txt.count()
      parsed += LogParser.tokenize(txt, s.parser).count()
      evs += p.count()
      geoMiss += e.filter(col("country_code").isNull).count()
      mal += LogParser.malformedDatetimes(txt, s).count()
    }
    run.metric("parse.ms", parseMs)
    run.metric("parse.lines_per_task_s", if (taskMs > 0) lines / (taskMs / 1000) else 0.0)
    run.metric("parse.event_ratio", evs / lines)
    run.metric("parse.unparsed_lines", lines - parsed)
    run.metric("parse.malformed_datetimes", mal)
    run.metric("enrich.ms", enrichMs)
    run.metric("enrich.geo_miss_ratio", geoMiss / evs)
    run.metric("enrich.broadcast_bytes", bcast)
    run.metric("sink.ms", sinkMs)
    run.check("static pipeline agrees with the generator")(Seq(
      if (evs != events) Some(s"$evs events, generator expects $events") else None,
      if (mal != malformed) Some(s"$mal quarantined lines, generator expects $malformed") else None
    ).flatten)
    t.count("lines", lines); t.count("events", evs); t.count("geo_miss", geoMiss)
  }

  private def broadcastBytes(plan: org.apache.spark.sql.execution.SparkPlan): Double = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    def walk(p: SparkPlan): Seq[Double] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case b: BroadcastExchangeExec => b.metrics.get("dataSize").map(_.value.toDouble).toSeq ++ walk(b.child)
      case other => other.children.flatMap(walk) ++ other.subqueries.flatMap(walk)
    }
    walk(plan).sum
  }

  private def sinkLayer(spark: SparkSession, eventsPath: String, events: Long): Unit = {
    val parts = Files.walk(new File(eventsPath).toPath).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && !p.toString.contains("_spark_metadata"))
      .toSeq
    run.metric("sink.files", parts.size)
    run.metric("sink.bytes_per_event", parts.map(Files.size).sum.toDouble / math.max(1L, events))
  }

  // ------------------------------------------------------------ checks

  private def addrCountry(a: String): Option[(String, String)] = {
    val p = a.split('.').map(_.toLong)
    val k = geo.lookup(p(0) << 24 | p(1) << 16 | p(2) << 8 | p(3))
    if (k < 0) None else Some(Gen.Countries(k))
  }

  /** Committed events equal the expected (sensor, rule, address) multiset,
    * each with the country its address maps to. */
  private def checkEvents(spark: SparkSession, eventsPath: String, exp: Gen.Expected): Seq[String] = {
    val got = spark.read.parquet(eventsPath)
      .groupBy("sensor", "rule", "address", "country_code").count().collect()
    val want = exp.multiset
    val gotMap = got.map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(4)).toMap
    val badGeo = got.filter(r => addrCountry(r.getString(2)).map(_._1).orNull != r.getString(3))
    Seq(
      if (got.length != gotMap.size) Some("an address was committed with two countries") else None,
      if (gotMap != want) {
        val missing = want.filter { case (k, v) => !gotMap.get(k).contains(v) }.take(3)
        val extra = gotMap.filter { case (k, v) => !want.get(k).contains(v) }.take(3)
        Some(s"${want.values.sum} events expected, ${gotMap.values.sum} committed; " +
          s"e.g. expected $missing, got $extra")
      } else None,
      if (badGeo.nonEmpty) Some(s"${badGeo.length} (address, country) pairs wrong, e.g. ${badGeo.head}")
      else None).flatten
  }

  /** Report CSV rows equal the expected per-address totals and counters;
    * with several reports (live) their counters add up to at most the
    * expected ones. */
  private def checkReportCsv(dirs: Seq[String], exp: Gen.Expected, ordered: Boolean): Seq[String] = {
    val rows = dirs.flatMap { d =>
      Option(new File(d).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".csv")).sortBy(_.getName)
        .flatMap { f =>
          val ls = Files.readAllLines(f.toPath).asScala.toList
          if (ls.headOption.contains(Reporter.Header.mkString(","))) ls.tail else ls
        }
    }
    val want = exp.multiset.groupBy(_._1._3).map { case (addr, m) =>
      addr -> m.map { case ((s, r, _), n) => s"$s/$r" -> n }
    }
    def line(addr: String, counters: Map[String, Long]): String = {
      val (code, name) = addrCountry(addr).getOrElse(("", ""))
      val cs = counters.toSeq.map { case (k, n) => s"$k:$n" }.sorted.mkString("|")
      s"$addr,$code,$name,${counters.values.sum},$cs"
    }
    if (ordered) {
      val wantLines = want.toSeq.map { case (a, cs) => (cs.values.sum, a, line(a, cs)) }
        .sortBy { case (n, a, _) => (-n, a) }.map(_._3)
      if (rows == wantLines) Nil
      else Seq(s"${rows.size} rows vs ${wantLines.size} expected; " +
        s"first diff ${rows.zipAll(wantLines, "", "").find(p => p._1 != p._2)}")
    } else {
      val errs = mutable.ArrayBuffer[String]()
      val got = mutable.Map[String, mutable.Map[String, Long]]()
      rows.foreach { r =>
        val f = r.split(",", -1)
        val m = got.getOrElseUpdate(f(0), mutable.Map())
        f(4).split('|').foreach { kv =>
          val i = kv.lastIndexOf(':')
          m(kv.take(i)) = m.getOrElse(kv.take(i), 0L) + kv.drop(i + 1).toLong
        }
        val want1 = line(f(0), Map("x" -> 1L)).split(",", -1)
        if (f(1) != want1(1) || f(2) != want1(2)) errs += s"row has wrong country: $r"
      }
      // the report stream is stopped with the window, so the last events
      // may be unreported; nothing may be reported twice or invented
      val over = got.toSeq.flatMap { case (a, m) => m.toSeq.collect {
        case (k, n) if n > want.getOrElse(a, Map.empty[String, Long]).getOrElse(k, 0L) => s"$a $k:$n" } }
      if (rows.isEmpty) errs += "no report published"
      if (over.nonEmpty) errs += s"${over.size} counters above the committed events, e.g. ${over.head}"
      errs.toSeq.take(3)
    }
  }
}

object Service {
  val PoolSize = 50000
  val ZipfS = 1.1
  val GeoSlots = 111111 // ~100k ranges after the 10% gaps
  val GeoGapShare = 0.1
  val Setups = 3
  val WarmLines = 500
  val BacklogLines = 25000
  /** Fewest drain + report cycles in a run; more run while `--seconds`
    * have not passed. */
  val MinCycles = 3
  /** Frozen offered rate per sensor (lines/s): half the per-sensor drain
    * rate the backlog measured (~10k lines/s) on the 4-core machine where
    * this benchmark was written. Never scaled to the machine. */
  val LiveRatePerSensor = 5000.0
  val LiveWarmupMs = 2000L
  val TickMs = 20L
  val ReportPeriodSecs = 10
  val ReportClock: java.time.ZonedDateTime =
    java.time.ZonedDateTime.of(2026, 8, 3, 12, 0, 0, 0, java.time.ZoneOffset.UTC)
}
