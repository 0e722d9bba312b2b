package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.queries.SharedRels
import graft.streaming.{LogPublisher, ReportJob}

/** `query_mix`: takuan-parity queries plus two heavy kernels on one
  * warm session with the conf `graft.Bench` uses, materialised with a noop
  * write as `graft.Bench` does; query order is shuffled by seed each pass.
  * The parity set is dominated by fixed per-query cost (planning, job
  * scheduling, the driver gap), the heavy set by execution. */
final class QueryMix(run: Run) {
  import QueryMix._

  private val all: Seq[(String, String)] = Takuan.map(_ -> "takuan") ++ Heavy.map(_ -> "heavy")
  private val fns = SparkEntry.queries

  /** The session `graft.Bench` builds (its private `buildSession`), at
    * `local[nproc]`. Copied here because the benchmark may not change the
    * program; the resolved conf is written to the run record. */
  private def session(): SparkSession = {
    val cpus = run.cores.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "2097152")
      .config("spark.sql.files.openCostInBytes", "262144")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  private def stop(spark: SparkSession): Unit = {
    SharedRels.clear(spark)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def sweep(spark: SparkSession): Int = {
    val keep = SharedRels.liveRddIds(spark)
    val left = spark.sparkContext.getPersistentRDDs.values.filterNot(r => keep.contains(r.id)).toSeq
    left.foreach(_.unpersist(blocking = true))
    left.size
  }

  def run(): Unit = {
    val g0 = System.nanoTime()
    val corpus = Corpus.cached(run.out, () => session(), stop(_))
    val takuanEvents = s"$corpus/takuan_events"
    run.note("gen_s", (System.nanoTime() - g0) / 1e9)
    run.log("inputs ready")

    // setup: a fresh session running its first query (the service-shaped
    // one); `Setups` times, reporting the median
    var spark: SparkSession = null
    val setups = (0 until Setups).map { k =>
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = session()
      fns("takuan_ssh_pipeline")(spark, corpus).write.format("noop").mode("overwrite").save()
      run.log(s"setup $k done")
      (System.nanoTime() - t0) / 1e9
    }
    run.note("setup_samples_s", setups.mkString("[", ",", "]"))
    run.metric("setup_s", Stats.median(setups))
    run.recordConf(spark)
    System.err.println("[perfbench] query_mix session conf: " +
      spark.conf.getAll.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))

    // the first, untimed execution of every query is its output check
    run.phase("check") { checkOutputs(spark, corpus, takuanEvents) }
    System.gc()
    run.note("jit_wait_ms", Stats.awaitJitIdle())

    val m = new Meters(spark, run.traced)
    val times = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val reports = mutable.ArrayBuffer[Double]()
    val end = System.nanoTime() + (run.seconds * 1e9).toLong
    var pass = 0
    run.phase("measure") {
      while (pass < MinPasses || System.nanoTime() < end) {
        val rnd = new scala.util.Random(run.seed * 1000003L + pass)
        val acc = mutable.Map[String, Double]().withDefaultValue(0.0)
        // the report passes are spread through the pass, not run back to back
        rnd.shuffle(all ++ Seq.fill(ReportRuns)("report" -> "report")).foreach { case (name, set) =>
          val tag = s"perfbench:$set:$name:$pass"
          spark.sparkContext.setJobGroup(tag, tag)
          m.plans.tag = tag
          val t0 = System.currentTimeMillis()
          val ok = run.attempt(name) {
            if (set == "report") {
              ReportJob.reportBatch(spark.read.parquet(takuanEvents),
                new File(run.work, s"report${reports.size}").getAbsolutePath, new LogPublisher)
              reports += (System.currentTimeMillis() - t0) / 1000.0
            }
            else fns(name)(spark, corpus).write.format("noop").mode("overwrite").save()
          }.isDefined
          val t1 = System.currentTimeMillis()
          spark.sparkContext.clearJobGroup()
          val left = sweep(spark)
          if (ok && set != "report")
            times.getOrElseUpdate(name, mutable.ArrayBuffer()) += (t1 - t0) / 1000.0
          if (run.traced && set != "report") {
            m.drain()
            traceQuery(m, tag, name, set, t0, t1, acc)
            acc(s"persist.$set.blocks_left") += left
          }
        }
        if (run.traced) acc.foreach { case (k, v) => run.sample(k, v) }
        run.log(s"pass $pass done")
        pass += 1
      }
    }
    run.note("passes", pass)
    val medians = all.map { case (n, set) => (n, set, Stats.median(times.getOrElse(n, Nil).toSeq)) }
    run.note("query_medians_s", medians.map { case (n, _, v) => s"$n=$v" }.mkString(" "))
    Seq("takuan", "heavy").foreach(s =>
      run.note(s"query_${s}_s", medians.filter(_._2 == s).map(_._3).sum))
    val runs = times.values.flatten.toSeq
    run.metric("throughput_per_s", runs.size / runs.sum)
    run.metric("latency_p50_s", Stats.quantile(medians.map(_._3), 0.5))
    run.metric("latency.p90_s", Stats.quantile(medians.map(_._3), 0.9))
    run.note("report_samples_s", reports.mkString(","))
    run.metric("report_s", Stats.median(reports.toSeq))
    stop(spark)
  }

  /** Planning phases, jobs/stages/tasks, task metrics and the driver gap
    * of one query run, added into this pass's per-set totals. */
  private def traceQuery(m: Meters, tag: String, name: String, set: String,
      t0: Long, t1: Long, acc: mutable.Map[String, Double]): Unit = {
    val t = run.trace
    val id = t.span(s"query.$set", t0, t1, -1, name)
    val plans = m.plans.synchronized(m.plans.phases.filter(_._1 == tag).toList)
    plans.foreach(_._2.foreach { case (ph, (s, e)) =>
      t.span(s"plan.$ph", s, e, id, name)
      acc(s"plan.$set.ms") += e - s
    })
    val js = m.jobs.all.filter(_.group == tag)
    js.foreach(j => t.span("job", j.start, math.max(j.start, j.end), id, name))
    acc(s"sched.$set.jobs") += js.size
    acc(s"sched.$set.stages") += js.map(_.stages.size).sum
    acc(s"sched.$set.tasks") += js.map(_.tasks).sum
    acc(s"driver.$set.gap_ms") += (t1 - t0) - Stats.unionLength(js.map(j =>
      (math.max(j.start, t0).toDouble, math.min(math.max(j.end, j.start), t1).toDouble)))
    acc(s"exec.$set.run_ms") += js.map(_.runMs).sum
    acc(s"exec.$set.cpu_ms") += js.map(_.cpuMs).sum
    acc(s"exec.$set.gc_ms") += js.map(_.gcMs).sum
    acc(s"exec.$set.shuffle_bytes") += js.map(_.shuffleWriteBytes).sum
    acc(s"exec.$set.spill_bytes") += js.map(_.spillBytes).sum
  }

  /** Each query's row count and order-insensitive checksum against the
    * values pinned in [[QueryMix.Pinned]]; the report's row count too. */
  private def checkOutputs(spark: SparkSession, corpus: String, takuanEvents: String): Unit = {
    all.foreach { case (name, set) =>
      val c0 = Stats.codegenCompiles()
      run.check(s"query $name") {
        val got = checksum(fns(name)(spark, corpus))
        Pinned.get(name) match {
          case Some(want) if want == got => Nil
          case Some(want) => Seq(s"(rows, checksum) = $got, pinned $want")
          case None => Seq(s"no pinned value; computed $got")
        }
      }
      run.metric(s"codegen.$set.compiles", run.metricOr(s"codegen.$set.compiles") + Stats.codegenCompiles() - c0)
      sweep(spark)
    }
    run.check("report") {
      val events = spark.read.parquet(takuanEvents)
      val pub = new LogPublisher
      val n = ReportJob.reportBatch(events, new File(run.work, "check-report").getAbsolutePath, pub)
      val totals = s"reporting $PinnedReportRows addresses, ${events.count()} total events"
      (if (n == PinnedReportRows) Nil else Seq(s"$n report rows, pinned $PinnedReportRows")) ++
        (if (pub.published.exists(_.contains(totals))) Nil
         else Seq(s"published ${pub.published.headOption}, expected '$totals'"))
    }
  }

}

object QueryMix {
  val Setups = 3
  val MinPasses = 1
  /** Report passes per query pass; `report_s` is their median. */
  val ReportRuns = 5
  /** One takuan-parity query per family (parse, geo range join, report
    * counters, session window, as-of join, robust outliers): a
    * representative subset of the 20, since every query's first, cold
    * execution costs more than its timed one and one run must stay short. */
  val Takuan: Seq[String] = Seq("takuan_ssh_pipeline", "j1_geo_range_join", "a1_report_counters",
    "st5_session_window", "asof_purchase_click", "event_outliers")
  /** Two of the three heavy kernels ROADMAP 3 names: `value_datainf_panel`
    * (~4 s warm, ~10 s with its cold run) does not fit one run's budget. */
  val Heavy: Seq[String] = Seq("dedup_ppjoin", "dedup_edit_pairs")

  /** Row count and the wrapping sum of xxhash64 over each row, columns in
    * name order: equal for equal multisets of rows, whatever their order. */
  def checksum(df: DataFrame): (Long, Long) = {
    val names = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val hs = renamed.select(xxhash64(names.map(i => col(s"c$i")).toIndexedSeq: _*)).collect()
    (hs.length.toLong, hs.map(_.getLong(0)).sum)
  }

  /** (rows, checksum) per query on the corpus [[Corpus]] writes. The rows
    * were checked against the DuckDB oracle (`SparkEntry.oracleSql` through
    * tools/check.py) on that corpus before being pinned. */
  val Pinned: Map[String, (Long, Long)] = Map(
    "a1_report_counters" -> ((150L, -7473293143877999522L)),
    "asof_purchase_click" -> ((2050L, -1249989801756726154L)),
    "event_outliers" -> ((1179L, -3844528870551296387L)),
    "j1_geo_range_join" -> ((10000L, 5295159339718243481L)),
    "st5_session_window" -> ((9690L, 6330742274992002716L)),
    "takuan_ssh_pipeline" -> ((3943L, 1351786261732683206L)),
    "dedup_ppjoin" -> ((1703L, 8872043203240713284L)),
    "dedup_edit_pairs" -> ((21L, -4473358890400266976L)))

  /** Distinct addresses in the takuan events table (one report row each). */
  val PinnedReportRows: Long = 150L
}

/** The fixed query corpus: the `events`, `nation` and `documents` tables
  * the queries read, in the TESTDATA.md corpus's schemas, from a constant
  * seed so pinned outputs stay valid (the run's seed shuffles query order).
  * Sizes match its sf0.01 scale. */
object Corpus {
  val Seed = 42L
  val Events = 10000
  val Users = 150
  val Docs = 500

  /** The corpus under `dir`, written once per parameter set: it does not
    * depend on the run's seed. */
  def cached(dir: File, session: () => SparkSession, stop: SparkSession => Unit): String = {
    val d = new File(dir, s"corpus-v2-$Seed-$Events-$Users-$Docs")
    if (!new File(d, "_COMPLETE").isFile) {
      val spark = session()
      write(spark, d.getAbsolutePath)
      stop(spark)
      new File(d, "_COMPLETE").createNewFile()
    }
    d.getAbsolutePath
  }

  private val words = ("batch part spark line column order small sort fast value scan a hash " +
    "slow group agg query big filter key window row table stream merge data the join vector " +
    "customer").split(' ')
  private val langs = Seq("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14)

  def write(spark: SparkSession, dir: String): Unit = {
    val rnd = new java.util.SplittableRandom(Seed)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000
    val span = 30L * 86400 * 1000000
    val ts = Array.fill(Events)(rnd.nextLong(span)).sorted
    val types = Array("signup", "purchase", "view", "click", "error")
    val ev = (0 until Events).map { i =>
      val v = math.round(-math.log(1 - rnd.nextDouble()) * 5000) / 100.0
      Row(i.toLong, new java.sql.Timestamp((t0 + ts(i)) / 1000), rnd.nextInt(Users).toLong,
        types(rnd.nextInt(5)), v, s"""{"k": ${rnd.nextInt(100)}}""")
    }
    val evSchema = StructType(Seq(StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    save(spark.createDataFrame(java.util.Arrays.asList(ev: _*), evSchema), s"$dir/events.parquet")

    // the report's input: takuan events (FIXTURES B.1 schema) for the
    // error/signup events, addressed and geo-mapped as the parity queries
    // map them (user u -> 10.0.u/256.u%256; nation n covers users 64n..64n+63)
    val rules = Map("error" -> "auth-failure", "signup" -> "user-enumeration")
    val detected = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    val tk = ev.filter(r => rules.contains(r.getString(3))).map { r =>
      val u = r.getLong(2)
      val addr = s"10.0.${u / 256}.${u % 256}"
      val nation = if (u / 64 < 25) s"NATION_${u / 64}" else null
      Row(r.get(1), detected, "node1", addr, nation, nation, "ssh", rules(r.getString(3)),
        s"sshd event ${r.getLong(0)} from $addr", null)
    }
    val tkSchema = StructType(Seq("created_at", "detected_at").map(StructField(_, TimestampType)) ++
      Seq("node_name", "address", "country_code", "country_name", "sensor", "rule", "payload")
        .map(StructField(_, StringType)) :+ StructField("reported_at", TimestampType))
    save(spark.createDataFrame(java.util.Arrays.asList(tk: _*), tkSchema), s"$dir/takuan_events")

    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    save(spark.createDataFrame(java.util.Arrays.asList(nation: _*), StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))), s"$dir/nation.parquet")

    // near-duplicates: ~4% of documents copy an earlier one with one or
    // two words replaced, ~0.5% copy it verbatim
    val texts = mutable.ArrayBuffer[String]()
    val docs = (0 until Docs).map { i =>
      val u = rnd.nextDouble()
      val text =
        if (i > 10 && u < 0.005) texts(rnd.nextInt(i))
        else if (i > 10 && u < 0.045) {
          val w = texts(rnd.nextInt(i)).split(' ')
          (0 until 1 + rnd.nextInt(2)).foreach(_ => w(rnd.nextInt(w.length)) = words(rnd.nextInt(words.length)))
          w.mkString(" ")
        } else Array.fill(8 + rnd.nextInt(72))(words(rnd.nextInt(words.length))).mkString(" ")
      texts += text
      val lu = rnd.nextDouble()
      val lang = langs.scanLeft(("", 0.0)) { case ((_, a), (l, p)) => (l, a + p) }.tail
        .find(_._2 >= lu).map(_._1).getOrElse("de")
      Row(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
    }
    save(spark.createDataFrame(java.util.Arrays.asList(docs: _*), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))), s"$dir/documents.parquet")
  }

  private def save(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)
}
