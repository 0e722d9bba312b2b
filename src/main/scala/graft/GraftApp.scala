package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.config.GraftConfig
import graft.enrich.{GeoIp, Mmdb, ReverseDns}
import graft.streaming.{Ingest, LogPublisher, ReportJob}

/** Service entry point (reference: cmd/takuan/main.go:16-36): load + validate
  * config, start one ingest stream per enabled sensor, start the report
  * cadence, run until terminated. `--geo` runs the one-shot geo backfill
  * instead (reference: cmd/takuan/vars.go:20, core/aggregator.go:174-209).
  *
  * Usage:
  *   graft.GraftApp <config.yml> <eventsPath> <checkpointRoot> <reportDir> [geoDb]
  *   graft.GraftApp --geo <geoDb> <eventsPath> <outPath>
  *   graft.GraftApp --rdns <eventsPath> <outPath>
  *
  * `--rdns` is the one-shot reverse-DNS hostname backfill (the
  * reference's disabled-as-SLOW J2 enrichment, re-shaped to resolve the
  * distinct address dimension instead of every event — [[ReverseDns]]).
  *
  * `geoDb` is either a flattened range CSV or a binary `.mmdb` file (the
  * reference's native format — read by [[Mmdb]], selected by extension).
  */
object GraftApp {

  /** Geo source by extension: `.mmdb` binary or flattened-range CSV. */
  private def geoSource(spark: SparkSession, path: String) =
    if (path.endsWith(".mmdb")) Mmdb.fromMmdb(spark, path)
    else GeoIp.fromCsv(spark, path)

  def session(appName: String = "graft"): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // the report's typed counter aggregator (and collect_list in the
      // late-enrich report) runs in ObjectHashAggregate; its default
      // fallback (sort-based after 128 in-memory keys) is far too
      // conservative for small per-key buffers
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      // every streaming query runs on a clone of this session; with
      // artifact isolation on (the default), each clone gets its own
      // executor classloader, and CodeGenerator's class cache is keyed on
      // the classloader, so each new sensor stream recompiled every stage
      // class. The service adds no session artifacts (jars, files) to
      // isolate, so its sessions share one loader and each stage class is
      // compiled once per JVM. Read only when the session is created.
      .config("spark.sql.artifact.isolation.enabled", "false")
    // under spark-submit the master comes from the launcher; standalone
    // runs (tests, local smoke) fall back to all local cores
    val withMaster =
      if (sys.props.contains("spark.master")) b else b.master("local[*]")
    val s = withMaster.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "--geo" :: geoDb :: eventsPath :: outPath :: Nil =>
      val spark = session("graft-geo-backfill")
      val (refreshed, changed) = GeoIp.backfill(
        spark.read.parquet(eventsPath), geoSource(spark, geoDb))
      val total = refreshed.count()
      val nChanged = refreshed.filter(changed).count()
      refreshed.write.mode("overwrite").parquet(outPath)
      // counter-log parity with core/aggregator.go:206
      println(s"[graft] geo backfill: $nChanged/$total events updated -> $outPath")
      spark.stop()

    case "--rdns" :: eventsPath :: outPath :: Nil =>
      val spark = session("graft-rdns-backfill")
      val events = spark.read.parquet(eventsPath)
      val refreshed = ReverseDns.backfill(events)
      val total = refreshed.count()
      val resolved = refreshed.filter(col("hostname").isNotNull).count()
      refreshed.write.mode("overwrite").parquet(outPath)
      println(s"[graft] rdns backfill: $resolved/$total events resolved -> $outPath")
      spark.stop()

    case configPath :: eventsPath :: checkpointRoot :: reportDir :: rest =>
      val spark = session()
      val conf = GraftConfig.load(configPath) // fail-fast regex/token checks
      val geo = rest.headOption.map(geoSource(spark, _))
      val streams = Ingest.startAll(spark, conf, eventsPath, checkpointRoot, geo)
      require(streams.nonEmpty, "no enabled sensors in config")
      val reporter = conf.reports.filter(_.enabled).map { r =>
        // repository configured => real git publication (S11); otherwise
        // log-only (the reference requires the repo section to publish)
        val base: graft.streaming.ReportPublisher =
          if (r.gitConfigured)
            new graft.report.GitPublisher(r.localDir, r.remote, r.httpBase).init()
          else new LogPublisher
        // twitter credentials configured => real OAuth1 POST on the
        // summary channel (S12; reference: core/config.go:46-50 gates on
        // twitter.enabled the same way)
        val publisher = conf.twitter.filter(_.configured).map { t =>
          new graft.report.TwitterSummaryPublisher(
            new graft.report.TwitterPoster(graft.report.OAuth1Creds(
              t.consumerKey, t.consumerSecret, t.accessKey, t.accessSecret)),
            base): graft.streaming.ReportPublisher
        }.getOrElse(base)
        ReportJob.stream(spark, eventsPath, reportDir,
          s"$checkpointRoot/__report", publisher, r.periodSecs)
      }
      println(s"[graft] ${streams.size} sensor stream(s) + " +
        s"${reporter.size} report stream(s) running")
      spark.streams.awaitAnyTermination()

    case _ =>
      System.err.println(
        """usage: graft.GraftApp <config.yml> <eventsPath> <checkpointRoot> <reportDir> [geoDb]
          |       graft.GraftApp --geo <geoDb> <eventsPath> <outPath>
          |       graft.GraftApp --rdns <eventsPath> <outPath>
          |geoDb is a flattened range CSV or a binary .mmdb file""".stripMargin)
      sys.exit(2)
  }
}
