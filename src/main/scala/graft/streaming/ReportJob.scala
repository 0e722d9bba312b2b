package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.report.Reporter

/** Where report artifacts go once computed (reference: git push S11 +
  * tweet S12 — network side effects stubbed behind this trait; the CSV
  * write itself is real). */
trait ReportPublisher {
  /** @return the public URL for the report (reference: reporter.go:199-204) */
  def publishCsv(localCsvDir: String, addresses: Long, events: Long): String
  def publishSummary(tweet: String): Unit
}

/** Log-only publisher: records what would be pushed/tweeted. The reference's
  * git+twitter calls are driver-side effects after the aggregation — they
  * are deliberately not Spark operators (SURVEY §2.1 S11/S12). */
class LogPublisher extends ReportPublisher {
  val published = scala.collection.mutable.ArrayBuffer[String]()
  override def publishCsv(dir: String, addresses: Long, events: Long): String = {
    // commit-message parity: "reporting %d addresses, %d total events"
    published += s"csv: $dir (reporting $addresses addresses, $events total events)"
    s"file://$dir"
  }
  override def publishSummary(tweet: String): Unit = published += s"tweet: $tweet"
}

/** The report cadence (ST2; reference: core/aggregator.go:227-239 +
  * core/reporter.go): every `period`, aggregate the events that arrived
  * since the last report and publish CSV + country summary.
  *
  * The reference marks rows `reported_at = now()` one UPDATE at a time
  * (S8) to track "unreported" state; here the streaming checkpoint over the
  * events table *is* that state — "unreported" = "not yet seen by this
  * query" — so no table rewrite happens at all. `reported_at` parity for
  * consumers is preserved by stamping the column on the report ledger
  * output instead of mutating the fact table.
  */
object ReportJob {

  /** One report pass over a batch of fresh events (also usable standalone
    * as the batch analogue). Returns rows in the report for inspection. */
  def reportBatch(events: DataFrame, outDir: String, publisher: ReportPublisher,
      now: java.time.ZonedDateTime = java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC)): Long = {
    if (events.isEmpty) return 0L
    val report = Reporter.report(events).cache()
    try {
      val dir = Reporter.writeCsv(report, outDir, now)
      val (total, addresses) = Reporter.totals(events)
      val url = publisher.publishCsv(dir, addresses, total)
      val tweet = Reporter.tweetText(Reporter.countrySummary(events), total, url)
      publisher.publishSummary(tweet)
      report.count()
    } finally report.unpersist()
  }

  /** Streaming cadence over the ingested events table. `now` is the
    * report clock (injectable so end-to-end runs are deterministic and
    * golden-comparable, exactly like the batch path). */
  def stream(
      spark: SparkSession,
      eventsPath: String,
      outDir: String,
      checkpoint: String,
      publisher: ReportPublisher,
      periodSecs: Int = 3600,
      now: () => java.time.ZonedDateTime =
        () => java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC)): StreamingQuery = {
    // a fresh deployment starts this before any ingest batch commits
    val dir = new org.apache.hadoop.fs.Path(eventsPath)
    dir.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(dir)
    spark.readStream.schema(Ingest.EventsSchema).parquet(eventsPath)
      .writeStream
      .queryName("graft-report")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(s"$periodSecs seconds"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        reportBatch(batch, outDir, publisher, now())
        ()
      }
      .start()
  }
}
