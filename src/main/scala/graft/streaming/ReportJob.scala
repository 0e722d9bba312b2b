package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
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
    * as the batch analogue). Returns rows in the report for inspection.
    *
    * The CSV, the commit-message totals and the row count come from one
    * observed pass. [[Reporter.perAddress]] shuffles once, keyed on
    * address; its rows are coalesced into one writer task, which sorts them
    * into [[Reporter.Order]] and writes the single CSV file, so no range
    * sort samples the rows or shuffles them again. An unnamed
    * [[Observation]] in that task counts the rows and the non-null
    * addresses (= `countDistinct(address)`) and sums `total_events` (= the
    * event count). A batch with no events writes a header-only file; the
    * observed row count finds it, its directory is deleted and nothing is
    * published, so no separate emptiness job runs. The tweet adds one
    * country-summary scan. On the perfbench `service` backlog report (4
    * vCPUs, 8 event files) the traced pass runs 5 jobs with 11 tasks,
    * against 9 jobs with 19 tasks for a two-level aggregate, a range sort
    * and an emptiness check. The report is not cached, because a cached
    * plan's shuffles are not coalesced by AQE. The observation has no name,
    * so concurrent report passes in one session never share a metric name.
    * A frame with no columns has no events: it returns 0 without a job. */
  def reportBatch(events: DataFrame, outDir: String, publisher: ReportPublisher,
      now: java.time.ZonedDateTime = java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC)): Long = {
    if (events.columns.isEmpty) return 0L
    val seen = Observation()
    val report = Reporter.perAddress(events).observe(seen,
      count(lit(1)).as("rows"), count(col("address")).as("addresses"),
      sum(col("total_events")).as("events"))
    // already one partition, sorted in its task: no second coalesce
    val dir = Reporter.writeCsv(report.coalesce(1).sortWithinPartitions(Reporter.Order: _*),
      outDir, now, singleFile = false)
    val m = seen.get
    val rows = m("rows").asInstanceOf[Long]
    if (rows == 0) {
      val out = new Path(dir)
      out.getFileSystem(events.sparkSession.sessionState.newHadoopConf()).delete(out, true)
      return 0L
    }
    val total = m("events").asInstanceOf[Long]
    val url = publisher.publishCsv(dir, m("addresses").asInstanceOf[Long], total)
    publisher.publishSummary(Reporter.tweetText(Reporter.countrySummary(events), total, url))
    rows
  }

  /** Streaming cadence over the ingested events table. `now` is the
    * report clock (injectable so end-to-end runs are deterministic and
    * golden-comparable, exactly like the batch path).
    *
    * A batch replayed after a crash (its offsets logged, its commit not)
    * is published once: each published `batchId` is recorded as an empty
    * file under `<checkpoint>/published`, and a batch whose id is there is
    * skipped. Spark replays only the latest batch, so recording id n drops
    * the mark of n - 1. The id is recorded after publication, so a crash
    * between publishing and recording still publishes that batch again. */
  def stream(
      spark: SparkSession,
      eventsPath: String,
      outDir: String,
      checkpoint: String,
      publisher: ReportPublisher,
      periodSecs: Int = 3600,
      now: () => java.time.ZonedDateTime =
        () => java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC)): StreamingQuery = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    // a fresh deployment starts this before any ingest batch commits
    val dir = new Path(eventsPath)
    dir.getFileSystem(hadoopConf).mkdirs(dir)
    val ledger = new Path(checkpoint, "published")
    val ledgerFs = ledger.getFileSystem(hadoopConf)
    spark.readStream.schema(Ingest.EventsSchema).parquet(eventsPath)
      .writeStream
      .queryName("graft-report")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(s"$periodSecs seconds"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val mark = new Path(ledger, batchId.toString)
        if (!ledgerFs.exists(mark)) {
          reportBatch(batch, outDir, publisher, now())
          ledgerFs.create(mark).close()
          ledgerFs.delete(new Path(ledger, (batchId - 1).toString), false)
        }
        ()
      }
      .start()
  }
}
