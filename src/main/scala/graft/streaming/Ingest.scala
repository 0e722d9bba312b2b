package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.config.{GraftConfig, SensorConf}
import graft.parse.LogParser
import graft.enrich.GeoIp

/** Streaming ingest (SURVEY §2.8; reference: core/sensor.go + the
  * aggregator's buffer/flush machinery).
  *
  * Semantic mapping from the reference's tail-a-single-file loop:
  *  - S1 tail-file scan  → a config naming a plain FILE gets the
  *    [[TailFileSource]] (per-file byte-offset resume — literal tail -f
  *    parity, including intra-file appends); a config naming a
  *    *directory* gets the file-stream text source — log shippers land
  *    rotated files into a directory; each new file is discovered per
  *    micro-batch.
  *  - S2 rotation reset  → tail source: size-below-offset reset, the
  *    reference's own heuristic; directory source: new files are new
  *    inputs, no offset juggling.
  *  - S3/S4 offset state → the streaming checkpoint WAL. Exactly-once
  *    versus the reference's at-least-once cursor (ST6 — an upgrade, not a
  *    divergence: the reference can both lose buffered events on crash and
  *    double-ingest on unlucky timing).
  *  - S5 MySQL sink      → partitioned-parquet append per micro-batch; a
  *    columnar bulk append instead of row-at-a-time INSERT.
  *  - ST1 cadence        → Trigger.ProcessingTime(sensor.period); the
  *    reference's separate DB-flush ticker collapses into the micro-batch
  *    commit itself.
  *
  * Scale: the parse/classify/enrich stages are all narrow, so each
  * micro-batch is one embarrassingly parallel scan→append stage with zero
  * shuffles and no other job. The tail source cuts a batch over 64 KiB
  * into line-aligned slices, up to one per core; the geo lookup reads a
  * range index broadcast once per geo DataFrame, which every sensor
  * stream shares ([[GeoIp.enrich]]). The sink partitions by
  * (event_date, sensor) so downstream report queries prune to the slice
  * they need. A sensor's stage classes compile once per JVM, not once per
  * micro-batch or per query: the batch timestamp is read from the stage's
  * references instead of written into its code ([[LogParser.pipeline]]),
  * so every batch generates the same source, and `GraftApp.session` turns
  * off artifact isolation, so every stream's tasks load classes through
  * one classloader, the key of Spark's compiled-class cache.
  */
object Ingest {

  /** The events table as read back from `eventsPath`: the
    * [[LogParser.pipeline]] columns, then the `sensor` and `event_date`
    * partitions [[sensorQuery]] writes. Readers take this instead of
    * inferring it, so they can start before the first batch commits. */
  val EventsSchema: StructType = StructType(
    Seq("created_at" -> TimestampType, "detected_at" -> TimestampType,
      "node_name" -> StringType, "address" -> StringType,
      "country_code" -> StringType, "country_name" -> StringType,
      "rule" -> StringType, "payload" -> StringType,
      "reported_at" -> TimestampType, "sensor" -> StringType,
      "event_date" -> DateType)
      .map { case (name, t) => StructField(name, t) })

  /** One sensor's stream: lines → events appended to `eventsPath`. */
  def sensorQuery(
      spark: SparkSession,
      sensor: SensorConf,
      nodeName: String,
      eventsPath: String,
      checkpointRoot: String,
      geo: Option[DataFrame] = None,
      trigger: Trigger = null): StreamingQuery = {
    // The reference tails a single file (core/sensor.go:51). A config
    // pointing at a plain file gets the byte-offset tail source
    // ([[TailFileSource]] — S1/S2 parity: appends to the same file ARE
    // re-scanned from the recorded offset, truncation resets); a
    // directory gets Spark's file-discovery text source.
    val f = new java.io.File(sensor.filename)
    val lines =
      if (f.isFile)
        spark.readStream.format("tail-file").load(f.getAbsolutePath)
      else spark.readStream.text(sensor.filename)
    val parsed = LogParser.pipeline(lines, sensor, nodeName)
    val enriched = geo.map(g => GeoIp.enrich(parsed, g)
        .select(parsed.columns.map(col): _*))
      .getOrElse(parsed)
    val withDate = enriched.withColumn("event_date", to_date(col("detected_at")))
    // Each sensor commits into its own hive-style partition directory
    // (sensor=<name>/event_date=…). Concurrent streams appending to ONE
    // directory race on the shared _temporary committer dir; per-sensor
    // roots isolate the committers, and partition discovery still exposes
    // `sensor` as a column when reading eventsPath as one table.
    val sensorDir = s"$eventsPath/sensor=${sensor.name}"
    // Native parquet file sink, not a foreachBatch append: the sink's
    // _spark_metadata manifest commits each batch's files atomically, so a
    // crash between writing files and recording the batch cannot
    // double-append on retry (foreachBatch + plain append is exactly-once
    // only down to batch granularity). The manifest dir starts with '_',
    // which partition discovery ignores when the whole eventsPath is read
    // as one table.
    val writer = withDate.drop("sensor").writeStream
      .queryName(s"graft-ingest-${sensor.name}")
      .format("parquet")
      .option("path", sensorDir)
      .partitionBy("event_date")
      .option("checkpointLocation", s"$checkpointRoot/${sensor.name}")
    Option(trigger).map(writer.trigger)
      .getOrElse(writer.trigger(Trigger.ProcessingTime(s"${sensor.periodSecs} seconds")))
      .start()
  }

  /** Start every enabled sensor (disabled sensors are pruned at plan build,
    * reference: core/aggregator.go:211-216). */
  def startAll(
      spark: SparkSession,
      conf: GraftConfig,
      eventsPath: String,
      checkpointRoot: String,
      geo: Option[DataFrame] = None): Seq[StreamingQuery] =
    conf.enabledSensors.map(s =>
      sensorQuery(spark, s, conf.nodeName, eventsPath, checkpointRoot, geo))
}
