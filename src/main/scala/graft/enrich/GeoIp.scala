package graft.enrich

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.ip_to_num

/** GeoIP enrichment (SURVEY §2.3 J1; reference: core/aggregator.go:62-66).
  *
  * The reference does an O(1) in-process mmdb lookup per event. The
  * Spark form is a deterministic function over a broadcast range index
  * (SURVEY J1 option B): the range table (~hundreds of k rows — GeoLite2
  * scale) is collected once, sorted by start and broadcast, and each event
  * binary-searches it for the last range with `start <= ip`, matching iff
  * `ip <= end`. The enriched plan has no join and no exchange: the lookup
  * runs inside the fact side's own stage, so an ingest micro-batch is one
  * narrow stage with no per-batch geo job, at any event volume.
  *
  * Index lifetime: one index per geo DataFrame, by object identity. Every
  * [[enrich]] call with the same DataFrame (every sensor stream of
  * [[graft.streaming.Ingest.startAll]]) shares one broadcast; a new
  * DataFrame rereads its source. Like takuan opening its mmdb once at
  * start, a geo file edited while the service runs is not seen until the
  * caller builds a new DataFrame over it.
  *
  * Left-outer semantics: unmatched or unparseable addresses keep NULL
  * country columns, exactly like the reference ignoring lookup errors.
  */
object GeoIp {

  /** Expected geo schema: start_ip_num, end_ip_num, country_code,
    * country_name (FIXTURES.md B.4 — the mmdb content flattened to
    * ranges). [[Mmdb.fromMmdb]] reads the binary `.mmdb` directly into the
    * same schema; this CSV form covers pre-flattened exports. */
  def fromCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true")
      .schema("start_ip_num LONG, end_ip_num LONG, country_code STRING, country_name STRING")
      .csv(path)

  /** Sorted, non-overlapping ranges; range i maps to `dict(ids(i))`, the
    * distinct (country_code, country_name) pairs. */
  private[enrich] final class RangeIndex(starts: Array[Long], ends: Array[Long],
      ids: Array[Int], dict: Array[(String, String)]) extends Serializable {

    /** (country_code, country_name) of the range holding `ip`, if any. */
    def lookup(ip: Long): Option[(String, String)] = {
      val i = java.util.Arrays.binarySearch(starts, ip)
      val last = if (i >= 0) i else -i - 2 // last range with start <= ip
      if (last >= 0 && ip <= ends(last)) Some(dict(ids(last))) else None
    }
  }

  /** Collect `geo` into a [[RangeIndex]]. Rows with a NULL bound or
    * `start > end` can hold no address and are dropped; overlapping ranges
    * are rejected, naming the first overlapping pair. */
  private def build(geo: DataFrame): RangeIndex = {
    val rows = geo
      .where(col("start_ip_num") <= col("end_ip_num"))
      .select(col("start_ip_num").cast("long"), col("end_ip_num").cast("long"),
        col("country_code"), col("country_name"))
      .collect()
      .sortBy(_.getLong(0))
    val starts = rows.map(_.getLong(0))
    val ends = rows.map(_.getLong(1))
    (1 until rows.length).find(i => starts(i) <= ends(i - 1)).foreach { i =>
      throw new IllegalArgumentException(
        s"geo ranges overlap: [${starts(i - 1)}, ${ends(i - 1)}] " +
          s"${rows(i - 1).getString(2)} and [${starts(i)}, ${ends(i)}] " +
          s"${rows(i).getString(2)}; GeoIp.enrich needs non-overlapping ranges")
    }
    val pairs = rows.map(r => (r.getString(2), r.getString(3)))
    val dict = pairs.distinct
    val idOf = dict.zipWithIndex.toMap
    new RangeIndex(starts, ends, pairs.map(idOf), dict)
  }

  /** Broadcast indexes by geo DataFrame. `Dataset` does not override
    * `equals`, so the key is object identity; an entry goes once its
    * DataFrame is unreachable, and the ContextCleaner then frees the
    * broadcast when no running query holds it. */
  private val indexes = new java.util.WeakHashMap[DataFrame, Broadcast[RangeIndex]]()

  /** Index builds so far (tests assert sharing on it). */
  @volatile private[graft] var buildCount: Long = 0L

  private def index(geo: DataFrame): Broadcast[RangeIndex] = indexes.synchronized {
    Option(indexes.get(geo)).getOrElse {
      val bc = geo.sparkSession.sparkContext.broadcast(build(geo))
      indexes.put(geo, bc)
      buildCount += 1
      bc
    }
  }

  /** Enrich `events` (any DataFrame with a dotted-quad `addrCol`) with
    * country_code / country_name, overwriting them if present (the
    * backfill path). Ranges must be non-overlapping (true of GeoIP data);
    * an overlap fails the call. */
  def enrich(events: DataFrame, geo: DataFrame, addrCol: String = "address"): DataFrame = {
    val bc = index(geo)
    // primitive input: a NULL ip_num (unparseable address) yields NULL
    val lookup = udf((ip: Long) => bc.value.lookup(ip))
    events.drop("country_code", "country_name")
      .withColumn("__geo", lookup(ip_to_num(col(addrCol))))
      .withColumn("country_code", col("__geo._1"))
      .withColumn("country_name", col("__geo._2"))
      .drop("__geo")
  }

  /** §3.3 geo backfill (`-geo` flag; core/aggregator.go:174-209): re-resolve
    * every event's country and report how many changed. Batch overwrite —
    * the Spark analogue of its per-row UPDATE loop. */
  def backfill(events: DataFrame, geo: DataFrame): (DataFrame, Column) = {
    val refreshed = enrich(
      events.withColumnRenamed("country_code", "old_country_code")
        .withColumnRenamed("country_name", "old_country_name"),
      geo)
    val changed = coalesce(col("country_code"), lit("")) =!=
      coalesce(col("old_country_code"), lit(""))
    (refreshed.drop("old_country_code", "old_country_name"), changed)
  }
}
