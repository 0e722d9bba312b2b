package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table loading + deterministic-arithmetic helpers shared by all query
  * registries.
  *
  * Determinism contract with the DuckDB oracle: floating-point SUM/AVG is
  * order-dependent, and both engines aggregate in nondeterministic partition
  * order. All monetary aggregates therefore go through exact integer cents
  * (`round(x*100)` is unambiguous because the synthetic data carries 2-decimal
  * values), are summed as longs, and only converted back to double by a single
  * exact division at the end. Every query orders its output by a unique key
  * set so row order is reproducible too.
  */
object T {

  /** Load one of the driver's parquet tables from an sf directory. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The events table has carried two `ts` encodings across testdata
    * generations: nanosecond parquet timestamps (which Spark's vectorized
    * reader rejects outright — read as raw nanos via
    * legacy.parquet.nanosAsLong and convert with integer division; a
    * double-based division would lose precision above 2^53 ns) and plain
    * microsecond timestamps (read natively). Dispatch on the loaded type so
    * both generations work; either way the µs value matches DuckDB's
    * CAST(ts AS TIMESTAMP) used by the oracle.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // Normalize to TimestampType (LTZ) — the type the ns generation
        // produced. Sessions pin spark.sql.session.timeZone=UTC, so the
        // wall-clock values are unchanged; watermarks and long casts
        // (which reject NTZ) keep working.
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df // already a (µs) LTZ timestamp column
    }
  }

  /** Spread a small input across cores before a compute-heavy narrow
    * stage — SCALE-ADAPTIVELY. The width is a function of the estimated
    * input size, never a constant: one task per [[MinBytesPerTask]]
    * (64 KiB) of estimated input, clamped to [1, defaultParallelism].
    * At production scale any real relation estimates far past
    * cores × minBytes, so the clamp makes this identical to the old
    * unconditional repartition(defaultParallelism); on kilobyte-sized
    * inputs the fan-out (and for sub-minBytes inputs the exchange itself)
    * is pure per-task fixed cost and is skipped. Measured r16: the whole
    * 361-entry bench ran 322 s on 32 cores vs 250 s on 8 — per-task
    * scheduling overhead on ~18 KB tasks buried the tail (guide §2
    * partitioning discipline, §6 split sizing).
    *
    * The 64 KiB floor was calibrated on a 36-query regression/improvement
    * panel at sf0.1 (r17): a 1 MiB floor serialized the CPU-dense text
    * kernels (ct_langid 2.1 → 9.6 s, wordpiece 2.1 → 5.6 s), 256 KiB
    * still left 2-3× penalties, while 64 KiB healed them within noise
    * and kept the tail's task-count win. The constant is a lower bound
    * on what one task's scheduling overhead can amortize — it is the
    * same at any SF and any core count, and at cluster scale it is
    * dominated by the cores clamp (any real stage input ≫ cores·64 KiB).
    *
    * The size estimate is the analyzed plan's sizeInBytes (file bytes for
    * a scan; conservative upward for joins/unknowns, which then clamp to
    * full width — the safe side). Kernels whose per-row CPU dwarfs their
    * bytes (subword segmentation, window hashing, char-ngram scoring,
    * edit distance, hash projections, regex parse) must use [[parCpu]]
    * instead: bytes are the wrong cost proxy there and full width is
    * correct at every scale. */
  def par(spark: SparkSession, df: DataFrame): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    val n = parWidth(df, cores)
    if (n <= 1) df else df.repartition(n)
  }

  /** The input bytes one [[par]] task must cover (calibration above). */
  private val MinBytesPerTask = 64L << 10

  /** Adaptive width of `df`: [[widthFor]] its estimated bytes.
    * Unknown/huge estimates clamp to full width. */
  private[graft] def parWidth(df: DataFrame, cores: Int): Int =
    widthFor(
      try df.queryExecution.analyzed.stats.sizeInBytes
      catch { case _: Throwable => BigInt(Long.MaxValue) },
      cores)

  /** ceil(bytes / MinBytesPerTask) clamped to [1, cores] — also the
    * slice count of a tail-file micro-batch ([[graft.streaming
    * .TailMicroBatchStream]]). */
  private[graft] def widthFor(bytes: BigInt, cores: Int): Int =
    if (bytes >= BigInt(MinBytesPerTask) * cores) cores
    else math.max(1, ((bytes + MinBytesPerTask - 1) / MinBytesPerTask).toInt)

  /** Full-width fan-out for CPU-BOUND narrow kernels (the pre-r17
    * unconditional [[par]]): per-row cost dwarfs bytes, so the byte
    * heuristic above would serialize genuinely parallel work. Flipped
    * call sites each carry the r17 width-1-vs-full measurement that
    * justified them — subword segmentation, ExactSubstr window hashing,
    * char-ngram language ID, edit-distance verify, kNN hash projections,
    * regex parse, GD featurization — nothing else. */
  def parCpu(spark: SparkSession, df: DataFrame): DataFrame =
    df.repartition(spark.sparkContext.defaultParallelism)

  /** Exact cents: 2-decimal double -> long. Same result in DuckDB via
    * CAST(round(x*100, 0) AS BIGINT). */
  def cents(c: Column): Column = round(c * 100, 0).cast("long")

  /** Order-independent exact money sum, returned as double (one exact
    * integer/100.0 division — bit-identical across engines). */
  def moneySum(c: Column): Column = sum(cents(c)) / 100.0

  /** Order-independent exact money avg: integer cents sum / count, two exact
    * double divisions. */
  def moneyAvg(c: Column): Column = sum(cents(c)) / count(lit(1)) / 100.0

  /** DuckDB-side fragments mirroring the helpers above (kept adjacent so the
    * two dialects stay in sync). */
  object sql {
    def cents(x: String): String = s"CAST(round(($x)*100, 0) AS BIGINT)"
    def moneySum(x: String): String = s"(CAST(sum(${cents(x)}) AS BIGINT) / 100.0)"
    def moneyAvg(x: String): String = s"(CAST(sum(${cents(x)}) AS BIGINT) / count(*) / 100.0)"
  }
}
