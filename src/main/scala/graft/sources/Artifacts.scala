package graft.sources

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet persistence for trained model artifacts — the train-once /
  * persist / reuse flow: IVF centroids ([[graft.ops.Similarity.trainIvfCentroids]]),
  * logistic quality weights ([[graft.ops.QualityModel.trainLogistic]]),
  * and BPE merge tables ([[graft.ops.TextAnalysis.trainBpeMerges]]) are
  * all driver-sized, data-dependent, and expensive to recompute — a
  * production pipeline trains them in a maintenance job and every later
  * run loads the artifact instead of re-scanning the corpus. Plain
  * parquet with explicit ordering columns: engine-portable, inspectable
  * with any reader, and stable under partition layout (ordering is by
  * stored rank/index columns, never file order). */
object Artifacts {

  /** (cell_id, vec) centroid rows. */
  def saveCentroids(spark: SparkSession, cents: Array[(Long, Array[Float])],
      path: String): Unit = {
    import spark.implicits._
    cents.toSeq.map { case (id, v) => (id, v.toSeq) }
      .toDF("cell_id", "vec")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)
  }

  def loadCentroids(spark: SparkSession, path: String): Array[(Long, Array[Float])] =
    spark.read.parquet(path).orderBy(col("cell_id")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)

  /** (cell_id, vec) integer micro-unit centroid rows
    * ([[graft.ops.Similarity.trainIvfCentroidsMicro]]) — longs persist
    * bit-exactly, so a load is always the trained artifact, not a float
    * round-trip of it. */
  def saveCentroidsMicro(spark: SparkSession, cents: Array[(Long, Array[Long])],
      path: String): Unit = {
    import spark.implicits._
    cents.toSeq.map { case (id, v) => (id, v.toSeq) }
      .toDF("cell_id", "vec")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)
  }

  def loadCentroidsMicro(spark: SparkSession, path: String): Array[(Long, Array[Long])] =
    spark.read.parquet(path).orderBy(col("cell_id")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)

  /** (idx, value) weight rows; the bias is stored at idx = -1. */
  def saveLogistic(spark: SparkSession, weights: Array[Double], bias: Double,
      path: String): Unit = {
    import spark.implicits._
    (weights.zipWithIndex.map { case (w, i) => (i, w) } :+ ((-1, bias)))
      .toSeq.toDF("idx", "value")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)
  }

  def loadLogistic(spark: SparkSession, path: String): (Array[Double], Double) = {
    val rows = spark.read.parquet(path).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val dim = rows.keys.max + 1
    (Array.tabulate(dim)(rows(_)), rows(-1))
  }

  /** (rank, a, b) merge rows; rank is the merge priority. */
  def saveBpeMerges(spark: SparkSession, merges: Seq[(String, String)],
      path: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex.map { case ((a, b), i) => (i, a, b) }
      .toDF("rank", "a", "b")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)
  }

  def loadBpeMerges(spark: SparkSession, path: String): Seq[(String, String)] =
    spark.read.parquet(path).orderBy(col("rank")).collect()
      .map(r => r.getString(1) -> r.getString(2)).toSeq

  /** Trigram-LM count relations ([[graft.ops.TextAnalysis.trainTrigramCounts]])
    * — the one artifact here that is NOT driver-sized: n-gram count
    * tables are vocabulary-scale, so they persist as distributed
    * DataFrames (no coalesce(1), no collect — KenLM's count files,
    * parquet-shaped) and load back as DataFrames for the serve-side
    * equi-joins of [[graft.ops.TextAnalysis.scoreTrigramCounts]]. */
  def saveLmCounts(spark: SparkSession, path: String,
      c3: org.apache.spark.sql.DataFrame, c23: org.apache.spark.sql.DataFrame,
      c1: org.apache.spark.sql.DataFrame): Unit = {
    // trained-artifact layout (guide §6 output sizing): the count
    // relations are model-sized (bounded by the training slice's n-gram
    // vocabulary, single-digit MB), so each writes as ONE file — the
    // inherited input partitioning otherwise sprays ~32 tiny files per
    // table and every later serve pays the per-file open cost.
    // repartition(1), NOT coalesce(1): coalesce collapses the upstream
    // count aggregation into the single writer task, silently
    // serializing the whole reduce side on a larger training slice;
    // the one-partition shuffle of a model-sized table is noise
    // (ADVICE r16). The one partition is sorted on the n-gram key: the
    // shuffle hands rows over in fetch order, which varies run to run,
    // so unsorted the same counts would write a different file each time.
    def save(df: org.apache.spark.sql.DataFrame, name: String,
        keys: String*): Unit =
      df.repartition(1).sortWithinPartitions(keys.map(col): _*)
        .write.mode(SaveMode.Overwrite).parquet(s"$path/$name")
    save(c3, "c3", "t", "b12")
    save(c23, "c23", "b23", "w2")
    save(c1, "c1", "w3")
  }

  def loadLmCounts(spark: SparkSession, path: String):
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) =
    (spark.read.parquet(s"$path/c3"), spark.read.parquet(s"$path/c23"),
      spark.read.parquet(s"$path/c1"))
}
