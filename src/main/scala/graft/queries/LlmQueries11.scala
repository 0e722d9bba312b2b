package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.T
import graft.ops.Similarity
import LlmQueries9.ExactSql

/** Round-12 registry: incremental IVF index maintenance (VERDICT r11
  * item 7) — the batch-static train→persist→serve similarity surface
  * grows up: new embeddings are absorbed into the served index state by
  * exact integer merge, with a documented skew-based re-train trigger.
  * Everything runs on the bit-exact integer-micro path, so the oracles
  * replay with NO float anywhere.
  */
object LlmQueries11 {

  private def baseExt(spark: SparkSession, dir: String) = {
    val emb = T.t(spark, dir, "embeddings")
    (emb.filter(col("vec_id") < 400), emb.filter(col("vec_id") >= 400))
  }

  private def mergedState(spark: SparkSession, dir: String): DataFrame = {
    val (base, ext) = baseExt(spark, dir)
    // centroids trained (stride convention) on the BASE corpus only —
    // the extension arrives later, against the already-served quantizer
    val cents = Similarity.quantizeMicro(
      Similarity.ivfCentroids(T.par(spark, base), 50))
    val st = Similarity.ivfIndexState(T.par(spark, base), cents)
    Similarity.extendIvfIndexState(st, T.par(spark, ext), cents)
  }

  /** Incremental index state after absorbing the vec_id >= 400 extension
    * into the base-trained index ([[Similarity.ivfIndexState]] →
    * [[Similarity.extendIvfIndexState]]). The oracle replays the
    * ONE-SHOT computation over the unioned corpus — equality IS the
    * exact-mergeability proof (integer sums are associative; nothing
    * here rounds or accumulates doubles). */
  def simIvfIncremental(spark: SparkSession, dir: String): DataFrame =
    mergedState(spark, dir).orderBy(col("cell"), col("dim_idx"))

  /** The re-train trigger over the merged state
    * ([[Similarity.ivfRetrainAdvice]]): per-cell load relative to the
    * mean cell in integer micro units, flagged above the 4x-mean skew
    * bound. */
  def simIvfRetrain(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfRetrainAdvice(mergedState(spark, dir))
      .orderBy(col("cell"))

  // Shared exact replay: quantize, assign every vector (base AND
  // extension) against the base-trained stride centroids with the
  // integer-micro cosine argmax, then integer-aggregate per (cell, dim).
  private val stateCtes: String =
    s"""corp AS (
       |  SELECT vec_id, vm, ${ExactSql.idot("vm", "vm")} AS nsq
       |  FROM (SELECT vec_id, ${ExactSql.microList("embedding")} AS vm
       |        FROM embeddings)),
       |cent AS (SELECT vec_id AS cid, vm AS cm, nsq AS cn
       |         FROM corp WHERE vec_id < 400 AND vec_id % 50 = 0),
       |scored AS (
       |  SELECT vec_id, cid, sim AS s FROM (
       |    ${ExactSql.cosMicroOver(
           """SELECT c.vec_id, t.cid, """ + ExactSql.idot("c.vm", "t.cm") +
             """ AS dt, CAST(c.nsq AS HUGEINT) * t.cn AS nn
               |     FROM corp c CROSS JOIN cent t""".stripMargin,
           "vec_id, cid")})),
       |assign AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |    FROM scored) WHERE rn = 1),
       |st AS (
       |  SELECT a.cell, r.range AS dim_idx,
       |    CAST(count(*) AS BIGINT) AS n_vecs,
       |    CAST(sum(c.vm[CAST(r.range + 1 AS INTEGER)]) AS BIGINT) AS sum_micro
       |  FROM assign a JOIN corp c USING (vec_id) CROSS JOIN range(64) r
       |  GROUP BY 1, 2)""".stripMargin

  val all: Seq[Query] = Seq(
    Query("sim_ivf_incremental", simIvfIncremental,
      s"""WITH $stateCtes
         |SELECT cell, dim_idx, n_vecs, sum_micro,
         |  CAST((sum_micro + n_vecs * 1000000000) // n_vecs
         |       - 1000000000 AS BIGINT) AS centroid_micro
         |FROM st ORDER BY cell, dim_idx""".stripMargin),
    Query("sim_ivf_retrain", simIvfRetrain,
      s"""WITH $stateCtes,
         |pc AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs
         |       FROM assign GROUP BY 1),
         |t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS tt,
         |        CAST(count(*) AS BIGINT) AS cc FROM pc)
         |SELECT cell, n_vecs,
         |  CAST((n_vecs * cc * 1000000) // greatest(tt, 1) AS BIGINT)
         |    AS load_micro,
         |  (n_vecs * cc * 1000000) // greatest(tt, 1) > 4000000
         |    AS needs_retrain
         |FROM pc CROSS JOIN t ORDER BY cell""".stripMargin),
  )
}
