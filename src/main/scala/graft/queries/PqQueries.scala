package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.T
import graft.ops.Pq

/** Registry entries for product quantization ([[graft.ops.Pq]]): trained
  * micro-unit codebooks, corpus encoding, and exhaustive ADC top-k —
  * each hash-checked against the unrolled [[PqSql]] DuckDB oracle.
  *
  * Shared parameters (Spark and oracle MUST agree): m=16 subspaces of
  * subDim=4 over the 64-dim embeddings, k=32 cells per subspace (16×5-bit
  * codes ≈ 10 bytes/vector — a 25× smaller scan than the float rows),
  * 3 Lloyd iterations, queries = vec_id < 10, top-5. The synthetic
  * corpus is UNIFORM random — PQ's adversarial case (no cluster
  * structure to exploit; distances concentrate) — and still recalls
  * ~half of the exact top-5 (floor asserted in PqSpec); clustered real
  * embeddings sit far above that. */
object PqQueries {

  private val M = 16
  private val K = 32
  private val Iters = 3
  private val SubDim = 4 // 64-dim embeddings / M
  private val TopK = 5

  private def books(spark: SparkSession, dir: String) = {
    val emb = T.t(spark, dir, "embeddings")
    Pq.trainPqCodebooksMicro(T.par(spark, emb), m = M, k = K, iters = Iters)
  }

  /** Trained PQ codes of the whole corpus, flattened to (vec_id, sub,
    * code) scalar rows — training and encoding both oracle-replayed. */
  def embPqEncode(spark: SparkSession, dir: String): DataFrame = {
    val emb = T.t(spark, dir, "embeddings")
    Pq.encodeFlat(emb, books(spark, dir))
      .orderBy(col("vec_id"), col("sub"))
  }

  /** Exhaustive ADC top-5 for the 10-query panel over the PQ-encoded
    * corpus — the "PQ flat" index, 32-64× less scan bandwidth than the
    * float brute force it approximates (recall vs brute asserted in
    * PqSpec). */
  def simPqTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = T.t(spark, dir, "embeddings")
    Pq.pqTopKWith(emb.filter(col("vec_id") < 10), T.par(spark, emb),
        books(spark, dir), topK = TopK)
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF-PQ (Faiss IVFADC): micro-trained IVF cells (k=10, the
    * `sim_ivf_trained_topk` quantizer) restrict candidates to 3 probed
    * cells; PQ codes rank them by exact integer ADC. The oracle replays
    * BOTH trainings (KmeansSql chain + prefixed PqSql chain) and the
    * probe/rank serve path. */
  def simIvfPqTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = T.t(spark, dir, "embeddings")
    val par = T.par(spark, emb)
    val cents = graft.ops.Similarity.trainIvfCentroidsMicro(par, k = 10, iters = 3)
    Pq.ivfPqTopKWithMicro(emb.filter(col("vec_id") < 10), par,
        cents, books(spark, dir), topK = TopK, nProbe = 3)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Residual IVF-PQ (Faiss IVFADC proper): same coarse quantizer and
    * candidate probing as `sim_ivfpq_topk`, but PQ codebooks are trained
    * on and codes/distances computed over RESIDUALS v − centroid(cell) —
    * the same m·k code budget spent on local displacement. The oracle
    * replays the IVF training, the per-vector residual arithmetic, the
    * residual PQ training, and the residual serve — all exact integers. */
  def simIvfPqResidualTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = T.t(spark, dir, "embeddings")
    val par = T.par(spark, emb)
    val cents = graft.ops.Similarity.trainIvfCentroidsMicro(par, k = 10, iters = 3)
    val rbooks = Pq.trainResidualPqCodebooksMicro(par, cents,
      m = M, k = K, iters = Iters)
    Pq.ivfPqResidualTopKWithMicro(emb.filter(col("vec_id") < 10), par,
        cents, rbooks, topK = TopK, nProbe = 3)
      .orderBy(col("query_id"), col("rank"))
  }

  /** OPQ-lite: balanced-variance dimension permutation (snake-dealt by
    * exact integer variance), then the PQ chain over the PERMUTED micro
    * vectors — the engine-portable member of the OPQ family (a learned
    * rotation is not exactly representable; a permutation is). The
    * oracle replays the variance ranking, the snake assignment, and the
    * full permuted training/encode. */
  def embOpqEncode(spark: SparkSession, dir: String): DataFrame = {
    val emb = T.t(spark, dir, "embeddings")
    val par = T.par(spark, emb)
    val perm = Pq.balancedVariancePermutation(par, dim = 64, m = M)
    val pbooks = Pq.trainPermutedPqCodebooksMicro(par, perm,
      m = M, k = K, iters = Iters)
    Pq.encodePermutedFlat(emb, perm, pbooks)
      .orderBy(col("vec_id"), col("sub"))
  }

  private val srcCte =
    """src AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v
      |        FROM embeddings)""".stripMargin

  val all: Seq[Query] = Seq(
    Query("emb_pq_encode", embPqEncode,
      s"""WITH $srcCte,
         |${PqSql.trainCtes(k = K, iters = Iters, m = M, subDim = SubDim)}
         |SELECT vid AS vec_id, CAST(sub AS INTEGER) AS sub,
         |  CAST(code AS BIGINT) AS code
         |FROM enc ORDER BY vec_id, sub""".stripMargin),
    Query("sim_pq_topk", simPqTopk,
      s"""WITH $srcCte,
         |${PqSql.trainCtes(k = K, iters = Iters, m = M, subDim = SubDim)},
         |${PqSql.adcTopKSql(iters = Iters, qPred = "qm.vid < 10", topK = TopK)}"""
        .stripMargin),
    Query("sim_ivfpq_topk", simIvfPqTopk,
      s"""WITH $srcCte,
         |${KmeansSql.trainCtes("src", "TRUE", k = 10, iters = 3, dim = 64)},
         |cent AS (SELECT cell, cm FROM c3),
         |assign AS (${KmeansSql.assignSql("src", "cent")}),
         |probes AS (SELECT vid AS qid, cell FROM (
         |    SELECT s.vid, c.cell,
         |      row_number() OVER (PARTITION BY s.vid
         |        ORDER BY ${KmeansSql.cosMicro("s.v", "c.cm")} DESC, c.cell) AS rn
         |    FROM src s CROSS JOIN cent c WHERE s.vid < 10) WHERE rn <= 3),
         |cand AS (SELECT p.qid, a.vid AS nid
         |  FROM probes p JOIN assign a USING (cell)
         |  WHERE a.vid <> p.qid),
         |${PqSql.trainCtes(k = K, iters = Iters, m = M, subDim = SubDim,
             prefix = "p")},
         |${PqSql.adcTopKSql(iters = Iters, qPred = "qm.vid < 10", topK = TopK,
             prefix = "p",
             candJoin = "JOIN cand ON cand.qid = qm.vid AND cand.nid = e.vid")}"""
        .stripMargin),
    Query("sim_ivfpq_residual_topk", simIvfPqResidualTopk, {
      val idx = s"CAST(sub.range * $SubDim + i.range + 1 AS INTEGER)"
      val residX =
        s"CAST(floor(s.v[$idx] * 1000000) AS BIGINT) - c.cm[$idx]"
      s"""WITH $srcCte,
         |${KmeansSql.trainCtes("src", "TRUE", k = 10, iters = 3, dim = 64)},
         |cent AS (SELECT cell, cm FROM c3),
         |assign AS (${KmeansSql.assignSql("src", "cent")}),
         |probes AS (SELECT vid AS qid, cell FROM (
         |    SELECT s.vid, c.cell,
         |      row_number() OVER (PARTITION BY s.vid
         |        ORDER BY ${KmeansSql.cosMicro("s.v", "c.cm")} DESC, c.cell) AS rn
         |    FROM src s CROSS JOIN cent c WHERE s.vid < 10) WHERE rn <= 3),
         |cand AS (SELECT p.qid, a.vid AS nid, p.cell
         |  FROM probes p JOIN assign a USING (cell)
         |  WHERE a.vid <> p.qid),
         |resvm AS MATERIALIZED (SELECT s.vid, sub.range AS sub, i.range AS i,
         |    $residX AS x
         |  FROM src s JOIN assign a USING (vid) JOIN cent c ON c.cell = a.cell
         |  CROSS JOIN range($M) sub CROSS JOIN range($SubDim) i),
         |qrm AS MATERIALIZED (SELECT p.qid, p.cell, sub.range AS sub,
         |    i.range AS i, $residX AS x
         |  FROM probes p JOIN src s ON s.vid = p.qid
         |  JOIN cent c ON c.cell = p.cell
         |  CROSS JOIN range($M) sub CROSS JOIN range($SubDim) i),
         |${PqSql.trainCtes(k = K, iters = Iters, m = M, subDim = SubDim,
             prefix = "r", vmFrom = "resvm")},
         |${PqSql.residualAdcTopKSql(iters = Iters, topK = TopK, prefix = "r")}"""
        .stripMargin
    }),
    Query("emb_opq_encode", embOpqEncode,
      s"""WITH $srcCte,
         |vm0 AS MATERIALIZED (SELECT vid, d.range AS dim,
         |    CAST(floor(v[CAST(d.range + 1 AS INTEGER)] * 1000000) AS BIGINT) AS x
         |  FROM src CROSS JOIN range(64) d),
         |vstat AS (SELECT dim, count(*) AS n,
         |    sum(CAST(x AS HUGEINT)) AS s1, sum(CAST(x AS HUGEINT) * x) AS s2
         |  FROM vm0 GROUP BY dim),
         |rk AS (SELECT dim,
         |    row_number() OVER (ORDER BY n * s2 - s1 * s1 DESC, dim) - 1 AS k
         |  FROM vstat),
         |perm AS (SELECT dim,
         |    (CASE WHEN (k // $M) % 2 = 0 THEN k % $M
         |          ELSE $M - 1 - (k % $M) END) * $SubDim + k // $M AS slot
         |  FROM rk),
         |pvm AS MATERIALIZED (SELECT vm0.vid,
         |    CAST(p.slot // $SubDim AS BIGINT) AS sub,
         |    CAST(p.slot % $SubDim AS BIGINT) AS i, vm0.x
         |  FROM perm p JOIN vm0 ON vm0.dim = p.dim),
         |${PqSql.trainCtes(k = K, iters = Iters, m = M, subDim = SubDim,
             prefix = "o", vmFrom = "pvm")}
         |SELECT vid AS vec_id, CAST(sub AS INTEGER) AS sub,
         |  CAST(code AS BIGINT) AS code
         |FROM oenc ORDER BY vec_id, sub""".stripMargin),
  )
}
