package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.T
import graft.ops.Similarity

/** Round-11 registry: cross-lingual bitext mining (VERDICT r10 item 8)
  * — margin-based parallel-pair extraction over the shared embedding
  * space, the canonical missing member of the curation family
  * (CCMatrix / WikiMatrix corpus construction).
  */
object LlmQueries9 {

  /** Margin-scored bitext mining over the embeddings fixture
    * ([[Similarity.mineBitextIvfExact]] →
    * [[Similarity.bitextMarginPairsMicro]]): even vec_ids play the
    * source language, odd the target (a split of one shared space —
    * exactly the multilingual-encoder setup the miner assumes). One
    * shared every-50th IVF index serves both probe directions (k = 4,
    * nProbe = 3); every candidate pair is scored by the Artetxe–Schwenk
    * ratio margin in integer micro units and flagged is_src_best /
    * is_tgt_best / mutual. Row-stable (flags, not filters), so the
    * oracle checks the full scored relation; the mined corpus is
    * `mutual && margin >= threshold` downstream
    * ([[Similarity.minedBitext]]).
    *
    * Round-12 migration (VERDICT r11 item 1): the whole pipeline —
    * quantization, cell assignment, candidate sims, margins — runs on
    * the BIT-EXACT integer-micro path ([[graft.functions.ExactMicroOps]]),
    * so no round(double, 6) half-way boundary exists anywhere in the
    * oracle contract and the replay is identical on every DuckDB build
    * (the r11 driver gate failed on exactly that boundary). sim_micro
    * semantics moved from round(cos·10⁶) to trunc(dot·10⁶/isqrt(na·nb))
    * over floor(x·10⁶) quantized vectors — the documented hash move. */
  def simBitextMine(spark: SparkSession, dir: String): DataFrame = {
    val emb = T.t(spark, dir, "embeddings")
    val cents = Similarity.ivfCentroids(T.par(spark, emb), 50)
    Similarity.mineBitextIvfExact(
        T.par(spark, emb.filter(col("vec_id") % 2 === 0)),
        T.par(spark, emb.filter(col("vec_id") % 2 === 1)),
        cents, k = 4, nProbe = 3)
      .orderBy(col("src_id"), col("tgt_id"))
  }

  /** MinHash band-plan calibration curves ([[graft.ops.Dedup
    * .lshBandPlanCurve]]): the three power-of-two splits of a 64-hash
    * signature budget, p(s) = 1 − (1 − s^r)^b on the s = i/20 grid —
    * the planning relation consulted before sizing a corpus-scale
    * MinHash dedup ([[graft.ops.Dedup.minHashLshPairs]]). Pure
    * constant-size computation (reads no corpus), exact-replay oracle
    * via squaring chains (no `pow`). */
  def dedupLshCalibration(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.lshBandPlanCurve(spark)
      .orderBy(col("b"), col("r"), col("s_micro"))

  /** CCNet-style perplexity bucketing (Wenzek et al., LREC 2020): score
    * every document under the corpus Kneser–Ney bigram LM
    * ([[graft.ops.TextAnalysis.kneserNeyBigramScore]] — higher micro
    * score = more likely = cleaner), then split each LANGUAGE into
    * equal-population head/middle/tail terciles by score. CCNet keeps
    * head+middle for pretraining and uses tail as the noise stratum;
    * emitting the per-doc assignment (not the filter) keeps the
    * relation row-stable and lets downstream mixing choose its own
    * policy. ntile(3) over a per-language window (partitioned — never
    * global), ties pinned by doc_id. */
  def curationCcnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.t(spark, dir, "documents")
    val scored = graft.ops.TextAnalysis
      .kneserNeyBigramScore(T.par(spark, docs))
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("kn_micro").desc, col("doc_id"))
    scored
      .withColumn("__nt", ntile(3).over(w))
      .select(col("doc_id"), col("lang"), col("kn_micro"),
        when(col("__nt") === 1, "head")
          .when(col("__nt") === 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Edit-distance near-dup pairs ([[graft.ops.Dedup.editDistancePairs]]):
    * threshold-banded Levenshtein verification (native codegen kernel in
    * BOTH engines — byte == codepoint here, the corpus is ASCII) over
    * lossless length-band candidates (W = 32 > D = 24, docs exploded to
    * buckets {b, b+1}). The `doc_id < 2000` slice is the usual bounded
    * pair-listing demonstration; at corpus scale the candidates come from
    * a content blocker composed in front of the same verify join. */
  def dedupEditPairs(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.editDistancePairs(
        // parCpu: banded-Levenshtein verify — O(len·d) cells per pair
        T.parCpu(spark, T.t(spark, dir, "documents").filter(col("doc_id") < 2000)),
        maxDist = 24, bucketWidth = 32)
      .orderBy(col("id_a"), col("id_b"))

  /** PassJoin edit-distance self-join ([[graft.ops.Dedup
    * .editPassJoinPairs]], Li/Deng/Feng PVLDB'11) at maxDist = 8 on the
    * same slice as `dedup_edit_pairs`: the corpus-scale LOSSLESS
    * segment-signature blocker — candidates are an equi-join on
    * (partner-len, segment#, segment substring) against the static
    * 729-row (Δ, i, δ) shift grid, shrinking the candidate relation to
    * near output size (36 candidates vs length blocking's 12,140 on
    * this fixture) while provably missing nothing. */
  def dedupEditPassjoin(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.editPassJoinPairs(
        // parCpu: segment probes + Levenshtein verify (r17: 3.5 s at
        // width 1 vs 0.9 s full width)
        T.parCpu(spark, T.t(spark, dir, "documents").filter(col("doc_id") < 2000)),
        maxDist = 8)
      .orderBy(col("id_a"), col("id_b"))

  // Same IVF oracle fragment as LlmQueries.ivfCos (double-cast vectors,
  // cosine rounded to 6 between aliases).
  private def ivfCos(a: String, b: String) =
    s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)"

  /** BIT-EXACT oracle fragments mirroring [[graft.functions.ExactMicroOps]]
    * — see the Spark-side scaladoc for the shared contract. Shared with
    * the other registries on the exact-micro path (LlmQueries11). */
  private[queries] object ExactSql {
    /** floor(x·10⁶) micro quantization of a FLOAT[] column. */
    def microList(v: String): String =
      s"list_transform(CAST($v AS DOUBLE[]), x -> CAST(floor(x * 1000000.0) AS BIGINT))"

    /** Exact integer dot of two BIGINT[] micro lists: every product and
      * partial sum is an integer < 2⁵³, so the double-based
      * list_dot_product is exact regardless of accumulation order. */
    def idot(a: String, b: String): String =
      s"CAST(list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[])) AS BIGINT)"

    /** Wrap a relation `fromSql` producing ($keyCols, dt BIGINT,
      * nn HUGEINT = na·nb) into one producing ($keyCols, sim BIGINT) with
      * sim = trunc(dt·10⁶ / isqrt(nn)) — the ±1-corrected double-seeded
      * isqrt, exact within the MaxNormSq envelope; 0 on zero norms.
      *
      * Round-13 hardening (VERDICT r12 item 1): the division is written
      * magnitude-then-sign — divide |dt|·10⁶ (non-negative, where every
      * engine's integer division agrees) and apply the sign after —
      * matching the repo-wide convention ([[graft.ops.Valuation]] doc).
      * On a truncating `//` (DuckDB 1.0.0, verified) the values are
      * bit-identical to the previous form; on any build whose `//`
      * floors, this form still replays Spark's truncating `div`. */
    def cosMicroOver(fromSql: String, keyCols: String): String =
      s"""SELECT $keyCols,
         |  CASE WHEN s = 0 THEN CAST(0 AS BIGINT)
         |       WHEN dt >= 0 THEN
         |         CAST(CAST(dt AS HUGEINT) * 1000000 // s AS BIGINT)
         |       ELSE CAST(-(CAST(-dt AS HUGEINT) * 1000000 // s) AS BIGINT)
         |  END AS sim
         |FROM (SELECT $keyCols, dt,
         |    CASE WHEN (s0 + 1) * (s0 + 1) <= nn THEN s0 + 1
         |         WHEN s0 * s0 > nn THEN s0 - 1 ELSE s0 END AS s
         |  FROM (SELECT $keyCols, dt, nn,
         |      CAST(floor(sqrt(CAST(nn AS DOUBLE))) AS HUGEINT) AS s0
         |    FROM ($fromSql)))""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("dedup_lsh_calibration", dedupLshCalibration, graft.ops.Dedup.lshBandPlanCurveSql()),
    // Length-band blocking (len//32 ± 1 via the range(2) explode), the
    // |Δlen| <= 24 lossless filter, then DuckDB's own levenshtein as the
    // verify kernel. INTEGER casts match Spark's int length/levenshtein.
    Query("dedup_edit_pairs", dedupEditPairs,
      """WITH docs AS (SELECT doc_id, text, CAST(length(text) AS INTEGER) AS len
        |              FROM documents WHERE doc_id < 2000),
        |keys AS (SELECT doc_id, len, (len // 32) + r.range AS k
        |         FROM docs CROSS JOIN range(2) r),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |                a.len AS len_a, b.len AS len_b
        |         FROM keys a JOIN keys b ON a.k = b.k AND a.doc_id < b.doc_id
        |         WHERE abs(a.len - b.len) <= 24)
        |SELECT c.id_a, c.id_b, c.len_a, c.len_b,
        |       CAST(levenshtein(da.text, db.text) AS INTEGER) AS edit_dist
        |FROM cand c JOIN docs da ON da.doc_id = c.id_a
        |JOIN docs db ON db.doc_id = c.id_b
        |WHERE levenshtein(da.text, db.text) <= 24
        |ORDER BY id_a, id_b""".stripMargin),
    // The same segmentation arithmetic as the Spark side, all integer
    // (// and % truncate identically): k = 9 segments in the partner
    // length's scheme, probe substrings from the static (Δ, i, δ) grid
    // with the lossless |δ| + |Δ−δ| <= 8 shift window, then the shared
    // levenshtein verify.
    Query("dedup_edit_passjoin", dedupEditPassjoin,
      """WITH docs AS (SELECT doc_id, text, CAST(length(text) AS INTEGER) AS len
        |              FROM documents WHERE doc_id < 2000),
        |grid AS (SELECT CAST(dd.range AS INTEGER) AS dl, CAST(i.range AS INTEGER) AS i,
        |                CAST(de.range - 8 AS INTEGER) AS de
        |         FROM range(9) dd, range(9) i, range(17) de
        |         WHERE abs(de.range - 8) + abs(dd.range - (de.range - 8)) <= 8),
        |segs AS (
        |  SELECT doc_id AS id_r, len AS lp, i.range AS i,
        |    substr(text,
        |      CAST(i.range * (len // 9) + greatest(0, i.range - (9 - (len % 9))) + 1 AS INTEGER),
        |      CAST((len // 9) + CASE WHEN i.range >= 9 - (len % 9) THEN 1 ELSE 0 END AS INTEGER)) AS seg
        |  FROM docs CROSS JOIN range(9) i
        |  WHERE len >= 9),
        |probes AS (
        |  SELECT s.doc_id, s.len - g.dl AS lp, g.i,
        |    substr(s.text,
        |      CAST(g.i * ((s.len - g.dl) // 9)
        |        + greatest(0, g.i - (9 - ((s.len - g.dl) % 9))) + g.de + 1 AS INTEGER),
        |      CAST(((s.len - g.dl) // 9)
        |        + CASE WHEN g.i >= 9 - ((s.len - g.dl) % 9) THEN 1 ELSE 0 END AS INTEGER)) AS seg
        |  FROM docs s JOIN grid g ON s.len - g.dl >= 9
        |  WHERE g.i * ((s.len - g.dl) // 9) + greatest(0, g.i - (9 - ((s.len - g.dl) % 9))) + g.de + 1 >= 1
        |    AND g.i * ((s.len - g.dl) // 9) + greatest(0, g.i - (9 - ((s.len - g.dl) % 9))) + g.de
        |        + ((s.len - g.dl) // 9) + CASE WHEN g.i >= 9 - ((s.len - g.dl) % 9) THEN 1 ELSE 0 END <= s.len),
        |cand AS (
        |  SELECT DISTINCT least(r.id_r, p.doc_id) AS id_a, greatest(r.id_r, p.doc_id) AS id_b
        |  FROM segs r JOIN probes p ON p.lp = r.lp AND p.i = r.i AND p.seg = r.seg
        |  WHERE r.id_r <> p.doc_id)
        |SELECT c.id_a, c.id_b, CAST(length(da.text) AS INTEGER) AS len_a,
        |       CAST(length(db.text) AS INTEGER) AS len_b,
        |       CAST(levenshtein(da.text, db.text) AS INTEGER) AS edit_dist
        |FROM cand c JOIN docs da ON da.doc_id = c.id_a
        |JOIN docs db ON db.doc_id = c.id_b
        |WHERE levenshtein(da.text, db.text) <= 8
        |ORDER BY id_a, id_b""".stripMargin),
    // The shared Kneser–Ney CTE chain (LlmQueries7.knCtes) + language
    // join + the same ntile tercile window (standard-SQL ntile: equal
    // sizes, earlier buckets take the remainder — identical in both
    // engines; ties pinned by doc_id).
    Query("curation_ccnet_buckets", curationCcnetBuckets,
      s"""WITH ${LlmQueries7.knCtes},
         |j AS (SELECT k.doc_id, d.lang, k.kn_micro
         |  FROM kn k JOIN documents d USING (doc_id)),
         |b AS (SELECT doc_id, lang, kn_micro,
         |    ntile(3) OVER (PARTITION BY lang
         |      ORDER BY kn_micro DESC, doc_id) AS nt
         |  FROM j)
         |SELECT doc_id, lang, kn_micro,
         |  CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
         |    ELSE 'tail' END AS bucket
         |FROM b ORDER BY doc_id""".stripMargin),
    // Full BIT-EXACT replay (round-12 migration): floor(x·10⁶) micro
    // quantization, exact integer dot/norms, trunc(dt·10⁶/isqrt(na·nb))
    // sims via the ±1-corrected isqrt — no round(double) anywhere, so
    // the replay is identical on every DuckDB build. Assignment and
    // 3-probe sets rank by (sim desc, cid), per-direction top-4, then
    // the integer ratio margin with its den<=0 pin and the two
    // best-rank windows. Round-13 hardening (VERDICT r12 item 1): every
    // signed division is magnitude-then-sign (value-identical under a
    // truncating `//`, robust to a flooring one), and the candidate
    // dedup is PAIR-level (GROUP BY src,tgt with min(sim) — sims are
    // exactly symmetric, so this mirrors Spark's dropDuplicates on the
    // id pair instead of relying on triple-level DISTINCT).
    // LlmQueries13's bitext_probe_* queries replay each stage of this
    // chain in isolation so a driver-side divergence names its stage.
    Query("sim_bitext_mine", simBitextMine,
      s"""WITH corp AS (
         |  SELECT vec_id, vm, ${ExactSql.idot("vm", "vm")} AS nsq
         |  FROM (SELECT vec_id, ${ExactSql.microList("embedding")} AS vm
         |        FROM embeddings)),
         |cent AS (SELECT vec_id AS cid, vm AS cm, nsq AS cn
         |         FROM corp WHERE vec_id % 50 = 0),
         |scored0 AS (
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
         |    FROM scored0) WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, cid AS cell FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
         |    FROM scored0) WHERE rn <= 3),
         |fcand AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id
         |  FROM probes p JOIN assign a ON a.cell = p.cell
         |  WHERE p.query_id % 2 = 0 AND a.vec_id % 2 = 1),
         |fsim AS (
         |  ${ExactSql.cosMicroOver(
             """SELECT cd.query_id, cd.neighbor_id, """ +
               ExactSql.idot("q.vm", "n.vm") +
               """ AS dt, CAST(q.nsq AS HUGEINT) * n.nsq AS nn
                 |   FROM fcand cd
                 |   JOIN corp q ON q.vec_id = cd.query_id
                 |   JOIN corp n ON n.vec_id = cd.neighbor_id""".stripMargin,
             "query_id, neighbor_id")}),
         |fwd AS (SELECT query_id, neighbor_id, sim FROM (
         |  SELECT query_id, neighbor_id, sim,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM fsim) WHERE rank <= 4),
         |bcand AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id
         |  FROM probes p JOIN assign a ON a.cell = p.cell
         |  WHERE p.query_id % 2 = 1 AND a.vec_id % 2 = 0),
         |bsim AS (
         |  ${ExactSql.cosMicroOver(
             """SELECT cd.query_id, cd.neighbor_id, """ +
               ExactSql.idot("q.vm", "n.vm") +
               """ AS dt, CAST(q.nsq AS HUGEINT) * n.nsq AS nn
                 |   FROM bcand cd
                 |   JOIN corp q ON q.vec_id = cd.query_id
                 |   JOIN corp n ON n.vec_id = cd.neighbor_id""".stripMargin,
             "query_id, neighbor_id")}),
         |bwd AS (SELECT query_id, neighbor_id, sim FROM (
         |  SELECT query_id, neighbor_id, sim,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM bsim) WHERE rank <= 4),
         |f AS (SELECT query_id AS src_id, neighbor_id AS tgt_id,
         |    sim AS sim_micro FROM fwd),
         |b AS (SELECT neighbor_id AS src_id, query_id AS tgt_id,
         |    sim AS sim_micro FROM bwd),
         |fagg AS (SELECT src_id, sum(sim_micro) AS fsum,
         |    CAST(count(*) AS BIGINT) AS fk FROM f GROUP BY 1),
         |bagg AS (SELECT tgt_id, sum(sim_micro) AS bsum,
         |    CAST(count(*) AS BIGINT) AS bk FROM b GROUP BY 1),
         |cand AS (SELECT src_id, tgt_id, min(sim_micro) AS sim_micro FROM
         |  (SELECT * FROM f UNION ALL SELECT * FROM b) GROUP BY 1, 2),
         |sc AS (SELECT c.src_id, c.tgt_id, c.sim_micro,
         |    CAST(CASE WHEN (g.bk * a.fsum + a.fk * g.bsum) <= 0 THEN 2000000
         |         WHEN c.sim_micro >= 0 THEN
         |           (2000000 * a.fk * g.bk * c.sim_micro)
         |           // (g.bk * a.fsum + a.fk * g.bsum)
         |         ELSE -((2000000 * a.fk * g.bk * (-c.sim_micro))
         |           // (g.bk * a.fsum + a.fk * g.bsum)) END
         |      AS BIGINT) AS margin_micro
         |  FROM cand c
         |  JOIN fagg a ON a.src_id = c.src_id
         |  JOIN bagg g ON g.tgt_id = c.tgt_id),
         |fl AS (SELECT *,
         |    row_number() OVER (PARTITION BY src_id
         |      ORDER BY margin_micro DESC, tgt_id) = 1 AS is_src_best,
         |    row_number() OVER (PARTITION BY tgt_id
         |      ORDER BY margin_micro DESC, src_id) = 1 AS is_tgt_best
         |  FROM sc)
         |SELECT src_id, tgt_id, sim_micro, margin_micro,
         |  is_src_best, is_tgt_best,
         |  (is_src_best AND is_tgt_best) AS mutual
         |FROM fl ORDER BY src_id, tgt_id""".stripMargin),
  )
}
