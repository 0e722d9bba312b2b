package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.T
import LlmQueries9.ExactSql
import CommonSql.{normSql, hashSql}

/** Round-16 registry, second batch: per-source vocabulary coverage
  * (Good–Turing missing mass + Chao1 richness — the "which source is
  * under-sampled" growth readout), the pairwise Jensen–Shannon source
  * divergence matrix (Lin 1991 / Kilgarriff 2001 corpus comparison —
  * the mix family's redundancy detector), and b-bit minwise hashing
  * (Li & König 2010 — the 32× signature-compression scale path for
  * MinHash, gated as a calibration readout against the plain
  * estimator and exact Jaccard).
  */
object LlmQueries18 {

  /** Per-source Good–Turing missing mass and Chao1 vocabulary richness
    * ([[graft.ops.TextAnalysis.missingMassBySource]]): p₀ = N₁/N per
    * source (the probability the source's next token is a never-seen
    * word) and the bias-corrected Chao1 type-count estimate — the
    * corpus-growth readout ranking sources by how much unseen
    * vocabulary they still hold. */
  def textMissingMass(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.missingMassBySource(
        T.par(spark, T.t(spark, dir, "documents")))
      .orderBy(col("source"))

  /** Pairwise source JSD matrix
    * ([[graft.ops.Curation.sourceJsdMatrix]]): Jensen–Shannon
    * divergence over DSIR's hashed-unigram bucket space for every
    * source pair — near-zero rows are redundant mixture components,
    * far rows are irreplaceable sources. */
  def mixSourceJsd(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Curation.sourceJsdMatrix(
        T.par(spark, T.t(spark, dir, "documents")),
        buckets = 256, seed = 31)
      .orderBy(col("src_a"), col("src_b"))

  /** b-bit minhash calibration
    * ([[graft.ops.Dedup.bBitMinhashEstimate]]): over the shared
    * near-dup candidate pairs (doc_id < 500, the
    * [[SharedRels.nearDupPairs500]] fixture), the 2-bit estimate from
    * 16 permutations next to the full-width minhash estimate and the
    * exact shingle Jaccard — the readout that says whether 2-bit
    * signatures (a 32× byte cut on the 100 TB signature exchange)
    * still rank this corpus's near-duplicates correctly. */
  def dedupMinhashBbit(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.par(spark, T.t(spark, dir, "documents"))
      .filter(col("doc_id") < 500)
    graft.ops.Dedup.bBitMinhashEstimate(docs,
        SharedRels.nearDupPairs500(spark, dir), b = 2, numHashes = 16)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Facility-location data selection
    * ([[graft.ops.Curation.facilityLocationSelect]], Lin & Bilmes
    * 2011): greedy k = 8 coverage-maximizing picks from the vec_id <
    * 64 candidate pool against the FULL embeddings corpus — the
    * submodular "every point near some selected point" objective,
    * with per-round marginal gains reported in micro. */
  def curationFacilitySelect(spark: SparkSession, dir: String): DataFrame = {
    val emb = T.par(spark, T.t(spark, dir, "embeddings"))
    graft.ops.Curation.facilityLocationSelect(emb,
        emb.filter(col("vec_id") < 64), k = 8)
      .orderBy(col("rank"))
  }

  /** Class-balanced source weights
    * ([[graft.ops.Curation.classBalancedWeights]], Cui et al. CVPR
    * 2019): mixture weights ∝ 1/E_n over the per-source effective
    * sample numbers at β = 0.999 — the imbalance correction between
    * raw-count and inverse-frequency weighting. */
  def mixClassBalanced(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Curation.classBalancedWeights(
        T.par(spark, T.t(spark, dir, "documents")), "source",
        betaMicro = 999000L)
      .orderBy(col("stratum"))

  /** Unbiased pass@k ([[graft.ops.QualityModel.passAtK]], Chen et al.
    * 2021): per user-as-task over the events log (purchase =
    * success), the exact combinatorial estimator at k = 1, 5, 10 —
    * the eval-harness readout whose naive form the paper shows is
    * biased high. */
  def qualityPassAtK(spark: SparkSession, dir: String): DataFrame =
    graft.ops.QualityModel.passAtK(
        T.par(spark, T.t(spark, dir, "events"))
          .select(col("user_id").as("task_id"),
            (col("event_type") === "purchase").as("success")),
        ks = Seq(1, 5, 10))
      .orderBy(col("task_id"), col("k"))

  /** ε-DP per-source count release
    * ([[graft.ops.Curation.dpGeometricCounts]], Ghosh et al. 2009
    * geometric mechanism at ε = 1): the released-aggregate
    * counterpart of the k-anon/l-div/t-closeness audits, with
    * content-stable draws so the mechanism itself is oracle-gated. */
  def privacyDpCounts(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Curation.dpGeometricCounts(
        T.par(spark, T.t(spark, dir, "documents")), "source",
        epsMicro = 1000000L, seed = 47)
      .orderBy(col("stratum"))

  /** Missing-mass replay: non-distinct token explode, (source, word)
    * counts, then the per-source spectrum head (N₁, N₂) and both
    * rational estimators as floor divisions. */
  private def missingMassOracle: String =
    s"""WITH toks AS (SELECT source, t.w
       |  FROM documents, unnest(string_split(${normSql("text")}, ' ')) AS t(w)
       |  WHERE t.w <> ''),
       |wc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS f
       |  FROM toks GROUP BY 1, 2),
       |agg AS (SELECT source, CAST(sum(f) AS BIGINT) AS n_tokens,
       |    CAST(count(*) AS BIGINT) AS n_types,
       |    CAST(coalesce(sum(CASE WHEN f = 1 THEN 1 END), 0) AS BIGINT)
       |      AS n_singletons,
       |    CAST(coalesce(sum(CASE WHEN f = 2 THEN 1 END), 0) AS BIGINT)
       |      AS n_doubletons
       |  FROM wc GROUP BY source)
       |SELECT source, n_tokens, n_types, n_singletons, n_doubletons,
       |  (1000000 * n_singletons) // n_tokens AS p0_micro,
       |  n_types + (n_singletons * (n_singletons - 1))
       |    // (2 * (n_doubletons + 1)) AS chao1_types
       |FROM agg ORDER BY source""".stripMargin

  /** JSD replay: the DSIR bucket hash (seed 31, B = 256), a dense
    * source×bucket grid with Laplace micro probabilities, the shared
    * 16-step fixed-point log₂ over every 2p and p+q value, then the
    * per-pair signed term sum floored magnitude-then-sign by 2·10⁶. */
  private def sourceJsdOracle(buckets: Int, seed: Int): String =
    s"""WITH toks AS (SELECT source AS src,
       |    ${hashSql(seed, "t.w")} % $buckets AS b
       |  FROM documents, unnest(string_split(${normSql("text")}, ' ')) AS t(w)
       |  WHERE t.w <> ''),
       |cnt AS (SELECT src, b, CAST(count(*) AS BIGINT) AS c
       |  FROM toks GROUP BY 1, 2),
       |tots AS (SELECT src, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
       |grid AS MATERIALIZED (SELECT t.src, t.n, r.range AS b,
       |    greatest((1000000 * (coalesce(c.c, 0) + 1)) // (t.n + $buckets), 1)
       |      AS p
       |  FROM tots t CROSS JOIN range(0, $buckets) r
       |  LEFT JOIN cnt c ON c.src = t.src AND c.b = r.range),
       |vals AS MATERIALIZED (SELECT DISTINCT v FROM (
       |  SELECT p * 2 AS v FROM grid
       |  UNION ALL
       |  SELECT a.p + b2.p FROM grid a
       |  JOIN grid b2 ON b2.b = a.b AND a.src < b2.src)),
       |${LlmQueries14.log2ValueCtes},
       |terms AS (SELECT a.src AS src_a, b2.src AS src_b,
       |    a.n AS na, b2.n AS nb,
       |    CAST(a.p AS HUGEINT) * (l2a.l - lab.l)
       |      + CAST(b2.p AS HUGEINT) * (l2b.l - lab.l) AS t
       |  FROM grid a JOIN grid b2 ON b2.b = a.b AND a.src < b2.src
       |  JOIN lg l2a ON l2a.v = a.p * 2
       |  JOIN lg l2b ON l2b.v = b2.p * 2
       |  JOIN lg lab ON lab.v = a.p + b2.p),
       |agg AS (SELECT src_a, src_b, any_value(na) AS n_tokens_a,
       |    any_value(nb) AS n_tokens_b, sum(t) AS s
       |  FROM terms GROUP BY 1, 2)
       |SELECT src_a, src_b, n_tokens_a, n_tokens_b,
       |  CAST(CASE WHEN s >= 0 THEN s // 2000000
       |       ELSE -((-s) // 2000000) END AS BIGINT) AS jsd_micro
       |FROM agg ORDER BY src_a, src_b""".stripMargin

  /** b-bit replay: the [[SharedRels.nearDupPairs500]] pair derivation
    * (8-perm signatures, 4 bands × 2 rows, exact Jaccard ≥ 0.5) plus a
    * 16-perm signature relation exploded to (id, perm, hv) rows, the
    * per-pair full-width and low-2-bit collision counts, and the two
    * floored-micro estimators next to the exact integer Jaccard. */
  private def bbitOracle(b: Int, k: Int): String = {
    val mask = 1L << b
    val sigCols16 = (0 until k)
      .map(i => s"min(${hashSql(i, "gram")}) AS h$i")
      .mkString(",\n    ")
    val hvCase = (0 until k)
      .map(i => s"WHEN $i THEN h$i").mkString("\n      ")
    s"""WITH grams AS (
       |  SELECT doc_id AS id, g.gram
       |  FROM documents,
       |       unnest(list_distinct(string_split(${normSql("text")}, ' '))) AS g(gram)
       |  WHERE g.gram <> '' AND doc_id < 500),
       |sig AS (SELECT id,
       |    $sigCols16
       |  FROM grams GROUP BY id),
       |bands AS (SELECT id, r.range AS band,
       |    CASE r.range
       |      WHEN 0 THEN h0 || ',' || h1
       |      WHEN 1 THEN h2 || ',' || h3
       |      WHEN 2 THEN h4 || ',' || h5
       |      ELSE h6 || ',' || h7 END AS band_key
       |  FROM sig CROSS JOIN range(4) r),
       |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
       |sizes AS (SELECT id, count(*) AS sz FROM grams GROUP BY id),
       |inter AS (SELECT c.id_a, c.id_b, count(*) AS i
       |  FROM cand c
       |  JOIN grams ga ON ga.id = c.id_a
       |  JOIN grams gb ON gb.id = c.id_b AND gb.gram = ga.gram
       |  GROUP BY c.id_a, c.id_b),
       |pairs AS (SELECT i.id_a, i.id_b,
       |    (1000000 * i.i) // (sa.sz + sb.sz - i.i) AS jaccard_micro
       |  FROM inter i
       |  JOIN sizes sa ON sa.id = i.id_a
       |  JOIN sizes sb ON sb.id = i.id_b
       |  WHERE i.i / (sa.sz + sb.sz - i.i) >= 0.5),
       |lng AS (SELECT id, r.range AS perm,
       |    CASE r.range
       |      $hvCase
       |    END AS hv
       |  FROM sig CROSS JOIN range($k) r),
       |m AS (SELECT p.id_a, p.id_b,
       |    CAST(sum(CASE WHEN la.hv = lb.hv THEN 1 ELSE 0 END) AS BIGINT)
       |      AS k_full,
       |    CAST(sum(CASE WHEN la.hv % $mask = lb.hv % $mask
       |      THEN 1 ELSE 0 END) AS BIGINT) AS k_bbit
       |  FROM pairs p
       |  JOIN lng la ON la.id = p.id_a
       |  JOIN lng lb ON lb.id = p.id_b AND lb.perm = la.perm
       |  GROUP BY 1, 2)
       |SELECT m.id_a, m.id_b, m.k_full, m.k_bbit,
       |  (1000000 * m.k_full) // $k AS minhash_est_micro,
       |  CASE WHEN $mask * m.k_bbit <= $k THEN 0
       |       ELSE (1000000 * ($mask * m.k_bbit - $k))
       |         // ($k * ${mask - 1}) END AS bbit_est_micro,
       |  p.jaccard_micro
       |FROM m JOIN pairs p ON p.id_a = m.id_a AND p.id_b = m.id_b
       |ORDER BY m.id_a, m.id_b""".stripMargin
  }

  /** Facility-location replay: micro-quantized vectors, the ONE
    * corpus×pool sim relation (exact idot floored at 0), then k
    * unrolled greedy rounds — DECIMAL-summed marginal gains with the
    * selected set excluded, (gain desc, cid asc) argmax pins, and the
    * max-coverage update — the [[graft.ops.Curation
    * .facilityLocationSelect]] chain construct for construct. */
  private def facilityOracle(k: Int, poolMax: Long): String = {
    val rounds = (1 to k).map { r =>
      val exclude = if (r == 1) ""
        else s"\n  WHERE s.cid NOT IN (SELECT cid FROM selAll${r - 1})"
      val sel = if (r == 1) s"selAll1 AS (SELECT cid FROM p1)"
        else s"""selAll$r AS (SELECT cid FROM selAll${r - 1}
                |  UNION ALL SELECT cid FROM p$r)""".stripMargin
      s"""g$r AS (SELECT s.cid,
         |    sum(CAST(greatest(s.sim - c.cur, 0) AS HUGEINT)) AS gain
         |  FROM sims s JOIN cur${r - 1} c USING (id)$exclude
         |  GROUP BY s.cid),
         |p$r AS MATERIALIZED (SELECT cid, gain FROM g$r
         |  ORDER BY gain DESC, cid LIMIT 1),
         |cur$r AS MATERIALIZED (SELECT c.id,
         |    greatest(c.cur, s.sim) AS cur
         |  FROM cur${r - 1} c JOIN sims s ON s.id = c.id
         |    AND s.cid = (SELECT cid FROM p$r)),
         |$sel""".stripMargin
    }.mkString(",\n")
    val out = (1 to k).map { r =>
      s"SELECT $r AS rank, cid, gain FROM p$r"
    }.mkString("\n  UNION ALL ")
    s"""WITH cm AS MATERIALIZED (SELECT vec_id,
       |    ${ExactSql.microList("embedding")} AS v FROM embeddings),
       |cand AS (SELECT vec_id AS cid, v AS cv FROM cm
       |  WHERE vec_id < $poolMax),
       |sims AS MATERIALIZED (SELECT c.vec_id AS id, d.cid,
       |    greatest(${ExactSql.idot("c.v", "d.cv")}, 0) AS sim
       |  FROM cm c CROSS JOIN cand d),
       |cur0 AS (SELECT vec_id AS id, CAST(0 AS BIGINT) AS cur FROM cm),
       |$rounds
       |SELECT CAST(rank AS BIGINT) AS rank, cid AS vec_id,
       |  CAST(gain // 1000000 AS BIGINT) AS gain_micro
       |FROM ($out) ORDER BY rank""".stripMargin
  }

  /** Class-balanced replay: per-source counts, βⁿ via a recursive-CTE
    * LSB-first square-and-multiply (truncating ÷10⁶ after every
    * multiply — the Spark kernel's loop, row for row; each stratum
    * reaches rem = 0 exactly once), then the three floor divisions. */
  private def classBalancedOracle(betaMicro: Long): String = {
    val omb = 1000000L - betaMicro
    s"""WITH RECURSIVE cls AS (SELECT source AS stratum,
       |    CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
       |pw AS (
       |  SELECT stratum, n, CAST(1000000 AS HUGEINT) AS acc,
       |    CAST($betaMicro AS HUGEINT) AS base, n AS rem
       |  FROM cls
       |  UNION ALL
       |  SELECT stratum, n,
       |    CASE WHEN rem % 2 = 1 THEN (acc * base) // 1000000
       |         ELSE acc END,
       |    (base * base) // 1000000,
       |    rem // 2
       |  FROM pw WHERE rem > 0),
       |fin AS (SELECT stratum, n, acc AS bp FROM pw WHERE rem = 0),
       |w AS (SELECT stratum, n, bp,
       |    ((1000000 - bp) * 1000000) // $omb AS eff,
       |    (CAST(1000000 AS HUGEINT) * $omb) // (1000000 - bp) AS wraw
       |  FROM fin),
       |t AS (SELECT sum(wraw) AS ws FROM w)
       |SELECT stratum, n AS n_docs, CAST(bp AS BIGINT) AS beta_pow_micro,
       |  CAST(eff AS BIGINT) AS effective_num_micro,
       |  CAST((1000000 * wraw) // ws AS BIGINT) AS weight_micro
       |FROM w CROSS JOIN t ORDER BY stratum""".stripMargin
  }

  /** pass@k replay: per-task (n, c), the k grid filtered to k ≤ n,
    * the two k-term HUGEINT products, one floor to micro. */
  private def passAtKOracle: String =
    s"""WITH att AS (SELECT user_id AS task_id,
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS s
       |  FROM events),
       |tc AS (SELECT task_id, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(s) AS BIGINT) AS c FROM att GROUP BY 1),
       |g AS (SELECT task_id, n, c, kk.k FROM tc
       |  CROSS JOIN (VALUES (1), (5), (10)) kk(k) WHERE kk.k <= n),
       |p AS (SELECT task_id, n, c, k,
       |    list_reduce(list_transform(range(0, k),
       |      i -> CAST(greatest(n - c - i, 0) AS HUGEINT)),
       |      (a, b) -> a * b) AS num,
       |    list_reduce(list_transform(range(0, k),
       |      i -> CAST(n - i AS HUGEINT)), (a, b) -> a * b) AS den
       |  FROM g)
       |SELECT task_id, n, c, CAST(k AS BIGINT) AS k,
       |  CAST(1000000 - (num * 1000000) // den AS BIGINT) AS pass_micro
       |FROM p ORDER BY task_id, k""".stripMargin

  /** DP-counts replay: per-source counts, the two seeded md5 uniforms,
    * the shared log₂ value CTEs over every drawn u, then the quantized
    * inverse-CDF geometric draws and their difference. The α-derived
    * constants (lg 10⁶ and |lg α|) are Scala-computed from the SAME
    * fixed-point chains and inlined — the tempGrid hyperparameter
    * convention. */
  private def dpCountsOracle(epsMicro: Long, seed: Int): String = {
    val unit = 1000000L
    val lgExp = (BigInt(epsMicro) * 1442695L / unit).toLong
    val alphaMicro = math.max(
      graft.functions.ExactMicroOps.exp2Micro(-lgExp), 1L)
    val lgU6 = graft.functions.ExactMicroOps.log2Micro(unit)
    val absLgA = lgU6 -
      graft.functions.ExactMicroOps.log2Micro(alphaMicro)
    s"""WITH cnt AS (SELECT source AS stratum,
       |    CAST(count(*) AS BIGINT) AS n_true FROM documents GROUP BY 1),
       |dr AS (SELECT stratum, n_true,
       |    ${hashSql(seed, "stratum")} % $unit + 1 AS u1,
       |    ${hashSql(seed + 1, "stratum")} % $unit + 1 AS u2
       |  FROM cnt),
       |vals AS MATERIALIZED (SELECT DISTINCT v FROM (
       |  SELECT u1 AS v FROM dr UNION ALL SELECT u2 FROM dr)),
       |${LlmQueries14.log2ValueCtes},
       |x AS (SELECT d.stratum, d.n_true,
       |    (($lgU6 - la.l) // $absLgA) - (($lgU6 - lb.l) // $absLgA)
       |      AS noise
       |  FROM dr d JOIN lg la ON la.v = d.u1 JOIN lg lb ON lb.v = d.u2)
       |SELECT stratum, n_true, CAST(noise AS BIGINT) AS noise,
       |  greatest(n_true + noise, 0) AS n_dp
       |FROM x ORDER BY stratum""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("text_missing_mass", textMissingMass, missingMassOracle),
    Query("quality_pass_at_k", qualityPassAtK, passAtKOracle),
    Query("privacy_dp_counts", privacyDpCounts, dpCountsOracle(1000000L, 47)),
    Query("mix_source_jsd", mixSourceJsd, sourceJsdOracle(256, 31)),
    Query("dedup_minhash_bbit", dedupMinhashBbit, bbitOracle(2, 16)),
    Query("curation_facility_select", curationFacilitySelect, facilityOracle(8, 64L)),
    Query("mix_class_balanced", mixClassBalanced, classBalancedOracle(999000L))
  )
}
