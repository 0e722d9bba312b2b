package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.T
import LlmQueries9.ExactSql
import CommonSql.hashSql

/** Round-14 registry: UniMax budget-waterfilling language sampling and
  * the Mann–Kendall trend test — two exact-integer operators a
  * pretraining-data owner reaches for weekly (what mixture do I train
  * on; is this pipeline metric actually trending), each with a
  * construct-parallel DuckDB replay.
  */
object LlmQueries15 {

  /** UniMax language sampling (Chung et al., ICLR 2023;
    * [[graft.ops.Curation.planMixUnimax]]): a 200k-token budget over
    * the per-language n_chars masses with a 2-epoch cap — at sf0.01
    * the smallest language caps out and the rest split the remainder
    * equally, exercising both waterfilling branches. */
  def mixUnimaxPlan(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Curation.planMixUnimax(
        T.par(spark, T.t(spark, dir, "documents")),
        "lang", col("n_chars"), budget = 200000L, maxEpochs = 2)
      .orderBy(col("lang"))

  /** Per-event-type Mann–Kendall trend test over the DAILY event-count
    * series ([[graft.ops.Sessions.mannKendall]]): exact S statistic,
    * tie-corrected 18·Var, and the cross-multiplied two-sided z test
    * at 1.959964 — the "is this volume really drifting" readout whose
    * slope companion is `event_theil_sen`. The day-bucket pre-agg
    * keeps the per-key pair relation calendar-bounded (≈30 points),
    * not event-bounded. */
  def eventMannKendall(spark: SparkSession, dir: String): DataFrame = {
    val daily = T.par(spark, T.t(spark, dir, "events"))
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("ts"))
      .agg(count(lit(1)).cast("double").as("value"))
    graft.ops.Sessions.mannKendall(daily, keyCol = "event_type")
      .orderBy(col("event_type"))
  }

  /** Poisson-bootstrap confidence interval for the GD model's exact AUC
    * ([[graft.ops.QualityModel.aucBootstrapCi]], the Chamandy et al.
    * 2012 streaming bootstrap): 20 replicates of deterministic
    * hash-drawn Poisson(1) weights over the final-epoch scores from the
    * shared GD fixture, weighted pairwise AUC per replicate, 80%
    * percentile interval (rank-2 / rank-19) around the unweighted point
    * estimate — the "is this AUC difference real" uncertainty readout,
    * computed map-side with no resample shuffle. */
  def qualityAucBootstrap(spark: SparkSession, dir: String): DataFrame = {
    val scored = SharedRels.gdEpochScores(spark, dir, iters = 3,
        lrDen = 16L)
      .filter(col("epoch") === 3L)
      .withColumn("__y",
        ((col("margin") > 0L) === col("correct")).cast("long"))
    graft.ops.QualityModel.aucBootstrapCi(scored, "p_micro", "__y",
      reps = 20, alphaMicro = 200000L, seed = 23)
  }

  /** Exact KNN-Shapley with a FIXED-SIZE test panel — the
    * `value_tracin_panel` symmetry (VERDICT r13 item 4) for the other
    * valuation family: the 32 embeddings with the lowest md5 hash
    * (seed 19, ties to the lower vec_id) form the eval panel, so the
    * gated \|train\|×\|panel\| pair relation is corpus-LINEAR — the
    * shape [[graft.ops.Valuation.knnShapley]]'s broadcast and maxPanel
    * guard are designed for — instead of `value_knn_shapley`'s n²/25
    * modulus panel. */
  def valueKnnShapleyPanel(spark: SparkSession, dir: String): DataFrame = {
    val emb = T.par(spark, T.t(spark, dir, "embeddings"))
    val panel = emb.select(col("vec_id"),
        graft.ops.Dedup.hashStr(col("vec_id").cast("string"), 19).as("__h"))
      .orderBy(col("__h"), col("vec_id")).limit(32).select("vec_id")
    graft.ops.Valuation.knnShapley(
        emb.join(panel, Seq("vec_id"), "left_anti"),
        emb.join(panel, Seq("vec_id"), "left_semi"), k = 5)
      .orderBy(col("train_id"))
  }

  /** Population Stability Index of the document-length distribution
    * between the 'en' and 'zh' slices over the shared log-bin sketch
    * ([[graft.ops.Sketches.psiDrift]]) — the industry drift scalar in
    * bits, per-bin terms naming WHICH length region shifted; the
    * binned-log companion to `quality_ks_drift`'s max-gap statistic on
    * the identical histogram space. */
  def qualityPsiDrift(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sketches.psiDrift(T.par(spark, T.t(spark, dir, "documents")),
        "lang", "n_chars", "en", "zh")
      .orderBy(col("bin"))

  /** All-but-the-top embedding post-processing (Mu & Viswanath, ICLR
    * 2018; [[graft.ops.Pca.abttStats]]/[[graft.ops.Pca.abttTransform]]):
    * floored milli mean + top-2 deflated power directions trained on
    * the centered vec_id < 2000 slice (the emb_pca convention), served
    * over the FULL corpus (VERDICT r14 item 2 — the transform is a
    * per-coordinate relational map: one posexplode, then one combine-agg
    * + equi-join per direction, so the serve side scans the corpus
    * exactly r+1 times and never pairs it) — the common-direction
    * cure for the anisotropy `emb_anisotropy` measures, completing the
    * embedding-hygiene family (anisotropy → diagonal whitening → ABTT).
    * Flattened (vec_id, idx, value) so the full content hashes. */
  def embAbtt(spark: SparkSession, dir: String): DataFrame = {
    val emb = T.par(spark, T.t(spark, dir, "embeddings"))
    val (mu, dirs) = graft.ops.Pca.abttStats(
      emb.filter(col("vec_id") < 2000), dim = 64, r = 2, iters = 3)
    graft.ops.Pca.abttTransform(emb, mu, dirs)
      .orderBy(col("vec_id"), col("idx"))
  }

  /** Replay of the full ABTT trajectory: train-slice milli mean
    * (sign-split floored division), centered training relation, the
    * LlmQueries3 unrolled power-iteration template for direction 1,
    * exact deflation, the same template (prefix b) for direction 2,
    * then the serve-slice centered + twice-deflated map. */
  private def abttOracle: String = {
    def slice(name: String, pred: String): String =
      s"""$name AS MATERIALIZED (SELECT vec_id,
         |    CAST(r.range AS INTEGER) AS idx,
         |    CAST(floor(CAST(embedding[CAST(r.range + 1 AS INTEGER)]
         |      AS DOUBLE) * 1000) AS BIGINT) AS x
         |  FROM embeddings CROSS JOIN range(64) r WHERE $pred)""".stripMargin
    def deflate(out: String, src: String, v: String, vvN: String,
        xvN: String): String =
      s"""$vvN AS MATERIALIZED (SELECT CAST(sum(v * v) AS BIGINT) AS vv
         |  FROM $v),
         |$xvN AS MATERIALIZED (SELECT x.vec_id,
         |    CAST(sum(x.x * $v.v) AS BIGINT) AS xv
         |  FROM $src x JOIN $v ON $v.idx = x.idx GROUP BY x.vec_id),
         |$out AS MATERIALIZED (SELECT x.vec_id, x.idx,
         |    CAST(CASE WHEN x.x * $vvN.vv - $v.v * $xvN.xv < 0
         |      THEN -((-(x.x * $vvN.vv - $v.v * $xvN.xv)) // $vvN.vv)
         |      ELSE (x.x * $vvN.vv - $v.v * $xvN.xv) // $vvN.vv
         |    END AS BIGINT) AS x
         |  FROM $src x JOIN $v ON $v.idx = x.idx
         |    JOIN $xvN ON $xvN.vec_id = x.vec_id CROSS JOIN $vvN)"""
        .stripMargin
    s"""WITH ${slice("xm0", "vec_id < 2000")},
       |mu AS MATERIALIZED (SELECT idx,
       |    CAST(CASE WHEN sum(x) < 0 THEN -((-sum(x)) // count(*))
       |      ELSE sum(x) // count(*) END AS BIGINT) AS m
       |  FROM xm0 GROUP BY idx),
       |xm AS MATERIALIZED (SELECT x.vec_id, x.idx, x.x - mu.m AS x
       |  FROM xm0 x JOIN mu USING (idx)),
       |v0 AS (SELECT CAST(r.range AS INTEGER) AS idx,
       |    CAST(1000 AS BIGINT) AS v FROM range(64) r),
       |${LlmQueries3.pcaIters("xm", "")},
       |${deflate("xm2", "xm", "v3", "vv", "xv")},
       |bv0 AS (SELECT CAST(r.range AS INTEGER) AS idx,
       |    CAST(1000 AS BIGINT) AS v FROM range(64) r),
       |${LlmQueries3.pcaIters("xm2", "b")},
       |${slice("sm0", "TRUE")},
       |sm AS MATERIALIZED (SELECT x.vec_id, x.idx, x.x - mu.m AS x
       |  FROM sm0 x JOIN mu USING (idx)),
       |${deflate("s1", "sm", "v3", "svv", "sxv")},
       |${deflate("s2", "s1", "bv3", "bvv", "bxv")}
       |SELECT vec_id, idx, x AS value
       |FROM s2 ORDER BY vec_id, idx""".stripMargin
  }

  /** The `value_knn_shapley` replay with the fixed hash-lowest panel:
    * same pairwise integer-micro cosine kernel, same closed-form nano
    * recursion, panel membership via the rank-32 cut. */
  private def knnShapleyPanelOracle: String =
    s"""WITH corp AS (
       |  SELECT vec_id, label, vm, ${ExactSql.idot("vm", "vm")} AS nsq
       |  FROM (SELECT vec_id, label, ${ExactSql.microList("embedding")} AS vm
       |        FROM embeddings)),
       |pnl AS (SELECT vec_id FROM (SELECT vec_id, row_number() OVER (
       |    ORDER BY ${hashSql(19, "CAST(vec_id AS VARCHAR)")},
       |      vec_id) AS rk FROM corp) WHERE rk <= 32),
       |tr AS (SELECT * FROM corp
       |  WHERE vec_id NOT IN (SELECT vec_id FROM pnl)),
       |te AS (SELECT * FROM corp
       |  WHERE vec_id IN (SELECT vec_id FROM pnl)),
       |scored AS (
       |  ${ExactSql.cosMicroOver(
           """SELECT t.vec_id AS train_id, q.vec_id AS test_id,
             |      CASE WHEN t.label = q.label THEN 1 ELSE 0 END AS alpha,
             |      """.stripMargin + ExactSql.idot("t.vm", "q.vm") +
           """ AS dt, CAST(t.nsq AS HUGEINT) * q.nsq AS nn
             |    FROM tr t CROSS JOIN te q""".stripMargin,
           "train_id, test_id, alpha")}),
       |ranked AS (SELECT train_id, test_id, alpha,
       |    row_number() OVER (PARTITION BY test_id
       |      ORDER BY sim DESC, train_id) AS rank,
       |    count(*) OVER (PARTITION BY test_id) AS n
       |  FROM scored),
       |terms AS (SELECT *, lead(alpha) OVER (PARTITION BY test_id
       |      ORDER BY rank) AS anext
       |  FROM ranked),
       |contrib AS (SELECT train_id, test_id, rank,
       |    CASE WHEN anext IS NULL THEN alpha * (1000000000 // n)
       |         ELSE (alpha - anext) *
       |           ((least(5, rank) * 1000000000) // (5 * rank))
       |    END AS term
       |  FROM terms),
       |shap AS (SELECT train_id, test_id,
       |    sum(term) OVER (PARTITION BY test_id ORDER BY rank DESC)
       |      AS shap_nano
       |  FROM contrib)
       |SELECT train_id, CAST(count(*) AS BIGINT) AS n_tests,
       |  CAST(sum(shap_nano) AS BIGINT) AS shap_nano_sum
       |FROM shap GROUP BY train_id ORDER BY train_id""".stripMargin

  /** Replay of the Poisson-bootstrap AUC CI: GD epochs (the
    * LlmQueries14 machinery), per-(doc, rep) inverse-CDF weights on the
    * md5 micro draw (the nine floor(10⁶·CDF) literals ARE the
    * definition), weighted pairwise AUC per replicate keyed like the
    * quality_auc construction, rank-k CI bounds via the triangular join
    * on the 20-row replicate relation, unweighted point estimate. */
  private def aucBootstrapOracle: String = {
    val u = hashSql(23,
      "CAST(doc_id AS VARCHAR) || '|' || CAST(rep AS VARCHAR)") +
      " % 1000000"
    val wCase = graft.ops.QualityModel.poissonCdfMicro.zipWithIndex
      .map { case (c, k) => s"WHEN u < $c THEN $k" }
      .mkString("CASE ", " ", " ELSE 9 END")
    s"""WITH RECURSIVE ${LlmQueries14.exp2ConstsCtes},
       |${LlmQueries14.epochsCtes(iters = 3, lrDen = 16L)},
       |fe AS (SELECT doc_id, y, p FROM ep WHERE epoch = 3),
       |wts AS (SELECT doc_id, y, p, rep, $wCase AS w
       |  FROM (SELECT fe.*, r.rep, $u AS u
       |    FROM fe CROSS JOIN
       |      (SELECT unnest(generate_series(1, 20)) AS rep) r)),
       |per AS (SELECT rep, p AS s,
       |    CAST(sum(w * y) AS BIGINT) AS wp,
       |    CAST(sum(w * (1 - y)) AS BIGINT) AS wn
       |  FROM wts GROUP BY 1, 2),
       |cw AS (SELECT rep, s, wp, wn,
       |    CAST(coalesce(sum(wn) OVER (PARTITION BY rep ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS cumwn
       |  FROM per),
       |agg AS (SELECT rep,
       |    coalesce(sum(CAST(wp AS HUGEINT) * cumwn), 0) AS conc,
       |    coalesce(sum(CAST(wp AS HUGEINT) * wn), 0) AS tied,
       |    CAST(coalesce(sum(wp), 0) AS BIGINT) AS w_pos,
       |    CAST(coalesce(sum(wn), 0) AS BIGINT) AS w_neg
       |  FROM cw GROUP BY 1),
       |rr AS (SELECT rep, w_pos, w_neg,
       |    CAST(CASE WHEN w_pos = 0 OR w_neg = 0 THEN 0
       |      ELSE (1000000 * conc + 500000 * tied)
       |        // (CAST(w_pos AS HUGEINT) * w_neg) END AS BIGINT) AS auc
       |  FROM agg),
       |rk AS (SELECT a.rep, a.auc, CAST(count(b.rep) + 1 AS BIGINT) AS rk
       |  FROM rr a LEFT JOIN rr b
       |    ON b.auc < a.auc OR (b.auc = a.auc AND b.rep < a.rep)
       |  GROUP BY 1, 2),
       |ci AS (SELECT CAST(count(*) AS BIGINT) AS n_reps,
       |    max(CASE WHEN rk = 2 THEN auc END) AS ci_lo_micro,
       |    max(CASE WHEN rk = 19 THEN auc END) AS ci_hi_micro FROM rk),
       |pper AS (SELECT p AS s, count(*) AS n, CAST(sum(y) AS BIGINT) AS pos
       |  FROM fe GROUP BY 1),
       |pper2 AS (SELECT s, pos, n - pos AS neg FROM pper),
       |pconc AS (SELECT CAST(coalesce(sum(a.neg * b.pos), 0) AS BIGINT)
       |    AS concordant
       |  FROM pper2 a JOIN pper2 b ON a.s < b.s),
       |pt AS (SELECT CAST(coalesce(sum(pos * neg), 0) AS BIGINT) AS tied,
       |    CAST(coalesce(sum(pos), 0) AS BIGINT) AS n_pos,
       |    CAST(coalesce(sum(neg), 0) AS BIGINT) AS n_neg
       |  FROM pper2),
       |point AS (SELECT CAST(CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0
       |    ELSE (1000000 * concordant + 500000 * tied) // (n_pos * n_neg)
       |    END AS BIGINT) AS auc_micro
       |  FROM pt CROSS JOIN pconc)
       |SELECT n_reps, auc_micro, ci_lo_micro, ci_hi_micro
       |FROM point CROSS JOIN ci""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("quality_auc_bootstrap", qualityAucBootstrap, aucBootstrapOracle),
    Query("value_knn_shapley_panel", valueKnnShapleyPanel, knnShapleyPanelOracle),
    Query("quality_psi_drift", qualityPsiDrift, graft.ops.Sketches.psiDriftSql("documents",
      "lang", "n_chars", "en", "zh", LlmQueries14.log2ValueCtes)),
    Query("emb_abtt", embAbtt, abttOracle),
    // Waterfilling replay, construct-parallel with planMixUnimax: the
    // triangular rank/prefix join, the DECIMAL fit test, the maximal
    // fitting prefix k, the floored equal share, the leftover dust.
    Query("mix_unimax_plan", mixUnimaxPlan,
      s"""WITH counts AS (SELECT lang,
         |    CAST(sum(n_chars) AS BIGINT) AS n_tokens,
         |    CAST(2 * sum(n_chars) AS BIGINT) AS cap_tokens
         |  FROM documents GROUP BY 1),
         |lrel AS (SELECT CAST(count(*) AS BIGINT) AS l FROM counts),
         |ranked AS (SELECT a.lang, a.n_tokens, a.cap_tokens,
         |    CAST(count(b.lang) + 1 AS BIGINT) AS rank,
         |    CAST(coalesce(sum(b.cap_tokens), 0) AS BIGINT) AS prefix
         |  FROM counts a LEFT JOIN counts b
         |    ON b.cap_tokens < a.cap_tokens
         |      OR (b.cap_tokens = a.cap_tokens AND b.lang < a.lang)
         |  GROUP BY 1, 2, 3),
         |fits AS (SELECT *,
         |    CAST(cap_tokens AS HUGEINT) * (l - rank + 1)
         |      <= CAST(200000 - prefix AS HUGEINT) AS f
         |  FROM ranked CROSS JOIN lrel),
         |krel AS (SELECT
         |    CAST(coalesce(max(CASE WHEN f THEN rank END), 0) AS BIGINT)
         |      AS k,
         |    CAST(coalesce(sum(CASE WHEN f THEN cap_tokens END), 0)
         |      AS BIGINT) AS sk
         |  FROM fits),
         |plan AS (SELECT fits.*, rank <= k AS capped,
         |    CASE WHEN rank <= k THEN cap_tokens
         |         ELSE (200000 - sk) // greatest(l - k, 1) END
         |      AS alloc_tokens
         |  FROM fits CROSS JOIN krel),
         |lo AS (SELECT CAST(200000 - sum(alloc_tokens) AS BIGINT)
         |    AS leftover_tokens FROM plan)
         |SELECT lang, n_tokens, cap_tokens, rank, capped,
         |  CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
         |  CAST(CAST(alloc_tokens AS HUGEINT) * 1000000
         |    // greatest(n_tokens, 1) AS BIGINT) AS epochs_micro,
         |  leftover_tokens
         |FROM plan CROSS JOIN lo ORDER BY lang""".stripMargin),
    // Daily counts in cents (the kernel's T.cents convention), the
    // strict-ordered pair sign sum, tie-corrected 18·Var, and the
    // HUGEINT cross-multiplied significance comparison.
    Query("event_mann_kendall", eventMannKendall,
      s"""WITH d AS (SELECT event_type, date_trunc('day', ts) AS t,
         |    CAST(round(CAST(count(*) AS DOUBLE) * 100, 0) AS BIGINT)
         |      AS v
         |  FROM events GROUP BY 1, 2),
         |s AS (SELECT a.event_type,
         |    CAST(sum(CASE WHEN b.v > a.v THEN 1
         |        WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
         |  FROM d a JOIN d b ON b.event_type = a.event_type
         |    AND a.t < b.t
         |  GROUP BY 1),
         |ties AS (SELECT event_type,
         |    CAST(sum(t2 * (t2 - 1) * (2 * t2 + 5)) AS BIGINT) AS tie18
         |  FROM (SELECT event_type, v, CAST(count(*) AS BIGINT) AS t2
         |    FROM d GROUP BY 1, 2) GROUP BY 1),
         |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_points
         |  FROM d GROUP BY 1),
         |j AS (SELECT n.event_type, n.n_points,
         |    coalesce(s.s_stat, 0) AS s_stat,
         |    n.n_points * (n.n_points - 1) * (2 * n.n_points + 5)
         |      - coalesce(ties.tie18, 0) AS var18
         |  FROM n LEFT JOIN s ON s.event_type = n.event_type
         |  LEFT JOIN ties ON ties.event_type = n.event_type)
         |SELECT event_type, n_points, s_stat, var18,
         |  CASE WHEN s_stat > 0 THEN 'increasing'
         |       WHEN s_stat < 0 THEN 'decreasing'
         |       ELSE 'none' END AS trend,
         |  CAST(18 AS HUGEINT) * s_stat * s_stat * 1000000000000
         |    > CAST(1959964 AS HUGEINT) * 1959964 * var18 AS significant
         |FROM j ORDER BY event_type""".stripMargin),
  )
}
