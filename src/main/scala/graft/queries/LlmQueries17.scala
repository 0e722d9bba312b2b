package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.T
import CommonSql.normSql

/** Round-16 registry: the incremental exact-substring window ledger
  * (VERDICT r15 item 3 — the decon-service posture where the train
  * corpus is scanned once per snapshot, ever), interpolated Kneser–Ney
  * trigram scoring (item 6 — CCNet's actual KenLM smoothing at the
  * order the CCNet pipeline uses), and repetition-aware token
  * budgeting (item 7 — Muennighoff et al. 2023's value-decay repeats
  * closing the mix family's fresh-tokens-only gap).
  */
object LlmQueries17 {

  /** Exact-substring decon AGAINST THE WINDOW LEDGER
    * ([[graft.ops.Dedup.substringWindowLedger]] /
    * [[graft.ops.Dedup.exactSubstringContaminationLedger]]): the train
    * side (doc_id ≥ 50) arrives as TWO snapshots (even/odd doc_id),
    * each contributing its own distinct-window ledger build — the
    * union IS the persisted ledger's content after two
    * [[graft.ops.Dedup.appendSubstringLedger]] appends (duplicate
    * windows across snapshots are harmless; the probe semi-joins) —
    * and the doc_id < 50 benchmark probes the ledger alone. L = 40
    * (vs `decon_exact_substring`'s 30) so the query carries its own
    * values; the ledger≡scan equivalence at equal L is pinned in
    * DedupSpec, and PlanSpec pins that a parquet-backed probe never
    * scans a train document. */
  def deconSubstringLedger(spark: SparkSession, dir: String): DataFrame = {
    // parCpu: windowHashes (md5 per character window), twice over
    val docs = T.parCpu(spark, T.t(spark, dir, "documents"))
    val snapA = docs.filter(col("doc_id") >= 50 && col("doc_id") % 2 === 0)
    val snapB = docs.filter(col("doc_id") >= 50 && col("doc_id") % 2 === 1)
    val ledger = graft.ops.Dedup.substringWindowLedger(snapA, minLen = 40)
      .unionByName(graft.ops.Dedup.substringWindowLedger(snapB, minLen = 40))
    graft.ops.Dedup.exactSubstringContaminationLedger(
        docs.filter(col("doc_id") < 50), ledger, minLen = 40)
      .orderBy(col("doc_id"))
  }

  /** Interpolated Kneser–Ney trigram scoring
    * ([[graft.ops.TextAnalysis.kneserNeyTrigramScore]]): the LM-quality
    * family's missing scorer — `text_lm_trigram` is Laplace-
    * interpolated and `text_lm_kneser_ney` is the bigram KN; CCNet's
    * KenLM models are interpolated KN at higher order. Absolute
    * discount 3/4, continuation counts from trigram types, exact
    * integer micro throughout. */
  def textKnLmScore(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.kneserNeyTrigramScore(
        T.par(spark, T.t(spark, dir, "documents")))
      .orderBy(col("doc_id"))

  /** Repetition-aware token budget plan
    * ([[graft.ops.Curation.planRepeatValue]], Muennighoff et al.
    * NeurIPS 2023): the 300k-char-per-source epoch plan priced under
    * per-repeat value decay δ = 0.937 ≈ e^(−1/15.4) (the paper's
    * R* ≈ 15.4 half-life) — per source, full epochs + fractional
    * membership plus effective_tokens and value_ratio_micro, the
    * "how much is this repetition actually worth" readout. */
  def mixRepeatPlan(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Curation.planRepeatValue(
        T.par(spark, T.t(spark, dir, "documents")), "source",
        targetTokens = 300000L, decayMicro = 937000L,
        tokensCol = "n_chars")
      .orderBy(col("source"))

  /** ExactSubstr over TOKEN windows
    * ([[graft.ops.Dedup.exactSubstringSpansTokens]], L = 6 words): the
    * scale form the character operator's 100 TB note promises — one
    * window row per TOKEN (≈n/5 of the character relation), word-
    * boundary span resolution, the trade Lee et al.'s own pipeline
    * makes. Gated next to `dedup_exact_substring` so both units of the
    * family replay. */
  def dedupSubstringTokens(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.exactSubstringSpansTokens(
        // parCpu: token-window hash kernel (windowHashes family)
        T.parCpu(spark, T.t(spark, dir, "documents")), minLen = 6)
      .orderBy(col("doc_id"), col("span_start"))

  /** Optimal repeat allocation under a 3M-char total budget
    * ([[graft.ops.Curation.planRepeatOptimal]]): the equal-epoch-depth
    * waterfill that maximizes effective value when pass k is worth
    * δ^k — the budget-allocation half of the Muennighoff story
    * (`mix_repeat_plan` prices a given plan; this chooses one). */
  def mixRepeatOptimal(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Curation.planRepeatOptimal(
        T.par(spark, T.t(spark, dir, "documents")), "source",
        budget = 3000000L, decayMicro = 937000L, tokensCol = "n_chars")
      .orderBy(col("source"))

  /** Token-window exact-substring decontamination
    * ([[graft.ops.Dedup.exactSubstringContaminationTokens]], L = 8
    * words): the n-gram-overlap decon GPT-3/PaLM actually ran (Brown
    * et al. 2020 use 13-gram dedup against benchmarks; 8 here so the
    * synthetic corpus carries nonzero coverage) — the doc_id < 50
    * benchmark slice probed against the doc_id ≥ 50 train corpus in
    * word units, twin to `decon_exact_substring`'s character form. */
  def deconSubstringTokens(spark: SparkSession, dir: String): DataFrame = {
    // parCpu: token-window hash kernel (windowHashes family)
    val docs = T.parCpu(spark, T.t(spark, dir, "documents"))
    graft.ops.Dedup.exactSubstringContaminationTokens(
        docs.filter(col("doc_id") < 50), docs.filter(col("doc_id") >= 50),
        minLen = 8)
      .orderBy(col("doc_id"))
  }

  /** D4 selection ([[graft.ops.Similarity.d4Select]], Tirumala et al.
    * NeurIPS 2023) over the embeddings table: SemDeDup at cosine 0.4,
    * then SSL-prototype pruning keeping the hardest half per cell —
    * both stages on the shared [[SharedRels.ivfCents2000k8]] centroid
    * fixture (one k-means, the practical-pipeline divergence pinned in
    * the kernel's scaladoc). One row per dedup survivor with the
    * prune verdict. */
  def curationD4Select(spark: SparkSession, dir: String): DataFrame = {
    // localCheckpoint: stage 1 consumes the scan on both pair sides
    // plus the survivor anti-join; stage 2 re-reads the survivors
    val emb = T.par(spark, T.t(spark, dir, "embeddings")).localCheckpoint()
    graft.ops.Similarity.d4Select(emb,
        SharedRels.ivfCents2000k8(spark, dir),
        threshold = 0.4, keepNum = 1, keepDen = 2)
      .orderBy(col("vec_id"))
  }

  /** KN trigram replay: the text_lm_trigram exploded-trigram CTE, then
    * the three-level chain — trigram type counts, continuation counts
    * one level down each, and the P₁→P₂→P₃ interpolation with d = 3/4
    * multiplied through (one floor div per level; every dividend
    * non-negative, so // and div agree). */
  private def knTrigramOracle: String =
    s"""WITH w AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS ws
       |           FROM documents),
       |tg AS MATERIALIZED (SELECT doc_id,
       |         ws[CAST(r.range + 1 AS INTEGER)] || ' ' ||
       |           ws[CAST(r.range + 2 AS INTEGER)] || ' ' ||
       |           ws[CAST(r.range + 3 AS INTEGER)] AS t,
       |         ws[CAST(r.range + 1 AS INTEGER)] || ' ' ||
       |           ws[CAST(r.range + 2 AS INTEGER)] AS b12,
       |         ws[CAST(r.range + 2 AS INTEGER)] || ' ' ||
       |           ws[CAST(r.range + 3 AS INTEGER)] AS b23,
       |         ws[CAST(r.range + 2 AS INTEGER)] AS w2,
       |         ws[CAST(r.range + 3 AS INTEGER)] AS w3
       |       FROM w CROSS JOIN range(0, 100000) r
       |       WHERE r.range <= len(ws) - 3),
       |c3 AS (SELECT t, b12, b23, w2, w3, CAST(count(*) AS BIGINT) AS c3
       |       FROM tg GROUP BY 1, 2, 3, 4, 5),
       |x3 AS (SELECT b12, CAST(sum(c3) AS BIGINT) AS ctx3,
       |         CAST(count(*) AS BIGINT) AS n3 FROM c3 GROUP BY b12),
       |k2 AS (SELECT b23, w2, w3, CAST(count(*) AS BIGINT) AS cc2
       |       FROM c3 GROUP BY 1, 2, 3),
       |x2 AS (SELECT w2, CAST(sum(cc2) AS BIGINT) AS ctx2c,
       |         CAST(count(*) AS BIGINT) AS nb2 FROM k2 GROUP BY w2),
       |k1 AS (SELECT w3, CAST(count(*) AS BIGINT) AS cc1
       |       FROM k2 GROUP BY w3),
       |nb AS (SELECT CAST(count(*) AS BIGINT) AS nbt FROM k2),
       |dt AS (SELECT doc_id, t, b12, b23, w2, w3,
       |         CAST(count(*) AS BIGINT) AS n
       |       FROM tg GROUP BY 1, 2, 3, 4, 5, 6),
       |pr AS (SELECT dt.doc_id, dt.n,
       |         (1000000 * (4 * c3.c3 - 3) + 3 * x3.n3 *
       |           ((1000000 * (4 * k2.cc2 - 3) + 3 * x2.nb2 *
       |             ((1000000 * k1.cc1) // nb.nbt)) // (4 * x2.ctx2c)))
       |           // (4 * x3.ctx3) AS p3
       |       FROM dt JOIN c3 USING (t)
       |            JOIN x3 ON x3.b12 = dt.b12
       |            JOIN k2 ON k2.b23 = dt.b23
       |            JOIN x2 ON x2.w2 = dt.w2
       |            JOIN k1 ON k1.w3 = dt.w3
       |            CROSS JOIN nb),
       |s AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_trigrams,
       |        CAST(sum(n * p3) // sum(n) AS BIGINT) AS kn3_micro
       |      FROM pr GROUP BY doc_id)
       |SELECT d.doc_id, CAST(coalesce(s.n_trigrams, 0) AS BIGINT) AS n_trigrams,
       |  CAST(coalesce(s.kn3_micro, 0) AS BIGINT) AS kn3_micro
       |FROM documents d LEFT JOIN s USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Repeat-plan replay: the mix_epoch_plan chain at the 300k target,
    * then the per-epoch value explode — δ^k = exp2(k·lgδ) through the
    * shared exp2 fixed-point CTEs, with lgδ inlined from the SAME
    * Scala kernel the plan calls driver-side (the dsirOracle lgU
    * convention). HUGEINT on the token×value product (a large stratum
    * at micro scale wraps BIGINT). */
  private def mixRepeatOracle(target: Long, decayMicro: Long): String = {
    val unit = 1000000L
    val lgD = graft.functions.ExactMicroOps.log2Micro(decayMicro) -
      graft.functions.ExactMicroOps.log2Micro(unit)
    s"""WITH RECURSIVE ${LlmQueries14.exp2ConstsCtes},
       |c AS (SELECT source, count(*) AS n_docs,
       |    CAST(sum(n_chars) AS BIGINT) AS n_tokens_tot
       |  FROM documents GROUP BY source),
       |f AS (SELECT source, n_docs, n_tokens_tot,
       |    CAST((CAST($unit AS BIGINT) * $target)
       |      // greatest(n_tokens_tot, 1) AS BIGINT) AS epochs_micro
       |  FROM c),
       |e AS (SELECT *, epochs_micro // $unit AS full_epochs,
       |    epochs_micro % $unit AS frac_micro FROM f),
       |h AS (SELECT source, n_chars,
       |    CAST('0x' || substring(md5('97|' || CAST(doc_id AS VARCHAR)),
       |      1, 15) AS BIGINT) % $unit AS hm
       |  FROM documents),
       |p AS (SELECT h.source,
       |    CAST(sum(CASE WHEN hm < frac_micro THEN 1 ELSE 0 END)
       |      AS BIGINT) AS partial_docs,
       |    CAST(sum(CASE WHEN hm < frac_micro THEN n_chars ELSE 0 END)
       |      AS BIGINT) AS partial_tokens
       |  FROM h JOIN e USING (source) GROUP BY h.source),
       |b AS (SELECT e.source, e.n_docs, e.n_tokens_tot, e.epochs_micro,
       |    e.full_epochs, e.frac_micro, p.partial_docs, p.partial_tokens,
       |    CAST(e.full_epochs * e.n_tokens_tot + p.partial_tokens
       |      AS BIGINT) AS planned_tokens
       |  FROM e JOIN p USING (source)),
       |ks AS (SELECT source, n_tokens_tot, full_epochs, partial_tokens,
       |    CAST(unnest(range(0, full_epochs + 1)) AS BIGINT) AS kk
       |  FROM b),
       |kt AS (SELECT source,
       |    CASE WHEN kk < full_epochs THEN n_tokens_tot
       |         ELSE partial_tokens END AS tok,
       |    greatest(kk * ($lgD), ${-64L * unit}) + 64000000 AS xs
       |  FROM ks),
       |ex AS (SELECT source, tok, (xs // $unit) - 64 AS eq,
       |    ((xs % $unit) * 1048576) // $unit AS fr
       |  FROM kt),
       |e2 AS (SELECT source, tok,
       |    CAST((acc * $unit) //
       |      (CAST(1 AS HUGEINT) << CAST(32 - eq AS INTEGER))
       |      AS BIGINT) AS e2v
       |  FROM (SELECT ex.*, ${LlmQueries14.exp2AccExpr("fr")} AS acc
       |    FROM ex CROSS JOIN cl) ex),
       |eff AS (SELECT source,
       |    CAST(sum((CAST(tok AS HUGEINT) * e2v) // $unit) AS BIGINT)
       |      AS effective_tokens
       |  FROM e2 GROUP BY source)
       |SELECT b.source, b.n_docs, b.n_tokens_tot, b.epochs_micro,
       |  b.full_epochs, b.frac_micro, b.partial_docs, b.partial_tokens,
       |  b.planned_tokens, eff.effective_tokens,
       |  CAST(($unit * eff.effective_tokens)
       |    // greatest(b.planned_tokens, 1) AS BIGINT) AS value_ratio_micro
       |FROM b JOIN eff USING (source) ORDER BY b.source""".stripMargin
  }

  /** Token-window ExactSubstr replay: normalized word lists, one row
    * per L-token window (md5 of the space-rejoined slice — DuckDB list
    * slicing is 1-based inclusive, matching Spark's `slice(arr, s,
    * L)`), global count ≥ 2, then the shared interval-merge CTEs in
    * token units. */
  private def tokenSubstringOracle(L: Int): String =
    s"""WITH w AS (SELECT doc_id,
       |    list_filter(string_split(${normSql("text")}, ' '),
       |      x -> x <> '') AS ws
       |  FROM documents),
       |pos AS (SELECT doc_id, CAST(s AS BIGINT) AS s,
       |    md5(array_to_string(
       |      ws[CAST(s AS INTEGER):CAST(s + $L - 1 AS INTEGER)], ' ')) AS g
       |  FROM (SELECT doc_id, ws,
       |      unnest(range(1, len(ws) - $L + 2)) AS s
       |    FROM w WHERE len(ws) >= $L)),
       |dups AS (SELECT g FROM pos GROUP BY g HAVING count(*) >= 2),
       |hits AS (SELECT doc_id, s FROM pos JOIN dups USING (g)),
       |${LlmQueries16.mergeCtes(L)}
       |SELECT doc_id, span_start, span_end, span_len, n_windows
       |FROM spans ORDER BY doc_id, span_start""".stripMargin

  /** Optimal-allocation replay: per-source masses, the global level
    * split B = k*·U + R, pro-rata partials in HUGEINT, then the same
    * per-level exp2 value explode as [[mixRepeatOracle]]. */
  private def mixRepeatOptimalOracle(budget: Long,
      decayMicro: Long): String = {
    val unit = 1000000L
    val lgD = graft.functions.ExactMicroOps.log2Micro(decayMicro) -
      graft.functions.ExactMicroOps.log2Micro(unit)
    s"""WITH RECURSIVE ${LlmQueries14.exp2ConstsCtes},
       |c AS (SELECT source,
       |    CAST(sum(n_chars) AS BIGINT) AS n_tokens_tot
       |  FROM documents GROUP BY source),
       |u AS (SELECT CAST(sum(n_tokens_tot) AS BIGINT) AS uu FROM c),
       |b AS (SELECT c.source, c.n_tokens_tot,
       |    CAST($budget // greatest(u.uu, 1) AS BIGINT) AS full_levels,
       |    CAST((CAST($budget % greatest(u.uu, 1) AS HUGEINT)
       |      * c.n_tokens_tot) // greatest(u.uu, 1) AS BIGINT)
       |      AS partial_tokens
       |  FROM c CROSS JOIN u),
       |p AS (SELECT *,
       |    CAST(full_levels * n_tokens_tot + partial_tokens AS BIGINT)
       |      AS alloc_tokens,
       |    CAST(($unit * (full_levels * n_tokens_tot + partial_tokens))
       |      // greatest(n_tokens_tot, 1) AS BIGINT) AS epochs_micro
       |  FROM b),
       |ks AS (SELECT source, n_tokens_tot, full_levels, partial_tokens,
       |    CAST(unnest(range(0, full_levels + 1)) AS BIGINT) AS kk
       |  FROM p),
       |kt AS (SELECT source,
       |    CASE WHEN kk < full_levels THEN n_tokens_tot
       |         ELSE partial_tokens END AS tok,
       |    greatest(kk * ($lgD), ${-64L * unit}) + 64000000 AS xs
       |  FROM ks),
       |ex AS (SELECT source, tok, (xs // $unit) - 64 AS eq,
       |    ((xs % $unit) * 1048576) // $unit AS fr
       |  FROM kt),
       |e2 AS (SELECT source, tok,
       |    CAST((acc * $unit) //
       |      (CAST(1 AS HUGEINT) << CAST(32 - eq AS INTEGER))
       |      AS BIGINT) AS e2v
       |  FROM (SELECT ex.*, ${LlmQueries14.exp2AccExpr("fr")} AS acc
       |    FROM ex CROSS JOIN cl) ex),
       |eff AS (SELECT source,
       |    CAST(sum((CAST(tok AS HUGEINT) * e2v) // $unit) AS BIGINT)
       |      AS effective_tokens
       |  FROM e2 GROUP BY source),
       |lo AS (SELECT CAST($budget - sum(alloc_tokens) AS BIGINT)
       |    AS leftover_tokens FROM p)
       |SELECT p.source, p.n_tokens_tot, p.full_levels, p.partial_tokens,
       |  p.alloc_tokens, p.epochs_micro, eff.effective_tokens,
       |  CAST(($unit * eff.effective_tokens)
       |    // greatest(p.alloc_tokens, 1) AS BIGINT) AS value_ratio_micro,
       |  lo.leftover_tokens
       |FROM p JOIN eff USING (source) CROSS JOIN lo
       |ORDER BY p.source""".stripMargin
  }

  /** Token-decon replay: the [[tokenSubstringOracle]] window CTE split
    * across the doc_id boundary (eval windows positional, train
    * windows a DISTINCT hash set), then the shared interval-merge CTEs
    * and the char-decon per-doc rollup in token units. */
  private def tokenDeconOracle(L: Int, cut: Long): String =
    s"""WITH w AS (SELECT doc_id,
       |    list_filter(string_split(${normSql("text")}, ' '),
       |      x -> x <> '') AS ws
       |  FROM documents),
       |ew AS (SELECT doc_id, CAST(s AS BIGINT) AS s,
       |    md5(array_to_string(
       |      ws[CAST(s AS INTEGER):CAST(s + $L - 1 AS INTEGER)], ' ')) AS g
       |  FROM (SELECT doc_id, ws,
       |      unnest(range(1, len(ws) - $L + 2)) AS s
       |    FROM w WHERE len(ws) >= $L AND doc_id < $cut)),
       |tw AS (SELECT DISTINCT md5(array_to_string(
       |      ws[CAST(s AS INTEGER):CAST(s + $L - 1 AS INTEGER)], ' ')) AS g
       |  FROM (SELECT doc_id, ws,
       |      unnest(range(1, len(ws) - $L + 2)) AS s
       |    FROM w WHERE len(ws) >= $L AND doc_id >= $cut)),
       |hits AS (SELECT doc_id, s FROM ew WHERE g IN (SELECT g FROM tw)),
       |${LlmQueries16.mergeCtes(L)},
       |perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       |    CAST(sum(span_len) AS BIGINT) AS covered FROM spans
       |  GROUP BY doc_id)
       |SELECT w.doc_id,
       |  coalesce(p.n_spans, 0) AS n_spans,
       |  coalesce(p.covered, 0) AS covered_tokens,
       |  CAST(len(w.ws) AS BIGINT) AS n_tokens,
       |  (1000000 * coalesce(p.covered, 0))
       |    // greatest(len(w.ws), 1) AS coverage_micro
       |FROM w LEFT JOIN perdoc p ON p.doc_id = w.doc_id
       |WHERE w.doc_id < $cut ORDER BY w.doc_id""".stripMargin

  private def cosDuck(a: String, b: String) =
    s"""list_dot_product($a, $b)
       | / (sqrt(list_dot_product($a, $a))
       |    * sqrt(list_dot_product($b, $b)))""".stripMargin

  /** D4 replay: the `sim_semantic_dedup` chain (k-means cells, within-
    * cell cosine pairs, recursive-reach components, min-id survivor)
    * on the vid<2000-trained k=8 centroids, then the
    * `curation_prototype_prune` chain over the survivors. */
  private def d4Oracle(thr: Double): String =
    s"""WITH RECURSIVE src AS (
       |  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${KmeansSql.trainCtes("src", "vid < 2000", k = 8, iters = 2, dim = 64)},
       |cent AS (SELECT cell, cm FROM c2),
       |asg AS (${KmeansSql.assignSql("src", "cent")}),
       |pairs AS (SELECT a.vid AS id_a, b.vid AS id_b
       |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vid < b.vid
       |  JOIN src va ON va.vid = a.vid
       |  JOIN src vb ON vb.vid = b.vid
       |  WHERE round(${cosDuck("va.v", "vb.v")}, 6) >= $thr),
       |edges AS (SELECT id_a AS u, id_b AS w FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, lab) AS (
       |  SELECT DISTINCT u, u FROM edges
       |  UNION
       |  SELECT e.w, r.lab FROM reach r JOIN edges e ON e.u = r.id),
       |losers AS (SELECT id FROM (
       |    SELECT id, min(lab) AS component FROM reach GROUP BY id)
       |  WHERE component <> id),
       |surv AS (SELECT vid, v FROM src
       |  WHERE vid NOT IN (SELECT id FROM losers)),
       |dc AS (SELECT s.vid, c.cell,
       |    1000000 - CAST(round(list_dot_product(s.v, CAST(c.cm AS DOUBLE[]))
       |      / (sqrt(list_dot_product(s.v, s.v))
       |         * sqrt(list_dot_product(CAST(c.cm AS DOUBLE[]),
       |                                 CAST(c.cm AS DOUBLE[]))))
       |      * 1000000, 0) AS BIGINT) AS d
       |  FROM surv s CROSS JOIN cent c),
       |own AS (SELECT vid, cell, d FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vid
       |      ORDER BY d, cell) AS rn FROM dc) WHERE rn = 1),
       |rkd AS (SELECT vid, cell, d,
       |    row_number() OVER (PARTITION BY cell
       |      ORDER BY d DESC, vid) AS rank_in_cell,
       |    count(*) OVER (PARTITION BY cell) AS n
       |  FROM own)
       |SELECT vid AS vec_id, cell, d AS dist_micro,
       |  CAST(rank_in_cell AS INTEGER) AS rank_in_cell,
       |  rank_in_cell * 2 <= n AS kept
       |FROM rkd ORDER BY vec_id""".stripMargin

  val all: Seq[Query] = Seq(
    // the ledger probe's value semantics ARE the scan decon's at L=40
    // over the same train slice — distinct-of-union equals union-of-
    // distincts under a semi-join, so the shared replay is exact
    Query("decon_substring_ledger", deconSubstringLedger,
      LlmQueries16.deconExactSubstringOracle(40, 50L)),
    Query("text_kn_lm_score", textKnLmScore, knTrigramOracle),
    Query("mix_repeat_plan", mixRepeatPlan, mixRepeatOracle(300000L, 937000L)),
    Query("dedup_substring_tokens", dedupSubstringTokens, tokenSubstringOracle(6)),
    Query("mix_repeat_optimal", mixRepeatOptimal, mixRepeatOptimalOracle(3000000L, 937000L)),
    Query("decon_substring_tokens", deconSubstringTokens, tokenDeconOracle(8, 50L)),
    Query("curation_d4_select", curationD4Select, d4Oracle(0.4))
  )
}
