package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.T
import CommonSql.{hashSql, normSql}

/** Round-13 extension registry: exact time-series autocorrelation, the
  * WordPiece tokenizer (completing the BPE / unigram-LM / WordPiece
  * subword triad), the exp2Micro-powered exact training ops (integer
  * logistic GD → dataset cartography; DoReMi domain reweighting), each
  * with a full DuckDB replay oracle.
  */
object LlmQueries14 {

  /** Sample ACF of the hourly event-count series per event_type at lags
    * 1..4 ([[graft.ops.Sessions.autocorrelation]]): the seasonality /
    * burstiness readout. Exact: the estimator is multiplied through by
    * n² so both sums are integer products of centered counts
    * (n·x_t − S), ridden in DECIMAL(38,0), and acf_micro is one
    * sign-split integral division. */
  def eventAutocorr(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sessions.autocorrelation(
        T.par(spark, T.t(spark, dir, "events")), maxLag = 4)
      .orderBy(col("event_type"), col("lag"))

  /** WordPiece tokenizer, trained and served under the gate
    * ([[graft.ops.TextAnalysis.trainWordPieceVocab]] →
    * [[graft.ops.TextAnalysis.wordPieceSegmentStats]]) — the greedy
    * longest-match-first third of the subword triad. The oracle replays
    * everything: position-kind candidate counting (word-initial vs
    * continuation), the pinned (count desc, initial-first, piece)
    * top-512 ∪ single-chars vocabulary, and the greedy walk as 16
    * unrolled steps — each advancing every unfinished chunk by its
    * longest matching piece — so per-doc piece/UNK counts and fertility
    * match bit-for-bit. */
  def textWordpieceSegment(spark: SparkSession, dir: String): DataFrame = {
    // parCpu: per-chunk greedy longest-match walk — CPU dwarfs bytes
    // (r17: 5.6 s at width 1 vs 2.1 s full width)
    val docs = T.parCpu(spark, T.t(spark, dir, "documents"))
    val vocab = graft.ops.TextAnalysis.trainWordPieceVocab(docs)
    graft.ops.TextAnalysis.wordPieceSegmentStats(docs, vocab)
      .orderBy(col("doc_id"))
  }

  /** Documents with the is-English gold label the quality family trains
    * against (the `quality_pr_curve` convention) — now the
    * [[SharedRels.labeledDocs]] relation, shared with the GD fixtures. */
  private def labeledDocs(spark: SparkSession, dir: String): DataFrame =
    SharedRels.labeledDocs(spark, dir)

  /** The session-shared exact-GD epoch relation (dim 64, lr 1/16,
    * 3 iters) — [[SharedRels.gdEpochScores]]: eight readouts aggregate
    * this one materialized fixture instead of each re-running GD (the
    * production posture: the per-epoch score table is written once by
    * the training-dynamics job and READ by every readout). */
  private def ep3x16(spark: SparkSession, dir: String): DataFrame =
    SharedRels.gdEpochScores(spark, dir, iters = 3, lrDen = 16L)

  /** The (id, y) label relation matching [[SharedRels.gdFeatures]]. */
  private def gdLabels(spark: SparkSession, dir: String): DataFrame =
    labeledDocs(spark, dir)
      .select(col("doc_id").as("id"), col("label").cast("long").as("y"))

  /** (feats, labels) for the id subset selected by a semi/anti join on
    * `ids` — the split-derivation every split-trained GD query shares:
    * identical rows to re-featurizing the filtered docs, zero extra
    * tokenize passes (the fixture is tokenized once per session). */
  private def gdSide(spark: SparkSession, dir: String, ids: DataFrame,
      joinType: String): (DataFrame, DataFrame) = {
    // EAGER checkpoints on purpose (r16 measured): both relations feed
    // 2+ consumers that land in the SAME downstream job, and with a
    // lazy checkpoint those subtrees race to materialize the blocks
    // concurrently and each recomputes the scan (the sim_rrf_hybrid
    // lesson) — the eager job guarantees compute-once
    val l = gdLabels(spark, dir)
      .join(ids.select(col("doc_id").as("id")), Seq("id"), joinType)
      .localCheckpoint()
    (SharedRels.gdFeatures(spark, dir)
      .join(l.select(col("id")), Seq("id"), "left_semi")
      .localCheckpoint(), l)
  }

  /** Exact integer-micro logistic GD under the gate
    * ([[graft.ops.QualityModel.logisticTrajectoryMicro]]): 3 iterations
    * of batch gradient descent over 64 hashed bag-of-words buckets with
    * lr = 1/16, every margin/σ/gradient/update exact integer arithmetic
    * (sigmoidMicro = isqrt-derived 2^x product chain), output the final
    * (bucket, w_micro) weight relation with bias at bucket −1. The
    * oracle unrolls the identical trajectory — the whole LEARNED MODEL
    * is bit-identical across engines, which the float path can never
    * be. */
  def qualityLogisticTrain(spark: SparkSession, dir: String): DataFrame =
    graft.ops.QualityModel.logisticWeightsFromFeats(spark,
        SharedRels.gdFeatures(spark, dir), gdLabels(spark, dir),
        dim = 64, iters = 3, lrNum = 1L, lrDen = 16L)
      .orderBy(col("bucket"))

  /** Dataset cartography (Swayamdipta et al. 2020) over the exact-GD
    * trajectory ([[graft.ops.QualityModel.cartographyMicro]]): per-doc
    * confidence (mean true-label probability across the 3 epochs),
    * variability (exact integer std via isqrt of the multiplied-through
    * variance), correct-epoch count, and the pinned easy / ambiguous /
    * hard region — the training-dynamics curation signal. */
  def curationCartography(spark: SparkSession, dir: String): DataFrame =
    graft.ops.QualityModel.cartographyFromEpochs(ep3x16(spark, dir),
        iters = 3)
      .orderBy(col("doc_id"))

  /** Example forgetting (Toneva et al. 2019) over the exact-GD epochs
    * ([[graft.ops.QualityModel.forgettingEventsMicro]]): first-learned
    * epoch, forgetting-event count (correct→incorrect transitions via
    * one (doc, epoch+1) equi-join), final correctness, and the
    * unforgettable flag. */
  def curationForgetting(spark: SparkSession, dir: String): DataFrame =
    graft.ops.QualityModel.forgettingFromEpochs(
        SharedRels.gdEpochScores(spark, dir, iters = 6, lrDen = 24L),
        iters = 6)
      .orderBy(col("doc_id"))

  /** Per-epoch training curve of the exact-GD run
    * ([[graft.ops.QualityModel.gdTrainingCurve]]): correct count and
    * exact integer base-2 log-loss per epoch — the loss curve itself is
    * engine-replayable. */
  def qualityGdCurve(spark: SparkSession, dir: String): DataFrame =
    graft.ops.QualityModel.gdCurveFromEpochs(
        SharedRels.gdEpochScores(spark, dir, iters = 6, lrDen = 24L))
      .orderBy(col("epoch"))

  /** Data-diet pruning (Paul et al. 2021,
    * [[graft.ops.QualityModel.dataDietScores]]): exact EL2N and GraNd
    * scores over the GD epochs, plus the paper's pruning decision —
    * keep the top 60% by GraNd within each language (the exact
    * rank-ceiling arithmetic of [[graft.ops.Curation.keepTopQuantile]],
    * surfaced as a flag). */
  def curationDataDiet(spark: SparkSession, dir: String): DataFrame = {
    val sc = graft.ops.QualityModel.dataDietScoresFromEpochs(
        ep3x16(spark, dir), SharedRels.gdFeatures(spark, dir))
      .join(T.t(spark, dir, "documents").select(col("doc_id"), col("lang")),
        Seq("doc_id"))
    val kept = graft.ops.Curation.keepTopQuantile(sc, "lang", "grand_micro",
        "doc_id", qMicro = 600000L)
      .select(col("doc_id"), lit(true).as("keep"))
    sc.join(kept, Seq("doc_id"), "left")
      .withColumn("keep", coalesce(col("keep"), lit(false)))
      .orderBy(col("doc_id"))
  }

  // TracIn influence's registry gate is `value_tracin_panel` below: the
  // legacy doc_id % 25 modulus panel made the gated |train|×|panel|
  // relation quadratic in the corpus — at 100× its own panel (~20k
  // docs) would trip [[graft.ops.Valuation.tracinInfluence]]'s
  // maxPanel guard — so the modulus variant was retired (VERDICT r14
  // "What's wrong" 1) in favor of the fixed 32-doc hash-lowest panel.

  /** TracIn influence (Pruthi et al. 2020) with a FIXED-SIZE test panel:
    * the 32 docs with the lowest md5-based [[graft.ops.Dedup.hashStr]]
    * (seed 19, ties to the lower doc_id) — a deterministic spread
    * sample whose size does NOT grow with the corpus, i.e. the shape
    * [[graft.ops.Valuation.tracinInfluence]]'s panel broadcast and
    * |train|×|panel| pair relation are designed for (and that the
    * `maxPanel` guard enforces). Panel selection is orderBy+limit —
    * TakeOrderedAndProject, per-partition top-n, no global sort. */
  def valueTracinPanel(spark: SparkSession, dir: String): DataFrame = {
    val panel = labeledDocs(spark, dir).select(col("doc_id"),
        graft.ops.Dedup.hashStr(col("doc_id").cast("string"), 19).as("__h"))
      .orderBy(col("__h"), col("doc_id")).limit(32).select("doc_id")
    val (fTr, lTr) = gdSide(spark, dir, panel, "left_anti")
    val (fTe, lTe) = gdSide(spark, dir, panel, "left_semi")
    graft.ops.Valuation.tracinInfluenceFromFeats(fTr, lTr, fTe, lTe,
        dim = 64, iters = 3, lrNum = 1L, lrDen = 16L, topK = 3,
        trajOpt = Some(
          SharedRels.panelGdTrajectory3x16(spark, dir, fTr, lTr)))
      .orderBy(col("test_id"), col("kind"), col("rank"))
  }

  /** DataInf influence (Kwon et al. ICLR 2024,
    * [[graft.ops.Valuation.datainfInfluenceFromFeats]]) on the SAME
    * fixed 32-doc hash-lowest panel as `value_tracin_panel`: the
    * inverse-Hessian-corrected valuation TracIn approximates without
    * the curvature term — Sherman–Morrison closed form, u_v
    * factorization, one micro score per train doc summed over the
    * panel. Gated side by side with TracIn so the two published
    * estimators are directly comparable on identical gradients. */
  def valueDatainfPanel(spark: SparkSession, dir: String): DataFrame = {
    val panel = labeledDocs(spark, dir).select(col("doc_id"),
        graft.ops.Dedup.hashStr(col("doc_id").cast("string"), 19).as("__h"))
      .orderBy(col("__h"), col("doc_id")).limit(32).select("doc_id")
    val (fTr, lTr) = gdSide(spark, dir, panel, "left_anti")
    val (fTe, lTe) = gdSide(spark, dir, panel, "left_semi")
    graft.ops.Valuation.datainfInfluenceFromFeats(fTr, lTr, fTe, lTe,
        dim = 64, iters = 3, lrNum = 1L, lrDen = 16L,
        trajOpt = Some(
          SharedRels.panelGdTrajectory3x16(spark, dir, fTr, lTr)))
      .orderBy(col("train_id"))
  }

  /** TracIn self-influence (Pruthi et al. 2020 §4,
    * [[graft.ops.Valuation.tracinSelfInfluence]]): per-doc
    * η·(‖x‖²+1)·Σ_t r_t² — the mislabel/outlier detector (memorized
    * examples reduce their own loss themselves and score highest). */
  def valueTracinSelf(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Valuation.tracinSelfFromEpochs(ep3x16(spark, dir),
        SharedRels.gdFeatures(spark, dir), lrNum = 1L, lrDen = 16L)
      .orderBy(col("doc_id"))

  /** Split conformal prediction over the exact-GD model
    * ([[graft.ops.QualityModel.conformalGate]]): the score model is
    * trained on the doc_id % 5 ≠ 0 split only (proper split conformal,
    * ADVICE r13), calibration quantile q̂ at α = 10% from the
    * doc_id % 5 = 0 split via exact rank-ceiling arithmetic on the
    * distinct-score relation, per-eval-doc coverage flags. */
  def qualityConformal(spark: SparkSession, dir: String): DataFrame =
    graft.ops.QualityModel.conformalGateFromFeats(
        SharedRels.gdFeatures(spark, dir), gdLabels(spark, dir),
        dim = 64, iters = 3, lrNum = 1L, lrDen = 16L, calMod = 5,
        alphaMicro = 100000L)
      .orderBy(col("doc_id"))

  /** Exact ECE/MCE of the final-epoch GD model
    * ([[graft.ops.QualityModel.calibrationError]]): equal-width
    * probability bins, per-bin |acc − conf| gaps multiplied through by
    * the counts so the two calibration scalars replay bit-for-bit. */
  def qualityEce(spark: SparkSession, dir: String): DataFrame =
    graft.ops.QualityModel.calibrationErrorFromEpochs(ep3x16(spark, dir),
      iters = 3)

  /** The temperature grid shared by the Spark kernel and the DuckDB
    * replay: T = 2^(k/8) in exact micro for k ∈ [−16, 16] (±2 octaves
    * in eighth-octave steps, T = 10⁶ exactly at k = 0 — the
    * uncalibrated row). A hyperparameter CONSTANT, computed once from
    * the same fixed-point exp2 chain both engines implement. */
  private[queries] val tempGrid: Seq[Long] =
    (-16 to 16).map(k =>
      graft.functions.ExactMicroOps.exp2Micro(k * 125000L))

  /** Grid-exact temperature scaling (Guo et al. ICML 2017,
    * [[graft.ops.QualityModel.temperatureScaleFromEpochs]]) of the
    * shared final-epoch GD model: NLL at every grid temperature with
    * the argmin flagged — the one-parameter post-hoc calibration the
    * ECE/Brier readouts diagnose the need for. */
  def qualityTempScale(spark: SparkSession, dir: String): DataFrame =
    graft.ops.QualityModel.temperatureScaleFromEpochs(
        ep3x16(spark, dir), iters = 3, tempGrid)
      .orderBy(col("t_micro"))

  /** Murphy (1973) Brier decomposition of the final-epoch GD model
    * ([[graft.ops.QualityModel.brierDecomposition]]): reliability −
    * resolution + uncertainty over the same equal-width bins as
    * `quality_ece`, per-bin means floored once to micro so every
    * intermediate stays ≤ N·10¹² at any corpus size. */
  def qualityBrierDecomp(spark: SparkSession, dir: String): DataFrame =
    graft.ops.QualityModel.brierDecompositionFromEpochs(
      ep3x16(spark, dir), iters = 3)

  /** RHO-loss selection (Mindermann et al. 2022,
    * [[graft.ops.QualityModel.rhoLossScores]]): reducible holdout loss
    * per training doc from two exact-GD models (train split vs the
    * doc_id % 4 = 0 holdout split), rho = loss − irreducible, selected
    * = rho > 0 — learnable-but-not-yet-learnt prioritization. */
  def curationRhoLoss(spark: SparkSession, dir: String): DataFrame =
    graft.ops.QualityModel.rhoLossScoresFromFeats(
        SharedRels.gdFeatures(spark, dir), gdLabels(spark, dir),
        calMod = 4, dim = 64, iters = 3, lrNum = 1L, lrDen = 16L)
      .orderBy(col("doc_id"))

  /** Group-DRO training readout (Sagawa et al. 2020,
    * [[graft.ops.QualityModel.groupTrainingCurve]]): per (epoch, lang)
    * exact correct counts and base-2 log-loss with the worst-group
    * flag — the fairness audit over the exact-GD trajectory. */
  def qualityGroupLoss(spark: SparkSession, dir: String): DataFrame =
    graft.ops.QualityModel.groupCurveFromEpochs(ep3x16(spark, dir),
        labeledDocs(spark, dir).select(col("doc_id"),
          col("lang").as("grp")),
        groupCol = "lang")
      .orderBy(col("epoch"), col("lang"))

  /** Per-event-type Fano factor over the hourly grid
    * ([[graft.ops.Sessions.fanoFactor]]): the burstiness scalar —
    * variance-to-mean of the densified bucket counts as one
    * multiplied-through integral division. */
  def eventFano(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sessions.fanoFactor(
        T.par(spark, T.t(spark, dir, "events")))
      .orderBy(col("event_type"))

  /** Partial autocorrelation at lags 1..3 per event_type
    * ([[graft.ops.Sessions.partialAutocorrelation]]): exact
    * Durbin–Levinson closed forms over the micro ACF — the Box–Jenkins
    * AR-identification readout, every product/division the shared
    * sign-split micro kernel. */
  def eventPacf(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sessions.partialAutocorrelation(
        T.par(spark, T.t(spark, dir, "events")))
      .orderBy(col("event_type"))

  /** Heaps'-law vocabulary-growth fit
    * ([[graft.ops.TextAnalysis.heapsFit]]): exponent β and r² of
    * log V on log N over 50-doc buckets — the [[textZipfFit]]
    * diagnostic's companion (natural corpora β ≈ 0.4–0.6; saturated
    * vocabularies read β ≈ 0). */
  def textHeapsFit(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.heapsFit(
      T.par(spark, T.t(spark, dir, "documents")), bucketDocs = 50)

  /** Exact nDCG@5 + true-NN MRR of the 8-dim ±1 sign-projection
    * ranking against the full-dimension cosine ground truth
    * ([[graft.ops.Similarity.ndcgAtK]] over
    * [[graft.ops.Similarity.bruteForceTopKSignProj]] /
    * [[graft.ops.Similarity.bruteForceTopKMicro]]): the JL-projection
    * quality audit — exactly what ranking fidelity the 8× cheaper
    * projected space costs, every discount the fixed-point log2
    * kernel. */
  def simNdcgEval(spark: SparkSession, dir: String): DataFrame = {
    val emb = T.t(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val corpus = T.par(spark, emb)
    graft.ops.Similarity.ndcgAtK(
        graft.ops.Similarity.bruteForceTopKSignProj(q, corpus, k = 5),
        graft.ops.Similarity.bruteForceTopKMicro(q, corpus, k = 5), k = 5)
      .orderBy(col("query_id"))
  }

  /** Zipf's-law fit over the top-1000 word-frequency head
    * ([[graft.ops.TextAnalysis.zipfFit]]): exact integer log-log least
    * squares — slope/intercept/r² from milli-quantized fixed-point
    * logs, sign-split closed forms. */
  def textZipfFit(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.zipfFit(
      T.par(spark, T.t(spark, dir, "documents")), headWords = 1000)

  /** Greedy k-center coreset selection (Sener & Savarese 2018,
    * [[graft.ops.Curation.coresetKCenter]]): 8 diverse representatives
    * of the embedding corpus by exact farthest-point traversal over
    * micro-quantized integer distances; each row reports the covering
    * radius² before that center joined. */
  def sampleCoresetKcenter(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Curation.coresetKCenter(
        T.par(spark, T.t(spark, dir, "embeddings")), k = 8)
      .orderBy(col("rank"))

  /** 3-truss backbone of the BOUNDED-DEGREE k-NN similarity graph
    * ([[graft.ops.Components.kTruss]] over
    * [[graft.ops.Similarity.knnGraph]] k=3 edges): support peeling
    * drops every neighbor edge not reinforced by a common neighbour —
    * bridges and hub spokes that survive k-core die here. The k-NN
    * relation (NOT the near-dup pair relation) is the deliberate truss
    * substrate: its out-degree bound keeps the wedge join
    * n·k²-shaped at every scale, where the dup-clique pair graph's
    * c³-per-clique wedges would not be. */
  def graphKtruss(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Components.kTruss(
        // parCpu: knnGraph hash projections (see sim_knn_graph)
        graft.ops.Similarity.knnGraph(
            T.parCpu(spark, T.t(spark, dir, "embeddings")), k = 3)
          .select(col("vec_id").as("id_a"), col("neighbor_id").as("id_b")),
        k = 3, sweeps = 3)
      .orderBy(col("id_a"), col("id_b"))

  /** DoReMi-shaped domain reweighting
    * ([[graft.ops.Curation.doremiDomainWeights]]): per-language excess
    * loss = KL(domain ‖ corpus) over exact fixed-point log2, then 4
    * exponentiated-gradient rounds (exp2Micro base-2 updates, truncating
    * renormalization), final mixture = per-round average. */
  def mixDoremiWeights(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Curation.doremiDomainWeights(
        T.par(spark, T.t(spark, dir, "documents")), rounds = 4,
        etaNum = 256L, etaDen = 1L)
      .orderBy(col("domain"))

  /** Unrolled SQL replay of the WordPiece tokenizer — normalized words
    * → 16-char chunks (the unigram oracle's shared shape) → (piece,
    * cont) candidate counts → pinned top-512 ∪ single-chars vocab →
    * per-distinct-chunk greedy walk as 16 unrolled steps (state =
    * (pos, n_pieces, unk); each step joins the longest matching piece
    * of the position's kind, a stuck chunk becomes one [UNK]) → per-doc
    * aggregates. Mirrors
    * [[graft.ops.TextAnalysis.wordPieceSegmentStats]] exactly. */
  private def wordpieceOracle: String = {
    val steps = (1 to 16).map { k =>
      s"""wm$k AS (SELECT g.chunk, g.pos, max(l.l) AS ml
         |  FROM wg${k - 1} g
         |  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, 6)) AS l) l
         |  JOIN wvoc v ON v.piece =
         |      substr(g.chunk, CAST(g.pos + 1 AS INTEGER), CAST(l.l AS INTEGER))
         |    AND v.cont = (g.pos > 0)
         |  WHERE g.unk = 0 AND g.pos < length(g.chunk)
         |    AND g.pos + l.l <= length(g.chunk)
         |  GROUP BY 1, 2),
         |wg$k AS MATERIALIZED (SELECT g.chunk,
         |    CASE WHEN g.unk = 1 OR g.pos >= length(g.chunk)
         |           OR m.ml IS NULL THEN g.pos
         |         ELSE g.pos + m.ml END AS pos,
         |    CASE WHEN g.unk = 1 OR g.pos >= length(g.chunk) THEN g.np
         |         WHEN m.ml IS NULL THEN CAST(1 AS BIGINT)
         |         ELSE g.np + 1 END AS np,
         |    CASE WHEN g.unk = 1 THEN 1
         |         WHEN g.pos >= length(g.chunk) THEN 0
         |         WHEN m.ml IS NULL THEN 1 ELSE 0 END AS unk
         |  FROM wg${k - 1} g
         |  LEFT JOIN wm$k m ON m.chunk = g.chunk AND m.pos = g.pos)""".stripMargin
    }.mkString(",\n")
    s"""WITH wz AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS ws
       |  FROM documents),
       |w AS (SELECT doc_id AS id, ws[CAST(r.i + 1 AS INTEGER)] AS word
       |  FROM wz CROSS JOIN LATERAL
       |    (SELECT unnest(generate_series(0, len(ws) - 1)) AS i) r
       |  WHERE ws[CAST(r.i + 1 AS INTEGER)] <> ''),
       |ch AS MATERIALIZED (SELECT id,
       |    substr(word, CAST(k.k * 16 + 1 AS INTEGER), 16) AS chunk
       |  FROM w CROSS JOIN LATERAL
       |    (SELECT unnest(generate_series(0, (length(word) - 1) // 16)) AS k) k),
       |wpc AS MATERIALIZED (SELECT
       |    substr(chunk, CAST(i.i + 1 AS INTEGER), CAST(l.l AS INTEGER)) AS piece,
       |    i.i > 0 AS cont, CAST(count(*) AS BIGINT) AS c
       |  FROM ch
       |  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, 6)) AS l) l
       |  CROSS JOIN LATERAL
       |    (SELECT unnest(generate_series(0, length(chunk) - 1)) AS i) i
       |  WHERE i.i + l.l <= length(chunk)
       |  GROUP BY 1, 2),
       |wtop AS (SELECT piece, cont FROM (SELECT piece, cont,
       |    row_number() OVER (ORDER BY c DESC, cont, piece) AS rn FROM wpc)
       |  WHERE rn <= 512),
       |wchr AS (SELECT piece, cont FROM wpc WHERE length(piece) = 1),
       |wvoc AS MATERIALIZED (SELECT DISTINCT piece, cont FROM
       |  (SELECT * FROM wtop UNION ALL SELECT * FROM wchr)),
       |wdch AS MATERIALIZED (SELECT DISTINCT chunk FROM ch),
       |wg0 AS (SELECT chunk, CAST(0 AS BIGINT) AS pos,
       |    CAST(0 AS BIGINT) AS np, 0 AS unk FROM wdch),
       |$steps,
       |wfin AS MATERIALIZED (SELECT chunk, np, CAST(unk AS BIGINT) AS unk
       |  FROM wg16),
       |wst AS (SELECT ch.id, CAST(count(*) AS BIGINT) AS n_chunks,
       |    CAST(sum(f.np) AS BIGINT) AS n_pieces,
       |    CAST(sum(f.unk) AS BIGINT) AS n_unk_chunks,
       |    CAST(sum(length(ch.chunk)) AS BIGINT) AS n_chars
       |  FROM ch JOIN wfin f ON f.chunk = ch.chunk GROUP BY ch.id)
       |SELECT d.doc_id,
       |  coalesce(wst.n_chunks, 0) AS n_chunks,
       |  coalesce(wst.n_pieces, 0) AS n_pieces,
       |  coalesce(wst.n_unk_chunks, 0) AS n_unk_chunks,
       |  coalesce(wst.n_chars, 0) AS n_chars,
       |  (1000000 * coalesce(wst.n_pieces, 0))
       |    // greatest(coalesce(wst.n_chars, 0), 1) AS fertility_micro
       |FROM documents d LEFT JOIN wst ON wst.id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Exact-GD / exp2 oracle machinery
  // ---------------------------------------------------------------------

  /** The 20 exp2 fixed-point constants 2^(2⁻ⁱ)·2³² rebuilt from the
    * shared ±1-corrected isqrt, exactly as
    * [[graft.functions.ExactMicroOps.exp2Consts]] derives them
    * (c₁ = isqrt(2⁶⁵), cᵢ = isqrt(cᵢ₋₁·2³²)) — a 20-step recursive CTE,
    * no float constant anywhere. Produces `ec(i, c)` and the list form
    * `cl(cs)` the per-row product chain indexes into. */
  private[queries] val exp2ConstsCtes: String =
    """ec AS (
      |  SELECT 1 AS i,
      |    CASE WHEN (s0+1)*(s0+1) <= x THEN s0+1
      |         WHEN s0*s0 > x THEN s0-1 ELSE s0 END AS c
      |  FROM (SELECT CAST('36893488147419103232' AS HUGEINT) AS x,
      |         CAST(floor(sqrt(CAST('36893488147419103232' AS HUGEINT)))
      |           AS HUGEINT) AS s0)
      |  UNION ALL
      |  SELECT i + 1,
      |    CASE WHEN (s0+1)*(s0+1) <= x THEN s0+1
      |         WHEN s0*s0 > x THEN s0-1 ELSE s0 END
      |  FROM (SELECT i, c * CAST(4294967296 AS HUGEINT) AS x,
      |         CAST(floor(sqrt(c * CAST(4294967296 AS HUGEINT))) AS HUGEINT) AS s0
      |        FROM ec WHERE i < 20)
      |),
      |cl AS (SELECT list(c ORDER BY i) AS cs FROM ec)""".stripMargin

  /** The truncating 2³²-fixed-point product chain of
    * [[graft.functions.ExactMicroOps.exp2Micro]]'s fraction part as one
    * expression over a 20-bit fraction column `f` (requires `cl` in
    * scope via CROSS JOIN): left-to-right list_reduce — the same order
    * and truncation as the Scala loop. */
  private[queries] def exp2AccExpr(f: String): String =
    s"""list_reduce(list_concat([CAST(4294967296 AS HUGEINT)],
       |      list_filter(list_transform(generate_series(1, 20), i ->
       |        CASE WHEN (($f >> CAST(20 - i AS INTEGER)) & 1) = 1
       |             THEN cs[CAST(i AS INTEGER)] END),
       |        x -> x IS NOT NULL)),
       |      (acc, b) -> (acc * b) // 4294967296)""".stripMargin

  /** [[graft.functions.ExactMicroOps.sigmoidMicro]] over a margin CTE
    * `$src(doc_id, y, m)` → `p$tag(doc_id, y, m, p)`: the |m|·log₂e
    * clamp, the sign split, exp2Micro's (q, f) decomposition (exponents
    * here are always in [−20·10⁶, 0], so only the right-shift branch
    * exists), the product chain, and the final 10¹²/(10⁶+2^(−z))
    * division — all non-negative truncating integer ops. */
  private def sigmoidCtes(tag: String, src: String,
      pfx: String = ""): String =
    s"""${pfx}z$tag AS (SELECT doc_id, y, m,
       |    least((abs(CAST(m AS HUGEINT)) * 1442695) // 1000000,
       |      20000000) AS z0
       |  FROM $src),
       |${pfx}q$tag AS (SELECT doc_id, y, m,
       |    (xs // 1000000) - 64 AS q,
       |    ((xs % 1000000) * 1048576) // 1000000 AS f
       |  FROM (SELECT doc_id, y, m,
       |      CAST(CASE WHEN m >= 0 THEN -z0 ELSE z0 END AS BIGINT)
       |        + 64000000 AS xs
       |    FROM ${pfx}z$tag)),
       |${pfx}p$tag AS MATERIALIZED (SELECT doc_id, y, m,
       |    CAST(CAST(1000000000000 AS HUGEINT) // (1000000 +
       |      (acc * 1000000) //
       |        (CAST(1 AS HUGEINT) << CAST(32 - q AS INTEGER)))
       |      AS BIGINT) AS p
       |  FROM (SELECT doc_id, y, m, q, ${exp2AccExpr("f")} AS acc
       |    FROM ${pfx}q$tag CROSS JOIN cl))""".stripMargin

  /** The full unrolled GD trajectory of
    * [[graft.ops.QualityModel.logisticTrajectoryMicro]] (dim=64,
    * lr = lrNum/lrDen): labeled docs, hashed features, bias pseudo-
    * bucket −1, then per iteration margins → sigmoid → residuals →
    * HUGEINT gradients → magnitude-then-sign weight update. Produces
    * `w$iters(bucket, w)` plus, when `withEpochs`, the post-update
    * margin/σ blocks `p2..p${iters+1}` (epoch k scores under w_k).
    * `trainPred` restricts the docs GRADIENTS see (`lab`, `fb`,
    * `ndocs`); margins/σ are always computed for ALL docs (`laba`) so
    * a held-out panel can be scored against the trained trajectory
    * (the TracIn shape) — with the default TRUE the two relations
    * coincide and nothing changes. */
  private def gdCtes(iters: Int, lrNum: Long, lrDen: Long,
      withEpochs: Boolean, trainPred: String = "TRUE",
      pfx: String = ""): String = {
    def marginCte(t: Int): String =
      s"""${pfx}m$t AS (SELECT l.doc_id, l.y,
         |    CAST((SELECT w FROM ${pfx}w${t - 1} WHERE bucket = -1)
         |      + coalesce(s.mm, 0) AS BIGINT) AS m
         |  FROM laba l LEFT JOIN (SELECT f.doc_id, sum(f.n * w.w) AS mm
         |      FROM f JOIN ${pfx}w${t - 1} w ON w.bucket = f.bucket
         |      GROUP BY 1) s
         |    ON s.doc_id = l.doc_id)""".stripMargin
    val steps = (1 to iters).map { t =>
      s"""${marginCte(t)},
         |${sigmoidCtes(t.toString, s"${pfx}m$t", pfx)},
         |${pfx}r$t AS (SELECT doc_id, p - y * 1000000 AS r FROM ${pfx}p$t),
         |${pfx}g$t AS (SELECT w.bucket, w.w,
         |    coalesce(sum(CAST(fb.n AS HUGEINT) * r.r), 0) AS g
         |  FROM ${pfx}w${t - 1} w
         |  LEFT JOIN ${pfx}fb fb ON fb.bucket = w.bucket
         |  LEFT JOIN ${pfx}r$t r ON r.doc_id = fb.doc_id
         |  GROUP BY 1, 2),
         |${pfx}w$t AS MATERIALIZED (SELECT bucket,
         |    w - CASE WHEN g >= 0
         |          THEN CAST((g * $lrNum) // (nd.nd * $lrDen) AS BIGINT)
         |          ELSE -CAST(((-g) * $lrNum) // (nd.nd * $lrDen) AS BIGINT)
         |        END AS w
         |  FROM ${pfx}g$t CROSS JOIN ${pfx}ndocs nd)""".stripMargin
    }.mkString(",\n")
    val epochTail = if (!withEpochs) "" else {
      val t = iters + 1
      ",\n" + s"""${marginCte(t)},
         |${sigmoidCtes(t.toString, s"${pfx}m$t", pfx)}""".stripMargin
    }
    // laba / nrm / wds / f are chain-independent (all docs) — emitted
    // once by the FIRST chain (pfx "") and shared; a prefixed chain
    // emits only its own lab/fb/ndocs/weights/margins.
    val shared = if (pfx.nonEmpty) "" else
      s"""laba AS MATERIALIZED (SELECT doc_id,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
         |nrm AS (SELECT doc_id, ${normSql("text")} AS norm FROM documents),
         |wds AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS wd FROM nrm),
         |f AS MATERIALIZED (SELECT doc_id, ${hashSql(77, "wd")} % 64 AS bucket,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM wds WHERE wd <> '' GROUP BY 1, 2),
         |""".stripMargin
    s"""$shared${pfx}lab AS (SELECT doc_id, y FROM laba WHERE $trainPred),
       |${pfx}fb AS (SELECT f.doc_id, f.bucket, f.n FROM f
       |    JOIN ${pfx}lab lab ON lab.doc_id = f.doc_id
       |  UNION ALL SELECT doc_id, CAST(-1 AS BIGINT), CAST(1 AS BIGINT)
       |  FROM ${pfx}lab),
       |${pfx}ndocs AS (SELECT CAST(count(*) AS HUGEINT) AS nd
       |  FROM ${pfx}lab),
       |${pfx}w0 AS (SELECT CAST(range - 1 AS BIGINT) AS bucket,
       |    CAST(0 AS BIGINT) AS w FROM range(65)),
       |$steps$epochTail""".stripMargin
  }

  private def logisticTrainOracle: String =
    s"""WITH RECURSIVE $exp2ConstsCtes,
       |${gdCtes(iters = 3, lrNum = 1L, lrDen = 16L, withEpochs = false)}
       |SELECT bucket, w AS w_micro FROM w3 ORDER BY bucket""".stripMargin

  /** Shared epochs prefix: the GD chain with post-update margin/σ
    * blocks plus the per-epoch union — the base of the cartography,
    * forgetting, and training-curve oracles (epoch k scores under the
    * post-update weights w_k, i.e. block p(k+1)). */
  private[queries] def epochsCtes(iters: Int, lrDen: Long,
      trainPred: String = "TRUE"): String = {
    val unions = (1 to iters).map { k =>
      if (k == 1) s"SELECT doc_id, y, m, p, 1 AS epoch FROM p${k + 1}"
      else s"  UNION ALL SELECT doc_id, y, m, p, $k FROM p${k + 1}"
    }.mkString("\n")
    s"""${gdCtes(iters = iters, lrNum = 1L, lrDen = lrDen,
        withEpochs = true, trainPred = trainPred)},
       |ep AS MATERIALIZED ($unions)""".stripMargin
  }

  private def cartographyOracle: String =
    s"""WITH RECURSIVE $exp2ConstsCtes,
       |${epochsCtes(iters = 3, lrDen = 16L)},
       |et AS (SELECT doc_id,
       |    CASE WHEN y = 1 THEN p ELSE 1000000 - p END AS pt,
       |    CASE WHEN (m > 0) = (y = 1) THEN 1 ELSE 0 END AS ok FROM ep),
       |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_epochs,
       |    CAST(sum(pt) AS BIGINT) AS sp, CAST(sum(pt * pt) AS BIGINT) AS sq,
       |    CAST(sum(ok) AS BIGINT) AS correct_epochs FROM et GROUP BY 1),
       |vs AS (SELECT doc_id, n_epochs, sp, correct_epochs,
       |    CASE WHEN (s0+1)*(s0+1) <= v2 THEN s0+1
       |         WHEN s0*s0 > v2 THEN s0-1 ELSE s0 END AS sd
       |  FROM (SELECT *, CAST(floor(sqrt(CAST(v2 AS DOUBLE))) AS BIGINT) AS s0
       |    FROM (SELECT *, n_epochs * sq - sp * sp AS v2 FROM ag)))
       |SELECT doc_id, n_epochs, sp // n_epochs AS conf_micro,
       |  sd // n_epochs AS variability_micro, correct_epochs,
       |  CASE WHEN sd // n_epochs >= 150000 THEN 'ambiguous'
       |       WHEN sp // n_epochs >= 500000 THEN 'easy'
       |       ELSE 'hard' END AS region
       |FROM vs ORDER BY doc_id""".stripMargin

  private def forgettingOracle: String =
    s"""WITH RECURSIVE $exp2ConstsCtes,
       |${epochsCtes(iters = 6, lrDen = 24L)},
       |cor AS (SELECT doc_id, epoch, (m > 0) = (y = 1) AS ok FROM ep),
       |fl AS (SELECT doc_id, min(epoch) AS fl FROM cor WHERE ok
       |  GROUP BY 1),
       |fg AS (SELECT a.doc_id, CAST(count(*) AS BIGINT) AS nf
       |  FROM cor a JOIN cor b ON b.doc_id = a.doc_id
       |    AND b.epoch = a.epoch + 1
       |  WHERE a.ok AND NOT b.ok GROUP BY 1),
       |fin AS (SELECT doc_id, ok FROM cor WHERE epoch = 6)
       |SELECT fin.doc_id, CAST(6 AS BIGINT) AS n_epochs,
       |  CAST(coalesce(fl.fl, 0) AS BIGINT) AS first_learned,
       |  coalesce(fg.nf, 0) AS n_forget_events,
       |  fin.ok AS final_correct,
       |  coalesce(fl.fl, 0) > 0 AND coalesce(fg.nf, 0) = 0 AS unforgettable
       |FROM fin LEFT JOIN fl ON fl.doc_id = fin.doc_id
       |LEFT JOIN fg ON fg.doc_id = fin.doc_id
       |ORDER BY fin.doc_id""".stripMargin

  private def gdCurveOracle: String =
    s"""WITH RECURSIVE $exp2ConstsCtes,
       |${epochsCtes(iters = 6, lrDen = 24L)},
       |et2 AS (SELECT epoch,
       |    greatest(CASE WHEN y = 1 THEN p ELSE 1000000 - p END, 1) AS pt,
       |    CASE WHEN (m > 0) = (y = 1) THEN 1 ELSE 0 END AS ok FROM ep),
       |vals AS MATERIALIZED (SELECT DISTINCT pt AS v FROM et2
       |  UNION SELECT 1000000),
       |$log2ValueCtes
       |SELECT CAST(e.epoch AS BIGINT) AS epoch,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(e.ok) AS BIGINT) AS n_correct,
       |  CAST(CAST(sum(l6.l - lp.l) AS HUGEINT) // count(*) AS BIGINT)
       |    AS mean_loss_micro
       |FROM et2 e JOIN lg lp ON lp.v = e.pt
       |CROSS JOIN (SELECT l FROM lg WHERE v = 1000000) l6
       |GROUP BY e.epoch ORDER BY epoch""".stripMargin

  private def dataDietOracle: String =
    s"""WITH RECURSIVE $exp2ConstsCtes,
       |${epochsCtes(iters = 3, lrDen = 16L)},
       |dd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_epochs,
       |    CAST(sum(1000000 - CASE WHEN y = 1 THEN p
       |      ELSE 1000000 - p END) AS BIGINT) AS sr
       |  FROM ep GROUP BY 1),
       |nn AS (SELECT doc_id, CAST(sum(n * n) AS BIGINT) AS nn
       |  FROM f GROUP BY 1),
       |sc AS (SELECT dd.doc_id, dd.n_epochs, dd.sr,
       |    CASE WHEN (s0+1)*(s0+1) <= v2 THEN s0+1
       |         WHEN s0*s0 > v2 THEN s0-1 ELSE s0 END AS xnorm
       |  FROM (SELECT dd.doc_id, coalesce(nn.nn, 0) + 1 AS v2,
       |      CAST(floor(sqrt(CAST(coalesce(nn.nn, 0) + 1 AS DOUBLE)))
       |        AS BIGINT) AS s0
       |    FROM dd LEFT JOIN nn ON nn.doc_id = dd.doc_id) q
       |  JOIN dd ON dd.doc_id = q.doc_id),
       |lj AS (SELECT sc.doc_id, sc.n_epochs, sc.sr // sc.n_epochs AS el2n_micro,
       |    sc.xnorm, (sc.xnorm * sc.sr) // sc.n_epochs AS grand_micro, d.lang
       |  FROM sc JOIN documents d ON d.doc_id = sc.doc_id),
       |rk AS (SELECT *,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY grand_micro DESC, doc_id) AS rnk,
       |    count(*) OVER (PARTITION BY lang) AS n FROM lj)
       |SELECT doc_id, n_epochs, el2n_micro, xnorm, grand_micro, lang,
       |  rnk <= (600000 * n + 999999) // 1000000 AS keep
       |FROM rk ORDER BY doc_id""".stripMargin

  /** The `value_tracin_panel` panel as an inline subquery (it must be
    * spliced into predicates BEFORE any CTE of the GD chain, so it
    * cannot be a CTE itself): the 32 hash-lowest doc ids over `laba`,
    * ties to the lower id — the mirror of the Spark side's
    * orderBy(hash, doc_id).limit(32). */
  private def tracinPanelSub: String =
    s"""(SELECT doc_id FROM (SELECT doc_id, row_number() OVER (
       |    ORDER BY ${hashSql(19, "CAST(doc_id AS VARCHAR)")}, doc_id)
       |    AS rk FROM laba) WHERE rk <= 32)""".stripMargin

  /** TracIn oracle, parameterized by the test-panel membership
    * predicate (a function of the doc-id column reference so it can be
    * alias-qualified at each use site); `value_tracin_panel` passes
    * the fixed-size hash-lowest panel. */
  private def tracinOracle(testPred: String => String): String =
    s"""WITH RECURSIVE $exp2ConstsCtes,
       |${epochsCtes(iters = 3, lrDen = 16L,
          trainPred = s"NOT (${testPred("doc_id")})")},
       |rall AS (SELECT doc_id, epoch, p - y * 1000000 AS r,
       |    ${testPred("doc_id")} AS iste FROM ep),
       |pairsum AS (SELECT a.doc_id AS train_id, b.doc_id AS test_id,
       |    sum(CAST(a.r AS HUGEINT) * b.r) AS s
       |  FROM rall a JOIN rall b ON b.epoch = a.epoch
       |  WHERE NOT a.iste AND b.iste GROUP BY 1, 2),
       |dots AS (SELECT fa.doc_id AS train_id, fe.doc_id AS test_id,
       |    CAST(sum(fa.n * fe.n) AS BIGINT) AS dot
       |  FROM f fa JOIN f fe ON fe.bucket = fa.bucket
       |  WHERE NOT (${testPred("fa.doc_id")})
       |    AND ${testPred("fe.doc_id")} GROUP BY 1, 2),
       |inf AS MATERIALIZED (SELECT train_id, test_id,
       |    CAST(CASE WHEN s >= 0 THEN (s * dt) // 16000000
       |         ELSE -(((-s) * dt) // 16000000) END AS BIGINT)
       |      AS influence_micro
       |  FROM (SELECT p.train_id, p.test_id, p.s,
       |      coalesce(d.dot, 0) + 1 AS dt
       |    FROM pairsum p LEFT JOIN dots d
       |      ON d.train_id = p.train_id AND d.test_id = p.test_id)),
       |pro AS (SELECT test_id, 'proponent' AS kind,
       |    row_number() OVER (PARTITION BY test_id
       |      ORDER BY influence_micro DESC, train_id) AS rank,
       |    train_id, influence_micro FROM inf),
       |opp AS (SELECT test_id, 'opponent' AS kind,
       |    row_number() OVER (PARTITION BY test_id
       |      ORDER BY influence_micro ASC, train_id) AS rank,
       |    train_id, influence_micro FROM inf)
       |SELECT test_id, kind, CAST(rank AS BIGINT) AS rank, train_id,
       |  influence_micro
       |FROM (SELECT * FROM pro WHERE rank <= 3
       |  UNION ALL SELECT * FROM opp WHERE rank <= 3)
       |ORDER BY test_id, kind, rank""".stripMargin

  /** DataInf oracle: final-epoch residuals under the panel-excluded
    * trajectory, ‖g‖², the corpus-sized λ, the |train|×|panel| v·g and
    * c relations, the (panel×bucket) u_v combine, then the magnitude-
    * then-sign micro score chain — every floor mirrored from
    * [[graft.ops.Valuation.datainfInfluenceFromFeats]] in HUGEINT. */
  private def datainfOracle(testPred: String => String): String =
    s"""WITH RECURSIVE $exp2ConstsCtes,
       |${epochsCtes(iters = 3, lrDen = 16L,
          trainPred = s"NOT (${testPred("doc_id")})")},
       |rf AS (SELECT doc_id, p - y * 1000000 AS r,
       |    ${testPred("doc_id")} AS iste FROM ep WHERE epoch = 3),
       |nrms AS (SELECT doc_id, CAST(sum(n * n) AS BIGINT) AS nn
       |  FROM f GROUP BY 1),
       |gn AS MATERIALIZED (SELECT r.doc_id, r.r,
       |    CAST(r.r AS HUGEINT) * r.r * (coalesce(nr.nn, 0) + 1) AS g2
       |  FROM rf r LEFT JOIN nrms nr ON nr.doc_id = r.doc_id
       |  WHERE NOT r.iste),
       |lam AS (SELECT CAST(count(*) AS HUGEINT) AS ntr,
       |    greatest(CAST(1 AS HUGEINT), sum(g2) // (10 * count(*))) AS lam
       |  FROM gn),
       |te AS (SELECT doc_id AS test_id, r AS rv FROM rf WHERE iste),
       |dots AS (SELECT fa.doc_id AS train_id, fe.doc_id AS test_id,
       |    CAST(sum(fa.n * fe.n) AS BIGINT) AS dot
       |  FROM f fa JOIN f fe ON fe.bucket = fa.bucket
       |  WHERE NOT (${testPred("fa.doc_id")})
       |    AND ${testPred("fe.doc_id")} GROUP BY 1, 2),
       |pairs AS MATERIALIZED (SELECT g.doc_id AS train_id, te.test_id,
       |    g.r, g.g2,
       |    CAST(g.r AS HUGEINT) * te.rv * (coalesce(d.dot, 0) + 1) AS vg
       |  FROM gn g CROSS JOIN te LEFT JOIN dots d
       |    ON d.train_id = g.doc_id AND d.test_id = te.test_id),
       |cjs AS MATERIALIZED (SELECT p.*,
       |    CASE WHEN p.vg >= 0 THEN (1000000 * p.vg) // (l.lam + p.g2)
       |         ELSE -((1000000 * (-p.vg)) // (l.lam + p.g2)) END AS c
       |  FROM pairs p CROSS JOIN lam l),
       |uv AS (SELECT c.test_id, f.bucket,
       |    sum(CAST(c.c AS HUGEINT) * c.r * f.n) AS u
       |  FROM cjs c JOIN f ON f.doc_id = c.train_id GROUP BY 1, 2),
       |ub AS (SELECT test_id, sum(CAST(c AS HUGEINT) * r) AS ubv
       |  FROM cjs GROUP BY 1),
       |t2x AS (SELECT f.doc_id AS train_id, u.test_id,
       |    sum(u.u * f.n) AS ux
       |  FROM f JOIN uv u ON u.bucket = f.bucket
       |  WHERE NOT (${testPred("f.doc_id")}) GROUP BY 1, 2),
       |sc AS (SELECT p.train_id, p.test_id, p.vg,
       |    CAST(p.r AS HUGEINT)
       |      * (coalesce(t.ux, 0) + coalesce(b.ubv, 0)) AS t2raw
       |  FROM pairs p LEFT JOIN t2x t ON t.train_id = p.train_id
       |      AND t.test_id = p.test_id
       |    LEFT JOIN ub b ON b.test_id = p.test_id),
       |fin AS (SELECT x.train_id, x.test_id,
       |    CASE WHEN x.df >= 0 THEN (1000000 * x.df) // (l.ntr * l.lam)
       |         ELSE -((1000000 * (-x.df)) // (l.ntr * l.lam)) END AS score
       |  FROM (SELECT s.train_id, s.test_id,
       |      l2.ntr * s.vg -
       |        (CASE WHEN s.t2raw >= 0 THEN s.t2raw // 1000000
       |              ELSE -((-s.t2raw) // 1000000) END) AS df
       |    FROM sc s CROSS JOIN lam l2) x CROSS JOIN lam l)
       |SELECT train_id, CAST(count(*) AS BIGINT) AS n_tests,
       |  CAST(sum(score) AS BIGINT) AS datainf_sum_micro
       |FROM fin GROUP BY train_id ORDER BY train_id""".stripMargin

  /** Temperature-scaling replay: final-epoch margins, the literal
    * temperature grid (the SAME Scala-computed exp2 micro constants
    * the kernel uses — a hyperparameter, not data), scaled margins on
    * a composite (doc·100 + t_idx) key through the shared sigmoid
    * chain, per-temperature NLL via the log2 value CTEs, argmin tie
    * to the smaller T. */
  private def tempScaleOracle: String = {
    val gridVals = tempGrid.zipWithIndex
      .map { case (t, i) => s"($i, $t)" }.mkString(", ")
    s"""WITH RECURSIVE $exp2ConstsCtes,
       |${epochsCtes(iters = 3, lrDen = 16L)},
       |fm AS (SELECT doc_id, y, m FROM ep WHERE epoch = 3),
       |grid AS MATERIALIZED (SELECT * FROM (VALUES $gridVals)
       |  AS g(t_idx, t_micro)),
       |mt AS (SELECT f.doc_id * 100 + g.t_idx AS doc_id, f.y,
       |    CAST(CASE WHEN f.m >= 0 THEN (f.m * 1000000) // g.t_micro
       |         ELSE -(((-f.m) * 1000000) // g.t_micro) END AS BIGINT) AS m
       |  FROM fm f CROSS JOIN grid g),
       |${sigmoidCtes("T", "mt")},
       |et AS (SELECT doc_id % 100 AS t_idx,
       |    greatest(CASE WHEN y = 1 THEN p ELSE 1000000 - p END, 1) AS pt
       |  FROM pT),
       |vals AS MATERIALIZED (SELECT DISTINCT pt AS v FROM et
       |  UNION SELECT 1000000),
       |$log2ValueCtes,
       |per AS MATERIALIZED (SELECT e.t_idx,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(l6.l - lp.l) AS BIGINT) AS nll_sum_micro
       |  FROM et e JOIN lg lp ON lp.v = e.pt
       |  CROSS JOIN (SELECT l FROM lg WHERE v = 1000000) l6
       |  GROUP BY 1),
       |bst AS (SELECT g.t_micro FROM per JOIN grid g USING (t_idx)
       |  ORDER BY per.nll_sum_micro, g.t_micro LIMIT 1)
       |SELECT CAST(g.t_micro AS BIGINT) AS t_micro, per.n_docs,
       |  per.nll_sum_micro,
       |  g.t_micro = (SELECT t_micro FROM bst) AS is_best
       |FROM per JOIN grid g USING (t_idx)
       |ORDER BY t_micro""".stripMargin
  }

  private def tracinSelfOracle: String =
    s"""WITH RECURSIVE $exp2ConstsCtes,
       |${epochsCtes(iters = 3, lrDen = 16L)},
       |sr AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_epochs,
       |    sum(CAST(r2 AS HUGEINT) * r2) AS sr2
       |  FROM (SELECT doc_id, 1000000 -
       |      CASE WHEN y = 1 THEN p ELSE 1000000 - p END AS r2 FROM ep)
       |  GROUP BY 1),
       |nrms AS (SELECT doc_id, CAST(sum(n * n) AS BIGINT) AS nn
       |  FROM f GROUP BY 1)
       |SELECT sr.doc_id, sr.n_epochs,
       |  CAST((sr.sr2 * (coalesce(nrms.nn, 0) + 1)) // 16000000
       |    AS BIGINT) AS self_influence_micro
       |FROM sr LEFT JOIN nrms ON nrms.doc_id = sr.doc_id
       |ORDER BY sr.doc_id""".stripMargin

  private def conformalOracle: String =
    s"""WITH RECURSIVE $exp2ConstsCtes,
       |${epochsCtes(iters = 3, lrDen = 16L,
          trainPred = "doc_id % 5 <> 0")},
       |sv AS MATERIALIZED (SELECT doc_id, 1000000 -
       |    CASE WHEN y = 1 THEN p ELSE 1000000 - p END AS s
       |  FROM ep WHERE epoch = 3),
       |per AS MATERIALIZED (SELECT s AS v, CAST(count(*) AS BIGINT) AS c
       |  FROM sv WHERE doc_id % 5 = 0 GROUP BY 1),
       |ntot AS (SELECT coalesce(sum(c), 0) AS n FROM per),
       |cm AS (SELECT a.v, sum(b.c) AS cum
       |  FROM per a JOIN per b ON b.v <= a.v GROUP BY 1),
       |qh AS (SELECT coalesce(min(v), 1000000) AS q
       |  FROM cm CROSS JOIN ntot
       |  WHERE cum >= ((n + 1) * 900000 + 999999) // 1000000)
       |SELECT doc_id, s AS nonconf_micro, q AS qhat_micro,
       |  s <= q AS in_set
       |FROM sv CROSS JOIN qh WHERE doc_id % 5 <> 0
       |ORDER BY doc_id""".stripMargin

  private def groupLossOracle: String =
    s"""WITH RECURSIVE $exp2ConstsCtes,
       |${epochsCtes(iters = 3, lrDen = 16L)},
       |et2 AS (SELECT ep.epoch, d.lang,
       |    greatest(CASE WHEN ep.y = 1 THEN ep.p
       |      ELSE 1000000 - ep.p END, 1) AS pt,
       |    CASE WHEN (ep.m > 0) = (ep.y = 1) THEN 1 ELSE 0 END AS ok
       |  FROM ep JOIN documents d ON d.doc_id = ep.doc_id),
       |vals AS MATERIALIZED (SELECT DISTINCT pt AS v FROM et2
       |  UNION SELECT 1000000),
       |$log2ValueCtes,
       |per AS MATERIALIZED (SELECT e.epoch, e.lang,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(e.ok) AS BIGINT) AS n_correct,
       |    CAST(CAST(sum(l6.l - lp.l) AS HUGEINT) // count(*) AS BIGINT)
       |      AS mean_loss_micro
       |  FROM et2 e JOIN lg lp ON lp.v = e.pt
       |  CROSS JOIN (SELECT l FROM lg WHERE v = 1000000) l6
       |  GROUP BY 1, 2),
       |wst AS (SELECT epoch, max(mean_loss_micro) AS mx FROM per
       |  GROUP BY 1)
       |SELECT CAST(per.epoch AS BIGINT) AS epoch, per.lang, per.n_docs,
       |  per.n_correct, per.mean_loss_micro,
       |  per.mean_loss_micro = wst.mx AS is_worst_group
       |FROM per JOIN wst ON wst.epoch = per.epoch
       |ORDER BY epoch, lang""".stripMargin

  /** Unrolled replay of [[graft.ops.Curation.coresetKCenter]]'s greedy
    * farthest-point traversal: micro-quantized vectors, Long dots via
    * the shared idot contract (components < 2⁵³ keep the double-based
    * list_dot_product exact), k−1 (distance-update, argmax) CTE pairs
    * with (mind desc, id) pins and selected-id exclusion. */
  private def coresetOracle: String = {
    val k = 8
    val micro = "list_transform(CAST(embedding AS DOUBLE[]), " +
      "x -> CAST(floor(x * 1000000.0) AS BIGINT))"
    def idot(a: String, b: String) =
      s"CAST(list_dot_product(CAST($a AS DOUBLE[]), " +
        s"CAST($b AS DOUBLE[])) AS BIGINT)"
    val rounds = (2 to k).map { r =>
      val notin = (1 until r).map(i => s"SELECT id FROM c$i")
        .mkString(" UNION ALL ")
      val m =
        if (r == 2)
          s"""m2 AS MATERIALIZED (SELECT b.id, b.v, b.q,
             |    b.q + c.q - 2 * ${idot("b.v", "c.v")} AS mind
             |  FROM b CROSS JOIN c1 c)""".stripMargin
        else
          s"""m$r AS MATERIALIZED (SELECT m.id, m.v, m.q,
             |    least(m.mind, m.q + c.q - 2 * ${idot("m.v", "c.v")}) AS mind
             |  FROM m${r - 1} m CROSS JOIN c${r - 1} c)""".stripMargin
      s"""$m,
         |c$r AS (SELECT id, v, q, mind FROM m$r
         |  WHERE id NOT IN ($notin)
         |  ORDER BY mind DESC, id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val out = (2 to k).map(r =>
      s"UNION ALL SELECT $r, id, mind FROM c$r").mkString("\n")
    s"""WITH b AS MATERIALIZED (SELECT vec_id AS id, $micro AS v,
       |    ${idot(micro, micro)} AS q FROM embeddings),
       |c1 AS (SELECT id, v, q FROM b ORDER BY q DESC, id LIMIT 1),
       |$rounds
       |SELECT CAST(rank AS BIGINT) AS rank, id AS vec_id,
       |  CAST(radius_sq AS BIGINT) AS radius_sq
       |FROM (SELECT 1 AS rank, id, 0 AS radius_sq FROM c1
       |$out) t(rank, id, radius_sq)
       |ORDER BY rank""".stripMargin
  }

  /** [[log2MicroCtes]]-shaped replay keyed by the VALUE itself over the
    * distinct-count relation `vals(v)` — counts repeat heavily (Zipf),
    * so the 16-step chain runs once per distinct value and joins back. */
  private[queries] def log2ValueCtes: String = log2ValueCtesP("")

  /** [[log2ValueCtes]] with every CTE name prefixed — for oracles that
    * need a SECOND log2 round over values derived from the first
    * (the DSIR Gumbel key's −log₂(−log₂ u) chain): consumes
    * `{p}vals(v)`, emits `{p}lg(v, l)`. */
  private[queries] def log2ValueCtesP(p: String): String = {
    val steps = (1 to 16).map { i =>
      s"""${p}lw$i AS (SELECT v, e,
         |    CASE WHEN y >= 8589934592 THEN y // 2 ELSE y END AS x,
         |    frac * 2 + CASE WHEN y >= 8589934592 THEN 1 ELSE 0 END AS frac
         |  FROM (SELECT v, e, (CAST(x AS HUGEINT) * x) // 4294967296 AS y,
         |      frac FROM ${p}lw${i - 1}))""".stripMargin
    }.mkString(",\n")
    s"""${p}lew AS (SELECT v,
       |    CASE WHEN (CAST(1 AS BIGINT) << CAST(e0 + 1 AS INTEGER)) <= v
       |           THEN e0 + 1
       |         WHEN (CAST(1 AS BIGINT) << CAST(e0 AS INTEGER)) > v
       |           THEN e0 - 1
       |         ELSE e0 END AS e
       |  FROM (SELECT v,
       |      CAST(floor(log2(CAST(v AS DOUBLE))) AS BIGINT) AS e0
       |    FROM ${p}vals)),
       |${p}lw0 AS (SELECT v, e,
       |    CASE WHEN e <= 32 THEN v << CAST(32 - e AS INTEGER)
       |         ELSE v >> CAST(e - 32 AS INTEGER) END AS x,
       |    CAST(0 AS BIGINT) AS frac
       |  FROM ${p}lew),
       |$steps,
       |${p}lg AS MATERIALIZED (SELECT v,
       |    ((e * 65536 + frac) * 1000000) // 65536 AS l FROM ${p}lw16)"""
      .stripMargin
  }

  private def eceOracle: String =
    s"""WITH RECURSIVE $exp2ConstsCtes,
       |${epochsCtes(iters = 3, lrDen = 16L)},
       |fe AS (SELECT doc_id, y, p FROM ep WHERE epoch = 3),
       |eb AS (SELECT p // 100000 AS bin, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS n_pos, CAST(sum(p) AS BIGINT) AS sp
       |  FROM fe GROUP BY 1),
       |eg AS (SELECT bin, n, abs(n_pos * 1000000 - sp) AS gap FROM eb)
       |SELECT CAST(sum(n) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_bins,
       |  CAST(CAST(sum(gap) AS HUGEINT) // sum(n) AS BIGINT) AS ece_micro,
       |  CAST(max(gap // n) AS BIGINT) AS mce_micro
       |FROM eg""".stripMargin

  /** Mirror of [[graft.ops.QualityModel.brierDecomposition]]: same bin
    * relation as [[eceOracle]], per-bin floored micro means, exact
    * HUGEINT term sums, one division by N·10⁶ per output scalar. */
  private def brierOracle: String =
    s"""WITH RECURSIVE $exp2ConstsCtes,
       |${epochsCtes(iters = 3, lrDen = 16L)},
       |fe AS (SELECT doc_id, y, p FROM ep WHERE epoch = 3),
       |eb AS (SELECT p // 100000 AS bin, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS o, CAST(sum(p) AS BIGINT) AS sp,
       |    sum(CAST(p - 1000000 * y AS HUGEINT) * (p - 1000000 * y))
       |      AS sq
       |  FROM fe GROUP BY 1),
       |b2 AS (SELECT *, sp // n AS pbar, (1000000 * o) // n AS obar
       |  FROM eb),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs,
       |    CAST(sum(o) AS BIGINT) AS ot FROM b2),
       |t2 AS (SELECT n_docs, (1000000 * ot) // n_docs AS obase FROM tot)
       |SELECT n_docs,
       |  CAST(sum(sq) // (CAST(n_docs AS HUGEINT) * 1000000) AS BIGINT)
       |    AS brier_micro,
       |  CAST(sum(n * CAST(pbar - obar AS HUGEINT) * (pbar - obar))
       |    // (CAST(n_docs AS HUGEINT) * 1000000) AS BIGINT)
       |    AS reliability_micro,
       |  CAST(sum(n * CAST(obar - obase AS HUGEINT) * (obar - obase))
       |    // (CAST(n_docs AS HUGEINT) * 1000000) AS BIGINT)
       |    AS resolution_micro,
       |  CAST((obase * (1000000 - obase)) // 1000000 AS BIGINT)
       |    AS uncertainty_micro
       |FROM b2 CROSS JOIN t2
       |GROUP BY n_docs, obase""".stripMargin

  /** Replay of the sign-projection nDCG audit: the full-dim micro pair
    * relation gives the cosine ground truth (±1-corrected isqrt), the
    * 8×64 ±1 plane matrix is embedded literally ([[graft.ops.Similarity
    * .signMatrix]], the emb_sign_project convention) and applied to
    * MILLI vectors so every projected dot stays double-exact, relevance
    * is graded by exact rank, per-term (rel·10⁹)//log2(rank+1)
    * discounts over the shared fixed-point log2 chain on the tiny 2..6
    * rank domain. */
  private def ndcgOracle: String = {
    val micro = "list_transform(CAST(embedding AS DOUBLE[]), " +
      "x -> CAST(floor(x * 1000000.0) AS BIGINT))"
    val milli = "list_transform(CAST(embedding AS DOUBLE[]), " +
      "x -> CAST(floor(x * 1000.0) AS BIGINT))"
    def idot(a: String, b: String) =
      s"CAST(list_dot_product(CAST($a AS DOUBLE[]), " +
        s"CAST($b AS DOUBLE[])) AS BIGINT)"
    val planes = graft.ops.Similarity.signMatrix(8, 64).map(_.map(_.toLong))
    val projList = planes.map { row =>
      idot("mv", s"[${row.mkString(", ")}]")
    }.mkString("[", ",\n      ", "]")
    // the isqrt-corrected cosine block over a pairs relation ($src must
    // provide qid, nid, dt, na, nb)
    def simBlock(tag: String, src: String): String =
      s"""sm$tag AS (SELECT qid, nid, dt,
         |    CASE WHEN s = 0 THEN CAST(0 AS BIGINT)
         |         WHEN dt >= 0 THEN
         |           CAST(CAST(dt AS HUGEINT) * 1000000 // s AS BIGINT)
         |         ELSE CAST(-(CAST(-dt AS HUGEINT) * 1000000 // s) AS BIGINT)
         |    END AS sim
         |  FROM (SELECT qid, nid, dt,
         |      CASE WHEN (s0+1)*(s0+1) <= nn THEN s0+1
         |           WHEN s0*s0 > nn THEN s0-1 ELSE s0 END AS s
         |    FROM (SELECT qid, nid, dt,
         |        CAST(na AS HUGEINT) * nb AS nn,
         |        CAST(floor(sqrt(CAST(CAST(na AS HUGEINT) * nb AS DOUBLE)))
         |          AS HUGEINT) AS s0
         |      FROM $src)))""".stripMargin
    s"""WITH qv AS (SELECT vec_id AS qid, $micro AS v FROM embeddings
       |  WHERE vec_id < 10),
       |cv AS (SELECT vec_id AS nid, $micro AS v FROM embeddings),
       |pr AS MATERIALIZED (SELECT q.qid, c.nid,
       |    ${idot("q.v", "c.v")} AS dt,
       |    ${idot("q.v", "q.v")} AS na, ${idot("c.v", "c.v")} AS nb
       |  FROM cv c CROSS JOIN qv q WHERE q.qid <> c.nid),
       |${simBlock("", "pr")},
       |qp AS (SELECT vec_id AS qid, $projList AS v
       |  FROM (SELECT vec_id, $milli AS mv FROM embeddings
       |        WHERE vec_id < 10)),
       |cp AS MATERIALIZED (SELECT vec_id AS nid, $projList AS v
       |  FROM (SELECT vec_id, $milli AS mv FROM embeddings)),
       |pr2 AS (SELECT q.qid, c.nid, ${idot("q.v", "c.v")} AS dt,
       |    ${idot("q.v", "q.v")} AS na, ${idot("c.v", "c.v")} AS nb
       |  FROM cp c CROSS JOIN qp q WHERE q.qid <> c.nid),
       |${simBlock("2", "pr2")},
       |ex AS MATERIALIZED (SELECT qid, nid, rnk FROM (SELECT qid, nid,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid)
       |      AS rnk FROM sm) WHERE rnk <= 5),
       |ap AS MATERIALIZED (SELECT qid, nid, rnk FROM (SELECT qid, nid,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid)
       |      AS rnk FROM sm2) WHERE rnk <= 5),
       |vals AS (SELECT CAST(unnest(generate_series(2, 6)) AS BIGINT) AS v),
       |$log2ValueCtes,
       |dcg AS (SELECT ap.qid,
       |    CAST(sum((coalesce(6 - ex.rnk, 0) * 1000000000) // lg.l)
       |      AS BIGINT) AS dcg_nano
       |  FROM ap LEFT JOIN ex ON ex.qid = ap.qid AND ex.nid = ap.nid
       |  JOIN lg ON lg.v = ap.rnk + 1 GROUP BY 1),
       |idcg AS (SELECT qid,
       |    CAST(sum(((6 - rnk) * 1000000000) // lg.l) AS BIGINT)
       |      AS idcg_nano
       |  FROM ex JOIN lg ON lg.v = ex.rnk + 1 GROUP BY 1),
       |nn1 AS (SELECT ex.qid, CAST(coalesce(ap.rnk, 0) AS BIGINT)
       |      AS nn_rank
       |  FROM ex LEFT JOIN ap ON ap.qid = ex.qid AND ap.nid = ex.nid
       |  WHERE ex.rnk = 1)
       |SELECT d.qid AS query_id, d.dcg_nano, i.idcg_nano,
       |  (d.dcg_nano * 1000000) // i.idcg_nano AS ndcg_micro,
       |  n.nn_rank,
       |  CASE WHEN n.nn_rank = 0 THEN 0
       |       ELSE 1000000 // n.nn_rank END AS mrr_micro
       |FROM dcg d JOIN idcg i ON i.qid = d.qid JOIN nn1 n ON n.qid = d.qid
       |ORDER BY query_id""".stripMargin
  }

  /** Two full GD chains in one replay — the train-split model (the
    * unprefixed chain, which also emits the shared laba/f relations)
    * and the holdout "irreducible" model (prefix `h`) — then per
    * train-split doc both base-2 losses at the final margins via the
    * distinct-value log2 chain, rho, and the rho > 0 pin. */
  private def rhoLossOracle: String =
    s"""WITH RECURSIVE $exp2ConstsCtes,
       |${gdCtes(iters = 3, lrNum = 1L, lrDen = 16L, withEpochs = true,
          trainPred = "doc_id % 4 <> 0")},
       |${gdCtes(iters = 3, lrNum = 1L, lrDen = 16L, withEpochs = true,
          trainPred = "doc_id % 4 = 0", pfx = "h")},
       |bl AS (SELECT doc_id,
       |    greatest(CASE WHEN y = 1 THEN p ELSE 1000000 - p END, 1) AS pt
       |  FROM p4 WHERE doc_id % 4 <> 0),
       |al AS (SELECT doc_id,
       |    greatest(CASE WHEN y = 1 THEN p ELSE 1000000 - p END, 1) AS pt
       |  FROM hp4 WHERE doc_id % 4 <> 0),
       |vals AS MATERIALIZED (SELECT DISTINCT pt AS v FROM
       |  (SELECT pt FROM bl UNION ALL SELECT pt FROM al)
       |  UNION SELECT 1000000),
       |$log2ValueCtes,
       |lb AS (SELECT bl.doc_id, l6.l - lp.l AS loss_micro
       |  FROM bl JOIN lg lp ON lp.v = bl.pt
       |  CROSS JOIN (SELECT l FROM lg WHERE v = 1000000) l6),
       |la AS (SELECT al.doc_id, l6.l - lp.l AS irreducible_micro
       |  FROM al JOIN lg lp ON lp.v = al.pt
       |  CROSS JOIN (SELECT l FROM lg WHERE v = 1000000) l6)
       |SELECT lb.doc_id, lb.loss_micro, la.irreducible_micro,
       |  lb.loss_micro - la.irreducible_micro AS rho_micro,
       |  lb.loss_micro - la.irreducible_micro > 0 AS selected
       |FROM lb JOIN la ON la.doc_id = lb.doc_id
       |ORDER BY lb.doc_id""".stripMargin

  private def fanoOracle: String =
    """WITH cnt AS (
      |  SELECT event_type AS g,
      |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
      |    CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT g, min(h) AS h0, max(h) AS h1,
      |    max(h) - min(h) + 1 AS n FROM cnt GROUP BY g),
      |grid AS (SELECT g, n, unnest(generate_series(h0, h1)) AS h
      |  FROM span),
      |agg AS (SELECT gr.g, gr.n,
      |    CAST(sum(coalesce(c.x, 0)) AS HUGEINT) AS s,
      |    CAST(sum(CAST(coalesce(c.x, 0) AS HUGEINT) * coalesce(c.x, 0))
      |      AS HUGEINT) AS q
      |  FROM grid gr LEFT JOIN cnt c ON c.g = gr.g AND c.h = gr.h
      |  GROUP BY 1, 2)
      |SELECT g AS event_type, n, CAST(s AS BIGINT) AS n_events,
      |  CAST(CASE WHEN s = 0 THEN 0
      |       ELSE (n * q - s * s) * 1000000 // (n * s) END AS BIGINT)
      |    AS fano_micro
      |FROM agg ORDER BY event_type""".stripMargin

  private def pacfOracle: String = {
    val (p22, a21, p33) = graft.ops.Sessions.pacfExprs("//")
    s"""WITH cnt AS (
       |  SELECT event_type AS g,
       |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
       |    CAST(count(*) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2),
       |span AS (SELECT g, min(h) AS h0, max(h) AS h1,
       |    CAST(sum(x) AS HUGEINT) AS s, max(h) - min(h) + 1 AS n
       |  FROM cnt GROUP BY g),
       |grid AS (SELECT g, n, s, h0,
       |    unnest(generate_series(h0, h1)) AS h FROM span),
       |dense AS (SELECT gr.g, gr.n, gr.h - gr.h0 AS t,
       |    CAST(gr.n AS HUGEINT) * coalesce(c.x, 0) - gr.s AS c
       |  FROM grid gr LEFT JOIN cnt c ON c.g = gr.g AND c.h = gr.h),
       |den AS (SELECT g, max(n) AS n, sum(c * c) AS d
       |  FROM dense GROUP BY g),
       |pr AS (SELECT a.g, l.lag, sum(a.c * b.c) AS num
       |  FROM dense a
       |  CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS lag) l
       |  JOIN dense b ON b.g = a.g AND b.t = a.t + l.lag
       |  GROUP BY a.g, l.lag),
       |acf AS (SELECT pr.g, pr.lag, den.n,
       |    CAST(CASE WHEN den.d = 0 THEN 0
       |         WHEN num >= 0 THEN (num * 1000000) // den.d
       |         ELSE -((-num * 1000000) // den.d) END AS BIGINT)
       |      AS acf_micro
       |  FROM pr JOIN den ON den.g = pr.g),
       |pv AS (SELECT g, max(n) AS n,
       |    coalesce(max(CASE WHEN lag = 1 THEN acf_micro END), 0) AS r1,
       |    coalesce(max(CASE WHEN lag = 2 THEN acf_micro END), 0) AS r2,
       |    coalesce(max(CASE WHEN lag = 3 THEN acf_micro END), 0) AS r3
       |  FROM acf GROUP BY 1),
       |wp AS (SELECT *, $p22 AS p22 FROM pv),
       |wa AS (SELECT *, $a21 AS a21 FROM wp)
       |SELECT g AS event_type, n, r1 AS pacf1_micro, p22 AS pacf2_micro,
       |  $p33 AS pacf3_micro
       |FROM wa ORDER BY event_type""".stripMargin
  }

  /** The shared log-log least-squares tail over an `xy(x, y)` CTE —
    * the [[graft.ops.TextAnalysis]] `logLogFit` closed forms with
    * HUGEINT sums and sign-split divisions. */
  private def fitTailSql(nCol: String): String =
    s"""s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
       |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
       |    CAST(sum(x * x) AS HUGEINT) AS sxx,
       |    CAST(sum(y * y) AS HUGEINT) AS syy,
       |    CAST(sum(x * y) AS HUGEINT) AS sxy FROM xy),
       |d AS (SELECT n, sx, sy, n * sxy - sx * sy AS num,
       |    n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy FROM s)
       |SELECT CAST(n AS BIGINT) AS $nCol,
       |  CAST(CASE WHEN dx = 0 THEN 0
       |       WHEN num >= 0 THEN (num * 1000000) // dx
       |       ELSE -((-num * 1000000) // dx) END AS BIGINT) AS slope_micro,
       |  CAST(CASE WHEN dx = 0 THEN 0
       |       WHEN sy * dx - num * sx >= 0
       |       THEN (sy * dx - num * sx) // (n * dx)
       |       ELSE -((-(sy * dx - num * sx)) // (n * dx))
       |  END AS BIGINT) AS intercept_milli,
       |  CAST(CASE WHEN dx = 0 OR dy = 0 THEN 0
       |       ELSE (num * num * 1000000) // (dx * dy)
       |  END AS BIGINT) AS r2_micro
       |FROM d""".stripMargin

  private def zipfOracle: String =
    s"""WITH nrm AS (SELECT ${normSql("text")} AS norm FROM documents),
       |wds AS (SELECT unnest(string_split(norm, ' ')) AS w FROM nrm),
       |cnt AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM wds
       |  WHERE w <> '' GROUP BY 1),
       |hd AS MATERIALIZED (SELECT w, c,
       |    row_number() OVER (ORDER BY c DESC, w) AS rnk
       |  FROM cnt QUALIFY rnk <= 1000),
       |vals AS MATERIALIZED (SELECT DISTINCT v FROM (
       |  SELECT c AS v FROM hd UNION ALL SELECT rnk FROM hd)),
       |$log2ValueCtes,
       |xy AS (SELECT lx.l // 1000 AS x, ly.l // 1000 AS y
       |  FROM hd JOIN lg lx ON lx.v = hd.rnk JOIN lg ly ON ly.v = hd.c),
       |${fitTailSql("n_words")}""".stripMargin

  private def heapsOracle: String =
    s"""WITH nrm AS (SELECT doc_id, ${normSql("text")} AS norm FROM documents),
       |w AS (SELECT doc_id AS id, unnest(string_split(norm, ' ')) AS wd
       |  FROM nrm),
       |wf AS MATERIALIZED (SELECT id, wd FROM w WHERE wd <> ''),
       |npb AS (SELECT f // 50 AS bucket,
       |    CAST(count(*) AS BIGINT) AS nw
       |  FROM (SELECT wd, min(id) AS f FROM wf GROUP BY 1) GROUP BY 1),
       |tpb AS (SELECT id // 50 AS bucket, CAST(count(*) AS BIGINT) AS toks
       |  FROM wf GROUP BY 1),
       |bk AS MATERIALIZED (SELECT t.bucket, t.toks,
       |    coalesce(n.nw, 0) AS nw
       |  FROM tpb t LEFT JOIN npb n ON n.bucket = t.bucket),
       |cum AS (SELECT a.bucket, CAST(sum(b.toks) AS BIGINT) AS ct,
       |    CAST(sum(b.nw) AS BIGINT) AS cv
       |  FROM bk a JOIN bk b ON b.bucket <= a.bucket GROUP BY 1),
       |pts AS (SELECT ct, cv FROM cum WHERE ct >= 1 AND cv >= 1),
       |vals AS MATERIALIZED (SELECT DISTINCT v FROM (
       |  SELECT ct AS v FROM pts UNION ALL SELECT cv FROM pts)),
       |$log2ValueCtes,
       |xy AS (SELECT lx.l // 1000 AS x, ly.l // 1000 AS y
       |  FROM pts JOIN lg lx ON lx.v = pts.ct
       |  JOIN lg ly ON ly.v = pts.cv),
       |${fitTailSql("n_points")}""".stripMargin

  /** Support-peeling replay over the k-NN graph chain (the
    * sim_knn_graph derivation: LSH buckets, hamming-1 multi-probe,
    * per-query top-3): symmetrized distinct edges, per sweep one wedge
    * join (u-keyed fan-out + (v, w) closure) counting supports,
    * inner-join peel at sup ≥ k−2, final supports on the fixpoint. */
  private def ktrussOracle: String = {
    val k = 3; val sweeps = 3
    def supCte(name: String, src: String): String =
      s"""$name AS (SELECT a.src, a.dst, CAST(count(*) AS BIGINT) AS sup
         |  FROM $src a JOIN $src b ON b.src = a.src AND b.dst <> a.dst
         |  JOIN $src c ON c.src = a.dst AND c.dst = b.dst
         |  GROUP BY 1, 2)""".stripMargin
    val rounds = (1 to sweeps).map { i =>
      s"""${supCte(s"s$i", s"e${i - 1}")},
         |e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
         |  JOIN s$i s ON s.src = e.src AND s.dst = e.dst
         |  WHERE s.sup >= ${k - 2})""".stripMargin
    }.mkString(",\n")
    s"""WITH bkt AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    ${LlmQueries.lshBucketSql("embedding")} AS b
       |  FROM embeddings),
       |prb AS (
       |  SELECT vec_id AS qid, v AS qv, p.pb
       |  FROM bkt, unnest([b, xor(b, 1), xor(b, 2), xor(b, 4), xor(b, 8)])
       |    AS p(pb)),
       |cand AS (
       |  SELECT q.qid, c.vec_id AS nid, q.qv, c.v
       |  FROM prb q JOIN bkt c ON c.b = q.pb AND c.vec_id <> q.qid),
       |knn AS MATERIALIZED (SELECT qid, nid FROM (
       |  SELECT qid, nid,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY ${LlmQueries.ivfCos("qv", "v")} DESC, nid) AS rank
       |  FROM cand)
       |  WHERE rank <= 3),
       |e0 AS (SELECT DISTINCT src, dst FROM (
       |  SELECT qid AS src, nid AS dst FROM knn
       |  UNION ALL SELECT nid, qid FROM knn)),
       |$rounds,
       |${supCte("sf", s"e$sweeps")}
       |SELECT src AS id_a, dst AS id_b, sup AS support
       |FROM sf WHERE src < dst
       |ORDER BY id_a, id_b""".stripMargin
  }

  private def doremiOracle: String = {
    val rounds = (1 to 4).map { r =>
      s"""u$r AS (SELECT domain, n_docs, n_tokens, kl_micro, excess_micro,
         |    x, asum, (a * x) // 1000000 AS up FROM a${r - 1}),
         |s$r AS (SELECT CAST(sum(up) AS HUGEINT) AS s FROM u$r),
         |a$r AS (SELECT domain, n_docs, n_tokens, kl_micro, excess_micro,
         |    x, CAST((CAST(up AS HUGEINT) * 1000000) // s AS BIGINT) AS a,
         |    asum + CAST((CAST(up AS HUGEINT) * 1000000) // s AS BIGINT) AS asum
         |  FROM u$r CROSS JOIN s$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE $exp2ConstsCtes,
       |nrm AS (SELECT doc_id, lang, ${normSql("text")} AS norm FROM documents),
       |tk AS (SELECT lang AS domain, unnest(string_split(norm, ' ')) AS w
       |  FROM nrm),
       |cdw AS MATERIALIZED (SELECT domain, w, CAST(count(*) AS BIGINT) AS c
       |  FROM tk WHERE w <> '' GROUP BY 1, 2),
       |ndt AS (SELECT domain, CAST(sum(c) AS BIGINT) AS nt FROM cdw
       |  GROUP BY 1),
       |cwt AS (SELECT w, CAST(sum(c) AS BIGINT) AS cg FROM cdw GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cdw),
       |vals AS MATERIALIZED (SELECT DISTINCT v FROM (
       |  SELECT c AS v FROM cdw UNION ALL SELECT nt FROM ndt
       |  UNION ALL SELECT cg FROM cwt UNION ALL SELECT n FROM tot)),
       |$log2ValueCtes,
       |klr AS (SELECT cdw.domain,
       |    sum(CAST(cdw.c AS HUGEINT) * (lc.l - ln.l - lw.l + lt.l)) AS klnum
       |  FROM cdw JOIN ndt ON ndt.domain = cdw.domain
       |  JOIN cwt ON cwt.w = cdw.w CROSS JOIN tot
       |  JOIN lg lc ON lc.v = cdw.c JOIN lg ln ON ln.v = ndt.nt
       |  JOIN lg lw ON lw.v = cwt.cg JOIN lg lt ON lt.v = tot.n
       |  GROUP BY 1),
       |dom AS (SELECT lang AS domain, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM documents GROUP BY 1),
       |kl AS MATERIALIZED (SELECT d.domain, d.n_docs,
       |    coalesce(ndt.nt, 0) AS n_tokens,
       |    CAST(CASE WHEN ndt.nt IS NULL OR ndt.nt = 0 THEN 0
       |         WHEN klnum >= 0 THEN klnum // ndt.nt
       |         ELSE -((-klnum) // ndt.nt) END AS BIGINT) AS kl_micro
       |  FROM dom d LEFT JOIN ndt ON ndt.domain = d.domain
       |  LEFT JOIN klr ON klr.domain = d.domain),
       |ex AS (SELECT *, greatest(kl_micro, 0) AS excess_micro,
       |    least(greatest(kl_micro, 0) * 256, 20000000) AS ef FROM kl),
       |xx AS (SELECT domain, n_docs, n_tokens, kl_micro, excess_micro,
       |    CAST((acc * 1000000) //
       |      (CAST(1 AS HUGEINT) << CAST(32 - q AS INTEGER)) AS BIGINT) AS x
       |  FROM (SELECT *, ef // 1000000 AS q,
       |      ${exp2AccExpr("((ef % 1000000) * 1048576) // 1000000")} AS acc
       |    FROM ex CROSS JOIN cl)),
       |dcnt AS (SELECT CAST(count(*) AS BIGINT) AS dd FROM kl),
       |a0 AS (SELECT domain, n_docs, n_tokens, kl_micro, excess_micro, x,
       |    1000000 // dd AS a, CAST(0 AS BIGINT) AS asum
       |  FROM xx CROSS JOIN dcnt),
       |$rounds
       |SELECT domain, n_docs, n_tokens, kl_micro, excess_micro,
       |  asum // 4 AS weight_micro
       |FROM a4 ORDER BY domain""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("text_wordpiece_segment", textWordpieceSegment, wordpieceOracle),
    Query("quality_logistic_train", qualityLogisticTrain, logisticTrainOracle),
    Query("curation_cartography", curationCartography, cartographyOracle),
    Query("curation_forgetting", curationForgetting, forgettingOracle),
    Query("quality_gd_curve", qualityGdCurve, gdCurveOracle),
    Query("curation_data_diet", curationDataDiet, dataDietOracle),
    Query("curation_rho_loss", curationRhoLoss, rhoLossOracle),
    Query("value_tracin_panel", valueTracinPanel, tracinOracle(c => s"$c IN $tracinPanelSub")),
    Query("value_datainf_panel", valueDatainfPanel, datainfOracle(c => s"$c IN $tracinPanelSub")),
    Query("value_tracin_self", valueTracinSelf, tracinSelfOracle),
    Query("quality_conformal", qualityConformal, conformalOracle),
    Query("quality_temp_scale", qualityTempScale, tempScaleOracle),
    Query("quality_group_loss", qualityGroupLoss, groupLossOracle),
    Query("quality_ece", qualityEce, eceOracle),
    Query("quality_brier_decomp", qualityBrierDecomp, brierOracle),
    Query("sim_ndcg_eval", simNdcgEval, ndcgOracle),
    Query("event_pacf", eventPacf, pacfOracle),
    Query("event_fano", eventFano, fanoOracle),
    Query("sample_coreset_kcenter", sampleCoresetKcenter, coresetOracle),
    Query("text_zipf_fit", textZipfFit, zipfOracle),
    Query("text_heaps_fit", textHeapsFit, heapsOracle),
    Query("graph_ktruss", graphKtruss, ktrussOracle),
    Query("mix_doremi_weights", mixDoremiWeights, doremiOracle),
    Query("event_autocorr", eventAutocorr,
      """WITH cnt AS (
        |  SELECT event_type AS g,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT g, min(h) AS h0, max(h) AS h1,
        |    CAST(sum(x) AS HUGEINT) AS s, max(h) - min(h) + 1 AS n
        |  FROM cnt GROUP BY g),
        |grid AS (SELECT g, n, s, h0,
        |    unnest(generate_series(h0, h1)) AS h FROM span),
        |dense AS (SELECT gr.g, gr.n, gr.h - gr.h0 AS t,
        |    CAST(gr.n AS HUGEINT) * coalesce(c.x, 0) - gr.s AS c
        |  FROM grid gr LEFT JOIN cnt c ON c.g = gr.g AND c.h = gr.h),
        |den AS (SELECT g, max(n) AS n, sum(c * c) AS d
        |  FROM dense GROUP BY g),
        |pr AS (SELECT a.g, l.lag, sum(a.c * b.c) AS num
        |  FROM dense a
        |  CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS lag) l
        |  JOIN dense b ON b.g = a.g AND b.t = a.t + l.lag
        |  GROUP BY a.g, l.lag)
        |SELECT pr.g AS event_type, CAST(pr.lag AS BIGINT) AS lag, den.n,
        |  CAST(CASE WHEN den.d = 0 THEN 0
        |       WHEN num >= 0 THEN (num * 1000000) // den.d
        |       ELSE -((-num * 1000000) // den.d) END AS BIGINT) AS acf_micro
        |FROM pr JOIN den ON den.g = pr.g
        |ORDER BY event_type, lag""".stripMargin),
  )
}
