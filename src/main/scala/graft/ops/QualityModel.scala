package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-based document quality classification — the trained-filter
  * stage of a pretraining curation pipeline (the DCLM / FineWeb-edu
  * shape: a cheap linear classifier over hashed bag-of-words features,
  * applied corpus-wide after heuristic gates).
  *
  * Scale shapes:
  *  - featurization is map-only per word + ONE shuffle keyed by
  *    (doc, bucket) with map-side combine — the exchange carries the
  *    sparse feature relation, never the text;
  *  - scoring is one aggregation over the feature relation; the weight
  *    vector rides the plan as a single array [[lit]]eral (constant plan
  *    size in `dim`, the same discipline as the IVF centroid fix);
  *  - training is batch gradient descent: per iteration one margin
  *    aggregation and one per-bucket gradient aggregation (both
  *    map-side combined), with only the `dim`-sized gradient vector
  *    ever collected to the driver — the corpus itself never moves.
  *
  * Feature hashing is md5-based ([[Dedup.hashStr]]) — deterministic
  * across runs, engines, and partitionings. Training involves float
  * sums whose partition order varies, so learned weights are
  * run-deterministic only to float-sum reordering; the spec asserts
  * separability/accuracy, and engine-parity is checked through the
  * integer-weight scoring variant whose arithmetic is exact.
  */
object QualityModel {

  /** Sparse hashed bag-of-words features: (id, bucket, n) rows, where
    * bucket = md5-hash(word) mod dim and n is the word's in-document
    * count. Documents whose normalized text is empty yield no rows. */
  def hashedFeatures(docs: DataFrame, dim: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(dim > 0, "dim must be positive")
    docs.select(col(idCol).as("id"),
        explode(split(Dedup.normalize(col(textCol)), " ")).as("w"))
      .filter(col("w") =!= "")
      .select(col("id"),
        pmod(Dedup.hashStr(col("w"), 77), lit(dim.toLong)).as("bucket"))
      .groupBy(col("id"), col("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** Logistic scoring: margin = bias + Σ n·w[bucket] and
    * p_keep = sigmoid(margin) per document. Weights are embedded as one
    * array literal — plan size is constant in `dim`. Every input row
    * gets an output row: documents whose normalized text is empty have
    * no feature rows, so their aggregated margin is missing — they are
    * left-joined back and score margin = bias (the exact value
    * [[trainLogistic]] assigns them via its coalesce), so a downstream
    * keep/drop filter always sees them. */
  def scoreLogistic(docs: DataFrame, weights: Array[Double], bias: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = lit(weights)
    val margins = hashedFeatures(docs, weights.length, idCol, textCol)
      .groupBy(col("id"))
      .agg(sum(col("n") * element_at(w, (col("bucket") + 1).cast("int")))
        .as("__m"))
    docs.select(col(idCol).as("id"))
      .join(margins, Seq("id"), "left")
      .withColumn("__mb", coalesce(col("__m"), lit(0.0)) + lit(bias))
      .select(col("id").as(idCol),
        col("__mb").as("margin"),
        (lit(1.0) / (lit(1.0) + exp(-col("__mb")))).as("p_keep"))
  }

  /** Batch-gradient logistic regression over hashed features. `docs`
    * must carry a 0/1 `labelCol`. Per iteration: margins under the
    * current weights (one aggregation), per-bucket gradients (one
    * aggregation; the bias gradient rides along as pseudo-bucket -1),
    * and a `dim`-bounded collect for the driver-side update — `dim` is
    * capped so that collect can never become a corpus-sized action.
    * Returns (weights, bias). */
  def trainLogistic(docs: DataFrame, dim: Int = 4096, iters: Int = 10,
      lr: Double = 0.5, l2: Double = 0.0, idCol: String = "doc_id",
      labelCol: String = "label", textCol: String = "text"): (Array[Double], Double) = {
    require(dim > 0 && dim <= (1 << 20),
      s"dim=$dim out of range: the per-iteration collect is dim-sized")
    require(iters > 0, "iters must be positive")
    val feats = hashedFeatures(docs, dim, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val labels = docs.select(col(idCol).as("id"),
        col(labelCol).cast("double").as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nDocs = labels.count().toDouble
      // bias as pseudo-bucket -1 with n=1: its gradient row comes out of
      // the same aggregation as the weight gradients (one collect/iter)
      val featsB = feats.unionByName(
        labels.select(col("id"), lit(-1L).as("bucket"), lit(1L).as("n")))
      val w = Array.fill(dim)(0.0)
      var b = 0.0
      for (_ <- 0 until iters) {
        val wLit = lit(w)
        val margins = feats.groupBy(col("id"))
          .agg(sum(col("n") * element_at(wLit, (col("bucket") + 1).cast("int")))
            .as("m"))
        val resid = labels.join(margins, Seq("id"), "left")
          .select(col("id"),
            (lit(1.0) / (lit(1.0) + exp(-(coalesce(col("m"), lit(0.0)) + lit(b))))
              - col("y")).as("r"))
        val grads = featsB.join(resid, Seq("id"))
          .groupBy(col("bucket"))
          .agg(sum(col("n") * col("r")).as("g"))
          .collect()
        grads.foreach { row =>
          val k = row.getLong(0).toInt
          val g = row.getDouble(1) / nDocs
          if (k < 0) b -= lr * g
          else w(k) -= lr * (g + l2 * w(k))
        }
      }
      (w, b)
    } finally { feats.unpersist(); labels.unpersist() }
  }

  /** Precision/recall sweep over every distinct score threshold — the
    * classifier-calibration primitive (pick the keep/drop cut for a
    * target precision). At threshold t the prediction is score ≥ t;
    * each output row carries tp/fp/fn and precision/recall in integer
    * micro-units (exact, engine-portable — intended for integer scores
    * like [[integerWeightScore]] margins).
    *
    * Scale shape: one aggregation collapses the corpus to the
    * distinct-score relation (vocabulary-sized for integer scores);
    * the running totals come from a TRIANGULAR SELF-JOIN of that tiny
    * relation (b.threshold ≥ a.threshold), never a global window — the
    * corpus is scanned once and nothing funnels into one task. */
  def prCurve(scored: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = {
    // localCheckpoint: the distinct-score relation feeds BOTH sides of the
    // triangular join plus the totals aggregate — without it each consumer
    // re-executes the corpus-wide scoring subtree (3 corpus scans for one)
    val per = scored.groupBy(col(scoreCol).as("threshold"))
      .agg(count(lit(1)).as("__n"), sum(col(labelCol).cast("long")).as("__pos"))
      .localCheckpoint()
    val totals = per.agg(coalesce(sum(col("__pos")), lit(0L)).as("__p"))
    val cum = per.alias("a")
      .join(per.alias("b"), col("b.threshold") >= col("a.threshold"))
      .groupBy(col("a.threshold").as("threshold"))
      .agg(sum(col("b.__n")).as("__np"), sum(col("b.__pos")).as("tp"))
    cum.crossJoin(broadcast(totals))
      .select(col("threshold"), col("tp"),
        (col("__np") - col("tp")).as("fp"),
        (col("__p") - col("tp")).as("fn"),
        expr("tp * 1000000 div __np").as("precision_micro"),
        expr("CASE WHEN __p = 0 THEN 0 ELSE tp * 1000000 div __p END")
          .as("recall_micro"))
  }

  /** Operating-point selection from the PR sweep — the DECISION step
    * after [[prCurve]]: the threshold with the highest recall among
    * those meeting `minPrecisionMicro` (the "keep as much as possible
    * at ≥ τ precision" rule every quality-filter deployment applies).
    * If NO threshold qualifies, the best-precision point is returned
    * instead with qualifies = 0 — one row always comes back, and the
    * caller can see whether the target was met. Ties order by
    * (precision desc, threshold asc) — a total order, engine-stable.
    *
    * Scale: one TakeOrderedAndProject over the distinct-score-sized PR
    * relation. */
  def selectThreshold(scored: DataFrame, scoreCol: String,
      labelCol: String, minPrecisionMicro: Long): DataFrame =
    prCurve(scored, scoreCol, labelCol)
      .withColumn("qualifies",
        expr(s"CAST(precision_micro >= $minPrecisionMicro AS BIGINT)"))
      // qualifying rows rank by recall; the fallback ranks by precision
      .orderBy(col("qualifies").desc,
        expr("CASE WHEN qualifies = 1 THEN recall_micro " +
          "ELSE precision_micro END").desc,
        col("precision_micro").desc, col("threshold").asc)
      .limit(1)

  /** Exact ROC-AUC in integer micro-units, from the pairwise
    * formulation: AUC = (concordant + ties/2) / (P·N) where a
    * (negative, positive) pair is concordant when the positive scores
    * strictly higher, tied at equal scores. Both counts come from the
    * same vocabulary-sized distinct-score relation as [[prCurve]] — a
    * strict-inequality triangular join for concordance plus a per-score
    * product for ties — so there is no global rank, no global window,
    * and every quantity is an exact integer (output is one row:
    * (n_pos, n_neg, concordant, tied, auc_micro)). Degenerate inputs
    * (no positives or no negatives) yield auc_micro = 0 rather than a
    * division error.
    *
    * Intended for labeled EVALUATION sets: the micro-unit multiply needs
    * 10⁶·concordant ≤ Long.Max, i.e. P·N ≲ 9·10¹² (≈ 3M positives ×
    * 3M negatives) — far above any human-labeled set, far below corpus
    * scale. Corpus-wide score distributions belong in [[prCurve]]. */
  def aucExact(scored: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = {
    val per = scored.groupBy(col(scoreCol).as("s"))
      .agg(count(lit(1)).as("__n"), sum(col(labelCol).cast("long")).as("__pos"))
      .withColumn("__neg", col("__n") - col("__pos"))
      .localCheckpoint()
    val conc = per.alias("a").join(per.alias("b"), col("a.s") < col("b.s"))
      .agg(coalesce(sum(col("a.__neg") * col("b.__pos")), lit(0L)).as("concordant"))
    val ties = per
      .agg(coalesce(sum(col("__pos") * col("__neg")), lit(0L)).as("tied"),
        coalesce(sum(col("__pos")), lit(0L)).as("n_pos"),
        coalesce(sum(col("__neg")), lit(0L)).as("n_neg"))
    ties.crossJoin(broadcast(conc))
      .select(col("n_pos"), col("n_neg"), col("concordant"), col("tied"),
        expr("""CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0
               |ELSE (1000000 * concordant + 500000 * tied) div (n_pos * n_neg)
               |END""".stripMargin).as("auc_micro"))
  }

  /** [[aucExact]] per group — the per-slice model audit (does the
    * quality classifier discriminate as well on src7 as on src3, or is
    * a source's data being kept/dropped by a score that means nothing
    * there?). Same pairwise formulation with the group key carried
    * through every relation: distinct-score stats per (group, score),
    * concordance from a group-keyed triangular join, one output row per
    * group. Degenerate groups (single-class) report auc_micro = 0 like
    * the global form.
    *
    * Scale: the triangular join squares only the per-GROUP distinct-
    * score relation; P·N ≲ 9·10¹² applies per group. */
  def aucByGroup(scored: DataFrame, groupCol: String, scoreCol: String,
      labelCol: String): DataFrame = {
    val per = scored.groupBy(col(groupCol).as("g"), col(scoreCol).as("s"))
      .agg(count(lit(1)).as("__n"), sum(col(labelCol).cast("long")).as("__pos"))
      .withColumn("__neg", col("__n") - col("__pos"))
      .localCheckpoint(false) // (group × score)-sized; feeds both join sides
    val conc = per.alias("a")
      .join(per.select(col("g").as("__g2"), col("s").as("__s2"),
        col("__pos").as("__pos2")),
        col("g") === col("__g2") && col("s") < col("__s2"))
      .groupBy(col("g"))
      .agg(coalesce(sum(col("__neg") * col("__pos2")), lit(0L))
        .as("concordant"))
    per.groupBy(col("g"))
      .agg(coalesce(sum(col("__pos") * col("__neg")), lit(0L)).as("tied"),
        coalesce(sum(col("__pos")), lit(0L)).as("n_pos"),
        coalesce(sum(col("__neg")), lit(0L)).as("n_neg"))
      .join(conc, Seq("g"), "left")
      .withColumn("concordant", coalesce(col("concordant"), lit(0L)))
      .select(col("g").as(groupCol), col("n_pos"), col("n_neg"),
        col("concordant"), col("tied"),
        expr("""CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0
               |ELSE (1000000 * concordant + 500000 * tied) div (n_pos * n_neg)
               |END""".stripMargin).as("auc_micro"))
  }

  /** Micro-quantized Poisson(1) inverse CDF, k = 0..8 (draws past the
    * last entry weight 9): floor(10⁶·e⁻¹·Σ_{j≤k} 1/j!). The table IS
    * the operator's definition — both engines branch on the same nine
    * literals, so the bootstrap weights replay bit-for-bit with no
    * transcendental anywhere in the plan. */
  val poissonCdfMicro: Seq[Long] = Seq(367879L, 735758L,
    919698L, 981011L, 996340L, 999405L, 999916L, 999989L, 999998L)

  /** Poisson-bootstrap resampling weight for (id, rep): the inverse-CDF
    * lookup on the doc/rep hash-uniform micro draw — the streaming
    * bootstrap of Chamandy et al. ("Estimating uncertainty for massive
    * data streams", Google 2012): instead of materializing B resamples
    * (a corpus-sized shuffle each), every row carries B tiny integer
    * weights computed map-side. */
  private def poissonWeight(id: org.apache.spark.sql.Column,
      rep: org.apache.spark.sql.Column, seed: Int)
      : org.apache.spark.sql.Column = {
    val u = pmod(graft.ops.Dedup.hashStr(
      concat(id.cast("string"), lit("|"), rep.cast("string")), seed),
      lit(1000000L))
    poissonCdfMicro.zipWithIndex.foldRight(
        lit(poissonCdfMicro.size.toLong)) { case ((c, k), rest) =>
      when(u < c, k.toLong).otherwise(rest)
    }
  }

  /** Per-replicate Poisson-bootstrap AUCs — the uncertainty companion
    * to [[aucExact]]: B weighted AUC replicates, each doc counted
    * w ~ Poisson(1) times per replicate (deterministic hash draws, the
    * [[poissonWeight]] table), weighted pairwise AUC with the exact
    * [[aucByGroup]] construction keyed by replicate instead of group.
    * The spread of the B replicates estimates the sampling uncertainty
    * of the point AUC — the "is 0.71 vs 0.69 real" answer a quality-
    * classifier owner needs before acting on a threshold.
    *
    * Scale shape: ONE pass computes all B weights map-side (explode of
    * a B-literal array — no resample shuffle, no corpus duplication on
    * disk), one combine-agg to the (rep × distinct-score) relation,
    * then concordance as a CUMULATIVE negative-weight window per
    * replicate over that relation: conc = Σ_s wp(s)·cumWn(<s). The
    * window is rep-partitioned and score-relation-sized — linear where
    * [[aucExact]]'s triangular join would SQUARE the near-continuous
    * micro score domain (measured: the triangular form cost 73 s at
    * 5k docs × 20 reps; this form ~2 s). DECIMAL(38,0) sums keep
    * weighted pair counts exact at any eval-set size. Output: one row
    * per replicate (rep, w_pos, w_neg, auc_micro). */
  def aucPoissonBootstrap(scored: DataFrame, scoreCol: String,
      labelCol: String, reps: Int = 20, seed: Int = 23,
      idCol: String = "doc_id"): DataFrame = {
    require(reps >= 4 && reps <= 1000, "reps in [4, 1000]")
    val dec = "DECIMAL(38,0)"
    val weighted = scored
      .select(col(idCol).as("__id"), col(scoreCol).as("s"),
        col(labelCol).cast("long").as("__y"))
      .withColumn("rep", explode(array((1 to reps).map(lit(_)): _*)))
      .withColumn("__w", poissonWeight(col("__id"), col("rep"), seed))
    val per = weighted.groupBy(col("rep"), col("s"))
      .agg(sum(col("__w") * col("__y")).as("__wp"),
        sum(col("__w") * (lit(1L) - col("__y"))).as("__wn"))
    val wCum = Window.partitionBy(col("rep")).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    per
      .withColumn("__cumWn",
        coalesce(sum(col("__wn")).over(wCum), lit(0L)))
      .groupBy(col("rep"))
      .agg(coalesce(sum(expr(s"CAST(__wp AS $dec) * __cumWn")),
          expr(s"CAST(0 AS $dec)")).as("__conc"),
        coalesce(sum(expr(s"CAST(__wp AS $dec) * __wn")),
          expr(s"CAST(0 AS $dec)")).as("__tied"),
        coalesce(sum(col("__wp")), lit(0L)).as("w_pos"),
        coalesce(sum(col("__wn")), lit(0L)).as("w_neg"))
      .select(col("rep").cast("long").as("rep"), col("w_pos"), col("w_neg"),
        expr(s"""CAST(CASE WHEN w_pos = 0 OR w_neg = 0 THEN 0
               |ELSE (1000000 * __conc + 500000 * __tied)
               |  div (CAST(w_pos AS $dec) * w_neg)
               |END AS BIGINT)""".stripMargin).as("auc_micro"))
  }

  /** Percentile confidence interval over the [[aucPoissonBootstrap]]
    * replicates plus the unweighted point estimate: one row
    * (n_reps, auc_micro, ci_lo_micro, ci_hi_micro) with the bounds at
    * exact rank-ceiling indexes k = ⌈B·α/2⌉ and B+1−k (ties to the
    * lower rep id). The rank comes from the triangular join on the
    * B-row replicate relation — bounded, never a global window. */
  def aucBootstrapCi(scored: DataFrame, scoreCol: String,
      labelCol: String, reps: Int = 20, alphaMicro: Long = 100000L,
      seed: Int = 23, idCol: String = "doc_id"): DataFrame = {
    require(alphaMicro > 0L && alphaMicro < 1000000L, "alpha in (0,1)")
    val perRep = aucPoissonBootstrap(scored, scoreCol, labelCol, reps,
        seed, idCol)
      .select(col("rep"), col("auc_micro"))
      .localCheckpoint(false) // B rows; both triangular sides
    val ranked = perRep.alias("a")
      .join(perRep.select(col("rep").as("__r2"),
        col("auc_micro").as("__v2")),
        col("__v2") < col("auc_micro") ||
          (col("__v2") === col("auc_micro") && col("__r2") < col("rep")),
        "left")
      .groupBy(col("rep"), col("auc_micro"))
      .agg((count(col("__r2")) + lit(1L)).as("__rk"))
    val kLo = (reps * alphaMicro + 1999999L) / 2000000L
    val kHi = reps + 1L - kLo
    val ci = ranked.agg(
      max(when(col("__rk") === kLo, col("auc_micro"))).as("ci_lo_micro"),
      max(when(col("__rk") === kHi, col("auc_micro"))).as("ci_hi_micro"),
      count(lit(1)).as("n_reps"))
    val point = aucExact(scored, scoreCol, labelCol)
      .select(col("auc_micro"))
    point.crossJoin(broadcast(ci))
      .select(col("n_reps"), col("auc_micro"),
        col("ci_lo_micro"), col("ci_hi_micro"))
  }

  /** Engine-parity scoring variant with md5-derived INTEGER weights
    * (w[bucket] ∈ [-10, 10]): the margin is an exact integer sum —
    * order-independent and bit-identical across engines — while the
    * plan shape (map-only featurize → one combine shuffle → one score
    * aggregation) is exactly [[scoreLogistic]]'s. This is what the
    * DuckDB oracle checks; the learned-float path differs only in
    * where the weights come from. */
  def integerWeightScore(docs: DataFrame, dim: Int = 256,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    hashedFeatures(docs, dim, idCol, textCol)
      .withColumn("w",
        pmod(Dedup.hashStr(col("bucket").cast("string"), 55), lit(21L)) - 10L)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_features"),
        sum(col("n") * col("w")).as("margin"))
      .select(col("id").as(idCol), col("n_features"), col("margin"),
        (col("margin") > 0).as("keep"))

  /** Calibration / reliability diagram of a scored corpus (the classic
    * classifier-calibration readout, DeGroot & Fienberg 1983): bucket
    * rows into fixed-width score bins and report, per bin, the count,
    * the positive count, the empirical positive rate, and the mean
    * score — "does a higher margin actually mean a higher keep-worthy
    * fraction" is the question a quality-filter owner asks before
    * trusting a threshold ([[prCurve]] sweeps thresholds; this audits
    * the score's meaning between them).
    *
    * All integer: the bin is floor(score / binWidth) and both the rate
    * and the mean are sign-split integral divisions, so the whole
    * diagram replays bit-identically. One combine-agg, bin-count-sized
    * output — nothing else. */
  def reliabilityBins(scored: DataFrame, scoreCol: String,
      labelCol: String, binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    scored
      .withColumn("bin", expr(
        s"""CASE WHEN $scoreCol < 0
           | THEN -((-CAST($scoreCol AS BIGINT) + ${binWidth - 1}) div $binWidth)
           | ELSE CAST($scoreCol AS BIGINT) div $binWidth END"""
          .stripMargin))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col(labelCol).cast("long")).as("n_pos"),
        sum(col(scoreCol).cast("long")).as("__sm"))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("(1000000 * n_pos) div n").as("pos_rate_micro"),
        expr("""CASE WHEN __sm < 0 THEN -((-__sm) div n)
          | ELSE __sm div n END""".stripMargin).as("mean_score"))
  }

  /** Cohen's kappa (Cohen 1960) between two categorical label columns —
    * chance-corrected agreement, the standard audit for "does the
    * quality model actually agree with the gold labels beyond what
    * class imbalance alone would produce" (raw accuracy is useless on a
    * 95/5 corpus; kappa is not). Works for any number of classes.
    *
    * Exactly integer: with joint counts n_ab, diagonal D = Σ_c n_cc and
    * chance mass E = Σ_c row_c · col_c,
    *   kappa = (n·D − E) / (n² − E)
    * (the usual (p_o − p_e)/(1 − p_e) multiplied through by n²), so
    * kappa_micro is one sign-split integral division. Products ride
    * DECIMAL(38,0): n² wraps a long past n ≈ 3·10⁹ rows — real at
    * corpus scale.
    *
    * Scale shape: one combine-agg for the joint counts (classes ×
    * classes rows — tiny), margins derived from it, one-row output.
    * Nothing driver-side. */
  def cohensKappa(df: DataFrame, aCol: String, bCol: String,
      unit: Long = 1000000L): DataFrame = {
    // class-pair contingency table — |classes|² rows, sketch-sized
    val joint = df
      .select(col(aCol).cast("string").as("a"),
        col(bCol).cast("string").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("nab"))
      .localCheckpoint()
    val rowm = joint.groupBy(col("a")).agg(sum(col("nab")).as("ra"))
    val colm = joint.groupBy(col("b")).agg(sum(col("nab")).as("cb"))
    // E = Σ_c ra_c·cb_c from the margins (a class absent from one
    // margin contributes 0 — the full join + coalesce covers it)
    val chance = rowm.withColumnRenamed("a", "c")
      .join(colm.withColumnRenamed("b", "c"), Seq("c"), "full")
      .agg(sum(expr(
        """CAST(coalesce(ra, CAST(0 AS BIGINT)) AS DECIMAL(38,0))
          | * coalesce(cb, CAST(0 AS BIGINT))""".stripMargin))
        .as("__e"))
    joint
      .agg(sum(col("nab")).as("__n"),
        sum(when(col("a") === col("b"), col("nab"))
          .otherwise(lit(0L))).as("__d"))
      .crossJoin(broadcast(chance))
      .select(col("__n").as("n"), col("__d").as("n_agree"),
        expr(s"($unit * __d) div __n").as("po_micro"),
        expr(s"CAST(($unit * __e) div (CAST(__n AS DECIMAL(38,0)) * __n) " +
          "AS BIGINT)").as("pe_micro"),
        expr(s"""CAST(CASE
          | WHEN CAST(__n AS DECIMAL(38,0)) * __n - __e = 0 THEN 0
          | WHEN $unit * (CAST(__n AS DECIMAL(38,0)) * __d - __e) < 0
          | THEN -((-($unit * (CAST(__n AS DECIMAL(38,0)) * __d - __e)))
          |        div (CAST(__n AS DECIMAL(38,0)) * __n - __e))
          | ELSE ($unit * (CAST(__n AS DECIMAL(38,0)) * __d - __e))
          |      div (CAST(__n AS DECIMAL(38,0)) * __n - __e)
          | END AS BIGINT)""".stripMargin).as("kappa_micro"))
  }

  /** Per-stratum decile calibration audit: within each stratum, rank
    * rows by score (ties pinned by `idCol`), cut into `bins`
    * equal-count bins, and report per (stratum, bin) the count,
    * positives, empirical positive rate, and mean score — plus the
    * bin's |pos_rate − nominal| gap against its nominal rank
    * confidence (2b−1)/2B in micro units, whose count-weighted mean is
    * the ECE-style calibration summary for a rank-calibrated filter.
    * Per-stratum (per-source / per-language) is the shape a pipeline
    * owner wants anyway: a model that is calibrated in aggregate but
    * inverted on one source is exactly the failure this catches.
    * Unlike [[reliabilityBins]] (fixed score widths) the bins are
    * equal-population, so every bin's rate has the same variance.
    *
    * Deterministic: equal-depth bin = (bins·(rk−1)) div n over a
    * (score, id) total order — unique, integer, engine-replayable
    * (same cut rule as curriculum bucketing; `ntile`'s leftover
    * distribution differs between engines, so it is NOT used). Windows
    * are per-STRATUM, never global — a stratum must fit a partition
    * sort, the usual exact-rank posture. */
  def decileCalibration(scored: DataFrame, strataCol: String,
      scoreCol: String, labelCol: String, idCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, "need at least 2 bins")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
    val wOrd = w.orderBy(col(scoreCol), col(idCol))
    scored
      .withColumn("__rk", row_number().over(wOrd))
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("bin", expr(s"($bins * (__rk - 1)) div __n + 1"))
      .groupBy(col(strataCol), col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col(labelCol).cast("long")).as("n_pos"),
        sum(col(scoreCol).cast("long")).as("__sm"))
      .select(col(strataCol), col("bin"), col("n"), col("n_pos"),
        expr("(1000000 * n_pos) div n").as("pos_rate_micro"),
        expr("""CASE WHEN __sm < 0 THEN -((-__sm) div n)
          | ELSE __sm div n END""".stripMargin).as("mean_score"),
        expr(s"abs((1000000 * n_pos) div n - " +
          s"(1000000 * (2 * bin - 1)) div ${2 * bins})").as("gap_micro"))
  }

  /** Robust (median/IQR) scaling of an integer score column per stratum
    * — the outlier-immune normalization that makes scores comparable
    * across sources before a global threshold (a mean/std z-score is
    * dragged by the very outliers a quality score exists to flag).
    * Exact order statistics: median = the value at rank ⌈n/2⌉, q1/q3 at
    * ranks ⌈n/4⌉/⌈3n/4⌉ over the (value, id)-total-ordered stratum —
    * deterministic, engine-replayable; robust_micro =
    * unit·(v − median) div max(q3 − q1, 1), sign-split.
    *
    * Scale shape: per-STRATUM rank window + three conditional window
    * maxes on the same partition (one Window exec), then pure row
    * arithmetic — a stratum must fit a partition sort, the usual exact
    * order-statistic posture ([[decileCalibration]]'s note). */
  def robustScaleByGroup(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String, unit: Long = 1000000L): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val part = W.partitionBy(col(groupCol))
    val wOrd = part.orderBy(col(valueCol), col(idCol))
    df
      .withColumn("__v", col(valueCol).cast("long"))
      .withColumn("__rk", row_number().over(wOrd))
      .withColumn("__n", count(lit(1)).over(part))
      .withColumn("median",
        max(when(expr("__rk = (__n + 1) div 2"), col("__v"))).over(part))
      .withColumn("__q1",
        max(when(expr("__rk = (__n + 3) div 4"), col("__v"))).over(part))
      .withColumn("__q3",
        max(when(expr("__rk = (3 * __n + 3) div 4"), col("__v"))).over(part))
      .withColumn("iqr", col("__q3") - col("__q1"))
      .withColumn("robust_micro", expr(
        s"""CASE WHEN __v - median < 0
           | THEN -(($unit * (median - __v)) div greatest(iqr, 1))
           | ELSE ($unit * (__v - median)) div greatest(iqr, 1)
           | END""".stripMargin))
      .select(col(idCol), col(groupCol), col("__v").as(valueCol),
        col("median"), col("iqr"), col("robust_micro"))
  }

  /** Tie-pinned Spearman rank correlation per stratum — the confounder
    * audit ("is the quality score just measuring length?") in a form
    * that is EXACTLY integer: ρ = 1 − 6Σd²/(n(n²−1)) over the two rank
    * columns, with ties totally ordered by `idCol` (classic Spearman
    * average-ranks ties are fractional and engine-fragile; the pinned
    * variant is deterministic, replayable, and equal to it in the
    * tie-free case). ρ lives in [−1, 1] → micro units via one
    * sign-split division; singleton strata report 0.
    *
    * Scale shape: two per-STRATUM rank windows sharing the partition +
    * one combine-agg to a stratum-sized output. 6·Σd² rides
    * DECIMAL(38,0): Σd² < n³/3 wraps a long past n ≈ 3·10⁶ rows per
    * stratum. A stratum must fit a partition sort (exact-rank class). */
  def spearmanByGroup(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, idCol: String, unit: Long = 1000000L): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val part = W.partitionBy(col(groupCol))
    df
      .withColumn("__rx", row_number().over(
        part.orderBy(col(xCol), col(idCol))))
      .withColumn("__ry", row_number().over(
        part.orderBy(col(yCol), col(idCol))))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(expr(
          "CAST(__rx - __ry AS DECIMAL(38,0)) * (__rx - __ry)"))
          .as("__s2"))
      .select(col(groupCol), col("n"),
        expr(s"""CAST(CASE
          | WHEN n < 2 THEN 0
          | WHEN $unit * (CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) * n - 1)
          |        - 6 * __s2) < 0
          | THEN -((-($unit * (CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) * n - 1)
          |            - 6 * __s2)))
          |        div (CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) * n - 1)))
          | ELSE ($unit * (CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) * n - 1)
          |        - 6 * __s2))
          |      div (CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) * n - 1))
          | END AS BIGINT)""".stripMargin).as("spearman_micro"))
  }

  /** Confident-learning-lite label-noise audit (Northcutt, Jiang & Chuang,
    * JAIR'21, binary margin form): per given class c, the confidence
    * threshold t_c is the class's own mean score (floor; score for
    * class 1 is the margin, for class 0 its negation), and a document
    * is counted into joint cell (given, suggested) where `suggested` is
    * the class whose threshold the document's score clears by the most
    * (ties to the lower class id); documents clearing neither threshold
    * keep suggested = given (no evidence to move them). Off-diagonal
    * cells are the estimated label errors — the relabel/review queue's
    * size, per direction.
    *
    * All integer: means are sign-split floor divisions, excesses are
    * plain differences. Scale shape: one 2-row threshold aggregate
    * broadcast back, one map-side classification pass, one 4-row-output
    * combine-agg. */
  def labelNoiseJoint(scored: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = {
    // one-row threshold relation; an ABSENT class gets a NULL threshold,
    // so it is never suggested (every comparison against it is false)
    val th = scored
      .select(col(labelCol).cast("int").as("given"),
        col(scoreCol).cast("long").as("__s"))
      .agg(
        sum(when(col("given") === 1, col("__s")).otherwise(0L)).as("__s1"),
        sum(when(col("given") === 1, 1L).otherwise(0L)).as("__n1"),
        sum(when(col("given") === 0, -col("__s")).otherwise(0L)).as("__s0"),
        sum(when(col("given") === 0, 1L).otherwise(0L)).as("__n0"))
      .select(
        expr("""CASE WHEN __n1 = 0 THEN NULL
          | WHEN __s1 < 0 THEN -((-__s1) div __n1)
          | ELSE __s1 div __n1 END""".stripMargin).as("__t1"),
        expr("""CASE WHEN __n0 = 0 THEN NULL
          | WHEN __s0 < 0 THEN -((-__s0) div __n0)
          | ELSE __s0 div __n0 END""".stripMargin).as("__t0"))
    scored
      .select(col(labelCol).cast("int").as("given"),
        col(scoreCol).cast("long").as("__s"))
      .crossJoin(broadcast(th))
      .withColumn("__e1", col("__s") - col("__t1"))
      .withColumn("__e0", -col("__s") - col("__t0"))
      .withColumn("suggested",
        when(col("__e1") >= 0 && col("__e0") >= 0,
          when(col("__e0") >= col("__e1"), 0).otherwise(1))
          .when(col("__e1") >= 0, 1)
          .when(col("__e0") >= 0, 0)
          .otherwise(col("given")))
      .groupBy(col("given"), col("suggested"))
      .agg(count(lit(1)).as("n"))
  }

  /** Isotonic calibration of binned positive rates (pool-adjacent-
    * violators, Ayer et al. 1955; the non-parametric step-function
    * alternative to Platt scaling) via the closed max-min form
    *
    *   iso(i) = max_{j ≤ i} min_{k ≥ i} A(j, k),   A = pooled rate over
    *                                               bins j..k
    *
    * which equals the PAV fit and — unlike the sequential pool-merge
    * loop — is pure joins/aggregations. Rates are exact floored micros
    * A_micro = ⌊unit·Σpos/Σn⌋ (non-negative, engine-portable), and
    * max/min of the floored matrix keeps the fit monotone (the j-set
    * grows and the k-set shrinks with i), so the output is a valid
    * isotonic step function on the micro grid.
    *
    * Scale shape: the input is the BIN relation (tens of rows per
    * group, corpus-independent); the triple (i, j, k) expansion is
    * B³-bounded per group — trivially small — with per-group windows
    * for the prefix sums (never global). The corpus itself is touched
    * only upstream, by whatever built the bins
    * ([[decileCalibration]]). */
  def isotonicCalibration(bins: DataFrame, groupCols: Seq[String],
      binCol: String, posCol: String, nCol: String,
      unit: Long = 1000000L): DataFrame = {
    require(groupCols.nonEmpty && unit > 0, "need groups and unit > 0")
    val gs = groupCols.map(col)
    val W = org.apache.spark.sql.expressions.Window
    val wCum = W.partitionBy(gs: _*).orderBy(col("__b"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val base = bins.select(gs :+ col(binCol).cast("long").as("__b") :+
      col(posCol).cast("long").as("__p") :+ col(nCol).cast("long").as("__n"): _*)
    val cum = base
      .withColumn("__cp", sum(col("__p")).over(wCum))
      .withColumn("__cn", sum(col("__n")).over(wCum))
    // interval rates A(j,k) from prefix-sum pairs (j ≤ k)
    val ivals = cum.select(gs :+ col("__b").as("__k") :+ col("__cp") :+
        col("__cn"): _*)
      .join(cum.select(gs :+ col("__b").as("__j") :+
        (col("__cp") - col("__p")).as("__pp") :+
        (col("__cn") - col("__n")).as("__pn"): _*), groupCols)
      .filter(col("__j") <= col("__k"))
      .select(gs :+ col("__j") :+ col("__k") :+
        expr(s"($unit * (__cp - __pp)) div (__cn - __pn)").as("__a"): _*)
    val iso = ivals
      .join(base.select(gs :+ col("__b").as("__i"): _*), groupCols)
      .filter(col("__j") <= col("__i") && col("__k") >= col("__i"))
      .groupBy(gs :+ col("__i") :+ col("__j"): _*)
      .agg(min(col("__a")).as("__m"))
      .groupBy(gs :+ col("__i"): _*)
      .agg(max(col("__m")).as("iso_rate_micro"))
    base.select(gs :+ col("__b") :+ col("__n").as("n") :+
        col("__p").as("n_pos") :+
        expr(s"($unit * __p) div __n").as("raw_rate_micro"): _*)
      .join(iso.withColumnRenamed("__i", "__b"), groupCols :+ "__b")
      .withColumnRenamed("__b", binCol)
  }

  /** Exact integer-micro logistic gradient descent over hashed features —
    * [[trainLogistic]]'s engine-portable twin. Weights, margins, and
    * probabilities live in micro units (Long); the logistic link is
    * [[graft.functions.ExactMicroOps.sigmoidMicro]] (isqrt-derived 2^x
    * product chain, no float anywhere), the gradient Σ n·(σ−y·10⁶) rides
    * DECIMAL(38,0), and the update is the magnitude-then-sign truncating
    * division Δw = sgn(g)·(|g|·lrNum)/(nDocs·lrDen) — so the ENTIRE
    * training trajectory is bit-identical across engines, partitionings,
    * and replays (a DuckDB oracle unrolls the same iterations), unlike
    * the float path whose learned weights are only
    * reorder-deterministic.
    *
    * Returns the post-update (weights, bias) after each iteration:
    * trajectory(t) = (w_{t+1}, b_{t+1}).
    *
    * Scale shape: identical to [[trainLogistic]] — per iteration one
    * margin aggregation and one gradient aggregation (both map-side
    * combined), only the dim-bounded gradient vector is collected; the
    * corpus never moves. Features are localCheckpointed once (consumed
    * 2·iters times). */
  def logisticTrajectoryMicro(docs: DataFrame, dim: Int = 64,
      iters: Int = 4, lrNum: Long = 1L, lrDen: Long = 1L,
      idCol: String = "doc_id", labelCol: String = "label",
      textCol: String = "text"): Seq[(Array[Long], Long)] = {
    val (feats, labels) = checkpointedFeatsLabels(docs, dim, idCol,
      labelCol, textCol)
    trajectoryFrom(feats, labels, dim, iters, lrNum, lrDen)
  }

  /** Featurize + label ONCE, localCheckpointed — the relation every GD
    * pass (trajectory gradients and epoch scoring) reuses. Both sides
    * are pre-partitioned BY ID before the checkpoint (localCheckpoint
    * preserves the physical partitioning): every downstream per-doc
    * margin aggregation and feats⋈labels/resid equi-join is id-keyed,
    * so establishing the partitioning once removes one exchange per GD
    * iteration per consumer (guide §2.4 — two operations keyed the
    * same way share one exchange). */
  private[ops] def checkpointedFeatsLabels(docs: DataFrame, dim: Int,
      idCol: String, labelCol: String, textCol: String)
      : (DataFrame, DataFrame) =
    (hashedFeatures(docs, dim, idCol, textCol)
      .repartition(col("id")).localCheckpoint(),
      docs.select(col(idCol).as("id"),
        col(labelCol).cast("long").as("y"))
        .repartition(col("id")).localCheckpoint())

  /** [[trajectoryFrom]] as a public entry point — the trained-artifact
    * fixture hook: a caller that shares ONE panel-excluded trajectory
    * across several valuation readouts (the `value_tracin_panel` /
    * `value_datainf_panel` pair) trains here once and passes the
    * result through the kernels' `trajOpt` parameters. */
  def trajectoryFromFeats(feats: DataFrame, labels: DataFrame,
      dim: Int = 64, iters: Int = 3, lrNum: Long = 1L,
      lrDen: Long = 16L): Seq[(Array[Long], Long)] =
    trajectoryFrom(feats, labels, dim, iters, lrNum, lrDen)

  private[ops] def trajectoryFrom(feats: DataFrame, labels: DataFrame,
      dim: Int, iters: Int, lrNum: Long,
      lrDen: Long): Seq[(Array[Long], Long)] = {
    require(dim > 0 && dim <= (1 << 20),
      s"dim=$dim out of range: the per-iteration collect is dim-sized")
    require(iters >= 1 && lrNum >= 1L && lrDen >= 1L, "bad iters/lr")
    val nDocs = labels.count()
    require(nDocs > 0L, "empty corpus")
    val den = BigInt(nDocs) * lrDen
    val w = Array.fill(dim)(0L)
    var b = 0L
    val out = Seq.newBuilder[(Array[Long], Long)]
    for (_ <- 0 until iters) {
      // lazy checkpoint: the residual relation feeds BOTH the feature
      // gradient join and the bias sum below; without it the per-doc
      // margin aggregation would run twice per iteration (and with the
      // id-partitioned feats there is no exchange left to reuse)
      val resid = marginsMicro(feats, labels, w, b)
        .select(col("id"),
          (graft.functions.VectorFunctions.sigmoid_micro(col("m"))
            - col("y") * 1000000L).as("r"))
        .localCheckpoint()
      // bias gradient as pseudo-bucket -1; union AFTER the id-keyed
      // join (not before) so the join runs exchange-free on the
      // pre-partitioned feats — the union of (bucket, term) rows then
      // feeds one tiny bucket-keyed combine-agg. Same terms, same sums.
      val grads = feats
        .join(resid, Seq("id"))
        .select(col("bucket"),
          (col("n").cast("decimal(38,0)") * col("r")).as("__t"))
        .unionByName(resid.select(lit(-1L).as("bucket"),
          col("r").cast("decimal(38,0)").as("__t")))
        .groupBy(col("bucket"))
        .agg(sum(col("__t")).as("g"))
        .collect()
      grads.foreach { row =>
        val k = row.getLong(0).toInt
        val g = BigInt(row.getDecimal(1).toBigInteger)
        val d = (g.abs * lrNum) / den
        val delta = (if (g.signum >= 0) d else -d).toLong
        if (k < 0) b -= delta else w(k) -= delta
      }
      // the residual checkpoint is fully consumed by the collect above;
      // free its blocks NOW instead of accumulating iters checkpoints
      // until a driver GC notices the dangling refs (ADVICE r16)
      // — and only its OWN blocks, the RDD its LogicalRDD wraps: a cached
      // input first materialized during this iteration must stay cached.
      resid.queryExecution.logical
        .collect { case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd }
        .foreach(_.unpersist(blocking = false))
      out += ((w.clone(), b))
    }
    out.result()
  }

  /** Final [[logisticTrajectoryMicro]] weights as a (bucket, w_micro)
    * relation — bias at pseudo-bucket −1, dim+1 rows total (the
    * [[graft.ops.TextAnalysis.trainBpeMerges]] posture: a bounded
    * trained artifact assembled on the driver after the distributed
    * trajectory). */
  def logisticWeightsMicro(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, dim: Int = 64, iters: Int = 4, lrNum: Long = 1L,
      lrDen: Long = 1L, idCol: String = "doc_id",
      labelCol: String = "label", textCol: String = "text"): DataFrame = {
    val (feats, labels) = checkpointedFeatsLabels(docs, dim, idCol,
      labelCol, textCol)
    logisticWeightsFromFeats(spark, feats, labels, dim, iters, lrNum,
      lrDen)
  }

  /** [[logisticWeightsMicro]] over pre-built feature + label relations
    * (the shared-fixture convention). */
  def logisticWeightsFromFeats(spark: org.apache.spark.sql.SparkSession,
      feats: DataFrame, labels: DataFrame, dim: Int = 64, iters: Int = 4,
      lrNum: Long = 1L, lrDen: Long = 1L): DataFrame = {
    val (w, b) = trajectoryFrom(feats, labels, dim, iters, lrNum,
      lrDen).last
    import spark.implicits._
    ((-1L, b) +: w.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v) })
      .toDF("bucket", "w_micro")
  }

  /** (id, y, m) margins under fixed micro weights: m = b + Σ n·w[bucket],
    * exact Long arithmetic; featureless (empty-text) docs get m = b. */
  private[ops] def marginsMicro(feats: DataFrame, labels: DataFrame,
      w: Array[Long], b: Long): DataFrame = {
    val wLit = lit(w)
    val sums = feats.groupBy(col("id"))
      .agg(sum(col("n") * element_at(wLit, (col("bucket") + 1).cast("int")))
        .as("__mm"))
    labels.join(sums, Seq("id"), "left")
      .select(col("id"), col("y"),
        (coalesce(col("__mm"), lit(0L)) + lit(b)).as("m"))
  }

  /** (id, y, epoch, m) margins under EVERY trajectory checkpoint in ONE
    * aggregation pass: all weight vectors ride as array literals, the
    * per-epoch sums come out of one groupBy, and the epochs unfold with
    * an explode — T margin scans collapse to one (epoch t is 1-based,
    * scoring post-update weights w_t). */
  private[ops] def marginsAllEpochs(feats: DataFrame, labels: DataFrame,
      traj: Seq[(Array[Long], Long)]): DataFrame = {
    val aggs = traj.indices.map { t =>
      sum(col("n") * element_at(lit(traj(t)._1),
        (col("bucket") + 1).cast("int"))).as(s"__m$t")
    }
    val sums = feats.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
    val pairs = traj.indices.map { t =>
      struct(lit(t + 1L).as("epoch"),
        (coalesce(col(s"__m$t"), lit(0L)) + lit(traj(t)._2)).as("m"))
    }
    labels.join(sums, Seq("id"), "left")
      .select(col("id"), col("y"), explode(array(pairs: _*)).as("__e"))
      .select(col("id"), col("y"), col("__e.epoch").as("epoch"),
        col("__e.m").as("m"))
  }

  /** Per-epoch exact scores of the [[logisticTrajectoryMicro]] run — the
    * raw material of dataset cartography (Swayamdipta et al. 2020): one
    * row per (doc, epoch) with the micro margin, p = σ(margin), the
    * TRUE-label probability p_true (p if y=1 else 10⁶−p), and the
    * correct flag (margin>0 iff y=1, the exact-zero margin pinned
    * incorrect-for-positives). Epoch t scores under the post-update
    * weights w_t.
    *
    * Scale shape: one margin aggregation per epoch over the
    * localCheckpointed feature relation; the union is epoch-partitioned
    * corpus passes, never a per-doc collect. */
  def logisticEpochScoresMicro(docs: DataFrame, dim: Int = 64,
      iters: Int = 4, lrNum: Long = 1L, lrDen: Long = 1L,
      idCol: String = "doc_id", labelCol: String = "label",
      textCol: String = "text"): DataFrame = {
    val (feats, labels) = checkpointedFeatsLabels(docs, dim, idCol,
      labelCol, textCol)
    val traj = trajectoryFrom(feats, labels, dim, iters, lrNum, lrDen)
    marginsAllEpochs(feats, labels, traj)
      .select(col("id").as(idCol), col("epoch"), col("m").as("margin"),
        graft.functions.VectorFunctions.sigmoid_micro(col("m")).as("p_micro"),
        col("y"))
      .withColumn("p_true_micro",
        when(col("y") === 1L, col("p_micro"))
          .otherwise(lit(1000000L) - col("p_micro")))
      .withColumn("correct",
        (col("margin") > 0L) === (col("y") === 1L))
      .drop("y")
  }

  /** Example-forgetting statistics (Toneva et al., ICLR 2019) over the
    * exact integer-GD trajectory: per document, the first epoch at
    * which it was classified correctly (0 = never learned), the number
    * of FORGETTING EVENTS (correct at epoch t, incorrect at t+1),
    * whether the final model classifies it correctly, and the
    * unforgettable flag (learned at some epoch and never forgotten) —
    * the forgetting-based curation signal (unforgettable examples are
    * safe to down-sample; frequently-forgotten ones carry the learning
    * signal, never-learned ones are label-noise suspects).
    *
    * Scale shape: the epoch relation is localCheckpointed (it feeds
    * three aggregates and one lag self-join); transitions come from ONE
    * equi-join on (doc, epoch+1) — never a window over the corpus. */
  def forgettingEventsMicro(docs: DataFrame, dim: Int = 64, iters: Int = 4,
      lrNum: Long = 1L, lrDen: Long = 1L, idCol: String = "doc_id",
      labelCol: String = "label", textCol: String = "text"): DataFrame =
    forgettingFromEpochs(logisticEpochScoresMicro(docs, dim, iters,
      lrNum, lrDen, idCol, labelCol, textCol), iters, idCol)

  /** [[forgettingEventsMicro]] over a pre-built epoch relation (the
    * [[calibrationErrorFromEpochs]] shared-fixture convention). */
  def forgettingFromEpochs(epochs: DataFrame, iters: Int,
      idCol: String = "doc_id"): DataFrame = {
    val ep = epochs
      .select(col(idCol).as("id"), col("epoch"), col("correct"))
      .localCheckpoint(false)
    val firstL = ep.filter(col("correct"))
      .groupBy(col("id")).agg(min(col("epoch")).as("__fl"))
    val forgets = ep.as("a")
      .join(ep.select(col("id"), (col("epoch") - 1L).as("epoch"),
        col("correct").as("__c2")), Seq("id", "epoch"))
      .filter(col("correct") && !col("__c2"))
      .groupBy(col("id")).agg(count(lit(1)).as("__nf"))
    val fin = ep.filter(col("epoch") === iters.toLong)
      .select(col("id"), col("correct").as("final_correct"))
    fin
      .join(firstL, Seq("id"), "left")
      .join(forgets, Seq("id"), "left")
      .select(col("id").as(idCol), lit(iters.toLong).as("n_epochs"),
        coalesce(col("__fl"), lit(0L)).as("first_learned"),
        coalesce(col("__nf"), lit(0L)).as("n_forget_events"),
        col("final_correct"))
      .withColumn("unforgettable",
        col("first_learned") > 0L && col("n_forget_events") === 0L)
  }

  /** Per-epoch training curve of the exact integer-GD run: document
    * count, correct count, and the exact integer log-loss
    * Σ (log2(10⁶) − log2(max(p_true, 1))) in micro units (base-2
    * cross-entropy; p_true = 0 — a fully-saturated wrong prediction —
    * clamps to 1, i.e. ~19.93 bits, keeping the kernel in envelope).
    * One combine-agg over the epoch relation; iters rows out. */
  def gdTrainingCurve(docs: DataFrame, dim: Int = 64, iters: Int = 4,
      lrNum: Long = 1L, lrDen: Long = 1L, idCol: String = "doc_id",
      labelCol: String = "label", textCol: String = "text"): DataFrame =
    gdCurveFromEpochs(logisticEpochScoresMicro(docs, dim, iters, lrNum,
      lrDen, idCol, labelCol, textCol))

  /** [[gdTrainingCurve]] over a pre-built epoch relation (the
    * [[calibrationErrorFromEpochs]] shared-fixture convention). */
  def gdCurveFromEpochs(ep: DataFrame): DataFrame = {
    val l6 = graft.functions.ExactMicroOps.log2Micro(1000000L)
    ep
      .withColumn("__loss", lit(l6) - graft.functions.VectorFunctions
        .log2_micro(greatest(col("p_true_micro"), lit(1L))))
      .groupBy(col("epoch"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("correct").cast("long")).as("n_correct"),
        sum(col("__loss").cast("decimal(38,0)")).as("__sl"))
      .select(col("epoch"), col("n_docs"), col("n_correct"),
        expr("CAST(__sl AS DECIMAL(38,0)) div CAST(n_docs AS DECIMAL(38,0))")
          .cast("long").as("mean_loss_micro"))
  }

  /** Split conformal prediction over the exact-GD model (Vovk et al.;
    * the Angelopoulos & Bates 2021 recipe): nonconformity = 10⁶ −
    * p_true at the FINAL epoch, the calibration quantile
    * q̂ = the k-th smallest calibration score with
    * k = ⌈(n+1)(1−α)⌉ (exact ceiling arithmetic), and per eval doc the
    * coverage flag s ≤ q̂ — "does the (1−α) prediction set contain the
    * true label". The marginal-coverage guarantee
    * P(covered) ≥ 1−α holds by exchangeability; everything here is
    * exact integers, so the threshold and every flag replay
    * bit-for-bit.
    *
    * Calibration split: idCol % calMod == 0 (the held-out convention);
    * eval = the rest. The score model is trained on the NON-calibration
    * split only and then scores every doc (ADVICE r13: split conformal
    * requires the score function be fit on data disjoint from the
    * calibration set, else exchangeability — and with it the coverage
    * guarantee — breaks; [[rhoLossScores]]' two-model split is the same
    * discipline). If k exceeds n (α too small for the calibration
    * size) the set is everything — q̂ pins to 10⁶ (the max possible
    * nonconformity) and all rows are covered, deterministically.
    *
    * Scale shape: the quantile comes from the distinct-score relation
    * (micro-bounded value domain) via the [[prCurve]] triangular
    * self-join — never a global window over the corpus; the one-row q̂
    * relation broadcasts back. */
  def conformalGate(docs: DataFrame, dim: Int = 64, iters: Int = 3,
      lrNum: Long = 1L, lrDen: Long = 16L, calMod: Int = 5,
      alphaMicro: Long = 100000L, idCol: String = "doc_id",
      labelCol: String = "label", textCol: String = "text"): DataFrame = {
    val (feats, labels) = checkpointedFeatsLabels(docs, dim, idCol,
      labelCol, textCol)
    conformalGateFromFeats(feats, labels, dim, iters, lrNum, lrDen,
      calMod, alphaMicro, idCol)
  }

  /** [[conformalGate]] over pre-built feature + label relations (the
    * shared-fixture convention): the non-calibration training split is
    * DERIVED from the fixture by an id filter — identical rows to
    * re-featurizing the filtered docs, without the second tokenize
    * pass. */
  def conformalGateFromFeats(feats: DataFrame, labels: DataFrame,
      dim: Int = 64, iters: Int = 3, lrNum: Long = 1L, lrDen: Long = 16L,
      calMod: Int = 5, alphaMicro: Long = 100000L,
      idCol: String = "doc_id"): DataFrame = {
    require(calMod >= 2 && alphaMicro > 0L && alphaMicro < 1000000L,
      "need calMod >= 2 and alpha in (0, 1)")
    // trajectory from the non-calibration split; margins for ALL docs
    // (the tracinInfluence train/score decomposition)
    val lTr = labels.filter(pmod(col("id"), lit(calMod.toLong)) =!= 0L)
      .localCheckpoint()
    val fTr = feats.join(lTr.select(col("id")), Seq("id"), "left_semi")
      .localCheckpoint()
    val traj = trajectoryFrom(fTr, lTr, dim, iters, lrNum, lrDen)
    val s = marginsAllEpochs(feats, labels, traj)
      .filter(col("epoch") === iters.toLong)
      .withColumn("__p",
        graft.functions.VectorFunctions.sigmoid_micro(col("m")))
      .select(col("id").as(idCol),
        (lit(1000000L) - when(col("y") === 1L, col("__p"))
          .otherwise(lit(1000000L) - col("__p"))).as("s"))
      .localCheckpoint(false) // feeds the calibration quantile AND eval
    val cal = s.filter(pmod(col(idCol), lit(calMod.toLong)) === 0L)
    val per = cal.groupBy(col("s").as("v")).agg(count(lit(1)).as("__c"))
      .localCheckpoint(false) // both sides of the triangular join + n
    val n = per.agg(coalesce(sum(col("__c")), lit(0L)).as("__n"))
    val cum = per.as("a")
      .join(per.select(col("v").as("v2"), col("__c").as("__c2")),
        col("v2") <= col("v"))
      .groupBy(col("v")).agg(sum(col("__c2")).as("__cum"))
    val qhat = cum.crossJoin(broadcast(n))
      .withColumn("__k",
        expr(s"((__n + 1) * ${1000000L - alphaMicro} + 999999) div 1000000"))
      .filter(col("__cum") >= col("__k"))
      .agg(min(col("v")).as("__q"))
      .select(coalesce(col("__q"), lit(1000000L)).as("qhat_micro"))
    s.filter(pmod(col(idCol), lit(calMod.toLong)) =!= 0L)
      .crossJoin(broadcast(qhat))
      .select(col(idCol), col("s").as("nonconf_micro"), col("qhat_micro"),
        (col("s") <= col("qhat_micro")).as("in_set"))
  }

  /** Exact expected calibration error of the final-epoch GD model
    * (Naeini et al. 2015's ECE / MCE over equal-width bins, the binary
    * P(y=1) convention): bin documents by ⌊p/binWidth⌋, per bin the
    * gap |acc − conf| multiplied through by the counts so everything
    * stays integer — per-bin gap numerator |n_pos·10⁶ − Σp|, then
    *
    *   ece_micro = ⌊Σ_b |n_pos_b·10⁶ − Σp_b| / N⌋
    *   mce_micro = max_b ⌊|n_pos_b·10⁶ − Σp_b| / n_b⌋
    *
    * One combine-agg to the bin relation (≤ 10⁶/binWidth rows), one
    * one-row aggregate — the reliability audit in exactly two numbers
    * ([[reliabilityBins]] gives the full diagram; this is the scalar
    * the threshold owner tracks). */
  def calibrationError(docs: DataFrame, dim: Int = 64, iters: Int = 3,
      lrNum: Long = 1L, lrDen: Long = 16L, binWidth: Long = 100000L,
      idCol: String = "doc_id", labelCol: String = "label",
      textCol: String = "text"): DataFrame =
    calibrationErrorFromEpochs(logisticEpochScoresMicro(docs, dim, iters,
      lrNum, lrDen, idCol, labelCol, textCol), iters, binWidth)

  /** [[calibrationError]] over a PRE-BUILT epoch relation (the
    * [[logisticEpochScoresMicro]] output) — the shared-fixture entry
    * point: at production scale the per-epoch score table is
    * materialized once and every training-dynamics readout aggregates
    * it, instead of each re-running GD. */
  def calibrationErrorFromEpochs(ep: DataFrame, iters: Int,
      binWidth: Long = 100000L): DataFrame = {
    require(binWidth > 0L && binWidth <= 1000000L, "bad binWidth")
    val bins = ep
      .filter(col("epoch") === iters.toLong)
      // recover y from (margin, correct): correct = (m>0)⇔(y=1), so
      // y = (m>0)⇔correct — exact for every case incl. p = 500000
      .withColumn("__y",
        ((col("margin") > 0L) === col("correct")).cast("long"))
      .groupBy(expr(s"p_micro div $binWidth").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"),
        sum(col("p_micro")).as("__sp"))
      .withColumn("__gap", abs(col("n_pos") * lit(1000000L) - col("__sp")))
    bins.agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_bins"),
        sum(col("__gap")).as("__tg"),
        max(expr("__gap div n")).as("mce_micro"))
      .select(col("n_docs"), col("n_bins"),
        expr("__tg div n_docs").as("ece_micro"), col("mce_micro"))
  }

  /** Unbiased pass@k (Chen et al., "Evaluating Large Language Models
    * Trained on Code", 2021 §2.1) — the eval-pipeline estimator for
    * "given n sampled attempts per task of which c succeeded, what is
    * the probability at least one of k drawn attempts succeeds":
    *
    *   pass@k = 1 − C(n−c, k)/C(n, k)
    *
    * The paper warns the naive 1 − (1 − c/n)^k plug-in is a biased
    * estimator of the true pass@k; this is their exact unbiased
    * combinatorial form, computed as the product
    * Π_{i<k} (n−c−i)/(n−i) with integer numerator/denominator products
    * in DECIMAL(38,0) and ONE final floor to micro. A zero factor
    * (c = n, or n−c < k) lands pass@k = 1 exactly; k > n rows are not
    * emitted (the estimator requires n ≥ k).
    *
    * Envelope, ENFORCED in-plan: the products need nᵏ·10⁶ <
    * 10³⁸, so n > maxAttempts (default 1500, safe through k = 10)
    * raises loudly instead of silently overflowing to NULL.
    *
    * Scale shape: one map-side-combined (task → n, c) aggregation;
    * the k-explode multiplies the TASK relation (bounded |ks| ≤ 16),
    * never the attempts. */
  def passAtK(attempts: DataFrame, ks: Seq[Int] = Seq(1, 5, 10),
      taskCol: String = "task_id", successCol: String = "success",
      unit: Long = 1000000L, maxAttempts: Long = 1500L): DataFrame = {
    require(ks.nonEmpty && ks.size <= 16 && ks.forall(_ >= 1) &&
      ks.distinct.size == ks.size, "ks: 1..16 distinct positive values")
    require(maxAttempts <= 1500L,
      "maxAttempts > 1500 would overflow DECIMAL(38,0) at k = 10")
    val dec = "DECIMAL(38,0)"
    attempts
      .groupBy(col(taskCol).as("task_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(successCol), 1L).otherwise(0L)).as("c"))
      .withColumn("n", expr(
        s"""CASE WHEN n > $maxAttempts THEN raise_error(concat(
           |  'passAtK: ', CAST(n AS STRING), ' attempts exceeds the ',
           |  'exact-product envelope (maxAttempts=$maxAttempts)'))
           |ELSE n END""".stripMargin))
      .select(col("task_id"), col("n"), col("c"),
        explode(lit(ks.map(_.toLong).toArray)).as("k"))
      .filter(col("k") <= col("n"))
      .withColumn("__num", expr(
        s"""aggregate(sequence(0L, k - 1), CAST(1 AS $dec),
           |  (acc, i) -> acc * greatest(n - c - i, 0L))""".stripMargin))
      .withColumn("__den", expr(
        s"""aggregate(sequence(0L, k - 1), CAST(1 AS $dec),
           |  (acc, i) -> acc * (n - i))""".stripMargin))
      .select(col("task_id"), col("n"), col("c"), col("k"),
        expr(s"CAST($unit - (__num * $unit) div __den AS BIGINT)")
          .as("pass_micro"))
  }

  /** Grid-exact temperature scaling (Guo et al., "On Calibration of
    * Modern Neural Networks", ICML 2017 §4.2) of the final-epoch GD
    * model: rescale every logit m → m/T and pick the temperature
    * minimizing validation NLL. The paper optimizes T by LBFGS; the
    * continuous optimum is irrational, so the exact-arithmetic form
    * evaluates the NLL on a FIXED rational temperature grid (the
    * caller passes micro temperatures, conventionally T = 2^(k/8)
    * over k ∈ [−16, 16] — ±2 octaves in eighth-octave steps) and
    * selects the grid argmin, ties to the smaller T. NLL is convex in
    * 1/T, so the grid bracket around the argmin certifies the
    * continuous optimum to grid resolution.
    *
    * Exact chain per (doc, T): scaled margin ⌊m·10⁶/T⌋
    * (magnitude-then-sign), p = sigmoidMicro, clamp p_true ≥ 1, loss
    * = log₂10⁶ − log₂ p_true in micro bits (the [[gdCurveFromEpochs]]
    * loss convention, so before/after NLLs are directly comparable
    * with `quality_gd_curve`). T = 10⁶ reproduces the uncalibrated
    * row exactly.
    *
    * Output: one row per grid temperature — (t_micro, n_docs,
    * nll_sum_micro, is_best).
    *
    * Scale shape: ONE corpus×|grid| pass (grid is a broadcast literal
    * array, |grid| ≤ 64 enforced), map-side combined down to |grid|
    * rows; the argmin runs on the |grid|-row aggregate. At 100 TB the
    * margins table is the [[logisticEpochScoresMicro]] fixture every
    * other readout already shares. */
  def temperatureScaleFromEpochs(ep: DataFrame, iters: Int,
      grid: Seq[Long], unit: Long = 1000000L): DataFrame = {
    require(grid.nonEmpty && grid.size <= 64 && grid.forall(_ >= 1L),
      s"grid of ${grid.size} temperatures out of [1, 64]")
    require(grid.distinct.size == grid.size, "duplicate grid temperature")
    val lg = graft.functions.VectorFunctions.log2_micro _
    val lgU = graft.functions.ExactMicroOps.log2Micro(unit)
    val agg = ep
      .filter(col("epoch") === iters.toLong)
      .withColumn("__y",
        ((col("margin") > 0L) === col("correct")).cast("long"))
      .select(col("margin"), col("__y"),
        explode(lit(grid.toArray)).as("t_micro"))
      .withColumn("__ms", expr(
        s"""CASE WHEN margin >= 0 THEN (margin * $unit) div t_micro
           |ELSE -((-margin * $unit) div t_micro) END""".stripMargin))
      .withColumn("__p",
        graft.functions.VectorFunctions.sigmoid_micro(col("__ms")))
      .withColumn("__pt", greatest(
        when(col("__y") === 1L, col("__p"))
          .otherwise(lit(unit) - col("__p")), lit(1L)))
      .withColumn("__loss", lit(lgU) - lg(col("__pt")))
      .groupBy(col("t_micro"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__loss")).as("nll_sum_micro"))
      .localCheckpoint(false) // |grid| rows; argmin + output
    val best = agg.orderBy(col("nll_sum_micro"), col("t_micro"))
      .limit(1).select(col("t_micro"), lit(true).as("__b"))
    agg.join(broadcast(best), Seq("t_micro"), "left")
      .select(col("t_micro"), col("n_docs"), col("nll_sum_micro"),
        coalesce(col("__b"), lit(false)).as("is_best"))
  }

  /** Exact Murphy (1973) decomposition of the Brier score of the
    * final-epoch GD model over equal-width probability bins — the
    * companion readout to [[calibrationError]]'s ECE/MCE that SPLITS a
    * proper score: Brier ≈ reliability − resolution + uncertainty,
    * where reliability (lower is better) is the calibration term,
    * resolution (higher is better) is how far bin outcome rates sit
    * from the base rate, and uncertainty ō(1−ō) is the irreducible
    * outcome variance. With binned (not per-distinct-value) forecasts
    * the identity carries a within-bin-variance remainder bounded by
    * binWidth²/12 (Stephenson's generalized decomposition) — the three
    * reported terms are the standard binned estimators.
    *
    * Quantization contract: per-bin means are floored ONCE to micro
    * (p̄_k = ⌊Σp/n_k⌋, ō_k = ⌊10⁶·o_k/n_k⌋, ō = ⌊10⁶·o/N⌋), the three
    * terms are then exact sums of n_k·(gap)² divided once by N·10⁶ —
    * so every intermediate is ≤ N·10¹² (DECIMAL(38,0)-safe at ANY
    * corpus size; no N⁴ blowup), the decomposition identity holds to
    * the floor drift (≤ a few micro), and both engines replay the
    * numbers bit-for-bit. Brier itself is computed directly from the
    * raw (p − 10⁶y)² sum, not from the identity.
    *
    * Scale shape: epoch relation → one combine-agg to the ≤ 10⁶/
    * binWidth bin relation → one-row aggregate. */
  def brierDecomposition(docs: DataFrame, dim: Int = 64, iters: Int = 3,
      lrNum: Long = 1L, lrDen: Long = 16L, binWidth: Long = 100000L,
      idCol: String = "doc_id", labelCol: String = "label",
      textCol: String = "text"): DataFrame =
    brierDecompositionFromEpochs(logisticEpochScoresMicro(docs, dim,
      iters, lrNum, lrDen, idCol, labelCol, textCol), iters, binWidth)

  /** [[brierDecomposition]] over a pre-built epoch relation (the
    * [[calibrationErrorFromEpochs]] shared-fixture convention). */
  def brierDecompositionFromEpochs(ep: DataFrame, iters: Int,
      binWidth: Long = 100000L): DataFrame = {
    require(binWidth > 0L && binWidth <= 1000000L, "bad binWidth")
    val dec = "DECIMAL(38,0)"
    val bins = ep
      .filter(col("epoch") === iters.toLong)
      .withColumn("__y",
        ((col("margin") > 0L) === col("correct")).cast("long"))
      .groupBy(expr(s"p_micro div $binWidth").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("o"),
        sum(col("p_micro")).as("__sp"),
        sum(expr(s"CAST(p_micro - 1000000 * __y AS $dec) " +
          s"* (p_micro - 1000000 * __y)")).as("__sq"))
      .withColumn("__pbar", expr("__sp div n"))
      .withColumn("__obar", expr("(1000000 * o) div n"))
      .localCheckpoint(false) // ≤ 10⁶/binWidth rows; totals + final agg
    val totals = bins.agg(sum(col("n")).as("n_docs"),
        sum(col("o")).as("__o"))
      .withColumn("__obase", expr("(1000000 * __o) div n_docs"))
    bins.crossJoin(broadcast(totals))
      .groupBy(col("n_docs"), col("__obase"))
      .agg(sum(col("__sq")).as("__sqt"),
        sum(expr(s"n * CAST(__pbar - __obar AS $dec) * (__pbar - __obar)"))
          .as("__rel"),
        sum(expr(s"n * CAST(__obar - __obase AS $dec) * (__obar - __obase)"))
          .as("__res"))
      .select(col("n_docs"),
        expr(s"CAST(__sqt div (CAST(n_docs AS $dec) * 1000000) AS BIGINT)")
          .as("brier_micro"),
        expr(s"CAST(__rel div (CAST(n_docs AS $dec) * 1000000) AS BIGINT)")
          .as("reliability_micro"),
        expr(s"CAST(__res div (CAST(n_docs AS $dec) * 1000000) AS BIGINT)")
          .as("resolution_micro"),
        expr("(__obase * (1000000 - __obase)) div 1000000")
          .as("uncertainty_micro"))
  }

  /** Data-diet pruning scores (Paul et al., NeurIPS 2021) over the
    * exact integer-GD trajectory: per document the EL2N score — for the
    * binary logistic case ‖p−y‖₂ = |σ(m)−y·10⁶| = 10⁶ − p_true, so
    * el2n = mean over epochs of (10⁶ − p_true) — and the GraNd score
    * ‖∇ℓ‖ = |r|·‖x‖ with the exact integer feature norm
    * xnorm = isqrt(Σ n_b² + 1) (the +1 is the bias coordinate of the
    * gradient), grand = ⌊xnorm·Σ|r| / T⌋. High-GraNd examples carry
    * the learning signal; pruning the lowest-scored fraction is the
    * paper's recipe (compose with [[Curation.keepTopQuantile]]).
    *
    * Scale shape: the epoch relation plus ONE per-doc combine-agg and
    * one per-doc norm aggregation over the feature relation —
    * everything integer, everything engine-replayable. */
  def dataDietScores(docs: DataFrame, dim: Int = 64, iters: Int = 4,
      lrNum: Long = 1L, lrDen: Long = 1L, idCol: String = "doc_id",
      labelCol: String = "label", textCol: String = "text"): DataFrame =
    dataDietScoresFromEpochs(
      logisticEpochScoresMicro(docs, dim, iters, lrNum, lrDen, idCol,
        labelCol, textCol),
      hashedFeatures(docs, dim, idCol, textCol), idCol)

  /** [[dataDietScores]] over pre-built epoch + feature relations (the
    * [[calibrationErrorFromEpochs]] shared-fixture convention). */
  def dataDietScoresFromEpochs(epochs: DataFrame, feats: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val ep = epochs
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_epochs"),
        sum(lit(1000000L) - col("p_true_micro")).as("__sr"))
    val norms = feats
      .groupBy(col("id"))
      .agg(sum(col("n") * col("n")).as("__nn"))
    ep.join(norms.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("xnorm", graft.functions.VectorFunctions.isqrt_long(
        coalesce(col("__nn"), lit(0L)) + lit(1L)))
      .select(col(idCol), col("n_epochs"),
        expr("__sr div n_epochs").as("el2n_micro"),
        col("xnorm"),
        expr("(xnorm * __sr) div n_epochs").as("grand_micro"))
  }

  /** Per-group training curve — the Group-DRO readout (Sagawa et al.,
    * ICLR 2020): per (epoch, group) the exact correct count and base-2
    * log-loss, plus the worst-group flag per epoch (the quantity Group
    * DRO minimizes and the fairness audit a mixture owner tracks —
    * average loss improving while one group's loss grows is the
    * failure mode this surfaces; pair with
    * [[graft.ops.Curation.doremiDomainWeights]] to reweight). Loss is
    * the [[gdTrainingCurve]] kernel; the worst flag is an exact
    * integer comparison via one epoch-keyed self-join on the
    * epochs×groups-sized aggregate (never a window over the corpus).
    * Ties on max loss flag every tied group. */
  def groupTrainingCurve(docs: DataFrame, groupCol: String, dim: Int = 64,
      iters: Int = 4, lrNum: Long = 1L, lrDen: Long = 1L,
      idCol: String = "doc_id", labelCol: String = "label",
      textCol: String = "text"): DataFrame =
    groupCurveFromEpochs(
      logisticEpochScoresMicro(docs, dim, iters, lrNum, lrDen, idCol,
        labelCol, textCol),
      docs.select(col(idCol), col(groupCol).as("grp")), groupCol, idCol)

  /** [[groupTrainingCurve]] over a pre-built epoch relation plus an
    * (id, grp) membership frame (the shared-fixture convention). */
  def groupCurveFromEpochs(epochs: DataFrame, groups: DataFrame,
      groupCol: String, idCol: String = "doc_id"): DataFrame = {
    val l6 = graft.functions.ExactMicroOps.log2Micro(1000000L)
    val per = epochs
      .join(groups, Seq(idCol))
      .withColumn("__loss", lit(l6) - graft.functions.VectorFunctions
        .log2_micro(greatest(col("p_true_micro"), lit(1L))))
      .groupBy(col("epoch"), col("grp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("correct").cast("long")).as("n_correct"),
        sum(col("__loss").cast("decimal(38,0)")).as("__sl"))
      .withColumn("mean_loss_micro",
        expr("CAST(__sl div CAST(n_docs AS DECIMAL(38,0)) AS BIGINT)"))
      .localCheckpoint(false) // feeds the per-epoch max AND the flag join
    val worst = per.groupBy(col("epoch"))
      .agg(max(col("mean_loss_micro")).as("__mx"))
    per.join(broadcast(worst), Seq("epoch"))
      .select(col("epoch"), col("grp").as(groupCol), col("n_docs"),
        col("n_correct"), col("mean_loss_micro"),
        (col("mean_loss_micro") === col("__mx")).as("is_worst_group"))
  }

  /** RHO-loss selection (Mindermann et al., ICML 2022 "Prioritized
    * training on points that are learnable, worth learning, and not yet
    * learnt"): per training doc the REDUCIBLE holdout loss
    *
    *   rho = loss_train-model − loss_irreducible-model
    *
    * where the irreducible-loss model trains on a held-out split
    * (idCol % calMod == 0) and the training model on the rest — both
    * the exact integer-GD trajectory, both losses the exact base-2
    * log-loss ([[gdTrainingCurve]] kernel). High-rho docs are learnable
    * (the holdout model does well ⇒ not noise) but not yet learnt (the
    * current model does badly) — the paper's selection signal;
    * `selected` pins rho > 0. Negative rho = already-learnt or noisy.
    *
    * Scale shape: two dim-bounded GD trajectories + two margin
    * aggregations over the train-split feature relation — everything
    * combine-agg'd, nothing corpus-sized collected. */
  def rhoLossScores(docs: DataFrame, calMod: Int = 4, dim: Int = 64,
      iters: Int = 3, lrNum: Long = 1L, lrDen: Long = 16L,
      idCol: String = "doc_id", labelCol: String = "label",
      textCol: String = "text"): DataFrame = {
    val (feats, labels) = checkpointedFeatsLabels(docs, dim, idCol,
      labelCol, textCol)
    rhoLossScoresFromFeats(feats, labels, calMod, dim, iters, lrNum,
      lrDen, idCol)
  }

  /** [[rhoLossScores]] over pre-built feature + label relations (the
    * shared-fixture convention): both model splits are derived from the
    * fixture by id filters — identical rows, one tokenize pass. */
  def rhoLossScoresFromFeats(feats: DataFrame, labels: DataFrame,
      calMod: Int = 4, dim: Int = 64, iters: Int = 3, lrNum: Long = 1L,
      lrDen: Long = 16L, idCol: String = "doc_id"): DataFrame = {
    require(calMod >= 2, "calMod must be >= 2")
    def split(pred: org.apache.spark.sql.Column => org.apache.spark.sql
        .Column): (DataFrame, DataFrame) = {
      val l = labels.filter(pred(pmod(col("id"), lit(calMod.toLong))))
        .localCheckpoint()
      (feats.join(l.select(col("id")), Seq("id"), "left_semi")
        .localCheckpoint(), l)
    }
    val (fH, lH) = split(_ === 0L)
    val (fT, lT) = split(_ =!= 0L)
    val (wA, bA) = trajectoryFrom(fH, lH, dim, iters, lrNum, lrDen).last
    val (wB, bB) = trajectoryFrom(fT, lT, dim, iters, lrNum, lrDen).last
    val l6 = graft.functions.ExactMicroOps.log2Micro(1000000L)
    def lossOf(w: Array[Long], b: Long, name: String): DataFrame =
      marginsMicro(fT, lT, w, b)
        .withColumn("__p",
          graft.functions.VectorFunctions.sigmoid_micro(col("m")))
        .withColumn("__pt", when(col("y") === 1L, col("__p"))
          .otherwise(lit(1000000L) - col("__p")))
        .select(col("id"), (lit(l6) - graft.functions.VectorFunctions
          .log2_micro(greatest(col("__pt"), lit(1L)))).as(name))
    lossOf(wB, bB, "loss_micro")
      .join(lossOf(wA, bA, "irreducible_micro"), Seq("id"))
      .select(col("id").as(idCol), col("loss_micro"),
        col("irreducible_micro"),
        (col("loss_micro") - col("irreducible_micro")).as("rho_micro"))
      .withColumn("selected", col("rho_micro") > 0L)
  }

  /** Dataset cartography (Swayamdipta et al., EMNLP 2020) over the exact
    * integer-GD trajectory: per document, confidence = mean of p_true
    * across epochs, variability = its standard deviation, and the count
    * of correctly-predicted epochs — the data map that separates
    * easy-to-learn / ambiguous / hard-to-learn examples (the curation
    * signal: hard+low-variability items are the likely label errors,
    * ambiguous items the most informative).
    *
    * All integer-exact: conf = ⌊Σp/T⌋; with V = T·Σp² − (Σp)² ≥ 0,
    * variability = ⌊isqrt(V)/T⌋ (the [[graft.ops.Pca]] multiplied-
    * through-variance discipline, then the shared ±1-corrected isqrt);
    * regions are pinned thresholds — variability ≥ `ambThresh` →
    * 'ambiguous', else conf ≥ 500000 → 'easy', else 'hard'.
    *
    * Scale shape: the epoch relation is iters corpus passes; this adds
    * ONE combine-agg keyed by doc — p ≤ 10⁶ and T ≤ 10³ keep every sum
    * inside Long (T·Σp² ≤ 10¹⁵). */
  def cartographyMicro(docs: DataFrame, dim: Int = 64, iters: Int = 4,
      lrNum: Long = 1L, lrDen: Long = 1L, ambThresh: Long = 150000L,
      idCol: String = "doc_id", labelCol: String = "label",
      textCol: String = "text"): DataFrame =
    cartographyFromEpochs(logisticEpochScoresMicro(docs, dim, iters,
      lrNum, lrDen, idCol, labelCol, textCol), iters, ambThresh, idCol)

  /** [[cartographyMicro]] over a pre-built epoch relation (the
    * [[calibrationErrorFromEpochs]] shared-fixture convention). */
  def cartographyFromEpochs(ep: DataFrame, iters: Int,
      ambThresh: Long = 150000L, idCol: String = "doc_id"): DataFrame = {
    require(iters <= 1000, "iters > 1000 would overflow the Long Σp² path")
    ep.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_epochs"),
        sum(col("p_true_micro")).as("__sp"),
        sum(col("p_true_micro") * col("p_true_micro")).as("__sq"),
        sum(col("correct").cast("long")).as("correct_epochs"))
      .withColumn("__sd", graft.functions.VectorFunctions.isqrt_long(
        col("n_epochs") * col("__sq") - col("__sp") * col("__sp")))
      .select(col(idCol), col("n_epochs"),
        expr("__sp div n_epochs").as("conf_micro"),
        expr("__sd div n_epochs").as("variability_micro"),
        col("correct_epochs"))
      .withColumn("region",
        when(col("variability_micro") >= ambThresh, lit("ambiguous"))
          .when(col("conf_micro") >= 500000L, lit("easy"))
          .otherwise(lit("hard")))
  }
}
