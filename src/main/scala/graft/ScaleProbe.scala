package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-off 10× weak-scaling probe for the most expensive registry queries
  * (VERDICT r8 item 7): confirms wall-time grows ~linearly from sf0.1 to a
  * synthetic sf1.0, instead of asserting the 100× design claim untested.
  *
  * The synthetic corpus replicates sf0.1 ten times WITHOUT inflating
  * near-dup density — a naive 10× copy makes every document an exact dup
  * of 9 others, so pair-listing operators would blow up quadratically for
  * OUTPUT-size reasons and the probe would measure data realism, not plan
  * scaling. Copy k instead:
  *  - documents: every word prefixed `c<k>` (copy 0 untouched) — each
  *    copy keeps the original's internal near-dup structure (the word map
  *    is a bijection on shingles) while cross-copy Jaccard is exactly 0;
  *  - embeddings: the float array rotated by k positions — norms and the
  *    within-copy distance structure survive, cross-copy cosine decorrelates;
  *  - ids offset by k·10⁷ so every row is addressable.
  * The result is 10 structurally identical, mutually invisible shards —
  * the canonical weak-scaling instance.
  *
  * Output: one line per (query, scale) with seconds, then the ratio table
  * that SCALING.md records. Times are best-of-2 [[Bench.timed]] samples
  * (codegen amortized, same convention as the bench's warm numbers). */
object ScaleProbe {

  /** Copy count: 10 by default (the per-round sf1.0 probe);
    * SPARK_GRAFT_COPIES=30 runs the deeper 30× probe (VERDICT r9 item 5 —
    * confirm no superlinear term hides above 10× for the two softest
    * ratios). Capped at 64: the embedding-rotation bijection needs
    * k < dim. */
  private val Copies =
    sys.env.getOrElse("SPARK_GRAFT_COPIES", "10").toInt.min(64)
  private val Offset = 10000000L

  def synth(spark: SparkSession, src: String, dst: String): Unit = {
    val fs = new java.io.File(dst)
    fs.mkdirs()
    // Events (round-11 addition, own marker so pre-existing synth dirs
    // upgrade in place): user/event ids offset per copy — comparisons are
    // user-partitioned, so they stay copy-local, while the event-type
    // "model" arms are shared across copies: the comparison log grows
    // linearly, the BT game matrix stays |models|²-fixed — the designed
    // weak-scaling shape for preference aggregation.
    if (!new java.io.File(s"$dst/_DONE_EV").exists()) {
      val ev = T.events(spark, src)
      (0 until Copies).map { k =>
        ev.withColumn("event_id", col("event_id") + lit(k * Offset))
          .withColumn("user_id", col("user_id") + lit(k * Offset))
      }.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dst/events.parquet")
      new java.io.File(s"$dst/_DONE_EV").createNewFile()
    }
    // Customers (round-12): keys offset per copy AND acctbal shifted by
    // k·10⁵ so the linkage probe's acctbal-cent blocks stay copy-local
    // (same balances replicated 10× would densify every block and grow
    // candidates 100× — a data artifact, not a plan property; real
    // corpus growth brings new balances/blocks, which the shift models).
    if (!new java.io.File(s"$dst/_DONE_CUST").exists()) {
      val cust = spark.read.parquet(s"$src/customer.parquet")
      (0 until Copies).map { k =>
        cust.withColumn("c_custkey", col("c_custkey") + lit(k * Offset))
          .withColumn("c_acctbal", col("c_acctbal") + lit(k * 100000.0))
      }.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dst/customer.parquet")
      new java.io.File(s"$dst/_DONE_CUST").createNewFile()
    }
    if (new java.io.File(s"$dst/_DONE").exists()) return
    val docs = spark.read.parquet(s"$src/documents.parquet")
    (0 until Copies).map { k =>
      val d = docs.withColumn("doc_id", col("doc_id") + lit(k * Offset))
      if (k == 0) d
      else d.withColumn("text", array_join(
        transform(split(col("text"), " "), w => concat(lit(s"c$k"), w)), " "))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    (0 until Copies).map { k =>
      val e = emb.withColumn("vec_id", col("vec_id") + lit(k * Offset))
      if (k == 0) e
      else e.withColumn("embedding",
        concat(slice(col("embedding"), k + 1, 64 - k),
          slice(col("embedding"), 1, k)))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    new java.io.File(s"$dst/_DONE").createNewFile()
    ()
  }

  /** graph_triangles widened past its registry doc_id < 500 bound: the
    * same operator stack over the < 500 slice OF EVERY COPY (10 disjoint
    * isomorphic graphs at the synthetic scale, the original graph at
    * sf0.1). */
  private def trianglesProbe(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.ops.Dedup.minHashLshPairs(
      T.t(spark, dir, "documents").filter(col("doc_id") % Offset < 500),
      threshold = 0.5)
    graft.ops.Components.triangleCounts(pairs)
  }

  /** graph_kcore widened past its registry bound the same way as
    * [[trianglesProbe]]: the < 500 slice of every copy. */
  private def kcoreProbe(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.ops.Dedup.minHashLshPairs(
      T.t(spark, dir, "documents").filter(col("doc_id") % Offset < 500),
      threshold = 0.5)
    graft.ops.Components.kCore(pairs, k = 3, sweeps = 3)
  }

  /** dedup_ppjoin widened to the < 2000 slice of every copy: 10 disjoint
    * token universes (copy-prefixed words), so the df relation, prefix
    * buckets, and verified pairs all scale 10× with zero cross-copy
    * interaction — the prefix-filter join's weak-scaling instance. */
  private def ppjoinProbe(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.prefixFilterJaccardPairs(
      T.par(spark, T.t(spark, dir, "documents"))
        .filter(col("doc_id") % Offset < 2000),
      num = 9, den = 10)

  /** dedup_edit_passjoin widened to the < 2000 slice of every copy:
    * copy-prefixed words make cross-copy segments distinct, so the
    * segment relation, probe substrings, and verified pairs all scale
    * with the corpus and no cross-copy candidates exist — the PassJoin
    * equi-join's weak-scaling instance. */
  private def passjoinProbe(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.editPassJoinPairs(
      T.par(spark, T.t(spark, dir, "documents"))
        .filter(col("doc_id") % Offset < 2000),
      maxDist = 8)

  /** Bitext mining at its SCALE shape (unlike the registry fixture,
    * which strides centroids every-50th — linear cell growth is that
    * fixture's documented caveat): a FIXED-k shared index trained on
    * copy 0, both probe directions rendezvousing SHUFFLED on the cell
    * key (`broadcastQueries = false` — the corpus×corpus regime where
    * neither side broadcasts). Training is bounded by construction;
    * serve cost should scale with the corpus. */
  private def bitextProbe(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Similarity
    val emb = T.par(spark, T.t(spark, dir, "embeddings"))
    val cents = Similarity.trainIvfCentroidsMicro(
      emb.filter(col("vec_id") < 2000), k = 8, iters = 2)
    val src = emb.filter(col("vec_id") % 2 === 0)
    val tgt = emb.filter(col("vec_id") % 2 === 1)
    Similarity.bitextMarginPairs(
      Similarity.ivfTopKShuffledMicro(src, tgt, cents, k = 4, nProbe = 2),
      Similarity.ivfTopKShuffledMicro(tgt, src, cents, k = 4, nProbe = 2))
  }

  /** Incremental IVF maintenance at its scale shape: a FIXED index
    * trained on copy 0 (stride within the base corpus — cell count does
    * NOT grow with the extension), base state from copy 0, then ONE
    * extend absorbing every other copy (10× the base at the synthetic
    * scale). Cost should scale with the EXTENSION: map-only quantize +
    * assign against the broadcast index, one partial-combined aggregate
    * whose shuffle carries cells·dim longs per partition. */
  private def ivfIncrementalProbe(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Similarity
    val emb = T.par(spark, T.t(spark, dir, "embeddings"))
    val base = emb.filter(col("vec_id") < Offset)
    val ext = emb.filter(col("vec_id") >= Offset)
    val cents = Similarity.quantizeMicro(Similarity.ivfCentroids(base, 50))
    Similarity.extendIvfIndexState(
      Similarity.ivfIndexState(base, cents), ext, cents)
  }

  /** KNN-Shapley at its scale shape: the eval panel is FIXED to copy 0
    * (an eval set does not grow with the corpus) while the training
    * side absorbs every copy — cost should scale with train
    * (pairwise sims + the test-partitioned rank windows are all
    * O(train · |panel|)). */
  private def knnShapleyProbe(spark: SparkSession, dir: String): DataFrame = {
    val emb = T.par(spark, T.t(spark, dir, "embeddings"))
    graft.ops.Valuation.knnShapley(
      emb.filter(col("vec_id") % 25 =!= 0),
      emb.filter(col("vec_id") < Offset && col("vec_id") % 25 === 0), k = 5)
  }

  /** Truncated KNN-Shapley at its scale shape: the same fixed copy-0
    * eval panel as [[knnShapleyProbe]], a FIXED index trained on copy 0,
    * and the top-16 ANN candidate cut — cost should scale with the
    * TRAINING side's one assignment scan (the rank windows see only
    * |panel|·16 rows at every scale, vs the exact form's |panel|·train). */
  private def knnShapleyTruncProbe(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Similarity
    val emb = T.par(spark, T.t(spark, dir, "embeddings"))
    val cents = Similarity.quantizeMicro(
      Similarity.ivfCentroids(emb.filter(col("vec_id") < Offset), 50))
    graft.ops.Valuation.knnShapleyTruncated(
      emb.filter(col("vec_id") % 25 =!= 0),
      emb.filter(col("vec_id") < Offset && col("vec_id") % 25 === 0),
      k = 5, m = 16, cents)
  }

  /** TracIn at its scale shape: GD trains on the FULL (growing) train
    * split, but the eval panel is the fixed copy-0 slice — the registry
    * query's corpus-proportional panel would grow the pair relation
    * quadratically at the synthetic scale for fixture reasons, while
    * production panels are bounded eval sets (the knnShapleyTruncProbe
    * convention). Train-side margins/gradients and the |panel|-bounded
    * pair/dot joins all scale linearly. */
  private def tracinProbe(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("label", (col("lang") === "en").cast("int"))
    graft.ops.Valuation.tracinInfluence(
      docs.filter(col("doc_id") % 25 =!= 0),
      docs.filter(col("doc_id") < Offset && col("doc_id") % 25 === 0),
      dim = 64, iters = 3, lrNum = 1L, lrDen = 16L, topK = 3)
  }

  /** pHash dedup widened to the ≤ 300 slice of EVERY copy (the registry
    * query bounds doc_id ≤ 300): decode + DCT are map-only per image,
    * the hash groupBy carries 63 chars per row — pure linear. */
  private def phashProbe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val ids = T.t(spark, dir, "documents")
      .filter(col("doc_id") % Offset <= 300).select(col("doc_id")).as[Long]
    val media = ids.repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions(_.map(id =>
        (id, Multimodal.synthPng(id % 40, 32, 24), "image/png")))
      .toDF("doc_id", "media", "mime")
    val hashed = Multimodal.extractImagePHashes(spark, media).toDF()
    val cl = hashed.groupBy(col("phash"))
      .agg(min(col("doc_id")).as("cluster_id"))
    hashed.join(cl, Seq("phash"))
      .select(col("doc_id"), col("phash"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
  }

  /** graph_betweenness widened to the < 500 slice of every copy (10
    * disjoint isomorphic graphs, per-copy pivots) — the per-seed BFS +
    * backward sweep's weak-scaling instance. */
  private def betweennessProbe(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.t(spark, dir, "documents")
      .filter(col("doc_id") % Offset < 500)
    val pairs = graft.ops.Dedup.minHashLshPairs(docs, threshold = 0.5)
    val seeds = docs.filter((col("doc_id") % Offset) % 97 === 0)
      .select(col("doc_id").as("id"))
    graft.ops.Components.betweennessFromSeeds(pairs, seeds, maxHops = 3)
  }

  /** link_fellegi_sunter widened to the < 2000 slice of every copy:
    * per-copy acctbal shifts keep blocks copy-local, so candidates,
    * the parameter aggregate, and the scored relation all scale with
    * the corpus — the blocked-linkage weak-scaling instance. */
  private def linkageProbe(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.{Dedup, Linkage}
    val cust = T.t(spark, dir, "customer")
      .filter(col("c_custkey") % Offset < 2000)
    val h = Dedup.hashStr(col("c_custkey").cast("string"), 29)
    val dirty = cust.select(
      (col("c_custkey") + 100000).as("key_b"),
      when(h % 10 < 3, expr(
        "concat(substring(c_name, 1, length(c_name) - 1), " +
          "cast((cast(substring(c_name, length(c_name), 1) AS INT) + 1) % 10" +
          " AS STRING))")).otherwise(col("c_name")).as("name_b"),
      when(h % 7 === 0, (col("c_nationkey") + 1) % 25)
        .otherwise(col("c_nationkey")).as("nation_b"),
      when(h % 5 === 0, concat(lit("ALT-"), col("c_mktsegment")))
        .otherwise(col("c_mktsegment")).as("seg_b"),
      col("c_acctbal").as("__bal"))
    def block = expr(
      s"(${T.sql.cents("__bal")} + 100000) div 10000")
    val a = cust.select(col("c_custkey").as("key_a"),
      col("c_name").as("name_a"), col("c_nationkey").as("nation_a"),
      col("c_mktsegment").as("seg_a"), col("c_acctbal").as("__bal"))
      .withColumn("__blk", block).drop("__bal")
    val b = dirty.withColumn("__blk", block).drop("__bal")
    val cands = a.join(b, Seq("__blk"))
      .select(col("key_a"), col("key_b"),
        (col("name_a") === col("name_b")).as("name_agree"),
        (col("nation_a") === col("nation_b")).as("nation_agree"),
        (col("seg_a") === col("seg_b")).as("seg_agree"),
        (col("key_b") - 100000L === col("key_a")).as("is_match"))
    Linkage.fellegiSunterScores(cands,
      Seq("name_agree", "nation_agree", "seg_agree"), "is_match")
  }

  def main(args: Array[String]): Unit = {
    val sf01 = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val synthDir = s"/tmp/graft-synth-x$Copies"
    // Weak scaling sizes the shuffle width WITH the data, as a real
    // cluster would (1 partition per core at 10x, proportionally more
    // waves beyond): holding 32 partitions constant at 30-60x pushes
    // per-partition shuffle volumes past executor memory and the
    // resulting spill knee reads as a fake superlinear term (measured:
    // rag_chunk_retrieve x60 ratio 80.5 at 32 partitions, near-linear
    // once partitions scale). AQE still coalesces small stages.
    val spark = Bench.session("32", sys.env.getOrElse("SPARK_GRAFT_PARTS",
      math.max(32, 32 * Copies / 10).toString))
    synth(spark, sf01, synthDir)

    val probes: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "artifact_train_serve" -> SparkEntry.queries("artifact_train_serve"),
      "graph_triangles_x10" -> (trianglesProbe _),
      "sim_ivfpq_topk" -> SparkEntry.queries("sim_ivfpq_topk"),
      "text_lm_trigram" -> SparkEntry.queries("text_lm_trigram"),
      "sim_semantic_dedup" -> SparkEntry.queries("sim_semantic_dedup"),
      // round-9 additions: trained lang-ID (profiles train on copy 0,
      // scoring scales), the RAG composition (k-means trains on copy 0,
      // chunk embedding + retrieval scale), silhouette (same
      // bounded-train / corpus-serve split), DSIR (bucket counts scale),
      // and k-core over the per-copy graph like the triangles probe
      "text_ct_langid" -> SparkEntry.queries("text_ct_langid"),
      "rag_chunk_retrieve" -> SparkEntry.queries("rag_chunk_retrieve"),
      "emb_silhouette" -> SparkEntry.queries("emb_silhouette"),
      "curation_dsir_select" -> SparkEntry.queries("curation_dsir_select"),
      "graph_kcore_x10" -> (kcoreProbe _),
      // round-9 second batch: hybrid retrieval (both legs scan the
      // corpus; query catalogs stay fixed) and ExactSubstr runs (the
      // shingle count + semi-join + run windows all scale with corpus)
      "sim_rrf_hybrid" -> SparkEntry.queries("sim_rrf_hybrid"),
      "dedup_repeated_runs" -> SparkEntry.queries("dedup_repeated_runs"),
      // round-9 third batch: the prefix-filter similarity join over the
      // per-copy slice (disjoint token universes — candidates, df, and
      // verified pairs scale linearly, no cross-copy interaction)
      "dedup_ppjoin_x10" -> (ppjoinProbe _),
      // round-10: Kneser-Ney LM (all count relations scale with corpus
      // vocabulary; scoring joins scale with the exploded bigrams)
      "text_lm_kneser_ney" -> SparkEntry.queries("text_lm_kneser_ney"),
      // round-10 batch-8 heavy hitters: RAKE (stopword relation stays
      // nStop rows, phrase windows per doc, word scores vocabulary-
      // sized), CDC chunk dedup (chunk-key relation scales with corpus,
      // sharing agg stays key-wise), hard-negative mining (corpus
      // tokenize scales, query catalog fixed), C4 line dedup (sentence
      // hash relation scales, reassembly per doc)
      "text_rake_keywords" -> SparkEntry.queries("text_rake_keywords"),
      "dedup_cdc_chunks" -> SparkEntry.queries("dedup_cdc_chunks"),
      "mine_hard_negatives" -> SparkEntry.queries("mine_hard_negatives"),
      "dedup_line_c4" -> SparkEntry.queries("dedup_line_c4"),
      // round-11: bitext mining at its scale shape (fixed-k trained
      // shared index, shuffled cell rendezvous in both directions) and
      // the CCNet KN-score bucketing composition
      "bitext_shuffled_x" -> (bitextProbe _),
      "curation_ccnet_buckets" -> SparkEntry.queries("curation_ccnet_buckets"),
      "dedup_edit_passjoin_x" -> (passjoinProbe _),
      // round-11 SFT family: the conv_id-keyed window+aggregate (turn
      // stats) and the opening-keyed group+back-join (response dedup) —
      // copy offsets are multiples of turnsPerConv, so conversations stay
      // copy-local and both relations scale with the corpus
      "sft_turn_stats" -> SparkEntry.queries("sft_turn_stats"),
      "sft_response_dedup" -> SparkEntry.queries("sft_response_dedup"),
      // round-11 preference prep: the comparison lead-window scales with
      // the event log; every MM iteration touches only the fixed
      // |models|² game matrix
      "pref_bt_scores" -> SparkEntry.queries("pref_bt_scores"),
      // round-11 gazetteer: per-length n-gram explode scales with corpus
      // tokens; the dictionary join is broadcast (copy-prefixed words
      // stop cross-copy matches, copy 0 keeps the original hits)
      "text_gazetteer_spans" -> SparkEntry.queries("text_gazetteer_spans"),
      // round-12: incremental IVF maintenance — fixed copy-0 index,
      // base state from copy 0, one extend absorbing all other copies
      "sim_ivf_incremental_x" -> (ivfIncrementalProbe _),
      // round-12 batch 2: t-closeness (two combine aggs + a class ×
      // bounded-value-domain expansion — classes and domain are fixed,
      // rows scale), theta set-ops (one distinct-hash pass scales, the
      // pairing runs on k-row sketches), textrank (per-doc cliques are
      // copy-local by construction), KNN-Shapley and pHash at their
      // scale shapes (fixed eval panel / per-copy image slice)
      "privacy_t_closeness" -> SparkEntry.queries("privacy_t_closeness"),
      "sketch_theta_setops" -> SparkEntry.queries("sketch_theta_setops"),
      "text_textrank_sentences" -> SparkEntry.queries("text_textrank_sentences"),
      "value_knn_shapley_x" -> (knnShapleyProbe _),
      "mm_image_phash_x" -> (phashProbe _),
      // round-12 batch 3: betweenness over per-copy graphs/pivots and
      // blocked linkage with copy-local acctbal blocks
      "graph_betweenness_x" -> (betweennessProbe _),
      "link_fellegi_sunter_x" -> (linkageProbe _),
      // round-13: truncated KNN-Shapley (fixed panel + fixed index +
      // top-16 cut — only the assignment scan grows with the corpus)
      "value_knn_shapley_trunc_x" -> (knnShapleyTruncProbe _),
      // round-13: unigram tokenizer — the substring-count pass and the
      // per-chunk Viterbi serve scale with the corpus; the vocabulary
      // stays 512+alphabet-bounded at any scale
      "text_unigram_segment" -> SparkEntry.queries("text_unigram_segment"),
      // round-13 batch 2: exact-GD training dynamics (margin/gradient/
      // epoch scans scale with the corpus, the dim+1 weight vector is
      // fixed), DoReMi (token counts and the word-keyed join scale, the
      // domain relation stays |langs|-sized), WordPiece serve (bounded
      // vocab reference object, per-chunk greedy walk scales), and the
      // event ACF (the dense grid is time-bounded, so 10x the events
      // only widens the bucket-count combine-agg)
      "curation_forgetting" -> SparkEntry.queries("curation_forgetting"),
      "mix_doremi_weights" -> SparkEntry.queries("mix_doremi_weights"),
      "text_wordpiece_segment" -> SparkEntry.queries("text_wordpiece_segment"),
      "event_autocorr" -> SparkEntry.queries("event_autocorr"),
      // round-13 batch 3: TracIn with the fixed copy-0 eval panel (the
      // registry form's corpus-proportional panel is a fixture artifact;
      // production panels are bounded), data-diet scores and the
      // conformal gate at their registry shapes (epoch scans + per-doc
      // combine-aggs scale with the corpus; the conformal quantile's
      // triangular join runs on the micro-bounded distinct-score
      // relation at any scale)
      "value_tracin_x" -> (tracinProbe _),
      "curation_data_diet" -> SparkEntry.queries("curation_data_diet"),
      "quality_conformal" -> SparkEntry.queries("quality_conformal"),
      // round-16 (VERDICT r15 item 1): the ExactSubstr family, RM3, and
      // ABTT — the entries whose intermediate relation is corpus-
      // CHARACTER-sized (window hashes) or double-scan (PRF), i.e. the
      // one place a superlinear term could hide above the sf0.1
      // evidence. Registry forms run unmodified: the decon pair's
      // doc_id < 50 eval slice is copy-0-only on the synthetic corpus
      // (copy offsets are 10⁷), so the eval/benchmark side stays FIXED
      // while the train window relation grows with the corpus — the
      // production decon shape, and the regime where the bloom twin's
      // ratio should FALL vs the plain form (the saved train-window
      // exchange grows, the driver bloom build does not). Removal and
      // RM3 scale their corpus passes (window pipeline / two scoring
      // scans); ABTT serves the full table against fixed directions.
      "decon_exact_substring" -> SparkEntry.queries("decon_exact_substring"),
      "decon_exact_substring_bloom" ->
        SparkEntry.queries("decon_exact_substring_bloom"),
      "dedup_substring_removal" -> SparkEntry.queries("dedup_substring_removal"),
      "text_rm3_retrieve" -> SparkEntry.queries("text_rm3_retrieve"),
      "emb_abtt" -> SparkEntry.queries("emb_abtt"),
      // round-17 (VERDICT r16 item 7): dirichlet QL itself — its plan
      // carries ~33 real exchanges from DUPLICATED gated-token subtrees
      // (materializing them measured slower locally in r16); the 10×
      // row says whether runtime exchange reuse keeps firing as the
      // corpus grows, i.e. whether the duplication is a latent
      // superlinear term or just plan-text noise.
      "text_dirichlet_ql" -> SparkEntry.queries("text_dirichlet_ql"),
      // round-16 additions probed the round they land (not a round
      // later): the ledger decon (every copy's docs are train — the
      // two-snapshot ledger build scales, the copy-0 benchmark probe
      // stays fixed), trigram KN (count relations scale over the
      // copy-disjoint vocabularies), and token-window ExactSubstr
      // (the corpus-TOKEN-sized window relation, the n/5 form)
      "decon_substring_ledger" -> SparkEntry.queries("decon_substring_ledger"),
      "text_kn_lm_score" -> SparkEntry.queries("text_kn_lm_score"),
      "dedup_substring_tokens" -> SparkEntry.queries("dedup_substring_tokens"),
      // round-16 batch 2: token-window decon (train windows scale, the
      // copy-0 doc_id < 50 benchmark stays fixed — the production decon
      // shape), D4 (corpus assignment/pair relations scale against the
      // fixed copy-0-trained centroids), DataInf (GD margin/gradient
      // scans and the |train|×32 pair relation scale; the panel stays
      // 32 hash-lowest docs), source JSD + missing mass (ONE corpus
      // combine-agg each; everything downstream is source- or
      // vocabulary-bounded). dedup_minhash_bbit is NOT probed: its
      // doc_id < 500 slice is copy-0-only by construction, so nothing
      // in it scales with the synthetic corpus.
      "decon_substring_tokens" -> SparkEntry.queries("decon_substring_tokens"),
      "curation_d4_select" -> SparkEntry.queries("curation_d4_select"),
      "value_datainf_panel" -> SparkEntry.queries("value_datainf_panel"),
      "mix_source_jsd" -> SparkEntry.queries("mix_source_jsd"),
      "text_missing_mass" -> SparkEntry.queries("text_missing_mass"))

    // optional probe-name filter (comma-separated) for incremental runs
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    val selected = probes.filter { case (n, _) => only.isEmpty || only(n) }

    // best of 2 Bench.timed samples; NaN when both runs failed
    def best(fn: (SparkSession, String) => DataFrame, dir: String): Double = {
      val ss = (1 to 2).map(_ => Bench.timed(spark, fn, dir))
      ss.flatMap(_.error).foreach(e => System.err.println(s"[probe] failed: $e"))
      ss.filterNot(_.failed).map(_.seconds).minOption.getOrElse(Double.NaN)
    }
    println(s"| query | sf0.1 s | x$Copies-synth s | ratio (ideal $Copies) |")
    selected.foreach { case (name, fn) =>
      val a = best(fn, sf01)
      val b = best(fn, synthDir)
      println(f"| $name | $a%.2f | $b%.2f | ${b / a}%.1f |")
    }
    spark.stop()
  }
}
