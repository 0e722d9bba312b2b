package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.T
import graft.ops.{Chunking, Components, Curation, Dedup, Pca, QualityModel,
  Similarity, Sketches, TextAnalysis}
import CommonSql.{normSql, hashSql, marginCte}

/** Round-9 (second batch) training-data-pipeline operators: hybrid
  * lexical+dense retrieval fused by reciprocal rank (the production RAG
  * retriever shape, one shared corpus tokenize pass), trained diagonal
  * whitening, two-sample KS drift over the shared log-bin sketch,
  * curriculum interleave scheduling, epoch-aware mix planning, the
  * Gopher hard-rule gate with per-rule drop reasons, ExactSubstr-style
  * repeated-substring runs, Simpson lexical diversity, the
  * duplicate-cluster-size audit, sentence-aligned RAG chunking,
  * per-source AUC model-bias auditing, the JSONL interchange round
  * trip, code-vs-prose lane detection, the Unicode-script routing
  * profile, histogram-sketch mergeability, the end-to-end pretrain-prep
  * composition, video scene-cut detection + one-keyframe-per-scene
  * sampling over real decoded frames, PR operating-point selection,
  * per-key interval union, the bounded-staleness as-of gate, the
  * train/test split-leakage audit, and the bucketed-layout round trip
  * — with the same exactness contract as the sibling registries:
  * integer / DECIMAL(38,0) arithmetic only, so every query carries a
  * full DuckDB replay oracle. */
object LlmQueries5 {

  /** Hybrid retrieval: the BM25 lexical leg and the sparse dense-hash
    * cosine leg run over the same 4-query catalog
    * ([[LlmQueries3.Bm25Queries]]), top-10 each, fused by exact
    * integer reciprocal-rank fusion ([[Similarity.rrfFuse]], k₀=60) —
    * the calibration-free merge a production RAG retriever ships. */
  def simRrfHybrid(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = T.par(spark, T.t(spark, dir, "documents"))
    val qs = LlmQueries3.Bm25Queries.toDF("query_id", "terms")
    val qtext = LlmQueries3.Bm25Queries
      .map { case (q, ts) => (q, ts.mkString(" ")) }
      .toDF("query_id", "qtext")
    // ONE corpus tokenize pass shared by both legs (at 100 TB the
    // normalize+split scan is the dominant cost; both legs read this
    // checkpointed relation instead of re-deriving it)
    val words = docs
      .select(col("doc_id").as("id"),
        explode(split(graft.ops.Dedup.normalize(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
      // EAGER on purpose (r16 measured): with a lazy checkpoint the two
      // retrieval legs race to materialize the token blocks
      // concurrently inside the one job and both recompute the scan
      // (4.3 s vs 2.8 s at sf0.1); the eager job guarantees
      // compute-once before either leg reads
      .localCheckpoint()
    val lex = TextAnalysis.bm25MultiQuery(docs, qs, k = 10,
        wordsOpt = Some(words))
      .select(col("query_id"), col("doc_id"), col("rk").as("rank"))
    val dense = TextAnalysis.hashCosineTopK(docs, qtext, k = 10,
        wordsOpt = Some(words))
      .select(col("query_id"), col("doc_id"), col("rank"))
    Similarity.rrfFuse(Seq(lex, dense), k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Diagonal whitening: per-dimension mean/scale trained on the bounded
    * vec_id<2000 slice (exact integer stats + isqrt), served as a pure
    * map over the vec_id<300 slice as sparse (id, idx, z_micro) rows
    * ([[Pca.whitenStats]] / [[Pca.whitenMicro]]) — the first-order
    * anisotropy fix applied before ANN indexing. */
  def embWhiten(spark: SparkSession, dir: String): DataFrame = {
    val emb = T.par(spark, T.t(spark, dir, "embeddings"))
    val (n, s1, sd) = Pca.whitenStats(emb.filter(col("vec_id") < 2000))
    Pca.whitenMicro(emb.filter(col("vec_id") < 300), n, s1, sd)
      .orderBy(col("vec_id"), col("idx"))
  }

  /** Two-sample KS drift of the document-length distribution between the
    * 'en' and 'zh' slices over the shared log-bin sketch
    * ([[Sketches.ksDrift]]) — the numeric-shift companion to
    * `text_drift_chisq`. */
  def qualityKsDrift(spark: SparkSession, dir: String): DataFrame =
    Sketches.ksDrift(T.par(spark, T.t(spark, dir, "documents")),
      "lang", "n_chars", "en", "zh")

  /** Curriculum schedule: per-source difficulty deciles by n_chars,
    * round-robin interleaved training order
    * ([[Curation.curriculumInterleave]]). */
  def sampleCurriculum(spark: SparkSession, dir: String): DataFrame =
    Curation.curriculumInterleave(
        T.par(spark, T.t(spark, dir, "documents"))
          .select(col("doc_id"), col("source"), col("n_chars")),
        "source", "n_chars", "doc_id")
      .orderBy(col("source"), col("sched_rank"), col("doc_id"))

  /** Epoch-aware mix plan: 20k-token-per-source target over n_chars,
    * full-epoch counts + named fractional-epoch membership
    * ([[Curation.planMixEpochs]]). */
  def mixEpochPlan(spark: SparkSession, dir: String): DataFrame =
    Curation.planMixEpochs(T.par(spark, T.t(spark, dir, "documents")),
        "source", targetTokens = 20000L, tokensCol = "n_chars")
      .orderBy(col("source"))

  /** Gopher-style hard-rule gate with per-rule drop reasons
    * ([[TextAnalysis.gopherGate]], minWords=30 for the synthetic
    * corpus's length profile). */
  def qualityGopherGate(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherGate(T.par(spark, T.t(spark, dir, "documents")),
        minWords = 30)
      .orderBy(col("doc_id"))

  /** Position-resolved repeated substrings (ExactSubstr shape): maximal
    * runs of 4-word shingles occurring ≥2 times anywhere in the corpus
    * ([[Dedup.repeatedSubstringRuns]], w=4 for the synthetic corpus's
    * short near-dup spans). */
  def dedupRepeatedRuns(spark: SparkSession, dir: String): DataFrame =
    Dedup.repeatedSubstringRuns(
        T.par(spark, T.t(spark, dir, "documents")), w = 4)
      .orderBy(col("doc_id"), col("start_word"))

  /** Simpson lexical concentration/diversity per doc
    * ([[TextAnalysis.simpsonDiversity]]) — the integer-exact entropy
    * surrogate for gibberish/loop gating. */
  def textSimpsonDiversity(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.simpsonDiversity(
        T.par(spark, T.t(spark, dir, "documents")))
      .orderBy(col("doc_id"))

  /** Duplicate-cluster-size audit: the distribution a dedup run is judged
    * by (how much of the corpus sits in how-big clusters). Same near-dup
    * CC chain as `dedup_cc_clusters`; sizes histogrammed, singletons
    * (docs in no pair) reported as the cluster_size = 1 row via the
    * total-count difference — CC never emits them. */
  def dedupClusterSizes(spark: SparkSession, dir: String): DataFrame = {
    val emb = T.par(spark, T.t(spark, dir, "embeddings"))
    val cc = Components.connectedComponents(
      Similarity.nearDupPairs(emb, threshold = 0.4), "id_a", "id_b")
      .localCheckpoint(false) // feeds the size histogram AND the clustered count
    val hist = cc.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", expr("cluster_size * n_clusters"))
    val singletons = emb.agg(count(lit(1)).as("__t"))
      .crossJoin(broadcast(cc.agg(count(lit(1)).as("__c"))))
      .select(lit(1L).as("cluster_size"),
        (col("__t") - col("__c")).as("n_clusters"),
        (col("__t") - col("__c")).as("n_docs"))
    hist.unionByName(singletons).orderBy(col("cluster_size"))
  }

  /** Sentence-aligned RAG chunking: 40-word chunks that never cut a
    * sentence ([[Chunking.sentenceChunks]]). */
  def ragSentenceChunks(spark: SparkSession, dir: String): DataFrame =
    Chunking.sentenceChunks(T.par(spark, T.t(spark, dir, "documents")),
        budgetWords = 40)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Per-source classifier audit: integer-weight margin scored against
    * the lang='en' label, AUC per source ([[QualityModel.aucByGroup]])
    * — the "is the filter biased against a source" readout. */
  def qualityAucBySource(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.par(spark, T.t(spark, dir, "documents"))
    val scored = QualityModel.integerWeightScore(docs)
      .join(docs.select(col("doc_id"), col("source"),
        (col("lang") === "en").cast("int").as("label")), Seq("doc_id"))
    QualityModel.aucByGroup(scored, "source", "margin", "label")
      .orderBy(col("source"))
  }

  /** JSONL interchange round trip, gated end-to-end: the documents table
    * exported as sharded JSONL ([[graft.sources.Jsonl.write]]), read
    * back with explicit schema + quarantine ([[Jsonl.read]]), fingerprint
    * compared against the original by the oracle. */
  def sourceJsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.t(spark, dir, "documents")
    val path = "/tmp/graft-jsonl-" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    graft.sources.Jsonl.write(docs, path, shards = 4)
    val (clean, _) = graft.sources.Jsonl.read(spark, path, docs.schema)
    clean.select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        md5(col("text")).as("text_md5"))
      .orderBy(col("doc_id"))
  }

  /** Code-vs-prose lane assignment ([[TextAnalysis.codeDetect]]):
    * integer symbol/keyword/identifier pressure per word. */
  def textCodeDetect(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.codeDetect(T.par(spark, T.t(spark, dir, "documents")))
      .orderBy(col("doc_id"))

  /** End-to-end pretrain-prep composition, summarized per source: Gopher
    * gate → exact dedup (min-id survivor) → epoch-aware mix plan — the
    * whole prep in one gated query, with the attrition at each stage
    * (docs_in → docs_gated → docs_deduped) and the final token plan.
    * Sources losing every document survive as zero rows via the
    * input-count spine. */
  def pipelinePretrainPrep(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.par(spark, T.t(spark, dir, "documents"))
      .localCheckpoint(false) // spine + gate + dedup all read it
    val gated = docs.join(
      TextAnalysis.gopherGate(docs, minWords = 30)
        .filter(col("keep") === 1).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
      .localCheckpoint(false) // feeds the gated count AND the dedup
    val deduped = Dedup.dropExactDuplicates(gated)
      .localCheckpoint(false) // feeds the dedup count AND the mix plan
    val spine = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("docs_in"))
    val gc = gated.groupBy(col("source")).agg(count(lit(1)).as("docs_gated"))
    val dc = deduped.groupBy(col("source"))
      .agg(count(lit(1)).as("docs_deduped"))
    val mix = Curation.planMixEpochs(deduped, "source",
      targetTokens = 20000L, tokensCol = "n_chars")
      .drop("n_docs")
    spine
      .join(gc, Seq("source"), "left")
      .join(dc, Seq("source"), "left")
      .join(mix, Seq("source"), "left")
      .select(col("source"), col("docs_in"),
        coalesce(col("docs_gated"), lit(0L)).as("docs_gated"),
        coalesce(col("docs_deduped"), lit(0L)).as("docs_deduped"),
        coalesce(col("n_tokens_tot"), lit(0L)).as("n_tokens_tot"),
        coalesce(col("full_epochs"), lit(0L)).as("full_epochs"),
        coalesce(col("frac_micro"), lit(0L)).as("frac_micro"),
        coalesce(col("partial_tokens"), lit(0L)).as("partial_tokens"),
        coalesce(col("planned_tokens"), lit(0L)).as("planned_tokens"))
      .orderBy(col("source"))
  }

  /** Unicode-script routing profile ([[TextAnalysis.scriptProfile]]) —
    * per-doc script character counts + dominant script. */
  def textScriptProfile(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.scriptProfile(T.par(spark, T.t(spark, dir, "documents")))
      .orderBy(col("doc_id"))

  /** Histogram-sketch mergeability, gated end-to-end: the event-value
    * histogram built as merge(hist(first half), hist(second half)) —
    * two independent sketch jobs summed bin-wise, the distributed /
    * incremental path — must equal the one-pass histogram the oracle
    * computes directly. */
  def sketchHistMerge(spark: SparkSession, dir: String): DataFrame = {
    val ev = T.events(spark, dir)
    def hist(part: DataFrame) = Sketches.histRegisters(
      part.select(col("event_type"), col("value")), Seq("event_type"), "value")
    val merged = hist(ev.filter(col("event_id") % 2 === 0))
      .unionByName(hist(ev.filter(col("event_id") % 2 === 1)))
      .groupBy(col("event_type"), col("bin"))
      .agg(sum(col("cnt")).as("cnt"))
    merged.orderBy(col("event_type"), col("bin"))
  }

  /** Video scene-cut detection over REAL decoded frames: 5 synthetic
    * videos × 10 gradient-PNG frames (lossless round trip, scenes of 4
    * frames ⇒ cuts at frames 4 and 8), per-frame 8×8 block-luma
    * signatures, per-video lag diff at a 20k-milli threshold
    * ([[graft.multimodal.Multimodal.extractFrameSignatures]] /
    * [[Multimodal.sceneCuts]]). */
  def mmVideoSceneCuts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val frames = spark.range(50)
      .selectExpr("id div 10 AS video_id", "CAST(id % 10 AS INT) AS frame_idx")
      .as[(Long, Int)]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions(_.map { case (v, f) =>
        (v, f, Multimodal.synthPngLinear((f / 4) * 80L + (f % 4) * 2L, 32, 24))
      })
      .toDF("video_id", "frame_idx", "media")
    Multimodal.sceneCuts(
        Multimodal.extractFrameSignatures(spark, frames),
        thresholdMilli = 20000L)
      .orderBy(col("video_id"), col("frame_idx"))
  }

  /** One keyframe per detected scene over the same synthetic videos
    * ([[Multimodal.sceneKeyframes]] over [[mmVideoSceneCuts]]'s cut
    * relation) — the video-sampling contract (scenes, not every Nth
    * frame, are the diversity unit). */
  def mmSceneKeyframes(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.sceneKeyframes(mmVideoSceneCuts(spark, dir))
      .orderBy(col("video_id"), col("scene_id"))

  /** Operating-point selection: highest-recall threshold meeting 60%
    * precision on the integer-weight margin vs the lang='en' label
    * ([[QualityModel.selectThreshold]]) — the decision step after the
    * `quality_pr_curve` sweep. */
  def qualityThresholdSelect(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.t(spark, dir, "documents")
    val scored = QualityModel
      .integerWeightScore(T.par(spark, docs), dim = 256)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .withColumn("label", (col("lang") === "en").cast("int"))
    QualityModel.selectThreshold(scored, "margin", "label",
      minPrecisionMicro = 600000L)
  }

  /** Interval union: per-user 30-minute activity windows around click
    * events merged into maximal disjoint spans
    * ([[graft.ops.Intervals.mergeOverlaps]]). */
  def intervalMergeActivity(spark: SparkSession, dir: String): DataFrame = {
    val iv = graft.T.events(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").cast("long").as("start_sec"),
        (col("ts").cast("long") + 1800L).as("end_sec"))
    graft.ops.Intervals.mergeOverlaps(iv, "user_id", "start_sec", "end_sec")
      .orderBy(col("user_id"), col("start_sec"))
  }

  /** Bounded-staleness as-of: each purchase matched to the user's latest
    * click at most 1 hour old; older matches null out
    * ([[graft.ops.AsOf.backward]] with toleranceSeconds). */
  def asofToleranceClick(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.T.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("value"))
    graft.ops.AsOf.backward(purchases, clicks, key = "user_id", ts = "ts",
        rightCols = Seq("value"), toleranceSeconds = Some(3600L))
      .select(col("event_id"), col("user_id"),
        col("asof_ts").as("click_ts"), col("asof_value").as("click_value"))
      .orderBy(col("event_id"))
  }

  /** Split-leakage audit: near-dup pairs (the `dedup_minhash_lsh` chain,
    * doc_id<500 slice) whose members landed in DIFFERENT train/val/test
    * splits — the classic silent eval-inflation bug (a test doc whose
    * near-duplicate sits in train). Per ordered split pair: leaked pair
    * count and distinct docs involved. */
  def splitLeakageCheck(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.par(spark, T.t(spark, dir, "documents"))
      .filter(col("doc_id") < 500)
    val splits = docs.select(col("doc_id"),
      Curation.assignSplit(col("doc_id"), LlmQueries.SplitWeights)
        .as("split"))
      .localCheckpoint(false) // joined against both pair endpoints
    val pairs = SharedRels.nearDupPairs500(spark, dir)
      .join(splits.select(col("doc_id").as("id_a"),
        col("split").as("__sa")), Seq("id_a"))
      .join(splits.select(col("doc_id").as("id_b"),
        col("split").as("__sb")), Seq("id_b"))
      .filter(col("__sa") =!= col("__sb"))
      .select(least(col("__sa"), col("__sb")).as("split_lo"),
        greatest(col("__sa"), col("__sb")).as("split_hi"),
        col("id_a"), col("id_b"))
      .localCheckpoint(false) // feeds the pair count AND the doc explode
    val nPairs = pairs.groupBy(col("split_lo"), col("split_hi"))
      .agg(count(lit(1)).as("n_pairs"))
    val nDocs = pairs
      .select(col("split_lo"), col("split_hi"),
        explode(array(col("id_a"), col("id_b"))).as("doc"))
      .distinct()
      .groupBy(col("split_lo"), col("split_hi"))
      .agg(count(lit(1)).as("n_docs"))
    nPairs.join(nDocs, Seq("split_lo", "split_hi"))
      .orderBy(col("split_lo"), col("split_hi"))
  }

  /** Bucketed-layout round trip, gated end-to-end: customer and orders
    * written as co-bucketed sorted tables ([[graft.sources.Layout
    * .writeBucketed]], 8 buckets on the join key), joined THROUGH the
    * bucketed tables (zero-exchange per LayoutSpec), aggregated per
    * nation in exact cents — equality with the oracle's plain join says
    * the layout changed the plan, not the data. */
  def layoutBucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    // idempotence across sessions: DROP clears the catalog entry, the
    // explicit delete clears a stale warehouse directory a FRESH session
    // no longer knows about (saveAsTable refuses to overwrite it)
    def reset(table: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      val wh = java.nio.file.Paths.get(
        new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
      val loc = wh.resolve(table.toLowerCase)
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    reset(s"graft_bkt_customer_$tag")
    reset(s"graft_bkt_orders_$tag")
    graft.sources.Layout.writeBucketed(T.t(spark, dir, "customer"),
      s"graft_bkt_customer_$tag", Seq("c_custkey"), 8, Seq("c_custkey"))
    graft.sources.Layout.writeBucketed(T.t(spark, dir, "orders"),
      s"graft_bkt_orders_$tag", Seq("o_custkey"), 8, Seq("o_custkey"))
    val c = spark.table(s"graft_bkt_customer_$tag")
    val o = spark.table(s"graft_bkt_orders_$tag")
    c.join(o, col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_orders"),
        T.moneySum(col("o_totalprice")).as("total_price"))
      .orderBy(col("c_nationkey"))
  }

  /** Green-list watermark detection over word bigrams
    * ([[TextAnalysis.watermarkDetect]], z = 4.0) — the synthetic-text
    * gate for crawls containing generated text. */
  def textWatermarkDetect(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.watermarkDetect(T.par(spark, T.t(spark, dir, "documents")))
      .orderBy(col("doc_id"))

  /** Diagonal-Mahalanobis embedding outliers from the emb_whiten stats
    * (train vec_id<2000, serve corpus-wide;
    * [[Pca.whitenOutliers]], τ = 2). */
  def embWhitenOutliers(spark: SparkSession, dir: String): DataFrame = {
    val emb = T.par(spark, T.t(spark, dir, "embeddings"))
    val (n, s1, sd) = Pca.whitenStats(emb.filter(col("vec_id") < 2000))
    Pca.whitenOutliers(emb, n, s1, sd).orderBy(col("vec_id"))
  }

  /** WAU / trailing-4-week MAU stickiness from mergeable weekly HLL
    * ledgers over event users ([[Sketches.rollingHllStickiness]]). */
  def sketchWauMau(spark: SparkSession, dir: String): DataFrame =
    Sketches.rollingHllStickiness(T.events(spark, dir), "ts", "user_id")
      .orderBy(col("week"))

  /** Packing-efficiency roll-up over the `sample_pack_bins` layout:
    * per shard, bins opened (straddling tails included), token
    * utilization vs bin capacity — the padding-waste readout that sizes
    * a training run's step count. */
  def packEfficiency(spark: SparkSession, dir: String): DataFrame = {
    val packed = Curation.packSequences(
      T.par(spark, T.t(spark, dir, "documents"))
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens")),
      maxTokens = 512, nShards = 8)
    packed.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        (max(col("bin_id") +
          expr("(bin_offset + greatest(n_tokens, 1) - 1) div 512")) + 1)
          .as("n_bins"),
        sum(col("n_tokens")).as("total_tokens"))
      .withColumn("capacity_tokens", expr("n_bins * 512"))
      .withColumn("util_micro", expr(
        "(1000000 * total_tokens) div greatest(capacity_tokens, 1)"))
      .orderBy(col("shard"))
  }

  // Shared VALUES list for the query catalog (kept adjacent to the
  // Spark-side constant it mirrors).
  private val qtValues = LlmQueries3.Bm25Queries
    .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }.mkString(", ")

  def all: Seq[Query] = Seq(
    // sample_pack_bins' cumsum chain + the per-shard roll-up; a doc's
    // last touched bin is (start + tokens - 1) div 512.
    Query("pack_efficiency", packEfficiency,
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER)
        |      AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |s AS (SELECT doc_id, n_tokens, h,
        |    CAST(CAST('0x' || substring(h, 1, 2) AS BIGINT) % 8 AS INTEGER)
        |      AS shard
        |  FROM t),
        |c AS (SELECT doc_id, shard, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens,
        |      0) AS strt
        |  FROM s),
        |r AS (SELECT shard, count(*) AS n_docs,
        |    CAST(max((strt // 512) +
        |      ((strt % 512 + greatest(n_tokens, 1) - 1) // 512)) + 1
        |      AS BIGINT) AS n_bins,
        |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |  FROM c GROUP BY shard)
        |SELECT shard, n_docs, n_bins,
        |  total_tokens,
        |  CAST(n_bins * 512 AS BIGINT) AS capacity_tokens,
        |  CAST((1000000 * total_tokens) // greatest(n_bins * 512, 1)
        |    AS BIGINT) AS util_micro
        |FROM r ORDER BY shard""".stripMargin),
    // Weekly HLL ledger + trailing-window register merge, all the same
    // md5/integer arithmetic as Sketches.hllCardinalitySql.
    Query("sketch_wau_mau", sketchWauMau, {
      val b = Sketches.HllB; val m = 1 << b
      val wDiv = 1L << (60 - b); val rankMax = 60 - b + 1
      val alphaNum = BigInt(7213) * m
      val alphaDen = BigInt(10) * (BigInt(1000) * m + 1079)
      val numerator =
        BigInt(10).pow(6) * alphaNum * m * m * (BigInt(1) << rankMax)
      val zsExpr =
        s"sum(CAST((CAST(1 AS BIGINT) << ($rankMax - max_rank)) AS HUGEINT))" +
          s" + ($m - count(*)) * CAST((CAST(1 AS BIGINT) << $rankMax) AS HUGEINT)"
      s"""WITH hsrc AS (SELECT
         |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 604800
         |      AS wk,
         |    CAST('0x' || substring(md5('77|' || CAST(user_id AS VARCHAR)),
         |      1, 15) AS BIGINT) AS h
         |  FROM events WHERE user_id IS NOT NULL),
         |regs AS (SELECT wk, h // $wDiv AS bucket,
         |    max(CASE WHEN h % $wDiv = 0 THEN $rankMax
         |        ELSE $rankMax - length(bin(h % $wDiv)) END) AS max_rank
         |  FROM hsrc GROUP BY 1, 2),
         |wz AS (SELECT wk, $zsExpr AS zs FROM regs GROUP BY 1),
         |wau AS (SELECT wk AS week,
         |    CAST($numerator // ($alphaDen * zs) AS BIGINT) AS wau_micro
         |  FROM wz),
         |wks AS (SELECT DISTINCT wk AS wt FROM regs),
         |mregs AS (SELECT w.wt, r.bucket, max(r.max_rank) AS max_rank
         |  FROM wks w JOIN regs r ON r.wk <= w.wt AND r.wk > w.wt - 4
         |  GROUP BY 1, 2),
         |mz AS (SELECT wt, $zsExpr AS zs FROM mregs GROUP BY 1),
         |mau AS (SELECT wt AS week,
         |    CAST($numerator // ($alphaDen * zs) AS BIGINT) AS mau_micro
         |  FROM mz)
         |SELECT wau.week, wau.wau_micro, mau.mau_micro,
         |  CAST((CAST(1000000 AS HUGEINT) * wau.wau_micro) //
         |    greatest(mau.mau_micro, 1) AS BIGINT) AS stickiness_micro
         |FROM wau JOIN mau USING (week)
         |ORDER BY week""".stripMargin
    }),
    Query("text_watermark_detect", textWatermarkDetect,
      s"""WITH w AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS ws
         |           FROM documents),
         |bg AS (SELECT doc_id,
         |    ws[CAST(r.i + 1 AS INTEGER)] || ' ' ||
         |      ws[CAST(r.i + 2 AS INTEGER)] AS b
         |  FROM w CROSS JOIN LATERAL
         |    (SELECT unnest(generate_series(0, len(ws) - 2)) AS i) r
         |  WHERE len(ws) >= 2),
         |per AS (SELECT doc_id, count(*) AS n,
         |    CAST(sum(CASE WHEN ${hashSql(71, "b")} % 2 = 0
         |      THEN 1 ELSE 0 END) AS BIGINT) AS g
         |  FROM bg GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(per.n, 0) AS BIGINT) AS n_bigrams,
         |  CAST(coalesce(per.g, 0) AS BIGINT) AS n_green,
         |  CAST(coalesce((1000 * per.g) // greatest(per.n, 1), 0)
         |    AS BIGINT) AS green_milli,
         |  CAST(coalesce(CASE WHEN 2 * per.g - per.n > 0
         |      AND 100 * (2 * per.g - per.n) * (2 * per.g - per.n)
         |        >= 1600 * per.n
         |    THEN 1 ELSE 0 END, 0) AS BIGINT) AS is_watermarked
         |FROM documents d LEFT JOIN per USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),
    // emb_whiten's stats chain served corpus-wide, rolled up to the
    // per-vector mean squared whitened coordinate.
    Query("emb_whiten_outliers", embWhitenOutliers,
      s"""WITH xm AS (SELECT vec_id, CAST(r.range AS INTEGER) AS idx,
         |    CAST(floor(CAST(embedding[CAST(r.range + 1 AS INTEGER)] AS DOUBLE)
         |      * 1000) AS BIGINT) AS x
         |  FROM embeddings CROSS JOIN range(64) r),
         |st AS (SELECT idx, count(*) AS n, CAST(sum(x) AS BIGINT) AS s1,
         |         CAST(sum(x * x) AS BIGINT) AS s2
         |       FROM xm WHERE vec_id < 2000 GROUP BY idx),
         |sd0 AS (SELECT idx, n, s1, n * s2 - s1 * s1 AS v,
         |          CAST(floor(sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)))
         |            AS BIGINT) AS s
         |        FROM st),
         |sdx AS (SELECT idx, n, s1,
         |          greatest(s - CASE WHEN s * s > v THEN 1 ELSE 0 END
         |            + CASE WHEN (s + 1) * (s + 1) <= v THEN 1 ELSE 0 END,
         |            1) AS sd
         |        FROM sd0),
         |z AS (SELECT x.vec_id,
         |    CAST(CASE WHEN sdx.n * x.x - sdx.s1 < 0
         |      THEN -((1000000 * -(sdx.n * x.x - sdx.s1)) // sdx.sd)
         |      ELSE (1000000 * (sdx.n * x.x - sdx.s1)) // sdx.sd
         |    END AS BIGINT) AS z
         |  FROM xm x JOIN sdx USING (idx)),
         |m AS (SELECT vec_id, CAST(sum(z * z) // 64 AS BIGINT) AS m2_microsq
         |  FROM z GROUP BY vec_id)
         |SELECT vec_id, m2_microsq,
         |  CAST(CASE WHEN m2_microsq >
         |      2 * CAST(1000000 AS BIGINT) * 1000000
         |    THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
         |FROM m ORDER BY vec_id""".stripMargin),
    // A plain join over the ORIGINAL parquet — layout must not change
    // results, only plans.
    Query("layout_bucketed_join", layoutBucketedJoin,
      s"""SELECT c_nationkey, count(*) AS n_orders,
         |  ${T.sql.moneySum("o_totalprice")} AS total_price
         |FROM customer JOIN orders ON c_custkey = o_custkey
         |GROUP BY c_nationkey
         |ORDER BY c_nationkey""".stripMargin),
    // The dedup_minhash_lsh chain + the split CASE + cross-split
    // filtering and the two roll-ups.
    Query("split_leakage_check", splitLeakageCheck,
      s"""WITH ${LlmQueries.gramsCteFor("grams", "doc_id < 500")},
         |sig AS (
         |  SELECT id,
         |    ${(0 until 8).map(i => s"min(${hashSql(i, "gram")}) AS h$i")
              .mkString(",\n    ")}
         |  FROM grams GROUP BY id
         |),
         |bands AS (
         |  SELECT id, r.range AS band,
         |    CASE r.range
         |      WHEN 0 THEN h0 || ',' || h1
         |      WHEN 1 THEN h2 || ',' || h3
         |      WHEN 2 THEN h4 || ',' || h5
         |      ELSE h6 || ',' || h7 END AS band_key
         |  FROM sig CROSS JOIN range(4) r
         |),
         |cand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id
         |),
         |sizes AS (SELECT id, count(*) AS sz FROM grams GROUP BY id),
         |inter AS (
         |  SELECT c.id_a, c.id_b, count(*) AS i
         |  FROM cand c
         |  JOIN grams ga ON ga.id = c.id_a
         |  JOIN grams gb ON gb.id = c.id_b AND gb.gram = ga.gram
         |  GROUP BY c.id_a, c.id_b
         |),
         |dup AS (
         |  SELECT i.id_a, i.id_b
         |  FROM inter i
         |  JOIN sizes sa ON sa.id = i.id_a
         |  JOIN sizes sb ON sb.id = i.id_b
         |  WHERE i.i / (sa.sz + sb.sz - i.i) >= 0.5
         |),
         |spl AS (SELECT doc_id, ${LlmQueries.splitCaseSql} AS split
         |  FROM documents WHERE doc_id < 500),
         |leak AS (
         |  SELECT least(a.split, b.split) AS split_lo,
         |    greatest(a.split, b.split) AS split_hi, d.id_a, d.id_b
         |  FROM dup d
         |  JOIN spl a ON a.doc_id = d.id_a
         |  JOIN spl b ON b.doc_id = d.id_b
         |  WHERE a.split <> b.split
         |),
         |np AS (SELECT split_lo, split_hi, count(*) AS n_pairs
         |  FROM leak GROUP BY 1, 2),
         |nd AS (SELECT split_lo, split_hi, count(*) AS n_docs FROM (
         |    SELECT DISTINCT split_lo, split_hi, doc FROM (
         |      SELECT split_lo, split_hi, id_a AS doc FROM leak
         |      UNION ALL
         |      SELECT split_lo, split_hi, id_b FROM leak))
         |  GROUP BY 1, 2)
         |SELECT split_lo, split_hi, np.n_pairs, nd.n_docs
         |FROM np JOIN nd USING (split_lo, split_hi)
         |ORDER BY split_lo, split_hi""".stripMargin),
    // Island detection with the same running-max/running-count windows.
    Query("interval_merge_activity", intervalMergeActivity,
      s"""WITH iv AS (SELECT user_id,
         |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS s,
         |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) + 1800 AS e
         |  FROM events WHERE event_type = 'click'),
         |mx AS (SELECT user_id, s, e,
         |    max(e) OVER (PARTITION BY user_id ORDER BY s, e
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
         |  FROM iv),
         |fl AS (SELECT user_id, s, e,
         |    CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END AS nw
         |  FROM mx),
         |isl AS (SELECT user_id, s, e,
         |    CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY s, e
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS island
         |  FROM fl)
         |SELECT user_id, CAST(min(s) AS BIGINT) AS start_sec,
         |  CAST(max(e) AS BIGINT) AS end_sec, count(*) AS n_intervals
         |FROM isl GROUP BY user_id, island
         |ORDER BY user_id, start_sec""".stripMargin),
    // DuckDB ASOF + tolerance as a post-filter: backward as-of picks the
    // LATEST match <= ts, so nulling the stale one is exactly bounded
    // staleness (no older candidate could qualify either).
    Query("asof_tolerance_click", asofToleranceClick,
      """SELECT p.event_id, p.user_id,
        |  CASE WHEN c.ts >= p.ts - INTERVAL 1 HOUR THEN c.ts END
        |    AS click_ts,
        |  CASE WHEN c.ts >= p.ts - INTERVAL 1 HOUR THEN c.value END
        |    AS click_value
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |      FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN
        |     (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |      FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin),
    // The PR sweep (quality_pr_curve's chain) + the operating-point
    // pick: qualifying rows rank by recall, the fallback by precision.
    Query("quality_threshold_select", qualityThresholdSelect,
      s"""WITH ${marginCte},
         |lab AS (SELECT s.doc_id, s.margin,
         |          CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS label
         |        FROM s JOIN documents d USING (doc_id)),
         |per AS (SELECT margin AS threshold, count(*) AS n,
         |          CAST(sum(label) AS BIGINT) AS pos
         |        FROM lab GROUP BY margin),
         |tot AS (SELECT CAST(coalesce(sum(pos), 0) AS BIGINT) AS p FROM per),
         |cum AS (SELECT a.threshold, CAST(sum(b.n) AS BIGINT) AS np,
         |          CAST(sum(b.pos) AS BIGINT) AS tp
         |        FROM per a JOIN per b ON b.threshold >= a.threshold
         |        GROUP BY a.threshold),
         |pr AS (SELECT threshold, tp, np - tp AS fp,
         |    (SELECT p FROM tot) - tp AS fn,
         |    CAST(tp * 1000000 // np AS BIGINT) AS precision_micro,
         |    CAST(CASE WHEN (SELECT p FROM tot) = 0 THEN 0
         |      ELSE tp * 1000000 // (SELECT p FROM tot) END AS BIGINT)
         |      AS recall_micro
         |  FROM cum)
         |SELECT threshold, tp, fp, fn, precision_micro, recall_micro,
         |  CAST(CASE WHEN precision_micro >= 600000 THEN 1 ELSE 0 END
         |    AS BIGINT) AS qualifies
         |FROM pr
         |ORDER BY qualifies DESC,
         |  CASE WHEN precision_micro >= 600000 THEN recall_micro
         |    ELSE precision_micro END DESC,
         |  precision_micro DESC, threshold ASC
         |LIMIT 1""".stripMargin),
    // The scene-cut replay + inclusive running cut count + per-scene
    // roll-up.
    Query("mm_scene_keyframes", mmSceneKeyframes,
      s"""WITH fr AS (SELECT v.range AS vid, f.range AS f
         |  FROM range(5) v CROSS JOIN range(10) f),
         |lv AS (SELECT vid, f, (f // 4) * 80 + (f % 4) * 2 AS level FROM fr),
         |px AS (SELECT vid, f, x.range AS x, y.range AS y,
         |    level + x.range // 4 + y.range // 3 AS g
         |  FROM lv CROSS JOIN range(32) x CROSS JOIN range(24) y),
         |bl AS (SELECT vid, f, ((y * 8) // 24) * 8 + ((x * 8) // 32) AS b,
         |    CAST(sum(1000 * g) AS BIGINT) AS bs, count(*) AS bp
         |  FROM px GROUP BY 1, 2, 3),
         |sg AS (SELECT vid, f, b, bs // bp AS m FROM bl),
         |df AS (SELECT a.vid, a.f,
         |    CAST(sum(abs(a.m - p.m)) // 64 AS BIGINT) AS d
         |  FROM sg a JOIN sg p ON p.vid = a.vid AND p.f = a.f - 1
         |    AND p.b = a.b
         |  GROUP BY 1, 2),
         |cuts AS (SELECT fr.vid, fr.f,
         |    CASE WHEN coalesce(df.d, 0) >= 20000 THEN 1 ELSE 0 END AS c
         |  FROM fr LEFT JOIN df ON df.vid = fr.vid AND df.f = fr.f),
         |sc AS (SELECT vid, f,
         |    CAST(sum(c) OVER (PARTITION BY vid ORDER BY f
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS scene_id
         |  FROM cuts)
         |SELECT vid AS video_id, scene_id,
         |  CAST(min(f) AS INTEGER) AS keyframe_idx,
         |  count(*) AS n_frames
         |FROM sc GROUP BY vid, scene_id
         |ORDER BY video_id, scene_id""".stripMargin),
    // Analytic replay of the gradient frames (no wrap, no clamp by
    // construction), block sums, and the lag diff — the decode path is
    // what Spark adds; the pixels are exact through the lossless PNG.
    Query("mm_video_scene_cuts", mmVideoSceneCuts,
      s"""WITH fr AS (SELECT v.range AS vid, f.range AS f
         |  FROM range(5) v CROSS JOIN range(10) f),
         |lv AS (SELECT vid, f, (f // 4) * 80 + (f % 4) * 2 AS level FROM fr),
         |px AS (SELECT vid, f, x.range AS x, y.range AS y,
         |    level + x.range // 4 + y.range // 3 AS g
         |  FROM lv CROSS JOIN range(32) x CROSS JOIN range(24) y),
         |bl AS (SELECT vid, f, ((y * 8) // 24) * 8 + ((x * 8) // 32) AS b,
         |    CAST(sum(1000 * g) AS BIGINT) AS bs, count(*) AS bp
         |  FROM px GROUP BY 1, 2, 3),
         |sg AS (SELECT vid, f, b, bs // bp AS m FROM bl),
         |df AS (SELECT a.vid, a.f,
         |    CAST(sum(abs(a.m - p.m)) // 64 AS BIGINT) AS d
         |  FROM sg a JOIN sg p ON p.vid = a.vid AND p.f = a.f - 1
         |    AND p.b = a.b
         |  GROUP BY 1, 2)
         |SELECT fr.vid AS video_id, CAST(fr.f AS INTEGER) AS frame_idx,
         |  CAST(coalesce(df.d, 0) AS BIGINT) AS diff_milli,
         |  CAST(CASE WHEN coalesce(df.d, 0) >= 20000 THEN 1 ELSE 0 END
         |    AS BIGINT) AS is_cut
         |FROM fr LEFT JOIN df ON df.vid = fr.vid AND df.f = fr.f
         |ORDER BY video_id, frame_idx""".stripMargin),
    // One-pass direct histogram — equality with Spark's two-half merge
    // IS the mergeability statement.
    Query("sketch_hist_merge", sketchHistMerge,
      s"""WITH src AS (SELECT event_type AS g,
         |    CAST(floor(CAST(value AS DOUBLE) * 1000000.0) AS BIGINT) AS x
         |  FROM events WHERE value IS NOT NULL),
         |binned AS (SELECT g,
         |    CASE WHEN x <= 0 THEN 0
         |         WHEN x < 16 THEN x
         |         ELSE 16 * length(bin(x)) + (x >> (length(bin(x)) - 5)) - 16
         |    END AS bin
         |  FROM src)
         |SELECT g AS event_type, bin, count(*) AS cnt
         |FROM binned GROUP BY 1, 2
         |ORDER BY event_type, bin""".stripMargin),
    Query("text_script_profile", textScriptProfile,
      s"""WITH m AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z]', 0)) AS BIGINT)
         |      AS n_latin,
         |    CAST(len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]', 0))
         |      AS BIGINT) AS n_cjk,
         |    CAST(len(regexp_extract_all(text, '[\\x{0400}-\\x{04ff}]', 0))
         |      AS BIGINT) AS n_cyrillic,
         |    CAST(len(regexp_extract_all(text, '[\\x{0600}-\\x{06ff}]', 0))
         |      AS BIGINT) AS n_arabic,
         |    CAST(len(regexp_extract_all(text, '[\\x{ac00}-\\x{d7af}]', 0))
         |      AS BIGINT) AS n_hangul,
         |    CAST(len(regexp_extract_all(text, '[\\x{0370}-\\x{03ff}]', 0))
         |      AS BIGINT) AS n_greek
         |  FROM documents)
         |SELECT doc_id, n_latin, n_cjk, n_cyrillic, n_arabic, n_hangul,
         |  n_greek,
         |  CASE
         |    WHEN n_latin > 0 AND n_latin >= n_cjk AND n_latin >= n_cyrillic
         |      AND n_latin >= n_arabic AND n_latin >= n_hangul
         |      AND n_latin >= n_greek THEN 'latin'
         |    WHEN n_cjk > 0 AND n_cjk >= n_latin AND n_cjk >= n_cyrillic
         |      AND n_cjk >= n_arabic AND n_cjk >= n_hangul
         |      AND n_cjk >= n_greek THEN 'cjk'
         |    WHEN n_cyrillic > 0 AND n_cyrillic >= n_latin
         |      AND n_cyrillic >= n_cjk AND n_cyrillic >= n_arabic
         |      AND n_cyrillic >= n_hangul AND n_cyrillic >= n_greek
         |      THEN 'cyrillic'
         |    WHEN n_arabic > 0 AND n_arabic >= n_latin AND n_arabic >= n_cjk
         |      AND n_arabic >= n_cyrillic AND n_arabic >= n_hangul
         |      AND n_arabic >= n_greek THEN 'arabic'
         |    WHEN n_hangul > 0 AND n_hangul >= n_latin AND n_hangul >= n_cjk
         |      AND n_hangul >= n_cyrillic AND n_hangul >= n_arabic
         |      AND n_hangul >= n_greek THEN 'hangul'
         |    WHEN n_greek > 0 AND n_greek >= n_latin AND n_greek >= n_cjk
         |      AND n_greek >= n_cyrillic AND n_greek >= n_arabic
         |      AND n_greek >= n_hangul THEN 'greek'
         |    ELSE 'none'
         |  END AS dominant_script
         |FROM m ORDER BY doc_id""".stripMargin),
    // Gate + exact dedup + epoch mix, per-source attrition spine.
    Query("pipeline_pretrain_prep", pipelinePretrainPrep,
      s"""WITH gw AS (SELECT doc_id,
         |    list_filter(string_split(${normSql("text")}, ' '),
         |      x -> x <> '') AS ws
         |  FROM documents),
         |gm AS (SELECT doc_id,
         |    CAST(len(ws) AS BIGINT) AS n_words,
         |    CAST(length(array_to_string(ws, '')) AS BIGINT) AS n_wchars,
         |    CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]')))
         |      AS BIGINT) AS n_alpha,
         |    CAST(len(list_intersect(list_distinct(ws),
         |      ['the', 'a', 'an', 'of', 'to', 'and', 'in', 'is']))
         |      AS BIGINT) AS n_stop
         |  FROM gw),
         |keep AS (SELECT doc_id FROM gm
         |  WHERE n_words >= 30 AND n_words <= 100000
         |    AND 3 * n_words <= n_wchars AND n_wchars <= 10 * n_words
         |    AND n_words > 0 AND 10 * n_alpha >= 8 * n_words
         |    AND n_stop >= 2),
         |k AS (SELECT d.* FROM documents d SEMI JOIN keep USING (doc_id)),
         |dd AS (SELECT * FROM k WHERE doc_id IN
         |  (SELECT min(doc_id) FROM k GROUP BY md5(${normSql("text")}))),
         |c AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_tokens_tot
         |  FROM dd GROUP BY source),
         |e AS (SELECT source, n_tokens_tot,
         |    (CAST(1000000 AS BIGINT) * 20000)
         |      // greatest(n_tokens_tot, 1) AS em
         |  FROM c),
         |e2 AS (SELECT source, n_tokens_tot, em // 1000000 AS full_epochs,
         |    em % 1000000 AS frac_micro FROM e),
         |h AS (SELECT source, n_chars,
         |    CAST('0x' || substring(md5('97|' || CAST(doc_id AS VARCHAR)),
         |      1, 15) AS BIGINT) % 1000000 AS hm
         |  FROM dd),
         |p AS (SELECT h.source,
         |    CAST(sum(CASE WHEN hm < frac_micro THEN n_chars ELSE 0 END)
         |      AS BIGINT) AS partial_tokens
         |  FROM h JOIN e2 USING (source) GROUP BY h.source),
         |spine AS (SELECT source, count(*) AS docs_in
         |  FROM documents GROUP BY source),
         |gc AS (SELECT source, count(*) AS docs_gated FROM k GROUP BY source),
         |dc AS (SELECT source, count(*) AS docs_deduped
         |  FROM dd GROUP BY source)
         |SELECT spine.source, spine.docs_in,
         |  CAST(coalesce(gc.docs_gated, 0) AS BIGINT) AS docs_gated,
         |  CAST(coalesce(dc.docs_deduped, 0) AS BIGINT) AS docs_deduped,
         |  CAST(coalesce(e2.n_tokens_tot, 0) AS BIGINT) AS n_tokens_tot,
         |  CAST(coalesce(e2.full_epochs, 0) AS BIGINT) AS full_epochs,
         |  CAST(coalesce(e2.frac_micro, 0) AS BIGINT) AS frac_micro,
         |  CAST(coalesce(p.partial_tokens, 0) AS BIGINT) AS partial_tokens,
         |  CAST(coalesce(e2.full_epochs * e2.n_tokens_tot
         |    + p.partial_tokens, 0) AS BIGINT) AS planned_tokens
         |FROM spine LEFT JOIN gc USING (source) LEFT JOIN dc USING (source)
         |  LEFT JOIN e2 USING (source) LEFT JOIN p USING (source)
         |ORDER BY source""".stripMargin),
    Query("text_code_detect", textCodeDetect,
      s"""WITH m AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '[{}\\[\\]();=<>]', 0))
         |      AS BIGINT) AS n_sym,
         |    CAST(len(regexp_extract_all(text,
         |      '\\b(def|class|import|return|function|var|const|void)\\b', 0))
         |      AS BIGINT) AS n_kw,
         |    CAST(len(regexp_extract_all(text,
         |      '\\b[a-z]+(_[a-z0-9]+|[A-Z][a-z0-9]*)[A-Za-z0-9_]*\\b', 0))
         |      AS BIGINT) AS n_ident,
         |    CAST(greatest(len(string_split_regex(trim(text), '\\s+')), 1)
         |      AS BIGINT) AS n_words
         |  FROM documents)
         |SELECT doc_id, n_sym, n_kw, n_ident, n_words,
         |  CAST((1000 * (4 * n_kw + 2 * n_ident + n_sym)) // n_words
         |    AS BIGINT) AS code_score,
         |  CAST(CASE WHEN (1000 * (4 * n_kw + 2 * n_ident + n_sym))
         |      // n_words >= 350 THEN 1 ELSE 0 END AS BIGINT) AS is_code
         |FROM m ORDER BY doc_id""".stripMargin),
    // The round trip is lossless iff the re-read fingerprints equal the
    // originals', which is exactly what this oracle states.
    Query("source_jsonl_roundtrip", sourceJsonlRoundtrip,
      """SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin),
    // Sentence split + word-offset chunk assignment + ordered reassembly.
    Query("rag_sentence_chunks", ragSentenceChunks,
      s"""WITH s0 AS (SELECT doc_id, CAST(r.i AS INTEGER) AS i,
         |    trim(sp[CAST(r.i + 1 AS INTEGER)]) AS s
         |  FROM (SELECT doc_id, string_split_regex(text, '\\.\\s+') AS sp
         |        FROM documents)
         |  CROSS JOIN LATERAL
         |    (SELECT unnest(generate_series(0, len(sp) - 1)) AS i) r),
         |sn AS (SELECT doc_id, i, s,
         |    CAST(len(string_split_regex(s, '\\s+')) AS BIGINT) AS nw
         |  FROM s0 WHERE s <> ''),
         |o AS (SELECT *, CAST(coalesce(sum(nw) OVER (PARTITION BY doc_id
         |      ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS BIGINT) AS off
         |  FROM sn)
         |SELECT doc_id, CAST(off // 40 AS BIGINT) AS chunk_idx,
         |  count(*) AS n_sentences, CAST(sum(nw) AS BIGINT) AS n_words,
         |  string_agg(s, ' ' ORDER BY i) AS chunk_text
         |FROM o GROUP BY doc_id, off // 40
         |ORDER BY doc_id, chunk_idx""".stripMargin),
    // marginCte + the grouped pairwise AUC.
    Query("quality_auc_by_source", qualityAucBySource,
      s"""WITH ${marginCte},
         |lab AS (SELECT s.doc_id, s.margin, d.source,
         |          CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS label
         |        FROM s JOIN documents d USING (doc_id)),
         |per AS (SELECT source AS g, margin AS sc, count(*) AS n,
         |          CAST(sum(label) AS BIGINT) AS pos
         |        FROM lab GROUP BY 1, 2),
         |per2 AS (SELECT g, sc, n, pos, n - pos AS neg FROM per),
         |conc AS (SELECT a.g,
         |    CAST(coalesce(sum(a.neg * b.pos), 0) AS BIGINT) AS concordant
         |  FROM per2 a JOIN per2 b ON a.g = b.g AND a.sc < b.sc
         |  GROUP BY a.g),
         |t AS (SELECT g, CAST(coalesce(sum(pos * neg), 0) AS BIGINT) AS tied,
         |        CAST(coalesce(sum(pos), 0) AS BIGINT) AS n_pos,
         |        CAST(coalesce(sum(neg), 0) AS BIGINT) AS n_neg
         |      FROM per2 GROUP BY g)
         |SELECT t.g AS source, t.n_pos, t.n_neg,
         |  CAST(coalesce(conc.concordant, 0) AS BIGINT) AS concordant,
         |  t.tied,
         |  CAST(CASE WHEN t.n_pos = 0 OR t.n_neg = 0 THEN 0
         |    ELSE (1000000 * coalesce(conc.concordant, 0) + 500000 * t.tied)
         |      // (t.n_pos * t.n_neg) END AS BIGINT) AS auc_micro
         |FROM t LEFT JOIN conc ON conc.g = t.g
         |ORDER BY source""".stripMargin),
    // Same recursive-CTE CC replay as dedup_cc_clusters, aggregated to
    // the size histogram; singletons from the total-count difference.
    Query("dedup_cluster_sizes", dedupClusterSizes,
      s"""WITH RECURSIVE bkt AS (
         |  SELECT vec_id, embedding, ${LlmQueries.lshBucketSql("embedding")} AS bkt
         |  FROM embeddings),
         |pairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bkt a JOIN bkt b ON a.vec_id < b.vec_id AND a.bkt = b.bkt
         |  WHERE round(${LlmQueries.cosineExpr}, 6) >= 0.4
         |),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(id, lab) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
         |),
         |cc AS (SELECT id, min(lab) AS component FROM reach GROUP BY id),
         |sz AS (SELECT component, count(*) AS cluster_size
         |       FROM cc GROUP BY component),
         |hist AS (SELECT cluster_size, count(*) AS n_clusters,
         |    CAST(cluster_size * count(*) AS BIGINT) AS n_docs
         |  FROM sz GROUP BY cluster_size),
         |tot AS (SELECT count(*) AS t FROM embeddings),
         |cl AS (SELECT count(*) AS c FROM cc)
         |SELECT CAST(cluster_size AS BIGINT) AS cluster_size, n_clusters,
         |  n_docs
         |FROM hist
         |UNION ALL
         |SELECT 1, t - c, t - c FROM tot, cl
         |ORDER BY cluster_size""".stripMargin),
    // ExactSubstr replay: positional shingle hashes, corpus occurrence
    // counts, the pos − row_number() consecutive-run trick.
    Query("dedup_repeated_runs", dedupRepeatedRuns,
      s"""WITH wr AS (SELECT doc_id,
         |    string_split(${normSql("text")}, ' ') AS ws
         |  FROM documents),
         |sh AS (SELECT doc_id, CAST(r.i AS INTEGER) AS pos,
         |    ${hashSql(53, "array_to_string(ws[CAST(r.i + 1 AS INTEGER) : " +
              "CAST(r.i + 4 AS INTEGER)], ' ')")} AS h
         |  FROM wr CROSS JOIN LATERAL
         |    (SELECT unnest(generate_series(0, len(ws) - 4)) AS i) r
         |  WHERE len(ws) >= 4),
         |shared AS (SELECT h FROM sh GROUP BY h HAVING count(*) >= 2),
         |mk AS (SELECT doc_id, pos FROM sh SEMI JOIN shared USING (h)),
         |runs AS (SELECT doc_id, pos,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
         |      AS grp
         |  FROM mk)
         |SELECT doc_id, CAST(min(pos) AS INTEGER) AS start_word,
         |  CAST(count(*) + 3 AS BIGINT) AS len_words,
         |  CAST(count(*) AS BIGINT) AS n_shingles
         |FROM runs GROUP BY doc_id, grp
         |ORDER BY doc_id, start_word""".stripMargin),
    Query("text_simpson_diversity", textSimpsonDiversity,
      s"""WITH w AS (SELECT doc_id, w.w
         |  FROM documents,
         |       unnest(string_split(${normSql("text")}, ' ')) AS w(w)
         |  WHERE w.w <> ''),
         |c AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w),
         |s AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
         |    CAST(sum(c * c) AS BIGINT) AS ss
         |  FROM c GROUP BY doc_id),
         |m AS (SELECT doc_id, n_words,
         |    CAST((1000000 * CAST(ss AS HUGEINT)) //
         |      (CAST(n_words AS HUGEINT) * n_words) AS BIGINT)
         |      AS simpson_micro
         |  FROM s)
         |SELECT d.doc_id,
         |  coalesce(m.n_words, 0) AS n_words,
         |  coalesce(m.simpson_micro, 0) AS simpson_micro,
         |  coalesce(1000000 - m.simpson_micro, 0) AS diversity_micro
         |FROM documents d LEFT JOIN m USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),
    Query("quality_gopher_gate", qualityGopherGate,
      s"""WITH w AS (SELECT doc_id,
         |    list_filter(string_split(${normSql("text")}, ' '),
         |      x -> x <> '') AS ws
         |  FROM documents),
         |m AS (SELECT doc_id,
         |    CAST(len(ws) AS BIGINT) AS n_words,
         |    CAST(length(array_to_string(ws, '')) AS BIGINT) AS n_wchars,
         |    CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]')))
         |      AS BIGINT) AS n_alpha,
         |    CAST(len(list_intersect(list_distinct(ws),
         |      ['the', 'a', 'an', 'of', 'to', 'and', 'in', 'is']))
         |      AS BIGINT) AS n_stop
         |  FROM w)
         |SELECT doc_id, n_words, n_wchars, n_alpha, n_stop,
         |  CAST(CASE WHEN n_words >= 30 AND n_words <= 100000
         |    THEN 1 ELSE 0 END AS BIGINT) AS r_word_count,
         |  CAST(CASE WHEN 3 * n_words <= n_wchars
         |      AND n_wchars <= 10 * n_words AND n_words > 0
         |    THEN 1 ELSE 0 END AS BIGINT) AS r_word_len,
         |  CAST(CASE WHEN 10 * n_alpha >= 8 * n_words AND n_words > 0
         |    THEN 1 ELSE 0 END AS BIGINT) AS r_alpha,
         |  CAST(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT)
         |    AS r_stopwords,
         |  CAST((CASE WHEN n_words >= 30 AND n_words <= 100000
         |      THEN 1 ELSE 0 END)
         |    * (CASE WHEN 3 * n_words <= n_wchars
         |        AND n_wchars <= 10 * n_words AND n_words > 0
         |      THEN 1 ELSE 0 END)
         |    * (CASE WHEN 10 * n_alpha >= 8 * n_words AND n_words > 0
         |      THEN 1 ELSE 0 END)
         |    * (CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS keep
         |FROM m ORDER BY doc_id""".stripMargin),
    // Full replay: the BM25 multiquery chain (LlmQueries3's oracle, k=10)
    // + the sparse hash-cosine chain (text_hash_embedding's feature CTE on
    // both sides, HUGEINT signed-squared cosine) + integer RRF fusion.
    Query("sim_rrf_hybrid", simRrfHybrid,
      s"""WITH qt(qid, w) AS (VALUES $qtValues),
         |wf AS (
         |  SELECT doc_id AS id, w.w
         |  FROM documents,
         |       unnest(string_split(${normSql("text")}, ' ')) AS w(w)
         |  WHERE w.w <> ''),
         |dl AS (SELECT id, count(*) AS dl FROM wf GROUP BY id),
         |st AS (SELECT CAST(sum(dl) AS BIGINT) AS l, count(*) AS n FROM dl),
         |tf AS (SELECT id, w, count(*) AS tf FROM wf
         |       WHERE w IN (SELECT w FROM qt)
         |       GROUP BY id, w),
         |dfr AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
         |sc AS (SELECT qt.qid, tf.id,
         |    ((1000000 * (2 * (st.n - dfr.df) + 1)) // (2 * dfr.df + 1))
         |      AS idf,
         |    ((1000000 * 22 * tf.tf * st.l)
         |      // (10 * tf.tf * st.l + 3 * st.l + 9 * dl.dl * st.n)) AS tfp
         |  FROM tf JOIN qt USING (w) JOIN dl USING (id)
         |    JOIN dfr USING (w) CROSS JOIN st),
         |agg AS (SELECT qid, id,
         |    CAST(sum((CAST(idf AS HUGEINT) * tfp) // 1000000) AS BIGINT)
         |      AS bm25_micro
         |  FROM sc GROUP BY qid, id),
         |lex AS (SELECT qid, id, rk FROM
         |    (SELECT qid, id, row_number() OVER (PARTITION BY qid
         |       ORDER BY bm25_micro DESC, id) AS rk FROM agg)
         |  WHERE rk <= 10),
         |cf AS (SELECT id, idx, CAST(sum(sgn) AS BIGINT) AS cv FROM
         |    (SELECT id, CAST(${hashSql(31, "w")} % 64 AS INTEGER) AS idx,
         |       (${hashSql(47, "w")} % 2) * 2 - 1 AS sgn FROM wf)
         |  GROUP BY id, idx),
         |qf AS (SELECT qid, idx, CAST(sum(sgn) AS BIGINT) AS qv FROM
         |    (SELECT qid, CAST(${hashSql(31, "w")} % 64 AS INTEGER) AS idx,
         |       (${hashSql(47, "w")} % 2) * 2 - 1 AS sgn FROM qt)
         |  GROUP BY qid, idx),
         |cn AS (SELECT id, CAST(sum(cv * cv) AS BIGINT) AS cn2
         |       FROM cf GROUP BY id),
         |qn AS (SELECT qid, CAST(sum(qv * qv) AS BIGINT) AS qn2
         |       FROM qf GROUP BY qid),
         |dt AS (SELECT qid, id, CAST(sum(qv * cv) AS BIGINT) AS dot
         |       FROM cf JOIN qf USING (idx) GROUP BY qid, id),
         |den AS (SELECT qid, id, CAST(CASE WHEN dot < 0 THEN
         |      -((CAST(1000000 AS HUGEINT) * dot * dot) //
         |        (CAST(greatest(cn2, 1) AS HUGEINT) * greatest(qn2, 1)))
         |    ELSE (CAST(1000000 AS HUGEINT) * dot * dot) //
         |        (CAST(greatest(cn2, 1) AS HUGEINT) * greatest(qn2, 1))
         |    END AS BIGINT) AS cossq
         |  FROM dt JOIN cn USING (id) JOIN qn USING (qid)),
         |dns AS (SELECT qid, id, rnk FROM
         |    (SELECT qid, id, row_number() OVER (PARTITION BY qid
         |       ORDER BY cossq DESC, id) AS rnk FROM den)
         |  WHERE rnk <= 10),
         |un AS (SELECT qid, id, rk FROM lex
         |       UNION ALL SELECT qid, id, rnk FROM dns),
         |fz AS (SELECT qid, id, count(*) AS n_lists,
         |    CAST(sum(1000000 // (60 + rk)) AS BIGINT) AS rrf_micro
         |  FROM un GROUP BY qid, id)
         |SELECT qid AS query_id, id AS doc_id, CAST(rank AS INTEGER) AS rank,
         |  n_lists, rrf_micro
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid
         |        ORDER BY rrf_micro DESC, id) AS rank FROM fz)
         |WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin),
    // Whitening replay: integer per-dim stats on the train slice, exact
    // isqrt re-derived from floor(sqrt(double)) with a ±1 correction
    // (sqrt can round across an integer boundary near perfect squares),
    // then the sign-split serve division. greatest(sd, 1) mirrors the
    // constant-dimension clamp.
    Query("emb_whiten", embWhiten,
      s"""WITH xm AS (SELECT vec_id, CAST(r.range AS INTEGER) AS idx,
         |    CAST(floor(CAST(embedding[CAST(r.range + 1 AS INTEGER)] AS DOUBLE)
         |      * 1000) AS BIGINT) AS x
         |  FROM embeddings CROSS JOIN range(64) r),
         |st AS (SELECT idx, count(*) AS n, CAST(sum(x) AS BIGINT) AS s1,
         |         CAST(sum(x * x) AS BIGINT) AS s2
         |       FROM xm WHERE vec_id < 2000 GROUP BY idx),
         |sd0 AS (SELECT idx, n, s1, n * s2 - s1 * s1 AS v,
         |          CAST(floor(sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)))
         |            AS BIGINT) AS s
         |        FROM st),
         |sdx AS (SELECT idx, n, s1,
         |          greatest(s - CASE WHEN s * s > v THEN 1 ELSE 0 END
         |            + CASE WHEN (s + 1) * (s + 1) <= v THEN 1 ELSE 0 END,
         |            1) AS sd
         |        FROM sd0)
         |SELECT x.vec_id, x.idx,
         |  CAST(CASE WHEN sdx.n * x.x - sdx.s1 < 0
         |    THEN -((1000000 * -(sdx.n * x.x - sdx.s1)) // sdx.sd)
         |    ELSE (1000000 * (sdx.n * x.x - sdx.s1)) // sdx.sd
         |  END AS BIGINT) AS z_micro
         |FROM xm x JOIN sdx USING (idx)
         |WHERE x.vec_id < 300
         |ORDER BY vec_id, idx""".stripMargin),
    Query("quality_ks_drift", qualityKsDrift,
      Sketches.ksDriftSql("documents", "lang", "n_chars", "en", "zh")),
    Query("sample_curriculum", sampleCurriculum,
      s"""WITH r AS (SELECT doc_id, source, n_chars,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY n_chars, doc_id) AS rk,
         |    count(*) OVER (PARTITION BY source) AS n
         |  FROM documents),
         |b AS (SELECT doc_id, source, n_chars,
         |    CAST((10 * (rk - 1)) // n AS BIGINT) AS bucket FROM r),
         |p AS (SELECT *, CAST(row_number() OVER (PARTITION BY source, bucket
         |      ORDER BY n_chars, doc_id) - 1 AS BIGINT) AS pos_in_bucket
         |  FROM b)
         |SELECT doc_id, source, n_chars, bucket, pos_in_bucket,
         |  CAST(pos_in_bucket * 10 + bucket AS BIGINT) AS sched_rank
         |FROM p ORDER BY source, sched_rank, doc_id""".stripMargin),
    Query("mix_epoch_plan", mixEpochPlan,
      s"""WITH c AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS n_tokens_tot
         |  FROM documents GROUP BY source),
         |f AS (SELECT source, n_docs, n_tokens_tot,
         |    CAST((CAST(1000000 AS BIGINT) * 20000)
         |      // greatest(n_tokens_tot, 1) AS BIGINT) AS epochs_micro
         |  FROM c),
         |e AS (SELECT *, epochs_micro // 1000000 AS full_epochs,
         |    epochs_micro % 1000000 AS frac_micro FROM f),
         |h AS (SELECT source, n_chars,
         |    CAST('0x' || substring(md5('97|' || CAST(doc_id AS VARCHAR)),
         |      1, 15) AS BIGINT) % 1000000 AS hm
         |  FROM documents),
         |p AS (SELECT h.source,
         |    CAST(sum(CASE WHEN hm < frac_micro THEN 1 ELSE 0 END)
         |      AS BIGINT) AS partial_docs,
         |    CAST(sum(CASE WHEN hm < frac_micro THEN n_chars ELSE 0 END)
         |      AS BIGINT) AS partial_tokens
         |  FROM h JOIN e USING (source) GROUP BY h.source)
         |SELECT e.source, e.n_docs, e.n_tokens_tot, e.epochs_micro,
         |  e.full_epochs, e.frac_micro, p.partial_docs, p.partial_tokens,
         |  CAST(e.full_epochs * e.n_tokens_tot + p.partial_tokens
         |    AS BIGINT) AS planned_tokens
         |FROM e JOIN p USING (source) ORDER BY source""".stripMargin))
}
