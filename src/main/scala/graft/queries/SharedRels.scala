package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.T
import graft.ops.Dedup

/** Session-scoped shared derived relations — the materialized-view layer
  * of the query registry.
  *
  * Eleven graph/dedup registry queries consume the SAME near-dup pair
  * relation (MinHash-LSH pairs over the doc_id < 500 documents slice at
  * threshold 0.5) before running their own kernel. Re-deriving it per
  * query re-runs the full shingle → signature → band-join → verify
  * pipeline each time — the single biggest repeated cost in the bench
  * (r10 verdict item 4). At production scale the same relation would be
  * a materialized table maintained by the dedup pipeline and READ by the
  * graph jobs, not recomputed per query; this cache is the in-session
  * analogue: first consumer materializes (localCheckpoint), later
  * consumers read the checkpointed blocks.
  *
  * Correctness: the fixture IS `Dedup.minHashLshPairs(docs, 0.5)` — same
  * rows, same values — so every consumer's oracle hash is unchanged; the
  * DuckDB oracle replays the derivation independently per query.
  *
  * Lifecycle: entries are keyed by (session, sf dir). A consumer checks
  * that the checkpointed blocks still exist (an unpersist would truncate
  * the lineage AND drop the blocks, making the cached plan unreadable)
  * and rebuilds if not. [[sweep]], the between-query cleanup of `Bench`
  * and `ScaleProbe`, skips the fixture blocks [[liveRddIds]] names.
  */
object SharedRels {

  private final case class Key(session: SparkSession, dir: String,
      tag: String)
  private final case class Entry(df: DataFrame, rddIds: Set[Int])

  private val cache = scala.collection.mutable.HashMap.empty[Key, Entry]

  /** Total fixture (re)builds this JVM — test observability for the
    * non-rebuild invariant (VERDICT r14 item 6: the ContextCleaner
    * pitfall where tracking a build's INTERNAL checkpoint blocks made
    * the validity check fail on their reclamation and silently rebuild
    * per consumer was caught by eye; SharedRelsSpec now asserts on this
    * counter instead). */
  @volatile private[graft] var buildCount: Long = 0L

  /** Driver-value fixtures (trained merge tables, centroid arrays —
    * plain JVM values, no backing blocks to reclaim, so no validity
    * check is needed): the trained-ARTIFACT companion of the relation
    * cache above. At production scale these are the model files a
    * training job writes and every serve job loads
    * ([[graft.sources.Artifacts]]); in-session, queries that train the
    * same artifact on the same slice provably compute the same value
    * (all trainers are deterministic integer pipelines), so the first
    * consumer trains and the rest read (VERDICT r14 item 3). */
  private val valCache = scala.collection.mutable.HashMap.empty[Key, Any]

  private def memoVal[A](spark: SparkSession, dir: String, tag: String)(
      build: => A): A = synchronized {
    valCache.getOrElseUpdate(Key(spark, dir, tag), build).asInstanceOf[A]
  }

  /** RDD ids backing live fixtures of this session — blocks that a
    * between-query cleanup sweep must NOT unpersist. */
  def liveRddIds(spark: SparkSession): Set[Int] = synchronized {
    cache.collect { case (Key(s, _, _), e) if s eq spark => e.rddIds }
      .flatten.toSet
  }

  /** The between-query cleanup: unpersist, synchronously, every
    * persisted RDD of the session except the live fixtures' blocks.
    * Queries never share persisted RDDs, but fixtures stay persisted
    * across queries BY DESIGN — unpersisting a localCheckpointed fixture
    * destroys its only copy (truncated lineage), and the next consumer
    * would pay its rebuild. */
  def sweep(spark: SparkSession): Unit = {
    val keep = liveRddIds(spark)
    spark.sparkContext.getPersistentRDDs.values
      .filterNot(r => keep.contains(r.id))
      .foreach(_.unpersist(blocking = true))
  }

  /** Drop all fixtures of one session — the checkpoint-backed relations
    * (frees their blocks) AND the driver-value artifacts (ADVICE r15:
    * leaving valCache keyed by a stopped session both serves stale
    * trained values to a lookalike key and pins the SparkSession for
    * the JVM lifetime). */
  def clear(spark: SparkSession): Unit = synchronized {
    cache.filterInPlace { case (Key(s, _, _), e) =>
      if (s eq spark) {
        e.rddIds.foreach(id =>
          spark.sparkContext.getPersistentRDDs.get(id)
            .foreach(_.unpersist(blocking = false)))
        false
      } else true
    }
    valCache.filterInPlace { case (Key(s, _, _), _) => !(s eq spark) }
  }

  /** The memoization kernel every fixture shares: first consumer runs
    * `build` and localCheckpoints it, later consumers get the cached
    * frame — after verifying its checkpoint blocks still exist (an
    * unpersist truncates the lineage AND drops the blocks, making the
    * cached plan unreadable), rebuilding if not. */
  private def memo(spark: SparkSession, dir: String, tag: String)(
      build: => DataFrame): DataFrame = synchronized {
    val key = Key(spark, dir, tag)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    cache.get(key) match {
      case Some(e) if e.rddIds.subsetOf(persisted) => e.df
      case _ =>
        // Track ONLY the final checkpoint's blocks: a build may create
        // its own internal localCheckpoints (the GD fixture's feature/
        // label frames), which go out of scope once the final frame is
        // materialized and are then legitimately reclaimed by the
        // ContextCleaner (or the bench's between-query sweep). Counting
        // them in rddIds made the validity check fail on their
        // reclamation and silently rebuild the fixture every few
        // consumers — the final frame's own blocks are all a reader
        // needs, and the cached reference keeps THEM alive.
        buildCount += 1
        val built = build
        val mid = spark.sparkContext.getPersistentRDDs.keySet
        val df = built.localCheckpoint()
        val ids = spark.sparkContext.getPersistentRDDs.keySet.diff(mid)
        cache.update(key, Entry(df, ids.toSet))
        df
    }
  }

  /** The shared near-dup pair relation: MinHash-LSH pairs (id_a, id_b,
    * jaccard) over the doc_id < 500 documents slice at threshold 0.5 —
    * byte-identical to calling
    * `Dedup.minHashLshPairs(documents.filter(doc_id < 500), 0.5)`. */
  def nearDupPairs500(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "nearDupPairs500") {
      // T.par before the pipeline: the slice is a handful of input
      // splits; the CPU-heavy shingle/signature stages need all
      // cores. Row set (and therefore every consumer's hash) is
      // unaffected by partitioning.
      Dedup.minHashLshPairs(
        T.par(spark, T.t(spark, dir, "documents"))
          .filter(col("doc_id") < 500),
        threshold = 0.5)
    }

  /** Documents with the is-English gold label the quality/GD family
    * trains against (the `quality_pr_curve` convention). Not cached —
    * it is one projection over the table scan. */
  def labeledDocs(spark: SparkSession, dir: String): DataFrame =
    // parCpu: feeds hashedFeatures (tokenize + hash per token) for the
    // whole GD family (r17: value_datainf_panel 4.7 s at width 9 vs
    // 3.3 s full width)
    T.parCpu(spark, T.t(spark, dir, "documents"))
      .withColumn("label", (col("lang") === "en").cast("int"))

  /** The shared exact-GD epoch relation over [[labeledDocs]]
    * (dim 64, lr = 1/lrDen): byte-identical to
    * `QualityModel.logisticEpochScoresMicro(labeledDocs, 64, iters, 1,
    * lrDen)`. Eight registry queries aggregate this SAME relation
    * (cartography, forgetting, data-diet, ECE, Brier, GD/group curves,
    * TracIn self-influence) — at production scale it is the
    * materialized per-epoch score table the training-dynamics jobs
    * read, not something each readout re-trains; this cache is the
    * in-session analogue (the [[nearDupPairs500]] rationale). */
  def gdEpochScores(spark: SparkSession, dir: String, iters: Int,
      lrDen: Long): DataFrame =
    memo(spark, dir, s"gdEpochScores:$iters:$lrDen") {
      graft.ops.QualityModel.logisticEpochScoresMicro(
        labeledDocs(spark, dir), dim = 64, iters = iters,
        lrNum = 1L, lrDen = lrDen)
    }

  /** The shared hashed bag-of-words feature relation over
    * [[labeledDocs]] (dim 64) — the GD family's gradient/norm input:
    * byte-identical to `QualityModel.hashedFeatures(labeledDocs, 64)`. */
  def gdFeatures(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "gdFeatures") {
      // pre-partitioned BY ID before the memo checkpoint (preserved by
      // localCheckpoint): every consumer's per-doc aggregation and
      // id-keyed join then runs exchange-free — the
      // [[graft.ops.QualityModel.checkpointedFeatsLabels]] convention
      graft.ops.QualityModel.hashedFeatures(labeledDocs(spark, dir), 64)
        .repartition(col("id"))
    }

  /** The shared exact-substring span relation (L = 30, full documents
    * table) — byte-identical to
    * `Dedup.exactSubstringSpans(documents, minLen = 30)`. Three
    * registry queries consume it (`dedup_exact_substring`,
    * `dedup_substring_profile`, `dedup_substring_removal`); deriving it
    * re-runs the corpus-character-sized window pipeline each time,
    * while the span relation itself is duplicate-coverage-sized (1.7k
    * rows at sf0.1) — the materialized-view posture again. */
  def exactSubstrSpans30(spark: SparkSession, dir: String): DataFrame =
    memo(spark, dir, "exactSubstrSpans30") {
      Dedup.exactSubstringSpans(
        // parCpu: windowHashes kernel (see deconExactSubstring)
        T.parCpu(spark, T.t(spark, dir, "documents")), minLen = 30)
    }

  // ---- trained-artifact fixtures (driver values; the memoVal layer) ----

  /** 8 BPE merges trained on the FULL documents table — byte-identical
    * to `TextAnalysis.trainBpeMerges(documents, k = 8)`; shared by
    * `text_bpe_train` and `text_bpe_fertility`. */
  def bpeMergesFull8(spark: SparkSession, dir: String): Seq[(String, String)] =
    memoVal(spark, dir, "bpeMergesFull8") {
      graft.ops.TextAnalysis.trainBpeMerges(
        T.par(spark, T.t(spark, dir, "documents")), k = 8)
    }

  /** The panel-excluded GD trajectory (dim 64, 3 iters, lr 1/16)
    * shared by the `value_tracin_panel` / `value_datainf_panel` pair:
    * both valuation estimators score IDENTICAL gradients (that is the
    * point of gating them side by side), so the trajectory trains
    * once per session instead of once per readout — at production
    * scale it is the training job's published checkpoint list, which
    * valuation readouts consume, never re-derive. The caller passes
    * the panel-excluded (feats, labels) BY NAME; the fixture contract
    * (same 32-doc hash-lowest panel, same hyperparameters) is the
    * callers' — both registry builders derive the sides from the same
    * `gdSide` helper, so the key cannot diverge from the inputs. */
  def panelGdTrajectory3x16(spark: SparkSession, dir: String,
      fTr: => org.apache.spark.sql.DataFrame,
      lTr: => org.apache.spark.sql.DataFrame): Seq[(Array[Long], Long)] =
    memoVal(spark, dir, "panelGdTrajectory3x16") {
      graft.ops.QualityModel.trajectoryFromFeats(fTr, lTr,
        dim = 64, iters = 3, lrNum = 1L, lrDen = 16L)
    }

  /** 8 BPE merges trained on the doc_id < 500 slice — the
    * `artifact_train_serve` maintenance-job split. */
  def bpeMerges500x8(spark: SparkSession, dir: String): Seq[(String, String)] =
    memoVal(spark, dir, "bpeMerges500x8") {
      graft.ops.TextAnalysis.trainBpeMerges(
        T.par(spark, T.t(spark, dir, "documents"))
          .filter(col("doc_id") < 500), k = 8)
    }

  /** Micro k-means centroids (k = 8, 2 Lloyd iterations) trained on
    * the vec_id < 2000 embeddings slice — shared by `emb_silhouette`,
    * `emb_davies_bouldin`, `emb_cluster_purity`, and
    * `artifact_train_serve`. */
  def ivfCents2000k8(spark: SparkSession, dir: String)
      : Array[(Long, Array[Long])] =
    memoVal(spark, dir, "ivfCents2000k8") {
      graft.ops.Similarity.trainIvfCentroidsMicro(
        T.par(spark, T.t(spark, dir, "embeddings"))
          .filter(col("vec_id") < 2000), k = 8, iters = 2)
    }

  /** Micro k-means centroids (k = 10, 3 Lloyd iterations) trained on
    * the full embeddings table — shared by `sim_ivf_trained_topk` and
    * `sim_ivf_shuffled_topk` (identical rows regardless of input
    * partitioning: the trainer is an exact integer pipeline). */
  def ivfCentsFullK10(spark: SparkSession, dir: String)
      : Array[(Long, Array[Long])] =
    memoVal(spark, dir, "ivfCentsFullK10") {
      graft.ops.Similarity.trainIvfCentroidsMicro(
        T.par(spark, T.t(spark, dir, "embeddings")), k = 10, iters = 3)
    }

  /** Trigram/bigram/unigram LM count relations trained on the
    * doc_id < 500 slice ([[graft.ops.TextAnalysis.trainTrigramCounts]])
    * — the `artifact_lm_serve` maintenance-job split. The three frames
    * share one build; each is re-checkpointed here so the cached plans
    * read blocks the [[liveRddIds]] sweep protection covers (the
    * build's own internal checkpoints go out of scope and may be
    * reclaimed, which is fine — the final frames are self-contained). */
  def trigramLm500(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = synchronized {
    val tags = Seq("c3", "c23", "c1")
    val keys = tags.map(t => Key(spark, dir, s"trigramLm500:$t"))
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val cached = keys.flatMap(cache.get)
    if (cached.size == 3 && cached.forall(_.rddIds.subsetOf(persisted))) {
      (cached(0).df, cached(1).df, cached(2).df)
    } else {
      buildCount += 1
      val (c3, c23, c1) = graft.ops.TextAnalysis.trainTrigramCounts(
        T.par(spark, T.t(spark, dir, "documents"))
          .filter(col("doc_id") < 500))
      val out = keys.zip(Seq(c3, c23, c1)).map { case (key, built) =>
        val mid = spark.sparkContext.getPersistentRDDs.keySet
        val df = built.localCheckpoint()
        val ids = spark.sparkContext.getPersistentRDDs.keySet.diff(mid)
        cache.update(key, Entry(df, ids.toSet))
        df
      }
      (out(0), out(1), out(2))
    }
  }
}
