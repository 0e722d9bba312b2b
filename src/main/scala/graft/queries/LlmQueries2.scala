package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.T
import graft.ops.{Chunking, Components, Curation, Dedup, QualityModel, Similarity, TextAnalysis}
import CommonSql.{normSql, hashSql, marginCte}

/** Round-4/5 training-data-pipeline operators (SURVEY §2.10 extensions):
  * duplicated-span scoring and removal, repetition metrics, chunking,
  * tf·idf, sequence packing, token-budget mix sampling, model-based
  * quality scoring, embedding projection, contrastive mining, PageRank,
  * and BPE — each driven through the library modules, almost all with a
  * DuckDB oracle replicating the exact arithmetic (integer counts,
  * correctly-rounded double ratios, fixed-order folds; no transcendental
  * functions anywhere, so every score is bit-reproducible across
  * engines).
  */
object LlmQueries2 {

  /** Cross-doc duplicated-shingle scoring over the corpus (word 5-grams,
    * drop above 70% duplicated) — the repeated-span dedup signal. */
  def dedupShingleXdoc(spark: SparkSession, dir: String): DataFrame =
    Dedup.shingleDupStats(T.par(spark, T.t(spark, dir, "documents")), n = 5)
      .orderBy(col("doc_id"))

  /** PMI collocations (word2vec phrase-mining pass): adjacent pairs
    * ranked by the integer-exact PMI ratio. */
  def textPmiPairs(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.pmiCollocations(T.par(spark, T.t(spark, dir, "documents")),
      minCount = 5, k = 100)

  /** Within-doc repetition metrics (Gopher-style quality signals). */
  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionProfile(T.par(spark, T.t(spark, dir, "documents")))
      .orderBy(col("doc_id"))

  /** Overlapping fixed-window chunking: 64-char windows every 48 chars. */
  def docChunks(spark: SparkSession, dir: String): DataFrame =
    Chunking.chunkFixed(T.par(spark, T.t(spark, dir, "documents")),
        size = 64, stride = 48)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Top-3 salient terms per document by linear-idf tf·idf. */
  def textTfidfTopk(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidfTopK(T.par(spark, T.t(spark, dir, "documents")), k = 3)
      .orderBy(col("doc_id"), col("rank"))

  /** Sequence packing: whitespace token counts → greedy fill of 512-token
    * bins in content-stable order across 8 hash shards. */
  def samplePackBins(spark: SparkSession, dir: String): DataFrame =
    Curation.packSequences(
      T.par(spark, T.t(spark, dir, "documents"))
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens")),
      maxTokens = 512, nShards = 8)
      .orderBy(col("doc_id"))

  /** Span-level exact dedup with reassembly: drop 20-word spans present
    * in ≥2 documents from all of them; rebuild each doc from the rest. */
  def dedupSpanExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.dropDuplicateSpans(T.par(spark, T.t(spark, dir, "documents")),
        spanWords = 20, minDf = 2)
      .orderBy(col("doc_id"))

  /** Model-based quality scoring in the engine-parity (integer-weight)
    * form: hashed bag-of-words margin per document, dim=256. */
  def qualityModelScore(spark: SparkSession, dir: String): DataFrame =
    QualityModel.integerWeightScore(
        T.par(spark, T.t(spark, dir, "documents")), dim = 256)
      .orderBy(col("doc_id"))

  /** JL sign random projection of the embedding corpus: 64 → 8 dims.
    * Flattened to one (vec_id, idx, pv) row per output element so the
    * full array content is hash-comparable (the correctness harness
    * cannot sort array-typed cells). */
  def embSignProject(spark: SparkSession, dir: String): DataFrame =
    Similarity.randomProject(T.par(spark, T.t(spark, dir, "embeddings")),
        outDim = 8, dim = 64)
      .select(col("vec_id"), posexplode(col("proj")).as(Seq("idx", "pv")))
      .orderBy(col("vec_id"), col("idx"))

  /** SemDeDup over the embedding corpus: trained k-means cells, in-cell
    * cosine ≥ 0.4 (the corpus's near-dup band, same threshold as
    * `dedup_embedding_cosine`) with connected-component min-id
    * survivors. Training is the integer micro-unit k-means
    * ([[Similarity.semanticDedupMicro]]), so the oracle replays the full
    * trajectory — 3 unrolled training iterations, cell assignment,
    * in-cell pairs, recursive-CTE components — bit-for-bit. */
  def simSemanticDedup(spark: SparkSession, dir: String): DataFrame =
    // localCheckpoint: training (persisted internally) plus the serve
    // path's three consumers (both pair-join sides, the survivor
    // anti-join) would otherwise each re-run the scan+repartition.
    Similarity.semanticDedupMicro(
        T.par(spark, T.t(spark, dir, "embeddings")).localCheckpoint(),
        threshold = 0.4, k = 16)
      .select(col("vec_id"), col("label"))
      .orderBy(col("vec_id"))

  // Mix spec for sample_token_budget: even sources 300 tokens, odd 100;
  // src19 deliberately unbudgeted (dropped). Shared with the oracle SQL.
  private val mixBudgets: Seq[(String, Long)] =
    (0 until 19).map(i => s"src$i" -> (if (i % 2 == 0) 300L else 100L))

  /** Exact token-budget mix sampling over the documents corpus. */
  def sampleTokenBudget(spark: SparkSession, dir: String): DataFrame =
    Curation.sampleTokenBudget(
      T.par(spark, T.t(spark, dir, "documents"))
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens")),
      budgets = mixBudgets.toMap, nShards = 8)
      .orderBy(col("doc_id"))

  /** Contrastive pair mining: 10 anchors, exact positive + 3 hash-panel
    * negatives each (64-bucket panel). */
  def mineContrastive(spark: SparkSession, dir: String): DataFrame = {
    val emb = T.par(spark, T.t(spark, dir, "embeddings"))
    Similarity.mineContrastivePairs(
        emb.filter(col("vec_id") < 10), emb, negatives = 3, nBuckets = 64)
      .orderBy(col("query_id"), col("pair_type"), col("draw"), col("pair_id"))
  }

  /** Fixed-point PageRank (3 iterations, integer micro-units) over the
    * symmetric near-dup graph from the bounded minhash slice — cluster
    * centrality, bit-exact across engines. */
  def graphPagerank(spark: SparkSession, dir: String): DataFrame = {
    val pairs = SharedRels.nearDupPairs500(spark, dir)
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    Components.pageRank(edges, iters = 3)
      .select(col("id").as("doc_id"), col("pr"))
      .orderBy(col("doc_id"))
  }

  /** Per-doc triangle counts over the near-dup graph ([[Components
    * .triangleCounts]], degree-ordered orientation): how clique-like
    * each near-duplicate neighborhood is — flat pair counts can't
    * distinguish a hub-and-spokes template from a mutual-copy cluster;
    * triangles can. Same edge relation as `graph_pagerank`. */
  def graphTriangles(spark: SparkSession, dir: String): DataFrame = {
    val pairs = SharedRels.nearDupPairs500(spark, dir)
    Components.triangleCounts(pairs)
      .select(col("id").as("doc_id"), col("n_tri"))
      .orderBy(col("doc_id"))
  }

  /** End-to-end BPE: train 8 merges on the corpus vocabulary, apply
    * them corpus-wide. Oracle-checked as of round 7: [[BpeSql]] replays
    * the full training trajectory (8 unrolled rounds, each with an
    * L-iteration delimited-string tokenization fixpoint) and the
    * corpus-wide serve in DuckDB; the training algorithm additionally
    * stays spec-verified against the classic subword-NMT example. */
  def textBpeTrain(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.par(spark, T.t(spark, dir, "documents"))
    val merges = SharedRels.bpeMergesFull8(spark, dir)
    docs.select(col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text"), merges).as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Per-language tokenizer fertility (BPE tokens per word) from the
    * same trained merge table as `text_bpe_train` — the multilingual
    * tokenizer-efficiency diagnostic (a language with high fertility
    * pays more sequence length per word of content). Exact integer
    * micro-units; train + serve + aggregation all replay in SQL. */
  def textBpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.par(spark, T.t(spark, dir, "documents"))
    val merges = SharedRels.bpeMergesFull8(spark, dir)
    docs.select(col("lang"),
        TextAnalysis.bpeTokenCount(col("text"), merges).cast("long").as("nt"),
        size(filter(split(Dedup.normalize(col("text")), " "),
          w => w =!= "")).cast("long").as("nw"))
      .groupBy(col("lang"))
      .agg(sum(col("nt")).as("n_bpe_tokens"), sum(col("nw")).as("n_words"),
        expr("(1000000 * sum(nt)) div greatest(sum(nw), 1)")
          .as("fertility_micro"))
      .orderBy(col("lang"))
  }

  /** Per-label centroid cosine separation — the class-geometry
    * diagnostic ([[Similarity.groupCentroidSeparation]] keyed by the
    * embeddings table's label column). */
  def embLabelCentroids(spark: SparkSession, dir: String): DataFrame =
    Similarity.groupCentroidSeparation(
        T.par(spark, T.t(spark, dir, "embeddings")), "label")
      .orderBy(col("g1"), col("g2"))

  /** Int8 scalar quantization of the embedding corpus, flattened to one
    * (vec_id, scale, idx, qv) row per code so the full quantized content
    * is hash-comparable (the harness cannot sort array-typed cells). */
  def embQuantizeInt8(spark: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(T.par(spark, T.t(spark, dir, "embeddings")))
      .select(col("vec_id"), col("scale"),
        posexplode(col("q")).as(Seq("idx", "qv")))
      .orderBy(col("vec_id"), col("idx"))

  // Integer weight vector served through the logistic artifact (seeded,
  // data-independent — the stand-in for a trainLogistic run). Integer
  // values keep the served margin an exact double sum (order-independent,
  // engine-portable); shared with the oracle SQL's literal list.
  private val servedWeights: Array[Long] = {
    val r = new scala.util.Random(5)
    Array.fill(64)((r.nextInt(21) - 10).toLong)
  }

  /** Train-once / persist / serve-everywhere, end-to-end under the gate:
    * BPE merges, integer logistic weights, and micro-unit k-means
    * centroids are trained (or deterministically derived), written
    * through [[graft.sources.Artifacts]], loaded back, and SERVED —
    * margin/keep from the loaded weights, nearest-cell assignment from
    * the loaded centroids — in one relation the DuckDB oracle replays
    * exactly (training included: the centroids are integer micro-units,
    * the margins exact integer sums). The BPE merge table rides the same
    * save/load round-trip and is asserted equal to the trained table
    * in-query; its token counts are excluded from the output because
    * iterative merge APPLICATION has no SQL mirror (`text_bpe_train`
    * covers that serving path, rows-only; the load-equals-saved laws
    * stay in ArtifactsSpec). */
  def artifactTrainServe(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Artifacts
    val docs = T.par(spark, T.t(spark, dir, "documents"))
    val emb = T.par(spark, T.t(spark, dir, "embeddings"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-artifacts").toString
    // train on a bounded deterministic sample, serve corpus-wide — the
    // production split (a maintenance job trains, every run serves)
    val trainedMerges = SharedRels.bpeMerges500x8(spark, dir)
    Artifacts.saveBpeMerges(spark, trainedMerges, s"$tmp/bpe")
    Artifacts.saveCentroidsMicro(spark,
      SharedRels.ivfCents2000k8(spark, dir), s"$tmp/cents")
    Artifacts.saveLogistic(spark, servedWeights.map(_.toDouble), 0.0, s"$tmp/logit")
    val merges = Artifacts.loadBpeMerges(spark, s"$tmp/bpe")
    require(merges == trainedMerges,
      "BPE merge table drifted through the save/load round-trip")
    val (w, b) = Artifacts.loadLogistic(spark, s"$tmp/logit")
    val cents = Artifacts.loadCentroidsMicro(spark, s"$tmp/cents")
    docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      .join(QualityModel.scoreLogistic(docs, w, b)
        .select(col("doc_id"), col("margin").cast("long").as("margin")),
        Seq("doc_id"))
      .join(Similarity.assignCellsMicro(emb, cents)
        .withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("margin"),
        (col("margin") > 0).as("keep"), col("cell"))
      .orderBy(col("doc_id"))
  }

  /** PR threshold sweep of the integer-weight quality scorer against an
    * is-English label — every distinct margin as a cut, tp/fp/fn and
    * precision/recall in exact micro-units. */
  def qualityPrCurve(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.t(spark, dir, "documents")
    val scored = QualityModel
      .integerWeightScore(T.par(spark, docs), dim = 256)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .withColumn("label", (col("lang") === "en").cast("int"))
    QualityModel.prCurve(scored, "margin", "label")
      .orderBy(col("threshold"))
  }

  /** Exact ROC-AUC of the integer-weight scorer against the is-English
    * label — one row, every count an exact integer. */
  def qualityAuc(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.t(spark, dir, "documents")
    val scored = QualityModel
      .integerWeightScore(T.par(spark, docs), dim = 256)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .withColumn("label", (col("lang") === "en").cast("int"))
    QualityModel.aucExact(scored, "margin", "label")
  }

  /** Model-free text clustering end-to-end: raw documents → dense
    * hashing-trick embeddings → spherical k-means (integer micro-unit
    * training on a bounded deterministic sample) → corpus-wide cell
    * assignment. The oracle rebuilds the dense embeddings from the hash
    * formula and replays the 2 unrolled training iterations; the
    * planted-topic separation law stays spec-asserted in
    * TextAnalysisSpec. */
  def textClusterAssign(spark: SparkSession, dir: String): DataFrame = {
    // the dense relation feeds seeding + every training pass + the serve
    // scan: localCheckpoint so the multi-shuffle hash-embedding subtree
    // runs ONCE, not once per consumer (at 100 TB: persist the embedded
    // corpus to cluster storage between the two jobs)
    val dense = TextAnalysis.denseHashEmbedding(
      T.par(spark, T.t(spark, dir, "documents")), dim = 64)
      .localCheckpoint()
    val cents = Similarity.trainIvfCentroidsMicro(
      dense.filter(col("doc_id") < 500), k = 8, iters = 2, idCol = "doc_id")
    Similarity.assignCellsMicro(dense, cents, idCol = "doc_id")
      .orderBy(col("doc_id"))
  }

  /** Feature-hashed 64-dim document embeddings (sparse scalar rows). */
  def textHashEmbedding(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.hashEmbedding(T.par(spark, T.t(spark, dir, "documents")),
        dim = 64)
      .orderBy(col("doc_id"), col("idx"))

  /** Corpus-bigram LM quality score per document (exact micro-units). */
  def textLmBigram(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramLmScore(T.par(spark, T.t(spark, dir, "documents")))
      .orderBy(col("doc_id"))

  /** Trigram LM with interpolated backoff (4:2:1 rational weights,
    * Laplace at every order, exact integer micro-units throughout). */
  def textLmTrigram(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.trigramLmScore(T.par(spark, T.t(spark, dir, "documents")))
      .orderBy(col("doc_id"))

  /** Corpus drift: top-50 words by two-sample χ² contribution between
    * the English slice and the rest — the snapshot-vs-snapshot
    * distribution monitor, exactly rational (no logs), so even the
    * statistic is hash-oracle-checked. */
  def textDriftChisq(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.par(spark, T.t(spark, dir, "documents"))
    TextAnalysis.corpusDriftChisq(
      docs.filter(col("lang") === "en"), docs.filter(col("lang") =!= "en"), k = 50)
  }

  /** Chunk→doc mean pooling: 4 consecutive vec_ids pool to one pseudo-doc
    * vector, flattened to exact (group, idx, mean_micro, n) rows. */
  def embMeanPool(spark: SparkSession, dir: String): DataFrame =
    Similarity.meanPoolMicro(
      T.par(spark, T.t(spark, dir, "embeddings"))
        .withColumn("group_id", expr("vec_id div 4")),
      groupCol = "group_id")
      .orderBy(col("group_id"), col("idx"))

  /** Within-doc repeated-span trimming at 2-word granularity (short
    * spans so the word-soup corpus exhibits real repeats). */
  def dedupSpanWithin(spark: SparkSession, dir: String): DataFrame =
    Dedup.dropRepeatedSpansWithinDoc(
        T.par(spark, T.t(spark, dir, "documents")), spanWords = 2)
      .orderBy(col("doc_id"))

  /** Typo clustering over the vocabulary via the FastSS deletion-
    * neighborhood join ([[TextAnalysis.fuzzyVocabPairs]]). The word-soup
    * corpus has no organic near-miss words (30 distinct words, all ≥ 2
    * edits apart), so each doc plants one deterministic deletion typo of
    * its first word (position keyed by doc_id) — the `text_pii_redact`
    * precedent. The oracle is the BRUTE-FORCE levenshtein self-join (an
    * independent implementation), so a hash match also proves the
    * deletion-neighborhood candidates complete. */
  def textFuzzyPairs(spark: SparkSession, dir: String): DataFrame = {
    val w = split(Dedup.normalize(col("text")), " ").getItem(0)
    val p = pmod(col("doc_id"), length(w)) + lit(1)
    val typo = concat(w.substr(lit(1), p - lit(1)),
      w.substr(p + lit(1), length(w)))
    val aug = T.t(spark, dir, "documents").select(col("doc_id"),
      concat(col("text"), lit(" "),
        when(length(w) >= 1, typo).otherwise(lit(""))).as("text"))
    TextAnalysis.fuzzyVocabPairs(T.par(spark, aug))
      .orderBy(col("w1"), col("w2"))
  }

  /** Flesch reading-ease / FK grade in exact milli-units (map-only). */
  def textReadability(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.readability(T.par(spark, T.t(spark, dir, "documents")))
      .orderBy(col("doc_id"))

  /** Heaps-law bigram-vocabulary growth curve, 50-doc buckets. */
  def textVocabGrowth(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabGrowth(T.par(spark, T.t(spark, dir, "documents")),
        bucketDocs = 50)
      .orderBy(col("bucket"))

  // DuckDB cosine between two DOUBLE[]-cast embeddings (left-to-right
  // fold, matching the VecDot kernel).
  private def cosDuck(a: String, b: String) =
    s"""(list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[])) /
       |   (sqrt(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[]))) *
       |    sqrt(list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[])))))""".stripMargin

  // DuckDB mirror of TextAnalysis.tokenCount.
  private val nTokensSql = "len(string_split_regex(trim(text), '\\s+'))"

  val all: Seq[Query] = Seq(
    Query("text_readability", textReadability,
      s"""WITH n AS (SELECT doc_id, text, ${normSql("text")} AS norm
         |  FROM documents),
         |c AS (SELECT doc_id,
         |    CASE WHEN norm = '' THEN 0
         |         ELSE len(string_split(norm, ' ')) END AS w0,
         |    len(regexp_extract_all(text, '[.!?]+')) AS s0,
         |    len(regexp_extract_all(norm, '[aeiouy]+')) AS vruns,
         |    len(regexp_extract_all(norm, '[^ ]*[aeiouy][^ ]*')) AS wvowel
         |  FROM n),
         |m AS (SELECT doc_id, greatest(w0, 1) AS words,
         |    greatest(s0, 1) AS sentences,
         |    vruns + greatest(w0, 1) - wvowel AS syllables
         |  FROM c)
         |SELECT doc_id, CAST(words AS BIGINT) AS words,
         |  CAST(sentences AS BIGINT) AS sentences,
         |  CAST(syllables AS BIGINT) AS syllables,
         |  CAST(greatest(0, (206835 * sentences * words
         |      - 1015 * words * words - 84600 * syllables * sentences)
         |    // (sentences * words)) AS BIGINT) AS fre_milli,
         |  CAST(greatest(0, (390 * words * words
         |      + 11800 * syllables * sentences - 15590 * sentences * words)
         |    // (sentences * words)) AS BIGINT) AS fkgl_milli
         |FROM m ORDER BY doc_id""".stripMargin),
    Query("text_vocab_growth", textVocabGrowth,
      s"""WITH n AS (SELECT doc_id, ${normSql("text")} AS norm
         |  FROM documents),
         |w AS (SELECT doc_id, string_split(norm, ' ') AS ws FROM n),
         |g AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
         |    i -> ws[i] || ' ' || ws[i + 1])) AS gram
         |  FROM w WHERE len(ws) >= 2),
         |f AS (SELECT gram, min(doc_id) AS first_id FROM g GROUP BY gram),
         |nb AS (SELECT first_id // 50 AS bucket, count(*) AS new_grams
         |  FROM f GROUP BY 1),
         |b AS (SELECT doc_id // 50 AS bucket, count(*) AS docs_n
         |  FROM documents GROUP BY 1),
         |j AS (SELECT b.bucket, b.docs_n,
         |    coalesce(nb.new_grams, 0) AS new_grams
         |  FROM b LEFT JOIN nb USING (bucket))
         |SELECT bucket, CAST(docs_n AS BIGINT) AS docs_n,
         |  CAST(new_grams AS BIGINT) AS new_grams,
         |  CAST((SELECT sum(j2.new_grams) FROM j j2
         |        WHERE j2.bucket <= j.bucket) AS BIGINT) AS cum_vocab
         |FROM j ORDER BY bucket""".stripMargin),
    // Brute-force ground truth for the FastSS deletion-neighborhood join:
    // the same typo-planted corpus, then a direct levenshtein self-join
    // over the vocabulary (length band |Δlen| ≤ 1 is implied by lev ≤ 1).
    Query("text_fuzzy_pairs", textFuzzyPairs,
      s"""WITH base AS (SELECT doc_id, ${normSql("text")} AS norm FROM documents),
         |fw AS (SELECT doc_id, norm, string_split(norm, ' ')[1] AS w FROM base),
         |aug AS (SELECT concat(norm, ' ',
         |    CASE WHEN length(w) >= 1 THEN concat(
         |      substr(w, 1, CAST(doc_id % length(w) AS INTEGER)),
         |      substr(w, CAST(doc_id % length(w) + 2 AS INTEGER), length(w)))
         |    ELSE '' END) AS t FROM fw),
         |vocab AS (SELECT DISTINCT gram AS w FROM (
         |    SELECT unnest(string_split(t, ' ')) AS gram FROM aug)
         |  WHERE length(gram) BETWEEN 2 AND 24)
         |SELECT a.w AS w1, b.w AS w2
         |FROM vocab a JOIN vocab b
         |  ON a.w < b.w AND abs(length(a.w) - length(b.w)) <= 1
         |  AND levenshtein(a.w, b.w) <= 1
         |ORDER BY w1, w2""".stripMargin),
    // Full BPE training + serving replay (BpeSql): 8 unrolled training
    // rounds over the vocabulary, delimited-string merge application,
    // corpus-wide token counts.
    Query("text_bpe_train", textBpeTrain, BpeSql.textBpeTrainSql(normSql("text"), k = 8)),
    Query("text_bpe_fertility", textBpeFertility,
      BpeSql.textBpeFertilitySql(normSql("text"), k = 8)),
    // Replay of the micro-unit k-means trajectory (3 iterations), serve
    // assignment, in-cell pair generation, recursive-CTE connected
    // components, and min-id survivor selection — the full SemDeDup
    // decision, bit-for-bit.
    Query("sim_semantic_dedup", simSemanticDedup,
      s"""WITH RECURSIVE src AS (
         |  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |${KmeansSql.trainCtes("src", "TRUE", k = 16, iters = 3, dim = 64)},
         |cent AS (SELECT cell, cm FROM c3),
         |asg AS (${KmeansSql.assignSql("src", "cent")}),
         |pairs AS (SELECT a.vid AS id_a, b.vid AS id_b
         |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vid < b.vid
         |  JOIN src va ON va.vid = a.vid
         |  JOIN src vb ON vb.vid = b.vid
         |  WHERE round(${cosDuck("va.v", "vb.v")}, 6) >= 0.4),
         |edges AS (SELECT id_a AS u, id_b AS w FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(id, lab) AS (
         |  SELECT DISTINCT u, u FROM edges
         |  UNION
         |  SELECT e.w, r.lab FROM reach r JOIN edges e ON e.u = r.id),
         |losers AS (SELECT id FROM (
         |    SELECT id, min(lab) AS component FROM reach GROUP BY id)
         |  WHERE component <> id)
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id NOT IN (SELECT id FROM losers)
         |ORDER BY vec_id""".stripMargin),
    // Dense hashing-trick embeddings rebuilt from the hash formula, then
    // the 2-iteration micro-unit k-means replay and corpus-wide serve.
    Query("text_cluster_assign", textClusterAssign,
      s"""WITH n AS (SELECT doc_id, ${normSql("text")} AS norm FROM documents),
         |w AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS wd FROM n),
         |f AS (SELECT doc_id,
         |        CAST(${hashSql(31, "wd")} % 64 AS INTEGER) AS idx,
         |        (${hashSql(47, "wd")} % 2) * 2 - 1 AS sgn
         |      FROM w WHERE wd <> ''),
         |sp AS (SELECT doc_id, idx, CAST(sum(sgn) AS BIGINT) AS value
         |       FROM f GROUP BY doc_id, idx),
         |ids AS (SELECT DISTINCT doc_id FROM sp),
         |src AS (SELECT i.doc_id AS vid,
         |          list(CAST(coalesce(s.value, 0) AS DOUBLE) ORDER BY r.range) AS v
         |        FROM ids i CROSS JOIN range(64) r
         |        LEFT JOIN sp s ON s.doc_id = i.doc_id AND s.idx = r.range
         |        GROUP BY i.doc_id),
         |${KmeansSql.trainCtes("src", "vid < 500", k = 8, iters = 2, dim = 64)},
         |cent AS (SELECT cell, cm FROM c2),
         |asg AS (${KmeansSql.assignSql("src", "cent")})
         |SELECT vid AS doc_id, cell FROM asg
         |ORDER BY doc_id""".stripMargin),
    // Served artifacts replayed: micro k-means training + assignment for
    // `cell`, the seeded integer weight list for `margin`/`keep`,
    // whitespace token counts for `n_tokens`.
    Query("artifact_train_serve", artifactTrainServe, {
      val wList = servedWeights.mkString("[", ", ", "]")
      s"""WITH src AS (
         |  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |${KmeansSql.trainCtes("src", "vid < 2000", k = 8, iters = 2, dim = 64)},
         |cent AS (SELECT cell, cm FROM c2),
         |asg AS (${KmeansSql.assignSql("src", "cent")}),
         |nn AS (SELECT doc_id, ${normSql("text")} AS norm FROM documents),
         |ww AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS wd FROM nn),
         |ff AS (SELECT doc_id, CAST(${hashSql(77, "wd")} % 64 AS INTEGER) AS bucket,
         |         count(*) AS cnt
         |       FROM ww WHERE wd <> '' GROUP BY 1, 2),
         |ss AS (SELECT doc_id,
         |         CAST(sum(cnt * ($wList)[bucket + 1]) AS BIGINT) AS margin
         |       FROM ff GROUP BY doc_id)
         |SELECT d.doc_id, CAST($nTokensSql AS INTEGER) AS n_tokens,
         |  CAST(coalesce(ss.margin, 0) AS BIGINT) AS margin,
         |  coalesce(ss.margin, 0) > 0 AS keep,
         |  a.cell
         |FROM documents d
         |LEFT JOIN ss USING (doc_id)
         |JOIN asg a ON a.vid = d.doc_id
         |ORDER BY doc_id""".stripMargin
    }),
    Query("dedup_span_within", dedupSpanWithin,
      s"""WITH w AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS ws
         |           FROM documents),
         |s AS (SELECT doc_id, CAST((r.range - 1) // 2 AS INTEGER) AS span_idx,
         |        array_to_string(ws[CAST(r.range AS INTEGER) :
         |          CAST(r.range + 1 AS INTEGER)], ' ') AS span
         |      FROM w CROSS JOIN range(1, 100001, 2) r
         |      WHERE r.range <= len(ws)),
         |g AS (SELECT doc_id, span, min(span_idx) AS first_idx,
         |        count(*) AS occ
         |      FROM s GROUP BY doc_id, span)
         |SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_spans,
         |  CAST(sum(occ - 1) AS BIGINT) AS n_dropped,
         |  string_agg(span, ' ' ORDER BY first_idx) AS kept_text
         |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("text_hash_embedding", textHashEmbedding,
      s"""WITH n AS (SELECT doc_id, ${normSql("text")} AS norm FROM documents),
         |w AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS wd FROM n),
         |f AS (SELECT doc_id,
         |        CAST(${hashSql(31, "wd")} % 64 AS INTEGER) AS idx,
         |        (${hashSql(47, "wd")} % 2) * 2 - 1 AS sgn
         |      FROM w WHERE wd <> '')
         |SELECT doc_id, idx, CAST(sum(sgn) AS BIGINT) AS value
         |FROM f GROUP BY doc_id, idx
         |ORDER BY doc_id, idx""".stripMargin),
    Query("quality_auc", qualityAuc,
      s"""WITH $marginCte,
         |lab AS (SELECT s.doc_id, s.margin,
         |          CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS label
         |        FROM s JOIN documents d USING (doc_id)),
         |per AS (SELECT margin AS sc, count(*) AS n,
         |          CAST(sum(label) AS BIGINT) AS pos
         |        FROM lab GROUP BY margin),
         |per2 AS (SELECT sc, n, pos, n - pos AS neg FROM per),
         |conc AS (SELECT CAST(coalesce(sum(a.neg * b.pos), 0) AS BIGINT)
         |           AS concordant
         |         FROM per2 a JOIN per2 b ON a.sc < b.sc),
         |t AS (SELECT CAST(coalesce(sum(pos * neg), 0) AS BIGINT) AS tied,
         |        CAST(coalesce(sum(pos), 0) AS BIGINT) AS n_pos,
         |        CAST(coalesce(sum(neg), 0) AS BIGINT) AS n_neg
         |      FROM per2)
         |SELECT n_pos, n_neg, concordant, tied,
         |  CAST(CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0
         |    ELSE (1000000 * concordant + 500000 * tied) // (n_pos * n_neg)
         |    END AS BIGINT) AS auc_micro
         |FROM t CROSS JOIN conc""".stripMargin),
    // Laplace-smoothed bigram conditionals in integer micro-units; the
    // 100k-position range cap matches the doc_chunks convention (the
    // corpus stays far below it, ChunkingSpec-asserted).
    Query("text_lm_bigram", textLmBigram,
      s"""WITH w AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS ws
         |           FROM documents),
         |bg AS (SELECT doc_id,
         |         ws[CAST(r.range + 1 AS INTEGER)] AS w1,
         |         ws[CAST(r.range + 1 AS INTEGER)] || ' ' ||
         |           ws[CAST(r.range + 2 AS INTEGER)] AS b
         |       FROM w CROSS JOIN range(0, 100000) r
         |       WHERE r.range <= len(ws) - 2),
         |cb AS (SELECT b, count(*) AS cb FROM bg GROUP BY b),
         |cw AS (SELECT w1, count(*) AS cw FROM bg GROUP BY w1),
         |vv AS (SELECT count(DISTINCT w1) AS v FROM bg),
         |db AS (SELECT doc_id, b, w1, count(*) AS n FROM bg GROUP BY 1, 2, 3),
         |s AS (SELECT db.doc_id, CAST(sum(db.n) AS BIGINT) AS n_bigrams,
         |        CAST(sum(db.n * ((1000000 * (cb.cb + 1)) //
         |            (cw.cw + (SELECT v FROM vv)))) // sum(db.n) AS BIGINT)
         |          AS lm_micro
         |      FROM db JOIN cb USING (b) JOIN cw USING (w1)
         |      GROUP BY db.doc_id)
         |SELECT d.doc_id, CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |  CAST(coalesce(s.lm_micro, 0) AS BIGINT) AS lm_micro
         |FROM documents d LEFT JOIN s USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
    // Trigram replay: every count relation re-derived from the same
    // exploded trigram pass; each order's Laplace conditional floored
    // separately, then the 4:2:1 // 7 combine — all operands
    // non-negative, so // (floor) and div (truncate) agree.
    // (MATERIALIZED: the trigram relation feeds 7 consumers — inlined,
    // DuckDB re-plans the explode per consumer and the gate runs >90 s;
    // materialized it runs in ~0.1 s.)
    Query("text_lm_trigram", textLmTrigram,
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
         |c3 AS (SELECT t, count(*) AS c3 FROM tg GROUP BY t),
         |x2 AS (SELECT b12, count(*) AS ctx2 FROM tg GROUP BY b12),
         |c23 AS (SELECT b23, count(*) AS c23 FROM tg GROUP BY b23),
         |x1 AS (SELECT w2, count(*) AS ctx1 FROM tg GROUP BY w2),
         |c1 AS (SELECT w3, count(*) AS c1 FROM tg GROUP BY w3),
         |nv AS (SELECT count(*) AS n, count(DISTINCT w3) AS v FROM tg),
         |dt AS (SELECT doc_id, t, b12, b23, w2, w3, count(*) AS n
         |       FROM tg GROUP BY 1, 2, 3, 4, 5, 6),
         |s AS (SELECT dt.doc_id, CAST(sum(dt.n) AS BIGINT) AS n_trigrams,
         |        CAST(sum(dt.n * ((4 * ((1000000 * (c3.c3 + 1)) // (x2.ctx2 + nv.v))
         |                        + 2 * ((1000000 * (c23.c23 + 1)) // (x1.ctx1 + nv.v))
         |                        +     ((1000000 * (c1.c1 + 1)) // (nv.n + nv.v))) // 7))
         |          // sum(dt.n) AS BIGINT) AS lm3_micro
         |      FROM dt JOIN c3 USING (t) JOIN x2 USING (b12)
         |           JOIN c23 USING (b23) JOIN x1 USING (w2) JOIN c1 USING (w3)
         |           CROSS JOIN nv
         |      GROUP BY dt.doc_id)
         |SELECT d.doc_id, CAST(coalesce(s.n_trigrams, 0) AS BIGINT) AS n_trigrams,
         |  CAST(coalesce(s.lm3_micro, 0) AS BIGINT) AS lm3_micro
         |FROM documents d LEFT JOIN s USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
    // χ² drift replay: same closed-form per-word contribution, HUGEINT
    // intermediates mirroring Spark's DECIMAL(38,0); dividend sign —
    // the squared difference — is non-negative, so // and div agree.
    Query("text_drift_chisq", textDriftChisq,
      s"""WITH wa AS (SELECT unnest(string_split(${normSql("text")}, ' ')) AS word
         |           FROM documents WHERE lang = 'en'),
         |wb AS (SELECT unnest(string_split(${normSql("text")}, ' ')) AS word
         |       FROM documents WHERE lang <> 'en'),
         |ca AS (SELECT word, count(*) AS o_a FROM wa WHERE word <> '' GROUP BY 1),
         |cb AS (SELECT word, count(*) AS o_b FROM wb WHERE word <> '' GROUP BY 1),
         |j AS (SELECT word, coalesce(o_a, 0) AS o_a, coalesce(o_b, 0) AS o_b
         |      FROM ca FULL JOIN cb USING (word)),
         |t AS (SELECT sum(o_a) AS na, sum(o_b) AS nb FROM j)
         |SELECT j.word, j.o_a, j.o_b,
         |  CAST((CAST(1000000 AS HUGEINT)
         |        * (CAST(j.o_a AS HUGEINT) * t.nb - CAST(j.o_b AS HUGEINT) * t.na)
         |        * (CAST(j.o_a AS HUGEINT) * t.nb - CAST(j.o_b AS HUGEINT) * t.na)
         |        * CAST(t.na + t.nb AS HUGEINT))
         |      // (CAST(t.na AS HUGEINT) * CAST(t.nb AS HUGEINT)
         |         * CAST(j.o_a + j.o_b AS HUGEINT))
         |    AS BIGINT) AS chi2_micro
         |FROM j CROSS JOIN t
         |ORDER BY chi2_micro DESC, j.word
         |LIMIT 50""".stripMargin),
    // Mean pooling in exact micro-units; +1e9 offset keeps the dividend
    // non-negative so DuckDB's flooring // matches Spark's truncating div.
    // Centroid separation: the same offset-mean as emb_mean_pool keyed
    // by label, then pairwise cosine from exact integer dot/norm sums.
    Query("emb_label_centroids", embLabelCentroids,
      """WITH x AS (SELECT label AS g, CAST(r.range AS INTEGER) AS idx,
        |    CAST(floor(CAST(embedding[CAST(r.range + 1 AS INTEGER)] AS DOUBLE)
        |      * 1000000) AS BIGINT) + 1000000000 AS m
        |  FROM embeddings CROSS JOIN range(64) r),
        |c AS (SELECT g, idx,
        |    CAST(sum(m) // count(*) - 1000000000 AS BIGINT) AS v
        |  FROM x GROUP BY g, idx),
        |p AS (SELECT a.g AS g1, b.g AS g2, a.v AS x1, b.v AS x2
        |  FROM c a JOIN c b ON a.idx = b.idx AND a.g < b.g)
        |SELECT g1, g2,
        |  round(CAST(sum(x1 * x2) AS DOUBLE) /
        |    (sqrt(CAST(greatest(sum(x1 * x1), 1) AS DOUBLE)) *
        |     sqrt(CAST(greatest(sum(x2 * x2), 1) AS DOUBLE))), 6)
        |    AS cos_centroid
        |FROM p GROUP BY g1, g2
        |ORDER BY g1, g2""".stripMargin),
    Query("emb_mean_pool", embMeanPool,
      """WITH x AS (SELECT vec_id // 4 AS group_id, CAST(r.range AS INTEGER) AS idx,
        |    CAST(floor(CAST(embedding[CAST(r.range + 1 AS INTEGER)] AS DOUBLE)
        |      * 1000000) AS BIGINT) + 1000000000 AS m
        |  FROM embeddings CROSS JOIN range(64) r)
        |SELECT group_id, idx,
        |  CAST(sum(m) // count(*) - 1000000000 AS BIGINT) AS mean_micro,
        |  count(*) AS n_vecs
        |FROM x GROUP BY group_id, idx
        |ORDER BY group_id, idx""".stripMargin),
    Query("emb_quantize_int8", embQuantizeInt8,
      """WITH a AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x)))
        |      AS amax
        |  FROM embeddings)
        |SELECT vec_id,
        |  CASE WHEN amax = 0 THEN 0.0 ELSE amax / 127.0 END AS scale,
        |  CAST(r.range AS INTEGER) AS idx,
        |  CASE WHEN amax = 0 THEN 0
        |    ELSE CAST(round(v[CAST(r.range + 1 AS INTEGER)] / (amax / 127.0))
        |      AS INTEGER) END AS qv
        |FROM a CROSS JOIN range(64) r
        |ORDER BY vec_id, idx""".stripMargin),
    Query("graph_triangles", graphTriangles,
      s"""WITH ${LlmQueries.gramsCteFor("grams", "doc_id < 500")},
         |sig AS (SELECT id, ${LlmQueries.sigCols} FROM grams GROUP BY id),
         |bands AS (SELECT id, r.range AS band, ${LlmQueries.bandCase} AS band_key
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
         |pairs AS (SELECT i.id_a, i.id_b FROM inter i
         |  JOIN sizes sa ON sa.id = i.id_a
         |  JOIN sizes sb ON sb.id = i.id_b
         |  WHERE i.i / (sa.sz + sb.sz - i.i) >= 0.5),
         |und AS (SELECT id_a AS u, id_b AS v FROM pairs),
         |deg AS (SELECT id, count(*) AS d FROM (
         |  SELECT u AS id FROM und UNION ALL SELECT v FROM und) GROUP BY id),
         |o AS (SELECT
         |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
         |      THEN e.u ELSE e.v END AS s,
         |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
         |      THEN e.v ELSE e.u END AS t
         |  FROM und e JOIN deg du ON du.id = e.u JOIN deg dv ON dv.id = e.v),
         |ot AS (SELECT o.s, o.t, d.d AS dt FROM o JOIN deg d ON d.id = o.t),
         |w AS (SELECT o1.s AS a, o1.t AS b, o2.t AS c
         |  FROM ot o1 JOIN ot o2 ON o1.s = o2.s
         |    AND (o1.dt < o2.dt OR (o1.dt = o2.dt AND o1.t < o2.t))),
         |tri AS (SELECT w.a, w.b, w.c
         |  FROM w JOIN o ON o.s = w.b AND o.t = w.c),
         |pv AS (SELECT id, count(*) AS n_tri FROM (
         |  SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
         |  UNION ALL SELECT c FROM tri) GROUP BY id)
         |SELECT id AS doc_id, CAST(n_tri AS BIGINT) AS n_tri
         |FROM pv ORDER BY doc_id""".stripMargin),
    Query("graph_pagerank", graphPagerank, {
      val iterCtes = (1 to 3).map { i =>
        s"""c$i AS (SELECT e.dst AS id, CAST(sum(p.pr // o.outdeg) AS BIGINT) AS s
           |  FROM edges e JOIN p${i - 1} p ON p.id = e.src
           |  JOIN od o ON o.src = e.src
           |  GROUP BY e.dst),
           |p$i AS (SELECT n.id,
           |    (3 * (SELECT u0 FROM k)) // 20 + (17 * coalesce(c.s, 0)) // 20 AS pr
           |  FROM nodes n LEFT JOIN c$i c USING (id))""".stripMargin
      }.mkString(",\n")
      s"""WITH ${LlmQueries.gramsCteFor("grams", "doc_id < 500")},
         |sig AS (SELECT id, ${LlmQueries.sigCols} FROM grams GROUP BY id),
         |bands AS (SELECT id, r.range AS band, ${LlmQueries.bandCase} AS band_key
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
         |pairs AS (SELECT i.id_a, i.id_b FROM inter i
         |  JOIN sizes sa ON sa.id = i.id_a
         |  JOIN sizes sb ON sb.id = i.id_b
         |  WHERE i.i / (sa.sz + sb.sz - i.i) >= 0.5),
         |edges AS (SELECT DISTINCT src, dst FROM (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs)),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |k AS (SELECT CAST(1000000000000 // count(*) AS BIGINT) AS u0 FROM nodes),
         |od AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         |p0 AS (SELECT id, (SELECT u0 FROM k) AS pr FROM nodes),
         |$iterCtes
         |SELECT id AS doc_id, CAST(pr AS BIGINT) AS pr
         |FROM p3 ORDER BY doc_id""".stripMargin
    }),
    Query("mine_contrastive_pairs", mineContrastive,
      s"""WITH ring AS (
         |  SELECT vec_id AS pair_id, embedding, md5(CAST(vec_id AS VARCHAR)) AS ch,
         |    CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 4) AS BIGINT) % 64
         |      AS bucket
         |  FROM embeddings),
         |panel AS (SELECT row_number() OVER (ORDER BY bucket) - 1 AS idx,
         |    pair_id, embedding FROM (
         |    SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY ch) AS rn
         |    FROM ring) WHERE rn = 1),
         |psize AS (SELECT count(*) AS n FROM panel),
         |anchors AS (SELECT vec_id AS query_id, embedding AS qv
         |            FROM embeddings WHERE vec_id < 10),
         |pos AS (SELECT query_id, pair_id, sim,
         |          'positive' AS pair_type, 0 AS draw FROM (
         |    SELECT a.query_id, b.vec_id AS pair_id,
         |      round(${cosDuck("a.qv", "b.embedding")}, 6) AS sim,
         |      row_number() OVER (PARTITION BY a.query_id
         |        ORDER BY round(${cosDuck("a.qv", "b.embedding")}, 6) DESC, b.vec_id)
         |        AS rn
         |    FROM anchors a JOIN embeddings b ON b.vec_id <> a.query_id)
         |  WHERE rn = 1),
         |draws AS (SELECT query_id, qv, CAST(d.range + 1 AS INTEGER) AS draw,
         |    CAST('0x' || substring(md5('13|' || CAST(query_id AS VARCHAR) || '|'
         |      || CAST(d.range + 1 AS VARCHAR)), 1, 15) AS BIGINT)
         |      % (SELECT n FROM psize) AS idx
         |  FROM anchors CROSS JOIN range(3) d),
         |neg AS (SELECT w.query_id, p.pair_id,
         |    round(${cosDuck("w.qv", "p.embedding")}, 6) AS sim,
         |    'negative' AS pair_type, w.draw
         |  FROM draws w JOIN panel p USING (idx)
         |  WHERE p.pair_id <> w.query_id)
         |SELECT * FROM pos UNION ALL SELECT * FROM neg
         |ORDER BY query_id, pair_type, draw, pair_id""".stripMargin),
    Query("sample_token_budget", sampleTokenBudget, {
      val budgetRows = mixBudgets
        .map { case (s, t) => s"('$s', CAST($t AS BIGINT))" }.mkString(", ")
      s"""WITH t AS (SELECT doc_id, source,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_tokens,
         |    md5(CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents),
         |s AS (SELECT *, CAST(CAST('0x' || substring(h, 1, 2) AS BIGINT) % 8
         |        AS INTEGER) AS shard FROM t),
         |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source, shard
         |        ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |        AS cum FROM s),
         |o AS (SELECT source, shard, sum(n_tokens) AS tot FROM s
         |      GROUP BY source, shard),
         |o2 AS (SELECT source, shard,
         |        coalesce(sum(tot) OVER (PARTITION BY source ORDER BY shard
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
         |       FROM o),
         |b AS (SELECT * FROM (VALUES $budgetRows) AS v(source, budget))
         |SELECT c.doc_id, c.source, c.n_tokens,
         |  CAST(c.cum + o2.off AS BIGINT) AS budget_pos
         |FROM c
         |JOIN o2 ON c.source = o2.source AND c.shard = o2.shard
         |JOIN b ON c.source = b.source
         |WHERE c.cum + o2.off <= b.budget
         |ORDER BY doc_id""".stripMargin
    }),
    Query("emb_sign_project", embSignProject, {
      // the same seeded ±1 matrix the Spark expression carries
      val m = Similarity.signMatrix(8, 64)
      val elems = m.map(r =>
        "round(list_dot_product(CAST(embedding AS DOUBLE[]), [" +
          r.map(v => if (v > 0) "1.0" else "-1.0").mkString(",") +
          "]), 6)").mkString(",\n    ")
      s"""WITH p AS (SELECT vec_id, [
         |    $elems] AS proj
         |FROM embeddings)
         |SELECT vec_id, CAST(r.range AS INTEGER) AS idx,
         |  proj[CAST(r.range + 1 AS INTEGER)] AS pv
         |FROM p CROSS JOIN range(8) r
         |ORDER BY vec_id, idx""".stripMargin
    }),
    Query("quality_model_score", qualityModelScore,
      s"""WITH $marginCte
         |SELECT doc_id, n_features, margin, margin > 0 AS keep
         |FROM s ORDER BY doc_id""".stripMargin),
    Query("quality_pr_curve", qualityPrCurve,
      s"""WITH $marginCte,
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
         |        GROUP BY a.threshold)
         |SELECT threshold, tp, np - tp AS fp,
         |  (SELECT p FROM tot) - tp AS fn,
         |  CAST(tp * 1000000 // np AS BIGINT) AS precision_micro,
         |  CAST(CASE WHEN (SELECT p FROM tot) = 0 THEN 0
         |    ELSE tp * 1000000 // (SELECT p FROM tot) END AS BIGINT)
         |    AS recall_micro
         |FROM cum ORDER BY threshold""".stripMargin),
    Query("dedup_span_exact", dedupSpanExact,
      s"""WITH w AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS ws
         |           FROM documents),
         |s AS (SELECT doc_id, CAST((r.range - 1) // 20 AS INTEGER) AS span_idx,
         |        array_to_string(ws[CAST(r.range AS INTEGER) :
         |          CAST(r.range + 19 AS INTEGER)], ' ') AS span
         |      FROM w CROSS JOIN range(1, 100001, 20) r
         |      WHERE r.range <= len(ws)),
         |d AS (SELECT span FROM (
         |        SELECT span, count(DISTINCT doc_id) AS df FROM s GROUP BY span)
         |      WHERE df >= 2),
         |f AS (SELECT s.doc_id, s.span_idx, s.span, (d.span IS NOT NULL) AS dup
         |      FROM s LEFT JOIN d ON s.span = d.span)
         |SELECT doc_id, count(*) AS n_spans,
         |  CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |  coalesce(string_agg(CASE WHEN NOT dup THEN span END, ' '
         |    ORDER BY span_idx), '') AS kept_text
         |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("dedup_shingle_xdoc", dedupShingleXdoc,
      s"""WITH w AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS ws
         |           FROM documents),
         |s AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(len(ws) - 4), i -> array_to_string(ws[i + 1 : i + 5], ' ')))) AS gram
         |  FROM w WHERE len(ws) >= 5),
         |d AS (SELECT gram FROM (
         |        SELECT gram, count(*) AS df FROM s GROUP BY gram) WHERE df >= 2),
         |tot AS (SELECT doc_id, count(*) AS n_shingles FROM s GROUP BY doc_id),
         |dup AS (SELECT s.doc_id, count(*) AS n_dup FROM s JOIN d USING (gram)
         |        GROUP BY s.doc_id)
         |SELECT t.doc_id, t.n_shingles,
         |  coalesce(p.n_dup, 0) AS n_dup_shingles,
         |  round(CAST(coalesce(p.n_dup, 0) AS DOUBLE) / t.n_shingles, 6) AS dup_fraction,
         |  (round(CAST(coalesce(p.n_dup, 0) AS DOUBLE) / t.n_shingles, 6) <= 0.7) AS keep
         |FROM tot t LEFT JOIN dup p USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
    Query("text_pmi_pairs", textPmiPairs,
      s"""WITH d AS (SELECT string_split(${normSql("text")}, ' ') AS ws
         |           FROM documents),
         |b AS (SELECT unnest(list_transform(range(len(ws) - 1),
         |        i -> ws[i + 1] || ' ' || ws[i + 2])) AS bigram
         |      FROM d WHERE len(ws) >= 2),
         |p AS (SELECT string_split(bigram, ' ')[1] AS w1,
         |             string_split(bigram, ' ')[2] AS w2 FROM b),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM p GROUP BY w1, w2),
         |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
         |c2 AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM c12 GROUP BY w2),
         |nn AS (SELECT CAST(sum(c12) AS BIGINT) AS n FROM c12)
         |SELECT c12.w1, c12.w2, c12.c12,
         |  CAST((nn.n * c12.c12 * 1000000) // (c1.c1 * c2.c2) AS BIGINT)
         |    AS pmi_ratio_micro
         |FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN nn
         |WHERE c12.c12 >= 5
         |ORDER BY pmi_ratio_micro DESC, c12.w1, c12.w2
         |LIMIT 100""".stripMargin),
    Query("text_repetition", textRepetition,
      s"""WITH n AS (SELECT doc_id, ${normSql("text")} AS norm FROM documents),
         |w AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS wd FROM n),
         |wf AS (SELECT * FROM w WHERE wd <> ''),
         |wc AS (SELECT doc_id, wd, count(*) AS c FROM wf GROUP BY doc_id, wd),
         |wa AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
         |         count(*) AS n_distinct_words, max(c) AS top_c
         |       FROM wc GROUP BY doc_id),
         |bg AS (SELECT doc_id, unnest(list_transform(range(len(ws) - 1),
         |         i -> ws[i + 1] || ' ' || ws[i + 2])) AS b
         |       FROM (SELECT doc_id, string_split(norm, ' ') AS ws FROM n)
         |       WHERE len(ws) >= 2),
         |bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b),
         |ba AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
         |         count(*) AS n_distinct_bigrams
         |       FROM bc GROUP BY doc_id)
         |SELECT wa.doc_id, wa.n_words, wa.n_distinct_words,
         |  round(CAST(wa.n_distinct_words AS DOUBLE) / wa.n_words, 6) AS distinct_word_ratio,
         |  round(CAST(wa.top_c AS DOUBLE) / wa.n_words, 6) AS top_word_share,
         |  coalesce(round(1.0 - CAST(ba.n_distinct_bigrams AS DOUBLE) / ba.n_bigrams, 6),
         |    0.0) AS dup_bigram_share
         |FROM wa LEFT JOIN ba USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
    // range(0, 100000, 48) silently caps the mirror at 100k-char
    // documents (the engine itself has no such bound); ChunkingSpec
    // asserts the gate corpus stays far below the cap. The same bound
    // applies to dedup_span_exact's range(1, 100001, 20) over WORD
    // counts (words <= chars, so the chunk assertion covers it).
    Query("doc_chunks", docChunks,
      """SELECT doc_id, CAST(r.range // 48 AS INTEGER) AS chunk_idx,
        |  CAST(length(substring(text, CAST(r.range + 1 AS INTEGER), 64)) AS INTEGER) AS chunk_len,
        |  md5(substring(text, CAST(r.range + 1 AS INTEGER), 64)) AS chunk_md5
        |FROM documents CROSS JOIN range(0, 100000, 48) r
        |WHERE r.range <= greatest(length(text) - 1, 0)
        |ORDER BY doc_id, chunk_idx""".stripMargin),
    Query("sample_pack_bins", samplePackBins,
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |s AS (SELECT doc_id, n_tokens, h,
        |    CAST(CAST('0x' || substring(h, 1, 2) AS BIGINT) % 8 AS INTEGER) AS shard
        |  FROM t),
        |c AS (SELECT doc_id, shard, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens, 0) AS strt
        |  FROM s)
        |SELECT doc_id, shard, CAST(strt // 512 AS BIGINT) AS bin_id,
        |  CAST(strt % 512 AS BIGINT) AS bin_offset,
        |  n_tokens
        |FROM c ORDER BY doc_id""".stripMargin),
    Query("text_tfidf_topk", textTfidfTopk,
      s"""WITH n AS (SELECT doc_id, ${normSql("text")} AS norm FROM documents),
         |w AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS wd FROM n),
         |tf AS (SELECT doc_id, wd, count(*) AS tf FROM w WHERE wd <> ''
         |       GROUP BY doc_id, wd),
         |df AS (SELECT wd, count(*) AS df FROM tf GROUP BY wd),
         |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         |s AS (SELECT tf.doc_id, tf.wd AS term, tf.tf, df.df,
         |        round(tf.tf * ((SELECT n FROM nd) / df.df), 6) AS score
         |      FROM tf JOIN df USING (wd)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY score DESC, term) AS rk FROM s)
         |SELECT doc_id, term, tf, df, score, CAST(rk AS INTEGER) AS rank
         |FROM r WHERE rk <= 3
         |ORDER BY doc_id, rank""".stripMargin),
  )
}
