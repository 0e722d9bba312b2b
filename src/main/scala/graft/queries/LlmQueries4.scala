package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.T
import graft.ops.{Chunking, Components, Curation, Dedup, QualityModel,
  Similarity, TextAnalysis}
import CommonSql.{normSql, hashSql, marginCte}

/** Round-9 training-data-pipeline operators: the cluster-quality triad
  * (simplified silhouette / Davies–Bouldin / purity), trained
  * Cavnar–Trenkle language ID, sequential-Poisson weighted sampling,
  * DSIR-style importance selection, the end-to-end RAG
  * chunk→embed→IVF→retrieve composition, per-doc novelty, embedding
  * anisotropy, k-core peeling, uniform mix planning, classifier
  * reliability bins, perceptual-hash (aHash) image dedup over the real
  * PNG codec, MMR diverse retrieval, k-center coreset selection,
  * keep-best connected dedup, and HTML→text extraction. Same exactness
  * contract as the sibling registries — integer / DECIMAL(38,0)
  * arithmetic and rounded-micro cosines only, so every query has a
  * full DuckDB replay oracle, training trajectories and greedy
  * traversals included.
  */
object LlmQueries4 {

  /** Per-cell simplified silhouette of the trained micro k-means
    * clustering (k=8, 2 iterations, trained on the bounded vec_id<2000
    * slice like `text_cluster_assign`) — is k right, which cells are
    * mush ([[Similarity.silhouetteByCell]]). */
  def embSilhouette(spark: SparkSession, dir: String): DataFrame = {
    val emb = T.par(spark, T.t(spark, dir, "embeddings"))
    val cents = SharedRels.ivfCents2000k8(spark, dir)
    Similarity.silhouetteByCell(emb, cents).orderBy(col("cell"))
  }

  /** Trained language ID: Cavnar–Trenkle trigram rank profiles learned
    * from the labeled doc_id<250 slice, every document scored by
    * out-of-place distance ([[TextAnalysis.ctLangPredict]]). */
  def textCtLangid(spark: SparkSession, dir: String): DataFrame = {
    // parCpu: char-trigram profile scoring per doc — the registry's
    // worst byte-to-CPU ratio (r17: 9.6 s at width 1 vs 2.1 s full)
    val docs = T.parCpu(spark, T.t(spark, dir, "documents"))
    TextAnalysis.ctLangPredict(docs, docs.filter(col("doc_id") < 250))
      .orderBy(col("doc_id"))
  }

  /** Weighted sample without replacement: 200 documents drawn with
    * inclusion probability ∝ n_chars via sequential Poisson priorities
    * ([[Curation.sampleWeighted]]). */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame =
    Curation.sampleWeighted(T.par(spark, T.t(spark, dir, "documents")),
        n = 200, weightCol = "n_chars", keyCol = "doc_id")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** DSIR-style data selection: hashed-ngram importance ratios against
    * the lang='en' target slice, top-100 documents by score
    * ([[TextAnalysis.ngramImportanceScore]]). */
  def curationDsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.par(spark, T.t(spark, dir, "documents"))
    TextAnalysis.ngramImportanceScore(docs, col("lang") === "en")
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .orderBy(col("ratio_micro").desc, col("doc_id"))
      .limit(100)
      .select(col("doc_id"), col("source"), col("n_grams"),
        col("ratio_micro"))
  }

  /** End-to-end RAG indexing/retrieval composition: fixed-window chunking
    * ([[Chunking.chunkWithText]], 64/48) → model-free dense hash
    * embeddings per chunk → micro k-means coarse quantizer trained on
    * the bounded vid<500000 slice → IVF retrieval of doc 0's chunks
    * against the whole chunk corpus (nProbe=2, top-5). Every stage is
    * the oracle-exact primitive; this query gates their composition. */
  def ragChunkRetrieve(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.par(spark, T.t(spark, dir, "documents"))
    val chunks = Chunking.chunkWithText(docs, size = 64, stride = 48)
      .select((col("doc_id") * 1000 + col("chunk_idx")).cast("long").as("vid"),
        col("chunk_text"))
    // the embedded chunk relation feeds seeding + training + both serve
    // scans: checkpoint so the multi-shuffle subtree runs once
    val emb = TextAnalysis.denseHashEmbedding(chunks, dim = 64,
      idCol = "vid", textCol = "chunk_text").localCheckpoint()
    val cents = Similarity.trainIvfCentroidsMicro(
      emb.filter(col("vid") < 500000), k = 8, iters = 2, idCol = "vid")
    Similarity.ivfTopKWithMicro(emb.filter(col("vid") < 1000), emb, cents,
        k = 5, nProbe = 2, qidCol = "vid", cidCol = "vid")
      .orderBy(col("query_id"), col("rank"))
  }

  /** Per-document novelty share: fraction of each doc's distinct bigrams
    * first seen (min doc id) in that doc ([[TextAnalysis.docNovelty]]). */
  def textNovelty(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.docNovelty(T.par(spark, T.t(spark, dir, "documents")))
      .orderBy(col("doc_id"))

  /** Per-label embedding anisotropy — expected random-pair cosine
    * ‖μ‖²/E‖v‖² in exact micro-units ([[Similarity.anisotropyByGroup]]). */
  def embAnisotropy(spark: SparkSession, dir: String): DataFrame =
    Similarity.anisotropyByGroup(
        T.par(spark, T.t(spark, dir, "embeddings")), "label")
      .orderBy(col("group_id"))

  /** 3-core of the near-dup graph (doc_id<500 slice, same MinHash pair
    * chain as `graph_label_prop`): the heavily-duplicated kernel, with
    * within-core degrees ([[Components.kCore]], sweep budget 3). */
  def graphKcore(spark: SparkSession, dir: String): DataFrame = {
    val pairs = SharedRels.nearDupPairs500(spark, dir)
    Components.kCore(pairs, k = 3, sweeps = 3)
      .select(col("id").as("doc_id"), col("core_degree"))
      .orderBy(col("doc_id"))
  }

  /** Davies–Bouldin companion to `emb_silhouette` over the same trained
    * clustering ([[Similarity.daviesBouldinByCell]]) — lower is better;
    * the "is k too big" probe. */
  def embDaviesBouldin(spark: SparkSession, dir: String): DataFrame = {
    val emb = T.par(spark, T.t(spark, dir, "embeddings"))
    val cents = SharedRels.ivfCents2000k8(spark, dir)
    Similarity.daviesBouldinByCell(emb, cents).orderBy(col("cell"))
  }

  /** Uniform-target mix plan over sources at a 30k-token budget
    * ([[Curation.planMixUniform]]): per-source rates, epochs, and
    * up-sampling shortfalls. */
  def mixPlanUniform(spark: SparkSession, dir: String): DataFrame =
    Curation.planMixUniform(T.par(spark, T.t(spark, dir, "documents")),
        "source", size(split(trim(col("text")), "\\s+")).cast("long"),
        budget = 30000L)
      .orderBy(col("source"))

  /** Calibration audit of the integer-weight quality scorer against the
    * is-English label: 50-wide margin bins → empirical positive rates
    * ([[QualityModel.reliabilityBins]]) — the companion readout to
    * `quality_pr_curve`/`quality_auc`. */
  def qualityReliability(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.t(spark, dir, "documents")
    val scored = QualityModel.integerWeightScore(T.par(spark, docs), dim = 256)
      .join(docs.select(col("doc_id"),
        (col("lang") === "en").cast("int").as("label")), Seq("doc_id"))
    QualityModel.reliabilityBins(scored, "margin", "label", binWidth = 50L)
      .orderBy(col("bin"))
  }

  /** REAL perceptual-hash image dedup, oracle-checked: deterministic
    * grayscale PNGs (pattern seed = doc_id mod 40, so seed collisions
    * plant exact perceptual duplicates) go through the JDK's lossless
    * PNG codec, are aHashed for real
    * ([[graft.multimodal.Multimodal.extractImageAHashes]]), and cluster
    * by hash with a min-id canonical — the mmAudioFeatures discipline:
    * real codec in the middle, synthesis-formula replay outside. */
  def mmImageAhashDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val ids = T.t(spark, dir, "documents")
      .filter(col("doc_id") <= 300).select(col("doc_id")).as[Long]
    val media = ids.repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions(_.map(id =>
        (id, Multimodal.synthPng(id % 40, 32, 24), "image/png")))
      .toDF("doc_id", "media", "mime")
    val hashed = Multimodal.extractImageAHashes(spark, media).toDF()
    val cl = hashed.groupBy(col("ahash")).agg(min(col("doc_id")).as("cluster_id"))
    hashed.join(cl, Seq("ahash"))
      .select(col("doc_id"), col("ahash"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  /** External clustering eval: purity of the trained k-means cells
    * against the embedding labels ([[Similarity.clusterPurity]]) — the
    * third leg of the cluster-quality triad with `emb_silhouette`
    * (internal, "is k too small") and `emb_davies_bouldin` ("is k too
    * big"). */
  def embClusterPurity(spark: SparkSession, dir: String): DataFrame = {
    val emb = T.par(spark, T.t(spark, dir, "embeddings"))
    val cents = SharedRels.ivfCents2000k8(spark, dir)
    Similarity.clusterPurity(Similarity.assignCellsMicro(emb, cents),
        emb.select(col("vec_id"), col("label")))
      .orderBy(col("cell"))
  }

  /** Diversity-aware retrieval: MMR re-ranking of vec 0's top-30
    * first-stage candidates, k=5, λ=0.7 ([[Similarity.mmrTopK]]). */
  def simMmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val emb = T.par(spark, T.t(spark, dir, "embeddings"))
    val qv = T.t(spark, dir, "embeddings").filter(col("vec_id") === 0)
      .head().getAs[Seq[Float]]("embedding").toArray
    Similarity.mmrTopK(qv, emb.filter(col("vec_id") =!= 0), n = 30, k = 5)
      .orderBy(col("rank"))
  }

  /** Diverse coreset: 6 farthest-point exemplars from the embedding
    * corpus ([[Similarity.kCenterCoreset]]). */
  def embKcenterCoreset(spark: SparkSession, dir: String): DataFrame =
    Similarity.kCenterCoreset(
        T.par(spark, T.t(spark, dir, "embeddings")), k = 6)
      .orderBy(col("rank"))

  /** Cluster-complete near-dedup keeping the LONGEST member of each
    * cluster (score = n_chars) instead of the min id — the production
    * keep-best policy ([[Dedup.dropNearDuplicatesConnectedBest]]);
    * `dedup_connected_keep` is the min-id baseline on the same slice. */
  def dedupConnectedBest(spark: SparkSession, dir: String): DataFrame =
    Dedup.dropNearDuplicatesConnectedBest(
        T.t(spark, dir, "documents").filter(col("doc_id") < 500),
        threshold = 0.5, scoreCol = "n_chars")
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** HTML extraction over synthesized pages: each doc is wrapped in a
    * full page (head/style/script/comment/heading + planted entities)
    * and stripped back to text ([[TextAnalysis.stripHtml]]); the oracle
    * rebuilds the page and replays the identical regex chain. */
  def textHtmlStrip(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.par(spark, T.t(spark, dir, "documents"))
    val page = concat(
      lit("<html><head><title>t</title><style>p { color: red; }</style>" +
        "</head><body><script>var x = 1 < 2;</script><h1>"),
      col("source"),
      lit("</h1><!-- comment --><p>"), col("text"),
      lit(" &lt;tag&gt; &amp;amp; done</p></body></html>"))
    docs.select(col("doc_id"),
        TextAnalysis.stripHtml(page).as("__t"))
      .select(col("doc_id"), length(col("__t")).as("text_len"),
        md5(col("__t")).as("text_md5"))
      .orderBy(col("doc_id"))
  }

  /** Per-source rank normalization of n_chars onto one [0, 10⁶] scale
    * ([[Curation.rankNormalize]]) — cross-source score comparability
    * before mixing. */
  def sampleRankNormalize(spark: SparkSession, dir: String): DataFrame =
    Curation.rankNormalize(T.par(spark, T.t(spark, dir, "documents")),
        "source", "n_chars", "doc_id")
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("n_chars_pct_micro"))
      .orderBy(col("doc_id"))

  /** Gradient-hash (dHash) sibling of `mm_image_ahash_dedup` over the
    * same synthesized corpus ([[graft.multimodal.Multimodal.imageDHash]]). */
  def mmImageDhashDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val ids = T.t(spark, dir, "documents")
      .filter(col("doc_id") <= 300).select(col("doc_id")).as[Long]
    val media = ids.repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions(_.map(id =>
        (id, Multimodal.synthPng(id % 40, 32, 24), "image/png")))
      .toDF("doc_id", "media", "mime")
    val hashed = Multimodal.extractImageDHashes(spark, media).toDF()
      .withColumnRenamed("ahash", "dhash")
    val cl = hashed.groupBy(col("dhash")).agg(min(col("doc_id")).as("cluster_id"))
    hashed.join(cl, Seq("dhash"))
      .select(col("doc_id"), col("dhash"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  /** REAL audio-fingerprint dedup: deterministic PCM clips (seed =
    * doc_id mod 40 fixes both signal and length, planting exact
    * perceptual duplicates) go through the JDK WAV codec, are
    * fingerprinted from the decoded samples
    * ([[graft.multimodal.Multimodal.extractAudioPrints]]), and cluster
    * by print — the audio face of `mm_image_ahash_dedup`. */
  def mmAudioFingerprintDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val ids = T.t(spark, dir, "documents")
      .filter(col("doc_id") <= 300).select(col("doc_id")).as[Long]
    val media = ids.repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions(_.map { id =>
        val seed = id % 40
        (id, Multimodal.synthWav(seed, (320 + seed * 5).toInt), "audio/wav")
      })
      .toDF("doc_id", "media", "mime")
    val printed = Multimodal.extractAudioPrints(spark, media).toDF()
    val cl = printed.groupBy(col("aprint")).agg(min(col("doc_id")).as("cluster_id"))
    printed.join(cl, Seq("aprint"))
      .select(col("doc_id"), col("aprint"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  // ---- DuckDB oracles ---------------------------------------------------

  // Rounded-6 cosine between two DOUBLE[] exprs (the ivfTopK re-rank
  // metric — same fixed-order double arithmetic as the Spark VecDot).
  private def cos6(a: String, b: String) =
    s"round(list_dot_product($a, $b) / " +
      s"(sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)"

  // Micro-unit cosine (round(cos·10⁶) as BIGINT) — the silhouette / DB /
  // MMR rounding contract.
  private def cosMicroSql(a: String, b: String) =
    s"CAST(round(list_dot_product($a, $b) / " +
      s"(sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))" +
      " * 1000000, 0) AS BIGINT)"

  // Unrolled MMR greedy steps 2..k: candidates minus the selected set,
  // max selected-sim per candidate, argmax of the undivided long score.
  private def mmrSteps(k: Int, lm: Long) = (2 to k).map { i =>
    s"""c$i AS (SELECT c.* FROM cand c
       |  WHERE c.vid NOT IN (SELECT vid FROM sel${i - 1})),
       |m$i AS (SELECT c.vid, max(${cosMicroSql("c.v", "s.v")}) AS ms
       |  FROM c$i c CROSS JOIN sel${i - 1} s GROUP BY c.vid),
       |p$i AS MATERIALIZED (SELECT c.vid, c.v, c.sq, m.ms,
       |    $lm * c.sq - ${1000000L - lm} * m.ms AS score
       |  FROM c$i c JOIN m$i m USING (vid)
       |  ORDER BY score DESC, c.vid LIMIT 1),
       |sel$i AS (SELECT vid, v FROM sel${i - 1}
       |  UNION ALL SELECT vid, v FROM p$i)""".stripMargin
  }.mkString(",\n")

  // The MinHash-LSH verified-pair chain over the doc_id<500 slice
  // (grams → 8-hash signatures → 4 bands → candidates → exact-Jaccard
  // verify) — the same relation every graph_* oracle replays.
  private lazy val pairChainCtes =
    s"""${LlmQueries.gramsCteFor("grams", "doc_id < 500")},
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
       |pairs AS MATERIALIZED (SELECT i.id_a, i.id_b FROM inter i
       |  JOIN sizes sa ON sa.id = i.id_a
       |  JOIN sizes sb ON sb.id = i.id_b
       |  WHERE i.i / (sa.sz + sb.sz - i.i) >= 0.5)""".stripMargin

  // Unrolled k-core peeling sweeps: degree → survivors → endpoint
  // semi-joins, e0 = the symmetric edge relation.
  private def kcoreSweeps(k: Int, sweeps: Int) = (1 to sweeps).map { i =>
    s"""d$i AS (SELECT src, count(*) AS d FROM e${i - 1} GROUP BY src),
       |k$i AS MATERIALIZED (SELECT src FROM d$i WHERE d >= $k),
       |e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
       |  JOIN k$i a ON a.src = e.src
       |  JOIN k$i b ON b.src = e.dst)""".stripMargin
  }.mkString(",\n")

  // Unrolled k-center greedy steps 2..k: per-vector min distance to the
  // selected set, argmax by (d desc, vid).
  private def kcenterSteps(k: Int) = (2 to k).map { i =>
    s"""kd$i AS (SELECT s.vid,
       |    min(1000000 - ${cosMicroSql("s.v", "t.v")}) AS d
       |  FROM src s CROSS JOIN ksel${i - 1} t
       |  WHERE s.vid NOT IN (SELECT vid FROM ksel${i - 1})
       |  GROUP BY s.vid),
       |g$i AS MATERIALIZED (SELECT kk.vid, s.v, kk.d
       |  FROM kd$i kk JOIN src s ON s.vid = kk.vid
       |  ORDER BY kk.d DESC, kk.vid LIMIT 1),
       |ksel$i AS (SELECT vid, v FROM ksel${i - 1}
       |  UNION ALL SELECT vid, v FROM g$i)""".stripMargin
  }.mkString(",\n")

  // DuckDB mirror of TextAnalysis.stripHtml: the identical regex chain
  // with 'g' flags (DuckDB replaces first-only by default; Spark all).
  private def stripHtmlSql(e: String) = {
    val noScript =
      s"regexp_replace($e, '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g')"
    val noComment = s"regexp_replace($noScript, '(?s)<!--.*?-->', ' ', 'g')"
    val noTags = s"regexp_replace($noComment, '<[^>]*>', ' ', 'g')"
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "''", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (k, v)) =>
        s"regexp_replace($c, '$k', '$v', 'g')" }
    s"trim(regexp_replace($decoded, '\\s+', ' ', 'g'))"
  }

  val all: Seq[Query] = Seq(
    // Audio-fingerprint replay: the WAV round-trip is lossless 16-bit
    // PCM, so sample i = ((seed*31 + i*7) % 65536) - 32768 rebuilds
    // exactly; 16 floor-mapped windows of |sample|, neighbor
    // cross-multiplied bits, min-id clusters.
    Query("mm_audio_fingerprint_dedup", mmAudioFingerprintDedup,
      """WITH ids AS (SELECT doc_id, doc_id % 40 AS seed
        |  FROM documents WHERE doc_id <= 300),
        |sm AS (SELECT doc_id, seed, s.i AS i,
        |    abs(((seed * 31 + s.i * 7) % 65536) - 32768) AS a
        |  FROM ids CROSS JOIN LATERAL
        |    (SELECT unnest(generate_series(0, 319 + seed * 5)) AS i) s),
        |wsum AS (SELECT doc_id, (i * 16) // (320 + seed * 5) AS w,
        |    CAST(sum(a) AS BIGINT) AS ws, count(*) AS wc
        |  FROM sm GROUP BY 1, 2),
        |bits AS (SELECT a.doc_id, a.w AS idx,
        |    CASE WHEN a.ws * b.wc < b.ws * a.wc
        |      THEN '1' ELSE '0' END AS bit
        |  FROM wsum a JOIN wsum b
        |    ON b.doc_id = a.doc_id AND b.w = a.w + 1
        |  WHERE a.w < 15),
        |hsh AS (SELECT doc_id, string_agg(bit, '' ORDER BY idx) AS aprint
        |  FROM bits GROUP BY doc_id),
        |cl AS (SELECT aprint, min(doc_id) AS cluster_id
        |  FROM hsh GROUP BY aprint)
        |SELECT h.doc_id, h.aprint, cl.cluster_id,
        |  h.doc_id = cl.cluster_id AS is_canonical
        |FROM hsh h JOIN cl USING (aprint)
        |ORDER BY h.doc_id""".stripMargin),
    // Rank-normalization replay: per-source (score asc, id) ranks →
    // integer percentile.
    Query("sample_rank_normalize", sampleRankNormalize,
      """SELECT doc_id, source, n_chars,
        |  CAST((1000000 * (rk - 1)) // greatest(n - 1, 1) AS BIGINT)
        |    AS n_chars_pct_micro
        |FROM (SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS rk,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin),
    // dHash replay: same 32x24 synthesis formula, 9x8 floor-mapped
    // cells, right-neighbor cross-multiplied comparisons in row-major
    // bit order, min-id clusters.
    Query("mm_image_dhash_dedup", mmImageDhashDedup,
      """WITH ids AS (SELECT doc_id, doc_id % 40 AS seed
        |  FROM documents WHERE doc_id <= 300),
        |px AS (SELECT doc_id, seed, x.range AS x, y.range AS y,
        |    ((seed * 13 + x.range * 31 + y.range * 7) % 256) AS g
        |  FROM ids CROSS JOIN range(32) x CROSS JOIN range(24) y),
        |bl AS (SELECT doc_id,
        |    ((y * 8) // 24) * 9 + ((x * 9) // 32) AS b,
        |    CAST(sum(1000 * g) AS BIGINT) AS bs,
        |    count(*) AS bp
        |  FROM px GROUP BY 1, 2),
        |bits AS (SELECT a.doc_id,
        |    (a.b // 9) * 8 + (a.b % 9) AS idx,
        |    CASE WHEN a.bs * b.bp < b.bs * a.bp
        |      THEN '1' ELSE '0' END AS bit
        |  FROM bl a JOIN bl b ON b.doc_id = a.doc_id AND b.b = a.b + 1
        |  WHERE a.b % 9 < 8),
        |hsh AS (SELECT doc_id, string_agg(bit, '' ORDER BY idx) AS dhash
        |  FROM bits GROUP BY doc_id),
        |cl AS (SELECT dhash, min(doc_id) AS cluster_id FROM hsh GROUP BY dhash)
        |SELECT h.doc_id, h.dhash, cl.cluster_id,
        |  h.doc_id = cl.cluster_id AS is_canonical
        |FROM hsh h JOIN cl USING (dhash)
        |ORDER BY h.doc_id""".stripMargin),
    // HTML-strip replay: rebuild the synthesized page, run the same
    // strip chain, hash the extracted text.
    Query("text_html_strip", textHtmlStrip,
      s"""SELECT doc_id,
         |  CAST(length(t) AS INTEGER) AS text_len, md5(t) AS text_md5
         |FROM (SELECT doc_id, ${stripHtmlSql(
             "'<html><head><title>t</title><style>p { color: red; }</style>" +
               "</head><body><script>var x = 1 < 2;</script><h1>' || source" +
               " || '</h1><!-- comment --><p>' || text" +
               " || ' &lt;tag&gt; &amp;amp; done</p></body></html>'")} AS t
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin),
    // Keep-best connected dedup replay: the shared MinHash pair chain →
    // recursive-CTE components → argmax (n_chars desc, id) representative
    // per component → surviving corpus.
    Query("dedup_connected_best", dedupConnectedBest,
      s"""WITH RECURSIVE $pairChainCtes,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(id, lab) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
         |comp AS (SELECT id, min(lab) AS component FROM reach GROUP BY id),
         |sc AS (SELECT c.id, c.component, d.n_chars AS s
         |  FROM comp c JOIN documents d ON d.doc_id = c.id),
         |rep AS (SELECT id FROM (
         |    SELECT id, row_number() OVER (PARTITION BY component
         |      ORDER BY s DESC, id) AS rn
         |    FROM sc) WHERE rn = 1),
         |losers AS (SELECT id FROM comp
         |  WHERE id NOT IN (SELECT id FROM rep))
         |SELECT doc_id, n_chars FROM documents
         |WHERE doc_id < 500 AND doc_id NOT IN (SELECT id FROM losers)
         |ORDER BY doc_id""".stripMargin),
    // k-center replay: min-id seed, then 5 unrolled farthest-point picks.
    Query("emb_kcenter_coreset", embKcenterCoreset,
      s"""WITH src AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v
         |            FROM embeddings),
         |g1 AS MATERIALIZED (SELECT vid, v, CAST(0 AS BIGINT) AS d
         |  FROM src ORDER BY vid LIMIT 1),
         |ksel1 AS (SELECT vid, v FROM g1),
         |${kcenterSteps(6)}
         |SELECT vid AS vec_id, CAST(rank AS INTEGER) AS rank,
         |  CAST(d AS BIGINT) AS dist_micro
         |FROM (
         |  SELECT vid, 1 AS rank, d FROM g1
         |  UNION ALL SELECT vid, 2, d FROM g2
         |  UNION ALL SELECT vid, 3, d FROM g3
         |  UNION ALL SELECT vid, 4, d FROM g4
         |  UNION ALL SELECT vid, 5, d FROM g5
         |  UNION ALL SELECT vid, 6, d FROM g6)
         |ORDER BY rank""".stripMargin),
    // Purity replay: trained cells + serve assignment, per-(cell, label)
    // counts, argmax by (count desc, label asc), integer purity.
    Query("emb_cluster_purity", embClusterPurity,
      s"""WITH src AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v
         |            FROM embeddings),
         |${KmeansSql.trainCtes("src", "vid < 2000", k = 8, iters = 2, dim = 64)},
         |cent AS (SELECT cell, cm FROM c2),
         |asg AS (${KmeansSql.assignSql("src", "cent")}),
         |lab AS (SELECT vec_id AS vid, label FROM embeddings),
         |cnt AS (SELECT a.cell, l.label, count(*) AS c
         |  FROM asg a JOIN lab l USING (vid) GROUP BY 1, 2),
         |top AS (SELECT cell, label, c,
         |    row_number() OVER (PARTITION BY cell
         |      ORDER BY c DESC, label) AS rn
         |  FROM cnt),
         |tot AS (SELECT cell, CAST(sum(c) AS BIGINT) AS n
         |  FROM cnt GROUP BY cell)
         |SELECT t.cell, tot.n, CAST(t.label AS BIGINT) AS top_label,
         |  CAST(t.c AS BIGINT) AS top_count,
         |  CAST((1000000 * t.c) // tot.n AS BIGINT) AS purity_micro
         |FROM top t JOIN tot USING (cell)
         |WHERE t.rn = 1
         |ORDER BY t.cell""".stripMargin),
    // MMR replay: micro query sims, top-30 first stage, then 5 unrolled
    // greedy steps with the exact long score λμ·sq − (10⁶−λμ)·max_sel.
    Query("sim_mmr_rerank", simMmrRerank,
      s"""WITH src AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v
         |            FROM embeddings),
         |q AS (SELECT v FROM src WHERE vid = 0),
         |sq AS (SELECT s.vid, s.v, ${cosMicroSql("s.v", "q.v")} AS sq
         |  FROM src s CROSS JOIN q WHERE s.vid <> 0),
         |cand AS MATERIALIZED (SELECT vid, v, sq FROM sq
         |  ORDER BY sq DESC, vid LIMIT 30),
         |p1 AS MATERIALIZED (SELECT vid, v, sq, CAST(0 AS BIGINT) AS ms,
         |    700000 * sq AS score
         |  FROM cand ORDER BY score DESC, vid LIMIT 1),
         |sel1 AS (SELECT vid, v FROM p1),
         |${mmrSteps(k = 5, lm = 700000L)}
         |SELECT vid AS vec_id, CAST(rank AS INTEGER) AS rank,
         |  sq AS simq_micro, CAST(score AS BIGINT) AS score
         |FROM (
         |  SELECT vid, 1 AS rank, sq, score FROM p1
         |  UNION ALL SELECT vid, 2, sq, score FROM p2
         |  UNION ALL SELECT vid, 3, sq, score FROM p3
         |  UNION ALL SELECT vid, 4, sq, score FROM p4
         |  UNION ALL SELECT vid, 5, sq, score FROM p5)
         |ORDER BY rank""".stripMargin),
    // aHash replay from the synthesis formula: the PNG round-trip is
    // lossless, so pixel (x,y) = (seed*13 + x*31 + y*7) % 256 rebuilds
    // exactly; 8x8 floor-mapped cells, cross-multiplied threshold, the
    // 64-char bit string, min-id clusters.
    Query("mm_image_ahash_dedup", mmImageAhashDedup,
      """WITH ids AS (SELECT doc_id, doc_id % 40 AS seed
        |  FROM documents WHERE doc_id <= 300),
        |px AS (SELECT doc_id, seed, x.range AS x, y.range AS y,
        |    ((seed * 13 + x.range * 31 + y.range * 7) % 256) AS g
        |  FROM ids CROSS JOIN range(32) x CROSS JOIN range(24) y),
        |bl AS (SELECT doc_id,
        |    ((y * 8) // 24) * 8 + ((x * 8) // 32) AS b,
        |    CAST(sum(1000 * g) AS BIGINT) AS bs,
        |    count(*) AS bp
        |  FROM px GROUP BY 1, 2),
        |tot AS (SELECT doc_id, CAST(sum(bs) AS BIGINT) AS total,
        |    CAST(sum(bp) AS BIGINT) AS n
        |  FROM bl GROUP BY doc_id),
        |bits AS (SELECT bl.doc_id, bl.b,
        |    CASE WHEN bl.bs * tot.n >= tot.total * bl.bp
        |      THEN '1' ELSE '0' END AS bit
        |  FROM bl JOIN tot USING (doc_id)),
        |hsh AS (SELECT doc_id, string_agg(bit, '' ORDER BY b) AS ahash
        |  FROM bits GROUP BY doc_id),
        |cl AS (SELECT ahash, min(doc_id) AS cluster_id FROM hsh GROUP BY ahash)
        |SELECT h.doc_id, h.ahash, cl.cluster_id,
        |  h.doc_id = cl.cluster_id AS is_canonical
        |FROM hsh h JOIN cl USING (ahash)
        |ORDER BY h.doc_id""".stripMargin),
    // Reliability replay: margins + is-English labels, sign-split
    // floor bins of width 50, integer rates and means.
    Query("quality_reliability", qualityReliability,
      s"""WITH $marginCte,
         |lab AS (SELECT s.doc_id, s.margin,
         |          CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS label
         |        FROM s JOIN documents d USING (doc_id)),
         |b AS (SELECT CASE WHEN margin < 0
         |        THEN -((-margin + 49) // 50) ELSE margin // 50 END AS bin,
         |        margin, label
         |      FROM lab)
         |SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(label) AS BIGINT) AS n_pos,
         |  CAST((1000000 * sum(label)) // count(*) AS BIGINT)
         |    AS pos_rate_micro,
         |  CAST(CASE WHEN sum(margin) < 0
         |    THEN -((-sum(margin)) // count(*))
         |    ELSE sum(margin) // count(*) END AS BIGINT) AS mean_score
         |FROM b GROUP BY bin
         |ORDER BY bin""".stripMargin),
    // Silhouette replay: the KmeansSql unrolled training (2 iterations,
    // vid<2000 slice), then per (vector, cell) micro cosine distances,
    // rank-1/rank-2 via the per-vector window, and the per-cell integer
    // means. d = 10⁶ − round(cos·10⁶) mirrors silhouetteByCell exactly.
    Query("emb_silhouette", embSilhouette,
      s"""WITH src AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v
         |            FROM embeddings),
         |${KmeansSql.trainCtes("src", "vid < 2000", k = 8, iters = 2, dim = 64)},
         |cent AS (SELECT cell, cm FROM c2),
         |dc AS (SELECT s.vid, c.cell,
         |    1000000 - CAST(round(list_dot_product(s.v, CAST(c.cm AS DOUBLE[]))
         |      / (sqrt(list_dot_product(s.v, s.v))
         |         * sqrt(list_dot_product(CAST(c.cm AS DOUBLE[]),
         |                                 CAST(c.cm AS DOUBLE[]))))
         |      * 1000000, 0) AS BIGINT) AS d
         |  FROM src s CROSS JOIN cent c),
         |rk AS (SELECT vid, cell, d,
         |    row_number() OVER (PARTITION BY vid ORDER BY d, cell) AS rn
         |  FROM dc),
         |ab AS (SELECT a.vid, a.cell, a.d AS da, b.d AS db,
         |    ((b.d - a.d) * 1000000) // greatest(b.d, 1) AS s
         |  FROM rk a JOIN rk b ON b.vid = a.vid AND b.rn = 2
         |  WHERE a.rn = 1)
         |SELECT CAST(cell AS BIGINT) AS cell,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(da) // count(*) AS BIGINT) AS mean_intra_micro,
         |  CAST(sum(db) // count(*) AS BIGINT) AS mean_inter_micro,
         |  CAST(sum(s) // count(*) AS BIGINT) AS mean_sil_micro
         |FROM ab GROUP BY cell
         |ORDER BY cell""".stripMargin),
    // Cavnar–Trenkle replay: char trigrams of the normalized text, the
    // per-language top-40 rank profile from the doc_id<250 slice, the
    // per-document top-40 profile, out-of-place distance with penalty 40
    // for profile misses, argmin by (dist, lang).
    Query("text_ct_langid", textCtLangid,
      s"""WITH nt AS (SELECT doc_id, lang, ${normSql("text")} AS t
         |            FROM documents),
         |tg AS (SELECT doc_id, lang, substring(t, CAST(r.i AS INTEGER), 3) AS g
         |  FROM nt CROSS JOIN LATERAL
         |    (SELECT unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i) r),
         |lpc AS (SELECT lang AS plang, g AS pg, count(*) AS c
         |  FROM tg WHERE doc_id < 250 GROUP BY 1, 2),
         |lp AS MATERIALIZED (SELECT plang, pg, rl FROM (
         |    SELECT plang, pg,
         |      row_number() OVER (PARTITION BY plang
         |        ORDER BY c DESC, pg) AS rl
         |    FROM lpc) WHERE rl <= 40),
         |langs AS (SELECT DISTINCT plang AS cand FROM lp),
         |dpc AS (SELECT doc_id, lang, g, count(*) AS c
         |  FROM tg GROUP BY 1, 2, 3),
         |dp AS (SELECT doc_id, lang, g, rd FROM (
         |    SELECT doc_id, lang, g,
         |      row_number() OVER (PARTITION BY doc_id
         |        ORDER BY c DESC, g) AS rd
         |    FROM dpc) WHERE rd <= 40),
         |sc AS (SELECT dp.doc_id, dp.lang, l.cand,
         |    CAST(sum(coalesce(abs(dp.rd - lp.rl), 40)) AS BIGINT) AS dist
         |  FROM dp CROSS JOIN langs l
         |  LEFT JOIN lp ON lp.plang = l.cand AND lp.pg = dp.g
         |  GROUP BY 1, 2, 3)
         |SELECT doc_id, lang, cand AS pred_lang, dist AS oop_dist
         |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY dist, cand) AS rn FROM sc)
         |WHERE rn = 1
         |ORDER BY doc_id""".stripMargin),
    // Sequential Poisson replay: integer priority hash // weight, the
    // 200 lowest (priority, doc_id) rows.
    Query("sample_weighted", sampleWeighted,
      s"""SELECT doc_id, source, n_chars FROM (
         |  SELECT doc_id, source, n_chars,
         |    row_number() OVER (ORDER BY
         |      (CAST('0x' || substring(md5('wsamp|' || CAST(doc_id AS VARCHAR)), 1, 15)
         |        AS BIGINT) // CAST(n_chars AS BIGINT)),
         |      doc_id) AS rn
         |  FROM documents WHERE n_chars > 0)
         |WHERE rn <= 200
         |ORDER BY doc_id""".stripMargin),
    // DSIR replay: hashed unigram+bigram buckets, Laplace-smoothed
    // target/raw ratio per bucket in HUGEINT (the DECIMAL(38,0) mirror),
    // per-doc mean ratio, top-100 by (score desc, id).
    Query("curation_dsir_select", curationDsirSelect,
      s"""WITH w AS (SELECT doc_id, lang, string_split(${normSql("text")}, ' ') AS ws
         |           FROM documents),
         |uni AS (SELECT doc_id, lang, u.w AS g
         |  FROM w, unnest(ws) AS u(w) WHERE u.w <> ''),
         |bi AS (SELECT doc_id, lang,
         |    ws[CAST(r.i AS INTEGER)] || ' ' || ws[CAST(r.i + 1 AS INTEGER)] AS g
         |  FROM w CROSS JOIN LATERAL
         |    (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) r
         |  WHERE ws[CAST(r.i AS INTEGER)] <> ''
         |    AND ws[CAST(r.i + 1 AS INTEGER)] <> ''),
         |g AS (SELECT doc_id, (lang = 'en') AS t,
         |    CAST('0x' || substring(md5('dsir|' || g), 1, 15) AS BIGINT)
         |      % 1024 AS b
         |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
         |cnt AS (SELECT b, sum(CASE WHEN t THEN 1 ELSE 0 END) AS ct,
         |    sum(CASE WHEN t THEN 0 ELSE 1 END) AS cr
         |  FROM g GROUP BY b),
         |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
         |    CAST(sum(cr) AS BIGINT) AS nr FROM cnt),
         |rat AS (SELECT b,
         |    (CAST(1000000 AS HUGEINT) * (ct + 1) * (nr + 1024))
         |      // ((cr + 1) * (nt + 1024)) AS r
         |  FROM cnt CROSS JOIN tot),
         |ds AS (SELECT g.doc_id, count(*) AS n_grams, sum(r.r) AS sr
         |  FROM g JOIN rat r USING (b) GROUP BY 1)
         |SELECT d.doc_id, d.source,
         |  CAST(ds.n_grams AS BIGINT) AS n_grams,
         |  CAST(ds.sr // ds.n_grams AS BIGINT) AS ratio_micro
         |FROM ds JOIN documents d USING (doc_id)
         |ORDER BY ratio_micro DESC, d.doc_id
         |LIMIT 100""".stripMargin),
    // RAG composition replay: chunk windows → signed hash-bucket dense
    // vectors (the text_cluster_assign embedding CTEs, keyed by chunk
    // vid) → unrolled micro k-means → probe-2 IVF → rounded-cosine
    // re-rank top-5 (the sim_ivf_trained_topk serve shape).
    Query("rag_chunk_retrieve", ragChunkRetrieve,
      s"""WITH ck AS (
         |  SELECT doc_id * 1000 + o.i // 48 AS vid,
         |    substring(text, CAST(o.i + 1 AS INTEGER), 64) AS t
         |  FROM documents CROSS JOIN LATERAL
         |    (SELECT unnest(generate_series(0, greatest(length(text) - 1, 0),
         |       48)) AS i) o),
         |nn AS (SELECT vid, ${normSql("t")} AS norm FROM ck),
         |w AS (SELECT vid, unnest(string_split(norm, ' ')) AS wd FROM nn),
         |f AS (SELECT vid, CAST(${hashSql(31, "wd")} % 64 AS INTEGER) AS idx,
         |        (${hashSql(47, "wd")} % 2) * 2 - 1 AS sgn
         |      FROM w WHERE wd <> ''),
         |sp AS (SELECT vid, idx, CAST(sum(sgn) AS BIGINT) AS value
         |       FROM f GROUP BY 1, 2),
         |ids AS (SELECT DISTINCT vid FROM sp),
         |src AS MATERIALIZED (SELECT i.vid,
         |    list(CAST(coalesce(s.value, 0) AS DOUBLE) ORDER BY r.range) AS v
         |  FROM ids i CROSS JOIN range(64) r
         |  LEFT JOIN sp s ON s.vid = i.vid AND s.idx = r.range
         |  GROUP BY i.vid),
         |${KmeansSql.trainCtes("src", "vid < 500000", k = 8, iters = 2, dim = 64)},
         |cent AS (SELECT cell, cm FROM c2),
         |assign AS MATERIALIZED (${KmeansSql.assignSql("src", "cent")}),
         |probes AS (SELECT vid AS query_id, cell FROM (
         |    SELECT s.vid, c.cell,
         |      row_number() OVER (PARTITION BY s.vid
         |        ORDER BY ${KmeansSql.cosMicro("s.v", "c.cm")} DESC, c.cell) AS rn
         |    FROM src s CROSS JOIN cent c WHERE s.vid < 1000) WHERE rn <= 2),
         |cnd AS (SELECT p.query_id, a.vid AS neighbor_id
         |  FROM probes p JOIN assign a USING (cell)
         |  WHERE a.vid <> p.query_id)
         |SELECT query_id, neighbor_id, sim, rank FROM (
         |  SELECT cd.query_id, cd.neighbor_id, ${cos6("q.v", "n.v")} AS sim,
         |    row_number() OVER (PARTITION BY cd.query_id
         |      ORDER BY ${cos6("q.v", "n.v")} DESC, cd.neighbor_id) AS rank
         |  FROM cnd cd
         |  JOIN src q ON q.vid = cd.query_id
         |  JOIN src n ON n.vid = cd.neighbor_id)
         |WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin),
    // Novelty replay: distinct per-doc bigrams, min-doc-id first
    // occurrence, per-doc novel share; gram-less docs keep zeros.
    Query("text_novelty", textNovelty,
      s"""WITH n AS (SELECT doc_id, ${normSql("text")} AS norm
         |  FROM documents),
         |w AS (SELECT doc_id, string_split(norm, ' ') AS ws FROM n),
         |bg AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(ws)),
         |    i -> ws[i] || ' ' || ws[i + 1])) AS gram
         |  FROM w WHERE len(ws) >= 2),
         |fst AS (SELECT gram, min(doc_id) AS f FROM bg GROUP BY gram),
         |per AS (SELECT bg.doc_id, count(*) AS n_grams,
         |    sum(CASE WHEN fst.f = bg.doc_id THEN 1 ELSE 0 END) AS n_novel
         |  FROM bg JOIN fst USING (gram) GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(per.n_grams, 0) AS BIGINT) AS n_grams,
         |  CAST(coalesce(per.n_novel, 0) AS BIGINT) AS n_novel,
         |  CAST((1000000 * coalesce(per.n_novel, 0))
         |    // greatest(coalesce(per.n_grams, 0), 1) AS BIGINT) AS novelty_micro
         |FROM documents d LEFT JOIN per USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
    // Anisotropy replay: micro means per (label, idx) with the offset
    // division, per-vector squared micro norms, group ratio in HUGEINT.
    Query("emb_anisotropy", embAnisotropy,
      """WITH x AS (SELECT vec_id, label AS g, CAST(r.range AS INTEGER) AS idx,
        |    CAST(floor(CAST(embedding[CAST(r.range + 1 AS INTEGER)] AS DOUBLE)
        |      * 1000000) AS BIGINT) AS m
        |  FROM embeddings CROSS JOIN range(64) r),
        |mu AS (SELECT g, idx,
        |    CAST(sum(m + 1000000000) // count(*) - 1000000000 AS BIGINT)
        |      AS mean_micro
        |  FROM x GROUP BY g, idx),
        |ms AS (SELECT g, CAST(sum(mean_micro * mean_micro) AS BIGINT) AS mu_sq
        |  FROM mu GROUP BY g),
        |pv AS (SELECT g, vec_id, CAST(sum(m * m) AS BIGINT) AS nv2
        |  FROM x GROUP BY g, vec_id),
        |nrm AS (SELECT g, count(*) AS n_vecs,
        |    CAST(sum(CAST(nv2 AS HUGEINT)) // count(*) AS BIGINT)
        |      AS mean_sq_norm
        |  FROM pv GROUP BY g)
        |SELECT ms.g AS group_id, CAST(nrm.n_vecs AS BIGINT) AS n_vecs,
        |  CAST((CAST(1000000 AS HUGEINT) * ms.mu_sq)
        |    // greatest(nrm.mean_sq_norm, 1) AS BIGINT) AS aniso_micro
        |FROM ms JOIN nrm USING (g)
        |ORDER BY group_id""".stripMargin),
    // Davies–Bouldin replay: the silhouette chain's own-cell distances
    // → per-cell mean intra, plus the k×k centroid-distance matrix and
    // the max (S_i+S_j)/M_ij ratio.
    Query("emb_davies_bouldin", embDaviesBouldin,
      s"""WITH src AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v
         |            FROM embeddings),
         |${KmeansSql.trainCtes("src", "vid < 2000", k = 8, iters = 2, dim = 64)},
         |cent AS (SELECT cell, cm FROM c2),
         |dc AS (SELECT s.vid, c.cell,
         |    1000000 - CAST(round(list_dot_product(s.v, CAST(c.cm AS DOUBLE[]))
         |      / (sqrt(list_dot_product(s.v, s.v))
         |         * sqrt(list_dot_product(CAST(c.cm AS DOUBLE[]),
         |                                 CAST(c.cm AS DOUBLE[]))))
         |      * 1000000, 0) AS BIGINT) AS d
         |  FROM src s CROSS JOIN cent c),
         |own AS (SELECT vid, cell, d FROM (
         |    SELECT vid, cell, d,
         |      row_number() OVER (PARTITION BY vid ORDER BY d, cell) AS rn
         |    FROM dc) WHERE rn = 1),
         |percell AS MATERIALIZED (SELECT cell, count(*) AS n,
         |    CAST(sum(d) // count(*) AS BIGINT) AS s
         |  FROM own GROUP BY cell),
         |mm AS (SELECT a.cell AS ci, b.cell AS cj,
         |    1000000 - CAST(round(
         |      list_dot_product(CAST(a.cm AS DOUBLE[]), CAST(b.cm AS DOUBLE[]))
         |      / (sqrt(list_dot_product(CAST(a.cm AS DOUBLE[]),
         |                               CAST(a.cm AS DOUBLE[])))
         |         * sqrt(list_dot_product(CAST(b.cm AS DOUBLE[]),
         |                                 CAST(b.cm AS DOUBLE[]))))
         |      * 1000000, 0) AS BIGINT) AS m
         |  FROM cent a JOIN cent b ON a.cell <> b.cell)
         |SELECT p.cell, CAST(p.n AS BIGINT) AS n, p.s AS mean_intra_micro,
         |  CAST(max(((p.s + q.s) * 1000000) // greatest(mm.m, 1)) AS BIGINT)
         |    AS db_micro
         |FROM percell p JOIN mm ON mm.ci = p.cell
         |JOIN percell q ON q.cell = mm.cj
         |GROUP BY p.cell, p.n, p.s
         |ORDER BY p.cell""".stripMargin),
    // Mix-plan replay: per-source whitespace token masses, uniform
    // quota = budget div P, integer rate/epoch/shortfall arithmetic.
    Query("mix_plan_uniform", mixPlanUniform,
      s"""WITH c AS (SELECT source,
         |    CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
         |      AS n_tokens
         |  FROM documents GROUP BY source),
         |p AS (SELECT count(*) AS p FROM c)
         |SELECT source, n_tokens,
         |  CAST(30000 // p.p AS BIGINT) AS quota_tokens,
         |  CAST(least(1000000, (1000000 * (30000 // p.p))
         |    // greatest(n_tokens, 1)) AS BIGINT) AS rate_micro,
         |  CAST((1000000 * (30000 // p.p))
         |    // greatest(n_tokens, 1) AS BIGINT) AS epochs_micro,
         |  CAST(greatest(0, (30000 // p.p) - n_tokens) AS BIGINT)
         |    AS shortfall_tokens
         |FROM c CROSS JOIN p
         |ORDER BY source""".stripMargin),
    // k-core replay: the shared MinHash pair chain → symmetric edges →
    // 3 unrolled peeling sweeps → surviving within-core degrees.
    Query("graph_kcore", graphKcore,
      s"""WITH $pairChainCtes,
         |e0 AS (SELECT DISTINCT src, dst FROM (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs)),
         |${kcoreSweeps(k = 3, sweeps = 3)}
         |SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS core_degree
         |FROM e3 GROUP BY src
         |ORDER BY doc_id""".stripMargin))
}
