package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.T
import graft.ops.{Components, Curation, Dedup, QualityModel, Sessions, Similarity, Sketches, TextAnalysis, UrlOps}
import CommonSql.{normSql, hashSql, marginCte}

/** Round-10 registry batch 8: graph link prediction, CUSUM changepoint
  * monitoring, chance-corrected model-agreement + per-source calibration
  * audits, and the C4-style URL canonicalization/dedup family. All
  * exact-integer, all DuckDB-replayed.
  */
object LlmQueries8 {

  /** The deterministic crawl-URL fixture: every document gets a URL whose
    * spelling varies in exactly the ways canonicalization must erase —
    * scheme/host case, a www. label, a default :443 port, a trailing
    * slash, a utm_ tracking param, a fragment — while the canonical
    * resource is pinned by (doc_id mod 10, mod 4, mod 7, mod 3), so
    * distinct doc_ids share canonical URLs (true crawl duplicates). */
  private def urlFixture(doc: Column): Column = {
    val tld = when(doc % 4 === 0, lit("COM")).when(doc % 4 === 1, lit("ORG"))
      .when(doc % 4 === 2, lit("NET")).otherwise(lit("DEV"))
    concat(
      when(doc % 2 === 0, lit("https")).otherwise(lit("HTTPS")), lit("://"),
      when(doc % 3 === 0, lit("WWW.")).otherwise(lit("")),
      lit("h"), doc % 10, lit(".Example."), tld,
      when(doc % 7 === 0, lit(":443")).otherwise(lit("")),
      lit("/p/"), doc % 7,
      when(doc % 5 === 0, lit("/")).otherwise(lit("")),
      lit("?"),
      when(doc % 2 === 0, lit("utm_source=feed&")).otherwise(lit("")),
      lit("id="), doc % 3,
      when(doc % 4 === 1, concat(lit("#s"), doc % 5)).otherwise(lit("")))
  }

  // The same fixture as a DuckDB expression over doc_id.
  private val urlFixtureSql =
    """CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END || '://'
      | || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END
      | || 'h' || (doc_id % 10) || '.Example.'
      | || CASE WHEN doc_id % 4 = 0 THEN 'COM' WHEN doc_id % 4 = 1 THEN 'ORG'
      |         WHEN doc_id % 4 = 2 THEN 'NET' ELSE 'DEV' END
      | || CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END
      | || '/p/' || (doc_id % 7)
      | || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
      | || '?'
      | || CASE WHEN doc_id % 2 = 0 THEN 'utm_source=feed&' ELSE '' END
      | || 'id=' || (doc_id % 3)
      | || CASE WHEN doc_id % 4 = 1 THEN '#s' || (doc_id % 5) ELSE '' END"""
      .stripMargin.replace("\n", "")

  // Closed-form canonical of the fixture (what canonicalization must
  // reduce every spelling to) — the oracle replays THIS, so the Spark
  // side's regexp canonicalizer is checked end-to-end.
  private val canonicalFixtureSql =
    """'https://h' || (doc_id % 10) || '.example.'
      | || CASE WHEN doc_id % 4 = 0 THEN 'com' WHEN doc_id % 4 = 1 THEN 'org'
      |         WHEN doc_id % 4 = 2 THEN 'net' ELSE 'dev' END
      | || '/p/' || (doc_id % 7) || '?id=' || (doc_id % 3)"""
      .stripMargin.replace("\n", "")

  /** Link prediction over the synthetic host link graph (the
    * [[Components.linkPrediction]] family): for every unlinked 2-hop
    * host pair, common neighbors, resource-allocation index,
    * preferential attachment, and Jaccard — the crawl-frontier ranking
    * companion to graph_hits/graph_host_rank. */
  def graphLinkPredict(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.par(spark, T.t(spark, dir, "documents"))
    val e = docs.select((col("doc_id") % 50).as("src"),
        explode(array((col("doc_id") * 7 + 1) % 50,
          (col("doc_id") * 7 + 2) % 50,
          (col("doc_id") * 7 + 3) % 50)).as("dst"))
      .filter(col("src") =!= col("dst"))
    val und = e.select(least(col("src"), col("dst")).as("id_a"),
      greatest(col("src"), col("dst")).as("id_b")).distinct()
    Components.linkPrediction(und).orderBy(col("id_a"), col("id_b"))
  }

  /** CUSUM drift alarms over the daily event-volume series, per event
    * type ([[Sketches.cusumByGroup]]): reference level k = the type's
    * own mean daily count (floor), decision threshold h = 2k. The
    * window form replays bit-identically in SQL. */
  def eventCusumDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = T.events(spark, dir)
    val daily = ev.groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("x"))
    val base = daily.groupBy(col("event_type"))
      .agg(expr("sum(x) div count(1)").as("__k"))
    val j = daily.join(broadcast(base), Seq("event_type"))
    Sketches.cusumByGroup(j, "event_type", "day", "x",
        col("__k"), col("__k") * 2)
      .orderBy(col("event_type"), col("day"))
  }

  /** Cohen's kappa between the integer-weight quality model's keep
    * decision and the is-English gold label
    * ([[QualityModel.cohensKappa]]) — the chance-corrected agreement
    * number behind quality_auc's ranking view. */
  def qualityCohensKappa(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.t(spark, dir, "documents")
    val scored = QualityModel.integerWeightScore(T.par(spark, docs), dim = 256)
      .join(docs.select(col("doc_id"),
        (col("lang") === "en").cast("int").as("gold")), Seq("doc_id"))
      .withColumn("pred", (col("margin") > 0).cast("int"))
    QualityModel.cohensKappa(scored, "pred", "gold")
  }

  /** Per-source decile calibration audit of the quality margin
    * ([[QualityModel.decileCalibration]]): equal-population score bins
    * within every source, empirical positive rate vs nominal rank
    * confidence — the per-stratum ECE readout. */
  def qualityDecileCalibration(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.t(spark, dir, "documents")
    val scored = QualityModel.integerWeightScore(T.par(spark, docs), dim = 256)
      .join(docs.select(col("doc_id"), col("source"),
        (col("lang") === "en").cast("int").as("label")), Seq("doc_id"))
    QualityModel.decileCalibration(scored, "source", "margin", "label",
        "doc_id", bins = 10)
      .orderBy(col("source"), col("bin"))
  }

  /** URL part extraction over the crawl fixture
    * ([[UrlOps.withUrlParts]]): the Spark side parses with regexps; the
    * oracle replays the synthesis formula closed-form. */
  def urlParseProfile(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.t(spark, dir, "documents")
      .select(col("doc_id"), urlFixture(col("doc_id")).as("url"))
    UrlOps.withUrlParts(docs, "url")
      .select(col("doc_id"), col("url"), col("scheme"), col("host"),
        col("path"), col("query"), col("fragment"),
        col("registered_domain"), col("path_depth"), col("n_params"))
      .orderBy(col("doc_id"))
  }

  /** URL-level dedup ([[UrlOps.urlDedup]]): canonicalize every spelling
    * and keep the minimum doc_id per canonical URL. */
  def dedupUrlCanonical(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.t(spark, dir, "documents")
      .select(col("doc_id"), urlFixture(col("doc_id")).as("url"))
    UrlOps.urlDedup(docs, "url", "doc_id")
      .select(col("doc_id"), col("canonical_url"), col("keeper_id"),
        col("is_canonical"))
      .orderBy(col("doc_id"))
  }

  /** Per-registered-domain crawl triage ([[UrlOps.hostRollup]]): doc
    * count, distinct canonical URLs, duplication ratio, content mass. */
  def urlHostRollup(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.t(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        urlFixture(col("doc_id")).as("url"))
    UrlOps.hostRollup(docs, "url", "n_chars")
      .select(col("registered_domain"), col("n_docs"), col("n_canonical"),
        col("total_chars"), col("dup_ratio_micro"))
      .orderBy(col("registered_domain"))
  }

  /** RAKE keyword extraction over the corpus
    * ([[TextAnalysis.rakeKeywords]]): corpus-driven stopwords (top 5
    * tokens), stopword-free phrase runs ≤ 4 tokens, deg/freq word
    * scores, top-3 phrases per doc. */
  def textRakeKeywords(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.par(spark, T.t(spark, dir, "documents"))
    TextAnalysis.rakeKeywords(docs, nStop = 5, topK = 3, maxPhraseLen = 4)
      .orderBy(col("doc_id"), col("rank"))
  }

  /** C4-style blocklist gate ([[TextAnalysis.blocklistFilter]]): flag
    * fraction against a fixed term list, keep ≤ 10%. */
  def textBlocklistFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.par(spark, T.t(spark, dir, "documents"))
    TextAnalysis.blocklistFilter(docs,
        Seq("slow", "big", "hash", "merge"), maxFracMicro = 100000L)
      .orderBy(col("doc_id"))
  }

  /** Seasonal-naive residuals over daily event volumes per type
    * ([[Sessions.seasonalNaiveError]], season = 7 days) — the anomaly
    * feed that [[Sketches.cusumByGroup]] accumulates. */
  def eventSeasonalError(spark: SparkSession, dir: String): DataFrame = {
    val ev = T.events(spark, dir)
    val daily = ev.groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("x"))
    Sessions.seasonalNaiveError(daily, "event_type", "day", "x", season = 7)
      .orderBy(col("event_type"), col("day"))
  }

  // Retrieval queries for hard-negative mining: gold relevance is
  // planted as doc_id ≡ query_id (mod 10), so the oracle can replay it.
  private val HardNegQueries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("spark", "join"),
    2 -> Seq("stream", "table"),
    3 -> Seq("filter", "group"))

  /** Hard-negative mining for retrieval training: per query, the top-10
    * non-relevant documents from the top-30 BM25 retrieval pool
    * ([[TextAnalysis.bm25MultiQuery]]) — the standard "mine negatives
    * from what the retriever itself ranks highest" recipe. */
  def mineHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = T.par(spark, T.t(spark, dir, "documents"))
    val qs = HardNegQueries.toDF("query_id", "terms")
    val pool = TextAnalysis.bm25MultiQuery(docs, qs, k = 30)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("rk"))
    pool.filter(col("doc_id") % 10 =!= col("query_id"))
      .withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= 10)
      .select(col("query_id"), col("neg_rank"), col("doc_id"),
        col("bm25_micro"))
      .orderBy(col("query_id"), col("neg_rank"))
  }

  /** Per-source robust (median/IQR) scaling of the quality margin
    * ([[QualityModel.robustScaleByGroup]]) — cross-source-comparable
    * scores for one global threshold. */
  def qualityRobustScale(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.t(spark, dir, "documents")
    val scored = QualityModel.integerWeightScore(T.par(spark, docs), dim = 256)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    QualityModel.robustScaleByGroup(scored, "source", "margin", "doc_id")
      .orderBy(col("doc_id"))
  }

  /** Content-defined chunking dedup profile
    * ([[Dedup.cdcChunkProfile]], divisor 8): per-doc chunk counts and
    * the cross-document shared-chunk fraction. */
  def dedupCdcChunks(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.par(spark, T.t(spark, dir, "documents"))
    Dedup.cdcChunkProfile(docs, divisor = 8, seed = 31)
      .orderBy(col("doc_id"))
  }

  /** Matryoshka truncation audit over the embeddings table
    * ([[Similarity.matryoshkaEval]], prefixes 8/16/32 of 64): mean and
    * worst direction-retention cosine per prefix length. */
  def embMatryoshkaEval(spark: SparkSession, dir: String): DataFrame = {
    val emb = T.par(spark, T.t(spark, dir, "embeddings"))
    Similarity.matryoshkaEval(emb, prefixes = Seq(8, 16, 32))
      .orderBy(col("r"))
  }

  /** Prototype pruning over the embeddings table
    * ([[Similarity.prototypePruneByCell]]): k-means trained on the
    * vid<2000 slice (the silhouette discipline), every vector ranked by
    * distance to its own centroid, hardest half kept per cell. */
  def curationPrototypePrune(spark: SparkSession, dir: String): DataFrame = {
    val emb = T.par(spark, T.t(spark, dir, "embeddings"))
    val cents = Similarity.trainIvfCentroidsMicro(
      emb.filter(col("vec_id") < 2000), k = 8, iters = 2)
    Similarity.prototypePruneByCell(emb, cents, keepNum = 1, keepDen = 2)
      .orderBy(col("vec_id"))
  }

  /** Confident-learning label-noise joint counts
    * ([[QualityModel.labelNoiseJoint]]) between the is-English gold
    * label and the integer-weight margin. */
  def qualityLabelNoise(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.t(spark, dir, "documents")
    val scored = QualityModel.integerWeightScore(T.par(spark, docs), dim = 256)
      .join(docs.select(col("doc_id"),
        (col("lang") === "en").cast("int").as("gold")), Seq("doc_id"))
    QualityModel.labelNoiseJoint(scored, "margin", "gold")
      .orderBy(col("given"), col("suggested"))
  }

  /** Hour-of-day seasonality profile per event type: share of traffic
    * and peak-hour flags — the capacity-planning companion to the CUSUM
    * and seasonal-residual monitors. */
  def eventHourlyProfile(spark: SparkSession, dir: String): DataFrame = {
    val ev = T.events(spark, dir)
    val hourly = ev.groupBy(col("event_type"), hour(col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
    val tot = hourly.groupBy(col("event_type"))
      .agg(sum(col("n")).as("__tot"), max(col("n")).as("__mx"))
    hourly.join(broadcast(tot), Seq("event_type"))
      .select(col("event_type"), col("hour"), col("n"),
        expr("(1000000 * n) div __tot").as("pct_micro"),
        (col("n") === col("__mx")).as("is_peak"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** Weighted host PageRank over the link graph WITH multiplicities
    * ([[Components.weightedPageRank]]): parallel links between a host
    * pair become edge weight, so heavily-linked neighbors dominate the
    * rank the way the unweighted `graph_pagerank` cannot express. */
  def graphWeightedRank(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.par(spark, T.t(spark, dir, "documents"))
    val e = docs.select((col("doc_id") % 50).as("src"),
        explode(array((col("doc_id") * 7 + 1) % 50,
          (col("doc_id") * 7 + 2) % 50,
          (col("doc_id") * 7 + 3) % 50)).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("weight"))
    Components.weightedPageRank(e, iters = 3)
      .withColumnRenamed("id", "host_id")
      .orderBy(col("host_id"))
  }

  /** MRR / NDCG@10 of the BM25 retriever against the planted relevance
    * (doc_id ≡ query_id mod 10) over the top-30 pool
    * ([[Similarity.retrievalEval]]) — the eval half of
    * `mine_hard_negatives`' mining loop. */
  def ragRetrievalEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = T.par(spark, T.t(spark, dir, "documents"))
    val qs = HardNegQueries.toDF("query_id", "terms")
    val pool = TextAnalysis.bm25MultiQuery(docs, qs, k = 30)
      .withColumn("rel", col("doc_id") % 10 === col("query_id"))
    val qids = HardNegQueries.map(_._1)
    val nRel = T.t(spark, dir, "documents")
      .filter((col("doc_id") % 10).isin(qids.map(_.toLong): _*))
      .groupBy((col("doc_id") % 10).cast("int").as("query_id"))
      .agg(count(lit(1)).as("n_rel"))
    Similarity.retrievalEval(pool, nRel, k = 10)
      .orderBy(col("query_id"))
  }

  // The boilerplate suffix the C4 line-dedup fixture plants on every doc.
  private val Boilerplate =
    ". all rights reserved to example corp. visit our homepage for more"

  /** C4 line-level dedup ([[Dedup.lineDedup]]): every document gets two
    * planted boilerplate sentences (so the corpus-wide ≥3-docs rule has
    * certain hits), and the operator must drop exactly those while
    * keeping each document's own prose in order. */
  def dedupLineC4(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.par(spark, T.t(spark, dir, "documents"))
      .select(col("doc_id"),
        concat(col("text"), lit(Boilerplate)).as("text"))
    Dedup.lineDedup(docs, minOccurrences = 3)
      .orderBy(col("doc_id"))
  }

  /** l-diversity audit over the event stream
    * ([[Curation.lDiversityAudit]]): quasi-id = (event_type, day),
    * sensitive attribute = user_id — a (type, day) class touched by
    * fewer than 5 distinct users leaks who was active. */
  def privacyLDiversity(spark: SparkSession, dir: String): DataFrame = {
    val ev = T.events(spark, dir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    Curation.lDiversityAudit(ev, Seq("event_type", "day"), "user_id", l = 5)
      .orderBy(col("event_type"), col("day"))
  }

  /** Per-user inter-arrival cadence profile
    * ([[Sessions.interArrivalStats]]): exact min/median/p90/max event
    * gaps in seconds — the sessionize-timeout / bot-cadence evidence. */
  def eventInterarrival(spark: SparkSession, dir: String): DataFrame =
    Sessions.interArrivalStats(T.events(spark, dir))
      .orderBy(col("user_id"))

  // The undirected host graph shared by the link-prediction / degree /
  // harmonic queries (the graph_hits link fixture, canonicalized).
  private def hostGraph(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.par(spark, T.t(spark, dir, "documents"))
    docs.select((col("doc_id") % 50).as("src"),
        explode(array((col("doc_id") * 7 + 1) % 50,
          (col("doc_id") * 7 + 2) % 50,
          (col("doc_id") * 7 + 3) % 50)).as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("id_a"),
        greatest(col("src"), col("dst")).as("id_b"))
      .distinct()
  }

  /** Tokenizer-coverage audit ([[TextAnalysis.oovRate]], top-20 corpus
    * vocabulary): per-doc OOV token fractions. */
  def textOovRate(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.par(spark, T.t(spark, dir, "documents"))
    TextAnalysis.oovRate(docs, vocabSize = 20).orderBy(col("doc_id"))
  }

  /** Degree distribution of the host graph
    * ([[Components.degreeProfile]]) — the hub-triage table that sizes
    * quadratic-corner guards. */
  def graphDegreeProfile(spark: SparkSession, dir: String): DataFrame =
    Components.degreeProfile(hostGraph(spark, dir)).orderBy(col("d"))

  /** Truncated harmonic centrality of hosts 0–4 over the host graph
    * ([[Components.harmonicCentrality]], 3 hops). */
  def graphHarmonic(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val seeds = (0L to 4L).toDF("id")
    Components.harmonicCentrality(hostGraph(spark, dir), seeds, maxHops = 3)
      .orderBy(col("seed"))
  }

  /** Exact-dedup token-impact rollup per source
    * ([[Dedup.dedupTokenImpact]]): the tokens-saved justification for
    * the dedup stage. */
  def dedupTokenImpact(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupTokenImpact(T.par(spark, T.t(spark, dir, "documents")),
        "source")
      .orderBy(col("source"))

  /** Cross-source duplication matrix — corpus forensics: which source
    * pairs share verified near-duplicates, and how many. The MinHash
    * pair relation (the `graph_pagerank` edge fixture) joined to each
    * side's source, rolled up per unordered source pair. */
  def dedupCrossSourceMatrix(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.t(spark, dir, "documents").filter(col("doc_id") < 500)
    val pairs = SharedRels.nearDupPairs500(spark, dir)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("__sa")),
        Seq("id_a"))
      .join(src.select(col("doc_id").as("id_b"), col("source").as("__sb")),
        Seq("id_b"))
      .select(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Corpus n-gram duplication coverage per source: what fraction of
    * 8-gram OCCURRENCES are repeats of an already-seen gram (within the
    * source) — the n-gram-granularity companion to
    * [[Dedup.dedupTokenImpact]]'s whole-doc statistic. One shingle
    * pass, one (source, gram) combine-agg, one source-sized rollup. */
  def textDupNgramCoverage(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.par(spark, T.t(spark, dir, "documents"))
    val n = 8
    val grams = docs
      .withColumn("__w", split(Dedup.normalize(col("text")), " "))
      .filter(size(col("__w")) >= n)
      .select(col("source"),
        explode(transform(sequence(lit(0), size(col("__w")) - n),
          i => concat_ws(" ",
            (0 until n).map(j => element_at(col("__w"), i + j + 1)): _*)))
          .as("g"))
    grams.groupBy(col("source"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") - 1).as("n_repeat"))
      .withColumn("repeat_frac_micro",
        expr("(1000000 * n_repeat) div greatest(n_grams, 1)"))
      .orderBy(col("source"))
  }

  /** Degree assortativity of the host graph
    * ([[Components.assortativity]]): one exact-integer row. */
  def graphAssortativity(spark: SparkSession, dir: String): DataFrame =
    Components.assortativity(hostGraph(spark, dir))

  /** One-row corpus data card — the README table of a dataset release:
    * document/source/language counts, char and whitespace-token mass,
    * exact-duplicate share, mean document length, and the dominant
    * language (argmax by count, ties pinned to the lexicographically
    * LAST language via a (count, lang) TakeOrdered). All pieces are
    * one-row aggregates broadcast-crossed together. */
  def corpusDatacard(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.t(spark, dir, "documents")
    val keyed = docs.select(col("doc_id"), col("lang"), col("source"),
      col("n_chars").cast("long").as("__ch"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("__tok"),
      md5(Dedup.normalize(col("text"))).as("__k"))
    val keeper = keyed.groupBy(col("__k")).agg(min(col("doc_id")).as("__keep"))
    val base = keyed.join(keeper, Seq("__k"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("__ch")).as("total_chars"),
        sum(col("__tok")).as("total_tokens"),
        sum(when(col("doc_id") =!= col("__keep"), 1L).otherwise(0L))
          .as("dup_docs"))
    val topLang = docs.groupBy(col("lang")).agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("lang").desc).limit(1)
      .select(col("lang").as("top_lang"), col("__n").as("top_lang_docs"))
    base.crossJoin(broadcast(topLang))
      .withColumn("dup_frac_micro",
        expr("(1000000 * dup_docs) div greatest(n_docs, 1)"))
      .withColumn("mean_doc_tokens",
        expr("total_tokens div greatest(n_docs, 1)"))
  }

  /** End-to-end web-curation pipeline over the batch-8 stages — the
    * C4/RefinedWeb recipe as ONE composed query: URL-canonical dedup
    * (keep the first crawl of each resource), corpus-frequent line
    * removal, blocklist gating on the cleaned text, quality-model keep,
    * and the final token accounting. Every stage's verdict is a column
    * so the drop REASON survives (the curation-debugging requirement);
    * final_keep is their conjunction and kept_tokens counts only
    * surviving docs' post-line-dedup tokens. */
  def pipelineWebCuration(spark: SparkSession, dir: String): DataFrame = {
    // ONE corpus scan: five stage verdicts consume `docs`, and without a
    // materialization each re-ran the scan + fixture projection (r16
    // driver: 31 overlapping jobs, 5 corpus scans, worst scaling ratio
    // of the registry). EAGER checkpoint per the measured r16 rule —
    // the consumers land in the same downstream job and would race a
    // lazy checkpoint into N scans (guide §1.2/§5).
    val docs = T.par(spark, T.t(spark, dir, "documents"))
      .select(col("doc_id"), col("text"),
        urlFixture(col("doc_id")).as("url"))
      .localCheckpoint()
    val urlKeep = UrlOps.urlDedup(docs, "url", "doc_id")
      .select(col("doc_id"), col("is_canonical").as("url_keep"))
    // `lines` feeds BOTH the blocklist stage and the final join; without
    // a materialization the whole lineDedup subtree (sentence freq agg,
    // drop join, per-doc reassembly) ran twice. Same eager rule.
    val lines = Dedup.lineDedup(
        docs.select(col("doc_id"),
          concat(col("text"), lit(Boilerplate)).as("text")),
        minOccurrences = 3)
      .select(col("doc_id"), col("n_dropped"), col("kept_text"))
      .localCheckpoint()
    val block = TextAnalysis.blocklistFilter(
        lines.select(col("doc_id"), col("kept_text").as("text")),
        Seq("slow", "big", "hash", "merge"), maxFracMicro = 100000L)
      .select(col("doc_id"), col("flag_frac_micro"),
        col("kept").as("block_keep"))
    val quality = QualityModel.integerWeightScore(docs, dim = 256)
      .select(col("doc_id"), col("margin"),
        (col("margin") > 0).as("quality_keep"))
    docs.select(col("doc_id"))
      .join(urlKeep, Seq("doc_id"))
      .join(lines, Seq("doc_id"))
      .join(block, Seq("doc_id"))
      .join(quality, Seq("doc_id"))
      .withColumn("final_keep",
        col("url_keep") && col("block_keep") && col("quality_keep"))
      .withColumn("kept_tokens",
        when(col("final_keep"),
          TextAnalysis.tokenCount(col("kept_text")).cast("long"))
          .otherwise(0L))
      .select(col("doc_id"), col("url_keep"), col("n_dropped"),
        col("flag_frac_micro"), col("margin"), col("quality_keep"),
        col("block_keep"), col("final_keep"), col("kept_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Rich-club curve of the host graph ([[Components.richClub]],
    * thresholds 2/4/8): is the hub elite self-wired? */
  def graphRichClub(spark: SparkSession, dir: String): DataFrame =
    Components.richClub(hostGraph(spark, dir), Seq(2L, 4L, 8L))
      .orderBy(col("k"))

  /** Top-20 three-step event paths across user timelines — the classic
    * clickstream path-mining table (per-user lead windows, then one
    * path-keyed count; the heap top-k is TakeOrdered, never a global
    * sort). */
  def eventTopPaths(spark: SparkSession, dir: String): DataFrame = {
    val ev = T.events(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev
      .withColumn("__e2", lead(col("event_type"), 1).over(w))
      .withColumn("__e3", lead(col("event_type"), 2).over(w))
      .filter(col("__e2").isNotNull && col("__e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("__e2"), col("__e3"))
        .as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(20)
  }

  /** Embedding-space drift between the first and second halves of the
    * corpus ([[Similarity.meanShiftByDim]]): per-dimension mean shifts
    * in milli units — the encoder/crawl drift monitor. */
  def embSnapshotShift(spark: SparkSession, dir: String): DataFrame = {
    val emb = T.par(spark, T.t(spark, dir, "embeddings"))
    val mid = T.t(spark, dir, "embeddings")
      .agg(expr("CAST(max(vec_id) div 2 AS BIGINT)")).head().getLong(0)
    Similarity.meanShiftByDim(
        emb.filter(col("vec_id") <= mid), emb.filter(col("vec_id") > mid))
      .orderBy(col("idx"))
  }

  /** Length-bias audit of the quality margin per source
    * ([[QualityModel.spearmanByGroup]]): exact tie-pinned Spearman ρ
    * between margin and whitespace token count — a |ρ| near 1 means the
    * "quality" model is a length detector. */
  def qualityLengthBias(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.t(spark, dir, "documents")
    val scored = QualityModel.integerWeightScore(T.par(spark, docs), dim = 256)
      .join(docs.select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok")),
        Seq("doc_id"))
    QualityModel.spearmanByGroup(scored, "source", "margin", "n_tok",
        "doc_id")
      .orderBy(col("source"))
  }

  /** Churn cohort table: users by LAST-active day — the retention
    * readout's inverse (how much of the user base went dark when). One
    * per-user max + one day-keyed count. */
  def eventChurnCohorts(spark: SparkSession, dir: String): DataFrame = {
    val ev = T.events(spark, dir)
    ev.groupBy(col("user_id"))
      .agg(max(date_format(col("ts"), "yyyy-MM-dd")).as("last_day"))
      .groupBy(col("last_day")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("last_day"))
  }

  /** Local clustering coefficient per host: C(v) = 2·tri(v) /
    * (deg(v)·(deg(v)−1)) in micro units over the host graph —
    * [[Components.triangleCounts]] joined with degrees; vertices with
    * deg < 2 (and triangle-free vertices) report 0. */
  def graphClusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    val und = hostGraph(spark, dir).localCheckpoint(false)
    val deg = und.select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val tri = Components.triangleCounts(und)
    deg.join(tri, Seq("id"), "left")
      .select(col("id").as("host_id"), col("d"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("clustering_micro", expr(
        """CASE WHEN d < 2 THEN CAST(0 AS BIGINT)
          | ELSE (1000000 * 2 * n_tri) div (d * (d - 1)) END""".stripMargin))
      .orderBy(col("host_id"))
  }

  val all: Seq[Query] = Seq(
    Query("graph_link_predict", graphLinkPredict,
      s"""WITH lk AS (
         |  SELECT doc_id % 50 AS src, (doc_id * 7 + 1) % 50 AS dst FROM documents
         |  UNION ALL
         |  SELECT doc_id % 50, (doc_id * 7 + 2) % 50 FROM documents
         |  UNION ALL
         |  SELECT doc_id % 50, (doc_id * 7 + 3) % 50 FROM documents),
         |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM lk WHERE src <> dst),
         |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
         |    SELECT u AS id FROM und UNION ALL SELECT v FROM und)
         |  GROUP BY 1),
         |adj AS (SELECT u AS w, v AS t FROM und
         |  UNION ALL SELECT v, u FROM und),
         |adjd AS (SELECT a.w, a.t, deg.d AS dw FROM adj a
         |  JOIN deg ON deg.id = a.w),
         |wed AS (SELECT l.t AS a, r.t AS b, l.dw
         |  FROM adjd l JOIN adjd r ON l.w = r.w AND l.t < r.t),
         |cand AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cn,
         |    CAST(sum(1000000 // dw) AS BIGINT) AS ra
         |  FROM wed GROUP BY 1, 2),
         |cand2 AS (SELECT c.* FROM cand c WHERE NOT EXISTS (
         |  SELECT 1 FROM und WHERE und.u = c.a AND und.v = c.b))
         |SELECT c.a AS id_a, c.b AS id_b, c.cn AS common_neighbors,
         |  c.ra AS ra_micro,
         |  CAST(da.d * db.d AS BIGINT) AS pref_attach,
         |  CAST((1000000 * c.cn) // (da.d + db.d - c.cn) AS BIGINT)
         |    AS jaccard_micro
         |FROM cand2 c JOIN deg da ON da.id = c.a JOIN deg db ON db.id = c.b
         |ORDER BY id_a, id_b""".stripMargin),
    Query("event_cusum_drift", eventCusumDrift,
      s"""WITH d AS (SELECT event_type,
         |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
         |    CAST(count(*) AS BIGINT) AS x
         |  FROM events GROUP BY 1, 2),
         |k AS (SELECT event_type, CAST(sum(x) // count(*) AS BIGINT) AS k
         |  FROM d GROUP BY 1),
         |p AS (SELECT d.event_type, d.day, d.x, k.k,
         |    CAST(sum(d.x - k.k) OVER (PARTITION BY d.event_type
         |      ORDER BY d.day) AS BIGINT) AS pp
         |  FROM d JOIN k USING (event_type)),
         |s AS (SELECT event_type, day, x, k,
         |    CAST(pp - least(0, min(pp) OVER (PARTITION BY event_type
         |      ORDER BY day)) AS BIGINT) AS cusum
         |  FROM p)
         |SELECT event_type, day, x, cusum, cusum > 2 * k AS alarm
         |FROM s ORDER BY event_type, day""".stripMargin),
    Query("quality_cohens_kappa", qualityCohensKappa,
      s"""WITH $marginCte,
         |lab AS (SELECT s.doc_id,
         |    CASE WHEN s.margin > 0 THEN 1 ELSE 0 END AS pred,
         |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS gold
         |  FROM s JOIN documents d USING (doc_id)),
         |j AS (SELECT pred, gold, count(*) AS nab FROM lab GROUP BY 1, 2),
         |r AS (SELECT pred, sum(nab) AS ra FROM j GROUP BY 1),
         |c AS (SELECT gold, sum(nab) AS cb FROM j GROUP BY 1),
         |e AS (SELECT CAST(sum(CAST(coalesce(ra, 0) AS HUGEINT)
         |    * coalesce(cb, 0)) AS HUGEINT) AS e
         |  FROM r FULL JOIN c ON r.pred = c.gold),
         |t AS (SELECT CAST(sum(nab) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN pred = gold THEN nab ELSE 0 END) AS BIGINT)
         |      AS d
         |  FROM j)
         |SELECT n, d AS n_agree,
         |  CAST((1000000 * d) // n AS BIGINT) AS po_micro,
         |  CAST((1000000 * e.e) // (CAST(n AS HUGEINT) * n) AS BIGINT)
         |    AS pe_micro,
         |  CAST(CASE
         |    WHEN CAST(n AS HUGEINT) * n - e.e = 0 THEN 0
         |    WHEN 1000000 * (CAST(n AS HUGEINT) * d - e.e) < 0
         |    THEN -((-(1000000 * (CAST(n AS HUGEINT) * d - e.e)))
         |           // (CAST(n AS HUGEINT) * n - e.e))
         |    ELSE (1000000 * (CAST(n AS HUGEINT) * d - e.e))
         |         // (CAST(n AS HUGEINT) * n - e.e)
         |  END AS BIGINT) AS kappa_micro
         |FROM t CROSS JOIN e""".stripMargin),
    Query("quality_decile_calibration", qualityDecileCalibration,
      s"""WITH $marginCte,
         |lab AS (SELECT s.doc_id, s.margin, d.source,
         |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS label
         |  FROM s JOIN documents d USING (doc_id)),
         |rk AS (SELECT source, margin, label,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY margin, doc_id) AS rk,
         |    count(*) OVER (PARTITION BY source) AS n
         |  FROM lab),
         |b AS (SELECT source, (10 * (rk - 1)) // n + 1 AS bin, margin, label
         |  FROM rk)
         |SELECT source, bin, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(label) AS BIGINT) AS n_pos,
         |  CAST((1000000 * sum(label)) // count(*) AS BIGINT)
         |    AS pos_rate_micro,
         |  CAST(CASE WHEN sum(margin) < 0
         |    THEN -((-sum(margin)) // count(*))
         |    ELSE sum(margin) // count(*) END AS BIGINT) AS mean_score,
         |  CAST(abs((1000000 * sum(label)) // count(*)
         |    - (1000000 * (2 * bin - 1)) // 20) AS BIGINT) AS gap_micro
         |FROM b GROUP BY source, bin
         |ORDER BY source, bin""".stripMargin),
    Query("url_parse_profile", urlParseProfile,
      s"""SELECT doc_id,
         |  $urlFixtureSql AS url,
         |  'https' AS scheme,
         |  CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END
         |    || 'h' || (doc_id % 10) || '.Example.'
         |    || CASE WHEN doc_id % 4 = 0 THEN 'COM'
         |            WHEN doc_id % 4 = 1 THEN 'ORG'
         |            WHEN doc_id % 4 = 2 THEN 'NET' ELSE 'DEV' END
         |    || CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END AS host,
         |  '/p/' || (doc_id % 7)
         |    || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END AS path,
         |  CASE WHEN doc_id % 2 = 0 THEN 'utm_source=feed&' ELSE '' END
         |    || 'id=' || (doc_id % 3) AS query,
         |  CASE WHEN doc_id % 4 = 1 THEN 's' || (doc_id % 5) ELSE '' END
         |    AS fragment,
         |  'example.'
         |    || CASE WHEN doc_id % 4 = 0 THEN 'com'
         |            WHEN doc_id % 4 = 1 THEN 'org'
         |            WHEN doc_id % 4 = 2 THEN 'net' ELSE 'dev' END
         |    AS registered_domain,
         |  2 AS path_depth,
         |  CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS n_params
         |FROM documents
         |ORDER BY doc_id""".stripMargin),
    Query("dedup_url_canonical", dedupUrlCanonical,
      s"""WITH c AS (SELECT doc_id,
         |    $canonicalFixtureSql AS canonical_url
         |  FROM documents),
         |k AS (SELECT canonical_url, min(doc_id) AS keeper_id
         |  FROM c GROUP BY 1)
         |SELECT c.doc_id, c.canonical_url, k.keeper_id,
         |  c.doc_id = k.keeper_id AS is_canonical
         |FROM c JOIN k USING (canonical_url)
         |ORDER BY c.doc_id""".stripMargin),
    Query("url_host_rollup", urlHostRollup,
      s"""WITH c AS (SELECT doc_id, n_chars,
         |    'example.'
         |      || CASE WHEN doc_id % 4 = 0 THEN 'com'
         |              WHEN doc_id % 4 = 1 THEN 'org'
         |              WHEN doc_id % 4 = 2 THEN 'net' ELSE 'dev' END
         |      AS registered_domain,
         |    $canonicalFixtureSql AS canonical_url
         |  FROM documents)
         |SELECT registered_domain,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_canonical,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  CAST((1000000 * (count(*) - count(DISTINCT canonical_url)))
         |    // count(*) AS BIGINT) AS dup_ratio_micro
         |FROM c GROUP BY 1
         |ORDER BY registered_domain""".stripMargin),
    Query("text_rake_keywords", textRakeKeywords,
      s"""WITH n AS (SELECT doc_id, ${normSql("text")} AS norm FROM documents),
         |sp AS (SELECT doc_id, string_split(norm, ' ') AS ws FROM n),
         |tk AS (SELECT doc_id AS id, CAST(r.i - 1 AS BIGINT) AS pos,
         |    ws[CAST(r.i AS INTEGER)] AS w
         |  FROM sp CROSS JOIN LATERAL
         |    (SELECT unnest(range(1, len(ws) + 1)) AS i) r
         |  WHERE ws[CAST(r.i AS INTEGER)] <> ''),
         |stop AS (SELECT w FROM (
         |  SELECT w, count(*) AS cnt FROM tk GROUP BY 1
         |  ORDER BY cnt DESC, w LIMIT 5)),
         |mk AS (SELECT id, pos, w,
         |    w IN (SELECT w FROM stop) AS isstop FROM tk),
         |phm AS (SELECT id, pos, w, isstop,
         |    sum(CASE WHEN isstop THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY id ORDER BY pos) AS ph
         |  FROM mk),
         |pt AS (SELECT id, ph, pos, w FROM phm WHERE NOT isstop),
         |pl AS (SELECT id, ph, CAST(count(*) AS BIGINT) AS len
         |  FROM pt GROUP BY 1, 2 HAVING count(*) <= 4),
         |occ AS (SELECT pt.id, pt.ph, pt.pos, pt.w, pl.len
         |  FROM pt JOIN pl USING (id, ph)),
         |wsr AS (SELECT w,
         |    CAST((1000000 * sum(len)) // count(*) AS BIGINT) AS ws
         |  FROM occ GROUP BY 1),
         |phr AS (SELECT o.id, o.ph, CAST(sum(wsr.ws) AS BIGINT) AS sc,
         |    string_agg(o.w, ' ' ORDER BY o.pos) AS phrase
         |  FROM occ o JOIN wsr USING (w) GROUP BY 1, 2),
         |dp AS (SELECT id, phrase, max(sc) AS score_micro
         |  FROM phr GROUP BY 1, 2),
         |rk AS (SELECT id, phrase, score_micro,
         |    row_number() OVER (PARTITION BY id
         |      ORDER BY score_micro DESC, phrase) AS rnk
         |  FROM dp)
         |SELECT id AS doc_id, rnk AS "rank", phrase, score_micro
         |FROM rk WHERE rnk <= 3
         |ORDER BY doc_id, rnk""".stripMargin),
    Query("text_blocklist_filter", textBlocklistFilter,
      s"""WITH n AS (SELECT doc_id, ${normSql("text")} AS norm FROM documents),
         |tk AS (SELECT doc_id AS id, u.w
         |  FROM (SELECT doc_id, string_split(norm, ' ') AS ws FROM n),
         |    unnest(ws) AS u(w)
         |  WHERE u.w <> ''),
         |agg AS (SELECT id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(CASE WHEN w IN ('slow', 'big', 'hash', 'merge')
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
         |  FROM tk GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(agg.n_tokens, 0) AS n_tokens,
         |  coalesce(agg.n_flagged, 0) AS n_flagged,
         |  CAST((1000000 * coalesce(agg.n_flagged, 0))
         |    // greatest(coalesce(agg.n_tokens, 0), 1) AS BIGINT)
         |    AS flag_frac_micro,
         |  (1000000 * coalesce(agg.n_flagged, 0))
         |    // greatest(coalesce(agg.n_tokens, 0), 1) <= 100000 AS kept
         |FROM documents d LEFT JOIN agg ON agg.id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),
    Query("event_seasonal_error", eventSeasonalError,
      s"""WITH d AS (SELECT event_type,
         |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
         |    CAST(count(*) AS BIGINT) AS x
         |  FROM events GROUP BY 1, 2),
         |l AS (SELECT event_type, day, x,
         |    lag(x, 7) OVER (PARTITION BY event_type ORDER BY day)
         |      AS forecast
         |  FROM d)
         |SELECT event_type, day, x, forecast, abs(x - forecast) AS abs_err
         |FROM l WHERE forecast IS NOT NULL
         |ORDER BY event_type, day""".stripMargin),
    Query("mine_hard_negatives", mineHardNegatives,
      s"""WITH qt(qid, w) AS (VALUES ${HardNegQueries.flatMap { case (q, ts) =>
              ts.map(t => s"($q, '$t')") }.mkString(", ")}),
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
         |agg AS (SELECT qid, id, count(*) AS n_terms,
         |    CAST(sum((CAST(idf AS HUGEINT) * tfp) // 1000000) AS BIGINT)
         |      AS bm25_micro
         |  FROM sc GROUP BY qid, id),
         |pool AS (SELECT * FROM (SELECT *,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY bm25_micro DESC, id) AS rk FROM agg)
         |  WHERE rk <= 30),
         |neg AS (SELECT qid, id, bm25_micro,
         |    row_number() OVER (PARTITION BY qid ORDER BY rk) AS neg_rank
         |  FROM pool WHERE id % 10 <> qid)
         |SELECT qid AS query_id, CAST(neg_rank AS INTEGER) AS neg_rank,
         |  id AS doc_id, bm25_micro
         |FROM neg WHERE neg_rank <= 10
         |ORDER BY query_id, neg_rank""".stripMargin),
    Query("quality_robust_scale", qualityRobustScale,
      s"""WITH $marginCte,
         |lab AS (SELECT s.doc_id, s.margin, d.source
         |  FROM s JOIN documents d USING (doc_id)),
         |rk AS (SELECT doc_id, source, margin,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY margin, doc_id) AS rk,
         |    count(*) OVER (PARTITION BY source) AS n
         |  FROM lab),
         |qs AS (SELECT doc_id, source, margin,
         |    max(CASE WHEN rk = (n + 1) // 2 THEN margin END)
         |      OVER (PARTITION BY source) AS median,
         |    max(CASE WHEN rk = (n + 3) // 4 THEN margin END)
         |      OVER (PARTITION BY source) AS q1,
         |    max(CASE WHEN rk = (3 * n + 3) // 4 THEN margin END)
         |      OVER (PARTITION BY source) AS q3
         |  FROM rk)
         |SELECT doc_id, source, margin,
         |  CAST(median AS BIGINT) AS median,
         |  CAST(q3 - q1 AS BIGINT) AS iqr,
         |  CAST(CASE WHEN margin - median < 0
         |    THEN -((1000000 * (median - margin)) // greatest(q3 - q1, 1))
         |    ELSE (1000000 * (margin - median)) // greatest(q3 - q1, 1)
         |  END AS BIGINT) AS robust_micro
         |FROM qs
         |ORDER BY doc_id""".stripMargin),
    Query("dedup_cdc_chunks", dedupCdcChunks,
      s"""WITH n AS (SELECT doc_id, ${normSql("text")} AS norm FROM documents),
         |sp AS (SELECT doc_id, string_split(norm, ' ') AS ws FROM n),
         |tk AS (SELECT doc_id AS id, CAST(r.i - 1 AS BIGINT) AS pos,
         |    ws[CAST(r.i AS INTEGER)] AS w
         |  FROM sp CROSS JOIN LATERAL
         |    (SELECT unnest(range(1, len(ws) + 1)) AS i) r
         |  WHERE ws[CAST(r.i AS INTEGER)] <> ''),
         |b AS (SELECT id, pos, w,
         |    CASE WHEN ${hashSql(31, "w")} % 8 = 0 THEN 1 ELSE 0 END AS bf
         |  FROM tk),
         |ch AS (SELECT id, pos, w,
         |    sum(bf) OVER (PARTITION BY id ORDER BY pos) - bf AS chunk
         |  FROM b),
         |ck AS (SELECT id, chunk, CAST(count(*) AS BIGINT) AS clen,
         |    md5(string_agg(w, ' ' ORDER BY pos)) AS ckey
         |  FROM ch GROUP BY 1, 2),
         |sh AS (SELECT ckey, count(DISTINCT id) AS nd FROM ck GROUP BY 1),
         |pd AS (SELECT ck.id, CAST(sum(ck.clen) AS BIGINT) AS n_tokens,
         |    CAST(count(*) AS BIGINT) AS n_chunks,
         |    CAST(sum(CASE WHEN sh.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_shared_chunks
         |  FROM ck JOIN sh USING (ckey) GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(pd.n_tokens, 0) AS n_tokens,
         |  coalesce(pd.n_chunks, 0) AS n_chunks,
         |  coalesce(pd.n_shared_chunks, 0) AS n_shared_chunks,
         |  CAST((1000000 * coalesce(pd.n_shared_chunks, 0))
         |    // greatest(coalesce(pd.n_chunks, 0), 1) AS BIGINT)
         |    AS shared_frac_micro
         |FROM documents d LEFT JOIN pd ON pd.id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),
    Query("emb_matryoshka_eval", embMatryoshkaEval,
      s"""WITH xm AS (SELECT vec_id, CAST(r.range AS INTEGER) AS idx,
         |    CAST(floor(CAST(embedding[CAST(r.range + 1 AS INTEGER)] AS DOUBLE)
         |      * 1000) AS BIGINT) AS x
         |  FROM embeddings CROSS JOIN range(64) r),
         |s AS (SELECT vec_id, CAST(sum(x * x) AS BIGINT) AS ssq,
         |    CAST(sum(CASE WHEN idx < 8 THEN x * x ELSE 0 END) AS BIGINT)
         |      AS s8,
         |    CAST(sum(CASE WHEN idx < 16 THEN x * x ELSE 0 END) AS BIGINT)
         |      AS s16,
         |    CAST(sum(CASE WHEN idx < 32 THEN x * x ELSE 0 END) AS BIGINT)
         |      AS s32
         |  FROM xm GROUP BY 1),
         |u AS (SELECT vec_id, 8 AS r, s8 AS sr, ssq FROM s
         |  UNION ALL SELECT vec_id, 16, s16, ssq FROM s
         |  UNION ALL SELECT vec_id, 32, s32, ssq FROM s),
         |c AS (SELECT r,
         |    CASE WHEN ssq = 0 THEN 1000000
         |      ELSE CAST(round(sqrt(CAST(sr AS DOUBLE) / CAST(ssq AS DOUBLE))
         |        * 1000000, 0) AS BIGINT) END AS cosm
         |  FROM u)
         |SELECT r, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(cosm) // count(*) AS BIGINT) AS mean_cos_micro,
         |  CAST(min(cosm) AS BIGINT) AS min_cos_micro
         |FROM c GROUP BY r
         |ORDER BY r""".stripMargin),
    // Prototype-prune replay: the silhouette oracle's trained centroids
    // (KmeansSql, vid<2000, k=8, 2 iters) + rounded-cosine distances,
    // then the per-cell hardest-half keep rule.
    Query("curation_prototype_prune", curationPrototypePrune,
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
         |FROM rkd ORDER BY vec_id""".stripMargin),
    Query("quality_label_noise", qualityLabelNoise,
      s"""WITH $marginCte,
         |lab AS (SELECT s.doc_id, s.margin,
         |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS given
         |  FROM s JOIN documents d USING (doc_id)),
         |th AS (SELECT
         |    CASE WHEN sum(CASE WHEN given = 1 THEN 1 ELSE 0 END) = 0
         |      THEN NULL
         |      WHEN sum(CASE WHEN given = 1 THEN margin ELSE 0 END) < 0
         |      THEN -((-sum(CASE WHEN given = 1 THEN margin ELSE 0 END))
         |             // sum(CASE WHEN given = 1 THEN 1 ELSE 0 END))
         |      ELSE sum(CASE WHEN given = 1 THEN margin ELSE 0 END)
         |           // sum(CASE WHEN given = 1 THEN 1 ELSE 0 END)
         |    END AS t1,
         |    CASE WHEN sum(CASE WHEN given = 0 THEN 1 ELSE 0 END) = 0
         |      THEN NULL
         |      WHEN sum(CASE WHEN given = 0 THEN -margin ELSE 0 END) < 0
         |      THEN -((-sum(CASE WHEN given = 0 THEN -margin ELSE 0 END))
         |             // sum(CASE WHEN given = 0 THEN 1 ELSE 0 END))
         |      ELSE sum(CASE WHEN given = 0 THEN -margin ELSE 0 END)
         |           // sum(CASE WHEN given = 0 THEN 1 ELSE 0 END)
         |    END AS t0
         |  FROM lab),
         |cl AS (SELECT given,
         |    CASE
         |      WHEN (margin - th.t1) >= 0 AND (-margin - th.t0) >= 0
         |      THEN (CASE WHEN (-margin - th.t0) >= (margin - th.t1)
         |            THEN 0 ELSE 1 END)
         |      WHEN (margin - th.t1) >= 0 THEN 1
         |      WHEN (-margin - th.t0) >= 0 THEN 0
         |      ELSE given
         |    END AS suggested
         |  FROM lab CROSS JOIN th)
         |SELECT given, suggested, CAST(count(*) AS BIGINT) AS n
         |FROM cl GROUP BY 1, 2
         |ORDER BY given, suggested""".stripMargin),
    Query("event_hourly_profile", eventHourlyProfile,
      s"""WITH h AS (SELECT event_type,
         |    CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS INTEGER)
         |      AS hour,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2),
         |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS tot,
         |    CAST(max(n) AS BIGINT) AS mx
         |  FROM h GROUP BY 1)
         |SELECT h.event_type, h.hour, h.n,
         |  CAST((1000000 * h.n) // t.tot AS BIGINT) AS pct_micro,
         |  h.n = t.mx AS is_peak
         |FROM h JOIN t USING (event_type)
         |ORDER BY event_type, hour""".stripMargin),
    Query("graph_weighted_rank", graphWeightedRank, {
      val iterCtes = (1 to 3).map { i =>
        s"""c$i AS (SELECT e.dst AS id,
           |    CAST(sum((CAST(p.pr AS HUGEINT) * e.w) // o.st) AS BIGINT)
           |      AS s
           |  FROM edges e JOIN p${i - 1} p ON p.id = e.src
           |  JOIN st o ON o.src = e.src
           |  GROUP BY e.dst),
           |p$i AS (SELECT n.id,
           |    (3 * (SELECT u0 FROM k)) // 20
           |      + (17 * coalesce(c.s, 0)) // 20 AS pr
           |  FROM nodes n LEFT JOIN c$i c USING (id))""".stripMargin
      }.mkString(",\n")
      s"""WITH lk AS (
         |  SELECT doc_id % 50 AS src, (doc_id * 7 + 1) % 50 AS dst FROM documents
         |  UNION ALL
         |  SELECT doc_id % 50, (doc_id * 7 + 2) % 50 FROM documents
         |  UNION ALL
         |  SELECT doc_id % 50, (doc_id * 7 + 3) % 50 FROM documents),
         |edges AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
         |  FROM lk WHERE src <> dst GROUP BY 1, 2),
         |nodes AS (SELECT DISTINCT id FROM (
         |  SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
         |k AS (SELECT CAST(1000000000000 // count(*) AS BIGINT) AS u0
         |  FROM nodes),
         |st AS (SELECT src, CAST(sum(w) AS BIGINT) AS st
         |  FROM edges GROUP BY 1),
         |p0 AS (SELECT id, (SELECT u0 FROM k) AS pr FROM nodes),
         |$iterCtes
         |SELECT id AS host_id, CAST(pr AS BIGINT) AS pr
         |FROM p3 ORDER BY host_id""".stripMargin
    }),
    Query("rag_retrieval_eval", ragRetrievalEval, {
      val disc = graft.ops.Similarity.discountTable(10)
        .map { case (r, d, pd) => s"($r, $d, $pd)" }.mkString(", ")
      s"""WITH qt(qid, w) AS (VALUES ${HardNegQueries.flatMap { case (q, ts) =>
              ts.map(t => s"($q, '$t')") }.mkString(", ")}),
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
         |pool AS (SELECT * FROM (SELECT *,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY bm25_micro DESC, id) AS rk FROM agg)
         |  WHERE rk <= 30),
         |relp AS (SELECT qid, id, rk, (id % 10 = qid) AS rel FROM pool),
         |disc(r, d, pd) AS (VALUES $disc),
         |nrel AS (SELECT CAST(doc_id % 10 AS INTEGER) AS qid,
         |    CAST(count(*) AS BIGINT) AS n_rel
         |  FROM documents
         |  WHERE doc_id % 10 IN (${HardNegQueries.map(_._1).mkString(", ")})
         |  GROUP BY 1),
         |perq AS (SELECT r.qid,
         |    min(CASE WHEN r.rel THEN r.rk END) AS fr,
         |    CAST(sum(CASE WHEN r.rel AND r.rk <= 10 THEN d.d ELSE 0 END)
         |      AS BIGINT) AS dcg
         |  FROM relp r LEFT JOIN disc d ON d.r = r.rk
         |  GROUP BY r.qid)
         |SELECT p.qid AS query_id, n.n_rel,
         |  CAST(coalesce(1000000 // p.fr, 0) AS BIGINT) AS rr_micro,
         |  p.dcg AS dcg_micro,
         |  CAST(coalesce(d2.pd, 0) AS BIGINT) AS idcg_micro,
         |  CAST(CASE WHEN coalesce(d2.pd, 0) = 0 THEN 0
         |    ELSE (1000000 * p.dcg) // d2.pd END AS BIGINT) AS ndcg_micro
         |FROM perq p JOIN nrel n ON n.qid = p.qid
         |LEFT JOIN disc d2 ON d2.r = least(10, CAST(n.n_rel AS INTEGER))
         |ORDER BY query_id""".stripMargin
    }),
    Query("dedup_line_c4", dedupLineC4,
      s"""WITH aug AS (SELECT doc_id,
         |    text || '$Boilerplate' AS t FROM documents),
         |sx AS (SELECT doc_id AS id, CAST(r.i - 1 AS BIGINT) AS pos,
         |    trim(ss[CAST(r.i AS INTEGER)]) AS s
         |  FROM (SELECT doc_id, regexp_split_to_array(t, '\\.\\s+') AS ss
         |        FROM aug)
         |  CROSS JOIN LATERAL
         |    (SELECT unnest(range(1, len(ss) + 1)) AS i) r),
         |sent AS (SELECT id, pos, s, md5(${normSql("s")}) AS h
         |  FROM sx WHERE s <> ''),
         |fr AS (SELECT h, count(DISTINCT id) AS nd FROM sent GROUP BY 1),
         |mk AS (SELECT sent.id, sent.pos, sent.s, fr.nd >= 3 AS dropq
         |  FROM sent JOIN fr USING (h)),
         |pd AS (SELECT id, CAST(count(*) AS BIGINT) AS n_sentences,
         |    CAST(sum(CASE WHEN dropq THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_dropped,
         |    coalesce(string_agg(CASE WHEN NOT dropq THEN s END,
         |      '. ' ORDER BY pos), '') AS kept_text
         |  FROM mk GROUP BY id)
         |SELECT d.doc_id,
         |  coalesce(pd.n_sentences, 0) AS n_sentences,
         |  coalesce(pd.n_dropped, 0) AS n_dropped,
         |  coalesce(pd.kept_text, '') AS kept_text,
         |  CAST((1000000 * coalesce(pd.n_dropped, 0))
         |    // greatest(coalesce(pd.n_sentences, 0), 1) AS BIGINT)
         |    AS dropped_frac_micro,
         |  md5(coalesce(pd.kept_text, '')) AS kept_md5
         |FROM documents d LEFT JOIN pd ON pd.id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),
    Query("privacy_l_diversity", privacyLDiversity,
      s"""SELECT event_type,
         |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
         |  CAST(count(*) AS BIGINT) AS class_size,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_sensitive,
         |  count(DISTINCT user_id) < 5 AS at_risk
         |FROM events GROUP BY 1, 2
         |ORDER BY event_type, day""".stripMargin),
    Query("event_interarrival", eventInterarrival,
      s"""WITH g AS (SELECT user_id, event_id,
         |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
         |      - lag(CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT))
         |        OVER (PARTITION BY user_id
         |          ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap_s
         |  FROM events),
         |g2 AS (SELECT user_id, event_id, gap_s FROM g
         |  WHERE gap_s IS NOT NULL),
         |rk AS (SELECT user_id, gap_s,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY gap_s, event_id) AS rk,
         |    count(*) OVER (PARTITION BY user_id) AS n
         |  FROM g2)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
         |  CAST(min(gap_s) AS BIGINT) AS min_gap_s,
         |  CAST(max(CASE WHEN rk = (n + 1) // 2 THEN gap_s END) AS BIGINT)
         |    AS median_gap_s,
         |  CAST(max(CASE WHEN rk = (9 * n + 9) // 10 THEN gap_s END)
         |    AS BIGINT) AS p90_gap_s,
         |  CAST(max(gap_s) AS BIGINT) AS max_gap_s
         |FROM rk GROUP BY user_id
         |ORDER BY user_id""".stripMargin),
    Query("text_oov_rate", textOovRate,
      s"""WITH n AS (SELECT doc_id, ${normSql("text")} AS norm FROM documents),
         |tk AS (SELECT doc_id AS id, u.w
         |  FROM (SELECT doc_id, string_split(norm, ' ') AS ws FROM n),
         |    unnest(ws) AS u(w)
         |  WHERE u.w <> ''),
         |voc AS (SELECT w FROM (
         |  SELECT w, count(*) AS cnt FROM tk GROUP BY 1
         |  ORDER BY cnt DESC, w LIMIT 20)),
         |agg AS (SELECT id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(CASE WHEN w IN (SELECT w FROM voc) THEN 0 ELSE 1 END)
         |      AS BIGINT) AS n_oov
         |  FROM tk GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(agg.n_tokens, 0) AS n_tokens,
         |  coalesce(agg.n_oov, 0) AS n_oov,
         |  CAST((1000000 * coalesce(agg.n_oov, 0))
         |    // greatest(coalesce(agg.n_tokens, 0), 1) AS BIGINT)
         |    AS oov_frac_micro
         |FROM documents d LEFT JOIN agg ON agg.id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),
    Query("graph_degree_profile", graphDegreeProfile,
      s"""WITH lk AS (
         |  SELECT doc_id % 50 AS src, (doc_id * 7 + 1) % 50 AS dst FROM documents
         |  UNION ALL
         |  SELECT doc_id % 50, (doc_id * 7 + 2) % 50 FROM documents
         |  UNION ALL
         |  SELECT doc_id % 50, (doc_id * 7 + 3) % 50 FROM documents),
         |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM lk WHERE src <> dst),
         |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
         |    SELECT u AS id FROM und UNION ALL SELECT v FROM und)
         |  GROUP BY 1)
         |SELECT d, CAST(count(*) AS BIGINT) AS n_vertices
         |FROM deg GROUP BY d ORDER BY d""".stripMargin),
    Query("graph_harmonic", graphHarmonic, {
      val rounds = (1 to 3).map { i =>
        s"""f$i AS (SELECT DISTINCT d.seed, e.v AS id
           |  FROM edges e JOIN f${i - 1} d ON d.id = e.u
           |  WHERE NOT EXISTS (SELECT 1 FROM r${i - 1} x
           |    WHERE x.seed = d.seed AND x.id = e.v)),
           |r$i AS (SELECT seed, id, hops FROM r${i - 1}
           |  UNION ALL SELECT seed, id, $i FROM f$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH lk AS (
         |  SELECT doc_id % 50 AS src, (doc_id * 7 + 1) % 50 AS dst FROM documents
         |  UNION ALL
         |  SELECT doc_id % 50, (doc_id * 7 + 2) % 50 FROM documents
         |  UNION ALL
         |  SELECT doc_id % 50, (doc_id * 7 + 3) % 50 FROM documents),
         |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM lk WHERE src <> dst),
         |edges AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
         |seeds(seed) AS (VALUES (0), (1), (2), (3), (4)),
         |r0 AS (SELECT seed, seed AS id, 0 AS hops FROM seeds),
         |f0 AS (SELECT seed, seed AS id FROM seeds),
         |$rounds,
         |agg AS (SELECT seed, CAST(count(*) AS BIGINT) AS n_reached,
         |    CAST(sum(1000000 // hops) AS BIGINT) AS harmonic_micro
         |  FROM r3 WHERE hops >= 1 GROUP BY seed)
         |SELECT s.seed,
         |  coalesce(a.n_reached, 0) AS n_reached,
         |  coalesce(a.harmonic_micro, 0) AS harmonic_micro
         |FROM seeds s LEFT JOIN agg a ON a.seed = s.seed
         |ORDER BY s.seed""".stripMargin
    }),
    Query("dedup_token_impact", dedupTokenImpact,
      s"""WITH k AS (SELECT doc_id AS id, source,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
         |      AS tok,
         |    md5(${normSql("text")}) AS ck
         |  FROM documents),
         |kp AS (SELECT ck, min(id) AS keep FROM k GROUP BY 1)
         |SELECT k.source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN k.id <> kp.keep THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_docs,
         |  CAST(sum(k.tok) AS BIGINT) AS total_tokens,
         |  CAST(sum(CASE WHEN k.id <> kp.keep THEN k.tok ELSE 0 END)
         |    AS BIGINT) AS dup_tokens,
         |  CAST((1000000 * sum(CASE WHEN k.id <> kp.keep THEN k.tok
         |    ELSE 0 END)) // greatest(sum(k.tok), 1) AS BIGINT)
         |    AS savings_micro
         |FROM k JOIN kp USING (ck)
         |GROUP BY k.source
         |ORDER BY k.source""".stripMargin),
    // The graph_pagerank MinHash verified-pair chain, rolled up per
    // unordered source pair.
    Query("dedup_cross_source_matrix", dedupCrossSourceMatrix,
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
         |  WHERE i.i / (sa.sz + sb.sz - i.i) >= 0.5)
         |SELECT least(da.source, db.source) AS source_a,
         |  greatest(da.source, db.source) AS source_b,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM pairs p
         |JOIN documents da ON da.doc_id = p.id_a
         |JOIN documents db ON db.doc_id = p.id_b
         |GROUP BY 1, 2
         |ORDER BY source_a, source_b""".stripMargin),
    Query("text_dup_ngram_coverage", textDupNgramCoverage, {
      val gram = (1 to 8).map(j => s"ws[i + $j]").mkString(" || ' ' || ")
      s"""WITH d AS (SELECT source,
         |    string_split(${normSql("text")}, ' ') AS ws FROM documents),
         |g AS (SELECT source,
         |    unnest(list_transform(range(len(ws) - 7), i -> $gram)) AS g
         |  FROM d WHERE len(ws) >= 8),
         |c AS (SELECT source, g, count(*) AS c FROM g GROUP BY 1, 2)
         |SELECT source, CAST(sum(c) AS BIGINT) AS n_grams,
         |  CAST(count(*) AS BIGINT) AS n_distinct,
         |  CAST(sum(c - 1) AS BIGINT) AS n_repeat,
         |  CAST((1000000 * sum(c - 1)) // greatest(sum(c), 1) AS BIGINT)
         |    AS repeat_frac_micro
         |FROM c GROUP BY 1
         |ORDER BY source""".stripMargin
    }),
    Query("graph_assortativity", graphAssortativity,
      s"""WITH lk AS (
         |  SELECT doc_id % 50 AS src, (doc_id * 7 + 1) % 50 AS dst FROM documents
         |  UNION ALL
         |  SELECT doc_id % 50, (doc_id * 7 + 2) % 50 FROM documents
         |  UNION ALL
         |  SELECT doc_id % 50, (doc_id * 7 + 3) % 50 FROM documents),
         |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM lk WHERE src <> dst),
         |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
         |    SELECT u AS id FROM und UNION ALL SELECT v FROM und)
         |  GROUP BY 1),
         |sym AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
         |j AS (SELECT du.d AS du, dv.d AS dv
         |  FROM sym JOIN deg du ON du.id = sym.u
         |  JOIN deg dv ON dv.id = sym.v),
         |s AS (SELECT CAST(count(*) AS HUGEINT) AS m,
         |    CAST(sum(du) AS HUGEINT) AS sx,
         |    CAST(sum(CAST(du AS HUGEINT) * du) AS HUGEINT) AS sxx,
         |    CAST(sum(CAST(du AS HUGEINT) * dv) AS HUGEINT) AS sxy
         |  FROM j)
         |SELECT CAST(m // 2 AS BIGINT) AS n_edges,
         |  CAST(CASE
         |    WHEN m * sxx - sx * sx = 0 THEN 0
         |    WHEN 1000000 * (m * sxy - sx * sx) < 0
         |    THEN -((-(1000000 * (m * sxy - sx * sx)))
         |           // (m * sxx - sx * sx))
         |    ELSE (1000000 * (m * sxy - sx * sx)) // (m * sxx - sx * sx)
         |  END AS BIGINT) AS assortativity_micro
         |FROM s""".stripMargin),
    Query("corpus_datacard", corpusDatacard,
      s"""WITH k AS (SELECT doc_id, lang, source,
         |    CAST(n_chars AS BIGINT) AS ch,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
         |      AS tok,
         |    md5(${normSql("text")}) AS ck
         |  FROM documents),
         |kp AS (SELECT ck, min(doc_id) AS keep FROM k GROUP BY 1),
         |base AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(count(DISTINCT k.source) AS BIGINT) AS n_sources,
         |    CAST(count(DISTINCT k.lang) AS BIGINT) AS n_langs,
         |    CAST(sum(k.ch) AS BIGINT) AS total_chars,
         |    CAST(sum(k.tok) AS BIGINT) AS total_tokens,
         |    CAST(sum(CASE WHEN k.doc_id <> kp.keep THEN 1 ELSE 0 END)
         |      AS BIGINT) AS dup_docs
         |  FROM k JOIN kp USING (ck)),
         |tl AS (SELECT lang AS top_lang, CAST(count(*) AS BIGINT)
         |    AS top_lang_docs
         |  FROM documents GROUP BY lang
         |  ORDER BY count(*) DESC, lang DESC LIMIT 1)
         |SELECT base.*, tl.top_lang, tl.top_lang_docs,
         |  CAST((1000000 * base.dup_docs) // greatest(base.n_docs, 1)
         |    AS BIGINT) AS dup_frac_micro,
         |  CAST(base.total_tokens // greatest(base.n_docs, 1) AS BIGINT)
         |    AS mean_doc_tokens
         |FROM base CROSS JOIN tl""".stripMargin),
    // The batch-8 stage oracles chained: URL-canonical keeper, line
    // dedup on the boilerplate-planted text, blocklist on the CLEANED
    // text, the integer-weight margin, and the conjunction.
    Query("pipeline_web_curation", pipelineWebCuration,
      s"""WITH uc AS (SELECT doc_id,
         |    $canonicalFixtureSql AS cu FROM documents),
         |uk AS (SELECT c.doc_id, (c.doc_id = k.keep) AS url_keep
         |  FROM uc c JOIN (SELECT cu, min(doc_id) AS keep
         |    FROM uc GROUP BY 1) k USING (cu)),
         |aug AS (SELECT doc_id,
         |    text || '$Boilerplate' AS t FROM documents),
         |sx AS (SELECT doc_id AS id, CAST(r.i - 1 AS BIGINT) AS pos,
         |    trim(ss[CAST(r.i AS INTEGER)]) AS s
         |  FROM (SELECT doc_id, regexp_split_to_array(t, '\\.\\s+') AS ss
         |        FROM aug)
         |  CROSS JOIN LATERAL
         |    (SELECT unnest(range(1, len(ss) + 1)) AS i) r),
         |sent AS (SELECT id, pos, s, md5(${normSql("s")}) AS h
         |  FROM sx WHERE s <> ''),
         |frq AS (SELECT h, count(DISTINCT id) AS nd FROM sent GROUP BY 1),
         |mk AS (SELECT sent.id, sent.pos, sent.s, frq.nd >= 3 AS dropq
         |  FROM sent JOIN frq USING (h)),
         |pdl AS (SELECT id,
         |    CAST(sum(CASE WHEN dropq THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_dropped,
         |    coalesce(string_agg(CASE WHEN NOT dropq THEN s END,
         |      '. ' ORDER BY pos), '') AS kept_text
         |  FROM mk GROUP BY id),
         |tk2 AS (SELECT p.id, u.w
         |  FROM (SELECT id, string_split(${normSql("kept_text")}, ' ') AS ws
         |        FROM pdl) p,
         |    unnest(p.ws) AS u(w)
         |  WHERE u.w <> ''),
         |bl AS (SELECT id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(CASE WHEN w IN ('slow', 'big', 'hash', 'merge')
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
         |  FROM tk2 GROUP BY 1),
         |blk AS (SELECT p.id,
         |    CAST((1000000 * coalesce(bl.n_flagged, 0))
         |      // greatest(coalesce(bl.n_tokens, 0), 1) AS BIGINT)
         |      AS flag_frac_micro
         |  FROM pdl p LEFT JOIN bl ON bl.id = p.id),
         |$marginCte
         |SELECT d.doc_id, uk.url_keep, pdl.n_dropped,
         |  blk.flag_frac_micro, s.margin,
         |  s.margin > 0 AS quality_keep,
         |  blk.flag_frac_micro <= 100000 AS block_keep,
         |  uk.url_keep AND blk.flag_frac_micro <= 100000
         |    AND s.margin > 0 AS final_keep,
         |  CAST(CASE WHEN uk.url_keep AND blk.flag_frac_micro <= 100000
         |      AND s.margin > 0
         |    THEN len(string_split_regex(trim(pdl.kept_text), '\\s+'))
         |    ELSE 0 END AS BIGINT) AS kept_tokens
         |FROM documents d
         |JOIN uk ON uk.doc_id = d.doc_id
         |JOIN pdl ON pdl.id = d.doc_id
         |JOIN blk ON blk.id = d.doc_id
         |JOIN s ON s.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),
    Query("graph_rich_club", graphRichClub,
      s"""WITH lk AS (
         |  SELECT doc_id % 50 AS src, (doc_id * 7 + 1) % 50 AS dst FROM documents
         |  UNION ALL
         |  SELECT doc_id % 50, (doc_id * 7 + 2) % 50 FROM documents
         |  UNION ALL
         |  SELECT doc_id % 50, (doc_id * 7 + 3) % 50 FROM documents),
         |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM lk WHERE src <> dst),
         |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
         |    SELECT u AS id FROM und UNION ALL SELECT v FROM und)
         |  GROUP BY 1),
         |ks(k) AS (VALUES (2), (4), (8)),
         |nr AS (SELECT ks.k, CAST(count(*) AS BIGINT) AS n_rich
         |  FROM ks JOIN deg ON deg.d > ks.k GROUP BY ks.k),
         |ej AS (SELECT du.d AS du, dv.d AS dv
         |  FROM und JOIN deg du ON du.id = und.u
         |  JOIN deg dv ON dv.id = und.v),
         |mr AS (SELECT ks.k, CAST(count(*) AS BIGINT) AS m_rich
         |  FROM ks JOIN ej ON ej.du > ks.k AND ej.dv > ks.k GROUP BY ks.k)
         |SELECT CAST(ks.k AS BIGINT) AS k,
         |  coalesce(nr.n_rich, 0) AS n_rich,
         |  coalesce(mr.m_rich, 0) AS m_rich,
         |  CAST(CASE WHEN coalesce(nr.n_rich, 0) < 2 THEN 0
         |    ELSE (1000000 * 2 * coalesce(mr.m_rich, 0))
         |         // (nr.n_rich * (nr.n_rich - 1)) END AS BIGINT)
         |    AS density_micro
         |FROM ks LEFT JOIN nr USING (k) LEFT JOIN mr USING (k)
         |ORDER BY k""".stripMargin),
    Query("event_top_paths", eventTopPaths,
      s"""WITH p AS (SELECT event_type,
         |    lead(event_type, 1) OVER (PARTITION BY user_id
         |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS e2,
         |    lead(event_type, 2) OVER (PARTITION BY user_id
         |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS e3
         |  FROM events)
         |SELECT event_type || '>' || e2 || '>' || e3 AS path,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM p WHERE e2 IS NOT NULL AND e3 IS NOT NULL
         |GROUP BY 1
         |ORDER BY n DESC, path
         |LIMIT 20""".stripMargin),
    Query("emb_snapshot_shift", embSnapshotShift,
      s"""WITH mid AS (SELECT CAST(max(vec_id) // 2 AS BIGINT) AS m
         |  FROM embeddings),
         |xa AS (SELECT CAST(r.range AS INTEGER) AS idx,
         |    CAST(sum(CAST(floor(CAST(embedding[CAST(r.range + 1 AS INTEGER)]
         |      AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT) AS sa,
         |    CAST(count(*) AS BIGINT) AS na
         |  FROM embeddings CROSS JOIN range(64) r CROSS JOIN mid
         |  WHERE vec_id <= mid.m GROUP BY 1),
         |xb AS (SELECT CAST(r.range AS INTEGER) AS idx,
         |    CAST(sum(CAST(floor(CAST(embedding[CAST(r.range + 1 AS INTEGER)]
         |      AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT) AS sb,
         |    CAST(count(*) AS BIGINT) AS nb
         |  FROM embeddings CROSS JOIN range(64) r CROSS JOIN mid
         |  WHERE vec_id > mid.m GROUP BY 1),
         |m AS (SELECT xa.idx,
         |    CAST(CASE WHEN sa < 0 THEN -((-sa) // na) ELSE sa // na END
         |      AS BIGINT) AS mean_a_milli,
         |    CAST(CASE WHEN sb < 0 THEN -((-sb) // nb) ELSE sb // nb END
         |      AS BIGINT) AS mean_b_milli
         |  FROM xa JOIN xb USING (idx))
         |SELECT idx, mean_a_milli, mean_b_milli,
         |  abs(mean_a_milli - mean_b_milli) AS shift_milli
         |FROM m ORDER BY idx""".stripMargin),
    Query("quality_length_bias", qualityLengthBias,
      s"""WITH $marginCte,
         |lab AS (SELECT s.doc_id, s.margin, d.source,
         |    CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
         |      AS n_tok
         |  FROM s JOIN documents d USING (doc_id)),
         |rk AS (SELECT source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY margin, doc_id) AS rx,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY n_tok, doc_id) AS ry
         |  FROM lab),
         |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CAST(rx - ry AS HUGEINT) * (rx - ry)) AS HUGEINT)
         |      AS s2
         |  FROM rk GROUP BY 1)
         |SELECT source, n,
         |  CAST(CASE
         |    WHEN n < 2 THEN 0
         |    WHEN 1000000 * (CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1)
         |           - 6 * s2) < 0
         |    THEN -((-(1000000 * (CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1)
         |               - 6 * s2)))
         |           // (CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1)))
         |    ELSE (1000000 * (CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1)
         |           - 6 * s2))
         |         // (CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1))
         |  END AS BIGINT) AS spearman_micro
         |FROM a ORDER BY source""".stripMargin),
    Query("event_churn_cohorts", eventChurnCohorts,
      s"""WITH u AS (SELECT user_id,
         |    max(strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d')) AS last_day
         |  FROM events GROUP BY 1)
         |SELECT last_day, CAST(count(*) AS BIGINT) AS n_users
         |FROM u GROUP BY 1
         |ORDER BY last_day""".stripMargin),
    Query("graph_clustering_coeff", graphClusteringCoeff,
      s"""WITH lk AS (
         |  SELECT doc_id % 50 AS src, (doc_id * 7 + 1) % 50 AS dst FROM documents
         |  UNION ALL
         |  SELECT doc_id % 50, (doc_id * 7 + 2) % 50 FROM documents
         |  UNION ALL
         |  SELECT doc_id % 50, (doc_id * 7 + 3) % 50 FROM documents),
         |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM lk WHERE src <> dst),
         |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
         |    SELECT u AS id FROM und UNION ALL SELECT v FROM und)
         |  GROUP BY 1),
         |t AS (SELECT a.u AS x, a.v AS y, b.v AS z
         |  FROM und a JOIN und b ON b.u = a.v
         |  JOIN und c ON c.u = a.u AND c.v = b.v),
         |tv AS (SELECT id, CAST(count(*) AS BIGINT) AS n_tri FROM (
         |    SELECT x AS id FROM t UNION ALL SELECT y FROM t
         |    UNION ALL SELECT z FROM t) GROUP BY 1)
         |SELECT deg.id AS host_id, deg.d,
         |  coalesce(tv.n_tri, 0) AS n_tri,
         |  CAST(CASE WHEN deg.d < 2 THEN 0
         |    ELSE (1000000 * 2 * coalesce(tv.n_tri, 0))
         |         // (deg.d * (deg.d - 1)) END AS BIGINT)
         |    AS clustering_micro
         |FROM deg LEFT JOIN tv ON tv.id = deg.id
         |ORDER BY host_id""".stripMargin))
}
