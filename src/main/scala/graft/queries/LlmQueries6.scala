package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.T
import graft.ops.{AsOf, Cdc, Components, Curation, Dedup, Sessions, Sketches, TextAnalysis}
import CommonSql.normSql

/** Round-9 (third batch) operators: exact set-similarity self-join via
  * prefix filtering (the PPJoin family — LSH-free, false-negative-free
  * near-dup pairs), change-log materialization (last-writer-wins CDC
  * snapshot and SCD type-2 validity intervals), the k-anonymity release
  * audit over metadata quasi-identifiers, bounded multi-source BFS
  * hop distance over the near-dup graph (contamination blast radius),
  * half-life-decayed engagement (integer shift decay), and the
  * snapshot-over-snapshot corpus diff (incremental-reprocessing gate).
  *
  * Same exactness contract as the sibling registries: integer / rational
  * arithmetic in every similarity predicate, explicit unique tie-breakers
  * in every window, so each query carries a full DuckDB replay oracle. */
object LlmQueries6 {

  /** Exact word-Jaccard ≥ 0.9 pairs via prefix filtering
    * ([[Dedup.prefixFilterJaccardPairs]]) over the bounded corpus slice.
    * Unlike `dedup_minhash_lsh` this has NO false negatives — the
    * candidate filter is lossless — so the oracle is the plain all-pairs
    * definition, which the prefix-filtered plan must reproduce exactly. */
  def dedupPpjoin(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.par(spark, T.t(spark, dir, "documents"))
      .filter(col("doc_id") < 2000)
    Dedup.prefixFilterJaccardPairs(docs, num = 9, den = 10)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Last-writer-wins CDC snapshot of the event log keyed by user:
    * each user's latest event by (ts, event_id), with users whose latest
    * event is an 'error' (the tombstone class in this test mapping)
    * dropped entirely ([[Cdc.latestSnapshot]]). */
  def cdcLatestSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val ev = T.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value"))
    Cdc.latestSnapshot(ev, Seq("user_id"), "ts", "event_id",
        col("event_type") === "error")
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), col("value"))
      .orderBy(col("user_id"))
  }

  /** SCD type-2 history of the event log keyed by user: every event
    * becomes a [valid_from, valid_to) validity interval closed by the
    * user's next event ([[Cdc.scd2History]]); the latest carries NULL
    * valid_to / is_current = true. */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    val ev = T.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    Cdc.scd2History(ev, Seq("user_id"), "ts", "event_id")
      .select(col("user_id"), col("event_id"),
        col("version").cast("long").as("version"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  /** k-anonymity audit of the documents metadata under the
    * quasi-identifier pair (lang, source) at k = 5
    * ([[Curation.kAnonymityAudit]]): equivalence-class sizes with the
    * re-identifiable (size < 5) classes flagged. */
  def privacyKAnonymity(spark: SparkSession, dir: String): DataFrame =
    Curation.kAnonymityAudit(
        T.t(spark, dir, "documents"), Seq("lang", "source"), k = 5)
      .orderBy(col("lang"), col("source"))

  /** Bounded multi-source BFS over the near-dup graph (same MinHash
    * edge relation as `graph_pagerank`): minimum hop distance 0..3 from
    * the seed set doc_id ≡ 0 (mod 97) — the contamination-blast-radius
    * grading a plain decontam anti-join can't express
    * ([[Components.bfsHops]]). */
  def graphBfsHops(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.t(spark, dir, "documents").filter(col("doc_id") < 500)
    val pairs = SharedRels.nearDupPairs500(spark, dir)
    val seeds = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("id"))
    Components.bfsHops(pairs, seeds, maxHops = 3)
      .select(col("id").as("doc_id"), col("hops"))
      .orderBy(col("doc_id"))
  }

  /** Half-life-decayed engagement per (user, event class): 7-day
    * half-life, whole-half-life integer shift decay against the
    * stream's max timestamp ([[Sessions.decayedCounts]]) — the
    * recency-weighted activity signal, bit-exact across engines. */
  def eventDecayedCounts(spark: SparkSession, dir: String): DataFrame =
    Sessions.decayedCounts(T.events(spark, dir),
        halfLifeSeconds = 7L * 86400L, keyCols = Seq("user_id", "event_type"))
      .orderBy(col("user_id"), col("event_type"))

  /** Snapshot-over-snapshot corpus diff rolled up per source: old
    * snapshot drops doc_id ≡ 7 (mod 10), new snapshot drops doc_id ≡ 3
    * (mod 17) and rewrites the text of doc_id ≡ 0 (mod 13) —
    * [[Dedup.snapshotDiff]] classifies
    * every id added/removed/changed/unchanged by content hash; the
    * roll-up is the incremental-reprocessing budget per source. */
  def corpusSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.par(spark, T.t(spark, dir, "documents"))
    val oldSnap = docs.filter(col("doc_id") % 10 =!= 7)
    val newSnap = docs.filter(col("doc_id") % 17 =!= 3)
      .withColumn("text",
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")))
    Dedup.snapshotDiff(oldSnap, newSnap)
      .join(docs.select(col("doc_id").as("id"), col("source")), Seq("id"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"), col("status"))
  }

  /** Leakage-safe cluster-keyed split assignment over the bounded
    * corpus slice: near-dup clusters from the MinHash pair relation,
    * split drawn per cluster REPRESENTATIVE (80/10/10) so duplicate
    * clusters never straddle splits ([[Curation.splitByCluster]]) —
    * the constructive counterpart of `split_leakage_check`'s audit. */
  def splitByCluster(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.t(spark, dir, "documents").filter(col("doc_id") < 500)
    val pairs = SharedRels.nearDupPairs500(spark, dir)
    Curation.splitByCluster(docs.select(col("doc_id"), col("source")), pairs,
        LlmQueries.SplitWeights)
      .select(col("doc_id"), col("cluster_rep"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** Sentence-level language-consistency profile
    * ([[TextAnalysis.sentenceLangProfile]]): switches between adjacent
    * sentence languages + dominant-language share — the code-switching
    * / mixed-document signal a doc-level language ID cannot see. */
  def textMixedLang(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.sentenceLangProfile(
        T.par(spark, T.t(spark, dir, "documents")))
      .orderBy(col("doc_id"))

  /** ORC interchange round trip, gated end-to-end like
    * `source_jsonl_roundtrip`: the documents table written as ORC
    * (Spark-native writer, zlib), read back, fingerprint-compared
    * against the parquet original by the oracle — the second columnar
    * interchange format a mixed-engine lakehouse actually ships. */
  def sourceOrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.t(spark, dir, "documents")
    val path = "/tmp/graft-orc-" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    docs.write.mode("overwrite").orc(path)
    spark.read.orc(path)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        md5(col("text")).as("text_md5"))
      .orderBy(col("doc_id"))
  }

  /** Host-graph centrality from real markup: pages are synthesized with
    * three `<a href>` links each (host index arithmetic on doc_id, like
    * `text_html_strip`'s page synthesis), hosts extracted from the HTML
    * with `regexp_extract_all`, and the directed host→host link graph
    * ranked by [[Components.pageRank]] (3 iterations, integer
    * micro-units) — the crawl-frontier / source-reputation composition:
    * extract → edge relation → centrality, all relational.
    *
    * Scale shape: extraction is one map pass over the corpus; the edge
    * relation collapses to DISTINCT host pairs (host-cardinality-sized,
    * not corpus-sized) before entering the rank loop. */
  def graphHostRank(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.par(spark, T.t(spark, dir, "documents"))
    def a(j: Int, p: String) = concat(
      lit("<a href=\"http://h"), (col("doc_id") * 7 + j) % 50,
      lit(s".ex.com/$p\">$p</a>"))
    val pages = docs.select(col("doc_id"),
      concat(lit("<html><body>"), a(1, "a"), a(2, "b"), a(3, "c"),
        lit("</body></html>")).as("__page"))
    val edges = pages
      .select((col("doc_id") % 50).as("src"),
        explode(expr(
          """regexp_extract_all(__page, '"http://h([0-9]+)\\.', 1)"""))
          .as("__h"))
      .select(col("src"), col("__h").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    Components.pageRank(edges, iters = 3)
      .select(col("id").as("host_id"), col("pr"))
      .orderBy(col("host_id"))
  }

  /** TextTiling-style topic segmentation summary
    * ([[TextAnalysis.topicSegments]]): boundaries where adjacent
    * sentences' word-set Jaccard drops below 1/5 — the
    * concatenated-document detector chunking policy keys on. */
  def textTopicSegments(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.topicSegments(T.par(spark, T.t(spark, dir, "documents")))
      .orderBy(col("doc_id"))

  /** Nearest as-of join (pandas `direction='nearest'`): each purchase
    * matched to its time-closest click within ±1 h, ties resolved
    * backward ([[AsOf.nearest]] — composed backward+forward passes,
    * exact microsecond deltas). */
  def asofNearestClick(spark: SparkSession, dir: String): DataFrame = {
    val ev = T.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("value"))
    AsOf.nearest(purchases, clicks, key = "user_id", ts = "ts",
        rightCols = Seq("value"), leftIdCol = "event_id",
        toleranceSeconds = Some(3600L))
      .select(col("event_id"), col("user_id"), col("asof_ts").as("click_ts"),
        col("asof_value").as("click_value"))
      .orderBy(col("event_id"))
  }

  /** Per-event-class 10% trimmed mean in exact cents
    * ([[Sessions.trimmedMean]]): rank-deterministic interior average —
    * the robust summary where a single spike must not move the number. */
  def eventTrimmedMean(spark: SparkSession, dir: String): DataFrame =
    Sessions.trimmedMean(
        T.events(spark, dir).select(col("event_id"), col("event_type"),
          col("value")),
        groupCol = "event_type", valueCol = "value", seqCol = "event_id")
      .orderBy(col("event_type"))

  /** Personalized PageRank from the contamination seed set (doc_id ≡ 0
    * mod 97, same seeds and near-dup graph as `graph_bfs_hops`):
    * walk-probability influence mass per doc
    * ([[Components.personalizedPageRank]]) — the graded companion to
    * BFS hop distance. */
  def graphPpr(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.t(spark, dir, "documents").filter(col("doc_id") < 500)
    val pairs = SharedRels.nearDupPairs500(spark, dir)
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    val seeds = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("id"))
    Components.personalizedPageRank(edges, seeds)
      .select(col("id").as("doc_id"), col("pr").as("ppr"))
      .orderBy(col("doc_id"))
  }

  /** AGMS join-size estimation ([[Sketches.cmsJoinSizeEstimate]]): the
    * purchases ⋈ clicks (user_id) output size estimated from two
    * fixed-size CMS sketches — min-over-rows bucket dot product — with
    * the exact Σ cnt_p·cnt_c alongside as the accuracy witness
    * (estimate ≥ exact by construction, the one-sided law). */
  def sketchJoinSize(spark: SparkSession, dir: String): DataFrame = {
    val ev = T.events(spark, dir)
    val p = ev.filter(col("event_type") === "purchase").select(col("user_id"))
    val c = ev.filter(col("event_type") === "click").select(col("user_id"))
    val est = Sketches.cmsJoinSizeEstimate(p, c, "user_id")
    val exact = p.groupBy(col("user_id")).agg(count(lit(1)).as("np"))
      .join(c.groupBy(col("user_id")).agg(count(lit(1)).as("nc")),
        Seq("user_id"))
      .agg(sum(col("np") * col("nc")).as("exact_join_size"))
    est.crossJoin(exact)
  }

  /** Per-source Gini concentration of token mass over documents
    * ([[Curation.giniByStratum]]): the mix-planning inequality audit —
    * a source whose tokens concentrate in a few giant documents responds
    * very differently to per-document sampling than its doc count
    * suggests. Exactly rational (rank form, micro-units), so the oracle
    * replays the whole statistic. */
  def mixSourceGini(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.par(spark, T.t(spark, dir, "documents"))
      .select(col("source"), col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    // Planted all-zero stratum: pins the S = 0 deflation guard (gini 0,
    // not NULL/abort) under the oracle, not just in CurationSpec.
    val zero = T.t(spark, dir, "documents").filter(col("doc_id") < 3)
      .select(lit("zz_planted_zero").as("source"), col("doc_id"),
        lit(0L).as("n_tokens"))
    Curation.giniByStratum(docs.unionByName(zero), "source", "n_tokens",
        "doc_id")
      .orderBy(col("source"))
  }

  // Split CASE keyed by the cluster representative — the same exact IEEE
  // bound values assignSplit bakes into the Spark plan (splitBounds).
  private def splitCaseOn(keyExpr: String): String = {
    val bounds = Curation.splitBounds(LlmQueries.SplitWeights)
    val u = Curation.hashFractionSql(keyExpr, "split")
    bounds.init.map { case (n, b) => s"WHEN $u < $b THEN '$n'" }
      .mkString("CASE ", " ", s" ELSE '${bounds.last._1}' END")
  }

  // Sentence-level language argmax: same marker lists + declaration-order
  // tie-break as TextAnalysis.langGuess, applied to a sentence expression.
  private def langCaseOn(sentExpr: String): String = {
    val ws = s"string_split(${normSql(sentExpr)}, ' ')"
    def hits(markers: Seq[String]) =
      s"len(list_filter($ws, w -> list_contains([${markers.map("'" + _ + "'").mkString(",")}], w)))"
    val h = TextAnalysis.LangMarkers.map { case (l, m) => l -> hits(m) }
    val Seq(en, de, es, fr) = h.map(_._2)
    s"""CASE
       |  WHEN $en > 0 AND $en >= $de AND $en >= $es AND $en >= $fr THEN 'en'
       |  WHEN $de > 0 AND $de > $en AND $de >= $es AND $de >= $fr THEN 'de'
       |  WHEN $es > 0 AND $es > $en AND $es > $de AND $es >= $fr THEN 'es'
       |  WHEN $fr > 0 AND $fr > $en AND $fr > $de AND $fr > $es THEN 'fr'
       |  ELSE 'unknown' END""".stripMargin
  }

  // Unrolled integer PageRank rounds over a DIRECTED edge relation
  // (nodes = src ∪ dst — the symmetric-graph oracle's src-only node set
  // would drop link-only hosts).
  private val hostRankIters = (1 to 3).map { i =>
    s"""c$i AS (SELECT e.dst AS id, CAST(sum(p.pr // o.outdeg) AS BIGINT) AS s
       |  FROM edges e JOIN p${i - 1} p ON p.id = e.src
       |  JOIN od o ON o.src = e.src
       |  GROUP BY e.dst),
       |p$i AS (SELECT n.id,
       |    (3 * (SELECT u0 FROM k)) // 20 + (17 * coalesce(c.s, 0)) // 20 AS pr
       |  FROM nodes n LEFT JOIN c$i c USING (id))""".stripMargin
  }.mkString(",\n")

  // Unrolled personalized-PageRank rounds: teleport mass only on seeds.
  private val pprIters = (1 to 3).map { i =>
    s"""c$i AS (SELECT e.dst AS id, CAST(sum(p.pr // o.outdeg) AS BIGINT) AS s
       |  FROM edges e JOIN p${i - 1} p ON p.id = e.src
       |  JOIN od o ON o.src = e.src
       |  GROUP BY e.dst),
       |p$i AS (SELECT n.id, n.seed,
       |    n.seed * ((3 * (SELECT u0 FROM k)) // 20)
       |      + (17 * coalesce(c.s, 0)) // 20 AS pr
       |  FROM nodes n LEFT JOIN c$i c USING (id))""".stripMargin
  }.mkString(",\n")

  def all: Seq[Query] = Seq(
    // Rank-form Gini in micro-units: G = (2R - (n+1)S) / (nS) with
    // R = sum(rank * x) over the (value, doc_id)-sorted order; HUGEINT
    // mirrors Spark's DECIMAL(38,0) intermediates exactly.
    Query("mix_source_gini", mixSourceGini,
      """WITH t AS (SELECT source, doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents
        |  UNION ALL
        |  SELECT 'zz_planted_zero', doc_id, CAST(0 AS BIGINT)
        |  FROM documents WHERE doc_id < 3),
        |rk AS (SELECT source, n_tokens, row_number()
        |    OVER (PARTITION BY source ORDER BY n_tokens, doc_id) AS r
        |  FROM t),
        |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(n_tokens) AS BIGINT) AS s,
        |    sum(CAST(r AS HUGEINT) * n_tokens) AS rr
        |  FROM rk GROUP BY source)
        |SELECT source, n AS n_rows, s AS total_value,
        |  CAST(CASE WHEN s = 0 THEN 0 ELSE
        |    (1000000 * (2 * rr - CAST(n + 1 AS HUGEINT) * s))
        |      // (CAST(n AS HUGEINT) * s) END AS BIGINT) AS gini_micro
        |FROM a ORDER BY source""".stripMargin),
    // CMS replay (seeds 91..94, 2^10 buckets, md5 60-bit hash) for both
    // sides + min-over-rows dot product; exact side is the count join.
    Query("sketch_join_size", sketchJoinSize,
      """WITH p AS (SELECT CAST(user_id AS VARCHAR) AS v FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT CAST(user_id AS VARCHAR) AS v FROM events
        |  WHERE event_type = 'click'),
        |ca AS (SELECT r.range AS hr,
        |    CAST('0x' || substring(md5(CAST(91 + r.range AS VARCHAR)
        |      || '|' || v), 1, 15) AS BIGINT) % 1024 AS b,
        |    count(*) AS cnt
        |  FROM p CROSS JOIN range(4) r GROUP BY 1, 2),
        |cb AS (SELECT r.range AS hr,
        |    CAST('0x' || substring(md5(CAST(91 + r.range AS VARCHAR)
        |      || '|' || v), 1, 15) AS BIGINT) % 1024 AS b,
        |    count(*) AS cnt
        |  FROM c CROSS JOIN range(4) r GROUP BY 1, 2),
        |dots AS (SELECT ca.hr, sum(ca.cnt * cb.cnt) AS dot
        |  FROM ca JOIN cb ON ca.hr = cb.hr AND ca.b = cb.b GROUP BY ca.hr),
        |ex AS (SELECT CAST(sum(np * nc) AS BIGINT) AS exact_join_size FROM
        |  (SELECT v, count(*) AS np FROM p GROUP BY v) a
        |  JOIN (SELECT v, count(*) AS nc FROM c GROUP BY v) b USING (v))
        |SELECT CAST((SELECT min(coalesce(dots.dot, 0)) FROM range(4) r
        |    LEFT JOIN dots ON dots.hr = r.range) AS BIGINT)
        |    AS est_join_size,
        |  ex.exact_join_size
        |FROM ex""".stripMargin),
    // MinHash edge chain + seed-flagged node set + the unrolled
    // walk-with-restart rounds (teleport mass on seeds only).
    Query("graph_ppr", graphPpr,
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
         |sd AS (SELECT DISTINCT doc_id AS id FROM documents
         |  WHERE doc_id < 500 AND doc_id % 97 = 0),
         |nodes AS (SELECT id, max(seed) AS seed FROM (
         |  SELECT src AS id, 0 AS seed FROM edges
         |  UNION ALL SELECT dst, 0 FROM edges
         |  UNION ALL SELECT id, 1 FROM sd) GROUP BY id),
         |k AS (SELECT CAST(1000000000000 // count(*) AS BIGINT) AS u0 FROM sd),
         |od AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         |p0 AS (SELECT id, seed, seed * (SELECT u0 FROM k) AS pr FROM nodes),
         |$pprIters
         |SELECT id AS doc_id, CAST(pr AS BIGINT) AS ppr
         |FROM p3 ORDER BY doc_id""".stripMargin),
    // The nearest-join DEFINITION: all candidates within ±1 h, ranked by
    // (|Δµs|, backward-first, then each side's struct resolution —
    // backward greatest (value, ts), forward least).
    Query("asof_nearest_click", asofNearestClick,
      """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE event_type = 'click'),
        |cand AS (SELECT p.event_id, c.ts AS cts, c.value AS cv,
        |    abs(epoch_us(c.ts) - epoch_us(p.ts)) AS ad,
        |    CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END AS side,
        |    CASE WHEN c.ts <= p.ts THEN -c.value ELSE c.value END AS vkey,
        |    CASE WHEN c.ts <= p.ts THEN -epoch_us(c.ts)
        |         ELSE epoch_us(c.ts) END AS tkey
        |  FROM p JOIN c ON c.user_id = p.user_id
        |    AND c.ts >= p.ts - INTERVAL 1 HOUR
        |    AND c.ts <= p.ts + INTERVAL 1 HOUR),
        |best AS (SELECT event_id, cts, cv FROM (
        |    SELECT *, row_number() OVER (PARTITION BY event_id
        |      ORDER BY ad, side, vkey, tkey) AS rn
        |    FROM cand) WHERE rn = 1)
        |SELECT p.event_id, p.user_id, b.cts AS click_ts,
        |  b.cv AS click_value
        |FROM p LEFT JOIN best b ON b.event_id = p.event_id
        |ORDER BY p.event_id""".stripMargin),
    Query("event_trimmed_mean", eventTrimmedMean,
      """WITH e AS (SELECT event_type, event_id,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
        |r AS (SELECT event_type, cents,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY cents, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM e),
        |k AS (SELECT event_type, cents, n FROM r
        |  WHERE rn > (n * 1) // 10 AND rn <= n - (n * 1) // 10)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_total,
        |  CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(cents) AS DOUBLE) / count(*) AS trimmed_mean_cents
        |FROM k GROUP BY event_type
        |ORDER BY event_type""".stripMargin),
    // Sentence CTE + per-sentence distinct word lists + lag adjacency —
    // the exact 1-sentence-block TextTiling reduction, integer threshold.
    Query("text_topic_segments", textTopicSegments,
      s"""WITH s0 AS (SELECT doc_id, CAST(r.i AS INTEGER) AS i,
         |    trim(sp[CAST(r.i + 1 AS INTEGER)]) AS s
         |  FROM (SELECT doc_id, string_split_regex(text, '\\.\\s+') AS sp
         |        FROM documents)
         |  CROSS JOIN LATERAL
         |    (SELECT unnest(generate_series(0, len(sp) - 1)) AS i) r),
         |sn AS (SELECT doc_id, i,
         |    list_filter(list_distinct(string_split(${normSql("s")}, ' ')),
         |      w -> w <> '') AS ws
         |  FROM s0 WHERE s <> ''),
         |o AS (SELECT doc_id, ws,
         |    lag(ws) OVER (PARTITION BY doc_id ORDER BY i) AS prev
         |  FROM sn),
         |m AS (SELECT doc_id, prev IS NOT NULL AS hasprev,
         |    CASE WHEN prev IS NULL THEN 0
         |         ELSE len(list_intersect(prev, ws)) END AS inter,
         |    CASE WHEN prev IS NULL THEN 0
         |         ELSE len(prev) + len(ws) - len(list_intersect(prev, ws))
         |    END AS uni
         |  FROM o)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sentences,
         |  CAST(sum(CASE WHEN hasprev AND inter * 5 < uni * 1
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_boundaries,
         |  CAST(sum(CASE WHEN hasprev AND inter * 5 < uni * 1
         |    THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_segments
         |FROM m GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin),
    // Page synthesis + regexp_extract_all replayed in SQL, then the
    // unrolled integer PageRank chain (graph_pagerank's form, directed).
    Query("graph_host_rank", graphHostRank,
      s"""WITH pg AS (SELECT doc_id,
         |    '<html><body><a href="http://h' || ((doc_id * 7 + 1) % 50)
         |    || '.ex.com/a">a</a><a href="http://h' || ((doc_id * 7 + 2) % 50)
         |    || '.ex.com/b">b</a><a href="http://h' || ((doc_id * 7 + 3) % 50)
         |    || '.ex.com/c">c</a></body></html>' AS page
         |  FROM documents),
         |lk AS (SELECT doc_id % 50 AS src, CAST(u.h AS BIGINT) AS dst
         |  FROM pg, unnest(regexp_extract_all(page, '"http://h([0-9]+)\\.', 1)) AS u(h)),
         |edges AS (SELECT DISTINCT src, dst FROM lk WHERE src <> dst),
         |nodes AS (SELECT DISTINCT id FROM (
         |  SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
         |k AS (SELECT CAST(1000000000000 // count(*) AS BIGINT) AS u0 FROM nodes),
         |od AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         |p0 AS (SELECT id, (SELECT u0 FROM k) AS pr FROM nodes),
         |$hostRankIters
         |SELECT id AS host_id, CAST(pr AS BIGINT) AS pr
         |FROM p3 ORDER BY host_id""".stripMargin),
    Query("source_orc_roundtrip", sourceOrcRoundtrip,
      """SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin),
    // MinHash pair chain (graph_triangles CTEs) → recursive components
    // (min-label reach, the dedup_cc_clusters oracle form) → singleton
    // fallback → the exact-IEEE split CASE on the representative.
    Query("split_by_cluster", splitByCluster,
      s"""WITH RECURSIVE ${LlmQueries.gramsCteFor("grams", "doc_id < 500")},
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
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(id, lab) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
         |comp AS (SELECT id, min(lab) AS component FROM reach GROUP BY id)
         |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_rep,
         |  ${splitCaseOn("coalesce(c.component, d.doc_id)")} AS split
         |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
         |WHERE d.doc_id < 500
         |ORDER BY d.doc_id""".stripMargin),
    // Sentence split (rag_sentence_chunks CTE form) → per-sentence lang
    // vote → adjacent-switch window + (doc, lang) counts → argmax by
    // (count, lang) — Spark's max(struct) tie-break replayed as
    // ORDER BY c DESC, lang DESC.
    Query("text_mixed_lang", textMixedLang,
      s"""WITH s0 AS (SELECT doc_id, CAST(r.i AS INTEGER) AS i,
         |    trim(sp[CAST(r.i + 1 AS INTEGER)]) AS s
         |  FROM (SELECT doc_id, string_split_regex(text, '\\.\\s+') AS sp
         |        FROM documents)
         |  CROSS JOIN LATERAL
         |    (SELECT unnest(generate_series(0, len(sp) - 1)) AS i) r),
         |sl AS (SELECT doc_id, i, ${langCaseOn("s")} AS lang
         |  FROM s0 WHERE s <> ''),
         |sw AS (SELECT doc_id,
         |    CAST(count(*) AS BIGINT) AS n_sentences,
         |    CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> lang
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_switches
         |  FROM (SELECT doc_id, lang,
         |      lag(lang) OVER (PARTITION BY doc_id ORDER BY i) AS prev
         |    FROM sl) GROUP BY doc_id),
         |cnt AS (SELECT doc_id, lang, count(*) AS c
         |  FROM sl GROUP BY doc_id, lang),
         |dom AS (SELECT doc_id, lang AS dominant_lang, c FROM (
         |  SELECT doc_id, lang, c, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY c DESC, lang DESC) AS rn FROM cnt) WHERE rn = 1)
         |SELECT sw.doc_id, sw.n_sentences, sw.n_switches,
         |  dom.dominant_lang,
         |  CAST((1000000 * dom.c) // sw.n_sentences AS BIGINT)
         |    AS dominant_micro
         |FROM sw JOIN dom ON dom.doc_id = sw.doc_id
         |ORDER BY sw.doc_id""".stripMargin),
    Query("event_decayed_counts", eventDecayedCounts,
      """WITH e AS (SELECT user_id, event_type,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec
        |  FROM events),
        |m AS (SELECT max(sec) AS tmax FROM e)
        |SELECT user_id, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum((cents * 1000000)
        |    // (CAST(1 AS BIGINT) << CAST(least((tmax - sec) // 604800, 40) AS INTEGER)))
        |    AS BIGINT) AS decayed_micro
        |FROM e CROSS JOIN m
        |GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin),
    Query("corpus_snapshot_diff", corpusSnapshotDiff,
      s"""WITH o AS (SELECT doc_id AS id, md5(${normSql("text")}) AS h_old
         |  FROM documents WHERE doc_id % 10 <> 7),
         |n AS (SELECT doc_id AS id,
         |    md5(${normSql("CASE WHEN doc_id % 13 = 0 THEN text || ' rev2' ELSE text END")}) AS h_new
         |  FROM documents WHERE doc_id % 17 <> 3),
         |d AS (SELECT coalesce(o.id, n.id) AS id,
         |    CASE WHEN h_old IS NULL THEN 'added'
         |         WHEN h_new IS NULL THEN 'removed'
         |         WHEN h_old = h_new THEN 'unchanged'
         |         ELSE 'changed' END AS status
         |  FROM o FULL JOIN n ON o.id = n.id)
         |SELECT s.source, d.status, CAST(count(*) AS BIGINT) AS n_docs
         |FROM d JOIN documents s ON s.doc_id = d.id
         |GROUP BY s.source, d.status
         |ORDER BY s.source, d.status""".stripMargin),
    // The oracle is the DEFINITION (all shared-token pairs, exact
    // rational threshold), not a replay of the prefix filter — the
    // filter is provably lossless, so both must agree bit-for-bit.
    Query("dedup_ppjoin", dedupPpjoin,
      s"""WITH w AS (
         |  SELECT DISTINCT doc_id AS id, u.w
         |  FROM documents, unnest(string_split(${normSql("text")}, ' ')) AS u(w)
         |  WHERE doc_id < 2000 AND u.w <> ''
         |), sz AS (SELECT id, count(*) AS n FROM w GROUP BY 1),
         |inter AS (
         |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
         |  FROM w a JOIN w b ON a.w = b.w AND a.id < b.id GROUP BY 1, 2)
         |SELECT id_a, id_b, CAST(c AS BIGINT) AS inter,
         |  CAST(sa.n + sb.n - c AS BIGINT) AS uni
         |FROM inter
         |JOIN sz sa ON sa.id = id_a JOIN sz sb ON sb.id = id_b
         |WHERE c * 10 >= 9 * (sa.n + sb.n - c)
         |ORDER BY id_a, id_b""".stripMargin),
    Query("cdc_latest_snapshot", cdcLatestSnapshot,
      """SELECT user_id, event_id, ts, event_type, value FROM (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin),
    Query("scd2_history", scd2History,
      """SELECT user_id, event_id,
        |  CAST(row_number() OVER w AS BIGINT) AS version,
        |  ts AS valid_from,
        |  lead(ts) OVER w AS valid_to,
        |  lead(ts) OVER w IS NULL AS is_current
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |      FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin),
    Query("privacy_k_anonymity", privacyKAnonymity,
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS class_size,
        |  count(*) < 5 AS at_risk
        |FROM documents GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin),
    // Same MinHash edge CTEs as graph_triangles, then 3 unrolled
    // level-synchronous BFS rounds (frontier = newly-reached only).
    Query("graph_bfs_hops", graphBfsHops,
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
         |edges AS (SELECT u, v FROM und UNION SELECT v, u FROM und),
         |d0 AS (SELECT DISTINCT doc_id AS id FROM documents
         |  WHERE doc_id < 500 AND doc_id % 97 = 0),
         |f1 AS (SELECT DISTINCT e.v AS id FROM edges e JOIN d0 ON d0.id = e.u
         |  WHERE e.v NOT IN (SELECT id FROM d0)),
         |r1 AS (SELECT id FROM d0 UNION SELECT id FROM f1),
         |f2 AS (SELECT DISTINCT e.v AS id FROM edges e JOIN f1 ON f1.id = e.u
         |  WHERE e.v NOT IN (SELECT id FROM r1)),
         |r2 AS (SELECT id FROM r1 UNION SELECT id FROM f2),
         |f3 AS (SELECT DISTINCT e.v AS id FROM edges e JOIN f2 ON f2.id = e.u
         |  WHERE e.v NOT IN (SELECT id FROM r2))
         |SELECT id AS doc_id, hops FROM (
         |  SELECT id, 0 AS hops FROM d0
         |  UNION ALL SELECT id, 1 FROM f1
         |  UNION ALL SELECT id, 2 FROM f2
         |  UNION ALL SELECT id, 3 FROM f3)
         |ORDER BY doc_id""".stripMargin))
}
