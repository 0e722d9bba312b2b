package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.T
import graft.ops.{Components, Dedup, Pca, TextAnalysis}
import CommonSql.normSql

/** Round-8 training-data-pipeline operators: BM25 lexical retrieval,
  * power-iteration PCA projection, label-propagation community
  * detection over the near-dup graph, and corpus-level source-pair
  * similarity from bottom-k sketches. Each keeps the repo's exactness
  * contract — integer/rational arithmetic only, no transcendentals —
  * so every query has a full DuckDB replay oracle, training loops
  * included (unrolled like `graph_pagerank`'s).
  */
object LlmQueries3 {

  /** Query terms for the BM25 demo query — common corpus words so the
    * candidate set spans sources; shared with the oracle literal list. */
  private val Bm25Terms = Seq("spark", "join", "window", "stream")

  /** The multi-query BM25 catalog — distinct lexical fields per query so
    * the per-query rankings genuinely differ; shared with the oracle's
    * VALUES list. */
  private[queries] val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("spark", "join", "window"),
    2 -> Seq("stream", "window"),
    3 -> Seq("data", "table", "query"),
    4 -> Seq("spark", "stream"))

  /** BM25 top-50 retrieval (integer-exact variant; see
    * [[TextAnalysis.bm25TopK]]). */
  def textBm25TopK(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25TopK(T.par(spark, T.t(spark, dir, "documents")),
      Bm25Terms, k = 50)

  /** Batch BM25: 4 queries scored in one corpus pass, top-10 each via
    * the per-query window ([[TextAnalysis.bm25MultiQuery]]). */
  def textBm25MultiQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val qs = Bm25Queries.toDF("query_id", "terms")
    TextAnalysis.bm25MultiQuery(
        T.par(spark, T.t(spark, dir, "documents")), qs, k = 10)
      .orderBy(col("query_id"), col("rk"))
  }

  /** Leading principal component by 3 power iterations (milli-unit
    * integers), trained on the bounded `vec_id < 2000` slice and served
    * corpus-wide as a pure map — the train-bounded / serve-everywhere
    * split every trained operator here uses. */
  def embPcaProject(spark: SparkSession, dir: String): DataFrame = {
    val emb = T.par(spark, T.t(spark, dir, "embeddings"))
    val v = Pca.powerDirection(emb.filter(col("vec_id") < 2000), dim = 64,
      iters = 3)
    Pca.projectMicro(emb, v).orderBy(col("vec_id"))
  }

  /** Trigram-LM train-once / persist / score-everywhere under the gate:
    * count relations trained on the bounded doc_id < 500 slice, written
    * through [[graft.sources.Artifacts.saveLmCounts]] (KenLM-style
    * distributed count files), loaded back, and served corpus-wide with
    * open-vocabulary Laplace floors for unseen n-grams
    * ([[TextAnalysis.scoreTrigramCounts]]). */
  def artifactLmServe(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Artifacts
    val docs = T.par(spark, T.t(spark, dir, "documents"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-lm").toString
    val (c3, c23, c1) = SharedRels.trigramLm500(spark, dir)
    Artifacts.saveLmCounts(spark, s"$tmp/lm", c3, c23, c1)
    val (l3, l23, l1) = Artifacts.loadLmCounts(spark, s"$tmp/lm")
    TextAnalysis.scoreTrigramCounts(docs, l3, l23, l1)
      .orderBy(col("doc_id"))
  }

  /** Top-2 principal components via power iteration + integer-exact
    * deflation ([[Pca.powerDirections]]), trained on the bounded slice
    * and served corpus-wide as one pure-map pass with both score
    * columns. */
  def embPcaTopR(spark: SparkSession, dir: String): DataFrame = {
    val emb = T.par(spark, T.t(spark, dir, "embeddings"))
    val dirs = Pca.powerDirections(emb.filter(col("vec_id") < 2000),
      dim = 64, r = 2, iters = 3)
    Pca.projectMicroTopR(emb, dirs).orderBy(col("vec_id"))
  }

  /** Deterministic label-propagation communities (2 sweeps, min-label
    * ties) over the same near-dup edge relation as `graph_pagerank`. */
  def graphLabelProp(spark: SparkSession, dir: String): DataFrame = {
    val pairs = SharedRels.nearDupPairs500(spark, dir)
    Components.labelPropagation(pairs, iters = 2)
      .select(col("id").as("doc_id"), col("community"))
      .orderBy(col("doc_id"))
  }

  /** Modularity of the LPA communities over the same near-dup graph —
    * the partition-quality eval ([[Components.modularity]]); one lazy
    * checkpoint shares the MinHash pair pipeline between the LPA sweeps
    * and the metric. */
  def graphModularity(spark: SparkSession, dir: String): DataFrame = {
    val pairs = SharedRels.nearDupPairs500(spark, dir)
    val comm = Components.labelPropagation(pairs, iters = 2)
    Components.modularity(pairs, comm).orderBy(col("community"))
  }

  /** Band-recall of the MinHash-LSH dedup pipeline vs exhaustive
    * Jaccard ground truth on the bounded doc_id < 300 slice
    * ([[Dedup.lshRecallEval]]). */
  def dedupLshRecall(spark: SparkSession, dir: String): DataFrame =
    Dedup.lshRecallEval(
      T.par(spark, T.t(spark, dir, "documents")).filter(col("doc_id") < 300),
      threshold = 0.5)

  /** Source-pair Jaccard estimates from per-source bottom-128 sketches
    * of word 3-gram shingles — the corpus-level dedup-triage matrix. */
  def sourceBottomkSim(spark: SparkSession, dir: String): DataFrame =
    Dedup.sourceBottomKSim(T.par(spark, T.t(spark, dir, "documents")),
        n = 3, k = 128)
      .orderBy(col("s1"), col("s2"))

  // ---- DuckDB oracles ---------------------------------------------------

  // Unrolled power-iteration replay: y = X·v, u = Xᵀ·y, then the
  // sign-split renormalization (abs before //, so floor == truncate).
  // Parameterized by the data-relation name and a CTE-name prefix so the
  // deflated second component replays with the same template. Every CTE
  // is MATERIALIZED: DuckDB inlines multiply-referenced CTEs, and an
  // unrolled iteration chain re-evaluates exponentially in depth without
  // the hint (observed: the 2-component chain never finished).
  private[queries] def pcaIters(xm: String, p: String) = (1 to 3).map { i =>
    s"""${p}y$i AS MATERIALIZED (SELECT x.vec_id, CAST(sum(x.x * ${p}v${i - 1}.v) AS BIGINT) AS y
       |  FROM $xm x JOIN ${p}v${i - 1} ON ${p}v${i - 1}.idx = x.idx
       |  GROUP BY x.vec_id),
       |${p}u$i AS MATERIALIZED (SELECT x.idx, CAST(sum(x.x * ${p}y$i.y) AS BIGINT) AS u
       |  FROM $xm x JOIN ${p}y$i ON ${p}y$i.vec_id = x.vec_id
       |  GROUP BY x.idx),
       |${p}m$i AS MATERIALIZED (SELECT greatest(max(abs(u)), 1) AS m FROM ${p}u$i),
       |${p}v$i AS MATERIALIZED (SELECT idx, CAST(CASE WHEN u < 0
       |    THEN -((abs(u) * 1000) // (SELECT m FROM ${p}m$i))
       |    ELSE (abs(u) * 1000) // (SELECT m FROM ${p}m$i) END AS BIGINT) AS v
       |  FROM ${p}u$i)""".stripMargin
  }.mkString(",\n")

  private val pcaIterCtes = pcaIters("xm", "")

  // Synchronous LPA replay: neighbor-label counts, then argmax by
  // (count DESC, label ASC) — the window form of max(struct(c, -lbl)).
  private val lpaIterCtes = (1 to 2).map { i =>
    s"""n$i AS (SELECT e.src AS id, l.lbl, count(*) AS c
       |  FROM edges e JOIN l${i - 1} l ON l.id = e.dst
       |  GROUP BY e.src, l.lbl),
       |l$i AS (SELECT id, lbl FROM (
       |    SELECT id, lbl,
       |      row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl ASC) AS rn
       |    FROM n$i) WHERE rn = 1)""".stripMargin
  }.mkString(",\n")

  // Shared LPA replay chain (MinHash pairs over the doc_id < 500 slice →
  // symmetric edges → unrolled sweeps → l2), reused by the community and
  // modularity oracles. MATERIALIZED where multiply consumed.
  private lazy val lpaChainCtes =
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
       |  WHERE i.i / (sa.sz + sb.sz - i.i) >= 0.5),
       |edges AS (SELECT DISTINCT src, dst FROM (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs)),
       |l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM edges),
       |$lpaIterCtes""".stripMargin

  val all: Seq[Query] = Seq(
    Query("text_bm25_topk", textBm25TopK,
      s"""WITH wf AS (
         |  SELECT doc_id AS id, w.w
         |  FROM documents,
         |       unnest(string_split(${normSql("text")}, ' ')) AS w(w)
         |  WHERE w.w <> ''),
         |dl AS (SELECT id, count(*) AS dl FROM wf GROUP BY id),
         |st AS (SELECT CAST(sum(dl) AS BIGINT) AS l, count(*) AS n FROM dl),
         |tf AS (SELECT id, w, count(*) AS tf FROM wf
         |       WHERE w IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
         |       GROUP BY id, w),
         |dfr AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
         |sc AS (SELECT tf.id,
         |    ((1000000 * (2 * (st.n - dfr.df) + 1)) // (2 * dfr.df + 1))
         |      AS idf,
         |    ((1000000 * 22 * tf.tf * st.l)
         |      // (10 * tf.tf * st.l + 3 * st.l + 9 * dl.dl * st.n)) AS tfp
         |  FROM tf JOIN dl USING (id) JOIN dfr USING (w) CROSS JOIN st)
         |SELECT id AS doc_id, count(*) AS n_terms,
         |  CAST(sum((CAST(idf AS HUGEINT) * tfp) // 1000000) AS BIGINT) AS bm25_micro
         |FROM sc GROUP BY id
         |ORDER BY bm25_micro DESC, doc_id
         |LIMIT 50""".stripMargin),
    Query("text_bm25_multiquery", textBm25MultiQuery,
      s"""WITH qt(qid, w) AS (VALUES ${Bm25Queries.flatMap { case (q, ts) =>
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
         |  FROM sc GROUP BY qid, id)
         |SELECT qid AS query_id, id AS doc_id, CAST(rk AS INTEGER) AS rk,
         |  n_terms, bm25_micro
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid
         |        ORDER BY bm25_micro DESC, id) AS rk FROM agg)
         |WHERE rk <= 10
         |ORDER BY query_id, rk""".stripMargin),
    Query("emb_pca_project", embPcaProject,
      s"""WITH xm AS (SELECT vec_id, CAST(r.range AS INTEGER) AS idx,
         |    CAST(floor(CAST(embedding[CAST(r.range + 1 AS INTEGER)] AS DOUBLE)
         |      * 1000) AS BIGINT) AS x
         |  FROM embeddings CROSS JOIN range(64) r WHERE vec_id < 2000),
         |v0 AS (SELECT CAST(r.range AS INTEGER) AS idx,
         |    CAST(1000 AS BIGINT) AS v FROM range(64) r),
         |$pcaIterCtes,
         |xall AS (SELECT vec_id, CAST(r.range AS INTEGER) AS idx,
         |    CAST(floor(CAST(embedding[CAST(r.range + 1 AS INTEGER)] AS DOUBLE)
         |      * 1000) AS BIGINT) AS x
         |  FROM embeddings CROSS JOIN range(64) r)
         |SELECT x.vec_id, CAST(sum(x.x * v3.v) AS BIGINT) AS proj_micro
         |FROM xall x JOIN v3 ON v3.idx = x.idx
         |GROUP BY x.vec_id
         |ORDER BY x.vec_id""".stripMargin),
    // Train/serve trigram-LM replay: counts from the doc_id < 500 slice,
    // scoring over the full corpus with LEFT joins + Laplace floors for
    // unseen n-grams (coalesce(c, 0) + 1). MATERIALIZED for the same
    // multi-consumer reason as text_lm_trigram's oracle.
    Query("artifact_lm_serve", artifactLmServe,
      s"""WITH w AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS ws
         |           FROM documents),
         |tg AS MATERIALIZED (SELECT doc_id,
         |         ws[CAST(r.i + 1 AS INTEGER)] || ' ' ||
         |           ws[CAST(r.i + 2 AS INTEGER)] || ' ' ||
         |           ws[CAST(r.i + 3 AS INTEGER)] AS t,
         |         ws[CAST(r.i + 1 AS INTEGER)] || ' ' ||
         |           ws[CAST(r.i + 2 AS INTEGER)] AS b12,
         |         ws[CAST(r.i + 2 AS INTEGER)] || ' ' ||
         |           ws[CAST(r.i + 3 AS INTEGER)] AS b23,
         |         ws[CAST(r.i + 2 AS INTEGER)] AS w2,
         |         ws[CAST(r.i + 3 AS INTEGER)] AS w3
         |       FROM w CROSS JOIN LATERAL
         |         (SELECT unnest(generate_series(0, len(ws) - 3)) AS i) r),
         |tr AS MATERIALIZED (SELECT * FROM tg WHERE doc_id < 500),
         |c3 AS (SELECT t, count(*) AS c3 FROM tr GROUP BY t),
         |x2 AS (SELECT b12, count(*) AS ctx2 FROM tr GROUP BY b12),
         |c23 AS (SELECT b23, count(*) AS c23 FROM tr GROUP BY b23),
         |x1 AS (SELECT w2, count(*) AS ctx1 FROM tr GROUP BY w2),
         |c1 AS (SELECT w3, count(*) AS c1 FROM tr GROUP BY w3),
         |nv AS MATERIALIZED (SELECT count(*) AS n, count(DISTINCT w3) AS v
         |      FROM tr),
         |dt AS (SELECT doc_id, t, b12, b23, w2, w3, count(*) AS n
         |       FROM tg GROUP BY 1, 2, 3, 4, 5, 6),
         |s AS (SELECT dt.doc_id, CAST(sum(dt.n) AS BIGINT) AS n_trigrams,
         |        CAST(sum(dt.n * ((4 * ((1000000 * (coalesce(c3.c3, 0) + 1))
         |                               // (coalesce(x2.ctx2, 0) + nv.v))
         |                        + 2 * ((1000000 * (coalesce(c23.c23, 0) + 1))
         |                               // (coalesce(x1.ctx1, 0) + nv.v))
         |                        +     ((1000000 * (coalesce(c1.c1, 0) + 1))
         |                               // (nv.n + nv.v))) // 7))
         |          // sum(dt.n) AS BIGINT) AS lm3_micro
         |      FROM dt LEFT JOIN c3 USING (t) LEFT JOIN x2 USING (b12)
         |           LEFT JOIN c23 USING (b23) LEFT JOIN x1 USING (w2)
         |           LEFT JOIN c1 USING (w3)
         |           CROSS JOIN nv
         |      GROUP BY dt.doc_id)
         |SELECT d.doc_id, CAST(coalesce(s.n_trigrams, 0) AS BIGINT) AS n_trigrams,
         |  CAST(coalesce(s.lm3_micro, 0) AS BIGINT) AS lm3_micro
         |FROM documents d LEFT JOIN s USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
    Query("emb_pca_topr", embPcaTopR,
      s"""WITH xm AS MATERIALIZED (SELECT vec_id, CAST(r.range AS INTEGER) AS idx,
         |    CAST(floor(CAST(embedding[CAST(r.range + 1 AS INTEGER)] AS DOUBLE)
         |      * 1000) AS BIGINT) AS x
         |  FROM embeddings CROSS JOIN range(64) r WHERE vec_id < 2000),
         |v0 AS (SELECT CAST(r.range AS INTEGER) AS idx,
         |    CAST(1000 AS BIGINT) AS v FROM range(64) r),
         |${pcaIters("xm", "")},
         |vv AS MATERIALIZED (SELECT CAST(sum(v * v) AS BIGINT) AS vv FROM v3),
         |xv AS MATERIALIZED (SELECT x.vec_id, CAST(sum(x.x * v3.v) AS BIGINT) AS xv
         |  FROM xm x JOIN v3 ON v3.idx = x.idx GROUP BY x.vec_id),
         |xm2 AS MATERIALIZED (SELECT x.vec_id, x.idx,
         |    CAST(CASE WHEN x.x * vv.vv - v3.v * xv.xv < 0
         |      THEN -((-(x.x * vv.vv - v3.v * xv.xv)) // vv.vv)
         |      ELSE (x.x * vv.vv - v3.v * xv.xv) // vv.vv END AS BIGINT) AS x
         |  FROM xm x JOIN v3 ON v3.idx = x.idx
         |    JOIN xv ON xv.vec_id = x.vec_id CROSS JOIN vv),
         |bv0 AS (SELECT CAST(r.range AS INTEGER) AS idx,
         |    CAST(1000 AS BIGINT) AS v FROM range(64) r),
         |${pcaIters("xm2", "b")},
         |xall AS (SELECT vec_id, CAST(r.range AS INTEGER) AS idx,
         |    CAST(floor(CAST(embedding[CAST(r.range + 1 AS INTEGER)] AS DOUBLE)
         |      * 1000) AS BIGINT) AS x
         |  FROM embeddings CROSS JOIN range(64) r)
         |SELECT x.vec_id,
         |  CAST(sum(x.x * a.v) AS BIGINT) AS pc1_micro,
         |  CAST(sum(x.x * b.v) AS BIGINT) AS pc2_micro
         |FROM xall x JOIN v3 a ON a.idx = x.idx JOIN bv3 b ON b.idx = x.idx
         |GROUP BY x.vec_id
         |ORDER BY x.vec_id""".stripMargin),
    Query("graph_label_prop", graphLabelProp,
      s"""WITH $lpaChainCtes
         |SELECT id AS doc_id, CAST(lbl AS BIGINT) AS community
         |FROM l2 ORDER BY doc_id""".stripMargin),
    // LSH band-recall replay: exact >= 0.5 pairs from the brute shingle
    // self-join, banded candidates from the same signature CTEs, and the
    // verified intersection (cand ∩ exact = the pipeline's output).
    Query("dedup_lsh_recall", dedupLshRecall,
      s"""WITH ${LlmQueries.gramsCteFor("grams", "doc_id < 300")},
         |sizes AS (SELECT id, count(*) AS sz FROM grams GROUP BY id),
         |inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
         |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.id < b.id
         |  GROUP BY 1, 2),
         |ex AS MATERIALIZED (SELECT i.id_a, i.id_b FROM inter i
         |  JOIN sizes sa ON sa.id = i.id_a
         |  JOIN sizes sb ON sb.id = i.id_b
         |  WHERE i.i / (sa.sz + sb.sz - i.i) >= 0.5),
         |sig AS (SELECT id, ${LlmQueries.sigCols} FROM grams GROUP BY id),
         |bands AS (SELECT id, r.range AS band, ${LlmQueries.bandCase} AS band_key
         |  FROM sig CROSS JOIN range(4) r),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
         |hit AS (SELECT c.id_a, c.id_b, 1 AS h
         |  FROM cand c JOIN ex e ON e.id_a = c.id_a AND e.id_b = c.id_b)
         |SELECT CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(sum(coalesce(h.h, 0)) AS BIGINT) AS n_lsh,
         |  CAST((1000000 * sum(coalesce(h.h, 0))) // greatest(count(*), 1)
         |    AS BIGINT) AS recall_micro
         |FROM ex e LEFT JOIN hit h
         |  ON h.id_a = e.id_a AND h.id_b = e.id_b""".stripMargin),
    // Modularity replay over the same LPA chain: m / intra-community
    // edges / community degree sums, then the sign-split
    // common-denominator q_micro (negative when a community is sparser
    // than chance — abs before //, so floor == truncate).
    Query("graph_modularity", graphModularity,
      s"""WITH $lpaChainCtes,
         |wc AS (SELECT p.id_a, p.id_b, la.lbl AS cu, lb.lbl AS cv
         |  FROM pairs p JOIN l2 la ON la.id = p.id_a
         |    JOIN l2 lb ON lb.id = p.id_b),
         |mm AS (SELECT count(*) AS m FROM wc),
         |ec AS (SELECT cu AS c, count(*) AS e_c FROM wc
         |  WHERE cu = cv GROUP BY cu),
         |deg AS (SELECT id, count(*) AS d FROM (
         |  SELECT id_a AS id FROM pairs
         |  UNION ALL SELECT id_b FROM pairs) GROUP BY id),
         |dc AS (SELECT l.lbl AS c, CAST(sum(d.d) AS BIGINT) AS d_c
         |  FROM deg d JOIN l2 l ON l.id = d.id GROUP BY l.lbl)
         |SELECT CAST(dc.c AS BIGINT) AS community,
         |  CAST(coalesce(ec.e_c, 0) AS BIGINT) AS e_c, dc.d_c,
         |  CAST(CASE WHEN 4 * mm.m * coalesce(ec.e_c, 0) - dc.d_c * dc.d_c < 0
         |    THEN -((-(1000000 * (4 * mm.m * coalesce(ec.e_c, 0)
         |                         - dc.d_c * dc.d_c))) // (4 * mm.m * mm.m))
         |    ELSE (1000000 * (4 * mm.m * coalesce(ec.e_c, 0)
         |                     - dc.d_c * dc.d_c)) // (4 * mm.m * mm.m)
         |    END AS BIGINT) AS q_micro
         |FROM dc LEFT JOIN ec ON ec.c = dc.c CROSS JOIN mm
         |ORDER BY community""".stripMargin),
    Query("source_bottomk_sim", sourceBottomkSim,
      s"""WITH w AS (SELECT source, string_split(${normSql("text")}, ' ') AS ws
         |           FROM documents),
         |g AS (SELECT DISTINCT source,
         |    ws[CAST(r.i + 1 AS INTEGER)] || ' ' ||
         |      ws[CAST(r.i + 2 AS INTEGER)] || ' ' ||
         |      ws[CAST(r.i + 3 AS INTEGER)] AS gram
         |  FROM w CROSS JOIN LATERAL
         |    (SELECT unnest(generate_series(0, len(ws) - 3)) AS i) r),
         |h AS (SELECT DISTINCT source,
         |    CAST('0x' || substring(md5('0|' || gram), 1, 15) AS BIGINT) AS h
         |  FROM g),
         |sk AS (SELECT source, h FROM (
         |    SELECT source, h,
         |      row_number() OVER (PARTITION BY source ORDER BY h) AS rn
         |    FROM h) WHERE rn <= 128),
         |srcs AS (SELECT DISTINCT source FROM sk),
         |p AS (SELECT a.source AS s1, b.source AS s2
         |      FROM srcs a JOIN srcs b ON a.source < b.source),
         |m AS (
         |  SELECT p.s1, p.s2, sk.h, 1 AS in_a, 0 AS in_b
         |  FROM p JOIN sk ON sk.source = p.s1
         |  UNION ALL
         |  SELECT p.s1, p.s2, sk.h, 0, 1
         |  FROM p JOIN sk ON sk.source = p.s2),
         |u AS (SELECT s1, s2, h, max(in_a) AS a, max(in_b) AS b
         |      FROM m GROUP BY s1, s2, h),
         |r AS (SELECT *, row_number()
         |        OVER (PARTITION BY s1, s2 ORDER BY h) AS rn FROM u)
         |SELECT s1, s2,
         |  CAST((1000000 * sum(a * b)) // count(*) AS BIGINT) AS j_micro
         |FROM r WHERE rn <= 128 GROUP BY s1, s2
         |ORDER BY s1, s2""".stripMargin))
}
