package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.T
import graft.ops.{Components, Dedup, Sketches, TextAnalysis}
import CommonSql.{normSql, hashSql}

/** Round-10 registry: batch replays of the STREAMING kernels, giving the
  * in-flight operators the same DuckDB-oracle discipline as the batch
  * families (VERDICT r9 item 7). Each replay computes, in one batch
  * query, exactly the decisions/rows the streaming job produces over the
  * same data — so the kernel arithmetic (signature keys, KS drift
  * scoring) is hash-checked, with only the micro-batch plumbing left to
  * the streaming specs. */
object LlmQueries7 {

  /** The full Kneser–Ney per-doc score replay as a reusable CTE chain
    * ending in `kn(doc_id, n_bigrams, kn_micro)` — consumed by
    * `text_lm_kneser_ney` and by LlmQueries9's CCNet bucketing
    * composition (same discount 3/4, same integer floor-div formula as
    * [[graft.ops.TextAnalysis.kneserNeyBigramScore]]). */
  private[queries] lazy val knCtes: String =
    s"""n AS (SELECT doc_id, ${normSql("text")} AS norm FROM documents),
       |w AS (SELECT doc_id, string_split(norm, ' ') AS ws FROM n),
       |bg AS (SELECT doc_id, ws[CAST(r.i AS INTEGER)] AS w1,
       |    ws[CAST(r.i + 1 AS INTEGER)] AS w2
       |  FROM w CROSS JOIN LATERAL
       |    (SELECT unnest(range(1, len(ws))) AS i) r
       |  WHERE len(ws) >= 2),
       |db AS (SELECT doc_id AS id, w1, w2, count(*) AS n
       |  FROM bg GROUP BY 1, 2, 3),
       |cb AS (SELECT w1, w2, CAST(sum(n) AS BIGINT) AS cb
       |  FROM db GROUP BY 1, 2),
       |cw AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cw,
       |    CAST(count(*) AS BIGINT) AS n1w FROM cb GROUP BY 1),
       |n1c AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1c
       |  FROM cb GROUP BY 1),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM cb),
       |occ AS (SELECT db.id, db.w1, db.w2, db.n,
       |    (1000000 * (4 * cb.cb - 3)) // (4 * cw.cw)
       |    + CAST((CAST(1000000 AS HUGEINT) * 3 * cw.n1w * n1c.n1c)
       |        // (CAST(4 AS HUGEINT) * cw.cw * nt.nt) AS BIGINT) AS o
       |  FROM db JOIN cb USING (w1, w2) JOIN cw USING (w1)
       |  JOIN n1c USING (w2) CROSS JOIN nt),
       |sc AS (SELECT id, CAST(sum(n) AS BIGINT) AS n_bigrams,
       |    CAST(sum(n * o) // sum(n) AS BIGINT) AS kn_micro
       |  FROM occ GROUP BY id),
       |kn AS (SELECT d.doc_id,
       |    coalesce(sc.n_bigrams, 0) AS n_bigrams,
       |    coalesce(sc.kn_micro, 0) AS kn_micro
       |  FROM documents d LEFT JOIN sc ON sc.id = d.doc_id)""".stripMargin

  /** Batch replay of [[Dedup.streamingDropNearDuplicates]]'s ledger
    * decisions: arrival order = doc_id; a document is KEPT iff no
    * earlier arrival shares its full 8-hash minhash signature key
    * ([[Dedup.signatureKey]] — the streaming dedup state key). The
    * streaming query makes the same decision per arrival inside the
    * watermark; this replay is the unexpired-watermark case, per-key
    * first-arrival over the whole slice. */
  def streamingSigDedup(spark: SparkSession, dir: String): DataFrame = {
    // parCpu: md5 signature over every doc's normalized text
    val docs = T.parCpu(spark, T.t(spark, dir, "documents"))
    val w = Window.partitionBy(col("sig_key")).orderBy(col("doc_id"))
    docs
      .select(col("doc_id"), Dedup.signatureKey(col("text"), 8).as("sig_key"))
      .withColumn("kept", row_number().over(w) === lit(1))
      .orderBy(col("doc_id"))
  }

  /** Batch replay of [[Sketches.driftMonitor]]: each event DATE is one
    * micro-batch of the monitored feed; every batch's `value`
    * distribution is KS-scored against the persisted reference
    * histogram (here: the 'view' population) — one (batch, n_a, n_b,
    * ks_micro, ks_bin, ks_at_micro) row per batch, exactly the rows the
    * streaming monitor appends ([[Sketches.ksAgainstReferenceByGroup]]). */
  def streamingDriftReplay(spark: SparkSession, dir: String): DataFrame = {
    val ev = T.events(spark, dir)
    val ref = Sketches.histRegisters(
        ev.filter(col("event_type") === "view").withColumn("__r", lit(1)),
        Seq("__r"), "value")
      .select(col("bin"), col("cnt"))
    val feed = ev.withColumn("batch_id", date_format(col("ts"), "yyyy-MM-dd"))
    Sketches.ksAgainstReferenceByGroup(feed, ref, "batch_id", "value")
      .orderBy(col("batch_id"))
  }

  /** Interpolated Kneser–Ney bigram quality scores over the corpus
    * ([[TextAnalysis.kneserNeyBigramScore]]) — the CCNet-style filter
    * signal with continuation-count backoff, exactly rational. */
  def textLmKneserNey(spark: SparkSession, dir: String): DataFrame = {
    val docs = T.par(spark, T.t(spark, dir, "documents"))
    TextAnalysis.kneserNeyBigramScore(docs).orderBy(col("doc_id"))
  }

  /** HITS hubs/authorities over the synthetic host link graph (the
    * `graph_host_rank` edge relation) — [[Components.hits]], 3 exact
    * integer iterations, full trajectory oracle-unrolled. */
  def graphHits(spark: SparkSession, dir: String): DataFrame = {
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
    Components.hits(edges, iters = 3)
      .withColumnRenamed("id", "host_id")
      .orderBy(col("host_id"))
  }

  // histRegisters binning, DuckDB form (shared with Sketches.ksDriftSql).
  private val binCase =
    s"""CASE WHEN x <= 0 THEN 0
       |         WHEN x < 16 THEN x
       |         ELSE ${Sketches.QSubBins} * length(bin(x)) + (x >> (length(bin(x)) - 5)) - 16
       |    END""".stripMargin

  val all: Seq[Query] = Seq(
    Query("streaming_sig_dedup", streamingSigDedup,
      s"""WITH n AS (SELECT doc_id, ${normSql("text")} AS norm FROM documents),
         |w AS (SELECT doc_id, norm,
         |    list_filter(list_distinct(string_split(norm, ' ')), g -> g <> '') AS gs
         |  FROM n),
         |h AS (SELECT doc_id,
         |    ${(0 until 8).map(i => s"min(${hashSql(i, "u.g")}) AS h$i").mkString(",\n    ")}
         |  FROM w, unnest(gs) AS u(g) GROUP BY doc_id),
         |sig AS (SELECT w.doc_id,
         |    CASE WHEN len(w.gs) = 0 THEN 'e:' || md5(w.norm)
         |      ELSE ${(0 until 8).map(i => s"CAST(h.h$i AS VARCHAR)").mkString(" || ',' || ")}
         |    END AS sig_key
         |  FROM w LEFT JOIN h USING (doc_id))
         |SELECT doc_id, sig_key,
         |  row_number() OVER (PARTITION BY sig_key ORDER BY doc_id) = 1 AS kept
         |FROM sig
         |ORDER BY doc_id""".stripMargin),
    Query("streaming_drift_replay", streamingDriftReplay,
      s"""WITH rx AS (SELECT CAST(floor(CAST(value AS DOUBLE) * 1000000.0) AS BIGINT) AS x
         |  FROM events WHERE event_type = 'view' AND value IS NOT NULL),
         |ref AS (SELECT $binCase AS bin, CAST(count(*) AS BIGINT) AS cb
         |  FROM rx GROUP BY 1),
         |cx AS (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS g,
         |    CAST(floor(CAST(value AS DOUBLE) * 1000000.0) AS BIGINT) AS x
         |  FROM events WHERE value IS NOT NULL),
         |cur AS (SELECT g, $binCase AS bin, CAST(count(*) AS BIGINT) AS ca
         |  FROM cx GROUP BY 1, 2),
         |gref AS (SELECT g, bin, cb FROM (SELECT DISTINCT g FROM cur)
         |  CROSS JOIN ref),
         |bins AS (SELECT coalesce(cur.g, gref.g) AS g,
         |    coalesce(cur.bin, gref.bin) AS bin,
         |    coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
         |  FROM gref FULL JOIN cur ON cur.g = gref.g AND cur.bin = gref.bin),
         |cums AS (SELECT g, bin,
         |    CAST(sum(ca) OVER (PARTITION BY g ORDER BY bin) AS BIGINT) AS cuma,
         |    CAST(sum(cb) OVER (PARTITION BY g ORDER BY bin) AS BIGINT) AS cumb
         |  FROM bins),
         |tot AS (SELECT g, CAST(sum(ca) AS BIGINT) AS na,
         |    CAST(sum(cb) AS BIGINT) AS nb FROM bins GROUP BY g),
         |d AS (SELECT c.g, c.bin,
         |    abs(CAST(c.cuma AS HUGEINT) * t.nb - CAST(c.cumb AS HUGEINT) * t.na) AS dd
         |  FROM cums c JOIN tot t USING (g)),
         |m AS (SELECT g, max(dd) AS dm FROM d GROUP BY g),
         |arg AS (SELECT d.g, min(d.bin) AS ks_bin
         |  FROM d JOIN m ON m.g = d.g AND d.dd = m.dm GROUP BY d.g)
         |SELECT t.g AS batch_id, t.na AS n_a, t.nb AS n_b,
         |  CAST((1000000 * m.dm) // (CAST(greatest(t.na, 1) AS HUGEINT)
         |    * greatest(t.nb, 1)) AS BIGINT) AS ks_micro,
         |  arg.ks_bin,
         |  CAST(CASE WHEN arg.ks_bin < 16 THEN arg.ks_bin
         |    ELSE (16 + arg.ks_bin % ${Sketches.QSubBins})
         |      << (CAST(arg.ks_bin // ${Sketches.QSubBins} AS INTEGER) - 5)
         |  END AS BIGINT) AS ks_at_micro
         |FROM tot t JOIN m USING (g) JOIN arg USING (g)
         |ORDER BY batch_id""".stripMargin),
    Query("text_lm_kneser_ney", textLmKneserNey,
      s"""WITH $knCtes
         |SELECT doc_id, n_bigrams, kn_micro FROM kn
         |ORDER BY doc_id""".stripMargin),
    Query("graph_hits", graphHits, {
      val iterCtes = (1 to 3).map { i =>
        s"""ar$i AS (SELECT e.dst AS id, CAST(sum(h.h) AS BIGINT) AS a
           |  FROM edges e JOIN h${i - 1} h ON h.id = e.src GROUP BY e.dst),
           |am$i AS (SELECT max(a) AS m FROM ar$i),
           |a$i AS (SELECT n.id,
           |    CAST((CAST(1000000 AS HUGEINT) * coalesce(ar.a, 0))
           |      // greatest((SELECT m FROM am$i), 1) AS BIGINT) AS a
           |  FROM nodes n LEFT JOIN ar$i ar USING (id)),
           |hr$i AS (SELECT e.src AS id, CAST(sum(a.a) AS BIGINT) AS h
           |  FROM edges e JOIN a$i a ON a.id = e.dst GROUP BY e.src),
           |hm$i AS (SELECT max(h) AS m FROM hr$i),
           |h$i AS (SELECT n.id,
           |    CAST((CAST(1000000 AS HUGEINT) * coalesce(hr.h, 0))
           |      // greatest((SELECT m FROM hm$i), 1) AS BIGINT) AS h
           |  FROM nodes n LEFT JOIN hr$i hr USING (id))""".stripMargin
      }.mkString(",\n")
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
         |h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS h FROM nodes),
         |$iterCtes
         |SELECT n.id AS host_id, h3.h AS hub_micro, a3.a AS auth_micro
         |FROM nodes n JOIN h3 USING (id) JOIN a3 USING (id)
         |ORDER BY host_id""".stripMargin
    }))
}
