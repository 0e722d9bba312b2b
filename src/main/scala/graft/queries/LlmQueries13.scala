package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.T
import graft.ops.Similarity
import LlmQueries9.ExactSql
import CommonSql.normSql

/** Round-13 registry: the `sim_bitext_mine` driver-divergence bisection
  * (VERDICT r12 item 1), the shuffled IVF serve path under the gate,
  * the ceiling-free / unsupervised Fellegi–Sunter forms, and truncated
  * KNN-Shapley.
  *
  * The bisection WORKED and is now retired (round 14): the r13 driver
  * run showed stages 1-5 green with only the margin stage red, which —
  * combined with the margin kernel being a pure function of those
  * bit-identical inputs — pinned the divergence to representation, not
  * value: the margin oracle's `margin_micro` was the only HUGEINT
  * output column in the whole registry, and DuckDB 1.0.0 serializes
  * HUGEINT as float64/decimal128 through typed harnesses while local
  * fetchall() masks it. Fixed by casting the oracle CASE to BIGINT
  * (round 14); `tools/check.py` now lints every oracle's output types
  * so the class can't recur. Only `bitext_probe_margin` remains gated
  * (the standing confirmation instrument); [[bitextProbeQuantize]],
  * [[bitextProbeFwd]], and [[bitextProbeBwd]] stay callable for any
  * future bisection. The isqrt/assign stage builders (whose corp ×
  * every-50th-vector pair relations grew n²/50 with the corpus) were
  * deleted in round 16 — the divergence they bisected was fixed in
  * r14 and nothing could reach them from the registry.
  */
object LlmQueries13 {

  /** The main query's quantized corpus: (vec_id, micro vector, exact
    * integer squared norm). The norm is an explicit integer fold
    * (`aggregate(zip_with(...))`) rather than [[graft.functions.CosMicro]]
    * so stage 1 is probed independently of the cosine kernel. */
  private def corpMicro(spark: SparkSession, dir: String): DataFrame =
    T.par(spark, T.t(spark, dir, "embeddings"))
      .select(col("vec_id"), Similarity.microVec(col("embedding")).as("vm"))
      .withColumn("nsq", expr(
        "aggregate(zip_with(vm, vm, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"))

  /** The main query's shared IVF quantizer: every-50th vector,
    * driver-quantized exactly like [[Similarity.mineBitextIvfExact]]. */
  private def microCents(spark: SparkSession, dir: String) =
    Similarity.quantizeMicro(Similarity.ivfCentroids(
      T.par(spark, T.t(spark, dir, "embeddings")), 50))

  /** Stage 1 — quantization/norm checksums: per vec_id-mod-16 group,
    * the count plus sum/min/max of the exact squared norms and the sum
    * of raw micro elements. Red here = the two engines disagree on
    * floor(x·10⁶) quantization or exact integer dot products. */
  def bitextProbeQuantize(spark: SparkSession, dir: String): DataFrame =
    corpMicro(spark, dir)
      .withColumn("vsum", expr("aggregate(vm, 0L, (acc, v) -> acc + v)"))
      .groupBy((col("vec_id") % 16).as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(col("nsq")).as("nsq_sum"), min(col("nsq")).as("nsq_min"),
        max(col("nsq")).as("nsq_max"), sum(col("vsum")).as("vm_sum"))
      .orderBy(col("grp"))

  private def probeDirection(spark: SparkSession, dir: String,
      srcParity: Int): DataFrame = {
    val emb = T.t(spark, dir, "embeddings")
    Similarity.ivfTopKExact(
        T.par(spark, emb.filter(col("vec_id") % 2 === srcParity)),
        T.par(spark, emb.filter(col("vec_id") % 2 === 1 - srcParity)),
        microCents(spark, dir), k = 4, nProbe = 3)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Stage 4 — the full forward (even→odd) IVF top-4 relation, exactly
    * the `fwd` input of the margin kernel. */
  def bitextProbeFwd(spark: SparkSession, dir: String): DataFrame =
    probeDirection(spark, dir, 0)

  /** Stage 5 — the full backward (odd→even) IVF top-4 relation. */
  def bitextProbeBwd(spark: SparkSession, dir: String): DataFrame =
    probeDirection(spark, dir, 1)

  /** Stage 6 — the deduped candidate pairs with their per-endpoint
    * top-k aggregates and ratio margins, BEFORE the best-rank windows
    * ([[Similarity.bitextMarginDetail]]). Green here with a red
    * `sim_bitext_mine` pins the divergence to the final two
    * row_number windows / boolean flags (or the compare itself). */
  def bitextProbeMargin(spark: SparkSession, dir: String): DataFrame = {
    val fwd = probeDirection(spark, dir, 0)
    val bwd = probeDirection(spark, dir, 1)
    Similarity.bitextMarginDetail(fwd, bwd)
      .select(col("src_id"), col("tgt_id"), col("sim_micro"),
        col("__fsum").as("fsum"), col("__fk").as("fk"),
        col("__bsum").as("bsum"), col("__bk").as("bk"),
        col("margin_micro"))
      .orderBy(col("src_id"), col("tgt_id"))
  }

  /** The SHUFFLED (non-broadcast) IVF serve path under the gate
    * (VERDICT r12 item 2): [[Similarity.ivfTopKShuffledMicro]] is the
    * corpus×corpus rendezvous plan the 100 TB ANN story rests on — both
    * sides hash-partitioned on the cell key, no query-side broadcast —
    * and until now it was only spec-verified for row parity. Identical
    * inputs to `sim_ivf_trained_topk` (micro-trained k = 10 centroids,
    * queries vec_id < 10, k = 5), so the rows — and therefore the
    * oracle — are the same by construction (SimilaritySpec asserts the
    * parity); PlanSpec pins that the probe join really is a shuffle
    * join here, not a broadcast. */
  def simIvfShuffledTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = T.t(spark, dir, "embeddings")
    val cents = SharedRels.ivfCentsFullK10(spark, dir)
    Similarity.ivfTopKShuffledMicro(emb.filter(col("vec_id") < 10),
        T.par(spark, emb), cents, k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Fellegi–Sunter in summed per-field integer LOG-ODDS
    * ([[graft.ops.Linkage.fellegiSunterLogOdds]], VERDICT r12 item 7) —
    * the ceiling-free scoring form over the same dirty-twin candidates
    * as `link_fellegi_sunter`: each field contributes an exact
    * [[graft.ops.Linkage.log2Micro]] weight (16-step fixed-point
    * squaring, bit-identical in both engines), the pair score is a
    * plain long sum, and `score_micro > 0` ⇔ the ratio form's R > 1.
    * No DECIMAL(38,0) product exists anywhere, so candidate count and
    * field count are unbounded. */
  def linkFellegiSunterLogOdds(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Linkage.fellegiSunterLogOdds(
        LlmQueries12.linkageCands(spark, dir),
        Seq("name_agree", "nation_agree", "seg_agree"), "is_match")
      .withColumn("is_link", col("score_micro") > 0L)
      .orderBy(col("key_a"), col("key_b"))

  /** UNSUPERVISED Fellegi–Sunter ([[graft.ops.Linkage.fellegiSunterEm]])
    * over the same dirty-twin candidates — no labels consumed: 5 EM
    * rounds on the 8 agreement-pattern counts, every probability
    * quantized to integer micro units, so the DuckDB oracle unrolls the
    * identical trajectory (the Bradley–Terry MM discipline) and the
    * per-pattern posteriors replay bit-for-bit. `is_match` rides along
    * as an audit column only. */
  def linkFellegiSunterEm(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Linkage.fellegiSunterEm(
        LlmQueries12.linkageCands(spark, dir),
        Seq("name_agree", "nation_agree", "seg_agree"))
      .withColumn("is_link", col("posterior_micro") > 500000L)
      .orderBy(col("key_a"), col("key_b"))

  /** Truncated KNN-Shapley ([[graft.ops.Valuation.knnShapleyTruncated]],
    * VERDICT r12 item 6): the exact closed-form recursion over the
    * top-16 [[Similarity.ivfTopKExact]] neighborhood of each test point
    * instead of the full training ranking — the servable form whose
    * cost is |test|·m, not |test|·|corpus| (which is why the modulus
    * panel is fine HERE but was retired from the exact form: the IVF
    * candidate cut bounds the per-test pair count, so the gated
    * relation stays corpus-linear; test = vec_id ≡ 0 mod 25, K = 5),
    * shared
    * every-50th IVF quantizer; the oracle replays the candidate cut
    * (assignment, 3-probe sets, rank ≤ 16) and the recursion exactly. */
  def valueKnnShapleyTruncated(spark: SparkSession, dir: String): DataFrame = {
    val emb = T.t(spark, dir, "embeddings")
    graft.ops.Valuation.knnShapleyTruncated(
        T.par(spark, emb.filter(col("vec_id") % 25 =!= 0)),
        emb.filter(col("vec_id") % 25 === 0),
        k = 5, m = 16, cents = microCents(spark, dir))
      .orderBy(col("train_id"))
  }

  /** `sim_bitext_mine` under the SHUFFLED (non-broadcast) probe plan —
    * the corpus×corpus exchange strategy the 100 TB mining story uses
    * (`broadcastQueries = false`): identical rows by construction, so
    * the oracle is shared verbatim. Besides gating that plan, this is
    * the bisection's DIFFERENTIAL control: if the driver's gate marks
    * both this and `sim_bitext_mine` red with all six stage probes
    * green, the divergence is oracle-side in the final windows; if
    * exactly one of the twins is red, the Spark output is
    * plan-dependent — which the integer contract forbids — and the
    * diff names the exchange strategy as the trigger. */
  def simBitextMineShuffled(spark: SparkSession, dir: String): DataFrame = {
    val emb = T.t(spark, dir, "embeddings")
    val cents = Similarity.ivfCentroids(T.par(spark, emb), 50)
    Similarity.mineBitextIvfExact(
        T.par(spark, emb.filter(col("vec_id") % 2 === 0)),
        T.par(spark, emb.filter(col("vec_id") % 2 === 1)),
        cents, k = 4, nProbe = 3, broadcastQueries = false)
      .orderBy(col("src_id"), col("tgt_id"))
  }

  /** Unigram-LM tokenizer, trained and served under the gate
    * ([[graft.ops.TextAnalysis.trainUnigramVocab]] →
    * [[graft.ops.TextAnalysis.unigramSegmentStats]]): frequency-scored
    * SentencePiece-family vocabulary (top-512 substrings + all single
    * chars, integer micro log2 scores via the shared log2Micro kernel)
    * and the exact (score, min-pieces) Viterbi DP per 16-char word
    * chunk. The oracle replays the whole thing — candidate counting,
    * vocabulary ranking, the 17-step log2 chain, and 16 unrolled DP
    * steps — so per-doc piece counts, scores, and fertility match
    * bit-for-bit. */
  def textUnigramSegment(spark: SparkSession, dir: String): DataFrame = {
    // parCpu: per-chunk Viterbi DP — CPU dwarfs bytes (r17: 4.5 s at
    // width 1 vs 1.4 s full width)
    val docs = T.parCpu(spark, T.t(spark, dir, "documents"))
    val vocab = graft.ops.TextAnalysis.trainUnigramVocab(docs)
    graft.ops.TextAnalysis.unigramSegmentStats(docs, vocab)
      .orderBy(col("doc_id"))
  }

  /** Unrolled SQL replay of [[graft.ops.Linkage.log2Micro]] over a
    * `vals(name, v)` CTE: exact bit length (float-log2 seed with the
    * shift-verified ±1 correction, the isqrt discipline), the 32-bit
    * fixed-point normalization, and the 16 truncating squaring steps —
    * all non-negative integer arithmetic (one HUGEINT square per step),
    * so every bit matches the Scala kernel. Produces `lg(name, l)`. */
  private def log2MicroCtes: String = {
    val steps = (1 to 16).map { i =>
      s"""w$i AS (SELECT name, e,
         |    CASE WHEN y >= 8589934592 THEN y // 2 ELSE y END AS x,
         |    frac * 2 + CASE WHEN y >= 8589934592 THEN 1 ELSE 0 END AS frac
         |  FROM (SELECT name, e, (CAST(x AS HUGEINT) * x) // 4294967296 AS y,
         |      frac FROM w${i - 1}))""".stripMargin
    }.mkString(",\n")
    s"""ew AS (SELECT name, v,
       |    CASE WHEN (CAST(1 AS BIGINT) << CAST(e0 + 1 AS INTEGER)) <= v
       |           THEN e0 + 1
       |         WHEN (CAST(1 AS BIGINT) << CAST(e0 AS INTEGER)) > v
       |           THEN e0 - 1
       |         ELSE e0 END AS e
       |  FROM (SELECT name, v,
       |      CAST(floor(log2(CAST(v AS DOUBLE))) AS BIGINT) AS e0 FROM vals)),
       |w0 AS (SELECT name, e,
       |    CASE WHEN e <= 32 THEN v << CAST(32 - e AS INTEGER)
       |         ELSE v >> CAST(e - 32 AS INTEGER) END AS x,
       |    CAST(0 AS BIGINT) AS frac
       |  FROM ew),
       |$steps,
       |lg AS MATERIALIZED (SELECT name, ((e * 65536 + frac) * 1000000) // 65536 AS l
       |  FROM w16)""".stripMargin
  }

  /** Unrolled SQL replay of [[graft.ops.Linkage.fellegiSunterEm]]'s
    * quantized-integer EM over the 3-field linkage candidates: pattern
    * counts with bit columns, `iters` (E-step, M-step) CTE pairs with
    * the exact ⌊·/10⁶⌋ product chain / zero-mass guards / [1, 10⁶−1]
    * clamps, then one final E-step (`ef`) carrying the posterior each
    * observed pattern joins back to its pairs. All operands
    * non-negative, all divisions truncating — bit-identical to the
    * driver-side BigInt trajectory on any build. */
  private def fsEmCtes(iters: Int): String = {
    val U = "1000000"
    // pm/pu product chains in the exact field order (name=b0, nation=b1,
    // seg=b2), each step floored — mirrors the Scala loop verbatim
    def chain(start: String, pf: Int => String): String =
      (0 until 3).foldLeft(start) { (acc, f) =>
        s"(($acc * (CASE WHEN b$f = 1 THEN ${pf(f)} ELSE $U - ${pf(f)} END)) // $U)"
      }
    def eStep(i: Int, prev: String): String =
      s"""x$i AS (SELECT pat, c, b0, b1, b2,
         |    ${chain("q.p", f => s"q.m$f")} AS pm,
         |    ${chain(s"($U - q.p)", f => s"q.u$f")} AS pu
         |  FROM pc CROSS JOIN $prev q),
         |e$i AS (SELECT pat, c, b0, b1, b2,
         |    CASE WHEN pm + pu = 0 THEN CAST(0 AS HUGEINT)
         |         ELSE (pm * $U) // (pm + pu) END AS post
         |  FROM x$i)""".stripMargin
    def mStep(i: Int): String = {
      val ms = (0 until 3).map { f =>
        s"""    CASE WHEN sum(c * post) = 0 THEN max(q.m$f)
           |      ELSE greatest(1, least(999999,
           |        (sum(c * post * b$f) * $U) // sum(c * post))) END AS m$f,
           |    CASE WHEN sum(c * ($U - post)) = 0 THEN max(q.u$f)
           |      ELSE greatest(1, least(999999,
           |        (sum(c * ($U - post) * b$f) * $U)
           |          // sum(c * ($U - post)))) END AS u$f""".stripMargin
      }.mkString(",\n")
      s"""p$i AS (SELECT
         |    CASE WHEN sum(c) = 0 THEN max(q.p)
         |      ELSE greatest(1, least(999999, sum(c * post) // sum(c))) END AS p,
         |$ms
         |  FROM e$i CROSS JOIN p${i - 1} q)""".stripMargin
    }
    val steps = (1 to iters).map(i => s"${eStep(i, s"p${i - 1}")},\n${mStep(i)}")
      .mkString(",\n")
    s"""pats AS (SELECT key_a, key_b, name_agree, nation_agree, seg_agree,
       |    is_match,
       |    (CASE WHEN name_agree THEN 1 ELSE 0 END)
       |      + (CASE WHEN nation_agree THEN 2 ELSE 0 END)
       |      + (CASE WHEN seg_agree THEN 4 ELSE 0 END) AS pat
       |  FROM cands),
       |pc AS (SELECT pat, CAST(count(*) AS HUGEINT) AS c,
       |    CAST(pat % 2 AS HUGEINT) AS b0,
       |    CAST((pat // 2) % 2 AS HUGEINT) AS b1,
       |    CAST((pat // 4) % 2 AS HUGEINT) AS b2
       |  FROM pats GROUP BY pat),
       |p0 AS (SELECT CAST(100000 AS HUGEINT) AS p,
       |    CAST(900000 AS HUGEINT) AS m0, CAST(900000 AS HUGEINT) AS m1,
       |    CAST(900000 AS HUGEINT) AS m2,
       |    CAST(100000 AS HUGEINT) AS u0, CAST(100000 AS HUGEINT) AS u1,
       |    CAST(100000 AS HUGEINT) AS u2),
       |$steps,
       |${eStep(iters + 1, s"p$iters").replace(s"x${iters + 1} AS", "xf AS")
         .replace(s"e${iters + 1} AS", "ef AS").replace(s"FROM x${iters + 1}", "FROM xf")}""".stripMargin
  }

  /** Unrolled SQL replay of the unigram tokenizer: normalized words →
    * 16-char chunks → substring candidate counts → (count desc, piece)
    * top-512 ∪ single chars → log2Micro scores (the shared `vals`/`lg`
    * chain) → per-distinct-chunk Viterbi as 16 unrolled DP steps, each
    * computing dp(j) = (max score, min pieces at that score) from the
    * piece edges ending at j (LEFT-joined vocab scores with the −4·10⁷
    * single-char UNK fallback) → per-doc aggregates. Mirrors
    * [[graft.ops.TextAnalysis.unigramSegmentStats]] exactly. */
  private def unigramOracle: String = {
    val dpSteps = (1 to 16).map { k =>
      s"""uc$k AS (SELECT e.chunk, d.sc + e.s AS cs, d.np + 1 AS cn
         |  FROM ed e JOIN ua${k - 1} d ON d.chunk = e.chunk AND d.pos = e.i
         |  WHERE e.j = $k),
         |um$k AS (SELECT chunk, max(cs) AS sc FROM uc$k GROUP BY chunk),
         |ud$k AS (SELECT c.chunk, CAST($k AS BIGINT) AS pos, m.sc,
         |    min(c.cn) AS np
         |  FROM uc$k c JOIN um$k m ON m.chunk = c.chunk AND c.cs = m.sc
         |  GROUP BY c.chunk, m.sc),
         |ua$k AS MATERIALIZED (SELECT * FROM ua${k - 1} UNION ALL SELECT * FROM ud$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH wz AS (SELECT doc_id, string_split(${normSql("text")}, ' ') AS ws
       |  FROM documents),
       |w AS (SELECT doc_id AS id, ws[CAST(r.i + 1 AS INTEGER)] AS word
       |  FROM wz CROSS JOIN LATERAL
       |    (SELECT unnest(generate_series(0, len(ws) - 1)) AS i) r
       |  WHERE ws[CAST(r.i + 1 AS INTEGER)] <> ''),
       |ch AS MATERIALIZED (SELECT id, substr(word, CAST(k.k * 16 + 1 AS INTEGER), 16) AS chunk
       |  FROM w CROSS JOIN LATERAL
       |    (SELECT unnest(generate_series(0, (length(word) - 1) // 16)) AS k) k),
       |upc AS MATERIALIZED (SELECT
       |    substr(chunk, CAST(i.i + 1 AS INTEGER), CAST(l.l AS INTEGER)) AS piece,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM ch
       |  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, 6)) AS l) l
       |  CROSS JOIN LATERAL
       |    (SELECT unnest(generate_series(0, length(chunk) - 1)) AS i) i
       |  WHERE i.i + l.l <= length(chunk)
       |  GROUP BY 1),
       |utop AS (SELECT piece, c FROM (SELECT piece, c,
       |    row_number() OVER (ORDER BY c DESC, piece) AS rn FROM upc)
       |  WHERE rn <= 512),
       |uchr AS (SELECT piece, c FROM upc WHERE length(piece) = 1),
       |uvoc AS MATERIALIZED (SELECT piece, max(c) AS c FROM
       |  (SELECT * FROM utop UNION ALL SELECT * FROM uchr) GROUP BY piece),
       |utot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM uvoc),
       |vals AS (SELECT piece AS name, c AS v FROM uvoc
       |  UNION ALL SELECT '#total#', t FROM utot),
       |$log2MicroCtes,
       |usc AS MATERIALIZED (SELECT v.piece,
       |    g.l - (SELECT l FROM lg WHERE name = '#total#') AS s
       |  FROM uvoc v JOIN lg g ON g.name = v.piece),
       |udch AS MATERIALIZED (SELECT DISTINCT chunk FROM ch),
       |ed AS MATERIALIZED (SELECT chunk, i, j, s FROM (
       |  SELECT d.chunk, i.i AS i, i.i + l.l AS j,
       |    coalesce(sc.s,
       |      CASE WHEN l.l = 1 THEN CAST(-40000000 AS BIGINT) END) AS s
       |  FROM udch d
       |  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, 6)) AS l) l
       |  CROSS JOIN LATERAL
       |    (SELECT unnest(generate_series(0, length(d.chunk) - 1)) AS i) i
       |  LEFT JOIN usc sc ON sc.piece =
       |    substr(d.chunk, CAST(i.i + 1 AS INTEGER), CAST(l.l AS INTEGER))
       |  WHERE i.i + l.l <= length(d.chunk))
       |  WHERE s IS NOT NULL),
       |ua0 AS MATERIALIZED (SELECT chunk, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS sc,
       |    CAST(0 AS BIGINT) AS np FROM udch),
       |$dpSteps,
       |ufin AS MATERIALIZED (SELECT chunk, sc, np FROM ua16 WHERE pos = length(chunk)),
       |ust AS (SELECT ch.id, CAST(count(*) AS BIGINT) AS n_chunks,
       |    CAST(sum(f.np) AS BIGINT) AS n_pieces,
       |    CAST(sum(f.sc) AS BIGINT) AS score_micro_sum,
       |    CAST(sum(length(ch.chunk)) AS BIGINT) AS n_chars
       |  FROM ch JOIN ufin f ON f.chunk = ch.chunk GROUP BY ch.id)
       |SELECT d.doc_id,
       |  coalesce(ust.n_chunks, 0) AS n_chunks,
       |  coalesce(ust.n_pieces, 0) AS n_pieces,
       |  coalesce(ust.score_micro_sum, 0) AS score_micro_sum,
       |  coalesce(ust.n_chars, 0) AS n_chars,
       |  (1000000 * coalesce(ust.n_pieces, 0))
       |    // greatest(coalesce(ust.n_chars, 0), 1) AS fertility_micro
       |FROM documents d LEFT JOIN ust ON ust.id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---- oracle fragments shared with sim_bitext_mine --------------------

  private val corpCte =
    s"""corp AS (
       |  SELECT vec_id, label, vm, ${ExactSql.idot("vm", "vm")} AS nsq
       |  FROM (SELECT vec_id, label, ${ExactSql.microList("embedding")} AS vm
       |        FROM embeddings))""".stripMargin

  private val centCte =
    """cent AS (SELECT vec_id AS cid, vm AS cm, nsq AS cn
      |         FROM corp WHERE vec_id % 50 = 0)""".stripMargin

  private val scored0Cte =
    s"""scored0 AS (
       |  SELECT vec_id, cid, sim AS s FROM (
       |    ${ExactSql.cosMicroOver(
           """SELECT c.vec_id, t.cid, """ + ExactSql.idot("c.vm", "t.cm") +
             """ AS dt, CAST(c.nsq AS HUGEINT) * t.cn AS nn
               |     FROM corp c CROSS JOIN cent t""".stripMargin,
           "vec_id, cid")}))""".stripMargin

  private val assignProbesCtes =
    """assign AS (
      |  SELECT vec_id, cid AS cell FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
      |    FROM scored0) WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, cid AS cell FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
      |    FROM scored0) WHERE rn <= 3)""".stripMargin

  /** Per-direction top-4 CTE chain (srcParity 0 = forward even→odd). */
  private def directionSql(srcParity: Int): String = {
    val sims = ExactSql.cosMicroOver(
      s"""SELECT cd.query_id, cd.neighbor_id, ${ExactSql.idot("q.vm", "n.vm")}
         |     AS dt, CAST(q.nsq AS HUGEINT) * n.nsq AS nn
         |   FROM (SELECT p.query_id, a.vec_id AS neighbor_id
         |         FROM probes p JOIN assign a ON a.cell = p.cell
         |         WHERE p.query_id % 2 = $srcParity
         |           AND a.vec_id % 2 = ${1 - srcParity}) cd
         |   JOIN corp q ON q.vec_id = cd.query_id
         |   JOIN corp n ON n.vec_id = cd.neighbor_id""".stripMargin,
      "query_id, neighbor_id")
    s"""SELECT query_id, neighbor_id, sim AS sim_micro, rank FROM (
       |  SELECT query_id, neighbor_id, sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM ($sims)) WHERE rank <= 4""".stripMargin
  }

  val all: Seq[Query] = Seq(
    // Same relation as sim_ivf_trained_topk by construction (only the
    // exchange strategy differs), so the oracle is shared verbatim.
    Query("sim_ivf_shuffled_topk", simIvfShuffledTopk,
      Query.byName(LlmQueries.all)("sim_ivf_trained_topk").oracle),
    // Identical relation to sim_bitext_mine (exchange strategy is the
    // only difference) — shared oracle; see simBitextMineShuffled doc
    // for the differential-diagnostic role.
    Query("sim_bitext_mine_shuffled", simBitextMineShuffled,
      Query.byName(LlmQueries9.all)("sim_bitext_mine").oracle),
    Query("text_unigram_segment", textUnigramSegment, unigramOracle),
    // The shared dirty-twin cands/par CTEs, the 14 smoothed counts as a
    // vals relation, the unrolled log2Micro chain, one conditional-agg
    // pivot to per-field weights, then a map-only score per pair.
    Query("link_fellegi_sunter_logodds", linkFellegiSunterLogOdds,
      s"""WITH ${LlmQueries12.linkageCandsCtes},
         |vals AS (
         |  SELECT 'm2' AS name, m + 2 AS v FROM par
         |  UNION ALL SELECT 'u2', u + 2 FROM par
         |  UNION ALL SELECT 'name_ma', ma_name + 1 FROM par
         |  UNION ALL SELECT 'name_md', m - ma_name + 1 FROM par
         |  UNION ALL SELECT 'name_ua', ua_name + 1 FROM par
         |  UNION ALL SELECT 'name_ud', u - ua_name + 1 FROM par
         |  UNION ALL SELECT 'nat_ma', ma_nat + 1 FROM par
         |  UNION ALL SELECT 'nat_md', m - ma_nat + 1 FROM par
         |  UNION ALL SELECT 'nat_ua', ua_nat + 1 FROM par
         |  UNION ALL SELECT 'nat_ud', u - ua_nat + 1 FROM par
         |  UNION ALL SELECT 'seg_ma', ma_seg + 1 FROM par
         |  UNION ALL SELECT 'seg_md', m - ma_seg + 1 FROM par
         |  UNION ALL SELECT 'seg_ua', ua_seg + 1 FROM par
         |  UNION ALL SELECT 'seg_ud', u - ua_seg + 1 FROM par),
         |$log2MicroCtes,
         |wt AS (SELECT
         |    max(CASE WHEN name = 'm2' THEN l END) AS l_m2,
         |    max(CASE WHEN name = 'u2' THEN l END) AS l_u2,
         |    max(CASE WHEN name = 'name_ma' THEN l END) AS l_name_ma,
         |    max(CASE WHEN name = 'name_md' THEN l END) AS l_name_md,
         |    max(CASE WHEN name = 'name_ua' THEN l END) AS l_name_ua,
         |    max(CASE WHEN name = 'name_ud' THEN l END) AS l_name_ud,
         |    max(CASE WHEN name = 'nat_ma' THEN l END) AS l_nat_ma,
         |    max(CASE WHEN name = 'nat_md' THEN l END) AS l_nat_md,
         |    max(CASE WHEN name = 'nat_ua' THEN l END) AS l_nat_ua,
         |    max(CASE WHEN name = 'nat_ud' THEN l END) AS l_nat_ud,
         |    max(CASE WHEN name = 'seg_ma' THEN l END) AS l_seg_ma,
         |    max(CASE WHEN name = 'seg_md' THEN l END) AS l_seg_md,
         |    max(CASE WHEN name = 'seg_ua' THEN l END) AS l_seg_ua,
         |    max(CASE WHEN name = 'seg_ud' THEN l END) AS l_seg_ud
         |  FROM lg)
         |SELECT key_a, key_b, name_agree, nation_agree, seg_agree, is_match,
         |  CAST((CASE WHEN name_agree THEN l_name_ma + l_u2 - l_name_ua - l_m2
         |        ELSE l_name_md + l_u2 - l_name_ud - l_m2 END)
         |    + (CASE WHEN nation_agree THEN l_nat_ma + l_u2 - l_nat_ua - l_m2
         |        ELSE l_nat_md + l_u2 - l_nat_ud - l_m2 END)
         |    + (CASE WHEN seg_agree THEN l_seg_ma + l_u2 - l_seg_ua - l_m2
         |        ELSE l_seg_md + l_u2 - l_seg_ud - l_m2 END) AS BIGINT)
         |    AS score_micro,
         |  (CASE WHEN name_agree THEN l_name_ma + l_u2 - l_name_ua - l_m2
         |        ELSE l_name_md + l_u2 - l_name_ud - l_m2 END)
         |    + (CASE WHEN nation_agree THEN l_nat_ma + l_u2 - l_nat_ua - l_m2
         |        ELSE l_nat_md + l_u2 - l_nat_ud - l_m2 END)
         |    + (CASE WHEN seg_agree THEN l_seg_ma + l_u2 - l_seg_ua - l_m2
         |        ELSE l_seg_md + l_u2 - l_seg_ud - l_m2 END) > 0 AS is_link
         |FROM cands CROSS JOIN wt
         |ORDER BY key_a, key_b""".stripMargin),
    // The shared dirty-twin cands CTEs + the unrolled 5-round
    // quantized-integer EM on the 8 pattern counts, final E-step
    // posterior joined back per pair. No labels consumed by the
    // estimation; is_match is an audit column.
    Query("link_fellegi_sunter_em", linkFellegiSunterEm,
      s"""WITH ${LlmQueries12.linkageCandsCtes},
         |${fsEmCtes(5)}
         |SELECT pt.key_a, pt.key_b, pt.name_agree, pt.nation_agree,
         |  pt.seg_agree, pt.is_match,
         |  CAST(ef.post AS BIGINT) AS posterior_micro,
         |  ef.post > 500000 AS is_link
         |FROM pats pt JOIN ef ON ef.pat = pt.pat
         |ORDER BY pt.key_a, pt.key_b""".stripMargin),
    // The shared corp/cent/assignment replay restricted to the panel
    // split (assignment is per-row, so computing it over corp and
    // filtering parity in the candidate join is identical to assigning
    // the split relations), the rank <= 16 candidate cut, then the
    // value_knn_shapley recursion with n = the per-test candidate count.
    Query("value_knn_shapley_truncated", valueKnnShapleyTruncated,
      s"""WITH $corpCte,
         |$centCte,
         |$scored0Cte,
         |$assignProbesCtes,
         |csim AS (
         |  ${ExactSql.cosMicroOver(
             """SELECT cd.test_id, cd.train_id, """ +
               ExactSql.idot("q.vm", "n.vm") +
               """ AS dt, CAST(q.nsq AS HUGEINT) * n.nsq AS nn
                 |   FROM (SELECT p.query_id AS test_id, a.vec_id AS train_id
                 |         FROM probes p JOIN assign a ON a.cell = p.cell
                 |         WHERE p.query_id % 25 = 0 AND a.vec_id % 25 <> 0
                 |           AND a.vec_id <> p.query_id) cd
                 |   JOIN corp q ON q.vec_id = cd.test_id
                 |   JOIN corp n ON n.vec_id = cd.train_id""".stripMargin,
             "test_id, train_id")}),
         |topm AS (SELECT test_id, train_id, rank FROM (
         |  SELECT test_id, train_id,
         |    row_number() OVER (PARTITION BY test_id
         |      ORDER BY sim DESC, train_id) AS rank
         |  FROM csim) WHERE rank <= 16),
         |ranked AS (SELECT t.test_id, t.train_id,
         |    CASE WHEN n.label = q.label THEN 1 ELSE 0 END AS alpha, t.rank,
         |    count(*) OVER (PARTITION BY t.test_id) AS n
         |  FROM topm t
         |  JOIN corp n ON n.vec_id = t.train_id
         |  JOIN corp q ON q.vec_id = t.test_id),
         |terms AS (SELECT *, lead(alpha) OVER (PARTITION BY test_id
         |      ORDER BY rank) AS anext
         |  FROM ranked),
         |contrib AS (SELECT train_id, test_id, rank,
         |    CASE WHEN anext IS NULL THEN alpha * (1000000000 // n)
         |         ELSE (alpha - anext) *
         |           ((least(5, rank) * 1000000000) // (5 * rank))
         |    END AS term
         |  FROM terms),
         |shap AS (SELECT train_id, test_id,
         |    sum(term) OVER (PARTITION BY test_id ORDER BY rank DESC)
         |      AS shap_nano
         |  FROM contrib)
         |SELECT train_id, CAST(count(*) AS BIGINT) AS n_tests,
         |  CAST(sum(shap_nano) AS BIGINT) AS shap_nano_sum
         |FROM shap GROUP BY train_id ORDER BY train_id""".stripMargin),
    Query("bitext_probe_margin", bitextProbeMargin,
      s"""WITH $corpCte,
         |$centCte,
         |$scored0Cte,
         |$assignProbesCtes,
         |fwd AS (${directionSql(0)}),
         |bwd AS (${directionSql(1)}),
         |f AS (SELECT query_id AS src_id, neighbor_id AS tgt_id,
         |    sim_micro FROM fwd),
         |b AS (SELECT neighbor_id AS src_id, query_id AS tgt_id,
         |    sim_micro FROM bwd),
         |fagg AS (SELECT src_id, sum(sim_micro) AS fsum,
         |    CAST(count(*) AS BIGINT) AS fk FROM f GROUP BY 1),
         |bagg AS (SELECT tgt_id, sum(sim_micro) AS bsum,
         |    CAST(count(*) AS BIGINT) AS bk FROM b GROUP BY 1),
         |cand AS (SELECT src_id, tgt_id, min(sim_micro) AS sim_micro FROM
         |  (SELECT * FROM f UNION ALL SELECT * FROM b) GROUP BY 1, 2)
         |SELECT c.src_id, c.tgt_id, c.sim_micro,
         |  CAST(a.fsum AS BIGINT) AS fsum, a.fk,
         |  CAST(g.bsum AS BIGINT) AS bsum, g.bk,
         |  CAST(CASE WHEN (g.bk * a.fsum + a.fk * g.bsum) <= 0 THEN 2000000
         |       WHEN c.sim_micro >= 0 THEN
         |         (2000000 * a.fk * g.bk * c.sim_micro)
         |         // (g.bk * a.fsum + a.fk * g.bsum)
         |       ELSE -((2000000 * a.fk * g.bk * (-c.sim_micro))
         |         // (g.bk * a.fsum + a.fk * g.bsum)) END
         |    AS BIGINT) AS margin_micro
         |FROM cand c
         |JOIN fagg a ON a.src_id = c.src_id
         |JOIN bagg g ON g.tgt_id = c.tgt_id
         |ORDER BY c.src_id, c.tgt_id""".stripMargin),
  )
}
