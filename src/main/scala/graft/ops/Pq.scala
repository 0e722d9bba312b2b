package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{IvfIndex, PqCodebook}
import graft.functions.VectorFunctions.{nearest_cells, pq_adc, pq_encode}

/** Product quantization (Jégou, Douze, Schmid, IEEE TPAMI 2011): compress
  * each d-dim embedding into m small integers — one k-means cell id per
  * d/m-dim subspace — and search with asymmetric distances (ADC) computed
  * between the RAW query vector and the code-addressed centroids.
  *
  * Why this is a 100 TB operator: a float32 d=64 embedding is 256 bytes;
  * its m=4 PQ code is 4 longs (and 4 BYTES once k ≤ 256 codes are packed
  * at rest) — a 32-64× smaller scan for candidate generation, which is
  * the difference between an ANN sweep that fits the page cache and one
  * that re-reads the lake. The codebook (m·k·subDim longs) is a driver
  * object broadcast with the task binary; encoding is map-only; ADC
  * ranking touches only (query × code) pairs.
  *
  * Everything is EXACT integer micro-unit arithmetic (the
  * [[graft.functions.PqCodebook]] contract): training, encoding, and ADC
  * are bit-reproducible across engines, so every derived query is
  * hash-checked against the DuckDB oracle ([[graft.queries.PqSql]])
  * rather than spec-trusted — the same discipline as
  * [[Similarity.trainIvfCentroidsMicro]] / [[Components.pageRank]].
  */
object Pq {

  private val Offset = 1000000000L

  /** Train per-subspace k-means codebooks with exact integer micro-unit
    * Lloyd iterations.
    *
    *  - SEEDS: the k lowest-md5(id) vectors (content-stable, the same
    *    seeding as [[Similarity.trainIvfCentroidsMicro]]), sliced per
    *    subspace; cells numbered 0..k-1 in hash order.
    *  - ASSIGN: exact-integer L2 argmin per (vector, subspace) — a single
    *    map-only pass; all m subspaces of one iteration share ONE job
    *    (posexplode of the code array), so an iteration costs one corpus
    *    scan regardless of m.
    *  - UPDATE: per (subspace, cell, dim) integer sums with the +10⁹
    *    offset (truncating `div` == flooring `//` on non-negative
    *    dividends); partial aggregation collapses each partition to
    *    ≤ m·k rows before the exchange, and only those rows reach the
    *    driver. Empty cells keep their previous centroid.
    *
    * Returns books(s)(c) = micro-unit centroid of cell c in subspace s. */
  def trainPqCodebooksMicro(corpus: DataFrame, m: Int, k: Int,
      iters: Int = 3, idCol: String = "vec_id",
      vecCol: String = "embedding"): Array[Array[Array[Long]]] = {
    require(m > 0 && k > 0 && iters >= 0, "m, k positive; iters >= 0")
    val vecs = corpus.where(col(vecCol).isNotNull) // a null vector has no code
    val seeds = vecs
      .select(md5(col(idCol).cast("string")).as("__h"), col(vecCol))
      .orderBy(col("__h"))
      .limit(k)
      .collect()
      .map(_.getSeq[Float](1).toArray)
    require(seeds.nonEmpty, "empty corpus")
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val books: Array[Array[Array[Long]]] = Array.tabulate(m)(s =>
      seeds.map(v => Array.tabulate(subDim)(i =>
        math.floor(v(s * subDim + i).toDouble * 1000000.0).toLong)))
    // Elementwise micro quantization is per-element deterministic, so
    // pre-quantizing the floats and folding in micro space is
    // bit-identical to the old per-iteration float-input SQL aggregate
    // (assignment: subDist over floats == subDistMicro over the micro'd
    // elements; update sums: floor(x·10⁶)+Offset either way).
    foldTrainMicro(
      vecs.select(col(vecCol)).queryExecution.toRdd
        .map { r =>
          val a = r.getArray(0)
          val dimN = a.numElements()
          val out = new Array[Long](dimN)
          var i = 0
          while (i < dimN) {
            out(i) = math.floor(a.getFloat(i).toDouble * 1000000.0).toLong
            i += 1
          }
          out
        },
      books, m, k, subDim, iters)
  }

  /** The Lloyd update loop shared by every PQ trainer — the same
    * RDD-fold shape as [[Similarity.trainIvfCentroidsMicro]] /
    * [[Curation.facilityLocationSelect]] (guide §1.2: one result-stage
    * job per iteration instead of a posexplode + combine-agg + collect
    * SQL job that re-plans and re-codegens per iteration because the
    * codebook literal changes). The micro vectors are persisted once;
    * each iteration is one shuffle-free mapPartitions producing the
    * (m × k) counts and (m × k × subDim) offset sums, merged on the
    * driver. Long addition is associative and commutative, so the
    * merged totals — and the trained codebooks — are bit-identical to
    * the previous partial/final SQL aggregate at any partitioning
    * (asserted in PqSpec, replayed by the DuckDB oracle). */
  private def foldTrainMicro(vecsIn: org.apache.spark.rdd.RDD[Array[Long]],
      init: Array[Array[Array[Long]]], m: Int, k: Int, subDim: Int,
      iters: Int): Array[Array[Array[Long]]] = {
    var books = init
    if (iters == 0) return books
    val vecs = vecsIn
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      for (_ <- 1 to iters) {
        val cb = new PqCodebook(subDim, books)
        val partials = vecs.mapPartitions { it =>
          val cnt = Array.ofDim[Long](m, k)
          val sums = Array.ofDim[Long](m, k, subDim)
          it.foreach { v =>
            val ad = org.apache.spark.sql.catalyst.expressions
              .UnsafeArrayData.fromPrimitiveArray(v)
            val codes = cb.encodeMicro(ad)
            var s = 0
            while (s < m) {
              val cell = codes.getLong(s).toInt
              cnt(s)(cell) += 1L
              val row = sums(s)(cell)
              val base = s * subDim
              var i = 0
              while (i < subDim) { row(i) += v(base + i) + Offset; i += 1 }
              s += 1
            }
          }
          Iterator.single((cnt, sums))
        }.collect()
        val cnt = Array.ofDim[Long](m, k)
        val sums = Array.ofDim[Long](m, k, subDim)
        partials.foreach { case (pc, ps) =>
          var s = 0
          while (s < m) {
            var c = 0
            while (c < k) {
              cnt(s)(c) += pc(s)(c)
              var i = 0
              while (i < subDim) { sums(s)(c)(i) += ps(s)(c)(i); i += 1 }
              c += 1
            }
            s += 1
          }
        }
        val next = books.map(_.map(_.clone()))
        var s = 0
        while (s < m) {
          var c = 0
          while (c < k) {
            // empty cells keep their previous centroid; dividend
            // non-negative by the offset -> truncation == floor
            if (cnt(s)(c) > 0L)
              next(s)(c) = Array.tabulate(subDim)(i =>
                sums(s)(c)(i) / cnt(s)(c) - Offset)
            c += 1
          }
          s += 1
        }
        books = next
      }
      books
    } finally vecs.unpersist(blocking = false)
  }

  /** Map-only PQ encoding: one (id, sub, code) row per subspace — the
    * flattened scalar shape the oracle hashes exactly. */
  def encodeFlat(emb: DataFrame, books: Array[Array[Array[Long]]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cb = codebook(books)
    emb.select(col(idCol),
        posexplode(pq_encode(col(vecCol), cb)).as(Seq("sub", "code")))
  }

  /** Map-only PQ encoding keeping the code ARRAY — the storage/serve
    * shape ([[pqTopKWith]] consumes it). */
  def encode(emb: DataFrame, books: Array[Array[Array[Long]]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    emb.select(col(idCol), pq_encode(col(vecCol), codebook(books)).as("codes"))

  /** Exhaustive ADC top-k ("PQ flat"): encode the corpus once (map-only),
    * broadcast the query panel, rank every (query, code) pair by exact
    * integer ADC distance asc (ties to the lowest neighbor id).
    *
    * Scale shape: same broadcast-nested-loop class as the exact
    * brute-force baseline it approximates — the win is bandwidth, not
    * asymptotics: the inner scan reads m code longs per corpus row
    * instead of d floats, and each distance is m table lookups of
    * pre-slice sums instead of d multiplies. Compose with IVF cells
    * (probe then ADC-rank, Faiss's IVFADC) when the corpus outgrows even
    * the code scan. */
  def pqTopKWith(queries: DataFrame, corpus: DataFrame,
      books: Array[Array[Array[Long]]], topK: Int,
      qidCol: String = "vec_id", cidCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cb = codebook(books)
    val c = corpus.select(col(cidCol).as("neighbor_id"),
      pq_encode(col(vecCol), cb).as("__codes"))
    val q = queries.select(col(qidCol).as("query_id"), col(vecCol).as("__qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist"), col("neighbor_id"))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_dist", pq_adc(col("__qv"), col("__codes"), cb))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("adc_dist"), col("rank"))
  }

  /** IVF-PQ (Faiss's IVFADC): coarse-quantize the corpus into IVF cells
    * (micro-unit trained centroids, map-only [[graft.functions.NearestCells]]
    * assignment), probe each query's `nProbe` nearest cells, and rank ONLY
    * the probed candidates by exact integer ADC distance.
    *
    * This is the composition that actually serves 100 TB: the IVF side
    * cuts the candidate set to ~nProbe/nCells of the corpus (broadcast
    * equi-join on cell id — no code scan of unprobed cells), and the PQ
    * side makes each surviving candidate cost m code lookups instead of a
    * d-float read. Both index objects ride the plan as reference objects;
    * the corpus is scanned once and never shuffled. */
  def ivfPqTopKWithMicro(queries: DataFrame, corpus: DataFrame,
      ivfCents: Array[(Long, Array[Long])], books: Array[Array[Array[Long]]],
      topK: Int, nProbe: Int = 3, qidCol: String = "vec_id",
      cidCol: String = "vec_id", vecCol: String = "embedding",
      roundTo: Int = 6): DataFrame = {
    val cb = codebook(books)
    val index = IvfIndex.fromMicro(ivfCents.map(_._1), ivfCents.map(_._2), roundTo)
    val c = corpus.select(col(cidCol).as("neighbor_id"),
      pq_encode(col(vecCol), cb).as("__codes"),
      nearest_cells(col(vecCol), index, 1).getItem(0).as("__cell"))
    val q = queries.select(col(qidCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__probe", explode(nearest_cells(col("__qv"), index, nProbe)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist"), col("neighbor_id"))
    c.join(broadcast(q),
        col("__probe") === col("__cell") && col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_dist", pq_adc(col("__qv"), col("__codes"), cb))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("adc_dist"), col("rank"))
  }

  /** Micro-unit quantization of a float vector column:
    * floor(x·10⁶) longs, elementwise — the same quantization every
    * trained operator applies, as a column expression. */
  private def vecMicro(vecCol: String): Column =
    transform(col(vecCol), x => floor(x.cast("double") * lit(1000000.0)).cast("long"))

  /** (cell, centroid-micro-array) relation from driver-held IVF
    * centroids — a k-row broadcast side for residual subtraction. */
  private def centsDf(df: DataFrame, ivfCents: Array[(Long, Array[Long])]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    ivfCents.toSeq.map { case (c, cm) => (c, cm.toSeq) }.toDF("__cell", "__cm")
  }

  /** Residual micro relation (__id, __cell, __vm): each vector's
    * micro-quantized coordinates MINUS its nearest IVF centroid's —
    * exact long arithmetic (both sides are already micro longs), so the
    * residual trajectory replays in SQL like everything else. */
  private def residualMicro(df: DataFrame, index: IvfIndex,
      cents: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("__id"), vecMicro(vecCol).as("__xm"),
        nearest_cells(col(vecCol), index, 1).getItem(0).as("__cell"))
      .join(broadcast(cents), Seq("__cell"))
      .select(col("__id"), col("__cell"),
        zip_with(col("__xm"), col("__cm"), (a, b) => a - b).as("__vm"))

  /** [[trainPqCodebooksMicro]] on RESIDUALS against a trained IVF coarse
    * quantizer (Faiss IVFADC's encoder, Jégou et al. §IV-B): each vector
    * is first assigned to its nearest IVF cell, and the PQ codebooks are
    * trained on v − centroid(cell). Residuals are small and re-centered
    * around 0 wherever the coarse quantizer is dense, so the same m·k
    * code budget spends its resolution on LOCAL displacement instead of
    * absolute position — materially better recall at equal code size
    * (asserted in PqSpec on a clustered fixture).
    *
    * Same exact-integer discipline: residual elements are micro-long
    * differences, seeding/assignment/update identical to the raw
    * trainer, full trajectory DuckDB-replayable. */
  def trainResidualPqCodebooksMicro(corpus: DataFrame,
      ivfCents: Array[(Long, Array[Long])], m: Int, k: Int,
      iters: Int = 3, idCol: String = "vec_id", vecCol: String = "embedding",
      roundTo: Int = 6): Array[Array[Array[Long]]] = {
    val index = IvfIndex.fromMicro(ivfCents.map(_._1), ivfCents.map(_._2), roundTo)
    trainOnMicro(
      residualMicro(corpus, index, centsDf(corpus, ivfCents), idCol, vecCol),
      m, k, iters)
  }

  /** Core micro-unit PQ trainer over an (__id, __vm ARRAY<BIGINT>)
    * relation — the float entry point quantizes then delegates
    * conceptually; residual training feeds exact differences. Same
    * seeding (k lowest-md5 ids), same one-job-per-iteration shape as
    * [[trainPqCodebooksMicro]]. */
  private def trainOnMicro(corpusMicro: DataFrame, m: Int, k: Int,
      iters: Int): Array[Array[Array[Long]]] = {
    val vecs = corpusMicro.where(col("__vm").isNotNull)
    val seeds = vecs
      .select(md5(col("__id").cast("string")).as("__h"), col("__vm"))
      .orderBy(col("__h"))
      .limit(k)
      .collect()
      .map(_.getSeq[Long](1).toArray)
    require(seeds.nonEmpty, "empty corpus")
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val books: Array[Array[Array[Long]]] = Array.tabulate(m)(s =>
      seeds.map(v => Array.tabulate(subDim)(i => v(s * subDim + i))))
    // Same RDD-fold as the float entry point, minus the quantization
    // (the input is already micro longs). The computed __vm relation
    // (residual join / permutation projection) runs ONCE into the
    // persisted RDD instead of once per iteration.
    foldTrainMicro(
      vecs.select(col("__vm")).queryExecution.toRdd
        .map(_.getArray(0).toLongArray()),
      books, m, k, subDim, iters)
  }

  /** Residual IVF-PQ serve (Faiss IVFADC): candidates come from the
    * probed IVF cells as in [[ivfPqTopKWithMicro]], but distances are
    * computed in RESIDUAL space — the query's residual AGAINST EACH
    * PROBED CELL's centroid versus the candidate's residual code. The
    * query-side residual is recomputed per probed cell (nProbe small
    * arrays per query — free); the corpus side stores one code word per
    * vector, encoded once, exactly the at-rest layout Faiss serves.
    *
    * Scale shape identical to the non-residual serve: broadcast query
    * panel, corpus scanned once map-only (assign + residual + encode in
    * one projection), equi-ish join restricted to probed cells, top-k
    * window per query. */
  def ivfPqResidualTopKWithMicro(queries: DataFrame, corpus: DataFrame,
      ivfCents: Array[(Long, Array[Long])], books: Array[Array[Array[Long]]],
      topK: Int, nProbe: Int = 3, qidCol: String = "vec_id",
      cidCol: String = "vec_id", vecCol: String = "embedding",
      roundTo: Int = 6): DataFrame = {
    val cb = codebook(books)
    val index = IvfIndex.fromMicro(ivfCents.map(_._1), ivfCents.map(_._2), roundTo)
    val cents = centsDf(corpus, ivfCents)
    val c = corpus.select(col(cidCol).as("neighbor_id"), vecMicro(vecCol).as("__xm"),
        nearest_cells(col(vecCol), index, 1).getItem(0).as("__cell"))
      .join(broadcast(cents), Seq("__cell"))
      .select(col("neighbor_id"), col("__cell"),
        pq_encode(zip_with(col("__xm"), col("__cm"), (a, b) => a - b), cb)
          .as("__codes"))
    val q = queries.select(col(qidCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__probe", explode(nearest_cells(col("__qv"), index, nProbe)))
      .withColumn("__qm", vecMicro("__qv"))
      .join(broadcast(cents.withColumnRenamed("__cell", "__probe")), Seq("__probe"))
      .select(col("query_id"), col("__probe"),
        zip_with(col("__qm"), col("__cm"), (a, b) => a - b).as("__qres"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist"), col("neighbor_id"))
    c.join(broadcast(q),
        col("__probe") === col("__cell") && col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_dist", pq_adc(col("__qres"), col("__codes"), cb))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("adc_dist"), col("rank"))
  }

  /** Balanced-variance dimension permutation for PQ (the "structured
    * ordering" OPQ baseline, Ge et al. CVPR'13 §1's natural-vs-permuted
    * comparison; also Jégou et al. TPAMI'11 §V-A's remark that PQ is
    * sensitive to how dimensions are grouped): PQ quantizes each
    * subspace with the same k cells, so piling the high-variance
    * dimensions into one subspace starves it while low-variance
    * subspaces waste codes. Sort dimensions by exact integer variance
    * (n·Σx² − (Σx)², micro units, DECIMAL(38,0) products) and deal them
    * SNAKE-wise across the m subspaces (round 0: 0,1,…,m−1; round 1:
    * m−1,…,0; …), so every subspace gets one dimension from each
    * variance stratum. Returns perm where perm(sub·subDim + r) = the
    * original dimension index placed at slot r of subspace `sub` —
    * deterministic, tie-broken by dimension index, oracle-replayable.
    *
    * This is deliberately the PERMUTATION member of the OPQ family, not
    * the learned rotation: a permutation is exactly representable in
    * integer arithmetic (a learned orthogonal matrix is not), so the
    * whole train+encode trajectory stays bit-exact across engines. */
  def balancedVariancePermutation(emb: DataFrame, dim: Int, m: Int,
      vecCol: String = "embedding"): Array[Int] = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val aggs = (0 until dim).flatMap { i =>
      val x = s"CAST(floor(element_at($vecCol, ${i + 1}) * 1000000.0) AS DECIMAL(38,0))"
      Seq(expr(s"sum($x)").as(s"__s$i"), expr(s"sum($x * $x)").as(s"__q$i"))
    }
    val row = emb.agg(count(lit(1)).as("__n"), aggs: _*).head()
    val n = row.getLong(0)
    // exact scaled variance n·Σx² − (Σx)² per dimension
    val variances = (0 until dim).map { i =>
      val s = row.getDecimal(1 + 2 * i + 1) // __q comes second per pair
      val s1 = row.getDecimal(1 + 2 * i)
      (new java.math.BigDecimal(n).multiply(s).subtract(s1.multiply(s1)), i)
    }
    val ranked = variances.sortWith { case ((va, ia), (vb, ib)) =>
      val c = va.compareTo(vb)
      c > 0 || (c == 0 && ia < ib)
    }.map(_._2)
    val subDim = dim / m
    val perm = new Array[Int](dim)
    ranked.zipWithIndex.foreach { case (origDim, k) =>
      val round = k / m
      val pos = k % m
      val sub = if (round % 2 == 0) pos else m - 1 - pos
      perm(sub * subDim + round) = origDim
    }
    perm
  }

  /** Micro-unit permuted-vector column: slot j holds
    * floor(v(perm(j))·10⁶) — the input to permuted PQ train/encode. */
  def permutedMicro(vecCol: String, perm: Array[Int]): Column = {
    val slots = perm.map(d =>
      floor(element_at(col(vecCol), d + 1).cast("double") * lit(1000000.0))
        .cast("long"))
    array(slots: _*)
  }

  /** Train PQ codebooks over the PERMUTED micro vectors — compose with
    * [[balancedVariancePermutation]] for the OPQ-lite pipeline; spec
    * asserts lower self-distortion than natural-order PQ on
    * variance-skewed data at equal m·k. */
  def trainPermutedPqCodebooksMicro(corpus: DataFrame, perm: Array[Int],
      m: Int, k: Int, iters: Int = 3, idCol: String = "vec_id",
      vecCol: String = "embedding"): Array[Array[Array[Long]]] =
    trainOnMicro(
      corpus.where(col(vecCol).isNotNull).select(col(idCol).as("__id"),
        permutedMicro(vecCol, perm).as("__vm")),
      m, k, iters)

  /** Map-only permuted-PQ encoding, flattened to (id, sub, code). */
  def encodePermutedFlat(emb: DataFrame, perm: Array[Int],
      books: Array[Array[Array[Long]]], idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cb = codebook(books)
    emb.select(col(idCol),
      posexplode(pq_encode(permutedMicro(vecCol, perm), cb))
        .as(Seq("sub", "code")))
  }

  /** ADC reconstruction error of one vector against its own code —
    * `pq_adc(v, pq_encode(v))`, the training objective (per-row, for
    * convergence monitoring and specs). */
  def selfDistortion(emb: DataFrame, books: Array[Array[Array[Long]]],
      vecCol: String = "embedding"): Column = {
    val cb = codebook(books)
    pq_adc(col(vecCol), pq_encode(col(vecCol), cb), cb)
  }

  private def codebook(books: Array[Array[Array[Long]]]): PqCodebook = {
    require(books.nonEmpty && books(0).nonEmpty && books(0)(0).nonEmpty,
      "empty codebook")
    new PqCodebook(books(0)(0).length, books)
  }
}
