package graft.ops

import org.apache.spark.sql.functions._
import graft.{SparkSpec, T}
import graft.functions.PqCodebook
import graft.functions.VectorFunctions.{pq_adc, pq_encode}

class PqSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = T.t(spark, dir, "embeddings").cache()

  private lazy val books =
    Pq.trainPqCodebooksMicro(emb, m = 16, k = 32, iters = 3)

  test("codes: m per vector, each in [0, k), stable across partitionings") {
    val flat = Pq.encodeFlat(emb, books).cache()
    val n = emb.count()
    assert(flat.count() == n * 16)
    assert(flat.filter(col("code") < 0 || col("code") >= 32).count() == 0)
    val again = Pq.encodeFlat(emb.repartition(7), books)
    assert(flat.except(again).isEmpty && again.except(flat).isEmpty,
      "encoding must not depend on physical partitioning")
  }

  test("exact-integer ties break to the lowest cell") {
    import spark.implicits._
    // two identical cells: argmin is a tie on every input
    val cb = new PqCodebook(2, Array(Array(Array(5L, 5L), Array(5L, 5L))))
    val out = Seq(Tuple1(Seq(1.0f, 2.0f))).toDF("v")
      .select(pq_encode(col("v"), cb).as("codes"))
      .head().getSeq[Long](0)
    assert(out == Seq(0L))
  }

  test("driver-side replay: encode and adc match an independent recompute") {
    val rows = emb.limit(5).select(col("vec_id"), col("embedding")).collect()
    val cb = new PqCodebook(4, books)
    val sparkSide = Pq.encode(emb, books).filter(col("vec_id") <= 4)
      .orderBy(col("vec_id")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1))
      .toMap
    def micro(x: Float): Long = math.floor(x.toDouble * 1e6).toLong
    rows.foreach { r =>
      val v = r.getSeq[Float](1).toArray
      val want = (0 until 16).map { s =>
        (0 until 32).minBy { c =>
          (0 until 4).map { i =>
            val d = micro(v(s * 4 + i)) - books(s)(c)(i); d * d
          }.sum
        }.toLong
      }
      assert(sparkSide(r.getLong(0)) == want, s"codes diverge for ${r.getLong(0)}")
      val adcWant = (0 until 16).map { s =>
        val cm = books(s)(want(s).toInt)
        (0 until 4).map { i =>
          val d = micro(v(s * 4 + i)) - cm(i); d * d
        }.sum
      }.sum
      val adcGot = emb.filter(col("vec_id") === r.getLong(0))
        .select(pq_adc(col("embedding"), pq_encode(col("embedding"), cb), cb))
        .head().getLong(0)
      assert(adcGot == adcWant)
    }
  }

  test("training reduces total self-distortion vs the seed codebook") {
    val seedBooks = Pq.trainPqCodebooksMicro(emb, m = 16, k = 32, iters = 0)
    def total(b: Array[Array[Array[Long]]]): Long =
      emb.select(sum(Pq.selfDistortion(emb, b)).as("t")).head().getLong(0)
    assert(total(books) <= total(seedBooks),
      "Lloyd iterations must not increase the quantization objective")
  }

  test("IVF-PQ ranks exactly the probed candidates, in ADC order") {
    val cents = Similarity.trainIvfCentroidsMicro(emb, k = 10, iters = 3)
    val queries = emb.filter(col("vec_id") < 10)
    val got = Pq.ivfPqTopKWithMicro(queries, emb, cents, books,
      topK = 1000, nProbe = 3) // topK > corpus: the FULL candidate ranking
    // candidate set must equal (probed cell) × (corpus in that cell)
    val cells = Similarity.assignCellsMicro(emb, cents)
    val index = graft.functions.IvfIndex.fromMicro(
      cents.map(_._1), cents.map(_._2), 6)
    val probes = queries.select(col("vec_id").as("query_id"),
      explode(graft.functions.VectorFunctions.nearest_cells(
        col("embedding"), index, 3)).as("cell"))
    val wantCand = probes.join(cells, "cell")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    val gotCand = got.select(col("query_id"), col("neighbor_id"))
    assert(gotCand.except(wantCand).isEmpty && wantCand.except(gotCand).isEmpty,
      "IVF-PQ candidates must be exactly the probed cells' members")
    // and within a query, rank order == ADC order with id tie-break
    val rows = got.orderBy(col("query_id"), col("rank"))
      .collect().groupBy(_.getLong(0))
    rows.values.foreach { rs =>
      val sorted = rs.sortBy(r => (r.getLong(2), r.getLong(1)))
      assert(rs.map(_.getLong(1)).toSeq == sorted.map(_.getLong(1)).toSeq)
    }
  }

  test("ADC top-k recalls most of the exact micro-L2 top-k") {
    // exact baseline: full-precision micro-unit squared L2, same metric the
    // codes approximate (NOT cosine — PQ quantizes absolute positions)
    val micro = (c: org.apache.spark.sql.Column) =>
      transform(c, x => floor(x.cast("double") * lit(1000000.0)).cast("long"))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), micro(col("embedding")).as("qm"))
    val c = emb.select(col("vec_id").as("neighbor_id"), micro(col("embedding")).as("cm"))
    val d2 = aggregate(zip_with(col("qm"), col("cm"), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("d2"), col("neighbor_id"))
    val exact = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("d2", d2)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"))
    val approx = Pq.pqTopKWith(emb.filter(col("vec_id") < 10), emb, books, topK = 5)
      .select(col("query_id"), col("neighbor_id"))
    val hits = approx.intersect(exact).count()
    assert(hits >= 20, s"recall@5 over 10 queries too low: $hits/50")
  }

  test("residual IVF-PQ beats raw IVF-PQ recall at equal m*k (clustered data)") {
    import spark.implicits._
    // 8 tight clusters in 64-dim: cluster g bumps dims [8g, 8g+8); members
    // add a small structured perturbation. The coarse (IVF) quantizer
    // resolves clusters, so within a probed cell the candidates differ
    // ONLY by their displacement: a raw m*k=16*8 codebook spends its
    // cells on absolute position (cluster-level, near-constant within a
    // cell) and cannot rank members, while residual codebooks spend the
    // SAME budget on the displacement itself — Faiss IVFADC's argument
    // for residual encoding, reproduced deterministically.
    val n = 200
    val dim = 64
    val clustered = (0 until n).map { id =>
      val g = id % 8
      val v = (0 until dim).map { d =>
        val base = if (d / 8 == g) 1.0f else 0.0f
        base + (((id * 31 + d * 7) % 11) - 5) * 0.004f
      }
      (id.toLong, v)
    }.toDF("vec_id", "embedding").cache()

    val cents = Similarity.trainIvfCentroidsMicro(clustered, k = 8, iters = 3)
    val queries = clustered.filter(col("vec_id") < 10)

    // exact ground truth: full-precision micro L2 top-5
    val micro = (c: org.apache.spark.sql.Column) =>
      transform(c, x => floor(x.cast("double") * lit(1000000.0)).cast("long"))
    val q = queries.select(col("vec_id").as("query_id"), micro(col("embedding")).as("qm"))
    val c = clustered.select(col("vec_id").as("neighbor_id"), micro(col("embedding")).as("cm"))
    val d2 = aggregate(zip_with(col("qm"), col("cm"), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("d2"), col("neighbor_id"))
    val exact = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("d2", d2)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"))
      .cache()

    val rawBooks = Pq.trainPqCodebooksMicro(clustered, m = 16, k = 8, iters = 3)
    val rawHits = Pq.ivfPqTopKWithMicro(queries, clustered, cents, rawBooks,
        topK = 5, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"))
      .intersect(exact).count()

    val resBooks = Pq.trainResidualPqCodebooksMicro(clustered, cents,
      m = 16, k = 8, iters = 3)
    val resHits = Pq.ivfPqResidualTopKWithMicro(queries, clustered, cents,
        resBooks, topK = 5, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"))
      .intersect(exact).count()

    assert(resHits > rawHits,
      s"residual recall must beat raw at equal budget: $resHits vs $rawHits of 50")
    assert(resHits >= 30, s"residual recall floor: $resHits/50")
  }

  test("balanced-variance permutation cuts PQ distortion on skewed dims") {
    import spark.implicits._
    // dims 0-3 carry INDEPENDENT high-variance signal, 4-7 are
    // near-constant. Natural order packs all four hot dims into
    // subspace 0 (subDim=4) — k cells cannot cover four independent
    // directions — while the snake deal gives each subspace two hot +
    // two cold dims, so the same m*k budget quantizes strictly better.
    // (Independence matters: CORRELATED hot dims packed together are
    // the case where natural grouping wins — that is OPQ's whole
    // subject.) Seeded java Random is LCG-spec'd: platform-stable.
    val n = 120
    val dim = 8
    val rnd = new java.util.Random(42)
    val skewed = (0 until n).map { id =>
      val v = (0 until dim).map { d =>
        val amp = if (d < 4) 1.0f else 0.01f
        amp * (rnd.nextInt(17) - 8) / 8.0f
      }
      (id.toLong, v)
    }.toDF("vec_id", "embedding").cache()

    val perm = Pq.balancedVariancePermutation(skewed, dim = dim, m = 2)
    // every original dimension appears exactly once
    assert(perm.sorted.toSeq == (0 until dim))
    // each subspace holds exactly two hot dims (0-3) after the snake
    assert(perm.slice(0, 4).count(_ < 4) == 2 && perm.slice(4, 8).count(_ < 4) == 2,
      perm.toSeq.toString)

    def distortion(books: Array[Array[Array[Long]]], p: Array[Int]): Long = {
      val cb = new PqCodebook(dim / 2, books)
      val vm = Pq.permutedMicro("embedding", p)
      skewed.select(pq_adc(vm, pq_encode(vm, cb), cb).as("d"))
        .agg(sum(col("d"))).head().getLong(0)
    }
    val natural = (0 until dim).toArray
    val bN = Pq.trainPermutedPqCodebooksMicro(skewed, natural, m = 2, k = 4, iters = 3)
    val bP = Pq.trainPermutedPqCodebooksMicro(skewed, perm, m = 2, k = 4, iters = 3)
    val (dN, dP) = (distortion(bN, natural), distortion(bP, perm))
    assert(dP < dN, s"permuted distortion $dP must beat natural $dN")
  }

  test("a null vector is skipped: training and encoding see only the non-null rows") {
    import spark.implicits._
    val rnd = new java.util.Random(7)
    val full = (0 until 40).map { id =>
      (id.toLong, (0 until 8).map(_ => (rnd.nextInt(17) - 8) / 8.0f))
    }.toDF("vec_id", "embedding")
    // null out the first seed (lowest md5 id): seeding must skip it too
    val nullId = full.orderBy(md5(col("vec_id").cast("string"))).head().getLong(0)
    val withNull = full.withColumn("embedding",
      when(col("vec_id") =!= nullId, col("embedding"))).cache()
    val nonNull = withNull.filter(col("embedding").isNotNull)
    def same(a: Array[Array[Array[Long]]], b: Array[Array[Array[Long]]]): Boolean =
      a.map(_.map(_.toSeq).toSeq).toSeq == b.map(_.map(_.toSeq).toSeq).toSeq

    val books = Pq.trainPqCodebooksMicro(withNull, m = 2, k = 4)
    assert(same(books, Pq.trainPqCodebooksMicro(nonNull, m = 2, k = 4)))
    val codes = Pq.encodeFlat(withNull, books)
    assert(codes.count() == 39 * 2)
    assert(codes.except(Pq.encodeFlat(nonNull, books)).isEmpty)

    val perm = (0 until 8).toArray
    assert(same(Pq.trainPermutedPqCodebooksMicro(withNull, perm, m = 2, k = 4),
      Pq.trainPermutedPqCodebooksMicro(nonNull, perm, m = 2, k = 4)))
  }
}
