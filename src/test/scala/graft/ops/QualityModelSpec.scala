package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class QualityModelSpec extends SparkSpec {

  test("logistic training separates a planted vocabulary split") {
    import spark.implicits._
    val r = new scala.util.Random(7)
    def doc(vocab: Seq[String]) =
      (1 to 12).map(_ => vocab(r.nextInt(vocab.size))).mkString(" ")
    val good = (1 to 20).map(i => s"good$i")
    val bad = (1 to 20).map(i => s"bad$i")
    val rows = (1 to 60).map(i => (i.toLong, doc(good), 1)) ++
      (61 to 120).map(i => (i.toLong, doc(bad), 0))
    val docs = rows.toDF("doc_id", "text", "label")
    val (w, b) = QualityModel.trainLogistic(docs, dim = 1024, iters = 15, lr = 2.0)
    val scored = QualityModel.scoreLogistic(docs, w, b)
    val acc = docs.join(scored, "doc_id")
      .filter((col("p_keep") > 0.5) === (col("label") === 1))
      .count().toDouble / 120
    assert(acc >= 0.9, s"training-set accuracy $acc")
    // positive docs should sit clearly above negative ones on margin
    val mPos = scored.filter(col("doc_id") <= 60).agg(avg("margin")).head().getDouble(0)
    val mNeg = scored.filter(col("doc_id") > 60).agg(avg("margin")).head().getDouble(0)
    assert(mPos > mNeg, s"mean margins not separated: $mPos vs $mNeg")
  }

  test("integer-weight scoring is exact and partition-invariant") {
    import spark.implicits._
    val docs = (1 to 50).map(i => (i.toLong, s"alpha beta w$i gamma gamma"))
      .toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      QualityModel.integerWeightScore(df, dim = 64).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
        .toMap
    val a = run(docs)
    val b = run(docs.repartition(7))
    assert(a == b, "margin must be partition-invariant (exact integer sums)")
    assert(a.values.forall { case (nf, _, _) => nf >= 1 })
  }

  test("PR curve: hand-computed sweep, recall monotone in threshold") {
    import spark.implicits._
    val scored = Seq((1L, 3L, 1), (2L, 3L, 0), (3L, 2L, 1), (4L, 1L, 0))
      .toDF("doc_id", "margin", "label")
    val out = QualityModel.prCurve(scored, "margin", "label").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // t=3: preds {1,2} -> tp 1 fp 1 fn 1, prec 1/2, rec 1/2
    assert(out(3L) == (1L, 1L, 1L, 500000L, 500000L), s"got ${out(3L)}")
    // t=2: preds {1,2,3} -> tp 2 fp 1 fn 0, prec 2/3 (floor), rec 1
    assert(out(2L) == (2L, 1L, 0L, 666666L, 1000000L))
    // t=1: everything predicted -> tp 2 fp 2 fn 0, prec 1/2, rec 1
    assert(out(1L) == (2L, 2L, 0L, 500000L, 1000000L))
    // recall never increases as the threshold rises
    val byT = out.toSeq.sortBy(_._1).map(_._2._5)
    assert(byT.zip(byT.tail).forall { case (lo, hi) => lo >= hi })
  }

  test("exact AUC: hand-computed concordance with a tie; degenerate -> 0") {
    import spark.implicits._
    val scored = Seq((1L, 5L, 1), (2L, 4L, 1), (3L, 3L, 0), (4L, 3L, 1),
      (5L, 2L, 0), (6L, 1L, 0)).toDF("doc_id", "margin", "label")
    val r = QualityModel.aucExact(scored, "margin", "label").head()
    // P=3, N=3, concordant=8, tied=1 -> (8e6 + 5e5) div 9 = 944444
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      == ((3L, 3L, 8L, 1L, 944444L)), s"got $r")
    // perfect separation -> exactly 1.0
    val perfect = Seq((1L, 9L, 1), (2L, 8L, 1), (3L, 1L, 0))
      .toDF("doc_id", "margin", "label")
    assert(QualityModel.aucExact(perfect, "margin", "label")
      .head().getLong(4) == 1000000L)
    // single-class input yields 0, not a division error
    val onlyPos = Seq((1L, 2L, 1), (2L, 1L, 1)).toDF("doc_id", "margin", "label")
    assert(QualityModel.aucExact(onlyPos, "margin", "label")
      .head().getLong(4) == 0L)
  }

  test("reliabilityBins: hand-computed bins, rates, and sign-split means") {
    import spark.implicits._
    val scored = Seq((10L, 1), (60L, 1), (70L, 0), (-10L, 0), (-60L, 1))
      .toDF("margin", "label")
    val out = QualityModel.reliabilityBins(scored, "margin", "label", 50L)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(out == Map(
      0L -> (1L, 1L, 1000000L, 10L),    // [0, 50)
      1L -> (2L, 1L, 500000L, 65L),     // [50, 100)
      -1L -> (1L, 0L, 0L, -10L),        // [-50, 0)
      -2L -> (1L, 1L, 1000000L, -60L)), // [-100, -50)
      s"got $out")
  }

  test("aucByGroup: separated group scores unit, all-tied group scores half") {
    import spark.implicits._
    val scored = Seq(
      // group A: positives strictly above negatives -> AUC = 1
      ("A", 3L, 1), ("A", 2L, 1), ("A", 1L, 0), ("A", 0L, 0),
      // group B: one tied score with both classes -> AUC = 1/2
      ("B", 5L, 1), ("B", 5L, 0),
      // group C: degenerate (no negatives) -> 0 by convention
      ("C", 7L, 1)).toDF("g", "score", "label")
    val got = QualityModel.aucByGroup(scored, "g", "score", "label")
      .collect().map(r => r.getAs[String]("g") ->
        (r.getAs[Long]("n_pos"), r.getAs[Long]("n_neg"),
          r.getAs[Long]("auc_micro"))).toMap
    assert(got("A") == ((2L, 2L, 1000000L)), got)
    assert(got("B") == ((1L, 1L, 500000L)), got)
    assert(got("C") == ((1L, 0L, 0L)), got)
    // agrees with the global form when restricted to one group
    val globalA = QualityModel.aucExact(
      scored.filter(col("g") === "A"), "score", "label")
      .collect().head.getAs[Long]("auc_micro")
    assert(globalA == 1000000L)
  }

  test("cohensKappa: perfect, independent, and worse-than-chance agreement") {
    import spark.implicits._
    // perfect agreement -> kappa = 1
    val perfect = Seq((0, 0), (0, 0), (1, 1), (1, 1)).toDF("a", "b")
    val p = QualityModel.cohensKappa(perfect, "a", "b").collect().head
    assert(p.getAs[Long]("n") == 4L && p.getAs[Long]("n_agree") == 4L)
    assert(p.getAs[Long]("kappa_micro") == 1000000L)
    // statistically independent -> kappa = 0 (po = pe = 1/2)
    val indep = Seq((0, 0), (0, 1), (1, 0), (1, 1)).toDF("a", "b")
    val i = QualityModel.cohensKappa(indep, "a", "b").collect().head
    assert(i.getAs[Long]("po_micro") == 500000L)
    assert(i.getAs[Long]("pe_micro") == 500000L)
    assert(i.getAs[Long]("kappa_micro") == 0L)
    // total disagreement on balanced classes -> kappa = -1 (sign-split div)
    val anti = Seq((0, 1), (1, 0)).toDF("a", "b")
    val a = QualityModel.cohensKappa(anti, "a", "b").collect().head
    assert(a.getAs[Long]("kappa_micro") == -1000000L)
  }

  test("decileCalibration: equal-depth bins with pinned ties, exact gaps") {
    import spark.implicits._
    // one stratum, scores 1..10, label = score > 5, 5 bins of 2
    val df = (1 to 10).map(s => ("s", s.toLong, if (s > 5) 1 else 0, s.toLong))
      .toDF("src", "score", "label", "id")
    val got = QualityModel.decileCalibration(df, "src", "score", "label",
        "id", bins = 5)
      .collect().map(r => r.getAs[Long]("bin") ->
        (r.getAs[Long]("n"), r.getAs[Long]("pos_rate_micro"),
          r.getAs[Long]("mean_score"))).toMap
    assert(got.keySet == (1L to 5L).toSet)
    assert(got(1L) == ((2L, 0L, 1L)))            // scores 1,2
    assert(got(3L) == ((2L, 500000L, 5L)))       // scores 5,6: one positive
    assert(got(5L) == ((2L, 1000000L, 9L)))      // scores 9,10
    // nominal confidence for bin 1 of 5 is 1/10 -> gap = |0 - 100000|
    val g1 = QualityModel.decileCalibration(df, "src", "score", "label",
        "id", bins = 5)
      .filter(col("bin") === 1).collect().head.getAs[Long]("gap_micro")
    assert(g1 == 100000L)
  }

  test("robustScaleByGroup: exact rank-based median/IQR, sign-split scaling") {
    import spark.implicits._
    val df = (Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L), ("a", 5L)) ++
      Seq(("b", 10L), ("b", 20L), ("b", 30L), ("b", 40L)))
      .zipWithIndex.map { case ((g, v), i) => (g, v, i.toLong) }
      .toDF("g", "v", "id")
    val got = QualityModel.robustScaleByGroup(df, "g", "v", "id")
      .collect().map(r => (r.getAs[String]("g"), r.getAs[Long]("v")) ->
        (r.getAs[Long]("median"), r.getAs[Long]("iqr"),
          r.getAs[Long]("robust_micro"))).toMap
    // a (n=5): median rank 3 -> 3, q1 rank 2 -> 2, q3 rank 4 -> 4, iqr 2
    assert(got(("a", 3L)) == ((3L, 2L, 0L)))
    assert(got(("a", 5L)) == ((3L, 2L, 1000000L)))
    assert(got(("a", 1L)) == ((3L, 2L, -1000000L)))
    // b (n=4): median rank 2 -> 20, q1 rank 1 -> 10, q3 rank 3 -> 30
    assert(got(("b", 40L)) == ((20L, 20L, 1000000L)))
    assert(got(("b", 10L)) == ((20L, 20L, -500000L)))
  }

  test("labelNoiseJoint: hand-computed thresholds and joint counts") {
    import spark.implicits._
    // t1 = mean margin of given-1 = (10 + -2)/2 = 4
    // t0 = mean (-margin) of given-0 = (5 + -1)/2 = 2
    val scored = Seq((10L, 1), (-2L, 1), (-5L, 0), (1L, 0))
      .toDF("margin", "gold")
    val got = QualityModel.labelNoiseJoint(scored, "margin", "gold")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    // (1, m=10): clears t1 only -> 1 | (1, m=-2): clears t0 only -> 0
    // (0, m=-5): clears t0 only -> 0 | (0, m=1): clears neither -> 0
    assert(got == Map((1, 1) -> 1L, (1, 0) -> 1L, (0, 0) -> 2L),
      got.toString)
    // a class absent from the data is never suggested (NULL threshold)
    val oneClass = Seq((10L, 1), (-100L, 1)).toDF("margin", "gold")
    val g2 = QualityModel.labelNoiseJoint(oneClass, "margin", "gold")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(g2 == Map((1, 1) -> 2L), g2.toString)
  }

  test("spearmanByGroup: monotone +1, reversed -1, singleton 0") {
    import spark.implicits._
    val df = Seq(
      ("up", 1L, 10L, 1L), ("up", 2L, 20L, 2L), ("up", 3L, 30L, 3L),
      ("dn", 1L, 30L, 4L), ("dn", 2L, 20L, 5L), ("dn", 3L, 10L, 6L),
      ("one", 7L, 7L, 7L))
      .toDF("g", "x", "y", "id")
    val got = QualityModel.spearmanByGroup(df, "g", "x", "y", "id")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n"), r.getAs[Long]("spearman_micro"))).toMap
    assert(got == Map(
      "up" -> ((3L, 1000000L)),
      "dn" -> ((3L, -1000000L)),
      "one" -> ((1L, 0L))), got.toString)
  }

  test("isotonicCalibration: PAV pools the violator pair, keeps monotone tail") {
    import spark.implicits._
    // rates [1, 0, 1] (n=1 each): PAV pools bins 1-2 to 1/2 -> iso
    // [500000, 500000, 1000000]; a second already-monotone group is
    // returned unchanged
    val bins = Seq(("g", 1L, 1L, 1L), ("g", 2L, 0L, 1L), ("g", 3L, 1L, 1L),
      ("h", 1L, 0L, 2L), ("h", 2L, 1L, 2L), ("h", 3L, 2L, 2L))
      .toDF("src", "bin", "n_pos", "n")
    val got = QualityModel.isotonicCalibration(bins, Seq("src"), "bin",
        "n_pos", "n")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getAs[Long]("raw_rate_micro"), r.getAs[Long]("iso_rate_micro")))
      .toMap
    assert(got == Map(
      ("g", 1L) -> ((1000000L, 500000L)),
      ("g", 2L) -> ((0L, 500000L)),
      ("g", 3L) -> ((1000000L, 1000000L)),
      ("h", 1L) -> ((0L, 0L)),
      ("h", 2L) -> ((500000L, 500000L)),
      ("h", 3L) -> ((1000000L, 1000000L))), got.toString)
    // output is monotone non-decreasing in bin within every group
    val seq = QualityModel.isotonicCalibration(bins.repartition(4),
        Seq("src"), "bin", "n_pos", "n")
      .orderBy(col("src"), col("bin"))
      .collect().map(r => (r.getString(0), r.getAs[Long]("iso_rate_micro")))
    seq.sliding(2).foreach { case Array((s1, a), (s2, b)) =>
      if (s1 == s2) assert(a <= b, seq.mkString(","))
    }
  }

  test("integer-micro GD matches a sequential BigInt replay; partition-invariant") {
    import spark.implicits._
    val r = new scala.util.Random(11)
    val good = (1 to 10).map(i => s"good$i")
    val bad = (1 to 10).map(i => s"bad$i")
    def doc(v: Seq[String]) =
      (1 to 8).map(_ => v(r.nextInt(v.size))).mkString(" ")
    val rows = (1 to 20).map(i => (i.toLong, doc(good), 1)) ++
      (21 to 40).map(i => (i.toLong, doc(bad), 0)) :+ ((41L, "", 1))
    val docs = rows.toDF("doc_id", "text", "label")
    val dim = 32; val iters = 3
    val traj = QualityModel.logisticTrajectoryMicro(docs, dim, iters,
      lrNum = 1L, lrDen = 2L)
    // sequential replay from the collected feature relation, BigInt only
    val feats = QualityModel.hashedFeatures(docs, dim).collect()
      .map(row => (row.getLong(0), row.getLong(1).toInt, row.getLong(2)))
    val ys = rows.map { case (id, _, y) => id -> y.toLong }.toMap
    val w = Array.fill(dim)(0L); var b = 0L
    val den = BigInt(41) * 2
    for (t <- 0 until iters) {
      val margins = ys.map { case (id, _) =>
        id -> (b + feats.collect { case (i, k, n) if i == id => n * w(k) }.sum)
      }
      val resid = margins.map { case (id, m) =>
        id -> (graft.functions.ExactMicroOps.sigmoidMicro(m) - ys(id) * 1000000L)
      }
      val g = Array.fill(dim + 1)(BigInt(0))
      feats.foreach { case (id, k, n) => g(k + 1) += BigInt(n) * resid(id) }
      resid.values.foreach(rr => g(0) += BigInt(rr))
      for (k <- -1 until dim) {
        val gv = g(k + 1)
        val d = (gv.abs / den).toLong * (if (gv.signum >= 0) 1 else -1)
        if (k < 0) b -= d else w(k) -= d
      }
      assert(traj(t)._1.toSeq == w.toSeq, s"weights diverge at iter $t")
      assert(traj(t)._2 == b, s"bias diverges at iter $t")
    }
    // partition invariance of the exact trajectory
    val traj2 = QualityModel.logisticTrajectoryMicro(docs.repartition(7),
      dim, iters, lrNum = 1L, lrDen = 2L)
    assert(traj.map(_._1.toSeq) == traj2.map(_._1.toSeq))
    assert(traj.map(_._2) == traj2.map(_._2))
  }

  test("trajectory frees only its residual checkpoints; a lazily cached input stays cached") {
    import spark.implicits._
    val docs = (1 to 40).map(i => (i.toLong,
        if (i % 2 == 0) s"good day $i" else s"bad night $i", i % 2))
      .toDF("doc_id", "text", "label")
    val labels = docs.select(col("doc_id").as("id"),
      col("label").cast("long").as("y"))
    val expected = QualityModel.trajectoryFrom(
      QualityModel.hashedFeatures(docs, 16), labels, 16, 3, 1L, 2L)
    val sc = spark.sparkContext
    // cached but not yet materialized: its RDD registers during the
    // first iteration
    val feats = QualityModel.hashedFeatures(docs, 16).cache()
    try {
      val before = sc.getPersistentRDDs.keySet
      val traj = QualityModel.trajectoryFrom(feats, labels, 16, 3, 1L, 2L)
      assert(traj.map(t => (t._1.toSeq, t._2)) ==
        expected.map(t => (t._1.toSeq, t._2)))
      // what the call left persisted is the feats cache alone, fully
      // cached; every residual checkpoint is gone
      val left = sc.getPersistentRDDs.keySet.diff(before)
      assert(left.size == 1, s"persisted after the call: $left")
      val info = sc.getRDDStorageInfo.find(_.id == left.head)
      assert(info.exists(i => i.numCachedPartitions == i.numPartitions),
        "the feats cache must still hold all its blocks")
    } finally feats.unpersist(blocking = true)
  }

  test("forgetting + curve: exact replay from collected epochs") {
    import spark.implicits._
    val r = new scala.util.Random(17)
    val good = (1 to 10).map(i => s"good$i")
    val bad = (1 to 10).map(i => s"bad$i")
    def doc(v: Seq[String]) =
      (1 to 10).map(_ => v(r.nextInt(v.size))).mkString(" ")
    val rows = (1 to 30).map(i => (i.toLong, doc(good), 1)) ++
      (31 to 60).map(i => (i.toLong, doc(bad), 0))
    val docs = rows.toDF("doc_id", "text", "label")
    val iters = 4
    val ep = QualityModel.logisticEpochScoresMicro(docs, dim = 64,
        iters = iters, lrNum = 1L, lrDen = 8L)
      .collect().map(row => (row.getLong(0), row.getLong(1),
        row.getLong(4), row.getBoolean(5)))
    val byDoc = ep.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(e => (e._3, e._4))).toMap
    // forgetting: sequential replay from the epoch flags
    val forg = QualityModel.forgettingEventsMicro(docs, dim = 64,
        iters = iters, lrNum = 1L, lrDen = 8L)
      .collect().map(row => row.getLong(0) ->
        ((row.getLong(1), row.getLong(2), row.getLong(3),
          row.getBoolean(4), row.getBoolean(5)))).toMap
    assert(forg.size == 60)
    byDoc.foreach { case (id, es) =>
      val oks = es.map(_._2)
      val fl = oks.indexOf(true) match { case -1 => 0L; case i => i + 1L }
      val nf = oks.sliding(2).count(w => w.length == 2 && w(0) && !w(1))
      val (ne, gfl, gnf, fc, unf) = forg(id)
      assert(ne == iters.toLong && gfl == fl && gnf == nf.toLong &&
        fc == oks.last && unf == (fl > 0 && nf == 0), s"doc $id")
    }
    // curve: per-epoch counts and exact mean log-loss replay
    val curve = QualityModel.gdTrainingCurve(docs, dim = 64, iters = iters,
        lrNum = 1L, lrDen = 8L)
      .collect().map(row => row.getLong(0) ->
        ((row.getLong(1), row.getLong(2), row.getLong(3)))).toMap
    assert(curve.size == iters)
    val l6 = graft.functions.ExactMicroOps.log2Micro(1000000L)
    (1 to iters).foreach { t =>
      val es = ep.filter(_._2 == t.toLong)
      val losses = es.map(e => l6 -
        graft.functions.ExactMicroOps.log2Micro(math.max(e._3, 1L)))
      val (nd, nc, ml) = curve(t.toLong)
      assert(nd == es.length.toLong && nc == es.count(_._4).toLong &&
        ml == losses.map(BigInt(_)).sum / es.length, s"epoch $t")
    }
    // the planted split is learnable: accuracy improves along the curve
    assert(curve(iters.toLong)._2 >= curve(1L)._2)
  }

  test("data-diet scores: exact EL2N/GraNd replay, norm includes bias coord") {
    import spark.implicits._
    val r = new scala.util.Random(23)
    val good = (1 to 8).map(i => s"good$i")
    val bad = (1 to 8).map(i => s"bad$i")
    def doc(v: Seq[String]) =
      (1 to 9).map(_ => v(r.nextInt(v.size))).mkString(" ")
    val rows = (1 to 20).map(i => (i.toLong, doc(good), 1)) ++
      (21 to 40).map(i => (i.toLong, doc(bad), 0)) :+ ((41L, "", 1))
    val docs = rows.toDF("doc_id", "text", "label")
    val got = QualityModel.dataDietScores(docs, dim = 32, iters = 3,
        lrNum = 1L, lrDen = 8L)
      .collect().map(row => row.getLong(0) ->
        ((row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))))
      .toMap
    assert(got.size == 41)
    // independent replay from epochs + features
    val ep = QualityModel.logisticEpochScoresMicro(docs, dim = 32,
        iters = 3, lrNum = 1L, lrDen = 8L)
      .collect().map(row => (row.getLong(0), row.getLong(4)))
    val feats = QualityModel.hashedFeatures(docs, 32).collect()
      .map(row => (row.getLong(0), row.getLong(2)))
    ep.groupBy(_._1).foreach { case (id, es) =>
      val sr = es.map(e => 1000000L - e._2).sum
      val nn = feats.collect { case (i, n) if i == id => n * n }.sum + 1L
      val xn = java.math.BigInteger.valueOf(nn).sqrt().longValueExact()
      val (ne, el2n, xnorm, grand) = got(id)
      assert(ne == 3L && el2n == sr / 3 && xnorm == xn &&
        grand == xn * sr / 3, s"doc $id")
    }
    // the empty doc's gradient norm is the bias coordinate alone
    assert(got(41L)._3 == 1L)
  }

  test("conformal gate: exact quantile rank, coverage law, small-cal pin") {
    import spark.implicits._
    val r = new scala.util.Random(31)
    val good = (1 to 8).map(i => s"good$i")
    val bad = (1 to 8).map(i => s"bad$i")
    def doc(v: Seq[String]) =
      (1 to 9).map(_ => v(r.nextInt(v.size))).mkString(" ")
    val rows = (1 to 100).map(i =>
      (i.toLong, doc(if (i % 2 == 0) good else bad), i % 2))
    val docs = rows.toDF("doc_id", "text", "label")
    val got = QualityModel.conformalGate(docs, dim = 32, iters = 3,
        lrNum = 1L, lrDen = 8L, calMod = 5, alphaMicro = 200000L)
      .collect().map(row => row.getLong(0) ->
        ((row.getLong(1), row.getLong(2), row.getBoolean(3)))).toMap
    assert(got.size == 80) // eval side only
    // replay the quantile from the final-epoch scores of the model
    // trained on the NON-calibration split only (proper split
    // conformal, ADVICE r13) — scored over ALL docs
    val (feats, labels) = QualityModel.checkpointedFeatsLabels(docs, 32,
      "doc_id", "label", "text")
    val (fTr, lTr) = QualityModel.checkpointedFeatsLabels(
      docs.filter(col("doc_id") % 5 =!= 0), 32, "doc_id", "label", "text")
    val traj = QualityModel.trajectoryFrom(fTr, lTr, 32, 3, 1L, 8L)
    val sAll = QualityModel.marginsAllEpochs(feats, labels, traj)
      .filter(col("epoch") === 3L)
      .collect().map { row =>
        val p = graft.functions.ExactMicroOps.sigmoidMicro(
          row.getAs[Long]("m"))
        val pTrue = if (row.getAs[Long]("y") == 1L) p else 1000000L - p
        row.getAs[Long]("id") -> (1000000L - pTrue)
      }.toMap
    val cal = sAll.filter(_._1 % 5 == 0).values.toSeq.sorted
    val k = ((cal.size + 1) * 800000L + 999999L) / 1000000L
    val qhat = cal(k.toInt - 1)
    got.foreach { case (id, (s, q, in)) =>
      assert(s == sAll(id) && q == qhat && in == (s <= qhat), s"doc $id")
    }
    // marginal coverage on the eval side should be near 1 - alpha
    val cov = got.values.count(_._3).toDouble / got.size
    assert(cov >= 0.6, s"coverage $cov collapsed")
    // alpha smaller than 1/(n+1): the set is everything, qhat pins to 1e6
    val tiny = QualityModel.conformalGate(docs, dim = 32, iters = 3,
        lrNum = 1L, lrDen = 8L, calMod = 5, alphaMicro = 1L)
      .collect().map(row => (row.getLong(2), row.getBoolean(3)))
    assert(tiny.forall(t => t._1 == 1000000L && t._2))
  }

  test("group curve: per-group exact loss, worst flag, planted hard group") {
    import spark.implicits._
    val r = new scala.util.Random(41)
    val good = (1 to 8).map(i => s"good$i")
    val bad = (1 to 8).map(i => s"bad$i")
    def doc(v: Seq[String]) =
      (1 to 9).map(_ => v(r.nextInt(v.size))).mkString(" ")
    // group 'clean' is separable; group 'noisy' has random labels —
    // the model cannot learn it, so it stays the worst group
    val rows = (1 to 20).map(i => (i.toLong, doc(good), 1, "clean")) ++
      (21 to 40).map(i => (i.toLong, doc(bad), 0, "clean")) ++
      (41 to 60).map(i => (i.toLong, doc(if (r.nextBoolean()) good else bad),
        r.nextInt(2), "noisy"))
    val docs = rows.toDF("doc_id", "text", "label", "grp0")
    val iters = 4
    val got = QualityModel.groupTrainingCurve(docs, "grp0", dim = 32,
        iters = iters, lrNum = 1L, lrDen = 8L)
      .collect().map(row => (row.getLong(0), row.getString(1)) ->
        ((row.getLong(2), row.getLong(3), row.getLong(4),
          row.getBoolean(5)))).toMap
    assert(got.size == 2 * iters)
    // exact replay from epochs
    val l6 = graft.functions.ExactMicroOps.log2Micro(1000000L)
    val grp = rows.map(t => t._1 -> t._4).toMap
    val ep = QualityModel.logisticEpochScoresMicro(docs, dim = 32,
        iters = iters, lrNum = 1L, lrDen = 8L)
      .collect().map(row => (grp(row.getLong(0)), row.getLong(1),
        row.getLong(4), row.getBoolean(5)))
    ep.groupBy(e => (e._2, e._1)).foreach { case ((t, g), es) =>
      val losses = es.map(e => BigInt(l6 -
        graft.functions.ExactMicroOps.log2Micro(math.max(e._3, 1L))))
      val (nd, nc, ml, _) = got((t, g))
      assert(nd == es.length.toLong && nc == es.count(_._4).toLong &&
        ml == losses.sum / es.length, s"($t,$g)")
    }
    // the noisy group is worst at the final epoch; flags are per-epoch max
    assert(got((iters.toLong, "noisy"))._4 && !got((iters.toLong, "clean"))._4)
    (1 to iters).foreach { t =>
      val flagged = Seq("clean", "noisy").filter(g => got((t.toLong, g))._4)
      val mx = Seq("clean", "noisy").map(g => got((t.toLong, g))._3).max
      assert(flagged.nonEmpty &&
        flagged.forall(g => got((t.toLong, g))._3 == mx))
    }
  }

  test("calibration error: exact ECE/MCE replay from final-epoch scores") {
    import spark.implicits._
    val r = new scala.util.Random(43)
    val good = (1 to 8).map(i => s"good$i")
    val bad = (1 to 8).map(i => s"bad$i")
    def doc(v: Seq[String]) =
      (1 to 9).map(_ => v(r.nextInt(v.size))).mkString(" ")
    val rows = (1 to 30).map(i => (i.toLong, doc(good), 1)) ++
      (31 to 60).map(i => (i.toLong, doc(bad), 0))
    val docs = rows.toDF("doc_id", "text", "label")
    val got = QualityModel.calibrationError(docs, dim = 32, iters = 3,
      lrNum = 1L, lrDen = 8L).collect()(0)
    // independent replay from final-epoch scores
    val ys = rows.map(t => t._1 -> t._3.toLong).toMap
    val fin = QualityModel.logisticEpochScoresMicro(docs, dim = 32,
        iters = 3, lrNum = 1L, lrDen = 8L)
      .filter(col("epoch") === 3L)
      .collect().map(row => (row.getLong(0), row.getLong(3)))
    val bins = fin.groupBy { case (_, p) => p / 100000L }
    val gaps = bins.toSeq.map { case (_, es) =>
      val n = es.length.toLong
      val pos = es.count { case (id, _) => ys(id) == 1L }.toLong
      val sp = es.map(_._2).sum
      (n, math.abs(pos * 1000000L - sp))
    }
    val nDocs = fin.length.toLong
    assert(got.getLong(0) == nDocs && got.getLong(1) == bins.size.toLong)
    assert(got.getLong(2) == gaps.map(_._2).sum / nDocs, got.toString)
    assert(got.getLong(3) == gaps.map(t => t._2 / t._1).max, got.toString)
  }

  test("poisson bootstrap AUC: weights and replicates match a sequential replay") {
    import spark.implicits._
    val r = new scala.util.Random(53)
    val rows = (1 to 40).map { i =>
      val y = i % 2
      // scores correlate with the label but overlap (ties included)
      (i.toLong, (y * 300000 + r.nextInt(700000)).toLong / 1000 * 1000, y)
    }
    val scored = rows.toDF("doc_id", "score", "label")
    val reps = 8
    val got = QualityModel.aucPoissonBootstrap(scored, "score", "label",
        reps = reps, seed = 23)
      .collect().map(row => row.getLong(0) ->
        ((row.getLong(1), row.getLong(2), row.getLong(3)))).toMap
    assert(got.size == reps)
    // sequential replay: same md5 draw, same CDF table, brute pairwise
    def w(id: Long, rep: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"23|$id|$rep".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      val u = java.lang.Long.parseLong(hex, 16) % 1000000L
      QualityModel.poissonCdfMicro.count(_ <= u).toLong
    }
    for (rep <- 1 to reps) {
      val ws = rows.map { case (id, s, y) => (s, y.toLong, w(id, rep)) }
      val wp = ws.filter(_._2 == 1L).map(_._3).sum
      val wn = ws.filter(_._2 == 0L).map(_._3).sum
      val conc = (for ((sp, yp, wpp) <- ws if yp == 1L;
        (sn, yn, wnn) <- ws if yn == 0L && sp > sn) yield wpp * wnn).sum
      val tied = (for ((sp, yp, wpp) <- ws if yp == 1L;
        (sn, yn, wnn) <- ws if yn == 0L && sp == sn) yield wpp * wnn).sum
      val expected = if (wp == 0 || wn == 0) 0L
        else (1000000L * conc + 500000L * tied) / (wp * wn)
      assert(got(rep.toLong) === ((wp, wn, expected)), s"rep $rep")
    }
    // the CI summary picks the rank-k replicates around the point AUC
    val ci = QualityModel.aucBootstrapCi(scored, "score", "label",
      reps = reps, alphaMicro = 500000L, seed = 23).collect()(0)
    val aucs = (1 to reps).map(rep => got(rep.toLong)._3).sorted
    // kLo = ceil(8·0.5/2) = 2, kHi = 7
    assert(ci.getLong(0) == reps.toLong)
    assert(ci.getLong(2) == aucs(1) && ci.getLong(3) == aucs(6), ci.toString)
    val point = QualityModel.aucExact(scored, "score", "label")
      .collect()(0).getAs[Long]("auc_micro")
    assert(ci.getLong(1) == point)
  }

  test("brier decomposition: exact replay, identity within floor drift") {
    import spark.implicits._
    val r = new scala.util.Random(47)
    val good = (1 to 8).map(i => s"good$i")
    val bad = (1 to 8).map(i => s"bad$i")
    def doc(v: Seq[String]) =
      (1 to 9).map(_ => v(r.nextInt(v.size))).mkString(" ")
    val rows = (1 to 30).map(i => (i.toLong, doc(good), 1)) ++
      (31 to 60).map(i => (i.toLong, doc(bad), 0))
    val docs = rows.toDF("doc_id", "text", "label")
    val got = QualityModel.brierDecomposition(docs, dim = 32, iters = 3,
      lrNum = 1L, lrDen = 8L).collect()(0)
    // independent sequential replay from final-epoch scores
    val ys = rows.map(t => t._1 -> t._3.toLong).toMap
    val fin = QualityModel.logisticEpochScoresMicro(docs, dim = 32,
        iters = 3, lrNum = 1L, lrDen = 8L)
      .filter(col("epoch") === 3L)
      .collect().map(row => (row.getLong(0), row.getLong(3)))
    val n = fin.length.toLong
    val o = fin.count { case (id, _) => ys(id) == 1L }.toLong
    val obase = 1000000L * o / n
    val bins = fin.groupBy { case (_, p) => p / 100000L }.values.toSeq
    def sq(x: BigInt) = x * x
    val brier = fin.map { case (id, p) =>
      sq(BigInt(p - 1000000L * ys(id))) }.sum / (BigInt(n) * 1000000)
    val rel = bins.map { es =>
      val nk = es.length.toLong
      val pbar = es.map(_._2).sum / nk
      val obar = 1000000L * es.count(e => ys(e._1) == 1L) / nk
      BigInt(nk) * sq(BigInt(pbar - obar))
    }.sum / (BigInt(n) * 1000000)
    val res = bins.map { es =>
      val nk = es.length.toLong
      val obar = 1000000L * es.count(e => ys(e._1) == 1L) / nk
      BigInt(nk) * sq(BigInt(obar - obase))
    }.sum / (BigInt(n) * 1000000)
    val unc = obase * (1000000L - obase) / 1000000L
    assert(got.getLong(0) == n)
    assert(got.getLong(1) == brier.toLong, s"brier ${got.getLong(1)}")
    assert(got.getLong(2) == rel.toLong, s"rel ${got.getLong(2)}")
    assert(got.getLong(3) == res.toLong, s"res ${got.getLong(3)}")
    assert(got.getLong(4) == unc, s"unc ${got.getLong(4)}")
    // Murphy identity up to the within-bin forecast variance of the
    // equal-width binning (bounded by binWidth²/12 ≈ 833 micro at the
    // 10⁵ default) plus floor drift
    val lhs = got.getLong(1)
    val rhs = got.getLong(2) - got.getLong(3) + got.getLong(4)
    assert(math.abs(lhs - rhs) <= 1000L, s"identity gap ${lhs - rhs}")
    // all terms in range
    assert(got.getLong(2) >= 0 && got.getLong(3) >= 0 &&
      got.getLong(4) >= 0 && got.getLong(4) <= 250000L)
  }

  test("rho-loss: exact two-model replay; flipped-label docs score low rho") {
    import spark.implicits._
    val r = new scala.util.Random(47)
    val good = (1 to 8).map(i => s"good$i")
    val bad = (1 to 8).map(i => s"bad$i")
    def doc(v: Seq[String]) =
      (1 to 9).map(_ => v(r.nextInt(v.size))).mkString(" ")
    // clean separable corpus + 6 flipped-label train docs (ids chosen
    // not divisible by 4 -> all in the train split)
    val flipped = Seq(101L, 102L, 103L, 105L, 106L, 107L)
    val rows = (1 to 40).map(i => (i.toLong, doc(good), 1)) ++
      (41 to 80).map(i => (i.toLong, doc(bad), 0)) ++
      flipped.map(i => (i, doc(good), 0))
    val docs = rows.toDF("doc_id", "text", "label")
    val got = QualityModel.rhoLossScores(docs, calMod = 4, dim = 32,
        iters = 4, lrNum = 1L, lrDen = 8L)
      .collect().map(row => row.getLong(0) ->
        ((row.getLong(1), row.getLong(2), row.getLong(3),
          row.getBoolean(4)))).toMap
    // train split only
    assert(got.keySet == rows.map(_._1).filter(_ % 4 != 0).toSet)
    got.foreach { case (id, (l, irr, rho, sel)) =>
      assert(rho == l - irr && sel == (rho > 0), s"doc $id")
    }
    // independent replay: losses under each model's final weights
    val hold = docs.filter(col("doc_id") % 4 === 0)
    val train = docs.filter(col("doc_id") % 4 =!= 0)
    val wA = QualityModel.logisticTrajectoryMicro(hold, 32, 4, 1L, 8L).last
    val wB = QualityModel.logisticTrajectoryMicro(train, 32, 4, 1L, 8L).last
    val feats = QualityModel.hashedFeatures(train, 32).collect()
      .map(row => (row.getLong(0), row.getLong(1).toInt, row.getLong(2)))
    val ys = rows.map(t => t._1 -> t._3.toLong).toMap
    val l6 = graft.functions.ExactMicroOps.log2Micro(1000000L)
    def loss(id: Long, w: (Array[Long], Long)) = {
      val m = w._2 + feats.collect { case (i, k, n) if i == id => n * w._1(k) }.sum
      val p = graft.functions.ExactMicroOps.sigmoidMicro(m)
      val pt = if (ys(id) == 1L) p else 1000000L - p
      l6 - graft.functions.ExactMicroOps.log2Micro(math.max(pt, 1L))
    }
    got.foreach { case (id, (l, irr, _, _)) =>
      assert(l == loss(id, wB) && irr == loss(id, wA), s"doc $id")
    }
    // flipped docs: the holdout model (clean labels only in effect)
    // assigns them HUGE irreducible loss -> rho collapses below the
    // median clean-train-doc rho (the paper's noise rejection)
    val cleanRho = got.collect { case (id, v) if id <= 80 => v._3 }.toSeq.sorted
    val flipRho = flipped.map(i => got(i)._3)
    assert(flipRho.max < cleanRho(cleanRho.size / 2),
      s"flipped rho ${flipRho.max} not below clean median")
  }

  test("cartography: clean examples easy, flipped labels hard, exact stats") {
    import spark.implicits._
    val r = new scala.util.Random(13)
    val good = (1 to 10).map(i => s"good$i")
    val bad = (1 to 10).map(i => s"bad$i")
    def doc(v: Seq[String]) =
      (1 to 10).map(_ => v(r.nextInt(v.size))).mkString(" ")
    // 5 deliberately flipped labels planted at ids 101..105
    val rows = (1 to 40).map(i => (i.toLong, doc(good), 1)) ++
      (41 to 80).map(i => (i.toLong, doc(bad), 0)) ++
      (101 to 105).map(i => (i.toLong, doc(good), 0))
    val docs = rows.toDF("doc_id", "text", "label")
    val iters = 4
    val carto = QualityModel.cartographyMicro(docs, dim = 64, iters = iters,
      lrNum = 1L, lrDen = 4L)
      .collect().map(row => row.getLong(0) ->
        ((row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4),
          row.getString(5)))).toMap
    assert(carto.size == 85)
    // flipped docs: the model sees 40 consistent good-vocab positives, so
    // the 5 mislabeled ones end with LOW true-label confidence
    val cleanConf = (1 to 40).map(i => carto(i.toLong)._2)
    val flipConf = (101 to 105).map(i => carto(i.toLong)._2)
    assert(flipConf.max < cleanConf.min,
      s"flipped not separated: ${flipConf.max} vs ${cleanConf.min}")
    assert((101 to 105).forall(i => carto(i.toLong)._5 != "easy"))
    // exact stats: recompute conf/variability from the epoch relation
    // with an independent isqrt (BigInteger.sqrt)
    val ep = QualityModel.logisticEpochScoresMicro(docs, dim = 64,
      iters = iters, lrNum = 1L, lrDen = 4L)
      .collect().map(row => (row.getLong(0), row.getLong(4), row.getBoolean(5)))
    val byDoc = ep.groupBy(_._1)
    byDoc.foreach { case (id, es) =>
      val t = es.length.toLong
      val sp = es.map(_._2).sum
      val sq = es.map(e => e._2 * e._2).sum
      val v2 = java.math.BigInteger.valueOf(t * sq - sp * sp).sqrt().longValueExact()
      val (ne, conf, vr, ce, _) = carto(id)
      assert(ne == t && conf == sp / t && vr == v2 / t &&
        ce == es.count(_._3).toLong, s"doc $id stats mismatch")
    }
  }

  test("passAtK: binomial cross-check, identities, k>n skipped, envelope guard") {
    import spark.implicits._
    // tasks: (n, c) = A(6,2) B(4,0) C(3,3) D(8,5) E(2,1)
    val rows = Seq(("A", 6, 2), ("B", 4, 0), ("C", 3, 3), ("D", 8, 5),
      ("E", 2, 1)).flatMap { case (t, n, c) =>
      (1 to n).map(i => (t, i <= c)) }
    val df = rows.toDF("task_id", "success")
    val got = QualityModel.passAtK(df, ks = Seq(1, 3, 5))
      .collect().map(r => (r.getString(0), r.getLong(3)) ->
        (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
    // k > n rows not emitted: E has n=2 -> only k=1; C n=3 -> k=1,3
    assert(!got.contains(("E", 3L)) && !got.contains(("E", 5L)))
    assert(!got.contains(("C", 5L)) && got.size == 11, got.keys.toString)
    // exact binomial replay: pass@k = 1 - C(n-c,k)/C(n,k), floored micro
    def binom(n: Long, k: Long): BigInt =
      if (k > n) BigInt(0)
      else (0L until k).map(i => BigInt(n - i)).product /
        (1L to k).map(BigInt(_)).product
    for (((t, k), (n, c, p)) <- got) {
      val want = (BigInt(1000000) -
        BigInt(1000000) * binom(n - c, k) / binom(n, k)).toLong
      assert(p == want, s"($t, $k): $p vs $want")
    }
    // identities: pass@1 = 1 - floor((n-c)/n) in micro; c=0 -> 0;
    // n-c < k -> exactly 1
    assert(got(("A", 1L))._3 == 1000000L - 1000000L * 4 / 6)
    assert(got(("B", 1L))._3 == 0L && got(("B", 3L))._3 == 0L)
    assert(got(("C", 1L))._3 == 1000000L)
    assert(got(("D", 5L))._3 == 1000000L, "n-c=3 < k=5 must be certain")
    // the exact form draws WITHOUT replacement, so pointwise it sits
    // above the naive 1-(1-c/n)^k plug-in (which resamples failures)
    val naive = 1000000L - math.round(math.pow(1.0 - 5.0 / 8.0, 3) * 1e6)
    assert(got(("D", 3L))._3 >= naive)
    // envelope guard raises loudly
    val big = (1 to 20).map(i => ("Z", i % 2 == 0)).toDF("task_id", "success")
    val e = intercept[Exception] {
      QualityModel.passAtK(big, ks = Seq(1), maxAttempts = 10L).collect()
    }
    assert(e.getMessage.contains("passAtK"))
  }

  test("temperatureScale: exact replay, T=1 is identity, cooling fixes overconfidence") {
    import spark.implicits._
    import graft.functions.ExactMicroOps
    // a deliberately OVERCONFIDENT model: huge margins, 3 of 12 wrong
    // -> NLL minimized at some T > 1 (softening), never at T <= 1
    val rows = (1 to 9).map(i => (i.toLong, 1, 8000000L, true)) ++
      (10 to 12).map(i => (i.toLong, 1, -9000000L, false))
    val ep = rows.toDF("doc_id", "epoch", "margin", "correct")
    val grid = (-8 to 8).map(k => ExactMicroOps.exp2Micro(k * 500000L))
    val got = QualityModel.temperatureScaleFromEpochs(ep, iters = 1, grid)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).sortBy(_._1)
    assert(got.length == grid.size && got.count(_._4) == 1)
    assert(got.forall(_._2 == 12L))
    val best = got.find(_._4).get
    assert(best._1 > 1000000L, s"overconfident model must cool: $best")
    // sequential replay of the exact chain at every grid point
    val lgU = ExactMicroOps.log2Micro(1000000L)
    def sdiv(a: Long, d: Long): Long = if (a >= 0) a / d else -((-a) / d)
    for ((t, _, nll, _) <- got) {
      val want = rows.map { case (_, _, m, correct) =>
        val y = if ((m > 0L) == correct) 1L else 0L
        val p = ExactMicroOps.sigmoidMicro(sdiv(m * 1000000L, t))
        val pt = math.max(if (y == 1L) p else 1000000L - p, 1L)
        lgU - ExactMicroOps.log2Micro(pt)
      }.sum
      assert(nll == want, s"T=$t")
    }
    // a well-calibrated hand model keeps T = 1 as the argmin: margins
    // whose sigmoid matches the empirical accuracy (m=0 -> p=1/2, half
    // wrong). All temperatures tie (p=1/2 under any T); tie -> smallest
    val flat = ((1 to 2).map(i => (i.toLong, 1, 0L, true)) ++
      (3 to 4).map(i => (i.toLong, 1, 0L, false))).toDF(
      "doc_id", "epoch", "margin", "correct")
    val g2 = QualityModel.temperatureScaleFromEpochs(flat, 1, grid)
      .collect().map(r => (r.getLong(0), r.getBoolean(3)))
    assert(g2.find(_._2).get._1 == grid.min)
    // partition invariance
    val again = QualityModel.temperatureScaleFromEpochs(
      ep.repartition(5), iters = 1, grid)
      .collect().map(_.toSeq).toSet
    assert(again == got.map(t => Seq(t._1, t._2, t._3, t._4)).toSet)
  }
}
