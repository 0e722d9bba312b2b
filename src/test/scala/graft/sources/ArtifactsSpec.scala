package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.{Similarity, TextAnalysis}

class ArtifactsSpec extends SparkSpec {

  test("centroids round-trip and drive ivfTopKWith identically") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("artifacts").toString
    val emb = (0L until 60L).map(i => (i, Seq.tabulate(4)(j => (i % 5 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.trainIvfCentroids(emb, k = 3, iters = 2)
    Artifacts.saveCentroids(spark, cents, s"$tmp/cents")
    val loaded = Artifacts.loadCentroids(spark, s"$tmp/cents")
    assert(loaded.map(_._1).toSeq == cents.map(_._1).toSeq)
    assert(loaded.zip(cents).forall { case ((_, a), (_, b)) => a.sameElements(b) })
    val q = emb.filter(col("vec_id") < 3)
    val orig = Similarity.ivfTopKWith(q, emb, cents, k = 2).collect().map(_.toSeq).toSet
    val again = Similarity.ivfTopKWith(q, emb, loaded, k = 2).collect().map(_.toSeq).toSet
    assert(orig == again)
  }

  test("logistic weights and BPE merges round-trip exactly") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("artifacts").toString
    val w = Array.tabulate(16)(i => i * 0.125 - 1.0)
    Artifacts.saveLogistic(spark, w, bias = 0.375, s"$tmp/logit")
    val (w2, b2) = Artifacts.loadLogistic(spark, s"$tmp/logit")
    assert(w2.sameElements(w) && b2 == 0.375)

    val docs = (Seq.fill(5)("low") ++ Seq.fill(6)("newest"))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
    val merges = TextAnalysis.trainBpeMerges(docs, k = 3)
    Artifacts.saveBpeMerges(spark, merges, s"$tmp/bpe")
    assert(Artifacts.loadBpeMerges(spark, s"$tmp/bpe") == merges)
    // loaded merges tokenize identically
    val t1 = docs.select(TextAnalysis.bpeTokens(col("text"), merges))
      .collect().map(_.getSeq[String](0))
    val t2 = docs.select(TextAnalysis.bpeTokens(col("text"),
        Artifacts.loadBpeMerges(spark, s"$tmp/bpe")))
      .collect().map(_.getSeq[String](0))
    assert(t1.zip(t2).forall { case (a, b) => a == b })
  }

  test("trigram-LM counts round-trip and serve identically to inline scoring") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("artifacts").toString
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the hat"),
      (3L, "a dog ran over the mat"),
      (4L, "the cat ran over a hat"),
      (5L, "entirely novel words appear here now")).toDF("doc_id", "text")
    val (c3, c23, c1) = TextAnalysis.trainTrigramCounts(docs)
    Artifacts.saveLmCounts(spark, s"$tmp/lm", c3, c23, c1)
    val (l3, l23, l1) = Artifacts.loadLmCounts(spark, s"$tmp/lm")
    // each table is one file whose rows read back in n-gram key order
    for ((name, keys) <- Seq("c3" -> Seq("t", "b12"),
        "c23" -> Seq("b23", "w2"), "c1" -> Seq("w3"))) {
      val files = new java.io.File(s"$tmp/lm/$name").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"$name: ${files.length} files")
      val rows = spark.read.parquet(files.head.getPath)
        .select(keys.map(col): _*).collect()
        .map(r => keys.indices.map(r.getString).mkString("\u0000")).toSeq
      assert(rows.size > 1 && rows == rows.sorted, s"$name not in key order")
    }
    // same-corpus serve through the loaded artifact == the inline scorer
    // (every n-gram is in-vocabulary, so the left joins never null)
    val inline = TextAnalysis.trigramLmScore(docs)
      .collect().map(_.toSeq).toSet
    val served = TextAnalysis.scoreTrigramCounts(docs, l3, l23, l1)
      .collect().map(_.toSeq).toSet
    assert(inline == served, "artifact serve diverged from inline scoring")
    // open vocabulary: a doc the model never saw still scores (Laplace
    // floor), it does not drop out or null
    val unseen = Seq((9L, "completely fresh trigram content today"))
      .toDF("doc_id", "text")
    val row = TextAnalysis.scoreTrigramCounts(unseen, l3, l23, l1)
      .collect().head
    assert(row.getLong(1) == 3L, "unseen doc lost its trigram count")
    assert(row.getLong(2) > 0L, "unseen doc must score the Laplace floor, not 0")
  }

  test("micro centroids round-trip exactly and drive ivfTopKWithMicro identically") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("artifacts").toString
    val emb = (0L until 60L).map(i => (i, Seq.tabulate(4)(j => (i % 5 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.trainIvfCentroidsMicro(emb, k = 3, iters = 2)
    Artifacts.saveCentroidsMicro(spark, cents, s"$tmp/cents")
    val loaded = Artifacts.loadCentroidsMicro(spark, s"$tmp/cents")
    assert(loaded.map(_._1).toSeq == cents.map(_._1).toSeq)
    assert(loaded.zip(cents).forall { case ((_, a), (_, b)) => a.sameElements(b) })
    val q = emb.filter(col("vec_id") < 3)
    val orig = Similarity.ivfTopKWithMicro(q, emb, cents, k = 2).collect().map(_.toSeq).toSet
    val again = Similarity.ivfTopKWithMicro(q, emb, loaded, k = 2).collect().map(_.toSeq).toSet
    assert(orig == again)
  }

  test("artifact_train_serve registry query serves persisted artifacts") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.queries.LlmQueries2.artifactTrainServe(spark, dir)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getInt(1) > 0, s"n_tokens must be positive: $r")
      assert(r.getBoolean(3) == (r.getLong(2) > 0), s"keep must mirror margin: $r")
      assert(r.getLong(4) >= 0 && r.getLong(4) < 8, s"cell out of range: $r")
    }
    // deterministic end-to-end: retrain + repersist + reserve is identical
    val again = graft.queries.LlmQueries2.artifactTrainServe(spark, dir)
      .collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }
}
