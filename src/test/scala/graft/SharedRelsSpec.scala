package graft

import org.apache.spark.sql.DataFrame

/** The [[graft.queries.SharedRels]] fixture NON-REBUILD invariant
  * (VERDICT r14 item 6): a fixture is built exactly once per
  * (session, sf-dir), stays consumable across consumers, and SURVIVES
  * the bench's between-query persisted-block sweep — including the
  * ContextCleaner pitfall where a build's INTERNAL checkpoint blocks
  * (legitimately reclaimed once the final frame exists) must not count
  * toward the validity check, or every few consumers silently retrain
  * (the r14 bimodal-samples bug class). Asserted on
  * [[graft.queries.SharedRels.buildCount]], not inferred from timing.
  */
class SharedRelsSpec extends SparkSpec {
  import graft.queries.SharedRels

  val dir = "/root/testdata/sf0.001"

  private def consume(df: DataFrame): Long = df.count()

  test("relation fixtures build once, survive the bench sweep, and never silently rebuild") {
    SharedRels.clear(spark)
    val before = SharedRels.buildCount
    // gdEpochScores is the fixture whose BUILD creates internal
    // checkpoints (feature/label frames) — the pitfall's trigger
    val ep1 = SharedRels.gdEpochScores(spark, dir, iters = 3, lrDen = 16L)
    val n1 = consume(ep1)
    assert(SharedRels.buildCount == before + 1, "first consumer builds")
    // second consumer: cached frame, no rebuild
    val ep2 = SharedRels.gdEpochScores(spark, dir, iters = 3, lrDen = 16L)
    assert(ep2 eq ep1, "second consumer must get the cached frame")
    assert(consume(ep2) == n1)
    assert(SharedRels.buildCount == before + 1, "second consumer must not rebuild")
    // the bench sweep reclaims everything BUT fixture blocks — exactly
    // what the ContextCleaner does to the build's internal checkpoints
    SharedRels.sweep(spark)
    val ep3 = SharedRels.gdEpochScores(spark, dir, iters = 3, lrDen = 16L)
    assert(ep3 eq ep1, "post-sweep consumer must still get the cached frame")
    assert(consume(ep3) == n1, "cached frame must stay readable post-sweep")
    assert(SharedRels.buildCount == before + 1,
      "the sweep must not invalidate the fixture (internal build blocks " +
        "are not part of its validity set)")
    // a REAL invalidation (someone unpersists the fixture's own blocks)
    // is detected and rebuilt — loud liveness, not silent reuse of a
    // truncated-lineage frame
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val ep4 = SharedRels.gdEpochScores(spark, dir, iters = 3, lrDen = 16L)
    assert(consume(ep4) == n1)
    assert(SharedRels.buildCount == before + 2,
      "dropping the fixture's own blocks must trigger a rebuild")
    SharedRels.clear(spark)
  }

  test("multi-frame and driver-value fixtures share one build across consumers") {
    SharedRels.clear(spark)
    val before = SharedRels.buildCount
    val (c3a, _, _) = SharedRels.trigramLm500(spark, dir)
    consume(c3a)
    val (c3b, c23b, c1b) = SharedRels.trigramLm500(spark, dir)
    assert(c3b eq c3a)
    assert(SharedRels.buildCount == before + 1)
    SharedRels.sweep(spark)
    val (c3c, _, _) = SharedRels.trigramLm500(spark, dir)
    assert(c3c eq c3a, "post-sweep the cached triple survives")
    assert(consume(c3c) > 0 && consume(c23b) > 0 && consume(c1b) > 0)
    assert(SharedRels.buildCount == before + 1)
    // driver values: same array instance back (no retraining)
    val m1 = SharedRels.bpeMerges500x8(spark, dir)
    val m2 = SharedRels.bpeMerges500x8(spark, dir)
    assert(m1 eq m2, "driver-value fixture must not retrain")
    assert(m1.nonEmpty)
    SharedRels.clear(spark)
  }

  test("panel trajectory trains once; by-name sides untouched on the hit") {
    import org.apache.spark.sql.functions.col
    SharedRels.clear(spark)
    val docs = SharedRels.labeledDocs(spark, dir)
    val f = graft.ops.QualityModel.hashedFeatures(docs, 64)
    val l = docs.select(col("doc_id").as("id"),
      col("label").cast("long").as("y"))
    val t1 = SharedRels.panelGdTrajectory3x16(spark, dir, f, l)
    assert(t1.length == 3 && t1.head._1.length == 64)
    // second consumer: same instance, and the by-name frames must NOT
    // be evaluated (a frame that throws on use proves it)
    def boom = sys.error("fixture hit must not touch the sides")
    val t2 = SharedRels.panelGdTrajectory3x16(spark, dir, { boom }, { boom })
    assert(t2 eq t1, "trajectory fixture must not retrain")
    SharedRels.clear(spark)
  }
}
