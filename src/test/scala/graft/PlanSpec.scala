package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions.col
import graft.SparkSpec

/** Physical-plan contracts — the shapes that keep these queries viable at
  * 100 TB. A green correctness run with the wrong plan (cartesian product,
  * unpushed filter, full sort for a top-k) is a latent scale bug; these
  * specs pin the plan, not just the output.
  */
class PlanSpec extends SparkSpec {

  val dir = "/root/testdata/sf0.001"

  def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("filters reach the parquet scan (PushedFilters)") {
    val p = queries.Relational.q1PricingSummary(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"shipdate filter not pushed:\n$p")
  }

  test("column pruning: q1 reads only the 5 needed lineitem columns") {
    val p = plan(queries.Relational.q1PricingSummary(spark, dir))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_partkey"),
      s"scan reads unneeded columns: $readSchema")
  }

  test("dimension joins broadcast (q5: no shuffle of the fact side for dims)") {
    val p = plan(queries.Relational.q5LocalSupplier(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("top-k is TakeOrderedAndProject, not a global sort (q3)") {
    val p = plan(queries.Relational.q3ShippingPriority(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("geo enrichment is a range-index lookup: no join, no broadcast exchange") {
    val qe = queries.ParityQueries.j1GeoRangeJoin(spark, dir).queryExecution
    assert(qe.optimizedPlan.find(_.isInstanceOf[Join]).isEmpty, qe.optimizedPlan)
    val p = qe.executedPlan.toString
    assert(!p.contains("BroadcastExchange"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("report aggregate is hash-based, not sort-based") {
    val p = plan(queries.ParityQueries.a1ReportCounters(spark, dir))
    assert(p.contains("HashAggregate"), p)
    // level-1 count aggregate must not fall back to SortAggregate
    assert(!p.linesIterator.exists(l =>
      l.contains("SortAggregate") && l.contains("count(1)")), p)
  }

  test("parse pipeline is a single narrow stage (no exchange before sink)") {
    import org.apache.spark.sql.functions._
    val conf = config.GraftConfig.load(fixture("config.yml"))
    val lines = spark.read.text(fixture("auth.log"))
    val p = plan(parse.LogParser.pipeline(lines, conf.sensors.head, "n"))
    assert(!p.contains("Exchange"), s"parse pipeline should not shuffle:\n$p")
  }

  test("as-of join costs exactly one exchange (sort-merge shape)") {
    val p = plan(queries.ParityQueries.asofPurchaseClick(spark, dir))
    val exchanges = p.linesIterator.count(_.trim.startsWith("+- Exchange")) +
      p.linesIterator.count(_.trim.startsWith(":- Exchange"))
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("minhash-lsh candidate join is a shuffle hash/sort-merge equi-join") {
    val docs = T.t(spark, dir, "documents")
    val p = plan(ops.Dedup.lshCandidates(ops.Dedup.minhashSignatures(docs)))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("prefix-filter join: candidate + verification joins are equi-joins") {
    val docs = T.t(spark, dir, "documents")
    val p = plan(ops.Dedup.prefixFilterJaccardPairs(docs, num = 9, den = 10))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("cross-corpus decontamination join is an equi-join, never cartesian") {
    val docs = T.t(spark, dir, "documents")
    val p = plan(ops.Dedup.crossCorpusPairs(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1), threshold = 0.5))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("span dedup: span text shuffles by hash key; no cartesian anywhere") {
    val docs = T.t(spark, dir, "documents")
    val p = plan(ops.Dedup.dropDuplicateSpans(docs, spanWords = 20))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("token-budget sampling plans with no cartesian; budgets broadcast") {
    import spark.implicits._
    val docs = (1L to 100L).map(i => (i, s"s${i % 3}", 10)).toDF("doc_id", "source", "n_tokens")
    val p = plan(ops.Curation.sampleTokenBudget(docs, Map("s0" -> 100L, "s1" -> 50L)))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), s"budget dim must broadcast:\n$p")
  }

  test("pageRank iterations are equi-joins over the checkpointed edges") {
    import spark.implicits._
    val edges = (1L to 20L).map(i => (i, i % 7)).toDF("src", "dst")
    val p = plan(ops.Components.pageRank(edges, iters = 2))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("quality scoring: hash aggregations + one id back-join; weights stay a literal") {
    val docs = T.t(spark, dir, "documents")
    val p = plan(ops.QualityModel.scoreLogistic(docs, Array.fill(64)(0.1), 0.0))
    // the weight array must ride as a literal (a weights-table formulation
    // would join per feature row); the only join is the empty-doc back-join
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"literal weights must not become a non-equi join:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("global sampling is TakeOrderedAndProject, never a full sort") {
    val docs = T.t(spark, dir, "documents")
    val p = plan(ops.Curation.sampleGlobal(docs, 100, "doc_id"))
    assert(p.contains("TakeOrderedAndProject"),
      s"expected per-task heap top-n:\n$p")
  }

  test("weighted sampling is TakeOrderedAndProject, never a full sort") {
    val docs = T.t(spark, dir, "documents")
    val p = plan(ops.Curation.sampleWeighted(docs, 100, "n_chars", "doc_id"))
    assert(p.contains("TakeOrderedAndProject"),
      s"expected per-task heap top-n:\n$p")
  }

  test("no registry query plans an unpartitioned (global) window") {
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    // A Window with an empty partitionSpec funnels the whole relation into
    // one task — the scale bug class that mine_contrastive_pairs' panel
    // indexing used to carry. Scan every registry query's physical plan so
    // the next one cannot land silently.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val p = fn(spark, dir).queryExecution.sparkPlan
        p.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => name
          case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => name
        }.headOption
    }
    assert(offenders.isEmpty,
      s"global (unpartitioned) Window planned by: ${offenders.distinct.mkString(", ")}")
  }

  test("linkage EM/log-odds scoring: broadcast posterior join, literal weights") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val cands = (1L to 200L).map(i =>
        (i, i + 1000L, i % 2 == 0, i % 3 == 0, i % 7 == 0))
      .toDF("key_a", "key_b", "a1", "a2", "is_match")
    // EM: the per-pattern posterior relation is <= 2^F rows and must
    // join back broadcast — the candidates are never shuffled by scoring
    val pEm = graft.ops.Linkage.fellegiSunterEm(cands, Seq("a1", "a2"))
      .queryExecution.executedPlan.toString
    assert(pEm.contains("BroadcastHashJoin"),
      s"posterior join must broadcast the pattern relation:\n$pEm")
    assert(!pEm.contains("CartesianProduct") && !pEm.contains("SortMergeJoin"),
      s"EM scoring must not shuffle the candidates:\n$pEm")
    // log-odds: weights ride the plan as literals — scoring is map-only
    // (no join, no exchange above the candidate scan)
    val lo = graft.ops.Linkage.fellegiSunterLogOdds(cands, Seq("a1", "a2"),
      "is_match")
    val pLo = lo.queryExecution.executedPlan.toString
    assert(!pLo.contains("Join") && !pLo.contains("Exchange"),
      s"log-odds scoring must be a map-only pass:\n$pLo")
  }

  test("ivf: probe join broadcasts the query side; no cartesian product") {
    val e = T.t(spark, "/root/testdata/sf0.001", "embeddings")
    val plan = graft.ops.Similarity.ivfTopK(e.filter(col("vec_id") < 5), e, k = 3,
      centroidEvery = 100).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast probe join:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"), plan)
  }

  test("ivf shuffled path: cell join is a shuffle join, query side NOT broadcast") {
    val e = T.t(spark, "/root/testdata/sf0.001", "embeddings")
    val cents = graft.ops.Similarity.quantizeMicro(
      graft.ops.Similarity.ivfCentroids(e, 100))
    val plan = graft.ops.Similarity.ivfTopKShuffledMicro(e, e, cents, k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"corpus×corpus probe join must rendezvous shuffled on the cell key:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"corpus-sized query side must not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"), plan)
  }

  test("knn graph: bucket equi-join, never cartesian; window is node-partitioned") {
    val e = T.t(spark, "/root/testdata/sf0.001", "embeddings")
    val df = graft.ops.Similarity.knnGraph(e, k = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"kNN graph must join on the sign bucket, not cross:\n$plan")
    import org.apache.spark.sql.execution.window.WindowExec
    val globals = df.queryExecution.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globals.isEmpty, "per-node top-k window must be partitioned")
  }

  test("multi-query bm25: query catalog broadcasts; tf gated below its exchange") {
    import spark.implicits._
    val docs = T.t(spark, "/root/testdata/sf0.001", "documents")
    val qs = Seq((1, Seq("spark", "join")), (2, Seq("stream"))).toDF("query_id", "terms")
    val plan = graft.ops.TextAnalysis.bm25MultiQuery(docs, qs, k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"query catalog / df relations must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    // the ONE allowed nested-loop is the broadcast cross with the
    // one-row (L, N) stats relation — same pattern as single-query bm25
    assert("(?<!Broadcast)NestedLoop".r.findFirstIn(plan).isEmpty,
      s"non-broadcast nested loop:\n$plan")
  }

  test("hybrid dense leg: query features broadcast; bucket equi-join, no cartesian") {
    import spark.implicits._
    val docs = T.t(spark, "/root/testdata/sf0.001", "documents")
    val qs = Seq((1, "spark join window"), (2, "stream table")).toDF("query_id", "qtext")
    val df = graft.ops.TextAnalysis.hashCosineTopK(docs, qs, k = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"query features/norms must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    assert("(?<!Broadcast)NestedLoop".r.findFirstIn(plan).isEmpty,
      s"non-broadcast nested loop:\n$plan")
    import org.apache.spark.sql.execution.window.WindowExec
    val globals = df.queryExecution.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globals.isEmpty, "per-query top-k window must be partitioned")
  }

  test("cms probing broadcasts the fixed-size counter relation; top-k is a heap") {
    val ev = T.events(spark, "/root/testdata/sf0.001")
    val plan = graft.ops.Sketches.cmsHeavyHitters(ev, "user_id", 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"counter relation must broadcast (it is sketch-sized by construction):\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be per-task heaps, not a global sort:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"), plan)
  }

  test("histogram quantiles: one aggregation over the bin relation, no cartesian") {
    val ev = T.events(spark, "/root/testdata/sf0.001")
    val plan = graft.ops.Sketches.histQuantiles(ev, Seq("event_type"), "value")
      .queryExecution.executedPlan.toString
    // the cumulative window is group-partitioned (the fleet-wide
    // no-global-window test also covers the registry query); here pin
    // the absence of joins entirely — the sketch is join-free
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"), plan)
    assert(!plan.contains("Join"), s"histogram quantiles must be join-free:\n$plan")
  }

  test("regex tokenizer evaluates the parser pattern exactly once per row") {
    val q = graft.queries.ParityQueries.takuanSshPipeline(spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    assert("regex_groups".r.findAllIn(plan).length == 1,
      s"regex_groups must appear once (optimizer fence):\n$plan")
  }

  test("salted join spreads the key space: join keys include the salt") {
    import spark.implicits._
    val big = (1L to 100L).map(i => ("k", i)).toDF("k", "v")
    val dim = Seq(("k", 1)).toDF("k", "d")
    val plan = graft.ops.Salted.saltedJoin(big, dim, Seq("k"), col("v"), 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), s"salt must be a join key:\n$plan")
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    val confs = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // local files are far below the 10 GB default application threshold
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // bloom needs a shuffle join
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val dir = "/root/testdata/sf0.001"
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val part = spark.read.parquet(s"$dir/part.parquet")
        .filter(col("p_brand") === "Brand#3")
      val j = li.join(part, col("l_partkey") === col("p_partkey"))
      val plan = j.queryExecution.executedPlan.toString
      // the filtered dim side builds a bloom filter that is pushed into the
      // fact scan as a might_contain runtime filter — rows for other brands
      // never leave the scan, let alone reach the shuffle
      assert(plan.contains("might_contain"),
        s"expected an injected runtime bloom filter:\n$plan")
      assert(j.count() > 0)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bloom gate filters corpus grams BELOW the exchange (map-side reduction)") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val docs = T.t(spark, dir, "documents")
    val df = ops.Dedup.crossCorpusContainmentBloom(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1), threshold = 0.6)
    val p = df.queryExecution.sparkPlan
    val gates = p.collect {
      case f: FilterExec if f.condition.toString.contains("bloom_might_contain") => f
    }
    assert(gates.nonEmpty, s"bloom gate missing from the plan:\n$p")
    // the reduction only pays off if the gate runs before the corpus gram
    // relation is shuffled: no exchange may exist beneath the gate filter
    assert(gates.forall(g => g.collect { case e: Exchange => e }.isEmpty),
      s"bloom gate sits above an exchange (post-shuffle — no reduction):\n$p")
  }

  test("ledger decon probe scans ONLY the ledger — no train provenance in the plan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-wledplan").toString
    val train = Seq((100L, "shared boilerplate sentence occurring in train " * 2))
      .toDF("doc_id", "text")
    train.write.parquet(s"$tmp/train")
    ops.Dedup.appendSubstringLedger(
      spark.read.parquet(s"$tmp/train"), s"$tmp/ledger", minLen = 20)
    val evalDocs = Seq((1L, "shared boilerplate sentence occurring in train"))
      .toDF("doc_id", "text")
    evalDocs.write.parquet(s"$tmp/eval")
    val probe = ops.Dedup.exactSubstringContaminationLedger(
      spark.read.parquet(s"$tmp/eval"),
      spark.read.parquet(s"$tmp/ledger"), minLen = 20)
    // the production contract: a benchmark decon is eval + ledger reads,
    // never a 100 TB train scan — pin the plan's file provenance
    // sparkPlan, not executedPlan: AQE wraps the latter and hides the
    // scans from collect (the bloom-gate pin's convention)
    val scanned = probe.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(scanned.nonEmpty)
    assert(scanned.forall(p => p.contains("/ledger") || p.contains("/eval")),
      s"probe plan reads outside eval+ledger: $scanned")
    assert(!scanned.exists(_.contains("/train")),
      s"probe plan scans the train corpus: $scanned")
    assert(probe.collect().head.getAs[Long]("covered_chars") > 0L,
      "the probe must still find the planted contamination")
  }

  test("hive-partitioned scans prune partitions (PartitionFilters, not data filters)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    (1L to 100L).map(i => (i, s"s${i % 4}", i % 10))
      .toDF("id", "sensor", "bucket")
      .write.partitionBy("sensor").mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir).filter(col("sensor") === "s1" && col("id") > 50)
    val scan = q.queryExecution.executedPlan.toString
    // the sensor predicate must land in PartitionFilters (directory pruning
    // at 100 TB means never listing, let alone reading, the other sensors),
    // while the id predicate is pushed to the parquet reader
    assert(scan.contains("PartitionFilters: [isnotnull(sensor"),
      s"expected partition pruning on sensor:\n$scan")
    assert(scan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,50)]"),
      s"expected id pushdown:\n$scan")
    assert(q.count() == 12) // ids ≡ 1 (mod 4) in (50, 100]
  }

  test("link prediction: wedge build is an equi-join on the center, no cartesian") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("id_a", "id_b")
    val plan = graft.ops.Components.linkPrediction(e)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"wedges must join on the shared center vertex:\n$plan")
    assert("(?<!Broadcast)NestedLoop".r.findFirstIn(plan).isEmpty,
      s"non-broadcast nested loop in wedge build:\n$plan")
  }

  test("sft turn stats: lag window and aggregate share ONE conv_id shuffle") {
    // The audit window (lag over conv_id) and the per-conversation aggregate
    // are keyed identically — WindowExec's output partitioning must satisfy
    // the HashAggregate so only one hashpartitioning exchange is planned.
    // (T.par's round-robin spread is excluded: count hash exchanges only.)
    val p = plan(graft.ops.Sft.turnStats(
      graft.ops.Sft.conversationView(T.t(spark, dir, "documents"))))
    val hashExchanges =
      "Exchange hashpartitioning\\(conv_id".r.findAllIn(p).size
    assert(hashExchanges == 1,
      s"expected one conv_id shuffle shared by window+agg, got $hashExchanges:\n$p")
  }

  test("sft response dedup: openings group+join as equi-joins, no cartesian") {
    val p = plan(graft.ops.Sft.responseOpeningDedup(
      graft.ops.Sft.conversationView(T.t(spark, dir, "documents"))))
    assert(!p.contains("CartesianProduct"), p)
    assert("(?<!Broadcast)NestedLoop".r.findFirstIn(p).isEmpty,
      s"non-broadcast nested loop in opening dedup:\n$p")
  }

  test("gazetteer spans: dictionary joins broadcast; no cartesian") {
    val p = plan(graft.ops.TextAnalysis.gazetteerSpans(
      T.t(spark, dir, "documents"), Seq("merge", "order fast")))
    assert(p.contains("BroadcastHashJoin"),
      s"dictionary must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("validation report scans the table once (single FileScan)") {
    import graft.ops.Validation._
    val p = plan(report(T.t(spark, dir, "documents"), Seq(
      completeness("text_complete", col("text"), 1000000L),
      uniqueness("doc_id_unique", col("doc_id"), 1000000L),
      rangeCompliance("n_chars_range", col("n_chars"), 1L, 100000L,
        1000000L))))
    // All constraints — including the exact-distinct one — must ride one
    // pass over the parquet: multiple scans would multiply ingestion I/O
    // by the constraint count at 100 TB.
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected one scan, got $scans:\n$p")
  }

  test("blocklist filter: the term list joins broadcast, tokens never shuffle to it") {
    val docs = T.t(spark, dir, "documents")
    val plan = graft.ops.TextAnalysis.blocklistFilter(docs,
        Seq("slow", "big", "hash", "merge"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"term list must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("knn-shapley: eval panel broadcasts; rank/suffix windows partitioned; no cartesian") {
    val df = queries.LlmQueries15.valueKnnShapleyPanel(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      s"panel pairing must be a broadcast cross, not a cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoop") || p.contains("BroadcastExchange"),
      s"the bounded eval panel must broadcast:\n$p")
    import org.apache.spark.sql.execution.window.WindowExec
    val globals = df.queryExecution.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globals.isEmpty, "rank/suffix windows must be test-partitioned")
  }

  test("fellegi-sunter: parameter row broadcasts; blocking is an equi-join") {
    val p = plan(queries.LlmQueries12.linkFellegiSunter(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"candidates must come from the block equi-join:\n$p")
    // the one-row m/u parameter relation rides a broadcast nested loop —
    // the documented bounded-cross pattern (same as bm25's stats row)
    assert("(?<!Broadcast)NestedLoop".r.findFirstIn(p).isEmpty,
      s"non-broadcast nested loop:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
      s"blocking/parameter joins must broadcast the bounded side:\n$p")
  }

  test("textrank: sentence pairing joins on the doc key, never cartesian") {
    val p = plan(queries.LlmQueries12.textTextrank(spark, dir))
    assert(!p.contains("CartesianProduct"), s"per-doc pairing must equi-join:\n$p")
  }

  test("theta set-ops: everything after the register build is sketch-sized") {
    val p = plan(queries.LlmQueries12.sketchThetaSetops(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"group pairing must broadcast the bounded group inventory:\n$p")
  }

  test("exact-GD epochs: margin aggs are hash aggregates; no cartesian") {
    val p = plan(queries.LlmQueries14.curationCartography(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate"),
      s"per-doc margin/stat aggregation must stay hash-based:\n$p")
  }

  test("tracin: eval panel broadcasts everywhere; no cartesian, no raw nested loop") {
    val p = plan(queries.LlmQueries14.valueTracinPanel(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    // the bounded panel rides broadcasts (residual cross + bucket dot);
    // nothing nested-loops without a broadcast side
    assert("(?<!Broadcast)NestedLoop".r.findFirstIn(p).isEmpty,
      s"non-broadcast nested loop:\n$p")
  }

  test("doremi: domain/global stats broadcast; token join is an equi-join") {
    val p = plan(queries.LlmQueries14.mixDoremiWeights(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"the corpus-side word join must be an equi-join:\n$p")
    // one-row totals and domains-sized relations ride broadcasts — the
    // documented bounded-cross pattern
    assert("(?<!Broadcast)NestedLoop".r.findFirstIn(p).isEmpty,
      s"non-broadcast nested loop:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
      s"bounded sides must broadcast:\n$p")
  }

  test("tracin panel: selection is TakeOrderedAndProject, not a global sort") {
    // the fixed-size hash-lowest panel must come from a per-partition
    // top-n (TakeOrderedAndProject), never a corpus-wide Sort+Limit —
    // that is the whole point of the bounded-panel production shape.
    // Pinned on the selection frame itself: inside the query it is
    // consumed by an eager localCheckpoint, so the final executed plan
    // only shows the checkpointed scan.
    val panel = T.par(spark, T.t(spark, dir, "documents"))
      .select(col("doc_id"),
        graft.ops.Dedup.hashStr(col("doc_id").cast("string"), 19).as("__h"))
      .orderBy(col("__h"), col("doc_id")).limit(32)
    assert(plan(panel).contains("TakeOrderedAndProject"),
      s"panel selection should be a top-n operator:\n${plan(panel)}")
    val p = plan(queries.LlmQueries14.valueTracinPanel(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("unimax: corpus touched once by a hash agg; waterfilling is strata-sized") {
    val df = queries.LlmQueries15.mixUnimaxPlan(spark, dir)
    val p = plan(df)
    // the corpus contributes ONE combine-agg; everything after operates
    // on the |strata|-row relation (triangular join + one-row broadcasts)
    assert(p.contains("HashAggregate"), p)
    assert("(?<!Broadcast)NestedLoop".r.findFirstIn(p).isEmpty,
      s"the triangular rank join must have a broadcast side:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("mann-kendall: pair build is a per-key equi-join, never cartesian") {
    val p = plan(queries.LlmQueries15.eventMannKendall(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"the pair self-join must stay keyed on event_type:\n$p")
    assert("(?<!Broadcast)NestedLoop".r.findFirstIn(p).isEmpty,
      s"non-broadcast nested loop:\n$p")
  }

  test("exact-substring dedup: hash rendezvous + per-doc windows, no cartesian") {
    // the operator directly — the registry query reads the
    // SharedRels.exactSubstrSpans30 fixture, whose checkpoint hides
    // the derivation plan this test exists to pin
    val df = graft.ops.Dedup.exactSubstringSpans(
      T.t(spark, dir, "documents"), minLen = 30)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert("(?<!Broadcast)NestedLoop".r.findFirstIn(p).isEmpty,
      s"non-broadcast nested loop:\n$p")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      s"window-hash dup counting must be a hash aggregate:\n$p")
    // the interval merge must never funnel into a global window
    import org.apache.spark.sql.execution.window.WindowExec
    val globals = df.queryExecution.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globals.isEmpty, "interval-merge windows must be doc-partitioned")
  }

  test("substring removal: reassembly stays doc-keyed; no cartesian, no global window") {
    val df = queries.LlmQueries16.dedupSubstringRemoval(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert("(?<!Broadcast)NestedLoop".r.findFirstIn(p).isEmpty,
      s"non-broadcast nested loop:\n$p")
    import org.apache.spark.sql.execution.window.WindowExec
    val globals = df.queryExecution.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globals.isEmpty, "gap windows must be doc-partitioned")
  }

  test("good-turing / burstiness: combine-agg chains; burstiness cut is a heap") {
    val pg = plan(queries.LlmQueries16.textGoodTuring(spark, dir))
    assert(!pg.contains("CartesianProduct"), pg)
    assert(pg.contains("HashAggregate"), pg)
    val pb = plan(queries.LlmQueries16.textBurstiness(spark, dir))
    assert(pb.contains("TakeOrderedAndProject"),
      s"the top-k cut must be a per-partition heap, not a global sort:\n$pb")
    assert(!pb.contains("CartesianProduct"), pb)
  }

  test("dsir: top-k is TakeOrderedAndProject; bucket model broadcasts; no cartesian") {
    val p = plan(queries.LlmQueries16.mixDsirWeights(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"the Gumbel top-k cut must be a per-partition heap, not a sort:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the B-row log-ratio model must broadcast:\n$p")
    assert("(?<!Broadcast)NestedLoop".r.findFirstIn(p).isEmpty,
      s"non-broadcast nested loop:\n$p")
  }

  test("bloom-gated substring decon: train windows filter below the exchange") {
    val df = queries.LlmQueries16.deconExactSubstringBloom(spark, dir)
    // sparkPlan, not executedPlan: collect() does not traverse into the
    // AdaptiveSparkPlan wrapper (the WindowExec pins' convention)
    val exec = df.queryExecution.sparkPlan
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val gates = exec.collect {
      case f: FilterExec
          if f.condition.toString.contains("bloom_might_contain") => f
    }
    assert(gates.nonEmpty,
      s"the driver bloom must gate the train window stream:\n$exec")
    // map-side reduction: no KEYED rendezvous beneath the gate — the
    // filter feeds the train scan's window explode (the query's own
    // T.par round-robin input re-split is allowed; it moves the raw
    // docs for parallelism, not the exploded window stream)
    gates.foreach { g =>
      val keyed = g.collect {
        case e: ShuffleExchangeExec
            if !e.outputPartitioning.toString
              .contains("RoundRobinPartitioning") => e
      }
      assert(keyed.isEmpty,
        s"bloom gate must run before the window rendezvous:\n$g")
    }
    assert(!exec.toString.contains("CartesianProduct"), exec.toString)
  }

  test("dirichlet ql: query catalog broadcasts; tf gated below its exchange; per-query window") {
    val df = queries.LlmQueries16.textDirichletQl(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert("(?<!Broadcast)NestedLoop".r.findFirstIn(p).isEmpty,
      s"non-broadcast nested loop:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"catalog/cf/constants must broadcast:\n$p")
    import org.apache.spark.sql.execution.window.WindowExec
    val globals = df.queryExecution.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globals.isEmpty, "top-k must be query-partitioned")
  }

  test("rm3: feedback relations broadcast; windows partitioned; no cartesian") {
    val df = queries.LlmQueries16.textRm3Expansion(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert("(?<!Broadcast)NestedLoop".r.findFirstIn(p).isEmpty,
      s"non-broadcast nested loop:\n$p")
    import org.apache.spark.sql.execution.window.WindowExec
    val globals = df.queryExecution.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globals.isEmpty, "rm3 windows must be query-partitioned")
  }

  test("rm3 retrieve: second-round scoring keeps the QL exchange shape") {
    val df = queries.LlmQueries16.textRm3Retrieve(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert("(?<!Broadcast)NestedLoop".r.findFirstIn(p).isEmpty,
      s"non-broadcast nested loop:\n$p")
    import org.apache.spark.sql.execution.window.WindowExec
    val globals = df.queryExecution.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globals.isEmpty, "final top-k must be query-partitioned")
  }

  test("dsir eval / sgt fit: bounded relations broadcast; no cartesian") {
    val pe = plan(queries.LlmQueries16.mixDsirEval(spark, dir))
    assert(!pe.contains("CartesianProduct"), pe)
    assert("(?<!Broadcast)NestedLoop".r.findFirstIn(pe).isEmpty,
      s"non-broadcast nested loop:\n$pe")
    // (the two subset cuts run upstream of the checkpointed bucket
    // relation — their TakeOrderedAndProject shape is pinned by the
    // mix_dsir_weights test above)
    val ps = plan(queries.LlmQueries16.textSgtFit(spark, dir))
    assert(!ps.contains("CartesianProduct"), ps)
    assert("(?<!Broadcast)NestedLoop".r.findFirstIn(ps).isEmpty,
      s"non-broadcast nested loop:\n$ps")
    import org.apache.spark.sql.execution.window.WindowExec
    val globals = queries.LlmQueries16.textSgtFit(spark, dir)
      .queryExecution.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
    assert(globals.isEmpty,
      "the Z-transform neighbors must come from the triangular join, not a global window")
  }

  test("datainf: panel relations broadcast; no cartesian beyond them; no global window") {
    val p = plan(queries.LlmQueries14.valueDatainfPanel(spark, dir))
    // the only nested-loop/cross shapes allowed are broadcasts of the
    // 32-doc panel residuals and the 1-row lambda aggregate
    assert(!p.contains("CartesianProduct"), p)
    assert("(?<!Broadcast)NestedLoop".r.findFirstIn(p).isEmpty,
      s"non-broadcast nested loop:\n$p")
    import org.apache.spark.sql.execution.window.WindowExec
    val globals = queries.LlmQueries14.valueDatainfPanel(spark, dir)
      .queryExecution.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
    assert(globals.isEmpty, "no global window in the DataInf chain")
  }

  test("b-bit minhash: candidate pairs broadcast against the perm relation; no cartesian") {
    val p = plan(queries.LlmQueries18.dedupMinhashBbit(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"pairs must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert("(?<!Broadcast)NestedLoop".r.findFirstIn(p).isEmpty,
      s"non-broadcast nested loop:\n$p")
  }

  test("source JSD / missing mass: one corpus combine-agg each; no cartesian") {
    val pj = plan(queries.LlmQueries18.mixSourceJsd(spark, dir))
    assert(!pj.contains("CartesianProduct"), pj)
    assert("(?<!Broadcast)NestedLoop".r.findFirstIn(pj).isEmpty,
      s"non-broadcast nested loop:\n$pj")
    // the corpus-token explode feeds a partial_count before its
    // exchange (map-side combine on the (src, b) key)
    val hashAggs = "HashAggregate".r.findAllIn(pj).length
    assert(hashAggs >= 2, s"expected combine-agg pairs:\n$pj")
    val pm = plan(queries.LlmQueries18.textMissingMass(spark, dir))
    assert(!pm.contains("CartesianProduct"), pm)
  }

  test("temperature scale: one corpus pass over the grid explode; argmin broadcasts") {
    val p = plan(queries.LlmQueries14.qualityTempScale(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"),
      s"the 1-row argmin must broadcast back:\n$p")
    import org.apache.spark.sql.execution.window.WindowExec
    val globals = queries.LlmQueries14.qualityTempScale(spark, dir)
      .queryExecution.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
    assert(globals.isEmpty, "grid argmin must not be a global window")
  }
}
