package graft

import scala.collection.mutable

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints ONE COMPACT JSON line on stdout.
  *
  * Queries are materialized with a noop-format write — unlike `count()`,
  * this executes the full plan including all aggregate/projection work
  * (count() lets Catalyst prune unused aggregates, under-reporting).
  *
  * Two measurement rules, both learned the hard way across rounds:
  *
  *  - SHARDED SESSIONS. One 222-query SparkSession inflates late-run
  *    queries 3-4x (measured r9: text_fuzzy_pairs 3.94 s in-session vs
  *    1.06 s isolated — block-manager/codegen/GC state accumulated from
  *    200 prior queries, not the query's own plan). The registry runs in
  *    alphabetical shards of SPARK_GRAFT_SHARD (default 40) queries,
  *    each in a FRESH SparkSession over a FRESH SparkContext, so no
  *    query pays for more than ~39 predecessors and per-query medians
  *    stay within noise of isolated re-runs.
  *
  *  - COMPACT STDOUT. The harness keeps only the last ~2000 characters
  *    of stdout; the old ~8 KB per-query metric line truncated mid-JSON
  *    in every round (BENCH_r01..r09 all `parsed: null`). The final
  *    stdout line now carries the total + a ~12-query headline map
  *    (~600 bytes); the full per-query medians AND per-pass samples go
  *    to stderr and to BENCH_DETAIL.json in the working directory.
  *
  * Every [[Sample]] comes from [[timed]]. Dev loop: `SPARK_GRAFT_ONLY=<q>
  * SPARK_GRAFT_PASSES=<n>` times one query n times after its cold run.
  */
object Bench {

  /** The local session every measurement and dump main runs on (Bench,
    * Verify, PlanDump, ScaleProbe): `cpus` local cores and, unless given,
    * as many shuffle partitions. `GraftApp.session` is the service
    * profile and stays separate. */
  def session(cpus: String): SparkSession = session(cpus, cpus)

  def session(cpus: String, shufflePartitions: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      // collect_list aggs (report counters) fall back to sort-based after
      // 128 in-memory keys by default — far too conservative for small
      // per-key buffers; keep them hash-based.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      // Static conf, default 100 entries: even a 40-query shard generates
      // several hundred whole-stage classes; 5000 holds a shard's worth
      // many times over, so warm passes never recompile (verified by the
      // per-pass cumulative compile-count lines on stderr).
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // NOTE: spark.cleaner.periodicGC.interval stays at its 30-minute
      // default ON PURPOSE: a short interval forces full driver GCs
      // DURING timed queries (measured +30 s of roving spikes across a
      // full run). The per-shard scope + synchronous unpersist below
      // drain the ContextCleaner backlog at untimed safe points instead.
      .config("spark.sql.adaptive.enabled", "true")
      // testdata parquet files are single-digit-MB; default 128 MB split
      // size scans each as ONE partition, serializing every query. At real
      // scale the default is correct — this is local-bench parallelization.
      .config("spark.sql.files.maxPartitionBytes", "2097152")
      .config("spark.sql.files.openCostInBytes", "262144")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Unpersisting a localCheckpoint'ed RDD (the between-query cleanup
    // below) logs a WARN per RDD ("lineage has been truncated and cannot
    // be recomputed") — correct but irrelevant here since no query ever
    // re-reads another query's checkpoint. Drop that logger to ERROR.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** One run of a registry query. `layers` splits it by the jobs that
    * started during it, under `perfbench`'s per-layer metric names: jobs,
    * stages, tasks, executor run/cpu/gc ms, shuffle bytes written, spill
    * bytes, and gap_ms, the wall time no job covers (planning, codegen,
    * driver-side work). `jobSeconds` is each job's (id, seconds). */
  final case class Sample(seconds: Double, error: Option[String],
      layers: Seq[(String, Long)], jobSeconds: Seq[(Int, Double)]) {
    def failed: Boolean = error.isDefined
    def apply(layer: String): Long = layers.find(_._1 == layer).get._2
    def line: String = f"$seconds%.3f " +
      layers.map { case (k, v) => s"$k=$v" }.mkString(" ") + " job_s=" +
      jobSeconds.map { case (id, s) => f"$id:$s%.2f" }.mkString(",") +
      error.fold("")(e => s" FAILED: $e")
  }

  /** The listener behind [[timed]], one per SparkContext: each job's
    * interval and the layer sums of every task. Queries run one at a
    * time, so what reaches it between a sample's two bus drains is that
    * sample's, whichever thread submitted the jobs. */
  private final class Meter extends SparkListener {
    private var jobs = Map.empty[Int, (Long, Long)] // id -> (start, end)
    private var sums = Map.empty[String, Double].withDefaultValue(0.0)
    private def add(kvs: (String, Double)*): Unit =
      kvs.foreach { case (k, v) => sums += k -> (sums(k) + v) }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += e.jobId -> (e.time, -1L)
      add("jobs" -> 1, "stages" -> e.stageIds.size)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs += e.jobId -> (j._1, e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      Option(e.taskMetrics).foreach(m => add("tasks" -> 1,
        "run_ms" -> m.executorRunTime, "cpu_ms" -> m.executorCpuTime / 1e6,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
    }
    /** The jobs and layer sums recorded since the last call. */
    def take(): (Map[Int, (Long, Long)], Map[String, Double]) = synchronized {
      val r = (jobs, sums)
      jobs = Map.empty
      sums = Map.empty[String, Double].withDefaultValue(0.0)
      r
    }
  }

  private val meters = new java.util.WeakHashMap[SparkContext, Meter]()

  /** Times one registry query: the only place one is timed (Bench's
    * warmup and passes, ScaleProbe). The noop write runs the full plan;
    * the bus drains, the layer split and `SharedRels.sweep` stay outside
    * the timed interval. A query that throws gives a failed sample. */
  def timed(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
      sfDir: String): Sample = {
    val sc = spark.sparkContext
    val meter = meters.synchronized(meters.computeIfAbsent(sc,
      _ => { val m = new Meter; sc.addSparkListener(m); m }))
    ListenerBusDrain(sc)
    meter.take()
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val error =
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
      catch { case e: Throwable => Some(String.valueOf(e.getMessage)) }
    val seconds = (System.nanoTime() - n0) / 1e9
    val t1 = System.currentTimeMillis()
    ListenerBusDrain(sc)
    val (jobs, sums) = meter.take()
    // the union of the job intervals within [t0, t1], swept by start
    val (covered, _) = jobs.values.toSeq
      .map { case (s, e) => (s max t0, (if (e < 0) t1 else e) min t1) }.sorted
      .foldLeft((0L, t0)) { case ((c, reach), (s, e)) =>
        if (e > reach) (c + e - (s max reach), e) else (c, reach) }
    // the query's localCheckpoint blocks are dead: free them now, not
    // at the next driver GC (SharedRels fixtures stay)
    graft.queries.SharedRels.sweep(spark)
    Sample(seconds, error, Seq("jobs", "stages", "tasks", "run_ms", "cpu_ms",
      "gc_ms", "shuffle_bytes", "spill_bytes").map(k => k -> sums(k).round) :+
      ("gap_ms" -> ((seconds * 1000).toLong - covered).max(0L)),
      jobs.toSeq.sorted.map { case (id, (s, e)) => id -> (e.max(s) - s) / 1e3 })
  }

  /** (query, median, min) over each query's completed samples: a failed
    * run is no time at all, and a query with none leaves the totals. */
  private def stats(samples: Seq[(String, Seq[Sample])]) =
    samples.flatMap { case (k, ss) =>
      val xs = ss.filterNot(_.failed).map(_.seconds).sorted
      xs.headOption.map(min => (k, xs(xs.size / 2), min))
    }

  /** BENCH_DETAIL.json: totals, run settings and per-pass loadavg, then
    * per query its median and min seconds and, aligned with `samples`,
    * one array per layer field and `failed`. */
  def detailJson(samples: Seq[(String, Seq[Sample])], passes: Int,
      shardSize: Int, sfDir: String, loads: Seq[String]): String = {
    val st = stats(samples)
    def secs(k: String, f: ((String, Double, Double)) => Double) =
      st.find(_._1 == k).fold("null")(r => f"${f(r)}%.3f")
    def arr(xs: Seq[Any]) = xs.mkString("[", ",", "]")
    val queries = samples.map { case (k, ss) =>
      "\"" + k + "\":{\"median\":" + secs(k, _._2) + ",\"min\":" + secs(k, _._3) +
        ",\"samples\":" + arr(ss.map(s => f"${s.seconds}%.3f")) +
        ",\"failed\":" + arr(ss.map(_.failed)) +
        ss.headOption.toSeq.flatMap(_.layers).map { case (l, _) =>
          ",\"" + l + "\":" + arr(ss.map(_(l)))
        }.mkString + "}"
    }.mkString("{", ",", "}")
    "{\"total\":" + f"${st.map(_._2).sum}%.3f" +
      ",\"total_min\":" + f"${st.map(_._3).sum}%.3f" +
      ",\"n_queries\":" + st.size + ",\"n_failed\":" +
      samples.count(_._2.exists(_.failed)) + ",\"passes\":" + passes +
      ",\"shard_size\":" + shardSize + ",\"sf\":\"" + sfDir +
      "\",\"load\":" + arr(loads) + ",\"queries\":" + queries + "}"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Optional comma-separated query filter (dev profiling loop).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt
    val shardSize = sys.env.getOrElse("SPARK_GRAFT_SHARD", "40").toInt
    // registry queries + the planted-skew scenarios (BenchSkew): the skew
    // envelope is benched every round alongside the uniform corpus.
    // Alphabetical order groups families together, so each shard is
    // roughly one or two operator families.
    val registry = (SparkEntry.queries.toSeq ++ BenchSkew.scenarios.toSeq)
      .sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    val shards = registry.grouped(shardSize).toSeq

    // name -> per-pass samples (median taken after)
    val allSamples = mutable.LinkedHashMap[String, Seq[Sample]]()

    // Host-load attribution (additions-only; the stdout contract is
    // unchanged): /proc/loadavg read at each timed pass's start and end
    // goes to BENCH_DETAIL.json so a contended pass carries its own
    // evidence instead of being reconstructed from outlier samples —
    // driver-vs-repo adjudication has needed this three rounds running.
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+").take(3).mkString(",")
      catch { case _: Throwable => "" }
    val passLoads = mutable.ArrayBuffer[String]()

    shards.zipWithIndex.foreach { case (shard, si) =>
      val spark = session(cpus)
      // Uncounted FULL warmup pass: every query in the shard runs once,
      // discarded, before any timed pass. A first-query-only warmup
      // (r10) left each query's own codegen compilation inside its
      // first timed sample, inflating medians 2-4x for sub-second
      // queries (r10 verdict: sketch_heavy_hitters 4.30 s recorded vs
      // 1.14 s isolated). After this pass, every timed sample runs
      // against compiled classes and a warm block manager. Cold runs
      // print their stderr line too, so an isolated run
      // (SPARK_GRAFT_ONLY=<q>) still shows the first-run cost.
      shard.foreach { case (name, fn) =>
        System.err.println(s"[bench] warmup $name ${timed(spark, fn, sfDir).line}")
      }
      // Untimed GC between warmup and timed passes: warmup allocation
      // garbage must not trigger a collection inside a timed sample.
      System.gc()
      // Median-of-N (default 3): a single-shot run cannot distinguish
      // noise (GC pause, sandbox scheduling, one-off codegen compile)
      // from a real regression. All passes are warm (see above); the
      // median of three discards one-sided outliers, and the per-query
      // MIN (reported alongside) bounds true cost from below.
      (0 until passes).foreach { pass =>
        val loadStart = loadavg()
        shard.foreach { case (name, fn) =>
          val s = timed(spark, fn, sfDir)
          System.err.println(s"[bench] pass $pass $name ${s.line}")
          allSamples(name) = allSamples.getOrElse(name, Vector()) :+ s
        }
        // Codegen-cache churn evidence: cumulative janino compile count
        // after each pass. Warm passes adding ~nothing means no eviction.
        val m = org.apache.spark.metrics.source.CodegenMetrics
        System.err.println(s"[bench] shard $si pass $pass: cumulative " +
          s"codegen compiled=${m.METRIC_COMPILATION_TIME.getCount} classes")
        passLoads += ("{\"shard\":" + si + ",\"pass\":" + pass +
          ",\"load_start\":\"" + loadStart +
          "\",\"load_end\":\"" + loadavg() + "\"}")
      }
      graft.queries.SharedRels.clear(spark)
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      // Untimed inter-shard GC: lets the old context's driver-side state
      // (block manager maps, codegen classes) go before the next shard.
      System.gc()
    }

    val detail = detailJson(allSamples.toSeq, passes, shardSize, sfDir,
      passLoads.toSeq)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_DETAIL.json"),
      detail.getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}")
    }

    val st = stats(allSamples.toSeq)
    val total = st.map(_._2).sum
    val totalMin = st.map(_._3).sum
    val qs = st.filter(r => headline.contains(r._1))
      .map(r => "\"" + r._1 + "\":" + f"${r._2}%.3f")
      .mkString("{", ",", "}")
    System.out.flush(); System.err.flush()
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","total_min":$totalMin%.3f,"n_queries":${st.size},"agg":"median","passes":$passes,"shard_size":$shardSize,"queries":$qs,"detail":"BENCH_DETAIL.json","sf":"$sfDir"}""")
    System.out.flush()
  }

  /** Headline queries for the compact stdout JSON — ~12 representatives,
    * one per major family (TPC-H agg/join, parity pipeline, range join,
    * sessionization, MinHash dedup, PPJoin, ANN, fuzzy text join,
    * curation, skew envelope, multimodal). Kept SHORT on purpose: the
    * full registry lives in BENCH_DETAIL.json; this map plus the totals
    * must fit the harness's ~2 KB stdout tail. */
  private val headline: Seq[String] = Seq(
    "q1_pricing_summary", "q9_product_profit", "takuan_ssh_pipeline",
    "j2_auto_range_join", "sessionize_events", "dedup_minhash_lsh",
    "dedup_ppjoin", "sim_ivf_topk", "text_fuzzy_pairs",
    "curation_pipeline", "salted_skew_join", "mm_video_scene_cuts",
    "pipeline_web_curation")
}
