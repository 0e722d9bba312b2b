package graft

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods.parse

class BenchSpec extends SparkSpec {

  /** Reference counts, kept apart from Bench's meter: job ids with their
    * job group, and running totals of tasks and shuffle bytes written. */
  private object Ref extends SparkListener {
    val jobs = mutable.ArrayBuffer[(Int, String)]()
    var tasks, shuffle = 0L
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += e.jobId -> Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      shuffle += e.taskMetrics.shuffleWriteMetrics.bytesWritten
    }
    def snap: (Int, Long, Long) = synchronized((jobs.size, tasks, shuffle))
  }
  private lazy val ref = { spark.sparkContext.addSparkListener(Ref); Ref }

  /** One Bench sample, plus what the reference saw during it: the jobs
    * (id, group), the task count and the shuffle bytes written. */
  private def sample(fn: (SparkSession, String) => DataFrame)
      : (Bench.Sample, Seq[(Int, String)], Long, Long) = {
    ListenerBusDrain(spark.sparkContext)
    val (j0, t0, b0) = ref.snap
    val s = Bench.timed(spark, fn, "unused")
    val (_, t1, b1) = ref.snap
    (s, ref.synchronized(ref.jobs.drop(j0).toList), t1 - t0, b1 - b0)
  }

  private val shuffled: (SparkSession, String) => DataFrame =
    (s, _) => s.range(0, 2000, 1, 4).groupBy(col("id") % 7).count()
  private val eagerCollect: (SparkSession, String) => DataFrame = (s, _) => {
    val n = s.range(0, 5, 1, 2).collect().length
    s.range(0, n.toLong, 1, 2).toDF()
  }

  test("timed: each sample counts exactly its own jobs, shuffle and gap") {
    val a @ (sa, jobsA, _, _) = sample(shuffled)
    val b @ (sb, jobsB, _, _) = sample(eagerCollect)
    for ((s, jobs, tasks, shuffle) <- Seq(a, b)) {
      assert(!s.failed)
      assert(s("jobs") == jobs.size)
      assert(s.jobSeconds.map(_._1) == jobs.map(_._1).sorted)
      assert(s("tasks") == tasks && tasks > 0)
      assert(s("shuffle_bytes") == shuffle)
      assert(s("gap_ms") >= 0 && s("gap_ms") <= s.seconds * 1000)
    }
    assert(jobsB.size >= 2, "the eager collect and the write are both jobs")
    assert(jobsA.map(_._1).intersect(jobsB.map(_._1)).isEmpty)
    assert(sa("shuffle_bytes") > 0)
    assert(sb("shuffle_bytes") == 0)
  }

  test("timed: a job from a thread outside the job group is counted") {
    val sc = spark.sparkContext
    sc.setJobGroup("bench-spec", "caller group")
    try {
      val (s, r, _, _) = sample { (sp, _) =>
        val t = new Thread(() => {
          sp.sparkContext.clearJobGroup()
          sp.range(0, 10, 1, 2).collect()
          ()
        })
        t.start(); t.join()
        sp.range(0, 3, 1, 1).toDF()
      }
      assert(!s.failed)
      assert(r.exists(_._2 == "") && r.exists(_._2 == "bench-spec"))
      assert(s("jobs") == r.size)
      assert(s.jobSeconds.map(_._1) == r.map(_._1).sorted)
    } finally sc.clearJobGroup()
  }

  test("timed: a query that throws gives a failed sample") {
    val (s, _, _, _) = sample((sp, _) =>
      sp.range(0, 3, 1, 1).select(raise_error(lit("bench-spec boom"))))
    assert(s.failed)
    assert(s.error.exists(_.contains("bench-spec boom")))
    assert(s.line.contains("FAILED"))
    val (t, _, _, _) = sample((_, _) => throw new IllegalStateException("no plan"))
    assert(t.failed && t("jobs") == 0)
  }

  test("detailJson: parses, arrays align with samples, old keys stay") {
    def s(sec: Double, jobs: Long, failed: Boolean = false) = Bench.Sample(
      sec, if (failed) Some("x") else None,
      Seq("jobs" -> jobs, "tasks" -> 4L, "gap_ms" -> 7L), Seq(1 -> 0.25))
    val samples = Seq(
      "q_ok" -> Seq(s(1.0, 2), s(3.0, 2), s(2.0, 3)),
      "q_half" -> Seq(s(0.1, 1, failed = true), s(5.0, 1), s(4.0, 1)),
      "q_dead" -> Seq(s(0.1, 0, failed = true), s(0.1, 0, failed = true),
        s(0.1, 0, failed = true)))
    val loads = Seq("""{"shard":0,"pass":0,"load_start":"1","load_end":"2"}""")
    val j = parse(Bench.detailJson(samples, 3, 40, "/sf", loads))
    implicit val formats: Formats = DefaultFormats
    val top = j.asInstanceOf[JObject].obj.map(_._1)
    assert(top.take(3) == Seq("total", "total_min", "n_queries"))
    assert(Seq("passes", "shard_size", "sf", "load", "queries", "n_failed")
      .forall(top.contains))
    // failed samples count in neither the medians nor the totals
    assert((j \ "total").extract[Double] == 2.0 + 5.0)
    assert((j \ "total_min").extract[Double] == 1.0 + 4.0)
    assert((j \ "n_queries").extract[Int] == 2)
    assert((j \ "n_failed").extract[Int] == 2)
    assert((j \ "passes").extract[Int] == 3)
    assert((j \ "load").children.size == 1)
    val q = j \ "queries"
    assert((q \ "q_half" \ "median").extract[Double] == 5.0)
    assert((q \ "q_dead" \ "median") == JNull)
    for ((name, ss) <- samples) {
      val e = (q \ name).asInstanceOf[JObject]
      assert(e.obj.map(_._1).take(3) == Seq("median", "min", "samples"))
      for (k <- Seq("samples", "failed", "jobs", "tasks", "gap_ms"))
        assert((e \ k).children.size == ss.size, s"$name.$k")
      assert((e \ "failed").extract[Seq[Boolean]] == ss.map(_.failed))
      assert((e \ "jobs").extract[Seq[Long]] == ss.map(_("jobs")))
    }
  }
}
