package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def loadavg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim finally src.close()
    } catch { case _: Exception => "" }

  /** JVM-wide garbage collection and JIT compilation time so far (ms). */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def jitMs(): Long = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Waits until background JIT compilation has nearly stopped (under
    * `idleMs` of compile time in a `windowMs` window), for at most `maxMs`;
    * returns the time waited (ms). Timing while the JIT compiles what a
    * cold pass left behind measures the compiler threads' share of the cores. */
  def awaitJitIdle(windowMs: Long = 500, idleMs: Long = 50, maxMs: Long = 6000): Long = {
    val t0 = System.currentTimeMillis()
    var last = jitMs()
    var idle = false
    while (!idle && System.currentTimeMillis() - t0 < maxMs) {
      Thread.sleep(windowMs)
      val now = jitMs()
      idle = now - last < idleMs
      last = now
    }
    System.currentTimeMillis() - t0
  }

  /** Peak resident set size of this process (VmHWM), in MiB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }
}

/** Per-job record: who ran it (job group, streaming query), when, and the
  * task-level totals of its stages. */
final class JobRec(val id: Int, val group: String, val streamQuery: String,
    val callSite: String, val start: Long, val stages: Seq[Int]) {
  @volatile var end: Long = -1L
  var tasks = 0L
  var runMs = 0L
  var cpuMs = 0.0
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** SparkListener that keeps every job with its task metrics. */
final class JobMeter extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")
    // the result stage is named after the job's call site ("head at X.scala:N")
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val r = new JobRec(e.jobId, prop("spark.jobGroup.id"), prop("sql.streaming.queryId"),
      site, e.time, e.stageIds)
    jobs(e.jobId) = r
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, r))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (r <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      r.tasks += 1
      r.runMs += m.executorRunTime
      r.cpuMs += m.executorCpuTime / 1e6
      r.gcMs += m.jvmGCTime
      r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  def all: Seq[JobRec] = synchronized(jobs.values.toList)
  def between(t0: Long, t1: Long): Seq[JobRec] = all.filter(j => j.start >= t0 && j.start <= t1)
}

/** Keeps every streaming progress report. */
final class ProgressLog extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized(buf += e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def all: Seq[StreamingQueryProgress] = synchronized(buf.toList)
}

/** Planning phases (analysis, optimization, planning) of each finished
  * query, keyed by the tag the benchmark set when it started the query. */
final class PlanLog extends QueryExecutionListener {
  @volatile var tag = ""
  val phases = mutable.ArrayBuffer[(String, Map[String, (Long, Long)])]()
  val executions = mutable.ArrayBuffer[(String, QueryExecution)]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      phases += tag -> qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
      executions += tag -> qe
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** In-memory spans and counters of a traced run. A span's self time is its
  * duration minus the part of its interval that its children cover. */
final class Trace {
  final case class Span(id: Int, name: String, start: Double, end: Double,
      parent: Int, op: String)
  private val spans = mutable.ArrayBuffer[Span]()
  private val counters = mutable.LinkedHashMap[String, Double]()

  def span(name: String, start: Double, end: Double, parent: Int = -1, op: String = ""): Int =
    synchronized {
      val id = spans.size
      spans += Span(id, name, start, end, parent, op)
      id
    }
  def timed[A](name: String, parent: Int = -1, op: String = "")(body: => A): (A, Int) = {
    val t0 = System.currentTimeMillis()
    val a = body
    (a, span(name, t0, System.currentTimeMillis(), parent, op))
  }
  def count(name: String, v: Double): Unit = synchronized {
    counters(name) = counters.getOrElse(name, 0.0) + v
  }

  def selfTime(id: Int): Double = synchronized {
    val s = spans(id)
    val kids = spans.filter(_.parent == id)
      .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
    (s.end - s.start) - Stats.unionLength(kids.toSeq)
  }

  /** Σ self time per span name. */
  def selfByName: Map[String, Double] = synchronized {
    spans.indices.groupBy(i => spans(i).name).map { case (n, is) => n -> is.map(selfTime).sum }
  }

  def json: String = synchronized {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val ss = spans.map(s =>
      s"""{"id":${s.id},"name":${q(s.name)},"start_ms":${s.start},"end_ms":${s.end},""" +
        s""""parent":${s.parent},"op":${q(s.op)},"self_ms":${selfTime(s.id)}}""")
    val cs = counters.map { case (k, v) => s"${q(k)}:$v" }
    val byName = selfByName.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}:$v" }
    s"""{"spans":[${ss.mkString(",\n")}],\n"counters":{${cs.mkString(",")}},""" +
      s"""\n"self_ms_by_name":{${byName.mkString(",")}}}"""
  }
}

/** The listeners of one session. */
final class Meters(val spark: SparkSession, traced: Boolean) {
  val progress = new ProgressLog
  val jobs = new JobMeter
  val plans = new PlanLog
  spark.streams.addListener(progress)
  if (traced) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
  }
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
