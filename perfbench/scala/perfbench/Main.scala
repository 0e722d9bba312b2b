package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run: its arguments, its op/failure tally, its metrics and
  * the environment record it writes next to them. */
final class Run(val workload: String, val seed: Long, val seconds: Double,
    val traced: Boolean, val cores: Int, val work: File, val out: File) {
  val trace = new Trace
  private val metrics = mutable.LinkedHashMap[String, Double]()
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val notes = mutable.LinkedHashMap[String, String]()
  private val problems = mutable.ArrayBuffer[String]()
  private val phases = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L
  var checksFailed = 0L
  val sparkConfs = mutable.LinkedHashMap[String, String]()

  private val born = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since the run began. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - born) / 1e9}%.1fs] $msg")

  def metric(k: String, v: Double): Unit = metrics(k) = v
  def metricOr(k: String): Double = metrics.getOrElse(k, 0.0)
  /** One sample of a per-pass metric; the run reports the median. */
  def sample(k: String, v: Double): Unit = samples.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
  def note(k: String, v: Any): Unit = notes(k) = v.toString
  def ops(n: Int): Unit = attempted += n

  /** Run one op (`op = false`: a call whose ops are counted elsewhere, such
    * as a drain counted by its micro-batches); an exception counts a failed
    * op and yields None. */
  def attempt[A](what: String, op: Boolean = true)(body: => A): Option[A] = {
    if (op) attempted += 1
    try Some(body) catch {
      case NonFatal(e) =>
        if (!op) attempted += 1
        failed += 1
        problems += s"op failed: $what: ${e.getClass.getSimpleName}: ${
          Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" ")}"
        None
    }
  }

  /** One output check: `body` returns the differences found (empty = pass).
    * A failed check is a failed op and makes the run incorrect. */
  def check(what: String)(body: => Seq[String]): Unit = {
    attempted += 1
    val errs = try body catch { case NonFatal(e) => Seq(s"check threw: $e") }
    if (errs.nonEmpty) {
      failed += 1; checksFailed += 1
      problems ++= errs.map(e => s"check failed: $what: $e")
    }
  }

  /** A timed phase, with /proc/loadavg recorded at its start and end. */
  def phase[A](name: String)(body: => A): A = {
    val l0 = Stats.loadavg()
    val t0 = System.nanoTime()
    val (gc0, jit0, cg0) = (Stats.gcMs(), Stats.jitMs(), Stats.codegenCompiles())
    log(s"phase $name")
    try body finally phases +=
      s"""{"phase":"$name","seconds":${(System.nanoTime() - t0) / 1e9},"loadavg_start":"$l0",""" +
        s""""loadavg_end":"${Stats.loadavg()}","gc_ms":${Stats.gcMs() - gc0},"jit_ms":${Stats.jitMs() - jit0},""" +
        s""""codegen_compiles":${Stats.codegenCompiles() - cg0}}"""
  }

  def recordConf(spark: SparkSession): Unit =
    if (sparkConfs.isEmpty) spark.conf.getAll.toSeq.sortBy(_._1).foreach { case (k, v) => sparkConfs(k) = v }

  private def q(s: String) = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def resultJson: String = {
    samples.foreach { case (k, xs) => metrics(k) = Stats.median(xs.toSeq) }
    metric("jvm.peak_rss_mb", Stats.peakRssMb())
    val ms = metrics.map { case (k, v) => s"${q(k)}:$v" }.mkString(",")
    val ns = notes.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString(",")
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
    import scala.jdk.CollectionConverters._
    val env = s"""{"nproc":$cores,"seed":$seed,"workload":${q(workload)},"traced":$traced,""" +
      s""""jvm_flags":[${jvm.asScala.map(q).mkString(",")}],""" +
      s""""java_version":${q(System.getProperty("java.version"))},""" +
      s""""spark_conf":{${sparkConfs.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString(",")}},""" +
      s""""phases":[${phases.mkString(",")}]}"""
    s"""{"correct":${checksFailed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{$ms},"notes":{$ns},"problems":[${problems.map(q).mkString(",")}],"env":$env}"""
  }
}

/** Entry point: `perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  * <cores> <workDir> <outDir>`, or `perfbench.Main self-test <workDir>`.
  * Prints one JSON line with every measured metric as the last stdout line
  * (`perfbench/run.py` picks the declared ones from it). */
object Main {
  def main(args: Array[String]): Unit = args.toList match {
    case "self-test" :: work :: Nil =>
      sys.exit(SelfTest.run(new File(work)))
    case wl :: seed :: secs :: tr :: cores :: work :: out :: Nil =>
      val run = new Run(wl, seed.toLong, secs.toDouble, tr == "1", cores.toInt,
        new File(work), new File(out))
      run.work.mkdirs()
      wl match {
        case "service" => new Service(run).service()
        case "query_mix" => new QueryMix(run).run()
        case other =>
          System.err.println(s"unknown workload: $other"); sys.exit(2)
      }
      if (run.traced) {
        val f = new File(run.out, s"trace-$wl-seed$seed.json")
        java.nio.file.Files.write(f.toPath, run.trace.json.getBytes("UTF-8"))
        run.note("trace_file", f.getPath)
      }
      System.out.flush()
      println(run.resultJson)
      System.out.flush()
      sys.exit(0)
    case _ =>
      System.err.println("usage: perfbench.Main <workload> <seed> <seconds> <trace> <cores> <work> <out>")
      sys.exit(2)
  }
}
