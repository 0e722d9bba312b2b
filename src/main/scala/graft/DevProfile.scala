package graft

/** Dev profiling loop: runs one registered query N times in a single
  * session and prints per-iteration seconds, separating plan/codegen
  * warm-up from steady-state execution. Usage:
  *   runMain graft.DevProfile <sfDir> <queryName> [n] [--explain]
  * on the [[Bench.session]] at SPARK_GRAFT_CPUS cores (default 32).
  */
object DevProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val n = if (args.length > 2 && !args(2).startsWith("--")) args(2).toInt else 3
    val explain = args.contains("--explain")
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val fn = SparkEntry.queries(name)
    if (explain) fn(spark, sfDir).explain("formatted")
    // total shuffle write across the query's stages — the number a
    // key-width change actually moves (wall time at sf0.1 hides inside
    // the host band; exchanged bytes do not)
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val stageCount = new java.util.concurrent.atomic.AtomicLong(0L)
    // per-JOB wall time: iterative operators issue dozens of tiny driver
    // jobs (collects, localCheckpoints, per-round aggregates); the gap
    // between sum-of-job-time and iteration wall time is driver-side
    // (planning/codegen), which explain() never shows
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    // (jobId, seconds, jobGroup): entries are tagged with the job group
    // the job STARTED under, so late-arriving events from a previous
    // iteration are filtered by tag instead of racing a clear() + sleep
    // (ADVICE r16 — the async bus can deliver job-ends across the
    // iteration boundary on a loaded host)
    val jobGroups = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          shuffleBytes.addAndGet(
            s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
          stageCount.incrementAndGet()
          ()
        }
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobStart.put(j.jobId, j.time)
          jobGroups.put(j.jobId,
            Option(j.properties)
              .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
              .getOrElse(""))
          ()
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(jobStart.remove(j.jobId)).foreach { t0 =>
            jobLog.add((j.jobId, (j.time - t0) / 1e3,
              Option(jobGroups.remove(j.jobId)).getOrElse("")))
          }
          ()
        }
      })
    (1 to n).foreach { i =>
      shuffleBytes.set(0L); stageCount.set(0L)
      val group = s"devprofile-iter-$i"
      spark.sparkContext.setJobGroup(group, s"$name iter $i")
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.clearJobGroup()
      // listener events drain asynchronously; give the bus a beat
      // (listenerBus.waitUntilEmpty is private[spark])
      Thread.sleep(500)
      // drain the log: jobs that started under another group (untagged,
      // or a previous iteration's late job-end) are left out of this
      // iteration and counted as `dropped`
      val (mine, dropped) = Iterator.continually(jobLog.poll())
        .takeWhile(_ != null).toSeq.partition(_._3 == group)
      val jobs = mine.map(j => (j._1, j._2)).sortBy(_._1)
      val jobSum = jobs.map(_._2).sum
      println(f"[profile] $name iter $i: $dt%.3f s " +
        f"shuffle=${shuffleBytes.get() / 1048576.0}%.1f MiB " +
        f"jobs=${jobs.size} dropped=${dropped.size} stages=${stageCount.get()} " +
        f"jobSum=$jobSum%.3f s driverGap=${dt - jobSum}%.3f s")
      if (args.contains("--jobs"))
        println("[profile]   job times: " + jobs.map {
          case (id, s) => f"$id:$s%.2f" }.mkString(" "))
    }
    spark.stop()
  }
}
