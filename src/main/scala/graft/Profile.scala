package graft


/** Dev tool: run one `SparkEntry.queries` entry N times in one session
 * (noop sink, cache cleared between runs) and print each wall time —
 * exposes run-to-run variance that a single measurement hides. Usage:
 *   runMain graft.Profile <queryName> [sfDir] [reps]
 */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 5
    val spark = GraftSession.builder(GraftSession.mainCores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // stage timing: wall duration vs summed task time exposes stalls that
    // thread sampling attributes to idle pollers
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1e3
        val task = si.taskMetrics.executorRunTime / 1e3
        val cpu = si.taskMetrics.executorCpuTime / 1e9
        val gc = si.taskMetrics.jvmGCTime / 1e3
        val deser = si.taskMetrics.executorDeserializeTime / 1e3
        if (wall > 0.3)
          println(f"[stage] ${si.stageId}%4d ${si.numTasks}%4d tasks wall=$wall%7.2fs " +
            f"taskSum=$task%8.2fs cpuSum=$cpu%8.2fs gcSum=$gc%6.2fs deser=$deser%6.2fs  ${si.name.take(40)}")
      }
    })
    // poor man's sampling profiler: dump hot frames of busy threads
    val hist = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        Thread.getAllStackTraces.forEach { (t, st) =>
          if (t.getState == Thread.State.RUNNABLE && st.nonEmpty
              && !t.getName.contains("profiler")) {
            val top = st.take(6).map(f => f.getClassName + "." + f.getMethodName)
              .mkString(" <- ")
            hist.merge(top, 1, (a, b) => a + b)
          }
        }
        Thread.sleep(50)
      }
    }, "profiler")
    sampler.setDaemon(true)
    sampler.start()
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      println(f"[profile] $name run $i: $dt%.3f s")
    }
    sampling = false
    import scala.jdk.CollectionConverters._
    hist.asScala.toSeq.sortBy(-_._2).take(20).foreach { case (k, v) =>
      println(f"[hot] $v%5d  $k")
    }
    spark.stop()
  }
}
