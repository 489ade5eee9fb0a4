package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: runs one workload once and prints, as its last
 * stdout line, one JSON object with the lefts or queries attempted and
 * failed and every metric it measured.
 *
 * {{{
 * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *      --work <dir> [--set key=value]...
 * }}}
 * The `--set` pairs are the workload's parameters (see workloads.json). */
object Main {
  /** Set-ups per run; `setup_s` takes their median. */
  val SetupReps = 3

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // four state-store partitions whatever the core count, so that every
      // host plans the same stateful stages
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // a local file system that runs no `chmod` or `readlink` child process
      .config("spark.hadoop.fs.file.impl", classOf[NoForkLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NoForkLocalFs].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val t0 = System.nanoTime()
  /** A progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $msg")

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => (k.drop(2), v) }.toSeq
    def opt(k: String): String = opts.find(_._1 == k).map(_._2)
      .getOrElse(sys.error(s"missing --$k"))
    val p = Params(opts.filter(_._1 == "set").map { case (_, kv) =>
      val i = kv.indexOf('='); kv.substring(0, i) -> kv.substring(i + 1)
    }.toMap)
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val cores = p.int("cores")

    val status =
      try {
        val spark = session(cores, work)
        val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
        log(f"session ready, $sessionS%.2f s after JVM start")
        val tracer = if (trace) Some(new Tracer(spark, s"$work/trace/$workload-seed$seed")) else None
        val r = p.str("kind") match {
          case "stream" => new Streaming(spark, p, seed, s"$work/stream").run(seconds, tracer)
          case "batch" => new BatchSuite(spark, p).run(tracer)
          case k => sys.error(s"unknown workload kind $k")
        }
        val rss = Host.rssPeakMb()
        spark.stop()
        log("session stopped")
        // idiomatic: the closed-loop capacity of the same topology on one
        // core and on all cores, each in a session of its own
        val scale =
          if (trace && p.get("variant").contains("idiomatic")) {
            Seq(1 -> "scale.events_per_s_1core", cores -> "scale.events_per_s_ncore").map {
              case (c, name) =>
                val s = session(c, s"$work/scale/c$c")
                try (name, new Streaming(s, p, seed, s"$work/scale/c$c/stream", closedLoop = true)
                  .run(seconds / 2, None))
                finally s.stop()
            }
          } else Seq.empty
        val metrics = r.metrics ++ scale.map { case (k, sr) => k -> sr.metrics("events_per_s") } ++ Map(
          "setup_s" -> (sessionS + r.metrics("setup_rep_ms") / 1000.0),
          "setup.session_s" -> sessionS,
          "rss_peak_mb" -> rss)
        val dropped = metrics.getOrElse("state.rows_dropped_by_watermark", 0.0)
        val attempted = r.attempted + scale.map(_._2.attempted).sum
        val failed = r.failed + scale.map(_._2.failed).sum
        val correct = failed == 0 && dropped == 0
        def num(d: Double): String =
          if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
        val ms = metrics.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${num(v)}""" }
        println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
          s""""metrics":${ms.mkString("{", ",", "}")}}""")
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    System.out.flush()
    // Spark leaves non-daemon threads behind; end the JVM explicitly
    sys.exit(status)
  }
}
