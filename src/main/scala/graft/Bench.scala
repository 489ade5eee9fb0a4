package graft

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
 * emits one JSON line with per-query seconds — to stdout AND to the file
 * named by SPARK_GRAFT_BENCH_OUT (default `bench_out.json` in the cwd), so
 * the driver can parse the file instead of scraping sbt-wrapped stdout.
 *
 * Results are written to the `noop` datasource, not `.count()`ed — count
 * lets Catalyst prune every computed column (an aggregate's sums, a
 * projection's expressions), which benchmarks the scan instead of the
 * operator. The noop sink consumes all columns with zero write cost.
 *
 * Before the timed loop, an UNTIMED warm-up runs a few representative
 * queries at the smallest scale factor: JIT compilation, whole-stage
 * codegen, the parquet reader and the noop sink all get exercised once so
 * session warm-up is not billed to whichever query sorts first
 * alphabetically.
 *
 * Two host-noise defenses (this container's virtio disk takes sporadic
 * multi-second D-state stalls that previously landed inside timed runs —
 * a 0.9 s aggregate recorded 13.2 s with zero code change):
 *   1. the input directory is mirrored to tmpfs before timing
 *      ([[SparkLocal.stageInput]]), so no timed query touches the disk;
 *   2. each query runs three times and reports the MEDIAN; the total is
 *      the sum of medians. The reps are INTERLEAVED — the full sorted
 *      query list runs rep 1, then rep 2, then rep 3 — because the host's
 *      noise episodes span minutes: back-to-back samples of one query all
 *      land inside a single episode (round 3's 18.5 s ngram median vs a
 *      2.4 s quiet-machine control), while interleaving spaces a query's
 *      samples the length of a whole pass apart, so an episode costs at
 *      most one sample per query and the median discards it. */
object Bench {
  /** Cumulative pressure-stall totals (µs) from /proc/pressure —
   * (io some, io full, cpu some). Three rounds running, the driver's
   * BENCH numbers have diverged 2-5× from quiet-machine truth with no
   * way to tell episode from plan cost; deltas of these counters around
   * each sample let a reader do that adjudication from the artifact
   * alone. cpu-some is included because the timed inputs live on tmpfs —
   * a host episode can surface as scheduler starvation with zero io
   * pressure. -1 when PSI is unavailable (non-Linux, psi=0 boot). */
  private def psiStall(): (Long, Long, Long) = {
    def total(file: String, prefix: String): Long =
      try {
        val it = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(s"/proc/pressure/$file")).iterator()
        var v = -1L
        while (it.hasNext) {
          val l = it.next()
          if (l.startsWith(prefix)) v = l.substring(l.indexOf("total=") + 6).trim.toLong
        }
        v
      } catch { case _: Throwable => -1L }
    (total("io", "some"), total("io", "full"), total("cpu", "some"))
  }

  /** Cumulative VM steal time (ms) from /proc/stat — PSI cannot see it:
   * a noisy-neighbor host steals cycles without any io/cpu pressure
   * registering inside the guest (BASELINE.md round-9 adjudication:
   * BENCH_r09's 14.9× semantic_dedup episode left zero PSI signal but
   * nonzero /proc/stat steal). Field 9 of the aggregate `cpu` line, in
   * USER_HZ jiffies → ms via the tick rate read ONCE from the system
   * (`getconf CLK_TCK`; a kernel built with a non-100 USER_HZ would
   * otherwise silently mis-scale the telemetry). -1 when unreadable. */
  private lazy val clkTck: Long =
    try {
      val p = new ProcessBuilder("getconf", "CLK_TCK").start()
      val out = new String(p.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.US_ASCII).trim
      p.waitFor()
      val v = out.toLong
      if (v > 0) v else 100L
    } catch { case _: Throwable => 100L }

  private def stealMs(): Long =
    try {
      val cpu = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).get(0)
      val f = cpu.trim.split("\\s+")
      if (f.length > 8) f(8).toLong * 1000L / clkTck else -1L
    } catch { case _: Throwable => -1L }

  /** cpu0's current cpufreq (kHz) — a host-level frequency drop (thermal
   * or power capping) is the third noise source PSI and steal both miss.
   * -1 when the VM exposes no cpufreq sysfs (common). */
  private def cpuFreqKhz(): Long =
    try java.nio.file.Files.readString(java.nio.file.Paths.get(
      "/sys/devices/system/cpu/cpu0/cpufreq/scaling_cur_freq")).trim.toLong
    catch { case _: Throwable => -1L }

  def main(args: Array[String]): Unit = {
    val rawSfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sfDir = SparkLocal.stageInput(rawSfDir)
    if (sfDir != rawSfDir) System.err.println(s"[bench] input staged to $sfDir")
    val spark = GraftSession.builder(GraftSession.mainCores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warm-up runs at the BENCH scale factor: JIT tiers, Janino codegen
    // and AQE's runtime plan choices are all specific to the actual plan
    // shapes and sizes, so a smaller-SF warm-up leaves the first timed
    // heavy query paying a 10-25 s cold tax. Timed numbers below are
    // steady-state (standard warm-iterations practice).
    // The dedup/vector queries appear twice: their many generated classes
    // take 2-3 executions to finish C2 tier-up (measured: 31 s on the 2nd
    // run, 3 s from the 3rd), and one pass leaves the timed run paying it.
    Seq("ljot_events", "dedup_minhash_lsh", "ann_lsh_topk", "q1_pricing",
        "dedup_exact", "text_stats", "dedup_simhash", "dedup_ngram_jaccard",
        "emb_neardup", "window_running_rev", "fingerprint_rolling",
        "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_simhash",
        "emb_neardup", "ann_brute_topk")
      .foreach { name =>
        val t0 = System.nanoTime()
        try SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => System.err.println(s"[bench] warmup $name: $e") }
        spark.catalog.clearCache()
        System.err.println(f"[bench] warm $name%-22s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      }

    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // optional comma-separated name filter — targeted runs (e.g. the
    // dedup/ANN family against generated sf1 data, which has only the
    // documents/embeddings tables) without timing the whole registry
    // names are trimmed and validated: "a, b" must not silently drop b, and
    // a typo'd name must not produce an empty run that still writes a bench
    // artifact a reader could mistake for a real measurement
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").iterator.map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      if (unknown.nonEmpty)
        sys.error(s"SPARK_GRAFT_BENCH_ONLY names not in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // round-robin: pass r runs every query once, so the three samples of
    // any one query are separated by a full pass (~minutes) — longer than
    // most noise episodes
    // A failed run is NOT a sample: its (typically fast) wall-time would
    // ride into the median and make a broken query read as a speedup.
    // A query with ZERO successful reps appears as null in "queries"
    // (visibly broken, excluded from the total — a consumer diffing the
    // per-query map sees the null instead of a phantom speedup); a query
    // listed in "failures" with a numeric median failed only some reps
    // and its median covers the successful ones.
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
    // per-sample (seconds, io-some ms, io-full ms, cpu-some ms, steal ms,
    // cpufreq kHz): the host-pressure telemetry that lets a reader
    // separate an episode-hit sample from plan cost without a control
    // rerun. Steal + freq ride along because PSI is guest-local — VM CPU
    // steal and host frequency capping are invisible to it.
    val telemetry = scala.collection.mutable.Map.empty[String, Vector[(Double, Long, Long, Long, Long, Long)]]
    val failures = scala.collection.mutable.Map.empty[String, Int]
    // first exception line per failed query: a driver-side break must be
    // diagnosable from the artifact alone (round 7's DATATYPE_MISMATCH was
    // only visible in the sbt test log, not in BENCH_r07.json)
    val failureDetail = scala.collection.mutable.Map.empty[String, String]
    for (r <- 1 to reps; (name, fn) <- queries) {
      val (ioS0, ioF0, cpu0) = psiStall()
      val steal0 = stealMs()
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: $e")
          failureDetail.getOrElseUpdate(name,
            s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}")
          false
        }
      spark.catalog.clearCache() // operators persist() intermediates; don't let caches leak across queries
      val dt = (System.nanoTime() - t0) / 1e9
      val (ioS1, ioF1, cpu1) = psiStall()
      val steal1 = stealMs()
      def delta(a: Long, b: Long): Long = if (a < 0 || b < 0) -1L else (b - a) / 1000
      val (ioS, ioF, cpu) = (delta(ioS0, ioS1), delta(ioF0, ioF1), delta(cpu0, cpu1))
      val steal = if (steal0 < 0 || steal1 < 0) -1L else steal1 - steal0
      val freq = cpuFreqKhz()
      if (ok) {
        samples(name) = samples.getOrElse(name, Vector.empty) :+ dt
        telemetry(name) = telemetry.getOrElse(name, Vector.empty) :+ ((dt, ioS, ioF, cpu, steal, freq))
      } else failures(name) = failures.getOrElse(name, 0) + 1
      System.err.println(f"[bench] pass $r $name%-22s $dt%8.3f s  stall io ${ioS}ms/${ioF}ms cpu ${cpu}ms steal ${steal}ms${if (ok) "" else "  FAILED"}")
    }
    val results = queries.map { case (name, _) =>
      samples.get(name) match {
        case Some(ss) =>
          val dt = ss.sorted.apply(ss.size / 2) // median: stall-immune
          System.err.println(f"[bench] $name%-22s $dt%8.3f s  (samples ${ss.map(s => f"$s%.3f").mkString(" ")})")
          name -> Some(dt)
        case None =>
          System.err.println(f"[bench] $name%-22s FAILED all $reps reps")
          name -> None
      }
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v.map(_.toString).getOrElse("null") }
      .mkString("{", ",", "}")
    val sampleJson = results.collect { case (k, Some(_)) =>
      "\"" + k + "\":" + telemetry.getOrElse(k, Vector.empty)
        .map { case (s, io, iof, cpu, steal, freq) => // ROOT locale: a comma decimal separator would break the JSON
          String.format(java.util.Locale.ROOT, "[%.3f,%d,%d,%d,%d,%d]",
            Double.box(s), Long.box(io), Long.box(iof), Long.box(cpu),
            Long.box(steal), Long.box(freq)) }
        .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val completed = results.count(_._2.nonEmpty)
    // a query with ZERO successful reps shrinks the sum's denominator —
    // "value" goes null so a failure-laden run can never read as a
    // speedup; per-query medians remain for the queries that did run
    val total: Option[Double] =
      if (results.exists(_._2.isEmpty)) None else Some(results.flatMap(_._2).sum)
    val failed = failures.keys.toSeq.sorted
    if (failed.nonEmpty)
      System.err.println(s"[bench] FAILURES: ${failed.map(n => s"$n(${failures(n)}/$reps)").mkString(", ")}")
    val failJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    def jsonEscape(s: String): String = s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    }
    val failDetailJson = failed.map { n =>
      "\"" + n + "\":\"" + jsonEscape(failureDetail.getOrElse(n, "").take(500)) + "\""
    }.mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":${total.map(_.toString).getOrElse("null")},""" +
      s""""unit":"sec","completed":$completed,"queries":$qs,"samples":$sampleJson,""" +
      s""""failures":$failJson,"failureDetail":$failDetailJson,"sf":"$rawSfDir"}"""
    // The driver records only a ~2 kB TAIL of stdout: the full-fidelity
    // line above (full-precision doubles + per-sample telemetry) has
    // never fit, so rounds 1-6 shipped a truncated, unparseable tail and
    // readers had to fall back to the bench_out.json artifact. Print a
    // COMPACT totals line (3-decimal medians, no samples — ~1.5 kB at 48
    // queries) as the LAST stdout line so the tail always contains a
    // standalone-parseable "metric":"total" record; the full JSON still
    // goes to the artifact file.
    def fmt(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val qsCompact = results.map { case (k, v) =>
      "\"" + k + "\":" + v.map(fmt).getOrElse("null")
    }.mkString("{", ",", "}")
    val compact = s"""{"metric":"total","value":${total.map(fmt).getOrElse("null")},""" +
      s""""unit":"sec","completed":$completed,"queries":$qsCompact,""" +
      s""""failures":$failJson,"sf":"$rawSfDir"}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] write $outPath: $e") }
    // Stdout line order (round-17 driver-contract fix; BENCH_r14–r16 all
    // carried parsed:null): with build.sbt's StdoutOutput + showSuccess
    // := false these lines now reach the driver UNPREFIXED and nothing
    // (sbt's "[success] Total time ..." included) prints after them, so
    // the full per-query contract line `{"metric":"total",...,"queries":
    // {...},"sf":...}` goes genuinely LAST for a last-line JSON parser.
    // The two short diagnostic lines print FIRST:
    //  - top-20 medians by cost, so the ~2 kB stdout-tail diagnostic the
    //    driver archives still shows the queries where a regression
    //    matters (round-13 verdict item #7) even though the compact map's
    //    own head is what tail truncation discards;
    //  - a map-free total_summary (~200 B) with the headline totals.
    // Nothing is removed relative to round 16 — the same three lines,
    // reordered so the contract line wins the "last line" position.
    val top20 = results.collect { case (k, Some(v)) => (k, v) }
      .sortBy { case (k, v) => (-v, k) }.take(20)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"top20_by_cost","unit":"sec","queries":$top20}""")
    println(s"""{"metric":"total_summary","value":${total.map(fmt).getOrElse("null")},""" +
      s""""unit":"sec","completed":$completed,"n":${queries.size},""" +
      s""""failures":$failJson,"sf":"$rawSfDir"}""")
    println(compact)
    spark.stop()
  }
}
