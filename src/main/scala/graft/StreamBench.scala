package graft

import java.sql.Timestamp
import java.time.Duration

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.ljot.{FaithfulLeftJoin, LeftJoinOnTimeout, LeftJoinOnTimeoutConfig}

/** Streaming-throughput measurement for the flagship operator: drives N
 * left + N right events through the idiomatic streaming
 * left-join-on-timeout (one event-time `flatMapGroupsWithState` over the
 * side-tagged union, per-key state bounded by the watermark) via
 * MemoryStream → noop sink and reports events/second.
 *
 * The reference publishes no throughput numbers (BASELINE.md §ref) — its
 * integration test only bounds small event counts under 30 s against an
 * embedded broker. This main records OUR side of the comparison on the
 * same machine the batch bench runs on. MemoryStream excludes broker
 * I/O, exactly as the reference's TopologyTestDriver-style in-process
 * harness would; the number measures the join engine, not the network.
 *
 * Emits one JSON line, and appends to SPARK_GRAFT_STREAM_OUT when set. */
object StreamBench {
  case class Ev(key: Long, value: String, ts: Timestamp)
  case class Doc(doc_id: Long, text: String, ts: Timestamp)

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_STREAM_EVENTS", "500000").toInt
    val chunk = sys.env.getOrElse("SPARK_GRAFT_STREAM_CHUNK", "125000").toInt
    val spark = GraftSession.builder(GraftSession.mainCores).getOrCreate()
    // state-store ops pay a fixed per-partition commit per micro-batch;
    // 8 partitions beats 32 at MemoryStream batch sizes (the cluster
    // dial is partitions ∝ state size, not cores)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // join band 60 s, retention 180 s; events 1 ms apart over 10k keys →
    // every left finds in-window rights, state stays watermark-bounded
    val cfg = LeftJoinOnTimeoutConfig(Duration.ofSeconds(60), Duration.ofSeconds(180))
    val base = 1000000000000L

    def run(): Double = {
      val l = MemoryStream[Ev]
      val r = MemoryStream[Ev]
      val out = LeftJoinOnTimeout(l.toDF(), r.toDF(), LeftJoinOnTimeout.testJoiner, cfg)
      val q = out.writeStream.format("noop").outputMode("append").start()
      try {
        val t0 = System.nanoTime()
        var i = 0
        while (i < n) {
          val m = math.min(chunk, n - i)
          l.addData((0 until m).map(j =>
            Ev((i + j) % 10000, s"l${i + j}", new Timestamp(base + i + j))))
          r.addData((0 until m).map(j =>
            Ev((i + j) % 10000, s"r${i + j}", new Timestamp(base + i + j))))
          q.processAllAvailable()
          i += m
        }
        (2.0 * n) / ((System.nanoTime() - t0) / 1e9)
      } finally q.stop()
    }

    // streaming minhash-LSH candidate detection: synthetic docs with a
    // 10% near-dup rate through the band-keyed flatMapGroupsWithState
    def runDedup(nDocs: Int): Double = {
      val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
        "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron")
      def text(seed: Long): String = {
        val r = new scala.util.Random(seed)
        (0 until 30).map(_ => words(r.nextInt(words.length))).mkString(" ")
      }
      val in = MemoryStream[Doc]
      val out = graft.operators.TextDedup.streamingMinhashCandidates(
        in.toDF(), Duration.ofHours(1))
      val q = out.writeStream.format("noop").outputMode("append").start()
      try {
        val t0 = System.nanoTime()
        var i = 0
        val dChunk = math.max(1, chunk / 10) // docs are ~30 tokens, not single events
        while (i < nDocs) {
          val m = math.min(dChunk, nDocs - i)
          in.addData((0 until m).map { j =>
            val id = (i + j).toLong
            // every 10th doc repeats an earlier doc's text: candidate work
            Doc(id, text(if (id % 10 == 0) id / 10 else id), new Timestamp(base + id))
          })
          q.processAllAvailable()
          i += m
        }
        nDocs.toDouble / ((System.nanoTime() - t0) / 1e9)
      } finally q.stop()
    }

    // faithful variant: the single flatMapGroupsWithState operator with
    // key-level cancel + processing-time timers — the direct analog of the
    // reference's record-at-a-time engine, measured on the same harness.
    // processAllAvailable can spin against ProcessingTimeTimeout (the
    // repo-wide gotcha the specs work around), so this drives a memory
    // sink and polls a GUARANTEED floor instead: with a 1 s band and
    // per-key event gaps far beyond it, left i joins exactly right i, so
    // the sink holds AT LEAST the number of lefts ingested so far.
    // Retention must dwarf the bench's event-time span: the two addData
    // calls can land in SEPARATE micro-batches (a race with the trigger
    // loop), and with short retention the lefts trigger's older entries
    // are evicted before the rights trigger probes them — the key-level
    // cancel quirk then legally swallows their timeout emissions (one
    // join per key cancels ALL pendings) and the floor is never reached.
    // Long retention keeps every left probe-able in ANY trigger split;
    // per-key state stays ≤ nEv/10k entries.
    def runFaithful(nEv: Int, tag: String): Double = {
      val fCfg = LeftJoinOnTimeoutConfig(Duration.ofSeconds(1), Duration.ofDays(3650))
      val l = MemoryStream[Ev]
      val r = MemoryStream[Ev]
      val out = FaithfulLeftJoin(l.toDF(), r.toDF(), LeftJoinOnTimeout.testJoiner, fCfg)
      val name = s"faithful_bench_$tag"
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        val t0 = System.nanoTime()
        var i = 0
        while (i < nEv) {
          val m = math.min(chunk, nEv - i)
          l.addData((0 until m).map(j =>
            Ev((i + j) % 10000, s"l${i + j}", new Timestamp(base + (i + j) * 10000L))))
          r.addData((0 until m).map(j =>
            Ev((i + j) % 10000, s"r${i + j}", new Timestamp(base + (i + j) * 10000L))))
          val want = (i + m).toLong
          val deadline = System.currentTimeMillis() + 120000L
          while (spark.table(name).count() < want &&
                 System.currentTimeMillis() < deadline) Thread.sleep(20L)
          require(spark.table(name).count() >= want,
            s"faithful bench stalled at ${spark.table(name).count()}/$want")
          i += m
        }
        (2.0 * nEv) / ((System.nanoTime() - t0) / 1e9)
      } finally q.stop()
    }

    // Timeout-path complement to runFaithful: long retention above makes
    // the faithful headline a JOIN-ONLY number (no timeout ever fires, no
    // state is evicted — the retention dwarfs the bench's span by design).
    // This run drives lefts with NO rights under a short processing-time
    // timer, so EVERY event takes the schedule → wall-clock timer fire →
    // emit-with-null → evict path; wall time is ingestion + the engine
    // self-scheduling micro-batches (shouldRunAnotherBatch) until all
    // timeouts have emitted. The two metrics bracket the operator: joins
    // at full pressure vs timeouts at full pressure.
    def runFaithfulTimeout(nEv: Int, tag: String): Double = {
      val fCfg = LeftJoinOnTimeoutConfig(Duration.ofMillis(100),
        Duration.ofMillis(300), timeout = Some(Duration.ofMillis(400)))
      val l = MemoryStream[Ev]
      val r = MemoryStream[Ev]
      val out = FaithfulLeftJoin(l.toDF(), r.toDF(), LeftJoinOnTimeout.testJoiner, fCfg)
      val name = s"faithful_timeout_bench_$tag"
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        val t0 = System.nanoTime()
        var i = 0
        while (i < nEv) {
          val m = math.min(chunk, nEv - i)
          l.addData((0 until m).map(j =>
            Ev((i + j) % 10000, s"l${i + j}", new Timestamp(base + (i + j) * 10000L))))
          i += m
        }
        // every left is unmatched → exactly one timeout emission each;
        // poll (processAllAvailable spins against ProcessingTimeTimeout)
        val deadline = System.currentTimeMillis() + 300000L
        while (spark.table(name).count() < nEv &&
               System.currentTimeMillis() < deadline) Thread.sleep(50L)
        require(spark.table(name).count() >= nEv,
          s"timeout bench stalled at ${spark.table(name).count()}/$nEv")
        nEv.toDouble / ((System.nanoTime() - t0) / 1e9)
      } finally q.stop()
    }

    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val rocksProvider =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    run() // warm-up: state store init, codegen, JIT
    val eps = run()
    // idiomatic variant under the RocksDB state store — the spill-to-disk
    // configuration a production cluster runs the headline operator with
    // once keyed join state outgrows the executor heap
    // (the conf is read at query START, so setting it here scopes it)
    spark.conf.set(providerKey, rocksProvider)
    run() // warm-up: native lib load, column families
    val epsRocks = run()
    // tuned RocksDB: the default config does two pieces of maintenance on
    // the commit hot path — an exact row-count bookkeeping pass per store
    // commit (trackTotalNumberOfRows) and a full SST snapshot upload per
    // checkpoint; disabling the former and switching the latter to
    // changelog (delta) checkpointing is the documented production recipe
    // for write-heavy state (Spark structured-streaming tuning guide)
    val rocksTrackKey =
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
    val rocksChangelogKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    // (a third knob was MEASURED and rejected: compression=none drops the
    // tuned number 43.0k -> 38.7k ev/s — lz4's CPU cost is below its I/O
    // saving even on local SSD, so the default compression stays)
    spark.conf.set(rocksTrackKey, "false")
    spark.conf.set(rocksChangelogKey, "true")
    run() // warm-up under the tuned config
    val epsRocksTuned = run()
    spark.conf.unset(rocksTrackKey)
    spark.conf.unset(rocksChangelogKey)
    spark.conf.unset(providerKey)
    val nF = n / 2 // the faithful runs keep every row (retention dwarfs the span)
    runFaithful(nF, "warm") // warm-up
    val fps = runFaithful(nF, "main")
    // faithful variant under RocksDB, same rationale
    spark.conf.set(providerKey, rocksProvider)
    runFaithful(nF, "rocks_warm") // warm-up
    val fpsRocks = runFaithful(nF, "rocks_main")
    spark.conf.unset(providerKey)
    val nT = n / 4
    runFaithfulTimeout(nT, "warm") // warm-up
    val tps = runFaithfulTimeout(nT, "main")
    val nDocs = n / 10
    runDedup(nDocs) // warm-up
    val dps = runDedup(nDocs)
    // "stream_faithful_scope" records that the faithful events/sec numbers
    // measure the JOIN path only (long retention, no timer fires); the
    // timeout path has its own metric below
    val json = f"""{"metric":"stream_ljot_events_per_sec","value":${eps}%.0f,"unit":"events/sec","events":${2 * n},"micro_batches":${2 * n / chunk},"stream_ljot_rocksdb_events_per_sec":${epsRocks}%.0f,"stream_ljot_rocksdb_tuned_events_per_sec":${epsRocksTuned}%.0f,"stream_faithful_events_per_sec":${fps}%.0f,"stream_faithful_rocksdb_events_per_sec":${fpsRocks}%.0f,"faithful_events":${2 * nF},"stream_faithful_scope":"join_only","stream_faithful_timeout_events_per_sec":${tps}%.0f,"timeout_events":$nT,"stream_dedup_docs_per_sec":${dps}%.0f,"dedup_docs":$nDocs}"""
    println(json)
    sys.env.get("SPARK_GRAFT_STREAM_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    spark.stop()
  }
}
