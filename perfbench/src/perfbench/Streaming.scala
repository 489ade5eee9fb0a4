package perfbench

import java.time.{Duration, Instant}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.ljot.{FaithfulLeftJoin, LeftJoinOnTimeout, LeftJoinOnTimeoutConfig}
import graft.sources.KafkaTopics

/** The benchmark's sink: it collects each micro-batch's Kafka-shaped rows
 * and stamps them with one delivery instant. A row's value is the test
 * joiner's output, `l<id>+r<id>` for a joined pair or `l<id>+` for a
 * timeout, so every row names the generated events it came from. */
final class Sink {
  val deliveredNs = mutable.ArrayBuffer.empty[Long]
  /** Exclusive end row of each delivered micro-batch. */
  val batchEnd = mutable.ArrayBuffer.empty[Int]
  val key = new LongColumn
  val left = new LongColumn
  /** Right id, or -1 for a timeout row. */
  val right = new LongColumn
  val tsMs = new LongColumn
  var rows = 0
  private val covered = mutable.BitSet.empty

  val write: (DataFrame, Long) => Unit = (df, _) => {
    val got = df.select(col("key"), col("value"), col("timestamp")).collect()
    val now = System.nanoTime()
    synchronized {
      got.foreach { row =>
        val k = row.getString(0).toLong
        val v = row.getString(1)
        if (k != Sink.SentinelKey) {
          val plus = v.indexOf('+')
          val l = v.substring(1, plus).toInt
          key(rows) = k
          left(rows) = l
          right(rows) = if (plus == v.length - 1) -1L else v.substring(plus + 2).toLong
          tsMs(rows) = row.getTimestamp(2).getTime
          covered += l
          rows += 1
        }
      }
      deliveredNs += now
      batchEnd += rows
    }
  }

  /** Number of distinct lefts with at least one delivered row. */
  def coveredLefts: Int = synchronized(covered.size)

  /** Whether each of the lefts `0 until n` has a delivered row. */
  def coversAll(n: Int): Boolean = synchronized((0 until n).forall(covered))
}

object Streaming {
  /** Micro-batch phases in the order a micro-batch runs them. */
  val Phases: Seq[String] =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
  /** Matched pairs each set-up delivers before it counts as warm. */
  val WarmupPairs = 500
  /** Seconds an open loop runs at its rate before the window opens, so that
   * the window sees the JIT and the operator state at steady state. */
  val LoadWarmupS = 6
  /** Left plus right events an open loop offers per second: a rate the
   * operators sustain on 4 cores with headroom, so that a run measures
   * latency, not backlog. */
  val RatePerS = 3000
  /** Matched pairs a closed loop adds per step. */
  val ClosedChunkPairs = 5000
  /** Longest the open loop runs on after the window while rows due inside
   * it are still undelivered. */
  val GraceCapS = 30
}

object Sink {
  /** Key of the two closing events that push the watermark past every
   * generated left; their joined row is not part of the output checked. */
  val SentinelKey = -1L
}

/** What one run measured: metrics by name, and lefts or queries attempted and failed. */
final case class Result(metrics: Map[String, Double], attempted: Long, failed: Long)

/** Streaming harness: MemoryStreams of Kafka wire rows →
 * `KafkaTopics.decodeKeyedStream` → the operator →
 * `KafkaTopics.encodeJoinedStream` → [[Sink]]. The workload's open loop
 * drives it, or, with `closedLoop`, a closed loop of matched pairs that
 * measures capacity. */
final class Streaming(spark: SparkSession, p: Params, seed: Long, work: String,
                      closedLoop: Boolean = false) {
  import spark.implicits._
  private implicit val wireEnc: Encoder[Wire] = Encoders.product[Wire]

  private val faithful = p.str("variant") == "faithful"
  private val bandMs = p.long("band_ms")
  private val retentionMs = p.long("retention_ms")
  private val jitterMs = p.long("jitter_ms")
  private val cfg = LeftJoinOnTimeoutConfig(Duration.ofMillis(bandMs), Duration.ofMillis(retentionMs), None)
  /** When a timeout row is due, measured from its left's creation: the
   * watermark delay plus the band for the event-time variant, the
   * configured timeout for the processing-time one. */
  private val dueAfterNs =
    (if (faithful) cfg.effectiveTimeout.toMillis else bandMs + retentionMs) * 1000000L
  private var queries = 0

  private final class Topology(val gen: Gen) {
    // one input partition per micro-batch: without it MemoryStream plans one
    // task for every addData call the batch covers
    val lIn: MemoryStream[Wire] = MemoryStream[Wire](1)(wireEnc, spark.sqlContext)
    val rIn: MemoryStream[Wire] = MemoryStream[Wire](1)(wireEnc, spark.sqlContext)
    val sink = new Sink
    private val t0 = System.nanoTime()
    private val out = {
      val l = KafkaTopics.decodeKeyedStream(lIn.toDF())
      val r = KafkaTopics.decodeKeyedStream(rIn.toDF())
      val joined =
        if (faithful) FaithfulLeftJoin(l, r, LeftJoinOnTimeout.testJoiner, cfg)
        else LeftJoinOnTimeout(l, r, LeftJoinOnTimeout.testJoiner, cfg)
      KafkaTopics.encodeJoinedStream(joined)
    }
    /** Time spent in the operator's `apply` and the two projections. */
    val buildMs: Double = (System.nanoTime() - t0) / 1e6
    queries += 1
    val query: StreamingQuery = out.writeStream
      .foreachBatch(sink.write)
      .option("checkpointLocation", s"$work/checkpoint-$queries")
      .outputMode("append")
      .start()

    def add(ls: Iterable[Int], rs: Iterable[Int]): Unit = {
      if (ls.nonEmpty) lIn.addData(ls.map(gen.lefts.wire))
      if (rs.nonEmpty) rIn.addData(rs.map(gen.rights.wire))
    }

    /** `n` matched pairs created now, delivered at once. */
    def addPairs(n: Int): Unit = {
      val ns = System.nanoTime()
      val ms = System.currentTimeMillis()
      val ids = Seq.fill(n)(gen.pair(ns, ms, forceMatch = true))
      add(ids.map(_._1), ids.map(_._2))
    }

    /** Waits until `n` lefts have rows, for at most `seconds`; false if
     * they never did. */
    def awaitCovered(n: Int, seconds: Int): Boolean = {
      val deadline = System.nanoTime() + seconds * 1000000000L
      while (sink.coveredLefts < n && System.nanoTime() < deadline) {
        require(query.isActive, s"query stopped: ${query.exception}")
        Thread.sleep(5)
      }
      sink.coveredLefts >= n
    }

    /** Waits for a micro-batch that started at or after `ms` (epoch) to
     * finish, for at most 60 s; returns its end, or now on time-out. */
    def awaitBatchStartedAfter(ms: Long): Long = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (System.nanoTime() < deadline) {
        val lp = query.lastProgress
        if (lp != null) {
          val start = Instant.parse(lp.timestamp).toEpochMilli
          if (start >= ms) return start + phase(lp, "triggerExecution").toLong
        }
        Thread.sleep(5)
      }
      System.currentTimeMillis()
    }
  }

  /** Open-loop generator: one pair is due every `2 / rate` seconds whatever
   * the query does, until [[finish]]; each event is released `jitter` ms
   * after its creation, so events arrive out of order but never later than
   * the watermark delay allows. */
  private final class OpenLoop(t: Topology) extends Thread("perfbench-generator") {
    private val periodNs = 2e9 / Streaming.RatePerS
    @volatile private var endNs = Long.MaxValue
    /** Per tick: how far behind schedule the most overdue released event was. */
    val lateMs = mutable.ArrayBuffer.empty[Double]
    /** (wall ms, cumulative events offered) after each tick. */
    val offered = mutable.ArrayBuffer.empty[(Long, Long)]
    @volatile var failure: Option[Throwable] = None
    /** Events offered so far. */
    @volatile var total = 0L
    @volatile var startMs = Long.MaxValue

    /** Creates no more events; the thread ends once it released the pending ones. */
    def finish(): Unit = endNs = System.nanoTime()

    override def run(): Unit =
      try loop() catch { case e: Throwable => failure = Some(e) }

    private def loop(): Unit = {
      val gen = t.gen
      val t0 = System.nanoTime()
      val w0 = System.currentTimeMillis()
      startMs = w0
      // (release ns, side 0 = left / 1 = right, id)
      val pending = new java.util.PriorityQueue[Array[Long]](
        (a: Array[Long], b: Array[Long]) => java.lang.Long.compare(a(0), b(0)))
      var next = 0L
      while (System.nanoTime() < endNs || !pending.isEmpty) {
        val now = System.nanoTime()
        var due = t0 + (next * periodNs).toLong
        while (due <= now && due < endNs) {
          val (l, r, u) = gen.pair(due, w0 + (due - t0) / 1000000L)
          pending.add(Array(due + gen.jitter(jitterMs) * 1000000L, 0L, l))
          pending.add(Array(due + (u + gen.jitter(jitterMs)) * 1000000L, 1L, r))
          next += 1
          due = t0 + (next * periodNs).toLong
        }
        val ls = mutable.ArrayBuffer.empty[Int]
        val rs = mutable.ArrayBuffer.empty[Int]
        var earliest = Long.MaxValue
        while (!pending.isEmpty && pending.peek()(0) <= now) {
          val e = pending.poll()
          earliest = math.min(earliest, e(0))
          if (e(1) == 0L) ls += e(2).toInt else rs += e(2).toInt
        }
        t.add(ls, rs)
        if (earliest != Long.MaxValue) lateMs += (System.nanoTime() - earliest) / 1e6
        total += ls.size + rs.size
        offered += ((System.currentTimeMillis(), total))
        LockSupport.parkNanos(2000000L)
      }
    }
  }

  /** Builds, starts and warms one topology; returns it and its set-up ms. */
  private def setUp(gen: Gen): (Topology, Double) = {
    val t0 = System.nanoTime()
    val t = new Topology(gen)
    t.addPairs(Streaming.WarmupPairs)
    require(t.awaitCovered(gen.lefts.size, 60), "warm-up rows were not delivered within 60 s")
    (t, (System.nanoTime() - t0) / 1e6)
  }

  def run(seconds: Double, tracer: Option[Tracer]): Result = {
    // Set up several times; the last topology is the measured one.
    val reps = if (closedLoop) 1 else Main.SetupReps
    val setups = (1 to reps).map { i =>
      val (t, ms) = setUp(new Gen(p, seed))
      if (i < reps) { t.query.stop(); Main.log(s"set-up $i stopped") }
      (t, ms)
    }
    val t = setups.last._1
    val gen = t.gen
    Main.log(s"set up ${reps}x, median ${Stats.median(setups.map(_._2)).round} ms")
    val generator = if (closedLoop) None else {
      val g = new OpenLoop(t)
      g.start()
      Thread.sleep(Streaming.LoadWarmupS * 1000L)
      Some(g)
    }
    tracer.foreach(_.reset())
    val host0 = Host.snap()
    val cpu0 = Host.cpuMs()
    val offered0 = generator.map(_.total).getOrElse(0L)
    val winStartNs = System.nanoTime()
    val winStartMs = System.currentTimeMillis()
    var closedEvents = 0L
    if (closedLoop) {
      while (System.nanoTime() - winStartNs < seconds * 1e9) {
        t.addPairs(Streaming.ClosedChunkPairs)
        t.query.processAllAvailable()
        closedEvents += 2L * Streaming.ClosedChunkPairs
      }
    } else Thread.sleep((seconds * 1000).toLong)
    val winEndNs = System.nanoTime()
    val winEndMs = System.currentTimeMillis()
    val host = host0.delta(Host.snap())
    val cpuMs = Host.cpuMs() - cpu0
    val offered = generator.map(_.total - offered0).getOrElse(closedEvents)
    Main.log(f"measured ${(winEndNs - winStartNs) / 1e9}%.1f s")
    generator.foreach { g =>
      g.failure.foreach(e => throw e)
      awaitDueRows(t, winEndNs, winEndMs)
      g.finish()
      g.join()
      g.failure.foreach(e => throw e)
      Main.log(f"rows due in the window delivered ${(System.nanoTime() - winEndNs) / 1e9}%.1f s after it")
    }
    flush(t)
    Main.log("flushed")
    t.query.stop()
    t.query.exception.foreach(e => throw e)

    val progress = t.query.recentProgress.toSeq
    val window = progress.filter { pr =>
      val s = Instant.parse(pr.timestamp).toEpochMilli
      s >= winStartMs && s < winEndMs
    }
    // events taken in per second: closed loop, over the window; open loop,
    // between the starts of the first and the last micro-batch of the
    // window (a micro-batch takes in what arrived since the previous one),
    // so that a window edge cutting a micro-batch does not skew the rate
    val eventsPerS =
      if (closedLoop) closedEvents / ((winEndNs - winStartNs) / 1e9)
      else {
        val starts = window.map(pr => Instant.parse(pr.timestamp).toEpochMilli)
        window.drop(1).map(_.numInputRows.toDouble).sum / ((starts.last - starts.head) / 1e3)
      }
    val lat = latencies(t.sink, gen, winStartNs, winEndNs)
    val (attempted, failed) = check(t.sink, gen)
    Main.log(s"checked: $failed of $attempted lefts failed")
    val genM = generator.map(g => genMetrics(g, progress, winStartMs, winEndMs))
      .getOrElse(Map("gen.late_p90_ms" -> 0.0, "gen.backlog_peak_events" -> 0.0))
    // The faithful variant's timeout rows are partly optional (a join on a
    // key cancels every timer pending on it), so their share of the rows
    // depends on timing; its latency is taken over joined rows alone.
    val e2eLat = if (faithful) lat("match") else lat("all")
    val e2e = Map(
      "cpu_ms_per_op" -> cpuMs / offered,
      "latency_p50_ms" -> Stats.median(e2eLat),
      "latency_p90_ms" -> Stats.quantile(e2eLat, 0.9))
    val m = e2e ++ host ++ genM ++ microBatchMetrics(window, progress) ++ Map(
      "events_per_s" -> eventsPerS,
      "match_p50_ms" -> orZero(Stats.median(lat("match"))),
      "match_p90_ms" -> orZero(Stats.quantile(lat("match"), 0.9)),
      "timeout_lag_p50_ms" -> orZero(Stats.median(lat("timeout"))),
      "timeout_lag_p90_ms" -> orZero(Stats.quantile(lat("timeout"), 0.9)),
      "latency_samples" -> e2eLat.size.toDouble,
      "setup_rep_ms" -> Stats.median(setups.map(_._2)),
      "ljot.build_ms" -> Stats.median(setups.map(_._1.buildMs)),
      "sink.rows_joined" -> (0 until t.sink.rows).count(i => t.sink.right(i) >= 0).toDouble,
      "sink.rows_timeout" -> (0 until t.sink.rows).count(i => t.sink.right(i) < 0).toDouble,
      "error_rate" -> failed.toDouble / attempted)
    val withTrace = tracer.map { tr =>
      val qid = t.query.id.toString
      val w = tr.window(winStartMs, winEndMs, _.prop("sql.streaming.queryId").contains(qid))
      tr.streamingSpans(w, window, winStartMs, winEndMs)
      val cores = spark.sparkContext.defaultParallelism.toDouble
      val trigger = window.map(pr => phase(pr, "triggerExecution")).sum
      m ++ w.metrics ++ tr.finish() ++ e2e.map { case (k, v) => s"traced.$k" -> v } ++ Map(
        "mb.fixed_share" -> (1.0 - w.metrics("task.run_ms") / (trigger * cores)))
    }.getOrElse(m)
    Result(withTrace, attempted, failed)
  }

  private def orZero(x: Double): Double = if (x.isNaN) 0.0 else x

  /** Keeps the open loop running after the window until the rows due inside
   * it are delivered, so that slow rows are not cut from the latencies: a
   * micro-batch that started after every event created in the window was
   * released, then two more, for the watermark eviction (idiomatic) or the
   * timers (faithful) due by the window's end; and, idiomatic, until each
   * left due by then has its row. At most [[Streaming.GraceCapS]]. */
  private def awaitDueRows(t: Topology, winEndNs: Long, winEndMs: Long): Unit = {
    val deadline = System.nanoTime() + Streaming.GraceCapS * 1000000000L
    var last = t.awaitBatchStartedAfter(winEndMs + jitterMs)
    (1 to 2).foreach(_ => last = t.awaitBatchStartedAfter(last))
    if (!faithful) {
      // lefts are created in id order
      val lefts = t.gen.lefts
      var due = 0
      while (due < lefts.size && lefts.createdNs(due) + dueAfterNs <= winEndNs) due += 1
      while (!t.sink.coversAll(due) && System.nanoTime() < deadline) Thread.sleep(5)
    }
  }

  /** Idiomatic: two sentinel events far in event time push the watermark
   * past every left, so each left's output is final; wait until every
   * left has a row, then one more micro-batch to catch duplicates.
   * Faithful: wait until every timer has fired. */
  private def flush(t: Topology): Unit = {
    val gen = t.gen
    if (faithful) {
      // a micro-batch that starts now takes in every left; each left's
      // timer is then due by that batch's end plus the timeout
      val taken = t.awaitBatchStartedAfter(System.currentTimeMillis())
      t.awaitBatchStartedAfter(taken + dueAfterNs / 1000000L + 1)
    } else {
      val far = math.max(gen.lefts.tsMs(gen.lefts.size - 1), gen.rights.tsMs(gen.rights.size - 1)) +
        10L * (bandMs + retentionMs) + 60000L
      val s = Wire(Sink.SentinelKey.toString.getBytes, "ls".getBytes, new java.sql.Timestamp(far))
      t.lIn.addData(Seq(s))
      t.rIn.addData(Seq(s.copy(value = "rs".getBytes)))
      // a left that never gets a row is counted as failed by `check`
      t.awaitCovered(gen.lefts.size, 30)
      Main.log("all lefts delivered")
      t.query.processAllAvailable()
    }
  }

  /** Lateness of every row due inside the measured window, in ms, whenever
   * it was delivered: its delivery minus the instant it was due, which is
   * the creation of the later of its two events for a joined row and the
   * left's creation plus the timeout delay for a timeout row. Rows of one
   * micro-batch share a delivery instant, but a window holds only a few
   * dozen micro-batches, too few to support a 90th percentile, while its
   * thousands of rows do. */
  private def latencies(sink: Sink, gen: Gen, from: Long, to: Long): Map[String, Seq[Double]] = {
    val all, matched, timedOut = mutable.ArrayBuffer.empty[Double]
    var start = 0
    sink.synchronized {
      sink.deliveredNs.indices.foreach { b =>
        val d = sink.deliveredNs(b)
        val end = sink.batchEnd(b)
        (start until end).foreach { i =>
          val l = sink.left(i).toInt
          val r = sink.right(i)
          val due =
            if (r < 0) gen.lefts.createdNs(l) + dueAfterNs
            else math.max(gen.lefts.createdNs(l), gen.rights.createdNs(r.toInt))
          if (due >= from && due <= to) {
            val ms = (d - due) / 1e6
            all += ms
            (if (r < 0) timedOut else matched) += ms
          }
        }
        start = end
      }
    }
    Map("all" -> all.toSeq, "match" -> matched.toSeq, "timeout" -> timedOut.toSeq)
  }

  private def phase(pr: StreamingQueryProgress, k: String): Double =
    Option(pr.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def microBatchMetrics(window: Seq[StreamingQueryProgress],
                                all: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def st(pr: StreamingQueryProgress) = pr.stateOperators.toSeq
    def stateSum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long): Double =
      window.map(pr => st(pr).map(f).sum.toDouble).sum
    def statePeak(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long): Double =
      (0.0 +: window.map(pr => st(pr).map(f).sum.toDouble)).max
    val triggers = window.map(phase(_, "triggerExecution"))
    Map(
      "mb.count" -> window.size.toDouble,
      "mb.nodata_count" -> window.count(_.numInputRows == 0).toDouble,
      "mb.trigger_ms_p50" -> orZero(Stats.median(triggers)),
      "mb.trigger_ms_p90" -> orZero(Stats.quantile(triggers, 0.9))) ++
      Streaming.Phases.map(k => s"mb.${k}_ms" -> orZero(Stats.median(window.map(phase(_, k))))) ++
      Map(
        "state.updates_ms" -> stateSum(_.allUpdatesTimeMs),
        "state.removals_ms" -> stateSum(_.allRemovalsTimeMs),
        "state.rows_removed" -> stateSum(_.numRowsRemoved),
        "state.rows_total_peak" -> statePeak(_.numRowsTotal),
        "state.memory_bytes_peak" -> statePeak(_.memoryUsedBytes),
        "state.commit_ms" -> stateSum(_.commitTimeMs),
        "state.rows_updated" -> stateSum(_.numRowsUpdated),
        // over the query's whole life, not just the window: any drop is an error
        "state.rows_dropped_by_watermark" ->
          all.map(pr => st(pr).map(_.numRowsDroppedByWatermark).sum.toDouble).sum)
  }

  /** Generator lateness (p90 over ticks) and peak backlog: events offered
   * minus events the query had taken in, at the end of each micro-batch
   * of the window. */
  private def genMetrics(g: OpenLoop, progress: Seq[StreamingQueryProgress],
                         from: Long, to: Long): Map[String, Double] = {
    val offered = g.offered.toArray
    def offeredAt(ms: Long): Long = {
      var lo = 0
      var hi = offered.length
      while (lo < hi) { val mid = (lo + hi) / 2; if (offered(mid)._1 <= ms) lo = mid + 1 else hi = mid }
      if (lo == 0) 0L else offered(lo - 1)._2
    }
    // the set-up's warm-up rows were all taken in before the generator started
    var committed = 0L
    var peak = 0L
    progress.foreach { pr =>
      val start = Instant.parse(pr.timestamp).toEpochMilli
      val end = start + phase(pr, "triggerExecution").toLong
      if (start >= g.startMs) committed += pr.numInputRows
      if (start >= from && start < to) peak = math.max(peak, offeredAt(end) - committed)
    }
    Map("gen.late_p90_ms" -> Stats.quantile(g.lateMs, 0.9),
        "gen.backlog_peak_events" -> peak.toDouble)
  }

  /** Checks the sink against a batch evaluation of the same generated
   * input and returns (lefts attempted, lefts failed).
   *
   * Idiomatic: per left, the delivered rows must equal the rows batch
   * `LeftJoinOnTimeout.apply` gives it — its joined rows, or exactly one
   * timeout row. Faithful: the joined rows must equal batch
   * `LeftJoinOnTimeout.innerJoin`; no left may time out twice; and a left
   * with no in-band right, on a key that no joined row has, must time out
   * exactly once (key-level cancellation makes the other timeouts
   * order-dependent). A delivered row whose key or timestamp differs from
   * its left's is wrong. */
  private def check(sink: Sink, gen: Gen): (Long, Long) = {
    def frame(e: Events): DataFrame =
      (0 until e.size).map(i => (e.key(i), s"${e.prefix}$i", new java.sql.Timestamp(e.tsMs(i))))
        .toDF("key", "value", "ts")
    val l = frame(gen.lefts)
    val r = frame(gen.rights)
    val ref =
      if (faithful) LeftJoinOnTimeout.innerJoin(l, r, LeftJoinOnTimeout.testJoiner, cfg)
      else LeftJoinOnTimeout(l, r, LeftJoinOnTimeout.testJoiner, cfg)
    val n = gen.lefts.size
    val expected = Array.fill(n)(List.empty[Long])
    val joinedKeys = mutable.HashSet.empty[Long]
    ref.select("key", "joined").collect().foreach { row =>
      val v = row.getString(1)
      val plus = v.indexOf('+')
      val li = v.substring(1, plus).toInt
      expected(li) = (if (plus == v.length - 1) -1L else v.substring(plus + 2).toLong) :: expected(li)
      if (plus < v.length - 1) joinedKeys += row.getLong(0)
    }
    val got = Array.fill(n)(List.empty[Long])
    val wrong = mutable.BitSet.empty
    sink.synchronized {
      (0 until sink.rows).foreach { i =>
        val li = sink.left(i).toInt
        got(li) = sink.right(i) :: got(li)
        if (sink.key(i) != gen.lefts.key(li) || sink.tsMs(i) != gen.lefts.tsMs(li)) wrong += li
      }
    }
    var reported = 0
    val failed = (0 until n).count { li =>
      val ok =
        if (!faithful) got(li).sorted == expected(li).sorted
        else {
          val (timeouts, joins) = got(li).partition(_ < 0)
          val mustTimeOut = expected(li).isEmpty && !joinedKeys.contains(gen.lefts.key(li))
          joins.sorted == expected(li).sorted && timeouts.size <= 1 &&
            (!mustTimeOut || timeouts.size == 1)
        }
      val bad = !ok || wrong.contains(li)
      if (bad && reported < 5) {
        reported += 1
        System.err.println(s"[perfbench] left $li (key ${gen.lefts.key(li)}): expected " +
          s"${expected(li).sorted.mkString(",")}, delivered ${got(li).sorted.mkString(",")}")
      }
      bad
    }
    (n.toLong, failed.toLong)
  }
}
