package graft.streaming

import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.time.Duration

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestHarness
import graft.ljot.{LeftJoinOnTimeout, LeftJoinOnTimeoutConfig}
import graft.operators.{TextDedup, VectorOps}

/** One generated event: a join row on its side, a document and a vector. */
case class Ev(id: Long, key: Long, value: String, ts: Timestamp, text: String,
              embedding: Seq[Float])

/** The rows one micro-batch of each side receives. */
case class Cut(lefts: Seq[Ev], rights: Seq[Ev]) {
  def all: Seq[Ev] = lefts ++ rights
}

/** One seed's input: the micro-batch cuts, the ids of the late rows among
 * them, the semantic-dedup standing corpus and the flush rows' event time. */
case class CatalogInput(cuts: Seq[Cut], late: Set[Long], standing: Seq[Ev], flushTs: Long) {
  val rows: Seq[Ev] = cuts.flatMap(_.all)
  val onTime: Seq[Ev] = rows.filterNot(e => late(e.id))
  val tsOf: Map[Long, Long] = rows.map(e => e.id -> e.ts.getTime).toMap

  /** The newest on-time event time of the cuts before b among the rows an
   * operator's watermark `sees` (a filter Spark pushes below the watermark
   * hides the rest); `bySide` takes the slower side's, as a two-input
   * query's min watermark does. Micro-batch b runs with this minus the
   * watermark delay. */
  def newestBefore(b: Int, bySide: Boolean, sees: Ev => Boolean): Option[Long] = {
    def newest(evs: Seq[Ev]) = evs.filter(e => !late(e.id) && sees(e)).map(_.ts.getTime).maxOption
    val prior = cuts.take(b)
    if (bySide) (newest(prior.flatMap(_.lefts)) ++ newest(prior.flatMap(_.rights))).minOption
    else newest(prior.flatMap(_.all))
  }

  /** The on-time rows of cuts 0..b within `span` behind [[newestBefore]] b:
   * an operator that keeps `span` of event time behind its newest event
   * holds state for no other rows after cut b's micro-batch (or the no-data
   * batch that follows it). */
  def recent(b: Int, span: Long, bySide: Boolean = false, sees: Ev => Boolean = _ => true): Seq[Ev] = {
    val horizon = newestBefore(b, bySide, sees)
    cuts.take(b + 1).flatMap(_.all)
      .filter(e => !late(e.id) && sees(e) && horizon.forall(h => e.ts.getTime >= h - span))
  }
}

/** The seeded input every streaming operator of the catalog is checked on.
 *
 *  - Era A: two cuts 2–5 s apart, each row up to [[Lag]] behind its cut's
 *    time (out of order, but inside every watermark delay), then one cut
 *    whose rows all trail the newest event by 3–6 s.
 *  - An idle stretch: two heartbeat cuts (key 0, no text) move event time
 *    [[Stretch]] past era A, so keyed state behind them idles out.
 *  - Era B: two cuts; the second also carries four rows from era A's first
 *    seconds, far below every watermark — the late rows.
 *  - A flush cut 10 minutes later (keys 98/99, one token) closes everything.
 *
 * Planted in the first cut of each era: a near-duplicate document within
 * 2 s of its original; in era B also a copy of an era-A document (a
 * batch-verified pair spanning more than retention); vectors next to
 * standing vectors 0 and 1 in era A (within retention of the standing
 * corpus) and next to standing vector 2 in era B (far past it). */
object CatalogInput {
  val Base = 1000000000000L
  /** Every operator's watermark delay and the join family's R. */
  val Delay = 10000L
  val Band = 4000L
  val Window = 10000L
  /** How far an on-time row may trail its cut's time. */
  val Lag = 7000L
  val Stretch = 24000L
  val Standing = 12

  def apply(seed: Int): CatalogInput = {
    val rnd = new Random(seed)
    var seq = 0L
    val zipf = (1 to 30).map(1.0 / _)
    def word(): String = {
      var x = rnd.nextDouble() * zipf.sum
      var i = 0
      while (i < zipf.size - 1 && x > zipf(i)) { x -= zipf(i); i += 1 }
      s"w$i"
    }
    def text(id: Long): String = {
      val ws = scala.collection.mutable.ArrayBuffer.fill(8 + rnd.nextInt(5))(word())
      ws.insert(rnd.nextInt(ws.size + 1), s"u${id}a")
      ws.insert(rnd.nextInt(ws.size + 1), s"u${id}b")
      ws.mkString(" ")
    }
    val dim = VectorOps.Dim
    // standing vectors are one-hot in the lower half; stream vectors live in
    // the upper half, so only planted neighbours come near a standing one
    def upper(): Seq[Float] =
      (0 until dim).map(d => if (d >= dim / 2) rnd.nextGaussian().toFloat else 0f)
    def near(j: Int): Seq[Float] =
      (0 until dim).map(d => ((if (d == j) 1.0 else 0.0) + 0.05 * rnd.nextGaussian()).toFloat)
    def ev(key: Long, side: String, ts: Long, txt: Option[String] = None): Ev = {
      seq += 1
      val id = seq * VectorOps.SemIncNewMod // stream ids are the batch twin's "new" side
      Ev(id, key, s"$side$id", new Timestamp(ts), txt.getOrElse(text(id)), upper())
    }
    def cut(t: Long, minLag: Long): Cut = {
      def side(s: String) = Seq.fill(2 + rnd.nextInt(3))(
        ev(1L + rnd.nextInt(6), s, t - minLag - rnd.nextLong(Lag - minLag + 1)))
      Cut(side("l"), side("r"))
    }
    /** `c` plus a near-duplicate (one word appended) of its `i`-th right, or
     * of `of`, within 2 s of the original where the cut's time allows. */
    def copyOf(c: Cut, i: Int, t: Long, of: Ev = null): Cut = {
      val o = Option(of).getOrElse(c.rights(i))
      val ts = math.max(t - Lag, math.min(t, o.ts.getTime - 2000 + rnd.nextLong(4001)))
      c.copy(lefts = c.lefts :+ ev(1L + rnd.nextInt(6), "l", ts, Some(o.text + " " + word())))
    }
    def heartbeat(t: Long, lk: Long, rk: Long) =
      Cut(Seq(ev(lk, "l", t, Some(""))), Seq(ev(rk, "r", t, Some(""))))
    def withVec(c: Cut, t: Long, v: Seq[Float]): Cut =
      c.copy(lefts = c.lefts :+ ev(1L + rnd.nextInt(6), "l", t - rnd.nextLong(Lag + 1)).copy(embedding = v))

    val t0 = Base + 20000L
    val standing = (0 until Standing).map { j =>
      Ev(j * VectorOps.SemIncNewMod + 1L, 0L, "", new Timestamp(t0 - Lag), "",
        (0 until dim).map(d => if (d == j) 1f else 0f))
    }
    val steps = Iterator.continually(2000L + rnd.nextLong(3001))
    val a1 = t0 + steps.next()
    val eraA = Seq(copyOf(withVec(withVec(cut(t0, 0L), t0, near(0)), t0, near(1)), 0, t0), cut(a1, 0L))
    val m = eraA.flatMap(_.all).map(_.ts.getTime).max
    val outOfOrder = cut(m + 1000L, 4000L)
    val stretch = Seq(heartbeat(m + Stretch / 2, 0L, 0L), heartbeat(m + Stretch, 0L, 0L))
    val (b0, b1) = (m + Stretch + steps.next(), m + Stretch + 8000L)
    val lateRows = Seq.fill(4)(ev(1L + rnd.nextInt(6), "x", t0 - Lag + rnd.nextLong(8000)))
    val c1 = cut(b1, 0L)
    val eraB = Seq(copyOf(copyOf(withVec(cut(b0, 0L), b0, near(2)), 0, b0, eraA(1).lefts.head), 1, b0),
      Cut(c1.lefts ++ lateRows.take(2), c1.rights ++ lateRows.drop(2)))
    val flushTs = b1 + 600000L
    val flush = Cut(Seq(ev(98L, "l", flushTs, Some("flush"))), Seq(ev(99L, "r", flushTs, Some("flush"))))
    val cuts = (eraA :+ outOfOrder) ++ stretch ++ eraB :+ flush
    CatalogInput(cuts, lateRows.map(_.id).toSet, standing, flushTs)
  }
}

/** Every streaming operator of the catalog — the interval family (left,
 * inner, full-outer), streaming MinHash candidates, streaming semantic
 * dedup, `trendingTokens` and the three windowed sketches — run on one
 * seeded input (random micro-batch cuts, out-of-order rows, an idle
 * stretch, known late rows; [[CatalogInput]]) and checked three ways:
 *
 *  1. Outputs on the on-time rows equal the operator's batch twin, or meet
 *     the guarantee its scaladoc states where the answer depends on the
 *     merge order or on retention: the Misra–Gries bounds for
 *     `trendingTokens` and `windowedMgHitters`, coverage of the
 *     batch-verified pairs for MinHash.
 *  2. `numRowsDroppedByWatermark` equals the late rows as the operator's
 *     state operator sees them (rows, tokens, band postings, or — for the
 *     windowed aggregates — windows; see [[lateWindows]]).
 *  3. After every micro-batch, `numRowsTotal` stays within the bound the
 *     operator's scaladoc states, evaluated on the rows of
 *     [[CatalogInput.recent]].
 *
 * The nine queries of a seed run side by side, each from its own
 * MemoryStreams, and every cut is processed by all of them before the
 * next is added, so every query sees the same micro-batches. */
class StreamingCatalogPropertySpec extends AnyFunSuite with SparkTestHarness {
  import CatalogInput._
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val cfg = LeftJoinOnTimeoutConfig(Duration.ofMillis(Band), Duration.ofMillis(Delay))
  private val delay = s"$Delay milliseconds"
  private val window = s"$Window milliseconds"
  private val retention = Duration.ofMillis(Delay)
  /** A shard that idles through the stretch keeps its state: its timer is
   * its newest event plus this, 2 s past the stretch's last watermark. */
  private val trendRetention = Duration.ofMillis(Stretch - Delay + 2000L)
  private val (kmvK, mgK, cmDepth, cmWidth) = (8, 4, 4, 32)

  private def docs(df: DataFrame) = df.select(col("id").as("doc_id"), col("text"), col("ts"))
  private def vecs(df: DataFrame) = df.select(col("id").as("vec_id"), col("embedding"), col("ts"))
  private def keyed(df: DataFrame) = df.select(col("id").as("key"), col("ts"))
  private def frame(evs: Seq[Ev]): DataFrame = evs.toDF()
  private def tokens(e: Ev): Seq[String] = e.text.split(" ").toSeq.filter(_.nonEmpty)
  private def windowOf(ms: Long): Long = Math.floorDiv(ms, Window) * Window
  /** Late rows as a windowed aggregate's state operator counts them: Spark
   * drops them at the state store, after the partial and merge aggregates,
   * so each micro-batch counts one row per window its late rows fall in.
   * All late rows arrive in one micro-batch. */
  private def lateWindows(in: CatalogInput, withTokens: Boolean): Long =
    in.rows.filter(e => in.late(e.id) && (!withTokens || tokens(e).nonEmpty))
      .map(e => windowOf(e.ts.getTime)).distinct.size.toLong
  private def sorted(df: DataFrame, keep: Row => Boolean = _ => true): Seq[String] =
    df.collect().filter(keep).map(_.toString).sorted.toSeq

  /** One operator under test: its query, the streams it reads and what each
   * takes from a cut, the rows its watermark sees, its late count and its
   * state bound after cut b. */
  private final class Op(val name: String, val q: StreamingQuery,
                         val feeds: Seq[(MemoryStream[Ev], Cut => Seq[Ev])],
                         val sees: Ev => Boolean, val late: Long, val bound: Int => Long) {
    def bySide: Boolean = feeds.size == 2
  }

  for (seed <- 1 to 5) test(s"streaming catalog ≡ batch twins, late counts and state bounds " +
                            s"(seed $seed)") {
    val in = CatalogInput(seed)
    val onTime = in.onTime
    val lateRows = in.rows.filter(e => in.late(e.id))
    assert(lateRows.nonEmpty && lateRows.forall(e => tokens(e).size >= 3))
    val out = java.nio.file.Files.createTempDirectory("catalog_trending").toString
    // the alerts land through the exactly-once sink; each of its writes is a
    // parquet job, so the micro-batches without an alert are skipped
    def alertSink(batch: DataFrame, batchId: Long): Unit = {
      batch.persist()
      try if (!batch.isEmpty) StreamingOps.idempotentParquet(out)(batch, batchId)
      finally batch.unpersist()
    }
    def memory(df: DataFrame, name: String) =
      df.writeStream.format("memory").queryName(s"catalog_${name}_$seed").outputMode("append").start()
    def single(name: String, late: Long, bound: Int => Long, sees: Ev => Boolean = _ => true)(
        build: DataFrame => StreamingQuery): Op = {
      val s = MemoryStream[Ev]
      new Op(name, build(s.toDF()), Seq(s -> ((c: Cut) => c.all)), sees, late, bound)
    }
    def joined(name: String, bound: Int => Long)(build: (DataFrame, DataFrame) => StreamingQuery) = {
      val (l, r) = (MemoryStream[Ev], MemoryStream[Ev])
      new Op(name, build(l.toDF(), r.toDF()), Seq(l -> ((c: Cut) => c.lefts), r -> ((c: Cut) => c.rights)),
        _ => true, lateRows.size.toLong, bound)
    }
    // MinHash drops documents without a 3-word shingle, and Count-Min rows
    // without a token, before the watermark
    val shingled = (e: Ev) => tokens(e).size >= 3
    val tokened = (e: Ev) => tokens(e).nonEmpty
    // the semantic twin's corpus: the standing vectors and the stream
    // vectors within retention of them, banded as the batch operator bands it
    val within = onTime.filter(e => math.abs(e.ts.getTime - in.standing.head.ts.getTime) <= Delay)
    val bandTable = VectorOps.bandTableFor(VectorOps.SemDedupSim)
    val semRows = VectorOps.nearDupRowsFor((in.standing ++ within).size.toLong, bandTable.keys.max)
    val semBands = bandTable(semRows)
    val threshold = onTime.map(tokens(_).size).sum / (StreamingOps.MgK + 1) + 1L
    val span = Delay + Band
    def windows(sees: Ev => Boolean) = (b: Int) =>
      in.recent(b, Delay + Window, sees = sees).map(e => windowOf(e.ts.getTime)).distinct.size.toLong

    // one state partition per query: the nine queries already run side by
    // side, and every partition's state store writes its own files per batch
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val ops = try Seq(
      joined("left", b => in.recent(b, span, bySide = true).map(_.key).distinct.size.toLong) { (l, r) =>
        memory(LeftJoinOnTimeout.apply(l, r, LeftJoinOnTimeout.testJoiner, cfg), "left")
      },
      joined("inner", b => in.recent(b, span, bySide = true).size.toLong) { (l, r) =>
        memory(LeftJoinOnTimeout.innerJoin(l, r, LeftJoinOnTimeout.testJoiner, cfg), "inner")
      },
      joined("full", b => in.recent(b, span, bySide = true).size.toLong) { (l, r) =>
        memory(LeftJoinOnTimeout.fullOuterJoin(l, r, cfg), "full")
      },
      single("minhash", lateRows.size.toLong * TextDedup.LshBands,
          b => in.recent(b, 2 * Delay, sees = shingled).size.toLong * TextDedup.LshBands, shingled) { s =>
        memory(TextDedup.streamingMinhashCandidates(docs(s), retention), "minhash")
      },
      single("semantic", lateRows.size.toLong * semBands, _ => in.standing.size.toLong * semBands) { s =>
        memory(VectorOps.streamingSemanticIncremental(vecs(s), vecs(frame(in.standing)),
          retention, semRows, semBands), "semantic")
      },
      single("trending", lateRows.map(tokens(_).size).sum.toLong, _ => 1L) { s =>
        StreamingOps.trendingTokens(s, shards = 1, threshold, delay, trendRetention)
          .writeStream.foreachBatch(alertSink _).start()
      },
      single("kmv", lateWindows(in, withTokens = false), windows(_ => true)) { s =>
        memory(StreamingOps.windowedKmvDistinct(keyed(s), window, delay, kmvK), "kmv")
      },
      single("mg", lateWindows(in, withTokens = false), windows(_ => true)) { s =>
        memory(StreamingOps.windowedMgHitters(s, window, delay, mgK), "mg")
      },
      single("cm", lateWindows(in, withTokens = true), windows(tokened), tokened) { s =>
        memory(StreamingOps.windowedCmGrid(s, window, delay, cmDepth, cmWidth), "cm")
      })
    finally spark.conf.set("spark.sql.shuffle.partitions", partitions)

    try {
      // the last batch id each query had run after each cut
      // (settled: the no-data batch a watermark advance needs has run too)
      val lastBatch = in.cuts.indices.map { b =>
        ops.foreach(_.feeds.foreach { case (s, take) => s.addData(take(in.cuts(b))) })
        ops.map { op =>
          settleWatermark(op.q, in.newestBefore(b + 1, op.bySide, op.sees).get - Delay)
          op.q.lastProgress.batchId
        }
      }

      for ((op, i) <- ops.zipWithIndex) {
        val progress: Seq[StreamingQueryProgress] = op.q.recentProgress.toSeq
        assert(progress.head.batchId <= 0L, s"${op.name}: progress history was truncated")
        val dropped = progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
        assert(dropped === op.late, s"${op.name}: late rows dropped")
        progress.filter(_.stateOperators.nonEmpty).foreach { p =>
          val b = lastBatch.indexWhere(_(i) >= p.batchId) match {
            case -1 => in.cuts.size - 1
            case c  => c
          }
          val rows = p.stateOperators.map(_.numRowsTotal).sum
          assert(rows <= op.bound(b), s"${op.name}: $rows state rows after batch ${p.batchId} " +
            s"(cut $b), bound ${op.bound(b)}")
        }
      }

      val sentinel = (r: Row) => r.getLong(0) < 90L
      val (ls, rs) = (frame(in.cuts.flatMap(_.lefts).filter(e => !in.late(e.id))),
                      frame(in.cuts.flatMap(_.rights).filter(e => !in.late(e.id))))
      assert(sorted(spark.table(s"catalog_left_$seed"), sentinel) ===
        sorted(LeftJoinOnTimeout.apply(ls, rs, LeftJoinOnTimeout.testJoiner, cfg), sentinel),
        "left join ≠ batch twin")
      assert(sorted(spark.table(s"catalog_inner_$seed"), sentinel) ===
        sorted(LeftJoinOnTimeout.innerJoin(ls, rs, LeftJoinOnTimeout.testJoiner, cfg), sentinel),
        "inner join ≠ batch twin")
      assert(sorted(spark.table(s"catalog_full_$seed"), sentinel) ===
        sorted(LeftJoinOnTimeout.fullOuterJoin(ls, rs, cfg), sentinel), "full-outer join ≠ batch twin")

      checkMinhash(in, spark.table(s"catalog_minhash_$seed"))
      checkSemantic(in, within, spark.table(s"catalog_semantic_$seed"))
      checkTrending(in, threshold, spark.read.parquet(out).drop("batch_id"))

      val open = (r: Row) => r.getTimestamp(0).getTime < windowOf(in.flushTs)
      val kmv = sorted(spark.table(s"catalog_kmv_$seed"), open)
      assert(kmv === sorted(StreamingOps.windowedKmvDistinct(keyed(frame(onTime)), window, delay, kmvK),
        open), "windowed KMV ≠ batch twin")
      val saturated = spark.table(s"catalog_kmv_$seed").collect().map(_.getLong(2))
      assert(saturated.contains(kmvK.toLong) && saturated.exists(_ < kmvK),
        "the input exercises both the KMV estimator and the exact branch")
      checkMg(in, spark.table(s"catalog_mg_$seed"))
      val cm = spark.table(s"catalog_cm_$seed")
      assert(sorted(cm, open) === sorted(StreamingOps.windowedCmGrid(frame(onTime), window, delay,
        cmDepth, cmWidth), open), "windowed Count-Min ≠ batch twin")
      checkCmCounts(in, cm)
    } finally {
      ops.foreach(_.q.stop())
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  /** Every batch-verified pair within retention minus [[Lag]] of each other
   * surfaces — a doc stays in its bucket while the bucket's newest arrival is
   * within retention of it, and no arrival trails the newest event by more
   * than Lag — with a sound estimate; no candidate spans more than retention
   * or holds a late doc. */
  private def checkMinhash(in: CatalogInput, got: DataFrame): Unit = {
    val cand = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val span = (p: (Long, Long)) => math.abs(in.tsOf(p._1) - in.tsOf(p._2))
    cand.foreach { case (a, b, est) =>
      assert(a < b && est >= 0.0 && est <= 1.0 && !in.late(a) && !in.late(b), s"candidate ($a, $b, $est)")
      assert(span((a, b)) <= Delay, s"candidate ($a, $b) spans ${span((a, b))} ms")
    }
    val batch = TextDedup.minhashLsh(docs(frame(in.onTime))).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val due = batch.filter(span(_) <= Delay - Lag)
    assert(due.nonEmpty && batch.exists(span(_) > Delay), s"planted pairs missing from $batch")
    val estOf = cand.groupBy(c => (c._1, c._2)).view.mapValues(_.map(_._3).max).toMap
    assert(due.subsetOf(estOf.keySet), s"batch-verified pairs not surfaced: ${due -- estOf.keySet}")
    due.foreach(p => assert(estOf(p) >= 0.5, s"pair $p est ${estOf(p)} too low for J >= 0.8"))
  }

  /** The new vectors with a hit are the batch twin's dropped set over the
   * standing corpus and the stream vectors within retention of it. */
  private def checkSemantic(in: CatalogInput, within: Seq[Ev], got: DataFrame): Unit = {
    val hits = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val dropped = VectorOps.semanticIncremental(vecs(frame(in.standing ++ within))).collect()
      .filter(!_.getBoolean(1)).map(_.getLong(0)).toSet
    assert(dropped.nonEmpty, "the first cut plants neighbours of standing vectors")
    assert(hits.map(_._1).toSet === dropped, "semantic dedup ≠ batch twin")
    hits.foreach { case (n, o, sim) =>
      assert(n % VectorOps.SemIncNewMod == 0L && o % VectorOps.SemIncNewMod != 0L &&
        sim >= VectorOps.SemDedupSim, s"hit ($n, $o, $sim)")
    }
  }

  /** Misra–Gries over the shard's n on-time tokens with `threshold` above
   * n/(k+1): no alerted counter can be decremented away, so the one shard
   * — which idles through the stretch without clearing — alerts each token
   * at most once, at the crossing itself; only tokens whose true count
   * reaches the threshold alert, and every token whose count reaches
   * threshold + n/(k+1) does. */
  private def checkTrending(in: CatalogInput, threshold: Long, got: DataFrame): Unit = {
    val alerts = got.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val counts = in.onTime.flatMap(tokens).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val slack = counts.values.sum / (StreamingOps.MgK + 1)
    val alerted = alerts.map(_._1)
    assert(alerted.distinct === alerted, s"a token alerted twice: $alerts")
    alerts.foreach { case (t, est) =>
      assert(est === threshold && counts(t) >= threshold, s"alert ($t, $est), true ${counts(t)}")
    }
    val heavy = counts.filter(_._2 >= threshold + slack).keySet
    assert(heavy.nonEmpty && heavy.subsetOf(alerted.toSet), s"heavy tokens missing: ${heavy -- alerted}")
  }

  /** Per window: at most k counters, the exact stream length, est ≤ true ≤
   * est + n/(k+1), every token above n/(k+1) retained, and exact counts
   * where the window holds at most k distinct tokens. */
  private def checkMg(in: CatalogInput, got: DataFrame): Unit = {
    val rows = got.collect().map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getLong(3)))
    val truth = in.onTime.filter(_.ts.getTime < in.flushTs)
      .flatMap(e => tokens(e).map(windowOf(e.ts.getTime) -> _))
      .groupBy(_._1).view.mapValues(_.map(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap).toMap
    assert(rows.map(_._1).toSet === truth.keySet, "windowed MG windows")
    rows.groupBy(_._1).foreach { case (w, es) =>
      val counts = truth(w)
      val n = counts.values.sum
      val slack = n.toDouble / (mgK + 1)
      assert(es.length <= mgK && es.forall(_._4 === n), s"window $w: $es")
      es.foreach { case (_, t, est, _) =>
        assert(est <= counts(t) && counts(t) <= est + slack, s"window $w: $t est $est true ${counts(t)}")
      }
      assert(counts.filter(_._2 > slack).keySet.subsetOf(es.map(_._2).toSet), s"window $w lost a heavy token")
      if (counts.size <= mgK) assert(es.map(e => e._2 -> e._3).toMap === counts, s"window $w not exact")
    }
  }

  /** Per window: the exact token count, and no token's point estimate
   * undercounts it. */
  private def checkCmCounts(in: CatalogInput, got: DataFrame): Unit = {
    val truth = in.onTime.flatMap(e => tokens(e).map(windowOf(e.ts.getTime) -> _)).groupBy(_._1)
    got.collect().foreach { r =>
      val (w, n, grid) = (r.getTimestamp(0).getTime, r.getLong(2), r.getSeq[Long](3))
      val toks = truth(w).map(_._2)
      assert(n === toks.size.toLong, s"window $w token count")
      toks.groupBy(identity).foreach { case (t, occ) =>
        val digest = java.security.MessageDigest.getInstance("MD5").digest(t.getBytes(StandardCharsets.UTF_8))
        val est = (0 until cmDepth).map(i => grid(i * cmWidth + graft.plans.CMSketch.bucket(digest, i, cmWidth))).min
        assert(est >= occ.size, s"window $w: $t estimated $est < ${occ.size}")
      }
    }
  }
}
