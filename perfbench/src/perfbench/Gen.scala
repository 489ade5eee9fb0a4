package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.util.SplittableRandom

/** A Kafka wire record: key and value bytes plus the record timestamp —
 * the shape `KafkaTopics.decodeKeyedStream` reads. */
final case class Wire(key: Array[Byte], value: Array[Byte], timestamp: Timestamp)

/** Growable column of longs in fixed 64k-entry chunks, so appends never
 * copy and readers on another thread see a stable chunk table. */
final class LongColumn {
  private val chunks = new Array[Array[Long]](1 << 12)
  def apply(i: Int): Long = chunks(i >>> 16)(i & 0xffff)
  def update(i: Int, v: Long): Unit = {
    val c = i >>> 16
    if (chunks(c) == null) chunks(c) = new Array[Long](1 << 16)
    chunks(c)(i & 0xffff) = v
  }
}

/** The generated events of one side, indexed by id. Only the generator
 * thread appends; other threads read ids they received through a
 * MemoryStream, whose lock orders the writes before the reads. */
final class Events(val prefix: String) {
  val key = new LongColumn
  val tsMs = new LongColumn
  /** Creation instant on the `System.nanoTime` clock. */
  val createdNs = new LongColumn
  @volatile var size = 0

  def add(k: Long, ts: Long, ns: Long): Int = {
    val i = size
    key(i) = k; tsMs(i) = ts; createdNs(i) = ns
    size = i + 1
    i
  }
  def wire(i: Int): Wire =
    Wire(key(i).toString.getBytes(UTF_8), s"$prefix$i".getBytes(UTF_8), new Timestamp(tsMs(i)))
}

/** Workload parameters, as `key=value` pairs from the command line. */
final case class Params(m: Map[String, String]) {
  def str(k: String): String = m.getOrElse(k, sys.error(s"missing workload parameter $k"))
  def long(k: String): Long = str(k).toLong
  def int(k: String): Int = str(k).toInt
  def dbl(k: String): Double = str(k).toDouble
  def get(k: String): Option[String] = m.get(k)
}

/** Seeded event generator. Every random choice is drawn from one
 * `SplittableRandom` in event order, so a seed fixes the inputs; only the
 * wall-clock anchor of the timestamps differs between runs.
 *
 * Keys: lefts draw a key uniformly from [0, 2^40) or from a Zipf law over
 * [[Gen.ZipfKeys]] ranks. A left gets a partner right with probability
 * `match_share`: same key, created `u ∈ [0, D)` ms later, so the pair is
 * always in band. Every other right takes a key no left can have, so the
 * match share is exact and both sides carry the same event rate. */
final class Gen(p: Params, seed: Long) {
  val lefts = new Events("l")
  val rights = new Events("r")
  private val rnd = new SplittableRandom(seed)
  private val bandMs = p.long("band_ms")
  private val matchShare = p.dbl("match_share")
  private val zipf: Option[Array[Double]] = p.get("keys").filter(_ == "zipf").map { _ =>
    val w = Array.tabulate(Gen.ZipfKeys)(i => 1.0 / math.pow(i + 1, Gen.ZipfS))
    val cdf = w.scanLeft(0.0)(_ + _).tail
    cdf.map(_ / cdf.last)
  }
  private val KeySpace = 1L << 40

  private def leftKey(): Long = zipf match {
    case Some(cdf) =>
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      (if (i >= 0) i else -i - 1).toLong
    case None => rnd.nextLong(KeySpace)
  }
  private def orphanKey(): Long = KeySpace + rnd.nextLong(KeySpace)

  /** One left created at `ns`/`tsMs` and its right. Returns the two ids and
   * the right's creation offset in ms. */
  def pair(ns: Long, tsMs: Long, forceMatch: Boolean = false): (Int, Int, Long) = {
    val k = leftKey()
    val matched = forceMatch || rnd.nextDouble() < matchShare
    val u = if (forceMatch) 0L else rnd.nextLong(bandMs)
    val l = lefts.add(k, tsMs, ns)
    val r = rights.add(if (matched) k else orphanKey(), tsMs + u, ns + u * 1000000L)
    (l, r, u)
  }

  /** Delivery delay of one event, in ms, drawn uniformly from [0, jitter]. */
  def jitter(maxMs: Long): Long = if (maxMs <= 0) 0L else rnd.nextLong(maxMs + 1)
}

object Gen {
  /** Keys and exponent of the skewed key law: a few hot keys hold lists of
   * thousands of entries, while most keys stay cold. */
  val ZipfKeys = 1000
  val ZipfS = 1.0
}
