package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpectsInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Misra-Gries heavy-hitters sketch state: at most `k` counters plus the
 * total stream length `n`. The classic deterministic frequent-items
 * summary (Misra & Gries 1982; the merge rule is Agarwal et al. PODS'12
 * "Mergeable Summaries"): after any sequence of updates and merges,
 * every item with true frequency > n/(k+1) is present, and each
 * reported count underestimates the true frequency by at most n/(k+1).
 */
final class MGSketch(val k: Int) {
  val counts: mutable.HashMap[String, Long] = mutable.HashMap.empty
  var n: Long = 0L

  /** One stream item: increment, admit, or decrement-all. Amortized
   * O(1): each decrement-all removes k+1 total count mass and every
   * update adds 1, so decrement events are ≤ n/(k+1). */
  def add(tok: String): Unit = {
    n += 1
    counts.get(tok) match {
      case Some(c) => counts.update(tok, c + 1)
      case None if counts.size < k => counts.update(tok, 1L)
      case None =>
        val dead = mutable.ArrayBuffer.empty[String]
        counts.mapValuesInPlace((_, c) => c - 1)
        counts.foreach { case (t, c) => if (c == 0L) dead += t }
        dead.foreach(counts.remove)
    }
  }

  /** Mergeable-summaries merge: add counters pointwise, then reduce back
   * to k counters by subtracting the (k+1)-th largest count from every
   * counter (the batched decrement-all) — preserves the n/(k+1) error
   * bound of the COMBINED stream. */
  def merge(other: MGSketch): MGSketch = {
    n += other.n
    other.counts.foreach { case (t, c) =>
      counts.update(t, counts.getOrElse(t, 0L) + c)
    }
    if (counts.size > k) {
      val cut = counts.values.toArray.sorted(Ordering[Long].reverse).apply(k)
      val dead = mutable.ArrayBuffer.empty[String]
      counts.mapValuesInPlace((_, c) => c - cut)
      counts.foreach { case (t, c) => if (c <= 0L) dead += t }
      dead.foreach(counts.remove)
    }
    this
  }
}

/**
 * `misra_gries(tokens, k)` — native Catalyst heavy-hitters aggregate
 * over `ARRAY<STRING>` rows (each row's array streams element-wise into
 * the sketch). The batch/Catalyst-native twin of the streaming
 * Misra-Gries trending detector (`StreamingOps`), and the third member
 * of the engine's mergeable-sketch family next to HLL
 * (`approx_distinct_users`) and Greenwald-Khanna
 * (`length_quantiles_approx`).
 *
 * Why an aggregate and not an exact groupBy: at raw-corpus scale an
 * exact vocabulary count shuffles O(vocab) rows; this is a
 * TypedImperativeAggregate with O(k) state that rides ObjectHashAggregate
 * with full map-side partial aggregation — each task ships ONE ≤k-entry
 * sketch, the exchange carries O(k · tasks) bytes, and the merge
 * preserves the deterministic n/(k+1) error bound (Agarwal et al. 2012).
 * Estimated counts are merge-order-dependent WITHIN the bound (like any
 * parallel MG), so the checked query carries a rows-only driver check;
 * the sbt spec pins the guarantees against exact counts instead.
 *
 * Output: `ARRAY<STRUCT<token STRING, est BIGINT, n BIGINT>>` sorted by
 * est DESC, token ASC (deterministic given the final sketch); `n` is the
 * exact total stream length (every element ever added), replicated per
 * entry so a consumer can apply the ±n/(k+1) bound without a second
 * aggregate.
 */
case class MisraGriesAgg(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MGSketch] with UnaryLike[Expression]
  with ExpectsInputTypes {

  require(k >= 1, "misra_gries needs k >= 1")

  override def prettyName: String = "misra_gries"
  override def nullable: Boolean = false
  // analysis-time type gate: without it a non-array argument surfaces as
  // an executor-side ClassCastException in update()'s ArrayData cast
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(StringType, containsNull = false))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("token", StringType, nullable = false),
    StructField("est", LongType, nullable = false),
    StructField("n", LongType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): MGSketch = new MGSketch(k)

  override def update(buf: MGSketch, input: InternalRow): MGSketch = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      var i = 0
      val m = arr.numElements()
      while (i < m) {
        buf.add(arr.getUTF8String(i).toString)
        i += 1
      }
    }
    buf
  }

  override def merge(a: MGSketch, b: MGSketch): MGSketch = a.merge(b)

  override def eval(buf: MGSketch): Any = {
    val entries = buf.counts.toArray.sortBy { case (t, c) => (-c, t) }
    new GenericArrayData(entries.map { case (t, c) =>
      InternalRow(UTF8String.fromString(t), c, buf.n)
    }.toArray[Any])
  }

  override def serialize(buf: MGSketch): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.k)
    out.writeLong(buf.n)
    out.writeInt(buf.counts.size)
    buf.counts.foreach { case (t, c) =>
      val bytes = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(bytes.length)
      out.write(bytes)
      out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): MGSketch = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val sk = new MGSketch(in.readInt())
    sk.n = in.readLong()
    var m = in.readInt()
    while (m > 0) {
      val len = in.readInt()
      val tb = new Array[Byte](len)
      in.readFully(tb)
      sk.counts.update(new String(tb, java.nio.charset.StandardCharsets.UTF_8),
        in.readLong())
      m -= 1
    }
    sk
  }

  override def withNewMutableAggBufferOffset(o: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): MisraGriesAgg =
    copy(child = newChild)
}

/**
 * KMV (k-minimum-values) bottom-k distinct sketch state: the k
 * lexicographically smallest DISTINCT hash strings seen so far (Beyer
 * et al. SIGMOD'07, "On synopses for distinct-value estimation under
 * multiset operations"). Unlike [[MGSketch]], the result is a PURE
 * FUNCTION of the input set — insert and union-then-trim are
 * order-independent — so the aggregate's output is deterministic under
 * any merge order and can be hash-checked against a window-form SQL
 * oracle, not just rows-checked.
 */
final class KmvSketch(val k: Int) {
  /** Sorted ascending; size ≤ k; element 0 is the global minimum. */
  val mins: java.util.TreeSet[String] = new java.util.TreeSet[String]()

  def add(h: String): Unit =
    if (mins.size < k) { mins.add(h); () }
    else if (h.compareTo(mins.last) < 0 && mins.add(h)) { mins.pollLast(); () }

  def merge(other: KmvSketch): KmvSketch = {
    val it = other.mins.iterator()
    while (it.hasNext) add(it.next())
    this
  }
}

/**
 * The aggregate body both KMV aggregates share: one [[KmvSketch]] of
 * size `k` per group, fed the non-null STRING (pre-hashed) input rows.
 * Serialized as `k`, the entry count, then each hash via `writeUTF`
 * in ascending order. Subclasses add only their `eval` and result type.
 */
abstract class KmvAgg extends TypedImperativeAggregate[KmvSketch]
  with UnaryLike[Expression] with ExpectsInputTypes {

  def k: Int

  override def nullable: Boolean = false
  // analysis-time type gate: without it a non-string argument surfaces as
  // an executor-side ClassCastException in update()'s UTF8String cast
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def createAggregationBuffer(): KmvSketch = new KmvSketch(k)

  override def update(buf: KmvSketch, input: InternalRow): KmvSketch = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(a: KmvSketch, b: KmvSketch): KmvSketch = a.merge(b)

  override def serialize(buf: KmvSketch): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.k)
    out.writeInt(buf.mins.size)
    val it = buf.mins.iterator()
    while (it.hasNext) out.writeUTF(it.next())
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): KmvSketch = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val sk = new KmvSketch(in.readInt())
    var m = in.readInt()
    while (m > 0) { sk.mins.add(in.readUTF()); m -= 1 }
    sk
  }
}

/**
 * `kmv_distinct(h, k)` — native KMV bottom-k distinct-count sketch over
 * pre-hashed STRING rows (md5 hex in the checked query). The raw-scale
 * replacement for the two-level window bottom-k in
 * `Relational.kmvDistinctUsers`: that form is exact and oracle-friendly
 * but pays a DISTINCT shuffle plus two window sorts; this is ONE
 * ObjectHashAggregate pass with O(k) state per (task, group) — each
 * task ships one ≤k-entry sketch and the exchange carries
 * O(k · tasks · groups) bytes at ANY corpus size.
 *
 * Output `STRUCT<m BIGINT, hk STRING, est DOUBLE>`: m = |bottom-k|
 * (the EXACT distinct count while below k), hk = the k-th smallest
 * hash (null while m < k), est = the (k−1)/kth-min estimator computed
 * by the same two correctly-rounded IEEE divisions as the SQL
 * estimator text (`Relational.kmvEstimator`) over the same exact
 * 52-bit hash prefix — so the struct hash-compares against the
 * window-form oracle, making this the only sketch in the family with
 * a full value-checked driver gate (HLL/GK/MG are all rows-only).
 */
case class KmvDistinctAgg(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends KmvAgg {

  require(k >= 2, "kmv_distinct needs k >= 2 (the estimator divides by the k-th minimum)")

  override def prettyName: String = "kmv_distinct"
  override def dataType: DataType = StructType(Seq(
    StructField("m", LongType, nullable = false),
    StructField("hk", StringType, nullable = true),
    StructField("est", DoubleType, nullable = false)))

  /** First 13 hex chars as an exact 52-bit long — the Scala twin of
   * `Relational.hexVal13` (the shared cross-engine estimator contract). */
  private def hexVal13(h: String): Long = {
    var v = 0L
    var i = 0
    while (i < 13) {
      v = (v << 4) | java.lang.Long.parseLong(h.substring(i, i + 1), 16)
      i += 1
    }
    v
  }

  override def eval(buf: KmvSketch): Any = {
    val m = buf.mins.size.toLong
    if (m < k) {
      InternalRow(m, null, m.toDouble)
    } else {
      val hk = buf.mins.last
      val hv = hexVal13(hk)
      // identical IEEE sequence to the SQL estimator: hv is a ≤52-bit
      // integer (long→double exact), then two correctly-rounded divides
      val est = if (hv == 0L) m.toDouble
        else (k - 1).toDouble / (hv.toDouble / (1L << 52).toDouble)
      InternalRow(m, UTF8String.fromString(hk), est)
    }
  }

  override def withNewMutableAggBufferOffset(o: Int): KmvDistinctAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvDistinctAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): KmvDistinctAgg =
    copy(child = newChild)
}

/**
 * `kmv_mins(h, k)` — the same KMV bottom-k sketch as [[KmvDistinctAgg]]
 * but evaluating to the sorted bottom-k hash ARRAY itself instead of
 * the (m, hk, est) summary. The array is what makes KMV sketches
 * COMPOSABLE relationally: the bottom-k of a union of sets is a pure
 * function of the per-set bottom-k arrays (every global minimum is a
 * minimum of its own set — Beyer et al. 2007 §3), so per-group sketches
 * can be merged DOWNSTREAM by explode + re-rank without touching the
 * raw data again. That is the primitive behind rolling-window distinct
 * counts: one pass builds per-day sketches, any window over them is an
 * O(days·k)-row relational merge.
 */
case class KmvMinsAgg(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends KmvAgg {

  require(k >= 2, "kmv_mins needs k >= 2 (downstream estimators divide by the k-th minimum)")

  override def prettyName: String = "kmv_mins"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def eval(buf: KmvSketch): Any = {
    val out = new Array[Any](buf.mins.size)
    val it = buf.mins.iterator()
    var i = 0
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(out)
  }

  override def withNewMutableAggBufferOffset(o: Int): KmvMinsAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvMinsAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): KmvMinsAgg =
    copy(child = newChild)
}

/**
 * Count-Min frequency-sketch state (Cormode & Muthukrishnan 2005): a
 * depth × width grid of counters plus the stream length n. Every item
 * increments ONE counter per row (the row's hash bucket); a point
 * estimate is the MIN over the item's depth counters. The defining
 * property next to [[MGSketch]]: the update is LINEAR — counters are
 * plain sums over the input multiset — so merge is pointwise addition
 * and the finished grid is a pure function of the input multiset,
 * bit-identical under ANY merge order or parallelism (like KMV, unlike
 * MG/GK/HLL). Estimates never undercount; they overcount by the mass
 * that collides into the same bucket on every row.
 *
 * Bucket function (the cross-engine contract shared with the SQL
 * oracle, see `Corpus.cmBucketSql`): row i's bucket of token t is the
 * i-th 8-hex-char slice of md5(t), read as a 32-bit integer, mod width
 * — one md5 per update, depth slices, and a DuckDB oracle can rebuild
 * the exact grid relationally from the token-frequency relation.
 */
final class CMSketch(val depth: Int, val width: Int) {
  val counters: Array[Long] = new Array[Long](depth * width)
  var n: Long = 0L

  private val md = java.security.MessageDigest.getInstance("MD5")

  def add(tok: String): Unit = {
    n += 1
    val d = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var i = 0
    while (i < depth) {
      counters(i * width + CMSketch.bucket(d, i, width)) += 1
      i += 1
    }
  }

  /** Linearity: merge = pointwise counter addition. */
  def merge(other: CMSketch): CMSketch = {
    n += other.n
    var j = 0
    while (j < counters.length) { counters(j) += other.counters(j); j += 1 }
    this
  }
}

object CMSketch {
  /** Hex chars 8i..8i+7 of the digest = digest bytes 4i..4i+3 read
   * big-endian unsigned — exactly `hexVal8(substring(md5hex, 1+8i, 8))`
   * in the SQL mirror, without materializing the hex string.
   *
   * `v % width` maps a uniform 32-bit slice with plain modulo, so a
   * non-power-of-two width carries a bucket-load bias of at most
   * width/2³² relative (the low ⌊2³²/width⌋⁺¹ residues are hit once
   * more often) — ~10⁻⁷ at width 512 and negligible for any
   * width ≪ 2³², but a power-of-two width makes the map exactly
   * uniform; prefer one when choosing a custom grid. */
  def bucket(digest: Array[Byte], i: Int, width: Int): Int = {
    val v = ((digest(4 * i) & 0xffL) << 24) |
      ((digest(4 * i + 1) & 0xffL) << 16) |
      ((digest(4 * i + 2) & 0xffL) << 8) |
      (digest(4 * i + 3) & 0xffL)
    (v % width).toInt
  }
}

/**
 * `count_min(token, depth, width)` — native Count-Min frequency sketch
 * over STRING rows; the fourth member of the mergeable-sketch family
 * (KMV distinct, Misra-Gries heavy hitters, GK quantiles) and the
 * point-frequency workhorse: O(depth·width) state per (task, group)
 * regardless of vocabulary size, full map-side partial aggregation,
 * the exchange ships one grid per task.
 *
 * Accuracy: est(t) ≥ f(t) always (deterministic, every row only ever
 * adds mass), and est(t) ≤ f(t) + e/width · n with probability
 * 1 − e^−depth per query (Cormode & Muthukrishnan 2005 Thm 1).
 *
 * Because the sketch is linear, its output is MERGE-ORDER-FREE — and
 * the grid is relationally reconstructible (group the exact token
 * frequencies by bucket and sum), so unlike HLL/GK/MG the DuckDB
 * oracle can hash-check the sketch's INTERIOR VALUES, not just its
 * guarantee bounds: see `Corpus.cmErrorAudit`.
 *
 * Output `STRUCT<n BIGINT, counters ARRAY<BIGINT>>`, counters laid out
 * row-major (row i, bucket b at index i·width + b, 0-based).
 */
case class CountMinAgg(
    child: Expression,
    depth: Int,
    width: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CMSketch] with UnaryLike[Expression]
  with ExpectsInputTypes {

  require(depth >= 1 && depth <= 4,
    "count_min needs 1 <= depth <= 4 (md5 yields four independent 32-bit slices)")
  require(width >= 2, "count_min needs width >= 2")

  override def prettyName: String = "count_min"
  override def nullable: Boolean = false
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("counters", ArrayType(LongType, containsNull = false),
      nullable = false)))

  override def createAggregationBuffer(): CMSketch = new CMSketch(depth, width)

  override def update(buf: CMSketch, input: InternalRow): CMSketch = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(a: CMSketch, b: CMSketch): CMSketch = a.merge(b)

  override def eval(buf: CMSketch): Any =
    InternalRow(buf.n,
      new GenericArrayData(buf.counters.map(java.lang.Long.valueOf).toArray[Any]))

  override def serialize(buf: CMSketch): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.depth)
    out.writeInt(buf.width)
    out.writeLong(buf.n)
    buf.counters.foreach(out.writeLong)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): CMSketch = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val sk = new CMSketch(in.readInt(), in.readInt())
    sk.n = in.readLong()
    var j = 0
    while (j < sk.counters.length) { sk.counters(j) = in.readLong(); j += 1 }
    sk
  }

  override def withNewMutableAggBufferOffset(o: Int): CountMinAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CountMinAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): CountMinAgg =
    copy(child = newChild)
}
