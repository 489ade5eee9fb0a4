package graft.plans

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

/** Pure-JVM property tests of the KMV sketch buffer — the object every
 * hash-checked claim in the family rests on. The load-bearing property
 * is MERGE-ORDER FREEDOM: for any multiset of inputs, any partition of
 * it into sub-sketches, and any merge tree over them, the resulting
 * bottom-k equals the sorted distinct bottom-k of the whole input.
 * That is exactly why `kmv_distinct` / `kmv_mins` keep a full hash
 * oracle while HLL/GK/MG are rows-only, why the streaming windowed
 * aggregate equals its batch twin bit-for-bit, and why the rolling
 * window's relational merge is exact — so it gets a randomized proof,
 * not just the fixed fixtures in the other specs. */
class KmvSketchPropertySpec extends AnyFunSuite {

  private def freshSketch(k: Int, items: Seq[String]): KmvSketch = {
    val sk = new KmvSketch(k)
    items.foreach(sk.add)
    sk
  }

  private def bottomK(items: Seq[String], k: Int): Seq[String] =
    items.distinct.sorted.take(k)

  test("random partitions + random merge trees always equal the direct bottom-k") {
    for (seed <- 1 to 40) {
      val rnd = new Random(seed)
      val k = 2 + rnd.nextInt(12)
      val n = rnd.nextInt(400)
      // duplicates on purpose: distinctness is the sketch's job
      val items = Seq.fill(n)(f"${rnd.nextInt(120)}%08x")
      // random partition into 1..8 chunks, each its own sketch
      val chunks = items.grouped(math.max(1, n / (1 + rnd.nextInt(8)) + 1)).toVector
      var sketches = chunks.map(c => freshSketch(k, c)).toBuffer
      if (sketches.isEmpty) sketches += new KmvSketch(k)
      // random merge tree: repeatedly merge two random sketches
      while (sketches.size > 1) {
        val i = rnd.nextInt(sketches.size)
        val a = sketches.remove(i)
        val j = rnd.nextInt(sketches.size)
        sketches(j) = sketches(j).merge(a)
      }
      val got = {
        val it = sketches.head.mins.iterator()
        val buf = Vector.newBuilder[String]
        while (it.hasNext) buf += it.next()
        buf.result()
      }
      assert(got === bottomK(items, k), s"seed=$seed k=$k n=$n")
    }
  }

  test("serialize/deserialize round-trips the exact sketch state") {
    val agg = KmvDistinctAgg(
      org.apache.spark.sql.catalyst.expressions.Literal("x"), 8)
    for (seed <- 1 to 10) {
      val rnd = new Random(seed)
      val sk = freshSketch(8, Seq.fill(rnd.nextInt(60))(f"${rnd.nextInt(40)}%08x"))
      val back = agg.deserialize(agg.serialize(sk))
      assert(back.k === sk.k)
      assert(back.mins === sk.mins)
    }
  }

  test("both KMV aggregates serialize to the same golden bytes") {
    val sk = freshSketch(3, Seq("b", "a", "b"))
    // k, entry count, then each hash ascending as writeUTF (u16 length + bytes)
    val golden = Array[Byte](0, 0, 0, 3, 0, 0, 0, 2, 0, 1, 'a', 0, 1, 'b')
    val child = org.apache.spark.sql.catalyst.expressions.Literal("x")
    assert(KmvDistinctAgg(child, 3).serialize(sk) === golden)
    assert(KmvMinsAgg(child, 3).serialize(sk) === golden)
  }

  test("insertion beyond k never grows the state and only lowers the k-th min") {
    val sk = new KmvSketch(4)
    val rnd = new Random(7)
    var lastKth: Option[String] = None
    for (_ <- 1 to 500) {
      sk.add(f"${rnd.nextInt(100000)}%08x")
      assert(sk.mins.size <= 4)
      if (sk.mins.size == 4) {
        val kth = sk.mins.last
        lastKth.foreach(prev => assert(kth <= prev, "k-th minimum must be monotone"))
        lastKth = Some(kth)
      }
    }
  }
}
