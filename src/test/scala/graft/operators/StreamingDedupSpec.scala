package graft.operators

import java.sql.Timestamp
import java.time.Duration

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestHarness
import graft.sources.Tables

case class DocRec(doc_id: Long, text: String, ts: Timestamp)

/** Streaming MinHash-LSH candidate detection vs the batch operator over
 * the same corpus: both use the identical banding, so every pair the
 * batch operator verifies at Jaccard ≥ threshold MUST surface as a
 * streaming candidate while all its members are within retention. */
class StreamingDedupSpec extends AnyFunSuite with SparkTestHarness {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `f` with the given state-store provider, restoring the session's
   * previous setting afterwards (the conf is read at query START, so
   * per-test scoping is sound). */
  private def withStateProvider[T](cls: String)(f: => T): T = {
    val old = spark.conf.getOption(ProviderKey)
    spark.conf.set(ProviderKey, cls)
    try f finally old match {
      case Some(v) => spark.conf.set(ProviderKey, v)
      case None    => spark.conf.unset(ProviderKey)
    }
  }

  /** The full-corpus coverage scenario, parameterized so it can run under
   * more than one state-store provider. */
  private def coverageScenario(queryName: String): Unit = {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val batchPairs = TextDedup.minhashLsh(Tables.documents(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchPairs.nonEmpty, "sf0.001 has planted near-duplicates")

    val base = 1000000000L
    val in = MemoryStream[DocRec]
    // 1 ms apart: the whole corpus fits comfortably inside retention
    val out = TextDedup.streamingMinhashCandidates(
      in.toDF(), Duration.ofHours(1))
    val q = out.writeStream.format("memory").queryName(queryName)
      .outputMode("append").start()
    try {
      docs.grouped(100).zipWithIndex.foreach { case (chunk, ci) =>
        in.addData(chunk.map { case (id, text) =>
          DocRec(id, text, new Timestamp(base + ci * 100 + (id % 100))) }.toSeq: _*)
        q.processAllAvailable()
      }
      val cand = spark.table(queryName).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val candSet = cand.map(t => (t._1, t._2)).toSet
      assert(batchPairs.subsetOf(candSet),
        s"batch-verified pairs missing from streaming candidates: ${batchPairs -- candSet}")
      assert(cand.forall(t => t._3 >= 0.0 && t._3 <= 1.0))
      assert(cand.forall(t => t._1 < t._2))
      // verified pairs (true J >= 0.8) must carry a strong sketch estimate
      val estByPair = cand.groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).max)
      batchPairs.foreach { p =>
        assert(estByPair(p) >= 0.5, s"pair $p est ${estByPair(p)} too low for J>=0.8")
      }
    } finally q.stop()
  }

  test("streaming candidates cover the batch verified pairs; estimates sane") {
    coverageScenario("stream_cand")
  }

  test("streaming dedup runs e2e under the RocksDB state store — the " +
       "disk-backed state path the 100 TB story assumes") {
    withStateProvider(RocksDbProvider) { coverageScenario("stream_cand_rocks") }
  }

  test("checkpoint stop/restart under RocksDB: bucket state and eviction " +
       "survive recovery") {
    // LJOT has stop/restart e2e coverage; this is the same guarantee for
    // the streaming MinHash detector — the flatMapGroupsWithState bucket
    // state (entries + maxEventTs) must be restored from the checkpoint
    // by a NEW query instance, under the disk-backed provider the 100 TB
    // story assumes, and the retention horizon must keep working on the
    // restored state.
    withStateProvider(RocksDbProvider) {
      val ckpt = java.nio.file.Files.createTempDirectory("sdedup_ckpt").toString
      val outDir = java.nio.file.Files.createTempDirectory("sdedup_out").toString
      val base = 1000000000L
      val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
      val in = MemoryStream[DocRec]
      def start() = TextDedup.streamingMinhashCandidates(in.toDF(), Duration.ofSeconds(10))
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      val q1 = start()
      try {
        in.addData(DocRec(1, text, new Timestamp(base)))
        q1.processAllAvailable()
      } finally q1.stop()

      def pairs(): Set[(Long, Long)] =
        spark.read.parquet(outDir).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet

      val q2 = start()
      try {
        // doc 2 is identical and 1 s after doc 1 — it can ONLY pair if
        // the pre-restart bucket entry for doc 1 was restored
        in.addData(DocRec(2, text, new Timestamp(base + 1000)))
        q2.processAllAvailable()
        assert(q2.exception.isEmpty, s"restarted query died: ${q2.exception}")
        assert(pairs().contains((1L, 2L)),
          "bucket state must survive the checkpoint restart")
        // eviction on the RESTORED state: a minute of stream time later
        // docs 1/2 are beyond the 10 s horizon and must not pair...
        in.addData(DocRec(3, text, new Timestamp(base + 60000)))
        q2.processAllAvailable()
        // ...while state keeps accumulating normally after the restart
        in.addData(DocRec(4, text, new Timestamp(base + 61000)))
        q2.processAllAvailable()
        val p = pairs()
        assert(p.contains((3L, 4L)), "post-restart arrivals must keep pairing")
        assert(!p.exists(pp => pp._2 == 3L && pp._1 < 3L),
          s"pre-restart docs beyond the horizon must not pair; got $p")
      } finally q2.stop()
    }
  }

  test("retention evicts: a doc outside the horizon no longer pairs") {
    val base = 1000000000L
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val in = MemoryStream[DocRec]
    val out = TextDedup.streamingMinhashCandidates(in.toDF(), Duration.ofSeconds(10))
    val q = out.writeStream.format("memory").queryName("stream_evict")
      .outputMode("append").start()
    try {
      // identical docs INSIDE retention pair up...
      in.addData(DocRec(1, text, new Timestamp(base)),
                 DocRec(2, text, new Timestamp(base + 1000)))
      q.processAllAvailable()
      // ...then doc 3 (also identical) arrives a minute of stream time
      // later: docs 1/2 are beyond the 10 s horizon and must NOT pair
      in.addData(DocRec(3, text, new Timestamp(base + 60000)))
      q.processAllAvailable()
      val pairs = spark.table("stream_evict").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 2L)), "in-retention identical docs must pair")
      assert(!pairs.exists(p => p._2 == 3L),
        s"evicted docs must not pair with later arrivals; got $pairs")
    } finally q.stop()
  }

  test("bucket transition: out-of-order arrivals pair exactly within " +
       "retention of themselves and stale arrivals never enter state") {
    // Within one trigger the engine's late filter only knows the PREVIOUS
    // batch's watermark, so a record older than (bucket maxTs - retention)
    // can still reach the transition. It must pair with the surviving
    // entries within `retention` of ITSELF — no more (the advisor-flagged
    // leak: pairs spanning > retention), no fewer (a blanket skip would
    // drop genuine within-retention pairs).
    val sig = (1 to TextDedup.MinHashK).map(i => f"$i%032x")
    val rec = (id: Long, t: Long) =>
      BandRec("b", id, sig, new java.sql.Timestamp(t))
    val retMs = 10000L
    val base = 1000000000L
    // docs 1+4 establish maxTs = base + 25 s with an entry at +16 s
    val (s1, out1) = TextDedup.bucketTransition(
      Seq(rec(1, base + 25000), rec(4, base + 16000)),
      BucketState(Nil, Long.MinValue), retMs)
    assert(out1.map(p => (p.id_a, p.id_b)) == List((1L, 4L))) // span 9 s
    assert(s1.entries.map(_._1).toSet == Set(1L, 4L))
    // doc 2 arrives OUT OF ORDER at base + 14 s: 11 s behind the bucket's
    // stream time (beyond the horizon) — it pairs with doc 4 (span 2 s)
    // but NOT doc 1 (span 11 s > retention), and does not enter state
    val (s2, out2) = TextDedup.bucketTransition(Seq(rec(2, base + 14000)), s1, retMs)
    assert(out2.map(p => (p.id_a, p.id_b)) == List((2L, 4L)),
      s"stale arrival pairs only within retention of itself; got $out2")
    assert(s2.entries.map(_._1).toSet == Set(1L, 4L),
      s"horizon-stale arrival must not enter state; got ${s2.entries}")
    assert(s2.maxEventTs == base + 25000)
    // a doc INSIDE the horizon pairs with both surviving entries
    val (s3, out3) = TextDedup.bucketTransition(Seq(rec(3, base + 20000)), s2, retMs)
    assert(out3.map(p => (p.id_a, p.id_b)).toSet == Set((1L, 3L), (3L, 4L)))
    assert(out3.forall(_.est_jaccard == 1.0))
    assert(s3.entries.map(_._1).toSet == Set(1L, 3L, 4L))
  }

  test("bucket transition is batching-invariant: random chunkings of the " +
       "same record sequence emit identical candidates (5 seeds)") {
    // trigger boundaries are an accident of arrival timing — they must
    // not change WHAT the operator emits, only when
    import scala.util.Random
    val retMs = 10000L
    val base = 1000000000L
    val sigs = (0 until 4).map(k => (1 to TextDedup.MinHashK).map(i => f"${i + k * 100}%032x"))
    for (seed <- 1 to 5) {
      val rnd = new Random(seed)
      // 60 records, mostly in order with mild jitter, a few sig groups so
      // some pairs agree; spans cross the retention horizon repeatedly
      val recs = (0 until 60).map { i =>
        BandRec("b", i.toLong, sigs(rnd.nextInt(sigs.size)),
          new java.sql.Timestamp(base + i * 700 + rnd.nextInt(500)))
      }
      def run(chunks: List[List[BandRec]]): (Set[(Long, Long)], BucketState) = {
        var st = BucketState(Nil, Long.MinValue)
        val out = Set.newBuilder[(Long, Long)]
        chunks.foreach { c =>
          val (s2, pairs) = TextDedup.bucketTransition(c, st, retMs)
          st = s2
          pairs.foreach(p => out += ((p.id_a, p.id_b)))
        }
        (out.result(), st)
      }
      // one record per call vs random chunk sizes vs one giant batch
      val single = run(recs.map(List(_)).toList)
      val giant = run(List(recs.toList))
      var rest = recs.toList
      var chunks = List.empty[List[BandRec]]
      while (rest.nonEmpty) {
        val k = 1 + rnd.nextInt(7)
        chunks = chunks :+ rest.take(k)
        rest = rest.drop(k)
      }
      val random = run(chunks)
      assert(single._1 === giant._1, s"seed $seed: single vs giant")
      assert(random._1 === giant._1, s"seed $seed: random vs giant")
      assert(single._2 === giant._2 && random._2 === giant._2,
        s"seed $seed: final state must not depend on chunking")
    }
  }

  test("a later-than-watermark record is dropped before the transition: " +
       "no pairs, no error") {
    // with EventTimeTimeout the engine filters late rows BEFORE the user
    // function (FlatMapGroupsWithStateExec's late-event filter) — the
    // documented lateness contract: a too-late document is silently
    // excluded from candidate detection and the query stays healthy
    val base = 1000000000L
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau"
    val in = MemoryStream[DocRec]
    val out = TextDedup.streamingMinhashCandidates(in.toDF(), Duration.ofSeconds(10))
    val q = out.writeStream.format("memory").queryName("stream_late")
      .outputMode("append").start()
    try {
      in.addData(DocRec(1, text, new Timestamp(base)))
      q.processAllAvailable()
      // advance the watermark far past doc 1's bucket horizon
      in.addData(DocRec(50, "completely different words entirely here now " +
        "with several more tokens to shingle", new Timestamp(base + 3600 * 1000L)))
      q.processAllAvailable()
      // identical to doc 1 but far behind the watermark: dropped by the
      // engine's late-event filter, so it must produce NO candidate pair
      in.addData(DocRec(2, text, new Timestamp(base + 1000)))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"query died on a late record: ${q.exception}")
      val pairs = spark.table("stream_late").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!pairs.contains((1L, 2L)),
        s"a later-than-watermark doc must be excluded from candidates; got $pairs")
    } finally q.stop()
  }

  test("streaming incremental semantic dedup ≡ batch on the new×old verdicts") {
    // the batch operator over the shared embeddings table is the spec:
    // its keep=false set must equal the set of new vectors with ≥1
    // streamed SemIncHit when the standing corpus (vec_id % mod != 0)
    // rides the initial state and the new side streams in, using the
    // IDENTICAL derived banding
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val batchDropped = VectorOps.semanticIncremental(emb).collect()
      .filter(!_.getBoolean(1)).map(_.getLong(0)).toSet
    assert(batchDropped.nonEmpty, "sf0.001 plants semantic near-dups across the split")
    val n = emb.count()
    val rows = VectorOps.nearDupRowsFor(n)
    val bands = VectorOps.NearDupBandTable(rows)
    val base = 1000000000L
    val standing = emb.filter(col("vec_id") % VectorOps.SemIncNewMod =!= 0)
      .withColumn("ts", lit(new Timestamp(base)))
    val newRows = emb.filter(col("vec_id") % VectorOps.SemIncNewMod === 0)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val in = MemoryStream[(Long, Seq[Float], Timestamp)]
    val out = VectorOps.streamingSemanticIncremental(
      in.toDF().toDF("vec_id", "embedding", "ts")
        .withColumn("embedding", col("embedding").cast("array<float>")),
      standing, Duration.ofHours(1), rows, bands)
    val q = out.writeStream.format("memory").queryName("sem_inc_stream")
      .outputMode("append").start()
    try {
      newRows.grouped(40).zipWithIndex.foreach { case (chunk, ci) =>
        in.addData(chunk.map { case (id, e) =>
          (id, e, new Timestamp(base + 1000 + ci)) }.toSeq: _*)
        q.processAllAvailable()
      }
      assert(q.exception.isEmpty, s"query died: ${q.exception}")
      val hits = spark.table("sem_inc_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val streamDropped = hits.map(_._1).toSet
      assert(streamDropped === batchDropped,
        s"streaming verdicts diverge from batch: stream-only " +
          s"${streamDropped -- batchDropped}, batch-only ${batchDropped -- streamDropped}")
      // every hit is cross-side and above threshold
      hits.foreach { case (nid, oid, sim) =>
        assert(nid % VectorOps.SemIncNewMod === 0L)
        assert(oid % VectorOps.SemIncNewMod !== 0L)
        assert(sim >= VectorOps.SemDedupSim)
      }
    } finally q.stop()
  }

  test("streaming incremental semantic dedup evicts standing entries past " +
       "the event-time retention") {
    // one standing vector, retention 10 s: an identical new vector inside
    // the horizon hits; the same vector far past it must NOT (the entry
    // stopped matching and is physically evicted on access)
    val base = 1000000000L
    val e = (0 until VectorOps.Dim).map(i => if (i % 3 == 0) 0.5f else -0.25f)
    val standing = Seq((1000L, e, new Timestamp(base)))
      .toDF("vec_id", "embedding", "ts")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val in = MemoryStream[(Long, Seq[Float], Timestamp)]
    val out = VectorOps.streamingSemanticIncremental(
      in.toDF().toDF("vec_id", "embedding", "ts")
        .withColumn("embedding", col("embedding").cast("array<float>")),
      standing, Duration.ofSeconds(10), rows = 2, bands = 6)
    val q = out.writeStream.format("memory").queryName("sem_inc_evict")
      .outputMode("append").start()
    try {
      in.addData((5L, e, new Timestamp(base + 5000)))
      q.processAllAvailable()
      val early = spark.table("sem_inc_evict").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(early.contains((5L, 1000L)),
        s"an in-horizon identical vector must hit the standing entry: ${early.toSeq}")
      in.addData((10L, e, new Timestamp(base + 60000)))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"query died: ${q.exception}")
      val all = spark.table("sem_inc_evict").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!all.contains((10L, 1000L)),
        s"a standing entry past retention must stop matching: $all")
    } finally q.stop()
  }
}
