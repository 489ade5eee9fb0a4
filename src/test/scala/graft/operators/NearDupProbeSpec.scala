package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestHarness
import graft.sources.Tables

/** Pins the round-13 emb_neardup rewrite (verify-then-distinct over RAW
 * bucket pairs) two ways: a direct value-identity check against the old
 * distinct-then-verify pipeline, and the sf1 decomposition showing the
 * exchanges scale with OUTPUT while candidates stay two orders larger —
 * the measured basis for BASELINE.md's "cost ∝ candidates" note. */
class NearDupProbeSpec extends AnyFunSuite with SparkTestHarness {

  private def bandedPostings(dir: String) = {
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val table = VectorOps.bandTableFor(VectorOps.NearDupSim)
    val rows = VectorOps.nearDupRowsFor(n, rowsMax = table.keys.max)
    val qn = emb.select(col("vec_id"), VectorOps.quantize(col("embedding")).as("q"))
      .select(col("vec_id"), col("q"), VectorOps.norm2(col("q")).as("n2"))
    val banded = qn.select(col("vec_id").as("doc_id"),
      explode(VectorOps.nearDupBandKeys(col("q"), rows, table(rows))).as("bv"))
    (emb, qn, banded, n, rows, table(rows))
  }

  test("verify-then-distinct equals the old distinct-then-verify pipeline") {
    val dir = "/root/testdata/sf0.01"
    val (emb, qn, banded, _, _, _) = bandedPostings(dir)
    val qnP = qn.persist()
    // the pre-round-13 shape: distinct candidates first, then the verify
    val old = TextDedup.cappedPairs(banded, "bv", VectorOps.NearDupMaxBucket)._1.distinct()
      .select(col("id_a"), col("id_b"))
      .join(qnP.select(col("vec_id").as("id_a"), col("q").as("qa"), col("n2").as("na")), "id_a")
      .join(qnP.select(col("vec_id").as("id_b"), col("q").as("qb"), col("n2").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        VectorOps.cosine(VectorOps.dot(col("qa"), col("qb")), col("na"), col("nb")).as("sim"))
      .filter(col("sim") >= VectorOps.NearDupSim)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val neu = VectorOps.embeddingNearDup(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(neu === old, "the rewrite must be value-identical pair-for-pair")
    assert(neu.nonEmpty)
    qnP.unpersist()
  }

  test("sf1 decomposition: candidates two orders above output, buckets capped") {
    val dir = "/root/repo/.scale/sf1"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists(),
      "sf1 scale data present (tools/gen_sf1.py)")
    spark.catalog.clearCache()
    val (emb, _, banded, n, rows, bands) = bandedPostings(dir)
    val sizes = banded.groupBy("bv").agg(count(lit(1)).as("cnt"))
    val st = sizes.agg(
      sum(when(col("cnt").between(2, VectorOps.NearDupMaxBucket),
        col("cnt") * (col("cnt") - 1) / 2)).as("raw_pairs"),
      sum(when(col("cnt") > VectorOps.NearDupMaxBucket, col("cnt"))).as("dropped")).head()
    val rawPairs = st.getDouble(0)
    val t0 = System.nanoTime()
    val out = VectorOps.embeddingNearDup(emb).count()
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"PROBE sf1 n=$n R=$rows B=$bands rawPairs=$rawPairs%.3e " +
      f"droppedPostings=${st.getLong(1)} out=$out wall=$wall%.1f")
    assert(rawPairs / out > 100.0,
      "candidate volume stays orders above output — the verify, not the " +
        "exchanges, must absorb it (BASELINE.md round-13 note)")
    assert(out > 0L)
  }
}
