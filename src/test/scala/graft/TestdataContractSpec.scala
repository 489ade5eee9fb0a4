package graft

import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Contract smoke-check against the REAL driver-generated testdata.
 *
 * The driver regenerates /root/testdata between rounds and has already
 * drifted a physical encoding once (events.ts TIMESTAMP(NANOS) →
 * TIMESTAMP(MICROS)/NTZ), which broke every events-backed query while the
 * rest of `sbt test` — built on synthetic in-memory fixtures — stayed
 * green. This suite pins the loader contract to the actual files so the
 * FIRST `sbt test` after any regeneration surfaces the break, not the
 * driver's correctness harness a round later.
 *
 * Keep the checks cheap: schema resolution is plan-only; one count per
 * table at sf0.001 (the smallest SF) plus one flagship smoke query. */
class TestdataContractSpec extends AnyFunSuite with SparkTestHarness {

  private val dir = "/root/testdata/sf0.001"

  private val loaders: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
    "region"     -> (() => Tables.region(spark, dir)),
    "nation"     -> (() => Tables.nation(spark, dir)),
    "customer"   -> (() => Tables.customer(spark, dir)),
    "supplier"   -> (() => Tables.supplier(spark, dir)),
    "part"       -> (() => Tables.part(spark, dir)),
    "orders"     -> (() => Tables.orders(spark, dir)),
    "lineitem"   -> (() => Tables.lineitem(spark, dir)),
    "events"     -> (() => Tables.events(spark, dir)),
    "documents"  -> (() => Tables.documents(spark, dir)),
    "embeddings" -> (() => Tables.embeddings(spark, dir)),
  )

  test("every Tables loader resolves a schema and reads rows from the real testdata") {
    loaders.foreach { case (name, load) =>
      val df = load()
      assert(df.schema.nonEmpty, s"$name: empty schema")
      assert(df.limit(1).count() == 1, s"$name: no rows at sf0.001")
    }
  }

  test("every embeddings row is a VectorOps.Dim-long vector — the fused PCA " +
       "pass's unchecked precondition") {
    import org.apache.spark.sql.functions.{col, size}
    val bad = Tables.embeddings(spark, dir)
      .filter(col("embedding").isNull || size(col("embedding")) =!= graft.operators.VectorOps.Dim)
      .count()
    assert(bad == 0L, s"$bad embeddings rows are null or not ${graft.operators.VectorOps.Dim} long")
  }

  test("events.ts normalizes to session TIMESTAMP regardless of physical encoding") {
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampType,
      s"events.ts resolved as ${df.schema("ts").dataType}; downstream interval " +
        "arithmetic and the DuckDB oracle both assume TIMESTAMP")
    // The generated range is days-scale epoch values; a wildly off unit
    // (e.g. nanos read as micros) lands centuries away from 2020-2030.
    val bounds = df.selectExpr("min(year(ts)) AS lo", "max(year(ts)) AS hi").head()
    assert(bounds.getInt(0) >= 1990 && bounds.getInt(1) <= 2100,
      s"events.ts year range [${bounds.getInt(0)}, ${bounds.getInt(1)}] implies a unit mix-up")
  }

  test("SparkEntry.entry returns rows on the driver's own session (flagship smoke)") {
    assert(SparkEntry.entry(spark).limit(1).count() == 1)
  }

  test("events (user_id, ts) stays unique — the determinism contract of the " +
       "max_by/arg_max tie-breaks in gap_fill_locf and time_weighted_value") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val dups = Tables.events(spark, dir)
      .groupBy(col("user_id"), col("ts")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).count()
    assert(dups == 0L,
      s"$dups duplicated (user_id, ts) pairs: the day-last/LOCF tie-breaks " +
        "(max_by(value, ts) vs arg_max(value, ts)) are only cross-engine " +
        "deterministic while this uniqueness holds — regenerated data that " +
        "breaks it needs a composite (ts, event_id) tie-break on BOTH sides")
  }
}
