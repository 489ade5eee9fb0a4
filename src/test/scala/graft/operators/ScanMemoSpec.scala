package graft.operators

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, SparkTestHarness}

class ScanMemoSpec extends AnyFunSuite with SparkTestHarness {
  import spark.implicits._

  test("pure scan views share one cached count; count-changing plans stay fresh") {
    val dir = Files.createTempDirectory("graft-countcache").toString
    (1L to 7L).toDF("id").withColumn("v", col("id") * 2)
      .repartition(2).write.mode("overwrite").parquet(dir)

    val df = spark.read.parquet(dir)
    assert(ScanMemo.exactCount(df) === 7L)

    // Deleting the data files makes ANY further Spark job over this scan
    // fail, so a correct answer below can only come from the cache — a
    // deterministic no-job assertion, no listener races.
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .foreach(Files.delete)

    // row-preserving views (project / repartition / sort / alias) resolve
    // to the same scan fingerprint and must hit the cache
    assert(ScanMemo.exactCount(df.select(col("v"))) === 7L)
    assert(ScanMemo.exactCount(df.repartition(3).as("t")) === 7L)
    assert(ScanMemo.exactCount(df.orderBy(col("id"))) === 7L)

    // a filter can change the row count → no fingerprint → the memo never
    // serves it (exactCount counts such a view fresh, with a real job)
    assert(ScanMemo.getOrCompute[Long]("count", df.filter(col("id") > 2))(
      fail("a filtered view was served from the memo")) === None)
  }

  test("an input rewritten in place misses: a fresh read gets a fresh count and labeling") {
    val dir = Files.createTempDirectory("graft-scanmemo-rewrite").toString
    // docs 1 and 2 are identical, so the labeling has one real cluster
    def text(i: Long): String =
      if (i <= 2) "aa bb cc dd ee ff gg hh ii jj kk ll"
      else (1 to 12).map(w => s"w${i}x$w").mkString(" ")
    def write(n: Long): Unit =
      (1L to n).map(i => (i, text(i))).toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    def labels(docs: DataFrame): Map[Long, Long] =
      DedupClusters.minhashLabels(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    write(7)
    val before = spark.read.parquet(dir)
    assert(ScanMemo.exactCount(before) === 7L)
    assert(labels(before) === Map(1L -> 1L, 2L -> 1L) ++ (3L to 7L).map(i => i -> i))

    write(5)
    val after = spark.read.parquet(dir)
    assert(ScanMemo.exactCount(after) === 5L)
    assert(labels(after) === Map(1L -> 1L, 2L -> 1L) ++ (3L to 5L).map(i => i -> i))
  }

  test("after clearCache() the next quantized and PCA consumers persist the memoized frames again") {
    val dir = Files.createTempDirectory("graft-scanmemo-emb").toString
    val rnd = new scala.util.Random(7)
    (0L until 200L).map(i => (i, Seq.fill(VectorOps.Dim)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(dir)
    def emb = spark.read.parquet(dir)
    def memoized[T](tag: String): T =
      ScanMemo.getOrCompute[T](tag, emb)(fail(s"$tag is not memoized")).get
    def persisted(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE
    def readsCache(df: DataFrame): Boolean =
      df.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation => r }.nonEmpty
    def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet

    val kmeans = rows(VectorOps.kmeansAssign(emb))
    val pca = rows(VectorOps.embPcaPower(emb))
    assert(persisted(memoized[DataFrame]("quantized")))
    val (out, chain) = memoized[(DataFrame, Seq[DataFrame])]("embPcaPower")
    assert((out +: chain).forall(persisted))

    spark.catalog.clearCache()
    assert(!persisted(memoized[DataFrame]("quantized")))
    assert(!(out +: chain).exists(persisted))

    // a second consumer of each re-persists the SAME memoized frames
    val kmeans2 = VectorOps.kmeansAssign(emb)
    assert(readsCache(kmeans2))
    assert(persisted(memoized[DataFrame]("quantized")))
    assert(rows(kmeans2) === kmeans)
    spark.catalog.clearCache()
    val pca2 = VectorOps.embPcaPower(emb)
    assert(pca2 eq out)
    assert(readsCache(pca2))
    assert((out +: chain).forall(persisted))
    assert(persisted(memoized[DataFrame]("quantized")))
    assert(rows(pca2) === pca)
  }

  // Stops the suite's shared SparkContext: keep this the LAST test. Later
  // suites' harness sessions build a new context through getOrCreate.
  test("a stopped session's entries are neither served nor kept") {
    val dir = Files.createTempDirectory("graft-scanmemo-stopped").toString
    (1L to 7L).toDF("id").write.mode("overwrite").parquet(dir)
    assert(ScanMemo.exactCount(spark.read.parquet(dir)) === 7L)
    assert(ScanMemo.size >= 1)

    spark.catalog.clearCache()
    spark.stop()
    val next = GraftSession.builder(4).appName(getClass.getSimpleName).getOrCreate()
    assert(!(next eq spark))

    var computed = 0
    val n = ScanMemo.getOrCompute("count", next.read.parquet(dir)) { computed += 1; 7L }
    assert(n === Some(7L))
    assert(computed === 1, "a stopped session's count was served to a new session")
    assert(ScanMemo.size === 1, "a stopped session's entries were kept")
  }
}
