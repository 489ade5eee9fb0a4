package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query-name filter (local debugging).
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.builder(GraftSession.mainCores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Per-query outcome, written as verify_status.json next to the dumps.
    // Round 9's 117/117-green run was officially recorded as `{}` because
    // the DRIVER's collection channel dropped the result — the repo itself
    // must emit a machine-readable status (the Bench.scala
    // SPARK_GRAFT_BENCH_OUT lesson applied to correctness): rows written
    // per query, or the first exception line, so a lost driver artifact
    // can be reconstructed from the dump directory alone.
    val status = scala.collection.mutable.LinkedHashMap.empty[String, Either[String, Long]]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        // coalesce(1) keeps the per-query dump a single tidy file; the
        // scale gates override it (SPARK_GRAFT_NO_COALESCE=1) because a
        // single write task pulling a 245M-row result (sf10
        // decontaminate) stalls the whole run — the DuckDB compare
        // reads <name>/*.parquet either way.
        val res = fn(spark, sfDir)
        val out = if (sys.env.contains("SPARK_GRAFT_NO_COALESCE")) res
                  else res.coalesce(1)
        out.write.mode("overwrite").parquet(s"$outDir/$name")
        // re-read the written files: counts the rows the driver's compare
        // will actually see, without running the query twice
        status(name) = Right(spark.read.parquet(s"$outDir/$name").count())
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        status(name) = Left(
          s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}")
      }
      // Per-query isolation by default: operators persist() intermediates.
      // SPARK_GRAFT_KEEP_CACHE=1 keeps the persisted frames across queries
      // — the scale-gate accelerator: ScanMemo keeps its values through a
      // clearCache(), but each family member then recomputes the quantized
      // projection and PCA chain it re-persists (a cache-cleared Verify
      // paid the sf10 vector family 10× over).
      if (!sys.env.contains("SPARK_GRAFT_KEEP_CACHE")) spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val statusJson = {
      val entries = status.map {
        case (name, Right(rows)) => s"${q(name)}: {\"rows\": $rows, \"err\": null}"
        case (name, Left(err))   => s"${q(name)}: {\"rows\": null, \"err\": ${q(err.take(500))}}"
      }.mkString(", ")
      val failed = status.count(_._2.isLeft)
      s"""{"sf": ${q(sfDir)}, "n_queries": ${status.size}, "n_failed": $failed, """ +
        s""""n_oracles": ${SparkEntry.oracleSql.size}, "queries": {$entries}}"""
    }
    Files.writeString(Paths.get(s"$outDir/verify_status.json"), statusJson)
    // last-stdout-line summary, tail-survivable like Bench's compact line
    println(s"""{"metric":"verify","queries":${status.size},""" +
      s""""failed":${status.count(_._2.isLeft)},"oracles":${SparkEntry.oracleSql.size}}""")
    spark.stop()
  }
}
