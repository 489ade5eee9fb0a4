package graft


/** Dev tool: print the formatted physical plan and wall time of one
 * `SparkEntry.queries` entry. Usage:
 *   runMain graft.Explain <queryName> [sfDir]
 */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = GraftSession.builder(GraftSession.mainCores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // two timed runs: the first pays JIT/codegen warm-up, the second is
    // the steady-state number comparable to the bench's warm medians
    var n = 0L
    var last: org.apache.spark.sql.DataFrame = null
    val times = (1 to 2).map { _ =>
      spark.catalog.clearCache()
      // construction INSIDE the timed window: iterative operators (e.g.
      // dedup_clusters) run their driver loop while building the plan
      val t0 = System.nanoTime()
      last = SparkEntry.queries(name)(spark, sfDir)
      n = last.count()
      (System.nanoTime() - t0) / 1e9
    }
    // reuse the last run's DataFrame — re-constructing just to print the
    // plan would replay an iterative operator's whole driver loop
    last.explain("formatted")
    println(f"[explain] $name: $n rows, cold ${times(0)}%.2f s, warm ${times(1)}%.2f s")
    spark.stop()
  }
}
