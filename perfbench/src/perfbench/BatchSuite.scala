package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.SparkEntry

/** One pass over a fixed list of `SparkEntry.queries`, each built and
 * written to the `noop` sink, its row count read with `Dataset.observe`
 * and checked against the oracle-verified count. The inputs are fixed
 * tables, so the seed changes nothing here. */
final class BatchSuite(spark: SparkSession, p: Params) {
  private def pairs(k: String): Seq[(String, String)] =
    p.str(k).split(",").toSeq.filter(_.nonEmpty).map { kv =>
      val i = kv.lastIndexOf(':'); (kv.substring(0, i), kv.substring(i + 1))
    }
  private val dir = p.str("data")
  private val expected = pairs("expected_rows").map { case (k, v) => k -> v.toLong }.toMap
  private val family = pairs("families").toMap
  // A fixed order: the first queries of a fresh JVM pay its warm-up, so a
  // seeded order would move that cost between queries from run to run.
  private val names = p.str("queries").split(",").toSeq
  names.foreach { n =>
    require(SparkEntry.queries.contains(n), s"$n is not a registered query")
    require(expected.contains(n), s"no expected row count for $n")
    require(family.get(n).exists(BatchSuite.Families.contains), s"no known family for $n")
  }

  /** (start ms, build end ms, end ms, rows or the failure) of one query. */
  private final case class Run(name: String, start: Long, built: Long, end: Long, rows: Either[String, Long])

  private def runQuery(name: String): Run = {
    spark.sparkContext.setLocalProperty("perfbench.query", name)
    val t0 = System.currentTimeMillis()
    var built = t0
    val rows =
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        built = System.currentTimeMillis()
        val obs = Observation(s"rows_$name")
        df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
        Right(obs.get("rows").asInstanceOf[Long])
      } catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}".take(300)) }
    val end = System.currentTimeMillis()
    spark.catalog.clearCache()
    spark.sparkContext.setLocalProperty("perfbench.query", null)
    Run(name, t0, built, end, rows)
  }

  def run(tracer: Option[Tracer]): Result = {
    val warm = (1 to Main.SetupReps).map(_ => runQuery(p.str("warmup_query")))
    warm.foreach(w => require(w.rows.isRight, s"warm-up query failed: ${w.rows}"))
    tracer.foreach(_.reset())
    val host0 = Host.snap()
    val cpu0 = Host.cpuMs()
    val runs = names.map(runQuery)
    val cpuMs = Host.cpuMs() - cpu0
    val host = host0.delta(Host.snap())
    runs.foreach(r => System.err.println(f"[perfbench] ${r.name}%-24s ${r.end - r.start}%6d ms  build ${r.built - r.start}%5d ms"))
    val failures = runs.filter(r => r.rows != Right(expected(r.name)))
    failures.foreach(r => System.err.println(
      s"[perfbench] ${r.name}: ${r.rows.fold(identity, n => s"$n rows, expected ${expected(r.name)}")}"))
    val wallS = runs.map(r => (r.end - r.start) / 1000.0)
    val suiteS = wallS.sum
    val byFamily = runs.groupBy(r => family(r.name))
    val m = mutable.Map[String, Double](
      "cpu_ms_per_op" -> cpuMs / runs.size,
      "latency_p50_ms" -> Stats.median(wallS) * 1000,
      "latency_p90_ms" -> Stats.quantile(wallS, 0.9) * 1000,
      "latency_samples" -> runs.size.toDouble,
      "setup_rep_ms" -> Stats.median(warm.map(w => (w.end - w.start).toDouble)),
      "suite_s" -> suiteS,
      "suite.build_s" -> runs.map(r => (r.built - r.start) / 1000.0).sum,
      "suite.exec_s" -> runs.map(r => (r.end - r.built) / 1000.0).sum,
      "error_rate" -> failures.size.toDouble / runs.size)
    BatchSuite.Families.foreach { f =>
      m(s"suite.${f}_s") = byFamily.getOrElse(f, Seq.empty).map(r => (r.end - r.start) / 1000.0).sum
    }
    m ++= host
    tracer.foreach { tr =>
      val w = tr.window(runs.head.start, runs.last.end, _.prop("perfbench.query").isDefined)
      val root = tr.span(-1, "run", "run", runs.head.start, runs.last.end)
      val phases = runs.map { r =>
        val q = tr.span(root, "query", r.name, r.start, r.end)
        r.name -> (tr.span(q, "build", "build", r.start, r.built),
                   tr.span(q, "execute", "execute", r.built, r.end), r.built)
      }.toMap
      tr.jobSpans(w, j => j.prop("perfbench.query").flatMap(phases.get) match {
        case Some((b, e, built)) => if (j.start < built) b else e
        case None => root
      })
      val wm = w.metrics
      val cores = spark.sparkContext.defaultParallelism
      m ++= wm ++ tr.finish() ++ Map(
        "suite.jobs" -> wm("job.count"),
        "suite.stages" -> wm("stage.count"),
        "suite.task_run_s" -> wm("task.run_ms") / 1000,
        "suite.fixed_share" -> (1.0 - wm("task.run_ms") / 1000 / (suiteS * cores)),
        "suite.shuffle_bytes" -> (wm("shuffle.read_bytes") + wm("shuffle.write_bytes")),
        "suite.spill_bytes" -> wm("spill.bytes"),
        "suite.gc_s" -> wm("task.gc_ms") / 1000,
        "traced.cpu_ms_per_op" -> m("cpu_ms_per_op"),
        "traced.latency_p50_ms" -> m("latency_p50_ms"),
        "traced.latency_p90_ms" -> m("latency_p90_ms"))
    }
    Result(m.toMap, runs.size.toLong, failures.size.toLong)
  }
}

object BatchSuite {
  /** Query families, named after the `graft.operators` object an entry
   * calls; entries that call none are plain relational Spark. */
  val Families: Seq[String] = Seq("ljot", "relational", "textdedup", "corpus", "vectorops", "multimodal")
}
