package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** One traced interval; `parent` is -1 for a root. Times are epoch ms. */
final case class Span(id: Int, parent: Int, layer: String, name: String, start: Double, end: Double)

/** Records Spark jobs, stages and task totals through a `SparkListener`
 * registered only in traced runs, and turns them, with the micro-batch
 * progress reports, into a span tree. Spans stay in memory and are written
 * once at the end of the run. */
final class Tracer(spark: SparkSession, outPrefix: String) extends SparkListener {
  final class JobRec(val id: Int, val start: Long, val stageIds: Seq[Int],
                     val props: java.util.Properties) {
    @volatile var end: Long = start
    def prop(k: String): Option[String] = Option(props).flatMap(p => Option(p.getProperty(k)))
  }
  final class StageRec(val id: Int) {
    var submitted = 0L
    var completed = 0L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var deserMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRec(e.jobId, e.time, e.stageIds, e.properties)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  private def stage(id: Int): StageRec = stages.getOrElseUpdate(id, new StageRec(id))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.submitted = e.stageInfo.submissionTime.getOrElse(0L)
    s.completed = e.stageInfo.completionTime.getOrElse(s.submitted)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.deserMs += m.executorDeserializeTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def reset(): Unit = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    synchronized { jobs.clear(); stages.clear() }
  }

  /** The jobs that started inside [from, to] and pass `keep`, with their
   * stages' task totals. */
  final class Window(val jobs: Seq[JobRec], val stages: Map[Int, StageRec]) {
    private def total(f: StageRec => Long): Double = stages.values.map(f(_).toDouble).sum
    def metrics: Map[String, Double] = Map(
      "task.count" -> total(_.tasks),
      "job.count" -> jobs.size.toDouble,
      "stage.count" -> stages.size.toDouble,
      "task.run_ms" -> total(_.runMs),
      "task.cpu_ms" -> total(_.cpuNs) / 1e6,
      "task.gc_ms" -> total(_.gcMs),
      "task.deser_ms" -> total(_.deserMs),
      "shuffle.read_bytes" -> total(_.shuffleRead),
      "shuffle.write_bytes" -> total(_.shuffleWrite),
      "spill.bytes" -> total(_.spill))
  }

  def window(from: Long, to: Long, keep: JobRec => Boolean): Window = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    synchronized {
      val js = jobs.values.filter(j => j.start >= from && j.start <= to && keep(j)).toSeq
      val ids = js.flatMap(_.stageIds).toSet
      new Window(js, stages.filter { case (id, s) => ids(id) && s.completed > 0 }.toMap)
    }
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  def span(parent: Int, layer: String, name: String, start: Double, end: Double): Int = {
    spans += Span(spans.size, parent, layer, name, start, end)
    spans.size - 1
  }

  /** Adds each job of `w` under `parentOf(job)`, and each of its stages
   * under the job. */
  def jobSpans(w: Window, parentOf: JobRec => Int): Unit =
    w.jobs.foreach { j =>
      val js = span(parentOf(j), "job", s"job ${j.id}", j.start, j.end)
      j.stageIds.flatMap(w.stages.get).foreach { s =>
        span(js, "stage", s"stage ${s.id}", s.submitted, s.completed)
      }
    }

  /** Streaming tree: run → micro-batch → phase → job → stage. Progress
   * reports give each phase's duration but not its start, so phases are
   * laid end to end in the order the micro-batch runs them; a job goes
   * under the phase its start falls in, found through the job's
   * `streaming.sql.batchId` property. */
  def streamingSpans(w: Window, batches: Seq[StreamingQueryProgress], from: Long, to: Long): Unit = {
    val run = span(-1, "run", "run", from, to)
    val phases = mutable.HashMap.empty[Long, Seq[(Int, Double, Double)]]
    val mbs = mutable.HashMap.empty[Long, Int]
    batches.foreach { pr =>
      val s = Instant.parse(pr.timestamp).toEpochMilli.toDouble
      def d(k: String): Double = Option(pr.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val mb = span(run, "micro_batch", s"batch ${pr.batchId}", s, s + d("triggerExecution"))
      mbs(pr.batchId) = mb
      var at = s
      phases(pr.batchId) = Streaming.Phases.map { k =>
        val id = span(mb, "phase", k, at, at + d(k))
        at += d(k)
        (id, at - d(k), at)
      }
    }
    jobSpans(w, j => {
      val b = j.prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L)
      phases.getOrElse(b, Seq.empty).find { case (_, s, e) => j.start >= s && j.start <= e }
        .map(_._1).orElse(mbs.get(b)).getOrElse(run)
    })
  }

  /** Self time per layer, in ms: each span's duration minus the part of
   * it that its children's union covers. */
  def selfTimes(): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(s.id, Seq.empty)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0
        var cur = (Double.NaN, Double.NaN)
        kids.foreach { case (a, b) =>
          if (cur._1.isNaN || a > cur._2) { if (!cur._1.isNaN) covered += cur._2 - cur._1; cur = (a, b) }
          else cur = (cur._1, math.max(cur._2, b))
        }
        if (!cur._1.isNaN) covered += cur._2 - cur._1
        math.max(0.0, s.end - s.start - covered)
      }.sum
    }
  }

  /** Writes the spans (one JSON object a line) and the self-time table,
   * prints the table to stderr, and returns it as per-layer metrics. */
  def finish(): Map[String, Double] = {
    val self = selfTimes()
    def f(d: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val lines = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${s.name}",""" +
        s""""start_ms":${f(s.start)},"end_ms":${f(s.end)}}""")
    Files.createDirectories(Paths.get(outPrefix).getParent)
    Files.write(Paths.get(s"$outPrefix.spans.jsonl"), (lines.mkString("\n") + "\n").getBytes(UTF_8))
    val table = Tracer.Layers.map(l => f"$l%-12s ${self.getOrElse(l, 0.0)}%12.1f ms  ${spans.count(_.layer == l)}%7d spans")
    Files.write(Paths.get(s"$outPrefix.selftime.txt"), (table.mkString("\n") + "\n").getBytes(UTF_8))
    System.err.println(("[perfbench] self time per layer" +: table).mkString("\n"))
    Tracer.Layers.map(l => s"trace.self_ms.$l" -> self.getOrElse(l, 0.0)).toMap
  }
}

object Tracer {
  val Layers: Seq[String] =
    Seq("run", "micro_batch", "phase", "query", "build", "execute", "job", "stage")
}
