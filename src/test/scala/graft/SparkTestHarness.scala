package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite: [[GraftSession]] on 4 cores, so 4
 * shuffle partitions keep stateful streaming tests fast.
 *
 * afterAll stops any still-active streaming query: a leaked query with
 * processing-time timers busy-spins no-data micro-batches forever, which
 * keeps the forked test JVM alive and silently steals CPU from everything
 * that runs after the suite. */
trait SparkTestHarness extends BeforeAndAfterAll { self: AnyFunSuite =>
  lazy val spark: SparkSession =
    GraftSession.builder(4).appName(getClass.getSimpleName).getOrCreate()

  /** Stop `q` between triggers: a `stop()` that lands inside a trigger
   * interrupts its in-flight state-store commit, and every aborted task
   * prints a `CANNOT_COMMIT` stack trace. Waits up to 30 s for a running
   * trigger to end, then stops at once; a query with timers needs a
   * non-zero `Trigger.ProcessingTime` so that an idle gap follows. */
  def stopBetweenTriggers(q: StreamingQuery): Unit = {
    val deadline = System.currentTimeMillis() + 30000L
    while (q.status.isTriggerActive && System.currentTimeMillis() < deadline)
      Thread.sleep(1L)
    q.stop()
  }

  /** Run micro-batches until one has run with watermark `wm`, for up to
   * 60 s: a watermark advance is applied by the NEXT micro-batch (a no-data
   * one if no input is pending), which processAllAvailable does not always
   * wait for. Returns the watermark the last micro-batch ran with, None for
   * a query without one. */
  def settleWatermark(q: StreamingQuery, wm: Long): Option[Long] = {
    def current = Option(q.lastProgress.eventTime.get("watermark"))
      .map(java.time.Instant.parse(_).toEpochMilli)
    val deadline = System.currentTimeMillis() + 60000L
    q.processAllAvailable()
    while (current.exists(_ != wm) && System.currentTimeMillis() < deadline) {
      Thread.sleep(20L); q.processAllAvailable()
    }
    current
  }

  override protected def afterAll(): Unit = {
    // a suite that stopped the shared context has no queries or cache left
    if (!spark.sparkContext.isStopped) {
      spark.streams.active.foreach { q =>
        try q.stop() catch { case _: Throwable => () }
      }
      spark.catalog.clearCache()
    }
    super.afterAll()
  }
}
