package graft

import org.apache.spark.sql.SparkSession
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
