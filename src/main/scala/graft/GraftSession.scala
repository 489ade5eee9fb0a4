package graft

import org.apache.spark.sql.SparkSession

/** The one local-session configuration of the mains and the test harness. */
object GraftSession {

  /** `local[cores]` with one shuffle partition per core, UTC session time,
   * no UI and shuffle/spill scratch on [[SparkLocal.dir]].
   *
   * At bench scale AQE's default 1 MB coalesce floor folds small
   * candidate/verify exchanges into ONE partition, serializing per-pair
   * work onto a single core; a 64k floor keeps every core busy. Irrelevant
   * at cluster scale, where partitions dwarf 1 MB.
   *
   * `nanosAsLong` reads legacy TIMESTAMP(NANOS) `events.ts` encodings as
   * BIGINT — see `Tables.events` (schema-adaptive). */
  def builder(cores: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toLong)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", SparkLocal.dir)
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** The mains' core count: `SPARK_GRAFT_CPUS`, or every available
   * processor when it is unset. */
  def mainCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
}
