package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession builder behind every main and the test
  * suite: `local[cpus]` with a matching shuffle-partition count, UTC
  * session time, the engine's Catalyst extensions, nanosecond parquet
  * timestamps read as longs (the testdata encoding), and no UI.
  * Callers set their own log level.
  */
object GraftSession {
  def local(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
