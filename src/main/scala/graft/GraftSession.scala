package graft

import org.apache.spark.sql.SparkSession

/** The one way to open an engine session: the Graft SQL extensions on a
  * `local[cores]` master with `cores` shuffle partitions, parquet INT64
  * TIMESTAMP(NANOS) read as BIGINT nanos (session-level so no reader
  * mutates conf mid-query — SPARK-40819), UTC session time, UI off.
  * Callers add their own settings to the returned builder before
  * `getOrCreate()`, which reuses a running session. */
object GraftSession {
  def builder(cores: String): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
