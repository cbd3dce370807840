package graft.util

import org.apache.spark.sql.SparkSession

/** The one session builder every main uses: `local[cpus]` with shuffle
  * partitions = cpus, UTC session time, the UI off, and
  *  - `spark.sql.extensions`: [[graft.functions.GraftExtensions]], so SQL
  *    text can call the native `graft_*` functions by name;
  *  - `spark.sql.legacy.parquet.nanosAsLong`: `events.parquet` has
  *    carried TIMESTAMP(NANOS), read as an epoch-ns long;
  *  - `spark.sql.streaming.forceDeleteTempCheckpointLocation`: the
  *    memory-sink drains clean up their temporary checkpoints. */
object LocalSession {
  def apply(cpus: String, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
