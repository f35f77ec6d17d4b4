package graft

import org.apache.spark.sql.SparkSession

/** The `local[cpus]` session of the measuring mains ([[Bench]], [[Verify]],
  * [[PlanDump]], [[BenchScale]], [[ScaleData]]), built once so the plans
  * Verify checks are the plans Bench times:
  *
  *   - `spark.sql.shuffle.partitions` = `cpus`;
  *   - `spark.sql.session.timeZone` = UTC: `Tables.events`' TIMESTAMP_NTZ
  *     branch casts through the session time zone, so a non-UTC JVM default
  *     would shift hourly and session bucket boundaries;
  *   - `spark.sql.legacy.parquet.nanosAsLong` on, for int64-nanosecond
  *     parquet inputs;
  *   - the FAIR scheduler: `SparkEntry.warmCaches` submits its independent
  *     pin chains from concurrent driver threads, and under the default
  *     FIFO queue a long head-of-line stage (the CC loops, k-means) blocks
  *     every sibling chain's ready stages. FAIR interleaves them across the
  *     same cores (measured 6-7 s off cache_build at sf0.1, both orders).
  *     One job at a time schedules identically under FAIR and FIFO;
  *   - no UI. */
object LocalSession {
  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
