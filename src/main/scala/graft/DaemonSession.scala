package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The session the three daemons ([[Exporter]], [[Ingest]], [[VecIngest]])
  * run on: one builder, so the config they ship with is stated once.
  *
  *   - `spark.sql.shuffle.partitions` = the core count
  *     (`sparkContext.defaultParallelism`) instead of Spark's fixed 200. The
  *     keyed merge keeps one state-store partition per shuffle partition and
  *     every micro-batch runs and commits all of them whatever its size, so
  *     200 makes a small follow batch cost seconds. A stateful query fixes
  *     its count when its checkpoint is first written; a resumed checkpoint
  *     keeps the count it was created with.
  *   - `spark.sql.session.timeZone` = UTC: ClickHouse log timestamps carry
  *     no zone (the reference's `time.Parse`), so parsing them in UTC keeps
  *     the per-query `elapsed` free of DST jumps.
  *   - `spark.sql.legacy.parquet.nanosAsLong` on, for int64-nanosecond
  *     parquet inputs.
  *
  * A key the launch conf already sets (`spark-submit --conf`, or a
  * `-Dspark.*` property) wins over the first two defaults. */
object DaemonSession {

  val ShufflePartitions = "spark.sql.shuffle.partitions"
  val SessionTimeZone = "spark.sql.session.timeZone"
  val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** The SQL settings a daemon applies over its launch `conf`, given the
    * context's `defaultParallelism`. Pure, so specs check the resolution
    * without a second session. */
  private[graft] def settings(conf: SparkConf,
      defaultParallelism: Int): Map[String, String] =
    Map(ShufflePartitions -> defaultParallelism.toString, SessionTimeZone -> "UTC")
      .filterNot { case (k, _) => conf.contains(k) } + (NanosAsLong -> "true")

  /** Get or create the session and apply [[settings]]. They are set after
    * `getOrCreate`, since the core count is known only once the master
    * (from spark-submit or `-Dspark.master`) has started. */
  def apply(appName: String): SparkSession = {
    val spark = SparkSession.builder().appName(appName).getOrCreate()
    val sc = spark.sparkContext
    settings(sc.getConf, sc.defaultParallelism).foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }
}
