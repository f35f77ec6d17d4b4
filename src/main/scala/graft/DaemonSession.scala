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
  *   - the `file:` scheme bound to [[NioLocalFileSystem]] (`FileSystem`)
  *     and [[NioLocalFs]] (`FileContext`, which Spark's checkpoint manager
  *     writes through). Without `libhadoop`, Hadoop's local file system
  *     forks a process per metadata call: `chmod` in
  *     `RawLocalFileSystem.setPermission` on every create and mkdirs,
  *     `readlink` in `FileUtil.readLink` on every link-status call (a
  *     `FileContext.rename` asks for three), and `ls -ld` in
  *     `DeprecatedRawLocalFileStatus.loadPermissionInfoByNonNativeIO`
  *     when a status's permission is read. That was ~200 forks per follow
  *     micro-batch, most of its commit time; the NIO classes make the same
  *     calls as syscalls and leave the checkpoint layout, its `.crc` files
  *     and the rename as they were. Other schemes are untouched.
  *
  * A key the launch conf already sets (`spark-submit --conf`, or a
  * `-Dspark.*` property) wins over these defaults, except `nanosAsLong`. */
object DaemonSession {

  val ShufflePartitions = "spark.sql.shuffle.partitions"
  val SessionTimeZone = "spark.sql.session.timeZone"
  val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  val FileImpl = "spark.hadoop.fs.file.impl"
  val AbstractFileImpl = "spark.hadoop.fs.AbstractFileSystem.file.impl"

  /** The `file:` bindings, as the launch-conf keys that carry them into
    * the context's Hadoop configuration. */
  val LocalFileSystem: Map[String, String] = Map(
    FileImpl -> classOf[NioLocalFileSystem].getName,
    AbstractFileImpl -> classOf[NioLocalFs].getName)

  /** The [[LocalFileSystem]] keys the launch `conf` does not set. They go
    * into the builder, before the context starts: Hadoop caches one
    * `FileSystem` per scheme on first use, and the context's start already
    * uses `file:`, so a key set afterwards would leave the stock instance in
    * the cache. */
  private[graft] def fileSystem(conf: SparkConf): Map[String, String] =
    LocalFileSystem.filterNot { case (k, _) => conf.contains(k) }

  /** The SQL settings a daemon applies over its launch `conf`, given the
    * context's `defaultParallelism`. Pure, so specs check the resolution
    * without a second session. */
  private[graft] def settings(conf: SparkConf,
      defaultParallelism: Int): Map[String, String] =
    Map(ShufflePartitions -> defaultParallelism.toString, SessionTimeZone -> "UTC")
      .filterNot { case (k, _) => conf.contains(k) } + (NanosAsLong -> "true")

  /** Get or create the session with [[fileSystem]], then apply
    * [[settings]]. Those are set after `getOrCreate`, since the core count
    * is known only once the master (from spark-submit or `-Dspark.master`)
    * has started. */
  def apply(appName: String): SparkSession = {
    val spark = SparkSession.builder().appName(appName)
      .config(fileSystem(new SparkConf())).getOrCreate()
    val sc = spark.sparkContext
    settings(sc.getConf, sc.defaultParallelism).foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }
}
