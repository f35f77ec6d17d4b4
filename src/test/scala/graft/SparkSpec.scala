package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. A suite that leaves a streaming query
  * running fails in `afterAll` (the leaked queries are stopped first, so
  * the failure stays with the suite that leaked). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** `(seq, value)` lines of one log file through the exporter's tail
    * source, read from the start of the file. */
  def tailLines(path: String): DataFrame =
    spark.readStream
      .format(classOf[graft.sources.TailFileSourceProvider].getName)
      .option("path", path)
      .option("fromStart", "true")
      .load()

  /** `(src, seq, value)` lines of a fleet of log files through the
    * exporter's fleet source, each read from its start. */
  def fleetLines(paths: Seq[String]): DataFrame =
    spark.readStream
      .format(classOf[graft.sources.TailFleetSourceProvider].getName)
      .option("paths", paths.mkString(","))
      .option("fromStart", "true")
      .load()

  /** Run `ds` under `Trigger.AvailableNow` from `checkpoint`, handing each
    * micro-batch to `sink`; fails unless the run ends on its own within
    * `timeoutMs`, and always stops the query. */
  def drainAvailable[T](ds: Dataset[T], checkpoint: String,
      timeoutMs: Long = 60000L)(sink: Dataset[T] => Unit): Unit = {
    val q = ds.writeStream
      .foreachBatch { (batch: Dataset[T], _: Long) => sink(batch) }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(timeoutMs), "AvailableNow run must terminate on its own")
    finally q.stop()
  }

  override protected def afterAll(): Unit =
    try SparkSession.getDefaultSession.foreach { s =>
      val leaked = s.streams.active.toSeq
      leaked.foreach(q => try q.stop() catch { case NonFatal(_) => () })
      assert(leaked.isEmpty, s"$suiteName left streaming queries running: " +
        leaked.map(q => Option(q.name).getOrElse(q.id.toString)).mkString(", "))
    } finally super.afterAll()
}

object SparkSpec {
  /** Runs on the daemons' `file:` file system, so the checkpoint and index
    * specs exercise the one the daemons ship. */
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config(DaemonSession.LocalFileSystem)
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
