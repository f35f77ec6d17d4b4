package perfbench

import java.io.{FileWriter, PrintWriter}

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Writes one JSON line per finished Spark job and stage to the file named
  * by the `PERFBENCH_LISTENER_OUT` environment variable. Registered in a
  * traced exporter run through `spark.extraListeners`; the benchmark groups
  * the lines by the micro-batch id that Structured Streaming sets as the
  * `streaming.sql.batchId` job property. */
class JobListener extends SparkListener {

  private val out = new PrintWriter(new FileWriter(
    sys.env.getOrElse("PERFBENCH_LISTENER_OUT", "perfbench-listener.jsonl"), true))
  private val jobBatch = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageBatch = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]

  private def emit(line: String): Unit = synchronized { out.println(line); out.flush() }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val batch = Option(e.properties)
      .flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .map(_.toLong).getOrElse(-1L)
    jobBatch(e.jobId) = batch
    jobStart(e.jobId) = e.time
    e.stageIds.foreach { s => stageBatch(s) = batch; stageJob(s) = e.jobId }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val ok = e.jobResult == JobSucceeded
    emit(s"""{"kind":"job","job":${e.jobId},"batch":${jobBatch.getOrElse(e.jobId, -1L)},""" +
      s""""start":${jobStart.getOrElse(e.jobId, e.time)},"end":${e.time},"ok":$ok}""")
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val m = s.taskMetrics
    val (readBytes, writeBytes) =
      if (m == null) (0L, 0L)
      else (m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten)
    val dur = for (a <- s.submissionTime; b <- s.completionTime) yield b - a
    emit(s"""{"kind":"stage","stage":${s.stageId},"job":${stageJob.getOrElse(s.stageId, -1)},""" +
      s""""batch":${stageBatch.getOrElse(s.stageId, -1L)},"tasks":${s.numTasks},""" +
      s""""ms":${dur.getOrElse(0L)},"parents":${s.parentIds.size},""" +
      s""""shuffle_read":$readBytes,"shuffle_write":$writeBytes,""" +
      s""""failed":${s.failureReason.nonEmpty}}""")
  }
}
