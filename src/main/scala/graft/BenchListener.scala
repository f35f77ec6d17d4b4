package graft

import scala.collection.mutable
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import graft.operators.PinnedCaches

/** What a set of Spark jobs cost: the jobs, the stages that ran (skipped
  * stages do not count), their tasks, shuffle bytes and the summed task
  * `executorRunTime`. */
final case class JobCost(jobs: Int = 0, stages: Int = 0, tasks: Long = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0, executorMs: Long = 0) {
  def +(o: JobCost): JobCost = JobCost(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, executorMs + o.executorMs)

  /** The BENCH_FULL fields of a registry row, without braces. */
  def rowJson: String =
    s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
      s""""shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes,""" +
      s""""executor_ms":$executorMs"""
}

/** [[Bench]]'s job accounting, registered for the whole run. It keeps every
  * job's start time and [[PinnedCaches.WarmStageKey]] label, and folds each
  * completed stage into the job that first listed it.
  *
  *   - A registry row is attributed by time ([[window]]): the per-query
  *     phase runs one row at a time, so every job that starts inside an
  *     attempt's window belongs to that attempt.
  *   - Warm stages run concurrently, so they are attributed by label
  *     ([[byLabel]]); a job in the warm window without one is reported
  *     under `unattributed`.
  *
  * Listener events arrive asynchronously: read only after [[sync]]. */
class BenchListener extends SparkListener {

  private case class Job(start: Long, label: Option[String], var cost: JobCost)
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val syncs = mutable.Map.empty[String, Promise[Unit]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    prop(BenchListener.SyncKey) match {
      case Some(id) => syncs.remove(id).foreach(_.success(()))
      case None =>
        jobs(e.jobId) = Job(e.time, prop(PinnedCaches.WarmStageKey), JobCost(jobs = 1))
        e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for (jobId <- stageJob.get(info.stageId); job <- jobs.get(jobId)) {
      val m = Option(info.taskMetrics)
      job.cost += JobCost(stages = 1, tasks = info.numTasks,
        shuffleReadBytes = m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
        shuffleWriteBytes = m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
        executorMs = m.fold(0L)(_.executorRunTime))
    }
  }

  /** Wait until every event of the jobs submitted before this call has been
    * seen: one marker job, which the listener bus delivers after them. */
  def sync(sc: SparkContext): Unit = {
    val id = java.util.UUID.randomUUID().toString
    val seen = synchronized(syncs.getOrElseUpdate(id, Promise[Unit]()))
    val outer = sc.getLocalProperty(BenchListener.SyncKey)
    sc.setLocalProperty(BenchListener.SyncKey, id)
    try sc.parallelize(Seq(0), 1).count()
    finally sc.setLocalProperty(BenchListener.SyncKey, outer)
    Await.result(seen.future, 2.minutes)
  }

  private def startedIn(fromMs: Long, toMs: Long): Iterable[Job] =
    jobs.values.filter(j => j.start >= fromMs && j.start <= toMs)

  /** Cost of the jobs that started in `[fromMs, toMs]` (wall-clock ms). */
  def window(fromMs: Long, toMs: Long): JobCost = synchronized {
    startedIn(fromMs, toMs).map(_.cost).foldLeft(JobCost())(_ + _)
  }

  /** Cost per warm-stage label of the jobs that started in `[fromMs,
    * toMs]`; unlabelled jobs under `unattributed`. */
  def byLabel(fromMs: Long, toMs: Long): Map[String, JobCost] = synchronized {
    startedIn(fromMs, toMs).groupBy(_.label.getOrElse(BenchListener.Unattributed))
      .map { case (label, js) => label -> js.map(_.cost).foldLeft(JobCost())(_ + _) }
  }
}

object BenchListener {
  /** Job-local property that marks [[BenchListener.sync]]'s marker job. */
  private[graft] val SyncKey = "graft.bench.sync"
  val Unattributed = "unattributed"
}
