package graft

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.functions.col

import graft.operators.PinnedCaches

/** Bench's job accounting against a plain counting listener: a row's time
  * window holds exactly its own jobs and stages, and concurrent warm
  * stages each get exactly their own jobs through nested warm futures. */
class BenchListenerSpec extends SparkSpec {

  /** Counts job starts and completed stages, leaving out sync marker jobs. */
  private class Counting extends SparkListener {
    private var jobs, stages = 0
    private val markerStages = mutable.Set.empty[Int]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).exists(_.getProperty(BenchListener.SyncKey) != null))
        markerStages ++= e.stageIds
      else jobs += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      if (!markerStages(e.stageInfo.stageId)) stages += 1
    }
    def counts: (Int, Int) = synchronized((jobs, stages))
  }

  private def withListeners[A](ls: SparkListener*)(f: => A): A = {
    ls.foreach(spark.sparkContext.addSparkListener)
    try f finally ls.foreach(spark.sparkContext.removeSparkListener)
  }

  test("row windows: jobs and stages equal a plain count; only the shuffle row has shuffle bytes") {
    val sc = spark.sparkContext
    val bench = new BenchListener
    val plain = new Counting
    withListeners(bench, plain) {
      /** One row: its ms window and the plain listener's (jobs, stages). */
      def row(f: => Unit): ((Long, Long), (Int, Int)) = {
        bench.sync(sc)
        val (j0, s0) = plain.counts
        val from = System.currentTimeMillis()
        f
        val to = System.currentTimeMillis()
        bench.sync(sc)
        val (j1, s1) = plain.counts
        ((from, to), (j1 - j0, s1 - s0))
      }
      val (shuffleW, shuffleN) = row(spark.range(0, 20000, 1, 4)
        .groupBy((col("id") % 7).as("k")).count()
        .write.format("noop").mode("overwrite").save())
      val (scanW, scanN) = row(spark.range(0, 20000, 1, 4)
        .filter(col("id") % 3 === 0)
        .write.format("noop").mode("overwrite").save())
      val shuffle = bench.window(shuffleW._1, shuffleW._2)
      val scan = bench.window(scanW._1, scanW._2)
      assert((shuffle.jobs, shuffle.stages) === shuffleN)
      assert((scan.jobs, scan.stages) === scanN)
      assert(shuffle.stages >= 2 && shuffle.tasks >= shuffle.stages)
      assert(shuffle.shuffleReadBytes > 0 && shuffle.shuffleWriteBytes > 0)
      assert(scan.jobs >= 1 && scan.tasks >= 4)
      assert(scan.shuffleReadBytes === 0L && scan.shuffleWriteBytes === 0L)
    }
  }

  test("concurrent warm stages: each label gets exactly its own jobs, innermost label wins") {
    val sc = spark.sparkContext
    val bench = new BenchListener
    withListeners(bench) {
      def job(): Unit = sc.parallelize(1 to 100, 2).count()
      /** A warm stage whose jobs run in a nested warm future. */
      def stage(label: String, jobs: Int)(inner: => Unit) = PinnedCaches.warmFuture(spark) {
        PinnedCaches.warmStage(spark, label) {
          PinnedCaches.settle(Seq(PinnedCaches.warmFuture(spark) {
            (1 to jobs).foreach(_ => job())
            inner
          }))
        }
      }
      bench.sync(sc)
      val from = System.currentTimeMillis()
      PinnedCaches.settle(Seq(
        stage("a", 1)(PinnedCaches.warmStage(spark, "a.inner")(job())),
        stage("b", 2)(())))
      val to = System.currentTimeMillis()
      bench.sync(sc)
      val got = bench.byLabel(from, to)
      assert(got.map { case (k, c) => k -> c.jobs } === Map("a" -> 1, "a.inner" -> 1, "b" -> 2))
      assert(got.values.forall(c => c.stages == c.jobs && c.tasks == 2L * c.jobs))
      assert(got.get(BenchListener.Unattributed).fold(0)(_.jobs) === 0)
      assert(Set("a", "a.inner", "b").subsetOf(PinnedCaches.warmTimes(spark).keySet))

      // a job outside any warm stage is reported, not lost
      val from2 = System.currentTimeMillis()
      job()
      val to2 = System.currentTimeMillis()
      bench.sync(sc)
      assert(bench.byLabel(from2, to2).map { case (k, c) => k -> c.jobs } ===
        Map(BenchListener.Unattributed -> 1))
    }
  }
}
