package graft

/** Plan dumper: `runMain graft.PlanDump <outDir> <query>...` writes each
  * named [[SparkEntry.queries]] entry's `.explain("formatted")` output to
  * `<outDir>/<query>.txt` under Bench's session ([[LocalSession]], same
  * SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS defaults) with the caches warmed
  * first. It answers the one question BENCH_FULL cannot: which physical
  * plan, with the InMemoryRelation pins substituted, the timed run
  * executed. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.head
    val names = args.tail.toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    SparkEntry.warmCaches(spark, sfDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"$name.txt"),
        plan.getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/$name.txt")
    }
    spark.stop()
  }
}
