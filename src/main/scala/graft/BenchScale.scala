package graft

/** Two-point scale-curve bench: times the most expensive registry rows at
  * sf0.1 and at the [[ScaleData]]-rendered ~10× corpus, and prints ONE
  * JSON line per run plus a combined `BENCH_SCALE.json` with per-row
  * ratios. A ~linear row lands near ratio 10 (same per-byte work);
  * anything curving well past that is named super-linear and becomes next
  * round's work (the r12 verdict's task 5 shape).
  *
  * Sessions are built fresh PER SCALE (pins/memos key on source plans, so
  * one long-lived session would carry sf0.1 working sets into the sf1
  * timings); each row is best-of-2 through the same noop-sink discipline
  * as [[Bench]]. */
object BenchScale {

  /** The 10 most expensive oracle rows of BENCH_FULL (cache_build is the
    * warm line, not a row) — the rows whose curve matters. */
  val Rows: Seq[String] = Seq(
    "dedup_index_delta", "dedup_index_refresh", "knn_graph_delta",
    "agg_approx", "embed_index_delta", "sim_pq_delta", "agg_exact",
    "dedup_prefix_join", "log_metrics_table", "text_winnowing_pairs")

  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def timeAll(sfDir: String): Map[String, Double] = {
    val spark = LocalSession(32)
    try {
      SparkEntry.warmCaches(spark, sfDir)
      Rows.map { name =>
        def once(): Double = {
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        val best = math.min(once(), once())
        System.err.println(s"[scale] $sfDir $name ${fmt(best)} s")
        name -> best
      }.toMap
    } finally {
      graft.operators.PinnedCaches.release(spark)
      spark.stop()
      // a fresh session per scale needs the stopped one fully gone
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
    }
  }

  def main(args: Array[String]): Unit = {
    val small = args.headOption.getOrElse("/root/testdata/sf0.1")
    val big = args.lift(1).getOrElse("target/testdata/sf1x")
    val s = timeAll(small)
    val b = timeAll(big)
    val rows = Rows.map { n =>
      val ratio = b(n) / math.max(s(n), 1e-9)
      s""""$n":{"sf01":${fmt(s(n))},"sf1":${fmt(b(n))},"ratio":${fmt(ratio)}}"""
    }.mkString("{", ",", "}")
    val json = s"""{"metric":"scale_curve","factor":${ScaleData.Factor},"rows":$rows}"""
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_SCALE.json"),
      (json + "\n").getBytes("UTF-8"))
    ()
  }
}
