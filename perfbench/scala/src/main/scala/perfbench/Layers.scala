package perfbench

import org.apache.spark.sql.SparkSession

import graft.sources.LogSource
import graft.operators.LogParser
import graft.streaming.{PromRegistry, StreamingMerge}

/** Timed calls into single layers of the exporter, over one log file:
  *
  *   - `LogParser.parseKeepAll` over the cached lines into a noop sink;
  *   - `PromRegistry.observe` over the merge's non-record output for the
  *     whole log (computed once, as a batch, by
  *     `StreamingMerge.mergeWithDelivery`);
  *   - `PromRegistry.render` of the registry that fold produced.
  *
  * Usage: Layers <log> <out.json>. Prints nothing; writes one JSON object.
  * Each figure is the median of several repetitions after one warm-up. */
object Layers {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
  }

  def main(args: Array[String]): Unit = {
    val Array(log, outPath) = args
    val spark = SparkSession.builder().appName("perfbench-layers").getOrCreate()
    try {
      val lines = LogSource.readText(spark, log).cache()
      val n = lines.count()
      def parse(): Unit = LogParser.parseKeepAll(LogSource.withDelivery(lines))
        .write.format("noop").mode("overwrite").save()
      parse()
      val parseMs = median((1 to 3).map(_ => timed(parse())))

      val outs = StreamingMerge.mergeWithDelivery(lines, timeoutMs = 0L)
        .filter(_.out != "record").collect()
      var reg = new PromRegistry
      outs.foreach(reg.observe)
      val observeMs = median((1 to 5).map { _ =>
        val r = new PromRegistry
        val t = timed(outs.foreach(r.observe))
        reg = r
        t
      })
      reg.render()
      val renderMs = median((1 to 21).map(_ => timed(reg.render())))
      val json =
        s"""{"lines":$n,"parse_ms":$parseMs,"lines_per_s":${n / (parseMs / 1000.0)},""" +
          s""""observations":${outs.length},"observe_ms":$observeMs,""" +
          s""""observe_per_s":${outs.length / (observeMs / 1000.0)},""" +
          s""""render_ms":$renderMs,"render_bytes":${reg.render().length}}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath), json.getBytes("UTF-8"))
    } finally spark.stop()
  }
}
