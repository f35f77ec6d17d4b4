package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{PromMetrics, QueryMerge}

/** The pull-based metrics sink (SURVEY §2.1 S4): the reference serves
  * `GET /metrics` from an in-process Prometheus registry
  * (main.go:55-68, metrics.go:72-75). Spark-natively, the metric
  * aggregation DataFrames ARE the registry — this object renders them in
  * the Prometheus text exposition format (counters as monotonic totals,
  * histograms as cumulative `{le}` series + `_sum` + `_count`).
  *
  * [[exposition]] renders a parsed-event frame in one batch pass; it is
  * the reference rendering the exporter's incremental [[PromRegistry]]
  * reproduces byte-for-byte. The driver-side exposition is a few KB
  * regardless of input scale because every aggregation reduces before
  * collect.
  */
object MetricsSink {

  private[streaming] def fmtDouble(d: Double): String =
    if (d == d.floor && !d.isInfinite && math.abs(d) < 1e15) d.toLong.toString
    else if (d.isPosInfinity) "+Inf"
    else d.toString

  private def counterLines(name: String, help: String, df: DataFrame,
      labelCols: Seq[String], valueCol: String): String = {
    val rows = df.collect().toSeq
    val body = rows.map { r =>
      val labels =
        if (labelCols.isEmpty) ""
        else labelCols.map(c => s"""$c="${r.getAs[Any](c)}"""").mkString("{", ",", "}")
      s"$name$labels ${r.getAs[Long](valueCol)}"
    }.sorted.mkString("\n")
    s"# HELP $name $help\n# TYPE $name counter\n$body\n"
  }

  private def histogramLines(name: String, help: String, hist: DataFrame,
      sumCount: DataFrame, labelCols: Seq[String], sumScale: Double): String = {
    val bucketRows = hist.collect().toSeq
    def labelStr(r: Row, extra: Seq[(String, String)]): String = {
      val ls = labelCols.map(c => s"""$c="${r.getAs[Any](c)}"""") ++
        extra.map { case (k, v) => s"""$k="$v"""" }
      if (ls.isEmpty) "" else ls.mkString("{", ",", "}")
    }
    // Prometheus/OpenMetrics convention: buckets in ascending numeric `le`
    // order (+Inf last) within each label set — a lexicographic sort would
    // emit le="10" before le="5" and trip strict scrapers.
    val buckets = bucketRows
      .sortBy(r => (labelCols.map(c => String.valueOf(r.getAs[Any](c))).mkString("\u0000"),
        r.getAs[Double]("le")))
      .map { r =>
        val le = fmtDouble(r.getAs[Double]("le"))
        s"${name}_bucket${labelStr(r, Seq("le" -> le))} ${r.getAs[Long]("cum_count")}"
      }.mkString("\n")
    val sums = sumCount.collect().toSeq.flatMap { r =>
      Seq(
        s"${name}_sum${labelStr(r, Nil)} ${fmtDouble(r.getAs[Long]("sum") * sumScale)}",
        s"${name}_count${labelStr(r, Nil)} ${r.getAs[Long]("count")}")
    }.sorted.mkString("\n")
    s"# HELP $name $help\n# TYPE $name histogram\n$buckets\n$sums\n"
  }

  /** Render the reference's full metric surface (A2-A9 + read_lines and the
    * S3 tail_line delivery-error count supplied separately) from a
    * parsed-event frame. */
  def exposition(parsed: DataFrame, readLines: Long, tailLineErrors: Long = 0L): String = {
    val spark = parsed.sparkSession
    import spark.implicits._
    val sb = new StringBuilder
    sb.append("# HELP chlogexporter_read_lines Total read lines count\n")
    sb.append("# TYPE chlogexporter_read_lines counter\n")
    sb.append(s"chlogexporter_read_lines $readLines\n")

    val errBase = QueryMerge.errorCounters(parsed)
    val errAll =
      if (tailLineErrors > 0)
        errBase.unionAll(Seq(("tail_line", tailLineErrors)).toDF("type", "count"))
      else errBase
    sb.append(counterLines("chlogexporter_errors",
      "Clickhouse Log Exporter Internal Errors",
      errAll, Seq("type"), "count"))

    sb.append(counterLines("clickhouse_query_count",
      "Clickhouse Query Count by Type",
      PromMetrics.queryCount(parsed), Seq("stmt_type"), "count"))

    sb.append(counterLines("clickhouse_query_errors",
      "Clickhouse Query Errors Count by Code",
      PromMetrics.queryErrors(parsed), Seq("stmt_type", "error_code"), "count"))

    sb.append(histogramLines("clickhouse_query_time",
      "Time needed to process query by type",
      PromMetrics.queryTimeHistogram(parsed),
      PromMetrics.queryTimeSumCount(parsed), Seq("stmt_type"), 1e-6))

    val stats = PromMetrics.statsSumCounts(parsed).collect().head
    def statHist(name: String, help: String, hist: DataFrame, sumCol: String): Unit = {
      val buckets = hist.collect().toSeq.sortBy(_.getAs[Double]("le")).map { r =>
        name + "_bucket{le=\"" + fmtDouble(r.getAs[Double]("le")) + "\"} " +
          r.getAs[Long]("cum_count")
      }.mkString("\n")
      sb.append(s"# HELP $name $help\n# TYPE $name histogram\n$buckets\n")
      sb.append(s"${name}_sum ${stats.getAs[Long](sumCol)}\n")
      sb.append(s"${name}_count ${stats.getAs[Long]("count")}\n")
    }
    statHist("clickhouse_select_query_rows_read", "Number of rows read by query",
      PromMetrics.rowsReadHistogram(parsed), "rows_read_sum")
    statHist("clickhouse_select_query_bytes_read", "Bytes read by query",
      PromMetrics.bytesReadHistogram(parsed), "bytes_read_sum")
    statHist("clickhouse_select_query_rows_per_second", "Rows Per Second speed by query",
      PromMetrics.rpsHistogram(parsed), "rps_sum")
    statHist("clickhouse_select_query_bytes_per_second", "Bytes Per Second speed by query",
      PromMetrics.bpsHistogram(parsed), "speed_sum")
    sb.toString
  }

  /** The metric registry as ONE tall queryable DataFrame — the table-sink
    * form of [[exposition]] (BASELINE north star: stream metrics into a
    * parquet/warehouse table instead of an in-process registry). Schema:
    * `(metric string, labels string, le double?, value double)`; labels is
    * the canonical `k=v[,k=v]` string, `le` is null for counters/_sum/_count.
    *
    * FUSED single-pass plan: instead of unioning each metric family's own
    * aggregation subtree (r2 shape — 13 branches, each re-aggregating the
    * classified-event frame), every source row explodes into its metric
    * contribution rows and ONE `groupBy(metric, labels, le)` produces the
    * whole registry:
    *   - counters contribute only when their condition fires, so a cell
    *     exists iff its count > 0 (Prometheus counter-vec semantics, same
    *     as [[QueryMerge.errorCounters]]'s `filter(count > 0)`);
    *   - histogram observations contribute one row PER BUCKET with
    *     v = (obs <= le ? 1 : 0), so the aggregated cell is already the
    *     cumulative count and zero cells exist for every observed label —
    *     no separate zero-fill grid join or windowed running sum;
    *   - `_sum` rows carry exact integer values (µs / rows / bytes), scaled
    *     to seconds only after the aggregation, so sums stay
    *     order-independent (NOTES float policy).
    * A 35-row static grid keeps the unlabeled stats cells present even for
    * a batch with no stats lines (their grid is observation-independent).
    * No driver-side collection — a `foreachBatch` can write it distributed
    * at any scale. */
  def metricsTable(parsed: DataFrame, readLines: Long, tailLineErrors: Long = 0L): DataFrame = {
    val spark = parsed.sparkSession
    import spark.implicits._
    metricsTableWith(parsed,
      Seq(("chlogexporter_read_lines", "", Option.empty[Double], readLines))
        .toDF("metric", "labels", "le", "v")
        .select(col("metric"), col("labels"), col("le").cast("double"),
          col("v").cast("long")),
      tailLineErrors)
  }

  /** [[metricsTable]] with the A1 read-lines count computed INSIDE the
    * returned plan (one `count` aggregate over the lines frame, unioned
    * into the fold) — the registry form: the `log_metrics_table` row's
    * measured frame then carries its whole input scan instead of hiding a
    * driver-blocking `lines.count()` at query-BUILD time (which
    * under-attributed ~one scan in the bench artifact). Same output,
    * hash-identical. */
  def metricsTableOver(parsed: DataFrame, lines: DataFrame): DataFrame =
    metricsTableWith(parsed,
      lines.agg(count(lit(1)).cast("long").as("v"))
        .select(lit("chlogexporter_read_lines").as("metric"),
          lit("").as("labels"), lit(null).cast("double").as("le"), col("v")),
      tailLineErrors = 0L)

  private def metricsTableWith(parsed: DataFrame, readLinesRow: DataFrame,
      tailLineErrors: Long): DataFrame = {
    val spark = parsed.sparkSession
    import spark.implicits._

    val noLe = lit(null).cast("double")
    def c(metric: Column, labels: Column, le: Column, v: Column): Column =
      struct(metric.cast("string").as("metric"), labels.cast("string").as("labels"),
        le.cast("double").as("le"), v.cast("long").as("v"))
    def lab(k: String, v: Column): Column = concat(lit(k + "="), v.cast("string"))

    val base = QueryMerge.stateInserts(parsed)
    val cls = QueryMerge.classified(parsed)

    // A3: one increment per inserted state record (one per lifecycle)
    val fromBase = base.select(explode(array(
      c(lit("clickhouse_query_count"), lab("type", col("stmt_type")), noLe, lit(1L)))).as("c"))

    // initial lines range-joined against the lifecycle windows: a match =
    // arrived while state existed = duplicate; an unmatched malformed line =
    // convert (dup check precedes convert, matching the reference's order)
    val wins = base.select(col("id").as("b_id"), col("init_seq"), col("complete_seq"))
    val initials = parsed.filter(col("kind") === "initial")
      .join(wins, col("id") === col("b_id") &&
        col("seq") > col("init_seq") && col("seq") <= col("complete_seq"), "left")
    val fromInitials = initials.select(explode(
      when(col("init_seq").isNotNull, array(c(lit("chlogexporter_errors"),
        lit("type=duplicated_initial_query"), noLe, lit(1L))))
        .when(!col("cv_ok"),
          array(c(lit("chlogexporter_errors"), lit("type=convert"), noLe, lit(1L))))
        .otherwise(lit(null))).as("c"))

    // non-initial events: error counters + every histogram observation
    val timeCells = (PromMetrics.QueryTimeBuckets :+ Double.PositiveInfinity).map { b =>
      val elapsed = (unix_micros(col("ts")) - unix_micros(col("start_time")))
        .cast("double") / lit(1000000.0)
      c(lit("clickhouse_query_time_bucket"), lab("type", col("base_stmt_type")),
        lit(b), when(elapsed <= lit(b), 1L).otherwise(0L))
    }
    val timeTail = Seq(
      c(lit("clickhouse_query_time_sum"), lab("type", col("base_stmt_type")), noLe,
        unix_micros(col("ts")) - unix_micros(col("start_time"))),
      c(lit("clickhouse_query_time_count"), lab("type", col("base_stmt_type")), noLe, lit(1L)))
    val statsFamilies: Seq[(String, String, Seq[Double])] = Seq(
      ("clickhouse_select_query_rows_read", "rows_read", PromMetrics.RowsReadBuckets),
      ("clickhouse_select_query_bytes_read", "bytes_read", PromMetrics.BytesReadBuckets),
      ("clickhouse_select_query_rows_per_second", "rps", PromMetrics.RpsBuckets),
      ("clickhouse_select_query_bytes_per_second", "speed", PromMetrics.BpsBuckets))
    val statsCells = statsFamilies.flatMap { case (m, vc, buckets) =>
      (buckets :+ Double.PositiveInfinity).map(b =>
        c(lit(s"${m}_bucket"), lit(""), lit(b),
          when(col(vc).cast("double") <= lit(b), 1L).otherwise(0L))) ++ Seq(
        c(lit(s"${m}_sum"), lit(""), noLe, col(vc)),
        c(lit(s"${m}_count"), lit(""), noLe, lit(1L)))
    }
    val fromEvents = cls.select(explode(
      when(!col("is_live"), array(c(lit("chlogexporter_errors"),
        lit("type=not_found_query"), noLe, lit(1L))))
        .when(!col("cv_ok"), array(c(lit("chlogexporter_errors"),
          lit("type=convert"), noLe, lit(1L))))
        .when(col("kind") === "error", array(c(lit("clickhouse_query_errors"),
          concat_ws(",", lab("code", col("error_code")), lab("type", col("base_stmt_type"))),
          noLe, lit(1L))))
        .when(col("kind") === "memory", array(timeCells ++ timeTail: _*))
        .when(col("kind") === "stats", array(statsCells: _*))
        .otherwise(lit(null))).as("c"))

    // driver-known scalars + the observation-independent stats bucket grid
    // (the read-lines row arrives as a FRAME so the registry form can
    // compute it in-plan)
    val statics =
      (if (tailLineErrors > 0)
        Seq(("chlogexporter_errors", "type=tail_line", Option.empty[Double], tailLineErrors))
      else Seq.empty) ++
        statsFamilies.flatMap { case (m, _, buckets) =>
          (buckets :+ Double.PositiveInfinity).map(b => (s"${m}_bucket", "", Some(b), 0L))
        }
    val fromStatics = statics.toDF("metric", "labels", "le", "v")
      .select(col("metric"), col("labels"), col("le").cast("double"), col("v"))

    fromBase.unionAll(fromInitials).unionAll(fromEvents)
      .select(col("c.metric"), col("c.labels"), col("c.le"), col("c.v"))
      .unionAll(fromStatics).unionAll(readLinesRow)
      .groupBy("metric", "labels", "le")
      .agg(sum("v").as("sv"))
      .select(col("metric"), col("labels"), col("le"),
        when(col("metric") === "clickhouse_query_time_sum", col("sv") * lit(1e-6))
          .otherwise(col("sv").cast("double")).as("value"))
  }
}
