package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Tables

/** Relational operator coverage (SURVEY.md §2.4/§2.6 note: the engine ships
  * the full relational surface even though the reference's only join is the
  * keyed merge) over the driver's TPC-H-ish tables, each with a DuckDB oracle.
  *
  * Float-determinism policy (hash-exact across engines): aggregates of money /
  * quantity columns are computed on integer cents (`round(x*100)::bigint`)
  * at row level and converted back with one identical double expression on
  * both sides; counts/mins/maxes are exact as-is; no order-dependent double
  * summation anywhere.
  *
  * Scale notes are per-query in the Scaladoc below; the common themes:
  * filters stated before joins (pushed to the parquet scan), dimension sides
  * broadcast explicitly, aggregations partial map-side, windows partitioned
  * by high-cardinality keys.
  */
object RelationalQueries {

  private def cents(c: Column): Column = round(c * 100).cast("long")

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** TPC-H Q1-shaped pricing summary: single scan, map-side partial agg into
    * 6 groups; at 100 TB this is scan-bound — filter + 7-column projection
    * reach the parquet reader (verified via explain: PushedFilters). */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(cents(col("l_quantity"))).as("qty_c"),
        sum(cents(col("l_extendedprice"))).as("price_c"),
        sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("disc_price_u"),
        sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))) *
          (lit(100L) + cents(col("l_tax")))).as("charge_u"),
        count(lit(1)).as("count_order"))
      .select(
        col("l_returnflag"), col("l_linestatus"),
        (col("qty_c").cast("double") / 100.0).as("sum_qty"),
        (col("price_c").cast("double") / 100.0).as("sum_base_price"),
        (col("disc_price_u").cast("double") / 10000.0).as("sum_disc_price"),
        (col("charge_u").cast("double") / 1000000.0).as("sum_charge"),
        (col("qty_c").cast("double") / 100.0 / col("count_order")).as("avg_qty"),
        (col("price_c").cast("double") / 100.0 / col("count_order")).as("avg_price"),
        col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_qty,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_base_price,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS sum_disc_price,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT)) * (100 + CAST(round(l_tax*100) AS BIGINT))) AS DOUBLE)/1000000.0 AS sum_charge,
      |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE)/100.0/count(*) AS avg_qty,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0/count(*) AS avg_price,
      |  count(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3-shaped: selective dimension filter broadcast into the fact
    * join, exact-cents revenue, top-10. At scale: customer filter is
    * broadcast (explicit hint), orders/lineitem join shuffles on orderkey
    * only once; top-k via TakeOrderedAndProject, no global sort. */
  def q3TopOrders(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") < to_timestamp(lit("1998-01-01")))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate") > to_timestamp(lit("1998-01-01")))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("rev_u"))
      .select(col("o_orderkey"),
        (col("rev_u").cast("double") / 10000.0).as("revenue"), col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  val q3Sql: String =
    """SELECT o_orderkey,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS revenue,
      |  o_orderdate
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1998-01-01' AND l_shipdate > TIMESTAMP '1998-01-01'
      |GROUP BY o_orderkey, o_orderdate
      |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin

  /** TPC-H Q5-shaped: star join with two broadcast dimensions (region→nation
    * chain), supplier-customer co-nation condition, exact-cents revenue by
    * nation. */
  def q5RegionRevenue(s: SparkSession, dir: String): DataFrame = {
    val nat = t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1998-01-01")))
      .select("o_orderkey", "o_custkey")
    t(s, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer").select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("rev_u"))
      .select(col("n_name"), (col("rev_u").cast("double") / 10000.0).as("revenue"))
      .orderBy("n_name")
  }

  val q5Sql: String =
    """SELECT n_name,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
      |  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Left-semi join (EXISTS). */
  def joinSemi(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").select("o_custkey"), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name").orderBy("c_custkey")

  val joinSemiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** Left-anti join (NOT EXISTS): customers with no order since 2000. */
  def joinAnti(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("2000-01-01")))
        .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name").orderBy("c_custkey")

  val joinAntiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01')
      |ORDER BY c_custkey""".stripMargin

  /** Left-outer join + per-key aggregation (zero-preserving counts). */
  def joinOuterAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select("c_custkey")
      .join(t(s, dir, "orders").select(col("o_custkey"), cents(col("o_totalprice")).as("tp_c")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_custkey")).as("n_orders"),
        (coalesce(sum(col("tp_c")), lit(0L)).cast("double") / 100.0).as("total_price"))
      .orderBy("c_custkey")

  val joinOuterAggSql: String =
    """SELECT c_custkey, count(o_custkey) AS n_orders,
      |  CAST(coalesce(sum(CAST(round(o_totalprice*100) AS BIGINT)), 0) AS DOUBLE)/100.0 AS total_price
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  /** Ranking window: top-3 orders per customer. Partition by customer —
    * shuffle once on the window key, no global sort. */
  def windowRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .orderBy("o_custkey", "rn")
  }

  val windowRankSql: String =
    """SELECT * FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  /** Running-sum frame window over exact cents. Deterministic ONLY because
    * the ordering is total over the value being summed: the synthetic
    * lineitem contains duplicate (l_orderkey, l_linenumber) rows (seen at
    * sf0.1), so qty_c joins the sort — tied rows then carry equal addends
    * and every prefix sum is engine-independent. */
  def windowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey")
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"), col("qty_c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "lineitem").select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
      col("l_shipdate"), cents(col("l_quantity")).as("qty_c"))
      .withColumn("running_qty", (sum("qty_c").over(w).cast("double") / 100.0))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("running_qty"))
      // no output sort: 600k rows at sf0.1 and the driver compare re-sorts
  }

  val windowRunningSql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) OVER (
      |    PARTITION BY l_suppkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber, CAST(round(l_quantity*100) AS BIGINT)
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)/100.0 AS running_qty
      |FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin

  /** lag/lead offset window over the events stream (row-level double delta —
    * deterministic). */
  def windowLag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("prev_value", lag("value", 1).over(w))
      .withColumn("delta", col("value") - col("prev_value"))
      .drop("ts") // no output sort: large output, driver compare re-sorts
  }

  val windowLagSql: String =
    """SELECT user_id, event_id, value,
      |  lag(value, 1) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_value,
      |  value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS delta
      |FROM events ORDER BY user_id, event_id""".stripMargin

  /** Global top-k: TakeOrderedAndProject (no full sort at scale). */
  def topkOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(100)

  val topkOrdersSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  /** Set operations: nation keys with customers vs with suppliers —
    * intersect / except / tagged union. */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val cn = t(s, dir, "customer").select(col("c_nationkey").as("nationkey")).distinct()
    val sn = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")).distinct()
    cn.intersect(sn).withColumn("tag", lit("both"))
      .unionAll(cn.except(sn).withColumn("tag", lit("cust_only")))
      .unionAll(sn.except(cn).withColumn("tag", lit("supp_only")))
      .select("tag", "nationkey").orderBy("tag", "nationkey")
  }

  val setOpsSql: String =
    """WITH cn AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
      |     sn AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier),
      |     u AS (
      |  SELECT 'both' AS tag, nationkey FROM (SELECT nationkey FROM cn INTERSECT SELECT nationkey FROM sn)
      |  UNION ALL
      |  SELECT 'cust_only', nationkey FROM (SELECT nationkey FROM cn EXCEPT SELECT nationkey FROM sn)
      |  UNION ALL
      |  SELECT 'supp_only', nationkey FROM (SELECT nationkey FROM sn EXCEPT SELECT nationkey FROM cn))
      |SELECT tag, nationkey FROM u ORDER BY tag, nationkey""".stripMargin

  /** Exact distinct aggregation per group. */
  def aggDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        countDistinct(col("c_nationkey")).as("n_nations"))
      .orderBy("c_mktsegment")

  val aggDistinctSql: String =
    """SELECT c_mktsegment, count(*) AS n_customers, count(DISTINCT c_nationkey) AS n_nations
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Rollup (hierarchical subtotals); 'ALL' sentinel instead of NULL to keep
    * cross-engine ordering unambiguous. */
  def rollupPricing(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(cents(col("l_quantity"))).as("qty_c"), count(lit(1)).as("cnt"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        (col("qty_c").cast("double") / 100.0).as("sum_qty"), col("cnt"))
      .orderBy("l_returnflag", "l_linestatus")

  val rollupPricingSql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
      |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
      |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_qty,
      |  count(*) AS cnt
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Cube (all grouping-set combinations) over the pricing dimensions —
    * §2.6 grouping-sets coverage next to [[rollupPricing]]; same exact-cents
    * policy, 'ALL' sentinels keep cross-engine ordering unambiguous. */
  def cubePricing(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(cents(col("l_quantity"))).as("qty_c"), count(lit(1)).as("cnt"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        (col("qty_c").cast("double") / 100.0).as("sum_qty"), col("cnt"))
      .orderBy("l_returnflag", "l_linestatus")

  val cubePricingSql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
      |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
      |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_qty,
      |  count(*) AS cnt
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Tumbling event-time window (Structured-Streaming-compatible shape run
    * in batch): 1-hour buckets per event type. */
  def eventsHourly(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        (sum(cents(col("value"))).cast("double") / 100.0).as("sum_value"))
      .select(col("w.start").cast("timestamp_ntz").as("window_start"), col("event_type"),
        col("cnt"), col("sum_value"))
      .orderBy("window_start", "event_type")

  val eventsHourlySql: String =
    """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
      |  count(*) AS cnt,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Session windows (30-min inactivity gap) per user, via Spark's native
    * session_window; oracle reconstructs sessions with lag + cumulative sum. */
  def eventsSessions(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("evts"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("evts").as("n_events"))
      .orderBy("user_id")

  val eventsSessionsSql: String =
    """WITH o AS (
      |  SELECT user_id, ts,
      |    CASE WHEN CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts)
      |      >= INTERVAL 30 MINUTE OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |    THEN 1 ELSE 0 END AS new_session
      |  FROM events)
      |SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
      |FROM o GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Ordered-FUNNEL analysis (view → click → purchase): per user, the
    * first view, the first click STRICTLY after it, the first purchase
    * strictly after that, and the depth reached — the classic
    * product-analytics sequential-pattern query. Computed in ONE shuffle:
    * funnel events collect per user (bounded per-user lists, the same
    * assumption sessionization makes), sort by (ts, type), and a single
    * fold applies the strict-ordering rules. The fold's conditions depend
    * only on timestamps — a qualifying step-k event is always sorted after
    * the event that set step k-1 (strict `>`), so the fold equals the
    * declarative min-after-min form [[eventsFunnelSql]] uses, regardless
    * of how ties order. */
  def eventsFunnel(s: SparkSession, dir: String): DataFrame =
    funnelOf(Tables.events(s, dir))

  /** [[eventsFunnel]] over an explicit events frame (spec surface). */
  def funnelOf(events: DataFrame): DataFrame =
    events
      .filter(col("event_type").isin("view", "click", "purchase"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("ts"), col("event_type").as("et")))).as("evs"))
      .withColumn("f", expr(
        """aggregate(evs,
          |  named_struct('t1', CAST(NULL AS TIMESTAMP), 't2', CAST(NULL AS TIMESTAMP),
          |               't3', CAST(NULL AS TIMESTAMP)),
          |  (acc, e) -> named_struct(
          |    't1', CASE WHEN acc.t1 IS NULL AND e.et = 'view' THEN e.ts ELSE acc.t1 END,
          |    't2', CASE WHEN acc.t2 IS NULL AND e.et = 'click'
          |               AND acc.t1 IS NOT NULL AND e.ts > acc.t1 THEN e.ts ELSE acc.t2 END,
          |    't3', CASE WHEN acc.t3 IS NULL AND e.et = 'purchase'
          |               AND acc.t2 IS NOT NULL AND e.ts > acc.t2 THEN e.ts ELSE acc.t3 END))""".stripMargin))
      .select(col("user_id"),
        col("f.t1").cast("timestamp_ntz").as("t_view"),
        col("f.t2").cast("timestamp_ntz").as("t_click"),
        col("f.t3").cast("timestamp_ntz").as("t_purchase"),
        when(col("f.t3").isNotNull, 3L).when(col("f.t2").isNotNull, 2L)
          .when(col("f.t1").isNotNull, 1L).otherwise(0L).as("steps"))
      .orderBy("user_id")

  val eventsFunnelSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
      |  WHERE event_type IN ('view', 'click', 'purchase')),
      |u AS (SELECT DISTINCT user_id FROM e),
      |t1 AS (SELECT user_id, min(ts) AS t_view FROM e WHERE event_type = 'view' GROUP BY 1),
      |t2 AS (SELECT e.user_id, min(e.ts) AS t_click FROM e JOIN t1 USING (user_id)
      |       WHERE e.event_type = 'click' AND e.ts > t1.t_view GROUP BY 1),
      |t3 AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM e JOIN t2 USING (user_id)
      |       WHERE e.event_type = 'purchase' AND e.ts > t2.t_click GROUP BY 1)
      |SELECT u.user_id, t_view, t_click, t_purchase,
      |  CAST(CASE WHEN t_purchase IS NOT NULL THEN 3 WHEN t_click IS NOT NULL THEN 2
      |       WHEN t_view IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS steps
      |FROM u LEFT JOIN t1 USING (user_id) LEFT JOIN t2 USING (user_id)
      |  LEFT JOIN t3 USING (user_id)
      |ORDER BY user_id""".stripMargin

  /** Cohort RETENTION — the other classic product-analytics matrix: users
    * cohort by the hour of their first event; each later active hour
    * contributes to that cohort's retention at `age = hours since cohort`.
    * Two aggregations (first-seen per user; distinct-users per (cohort,
    * age)) and one join on user_id — every stage partial-aggregates, and
    * the join key is the natural partitioning for both sides. */
  def eventsRetention(s: SparkSession, dir: String): DataFrame =
    retentionOf(Tables.events(s, dir))

  /** [[eventsRetention]] over an explicit events frame (spec surface). */
  def retentionOf(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"), date_trunc("hour", col("ts")).as("h"))
    val cohort = e.groupBy("user_id").agg(min("h").as("c"))
    e.join(cohort, Seq("user_id"))
      .groupBy(col("c"), expr("timestampdiff(HOUR, c, h)").as("age"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(col("c").cast("timestamp_ntz").as("cohort_hour"), col("age"), col("n_users"))
      .orderBy("cohort_hour", "age")
  }

  val eventsRetentionSql: String =
    """WITH e AS (
      |  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h FROM events),
      |c AS (SELECT user_id, min(h) AS c FROM e GROUP BY 1)
      |SELECT c.c AS cohort_hour,
      |  CAST(date_diff('hour', c.c, e.h) AS BIGINT) AS age,
      |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
      |FROM e JOIN c USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Semi-structured extraction from the JSON-ish props column (regex on
    * both sides — engine-neutral). */
  def eventsProps(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sum("k").as("sum_k"), min("k").as("min_k"), max("k").as("max_k"))
      .orderBy("event_type")

  val eventsPropsSql: String =
    """SELECT event_type, count(*) AS cnt,
      |  CAST(sum(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
      |  min(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS min_k,
      |  max(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Skew-resistant two-phase aggregation: explicit salting splits each hot
    * key across `salt` reducers for the partial phase, then a second (tiny)
    * aggregation merges the partials. Result is identical to a direct
    * groupBy — the oracle verifies exactly that — while no single reducer
    * ever sees a whole hot key at 100 TB. (AQE skew handling covers joins;
    * salting is the aggregation-side tool.) */
  def saltedUserStats(s: SparkSession, dir: String): DataFrame = {
    val salt = 16
    Tables.events(s, dir)
      .withColumn("salt", pmod(col("event_id"), lit(salt)))
      .groupBy("user_id", "salt")
      .agg(count(lit(1)).as("c"), sum(cents(col("value"))).as("v_c"))
      .groupBy("user_id")
      .agg(sum("c").as("n_events"),
        (sum("v_c").cast("double") / 100.0).as("sum_value"))
      .orderBy("user_id")
  }

  val saltedUserStatsSql: String =
    """SELECT user_id, count(*) AS n_events,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  private val CmsD = 4    // hash rows
  private val CmsW = 1024 // counters per row
  private val CmsMinSupport = 75L // registry default: stable nonempty at sf0.001-0.1

  /** Count-Min-sketch frequent users (Cormode & Muthukrishnan 2005) — the
    * frequent-items sibling of [[approxAgg]]'s KMV distinct sketch, over
    * the skewed event-user stream: which users have at least `minSupport`
    * events, found WITHOUT per-key state until the final sliver.
    *
    *   - sketch: `CmsD`×`CmsW` counters — each event increments one
    *     counter per hash row (md5-derived buckets, engine-portable like
    *     every sketch here), built by ONE map-side-combined aggregation
    *     over an explode; the cell table is ≤ 4096 rows at ANY corpus
    *     size, pinned so its four join consumers share one build;
    *   - candidate pass: each event row joins its 4 cells (broadcast —
    *     the sketch is KB) and the per-row estimate is their MIN; the CMS
    *     overestimates, never under-, so `est ≥ minSupport` keeps every
    *     truly frequent key MAP-SIDE — no keyed aggregation has happened
    *     yet, which is the whole point at 100 TB (per-key state only for
    *     the sliver that passes);
    *   - exact verify: the surviving tuples (all tuples of candidate
    *     keys — the filter is per-key deterministic) aggregate to exact
    *     counts; `confirmed` marks true frequents, false-positive
    *     candidates stay visible as the sketch's documented overcount.
    *
    * Integer end to end → hash-exact DuckDB oracle replaying the sketch
    * cell-for-cell ([[heavyHittersSql]]). */
  def heavyHitters(s: SparkSession, dir: String,
      minSupport: Long = CmsMinSupport): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"))
    def bucket(i: Int): Column = pmod(
      conv(substring(md5(concat_ws(":", lit(s"cms$i"), col("user_id").cast("string"))), 1, 8),
        16, 10).cast("long"), lit(CmsW))
    val cells = graft.operators.PinnedCaches.pin(
      ev.select(col("user_id"),
        posexplode(array((0 until CmsD).map(bucket): _*)).as(Seq("i", "b")))
        .groupBy("i", "b").agg(count(lit(1)).as("cnt")))
    val withB = ev.select(col("user_id") +:
      (0 until CmsD).map(i => bucket(i).as(s"b$i")): _*)
    val joined = (0 until CmsD).foldLeft(withB) { (df, i) =>
      df.join(broadcast(cells.filter(col("i") === i)
        .select(col("b").as(s"b$i"), col("cnt").as(s"c$i"))), Seq(s"b$i"))
    }
    val est = least((0 until CmsD).map(i => col(s"c$i")): _*)
    joined.filter(est >= minSupport)
      .groupBy("user_id")
      .agg(min(est).as("cms_estimate"), count(lit(1)).as("exact_count"))
      .withColumn("confirmed", col("exact_count") >= minSupport)
      .select("user_id", "cms_estimate", "exact_count", "confirmed")
      .orderBy("user_id")
  }

  val heavyHittersSql: String =
    s"""WITH e AS (SELECT user_id FROM events),
       |hb AS (
       |  SELECT user_id, t.i,
       |    CAST(('0x' || substr(md5('cms' || CAST(t.i AS VARCHAR) || ':' ||
       |      CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % $CmsW AS b
       |  FROM e CROSS JOIN (SELECT unnest(range(0, $CmsD)) AS i) t),
       |cells AS (SELECT i, b, CAST(count(*) AS BIGINT) AS cnt FROM hb GROUP BY 1, 2),
       |keyest AS (
       |  SELECT k.user_id, min(c.cnt) AS cms_estimate
       |  FROM (SELECT DISTINCT user_id, i, b FROM hb) k
       |  JOIN cells c USING (i, b) GROUP BY 1),
       |exact AS (SELECT user_id, CAST(count(*) AS BIGINT) AS exact_count FROM e GROUP BY 1)
       |SELECT k.user_id, cms_estimate, exact_count, exact_count >= $CmsMinSupport AS confirmed
       |FROM keyest k JOIN exact USING (user_id)
       |WHERE cms_estimate >= $CmsMinSupport ORDER BY user_id""".stripMargin

  /** Number of minima the KMV distinct sketch keeps (relative error
    * ≈ 1/√(k−2) ≈ 13%), and its register count for the pruning pass. */
  private val KmvK = 64
  private val KmvP = 8192
  private val KmvR = 281474976710656L // 2^48: the hash space (12 hex chars)

  /** Sketch-based approximate aggregates — the bounded-memory path for
    * 100 TB cardinality/quantile questions — built DETERMINISTIC on the
    * engine-portable md5 machinery (same discipline as the minhash family),
    * so unlike HLL++/GK sketches (engine-internal layouts) every value is
    * reproducible by a SQL oracle:
    *
    *   - `approx_parts`: a KMV (k-minimum-values) distinct sketch —
    *     N̂ = (k−1)·2^48 DIV h₍ₖ₎ where h₍ₖ₎ is the k-th smallest DISTINCT
    *     48-bit md5 hash of the value (Bar-Yossef et al. 2002), k=64,
    *     integer arithmetic end to end. The k minima are found WITHOUT a
    *     global distinct: a register pass (min hash per (group, hash mod
    *     8192) — one map-side-combined aggregate, fixed 8192 longs per
    *     group) yields a threshold τ = k-th smallest register minimum
    *     (≥ h₍ₖ₎ always, since register minima are a subset of distinct
    *     hashes), and only hashes ≤ τ — O(k) of them — reach the exact
    *     bottom-k sort. τ falls back to MaxValue when a group has fewer
    *     than k non-empty registers (then the sketch degenerates to the
    *     exact count, the standard KMV small-cardinality rule).
    *   - `p50/p95_price`: DISCRETE quantiles (no interpolation — the
    *     selected element itself) over a deterministic 25% hash sample of
    *     integer cents, ranks by the exact integer form ⌈p·n⌉ =
    *     (p·100·n + 99) DIV 100. Sampling error ~ √(p(1−p)/n) rank units.
    *   - `cnt`: exact (it is free on the register scan).
    *
    * Oracle-checked hash-exact ([[approxAggSql]] replays the identical
    * integer arithmetic); ApproxAggSpec bounds the estimates against the
    * exact twin [[exactAgg]]. */
  def approxAgg(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val h = conv(substring(md5(col("l_partkey").cast("string").cast("binary")), 1, 12),
      16, 10).cast("long")
    // register pass: min hash per (flag, h mod P) — bounded, map-side
    // combined; the per-register row count rides along so the exact cnt is
    // a rollup of THIS pass instead of a fourth full lineitem scan
    val regs = li.select(col("l_returnflag"), h.as("h"))
      .groupBy(col("l_returnflag"), pmod(col("h"), lit(KmvP)).as("b"))
      .agg(min("h").as("mn"), count(lit(1)).as("cb"))
    val wReg = Window.partitionBy("l_returnflag").orderBy("mn")
    // the exact per-flag row count rides THIS aggregation (sum of the
    // per-register counts — every row lands in exactly one register), so
    // the `cnt` output column and the broadcast τ table share ONE identical
    // subtree and exchange reuse computes the register pass once. The
    // previous spelling derived cnt from a second `regs.groupBy(flag)`
    // whose plan shape differed from τ's window chain — nothing matched,
    // and the "no extra corpus pass" comment was defeated by a fourth full
    // lineitem scan (r13 plan audit: 4 scans → 3, the minimum for
    // register + prune + sample).
    val tau = regs.withColumn("rn", row_number().over(wReg))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("nb"), max(when(col("rn") === KmvK, col("mn"))).as("tk"),
        sum("cb").as("cnt"))
      .select(col("l_returnflag"),
        when(col("nb") < KmvK, lit(Long.MaxValue)).otherwise(col("tk")).as("tau"),
        col("cnt"))
    // exact bottom-k over the pruned sliver. `cnt` RIDES the chain (it is
    // constant per flag, so the distinct / window / group results are
    // untouched) — the alternative, a second read of τ's aggregate, loses
    // its window subtree to column pruning and re-runs the register pass
    // as a fourth corpus scan (r13 plan audit).
    val wH = Window.partitionBy("l_returnflag").orderBy("h")
    val kmv = li.select(col("l_returnflag"), h.as("h"))
      .join(broadcast(tau), Seq("l_returnflag"))
      .filter(col("h") <= col("tau"))
      .select("l_returnflag", "h", "cnt").distinct()
      .withColumn("rn", row_number().over(wH))
      .filter(col("rn") <= KmvK)
      .groupBy("l_returnflag")
      .agg(max("rn").as("n"), max(when(col("rn") === KmvK, col("h"))).as("hk"),
        max("cnt").as("cnt"))
      .select(col("l_returnflag"),
        when(col("n") < KmvK, col("n").cast("long"))
          .otherwise(expr(s"${(KmvK - 1).toLong * KmvR} DIV hk")).as("approx_parts"),
        col("cnt"))
    // deterministic 25% sample, discrete quantiles over cents
    val draw = conv(substring(md5(concat_ws(":", lit("aprx0"),
      col("l_orderkey").cast("string"), col("l_linenumber").cast("string"))
      .cast("binary")), 1, 4), 16, 10).cast("long")
    // Quantiles WITHOUT a per-row window: l_returnflag has 3 values, so a
    // row_number over the sample sorts ~8% of the table per task — a skew
    // bottleneck at scale (it cost 7.4 s at sf0.1 in r5). Instead: map-side
    // combined counts per (flag, cent-value), then a running-count walk over
    // the DISTINCT-VALUE frame only — whose size is bounded by the price
    // domain, not the row count, so it stays constant under a 1000x scale-up.
    // The value at discrete rank r is min{c : cumulative_count(c) >= r},
    // identical to the row_number formulation element-for-element.
    val cnts = li.filter(draw < lit(16384L)) // 0.25 * 65536, integer compare
      .select(col("l_returnflag"), cents(col("l_extendedprice")).as("c"))
      .groupBy("l_returnflag", "c")
      .agg(count(lit(1)).as("f"))
    // per-flag total as a SECOND window over the same partitioning instead
    // of a groupBy+broadcast-join of the cnts subtree: the join spelling
    // re-derived cnts from a second full sample scan (no subtree reuse —
    // r13 plan audit); both windows share one exchange+sort over the
    // bounded distinct-cents frame
    val wC = Window.partitionBy("l_returnflag").orderBy("c") // distinct-cents frame
    val q = cnts.withColumn("cum", sum("f").over(wC))
      .withColumn("nn", sum("f").over(Window.partitionBy("l_returnflag")))
      .groupBy("l_returnflag")
      .agg(
        (min(when(col("cum") >= expr("(nn * 50 + 99) DIV 100"), col("c"))) / 100.0).as("p50_price"),
        (min(when(col("cum") >= expr("(nn * 95 + 99) DIV 100"), col("c"))) / 100.0).as("p95_price"))
    // exact per-flag count = the `cnt` the kmv chain carried through from
    // the broadcast τ table — no extra corpus pass, this time for real
    kmv.join(q, Seq("l_returnflag"))
      .select("l_returnflag", "approx_parts", "p50_price", "p95_price", "cnt")
      .orderBy("l_returnflag")
  }

  /** DuckDB oracle for [[approxAgg]]: the k-th smallest distinct hash
    * directly (the τ register pruning is an execution detail — it provably
    * selects the same bottom-k), the same integer-rank discrete sample
    * quantiles, the same integer estimator. */
  val approxAggSql: String =
    s"""WITH h AS (SELECT DISTINCT l_returnflag,
       |    ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 12))::BIGINT AS h
       |  FROM lineitem),
       |r AS (SELECT l_returnflag, h,
       |    row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn FROM h),
       |kmv AS (SELECT l_returnflag, max(rn) AS n,
       |    max(CASE WHEN rn = $KmvK THEN h END) AS hk
       |  FROM r WHERE rn <= $KmvK GROUP BY 1),
       |samp AS (SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS c
       |  FROM lineitem
       |  WHERE ('0x' || substr(md5('aprx0:' || CAST(l_orderkey AS VARCHAR) || ':' ||
       |    CAST(l_linenumber AS VARCHAR)), 1, 4))::BIGINT < 16384),
       |sr AS (SELECT l_returnflag, c,
       |    row_number() OVER (PARTITION BY l_returnflag ORDER BY c) AS rn,
       |    count(*) OVER (PARTITION BY l_returnflag) AS nn FROM samp),
       |q AS (SELECT l_returnflag,
       |    max(CASE WHEN rn = (nn * 50 + 99) // 100 THEN c END) / 100.0 AS p50_price,
       |    max(CASE WHEN rn = (nn * 95 + 99) // 100 THEN c END) / 100.0 AS p95_price
       |  FROM sr GROUP BY 1),
       |cn AS (SELECT l_returnflag, count(*) AS cnt FROM lineitem GROUP BY 1)
       |SELECT l_returnflag,
       |  CAST(CASE WHEN n < $KmvK THEN n
       |    ELSE ${(KmvK - 1).toLong * KmvR} // hk END AS BIGINT) AS approx_parts,
       |  p50_price, p95_price, cnt
       |FROM kmv JOIN q USING (l_returnflag) JOIN cn USING (l_returnflag)
       |ORDER BY l_returnflag""".stripMargin

  /** Exact twin of [[approxAgg]] — the same cardinality/quantile questions
    * answered exactly, so the sketches have an oracle-checked target
    * (ApproxAggSpec bounds the sketch error against exact answers).
    * Quantiles run over integer cents at binary-exact fractions
    * (0.25/0.5/0.75): every interpolation operand is then exactly
    * representable, so linear interpolation is bit-identical regardless of
    * which algebraic form an engine uses. */
  def exactAgg(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    // SPLIT the distinct count from the percentile aggregate: fused, the
    // single-distinct rewrite keys the FIRST aggregation level by
    // (l_returnflag, l_partkey) and every one of those ~200k groups carries
    // a partial PERCENTILE BUFFER (a serialized value→count map) through
    // the exchange — the shuffle moves 200k maps so that 3 groups can be
    // counted (r13 plan audit). Split, the percentile pass shuffles 3
    // map-side-combined buffers total and the distinct pass shuffles bare
    // (flag, partkey) rows; the 3-row join is broadcast. Same answers, and
    // at 100 TB the difference between shuffling per-key sketch buffers
    // and shuffling keys is the job.
    val pct = li.groupBy("l_returnflag")
      .agg(
        // one percentile buffer for all three fractions, not three
        percentile(cents(col("l_extendedprice")),
          array(lit(0.25), lit(0.5), lit(0.75))).as("ps"),
        count(lit(1)).as("cnt"))
    val parts = li.groupBy("l_returnflag")
      .agg(count_distinct(col("l_partkey")).as("exact_parts"))
    pct.join(broadcast(parts), Seq("l_returnflag"))
      .select(col("l_returnflag"), col("exact_parts"),
        (col("ps")(0) / 100.0).as("p25_price"),
        (col("ps")(1) / 100.0).as("p50_price"),
        (col("ps")(2) / 100.0).as("p75_price"),
        col("cnt"))
      .orderBy("l_returnflag")
  }

  val exactAggSql: String =
    """SELECT l_returnflag,
      |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
      |  quantile_cont(CAST(round(l_extendedprice*100) AS BIGINT), 0.25) / 100.0 AS p25_price,
      |  quantile_cont(CAST(round(l_extendedprice*100) AS BIGINT), 0.5) / 100.0 AS p50_price,
      |  quantile_cont(CAST(round(l_extendedprice*100) AS BIGINT), 0.75) / 100.0 AS p75_price,
      |  count(*) AS cnt
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Histogram-sketch quantiles — the FIXED-MEMORY mergeable path next to
    * [[exactAgg]]'s full percentile sort and [[approxAgg]]'s KMV + sampled
    * ranks: per group, a power-of-two histogram of integer cents (≤64 cells,
    * the HDR-histogram/Prometheus shape the reference's own bucket envelope
    * uses) and rank-interpolated p50/p95 estimates read off the cumulative
    * counts. At 100 TB this is THE production quantile: the histogram is a
    * map-side-combinable aggregate whose shuffle carries ≤64×|groups| rows
    * (exact percentiles sort the table; the KMV sample still shuffles a
    * fixed fraction), and two histograms MERGE by cell-wise add — the
    * property that lets per-partition, per-day, or per-cluster sketches
    * roll up without re-scanning.
    *
    * Exactness contract: the cell index is `length(bin(cents))` — the
    * integer bit length, identical in both engines (no float log2) — and
    * the estimate `lo + ((r − cumBefore − 1)·(hi − lo + 1)) div cnt` is
    * all non-negative integer arithmetic (rank convention
    * `(n·q + 99) div 100` shared with [[approxAgg]]), so
    * [[histQuantileSql]] is hash-exact; the ≤64-row-per-group cumulative
    * walk rides a KEYED window (never a partitionless sort). The estimate
    * lands inside the true rank's power-of-two bucket, so it is within 2×
    * of the exact percentile by construction (spec-bounded vs the exact
    * sort). */
  def histQuantile(s: SparkSession, dir: String): DataFrame =
    histQuantileOver(t(s, dir, "lineitem"), "l_returnflag",
      cents(col("l_extendedprice")))

  /** The generic form of [[histQuantile]]: sketch `centsCol` per
    * `groupCol` group of `df` — shared with the event-time-window variant
    * ([[eventsHourlyQuantile]]). The cells `(groupCol, b, cnt)` are the
    * sketch's mergeable part: cells from any partitioning of the data sum
    * into the same table, and the read-off below is identical on top. */
  private[graft] def histQuantileOver(df: DataFrame, groupCol: String,
      centsCol: Column): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy("b")
    val cum = df.select(col(groupCol), length(bin(centsCol)).cast("long").as("b"))
      .groupBy(groupCol, "b").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("n", sum("cnt").over(Window.partitionBy(groupCol)))
    def estC(q: Int): Column = {
      val r = expr(s"(n * ${q}L + 99L) div 100L")
      // lo = 2^(b-1); the bucket [2^(b-1), 2^b - 1] spans exactly lo values,
      // so the in-bucket interpolation width IS lo — all integer `div`
      // (Column./ would be double division)
      val est = expr(s"""shiftleft(1L, cast(b as int) - 1) +
        |(((n * ${q}L + 99L) div 100L - (cum - cnt) - 1L) *
        |  shiftleft(1L, cast(b as int) - 1)) div cnt""".stripMargin)
      max(when(col("cum") - col("cnt") < r && r <= col("cum"), est))
    }
    cum.groupBy(groupCol)
      .agg(max("n").as("n_rows"),
        (estC(50).cast("double") / 100.0).as("p50_est"),
        (estC(95).cast("double") / 100.0).as("p95_est"))
      .orderBy(groupCol)
  }

  /** [[histQuantile]] over EVENT-TIME hours: per wall-clock hour, the
    * sketched p50/p95 of event value — the latency/size-percentile
    * dashboard panel shape. */
  def eventsHourlyQuantile(s: SparkSession, dir: String): DataFrame =
    histQuantileOver(
      Tables.events(s, dir).withColumn("hour", date_trunc("hour", col("ts"))),
      "hour", cents(col("value")))
      .withColumn("hour", col("hour").cast("timestamp_ntz"))

  val eventsHourlyQuantileSql: String =
    """WITH h AS (
      |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
      |    CAST(length(bin(CAST(round(value*100) AS BIGINT))) AS BIGINT) AS b,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |c AS (
      |  SELECT hour, b, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY hour ORDER BY b) AS BIGINT) AS cum,
      |    CAST(sum(cnt) OVER (PARTITION BY hour) AS BIGINT) AS n
      |  FROM h)
      |SELECT hour, CAST(max(n) AS BIGINT) AS n_rows,
      |  CAST(max(CASE WHEN cum - cnt < (n*50+99)//100 AND (n*50+99)//100 <= cum THEN
      |    (1::BIGINT << CAST(b-1 AS INT)) +
      |      (((n*50+99)//100 - (cum - cnt) - 1) * (1::BIGINT << CAST(b-1 AS INT))) // cnt
      |    END) AS DOUBLE)/100.0 AS p50_est,
      |  CAST(max(CASE WHEN cum - cnt < (n*95+99)//100 AND (n*95+99)//100 <= cum THEN
      |    (1::BIGINT << CAST(b-1 AS INT)) +
      |      (((n*95+99)//100 - (cum - cnt) - 1) * (1::BIGINT << CAST(b-1 AS INT))) // cnt
      |    END) AS DOUBLE)/100.0 AS p95_est
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  val histQuantileSql: String =
    """WITH h AS (
      |  SELECT l_returnflag,
      |    CAST(length(bin(CAST(round(l_extendedprice*100) AS BIGINT))) AS BIGINT) AS b,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (
      |  SELECT l_returnflag, b, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY b) AS BIGINT) AS cum,
      |    CAST(sum(cnt) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
      |  FROM h)
      |SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n_rows,
      |  CAST(max(CASE WHEN cum - cnt < (n*50+99)//100 AND (n*50+99)//100 <= cum THEN
      |    (1::BIGINT << CAST(b-1 AS INT)) +
      |      (((n*50+99)//100 - (cum - cnt) - 1) * (1::BIGINT << CAST(b-1 AS INT))) // cnt
      |    END) AS DOUBLE)/100.0 AS p50_est,
      |  CAST(max(CASE WHEN cum - cnt < (n*95+99)//100 AND (n*95+99)//100 <= cum THEN
      |    (1::BIGINT << CAST(b-1 AS INT)) +
      |      (((n*95+99)//100 - (cum - cnt) - 1) * (1::BIGINT << CAST(b-1 AS INT))) // cnt
      |    END) AS DOUBLE)/100.0 AS p95_est
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  /** Pivot (wide aggregation): per-user event counts, one column per event
    * type. Explicit value list keeps the schema static (required at scale —
    * an implicit pivot would scan twice to discover values). */
  def eventsPivot(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_id")

  val eventsPivotSql: String =
    """SELECT user_id,
      |  count(*) FILTER (event_type = 'click') AS click,
      |  count(*) FILTER (event_type = 'view') AS view,
      |  count(*) FILTER (event_type = 'purchase') AS purchase,
      |  count(*) FILTER (event_type = 'signup') AS signup,
      |  count(*) FILTER (event_type = 'error') AS error
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** As-of join: for each event, the latest order of the same customer at
    * or before the event time. Composed Spark-first (SURVEY §7.2 preference
    * (a)): union both streams, one shuffle on the key, `last(..., ignoreNulls)`
    * over the time-ordered window — the exact partition-sort-merge a custom
    * as-of SparkPlan would hand-code, with orders sorting before same-
    * timestamp events (inclusive semantics) and orderkey as the tiebreak. */
  def eventsAsofOrders(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders").select(
      col("o_custkey").as("key"), col("o_orderdate").as("at"), lit(0).as("side"),
      col("o_orderkey"), lit(null).cast("long").as("event_id"))
    val ev = Tables.events(s, dir).select(
      col("user_id").as("key"), col("ts").as("at"), lit(1).as("side"),
      lit(null).cast("long").as("o_orderkey"), col("event_id"))
    val w = Window.partitionBy("key")
      .orderBy(col("at"), col("side"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ord.unionByName(ev)
      .withColumn("asof_orderkey", last(when(col("side") === 0, col("o_orderkey")), ignoreNulls = true).over(w))
      .withColumn("asof_orderdate", last(when(col("side") === 0, col("at")), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("key").as("user_id"),
        col("asof_orderkey"), col("asof_orderdate").cast("timestamp_ntz").as("asof_orderdate"))
      // no output sort: large output, driver compare re-sorts
  }

  val eventsAsofOrdersSql: String =
    """SELECT e.event_id, e.user_id, o.o_orderkey AS asof_orderkey, o.o_orderdate AS asof_orderdate
      |FROM events e LEFT JOIN LATERAL (
      |  SELECT o_orderkey, o_orderdate FROM orders
      |  WHERE o_custkey = e.user_id AND o_orderdate <= CAST(e.ts AS TIMESTAMP)
      |  ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1) o ON true
      |ORDER BY e.event_id""".stripMargin

  /** Value-RANGE sliding window: per event, the same user's event count
    * and value sum over the TRAILING HOUR (inclusive) — the rate/burst
    * feature product analytics and bot-filtering curation both compute.
    * The frame is VALUE-based (`rangeBetween` over epoch-micros), not
    * row-based: the window ends at the current timestamp and reaches back
    * exactly one hour regardless of how many rows sit in between, and
    * equal-timestamp peers are all in-frame, so the result is independent
    * of row order without needing an id tiebreak. One shuffle on user_id;
    * per-user frame size is bounded by the activity horizon — the same
    * per-key assumption sessionization makes — and the money sum rides
    * integer cents. */
  def eventsRateWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600000000L, 0L)
    Tables.events(s, dir)
      .withColumn("n_last_hour", count(lit(1)).over(w))
      .withColumn("v_c", sum(cents(col("value"))).over(w))
      .select(col("event_id"), col("user_id"), col("ts").cast("timestamp_ntz").as("ts"),
        col("n_last_hour"),
        (col("v_c").cast("double") / 100.0).as("value_last_hour"))
      .orderBy("event_id") // output-order symmetry with the oracle, file convention
  }

  val eventsRateWindowSql: String =
    """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |  CAST(count(*) OVER w AS BIGINT) AS n_last_hour,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) OVER w AS DOUBLE)/100.0 AS value_last_hour
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
      |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  /** KEYLESS time-interval join: per purchase, the count and value-sum of
    * ALL click events (any user — platform-load attribution) in the trailing
    * hour, both endpoints inclusive like [[eventsRateWindow]]'s frame.
    *
    * There is no equi key, so the naive formulation (`ON c.ts BETWEEN
    * p.ts - 1h AND p.ts`) plans as BroadcastNestedLoopJoin — a quadratic
    * scan that is the canonical 100 TB killer, and a global-time window
    * would be a partitionless sort (banned registry-wide). The bucketed
    * form MANUFACTURES the equi key: hour-width buckets (exact floor
    * division `fd(us) = (us − pmod(us, H)) div H` — width = interval
    * length), each probe interval `[t−H, t]` covered by the two consecutive
    * buckets `{fd(t) − 1, fd(t)}`: with TRUE floor, `fd(t−H) = fd(t) − 1`
    * identically for every integer timestamp, negative epoch-micros
    * included (truncating `div` would round toward zero below 0 and
    * under-cover — spec-pinned). The purchase side explodes 2× and the
    * join is ONE shuffle on `bucket` with the precise range predicate as a
    * residual filter. A (purchase, click) pair can only meet in the click's
    * own bucket, so the 2× explode never duplicates a match and no dedup
    * pass is needed. Left semantics (zero-click purchases kept, n = 0) ride
    * the join condition itself; `count(c_us)` ignores the unmatched-side
    * nulls, and the null rows from a purchase's OTHER exploded bucket
    * likewise vanish into the null-ignoring aggregates. At 100 TB: both
    * sides shuffle once on a high-cardinality key (one bucket per wall-clock
    * hour of corpus), hot hours are AQE skew-split, and the per-bucket match
    * work is bounded by the true selectivity instead of |P|×|C|. Skew
    * honesty (spec-pinned live): under LEFT-OUTER semantics AQE may only
    * split the PROBE side (splitting the match side would duplicate
    * unmatched probe rows), so a flash-sale hour of purchases splits at
    * runtime, while a hot CLICK hour takes the IMPLEMENTED salted escape —
    * [[intervalJoinCore]]'s `salt` knob / [[eventsIntervalJoinSalted]]
    * (oracle-pinned identical answer; skew-spread spec-pinned live). */
  /** Two-sided BAND join — the symmetric sibling of
    * [[eventsIntervalJoin]]: per ERROR event, the count/value of clicks
    * within ±30 minutes (both endpoints inclusive) across all users — the
    * "activity around an incident" correlation. Same manufactured-equi-key
    * escape from the nested-loop plan, band form: bucket width = the full
    * window span 2B, the error side explodes to its (≤ 2, deduplicated)
    * covering buckets, clicks join once on their own bucket, and the exact
    * band predicate stays as residual — a pair meets only in the click's
    * bucket, so no dedup pass. */
  def eventsBandJoin(s: SparkSession, dir: String): DataFrame = {
    val B = 1800000000L // half-width: 30 minutes in microseconds
    val ev = Tables.events(s, dir)
    bandJoinCore(
      ev.filter(col("event_type") === "error")
        .select(col("event_id"), unix_micros(col("ts")).as("e_us")),
      ev.filter(col("event_type") === "click")
        .select(unix_micros(col("ts")).as("c_us"), cents(col("value")).as("c_v")),
      B)
  }

  /** The bucketed-join core of [[eventsBandJoin]] over already-projected
    * `(event_id, e_us)` probes and `(c_us, c_v)` matches — factored out
    * (like [[intervalJoinCore]]) so the boundary spec can drive crafted
    * epoch-micros through the REAL operator. Buckets use EXACT floor
    * division (`(x − pmod(x, W)) div W`, as in [[intervalJoinCore]]):
    * Spark's `div` truncates toward zero, which under-covers below zero,
    * so pre-1970 / negative timestamps would silently drop pairs the
    * BETWEEN oracle keeps (spec-pinned on a domain straddling 0). */
  private[graft] def bandJoinCore(errors: DataFrame, clicks: DataFrame,
      B: Long): DataFrame = {
    val W = 2 * B // bucket width = window span
    def fd(x: String) = s"(($x) - pmod(($x), ${W}L)) div ${W}L"
    val probes = errors.withColumn("bucket", explode(array_distinct(array(
      expr(fd(s"e_us - ${B}L")), expr(fd(s"e_us + ${B}L"))))))
    val matches = clicks.withColumn("bucket", expr(fd("c_us")))
    probes.join(matches,
        probes("bucket") === matches("bucket") &&
          col("c_us") >= col("e_us") - B && col("c_us") <= col("e_us") + B,
        "left")
      .groupBy("event_id")
      .agg(count(col("c_us")).as("n_clicks"),
        (coalesce(sum(col("c_v")), lit(0L)).cast("double") / 100.0).as("click_value"))
      .orderBy("event_id")
  }

  val eventsBandJoinSql: String =
    """WITH e AS (SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS e_us
      |  FROM events WHERE event_type = 'error'),
      |c AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS c_us,
      |    CAST(round(value*100) AS BIGINT) AS v
      |  FROM events WHERE event_type = 'click')
      |SELECT e.event_id, count(c.c_us) AS n_clicks,
      |  CAST(coalesce(sum(c.v), 0) AS DOUBLE)/100.0 AS click_value
      |FROM e LEFT JOIN c ON c.c_us BETWEEN e.e_us - 1800000000 AND e.e_us + 1800000000
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** AS-OF JOIN — the other canonical time-correlation operator Spark has
    * no native form of (the trades⋈quotes shape): for every purchase, the
    * MOST RECENT click by the SAME user at or before the purchase (ties on
    * timestamp break to the highest event id; purchases with no prior
    * click report nulls — the LEFT as-of form).
    *
    * Spark-first and 100 TB-shaped: NOT a per-pair range join (quadratic
    * per user) but the union-and-fold plan — tag both event kinds, union,
    * and take `last(click struct, ignoreNulls)` over a window PARTITIONED
    * BY user and ordered by (time, kind, id) with clicks sorting before
    * purchases at equal timestamps (`c_us <= p_us` inclusive). One shuffle
    * on user_id, one sort within user partitions, zero candidate
    * explosion — per-user history length bounds the frame walk, and the
    * keyed partitioning passes the registry's partitionless-window ban.
    * The oracle is the naive per-pair join + ROW_NUMBER, so the hash gate
    * validates the fold against first principles. */
  def eventsAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click").select(
      col("user_id"), unix_micros(col("ts")).as("us"), lit(0).as("k"),
      col("event_id").as("id"), cents(col("value")).as("cents"))
    val purchases = ev.filter(col("event_type") === "purchase").select(
      col("user_id"), unix_micros(col("ts")).as("us"), lit(1).as("k"),
      col("event_id").as("id"), lit(null).cast("long").as("cents"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("us"), col("k"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("lastc", last(when(col("k") === 0,
        struct(col("us").as("c_us"), col("id").as("c_id"),
          col("cents").as("c_cents"))), ignoreNulls = true).over(w))
      .filter(col("k") === 1)
      .select(col("id").as("event_id"), col("lastc.c_id").as("click_id"),
        col("lastc.c_us").as("click_us"), col("lastc.c_cents").as("click_cents"))
      .orderBy("event_id")
  }

  /** [[eventsAsofJoin]] with a STALENESS TOLERANCE — the bounded as-of
    * form real trades⋈quotes pipelines run (an hours-old quote is not a
    * usable match): the most recent same-user click at or before the
    * purchase AND within the trailing 30 minutes; older matches report
    * null exactly like no-match. The fold is IDENTICAL (one shuffle on
    * user_id, same keyed window — the tolerance cannot prune the walk
    * because the nearest click is only known at the purchase row); the
    * bound applies as one map-side null-out of stale results, so the plan
    * shape and state cost match the unbounded form. Oracle = the naive
    * per-pair join with the band in the ON clause. */
  def eventsAsofJoinTolerance(s: SparkSession, dir: String): DataFrame = {
    val T = 1800000000L // 30 minutes in microseconds
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click").select(
      col("user_id"), unix_micros(col("ts")).as("us"), lit(0).as("k"),
      col("event_id").as("id"), cents(col("value")).as("cents"))
    val purchases = ev.filter(col("event_type") === "purchase").select(
      col("user_id"), unix_micros(col("ts")).as("us"), lit(1).as("k"),
      col("event_id").as("id"), lit(null).cast("long").as("cents"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("us"), col("k"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("lastc", last(when(col("k") === 0,
        struct(col("us").as("c_us"), col("id").as("c_id"),
          col("cents").as("c_cents"))), ignoreNulls = true).over(w))
      .filter(col("k") === 1)
      .withColumn("fresh", col("lastc.c_us") >= col("us") - T)
      .select(col("id").as("event_id"),
        when(col("fresh"), col("lastc.c_id")).as("click_id"),
        when(col("fresh"), col("lastc.c_us")).as("click_us"),
        when(col("fresh"), col("lastc.c_cents")).as("click_cents"))
      .orderBy("event_id")
  }

  val eventsAsofJoinToleranceSql: String =
    """WITH p AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_us
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT event_id AS c_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS c_us,
      |    CAST(round(value*100) AS BIGINT) AS c_cents
      |  FROM events WHERE event_type = 'click'),
      |best AS (SELECT event_id, c_id, c_us, c_cents FROM (
      |  SELECT p.event_id, c.c_id, c.c_us, c.c_cents,
      |    ROW_NUMBER() OVER (PARTITION BY p.event_id
      |      ORDER BY c.c_us DESC, c.c_id DESC) AS rn
      |  FROM p JOIN c ON c.user_id = p.user_id AND c.c_us <= p.p_us
      |    AND c.c_us >= p.p_us - 1800000000)
      |  WHERE rn = 1)
      |SELECT p.event_id, b.c_id AS click_id, b.c_us AS click_us,
      |  b.c_cents AS click_cents
      |FROM p LEFT JOIN best b USING (event_id) ORDER BY p.event_id""".stripMargin

  val eventsAsofJoinSql: String =
    """WITH p AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_us
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT event_id AS c_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS c_us,
      |    CAST(round(value*100) AS BIGINT) AS c_cents
      |  FROM events WHERE event_type = 'click'),
      |best AS (SELECT event_id, c_id, c_us, c_cents FROM (
      |  SELECT p.event_id, c.c_id, c.c_us, c.c_cents,
      |    ROW_NUMBER() OVER (PARTITION BY p.event_id
      |      ORDER BY c.c_us DESC, c.c_id DESC) AS rn
      |  FROM p JOIN c ON c.user_id = p.user_id AND c.c_us <= p.p_us)
      |  WHERE rn = 1)
      |SELECT p.event_id, b.c_id AS click_id, b.c_us AS click_us,
      |  b.c_cents AS click_cents
      |FROM p LEFT JOIN best b USING (event_id) ORDER BY p.event_id""".stripMargin

  def eventsIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    intervalJoinCore(
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), unix_micros(col("ts")).as("p_us")),
      ev.filter(col("event_type") === "click")
        .select(unix_micros(col("ts")).as("c_us"), cents(col("value")).as("c_v")))
  }

  /** The bucketed-join core of [[eventsIntervalJoin]], over already-
    * projected `(event_id, p_us)` probes and `(c_us, c_v)` matches —
    * factored out so the boundary spec can drive crafted epoch-micros
    * (inclusive endpoints, bucket-aligned timestamps) through the REAL
    * operator rather than a re-implementation. */
  private[graft] def intervalJoinCore(purchases: DataFrame, clicks: DataFrame,
      salt: Int = 1): DataFrame = {
    val H = 3600000000L // interval (and bucket) width, microseconds
    // EXACT floor division for the bucket key: with true floor,
    // fd(t − H) = fd(t) − 1 identically for ALL integers — including
    // negative epoch-micros, where truncating `div` rounds toward zero and
    // under-covers (spec-pinned straddling 0)
    def fd(x: String) = s"(($x) - pmod(($x), ${H}L)) div ${H}L"
    val probes0 = purchases.withColumn("bucket", explode(array(
      expr(s"${fd("p_us")} - 1L"), expr(fd("p_us")))))
    // HOT-MATCH-SIDE salting (salt > 1): under left-outer semantics AQE can
    // only split the PROBE side (splitting the match side would duplicate
    // unmatched probe rows), so a hot CLICK hour — one bucket holding a
    // disproportionate match population — pins a single task. The salted
    // form shards the hot side deterministically (pmod(xxhash64(row), salt))
    // and REPLICATES each probe row across all shards: the join key becomes
    // (bucket, shard), the hot bucket's matches spread over `salt` tasks,
    // and correctness is untouched — every (probe, match) pair still meets
    // exactly once (in the match's own shard), and a zero-match purchase's
    // 2·salt null rows collapse in the same null-ignoring aggregate. Probe
    // replication costs salt× probe rows — the standard trade; pick salt ≈
    // the hot bucket's size over the target per-task row count.
    val probes =
      if (salt == 1) probes0
      else probes0.withColumn("shard", explode(array((0 until salt).map(lit): _*)))
    val matches0 = clicks.withColumn("bucket", expr(fd("c_us")))
    val matches =
      if (salt == 1) matches0
      else matches0.withColumn("shard", pmod(xxhash64(col("c_us"), col("c_v")), lit(salt)))
    val joinKeys = probes("bucket") === matches("bucket") &&
      (if (salt == 1) lit(true) else probes("shard") === matches("shard"))
    probes.join(matches,
        joinKeys && col("c_us") >= col("p_us") - H && col("c_us") <= col("p_us"),
        "left")
      .groupBy("event_id")
      .agg(count(col("c_us")).as("n_clicks"),
        (coalesce(sum(col("c_v")), lit(0L)).cast("double") / 100.0).as("click_value"))
      .orderBy("event_id")
  }

  /** [[eventsIntervalJoin]] with the hot-MATCH-side skew escape engaged
    * (the salted form — same answer, spec- and oracle-pinned; see the
    * salting note in [[intervalJoinCore]]). */
  def eventsIntervalJoinSalted(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    intervalJoinCore(
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), unix_micros(col("ts")).as("p_us")),
      ev.filter(col("event_type") === "click")
        .select(unix_micros(col("ts")).as("c_us"), cents(col("value")).as("c_v")),
      salt = 8)
  }

  val eventsIntervalJoinSql: String =
    """WITH p AS (SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_us
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS c_us,
      |    CAST(round(value*100) AS BIGINT) AS v
      |  FROM events WHERE event_type = 'click')
      |SELECT p.event_id, count(c.c_us) AS n_clicks,
      |  CAST(coalesce(sum(c.v), 0) AS DOUBLE)/100.0 AS click_value
      |FROM p LEFT JOIN c ON c.c_us BETWEEN p.p_us - 3600000000 AND p.p_us
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_rate_window" -> eventsRateWindow _,
    "events_interval_join" -> eventsIntervalJoin _,
    "events_interval_join_salted" -> eventsIntervalJoinSalted _,
    "events_asof_join" -> eventsAsofJoin _,
    "events_asof_tolerance" -> eventsAsofJoinTolerance _,
    "events_band_join" -> eventsBandJoin _,
    "agg_approx" -> approxAgg _,
    "agg_exact" -> exactAgg _,
    "agg_quantile_hist" -> histQuantile _,
    "events_hourly_quantile" -> eventsHourlyQuantile _,
    "events_asof_orders" -> eventsAsofOrders _,
    "events_pivot" -> eventsPivot _,
    "events_user_stats_salted" -> saltedUserStats _,
    "events_heavy_hitters" -> ((s: SparkSession, dir: String) => heavyHitters(s, dir)),
    "q1_pricing_summary" -> q1PricingSummary _,
    "q3_top_orders" -> q3TopOrders _,
    "q5_region_revenue" -> q5RegionRevenue _,
    "join_semi" -> joinSemi _,
    "join_anti" -> joinAnti _,
    "join_outer_agg" -> joinOuterAgg _,
    "window_rank" -> windowRank _,
    "window_running" -> windowRunning _,
    "window_lag" -> windowLag _,
    "topk_orders" -> topkOrders _,
    "set_ops" -> setOps _,
    "agg_distinct" -> aggDistinct _,
    "rollup_pricing" -> rollupPricing _,
    "cube_pricing" -> cubePricing _,
    "events_hourly" -> eventsHourly _,
    "events_sessions" -> eventsSessions _,
    "events_funnel" -> eventsFunnel _,
    "events_retention" -> eventsRetention _,
    "events_props" -> eventsProps _,
    // write-time Z-order layout key (the clustering itself is pinned by
    // the pruning spec; this row pins the Morton arithmetic hash-exact)
    "layout_zorder" -> ((s: SparkSession, dir: String) =>
      graft.operators.Layout.eventsZorder(graft.operators.Tables.events(s, dir))),
    "layout_zorder3" -> ((s: SparkSession, dir: String) =>
      graft.operators.Layout.eventsZorder3(graft.operators.Tables.events(s, dir))),
  )

  val oracles: Map[String, String] = Map(
    "layout_zorder" -> graft.operators.Layout.eventsZorderSql,
    "layout_zorder3" -> graft.operators.Layout.eventsZorder3Sql,
    "events_rate_window" -> eventsRateWindowSql,
    "events_interval_join" -> eventsIntervalJoinSql,
    // the salted variant answers IDENTICALLY — same oracle
    "events_interval_join_salted" -> eventsIntervalJoinSql,
    "events_asof_join" -> eventsAsofJoinSql,
    "events_asof_tolerance" -> eventsAsofJoinToleranceSql,
    "events_band_join" -> eventsBandJoinSql,
    "agg_approx" -> approxAggSql,
    "agg_exact" -> exactAggSql,
    "agg_quantile_hist" -> histQuantileSql,
    "events_hourly_quantile" -> eventsHourlyQuantileSql,
    "events_asof_orders" -> eventsAsofOrdersSql,
    "events_pivot" -> eventsPivotSql,
    "events_user_stats_salted" -> saltedUserStatsSql,
    "events_heavy_hitters" -> heavyHittersSql,
    "q1_pricing_summary" -> q1Sql,
    "q3_top_orders" -> q3Sql,
    "q5_region_revenue" -> q5Sql,
    "join_semi" -> joinSemiSql,
    "join_anti" -> joinAntiSql,
    "join_outer_agg" -> joinOuterAggSql,
    "window_rank" -> windowRankSql,
    "window_running" -> windowRunningSql,
    "window_lag" -> windowLagSql,
    "topk_orders" -> topkOrdersSql,
    "set_ops" -> setOpsSql,
    "agg_distinct" -> aggDistinctSql,
    "rollup_pricing" -> rollupPricingSql,
    "cube_pricing" -> cubePricingSql,
    "events_hourly" -> eventsHourlySql,
    "events_sessions" -> eventsSessionsSql,
    "events_funnel" -> eventsFunnelSql,
    "events_retention" -> eventsRetentionSql,
    "events_props" -> eventsPropsSql,
  )
}
