package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Par.BoundedOrder

/** Relational surface beyond the TPC-H battery: window functions, set
  * operations, ROLLUP grouping, scalar-function coverage, and the events
  * table (time-series) workload. The reference accepts these through its
  * SQL passthrough (SURVEY §2.B "window functions", "set ops", "scalar
  * functions"); here each family is an explicit Spark-first query with a
  * DuckDB oracle.
  */
object Relational {

  // Bit-portable fractional aggregates (Exact.scala): micros-encoded exact
  // sums emitted as IEEE doubles by the identical operation sequence on
  // both engines — value- and representation-identical in the driver's
  // pandas compare.
  private def dsum(c: Column): Column = Exact.dsum(c)
  private def sqlDsum(e: String): String = Exact.sqlDsum(e)
  private def micros(c: Column): Column = Exact.micros(c)

  // === window: rank + running total per customer ===========================
  def windowOrders(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      // exact long micros running sum, ONE conversion to double at the end
      // (Exact contract: bit-identical to the oracle's mirrored arithmetic)
      .withColumn("run_total",
        Exact.toUnits(
          sum(Exact.micros(col("o_totalprice"))).over(w.rowsBetween(Window.unboundedPreceding, 0))))
      .filter(col("rn") <= 3 && col("o_custkey") <= 100)
      .select(col("o_custkey"), col("o_orderkey"), col("rn").cast(IntegerType).as("rn"), col("run_total"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  val windowOrdersSql: String =
    s"""SELECT o_custkey, o_orderkey, CAST(rn AS INTEGER) AS rn,
       | ${Exact.sqlToUnits("run_total_m")} AS run_total
       |FROM (
       |  SELECT o_custkey, o_orderkey,
       |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn,
       |    SUM(${Exact.sqlMicros("o_totalprice")})
       |      OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       |            ROWS UNBOUNDED PRECEDING) AS run_total_m
       |  FROM orders) t
       |WHERE rn <= 3 AND o_custkey <= 100
       |ORDER BY o_custkey, rn""".stripMargin

  // === window: lag/lead + sessionization over events =======================
  // 30-minute-gap sessionization: the canonical lag -> gap-flag -> running
  // sum pattern; at 100 TB this shuffles once on user_id and stays fully
  // partition-parallel.
  def eventSessions(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val withGap = t(s, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 30L * 60 * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    withGap.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("user_id"))
      .agg(max(col("session_id")).cast(IntegerType).as("n_sessions"),
        max(col("cnt")).as("max_session_events"))
      .orderBy(col("user_id"))
  }

  val eventSessionsSql: String =
    """WITH gaps AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
      |  FROM events),
      |sessions AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL 30 MINUTE
      |             THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
      |      AS session_id
      |  FROM gaps),
      |per_session AS (
      |  SELECT user_id, session_id, COUNT(*) AS cnt FROM sessions GROUP BY 1, 2)
      |SELECT user_id, CAST(MAX(session_id) AS INTEGER) AS n_sessions,
      |       MAX(cnt) AS max_session_events
      |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin

  // === set operations: INTERSECT / EXCEPT / UNION ==========================
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(col("c_nationkey").as("k"))
    val su = t(s, dir, "supplier").select(col("s_nationkey").as("k"))
    val both = c.intersect(su).withColumn("src", lit("both"))
    val custOnly = c.except(su).withColumn("src", lit("cust_only"))
    val all = c.union(su).distinct.withColumn("src", lit("either"))
    both.union(custOnly).union(all)
      .select(col("src"), col("k"))
      .orderBy(col("src"), col("k"))
  }

  val setOpsSql: String =
    """SELECT src, k FROM (
      |  SELECT 'both' AS src, k FROM
      |    (SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey FROM supplier) a
      |  UNION ALL
      |  SELECT 'cust_only', k FROM
      |    (SELECT c_nationkey AS k FROM customer EXCEPT SELECT s_nationkey FROM supplier) b
      |  UNION ALL
      |  SELECT 'either', k FROM
      |    (SELECT c_nationkey AS k FROM customer UNION SELECT s_nationkey FROM supplier) c
      |) t ORDER BY src, k""".stripMargin

  // === ROLLUP grouping sets ================================================
  def rollupOrders(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
  }

  val rollupOrdersSql: String =
    s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       | ${sqlDsum("o_totalprice")} AS total
       |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
       |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  // === scalar string/conditional battery ===================================
  def scalarStrings(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "part").filter(col("p_partkey") <= 100)
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("up_name"),
        lower(col("p_brand")).as("lo_brand"),
        substring(col("p_type"), 1, 4).as("type4"),
        length(col("p_name")).cast(IntegerType).as("name_len"),
        concat(col("p_brand"), lit("/"), col("p_type")).as("brand_type"),
        regexp_replace(col("p_name"), "a", "_").as("repl"),
        coalesce(nullif(col("p_type"), lit("PROMO")), lit("OTHER")).as("coal"),
        when(col("p_size") < 10, "S").when(col("p_size") < 30, "M").otherwise("L").as("size_class"),
        (col("p_size") % 7).as("size_mod7"),
        // dround, not round() (r19 review: Spark's HALF_UP BigDecimal
        // round vs DuckDB's float std::round can differ an ulp apart
        // near halfway points — the exact divergence Exact.dround's doc
        // names; every other rounding here already rides it)
        Exact.dround(col("p_retailprice"), 1).as("price_r1"),
        greatest(col("p_size"), lit(25)).as("size_floor25"))
      .orderBy(col("p_partkey"))
  }

  val scalarStringsSql: String =
    s"""SELECT p_partkey,
      | upper(p_name) AS up_name, lower(p_brand) AS lo_brand,
      | substring(p_type, 1, 4) AS type4,
      | CAST(length(p_name) AS INTEGER) AS name_len,
      | concat(p_brand, '/', p_type) AS brand_type,
      | regexp_replace(p_name, 'a', '_', 'g') AS repl,
      | coalesce(nullif(p_type, 'PROMO'), 'OTHER') AS coal,
      | CASE WHEN p_size < 10 THEN 'S' WHEN p_size < 30 THEN 'M' ELSE 'L' END AS size_class,
      | p_size % 7 AS size_mod7,
      | ${Exact.sqlDround("p_retailprice", 1)} AS price_r1,
      | greatest(p_size, 25) AS size_floor25
      |FROM part WHERE p_partkey <= 100 ORDER BY p_partkey""".stripMargin

  // === scalar date battery =================================================
  def scalarDates(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").filter(col("o_orderkey") <= 200)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        quarter(col("o_orderdate")).as("q"),
        date_trunc("month", col("o_orderdate")).cast(DateType).as("month_start"),
        (col("o_orderdate") + expr("INTERVAL 90 DAYS")).cast(DateType).as("due_date"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"))
      .orderBy(col("o_orderkey"))
  }

  val scalarDatesSql: String =
    """SELECT o_orderkey,
      | CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS y,
      | CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS m,
      | CAST(EXTRACT(day FROM o_orderdate) AS INTEGER) AS d,
      | CAST(EXTRACT(quarter FROM o_orderdate) AS INTEGER) AS q,
      | CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
      | CAST(o_orderdate + INTERVAL 90 DAY AS DATE) AS due_date,
      | CAST(EXTRACT(epoch FROM o_orderdate) AS BIGINT) AS epoch_s
      |FROM orders WHERE o_orderkey <= 200 ORDER BY o_orderkey""".stripMargin

  // === events: hourly tumbling-window aggregation ==========================
  // Timestamps are emitted as epoch seconds (naive-vs-UTC parquet encoding
  // differences between engines make raw timestamp outputs non-comparable).
  def eventsHourly(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events")
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy(col("hour_epoch"), col("event_type"))
  }

  val eventsHourlySql: String =
    s"""SELECT CAST(EXTRACT(epoch FROM date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS hour_epoch,
       | event_type, COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // === events: top-k users by purchase value ===============================
  def eventsTopUsers(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .orderBy(col("total_value").desc, col("user_id"))
      .limit(20)
  }

  val eventsTopUsersSql: String =
    s"""SELECT user_id, COUNT(*) AS n_events, ${sqlDsum("value")} AS total_value
       |FROM events WHERE event_type = 'purchase'
       |GROUP BY user_id ORDER BY total_value DESC, user_id LIMIT 20""".stripMargin

  // === events: conversion funnel with sequence constraint ==================
  /** ev7: classic ordered funnel — per user, the first view, the first
    * click AFTER that view, and the first purchase AFTER that click;
    * `funnel_stage` counts how deep the user got. ONE events scan and
    * ONE user_id shuffle: the three conditional mins are chained
    * whole-partition window aggregates over the same partitioning (each
    * stage's predicate references the previous stage's column, and a
    * null propagates so a click without a prior view never counts), and
    * the per-user rollup reuses that partitioning — no per-user event
    * collection, so a power user with millions of events costs the same
    * shuffle bytes as anyone else. The join formulation this replaced
    * read events once per funnel stage. Timestamps are emitted as epoch
    * micros (the eventsHourly naive-vs-UTC note).
    */
  def eventFunnel(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    t(s, dir, "events").select(col("user_id"), col("ts"), col("event_type"))
      .withColumn("t_view",
        min(when(col("event_type") === "view", col("ts"))).over(byUser))
      .withColumn("t_click",
        min(when(col("event_type") === "click" && col("ts") > col("t_view"), col("ts")))
          .over(byUser))
      .withColumn("t_purchase",
        min(when(col("event_type") === "purchase" && col("ts") > col("t_click"), col("ts")))
          .over(byUser))
      .groupBy(col("user_id"))
      .agg(min(col("t_view")).as("t_view"), min(col("t_click")).as("t_click"),
        min(col("t_purchase")).as("t_purchase"))
      .select(col("user_id"),
        (when(col("t_view").isNotNull, 1).otherwise(0) +
          when(col("t_click").isNotNull, 1).otherwise(0) +
          when(col("t_purchase").isNotNull, 1).otherwise(0)).cast(IntegerType)
          .as("funnel_stage"),
        unix_micros(col("t_view")).as("t_view_us"),
        unix_micros(col("t_click")).as("t_click_us"),
        unix_micros(col("t_purchase")).as("t_purchase_us"))
      .orderBy(col("user_id"))
  }

  val eventFunnelSql: String =
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |v AS (SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t_view
      |      FROM events WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_click
      |      FROM events e JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.t_view GROUP BY 1),
      |p AS (SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_purchase
      |      FROM events e JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.t_click GROUP BY 1)
      |SELECT u.user_id,
      |  CAST((CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)
      |     + (CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END)
      |     + (CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER) AS funnel_stage,
      |  CAST(epoch_us(t_view) AS BIGINT) AS t_view_us,
      |  CAST(epoch_us(t_click) AS BIGINT) AS t_click_us,
      |  CAST(epoch_us(t_purchase) AS BIGINT) AS t_purchase_us
      |FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
      |ORDER BY u.user_id""".stripMargin

  // === events: weekly cohort retention =====================================
  /** ev8: cohort retention triangle — users bucketed by the epoch week of
    * their first event, then (cohort_week, week_offset) cells count the
    * distinct users still active that many weeks later. One window-min
    * over user_id — a single events scan and a single full shuffle; the
    * self-join formulation would scan events twice — feeding a final
    * cell aggregate that is map-side combinable with a key space
    * (weeks × offsets) that stays tiny regardless of corpus size.
    * Week buckets are integer `div` on epoch micros — bit-exact on any
    * engine, no timezone or date-truncation semantics to disagree on.
    */
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val wk = 604800000000L // micros per week
    // FLOOR division kept entirely in integers: pmod makes the remainder
    // nonnegative (plain `div` truncates toward zero and would disagree
    // with the oracle's flooring `//` for pre-1970 timestamps), and the
    // exact-multiple `div` never routes through a double, so week buckets
    // stay exact even past 2^53 micros (years beyond 2255)
    def weekOf(c: String): Column = expr(s"(($c - pmod($c, ${wk}L)) div ${wk}L)")
    t(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("first_us", min(col("us")).over(Window.partitionBy(col("user_id"))))
      .select(col("user_id"),
        weekOf("first_us").as("cohort_week"),
        (weekOf("us") - weekOf("first_us")).as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("active_users"), count(lit(1)).as("n_events"))
      // retention triangle is weeks×offsets cells — bounded by calendar
      // time, not data volume, so sort it in one task (the q16 ledger)
      .orderedSmall(col("cohort_week"), col("week_offset"))
  }

  // the oracle's week bucket mirrors Spark's pmod FLOOR construction
  // exactly (r19 review, empirically checked: DuckDB's `//` TRUNCATES
  // toward zero on negatives — the comment that claimed it floors was
  // wrong — so a bare `us // wk` would disagree for pre-1970 events;
  // subtracting the nonnegative mod first makes the operand an exact
  // multiple, where truncate == floor)
  private def sqlWeekOf(e: String): String = {
    val wk = "604800000000"
    s"(($e - (($e % $wk + $wk) % $wk)) // $wk)"
  }

  val cohortRetentionSql: String =
    s"""WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |f AS (SELECT user_id, MIN(us) AS first_us FROM e GROUP BY 1)
      |SELECT ${sqlWeekOf("first_us")} AS cohort_week,
      |  ${sqlWeekOf("us")} - ${sqlWeekOf("first_us")} AS week_offset,
      |  COUNT(DISTINCT e.user_id) AS active_users, COUNT(*) AS n_events
      |FROM e JOIN f USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // === events: trailing time-range window aggregates =======================
  /** ev9: per purchase event, the count and exact sum of the user's
    * purchases in the trailing 7 days — a RANGE frame over epoch micros
    * (the one window-frame family the w1-w3 battery doesn't exercise;
    * ROWS frames count rows, RANGE frames bound event TIME, which is
    * what a rate limit or rolling-spend feature actually wants). One
    * shuffle on user_id, frame evaluation is partition-local, and the
    * value-based frame makes tie handling deterministic: peers at the
    * same timestamp always share a frame regardless of sort order. The
    * sum rides the Exact micros contract, so the emitted doubles are
    * bit-identical on both engines.
    */
  def trailingSpend(s: SparkSession, dir: String): DataFrame = {
    val week = 604800000000L // micros
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-week, Window.currentRow)
    t(s, dir, "events")
      .filter(col("event_type") === "purchase" && col("user_id") <= 200)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"), col("value"))
      .withColumn("n_7d", count(lit(1)).over(w))
      .withColumn("sum_7d", Exact.toUnits(sum(Exact.micros(col("value"))).over(w)))
      .select(col("user_id"), col("event_id"), col("us"), col("n_7d"), col("sum_7d"))
      .orderBy(col("user_id"), col("us"), col("event_id"))
  }

  val trailingSpendSql: String =
    s"""SELECT user_id, event_id, us, n_7d, ${Exact.sqlToUnits("sum_m")} AS sum_7d
       |FROM (
       |  SELECT user_id, event_id, us,
       |    COUNT(*) OVER w AS n_7d,
       |    SUM(${Exact.sqlMicros("value")}) OVER w AS sum_m
       |  FROM (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
       |        FROM events WHERE event_type = 'purchase' AND user_id <= 200)
       |  WINDOW w AS (PARTITION BY user_id ORDER BY us
       |               RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)) t
       |ORDER BY user_id, us, event_id""".stripMargin

  // === events: behavior transition matrix ==================================
  /** ev10: the event-type Markov transition matrix — for each ordered
    * (prev, next) pair along every user's event sequence, the count and
    * conditional probability P(next|prev) in integer micros. The
    * behavioral fingerprint session-analytics and sequence-model
    * pipelines start from. One shuffle keys the sequence window on
    * user_id (lag is partition-local); the matrix aggregate is bounded
    * by the event-type vocabulary squared at any scale. Ordering inside
    * a user uses (epoch micros, event_id) on BOTH engines, so nano-level
    * timestamp ties cannot reorder pairs between Spark (micros) and
    * DuckDB (nanos).
    */
  def eventTransitions(s: SparkSession, dir: String): DataFrame = {
    val seq = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val pairs = t(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(seq))
      .filter(col("prev_type").isNotNull)
    val c2 = pairs.groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n_pairs"))
    val c1 = c2.groupBy(col("prev_type")).agg(sum(col("n_pairs")).as("n_from"))
    c2.join(c1, "prev_type")
      .select(col("prev_type"), col("event_type").as("next_type"), col("n_pairs"),
        floor(col("n_pairs").cast(DoubleType) / col("n_from").cast(DoubleType)
          * 1000000L + 0.5).cast(LongType).as("p_micro"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  val eventTransitionsSql: String =
    """WITH seqd AS (
      |  SELECT user_id, event_type,
      |    LAG(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS prev_type
      |  FROM events),
      |c2 AS (SELECT prev_type, event_type AS next_type, COUNT(*) AS n_pairs
      |       FROM seqd WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      |c1 AS (SELECT prev_type, SUM(n_pairs) AS n_from FROM c2 GROUP BY 1)
      |SELECT prev_type, next_type, CAST(n_pairs AS BIGINT) AS n_pairs,
      |  CAST(FLOOR(CAST(n_pairs AS DOUBLE) / CAST(n_from AS DOUBLE)
      |       * 1000000 + 0.5) AS BIGINT) AS p_micro
      |FROM c2 JOIN c1 USING (prev_type)
      |ORDER BY prev_type, next_type""".stripMargin

  // === events: hourly anomaly detection ====================================
  /** ev11: hourly event-count anomaly z-scores — per event type, hours
    * whose count deviates more than 2.5 sigma from that type's own
    * hourly mean, the basic traffic-monitoring sweep. All statistics
    * derive from integer sums (n, sum, sum-of-squares), so mean,
    * variance and z follow the identical IEEE operation sequence on
    * both engines; zero-variance types are excluded before the division
    * (NaN ordering semantics differ across engines). Shape at 100 TB:
    * the hourly rollup is one map-side-combinable shuffle keyed on
    * (type, hour); the per-type moments reduce the already-aggregated
    * hours, and the tiny stats table broadcasts back.
    */
  def eventAnomalies(s: SparkSession, dir: String): DataFrame = {
    val hours = t(s, dir, "events")
      .select(col("event_type"),
        unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
      .groupBy(col("event_type"), col("hour_us")).agg(count(lit(1)).as("cnt"))
    // per-type moments as WINDOWS over the already-aggregated hours —
    // the agg-over-agg + join-back form re-scanned events and re-paid
    // the (type, hour) shuffle twice (ReuseExchange measurably does not
    // fire across the asymmetry; the q11 lesson applied here)
    val wT = Window.partitionBy(col("event_type"))
    val mean = col("s1").cast(DoubleType) / col("n_hours").cast(DoubleType)
    val varc = col("s2").cast(DoubleType) / col("n_hours").cast(DoubleType) - mean * mean
    hours
      .withColumn("n_hours", count(lit(1)).over(wT))
      .withColumn("s1", sum(col("cnt")).over(wT))
      .withColumn("s2", sum(col("cnt") * col("cnt")).over(wT))
      .filter(varc > 0)
      .select(col("event_type"), col("hour_us"), col("cnt"),
        ((col("cnt").cast(DoubleType) - mean) / sqrt(varc)).as("z"))
      .filter(abs(col("z")) > 2.5)
      .orderBy(col("event_type"), col("hour_us"))
  }

  val eventAnomaliesSql: String =
    """WITH h AS (
      |  SELECT event_type,
      |    epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hour_us,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
      |         CAST(SUM(cnt) AS BIGINT) AS s1, CAST(SUM(cnt * cnt) AS BIGINT) AS s2
      |       FROM h GROUP BY 1),
      |z AS (
      |  SELECT h.event_type, hour_us, CAST(cnt AS BIGINT) AS cnt,
      |    (CAST(cnt AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n_hours AS DOUBLE))
      |      / sqrt(CAST(s2 AS DOUBLE) / CAST(n_hours AS DOUBLE)
      |             - (CAST(s1 AS DOUBLE) / CAST(n_hours AS DOUBLE))
      |               * (CAST(s1 AS DOUBLE) / CAST(n_hours AS DOUBLE))) AS z
      |  FROM h JOIN st USING (event_type)
      |  WHERE CAST(s2 AS DOUBLE) / CAST(n_hours AS DOUBLE)
      |        - (CAST(s1 AS DOUBLE) / CAST(n_hours AS DOUBLE))
      |          * (CAST(s1 AS DOUBLE) / CAST(n_hours AS DOUBLE)) > 0)
      |SELECT event_type, hour_us, cnt, z FROM z WHERE abs(z) > 2.5
      |ORDER BY event_type, hour_us""".stripMargin

  // === table profiling =====================================================
  /** prof1: per-column profile of a table — row count, null count and
    * exact distinct count per column, the ANALYZE/SUMMARIZE surface the
    * reference inherits from its embedded engine. One pass: Spark plans
    * the multi-column countDistinct battery as a single EXPAND
    * aggregate (rows × columns intermediate, map-side combined), then
    * the one-row result unpivots via stack(). At 100 TB the exact
    * distinct count is the honest version of this operator; a
    * deployment that can tolerate error swaps in approx_count_distinct
    * (the HLL tier SketchSpec covers) without changing shape.
    */
  // ONE column list drives both engines' profile: the Spark side and
  // the oracle desync silently if either derives its own set
  private val profileColumns = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")

  def tableProfile(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "orders").select(profileColumns.map(col): _*)
    val names = profileColumns
    val aggCols = names.flatMap(n => Seq(
      sum(when(col(n).isNull, 1L).otherwise(0L)).as(s"${n}__nn"),
      countDistinct(col(n)).as(s"${n}__nd")))
    val stackArgs = names.map(n => s"'$n', ${n}__nn, ${n}__nd").mkString(", ")
    df.agg(count(lit(1)).as("n_rows"), aggCols: _*)
      .select(col("n_rows"),
        expr(s"stack(${names.length}, $stackArgs) AS (column_name, n_null, n_distinct)"))
      .select(col("column_name"), col("n_rows").cast(LongType),
        col("n_null").cast(LongType).as("n_null"),
        col("n_distinct").cast(LongType).as("n_distinct"))
      .orderBy(col("column_name"))
  }

  val tableProfileSql: String = {
    profileColumns.map { c =>
      s"""SELECT '$c' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct
         |FROM orders""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  // === events: inter-arrival gaps ==========================================
  /** ev12: per-event-type inter-arrival statistics — the gap between a
    * user's consecutive events of one type, aggregated per type. The
    * sequence window partitions by (user_id, event_type) — one shuffle,
    * per-user state bounded — and the final aggregate is map-side
    * combinable integer moments; the avg is one IEEE division over
    * exact integer operands (bit-identical on both engines).
    */
  def interArrival(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap_us")).as("min_gap_us"),
        max(col("gap_us")).as("max_gap_us"),
        // DECIMAL(38,0)-widened sum (r19 review: the oracle sums in
        // HUGEINT; a raw long sum overflows at ~1e12 gaps of ~1e7 us —
        // the exact scale the docstring advertises — where ANSI throws
        // instead of averaging; the valueTrend widening discipline)
        (sum(col("gap_us").cast(Exact.D380)).cast(DoubleType) / count(lit(1)))
          .as("avg_gap_us"))
      .select(col("event_type"), col("n_gaps").cast(LongType),
        col("min_gap_us").cast(LongType).as("min_gap_us"),
        col("max_gap_us").cast(LongType).as("max_gap_us"), col("avg_gap_us"))
      .orderedSmall(col("event_type"))
  }

  val interArrivalSql: String =
    """WITH g AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP))
      |      - lag(epoch_us(CAST(ts AS TIMESTAMP)), 1)
      |          OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap_us
      |  FROM events)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
      |  CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
      |  CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
      |  CAST(CAST(SUM(gap_us) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_gap_us
      |FROM g WHERE gap_us IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // === events: RFM user segmentation =======================================
  /** ev13: recency/frequency/monetary segmentation per user with FIXED
    * threshold buckets (no global ranking — an ntile over all users
    * would need a full sort of the user set; thresholds keep the whole
    * operator one map-combinable groupBy plus a broadcast one-row "now"
    * scalar, so it scales to any user cardinality). Monetary compares
    * in exact micros; the reported value is the Exact-scheme double.
    */
  def userRfm(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val now = ev.agg(max(unix_micros(col("ts"))).as("now_us"))
    val dayUs = 86400000000L
    ev.groupBy(col("user_id"))
      .agg(max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("n_events"),
        Exact.msum(col("value")).as("mv"))
      .crossJoin(broadcast(now))
      // integer-micros difference / double day length: one IEEE division
      .withColumn("recency_days",
        floor((col("now_us") - col("last_us")) / lit(dayUs.toDouble)).cast(LongType))
      .withColumn("r_score",
        when(col("recency_days") <= 7, 4).when(col("recency_days") <= 30, 3)
          .when(col("recency_days") <= 90, 2).otherwise(1))
      .withColumn("f_score",
        when(col("n_events") >= 20, 4).when(col("n_events") >= 10, 3)
          .when(col("n_events") >= 5, 2).otherwise(1))
      .withColumn("m_score",
        when(col("mv") >= 5000L * 1000000L, 4).when(col("mv") >= 1000L * 1000000L, 3)
          .when(col("mv") >= 100L * 1000000L, 2).otherwise(1))
      .select(col("user_id"), col("recency_days"),
        col("n_events").cast(LongType).as("n_events"),
        Exact.toUnits(col("mv")).as("monetary"),
        col("r_score").cast(IntegerType).as("r_score"),
        col("f_score").cast(IntegerType).as("f_score"),
        col("m_score").cast(IntegerType).as("m_score"),
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
          .cast(IntegerType).as("rfm_code"))
      .orderBy(col("user_id"))
  }

  val userRfmSql: String = {
    val mv = Exact.sqlMsum("value")
    s"""WITH now_t AS (SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS now_us FROM events),
       |u AS (SELECT user_id, MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us,
       |        COUNT(*) AS n_events, $mv AS mv
       |      FROM events GROUP BY user_id),
       |b AS (SELECT user_id, n_events, mv,
       |        CAST(FLOOR((now_us - last_us) / 86400000000.0) AS BIGINT) AS recency_days
       |      FROM u CROSS JOIN now_t),
       |sc AS (SELECT user_id, recency_days, n_events, mv,
       |        CASE WHEN recency_days <= 7 THEN 4 WHEN recency_days <= 30 THEN 3
       |             WHEN recency_days <= 90 THEN 2 ELSE 1 END AS r_score,
       |        CASE WHEN n_events >= 20 THEN 4 WHEN n_events >= 10 THEN 3
       |             WHEN n_events >= 5 THEN 2 ELSE 1 END AS f_score,
       |        CASE WHEN mv >= 5000000000 THEN 4 WHEN mv >= 1000000000 THEN 3
       |             WHEN mv >= 100000000 THEN 2 ELSE 1 END AS m_score
       |      FROM b)
       |SELECT user_id, recency_days, CAST(n_events AS BIGINT) AS n_events,
       |  ${Exact.sqlToUnits("mv")} AS monetary,
       |  CAST(r_score AS INTEGER) AS r_score, CAST(f_score AS INTEGER) AS f_score,
       |  CAST(m_score AS INTEGER) AS m_score,
       |  CAST(r_score * 100 + f_score * 10 + m_score AS INTEGER) AS rfm_code
       |FROM sc ORDER BY user_id""".stripMargin
  }

  // === table profiling: correlation matrix =================================
  /** prof2: pairwise Pearson correlation of the lineitem numeric
    * columns from ONE aggregate pass — the second half of the ANALYZE
    * surface next to prof1. All C(4,2)+4 moment sums accumulate in a
    * single map-side-combinable aggregate (stat2's exact-micros
    * scheme), so the table is scanned once at any scale; the 6-row
    * matrix unpivots from the one-row result via stack().
    */
  private val corrColumns = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  def corrMatrix(s: SparkSession, dir: String): DataFrame = {
    val pairs = for {
      i <- corrColumns.indices; j <- corrColumns.indices if i <= j
    } yield (corrColumns(i), corrColumns(j))
    val aggCols = corrColumns.map(c => Exact.msum(col(c)).as(s"s_$c")) ++
      pairs.map { case (a, b) => Exact.msum(col(a) * col(b)).as(s"p_${a}_$b") }
    val cross = pairs.filter { case (a, b) => a != b }
    val corrCols = cross.map { case (a, b) =>
      val nd = col("n").cast(DoubleType)
      val sa = Exact.toUnits(col(s"s_$a")); val sb = Exact.toUnits(col(s"s_$b"))
      val saa = Exact.toUnits(col(s"p_${a}_$a")); val sbb = Exact.toUnits(col(s"p_${b}_$b"))
      val sab = Exact.toUnits(col(s"p_${a}_$b"))
      val den = (nd * saa - sa * sa) * (nd * sbb - sb * sb)
      // zero-variance column -> 0 denominator: DuckDB float x/0 is NULL
      // while Spark emits NaN/Inf (and ANSI dround would throw on the
      // cast) — both engines must agree on NULL (same bits in `den`,
      // so the branch decision is identical)
      when(den <= 0.0, lit(null).cast(DoubleType))
        .otherwise(Exact.dround((nd * sab - sa * sb) / sqrt(den), 6)).as(s"c_${a}_$b")
    }
    val stackArgs = cross.map { case (a, b) => s"'$a', '$b', c_${a}_$b" }.mkString(", ")
    t(s, dir, "lineitem")
      .agg(count(lit(1)).as("n"), aggCols: _*)
      .select(col("n") +: corrCols: _*)
      .select(col("n").cast(LongType),
        expr(s"stack(${cross.length}, $stackArgs) AS (column_x, column_y, corr)"))
      .select(col("column_x"), col("column_y"), col("n"), col("corr"))
      .orderedSmall(col("column_x"), col("column_y"))
  }

  val corrMatrixSql: String = {
    val pairs = for {
      i <- corrColumns.indices; j <- corrColumns.indices if i <= j
    } yield (corrColumns(i), corrColumns(j))
    val aggFrags = corrColumns.map(c => s"${Exact.sqlMsum(c)} AS s_$c") ++
      pairs.map { case (a, b) => s"${Exact.sqlMsum(s"$a * $b")} AS p_${a}_$b" }
    val cross = pairs.filter { case (a, b) => a != b }
    def u(m: String) = Exact.sqlToUnits(m)
    val rows = cross.map { case (a, b) =>
      val den = s"""((CAST(n AS DOUBLE) * ${u(s"p_${a}_$a")} - ${u(s"s_$a")} * ${u(s"s_$a")})
           |             * (CAST(n AS DOUBLE) * ${u(s"p_${b}_$b")} - ${u(s"s_$b")} * ${u(s"s_$b")}))""".stripMargin
      val corr = Exact.sqlDround(
        s"""(CAST(n AS DOUBLE) * ${u(s"p_${a}_$b")} - ${u(s"s_$a")} * ${u(s"s_$b")})
           |      / sqrt($den)""".stripMargin, 6)
      s"""SELECT '$a' AS column_x, '$b' AS column_y, CAST(n AS BIGINT) AS n,
         |  CASE WHEN $den <= 0.0 THEN NULL ELSE $corr END AS corr FROM a""".stripMargin
    }
    s"""WITH a AS (SELECT COUNT(*) AS n, ${aggFrags.mkString(",\n  ")} FROM lineitem)
       |${rows.mkString("\nUNION ALL\n")}
       |ORDER BY column_x, column_y""".stripMargin
  }

  // === events: JSON property extraction ====================================
  // a props value NOT matching the pattern extracts '' — bare CAST
  // aborts the whole statement on BOTH engines (Spark ANSI
  // CAST_INVALID_INPUT; DuckDB ConversionException), so one dirty row
  // would kill the query instead of yielding a NULL cell. NULLIF-gate
  // the empty extract on both sides.
  def eventsJson(s: SparkSession, dir: String): DataFrame = {
    val ex = regexp_extract(col("props"), "\"k\": (\\d+)", 1)
    t(s, dir, "events").filter(col("event_id") < 1000)
      .select(col("event_id"),
        when(ex === "", lit(null)).otherwise(ex).cast(LongType).as("k_val"))
      .orderBy(col("event_id"))
  }

  val eventsJsonSql: String =
    """SELECT event_id,
      | CAST(NULLIF(regexp_extract(props, '"k": (\d+)', 1), '') AS BIGINT) AS k_val
      |FROM events WHERE event_id < 1000 ORDER BY event_id""".stripMargin

  // === window ranking-function battery =====================================
  def windowRanks(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal").desc, col("c_custkey"))
    t(s, dir, "customer")
      .withColumn("rnk", rank().over(w))
      .withColumn("drnk", dense_rank().over(w))
      .withColumn("quartile", ntile(4).over(w))
      // deterministic fixed-point rounding to double (no decimal cast):
      // identical formula on both engines -> identical float64 bits
      .withColumn("pct_rank", Exact.dround(percent_rank().over(w), 6))
      .withColumn("cdist", Exact.dround(cume_dist().over(w), 6))
      .withColumn("next_bal", lead(col("c_acctbal"), 1).over(w))
      .filter(col("rnk") <= 5)
      .select(col("c_mktsegment"), col("c_custkey"),
        col("rnk").cast(IntegerType).as("rnk"),
        col("drnk").cast(IntegerType).as("drnk"),
        col("quartile").cast(IntegerType).as("quartile"),
        col("pct_rank"), col("cdist"), col("next_bal"))
      .orderBy(col("c_mktsegment"), col("rnk"))
  }

  val windowRanksSql: String =
    s"""SELECT c_mktsegment, c_custkey,
      | CAST(rnk AS INTEGER) AS rnk, CAST(drnk AS INTEGER) AS drnk,
      | CAST(quartile AS INTEGER) AS quartile, pct_rank, cdist, next_bal
      |FROM (
      |  SELECT c_mktsegment, c_custkey,
      |    rank() OVER w AS rnk,
      |    dense_rank() OVER w AS drnk,
      |    ntile(4) OVER w AS quartile,
      |    ${Exact.sqlDround("percent_rank() OVER w", 6)} AS pct_rank,
      |    ${Exact.sqlDround("cume_dist() OVER w", 6)} AS cdist,
      |    lead(c_acctbal, 1) OVER w AS next_bal
      |  FROM customer
      |  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)) t
      |WHERE rnk <= 5
      |ORDER BY c_mktsegment, rnk""".stripMargin

  // === exact-algebra correlation ===========================================
  // corr(x, y) from exact decimal sums (same motivation as
  // stat1_exact_variance: Spark's corr merges float state in partition
  // order). corr = (n*sxy - sx*sy) / sqrt((n*sxx - sx^2)*(n*syy - sy^2)),
  // computed on exact sums, final sqrt/divide in IEEE double — identical
  // in both engines given identical exact inputs.
  def exactCorrelation(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        Exact.msum(x).as("sx"), Exact.msum(y).as("sy"),
        Exact.msum(x * x).as("sxx"), Exact.msum(y * y).as("syy"),
        Exact.msum(x * y).as("sxy"))
      .select(col("l_returnflag"), col("n"), {
        // every operand converted to double FIRST, then one fixed IEEE
        // op sequence — mirrored verbatim in the oracle, so bits match
        val nd = col("n").cast(DoubleType)
        val sxd = Exact.toUnits(col("sx")); val syd = Exact.toUnits(col("sy"))
        val sxxd = Exact.toUnits(col("sxx")); val syyd = Exact.toUnits(col("syy"))
        val sxyd = Exact.toUnits(col("sxy"))
        val den = (nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)
        // a zero-variance side zeroes the denominator: DuckDB x/0.0 is
        // NULL, Spark NaN (and ANSI dround throws) — agree on NULL
        when(den <= 0.0, lit(null).cast(DoubleType))
          .otherwise(Exact.dround((nd * sxyd - sxd * syd) / sqrt(den), 6))
          .as("corr_qty_price")
      })
      .orderBy(col("l_returnflag"))
  }

  val exactCorrelationSql: String = {
    def u(m: String) = Exact.sqlToUnits(m)
    s"""SELECT l_returnflag, n,
       | CASE WHEN ((CAST(n AS DOUBLE) * ${u("sxx")} - ${u("sx")} * ${u("sx")})
       |            * (CAST(n AS DOUBLE) * ${u("syy")} - ${u("sy")} * ${u("sy")})) <= 0.0
       |   THEN NULL ELSE ${Exact.sqlDround(
             s"""(CAST(n AS DOUBLE) * ${u("sxy")} - ${u("sx")} * ${u("sy")})
       |      / sqrt((CAST(n AS DOUBLE) * ${u("sxx")} - ${u("sx")} * ${u("sx")})
       |             * (CAST(n AS DOUBLE) * ${u("syy")} - ${u("sy")} * ${u("sy")}))""", 6)}
       |   END AS corr_qty_price
       |FROM (
       |  SELECT l_returnflag, COUNT(*) AS n,
       |    ${Exact.sqlMsum("l_quantity")} AS sx,
       |    ${Exact.sqlMsum("l_extendedprice")} AS sy,
       |    ${Exact.sqlMsum("l_quantity * l_quantity")} AS sxx,
       |    ${Exact.sqlMsum("l_extendedprice * l_extendedprice")} AS syy,
       |    ${Exact.sqlMsum("l_quantity * l_extendedprice")} AS sxy
       |  FROM lineitem GROUP BY 1) t
       |ORDER BY l_returnflag""".stripMargin
  }

  // === events: structured JSON processing ==================================
  // from_json into a typed struct + get_json_object path extraction —
  // the JSON surface the reference exposes (SURVEY §1.2: JSON is Utf8 +
  // extraction functions). Aggregates the parsed field per event type.
  def eventsJsonStruct(s: SparkSession, dir: String): DataFrame = {
    val parsed = from_json(col("props"), StructType(Seq(StructField("k", LongType))))
    t(s, dir, "events")
      .withColumn("k_parsed", parsed.getField("k"))
      // try_cast, not cast (r19 review — the ev3 dirty-row discipline):
      // one non-integer k value (12.5, "abc") must yield a NULL cell,
      // not abort the statement under ANSI; from_json already nulls
      .withColumn("k_path", expr("try_cast(get_json_object(props, '$.k') AS BIGINT)"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k_parsed")).as("sum_k"),
        sum(when(col("k_parsed") === col("k_path"), 1L).otherwise(0L)).as("n_paths_agree"),
        min(col("k_parsed")).as("min_k"), max(col("k_parsed")).as("max_k"))
      .orderBy(col("event_type"))
  }

  // n_paths_agree is a REAL parsed-vs-path comparison on both engines:
  // DuckDB extracts k twice through two different mechanisms (JSON-typed
  // ->> operator vs json_extract_string path walk) and counts equality,
  // mirroring Spark's from_json-struct vs get_json_object comparison —
  // a divergence between the two extraction paths now turns the row red
  // instead of being asserted away by COUNT(*).
  val eventsJsonStructSql: String =
    """SELECT event_type, COUNT(*) AS n,
      | CAST(SUM(k_parsed) AS BIGINT) AS sum_k,
      | CAST(SUM(CASE WHEN k_parsed = k_path THEN 1 ELSE 0 END) AS BIGINT) AS n_paths_agree,
      | MIN(k_parsed) AS min_k,
      | MAX(k_parsed) AS max_k
      |FROM (SELECT event_type,
      |        TRY_CAST(TRY_CAST(props AS JSON)->>'k' AS BIGINT) AS k_parsed,
      |        TRY_CAST(json_extract_string(TRY_CAST(props AS JSON), '$.k') AS BIGINT) AS k_path
      |      FROM events) t
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // === time-series resample: zero-filled hourly grid ======================
  /** ts1: the resample/gap-fill pass — every (event_type, hour) cell of
    * the corpus's full hourly grid, INCLUDING the silent hours, with
    * event count and exact value sum (zero-filled). Downstream
    * time-series models (anomaly scoring, forecasting, the ev11 z-pass)
    * assume a dense regular grid; this operator is how the sparse event
    * stream becomes one. Shape at 100 TB: the per-cell aggregate is
    * map-side combined and its key space is the grid itself; the grid
    * is (types × hours) — bounded by the value domain and the clock,
    * not data volume — built from a broadcast one-row bounds aggregate
    * and an in-row `sequence` explode, so the gap-fill join is a join
    * of two domain-bounded sides and the dense result sorts in one
    * task.
    */
  def hourlyGrid(s: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val ev = t(s, dir, "events").select(col("event_type"),
      unix_micros(date_trunc("hour", col("ts"))).as("hour_us"), col("value"))
    // ONE events scan: bounds and the type list derive from the
    // already-aggregated calendar-bounded cells, which materialize once
    // (localCheckpoint — the lm3 lineage-truncation precedent; without
    // it each of the three consumers re-executes the scan+aggregate,
    // since exchange reuse does not fire across differently-pruned
    // aggregate subtrees — the round-11 lesson)
    val cells = ev.groupBy(col("event_type"), col("hour_us"))
      .agg(count(lit(1)).cast(LongType).as("n"), dsum(col("value")).as("v"))
      .localCheckpoint()
    val bounds = cells.agg(min(col("hour_us")).as("lo"), max(col("hour_us")).as("hi"))
    val grid = cells.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), lit(hourUs))).as("hour_us"))
    grid.join(cells, Seq("event_type", "hour_us"), "left")
      .select(col("event_type"), col("hour_us"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        coalesce(col("v"), lit(0.0)).as("value_sum"))
      .orderedSmall(col("event_type"), col("hour_us"))
  }

  val hourlyGridSql: String =
    s"""WITH ev AS (
       |  SELECT event_type,
       |    epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hour_us, value
       |  FROM events),
       |cells AS (
       |  SELECT event_type, hour_us, CAST(COUNT(*) AS BIGINT) AS n,
       |         ${sqlDsum("value")} AS v
       |  FROM ev GROUP BY 1, 2),
       |b AS (SELECT MIN(hour_us) AS lo, MAX(hour_us) AS hi FROM ev),
       |grid AS (
       |  SELECT event_type, UNNEST(generate_series(lo, hi, 3600000000)) AS hour_us
       |  FROM (SELECT DISTINCT event_type FROM ev) CROSS JOIN b)
       |SELECT grid.event_type, grid.hour_us,
       |       COALESCE(n, 0) AS n_events, COALESCE(v, 0.0) AS value_sum
       |FROM grid LEFT JOIN cells
       |  ON grid.event_type = cells.event_type AND grid.hour_us = cells.hour_us
       |ORDER BY grid.event_type, grid.hour_us""".stripMargin

  // === range-partition planner: exact split boundaries ====================
  /** rng1: the range-partition planner — the exact split boundaries a
    * distributed sort or a date-range-partitioned table layout needs.
    * For B=16 target partitions over orders sorted by o_orderdate, emit
    * each internal boundary: the first date whose cumulative row count
    * reaches ceil(i·n/B), plus that cumulative count (the actual rows
    * captured below the cut — the planner's skew diagnostic, since a
    * heavy date makes buckets uneven). Spark itself SAMPLES for this
    * (RangePartitioner); this is the exact tier a layout decision can
    * afford on a bounded-domain sort key. Shape at 100 TB: per-date
    * counts are map-side combined into a date-domain-bounded table
    * (~2.4k rows at ANY scale factor); the running sum and the
    * boundary argmin run over that bounded table (one task), and the
    * quantile targets use pure integer arithmetic (i·n + B−1) div B —
    * no float division, so both engines pick identical cuts.
    */
  def rangeBounds(s: SparkSession, dir: String, buckets: Int = 16): DataFrame = {
    val dc = t(s, dir, "orders").groupBy(col("o_orderdate").as("d"))
      .agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("d")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = dc.coalesce(1).withColumn("cum", sum(col("c")).over(w))
    val tot = dc.agg(sum(col("c")).cast(LongType).as("n"))
    val is = tot.select(col("n"), explode(sequence(lit(1), lit(buckets - 1))).as("i"))
    cum.crossJoin(broadcast(is))
      .filter(col("cum") >= expr(s"(i * n + ${buckets - 1}) div $buckets"))
      .groupBy(col("i").cast(IntegerType).as("bucket"))
      .agg(min(col("d")).as("boundary_date"), min(col("cum")).cast(LongType).as("rows_below"))
      .orderedSmall(col("bucket"))
  }

  def rangeBoundsSql(buckets: Int = 16): String =
    s"""WITH dc AS (SELECT o_orderdate AS d, COUNT(*) AS c FROM orders GROUP BY 1),
       |cum AS (SELECT d, SUM(c) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
       |                               AND CURRENT ROW) AS cum FROM dc),
       |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM dc),
       |i AS (SELECT n, UNNEST(generate_series(1, ${buckets - 1})) AS i FROM tot)
       |SELECT CAST(i AS INTEGER) AS bucket, MIN(d) AS boundary_date,
       |       CAST(MIN(cum) AS BIGINT) AS rows_below
       |FROM cum CROSS JOIN i
       |WHERE cum >= (i * n + ${buckets - 1}) // $buckets
       |GROUP BY 1 ORDER BY bucket""".stripMargin

  // === behavioral paths: top 3-step event sequences ========================
  /** seq1: the top-20 most frequent 3-step event-type paths across all
    * user timelines — the sequential-pattern pass behind funnel
    * discovery and next-event models (ev7 checks ONE ordered funnel;
    * this ranks ALL observed length-3 paths). Each user's timeline is
    * ordered by (ts, event_id) and every consecutive triple counts
    * once. Shape at 100 TB: one user_id shuffle for the sequence
    * window (per-user state bounded, timelines never collected), the
    * path count is a map-side-combinable aggregate over a key space
    * bounded by |event_type|^3, and the final top-k is TakeOrdered —
    * never a global sort. Ties rank by path lexicographically, so both
    * engines emit one deterministic list.
    */
  def eventPaths(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("step1"))
      .withColumn("step2", lead(col("step1"), 1).over(w))
      .withColumn("step3", lead(col("step1"), 2).over(w))
      .filter(col("step3").isNotNull)
      .groupBy(col("step1"), col("step2"), col("step3"))
      .agg(count(lit(1)).cast(LongType).as("n_paths"))
      .orderBy(col("n_paths").desc, col("step1"), col("step2"), col("step3"))
      .limit(k)
  }

  def eventPathsSql(k: Int = 20): String =
    s"""WITH seq AS (
       |  SELECT event_type AS step1,
       |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step2,
       |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step3
       |  FROM events)
       |SELECT step1, step2, step3, CAST(COUNT(*) AS BIGINT) AS n_paths
       |FROM seq WHERE step3 IS NOT NULL
       |GROUP BY 1, 2, 3
       |ORDER BY n_paths DESC, step1, step2, step3 LIMIT $k""".stripMargin

  // === engagement: daily + trailing-7-day active users =====================
  /** ev15: the DAU/WAU engagement table — for every calendar day with
    * events, the count of distinct users active that day and the count
    * active in the trailing 7-day window ending that day, plus their
    * ratio (the standard stickiness metric). COUNT(DISTINCT) over a
    * sliding window isn't window-expressible in either engine, so the
    * trailing set is built by contribution: each DISTINCT (user, day)
    * pair is exploded to the 7 observation days it keeps the user
    * active for, re-distinct-ed, and counted. Shape at 100 TB: the
    * (user, day) distinct is one map-side-combinable shuffle whose key
    * space is users × days (already far below raw event volume); the
    * 7× explode multiplies that bounded set, not the event stream; and
    * the final grid is day-domain-bounded, so it sorts in one task.
    * The ratio divides two exact integers in one IEEE op.
    */
  def dauWau(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    // DAU and WAU from ONE scan: each distinct (user, day) pair spreads
    // to its 7 observation days tagged with whether the observation IS
    // the active day; per (obs day, user) the tag ORs together, and the
    // day-level count/conditional-count read both metrics off the same
    // rows (separate dau/wau aggregates over a shared `du` re-ran the
    // events distinct per consumer — the round-11 plan-audit lesson).
    // Days with activity only in their trailing window (wau>0, dau=0)
    // are dropped to keep the grid = the observed-day domain.
    val du = t(s, dir, "events")
      .select((floor(unix_micros(col("ts")).cast(DoubleType) / dayUs)).cast(LongType).as("day"),
        col("user_id"))
      .distinct()
    du.select(col("day").as("active_day"), col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("day"))
      .groupBy(col("day"), col("user_id"))
      .agg(max(col("active_day") === col("day")).as("active_today"))
      .groupBy(col("day"))
      .agg(count(when(col("active_today"), 1)).cast(LongType).as("dau"),
        count(lit(1)).cast(LongType).as("wau"))
      .filter(col("dau") > 0)
      .select(col("day"), col("dau"), col("wau"),
        (col("dau").cast(DoubleType) / col("wau").cast(DoubleType)).as("stickiness"))
      .orderedSmall(col("day"))
  }

  val dauWauSql: String =
    """WITH du AS (
      |  SELECT DISTINCT CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000.0)
      |                       AS BIGINT) AS day, user_id
      |  FROM events),
      |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY day),
      |spread AS (
      |  SELECT DISTINCT UNNEST(generate_series(day, day + 6)) AS day, user_id FROM du),
      |wau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS wau FROM spread GROUP BY day)
      |SELECT day, dau, wau, CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
      |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin

  // === load profile: hour-of-day × day-of-week activity matrix ============
  /** ev16: the weekly activity heat-map — event count, exact value sum
    * and distinct actives for every (day-of-week, hour-of-day) cell.
    * The capacity-planning / anomaly-baseline profile (ev11 scores
    * against per-hour history; this is the seasonal template it
    * normalizes by). Engine parity: both coordinates are PURE integer
    * arithmetic on epoch micros — day-of-week via (epoch_day + 4) mod 7
    * (1970-01-01 was a Thursday; 0 = Sunday) — because the engines'
    * dayofweek() builtins disagree on numbering conventions. Shape at
    * 100 TB: one map-side-combinable aggregate whose key space is the
    * fixed 168-cell grid; distinct actives add one (cell, user)
    * pre-aggregation shuffle; the result sorts in one task.
    */
  def activityProfile(s: SparkSession, dir: String): DataFrame = {
    val us = unix_micros(col("ts"))
    val dayUs = 86400000000L
    val hourUs = 3600000000L
    t(s, dir, "events")
      .select(
        ((floor(us.cast(DoubleType) / dayUs).cast(LongType) + 4) % 7).as("dow"),
        (floor(us.cast(DoubleType) / hourUs).cast(LongType) % 24).as("hour"),
        col("user_id"), col("value"))
      .groupBy(col("dow"), col("hour"))
      .agg(count(lit(1)).cast(LongType).as("n_events"),
        countDistinct(col("user_id")).cast(LongType).as("n_users"),
        dsum(col("value")).as("value_sum"))
      .orderedSmall(col("dow"), col("hour"))
  }

  val activityProfileSql: String =
    s"""WITH ev AS (
       |  SELECT
       |    (CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000.0) AS BIGINT) + 4) % 7
       |      AS dow,
       |    CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000.0) AS BIGINT) % 24
       |      AS hour,
       |    user_id, value
       |  FROM events)
       |SELECT dow, hour, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       |  ${sqlDsum("value")} AS value_sum
       |FROM ev GROUP BY dow, hour ORDER BY dow, hour""".stripMargin

  // === event-type affinity =================================================
  /** ev18: pairwise event-type affinity — for every type pair, how many
    * users perform both, with the Jaccard over user sets (the
    * feature-cooccurrence table behind "users who X also Y" analyses
    * and funnel hypothesis generation). Shape at 100 TB: the
    * (user, type) distinct is one map-side-combinable shuffle bounded
    * by users × |types|; per-type user counts ride along as a window
    * over those rows (the round-11 single-pass discipline); the pair
    * join is an inverted index on user_id — each user contributes
    * |their types|² pairs, bounded by the type domain, never a corpus
    * cross product; the result is |types|²-bounded and sorts in one
    * task. The Jaccard is one IEEE division of exact integers.
    */
  def typeAffinity(s: SparkSession, dir: String): DataFrame = {
    val du = t(s, dir, "events").select(col("user_id"), col("event_type")).distinct()
      .withColumn("n_users",
        count(lit(1)).over(Window.partitionBy(col("event_type"))))
    du.select(col("user_id"), col("event_type").as("type_a"), col("n_users").as("n_users_a"))
      .join(du.select(col("user_id"), col("event_type").as("type_b"),
        col("n_users").as("n_users_b")), Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(max(col("n_users_a")).cast(LongType).as("n_users_a"),
        max(col("n_users_b")).cast(LongType).as("n_users_b"),
        count(lit(1)).cast(LongType).as("n_both"))
      .select(col("type_a"), col("type_b"), col("n_users_a"), col("n_users_b"),
        col("n_both"),
        (col("n_both").cast(DoubleType)
          / (col("n_users_a") + col("n_users_b") - col("n_both")).cast(DoubleType))
          .as("jaccard"))
      .orderedSmall(col("type_a"), col("type_b"))
  }

  val typeAffinitySql: String =
    """WITH du AS (
      |  SELECT user_id, event_type,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n_users
      |  FROM (SELECT DISTINCT user_id, event_type FROM events)),
      |p AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    CAST(MAX(a.n_users) AS BIGINT) AS n_users_a,
      |    CAST(MAX(b.n_users) AS BIGINT) AS n_users_b,
      |    CAST(COUNT(*) AS BIGINT) AS n_both
      |  FROM du a JOIN du b ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, n_users_a, n_users_b, n_both,
      |  CAST(n_both AS DOUBLE) / CAST(n_users_a + n_users_b - n_both AS DOUBLE)
      |    AS jaccard
      |FROM p ORDER BY type_a, type_b""".stripMargin

  // === referential-integrity audit ========================================
  /** dq1: the data-quality audit a lakehouse runs before publishing a
    * snapshot — violation counts for the key constraints the TPC-H
    * schema implies: orphaned foreign keys (anti joins on the key),
    * null keys, duplicate primary keys, and value-domain checks.
    * Every check is one column-pruned pass over its table (the anti
    * joins shuffle only key columns; the PK check is a map-side-
    * combinable count-by-key); the result is check-domain-bounded.
    * All-zero on the generated data BY CONSTRUCTION — the operator
    * exists to detect when that stops being true.
    */
  /** dq3: Benford first-digit audit of o_totalprice — the fraud/data-
    * quality screen for naturally-occurring amounts (Benford 1938,
    * Nigrini's audit practice): observed leading-digit frequencies vs
    * log10(1 + 1/d), with each digit's squared standardized deviation
    * (the chi-square contribution). The leading digit is taken from
    * the EXACT micros integer's decimal string — a log10()/pow() digit
    * extraction would hand the verdict to libm, and double→VARCHAR
    * formatting differs across engines; an integer's string does not.
    * Expected frequencies are Scala-computed constants inlined
    * literally into both plans. Shape at 100 TB: one map-side-combined
    * 9-group aggregate over a column-pruned scan.
    */
  def benfordAudit(s: SparkSession, dir: String): DataFrame = {
    val expected = (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d)).toMap
    val expCol = (1 to 9).foldLeft(lit(0.0)) { case (acc, d) =>
      when(col("digit") === d, lit(expected(d))).otherwise(acc)
    }
    val wAll = Window.partitionBy()
    // filter on the MICROS integer, not the raw price (r19 review: a
    // price in (0, 5e-7) passes `> 0` but rounds to micros 0, whose
    // leading digit '0' has NO Benford expectation — Spark's foldLeft
    // default read 0.0 and divided by it while the oracle's CASE
    // returned NULL; sub-micro magnitudes simply have no leading digit)
    val base = t(s, dir, "orders")
      .filter(Exact.micros(col("o_totalprice")) > 0)
      .select(substring(Exact.micros(col("o_totalprice")).cast(StringType), 1, 1)
        .cast(IntegerType).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .withColumn("total", sum(col("n")).over(wAll))
    val obs = col("n").cast(DoubleType) / col("total").cast(DoubleType)
    base
      .withColumn("expected_frac", expCol)
      .select(col("digit"), col("n").cast(LongType).as("n"),
        Exact.dround(obs, 9).as("observed_frac"),
        Exact.dround(col("expected_frac"), 9).as("expected_frac"),
        Exact.dround((obs - col("expected_frac")) * (obs - col("expected_frac"))
          / col("expected_frac") * col("total").cast(DoubleType), 6).as("chi2_term"))
      .orderedSmall(col("digit"))
  }

  val benfordAuditSql: String = {
    // string->double (fast_float) is DuckDB's one correctly-rounded
    // route to the exact JVM double (the sqlToUnits argument); a bare
    // decimal literal would land as DECIMAL and convert unpredictably
    val expCase = (1 to 9).map(d =>
      s"WHEN $d THEN CAST('${math.log10(1.0 + 1.0 / d)}' AS DOUBLE)").mkString(" ")
    s"""WITH b AS (
       |  SELECT CAST(substring(CAST(${Exact.sqlMicros("o_totalprice")} AS VARCHAR), 1, 1)
       |    AS INTEGER) AS digit
       |  FROM orders WHERE ${Exact.sqlMicros("o_totalprice")} > 0),
       |c AS (SELECT digit, COUNT(*) AS n FROM b GROUP BY digit),
       |tt AS (SELECT digit, n, SUM(n) OVER () AS total FROM c),
       |e AS (SELECT digit, n, total,
       |  CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS obs,
       |  CASE digit $expCase END AS exp_frac FROM tt)
       |SELECT digit, CAST(n AS BIGINT) AS n,
       |  ${Exact.sqlDround("obs", 9)} AS observed_frac,
       |  ${Exact.sqlDround("exp_frac", 9)} AS expected_frac,
       |  ${Exact.sqlDround("((obs - exp_frac) * (obs - exp_frac) / exp_frac * CAST(total AS DOUBLE))", 6)}
       |    AS chi2_term
       |FROM e ORDER BY digit""".stripMargin
  }

  def integrityAudit(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val lineitem = t(s, dir, "lineitem")
    val customer = t(s, dir, "customer")
    val part = t(s, dir, "part")
    // ONE lazy plan: each check is a count aggregate branch and the
    // union is check-domain-bounded — no driver-side execution at
    // build time
    def one(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).cast(LongType).as("n_violations"))
        .select(lit(name).as("check_name"), col("n_violations"))
    val checks = Seq(
      one("orders_orphan_customer",
        orders.join(customer, orders("o_custkey") === customer("c_custkey"), "left_anti")),
      one("lineitem_orphan_order",
        lineitem.join(orders, lineitem("l_orderkey") === orders("o_orderkey"), "left_anti")),
      one("lineitem_orphan_part",
        lineitem.join(part, lineitem("l_partkey") === part("p_partkey"), "left_anti")),
      one("orders_null_key", orders.filter(col("o_orderkey").isNull)),
      one("part_duplicate_pk",
        part.groupBy(col("p_partkey")).agg(count(lit(1)).as("n"))
          .filter(col("n") > 1)),
      one("lineitem_negative_price", lineitem.filter(col("l_extendedprice") < 0)),
      one("lineitem_qty_out_of_range",
        lineitem.filter(col("l_quantity") < 1 || col("l_quantity") > 50)))
    checks.reduce(_ unionAll _)
      .select(col("check_name"), col("n_violations").cast(LongType))
      .orderedSmall(col("check_name"))
  }

  val integrityAuditSql: String =
    """SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations FROM (
      |  SELECT 'orders_orphan_customer' AS check_name,
      |    (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
      |      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS n_violations
      |  UNION ALL SELECT 'lineitem_orphan_order',
      |    (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
      |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
      |  UNION ALL SELECT 'lineitem_orphan_part',
      |    (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
      |      (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
      |  UNION ALL SELECT 'orders_null_key',
      |    (SELECT COUNT(*) FROM orders WHERE o_orderkey IS NULL)
      |  UNION ALL SELECT 'part_duplicate_pk',
      |    (SELECT COUNT(*) FROM (SELECT p_partkey FROM part GROUP BY p_partkey
      |                           HAVING COUNT(*) > 1))
      |  UNION ALL SELECT 'lineitem_negative_price',
      |    (SELECT COUNT(*) FROM lineitem WHERE l_extendedprice < 0)
      |  UNION ALL SELECT 'lineitem_qty_out_of_range',
      |    (SELECT COUNT(*) FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50))
      |ORDER BY check_name""".stripMargin

  // === per-type value trend (OLS over time) ===============================
  /** reg1: ordinary-least-squares trend of `value` against time, per
    * event type — slope (units/hour) and intercept from ONE
    * map-side-combinable moment pass (n, Σx, Σy, Σxy, Σx²), the
    * prof2/cov1 moment discipline applied to regression. x is integer
    * hours since the corpus's first hour (a broadcast scalar; shifting
    * keeps every product far inside 64 bits), y is integer value
    * micros; the moments sum as DECIMAL(38,0) (overflow-safe at any
    * scale), convert once to double (correctly rounded, both engines),
    * and the closed form runs the identical IEEE sequence on both
    * engines, rounded once to 6 decimals. Degenerate types (one
    * distinct hour) report slope 0 with intercept = mean.
    */
  def valueTrend(s: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600000000L
    val ev = t(s, dir, "events")
      .select(col("event_type"),
        floor(unix_micros(col("ts")).cast(DoubleType) / hourUs).cast(LongType).as("h"),
        col("value"))
    val h0 = ev.agg(min(col("h")).as("h0"))
    val m = ev.crossJoin(broadcast(h0))
      .select(col("event_type"), (col("h") - col("h0")).as("x"),
        micros(col("value")).as("ym"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast(LongType).as("n"),
        sum(col("x").cast(Exact.D380)).as("sx"),
        sum(col("ym").cast(Exact.D380)).as("sy"),
        // widen BEFORE multiplying (the oracle multiplies HUGEINTs): a
        // 64-bit x*ym product overflows at ~1e9-unit values * ~1e4-hour
        // spans — ANSI throws, non-ANSI silently wraps
        sum(col("x").cast(Exact.D380) * col("ym").cast(Exact.D380)).as("sxy"),
        sum(col("x").cast(Exact.D380) * col("x").cast(Exact.D380)).as("sxx"))
    val nD = col("n").cast(DoubleType)
    val sxD = col("sx").cast(DoubleType)
    val syD = col("sy").cast(DoubleType)
    val sxyD = col("sxy").cast(DoubleType)
    val sxxD = col("sxx").cast(DoubleType)
    val den = nD * sxxD - sxD * sxD
    val slope = (nD * sxyD - sxD * syD) / den / lit(1000000.0)
    val mean = syD / nD / lit(1000000.0)
    m.select(col("event_type"), col("n"),
        when(col("n") > 1 && den =!= 0.0, Exact.dround(slope, 6))
          .otherwise(lit(0.0)).as("slope_per_hour"),
        when(col("n") > 1 && den =!= 0.0,
          Exact.dround(mean - slope * (sxD / nD), 6))
          .otherwise(Exact.dround(mean, 6)).as("intercept"))
      .orderedSmall(col("event_type"))
  }

  val valueTrendSql: String = {
    def d(e: String) = s"CAST(CAST($e AS VARCHAR) AS DOUBLE)"
    val sxD = d("sx"); val syD = d("sy"); val sxyD = d("sxy"); val sxxD = d("sxx")
    val nD = "CAST(n AS DOUBLE)"
    val den = s"($nD * $sxxD - $sxD * $sxD)"
    val slope = s"(($nD * $sxyD - $sxD * $syD) / $den / 1000000.0)"
    val mean = s"($syD / $nD / 1000000.0)"
    s"""WITH h0 AS (
       |  SELECT MIN(CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000.0) AS BIGINT))
       |    AS h0 FROM events),
       |ev AS (
       |  SELECT event_type,
       |    CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000.0) AS BIGINT) - h0 AS x,
       |    ${Exact.sqlMicros("value")} AS ym
       |  FROM events CROSS JOIN h0),
       |m AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(ym AS HUGEINT)) AS sy,
       |    SUM(CAST(x AS HUGEINT) * CAST(ym AS HUGEINT)) AS sxy,
       |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
       |  FROM ev GROUP BY 1)
       |SELECT event_type, n,
       |  CASE WHEN n > 1 AND $den <> 0.0 THEN ${Exact.sqlDround(slope, 6)}
       |       ELSE 0.0 END AS slope_per_hour,
       |  CASE WHEN n > 1 AND $den <> 0.0
       |       THEN ${Exact.sqlDround(s"($mean - $slope * ($sxD / $nD))", 6)}
       |       ELSE ${Exact.sqlDround(mean, 6)} END AS intercept
       |FROM m ORDER BY event_type""".stripMargin
  }

  // === last-touch attribution =============================================
  /** ev19: last-touch attribution — every purchase attributed to the
    * user's most recent preceding `view` event (the marketing-analytics
    * primitive behind conversion credit; ev4/ev14 are the cross-table
    * as-of joins, this is the within-timeline variant). One user_id
    * sequence window: a running last-non-null over view ids/timestamps
    * attributes in a single pass — no self-join, no per-user event
    * collection, skew-bounded per-user state. Unattributed purchases
    * (no prior view) report a null source and -1 gap; the gap is exact
    * integer micros.
    */
  def lastTouchAttribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("last_view_id",
        last(when(col("event_type") === "view", col("event_id")), ignoreNulls = true).over(w))
      .withColumn("last_view_us",
        last(when(col("event_type") === "view", col("us")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("last_view_id").cast(LongType).as("attributed_view_id"),
        coalesce(col("us") - col("last_view_us"), lit(-1L)).cast(LongType)
          .as("gap_us"))
      .orderBy(col("purchase_id"))
  }

  val lastTouchAttributionSql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, ts
      |  FROM events),
      |att AS (
      |  SELECT event_id, user_id, event_type, us,
      |    last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY us, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_id,
      |    last_value(CASE WHEN event_type = 'view' THEN us END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY us, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_us
      |  FROM ev)
      |SELECT event_id AS purchase_id, user_id,
      |  CAST(last_view_id AS BIGINT) AS attributed_view_id,
      |  CAST(COALESCE(us - last_view_us, -1) AS BIGINT) AS gap_us
      |FROM att WHERE event_type = 'purchase'
      |ORDER BY purchase_id""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("ev19_attribution", lastTouchAttribution _, lastTouchAttributionSql),
    Op("reg1_value_trend", valueTrend _, valueTrendSql),
    Op("ev18_type_affinity", typeAffinity _, typeAffinitySql),
    Op("dq1_integrity_audit", integrityAudit _, integrityAuditSql),
    Op("dq3_benford_audit", benfordAudit _, benfordAuditSql),
    Op("ev16_activity_profile", activityProfile _, activityProfileSql),
    Op("seq1_event_paths", eventPaths(_, _), eventPathsSql()),
    Op("ev15_dau_wau", dauWau _, dauWauSql),
    Op("ts1_hourly_grid", hourlyGrid _, hourlyGridSql),
    Op("rng1_range_bounds", rangeBounds(_, _), rangeBoundsSql()),
    Op("ev6_json_struct", eventsJsonStruct _, eventsJsonStructSql),
    Op("w3_ranking_battery", windowRanks _, windowRanksSql),
    Op("stat2_exact_correlation", exactCorrelation _, exactCorrelationSql),
    Op("w1_customer_running_total", windowOrders _, windowOrdersSql),
    Op("w2_event_sessions", eventSessions _, eventSessionsSql),
    Op("set1_nation_setops", setOps _, setOpsSql),
    Op("agg1_rollup_orders", rollupOrders _, rollupOrdersSql),
    Op("f1_scalar_strings", scalarStrings _, scalarStringsSql),
    Op("f2_scalar_dates", scalarDates _, scalarDatesSql),
    Op("ev1_hourly_windows", eventsHourly _, eventsHourlySql),
    Op("ev2_top_purchasers", eventsTopUsers _, eventsTopUsersSql),
    Op("ev7_funnel_stages", eventFunnel _, eventFunnelSql),
    Op("ev8_cohort_retention", cohortRetention _, cohortRetentionSql),
    Op("ev9_trailing_spend", trailingSpend _, trailingSpendSql),
    Op("ev10_event_transitions", eventTransitions _, eventTransitionsSql),
    Op("ev11_hourly_anomalies", eventAnomalies _, eventAnomaliesSql),
    Op("prof1_table_profile", tableProfile _, tableProfileSql),
    Op("prof2_corr_matrix", corrMatrix _, corrMatrixSql),
    Op("ev12_interarrival", interArrival _, interArrivalSql),
    Op("ev13_user_rfm", userRfm _, userRfmSql),
    Op("ev3_json_extract", eventsJson _, eventsJsonSql))
}
