package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Par.BoundedOrder

/** Second relational battery: the TPC-H families not yet covered by
  * Tpch.scala (market-share CASE ratio, shipmode-style classification,
  * min-cost supplier lookup, threshold semi-join chain, value-fraction
  * scalar subquery — Q8/Q12/Q2/Q20/Q11 shapes adapted to the testdata
  * schema, which has no partsupp), plus CUBE / GROUPING SETS, pivot,
  * exact percentiles, array functions, and exact-algebra variance.
  *
  * Reference contract: these SQL shapes flow through the reference's
  * passthrough surface (SURVEY §2.B; TPC-H pinning at
  * tests/benchbase/tpch-flight-sql.xml:26). Everything here is expressed
  * with the DataFrame API so Catalyst owns pushdown/broadcast decisions.
  *
  * Scale notes (100 TB): q8/q12/q20 shuffle once on their group keys with
  * map-side partial aggregation; q2's min-per-part is a self-aggregation
  * join that co-partitions on l_partkey (no extra shuffle after AQE);
  * pivot compiles to one hash aggregate with CASE projections (no
  * per-value scans); exact percentiles require a sort within group —
  * bounded by group cardinality (3 return flags), not data size.
  */
object Advanced {

  // Bit-portable fractional aggregates (Exact.scala): micros-encoded exact
  // sums emitted as IEEE doubles by the identical operation sequence on
  // both engines — value- and representation-identical in the driver's
  // pandas compare.
  private def dsum(c: Column): Column = Exact.dsum(c)
  private def sqlDsum(e: String): String = Exact.sqlDsum(e)
  private def ts(d: String): Column = to_timestamp(lit(d))

  private def rev: Column = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  // === Q8 shape: market share of one supplier nation within a region =======
  def q8(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1998-01-01"))
    val l = t(s, dir, "lineitem")
    val su = t(s, dir, "supplier")
    val nCust = broadcast(t(s, dir, "nation")
      .select(col("n_nationkey").as("cn_key"), col("n_regionkey").as("cn_region")))
    val nSupp = broadcast(t(s, dir, "nation")
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")))
    val r = broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(nCust, col("c_nationkey") === col("cn_key"))
      .join(r, col("cn_region") === col("r_regionkey"))
      .join(su, col("l_suppkey") === col("s_suppkey"))
      .join(nSupp, col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      // ratio of two bit-portable exact-sum doubles: one division on each
      // engine over bit-identical operands
      .agg((dsum(when(col("supp_nation") === "NATION_2", rev).otherwise(lit(0.0))) /
        dsum(rev)).as("mkt_share"))
      // two-row fixed-domain result: one-task sort, no range exchange
      .orderedSmall(col("o_year"))
  }

  val q8Sql: String =
    s"""SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
       | (${sqlDsum("CASE WHEN n2.n_name = 'NATION_2' THEN l_extendedprice*(1-l_discount) ELSE 0.0 END")}
       |      / ${sqlDsum("l_extendedprice*(1-l_discount)")})
       |   AS mkt_share
      |FROM lineitem, orders, customer, supplier, nation n1, region, nation n2
      |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey AND c_nationkey = n1.n_nationkey
      | AND n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
      | AND l_suppkey = s_suppkey AND s_nationkey = n2.n_nationkey
      | AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // === Q12 shape: late-shipment priority classification ====================
  def q12(s: SparkSession, dir: String): DataFrame = {
    // implied scan bound: the join condition needs o_orderdate <
    // l_shipdate - 60d, and l_shipdate < 1997-01-01, so only orders
    // before 1996-11-02 can qualify — pushed to the orders scan, which
    // Catalyst cannot derive across tables itself (the q4 trick)
    val o = t(s, dir, "orders").filter(col("o_orderdate") < ts("1996-11-02"))
    val l = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1997-01-01"))
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("l_linestatus"))
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
      // two-row fixed-domain result: one-task sort, no range exchange
      .orderedSmall(col("l_linestatus"))
  }

  val q12Sql: String =
    """SELECT l_linestatus,
      | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      | CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem, orders
      |WHERE l_orderkey = o_orderkey
      | AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      | AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  // === Q2 shape: min-unit-price supplier per part ==========================
  // No partsupp in the testdata; supply cost := min observed unit price
  // (l_extendedprice / l_quantity) per (part, supplier). Correlated-min
  // subquery expressed as a self-aggregation join, the decorrelation
  // Catalyst would produce for the SQL form.
  def q2(s: SparkSession, dir: String): DataFrame = {
    // ONE broadcast of the filtered part set: the inner join both prunes
    // lineitem (~40x, the hash reaches the scan as a runtime filter) AND
    // carries p_name through, so the old shape's second part join — a
    // second broadcast build per execution — disappears. partkey is
    // unique in part, so the 1:N join duplicates nothing.
    val p = t(s, dir, "part")
      .filter(col("p_type") === "STANDARD" && col("p_size") <= 10)
      .select(col("p_partkey"), col("p_name"))
    val l = t(s, dir, "lineitem")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
    // ONE shuffle for the whole min-per-part computation: partition the
    // pruned lineitem by p_partkey once; hash-partitioning on a subset of
    // the grouping keys satisfies the aggregate's ClusteredDistribution
    // (p_name is functionally dependent on p_partkey), and the
    // min-over-partkey window reuses the same partitioning. The
    // previous shape (groupBy + min-per-part self-join) paid 4 exchanges
    // — two aggregates plus both sides of the (partkey, price) join.
    val unit = l.repartition(col("p_partkey"))
      .groupBy(col("p_partkey"), col("p_name"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_price"))
    val minW = org.apache.spark.sql.expressions.Window.partitionBy(col("p_partkey"))
    val best = unit.withColumn("min_price", min(col("unit_price")).over(minW))
      .filter(col("unit_price") === col("min_price"))
    val su = t(s, dir, "supplier")
    val n = broadcast(t(s, dir, "nation"))
    q2Sorted(s, dir, best
      .join(su, col("l_suppkey") === col("s_suppkey"))
      .join(n, col("s_nationkey") === col("n_nationkey"))
      // raw IEEE double out: both engines compute the identical division,
      // while round-to-4 can straddle a half-way boundary differently
      .select(col("p_partkey"), col("p_name"), col("s_name"), col("n_name"), col("unit_price")))
  }

  /** q2 result sort, scale-switched like q16's supplier plan: the
    * surviving part set is filter-PROPORTIONAL (a fixed fraction of
    * part), so a one-task sort is only safe while the part table is
    * broadcast-small — there it skips the range exchange's per-execution
    * SAMPLING JOB (bench 0.19 vs ~0.57 s warm with the range sort). At
    * cluster scale the same stats check routes to a distributed range
    * sort, honoring BoundedOrder's value-domain-bounded contract.
    */
  private def q2Sorted(s: SparkSession, dir: String, result: DataFrame): DataFrame = {
    val smallPart = t(s, dir, "part")
      .queryExecution.optimizedPlan.stats.sizeInBytes <= (64L << 20)
    if (smallPart) result.orderedSmall(col("p_partkey"), col("s_name"))
    else result.orderBy(col("p_partkey"), col("s_name"))
  }

  val q2Sql: String =
    """WITH unit AS (
      |  SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS unit_price
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT p_partkey, p_name, s_name, n_name, unit_price
      |FROM unit, part, supplier, nation
      |WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      | AND p_type = 'STANDARD' AND p_size <= 10
      | AND unit_price = (SELECT MIN(u2.unit_price) FROM unit u2 WHERE u2.l_partkey = unit.l_partkey)
      |ORDER BY p_partkey, s_name""".stripMargin

  // === Q20 shape: threshold semi-join chain ================================
  // Suppliers that moved more than 300 units of PROMO parts in 1996,
  // joined back to supplier/nation — the Q20 EXISTS-chain as a
  // groupBy->filter->semi-join pipeline.
  def q20(s: SparkSession, dir: String): DataFrame = {
    val promoParts = t(s, dir, "part").filter(col("p_type") === "PROMO").select(col("p_partkey"))
    val l = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1997-01-01"))
    val qty = l.join(promoParts, col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_suppkey"))
      .agg(dsum(col("l_quantity")).as("promo_qty"))
      .filter(col("promo_qty") > 300)
    val su = t(s, dir, "supplier")
    val n = broadcast(t(s, dir, "nation"))
    su.join(qty, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .select(col("s_name"), col("n_name"), col("s_acctbal"))
      .orderBy(col("s_name"))
  }

  val q20Sql: String =
    s"""SELECT s_name, n_name, s_acctbal
       |FROM supplier, nation
       |WHERE s_nationkey = n_nationkey
       | AND s_suppkey IN (
       |   SELECT l_suppkey FROM lineitem
       |   WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
       |    AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
       |   GROUP BY l_suppkey
       |   HAVING ${sqlDsum("l_quantity")} > 300)
       |ORDER BY s_name""".stripMargin

  // === Q11 shape: value-fraction scalar subquery ===========================
  // Suppliers whose revenue exceeds 2% of total revenue — the Q11 HAVING
  // (> fraction of a global scalar) pattern; the scalar side is a broadcast.
  def q11(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    // keep the EXACT integer-micros decimal per supplier (dsum's
    // internals, pre-division, via the SHARED Exact.msumSplit): the
    // global total below must be a decimal window sum — a double
    // window-sum of the per-supplier dsum outputs would accumulate in
    // shuffle order and differ from the oracle's scalar by ulps
    val perSupp = l.groupBy(col("l_suppkey"))
      .agg(Exact.msumSplit(rev).as("rev_m"))
      .select(col("l_suppkey"), col("rev_m"),
        Exact.toUnits(col("rev_m")).as("supp_revenue"))
    // Threshold = 1.05x the MEAN supplier revenue (the "at least 5%
    // above average" tail) — scale-free. Two fixes
    // over the first draft's "2% of total" (which, like real TPC-H Q11,
    // needs an SF-scaled fraction; unscaled it returned ZERO rows at
    // every SF because no supplier holds 2% of a uniform corpus):
    //  * the global revenue needs no suppkey exchange — sum of
    //    per-supplier dsums == the ungrouped dsum exactly (integer
    //    micros are associative), so the second lineitem pass is
    //    map-side partials -> one row (ReuseExchange measurably does
    //    NOT fire across the agg-over-agg asymmetry, so the old shape
    //    paid the suppkey shuffle twice);
    //  * the supplier count comes from the dimension table, one
    //    broadcast-scan.
    val su = t(s, dir, "supplier")
    // ONE lineitem scan (r12): the global revenue is the window sum of
    // the per-supplier dsums (exactly equal to the ungrouped dsum —
    // integer micros are associative), carried by an unpartitioned
    // window over the SUPPLIER-BOUNDED aggregate, so the second
    // lineitem pass the agg-over-agg shape paid is gone entirely.
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val nSupp = su.agg(count(lit(1)).as("n_supp"))
    perSupp
      // DECIMAL(38,0) micros sum: exact and order-independent, equal to
      // the oracle's ungrouped dsum by associativity; ONE toUnits
      // conversion afterwards mirrors the oracle's scalar exactly
      .withColumn("total_rev", Exact.toUnits(sum(col("rev_m")).over(wAll)))
      .crossJoin(broadcast(nSupp))
      .filter(col("supp_revenue") >
        col("total_rev") * lit(1.05) / col("n_supp").cast(DoubleType))
      .join(su, col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("supp_revenue"))
      // the above-mean tail is supplier-bounded but not constant-bounded,
      // so the output sort keeps its range exchange (no coalesce(1))
      .orderBy(col("supp_revenue").desc, col("s_suppkey"))
  }

  val q11Sql: String =
    s"""WITH per_supp AS (
       |  SELECT l_suppkey, ${sqlDsum("l_extendedprice*(1-l_discount)")} AS supp_revenue
       |  FROM lineitem GROUP BY 1)
       |SELECT s_suppkey, s_name, supp_revenue
       |FROM per_supp, supplier
       |WHERE l_suppkey = s_suppkey
       | AND supp_revenue >
       |   (SELECT ${sqlDsum("l_extendedprice*(1-l_discount)")} FROM lineitem)
       |     * 1.05 / CAST((SELECT COUNT(*) FROM supplier) AS DOUBLE)
       |ORDER BY supp_revenue DESC, s_suppkey""".stripMargin

  // === CUBE ================================================================
  def cubeOrders(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
  }

  val cubeOrdersSql: String =
    s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       | ${sqlDsum("o_totalprice")} AS total
       |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
       |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  // === GROUPING SETS =======================================================
  def groupingSetsOrders(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
  }

  val groupingSetsOrdersSql: String =
    s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       | ${sqlDsum("o_totalprice")} AS total
       |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
       |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  // === pivot ===============================================================
  val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  def pivotSegments(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val n = broadcast(t(s, dir, "nation"))
    c.join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .pivot("c_mktsegment", segments)
      .count()
      .na.fill(0L, segments)
      .orderBy(col("n_name"))
  }

  val pivotSegmentsSql: String = {
    // CAST AS BIGINT: DuckDB widens SUM(INTEGER) to HUGEINT (-> float64 in
    // pandas) while Spark's pivot-count emits int64
    val cols = segments.map(sg =>
      s"""CAST(SUM(CASE WHEN c_mktsegment = '$sg' THEN 1 ELSE 0 END) AS BIGINT) AS "$sg"""").mkString(",\n ")
    s"""SELECT n_name, $cols
       |FROM customer, nation WHERE c_nationkey = n_nationkey
       |GROUP BY n_name ORDER BY n_name""".stripMargin
  }

  // === exact percentiles ===================================================
  // Interpolation runs over integer cents: with integer endpoints and
  // exactly-representable fractions (.25/.5/.75) both engines' linear
  // interpolation (a + f*(b-a) vs (1-f)*a + f*b) is float-exact, so the
  // results hash-match where raw-double interpolation differs in the ulp.
  //
  // Two-pass sketch-and-refine selection (no full-histogram window):
  // pass 1 aggregates a coarse bucket histogram — bucket count bounded by
  // the value DOMAIN / 4096, not by row count — and collects it to locate,
  // per percentile rank, the single bucket holding that rank plus the
  // cumulative count before it. Pass 2 re-scans with a (group, bucket)
  // semi-filter (a handful of buckets), builds the exact cents histogram
  // of ONLY those buckets (<= 4096 distinct values each), and selects the
  // flanking values as min(cents | offset + running count >= rank). The
  // previous design window-sorted the full ~200k-distinct-value histogram
  // through one task per group — the bench's slowest query and a
  // single-task-per-group sort at 100 TB; here the largest sort is
  // O(bucket width), invariant in table size.
  def pricePercentiles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = 4096L
    val cents = floor(col("l_extendedprice") * 100 + 0.5).cast(LongType)
    val li = t(s, dir, "lineitem").select(col("l_returnflag"), cents.as("cents"))
    val coarse = li.groupBy(col("l_returnflag"), expr(s"cents div $W").as("b"))
      .agg(count(lit(1)).as("c"), min(col("cents")).as("bmin"), max(col("cents")).as("bmax"))
      .collect()

    // Driver-side rank location over the collected sketch (bounded by
    // domain/W buckets per group, never by table size). Rank arithmetic
    // uses the exact op sequence the in-plan version used, so the
    // interpolation below stays bit-identical with the oracle.
    val ranksRows = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Double, Long, Double, Long, Double, Long, Long)]
    val targets = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    coarse.groupBy(_.getString(0)).foreach { case (flag, rows) =>
      // (bucket, count, bmin, bmax) ascending by bucket
      val bs = rows.map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).sortBy(_._1)
      val n = bs.map(_._2).sum
      if (n > 0) {
        def rank(p: Double): (Long, Double) = {
          val k = p * (n - 1).toDouble + 1.0 // 1-based fractional rank
          val lo = math.floor(k).toLong
          (lo, k - lo.toDouble)
        }
        val (lo25, f25) = rank(0.25); val (lo50, f50) = rank(0.5); val (lo75, f75) = rank(0.75)
        Seq(lo25, lo25 + 1, lo50, lo50 + 1, lo75, lo75 + 1)
          .filter(r => r >= 1 && r <= n).distinct.foreach { r =>
            // locate the bucket holding rank r and the cumulative count
            // of all buckets before it
            var cum = 0L
            var i = 0
            var found = false
            while (!found && i < bs.length) {
              val (b, c, _, _) = bs(i)
              if (cum + c >= r) { targets += ((flag, b, cum)); found = true }
              else { cum += c; i += 1 }
            }
          }
        ranksRows += ((flag, lo25, f25, lo50, f50, lo75, f75,
          bs.map(_._3).min, bs.map(_._4).max))
      }
    }
    import s.implicits._
    val ranksDf = ranksRows.toSeq
      .toDF("rf", "k25", "f25", "k50", "f50", "k75", "f75", "minc", "maxc")
    val targetDf = targets.distinct.toSeq.toDF("tf", "tb", "off")

    // pass 2: exact histogram of the target buckets only (tiny both in
    // rows in and rows out; the window below covers <= W rows per bucket)
    val fine = li.join(broadcast(targetDf),
        col("l_returnflag") === col("tf") && expr(s"cents div $W") === col("tb"))
      .groupBy(col("l_returnflag"), col("tb"), col("off"), col("cents"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("l_returnflag"), col("tb")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = fine.withColumn("cum", sum(col("c")).over(w) + col("off"))

    def pctCol(loC: Column, fracC: Column): Column =
      // flanking values: smallest cents whose global cumulative count
      // reaches the rank; (1-f)*a + f*b with integer endpoints
      ((min(when(col("cum") >= loC, col("cents"))) * max(lit(1.0) - fracC)
        + coalesce(min(when(col("cum") >= loC + 1, col("cents"))), lit(0L)) * max(fracC)) / 100)
        .cast(DecimalType(18, 2))

    cum.join(broadcast(ranksDf), col("l_returnflag") === col("rf"))
      .groupBy(col("l_returnflag"))
      .agg(pctCol(col("k25"), col("f25")).as("p25"),
        pctCol(col("k50"), col("f50")).as("p50"),
        pctCol(col("k75"), col("f75")).as("p75"),
        (max(col("minc")) / lit(100.0)).cast(DecimalType(18, 2)).as("pmin"),
        (max(col("maxc")) / lit(100.0)).cast(DecimalType(18, 2)).as("pmax"))
      .orderBy(col("l_returnflag"))
  }

  val pricePercentilesSql: String =
    """SELECT l_returnflag,
      | CAST(quantile_cont(cents, 0.25) / 100 AS DECIMAL(18,2)) AS p25,
      | CAST(quantile_cont(cents, 0.5) / 100 AS DECIMAL(18,2)) AS p50,
      | CAST(quantile_cont(cents, 0.75) / 100 AS DECIMAL(18,2)) AS p75,
      | CAST(round(MIN(l_extendedprice), 2) AS DECIMAL(18,2)) AS pmin,
      | CAST(round(MAX(l_extendedprice), 2) AS DECIMAL(18,2)) AS pmax
      |FROM (SELECT l_returnflag, l_extendedprice,
      |        CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem) t
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // === array function battery ==============================================
  def arrayBattery(s: SparkSession, dir: String): DataFrame = {
    val v = transform(col("embedding"), _.cast(DoubleType))
    t(s, dir, "embeddings").filter(col("vec_id") < 50)
      .select(
        col("vec_id"),
        size(v).as("dim"),
        Exact.dround(array_max(v), 4).as("vmax"),
        Exact.dround(array_min(v), 4).as("vmin"),
        Exact.dround(element_at(v, 1), 4).as("v1"),
        Exact.dround(aggregate(slice(v, 1, 8), lit(0.0), (a, x) => a + x), 4).as("head8_sum"),
        Exact.dround(element_at(array_sort(v), 1), 4).as("sorted_first"),
        size(filter(v, x => x > 0)).as("n_positive"))
      .orderBy(col("vec_id"))
  }

  val arrayBatterySql: String =
    s"""SELECT vec_id,
       | CAST(len(v) AS INTEGER) AS dim,
       | ${Exact.sqlDround("list_max(v)", 4)} AS vmax,
       | ${Exact.sqlDround("list_min(v)", 4)} AS vmin,
       | ${Exact.sqlDround("v[1]", 4)} AS v1,
       | ${Exact.sqlDround("list_sum(v[1:8])", 4)} AS head8_sum,
       | ${Exact.sqlDround("list_sort(v)[1]", 4)} AS sorted_first,
       | CAST(len(list_filter(v, x -> x > 0)) AS INTEGER) AS n_positive
       |FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
       |WHERE vec_id < 50 ORDER BY vec_id""".stripMargin

  // === exact-algebra variance ==============================================
  // Spark's stddev/var use Welford merges whose float error depends on
  // partitioning; for oracle-exact stats we compute variance from exact
  // decimal sums: var = (n*sum(x^2) - sum(x)^2) / (n*(n-1)).
  def exactVariance(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_discount")
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        Exact.msum(x).as("sx"),
        Exact.msum(x * x).as("sxx"))
      .select(col("l_returnflag"), col("n"),
        Exact.toUnits(col("sx")).as("sum_x"), {
          // operands to double FIRST, then one fixed IEEE op sequence
          // mirrored verbatim in the oracle
          val nd = col("n").cast(DoubleType)
          val sxd = Exact.toUnits(col("sx"))
          val sxxd = Exact.toUnits(col("sxx"))
          // n = 1 makes the denominator 0: DuckDB float x/0 is NULL,
          // Spark emits NaN — agree on NULL (sample variance of one
          // observation is undefined)
          when(col("n") < 2, lit(null).cast(DoubleType))
            .otherwise((nd * sxxd - sxd * sxd) / (nd * (nd - lit(1.0)))).as("var_samp")
        })
      .orderBy(col("l_returnflag"))
  }

  val exactVarianceSql: String = {
    def u(m: String) = Exact.sqlToUnits(m)
    s"""SELECT l_returnflag, n, ${u("sx")} AS sum_x,
       | CASE WHEN n < 2 THEN NULL ELSE
       |  ((CAST(n AS DOUBLE) * ${u("sxx")} - ${u("sx")} * ${u("sx")})
       |   / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) END AS var_samp
       |FROM (
       |  SELECT l_returnflag, COUNT(*) AS n,
       |    ${Exact.sqlMsum("l_discount")} AS sx,
       |    ${Exact.sqlMsum("l_discount * l_discount")} AS sxx
       |  FROM lineitem GROUP BY 1) t
       |ORDER BY l_returnflag""".stripMargin
  }

  val ops: Seq[Op] = Seq(
    Op("q2_min_cost_supplier", q2 _, q2Sql),
    Op("q8_market_share", q8 _, q8Sql),
    Op("q11_top_value_suppliers", q11 _, q11Sql),
    Op("q12_late_priority", q12 _, q12Sql),
    Op("q20_promo_suppliers", q20 _, q20Sql),
    Op("agg2_cube_orders", cubeOrders _, cubeOrdersSql),
    Op("agg3_grouping_sets", groupingSetsOrders _, groupingSetsOrdersSql),
    Op("piv1_segment_by_nation", pivotSegments _, pivotSegmentsSql),
    Op("pct1_price_percentiles", pricePercentiles _, pricePercentilesSql),
    Op("arr1_array_battery", arrayBattery _, arrayBatterySql),
    Op("stat1_exact_variance", exactVariance _, exactVarianceSql))
}
