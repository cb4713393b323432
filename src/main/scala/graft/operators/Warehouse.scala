package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Par.BoundedOrder

/** Warehouse-maintenance operators: slowly-changing-dimension history,
  * multi-dimensional layout keys, deterministic weighted sampling and
  * robust (median/MAD) statistics — the batch-ETL surface a lakehouse
  * deployment of the reference's table layer (CREATE/INSERT/UPDATE,
  * swanlake-core/src/engine/mod.rs DML path) runs on top of its tables.
  */
object Warehouse {

  // === scd1: type-2 slowly-changing-dimension history ======================
  /** SCD type-2 interval build from the event log: per user, collapse
    * consecutive same-type events into validity runs
    * [valid_from, valid_to) with valid_to = the next run's start and
    * NULL marking the current run — the gaps-and-islands construction
    * every dimension-history ETL uses.
    *
    * Shape at 100 TB: ONE exchange on user_id serves the whole plan —
    * the change-flag window, the (user_id, run_id) aggregate (hash
    * clustering on user_id satisfies the grouping), and the valid_to
    * lead window all reuse it. Run ordering is (ts, event_id), a total
    * order, so the islands are deterministic under any parallelism.
    */
  /** The gaps-and-islands core shared by scd1 (full history) and pit1
    * (state intervals for the point-in-time join).
    */
  private def islands(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRuns = Window.partitionBy(col("user_id")).orderBy(col("run_id"))
    val chg = when(lag(col("event_type"), 1).over(w).isNull ||
      lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L).otherwise(0L)
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("run_id", sum(chg).over(w))
      .groupBy(col("user_id"), col("run_id"))
      .agg(min(col("event_type")).as("event_type"),
        min(col("ts")).as("valid_from"),
        count(lit(1)).as("n_events"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wRuns))
      .select(col("user_id"), col("event_type"), col("valid_from"), col("valid_to"),
        col("n_events"),
        col("valid_to").isNull.cast(IntegerType).as("is_current"))
  }

  def scd2History(s: SparkSession, dir: String): DataFrame =
    islands(t(s, dir, "events"))
      // event_type tiebreak: two same-ts events of different types give two
      // runs the same valid_from, and adjacent runs always differ in type —
      // but NON-adjacent same-type runs (A,B,A at one ts) can still tie on
      // (user, from, type), so valid_to and n_events join the key (NULLS
      // LAST explicitly: Spark's asc default is NULLS FIRST, DuckDB's is
      // NULLS LAST — the oracle pins LAST)
      .orderBy(col("user_id"), col("valid_from"), col("event_type"),
        col("valid_to").asc_nulls_last, col("n_events"))

  def scd2HistorySql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN LAG(event_type) OVER w IS NULL
      |         OR LAG(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |runs AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run_id
      |  FROM flagged),
      |islands AS (
      |  SELECT user_id, run_id, MIN(event_type) AS event_type,
      |    MIN(ts) AS valid_from, COUNT(*) AS n_events
      |  FROM runs GROUP BY user_id, run_id)
      |SELECT user_id, event_type, valid_from,
      |  LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to,
      |  n_events,
      |  CAST(CASE WHEN LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run_id)
      |    IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_current
      |FROM islands
      |ORDER BY user_id, valid_from, event_type, valid_to ASC NULLS LAST, n_events""".stripMargin

  // === pit1: point-in-time join against the SCD2 intervals =================
  /** The feature-store lookup: every purchase joins the state interval
    * that was ACTIVE at purchase time — here, the user's last
    * non-purchase activity run — and the ledger aggregates purchases by
    * that state. Same attribution question as ev19's last-touch window,
    * answered through the interval-join machinery a feature store uses
    * when the dimension and the facts live in different tables (where
    * the window trick is unavailable).
    *
    * Purchases that precede any non-purchase activity attribute to
    * 'none' via the left join.
    *
    * Shape at 100 TB: both sides shuffle once on user_id; each probe
    * scans only its user's interval list (bounded by that user's run
    * count), never a global range structure. A deployment adds a
    * coarse time-bucket to the join key when single users span
    * machines.
    */
  def pointInTime(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val intervals = islands(ev.filter(col("event_type") =!= "purchase"))
      .select(col("user_id").as("i_user"), col("event_type").as("state"),
        col("valid_from"), col("valid_to"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    purchases
      .join(intervals,
        col("user_id") === col("i_user") && col("valid_from") <= col("ts") &&
          (col("valid_to").isNull || col("ts") < col("valid_to")),
        "left")
      .select(coalesce(col("state"), lit("none")).as("state"), col("user_id"), col("value"))
      .groupBy(col("state"))
      .agg(count(lit(1)).as("n_purchases"),
        countDistinct(col("user_id")).as("n_users"),
        Exact.dsum(col("value")).as("total_value"))
      .orderedSmall(col("state")) // domain-bounded: one row per event type
  }

  def pointInTimeSql: String =
    s"""WITH flagged AS (
       |  SELECT user_id, ts, event_id, event_type,
       |    CASE WHEN LAG(event_type) OVER w IS NULL
       |         OR LAG(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
       |  FROM events WHERE event_type <> 'purchase'
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |runs AS (
       |  SELECT user_id, ts, event_type,
       |    SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run_id
       |  FROM flagged),
       |islands AS (
       |  SELECT user_id, run_id, MIN(event_type) AS state, MIN(ts) AS valid_from
       |  FROM runs GROUP BY user_id, run_id),
       |intervals AS (
       |  SELECT user_id, state, valid_from,
       |    LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to
       |  FROM islands),
       |purchases AS (
       |  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
       |attributed AS (
       |  SELECT COALESCE(i.state, 'none') AS state, p.user_id, p.value
       |  FROM purchases p LEFT JOIN intervals i
       |    ON i.user_id = p.user_id AND i.valid_from <= p.ts
       |    AND (i.valid_to IS NULL OR p.ts < i.valid_to))
       |SELECT state, COUNT(*) AS n_purchases,
       |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       |  ${Exact.sqlDsum("value")} AS total_value
       |FROM attributed GROUP BY state ORDER BY state""".stripMargin

  // === zord1: Z-order (Morton) layout statistics ===========================
  val zDimBits = 8 // 8 bits per dimension -> 16-bit Morton key
  val zBlockShift = 6 // blocks of 64 consecutive z-values

  private def morton(x: Column, y: Column): Column =
    (0 until zDimBits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(1L), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(1L), 2 * i + 1))
    }.reduce(_.bitwiseOR(_))

  /** Z-order (Morton-interleaved) clustering key over orders'
    * (custkey, orderdate) plus the per-block locality ledger that
    * justifies it: for each block of 64 consecutive z-values, the
    * bounding box over both dimensions. Sorting files by zkey makes
    * range predicates on EITHER dimension prune to O(sqrt) of the
    * blocks — the min/max spans in this output are exactly the
    * per-file column statistics a parquet writer would record after
    * `df.sort("zkey")`.
    *
    * Shape at 100 TB: the key is pure bit arithmetic (map-only,
    * codegen'd); the ledger is one combinable aggregate over a
    * 1024-value key domain. The actual re-layout write would be
    * `repartitionByRange(col("zkey")).sortWithinPartitions("zkey")` —
    * a single range exchange.
    */
  /** The z-space dimensions (8-bit buckets of custkey and epoch-day) —
    * ONE definition for zord1's layout and zord2's audit (the audit's
    * soundness bound holds only while its truth scan and the ledger
    * bucket IDENTICALLY; a divergent copy silently voids the invariant
    * the spec pins). [[zKeyedSqlCtes]] is the SQL twin.
    */
  private def zDimX: Column = col("o_custkey").bitwiseAND(255L)
  private def zDimY: Column = datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
    .cast(LongType).bitwiseAND(255L)
  private def zKeyedSqlCtes: String = {
    val zExpr = (0 until zDimBits).map { i =>
      s"(((x >> $i) & 1) << ${2 * i}) | (((y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" | ")
    s"""dims AS (
       |  SELECT o_custkey & 255 AS x,
       |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) & 255 AS y
       |  FROM orders),
       |keyed AS (SELECT x, y, ($zExpr) AS zkey FROM dims)""".stripMargin
  }

  def zorderStats(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders")
      .select(zDimX.as("x"), zDimY.as("y"))
      .withColumn("zkey", morton(col("x"), col("y")))
      .groupBy(shiftright(col("zkey"), zBlockShift).as("z_block"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      .withColumn("bbox_area",
        (col("max_x") - col("min_x") + 1L) * (col("max_y") - col("min_y") + 1L))
      .orderedSmall(col("z_block")) // domain-bounded: <= 1024 blocks at any SF
  }

  def zorderStatsSql: String =
    s"""WITH $zKeyedSqlCtes
       |SELECT zkey >> $zBlockShift AS z_block, COUNT(*) AS n_rows,
       |  MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y,
       |  (MAX(x) - MIN(x) + 1) * (MAX(y) - MIN(y) + 1) AS bbox_area
       |FROM keyed GROUP BY z_block ORDER BY z_block""".stripMargin

  // === ivm1: incremental view maintenance by partial-aggregate merge =======
  val ivmSplit = "1997-01-01"

  /** The incremental-pipeline identity: an algebraic aggregate view
    * maintained as mergeable partials — the pre-split base partial plus
    * the delta partial combine by summing, WITHOUT rescanning base
    * history — equals the view recomputed from scratch (which is
    * exactly what the oracle computes). count/sum (and by extension
    * avg, moments, every Exact.msum aggregate here) are commutative
    * monoids, so the merge is another groupBy-sum over partial rows.
    *
    * Shape at 100 TB: this IS the daily-ingest pattern — the base
    * partial is a few rows per group read from yesterday's
    * materialization, the delta scan touches only new partitions, and
    * the merge shuffles group-cardinality rows, not data.
    */
  def partialMerge(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    def partial(df: DataFrame) = df
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), Exact.msum(col("o_totalprice")).as("rev_m"))
    // NULL dates ride the BASE partial (r19 review: `< split` and
    // `>= split` both fail for NULL, silently dropping such rows while
    // the oracle's unfiltered recompute counts them — breaking the
    // operator's own merge == recompute identity on any data with
    // unknown dates; TPC-H happens to be NULL-free, so this was latent)
    val base = partial(orders.filter(
      col("o_orderdate") < lit(ivmSplit) || col("o_orderdate").isNull))
    val delta = partial(orders.filter(col("o_orderdate") >= lit(ivmSplit)))
    base.unionByName(delta)
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("n")).cast(LongType).as("n_orders"),
        sum(col("rev_m")).as("m"))
      .select(col("o_orderpriority"), col("n_orders"),
        Exact.toUnits(col("m")).as("revenue"))
      .orderedSmall(col("o_orderpriority"))
  }

  def partialMergeSql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
       |  ${Exact.sqlToUnits(Exact.sqlMsum("o_totalprice"))} AS revenue
       |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // === zord2: Z-order pruning audit ========================================
  // the audited 2-D range predicate, in the 8-bit bucketed space
  val zPredX: (Int, Int) = (64, 127)
  val zPredY: (Int, Int) = (32, 95)

  /** The payoff measurement for zord1's layout: against the per-block
    * min/max ledger (exactly the parquet file statistics a z-sorted
    * write produces), a 2-D range predicate keeps only blocks whose
    * bounding box intersects it. The audit reports blocks and rows
    * scanned vs the true matching rows — the data-skipping ratio a
    * lakehouse buys by clustering. Min/max pruning is SOUND (every
    * matching row lives in a kept block), so rows_scanned bounds
    * rows_matching from above; the spec pins both soundness and that
    * the Z-layout actually prunes (>50% of blocks skipped for a
    * quarter-space predicate).
    *
    * Shape: one conditional-aggregation pass over the 1024-row ledger
    * + one truth scan (the verification baseline a deployment drops).
    */
  def zorderPruneAudit(s: SparkSession, dir: String): DataFrame = {
    val keep = col("max_x") >= zPredX._1 && col("min_x") <= zPredX._2 &&
      col("max_y") >= zPredY._1 && col("min_y") <= zPredY._2
    val ledger = zorderStats(s, dir)
      .agg(count(lit(1)).as("n_blocks_total"),
        sum(col("n_rows")).cast(LongType).as("rows_total"),
        sum(when(keep, 1L).otherwise(0L)).as("n_blocks_kept"),
        sum(when(keep, col("n_rows")).otherwise(0L)).cast(LongType).as("rows_scanned"))
    val truth = t(s, dir, "orders")
      .select(zDimX.as("x"), zDimY.as("y"))
      .filter(col("x").between(zPredX._1, zPredX._2) &&
        col("y").between(zPredY._1, zPredY._2))
      .agg(count(lit(1)).as("rows_matching"))
    ledger.crossJoin(truth)
      .select(col("n_blocks_total"), col("n_blocks_kept"),
        col("rows_total"), col("rows_scanned"), col("rows_matching"),
        (lit(1.0) - col("rows_scanned").cast(DoubleType) /
          col("rows_total").cast(DoubleType)).as("prune_ratio"))
  }

  def zorderPruneAuditSql: String = {
    s"""WITH $zKeyedSqlCtes,
       |blocks AS (
       |  SELECT zkey >> $zBlockShift AS z_block, COUNT(*) AS n_rows,
       |    MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y
       |  FROM keyed GROUP BY z_block),
       |ledger AS (
       |  SELECT COUNT(*) AS n_blocks_total,
       |    CAST(SUM(n_rows) AS BIGINT) AS rows_total,
       |    CAST(SUM(CASE WHEN max_x >= ${zPredX._1} AND min_x <= ${zPredX._2}
       |          AND max_y >= ${zPredY._1} AND min_y <= ${zPredY._2}
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_blocks_kept,
       |    CAST(SUM(CASE WHEN max_x >= ${zPredX._1} AND min_x <= ${zPredX._2}
       |          AND max_y >= ${zPredY._1} AND min_y <= ${zPredY._2}
       |      THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned
       |  FROM blocks),
       |truth AS (
       |  SELECT COUNT(*) AS rows_matching FROM dims
       |  WHERE x BETWEEN ${zPredX._1} AND ${zPredX._2}
       |    AND y BETWEEN ${zPredY._1} AND ${zPredY._2})
       |SELECT n_blocks_total, n_blocks_kept, rows_total, rows_scanned, rows_matching,
       |  1.0 - CAST(rows_scanned AS DOUBLE) / CAST(rows_total AS DOUBLE) AS prune_ratio
       |FROM ledger, truth""".stripMargin
  }

  // === ws1: deterministic weighted sample ==================================
  val wsTopN = 100
  private val wsScale = 1000000000000L // 1e12

  /** Deterministic weighted sampling without replacement: each document
    * draws priority n_chars * 1e12 DIV (md5-hash + 1) — the integer
    * Efraimidis–Spirakis shape (priority monotone in weight/u) with the
    * float exponentiation replaced by exact integer division, so both
    * engines order identically with no IEEE concerns — and the top 100
    * priorities are the sample. Longer documents are proportionally
    * likelier to win; re-running is reproducible (the hash is the
    * randomness).
    *
    * Shape at 100 TB: map-only priority + TakeOrderedAndProject —
    * per-partition top-100 heaps merged on the driver; no global sort,
    * no shuffle of the data itself.
    */
  def weightedSample(s: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(concat_ws("#", lit("ws"), col("doc_id"))), 1, 8), 16, 10)
      .cast(LongType) + 1L
    t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
      .withColumn("h", h)
      // weight clamped at 9e6 chars (9 MB of text): an unclamped long
      // product overflows BIGINT (ANSI error on Spark 4, error on DuckDB)
      // past ~9.2 MB documents; beyond the clamp every document shares the
      // max weight, and the arithmetic stays pure-integer on both engines
      .withColumn("priority", expr(s"(LEAST(n_chars, 9000000) * $wsScale) DIV h"))
      .select(col("doc_id"), col("n_chars"), col("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(wsTopN)
  }

  def weightedSampleSql: String =
    s"""WITH pri AS (
       |  SELECT doc_id, n_chars,
       |    (LEAST(n_chars, 9000000) * $wsScale) //
       |      ((('0x' || substring(md5(concat_ws('#', 'ws', CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT) + 1)
       |      AS priority
       |  FROM documents)
       |SELECT doc_id, n_chars, priority FROM pri
       |ORDER BY priority DESC, doc_id LIMIT $wsTopN""".stripMargin

  // === prof3: equi-width histogram profile + quantile estimates ============
  val histBuckets = 64
  val histHi = 600000.0 // o_totalprice domain bound (fixed, scale-free)

  /** The CBO statistics pass: a fixed-bound equi-width value histogram
    * per group with interpolated quantile estimates read off it, next
    * to the exact percentiles — the accuracy audit for
    * histogram-backed optimizer stats (prof1's profile, extended to
    * distribution shape).
    *
    * The histogram is the MERGEABLE quantile structure: fixed buckets
    * sum across partitions/days/shards, unlike the exact percentile
    * whose multiset can't merge — that is the 100 TB path, and the
    * exact columns exist as its verification baseline (one extra scan,
    * dropped in deployment).
    *
    * Estimates interpolate within the covering bucket:
    * est = lo + (p*n - cum_before) / cnt * width, every term derived
    * from exact integers or shared literals — deterministic IEEE both
    * sides.
    */
  def histogramProfile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val width = histHi / histBuckets
    val base = t(s, dir, "orders")
      .select(col("o_orderpriority").as("grp"), col("o_totalprice").as("x"),
        Exact.micros(col("o_totalprice")).as("m"))
    val hist = base
      .groupBy(col("grp"),
        least(floor(col("x") / width), lit(histBuckets - 1.0)).cast(IntegerType).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("grp")).orderBy(col("bucket"))
    val wGrp = Window.partitionBy(col("grp"))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wGrp))
      .withColumn("cum_before", col("cum") - col("cnt"))
    def estFor(p: Double) = {
      val target = lit(p) * col("n").cast(DoubleType)
      val covers = col("cum_before").cast(DoubleType) < target &&
        col("cum").cast(DoubleType) >= target
      max(when(covers,
        col("bucket").cast(DoubleType) * width +
          (target - col("cum_before").cast(DoubleType)) / col("cnt").cast(DoubleType) * width))
    }
    val ests = cum.groupBy(col("grp"))
      .agg(max(col("n")).as("n"), estFor(0.5).as("est_p50"), estFor(0.95).as("est_p95"))
    // exact percentiles by EXPLICIT bracketing interpolation (r19
    // review: Spark's percentile() and DuckDB's quantile_cont() may
    // differ by 1 ulp in their lerp formulations — mad1's integer
    // doubling only covers p = 0.5, and p95's fraction is arbitrary.
    // ONE spelled formula over the exact integer micros brackets runs
    // identically on both engines: h = p(n−1), a = v[⌊h⌋+1],
    // b = v[⌊h⌋+2], result = a + (b−a)(h−⌊h⌋).)
    val ranked = base
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("m"))))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy(col("grp"))))
    def kOf(p: Double) =
      floor(lit(p) * (col("nn") - 1).cast(DoubleType)).cast(LongType)
    val brackets = ranked.groupBy(col("grp"))
      .agg(max(col("nn")).as("nn"),
        max(when(col("rn") === kOf(0.5) + 1, col("m"))).as("a50"),
        max(when(col("rn") === kOf(0.5) + 2, col("m"))).as("b50"),
        max(when(col("rn") === kOf(0.95) + 1, col("m"))).as("a95"),
        max(when(col("rn") === kOf(0.95) + 2, col("m"))).as("b95"))
    def lerp(a: Column, b: Column, p: Double) = {
      val h = lit(p) * (col("nn") - 1).cast(DoubleType)
      val frac = h - floor(h)
      (a.cast(DoubleType) +
        (coalesce(b, a).cast(DoubleType) - a.cast(DoubleType)) * frac) / 1000000.0
    }
    val exact = brackets.select(col("grp"),
      lerp(col("a50"), col("b50"), 0.5).as("exact_p50"),
      lerp(col("a95"), col("b95"), 0.95).as("exact_p95"))
    ests.join(exact, "grp")
      .select(col("grp"), col("n"), col("est_p50"), col("exact_p50"),
        col("est_p95"), col("exact_p95"))
      .orderedSmall(col("grp"))
  }

  def histogramProfileSql: String = {
    val width = histHi / histBuckets
    def est(p: Double) =
      s"""MAX(CASE WHEN CAST(cum_before AS DOUBLE) < $p * CAST(n AS DOUBLE)
         |          AND CAST(cum AS DOUBLE) >= $p * CAST(n AS DOUBLE)
         |     THEN CAST(bucket AS DOUBLE) * $width
         |          + ($p * CAST(n AS DOUBLE) - CAST(cum_before AS DOUBLE))
         |            / CAST(cnt AS DOUBLE) * $width END)""".stripMargin
    s"""WITH base AS (
       |  SELECT o_orderpriority AS grp, o_totalprice AS x,
       |    ${Exact.sqlMicros("o_totalprice")} AS m
       |  FROM orders),
       |hist AS (
       |  SELECT grp,
       |    CAST(LEAST(FLOOR(x / $width), ${histBuckets - 1}.0) AS INTEGER) AS bucket,
       |    COUNT(*) AS cnt
       |  FROM base GROUP BY 1, 2),
       |cum AS (
       |  SELECT grp, bucket, cnt,
       |    SUM(cnt) OVER (PARTITION BY grp ORDER BY bucket) AS cum,
       |    SUM(cnt) OVER (PARTITION BY grp) AS n,
       |    SUM(cnt) OVER (PARTITION BY grp ORDER BY bucket) - cnt AS cum_before
       |  FROM hist),
       |ests AS (
       |  SELECT grp, CAST(MAX(n) AS BIGINT) AS n,
       |    ${est(0.5)} AS est_p50,
       |    ${est(0.95)} AS est_p95
       |  FROM cum GROUP BY grp),
       |ranked AS (
       |  SELECT grp, m,
       |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY m) AS rn,
       |    COUNT(*) OVER (PARTITION BY grp) AS nn
       |  FROM base),
       |brackets AS (
       |  SELECT grp, MAX(nn) AS nn,
       |    MAX(CASE WHEN rn = CAST(FLOOR(0.5 * CAST(nn - 1 AS DOUBLE)) AS BIGINT) + 1
       |        THEN m END) AS a50,
       |    MAX(CASE WHEN rn = CAST(FLOOR(0.5 * CAST(nn - 1 AS DOUBLE)) AS BIGINT) + 2
       |        THEN m END) AS b50,
       |    MAX(CASE WHEN rn = CAST(FLOOR(0.95 * CAST(nn - 1 AS DOUBLE)) AS BIGINT) + 1
       |        THEN m END) AS a95,
       |    MAX(CASE WHEN rn = CAST(FLOOR(0.95 * CAST(nn - 1 AS DOUBLE)) AS BIGINT) + 2
       |        THEN m END) AS b95
       |  FROM ranked GROUP BY grp),
       |exact AS (
       |  SELECT grp,
       |    (CAST(a50 AS DOUBLE) + (CAST(COALESCE(b50, a50) AS DOUBLE) - CAST(a50 AS DOUBLE))
       |      * (0.5 * CAST(nn - 1 AS DOUBLE) - FLOOR(0.5 * CAST(nn - 1 AS DOUBLE))))
       |      / 1000000.0 AS exact_p50,
       |    (CAST(a95 AS DOUBLE) + (CAST(COALESCE(b95, a95) AS DOUBLE) - CAST(a95 AS DOUBLE))
       |      * (0.95 * CAST(nn - 1 AS DOUBLE) - FLOOR(0.95 * CAST(nn - 1 AS DOUBLE))))
       |      / 1000000.0 AS exact_p95
       |  FROM brackets)
       |SELECT e.grp, n, est_p50, exact_p50, est_p95, exact_p95
       |FROM ests e JOIN exact ON e.grp = exact.grp
       |ORDER BY e.grp""".stripMargin
  }

  // === cmp1: encoding advisor ==============================================
  val cmpColumns: Seq[(String, String)] = Seq(
    "orders" -> "o_orderstatus", "orders" -> "o_orderpriority",
    "lineitem" -> "l_returnflag", "lineitem" -> "l_linestatus")

  /** The storage advisor a lakehouse writer consults: per low-cardinality
    * string column, exact plain-vs-dictionary encoding size estimates —
    * plain = total value bytes; dict = the dictionary's bytes plus
    * n * ceil(log2(d)) index bits. ceil(log2) comes from bin()-length
    * integer arithmetic (the hll1 rho trick), so the whole ledger is
    * exact integers and one final ratio division. Each column costs one
    * scan collapsed to a value-domain aggregate (map-side combinable);
    * the advisor output is a handful of rows.
    */
  def encodingAdvisor(s: SparkSession, dir: String): DataFrame = {
    val perCol = cmpColumns.map { case (tbl, c) =>
      val vals = t(s, dir, tbl)
        .groupBy(col(c).as("v"))
        .agg(count(lit(1)).as("cnt"))
      vals.agg(
        sum(col("cnt")).cast(LongType).as("n"),
        count(lit(1)).as("n_distinct"),
        sum(col("cnt") * octet_length(col("v"))).cast(LongType).as("plain_bytes"),
        sum(octet_length(col("v"))).cast(LongType).as("dict_value_bytes"))
        .select(lit(tbl).as("table_name"), lit(c).as("column_name"),
          col("n"), col("n_distinct"), col("plain_bytes"), col("dict_value_bytes"))
    }
    val bits = when(col("n_distinct") <= 1, 0L)
      .otherwise(length(bin(col("n_distinct") - 1)).cast(LongType))
    perCol.reduce(_ unionByName _)
      .withColumn("index_bits_per_row", bits)
      .withColumn("dict_bytes", // DIV: integral division, mirroring DuckDB's //
        expr("dict_value_bytes + (n * index_bits_per_row + 7) DIV 8"))
      .select(col("table_name"), col("column_name"), col("n"), col("n_distinct"),
        col("plain_bytes"), col("dict_bytes"),
        (col("plain_bytes").cast(DoubleType) / col("dict_bytes").cast(DoubleType))
          .as("compression_ratio"))
      .orderedSmall(col("table_name"), col("column_name"))
  }

  def encodingAdvisorSql: String = {
    val branches = cmpColumns.map { case (tbl, c) =>
      s"""SELECT '$tbl' AS table_name, '$c' AS column_name,
         |  CAST(SUM(cnt) AS BIGINT) AS n, COUNT(*) AS n_distinct,
         |  CAST(SUM(cnt * strlen(v)) AS BIGINT) AS plain_bytes,
         |  CAST(SUM(strlen(v)) AS BIGINT) AS dict_value_bytes
         |FROM (SELECT $c AS v, COUNT(*) AS cnt FROM $tbl GROUP BY $c)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH per_col AS (
       |$branches),
       |sized AS (
       |  SELECT *,
       |    CASE WHEN n_distinct <= 1 THEN 0
       |         ELSE CAST(length(bin(n_distinct - 1)) AS BIGINT) END AS index_bits_per_row
       |  FROM per_col)
       |SELECT table_name, column_name, n, n_distinct, plain_bytes,
       |  dict_value_bytes + (n * index_bits_per_row + 7) // 8 AS dict_bytes,
       |  CAST(plain_bytes AS DOUBLE)
       |    / CAST(dict_value_bytes + (n * index_bits_per_row + 7) // 8 AS DOUBLE)
       |    AS compression_ratio
       |FROM sized ORDER BY table_name, column_name""".stripMargin
  }

  // === fd1: functional-dependency audit ====================================
  val fdCandidates: Seq[(String, String, String)] = Seq(
    ("orders", "o_orderkey", "o_orderstatus"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("customer", "c_custkey", "c_nationkey"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("nation", "n_nationkey", "n_regionkey"))

  /** Functional-dependency audit: det -> dep holds iff the determinant's
    * distinct count equals the (det, dep) pair distinct count — the
    * schema-discovery probe behind normalization advice, join-key
    * validation and dq1-style constraint mining. Each candidate is one
    * combinable distinct aggregate over its table; the verdicts are a
    * candidate-bounded handful of rows.
    */
  def functionalDeps(s: SparkSession, dir: String): DataFrame = {
    val rows = fdCandidates.map { case (tbl, det, dep) =>
      t(s, dir, tbl).agg(
        countDistinct(col(det)).as("n_det"),
        countDistinct(col(det), col(dep)).as("n_det_dep"))
        .select(lit(tbl).as("table_name"), lit(det).as("determinant"),
          lit(dep).as("dependent"), col("n_det"), col("n_det_dep"),
          (col("n_det") === col("n_det_dep")).cast(IntegerType).as("holds"))
    }
    rows.reduce(_ unionByName _)
      .orderedSmall(col("table_name"), col("determinant"), col("dependent"))
  }

  def functionalDepsSql: String = {
    val branches = fdCandidates.map { case (tbl, det, dep) =>
      // NULL parity: Spark's countDistinct(a, b) skips any-NULL tuples
      // while DuckDB's COUNT(DISTINCT (a, b)) counts NULL-field structs
      // — the CASE reproduces Spark's skip on the oracle side (latent on
      // the NULL-free fixture; the NULL-parity discipline pins it anyway)
      val pair = s"CASE WHEN $det IS NOT NULL AND $dep IS NOT NULL THEN ($det, $dep) END"
      s"""SELECT '$tbl' AS table_name, '$det' AS determinant, '$dep' AS dependent,
         |  CAST(COUNT(DISTINCT $det) AS BIGINT) AS n_det,
         |  CAST(COUNT(DISTINCT $pair) AS BIGINT) AS n_det_dep,
         |  CAST(CASE WHEN COUNT(DISTINCT $det) = COUNT(DISTINCT $pair)
         |    THEN 1 ELSE 0 END AS INTEGER) AS holds
         |FROM $tbl""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""SELECT * FROM (
       |$branches)
       |ORDER BY table_name, determinant, dependent""".stripMargin
  }

  // === fd4: approximate functional dependencies (g3 error) =================
  /** fd4: the APPROXIMATE-FD readout for fd1's candidate list — the g3
    * measure (Kivinen–Mannila / TANE): the minimum fraction of rows to
    * remove for det → dep to hold exactly,
    * g3 = 1 − (Σ_det max_dep |(det, dep)|) / N. fd1's boolean verdict
    * says only holds/violated; g3 says HOW dirty — the number a data-
    * contract gate thresholds (g3 ≤ 0.01 ⇒ "holds approximately").
    * Any-NULL tuples are skipped on both engines (fd1's pair-skip
    * parity). Exact integers until the single division; each candidate
    * is one combinable (det, dep) count + a det-max rollup, attribute-
    * domain-bounded output.
    */
  def approxFdG3(s: SparkSession, dir: String): DataFrame = {
    val rows = fdCandidates.map { case (tbl, det, dep) =>
      val pairs = t(s, dir, tbl)
        .filter(col(det).isNotNull && col(dep).isNotNull)
        .groupBy(col(det), col(dep)).agg(count(lit(1)).as("c"))
      pairs
        .groupBy(col(det)).agg(max(col("c")).as("keep"), sum(col("c")).as("n_det_rows"))
        .agg(coalesce(sum(col("keep")), lit(0L)).cast(LongType).as("kept"),
          coalesce(sum(col("n_det_rows")), lit(0L)).cast(LongType).as("n_rows"))
        .select(lit(tbl).as("table_name"), lit(det).as("determinant"),
          lit(dep).as("dependent"), col("n_rows"), (col("n_rows") - col("kept"))
            .as("rows_to_remove"),
          when(col("n_rows") === 0, lit(null).cast(DoubleType))
            .otherwise((col("n_rows") - col("kept")).cast(DoubleType)
              / col("n_rows").cast(DoubleType)).as("g3_error"))
    }
    rows.reduce(_ unionByName _)
      .orderedSmall(col("table_name"), col("determinant"), col("dependent"))
  }

  def approxFdG3Sql: String = {
    val branches = fdCandidates.map { case (tbl, det, dep) =>
      s"""SELECT '$tbl' AS table_name, '$det' AS determinant, '$dep' AS dependent,
         |  CAST(COALESCE(SUM(n_det_rows), 0) AS BIGINT) AS n_rows,
         |  CAST(COALESCE(SUM(n_det_rows), 0) - COALESCE(SUM(keep), 0) AS BIGINT)
         |    AS rows_to_remove,
         |  CASE WHEN COALESCE(SUM(n_det_rows), 0) = 0 THEN NULL
         |       ELSE CAST(COALESCE(SUM(n_det_rows), 0) - COALESCE(SUM(keep), 0) AS DOUBLE)
         |            / CAST(COALESCE(SUM(n_det_rows), 0) AS DOUBLE) END AS g3_error
         |FROM (
         |  SELECT $det, MAX(c) AS keep, SUM(c) AS n_det_rows FROM (
         |    SELECT $det, $dep, COUNT(*) AS c FROM $tbl
         |    WHERE $det IS NOT NULL AND $dep IS NOT NULL GROUP BY 1, 2)
         |  GROUP BY 1)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""SELECT * FROM (
       |$branches)
       |ORDER BY table_name, determinant, dependent""".stripMargin
  }

  // === mad1: robust median/MAD outlier ledger ==============================
  /** Per-event-type robust center and spread: exact median, median
    * absolute deviation, and the count of 3-MAD outliers — the
    * heavy-tail-safe alternative to ev11's z-scores.
    *
    * Determinism: values round to integer micros first; medians compute
    * over DOUBLED integers (2x, so the even-count midpoint (a+b)/2 is
    * itself an integer — no interpolation bits in play beyond an exact
    * half, identical under Spark's percentile() and DuckDB's median());
    * the outlier comparison |2x - med2| * 2 > 3 * (2*mad2) stays in
    * exactly-representable doubles.
    *
    * Shape at 100 TB: exact percentile shuffles each group's value
    * multiset — the documented correctness tier. The scale path is
    * approx_percentile (KLL-style mergeable sketch, map-side
    * combinable) with identical downstream arithmetic; SketchSpec pins
    * the approx/exact bracket.
    */
  def robustOutliers(s: SparkSession, dir: String): DataFrame = {
    val m2 = Exact.micros(col("value")) * 2L
    val base = t(s, dir, "events").select(col("event_type"), m2.as("m2"))
    val med = base.groupBy(col("event_type"))
      .agg(percentile(col("m2"), lit(0.5)).as("med2"), count(lit(1)).as("n"))
    val joined = base.join(med, "event_type")
      .withColumn("dev2", abs(col("m2").cast(DoubleType) - col("med2")))
    val mad = joined.groupBy(col("event_type"))
      .agg(percentile(col("dev2"), lit(0.5)).as("mad2"))
    joined.join(mad, "event_type")
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        max(col("med2")).as("med2"), max(col("mad2")).as("mad2"),
        sum(when(col("dev2") > lit(3.0) * col("mad2"), 1L).otherwise(0L)).as("n_outliers"))
      .select(col("event_type"), col("n"),
        (col("med2") / 2000000.0).as("median_value"),
        (col("mad2") / 2000000.0).as("mad_value"),
        col("n_outliers"))
      .orderedSmall(col("event_type")) // domain-bounded: one row per event type
  }

  def robustOutliersSql: String = {
    val m2 = s"(${Exact.sqlMicros("value")} * 2)"
    s"""WITH base AS (
       |  SELECT event_type, CAST($m2 AS BIGINT) AS m2 FROM events),
       |med AS (
       |  SELECT event_type, median(m2) AS med2, COUNT(*) AS n
       |  FROM base GROUP BY event_type),
       |dev AS (
       |  SELECT base.event_type, ABS(CAST(m2 AS DOUBLE) - med2) AS dev2, med2, n
       |  FROM base JOIN med ON base.event_type = med.event_type),
       |mad AS (
       |  SELECT event_type, median(dev2) AS mad2 FROM dev GROUP BY event_type)
       |SELECT dev.event_type, MAX(n) AS n,
       |  MAX(med2) / 2000000.0 AS median_value,
       |  MAX(mad.mad2) / 2000000.0 AS mad_value,
       |  CAST(SUM(CASE WHEN dev2 > 3.0 * mad.mad2 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
       |FROM dev JOIN mad ON dev.event_type = mad.event_type
       |GROUP BY dev.event_type ORDER BY dev.event_type""".stripMargin
  }

  /** fd2: candidate-key discovery over `orders` — per column, its
    * distinct count against the row count and the uniqueness ratio (the
    * catalog-profiling twin of fd1's functional dependencies). One
    * aggregate job (count + one distinct-count per column), stacked to
    * a row per column driver-free.
    */
  private val fd2Cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")

  def candidateKeys(s: SparkSession, dir: String): DataFrame = {
    val aggs = count(lit(1)).as("n_rows") +:
      fd2Cols.map(c => countDistinct(col(c)).as(s"d_$c"))
    val one = t(s, dir, "orders").agg(aggs.head, aggs.tail: _*)
    one.select(
        expr(s"stack(${fd2Cols.size}, " +
          fd2Cols.map(c => s"'$c', `d_$c`").mkString(", ") +
          ") AS (column_name, n_distinct)"),
        col("n_rows"))
      .select(col("column_name"), col("n_distinct"), col("n_rows"),
        (col("n_distinct") === col("n_rows")).as("is_candidate_key"),
        (col("n_distinct").cast(DoubleType) / col("n_rows").cast(DoubleType))
          .as("uniqueness"))
      .orderedSmall(col("column_name"))
  }

  def candidateKeysSql: String = {
    val branches = fd2Cols.map(c =>
      s"SELECT '$c' AS column_name, CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct, " +
        s"CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders").mkString("\nUNION ALL ")
    s"""WITH per_col AS ($branches)
       |SELECT column_name, n_distinct, n_rows,
       |  n_distinct = n_rows AS is_candidate_key,
       |  CAST(n_distinct AS DOUBLE) / CAST(n_rows AS DOUBLE) AS uniqueness
       |FROM per_col ORDER BY column_name""".stripMargin
  }

  val ops: Seq[Op] = Seq(
    Op("fd2_candidate_keys", candidateKeys _, candidateKeysSql),
    Op("scd1_type2_history", scd2History _, scd2HistorySql),
    Op("pit1_point_in_time", pointInTime _, pointInTimeSql),
    Op("ivm1_partial_merge", partialMerge _, partialMergeSql),
    Op("prof3_value_histogram", histogramProfile _, histogramProfileSql),
    Op("zord2_prune_audit", zorderPruneAudit _, zorderPruneAuditSql),
    Op("cmp1_encoding_advisor", encodingAdvisor _, encodingAdvisorSql),
    Op("fd1_functional_deps", functionalDeps _, functionalDepsSql),
    Op("fd4_approx_fd_g3", approxFdG3 _, approxFdG3Sql),
    Op("zord1_zorder_stats", zorderStats _, zorderStatsSql),
    Op("ws1_weighted_sample", weightedSample _, weightedSampleSql),
    Op("mad1_robust_outliers", robustOutliers _, robustOutliersSql))
}
