package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** As-of (point-in-time) join — beyond-reference (SURVEY §2.B notes the
  * reference surface has none), but a staple of time-series feature
  * pipelines, and natively supported by the DuckDB oracle (`ASOF JOIN`),
  * so correctness is hash-pinned.
  *
  * Implementation is the union-tag-window pattern: tag right-side rows,
  * union with the left side on the shared (key, time) spine, and carry
  * the latest right value forward with `last(ignoreNulls) OVER (ORDER BY
  * time, is_left)` per key. ONE shuffle on the key + an in-partition
  * sort — the same cost as a co-partitioned merge join, with no range
  * condition exploding into a cross product. At 100 TB both sides
  * shuffle once on user_id; skew handling composes via Skew.saltedJoin
  * on the spine when a key is pathological.
  */
object AsOf {

  /** Left rows joined with the nearest right row at-or-before their
    * time (`forward = false`, the default) or at-or-after it
    * (`forward = true`). `right` must carry `key`, `time`, and
    * `valueCols`; `carryRightTimeAs` additionally emits the matched
    * right row's OWN timestamp under the given output name (the wait-
    * time shape ev14 needs). ONE definition for both directions — the
    * forward variant used to live as an inline copy in ev14, where a
    * tie-ordering or schema-alignment fix to this helper would not have
    * reached it.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, time: String,
      valueCols: Seq[String], forward: Boolean = false,
      carryRightTimeAs: Option[String] = None): DataFrame = {
    val leftCols = left.columns.toSeq
    // ONE carried slot: a STRUCT of the matched right row's payload,
    // carried atomically (r19 review: the previous independent
    // per-column carries each used ignoreNulls, so a NULL right-side
    // VALUE made that column skip back to an older right row while the
    // other columns kept the nearer one — output fields mixed from
    // DIFFERENT right rows. DuckDB's ASOF JOIN matches a ROW; so must
    // we. Left rows carry a NULL struct, which ignoreNulls skips; right
    // rows carry a non-null struct whose FIELDS may be null.)
    val payloadFields =
      valueCols.map(c => StructField(c, right.schema(c).dataType)) ++
        carryRightTimeAs.map(_ => StructField("__rtime", right.schema(time).dataType))
    val payloadType = StructType(payloadFields)
    val payload = struct(valueCols.map(c => col(c).as(c)) ++
      carryRightTimeAs.map(_ => col(time).as("__rtime")): _*)
    val tagged =
      left.withColumn("__is_left", lit(1))
        .select((leftCols.map(col) :+ col("__is_left")) :+
          lit(null).cast(payloadType).as("__r_pay"): _*)
    // NULL semantics match the oracle's ASOF equi-join (r19 review):
    // `ON l.key = r.key AND l.t >= r.t` never matches a NULL key or a
    // NULL right timestamp — filtered here, so a NULL-key left row
    // carries NULL instead of matching the NULL-key right partition,
    // and a NULL-timestamp right row never sorts to the frame's front.
    val rightTagged = right
      .filter(col(key).isNotNull && col(time).isNotNull)
      .select(Seq(col(key), col(time), lit(0).as("__is_left"),
        payload.as("__r_pay")): _*)
    // align schemas: left-only columns are null on right rows
    val fullCols = tagged.columns.toSeq
    val rightAligned = rightTagged.select(fullCols.map { c =>
      if (rightTagged.columns.contains(c)) col(c)
      else lit(null).cast(tagged.schema(c).dataType).as(c)
    }: _*)
    // tie order puts the right row INSIDE the frame at an equal
    // timestamp in both directions: backward sorts right (0) before
    // left (1) under asc, forward sorts right before left under the
    // reversed sort — at-or-before / at-or-after. NULL LEFT timestamps
    // sort to the FRONT in both directions (asc nulls-first default;
    // desc_nulls_first explicitly), where the preceding frame holds no
    // right rows — they carry NULL, the oracle's no-match answer.
    val w0 = Window.partitionBy(col(key))
    val w =
      if (forward) w0.orderBy(col(time).desc_nulls_first, col("__is_left"))
        .rowsBetween(Window.unboundedPreceding, 0)
      else w0.orderBy(col(time), col("__is_left"))
        .rowsBetween(Window.unboundedPreceding, 0)
    val carried = tagged.unionByName(rightAligned)
      .withColumn("__r_pay", last(col("__r_pay"), ignoreNulls = true).over(w))
    carried.filter(col("__is_left") === 1)
      .select(leftCols.map(col) ++
        valueCols.map(c => col("__r_pay").getField(c).as(c)) ++
        carryRightTimeAs.map(n => col("__r_pay").getField("__rtime").as(n)): _*)
  }

  /** Bucketized range join: `left.t` in `[right.t + lowerSec, right.t +
    * upperSec]`, equi-keyed on `key`. Each side is bucketed by
    * `floor(t / bucket)`; a pair within the range can only land in the
    * same or adjacent buckets, so the right side replicates to its
    * covering buckets and the join is an EQUI join on (key, bucket) +
    * fine filter — never the cross-join a naive range predicate plans.
    * Bucket width = the range span, so replication is a constant ≤
    * span/bucket + 2 factor regardless of data size.
    */
  def rangeJoin(left: DataFrame, right: DataFrame, key: String, time: String,
      lowerSec: Long, upperSec: Long, rightCols: Seq[String]): DataFrame = {
    require(upperSec >= lowerSec, "empty range")
    val bucketSec = math.max(upperSec - lowerSec, 1L)
    // bucket ids in EXACT integer micros (the ts8 floor-div pattern):
    // the old double chain (unix_micros/1e6/bucketSec) carries ~2 ulp,
    // which past ~2^51 micros (a year-9999 sentinel ts) can floor the
    // left row and its covering right range into NON-overlapping
    // buckets — a silently missing pair the fine filter can never
    // repair. pmod keeps floor (not truncate-toward-zero) semantics for
    // pre-1970 timestamps.
    val bucketUs = bucketSec * 1000000L
    def fdiv(e: String) = expr(s"(($e) - pmod(($e), $bucketUs)) div $bucketUs")
    val lb = left
      .withColumn("__lt", col(time))
      .withColumn("__b", fdiv("unix_micros(__lt)"))
    val rb = right
      .select((col(key) +: col(time).as("__rt") +: rightCols.map(col)): _*)
      .withColumn("__b", explode(sequence(
        fdiv(s"unix_micros(__rt) + ${lowerSec * 1000000L}"),
        fdiv(s"unix_micros(__rt) + ${upperSec * 1000000L}"))))
    lb.join(rb, Seq(key, "__b"))
      .filter(unix_micros(col("__lt")) >= unix_micros(col("__rt")) + lowerSec * 1000000L &&
        unix_micros(col("__lt")) <= unix_micros(col("__rt")) + upperSec * 1000000L)
      // __rt included (r19 review: it leaked into every caller's output,
      // and a left side already carrying a __rt column would collide)
      .drop("__b", "__lt", "__rt")
  }

  /** ev4: each view event joined to the user's most recent purchase
    * at-or-before it (classic point-in-time feature lookup).
    */
  def eventAsofPurchase(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
    // unique (user, ts) on the right side — both engines would otherwise
    // pick an arbitrary row among same-instant purchases
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("value"))
    asofJoin(views, purchases, "user_id", "ts", Seq("value"))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        // -1 sentinel for "no purchase yet" (NULLs render differently
        // across the two engines' pandas paths); raw double out — the
        // carried value is the identical parquet double on both engines
        coalesce(col("value"), lit(-1.0)).as("last_purchase_value"))
      .orderBy(col("event_id"))
  }

  val eventAsofPurchaseSql: String =
    """SELECT v.event_id, v.user_id,
      | epoch_us(CAST(v.ts AS TIMESTAMP)) AS ts_us,
      | COALESCE(p.value, -1.0) AS last_purchase_value
      |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      |      FROM events WHERE event_type = 'view') v
      |ASOF LEFT JOIN
      |     (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(value) AS value
      |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) p
      |  ON v.user_id = p.user_id AND v.ts >= p.ts
      |ORDER BY v.event_id""".stripMargin

  /** ev5: per view event, purchases by the same user in the preceding
    * hour (bucketized range join; micros-encoded decimal sum).
    */
  def eventRangeHour(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    // lt - rt ∈ [0, 3600]: the purchase precedes the view by up to 1 h
    rangeJoin(views, purchases, "user_id", "ts", 0L, 3600L, Seq("value"))
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_purch_1h"),
        Exact.dsum(col("value")).as("sum_purch_1h"))
      .orderBy(col("event_id"))
  }

  val eventRangeHourSql: String =
    s"""SELECT v.event_id, COUNT(*) AS n_purch_1h,
      | ${Exact.sqlDsum("p.value")} AS sum_purch_1h
      |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      |      FROM events WHERE event_type = 'view') v
      |JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
      |      FROM events WHERE event_type = 'purchase') p
      |  ON v.user_id = p.user_id
      | AND p.ts BETWEEN v.ts - INTERVAL 1 HOUR AND v.ts
      |GROUP BY v.event_id ORDER BY v.event_id""".stripMargin

  /** ev14: the FORWARD as-of join — each view paired with the user's
    * next purchase at-or-after it, plus the wait in micros (the
    * time-to-conversion lookup; ev4 is the backward direction). Same
    * union-tag-window shape with the frame reversed: right rows sort
    * after left rows at equal timestamps and `first(ignoreNulls)` scans
    * the forward frame — still ONE shuffle on the key, no range cross
    * product. DuckDB's ASOF JOIN natively supports the `<=` direction,
    * so the oracle is exact.
    */
  def eventAsofNextPurchase(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("value"))
    asofJoin(views, purchases, "user_id", "ts", Seq("value"),
      forward = true, carryRightTimeAs = Some("__next_ts"))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        coalesce(col("value"), lit(-1.0)).as("next_purchase_value"),
        coalesce(unix_micros(col("__next_ts")) - unix_micros(col("ts")), lit(-1L))
          .as("wait_us"))
      .orderBy(col("event_id"))
  }

  val eventAsofNextPurchaseSql: String =
    """SELECT v.event_id, v.user_id,
      | epoch_us(CAST(v.ts AS TIMESTAMP)) AS ts_us,
      | COALESCE(p.value, -1.0) AS next_purchase_value,
      | COALESCE(epoch_us(p.ts) - epoch_us(CAST(v.ts AS TIMESTAMP)), -1) AS wait_us
      |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      |      FROM events WHERE event_type = 'view') v
      |ASOF LEFT JOIN
      |     (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(value) AS value
      |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) p
      |  ON v.user_id = p.user_id AND v.ts <= p.ts
      |ORDER BY v.event_id""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("ev4_asof_purchase", eventAsofPurchase _, eventAsofPurchaseSql),
    Op("ev14_asof_next_purchase", eventAsofNextPurchase _, eventAsofNextPurchaseSql),
    Op("ev5_range_hour", eventRangeHour _, eventRangeHourSql))
}
