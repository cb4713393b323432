package graft.operators

import graft.Engine
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Par.BoundedOrder

/** Skew-mitigation utilities for 100 TB joins (builder-prompt "skewed
  * keys → salting or AQE skew-join"; SURVEY §2.B notes AQE handles skew
  * for the TPC-H shapes).
  *
  * AQE's skew-join split covers sort-merge joins it can observe; salting
  * is the explicit fallback when one side has pathological hot keys
  * (e.g. a null-heavy foreign key, a celebrity user_id) or when the
  * engine must pre-partition for repeated joins. `saltedJoin` implements
  * the standard scheme: the skewed (large) side scatters each key across
  * `buckets` salts; the small side replicates each row to every salt.
  * Result rows are identical to the unsalted join — only the shuffle
  * distribution changes (verified in SkewSpec).
  */
object Skew {

  /** Equi-join `large` ⋈ `small` on `key`, salting the large side into
    * `buckets` sub-keys. Use when `key`'s distribution is hot enough
    * that one reducer would own a partition-sized slice.
    *
    * Schema constraints (from the retry-deterministic collapse below):
    * every `large` column must be GROUPABLE — MapType columns are
    * rejected up front with a clear error rather than failing deep in
    * analysis. Floating-point columns are grouped, which normalizes
    * `-0.0` to `0.0` and collapses distinct NaN bit patterns to one NaN
    * (Spark's standard grouping semantics) — output VALUES can differ
    * bitwise from the input rows in exactly those two cases.
    */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
      buckets: Int = 16, joinType: String = "inner"): DataFrame = {
    require(buckets > 1, "salting needs at least 2 buckets")
    locally {
      import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
      def groupable(dt: DataType): Boolean = dt match {
        case _: MapType     => false
        case a: ArrayType   => groupable(a.elementType)
        case st: StructType => st.fields.forall(f => groupable(f.dataType))
        case _              => true
      }
      val bad = large.schema.fields.filterNot(f => groupable(f.dataType)).map(_.name)
      require(bad.isEmpty,
        s"saltedJoin requires groupable large-side columns (retry-deterministic " +
          s"collapse groups the full row); MapType column(s) ${bad.mkString(", ")} " +
          s"are not — drop or serialize them (e.g. to_json) before salting")
    }
    // right/full outer would surface each unmatched replicated row
    // `buckets` times — those shapes need the mirrored construction
    require(Set("inner", "left", "left_outer", "leftouter").contains(joinType.toLowerCase),
      s"saltedJoin supports inner/left joins, got $joinType")
    // Scatter must be DETERMINISTIC per row (ADVICE r17): the previous
    // content-hash + monotonically_increasing_id salt could re-salt a
    // row into a different reduce partition on a partial map-stage
    // recompute after a shuffle fetch failure, while already-completed
    // reducers kept its first-attempt copy — the SPARK-23207 class of
    // duplicated/dropped rows. Content hash alone is deterministic but
    // fails salting's worst case: byte-identical duplicate rows of a hot
    // key all hash to ONE bucket. Resolution: collapse duplicates to
    // (row, count) BEFORE the join — map-side partial aggregation means
    // no reducer ever sees more rows per distinct value than there are
    // map partitions, so the collapse shuffle is itself skew-proof — and
    // re-explode by the count afterwards (narrow, no shuffle). Distinct
    // rows of a hot key spread across buckets by content hash, which any
    // recompute reproduces bit-identically. Trade-off, documented: a
    // mostly-DISTINCT large side pays one extra (combine-shrunk)
    // exchange for the collapse — the price of the retry-determinism
    // the r17 ADVICE required; callers with duplicate-free inputs and a
    // stable row id can salt on hash(key, rowId) directly instead.
    val cols = large.columns.toIndexedSeq.map(col)
    val grouped = large.groupBy(cols: _*).agg(count(lit(1)).as("__dup_n"))
    // CHUNK decomposition happens BEFORE salting and the chunk index
    // joins the salt (review catch): with the salt on content alone, a
    // 10M-duplicate row's entire re-explosion would land in ONE task —
    // the single-task hot spot salting exists to break. Each 65536-row
    // chunk is its own deterministic salt unit, so a mega-duplicate
    // spreads across buckets while recompute still reproduces every
    // (row, chunk) -> bucket assignment bit-identically. The explode is
    // narrow (ceil(n/65536) rows per distinct row) and the per-row
    // sequence arrays stay bounded at max(CHUNK, n/CHUNK).
    val CHUNK = 1L << 16
    val chunked = grouped.withColumn("__chunk",
      explode(sequence(lit(0L), ((col("__dup_n") - 1) / lit(CHUNK)).cast("long"))))
    val salted = chunked.withColumn("__salt",
      pmod(xxhash64(struct(cols: _*)) + col("__chunk"), lit(buckets.toLong)))
    // replicate: small side joins every salt value
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1)).cast("array<bigint>")))
    salted.join(replicated, Seq(key, "__salt"), joinType)
      .withColumn("__i",
        explode(sequence(lit(1L),
          least(lit(CHUNK), col("__dup_n") - col("__chunk") * lit(CHUNK)))))
      .drop("__salt", "__dup_n", "__chunk", "__i")
  }

  /** Top-N hottest values of `key` with their frequencies — the
    * diagnostic that decides between AQE (mild skew) and salting
    * (pathological).
    */
  def keySkewProfile(df: DataFrame, key: String, topN: Int = 10): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col(key))
      .limit(topN)

  /** skw1: per-nation revenue through the salted join — the query a
    * deployment runs when l_suppkey goes hot (one mega-supplier). The
    * output is IDENTICAL to the unsalted join + GROUP BY (the oracle
    * below), which is the whole point of salting: only the shuffle
    * distribution changes. Revenue rides the Exact micros contract, so
    * the sum is order-independent across any salt assignment.
    */
  def saltedRevenue(s: SparkSession, dir: String): DataFrame = {
    val l = Engine.table(s, dir, "lineitem")
      .select(col("l_suppkey").as("s_suppkey"), col("l_extendedprice"), col("l_discount"))
    val sup = Engine.table(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    saltedJoin(l, sup, "s_suppkey", buckets = 8)
      .groupBy(col("s_nationkey"))
      .agg(
        Exact.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderedSmall(col("s_nationkey"))
  }

  val saltedRevenueSql: String =
    s"""SELECT s_nationkey,
       |  ${Exact.sqlDsum("l_extendedprice*(1-l_discount)")} AS revenue,
       |  CAST(COUNT(*) AS BIGINT) AS n_items
       |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("skw1_salted_revenue", saltedRevenue _, saltedRevenueSql))
}
