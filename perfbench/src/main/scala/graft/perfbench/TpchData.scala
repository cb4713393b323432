package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded generator of the TPC-H-shaped tables the program's query
  * battery reads: the same tables, columns, types and value domains as
  * the program's own test data, every column drawn uniformly and
  * independently from a hash of (row id, seed, column). The same seed
  * gives the same tables.
  */
object TpchData {

  val tableNames: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val partAdj = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val partNoun = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val partTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Row counts at scale factor `sf`; the dimension counts follow TPC-H. */
  def rowCounts(sf: Double): Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L,
    "customer" -> math.max(10L, (150000 * sf).toLong),
    "supplier" -> math.max(10L, (10000 * sf).toLong),
    "part" -> math.max(10L, (200000 * sf).toLong),
    "orders" -> math.max(10L, (1500000 * sf).toLong),
    "lineitem" -> math.max(10L, (6000000 * sf).toLong))

  def tables(spark: SparkSession, seed: Long, sf: Double): Seq[(String, DataFrame)] = {
    val n = rowCounts(sf)
    // uniform long in [0, m) for generator column c
    def u(c: Int, m: Long): Column =
      pmod(xxhash64(col("id"), lit(seed), lit(c)), lit(m))
    def pick(c: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (u(c, xs.size.toLong) + 1).cast(IntegerType))
    def cents(c: Int, lo: Long, hi: Long): Column = ((u(c, hi - lo + 1) + lo) / 100.0).cast(DoubleType)
    def day(c: Int, from: String, days: Long): Column = {
      val start = java.time.LocalDate.parse(from).toEpochDay
      timestamp_seconds((u(c, days) + start) * 86400L)
    }
    def range(name: String) = spark.range(0, n(name), 1, 4)
    Seq(
      "region" -> spark.range(0, 5, 1, 1).select(
        col("id").cast(IntegerType).as("r_regionkey"),
        element_at(array(regions.map(lit): _*), (col("id") + 1).cast(IntegerType)).as("r_name")),
      "nation" -> spark.range(0, 25, 1, 1).select(
        col("id").cast(IntegerType).as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"),
        (col("id") % 5).cast(IntegerType).as("n_regionkey")),
      "customer" -> range("customer").select(
        col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        u(1, 25).cast(IntegerType).as("c_nationkey"),
        cents(2, -99999, 999999).as("c_acctbal"),
        pick(3, segments).as("c_mktsegment")),
      "supplier" -> range("supplier").select(
        col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        u(1, 25).cast(IntegerType).as("s_nationkey"),
        cents(2, -99999, 999999).as("s_acctbal")),
      "part" -> range("part").select(
        col("id").as("p_partkey"),
        concat(pick(1, partAdj), lit(" "), pick(2, partNoun)).as("p_name"),
        concat(lit("Brand#"), u(3, 25) + 1).as("p_brand"),
        pick(4, partTypes).as("p_type"),
        (u(5, 50) + 1).cast(IntegerType).as("p_size"),
        ((pmod(col("id"), lit(1000L)) + 9000) / 10.0).as("p_retailprice")),
      "orders" -> range("orders").select(
        col("id").as("o_orderkey"),
        u(1, n("customer")).as("o_custkey"),
        pick(2, Seq("F", "O", "P")).as("o_orderstatus"),
        cents(3, 100000, 50000000).as("o_totalprice"),
        day(4, "1995-01-01", 2405).as("o_orderdate"),
        pick(5, priorities).as("o_orderpriority")),
      "lineitem" -> range("lineitem").select(
        u(1, n("orders")).as("l_orderkey"),
        u(2, n("part")).as("l_partkey"),
        u(3, n("supplier")).as("l_suppkey"),
        (u(4, 7) + 1).cast(IntegerType).as("l_linenumber"),
        (u(5, 50) + 1).cast(DoubleType).as("l_quantity"),
        cents(6, 90000, 10500000).as("l_extendedprice"),
        (u(7, 11) / 100.0).as("l_discount"),
        (u(8, 9) / 100.0).as("l_tax"),
        pick(9, Seq("A", "N", "R")).as("l_returnflag"),
        pick(10, Seq("F", "O")).as("l_linestatus"),
        day(11, "1995-01-02", 2499).as("l_shipdate")))
  }

  /** Write every table as `dir/<name>.parquet` (a directory of part
    * files), the layout the program's query builders read.
    */
  def write(spark: SparkSession, seed: Long, sf: Double, dir: String): Unit =
    tables(spark, seed, sf).foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}
