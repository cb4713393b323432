package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Tpch.q1(spark, "/root/testdata/sf0.001")

  /** Every registry operator, one per implemented operator from SURVEY.md §2. */
  val ops: Seq[Op] =
    Tpch.ops ++ Relational.ops ++ Advanced.ops ++ AsOf.ops ++ Dedup.ops ++
      Similarity.ops ++ TextAnalysis.ops ++ CorpusPipeline.ops ++ Skew.ops ++
      Multimodal.ops ++ Analytics.ops ++ Sketches.ops ++ Warehouse.ops

  /** Each op's build function by name. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    ops.map(op => op.name -> op.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omits the value-pinned ops. */
  val oracleSql: Map[String, String] =
    ops.flatMap(op => op.oracle.map(op.name -> _)).toMap
}
