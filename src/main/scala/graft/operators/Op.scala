package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry operator: its key, the function that builds its DataFrame
  * from a testdata directory, and the equivalent DuckDB SQL the oracle gate
  * runs on the same parquet tables. Each operator module lists its operators once in
  * `ops`; `graft.SparkEntry` derives its `queries` and `oracleSql` maps
  * from them.
  */
final case class Op(name: String, build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Op {
  def apply(name: String, build: (SparkSession, String) => DataFrame, oracle: String): Op =
    Op(name, build, Some(oracle))

  /** An operator with no DuckDB form; a spec pins its values instead. */
  def pinned(name: String, build: (SparkSession, String) => DataFrame): Op =
    Op(name, build, None)
}
