package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object operators {
  /** One testdata table, read through [[graft.Engine.table]]. */
  private[operators] def t(s: SparkSession, dir: String, n: String): DataFrame =
    Engine.table(s, dir, n)
}
