package graft

import org.apache.spark.sql.types.TimestampType

class EngineSpec extends SparkTestBase {

  private lazy val session = new Session("engine-spec", spark)

  test("table reads every testdata table") {
    Engine.tableNames.foreach { n =>
      assert(Engine.table(spark, sfDir, n).count() > 0, s"table $n is empty")
    }
  }

  test("events ns timestamps are truncated to microsecond TimestampType") {
    val ev = Engine.table(spark, sfDir, "events")
    assert(ev.schema("ts").dataType == TimestampType)
    val minTs = ev.agg(org.apache.spark.sql.functions.min("ts")).head.getTimestamp(0)
    assert(minTs.toString.startsWith("2024-01-01"))
  }

  test("Session.sql executes multi-statement scripts, returning the last result") {
    Engine.registerAll(spark, sfDir)
    val df = session.sql(
      "SELECT 1 AS one; SELECT count(*) AS n FROM region FOR UPDATE")
    assert(df.columns.toSeq == Seq("n"))
    assert(df.head.getLong(0) == 5)
  }

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("SQL passthrough matches the DataFrame battery (the reference's usage mode)") {
    Engine.registerAll(spark, sfDir)
    // run two oracle SQL texts through the engine's SQL entry and compare
    // with the DataFrame-API results (same logical queries). The oracle
    // strings are DuckDB dialect; map its two non-Spark type names to the
    // Spark equivalents (HUGEINT ~ 128-bit exact int, VARCHAR unsized).
    def sparkDialect(sql: String): String =
      sql.replace("AS HUGEINT", "AS DECIMAL(38,0)").replace("AS VARCHAR", "AS STRING")
    val viaSql = session.sql(sparkDialect(operators.Tpch.q6Sql)).collect().toSeq
    val viaDf = operators.Tpch.q6(spark, sfDir).collect().toSeq
    assert(viaSql.map(_.toString) == viaDf.map(_.toString))
    val q1Sql = session.sql(sparkDialect(operators.Tpch.q1Sql)).collect().toSeq
    val q1Df = operators.Tpch.q1(spark, sfDir).collect().toSeq
    assert(q1Sql.map(_.toString) == q1Df.map(_.toString))
  }

  test("PRAGMA database_list answers as SHOW CATALOGS (metadata.rs:36)") {
    val rows = session.sql("PRAGMA database_list").collect()
    assert(rows.map(_.getString(0)).contains("spark_catalog"))
  }

  test("SHOW ALL TABLES and DESCRIBE QUERY execute (ducklake_basic.test, A6)") {
    assert(session.sql("SHOW ALL TABLES").columns.contains("tableName"))
    val desc = session.sql("DESCRIBE QUERY SELECT 1 AS one, 'x' AS s").collect()
    assert(desc.map(_.getString(0)).toSeq == Seq("one", "s"))
  }

  test("codegen class cache scales with the registry (r12 thrash cannot return)") {
    // the derived size must track registry growth with headroom: each
    // query generates ~8 whole-stage-codegen classes (measured round
    // 13), so x10 keeps the bench working set resident
    assert(Engine.codegenCacheEntries >= 4096)
    assert(Engine.codegenCacheEntries >= SparkEntry.queries.size * 10)
    // and the STATIC conf actually bound at first-session creation —
    // spark.conf reports the effective value for the shared test session
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries").toInt ==
      Engine.codegenCacheEntries)
  }
}
