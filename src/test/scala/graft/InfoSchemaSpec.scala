package graft

class InfoSchemaSpec extends SparkTestBase {

  test("catalogs lists the current catalog (metadata.rs:97-142)") {
    val names = InfoSchema.catalogs(spark).collect().map(_.getString(0))
    assert(names.contains("spark_catalog"))
  }

  test("schemata applies the reference's hidden-schema filters (metadata.rs:19-24)") {
    val rows = InfoSchema.schemata(spark).collect()
    assert(rows.map(_.getString(1)).contains("default"))
    assert(!rows.exists(r => InfoSchema.hiddenSchemas.contains(r.getString(1))))
  }

  test("tables surfaces temp views as VIEW with BASE TABLE normalized (metadata.rs:419-482)") {
    spark.sql("CREATE OR REPLACE TEMP VIEW info_probe AS SELECT 1 AS x")
    val rows = InfoSchema.tables(spark).collect()
    val probe = rows.find(_.getString(2) == "info_probe")
    assert(probe.isDefined)
    assert(probe.get.getString(3) == "VIEW")
    assert(rows.forall(r => r.getString(3) == "TABLE" || r.getString(3) == "VIEW"))
    spark.sql("DROP VIEW info_probe")
  }

  test("table types constant is {TABLE, VIEW} (metadata.rs:294-309)") {
    val types = InfoSchema.tableTypes(spark).collect().map(_.getString(0)).toSet
    assert(types == Set("TABLE", "VIEW"))
  }

  test("key metadata answers are empty with fixed schemas (metadata.rs:38-65)") {
    Seq(InfoSchema.primaryKeys(spark), InfoSchema.exportedKeys(spark),
      InfoSchema.importedKeys(spark), InfoSchema.crossReference(spark)).foreach { df =>
      assert(df.schema == InfoSchema.keysSchema)
      assert(df.count() == 0)
    }
  }

  test("information_schema compat views answer client introspection SQL (metadata_visibility.test)") {
    spark.sql("CREATE OR REPLACE TEMP VIEW vis_probe AS SELECT 1 AS x")
    InfoSchema.register(spark)
    val sql = InfoSchema.rewriteInfoSchema(
      "SELECT table_name FROM information_schema.tables WHERE table_type = 'VIEW'")
    val names = spark.sql(sql).collect().map(_.getString(0))
    assert(names.contains("vis_probe"))
    spark.sql("DROP VIEW vis_probe")
  }

  test("information_schema recomputes per query: DDL is immediately visible (metadata.rs:26-34)") {
    InfoSchema.register(spark) // snapshot BEFORE the create
    spark.sql("CREATE OR REPLACE TEMP VIEW fresh_ddl_probe AS SELECT 1 AS x")
    // no manual re-register: the SQL entry refreshes the views itself
    val session = new Session("info-schema", spark)
    val names = session.sql(
      "SELECT table_name FROM information_schema.tables").collect().map(_.getString(0))
    assert(names.contains("fresh_ddl_probe"), "new view must be visible without re-registration")
    spark.sql("DROP VIEW fresh_ddl_probe")
    val after = session.sql(
      "SELECT table_name FROM information_schema.tables").collect().map(_.getString(0))
    assert(!after.contains("fresh_ddl_probe"), "dropped view must disappear")
  }

  test("tablesWithSchema carries a decodable Arrow IPC schema per table (metadata.rs include_schema)") {
    spark.sql("CREATE OR REPLACE TEMP VIEW schema_probe AS SELECT 1 AS a, 'x' AS b")
    val row = InfoSchema.tablesWithSchema(spark).collect()
      .find(_.getString(2) == "schema_probe").get
    val ipc = row.getAs[Array[Byte]]("table_schema")
    assert(ipc.nonEmpty)
    val decoded = org.apache.spark.sql.graft.ArrowWire.fromIpcStream(spark, ipc)
    assert(decoded.schema.fieldNames.toSeq == Seq("a", "b"))
    spark.sql("DROP VIEW schema_probe")
  }
}
