package graft

import java.net.{HttpURLConnection, URL}

import scala.io.Source

/** The boot assembly (main.rs:17-126 minus the gRPC bind): every
  * component wired from one config, the status page live over HTTP,
  * queries served through the assembled Flight SQL facade, idle
  * cleanup reachable through the running registry, clean teardown.
  */
class ServerSpec extends SparkTestBase {

  test("boot assembles config-driven components, serves status + queries, shuts down") {
    val cfg = ServerConfig.load(Map(
      "SWANLAKE_MAX_SESSIONS" -> "5",
      "SWANLAKE_SESSION_TIMEOUT_SECONDS" -> "1",
      "SWANLAKE_STATUS_HOST" -> "127.0.0.1",
      "SWANLAKE_PORT" -> "0", // ephemeral SQL gateway bind
      "SWANLAKE_STATUS_PORT" -> "0", // ephemeral
      "SWANLAKE_STATUS_PATH_PREFIX" -> "/admin",
      "SWANLAKE_DUCKDB_THREADS" -> "4"))
    val running = Server.boot(cfg, sharedSpark = Some(spark))
    try {
      assert(running.registry.maxSessions == 5)
      assert(running.status.isDefined, "status server must start when enabled")

      // the status page answers over real HTTP under the configured prefix
      val port = running.status.get.boundPort
      val conn = new URL(s"http://127.0.0.1:$port/admin/status.json")
        .openConnection().asInstanceOf[HttpURLConnection]
      val body = Source.fromInputStream(conn.getInputStream).mkString
      assert(conn.getResponseCode == 200 && body.contains("\"sessions\""))

      // a query served through the assembled facade's client path
      val client = graft.flight.FlightSqlClient.connect(running.producer)
      val r = client.query("SELECT 21 * 2 AS answer")
      assert(r.rows.head.getInt(0) == 42)
      // ... and the status page's metrics actually observed it
      assert(running.metrics.queries >= 1, "the facade must record into the wired metrics")

      // idle cleanup is reachable on the running registry (1 s timeout)
      Thread.sleep(1200)
      assert(running.registry.cleanupIdle() >= 1, "the client session went idle")
    } finally running.shutdown()
    // teardown stopped the HTTP listener
    val dead = new URL(s"http://127.0.0.1:${running.status.get.boundPort}/healthz")
    intercept[Exception] {
      val c = dead.openConnection().asInstanceOf[HttpURLConnection]
      c.setConnectTimeout(500)
      c.getResponseCode
    }
  }

  test("init SQL wrapped in BEGIN; ...; COMMIT boots and takes effect") {
    val cfg = ServerConfig.load(Map(
      "SWANLAKE_DUCKDB_THREADS" -> "4",
      "SWANLAKE_DUCKLAKE_INIT_SQL" ->
        "BEGIN; CREATE OR REPLACE TEMP VIEW init_probe AS SELECT 42 AS answer; COMMIT"))
    val shared = spark // created first, so the root session resolves to it
    assert(cfg.newRootSession("graft-test") eq shared)
    try assert(spark.table("init_probe").head.getInt(0) == 42)
    finally spark.sql("DROP VIEW IF EXISTS init_probe")
  }

  test("peer_ip keying and the catalog flow through the boot assembly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_srv_lake")
    val catalog = new sources.MutableCatalog(spark, dir)
    catalog.create("srv_t",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))))
    catalog.create("srv_u",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))))
    val cfg = ServerConfig.load(Map(
      "SWANLAKE_SESSION_ID_MODE" -> "peer_ip",
      "SWANLAKE_PORT" -> "0", // ephemeral SQL gateway bind
      "SWANLAKE_STATUS_ENABLED" -> "false",
      "SWANLAKE_CHECKPOINT_DATABASES" -> "srv_t, later"))
    val running = Server.boot(cfg, sharedSpark = Some(spark), catalog = Some(catalog))
    try {
      // two connections from one host collapse onto one session
      running.producer.handshake("10.1.2.3:1111", 1L)
      running.producer.handshake("10.1.2.3:2222", 1L)
      assert(running.registry.size == 1, "peer_ip mode keys by host, not connection")
      // the sweep honors the SWANLAKE_CHECKPOINT_DATABASES scope: the
      // listed table checkpoints, the unlisted one never registers
      running.syncCheckpointRegistrations()
      running.maint.tick(System.currentTimeMillis() + 25L * 3600 * 1000)
      assert(running.maint.checkpointCount("srv_t") == 1, "listed table swept")
      assert(running.maint.checkpointCount("srv_u") == 0, "unlisted table excluded")
      assert(running.maint.registered == Seq("srv_t"))
      // dropped tables leave the sweep on the next sync
      catalog.drop("srv_t")
      running.syncCheckpointRegistrations()
      assert(running.maint.registered.isEmpty, "dropped table unregistered")
      // session DML routes through the catalog
      val s = running.registry.getOrCreate("10.1.2.3")
      s.sql("INSERT INTO srv_u VALUES (7)")
      assert(catalog.get("srv_u").get.df.count() == 1, "DML reached the micro-lake")
    } finally running.shutdown()
  }
}
