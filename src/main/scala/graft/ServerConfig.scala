package graft

/** Environment-driven server configuration — the counterpart of the
  * reference's `ServerConfig::load()` (swanlake-core/src/config.rs:14-113,
  * CONFIGURATION.md): built-in defaults overridden by `SWANLAKE_*`
  * environment variables, then validated. Every option maps onto the
  * component that consumes it here (SessionRegistry, Metrics,
  * StatusServer, maintenance.Maintenance, Engine) via the factory
  * methods at the bottom, so a deployment is configured the same way a
  * reference deployment is.
  *
  * Parse failures on numeric/boolean values fail load() loudly — the
  * reference's deserializer likewise rejects malformed values rather
  * than silently falling back (config.rs:85-88).
  *
  * `host`/`port` bind the SQL-over-HTTP query gateway ([[SqlGateway]]
  * — standing where the reference's jar-blocked gRPC transport would
  * listen). The one cosmetic-in-sandbox option is `logFormat` (the
  * reference configures its tracing subscriber; Spark owns log4j in
  * this JVM). `checkpointDatabases` scopes Server.boot's checkpoint
  * sweep; everything else lands in a live component.
  */
final case class ServerConfig(
    host: String = "0.0.0.0",
    port: Int = 4214,
    ducklakeInitSql: Option[String] = None,
    duckdbThreads: Option[Int] = None,
    checkpointDatabases: Option[String] = None,
    checkpointIntervalHours: Option[Long] = Some(24L),
    checkpointPollSeconds: Option[Long] = Some(300L),
    maxSessions: Int = 100,
    sessionTimeoutSeconds: Long = 900L,
    sessionIdMode: ServerConfig.SessionIdMode = ServerConfig.PeerAddr,
    logFormat: String = "compact",
    statusEnabled: Boolean = true,
    statusHost: String = "0.0.0.0",
    statusPort: Int = 4215,
    statusPathPrefix: String = "",
    metricsSlowQueryThresholdMs: Long = 5000L,
    metricsHistorySize: Int = 200) {

  /** config.rs:100-112 plus the bounds the reference's unsigned-typed
    * deserializer enforces implicitly (a u16 port / usize count cannot
    * be negative): fail load() loudly, never boot with a value that
    * would wedge the server later.
    */
  def validate(): ServerConfig = {
    checkpointIntervalHours.foreach(h =>
      require(h > 0, "SWANLAKE_CHECKPOINT_INTERVAL_HOURS must be greater than 0"))
    checkpointPollSeconds.foreach(s =>
      require(s > 0, "SWANLAKE_CHECKPOINT_POLL_SECONDS must be greater than 0"))
    require(logFormat == "compact" || logFormat == "json",
      s"SWANLAKE_LOG_FORMAT must be compact or json, got $logFormat")
    require(maxSessions > 0, "SWANLAKE_MAX_SESSIONS must be greater than 0")
    require(sessionTimeoutSeconds > 0, "SWANLAKE_SESSION_TIMEOUT_SECONDS must be greater than 0")
    duckdbThreads.foreach(n =>
      require(n > 0, "SWANLAKE_DUCKDB_THREADS must be greater than 0"))
    require(port >= 0 && port <= 65535, "SWANLAKE_PORT must be a valid port")
    require(statusPort >= 0 && statusPort <= 65535, "SWANLAKE_STATUS_PORT must be a valid port")
    require(metricsHistorySize > 0, "SWANLAKE_METRICS_HISTORY_SIZE must be greater than 0")
    require(metricsSlowQueryThresholdMs >= 0,
      "SWANLAKE_METRICS_SLOW_QUERY_THRESHOLD_MS must be nonnegative")
    this
  }

  /** The session key a peer address resolves to (registry keying,
    * CONFIGURATION.md SWANLAKE_SESSION_ID_MODE): `peer_addr` keeps
    * ip:port (one session per connection), `peer_ip` strips the port
    * (one session per client host).
    */
  def sessionKey(peerAddr: String): String = sessionIdMode match {
    case ServerConfig.PeerAddr => peerAddr
    case ServerConfig.PeerIp =>
      // IPv6-safe port strip: '[addr]:port' and '[addr]' unwrap to the
      // bracketed host; a bare multi-colon address ('fe80::1') has no
      // port to strip — blindly cutting at the last ':' would drop its
      // final hextet and collapse distinct hosts onto one session key
      if (peerAddr.startsWith("[")) {
        val j = peerAddr.indexOf(']')
        if (j > 0) peerAddr.substring(1, j) else peerAddr
      } else {
        val i = peerAddr.lastIndexOf(':')
        if (i < 0 || peerAddr.indexOf(':') != i) peerAddr
        else peerAddr.substring(0, i)
      }
  }

  // --- component factories: each option lands where it is consumed ---

  def newRegistry(spark: org.apache.spark.sql.SparkSession,
      catalog: Option[sources.MutableCatalog] = None): SessionRegistry =
    new SessionRegistry(spark, maxSessions, sessionTimeoutSeconds * 1000, catalog)

  def newMetrics(): Metrics =
    new Metrics(metricsSlowQueryThresholdMs, metricsHistorySize)

  def startStatus(metrics: Metrics, registry: SessionRegistry): Option[StatusServer] =
    StatusServer.start(metrics, registry, statusHost, statusPort, statusPathPrefix,
      statusEnabled)

  def newMaintenance(): maintenance.Maintenance =
    new maintenance.Maintenance(checkpointIntervalHours.getOrElse(24L) * 3600L * 1000L)

  /** Boot a root session honoring the thread override + init SQL
    * (CONFIGURATION.md SWANLAKE_DUCKDB_THREADS / SWANLAKE_DUCKLAKE_INIT_SQL
    * — the reference executes init SQL right after the engine boots).
    * The init script runs through a client [[Session]] on the root
    * SparkSession, so it takes the same statement routing as any client
    * script (transaction control, PRAGMA, ATTACH/DETACH).
    */
  def newRootSession(appName: String = "graft"): org.apache.spark.sql.SparkSession = {
    val spark = Engine.newSession(appName, duckdbThreads.getOrElse(Engine.defaultCores))
    ducklakeInitSql.foreach(new Session("init", spark).sql(_))
    spark
  }
}

object ServerConfig {

  sealed trait SessionIdMode
  case object PeerAddr extends SessionIdMode
  case object PeerIp extends SessionIdMode

  /** Defaults overridden by `SWANLAKE_*` env vars (config.rs:74-93's
    * defaults-then-environment merge). Accepts an explicit map for
    * tests; `sys.env` in production.
    */
  def load(env: Map[String, String] = sys.env): ServerConfig = {
    def v(name: String): Option[String] = env.get(s"SWANLAKE_$name").map(_.trim).filter(_.nonEmpty)
    def num[T](name: String, parse: String => T): Option[T] = v(name).map { raw =>
      try parse(raw)
      catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"SWANLAKE_$name: invalid numeric value '$raw'")
      }
    }
    def bool(name: String): Option[Boolean] = v(name).map { raw =>
      raw.toLowerCase match {
        case "true" => true
        case "false" => false
        case other =>
          throw new IllegalArgumentException(s"SWANLAKE_$name: expected true/false, got '$other'")
      }
    }
    val d = ServerConfig()
    ServerConfig(
      host = v("HOST").getOrElse(d.host),
      port = num("PORT", _.toInt).getOrElse(d.port),
      ducklakeInitSql = v("DUCKLAKE_INIT_SQL").orElse(d.ducklakeInitSql),
      duckdbThreads = num("DUCKDB_THREADS", _.toInt).orElse(d.duckdbThreads),
      checkpointDatabases = v("CHECKPOINT_DATABASES").orElse(d.checkpointDatabases),
      checkpointIntervalHours =
        num("CHECKPOINT_INTERVAL_HOURS", _.toLong).orElse(d.checkpointIntervalHours),
      checkpointPollSeconds =
        num("CHECKPOINT_POLL_SECONDS", _.toLong).orElse(d.checkpointPollSeconds),
      maxSessions = num("MAX_SESSIONS", _.toInt).getOrElse(d.maxSessions),
      sessionTimeoutSeconds =
        num("SESSION_TIMEOUT_SECONDS", _.toLong).getOrElse(d.sessionTimeoutSeconds),
      sessionIdMode = v("SESSION_ID_MODE").map {
        case "peer_addr" => PeerAddr
        case "peer_ip" => PeerIp
        case other =>
          throw new IllegalArgumentException(
            s"SWANLAKE_SESSION_ID_MODE: expected peer_addr or peer_ip, got '$other'")
      }.getOrElse(d.sessionIdMode),
      logFormat = v("LOG_FORMAT").getOrElse(d.logFormat),
      statusEnabled = bool("STATUS_ENABLED").getOrElse(d.statusEnabled),
      statusHost = v("STATUS_HOST").getOrElse(d.statusHost),
      statusPort = num("STATUS_PORT", _.toInt).getOrElse(d.statusPort),
      statusPathPrefix = v("STATUS_PATH_PREFIX").getOrElse(d.statusPathPrefix),
      metricsSlowQueryThresholdMs =
        num("METRICS_SLOW_QUERY_THRESHOLD_MS", _.toLong).getOrElse(d.metricsSlowQueryThresholdMs),
      metricsHistorySize =
        num("METRICS_HISTORY_SIZE", _.toInt).getOrElse(d.metricsHistorySize)
    ).validate()
  }
}
