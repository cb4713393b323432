package graft.perfbench

import java.util.BitSet

/** One YCSB op. Scans cover `key .. key + scanLength - 1`. */
final case class YcsbOp(kind: String, key: Long)

/** The YCSB op stream and the shadow model that checks every answer.
  *
  * The stream depends only on the seed. Op kinds follow the reference mix
  * read/scan/insert/update/delete/rmw = 50/5/15/10/10/10 exactly in every
  * block of 20 ops, in a seeded order within the block, so a short window
  * does not drift off the mix by chance. Keys are uniform over every key
  * issued so far (so deleted keys are read too, and must return no rows);
  * inserts take the next new key.
  *
  * Field values are a function of (seed, key, field, version), so the
  * model keeps only per-key versions of the two fields the mix writes
  * (update writes field1, read-modify-write field2) and a live bit.
  */
final class YcsbModel(seed: Long, initialRows: Int) {
  private val rng = SplitMix.derive(seed, 11)
  private var nextKey: Long = initialRows
  private val live = new BitSet(); live.set(0, initialRows)
  private var ver1 = new Array[Int](initialRows * 2)
  private var ver2 = new Array[Int](initialRows * 2)

  private var block: List[String] = Nil

  def next(): YcsbOp = {
    if (block.isEmpty) block = shuffled(YcsbModel.block)
    val kind = block.head
    block = block.tail
    if (kind == "insert") { val k = nextKey; nextKey += 1; YcsbOp(kind, k) }
    else YcsbOp(kind, rng.nextLong(nextKey))
  }

  private def shuffled(xs: Seq[String]): List[String] = {
    val a = xs.toArray
    for (i <- a.indices.reverse) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toList
  }

  def isLive(k: Long): Boolean = live.get(k.toInt)
  def liveCount: Int = live.cardinality()

  def version(k: Long, field: Int): Int =
    if (field == 1) ver1(k.toInt) else if (field == 2) ver2(k.toInt) else 0

  /** The 10-character value of `field` at `version` for key `k`. */
  def value(k: Long, field: Int, version: Int): String = YcsbModel.value(seed, k, field, version)

  def current(k: Long, field: Int): String = value(k, field, version(k, field))

  def row(k: Long): Seq[Any] = k +: (1 to YcsbModel.fields).map(f => current(k, f))

  // state changes, applied once the server acknowledged the write
  def inserted(k: Long): Unit = {
    if (k >= ver1.length) {
      ver1 = java.util.Arrays.copyOf(ver1, ver1.length * 2)
      ver2 = java.util.Arrays.copyOf(ver2, ver2.length * 2)
    }
    live.set(k.toInt); ver1(k.toInt) = 0; ver2(k.toInt) = 0
  }
  def bumped(k: Long, field: Int): Unit =
    if (isLive(k)) { if (field == 1) ver1(k.toInt) += 1 else ver2(k.toInt) += 1 }
  def deleted(k: Long): Unit = live.clear(k.toInt)

  /** Bytes of user data in the live rows: an 8-byte key plus the fields. */
  def liveBytes: Long = liveCount.toLong * YcsbModel.rowBytes
}

object YcsbModel {
  val fields = 10
  val valueLength = 10
  val rowBytes: Long = 8L + fields * valueLength
  val scanLength = 10
  /** One block of the mix: 50/5/15/10/10/10 percent of 20 ops. */
  val block: Seq[String] = Seq.fill(10)("read") ++ Seq("scan") ++ Seq.fill(3)("insert") ++
    Seq.fill(2)("update") ++ Seq.fill(2)("delete") ++ Seq.fill(2)("rmw")

  private def mix(x0: Long): Long = {
    var z = x0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def value(seed: Long, k: Long, field: Int, version: Int): String = {
    val h = mix(seed ^ mix(k * 64 + field) ^ mix(version.toLong + 0x5bd1e995L)) >>> 12
    val s = java.lang.Long.toString(h, 36)
    if (s.length >= valueLength) s.takeRight(valueLength) else "0" * (valueLength - s.length) + s
  }
}

/** ycsb_point: one closed-loop terminal runs the YCSB mix over a
  * `usertable` of 480k rows (LONG key, 10 string fields) loaded as 80
  * files of 6,000 rows — more file sets than the per-session point-scan
  * cache holds.
  */
final class YcsbPoint(ctx: Ctx) extends Workload {
  val name = "ycsb_point"
  private val files = 80
  private val rowsPerFile = 6000
  private val model = new YcsbModel(ctx.seed, files * rowsPerFile)
  lazy val server = new Server(ctx.spark, ctx.work.resolve("lake"))
  private var client: graft.HttpSqlClient = _
  private var h: Map[String, String] = Map.empty
  private val warmupOps = 50
  private var lake: Option[LakeStats] = None
  private var written = 0L // user bytes acknowledged as written
  override val readKinds = Set("read", "scan")
  override val writeKinds = Set("insert", "update", "delete", "rmw")

  def setupServer(): Unit = {
    import org.apache.spark.sql.types._
    server.catalog.create("usertable", StructType(StructField("ycsb_key", LongType) +:
      (1 to YcsbModel.fields).map(i => StructField(s"field$i", StringType))), primaryKey = Some("ycsb_key"))
    // bulk load through the table's row appender, one file per batch; the
    // client's server session opens afterwards, so it sees the loaded snapshot
    val table = server.catalog.get("usertable").get
    (0 until files).foreach { f =>
      val rows = (0 until rowsPerFile).map(i => model.row(f.toLong * rowsPerFile + i).toArray[Any])
      val n = table.insertRowsDirect(rows)
      require(n.contains(rowsPerFile.toLong), s"load batch $f: $n rows")
    }
    client = server.client()
    val fieldList = (1 to YcsbModel.fields).map(i => s"field$i").mkString(", ")
    h = Map(
      "read" -> s"SELECT ycsb_key, $fieldList FROM usertable WHERE ycsb_key = ?",
      "scan" -> "SELECT ycsb_key, field1 FROM usertable WHERE ycsb_key BETWEEN ? AND ? ORDER BY ycsb_key",
      "insert" -> s"INSERT INTO usertable VALUES (${Seq.fill(YcsbModel.fields + 1)("?").mkString(", ")})",
      "update" -> "UPDATE usertable SET field1 = ? WHERE ycsb_key = ?",
      "delete" -> "DELETE FROM usertable WHERE ycsb_key = ?",
      "rmw_read" -> "SELECT field2 FROM usertable WHERE ycsb_key = ?",
      "rmw_update" -> "UPDATE usertable SET field2 = ? WHERE ycsb_key = ?"
    ).map { case (k, sql) => k -> client.prepare(sql) }
  }

  private def affected(k: Long)(r: Result): Option[String] = {
    val want = if (model.isLive(k)) 1L else 0L
    if (r.affected == want) None else Some(s"key $k affected ${r.affected}, expected $want")
  }

  private def rowsEqual(got: Array[org.apache.spark.sql.Row], want: Seq[Seq[Any]]): Boolean =
    got.length == want.size && got.zip(want).forall { case (g, w) => g.toSeq == w }

  /** Run one op of the stream on `conn`, check it, and apply it to the model. */
  private def step(conn: Conn, rec: Recorder, deadline: Long): Unit = {
    val op = model.next()
    val k = op.key
    op.kind match {
      case "read" =>
        val want = if (model.isLive(k)) Seq(model.row(k)) else Nil
        rec.op("read", deadline)(conn.exec(h("read"), Seq(k))) { r =>
          if (rowsEqual(r.rows, want)) None else Some(s"read $k: ${r.rows.toSeq.map(_.toSeq)}")
        }
      case "scan" =>
        val want = (k until k + YcsbModel.scanLength).filter(model.isLive).map(x => Seq(x, model.current(x, 1)))
        rec.op("scan", deadline)(conn.exec(h("scan"), Seq(k, k + YcsbModel.scanLength - 1))) { r =>
          if (rowsEqual(r.rows, want)) None else Some(s"scan $k: ${r.rows.length} rows, expected ${want.size}")
        }
      case "insert" =>
        model.inserted(k)
        rec.op("insert", deadline)(conn.exec(h("insert"), model.row(k)))(affected(k))
          .foreach { _ => written += YcsbModel.rowBytes; lake.foreach(_.observe()) }
      case "update" =>
        val v = model.value(k, 1, model.version(k, 1) + 1)
        rec.op("update", deadline)(conn.exec(h("update"), Seq(v, k)))(affected(k))
          .foreach { _ => if (model.isLive(k)) written += YcsbModel.rowBytes; model.bumped(k, 1) }
      case "delete" =>
        rec.op("delete", deadline)(conn.exec(h("delete"), Seq(k)))(affected(k))
          .foreach(_ => model.deleted(k))
      case "rmw" =>
        val live = model.isLive(k)
        val next = model.value(k, 2, model.version(k, 2) + 1)
        rec.op("rmw", deadline) {
          val cur = conn.exec(h("rmw_read"), Seq(k))
          (cur, conn.exec(h("rmw_update"), Seq(next, k)))
        } { case (cur, upd) =>
          val want = if (live) Seq(Seq(model.current(k, 2))) else Nil
          if (!rowsEqual(cur.rows, want)) Some(s"rmw read $k: ${cur.rows.toSeq.map(_.toSeq)}")
          else affected(k)(upd)
        }.foreach { _ => if (live) written += YcsbModel.rowBytes; model.bumped(k, 2) }
    }
  }

  def warmup(): Unit = {
    val rec = new Recorder
    val conn = new GatewayConn(client)
    (0 until warmupOps).foreach(_ => step(conn, rec, Long.MaxValue))
    if (rec.errors > 0) throw new IllegalStateException(s"warmup failed: ${rec.messages.mkString("; ")}")
  }

  def window(arm: Arm, seconds: Double): Window = timed(seconds) { (rec, deadline) =>
    val conn = arm.conn(client)
    val stats = LakeStats.before(server.catalog, "usertable")
    lake = Some(stats); written = 0L
    while (System.nanoTime() < deadline) step(conn, rec, deadline)
    lake = None
    stats.after(model.liveBytes, written)
  }

  override def extraMetrics(w: Window): Seq[Metric] =
    Seq(Metric("space_amp", w.extra("space_amp"), "ratio"))

  override def close(): Unit = {
    if (client != null) client.disconnect()
    server.stop()
  }
}
