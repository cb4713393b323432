package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

/** lake_ingest: 2 closed-loop writers commit seeded 1,000-row multi-row
  * INSERT batches (autocommit) into a managed table while 1 open-loop
  * reader runs at a fixed rate over the most recently committed ids,
  * alternating a prepared aggregate and a prepared id-range read.
  *
  * Ids are handed out in 1,000-id blocks. The reader only asks about
  * ids below the acknowledged watermark (every block below it has been
  * acknowledged), so its answers can be checked exactly.
  */
final class LakeIngest(ctx: Ctx) extends Workload {
  val name = "lake_ingest"
  private val writers = 2
  private val batchRows = 1000
  private val preloadBatches = 10
  private val readsPerSecond = 4.0
  private val aggSpan = 5000L // the aggregate covers the newest ids below the watermark
  lazy val server = new Server(ctx.spark, ctx.work.resolve("lake"))
  private var writerClients: IndexedSeq[graft.HttpSqlClient] = IndexedSeq.empty
  private var readerClient: graft.HttpSqlClient = _
  private var aggH, rangeH = ""
  private val nextBlock = new AtomicLong()
  private val acked = new java.util.BitSet()
  private var watermark = 0L // blocks [0, watermark) are all acknowledged
  private var maxSeen = -1L // the reader's max(id) so far; it must never fall
  override val readKinds = Set("agg", "range")
  override val writeKinds = Set("commit")
  override def counted(kind: String): Boolean = kind == "commit"

  private val rows = new IngestRows(ctx.seed, batchRows)
  private val liveBytes = new AtomicLong()

  private def ack(block: Long): Unit = acked.synchronized {
    liveBytes.addAndGet(rows.batchBytes(block))
    acked.set(block.toInt)
    watermark = acked.nextClearBit(watermark.toInt).toLong
  }
  private def ackedBlocks: Long = acked.synchronized(watermark)

  def setupServer(): Unit = {
    import org.apache.spark.sql.types._
    server.catalog.create("ingest", StructType(Seq(StructField("id", LongType),
      StructField("grp", IntegerType), StructField("qty", DoubleType), StructField("tag", StringType))),
      primaryKey = Some("id"))
    writerClients = IndexedSeq.fill(writers)(server.client())
    readerClient = server.client()
    aggH = readerClient.prepare("SELECT count(*), sum(id), max(id) FROM ingest WHERE id >= ?")
    rangeH = readerClient.prepare("SELECT id, qty FROM ingest WHERE id BETWEEN ? AND ?")
    (0 until preloadBatches).foreach { _ =>
      val b = nextBlock.getAndIncrement()
      require(writerClients(0).update(rows.batchSql(b)).rowsAffected == batchRows, s"preload block $b")
      ack(b)
    }
  }

  private def commit(conn: Conn, rec: Recorder, deadline: Long, stats: Option[LakeStats],
      written: AtomicLong): Unit = {
    val b = nextBlock.getAndIncrement()
    rec.op("commit", deadline)(conn.sql(rows.batchSql(b))) { r =>
      if (r.affected == batchRows) None else Some(s"block $b affected ${r.affected}")
    }.foreach { _ =>
      ack(b)
      written.addAndGet(rows.batchBytes(b))
      stats.foreach(_.observe())
    }
  }

  /** The i-th reader request: even ones aggregate, odd ones read a range. */
  private def read(i: Long, conn: Conn, rec: Recorder, deadline: Long, due: Long): Unit = {
    val top = ackedBlocks * batchRows // ids [0, top) are committed
    if (i % 2 == 0) {
      val lo = math.max(0L, top - aggSpan)
      rec.op("agg", deadline, due)(conn.exec(aggH, Seq(lo))) { r =>
        val row = r.rows.head
        val (n, mx) = (row.getLong(0), row.getLong(2))
        val issued = nextBlock.get * batchRows
        val why =
          if (n < top - lo || n > issued - lo) Some(s"agg count $n outside [${top - lo}, ${issued - lo}]")
          else if (mx < maxSeen || mx < top - 1) Some(s"agg max $mx fell below $maxSeen / ${top - 1}")
          else None
        maxSeen = math.max(maxSeen, mx)
        why
      }
    } else {
      val (lo, hi) = (math.max(0L, top - batchRows), top - 1)
      rec.op("range", deadline, due)(conn.exec(rangeH, Seq(lo, hi))) { r =>
        val got = r.rows.map(x => (x.getLong(0), x.getDouble(1))).sortBy(_._1).toSeq
        val want = (lo to hi).map(id => (id, rows.qty(id)))
        if (got == want) None else Some(s"range [$lo, $hi]: ${got.size} rows, expected ${want.size}")
      }
    }
  }

  def warmup(): Unit = {
    val rec = new Recorder
    val written = new AtomicLong()
    (0 until 3).foreach(_ => writerClients.foreach(c => commit(new GatewayConn(c), rec, Long.MaxValue, None, written)))
    (0 until 4).foreach(i => read(i, new GatewayConn(readerClient), rec, Long.MaxValue, System.nanoTime()))
    if (rec.errors > 0) throw new IllegalStateException(s"warmup failed: ${rec.messages.mkString("; ")}")
  }

  def window(arm: Arm, seconds: Double): Window = timed(seconds) { (rec, deadline) =>
    val stats = LakeStats.before(server.catalog, "ingest")
    val written = new AtomicLong()
    val late = new Samples
    val start = System.nanoTime()
    val periodNs = (1e9 / readsPerSecond).toLong
    Threads.run(writers + 1, s"ingest-${arm.name}") { t =>
      if (t < writers) {
        val conn = arm.conn(writerClients(t))
        while (System.nanoTime() < deadline) commit(conn, rec, deadline, Some(stats), written)
      } else {
        val conn = arm.conn(readerClient)
        var i = 0L
        while (start + i * periodNs < deadline) {
          val due = start + i * periodNs
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
          late.add((System.nanoTime() - due) / 1e6)
          read(i, conn, rec, deadline, due)
          i += 1
        }
      }
    }
    val acked = rec.samples("commit").size
    stats.after(liveBytes.get, written.get) ++ Map(
      "rows_per_s" -> acked * batchRows / seconds,
      "gen_late_p95_ms" -> Stats.tail(late.values)._2)
  }

  /** The table holds exactly the acknowledged rows. */
  override def finalCheck(rec: Recorder): Unit = {
    val blocks = nextBlock.get
    val ids = (0L until blocks).filter(b => acked.synchronized(acked.get(b.toInt)))
      .flatMap(b => (b * batchRows) until (b + 1) * batchRows)
    rec.op("final", Long.MinValue)(new GatewayConn(readerClient).sql("SELECT count(*), sum(id) FROM ingest")) { r =>
      val (n, s) = (r.rows.head.getLong(0), r.rows.head.getLong(1))
      if (n == ids.size && s == ids.sum) None else Some(s"final count/sum $n/$s, expected ${ids.size}/${ids.sum}")
    }
  }

  override def extraMetrics(w: Window): Seq[Metric] = Seq(
    Metric("rows_per_s", w.extra("rows_per_s"), "row/s"),
    Metric("space_amp", w.extra("space_amp"), "ratio"),
    Metric("bench.gen_late_p95_ms", w.extra("gen_late_p95_ms"), "ms"))

  override def close(): Unit = {
    (writerClients :+ readerClient).filter(_ != null).foreach(_.disconnect())
    server.stop()
  }
}

/** The seeded rows lake_ingest writes: id-determined values, so any
  * committed id's row can be checked without keeping it.
  */
final class IngestRows(seed: Long, batchRows: Int) {
  private def mix(x0: Long): Long = {
    var z = x0 + seed * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def grp(id: Long): Int = java.lang.Long.remainderUnsigned(mix(id), 100).toInt
  def qty(id: Long): Double = java.lang.Long.remainderUnsigned(mix(id ^ 0x55L), 100000) / 100.0
  def tag(id: Long): String = java.lang.Long.toString(mix(id ^ 0xAAL) >>> 24, 36).take(8)

  /** User bytes of one batch: 8-byte id, 4-byte grp, 8-byte qty, the tag. */
  def batchBytes(block: Long): Long =
    (0 until batchRows).map(i => 20L + tag(block * batchRows + i).length).sum

  /** The multi-row INSERT of block `block` (ids block * batchRows ...). */
  def batchSql(block: Long): String = {
    val sb = new StringBuilder("INSERT INTO ingest VALUES ")
    (0 until batchRows).foreach { i =>
      val id = block * batchRows + i
      if (i > 0) sb.append(',')
      sb.append('(').append(id).append(',').append(grp(id)).append(',').append(qty(id))
        .append(",'").append(tag(id)).append("')")
    }
    sb.toString
  }
}
