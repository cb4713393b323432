package graft.perfbench

import java.util.concurrent.atomic.AtomicInteger

/** tpch_mix: 4 closed-loop terminals run the 22 TPC-H queries at equal
  * weight over tables loaded into the micro-lake. Each terminal prepares
  * every query once as Spark SQL text and starts at its own offset in the
  * mix; every answer is checked against the in-process DataFrame
  * builder's result.
  */
final class TpchMix(ctx: Ctx) extends Workload {
  val name = "tpch_mix"
  // below the reference's sf0.1 to fit the run budget; per-query cost on a
  // small host is planning, code generation and JIT, not data (README.md)
  private val sf = 0.02
  private val terminals = 4
  private val names = TpchSql.names
  private val dataDir = ctx.work.resolve("tpch-data").toString
  private var reference: Map[String, String] = Map.empty
  lazy val server = new Server(ctx.spark, ctx.work.resolve("lake"))
  private var clients: IndexedSeq[graft.HttpSqlClient] = IndexedSeq.empty
  private var handles: IndexedSeq[Map[String, String]] = IndexedSeq.empty

  override def prepareInputs(): Unit = {
    TpchData.write(ctx.spark, ctx.seed, sf, dataDir)
    // reference answers from the DataFrame builders, one session per thread
    val next = new AtomicInteger()
    val out = new java.util.concurrent.ConcurrentHashMap[String, String]()
    Threads.run(terminals, "tpch-reference") { _ =>
      val s = ctx.spark.newSession()
      var i = next.getAndIncrement()
      while (i < names.size) {
        val n = names(i)
        out.put(n, TpchSql.digest(graft.SparkEntry.queries(n)(s, dataDir).collect().toSeq))
        i = next.getAndIncrement()
      }
    }
    reference = names.map(n => n -> out.get(n)).toMap
  }

  def setupServer(): Unit = {
    TpchData.tableNames.foreach { n =>
      val df = ctx.spark.read.parquet(s"$dataDir/$n.parquet")
      server.catalog.create(n, df.schema)
      server.catalog.insertBatch(n, df)
    }
    clients = IndexedSeq.fill(terminals)(server.client())
    val prepared = Array.fill(terminals)(Map.empty[String, String])
    Threads.run(terminals, "tpch-prepare") { t =>
      prepared(t) = names.map(n => n -> clients(t).prepare(TpchSql.texts(n))).toMap
    }
    handles = prepared.toIndexedSeq
  }

  private def check(q: String)(r: Result): Option[String] = {
    val d = TpchSql.digest(r.rows.toSeq)
    if (d == reference(q)) None else Some(s"digest $d, expected ${reference(q)}")
  }

  /** Terminal t starts a quarter of the mix after terminal t - 1, so
    * that a window shorter than one pass still covers all 22 queries and
    * each terminal runs beside different queries.
    */
  private def offset(t: Int): Int = t * names.size / terminals

  /** One pass of the mix per terminal, from its own offset. */
  def warmup(): Unit = {
    val rec = new Recorder
    Threads.run(terminals, "tpch-warmup") { t =>
      val conn = new GatewayConn(clients(t))
      names.indices.foreach { i =>
        val q = names((offset(t) + i) % names.size)
        rec.op(q, Long.MaxValue)(conn.exec(handles(t)(q), Nil))(check(q))
      }
    }
    if (rec.errors > 0) throw new IllegalStateException(s"warmup failed: ${rec.messages.mkString("; ")}")
  }

  /** Every window starts each terminal at its offset, so the arms of a
    * traced run execute the same query sequence.
    */
  def window(arm: Arm, seconds: Double): Window = timed(seconds) { (rec, deadline) =>
    Threads.run(terminals, s"tpch-${arm.name}") { t =>
      val conn = arm.conn(clients(t))
      var i = 0
      while (System.nanoTime() < deadline) {
        val q = names((offset(t) + i) % names.size)
        rec.op(q, deadline)(conn.exec(handles(t)(q), Nil))(check(q))
        i += 1
      }
    }
    Map("files_live" -> TpchData.tableNames.map(n => server.catalog.get(n).get.fileCount).sum.toDouble,
      "bytes_on_disk" -> Files2.treeBytes(ctx.work.resolve("lake")).toDouble)
  }

  override def close(): Unit = {
    clients.foreach(_.disconnect())
    server.stop()
  }
}
