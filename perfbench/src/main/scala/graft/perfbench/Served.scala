package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.graft.ArrowWire
import org.apache.spark.sql.types.StructType

/** A decoded result: schema plus rows, as a client sees it. */
final case class Result(schema: StructType, rows: Array[Row]) {
  /** The affected-row count a routed DML answers, or -1 for a query. */
  def affected: Long = schema.fieldNames.indexOf("num_affected_rows") match {
    case -1 => -1L
    case i => if (rows.isEmpty) 0L else rows(0).getLong(i)
  }
}

/** One client's connection: a server session addressed by its key. */
trait Conn {
  def exec(handle: String, params: Seq[Any]): Result
  def sql(text: String): Result
}

/** Over the socket: the gateway's /exec and /sql with Arrow decode. */
final class GatewayConn(client: graft.HttpSqlClient) extends Conn {
  def exec(handle: String, params: Seq[Any]): Result = {
    val r = client.executeQuery(handle, params)
    Result(r.schema, r.rows)
  }
  def sql(text: String): Result = {
    val r = client.query(text)
    Result(r.schema, r.rows)
  }
}

/** Counts of the route each in-process request took, inferred from
  * outside the program: from the returned plan and the session's own
  * plan-cache counters.
  */
final class Routes {
  val fastPoint = new AtomicLong(); val planHit = new AtomicLong(); val planMiss = new AtomicLong()
  val driverDml = new AtomicLong(); val planned = new AtomicLong()
  val pointShaped = new AtomicLong(); val pointFast = new AtomicLong()
  val arrowBytes = new AtomicLong(); val arrowRows = new AtomicLong(); val requests = new AtomicLong()

  def asSeq: Seq[(String, Long)] = Seq(
    "fast_point" -> fastPoint.get, "plan_hit" -> planHit.get, "plan_miss" -> planMiss.get,
    "driver_dml" -> driverDml.get, "planned" -> planned.get)
}

/** In process: the same public calls, in the same order, that the
  * gateway's handler makes for /exec and /sql — registry lookup, session
  * execution, Arrow stream preparation, the stream write into a buffer,
  * then the client's decode. With a tracer, each call runs inside a span
  * and the request's Spark jobs carry its id as their job group.
  */
final class InProcConn(registry: graft.SessionRegistry, key: String,
    tracer: Option[Tracer], routes: Routes) extends Conn {

  def exec(handle: String, params: Seq[Any]): Result =
    serve { s =>
      val p = s.getPrepared(handle).getOrElse(
        throw new NoSuchElementException(s"unknown prepared statement handle: $handle"))
      (p.pointRead.isDefined, s.executePrepared(p.handle, params))
    }

  def sql(text: String): Result = serve(s => (false, s.sql(text)))

  /** `run` answers whether the statement has a point-read shape, and its result. */
  private def serve(run: graft.Session => (Boolean, DataFrame)): Result = {
    val req = tracer.map(_.newRequest()).getOrElse(0L)
    def span[T](name: String)(f: => T): T = tracer match {
      case Some(t) => t.span(name, req)(f)
      case None => f
    }
    val sc = org.apache.spark.SparkContext.getOrCreate()
    if (tracer.isDefined) sc.setJobGroup(JobListener.prefix + req, "perfbench request", false)
    try span("request") {
      val session = span("registry.get")(registry.getOrCreate(key))
      val hits0 = session.planCacheHits.get; val misses0 = session.planCacheMisses.get
      val (pointShaped, df) = span("session.exec")(run(session))
      val write = span("arrow.prepare")(ArrowWire.prepareIpcStream(df))
      val buf = new java.io.ByteArrayOutputStream(1 << 12)
      span("arrow.encode")(write(buf))
      val bytes = buf.toByteArray
      val (schema, rows) = span("arrow.decode")(ArrowWire.readIpc(bytes))
      classify(df, schema, pointShaped,
        session.planCacheHits.get - hits0, session.planCacheMisses.get - misses0)
      routes.arrowBytes.addAndGet(bytes.length.toLong); routes.arrowRows.addAndGet(rows.length.toLong)
      tracer.foreach { t =>
        val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
        qe.tracker.phases.foreach { case (phase, ps) =>
          t.external(s"catalyst.$phase", req, t.wallToNano(ps.startTimeMs), t.wallToNano(ps.endTimeMs))
        }
      }
      Result(schema, rows)
    } finally if (tracer.isDefined) sc.clearJobGroup()
  }

  private def classify(df: DataFrame, schema: StructType, pointShaped: Boolean,
      hits: Long, misses: Long): Unit = {
    routes.requests.incrementAndGet()
    val local = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.logical.isInstanceOf[LocalRelation]
    if (pointShaped) routes.pointShaped.incrementAndGet()
    if (schema.fieldNames.sameElements(Array("num_affected_rows"))) routes.driverDml.incrementAndGet()
    else if (local) {
      routes.fastPoint.incrementAndGet()
      if (pointShaped) routes.pointFast.incrementAndGet()
    }
    else if (hits > 0) routes.planHit.incrementAndGet()
    else if (misses > 0) routes.planMiss.incrementAndGet()
    else routes.planned.incrementAndGet()
  }
}
