package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._

/** One recorded interval. Times are `System.nanoTime` values; spans read
  * from Spark (Catalyst phases, jobs) are converted from wall-clock
  * milliseconds through [[Tracer.wallToNano]].
  */
final case class Span(id: Long, name: String, req: Long, parent: Long, start: Long, end: Long) {
  def json: String = s"""{"id":$id,"name":"$name","req":$req,"parent":$parent,"start_ns":$start,"end_ns":$end}"""
}

/** In-memory span recorder for the traced arm. Each request gets an id,
  * which is also its Spark job group, so the [[JobListener]] can tie jobs
  * back to the request that caused them. Spans are written out once, when
  * the run ends.
  */
final class Tracer {
  private val ids = new AtomicLong()
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { // open span ids, innermost first
    override def initialValue(): List[Long] = Nil
  }
  private val anchorNano = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()

  def wallToNano(ms: Long): Long = anchorNano + (ms - anchorMs) * 1000000L

  def newRequest(): Long = ids.incrementAndGet()

  /** Run `f` inside a span named `name` of request `req`. */
  def span[T](name: String, req: Long)(f: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.get().headOption.getOrElse(0L)
    stack.set(id :: stack.get())
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get().tail)
      spans.add(Span(id, name, req, parent, t0, t1))
    }
  }

  /** Record an interval measured elsewhere (a Catalyst phase or a Spark
    * job); its parent is resolved when the spans are reduced.
    */
  def external(name: String, req: Long, start: Long, end: Long): Unit =
    spans.add(Span(ids.incrementAndGet(), name, req, -1L, start, end))

  def all: Seq[Span] = { import scala.jdk.CollectionConverters._; spans.asScala.toSeq }
}

/** Spark listener that attributes jobs, stages, tasks, task CPU and
  * shuffle bytes to the job group set for each traced request.
  */
final class JobListener(tracer: Tracer) extends SparkListener {
  final class Acc {
    val jobs = new AtomicLong(); val stages = new AtomicLong(); val tasks = new AtomicLong()
    val cpuNs = new AtomicLong(); val shuffleBytes = new AtomicLong()
  }
  val byReq = new ConcurrentHashMap[Long, Acc]()
  private val stageReq = new ConcurrentHashMap[Int, Long]()
  private val jobInfo = new ConcurrentHashMap[Int, (Long, Long)]() // job -> (req, start ms)

  private def reqOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(JobListener.prefix))
      .map(_.stripPrefix(JobListener.prefix).toLong)

  private def acc(req: Long): Acc = byReq.computeIfAbsent(req, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = reqOf(e.properties).foreach { r =>
    acc(r).jobs.incrementAndGet()
    e.stageIds.foreach(s => stageReq.put(s, r))
    jobInfo.put(e.jobId, (r, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobInfo.remove(e.jobId)).foreach { case (r, t0) =>
      tracer.external("spark.job", r, tracer.wallToNano(t0), tracer.wallToNano(e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageReq.get(e.stageInfo.stageId)).foreach(r => acc(r).stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageReq.get(e.stageId)).foreach { r =>
      val a = acc(r)
      a.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        a.cpuNs.addAndGet(m.executorCpuTime)
        a.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
}

object JobListener {
  val prefix = "perfbench-req-"
}

/** Reduces the spans of one traced arm to per-layer self times. A span's
  * self time is its duration minus the part of it its children cover;
  * externally measured spans (Catalyst phases, Spark jobs) become children
  * of the innermost bench span of the same request that contains them.
  */
object Reducer {
  final case class Layer(name: String, count: Int, selfP50: Double, selfTotal: Double, perReqMean: Double)

  def selfTimes(spans: Seq[Span]): Seq[(Span, Double)] = {
    val byReq = spans.groupBy(_.req)
    byReq.values.toSeq.flatMap { rs =>
      val own = rs.filter(_.parent >= 0)
      // outer-to-inner, so a later match is more deeply nested
      val ordered = own.sortBy(s => (s.start, -s.end))
      val resolved = rs.map { s =>
        if (s.parent >= 0) s
        else {
          // Spark reports whole milliseconds: probe half a millisecond
          // past the interval's middle to land inside its true extent
          val probe = (s.start + s.end) / 2 + 500000L
          val host = ordered.filter(o => o.start <= probe && probe <= o.end).lastOption
          s.copy(parent = host.map(_.id).getOrElse(0L))
        }
      }
      val kids = resolved.groupBy(_.parent)
      resolved.map { s =>
        val cs = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
        cs.foreach { case (a, b) =>
          if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        s -> math.max(0L, (s.end - s.start) - covered) / 1e6
      }
    }
  }

  /** Per span name: count, p50 and total of self time, and mean self time
    * per request (requests without the span count as 0).
    */
  def layers(spans: Seq[Span], requests: Int): Seq[Layer] =
    selfTimes(spans).groupBy(_._1.name).toSeq.sortBy(_._1).map { case (name, xs) =>
      // per-request totals, so repeated phases of one request add up
      val perReq = xs.groupBy(_._1.req).values.map(_.map(_._2).sum).toArray
      val padded = perReq ++ Array.fill(math.max(0, requests - perReq.length))(0.0)
      Layer(name, xs.size, Stats.pct(padded, 0.5), xs.map(_._2).sum,
        if (requests == 0) 0.0 else perReq.sum / requests)
    }
}
