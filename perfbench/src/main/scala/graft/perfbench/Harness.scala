package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Per-arm tally: latency samples per op kind for ops that completed
  * inside the window, and counts of attempted, failed and wrong ops.
  */
final class Recorder {
  private val kinds = new java.util.concurrent.ConcurrentHashMap[String, Samples]()
  // per (thread, kind): ops finished in the window and when the last one did
  private val finished = new java.util.concurrent.ConcurrentHashMap[(Long, String), (Int, Long)]()
  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  val wrong = new AtomicLong()
  private val notes = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def samples(kind: String): Samples = kinds.computeIfAbsent(kind, _ => new Samples)
  def kindNames: Seq[String] = kinds.keySet().asScala.toSeq.sorted
  def values(pred: String => Boolean): Array[Double] =
    kindNames.filter(pred).flatMap(k => samples(k).values).toArray
  def all: Array[Double] = values(_ => true)

  def note(msg: String): Unit = if (notes.size < 10) notes.add(msg.take(300))
  def messages: Seq[String] = notes.asScala.toSeq

  /** Time one op. It counts as attempted; it lands in the samples only
    * when it finished before `deadline`. `check` returns None when the
    * answer is right, or what was wrong with it.
    */
  def op[T](kind: String, deadline: Long, from: Long = System.nanoTime())(run: => T)(
      check: T => Option[String]): Option[T] = {
    attempted.incrementAndGet()
    try {
      val r = run
      val t1 = System.nanoTime()
      check(r) match {
        case Some(why) => wrong.incrementAndGet(); note(s"$kind: $why"); None
        case None =>
          if (t1 <= deadline) {
            samples(kind).add((t1 - from) / 1e6)
            finished.merge((Thread.currentThread().getId, kind), (1, t1), (a, b) => (a._1 + b._1, b._2))
          }
          Some(r)
      }
    } catch {
      case e: Exception =>
        failed.incrementAndGet(); note(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  def errors: Long = failed.get + wrong.get

  /** Closed-loop throughput of the kinds `pred` accepts: each thread's
    * finished ops over the time to its last finish, summed over threads.
    * Unlike a count over the whole window this does not depend on where
    * the deadline cuts each thread's last op.
    */
  def rate(pred: String => Boolean, start: Long): Double =
    finished.asScala.toSeq.filter(e => pred(e._1._2)).groupBy(_._1._1).values.map { es =>
      val n = es.map(_._2._1).sum
      val last = es.map(_._2._2).max
      if (last > start) n / ((last - start) / 1e9) else 0.0
    }.sum
}

/** How a window reaches the server: over the socket, or by calling the
  * handler's functions in process (optionally traced).
  */
final case class Arm(name: String, conn: graft.HttpSqlClient => Conn)

/** JVM counters sampled around a window. */
final case class JvmSample(gcMs: Long, jitMs: Long, wallNs: Long)

object Jvm {
  def sample(): JvmSample = JvmSample(
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum,
    Option(ManagementFactory.getCompilationMXBean).filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L),
    System.nanoTime())

  /** Post-GC live heap in MB, with the server quiet. The background
    * prepared-plan calibrations still queued are dropped (draining them
    * took up to 40 s after a tpch_mix window, and the run ends here). A
    * first collection lets Spark's context cleaner drop the broadcast and
    * shuffle state of finished queries; the second measures what stays.
    */
  def liveHeapMb(): Double = {
    val calibrations = graft.Session.calibrationPool
    calibrations.shutdownNow()
    calibrations.awaitTermination(30, java.util.concurrent.TimeUnit.SECONDS)
    System.gc()
    Thread.sleep(1000)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** Host context recorded with every run, so a noisy run is visible. */
object Host {
  def nproc: Int = Runtime.getRuntime.availableProcessors()

  def loadAvg1m: Double =
    try new String(Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg"))).trim.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  final case class Before(steal: Long, procs: Map[Long, Long], wallNs: Long)
  def before(): Before = Before(graft.HostLoad.stealJiffies(), graft.HostLoad.sample(), System.nanoTime())

  /** (steal cores, cores used by other processes) since `b`. */
  def since(b: Before): (Double, Double) = {
    val sec = (System.nanoTime() - b.wallNs) / 1e9
    (graft.HostLoad.stealCores(b.steal, graft.HostLoad.stealJiffies(), sec),
      graft.HostLoad.externalCores(b.procs, graft.HostLoad.sample(), sec))
  }
}

/** Run context shared by the workloads. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, work: Path)

/** The program's server, started the way its own entry point does: one
  * micro-lake catalog, a session registry over it, and the SQL gateway on
  * a local socket.
  */
final class Server(spark: SparkSession, dir: Path) {
  Files.createDirectories(dir)
  val catalog = new graft.sources.MutableCatalog(spark, dir)
  val registry = new graft.SessionRegistry(spark, catalog = Some(catalog))
  private val gateway = graft.SqlGateway.start(registry, new graft.Metrics(), identity)
  val url = s"http://127.0.0.1:${gateway.boundPort}"
  def client(): graft.HttpSqlClient = new graft.HttpSqlClient(url)
  def stop(): Unit = gateway.stop()
}

object Threads {
  /** Run `body(i)` on `n` threads and wait for all of them. */
  def run(n: Int, name: String)(body: Int => Unit): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until n).map { i =>
      val t = new Thread(() => try body(i) catch { case e: Throwable => errors.add(e) }, s"$name-$i")
      t.start(); t
    }
    ts.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }
}
