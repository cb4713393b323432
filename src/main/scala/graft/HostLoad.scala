package graft

/** Host-load metering recorded with every benchmark run, so a noisy run
  * is visible: how many CPU cores did processes OUTSIDE this JVM burn
  * during a measurement window, and how much did the hypervisor steal?
  *
  * Loadavg (the obvious signal, and what the round-13 postmortem had to
  * lean on) is a 1-minute EWMA — it lags a 40 s window badly and mixes
  * this process's own work into the number. Direct accounting instead:
  * sample `utime+stime` jiffies from `/proc/<pid>/stat` for every pid
  * except our own, twice, and diff. Pids present in only one sample are
  * dropped (a vanished pid's total is unknowable, a fresh pid has no
  * baseline) — short-lived neighbors undercount slightly, which biases
  * toward "clean".
  */
object HostLoad {

  /** Linux USER_HZ — the /proc/stat jiffy unit is fixed at 100/s for
    * userspace-visible counters regardless of the kernel tick.
    */
  val UserHz = 100.0

  /** One sample: pid → cumulative CPU jiffies (utime+stime), excluding
    * `selfPid` (default: this JVM).
    */
  def sample(selfPid: Long = ProcessHandle.current().pid()): Map[Long, Long] = {
    val pids = Option(new java.io.File("/proc").listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.forall(_.isDigit)).map(_.getName.toLong)
    pids.filter(_ != selfPid).flatMap { pid =>
      try {
        val stat = java.nio.file.Files.readString(java.nio.file.Paths.get(s"/proc/$pid/stat"))
        parseStatJiffies(stat).map(pid -> _)
      } catch { case _: Throwable => None } // pid exited mid-scan
    }.toMap
  }

  /** utime+stime out of one /proc/<pid>/stat line. The comm field can
    * contain spaces and parentheses, so fields are taken AFTER the LAST
    * ')': state is token 0, utime/stime are tokens 11/12 (man proc(5)
    * fields 14/15).
    */
  private[graft] def parseStatJiffies(stat: String): Option[Long] = {
    val close = stat.lastIndexOf(')')
    if (close < 0 || close + 2 >= stat.length) return None
    val rest = stat.substring(close + 2).split(" ")
    if (rest.length < 13) return None
    try Some(rest(11).toLong + rest(12).toLong)
    catch { case _: NumberFormatException => None }
  }

  /** Average neighbor cores burned between two samples over `elapsedSec`.
    * Only pids present in both samples count; counter regressions (pid
    * reuse) clamp to zero rather than subtracting.
    */
  def externalCores(before: Map[Long, Long], after: Map[Long, Long],
      elapsedSec: Double): Double = {
    if (elapsedSec <= 0) return 0.0
    val jiffies = after.iterator.map { case (pid, v) =>
      before.get(pid) match {
        case Some(b) if v >= b => v - b
        case _ => 0L
      }
    }.sum
    jiffies / (elapsedSec * UserHz)
  }

  /** Cumulative hypervisor steal jiffies (field 8 after the "cpu"
    * label in /proc/stat: user nice system idle iowait irq softirq
    * STEAL); -1 when unavailable. Steal is the contamination neighbor
    * metering cannot see (r20: windows declined 13.5 → 6.8 req/s while
    * external CPU read clean — the hypervisor was taking ~2 cores).
    */
  def stealJiffies(): Long =
    try {
      val line = java.nio.file.Files.lines(java.nio.file.Paths.get("/proc/stat"))
        .filter(_.startsWith("cpu ")).findFirst().orElse("")
      val f = line.trim.split("\\s+")
      if (f.length >= 9) f(8).toLong else -1L
    } catch { case _: Throwable => -1L }

  /** Average cores' worth of hypervisor steal over the window (-1 when
    * the meter is unavailable).
    */
  def stealCores(before: Long, after: Long, elapsedSec: Double): Double =
    if (before < 0 || after < 0 || elapsedSec <= 0) -1.0
    else math.max(0L, after - before) / (elapsedSec * UserHz)
}
