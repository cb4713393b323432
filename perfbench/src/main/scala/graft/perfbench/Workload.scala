package graft.perfbench

/** What one measured window produced, beyond the recorder's samples. */
final case class Window(rec: Recorder, jvm0: JvmSample, jvm1: JvmSample, extra: Map[String, Double])

/** One workload: a traffic mix with its own set-up and answer checks.
  * `setupServer` and `warmup` are the set-up a user of the server would
  * wait for; `prepareInputs` is the benchmark's own work (generating data
  * and reference answers) and is left out of `setup_s`.
  */
trait Workload {
  def name: String
  /** Op kinds that count as reads and as writes (for read_* / write_*). */
  def readKinds: Set[String] = Set.empty
  def writeKinds: Set[String] = Set.empty
  def prepareInputs(): Unit = ()
  def setupServer(): Unit
  def warmup(): Unit
  /** Ops this workload counts in ops_per_s. */
  def counted(kind: String): Boolean = true
  def window(arm: Arm, seconds: Double): Window
  /** Checks on the final state; a failed check counts against `rec`. */
  def finalCheck(rec: Recorder): Unit = ()
  /** Workload-specific end-to-end metrics over the measured window. */
  def extraMetrics(w: Window): Seq[Metric] = Nil
  def server: Server
  def close(): Unit = server.stop()

  /** Shared window frame: sample the JVM, run `body` with the window's
    * deadline, sample again. `body` returns the window's lake figures and
    * any workload-specific ones (see [[LakeStats]]).
    */
  protected def timed(seconds: Double)(body: (Recorder, Long) => Map[String, Double]): Window = {
    val rec = new Recorder
    val j0 = Jvm.sample()
    val deadline = j0.wallNs + (seconds * 1e9).toLong
    val extra = body(rec, deadline)
    Window(rec, j0, Jvm.sample(), extra)
  }
}

final case class Metric(name: String, value: Double, unit: String)
