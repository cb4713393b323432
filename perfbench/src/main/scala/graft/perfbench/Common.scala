package graft.perfbench

import java.nio.file.{Files, Path}

/** SplitMix64: a small, fast generator whose whole state is one long, so
  * a seed fixes every op stream the benchmark generates.
  */
final class SplitMix(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Uniform in [0, n). */
  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  def nextLong(n: Long): Long = java.lang.Long.remainderUnsigned(nextLong(), n)
}

object SplitMix {
  /** Independent stream for one purpose (terminal, writer, table) under one seed. */
  def derive(seed: Long, stream: Long): SplitMix = {
    val g = new SplitMix(seed ^ (stream * 0xD6E8FEB86659FD93L))
    g.nextLong()
    g
  }
}

/** Latency samples of one op kind, in milliseconds. */
final class Samples {
  private val xs = scala.collection.mutable.ArrayBuffer.empty[Double]
  def add(ms: Double): Unit = synchronized { xs += ms }
  def values: Array[Double] = synchronized(xs.toArray)
  def size: Int = synchronized(xs.size)
}

object Stats {
  /** Nearest-rank percentile of unsorted values; NaN when empty. */
  def pct(values: Array[Double], p: Double): Double = {
    if (values.isEmpty) return Double.NaN
    val s = values.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }

  /** The tail percentile to report: p95 when at least ten samples lie
    * beyond it, otherwise the highest percentile (in whole points) that
    * still has ten samples beyond it. Returns (percentile, value).
    */
  def tail(values: Array[Double]): (Int, Double) = {
    val n = values.length
    val p = (95 to 50 by -1).find(q => n * (100 - q) / 100.0 >= 10).getOrElse(50)
    (p, pct(values, p / 100.0))
  }
}

object Json {
  def str(s: String): String = graft.SqlGateway.jstr(s)

  /** A double with every digit, or null when it is not a number. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Files2 {
  /** Total bytes of regular files under `p`. */
  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val walk = Files.walk(p)
    try {
      var n = 0L
      walk.forEach(x => if (Files.isRegularFile(x)) n += Files.size(x))
      n
    } finally walk.close()
  }
}
