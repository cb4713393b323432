package graft.perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** Lake-layer counters of one managed table over one window: live files,
  * compactions (drops in the live file count, observed after each
  * commit), published versions, bytes on disk and write amplification.
  */
final class LakeStats private (table: graft.sources.MutableTable) {
  private val dataDir = table.root.resolve("data")
  private val files0 = dataFiles.keySet
  private val version0 = table.currentVersion
  private var lastFiles = table.fileCount
  private var compactions = 0

  private def dataFiles: Map[String, Long] =
    if (!Files.exists(dataDir)) Map.empty
    else {
      val s = Files.list(dataDir)
      try s.iterator().asScala.map(p => p.getFileName.toString -> Files.size(p)).toMap
      finally s.close()
    }

  /** Call after a commit. */
  def observe(): Unit = synchronized {
    val n = table.fileCount
    if (n < lastFiles) compactions += 1
    lastFiles = n
  }

  /** Window-end figures. `userBytesWritten` is what clients wrote in the
    * window; `liveBytes` the user bytes of the rows now live.
    */
  def after(liveBytes: Long, userBytesWritten: Long): Map[String, Double] = synchronized {
    val newBytes = dataFiles.collect { case (f, b) if !files0.contains(f) => b }.sum
    val onDisk = Files2.treeBytes(table.root)
    Map(
      "files_live" -> table.fileCount.toDouble,
      "compactions" -> compactions.toDouble,
      "versions" -> (table.currentVersion - version0).toDouble,
      "bytes_on_disk" -> onDisk.toDouble,
      "write_amp" -> (if (userBytesWritten == 0) 0.0 else newBytes.toDouble / userBytesWritten),
      "space_amp" -> (if (liveBytes == 0) 0.0 else onDisk.toDouble / liveBytes))
  }
}

object LakeStats {
  def before(catalog: graft.sources.MutableCatalog, name: String): LakeStats =
    new LakeStats(catalog.get(name).getOrElse(throw new NoSuchElementException(name)))

  def metrics(w: Window): Seq[Metric] = Seq(
    Metric("lake.files_live", w.extra.getOrElse("files_live", 0.0), "count"),
    Metric("lake.compactions", w.extra.getOrElse("compactions", 0.0), "count"),
    Metric("lake.versions", w.extra.getOrElse("versions", 0.0), "count"),
    Metric("lake.bytes_on_disk", w.extra.getOrElse("bytes_on_disk", 0.0), "B"),
    Metric("lake.write_amp", w.extra.getOrElse("write_amp", 0.0), "ratio"))
}
