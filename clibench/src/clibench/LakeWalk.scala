package clibench

import java.io.File

/** Lake counters read from outside the program, by a directory walk:
  * live data files and the partition dirs holding them, their bytes,
  * and the parts of the table's stats manifest. Underscore- and
  * dot-prefixed entries (staging, manifest, backups, checksums) are
  * never data.
  */
final case class LakeWalk(dataFiles: Long, partitionDirs: Long, dataBytes: Long,
    manifestParts: Long, files: Set[String]) {
  def fields: Seq[(String, Any)] = Seq("data_files" -> dataFiles,
    "partition_dirs" -> partitionDirs, "data_bytes" -> dataBytes,
    "manifest_parts" -> manifestParts)

  /** Data files present here but not in `before`, and their dirs. */
  def added(before: LakeWalk): (Int, Int) = {
    val fresh = files -- before.files
    (fresh.size, fresh.map(f => f.substring(0, f.lastIndexOf('/'))).size)
  }
}

object LakeWalk {
  private def hidden(f: File): Boolean =
    f.getName.startsWith("_") || f.getName.startsWith(".")

  def apply(tableDir: File): LakeWalk = {
    val files = Set.newBuilder[String]
    var n = 0L
    var bytes = 0L
    var dirs = 0L
    def walk(d: File): Unit = {
      val kids = Option(d.listFiles()).toSeq.flatten.filterNot(hidden)
      val data = kids.filter(f => f.isFile && f.getName.endsWith(".parquet"))
      if (data.nonEmpty) dirs += 1
      n += data.size
      bytes += data.map(_.length).sum
      data.foreach(f => files += f.getPath)
      kids.filter(_.isDirectory).foreach(walk)
    }
    if (tableDir.isDirectory) walk(tableDir)
    val manifest = Option(new File(tableDir, "_graft_manifest").listFiles()).toSeq.flatten
      .count(f => f.isFile && !f.getName.startsWith("."))
    LakeWalk(n, dirs, bytes, manifest, files.result())
  }
}
