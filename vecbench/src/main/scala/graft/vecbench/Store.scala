package graft.vecbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The store root, listed from outside the facade. */
object Store {
  /** The changelogs a merge-on-read fold reads. */
  val Logs = Seq("chunks_log", "libraries_log", "documents_log")

  final case class Listing(bytes: Long, files: Int, logFiles: Int)

  def list(root: Path): Listing = {
    def files(p: Path): Seq[Path] =
      if (!Files.isDirectory(p)) Seq.empty
      else {
        val s = Files.walk(p)
        try s.iterator().asScala.filter(f => Files.isRegularFile(f)).toList finally s.close()
      }
    val all = files(root)
    val logs = Logs.flatMap(l => files(root.resolve(l)))
      .count(_.getFileName.toString.endsWith(".parquet"))
    Listing(all.map(f => Files.size(f)).sum, all.length, logs)
  }
}
