package loadbench

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}

/** Local filesystem that redirects the engine's fixed development cache
  * directories (store, stream-store and table copies that the engine keeps
  * under its source tree's `target/`) into the benchmark's own work
  * directory, so a run reads and writes only inside its checkout and starts
  * from an empty cache. Configured through `fs.file.impl` (core-site.xml)
  * with the prefixes in `-Dloadbench.remap.from` (comma-separated) and the
  * destination in `-Dloadbench.remap.to`. */
class RemapRawFs extends RawLocalFileSystem {
  override def pathToFile(p: Path): java.io.File = RemapFs.remap(super.pathToFile(p))

  // statuses keep the caller's (logical) path, so partition discovery and
  // base-path checks never see the redirected location
  private def relabel(s: FileStatus, logical: Path): FileStatus = {
    s.setPath(makeQualified(logical)); s
  }
  override def getFileStatus(f: Path): FileStatus = relabel(super.getFileStatus(f), f)
  override def getFileLinkStatus(f: Path): FileStatus = relabel(super.getFileLinkStatus(f), f)
  override def listStatus(f: Path): Array[FileStatus] = {
    val q = makeQualified(f)
    val dir = super.getFileStatus(f).isDirectory
    super.listStatus(f).map(s => relabel(s, if (dir) new Path(q, s.getPath.getName) else q))
  }
}

class RemapLocalFs extends LocalFileSystem(new RemapRawFs)

object RemapFs {
  private lazy val from: Seq[String] =
    sys.props.getOrElse("loadbench.remap.from", "").split(',').map(_.trim)
      .filter(_.nonEmpty).map(_.stripSuffix("/")).toSeq
  private lazy val to: String = sys.props.getOrElse("loadbench.remap.to", "")

  def remap(f: java.io.File): java.io.File = {
    val p = f.getPath
    from.find(pre => p == pre || p.startsWith(pre + "/")) match {
      case Some(pre) if to.nonEmpty => new java.io.File(to + p.substring(pre.length))
      case _ => f
    }
  }
}
