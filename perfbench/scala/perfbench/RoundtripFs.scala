package perfbench

import java.io.File

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}

/** The local file system with one directory moved: the registry's
  * text-format roundtrip queries write their fixtures under the fixed
  * path `/tmp/graft_roundtrip`, and the benchmark keeps every file it
  * writes inside its own work dir. Installed as `fs.file.impl`, this
  * maps that prefix to the directory named by the system property
  * `perfbench.roundtrip` and leaves every other path as it is.
  *
  * Files are reached through the moved path, but a listing or status
  * still names them by the path the caller used: Spark's file index
  * looks a directory's files up by the directory's own path. */
final class RoundtripRawFs extends RawLocalFileSystem {
  private val to = sys.props.getOrElse("perfbench.roundtrip",
    throw new IllegalStateException("perfbench.roundtrip is not set"))

  private def moved(path: Path): Option[String] = {
    val p = (if (path.isAbsolute) path else new Path(getWorkingDirectory, path))
      .toUri.getPath
    if (p == RoundtripFs.From || p.startsWith(RoundtripFs.From + "/"))
      Some(to + p.substring(RoundtripFs.From.length))
    else None
  }

  override def pathToFile(path: Path): File =
    moved(path).map(new File(_)).getOrElse(super.pathToFile(path))

  // listStatus builds each child's status from the listed path, so it
  // keeps the caller's names through this method too
  override def getFileStatus(f: Path): FileStatus = {
    val st = super.getFileStatus(f)
    if (moved(f).isEmpty) st
    else new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, makeQualified(f))
  }
}

final class RoundtripFs extends LocalFileSystem(new RoundtripRawFs)

object RoundtripFs {
  val From = "/tmp/graft_roundtrip"
}
