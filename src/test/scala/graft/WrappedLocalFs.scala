package graft

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Test-only filesystem for the `wrapfs` scheme: the local disk behind
  * a scheme Hadoop does not know. It is not a `LocalFileSystem` or
  * `RawLocalFileSystem` subclass, so `graft.sources.FileIO` takes its
  * generic branch on it. Paths must be absolute (`wrapfs:///tmp/x`).
  * Register it through the session conf, with the cache off so every
  * lookup goes through the conf it is given:
  * {{{
  *   spark.conf.set("fs.wrapfs.impl", classOf[WrappedLocalFs].getName)
  *   spark.conf.set("fs.wrapfs.impl.disable.cache", "true")
  * }}}
  */
class WrappedLocalFs extends FileSystem {
  private val raw = new RawLocalFileSystem()

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    raw.initialize(URI.create("file:///"), conf)
  }

  private def in(p: Path): Path = new Path("file", null, p.toUri.getPath)
  private def out(st: FileStatus): FileStatus = {
    st.setPath(new Path(WrappedLocalFs.Scheme, null,
      st.getPath.toUri.getPath))
    st
  }

  override def getScheme: String = WrappedLocalFs.Scheme
  override def getUri: URI = URI.create(s"${WrappedLocalFs.Scheme}:///")
  override def getWorkingDirectory: Path =
    new Path(s"${WrappedLocalFs.Scheme}:///")
  override def setWorkingDirectory(dir: Path): Unit = ()

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    raw.open(in(f), bufferSize)
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    raw.create(in(f), permission, overwrite, bufferSize, replication,
      blockSize, progress)
  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream =
    raw.append(in(f), bufferSize, progress)
  override def rename(src: Path, dst: Path): Boolean =
    raw.rename(in(src), in(dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    raw.delete(in(f), recursive)
  override def listStatus(f: Path): Array[FileStatus] =
    raw.listStatus(in(f)).map(out)
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    raw.mkdirs(in(f), permission)
  override def getFileStatus(f: Path): FileStatus =
    out(raw.getFileStatus(in(f)))
}

object WrappedLocalFs {
  val Scheme = "wrapfs"

  /** Run `body` with the scheme registered on `spark`'s conf; the two
    * keys are unset afterwards. */
  def registered[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val keys = Seq(s"fs.$Scheme.impl" -> classOf[WrappedLocalFs].getName,
      s"fs.$Scheme.impl.disable.cache" -> "true")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally keys.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** `wrapfs:` form of a local absolute path. */
  def uri(localDir: String): String = s"$Scheme://$localDir"
}
