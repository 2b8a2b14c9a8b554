package graft

import java.net.URI
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Test-only filesystem for the `wrapfs` scheme: the local disk behind
  * a scheme Hadoop does not know. It is not a `LocalFileSystem` or
  * `RawLocalFileSystem` subclass, so `graft.sources.FileIO` takes its
  * generic branch on it. Paths must be absolute (`wrapfs:///tmp/x`).
  * Register it with [[WrappedLocalFs.registered]].
  *
  * Because every file operation of a table or index under `wrapfs://`
  * passes through here, tests observe and interleave the code under
  * test from outside it: the companion counts manifest-segment opens
  * and runs one-shot hooks at a lake commit's first publish step and at
  * a PQ index compaction's pointer check.
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

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (f.getName.startsWith("_seg-")) WrappedLocalFs.segmentOpens.incrementAndGet()
    raw.open(in(f), bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val n = f.getName
    if (n.startsWith("dv-") || n.startsWith("_tmp-manifest-"))
      WrappedLocalFs.fire(WrappedLocalFs.beforePublish)
    if (n.startsWith("_codes_current.tmp_"))
      WrappedLocalFs.pointerStaged.set(true)
    raw.create(in(f), permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream =
    raw.append(in(f), bufferSize, progress)
  override def rename(src: Path, dst: Path): Boolean = {
    if (src.getParent.getName.startsWith("_staging-") &&
        !dst.getParent.getName.startsWith("_staging-"))
      WrappedLocalFs.fire(WrappedLocalFs.beforePublish)
    raw.rename(in(src), in(dst))
  }
  override def delete(f: Path, recursive: Boolean): Boolean =
    raw.delete(in(f), recursive)
  override def listStatus(f: Path): Array[FileStatus] =
    raw.listStatus(in(f)).map(out)
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    raw.mkdirs(in(f), permission)
  override def getFileStatus(f: Path): FileStatus = {
    if (f.getName == "_codes_current" &&
        WrappedLocalFs.pointerStaged.getAndSet(false))
      WrappedLocalFs.fire(WrappedLocalFs.beforePointerCheck)
    out(raw.getFileStatus(in(f)))
  }
}

/** `FileContext` binding of the scheme, for callers that rename through
  * `FileContext` (the PQ index pointer swap). */
class WrappedLocalAfs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new WrappedLocalFs, conf,
      WrappedLocalFs.Scheme, false)

object WrappedLocalFs {
  val Scheme = "wrapfs"

  /** Opens of lake manifest segments (`_seg-*`) through this scheme. */
  val segmentOpens = new AtomicLong

  /** One-shot: runs at the first publish step of the next lake commit
    * on this scheme — a rename out of its `_staging-…` directory, or the
    * create of a deletion vector (`dv-…`) or of a manifest temp file
    * (`_tmp-manifest-…`). A test arms it before a snapshot-pinned
    * command to plant a concurrent commit inside the window between
    * the command's snapshot read and its manifest publish. */
  val beforePublish = new AtomicReference[Runnable]

  /** One-shot: runs at the first lookup of a PQ index's
    * `_codes_current` pointer after a `_codes_current.tmp_*` create —
    * the check-and-swap read `pqIndexCompact` makes just before it
    * publishes its staged pointer. */
  val beforePointerCheck = new AtomicReference[Runnable]
  private val pointerStaged = new AtomicBoolean

  private def fire(hook: AtomicReference[Runnable]): Unit =
    Option(hook.getAndSet(null)).foreach(_.run())

  /** Run `body` with the scheme registered on `spark`'s conf and on its
    * context's Hadoop conf (code that opens files through
    * `sparkContext.hadoopConfiguration` or `FileContext` sees it too);
    * the keys are unset afterwards. */
  def registered[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val keys = Seq(s"fs.$Scheme.impl" -> classOf[WrappedLocalFs].getName,
      s"fs.$Scheme.impl.disable.cache" -> "true",
      s"fs.AbstractFileSystem.$Scheme.impl" -> classOf[WrappedLocalAfs].getName)
    val hc = spark.sparkContext.hadoopConfiguration
    keys.foreach { case (k, v) => spark.conf.set(k, v); hc.set(k, v) }
    try body finally keys.foreach { case (k, _) =>
      spark.conf.unset(k)
      hc.unset(k)
    }
  }

  /** `wrapfs:` form of a local absolute path. */
  def uri(localDir: String): String = s"$Scheme://$localDir"
}
