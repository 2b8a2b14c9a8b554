package graft.sources

import java.nio.file.{Files, NoSuchFileException, NotDirectoryException, Path => NPath, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, FileSystem, LocalFileSystem, Path => HPath, RawLocalFileSystem}

/** How graft code creates files and directories on a Hadoop
  * filesystem, and lists the names in a directory. Every `create` and
  * `mkdirs` in `src/main` goes through here; reads, renames and deletes
  * stay on the `FileSystem`.
  *
  * Why the local branch exists: without Hadoop's native library
  * (`NativeIO.isAvailable()` false, as with a plain Spark tarball),
  * `RawLocalFileSystem` sets the permission of every file it creates
  * and every directory it makes by forking `chmod` through Hadoop's
  * `Shell`, and `LocalFileSystem` also writes a `.crc` sidecar for
  * each file, which forks again. A lake commit writes a few dozen
  * small files, so those forks, not the bytes, were most of its write
  * time. When `f` is a `LocalFileSystem` or `RawLocalFileSystem`, these
  * helpers use `java.nio.file` instead; any other filesystem gets the
  * same `create` / `mkdirs` / `listStatus` calls as before.
  *
  * What the local branch keeps:
  *  - `create(…, overwrite = false)` on an existing path throws
  *    Hadoop's `FileAlreadyExistsException` (an exclusive create, so
  *    two racing creators cannot both win);
  *  - missing parent directories are made;
  *  - a sibling `.<name>.crc` is deleted before the first byte is
  *    written, so a checksummed read never verifies new bytes against
  *    an old checksum. `ChecksumFileSystem` reads a file that has no
  *    `.crc` unverified, and its `rename` drops a stale destination
  *    `.crc`.
  *
  * The one visible difference: new files and directories take the
  * process umask, not Hadoop's `fs.permissions.umask-mode`. Both
  * default to 022 (files 644, directories 755).
  */
object FileIO {
  /** The local filesystem, with or without its checksum wrapper. */
  def isLocal(f: FileSystem): Boolean =
    f.isInstanceOf[LocalFileSystem] || f.isInstanceOf[RawLocalFileSystem]

  /** `p` on the local disk; `f` must be [[isLocal]]. A relative `p`
    * resolves against `f`'s working directory, as Hadoop's does. */
  def localPath(f: FileSystem, p: HPath): NPath = (f match {
    case c: LocalFileSystem => c.pathToFile(p)
    case r: RawLocalFileSystem => r.pathToFile(p)
    case other => throw new IllegalArgumentException(
      s"${other.getClass.getName} is not a local filesystem")
  }).toPath

  private def makeDirs(d: NPath): Unit =
    try Files.createDirectories(d) catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new FileAlreadyExistsException(
          s"Destination exists and is not a directory: $d")
    }

  /** `f.create(p, overwrite)`, parents included. */
  def create(f: FileSystem, p: HPath,
      overwrite: Boolean): FSDataOutputStream =
    if (!isLocal(f)) f.create(p, overwrite)
    else {
      val np = localPath(f, p)
      Option(np.getParent).foreach(makeDirs)
      val opts =
        if (overwrite) Seq(StandardOpenOption.CREATE,
          StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE)
        else Seq(StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      val os = try Files.newOutputStream(np, opts: _*) catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"File already exists: $p")
      }
      try Files.deleteIfExists(np.resolveSibling(s".${np.getFileName}.crc"))
      catch { case e: Throwable => os.close(); throw e }
      new FSDataOutputStream(new java.io.BufferedOutputStream(os), null)
    }

  /** `f.mkdirs(p)`, parents included. */
  def mkdirs(f: FileSystem, p: HPath): Unit =
    if (isLocal(f)) makeDirs(localPath(f, p)) else f.mkdirs(p)

  /** The names of `dir`'s entries, in no order; `Nil` when `dir` does
    * not exist (on the local branch, also when it is a file). Names
    * only: the local branch stats no entry, and it does not hide `.crc`
    * sidecars as `ChecksumFileSystem.listStatus` does, so callers match
    * the names they want. */
  def names(f: FileSystem, dir: HPath): Seq[String] =
    if (!isLocal(f)) {
      if (!f.exists(dir)) Nil
      else f.listStatus(dir).toSeq.map(_.getPath.getName)
    } else {
      val ds = try Files.newDirectoryStream(localPath(f, dir)) catch {
        case _: NoSuchFileException | _: NotDirectoryException => return Nil
      }
      try ds.iterator.asScala.map(_.getFileName.toString).toVector
      finally ds.close()
    }
}
