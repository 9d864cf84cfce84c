package graft.store

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem of the engine, registered for both Hadoop APIs in
  * `src/main/resources/core-site.xml`: `fs.file.impl` ->
  * [[NioLocalFileSystem]] (FileSystem: parquet reads and writes, the
  * stream's sink and file source) and `fs.AbstractFileSystem.file.impl` ->
  * [[NioLocalFs]] (FileContext: Spark's checkpoint manager, state store
  * and metadata logs).
  *
  * Without libhadoop the stock `RawLocalFileSystem` forks `chmod` for every
  * file and directory it creates and `readlink` for every link check of a
  * rename, about 3.6 ms a process on a 4-core host (NOTES.md, "Child
  * processes of the local filesystem"). These classes do the same work
  * through `java.nio` and fall back to the stock method wherever
  * `java.nio` might not give the stock result: a mode with bits
  * beyond rwx (sticky), a store without POSIX attributes, an I/O error
  * (the stock call then raises its own), and a path that is a symlink.
  * Data files, `.crc` files and modes are the stock ones.
  *
  * Hadoop reads only the first `core-site.xml` on the classpath: a
  * deployment that ships its own must copy the two properties into it, or
  * it gets the stock (forking) classes back. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    val done = (mode & ~0x1ff) == 0 && (try {
      Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.bits(mode))
      true
    } catch { case _: IOException | _: UnsupportedOperationException => false })
    if (!done) super.setPermission(p, permission)
  }

  /** The stock method runs `readlink` on `new File(f.toString)` and returns
    * `getFileStatus(f)` when that is no link. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val plain = try !Files.isSymbolicLink(new File(f.toString).toPath)
      catch { case _: InvalidPathException => false }
    if (plain) getFileStatus(f) else super.getFileLinkStatus(f)
  }
}

object NioRawLocalFileSystem {
  private val Order = Array(OTHERS_EXECUTE, OTHERS_WRITE, OTHERS_READ,
    GROUP_EXECUTE, GROUP_WRITE, GROUP_READ, OWNER_EXECUTE, OWNER_WRITE, OWNER_READ)

  /** The POSIX permission set of the low nine bits of `mode`. */
  private def bits(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- Order.indices if (mode & (1 << i)) != 0) s.add(Order(i))
    s
  }
}

/** `fs.file.impl`: `FileSystem.getLocal` casts to `LocalFileSystem`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (a `ChecksumFs`
  * over `RawLocalFs`) with [[NioRawLocalFileSystem]] underneath. `uri` is
  * unused, as in `LocalFs`: `AbstractFileSystem` looks up a constructor of
  * this shape. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioLocalFs.Raw(conf))

object NioLocalFs {
  /** Hadoop's `RawLocalFs`, whose constructors are package-private. */
  final class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}

/** Whether a Hadoop configuration registers the classes above for `file:`. */
object LocalFs {

  /** None when both Hadoop APIs resolve `file:` to these classes under
    * `conf`; otherwise a report naming both `core-site.xml` properties and
    * what each resolves to. Resolving loads classes but creates no
    * filesystem. */
  def report(conf: Configuration): Option[String] = {
    def name(c: => Class[_]): String =
      try Option(c).fold("nothing")(_.getName)
      catch { case e: Exception => s"an error (${e.getMessage})" }
    val found = Seq(
      ("fs.file.impl", classOf[NioLocalFileSystem],
        name(FileSystem.getFileSystemClass("file", conf))),
      ("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs],
        name(conf.getClass("fs.AbstractFileSystem.file.impl", null))))
    if (found.forall { case (_, want, got) => want.getName == got }) None
    else Some("the file: filesystem is not graft.store's, so every chmod and " +
      "readlink of a local write starts a child process; another core-site.xml " +
      "earlier on the classpath must carry both properties: " +
      found.map { case (k, want, got) => s"$k=${want.getName} (resolves to $got)" }
        .mkString(", "))
  }
}
