package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem of every graft session: Hadoop's checksummed
  * local filesystem without a process fork per file.
  *
  * Without `libhadoop`, `RawLocalFileSystem.setPermission` runs `chmod` as
  * a child process, and every `mkdirs` and `create` calls it: each data
  * file, `.crc` sidecar, marker and output-committer `_temporary` level
  * (about 53 forks per pipeline day).
  *
  *  - Permissions: [[LocalFs.Raw]] applies the same bits, already
  *    umask-applied by the caller, through `java.nio`. Bits a POSIX
  *    permission set cannot express (setuid, setgid, sticky) and a file
  *    store without POSIX attributes go to Hadoop's own path.
  *  - Checksums: the raw filesystem is wrapped in `LocalFileSystem`, so
  *    `.crc` sidecars are written and verified as before.
  *  - Rename: the `file:` filesystem this replaces is Hive's
  *    `ProxyLocalFileSystem` (hive-exec's service file registers it after
  *    Hadoop's), and its one override is kept: `rename` onto an existing
  *    file returns false instead of replacing it.
  *  - `FileContext`: Hadoop's other client API (Structured Streaming's
  *    checkpoint file manager uses it) does not go through the `FileSystem`
  *    cache; its `file:` filesystem is [[LocalFs.Context]], the same raw
  *    filesystem behind the same checksum layer.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw) {
  override def rename(src: Path, dst: Path): Boolean =
    !Files.isRegularFile(pathToFile(dst).toPath) && super.rename(src, dst)
}

object LocalFs {

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

    /** Hadoop's form runs `readlink` as a child process to learn whether
      * `f` is a symlink (`FileContext` asks on every rename); a path that
      * is none is its own link status.
      */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** The `file:` `AbstractFileSystem` of `FileContext`: [[Raw]] wrapped as
    * Hadoop's own `local.LocalFs` wraps `RawLocalFileSystem`, checksums
    * included. `FileContext` instantiates it reflectively, once per context.
    */
  class Context(uri: URI, conf: Configuration) extends ChecksumFs(new RawContext(uri, conf))

  class RawContext(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1 // as Hadoop's RawLocalFs: file:/// has no port
  }

  /** OWNER_READ (0400) down to OTHERS_EXECUTE (0001), in mode-bit order. */
  private val Perms = PosixFilePermission.values.toSeq

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Perms.zipWithIndex.foreach { case (perm, i) => if ((mode & (0x100 >> i)) != 0) set.add(perm) }
    set
  }

  /** Make [[LocalFs]] the `file:` filesystem of `conf` and of the JVM-wide
    * filesystem cache, which serves every later `file:` lookup whatever
    * its configuration, and [[Context]] the `file:` filesystem of every
    * `FileContext` built from `conf` or a copy of it. A cached instance of
    * another class is evicted (closed) once; when graft's is already cached
    * this is a lookup.
    */
  def install(conf: Configuration): Unit = {
    for ((key, impl) <- Seq("fs.file.impl" -> classOf[LocalFs],
        "fs.AbstractFileSystem.file.impl" -> classOf[Context]))
      if (conf.get(key) != impl.getName) conf.set(key, impl.getName)
    val cached = FileSystem.getLocal(conf)
    if (!cached.isInstanceOf[LocalFs]) {
      cached.close()
      FileSystem.getLocal(conf)
      ()
    }
  }
}
