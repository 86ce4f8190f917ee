package graft.fs

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with its two per-file shell commands
  * done in the JVM instead.
  *
  * Without the native `libhadoop` (Spark's distribution does not ship
  * it; every run logs "Unable to load native-hadoop library"), the stock
  * [[RawLocalFileSystem]] starts a child process for two routine calls:
  *   - `setPermission` runs `chmod`. Every file it creates gets one, and
  *     its `.crc` another, and so does every directory `mkdirs` makes.
  *   - `getFileLinkStatus` runs `readlink`. `FileContext.rename`, which
  *     Spark's streaming checkpoints and state stores commit through,
  *     calls it up to 8 times per rename.
  * On a 4-core host without `libhadoop` a `create` cost 10.5 ms and a
  * `FileContext` rename 37 ms, against 0.07 ms for the same write and
  * `chmod` through `java.nio`.
  *
  * This class overrides exactly those two methods; files, modes and
  * `.crc` files on disk come out the same. `src/main/resources/core-site.xml`
  * registers [[NioLocalFileSystem]] under `fs.file.impl` and [[NioLocalFs]]
  * under `fs.AbstractFileSystem.file.impl`, so every Hadoop `Configuration`
  * in a JVM with graft on its classpath resolves `file:` to them. A
  * deployment whose own `core-site.xml` comes first on the classpath gets
  * Hadoop's own resolution instead: the same results, with the child
  * processes kept. Adding the two keys to that file restores the saving.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` through `java.nio`. Bits above 0777 (the sticky bit), which
    * `PosixFilePermission` cannot express, and stores without POSIX
    * attributes go to Hadoop's own path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // OWNER_READ .. OTHERS_EXECUTE, most significant mode bit first
      for ((perm, i) <- PosixFilePermission.values.zipWithIndex
           if (mode & (1 << (8 - i))) != 0) perms.add(perm)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  /** A path that is not a symbolic link has its plain status, as in
    * Hadoop; only a real symlink takes Hadoop's `readlink` path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file:` [[org.apache.hadoop.fs.FileSystem]] (the stock
  * [[LocalFileSystem]]) over [[NioRawLocalFileSystem]].
  *
  * Without graft's `core-site.xml`, Hadoop's service loader resolves
  * `file:` to Hive's `ProxyLocalFileSystem` (Spark's Hive jars register
  * it after `LocalFileSystem`), whose one override refuses to rename onto
  * an existing file where the stock local rename replaces it. That
  * refusal is kept: it is Hadoop's rename contract, and the TxLog's
  * commit claim and checkpoint writes rename without replacing.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean =
    !isFile(dst) && super.rename(src, dst)
}

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]; its constructors
  * are package-private, so its four overrides are repeated here. */
class NioRawLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `file:` `AbstractFileSystem` behind `FileContext` (the
  * stock `LocalFs`) over [[NioRawLocalFs]]. Like `LocalFs`, it serves the
  * local URI whatever URI it is created for. */
class NioLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
