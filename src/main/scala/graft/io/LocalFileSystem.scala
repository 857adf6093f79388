package graft.io

import java.io.File
import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's raw local filesystem without a child process per file.
  *
  * Without the native Hadoop library (`libhadoop.so`), stock
  * `RawLocalFileSystem` starts a process for two routine calls:
  *  - `setPermission` runs `chmod` on every file create and every
  *    mkdir (a checksummed file is two creates: data and `.crc`);
  *  - `getFileLinkStatus` runs `readlink`, which `FileContext.rename`
  *    calls on both ends of every rename, so every offset, commit and
  *    state-store delta a streaming query checkpoints pays for two.
  *
  * This class answers both from the JDK. `setPermission` calls
  * `Files.setPosixFilePermissions` when the mode has only rwx bits; it
  * defers to the stock method for a sticky bit, for a directory that
  * carries setuid or setgid (a 4-digit `chmod` keeps those, the JDK
  * call would clear them), where the native library is loaded, and
  * where the filesystem has no POSIX attribute view.
  * `getFileLinkStatus` defers to the stock method only when the file it
  * would `readlink` is a symbolic link; for any other path that method
  * returns `getFileStatus(f)` unchanged, since `readlink` prints nothing.
  *
  * Wiring: `src/main/resources/core-site.xml` names [[LocalFileSystem]]
  * as `fs.file.impl` and [[LocalFs]] as `fs.AbstractFileSystem.file.impl`,
  * so every Hadoop `Configuration` in a JVM with the engine on its
  * classpath uses them: the mains, the test JVMs and the benchmark.
  * Hadoop loads the FIRST `core-site.xml` its class loader finds. A
  * deployment whose `HADOOP_CONF_DIR` (or `SPARK_CONF_DIR`) holds one
  * and sits ahead of the engine on the classpath keeps the stock
  * classes: the same results, one process per file. `spark-submit`
  * puts those conf dirs on the JVM classpath ahead of the application
  * jar, so the same rule holds under it. Where the stock classes win,
  * add the two properties to the deployment's `core-site.xml` or pass
  * them as `spark.hadoop.fs.file.impl=graft.io.LocalFileSystem` and
  * `spark.hadoop.fs.AbstractFileSystem.file.impl=graft.io.LocalFs`.
  */
class ForklessRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xfff
    val file = pathToFile(p).toPath
    try
      if (NativeIO.isAvailable || mode > 0x1ff || keepsSpecialBits(file))
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(file, rwx(mode))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  // PosixFilePermission lists OWNER_READ .. OTHERS_EXECUTE, high bit first
  private def rwx(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values.toSeq.zipWithIndex
      .collect { case (b, i) if (mode & (0x100 >> i)) != 0 => b }.toSet.asJava

  /** A directory with setuid or setgid: `chmod 0755` leaves those set. */
  private def keepsSpecialBits(file: NioPath): Boolean = {
    val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
    (mode & 0xf000) == 0x4000 && (mode & 0xc00) != 0 // S_IFDIR, S_ISUID | S_ISGID
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    // the stock method reads the link of exactly this file
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local `FileSystem` over
  * [[ForklessRawLocalFileSystem]].
  */
class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem(new ForklessRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` binding Spark's
  * checkpoint manager uses: Hadoop's `local.LocalFs` over
  * [[ForklessRawLocalFileSystem]]. Hadoop's `LocalFs` and `RawLocalFs`
  * constructors are package-private and build a stock
  * `RawLocalFileSystem`, so this repeats them. Spark's
  * `CheckpointFileManager.isLocal` matches Hadoop's `LocalFs` class and
  * reads false here; nothing in Spark 4.1 calls it.
  */
class LocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new RawLocalFs(conf))

/** Hadoop's `local.RawLocalFs`, over [[ForklessRawLocalFileSystem]]. */
private class RawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new ForklessRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
