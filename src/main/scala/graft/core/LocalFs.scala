package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without a child process per file.
  *
  * Without libhadoop (the common case for a Spark driver started from plain
  * jars: "Unable to load native-hadoop library"), `RawLocalFileSystem`
  * shells out for two calls that every checkpoint file makes: `chmod` in
  * [[setPermission]] on each create and mkdir, and `readlink` in
  * [[getFileLinkStatus]], which `FileContext.rename` calls on source,
  * destination and parent. Each state-store delta, offset-log and
  * commit-log entry of a streaming micro-batch therefore started several
  * processes. A JFR recording of one fluvii EOS catch-up run of the
  * repository benchmark (`perfbench`, 4-core VM) counted 5192 `readlink`
  * and 1331 `chmod` process starts; without them the per-batch state-store
  * commit p50 fell from about 270 ms to 13 ms.
  *
  * This subclass keeps every other code path of `RawLocalFileSystem` and
  * answers the two calls in-process:
  *   - `setPermission` through `Files.setPosixFilePermissions`, falling back
  *     to the stock path for the sticky bit (not expressible as a
  *     `PosixFilePermission`) or a filesystem without a POSIX view;
  *   - `getFileLinkStatus` as `getFileStatus` unless the path is a symbolic
  *     link, which goes to the stock path. For a non-link the stock path's
  *     `readlink` prints `""` and it returns `getFileStatus` too, so the
  *     answers are identical.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    if (permission.getStickyBit ||
        Files.getFileAttributeView(path, classOf[PosixFileAttributeView]) == null) {
      super.setPermission(p, permission)
    } else {
      // PosixFilePermission's declaration order is owner r/w/x, group
      // r/w/x, others r/w/x: ordinal i is mode bit 8 - i.
      val mode = permission.toShort
      val perms = PosixFilePermission.values.filter(x => (mode & (1 << (8 - x.ordinal))) != 0)
      Files.setPosixFilePermissions(path, perms.toSet.asJava)
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `FileSystem` API's `file:` scheme (`fs.file.impl`): Hadoop's
  * checksummed `LocalFileSystem` over [[ForkFreeRawLocalFileSystem]], so
  * `.crc` sidecars are written and verified exactly as before. Parquet and
  * other `FileSystem`-based writes go through it. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem) {

  /** Refuses to rename onto an existing file, as the class it replaces
    * does: with Spark's Hive jars on the classpath, Hadoop's service loader
    * resolves `file:` to Hive's `ProxyLocalFileSystem`, whose one change to
    * `LocalFileSystem` is this check (HDFS's rename contract). */
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

/** The `AbstractFileSystem` API's `file:` scheme
  * (`fs.AbstractFileSystem.file.impl`), which Spark's
  * `FileContextBasedCheckpointFileManager` uses for the state store and the
  * offset and commit logs: Hadoop's `LocalFs` (a `ChecksumFs` over
  * `RawLocalFs`) rebuilt over [[ForkFreeRawLocalFileSystem]]. Its rename
  * stays the atomic `FileContext` rename with `.crc` sidecars. Hadoop
  * instantiates it reflectively through the `(URI, Configuration)`
  * constructor. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

/** `RawLocalFs` over [[ForkFreeRawLocalFileSystem]] (`RawLocalFs` cannot be
  * subclassed outside its package): the same four overrides. */
private[core] class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  // local filesystems differ in their name rules; the OS enforces them
  override def isValidName(src: String): Boolean = true
}
