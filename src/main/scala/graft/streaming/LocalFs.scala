package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Spawn-free local file systems for checkpoint and sink I/O.
  *
  * Without Hadoop's native library (`libhadoop`, which the Spark
  * distribution does not ship) the stock local file system shells out:
  * `RawLocalFileSystem.setPermission` forks `chmod` for every file and
  * directory it creates, and `AbstractFileSystem.renameInternal` forks
  * `readlink` twice per rename through `getFileLinkStatus`. Every
  * Structured Streaming commit is a create-then-rename
  * (`CheckpointFileManager.createAtomic`): offsets, commits, state-store
  * deltas or changelogs with their `.crc` siblings, and the file sink's
  * `_spark_metadata` log. So each micro-batch paid a process per file,
  * each a fork and exec plus a Hadoop `Shell` stderr thread.
  *
  * The classes here answer both calls in-process and write the same
  * bytes: same files, same `.crc` siblings, same modes.
  *   - [[SpawnFreeRawLocalFileSystem]]: `RawLocalFileSystem` with the
  *     two calls overridden;
  *   - [[SpawnFreeLocalFs]]: the `AbstractFileSystem` (`FileContext`)
  *     binding, what checkpoint writers use; Hadoop's `LocalFs` over it;
  *   - [[SpawnFreeLocalFileSystem]]: the `FileSystem` binding, what
  *     parquet part files and `_temporary` directories use; Hadoop's
  *     `LocalFileSystem` over it.
  */
object LocalFs {
  /** Hadoop key naming the `AbstractFileSystem` of `file:` paths. It is
    * read afresh for every `FileContext` (no cache), so setting it in a
    * session's conf reaches every checkpoint writer the session starts.
    */
  val AbstractFsKey = "fs.AbstractFileSystem.file.impl"
  /** Hadoop's default binding of [[AbstractFsKey]] (core-default.xml). */
  val StockAbstractFs = "org.apache.hadoop.fs.local.LocalFs"

  /** Session-builder confs binding both local-file APIs to the
    * spawn-free classes. `fs.file.impl` goes through the JVM-wide
    * `FileSystem` cache, so it only takes effect on a session built
    * with it before any `file:` file system is created.
    */
  val SessionConfs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[SpawnFreeLocalFileSystem].getName,
    s"spark.hadoop.$AbstractFsKey" -> classOf[SpawnFreeLocalFs].getName)
}

/** `RawLocalFileSystem` without `chmod` and `readlink` processes. */
class SpawnFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** `Files.setPosixFilePermissions` for rwx-only modes: the same
    * `chmod(2)` the forked `chmod` makes, following links as it does.
    * Sticky, setuid and setgid bits take the stock path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))

  /** The stock call runs `readlink` on `Path.toString`, which for a
    * qualified path starts with `file:` and always fails, so it already
    * answers "not a link" and returns `getFileStatus`. Real links keep
    * the stock answer.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** Hadoop's `LocalFs` (checksummed `FileContext` binding for `file:`)
  * over [[SpawnFreeRawLocalFileSystem]]. The inner delegate mirrors
  * Hadoop's `RawLocalFs`, whose constructors are package-private.
  * `AbstractFileSystem.get` instantiates it through the `(URI,
  * Configuration)` constructor; the URI is always `file:///`.
  */
class SpawnFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new SpawnFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
      override def getUriDefaultPort: Int = -1
      // Checksum chunk size and buffer defaults, as ChecksumFs reads them.
      override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
      // Local file systems differ in what names they accept; let the OS decide.
      override def isValidName(src: String): Boolean = true
    })

/** Hadoop's `LocalFileSystem` (checksummed `FileSystem` binding for
  * `file:`) over [[SpawnFreeRawLocalFileSystem]].
  */
class SpawnFreeLocalFileSystem extends LocalFileSystem(new SpawnFreeRawLocalFileSystem)
