package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, PathFilter,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** Hadoop's checksummed `file:` file system (`.crc` sidecars written
  * and verified exactly as by the stock `LocalFileSystem`) over a raw
  * file system that sets modes without forking a process.
  *
  * Without `libhadoop`, the stock `RawLocalFileSystem` runs a `chmod`
  * shell for every file and directory it creates. [[GraftSession]]
  * names this class as `fs.file.impl`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` sets the same mode bits
  * through `java.nio`. Modes NIO cannot express (the sticky bit) and
  * file stores without POSIX attributes fall back to the stock shell
  * path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs OWNER_READ .. OTHERS_EXECUTE, i.e. bits 0400 .. 0001
      PosixFilePermission.values().zipWithIndex.foreach { case (perm, i) =>
        if ((mode & (0x100 >> i)) != 0) perms.add(perm)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }
}

/** Streaming checkpoint file manager that
  * `spark.sql.streaming.checkpointFileManagerClass` names.
  *
  * `file:` paths get Spark's `FileSystemBasedCheckpointFileManager`
  * over a private [[NioLocalFileSystem]]: temp file plus rename, no
  * `FileContext`. The stock `FileContext` rename resolves the
  * destination with `getFileLinkStatus`, which forks `readlink` per
  * file without `libhadoop`. The file system instance bypasses Hadoop's
  * `FileSystem` cache, whose key ignores `fs.file.impl`: a stock
  * instance cached before the session started would otherwise be
  * returned. Every other scheme gets exactly what Spark builds without
  * this setting.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager = {
    val conf = new Configuration(hadoopConf)
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file") {
      conf.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
      conf.setBoolean("fs.file.impl.disable.cache", true)
      new FileSystemBasedCheckpointFileManager(path, conf)
    } else {
      conf.unset(LocalCheckpointFileManager.ClassKey)
      CheckpointFileManager.create(path, conf)
    }
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path) = delegate.open(p)
  override def list(p: Path, filter: PathFilter) = delegate.list(p, filter)
  override def list(p: Path) = delegate.list(p)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {
  val ClassKey = "spark.sql.streaming.checkpointFileManagerClass"
}
