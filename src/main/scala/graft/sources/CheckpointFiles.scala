package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, FileUtil,
  LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager every drain writes its checkpoint with
  * (`spark.sql.streaming.checkpointFileManagerClass`, set by
  * [[graft.streaming.Drain]]), and the one [[VersionedTable.publish]] moves
  * its pointer with.
  *
  * Without libhadoop, Hadoop's local file system forks a shell for every
  * chmod, and `FileContext.rename(OVERWRITE)` forks a `readlink` for every
  * link check. Spark's default manager pays both on every offsets, commits,
  * source-log, schema, metadata and state-store file: about 100 forks per
  * drain run, 2,127 per stream_drains benchmark run. One atomic write
  * (create, write, close) took 26.6 ms through Spark's default manager,
  * 5.6 ms through the plain `FileSystemBasedCheckpointFileManager` (its
  * chmod forks) and 0.40 ms through this one (medians of 200, 4-core VM).
  *
  * So on a Hadoop `LocalFileSystem` this is Spark's
  * `FileSystemBasedCheckpointFileManager` (rename through `FileSystem`, no
  * link check) over a local file system whose chmod is Hadoop's own
  * `FileUtil.setPermission(File, FsPermission)`: java.io where the group
  * and other bits agree (the umasked 0644 files and 0755 directories), the
  * shell otherwise, so every mode is what the shell chmod would set. Writes
  * are still temp file plus rename, with `.crc` sidecars written and
  * verified. Any other file system (HDFS, object stores) gets Spark's
  * default `FileContextBasedCheckpointFileManager` unchanged.
  */
class CheckpointFiles(path: Path, conf: Configuration)
    extends CheckpointFileManager {

  private val fm: CheckpointFileManager = path.getFileSystem(conf) match {
    case local: LocalFileSystem =>
      val inProcess = new LocalFileSystem(new CheckpointFiles.InProcessChmod)
      inProcess.setConf(conf)
      inProcess.initialize(local.getUri, conf)
      new FileSystemBasedCheckpointFileManager(path, conf) {
        override protected val fs: FileSystem = inProcess
      }
    case _ => new FileContextBasedCheckpointFileManager(path, conf)
  }

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    fm.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = fm.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    fm.list(p, filter)
  override def mkdirs(p: Path): Unit = fm.mkdirs(p)
  override def exists(p: Path): Boolean = fm.exists(p)
  override def delete(p: Path): Unit = fm.delete(p)
  override def isLocal: Boolean = fm.isLocal
  override def createCheckpointDirectory(): Path = fm.createCheckpointDirectory()
  override def close(): Unit = fm.close()
}

object CheckpointFiles {

  /** The raw local file system with Hadoop's java.io chmod, which forks
    * only for a mode java.io cannot express (group ≠ other). */
  class InProcessChmod extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      FileUtil.setPermission(pathToFile(p), permission)
  }
}
