package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The versioned-table layout, and the only code that knows it: a root
  * holds one immutable directory per version (`v0/`, `v1/`, …) and a
  * `_VERSION` pointer file naming the published one. The upsert table
  * ([[UpsertTable]]), the component labels and IVF index the streaming
  * maintenance drains keep, and LlmOps's shingle artifact all live on it.
  *
  * A writer stages the next version in full, then moves the pointer
  * ([[publish]]); readers only ever follow the pointer or name a version
  * (AS OF), so they see a complete version or the one before it, and a
  * crashed write leaves an unreachable orphan directory that the replay
  * overwrites. Everything goes through the Hadoop FileSystem of the root
  * (the [[Maintenance.compactParquet]] rule), so the same code runs on
  * HDFS and object stores, not just the local filesystem.
  */
object VersionedTable {

  /** The directory of version `v` under `root`. */
  def dir(root: String, v: Long): String = s"$root/v$v"

  /** The version after `prev` (v0 when nothing is published). */
  def next(prev: Option[Long]): Long = prev.fold(0L)(_ + 1)

  /** The published version, or None if nothing has been published yet. */
  def current(s: SparkSession, root: String): Option[Long] = {
    val ptr = new Path(root, "_VERSION")
    val fs = ptr.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(ptr)) None
    else {
      val in = fs.open(ptr)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      Some(txt.trim.stripPrefix("v").toLong)
    }
  }

  /** The snapshot at version `v` (an AS-OF read): versions are never
    * rewritten once published, so it stays readable until [[vacuum]]
    * prunes it. A `schema` skips the footer inference that would
    * otherwise re-read a parquet footer on the driver per read — for
    * callers that wrote every version themselves. */
  def read(s: SparkSession, root: String, v: Long,
      schema: Option[StructType] = None): DataFrame =
    schema.map(s.read.schema(_)).getOrElse(s.read).parquet(dir(root, v))

  /** The snapshot the pointer names. */
  def readCurrent(s: SparkSession, root: String): DataFrame =
    read(s, root, current(s, root).getOrElse(
      sys.error(s"no published version under $root")))

  /** Write and publish the next version: `write(prev, nextDir)` gets the
    * published version (None on an empty root) and the directory to fill,
    * and the pointer moves to it only after `write` returns. The next
    * version is pointer + 1, never a caller's batch id, so a restart with
    * a fresh checkpoint can never overwrite the snapshot it reads from.
    * Anything `write` stages under `nextDir` under a `_` name (Hadoop's
    * hidden-file filter keeps it out of snapshot reads) commits with the
    * version: a crash before the pointer move loses both, and the replay
    * overwrites both — so `write` must write with mode "overwrite".
    *
    * The pointer move is an atomic write of `_VERSION` through
    * [[CheckpointFiles]], the manager every drain checkpoints with: a
    * temp file renamed onto the pointer. On HDFS and object stores that
    * is `FileContext.rename(OVERWRITE)`; on a local file system it is
    * `FileSystem.rename`, because without libhadoop the FileContext
    * rename forked a `readlink` per link check and the create a `chmod`
    * (384 and 96 forks per `--full` stream_drains benchmark run).
    * It is atomic on HDFS and local filesystems; on object stores without
    * atomic rename (e.g. S3A) the rename is copy+delete, a small
    * torn-pointer window — front the pointer with a rename-capable store
    * there, the caveat every pointer-file table layout carries. */
  def publish[T](s: SparkSession, root: String)(
      write: (Option[Long], String) => T): T = {
    val prev = current(s, root)
    val v = next(prev)
    val out = write(prev, dir(root, v))
    val rootPath = new Path(root)
    val os = new CheckpointFiles(rootPath, s.sparkContext.hadoopConfiguration)
      .createAtomic(new Path(rootPath, "_VERSION"), overwriteIfPossible = true)
    try os.write(s"v$v".getBytes("UTF-8"))
    catch { case e: Throwable => os.cancel(); throw e }
    os.close()
    out
  }

  /** Retention: delete every version older than the newest `keep`
    * published ones, counted back from the POINTER — the job that ends a
    * version's AS-OF readability and reclaims the storage immutable
    * snapshots otherwise accumulate. The published version is always
    * kept, and so is any directory past it (a crashed write's orphan, or
    * a concurrent writer's version not yet published), so readers of the
    * pointer are never affected; an AS-OF reader of a pruned version
    * sees a missing directory, the contract a real table format's VACUUM
    * has. Returns the pruned versions. */
  def vacuum(s: SparkSession, root: String, keep: Int): Seq[Long] = {
    require(keep >= 1, "must keep at least the current version")
    val cur = current(s, root).getOrElse(
      sys.error(s"no published version under $root"))
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val prune = fs.listStatus(rootPath).toSeq
      .filter(f => f.isDirectory && f.getPath.getName.matches("v\\d+"))
      .map(_.getPath.getName.stripPrefix("v").toLong)
      .filter(_ <= cur).sorted.dropRight(keep)
    prune.foreach(v => fs.delete(new Path(dir(root, v)), true))
    prune
  }
}
