package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{CheckpointFiles, Tables}
import graft.streaming.Drain

/** The drains' checkpoint manager leaves the checkpoint Spark's default
  * manager leaves, and its chmod sets the modes the shell chmod sets. */
class CheckpointFilesSpec extends AnyFunSuite {
  import TestSpark._

  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val Uuid =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** Every path under `root` (relative, UUID segments masked) with its
    * POSIX mode, sorted. */
  private def tree(root: String): Seq[(String, String)] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try walk.iterator().asScala.filter(_ != base).map { p =>
      Uuid.replaceAllIn(base.relativize(p).toString, "<uuid>") ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toSeq.sorted
    finally walk.close()
  }

  test("a drain leaves the checkpoint Spark's default manager leaves: the " +
      "same files, .crc and checksum sidecars, and modes") {
    val default = Files.createTempDirectory("ckpt_default").toString
    val drained = Files.createTempDirectory("ckpt_drain").toString
    // the manager each run's batches planned under
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val record = (batch: DataFrame, _: Long) => {
      seen.add(batch.sparkSession.conf.getOption(ManagerKey).getOrElse("default"))
      batch.collect() // runs the batch, so its state store commits
      ()
    }
    def counts = Tables.tableStream(spark, sf, "events")
      .groupBy("event_type").count()
    assert(spark.conf.getOption(ManagerKey).isEmpty)
    ConfScope(spark, ConfScope.State) {
      counts.writeStream.foreachBatch(record).outputMode("complete")
        .option("checkpointLocation", default)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    val defaultSeen = seen.asScala.toSet
    seen.clear()
    Drain.eachBatch(spark, drained, counts, ConfScope.State, "complete")(record)
    assert(defaultSeen == Set("default"))
    assert(seen.asScala.toSet == Set(classOf[CheckpointFiles].getName))
    val (a, b) = (tree(default), tree(drained))
    // state-store files, Hadoop's hidden .crc files and Spark's checksum
    // files (`1.delta.crc`) are all there to compare
    val names = a.map(_._1.split('/').last)
    assert(a.exists(_._1.startsWith("state/")) &&
      names.exists(n => n.startsWith(".") && n.endsWith(".crc")) &&
      names.exists(n => !n.startsWith(".") && n.endsWith(".crc")),
      s"not a stateful checkpoint with sidecars: $a")
    assert(a == b)
  }

  test("the in-process chmod sets the mode Hadoop's shell chmod sets, and " +
      "falls back to the shell where group and other differ") {
    val dir = Files.createTempDirectory("chmod")
    val conf = spark.sparkContext.hadoopConfiguration
    val shell = new RawLocalFileSystem
    val inProcess = new CheckpointFiles.InProcessChmod
    Seq(shell, inProcess).foreach(_.initialize(dir.toUri, conf))
    // java.io sets a bit for the owner or for everybody, so 0640 (group
    // r, other none) is reachable only through the shell fallback
    for (mode <- Seq("644", "755", "700", "640");
         start <- Seq("rwxrwxrwx", "---------")) {
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      def chmod(fs: RawLocalFileSystem, tag: String): String = {
        val f = Files.createFile(dir.resolve(s"$tag-$mode-$start"))
        Files.setPosixFilePermissions(f, PosixFilePermissions.fromString(start))
        fs.setPermission(new Path(f.toUri), perm)
        PosixFilePermissions.toString(Files.getPosixFilePermissions(f))
      }
      val cse = s"mode $mode from $start"
      assert(chmod(shell, "shell") == perm.toString, cse)
      assert(chmod(inProcess, "in-process") == perm.toString, cse)
    }
  }
}
