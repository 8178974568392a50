package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VersionedTable

/** The versioned-table layout: pointer-relative retention, and that no
  * other main source knows the layout. */
class VersionedTableSpec extends AnyFunSuite {
  import TestSpark._

  private def newRoot(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString + "/t"

  private def publishIds(root: String, ids: Long*): Long =
    VersionedTable.publish(spark, root) { (prev, dir) =>
      import spark.implicits._
      ids.toDF("id").write.mode("overwrite").parquet(dir)
      VersionedTable.next(prev)
    }

  private def ids(root: String, v: Long): Set[Long] =
    VersionedTable.read(spark, root, v).collect().map(_.getLong(0)).toSet

  test("vacuum prunes relative to the pointer: an orphan past it never " +
      "pushes the published version out of the kept window") {
    val root = newRoot("vt_vacuum")
    (0L to 2L).foreach(v => assert(publishIds(root, v, v + 10) == v))
    // a crash after the v3 snapshot write, before the pointer move
    intercept[IllegalStateException] {
      VersionedTable.publish(spark, root) { (_, dir) =>
        import spark.implicits._
        Seq(3L).toDF("id").write.mode("overwrite").parquet(dir)
        throw new IllegalStateException("crash before the pointer move")
      }
    }
    assert(VersionedTable.current(spark, root).contains(2L))
    assert(VersionedTable.vacuum(spark, root, keep = 1) == Seq(0L, 1L))
    assert(VersionedTable.current(spark, root).contains(2L))
    assert(VersionedTable.readCurrent(spark, root).collect()
      .map(_.getLong(0)).toSet == Set(2L, 12L))
    // the orphan is left for the replay to overwrite
    assert(ids(root, 3L) == Set(3L))
    intercept[org.apache.spark.sql.AnalysisException](ids(root, 1L))
    // a replayed publish lands on the orphan's number and overwrites it
    assert(publishIds(root, 4L) == 3L)
    assert(ids(root, 3L) == Set(4L))
  }

  test("no _VERSION literal or version-directory path under src/main/scala " +
      "outside VersionedTable.scala") {
    // `_VERSION`, a "/v$n" path interpolation, or the "v\\d+" listing
    // pattern: each would be a second copy of the layout. A quoted "v$r"
    // with no separator before it is an SQL name (gr_lpa's round CTEs),
    // not a path
    val layout = """_VERSION|/v\$[{A-Za-z]|"v\\\\d""".r
    val hits = new scala.collection.mutable.ArrayBuffer[String]
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles.foreach(walk)
      else if (f.getName.endsWith(".scala") &&
          f.getName != "VersionedTable.scala") {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().zipWithIndex.foreach { case (line, i) =>
          if (layout.findFirstIn(line).isDefined)
            hits += s"${f.getName}:${i + 1}: ${line.trim}"
        } finally src.close()
      }
    val root = new java.io.File("src/main/scala")
    val own = new java.io.File(root, "graft/sources/VersionedTable.scala")
    assert(own.isFile)
    // the pattern must see the module's own layout code, or it scans for
    // nothing
    val ownSrc = scala.io.Source.fromFile(own, "UTF-8")
    val ownLines = try ownSrc.getLines().toList finally ownSrc.close()
    assert(ownLines.exists(l => l.contains("\"_VERSION\"")) &&
      ownLines.exists(l => layout.findFirstIn(l.replace("_VERSION", "")).isDefined))
    walk(root)
    assert(hits.isEmpty, s"version layout outside VersionedTable: $hits")
  }
}
