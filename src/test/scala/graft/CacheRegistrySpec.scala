package graft

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** CacheRegistry owns every shared build: a canonical plan is registered
  * once, and each memo is cleared with its declared lifetime. */
class CacheRegistrySpec extends AnyFunSuite {
  import TestSpark._

  test("a plan already cached gets no second registration; memos clear " +
      "with their lifetime") {
    CacheRegistry.releaseAll()
    def frame = spark.range(10).selectExpr("id * 7 AS x")
    val first = CacheRegistry.materialize(frame)
    CacheRegistry.materialize(frame)
    CacheRegistry.materializeShared(frame)
    assert(CacheRegistry.trackedCount == 1)

    val prep = CacheRegistry.memo[Int, Int](CacheRegistry.Prep)
    val perPass = CacheRegistry.memo[Int, Int](CacheRegistry.PerPass)
    var builds = 0
    def build(): Int = { builds += 1; builds }
    // a build may call another memo
    assert(prep(1)(perPass(1)(build())) == 1)
    CacheRegistry.passReset()
    assert(prep(1)(build()) == 1)
    assert(perPass(1)(build()) == 2)
    assert(CacheRegistry.trackedCount == 1)
    CacheRegistry.releaseAll()
    assert(prep(1)(build()) == 3)
    assert(first.storageLevel == StorageLevel.NONE)
    assert(CacheRegistry.trackedCount == 0)
  }

  test("rebuilding every eager query between pass resets registers no new " +
      "frame after the first pass") {
    CacheRegistry.releaseAll()
    val counts = (1 to 3).map { _ =>
      CacheRegistry.passReset()
      SparkEntry.eagerQueries.toSeq.sorted
        .foreach(n => SparkEntry.queries(n)(spark, sf))
      CacheRegistry.trackedCount
    }
    CacheRegistry.releaseAll()
    // pass 1 may track more: a PREP memo's build registers per-pass frames
    // once (the stored labels' fixpoint rounds)
    assert(counts.sliding(2).forall(p => p(1) <= p(0)),
      s"trackedCount after each pass: $counts")
  }

  test("no TrieMap or ConcurrentHashMap keyed by SparkSession under " +
      "src/main/scala outside CacheRegistry") {
    val sessionMap =
      """(TrieMap|ConcurrentHashMap)\s*\[\s*\(?\s*[\w.]*SparkSession\b""".r
    val hits = new scala.collection.mutable.ArrayBuffer[String]
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles.foreach(walk)
      else if (f.getName.endsWith(".scala") && f.getName != "CacheRegistry.scala") {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        val text = try src.mkString finally src.close()
        sessionMap.findAllMatchIn(text).foreach { m =>
          hits += s"${f.getName}:${text.take(m.start).count(_ == '\n') + 1}: ${m.matched}"
        }
      }
    val root = new java.io.File("src/main/scala")
    assert(new java.io.File(root, "graft/CacheRegistry.scala").isFile)
    walk(root)
    assert(hits.isEmpty, s"session-keyed maps outside CacheRegistry: $hits")
  }
}
