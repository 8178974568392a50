package graft

import org.scalatest.funsuite.AnyFunSuite

/** ConfScope's contract for every named scope: the body plans under the
  * scope's values, and every key comes back as it was — its prior value,
  * or unset — whether the body returns or throws. */
class ConfScopeSpec extends AnyFunSuite {

  // a valid prior value for each key that differs from every scope's value
  private val priorValue = Map(
    "spark.sql.shuffle.partitions" -> "3",
    "spark.sql.adaptive.enabled" -> "true")

  for ((name, confs) <- Seq("State" -> ConfScope.State,
      "Merge" -> ConfScope.Merge, "Fixpoint" -> ConfScope.Fixpoint,
      "NoAdaptive" -> ConfScope.NoAdaptive))
    test(s"ConfScope.$name sets its confs and restores each key after a " +
        "normal exit and after a throw, unsetting keys that were unset") {
      val s = TestSpark.spark.newSession()
      val keys = confs.map(_._1)
      for (priorSet <- Seq(true, false); throws <- Seq(false, true)) {
        val cse = s"prior ${if (priorSet) "set" else "unset"}, " +
          s"body ${if (throws) "throws" else "returns"}"
        keys.foreach { k =>
          if (priorSet) s.conf.set(k, priorValue(k)) else s.conf.unset(k)
        }
        val before = keys.map(k => k -> s.conf.getAll.get(k))
        var seen = Seq.empty[(String, String)]
        val body = () => {
          seen = keys.map(k => k -> s.conf.get(k))
          if (throws) throw new IllegalStateException("body failed")
        }
        if (throws) intercept[IllegalStateException](ConfScope(s, confs)(body()))
        else ConfScope(s, confs)(body())
        assert(seen == confs, cse)
        val after = keys.map(k => k -> s.conf.getAll.get(k))
        assert(after == before, cse)
        if (!priorSet) assert(after.forall(_._2.isEmpty), cse)
      }
    }

  test("no conf.set / conf.unset under src/main/scala outside ConfScope " +
      "and the two documented Tables nanos lines") {
    val setOrUnset = "conf\\.(set|unset)".r
    val hits = new scala.collection.mutable.ArrayBuffer[String]
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles.foreach(walk)
      else if (f.getName.endsWith(".scala") && f.getName != "ConfScope.scala") {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().zipWithIndex.foreach { case (line, i) =>
          if (setOrUnset.findFirstIn(line).isDefined)
            hits += s"${f.getName}:${i + 1}: ${line.trim}"
        } finally src.close()
      }
    val root = new java.io.File("src/main/scala")
    assert(new java.io.File(root, "graft/ConfScope.scala").isFile)
    walk(root)
    val (nanos, bad) = hits.partition(h => h.startsWith("Tables.scala:") &&
      h.endsWith("""s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")"""))
    assert(bad.isEmpty, s"conf writes outside ConfScope: $bad")
    assert(nanos.size == 2, s"expected the two Tables nanos lines: $nanos")
  }
}
