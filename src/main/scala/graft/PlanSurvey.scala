package graft

import org.apache.spark.sql.execution.FormattedMode

/** Physical-plan inspection of the graded queries (SURVEY.md §4). With no
  * query names: a one-line fingerprint per registry query — the data
  * source for PlanShapeSpec's pinned invariants. With names: each named
  * query's `explain("formatted")`, then the same line. Flags: join
  * strategy chosen, parquet filter pushdown, shuffle presence,
  * whole-stage-codegen presence.
  *
  * Usage: sbt "runMain graft.PlanSurvey [sfDir] [queryName ...]"
  */
object PlanSurvey {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.drop(1).toSeq
    val spark = SparkEntry.localSession("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val queries = SparkEntry.queries
    (if (names.isEmpty) queries.keys.toSeq.sorted else names).foreach { n =>
      try {
        val df = queries(n)(spark, sfDir)
        if (names.nonEmpty)
          println(s"\n========== $n ==========\n" +
            df.queryExecution.explainString(FormattedMode))
        df.collect() // finalize AQE so the executed plan is the real one
        val p = df.queryExecution.executedPlan.toString
        val flags = Seq(
          "CARTESIAN" -> p.contains("CartesianProduct"),
          "BNLJ" -> p.contains("BroadcastNestedLoopJoin"),
          "BHJ" -> p.contains("BroadcastHashJoin"),
          "SMJ" -> p.contains("SortMergeJoin"),
          "SHJ" -> p.contains("ShuffledHashJoin"),
          "PUSH" -> "PushedFilters: \\[[^\\]]".r.findFirstIn(p).isDefined,
          "EXCH" -> p.contains("Exchange"),
          "WSCG" -> p.contains("*("))
        println(f"$n%-26s ${flags.collect { case (f, true) => f }.mkString(",")}")
      } catch { case e: Throwable => println(s"$n FAIL ${e.getClass.getSimpleName}") }
    }
    graft.CacheRegistry.releaseAll()
    spark.stop()
  }
}
