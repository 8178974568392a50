package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Job-level profile of a registry query — the measurement companion to
  * PlanSurvey (which shows the plan SHAPE): how many Spark jobs one timed
  * execution runs and where the wall-clock goes, for queries whose cost is
  * a ladder of small jobs (iterative fixpoints, streaming drains, staged
  * publishes) rather than one big scan. Mirrors Bench's timing contract:
  * eager builders are rebuilt inside the timed region, shared-build memos
  * are reset first.
  *
  * Usage: sbt "runMain graft.QueryProf [sfDir] name1,name2,..."
  */
object QueryProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(Seq("dd_components_incr"))
    // ad-hoc conf overrides for A/B runs: QUERYPROF_CONF="k=v;k2=v2"
    val spark = sys.env.get("QUERYPROF_CONF").map(_.split(";").toSeq)
      .getOrElse(Seq.empty)
      .foldLeft(SparkEntry.localSession("32")) { (acc, kv) =>
        val Array(k, v) = kv.split("=", 2); acc.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    case class Job(id: Int, site: String, start: Long, var end: Long = -1)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.put(js.jobId, Job(js.jobId,
          Option(js.properties.getProperty("callSite.short")).getOrElse(""),
          js.time))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val j = jobs.get(je.jobId); if (j != null) j.end = je.time
      }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm pass: plan once, run once (janino/JIT absorbed, PREP spools built)
      val df0 = fn(spark, sfDir)
      df0.count()
      CacheRegistry.passReset()
      System.gc()
      jobs.clear()
      val t0 = System.nanoTime()
      val df = if (SparkEntry.eagerQueries(name)) fn(spark, sfDir) else df0
      df.count()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events are async — give the bus a moment to drain
      Thread.sleep(300)
      import scala.jdk.CollectionConverters._
      val done = jobs.values.asScala.toSeq.sortBy(_.start)
      val covered = done.filter(_.end > 0).map(j => (j.end - j.start) / 1e3)
      println(f"\n== $name%s wall=$wall%.2f s jobs=${done.size}%d " +
        f"jobTimeSum=${covered.sum}%.2f s")
      done.foreach { j =>
        val d = if (j.end > 0) (j.end - j.start) / 1e3 else -1.0
        println(f"  job ${j.id}%4d ${d}%8.3f s  ${j.site}%s")
      }
    }
    CacheRegistry.releaseAll()
    spark.stop()
  }
}
