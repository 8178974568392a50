package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.BusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer tracing for the traced passes of a run. Three public listener
  * interfaces feed it: a `SparkListener` (jobs, stages, task metrics), a
  * `QueryExecutionListener` (Catalyst phases of every execution) and a
  * `StreamingQueryListener` (drains and their micro-batches). The driver
  * calls [[beginQuery]]/[[endQuery]] around each registry query; `endQuery`
  * drains the asynchronous listener bus, so every event is attributed to
  * the query that caused it.
  *
  * Counters accumulate per pass and are returned by [[endPass]]. Spans
  * (pass → query → build / analysis / optimization / planning / job →
  * stage, and drain → batch) stay in memory and are written by
  * [[writeSpans]] when the run ends. Listener callbacks arrive on the bus
  * threads, so all state is guarded by this object's monitor. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val counters = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val batchMs = mutable.ArrayBuffer[Double]()
  private val spans = mutable.ArrayBuffer[String]()
  // the counters each query of the pass added, for per-query layer shares
  private val queryCounters = mutable.LinkedHashMap[String, Map[String, Double]]()
  private var atQueryStart = Map.empty[String, Double]

  private var pass = -1
  private var query = ""        // the query whose events are arriving
  private var queryWall = 0.0   // Σ query wall seconds this pass
  private val jobStart = mutable.Map[Int, (String, Long)]()
  private val jobSpans = mutable.ArrayBuffer[(Long, Long)]() // current query
  private val stageJob = mutable.Map[Int, Int]()
  private final class Drain(val query: String, val startNs: Long) {
    var triggerMs = 0.0
    var stateRows = 0L
    var stateMem = 0L
  }
  private val drains = mutable.Map[java.util.UUID, Drain]()

  private def add(k: String, v: Double): Unit = counters(k) += v
  private def qid(q: String) = s"p$pass/q:$q"
  private def span(id: String, parent: String, kind: String, name: String,
      startMs: Long, endMs: Long, attrs: (String, Any)*): Unit =
    spans += Json(mutable.LinkedHashMap[String, Any]("id" -> id,
      "parent" -> parent, "kind" -> kind, "name" -> name,
      "start_ms" -> startMs, "end_ms" -> endMs) ++ attrs)

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      val q = props.flatMap(p => Option(p.getProperty(Main.QueryProp))).getOrElse(query)
      add("scheduler.jobs", 1)
      if (props.exists(p => p.getProperty(Main.PhaseProp) == "build"))
        add("operators.build_jobs", 1)
      jobStart(e.jobId) = (q, e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (q, t0) =>
        add("scheduler.job_s", (e.time - t0) / 1e3)
        if (q == query) jobSpans += ((t0, e.time))
        span(s"p$pass/j${e.jobId}", qid(q), "job", s"job ${e.jobId}", t0, e.time)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val i = e.stageInfo
        add("scheduler.stages", 1)
        span(s"p$pass/s${i.stageId}.${i.attemptNumber()}",
          stageJob.get(i.stageId).map(j => s"p$pass/j$j").getOrElse(qid(query)),
          "stage", i.name, i.submissionTime.getOrElse(0L),
          i.completionTime.getOrElse(0L), "tasks" -> i.numTasks)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      add("scheduler.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("executor.run_s", m.executorRunTime / 1e3)
        add("executor.cpu_s", m.executorCpuTime / 1e9)
        add("executor.gc_s", m.jvmGCTime / 1e3)
        add("executor.deserialize_s", m.executorDeserializeTime / 1e3)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("spill.memory_bytes", m.memoryBytesSpilled.toDouble)
        add("spill.disk_bytes", m.diskBytesSpilled.toDouble)
        add("sources.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("sources.input_rows", m.inputMetrics.recordsRead.toDouble)
        add("sources.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  private object plans extends AdaptiveSparkPlanHelper {
    def readsCache(p: SparkPlan): Boolean =
      find(p)(_.isInstanceOf[InMemoryTableScanExec]).isDefined
  }

  private val executions = new QueryExecutionListener {
    private def record(qe: QueryExecution, ok: Boolean): Unit = Tracer.this.synchronized {
      val n = counters("catalyst.executions").toLong
      add("catalyst.executions", 1)
      if (ok && plans.readsCache(qe.executedPlan)) add("cache.inmem_executions", 1)
      for ((phase, key) <- Seq("analysis" -> "catalyst.analysis_s",
          "optimization" -> "catalyst.optimization_s",
          "planning" -> "catalyst.planning_s");
          p <- qe.tracker.phases.get(phase)) {
        add(key, p.durationMs / 1e3)
        span(s"${qid(query)}/$phase#$n", qid(query), phase, phase,
          p.startTimeMs, p.endTimeMs)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe, ok = true)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe, ok = false)
  }

  private val streams = new StreamingQueryListener {
    import StreamingQueryListener._
    // delivered synchronously on the thread that starts the drain
    override def onQueryStarted(e: QueryStartedEvent): Unit = Tracer.this.synchronized {
      drains(e.runId) = new Drain(query, System.nanoTime())
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = Tracer.this.synchronized {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      val trigger = d.getOrElse("triggerExecution", 0.0)
      add("streaming.batches", 1)
      add("streaming.input_rows", p.numInputRows.toDouble)
      add("streaming.trigger_ms", trigger)
      for ((k, key) <- Seq("addBatch" -> "add_batch_ms",
          "queryPlanning" -> "query_planning_ms", "walCommit" -> "wal_commit_ms",
          "commitOffsets" -> "commit_offsets_ms", "latestOffset" -> "latest_offset_ms",
          "getBatch" -> "get_batch_ms"))
        add(s"streaming.$key", d.getOrElse(k, 0.0))
      batchMs += trigger
      drains.get(p.runId).foreach { dr =>
        dr.triggerMs += trigger
        dr.stateRows = p.stateOperators.map(_.numRowsTotal).sum
        dr.stateMem = p.stateOperators.map(_.memoryUsedBytes).sum
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        span(s"p$pass/b:${p.runId}:${p.batchId}", s"p$pass/d:${p.runId}", "batch",
          s"batch ${p.batchId}", start, start + trigger.toLong,
          "input_rows" -> p.numInputRows, "duration_ms" -> d)
      }
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = Tracer.this.synchronized {
      drains.remove(e.runId).foreach { dr =>
        val wallS = (System.nanoTime() - dr.startNs) / 1e9
        add("streaming.start_stop_s", wallS - dr.triggerMs / 1e3)
        add("streaming.state_rows", dr.stateRows.toDouble)
        add("streaming.state_mem_bytes", dr.stateMem.toDouble)
        val now = System.currentTimeMillis()
        span(s"p$pass/d:${e.runId}", qid(dr.query), "drain", dr.query,
          now - (wallS * 1e3).toLong, now)
      }
    }
  }

  /** Start listening for pass `p`, with fresh counters. */
  def beginPass(p: Int): Unit = {
    synchronized {
      pass = p; counters.clear(); batchMs.clear(); queryWall = 0.0
      queryCounters.clear()
    }
    sc.addSparkListener(jobs)
    spark.listenerManager.register(executions)
    spark.streams.addListener(streams)
  }

  def beginQuery(q: String): Unit = synchronized {
    query = q; jobSpans.clear(); atQueryStart = counters.toMap
  }

  /** Close query `q`, which ran from `startMs` to `endMs` (epoch ms);
    * `build` is the span of its registry builder call, when it had one.
    * The bus is drained first. */
  def endQuery(q: String, startMs: Long, endMs: Long, build: Option[(Long, Long)]): Unit = {
    BusAccess.drain(sc)
    synchronized {
      val wall = (endMs - startMs) / 1e3
      queryWall += wall
      add("scheduler.driver_gap_s", wall - Tracer.unionSeconds(jobSpans.toSeq, startMs, endMs))
      build.foreach { case (b0, b1) =>
        add("operators.build_s", (b1 - b0) / 1e3)
        span(s"${qid(q)}/build", qid(q), "build", q, b0, b1)
      }
      span(qid(q), s"p$pass", "query", q, startMs, endMs)
      queryCounters(q) = counters.toMap
        .map { case (k, v) => k -> (v - atQueryStart.getOrElse(k, 0.0)) }
        .filter(_._2 != 0.0)
    }
  }

  /** Stop listening and return the pass's counters and batch durations. */
  def endPass(startMs: Long, endMs: Long, cpus: Int): (Map[String, Double], Seq[Double]) = {
    BusAccess.drain(sc)
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(executions)
    spark.streams.removeListener(streams)
    synchronized {
      span(s"p$pass", "run", "pass", s"pass $pass", startMs, endMs)
      add("executor.busy_ratio",
        if (queryWall > 0) counters("executor.run_s") / (queryWall * cpus) else 0.0)
      add("sources.write_amp",
        if (counters("sources.input_bytes") > 0)
          counters("sources.output_bytes") / counters("sources.input_bytes") else 0.0)
      add("cache.inmem_scan_ratio",
        if (counters("catalyst.executions") > 0)
          counters("cache.inmem_executions") / counters("catalyst.executions") else 0.0)
      (counters.toMap, batchMs.toSeq)
    }
  }

  /** The counters each query of the current pass added, by query. */
  def perQuery: Map[String, Map[String, Double]] = synchronized { queryCounters.toMap }

  /** Write the span file: one JSON object a line, run span first. */
  def writeSpans(path: String, runSpan: String): Unit = synchronized {
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      (runSpan +: spans.toSeq).mkString("", "\n", "\n"))
  }
}

object Tracer {
  /** Seconds of [lo, hi] (epoch ms) covered by the union of `intervals`. */
  def unionSeconds(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    var covered = 0L
    var reach = lo
    for ((a, b) <- intervals.map { case (a, b) => (a max lo, b min hi) }.sorted
        if b > a) {
      if (b > reach) { covered += b - (a max reach); reach = b }
    }
    covered / 1e3
  }
}
