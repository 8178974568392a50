package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

import graft.{CacheRegistry, SparkEntry}

/** Closed-loop benchmark driver: one client runs a workload's registry
  * queries in sequence, in one JVM, and writes a raw run record (JSON) for
  * `perfbench/run.py` to reduce.
  *
  * Timing follows `graft.Bench`: eager builders are rebuilt inside the
  * timed region, `CacheRegistry.passReset()` and a GC precede every pass,
  * and an untimed cold pass comes first. Unlike Bench, the timed call
  * computes the whole result — a row count plus an order-insensitive hash
  * of every output column — so Catalyst cannot prune columns, and the same
  * fingerprint is the correctness check.
  *
  * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --out RECORD.json [--spans SPANS.jsonl] [--cpus N] [--full 0|1]
  */
object Main {
  val QueryProp = "graftbench.query"
  val PhaseProp = "graftbench.phase"
  val PipelineRuns = 3

  /** Row count, xor and high-word sum of a 64-bit hash of every row: equal
    * for equal multisets of rows, whatever the partitioning or order. */
  def fingerprint(df: DataFrame): String = {
    // positional names: registry outputs may repeat a column name
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.columns.toSeq.map(col)
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h")).agg(count(lit(1)),
      coalesce(bit_xor(col("h")), lit(0L)),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L))).head()
    s"${r.getLong(0)}:${r.getLong(1).toHexString}:${r.getLong(2).toHexString}"
  }

  private def opts(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value, got ${other.mkString(" ")}")
    }.toMap

  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        new java.io.File(System.getProperty("java.io.tmpdir"), "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Heap used after full GCs. The second GC frees what the cleaners
    * released after the first (broadcasts, shuffle dependencies). */
  private def heapUsedMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def main(args: Array[String]): Unit = {
    val o = opts(args)
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val data = o("data")
    val cpus = o.get("cpus").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

    val problems = Workloads.partitionErrors(SparkEntry.queries.keySet)
    require(problems.isEmpty, problems.mkString("workloads do not partition the registry: ", "; ", ""))
    require(Workloads.members.contains(workload), s"unknown workload $workload")
    val full = o.get("full").contains("1")
    val names = Workloads.sample(workload, full)
    val builders = SparkEntry.queries
    val eager = SparkEntry.eagerQueries

    // Set-up, timed from JVM start: a session plus every lazy builder of the
    // workload constructed. An eager builder's construction is the graded
    // work, so it happens inside every pass instead.
    val spark = session(cpus)
    val plans = names.filterNot(eager).map { n =>
      n -> (try Right(builders(n)(spark, data))
            catch { case NonFatal(e) => Left(s"plan: $e") })
    }.toMap
    val setupS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val sc = spark.sparkContext
    val tracer = if (traced) Some(new Tracer(spark)) else None

    final case class Sample(secs: Double, fp: Either[String, String])
    def runQuery(n: String, tr: Option[Tracer]): Sample = {
      sc.setLocalProperty(QueryProp, n)
      tr.foreach(_.beginQuery(n))
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var build: Option[(Long, Long)] = None
      val fp = try {
        val df =
          if (eager(n)) {
            sc.setLocalProperty(PhaseProp, "build")
            val b0 = System.currentTimeMillis()
            val d = builders(n)(spark, data)
            build = Some((b0, System.currentTimeMillis()))
            d
          } else plans(n).fold(e => throw new IllegalStateException(e), identity)
        sc.setLocalProperty(PhaseProp, "exec")
        Right(fingerprint(df))
      } catch { case NonFatal(e) => Left(s"run: $e") }
      val secs = (System.nanoTime() - t0) / 1e9
      tr.foreach(_.endQuery(n, w0, System.currentTimeMillis(), build))
      sc.setLocalProperty(PhaseProp, null)
      sc.setLocalProperty(QueryProp, null)
      fp.left.foreach(e => System.err.println(s"[perfbench] $n failed: $e"))
      Sample(secs, fp)
    }

    // One pass: reset shared builds, GC, run every query in a seed-derived
    // order, and record per-query samples, wall, heap and layer counters.
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    def runPass(p: Int, traceThis: Boolean): Unit = {
      // The cold pass runs in name order: its first query pays the JVM's
      // first-use costs, and that share must not depend on the seed.
      val order =
        if (p == 0) names else new scala.util.Random(seed * 1000003L + p).shuffle(names)
      val r0 = System.nanoTime()
      CacheRegistry.passReset()
      val resetS = (System.nanoTime() - r0) / 1e9
      val heapMb = heapUsedMb()
      val active = tracer.filter(_ => traceThis)
      active.foreach(_.beginPass(p))
      val w0 = System.currentTimeMillis()
      val samples = order.map(n => n -> runQuery(n, active)).toMap
      val w1 = System.currentTimeMillis()
      val layers = active.map { t =>
        val (c, batches) = t.endPass(w0, w1, cpus)
        Map("counters" -> (c ++ Map(
            "cache_registry.pass_reset_s" -> resetS,
            "cache_registry.tracked" -> CacheRegistry.trackedCount.toDouble,
            "cache.stored_mb" -> sc.getRDDStorageInfo
              .map(i => i.memSize + i.diskSize).sum / 1e6)),
          "batch_ms" -> batches,
          "per_query" -> t.perQuery)
      }
      passes += Map("pass" -> p, "traced" -> traceThis, "wall_s" -> (w1 - w0) / 1e3,
        "heap_before_mb" -> heapMb,
        "order" -> order,
        "seconds" -> samples.map { case (n, s) => n -> s.secs },
        "errors" -> samples.collect { case (n, Sample(_, Left(e))) => n -> e },
        "fingerprints" -> samples.collect { case (n, Sample(_, Right(f))) => n -> f },
        "layers" -> layers)
    }

    // Cold pass: untimed for the suite, reported as cold_pass_s; codegen
    // and JIT counters are taken across it.
    val jit = ManagementFactory.getCompilationMXBean
    val (compiles0, compileNs0, jit0) =
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime,
        jit.getTotalCompilationTime)
    val c0 = System.nanoTime()
    runPass(0, traceThis = false)
    val coldS = (System.nanoTime() - c0) / 1e9
    val cold = Map(
      "codegen.compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble,
      "codegen.compile_s" -> (CodeGenerator.compileTime - compileNs0) / 1e9,
      "jvm.jit_s" -> (jit.getTotalCompilationTime - jit0) / 1e3)

    // The workload's fixed number of timed passes. `seconds` is only a
    // ceiling: once it has gone by, no further pass starts (after the first
    // two). A traced run alternates untraced and traced passes, so the
    // tracing overhead is measured in the same JVM.
    val planned = Workloads.passes(workload)
    val t0 = System.nanoTime()
    var p = 1
    while (p <= planned && (p <= 2 || (System.nanoTime() - t0) / 1e9 < seconds)) {
      runPass(p, traceThis = traced && p % 2 == 0)
      p += 1
    }
    if (p <= planned)
      System.err.println(s"[perfbench] the ${seconds}s ceiling cut the run to ${p - 1} timed passes")
    val heapAfterLastMb = heapUsedMb()
    // The pipeline again, back to back: within a pass its time swings with
    // whatever ran before it, so pipeline_s also takes these samples.
    val pipelineRuns = Seq.fill(PipelineRuns)(runQuery(Workloads.pipeline(workload), None))

    val spansPath = o.get("spans")
    for (t <- tracer; path <- spansPath)
      t.writeSpans(path, Json(Map("id" -> "run", "kind" -> "workload", "name" -> workload,
        "seed" -> seed)))
    CacheRegistry.releaseAll()
    spark.stop()

    val runtime = ManagementFactory.getRuntimeMXBean
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> traced, "cpus" -> cpus,
      "data" -> data, "full" -> full, "members" -> Workloads.members(workload).size,
      "queries" -> names, "eager" -> names.filter(eager),
      "sample" -> Workloads.sample(workload, full = false), "passes_planned" -> planned,
      "pipeline" -> Workloads.pipeline(workload),
      "jvm_flags" -> runtime.getInputArguments.toArray.toSeq.map(_.toString),
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "setup_s" -> setupS, "cold_pass_s" -> coldS, "cold_layers" -> cold,
      "plan_errors" -> plans.collect { case (n, Left(e)) => n -> e },
      "passes" -> passes, "heap_after_last_mb" -> heapAfterLastMb,
      "pipeline_runs" -> pipelineRuns.map(r => Map("seconds" -> r.secs,
        "fingerprint" -> r.fp.toOption, "error" -> r.fp.left.toOption)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o("out")), Json(record))
  }
}
