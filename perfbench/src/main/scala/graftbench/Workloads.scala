package graftbench

import graft.operators._
import graft.streaming.StreamingGraded

/** The benchmark's workloads. Membership is read from the registry modules,
  * never from a hand-kept list: a query added to a module joins its
  * workload automatically, and [[partitionErrors]] fails the run if the
  * workloads stop covering `SparkEntry.queries` exactly. */
object Workloads {
  /** (workload, registry module, the module's query names). */
  val modules: Seq[(String, String, Set[String])] = Seq(
    // CMDB sync/ETL surface: fixed per-query planning, codegen, scheduling
    ("cmdb_batch", "CoreRelational", CoreRelational.queries.keySet),
    ("cmdb_batch", "TemporalOps", TemporalOps.queries.keySet),
    ("cmdb_batch", "WindowedAnalytics", WindowedAnalytics.queries.keySet),
    // LLM corpus preparation: iterative shuffle-heavy shared builds
    ("llm_corpus", "LlmOps", LlmOps.queries.keySet),
    ("llm_corpus", "Lsh", Lsh.queries.keySet),
    ("llm_corpus", "TrainingPipeline", TrainingPipeline.queries.keySet),
    // AvailableNow drains rebuilt every pass: per-micro-batch fixed cost
    ("stream_drains", "StreamingGraded", StreamingGraded.queries.keySet))

  val members: Map[String, Set[String]] =
    modules.groupMapReduce(_._1)(_._3)(_ ++ _)

  /** Each workload's composed pipeline, timed as `pipeline_s`. */
  val pipeline: Map[String, String] = Map(
    "cmdb_batch" -> "i11_sync_pipeline",
    "llm_corpus" -> "pp_end_to_end",
    "stream_drains" -> "i11b_sync_stream")

  /** The share of each workload one run executes. A whole pass of any
    * workload takes about a minute on a 4-core host, past a run's budget,
    * so a run times a stratified sample (see [[sample]]). */
  val sampleShare: Map[String, Double] = Map(
    "cmdb_batch" -> 1.0 / 20, "llm_corpus" -> 1.0 / 16, "stream_drains" -> 1.0 / 10)

  /** Timed passes per run: a fixed count, so a faster commit never gets
    * more (and warmer) passes than a slower one. cmdb_batch's queries take
    * a few tenths of a second and keep getting faster for about four
    * passes as the JIT warms, so it runs more passes than the others. */
  val passes: Map[String, Int] = Map(
    "cmdb_batch" -> 6, "llm_corpus" -> 5, "stream_drains" -> 5)

  /** Where `q` falls in [0, 1): the first 32 bits of its name's MD5. */
  def position(q: String): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(q.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (java.nio.ByteBuffer.wrap(d).getInt & 0xffffffffL) / 4294967296.0
  }

  /** The workload's strata: its members split by registry module and by
    * eager (built inside the timed region) versus lazy, sorted. */
  def strata(workload: String): Seq[Seq[String]] =
    modules.filter(_._1 == workload).flatMap { case (_, _, qs) =>
      val (eager, lzy) = qs.toSeq.sorted.partition(graft.SparkEntry.eagerQueries)
      Seq(eager, lzy).filter(_.nonEmpty)
    }

  /** The members of `workload` a run executes, sorted: the pipeline plus,
    * from every stratum, the members with the lowest [[position]], as many
    * as the stratum's size times [[sampleShare]] (rounded, at least one),
    * or every member when `full`. The sample follows the registry (a new
    * query joins it when its hash ranks low enough) and never depends on
    * timings or results. */
  def sample(workload: String, full: Boolean): Seq[String] =
    if (full) members(workload).toSeq.sorted
    else {
      val pipe = pipeline(workload)
      val picked = strata(workload).flatMap { st =>
        val k = math.max(1, math.round(st.size * sampleShare(workload)).toInt)
        st.filterNot(_ == pipe).sortBy(position).take(k)
      }
      (picked :+ pipe).sorted
    }

  /** Every way the workloads fail to partition `all`: a query registered by
    * two modules, a registry query in no workload, a member the registry
    * lacks, or a pipeline outside its workload. Empty when exact. */
  def partitionErrors(all: Set[String]): Seq[String] = {
    val owners = modules.flatMap { case (w, m, qs) => qs.map(_ -> s"$w/$m") }
      .groupMap(_._1)(_._2)
    val shared = owners.toSeq.sortBy(_._1).collect {
      case (q, os) if os.size > 1 => s"$q is registered by ${os.mkString(" and ")}"
    }
    val covered = owners.keySet
    val missing = (all -- covered).toSeq.sorted.map(q => s"$q is in no workload")
    val extra = (covered -- all).toSeq.sorted.map(q => s"$q is not a registry query")
    val pipes = pipeline.toSeq.sorted.collect {
      case (w, p) if !members(w).contains(p) => s"pipeline $p is not in $w"
    }
    shared ++ missing ++ extra ++ pipes
  }
}
