package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the union of every operator family's registry; each entry has
  * a DuckDB-equivalent SQL string in `oracleSql` unless the operator is not
  * SQL-expressible (then it gets a rows-only check).
  */
object SparkEntry {

  /** Flagship on /root/testdata/sf0.001 (driver smoke-checks rows>0): the
    * composed corpus-prep pipeline — quality gate → dedup → split → stats
    * as one Catalyst plan. */
  def entry(spark: SparkSession): DataFrame =
    queries("pp_end_to_end")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreRelational.queries ++ WindowedAnalytics.queries ++ TemporalOps.queries ++
      LlmOps.queries ++ Lsh.queries ++ TrainingPipeline.queries ++
      graft.streaming.StreamingGraded.queries

  /** Queries whose builder performs the graded work at PLAN CONSTRUCTION
    * (drains a stream, writes-then-reads, runs a driver-side fixpoint) —
    * Bench rebuilds exactly these inside the timed pass so the reported
    * seconds cover the work, not a cached read. DERIVED, never
    * hand-maintained (the a12/dd_components mis-timing bug class, three
    * occurrences): every StreamingGraded entry drains by construction, and
    * batch builders carry an `eager` tag next to their registration.
    * PlanShapeSpec's plan-build job audit fails the build when a registry
    * query runs jobs at warm plan build without being here or in
    * [[buildTimeFixtureWriters]]. */
  def eagerQueries: Set[String] =
    graft.streaming.StreamingGraded.queries.keySet ++
      CoreRelational.eager ++ LlmOps.eager ++ Lsh.eager

  /** Documented build-time fixture writers (write prep at plan build, the
    * graded artifact is the read-back) — see CoreRelational.buildTimeFixtures. */
  def buildTimeFixtureWriters: Set[String] = CoreRelational.buildTimeFixtures

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    CoreRelational.oracle ++ WindowedAnalytics.oracle ++ TemporalOps.oracle ++
      LlmOps.oracle ++ Lsh.oracle ++ TrainingPipeline.oracle ++
      graft.streaming.StreamingGraded.oracle

  /** The session every main runs on: `local[cpus]`, shuffle width `cpus`,
    * UTC, UI off. */
  def localSession(cpus: String): SparkSession.Builder =
    SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
