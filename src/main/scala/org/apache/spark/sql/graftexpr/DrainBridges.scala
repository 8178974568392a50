// Lives under org.apache.spark.sql.* because the ArtifactManager members
// it reads and Dataset.ofRows are internal to sql — same packaging as the
// expression bridges. The graft-facing user is graft.streaming.Drain.
package org.apache.spark.sql.graftexpr

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Repartition}
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.streaming.sources.MemoryPlan

/** Read-only view of a session's added artifacts (jars, classes, files). */
object SessionArtifacts {

  /** True when `s` has added any session artifact. As a side effect the
    * session's OWN isolation mode is fixed here (it is read lazily, once,
    * from the conf), so a caller that flips
    * `spark.sql.artifact.isolation.enabled` for a scope afterwards changes
    * only the sessions cloned inside that scope, never `s` itself. */
  def added(s: SparkSession): Boolean = {
    val am = s.asInstanceOf[ClassicSession].sessionState.artifactManager
    am.state
    // the flag every artifact kind sets is `protected` in Scala (public in
    // bytecode), so it is read through its accessor
    classOf[org.apache.spark.sql.artifact.ArtifactManager]
      .getMethod("sessionArtifactAdded").invoke(am)
      .asInstanceOf[java.util.concurrent.atomic.AtomicBoolean].get
  }
}

object MemorySinkFrame {

  /** The driver-held rows of memory sink `name` as a `LocalRelation` with
    * fresh attribute ids (so a read-back can self-join it), converted
    * without generated code, under a `coalesce(1)` that plans as a
    * `CoalesceExec` reporting `SinglePartition`. */
  def apply(s: SparkSession, name: String): DataFrame = {
    val cs = s.asInstanceOf[ClassicSession]
    val sink = cs.table(name).queryExecution.analyzed
      .collectFirst { case p: MemoryPlan => p }.get
    Dataset.ofRows(cs, Repartition(1, shuffle = false, LocalRelation
      .fromExternalRows(sink.output.map(_.newInstance()), sink.sink.allData)))
  }
}
