// Lives under org.apache.spark.sql.* because the ArtifactManager members it
// reads are package-private to sql — same packaging as the expression
// bridges. The graft-facing user is graft.streaming.Drain.
package org.apache.spark.sql.graftexpr

import org.apache.spark.sql.SparkSession

/** Read-only view of a session's added artifacts (jars, classes, files). */
object SessionArtifacts {

  /** True when `s` has added any session artifact. As a side effect the
    * session's OWN isolation mode is fixed here (it is read lazily, once,
    * from the conf), so a caller that flips
    * `spark.sql.artifact.isolation.enabled` for a scope afterwards changes
    * only the sessions cloned inside that scope, never `s` itself. */
  def added(s: SparkSession): Boolean = {
    val am = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.artifactManager
    am.state
    // the flag every artifact kind sets is `protected` in Scala (public in
    // bytecode), so it is read through its accessor
    classOf[org.apache.spark.sql.artifact.ArtifactManager]
      .getMethod("sessionArtifactAdded").invoke(am)
      .asInstanceOf[java.util.concurrent.atomic.AtomicBoolean].get
  }
}
