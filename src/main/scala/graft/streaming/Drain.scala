package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.ConfScope

/** The one way a graded query drains a stream: `Trigger.AvailableNow`,
  * start, await termination — inside a [[graft.ConfScope]] that sets the
  * caller's confs (`ConfScope.State` for stateful drains, `ConfScope.Merge`
  * for merge drains, none for stateless ones) and restores them before
  * returning, so the graded read-back and every other registry query still
  * plan at the session's settings. The scope's monitor serializes drains,
  * and the driver thread holds it across `awaitTermination`: foreachBatch
  * bodies must not enter a scope (the ConfScope deadlock rule).
  *
  * Every drain also shares generated code. Every streaming query runs on a
  * `cloneSession()` with a fresh session UUID, and with artifact isolation
  * on (the Spark default) each clone's tasks get a fresh executor class
  * loader. Spark's codegen cache keys on (class loader, code), so every
  * drain recompiled every generated class it ran (33–47 per drain for the
  * stateful ones). The scope turns `spark.sql.artifact.isolation.enabled`
  * off — the clone copies the conf — so the clone's tasks use the
  * executor's shared loader and a second run of a drain compiles nothing.
  * Only when the session has added no artifacts of its own: such a session
  * keeps isolation, since its clones must see those artifacts and nobody
  * else may.
  */
object Drain {

  private val IsolationKey = "spark.sql.artifact.isolation.enabled"

  /** Drain `writer` to completion under `AvailableNow` with `confs` set. */
  def apply(s: SparkSession, confs: Seq[(String, String)] = Nil)(
      writer: DataStreamWriter[_]): Unit = {
    val isolation =
      if (org.apache.spark.sql.graftexpr.SessionArtifacts.added(s)) Nil
      else Seq(IsolationKey -> "false")
    ConfScope(s, isolation ++ confs) {
      writer.trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
  }

  /** Drain `df` into the memory sink `sink` and return the sink's table. */
  def toMemory(s: SparkSession, df: Dataset[_], sink: String, mode: String,
      confs: Seq[(String, String)] = Nil): DataFrame = {
    apply(s, confs)(df.writeStream.format("memory").queryName(sink)
      .outputMode(mode))
    s.table(sink)
  }

  /** Drain `df` through `body` once per micro-batch (with the batch id),
    * checkpointing at `ckpt`. */
  def eachBatch(s: SparkSession, ckpt: String, df: Dataset[_],
      confs: Seq[(String, String)] = Nil, mode: String = "append")(
      body: (DataFrame, Long) => Unit): Unit =
    apply(s, confs)(df.toDF().writeStream
      .foreachBatch((batch: DataFrame, id: Long) => body(batch, id))
      .option("checkpointLocation", ckpt).outputMode(mode))

  /** [[eachBatch]] appending each batch's `body` result to the parquet
    * spool `tmp/spool` (checkpoint `tmp/ckpt`); returns the spool. */
  def toSpool(s: SparkSession, tmp: String, df: Dataset[_],
      confs: Seq[(String, String)] = Nil, mode: String = "append")(
      body: (DataFrame, Long) => DataFrame): DataFrame = {
    eachBatch(s, s"$tmp/ckpt", df, confs, mode) { (batch, id) =>
      body(batch, id).write.mode("append").parquet(s"$tmp/spool")
    }
    s.read.parquet(s"$tmp/spool")
  }
}
