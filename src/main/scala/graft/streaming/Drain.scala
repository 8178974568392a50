package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.ConfScope
import graft.sources.CheckpointFiles

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
  *
  * Every drain writes its checkpoint through [[graft.sources.CheckpointFiles]]
  * (`spark.sql.streaming.checkpointFileManagerClass`, set in the same
  * scope). Without libhadoop, Spark's default manager forks a shell for
  * every chmod and for every link check of a rename-with-overwrite on a
  * local file system: 2,127 forks in one stream_drains benchmark run
  * (about 100 per drain run). In a traced pass of that run's 4 batches
  * the WAL commits took 123.5 ms and the offset commits 127.5 ms; with
  * this manager they take 8.5 and 29 ms, and the run forks 17 times, none
  * of them for a checkpoint file.
  */
object Drain {

  private val IsolationKey = "spark.sql.artifact.isolation.enabled"
  private val FileManager = "spark.sql.streaming.checkpointFileManagerClass" ->
    classOf[CheckpointFiles].getName

  /** Drain `writer` to completion under `AvailableNow` with `confs` set. */
  def apply(s: SparkSession, confs: Seq[(String, String)] = Nil)(
      writer: DataStreamWriter[_]): Unit = {
    val isolation =
      if (org.apache.spark.sql.graftexpr.SessionArtifacts.added(s)) Nil
      else Seq(IsolationKey -> "false")
    ConfScope(s, FileManager +: (isolation ++ confs)) {
      writer.trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
  }

  /** Drain `df` into the memory sink `sink`; return the sink's rows as one
    * detached partition ([[org.apache.spark.sql.graftexpr.MemorySinkFrame]]).
    * The rows sit on the driver, but `s.table(sink)` scans them in
    * min(rows, cores) partitions, so each read-back `groupBy`, window and
    * `orderBy` added a shuffle, a range-sampling job and an AQE stage job.
    * One partition satisfies them all: jobs per run 6 → 3 for
    * e18b_cusum_stream, 5 → 3 for i11b, 4 → 3 for i3b. */
  def toMemory(s: SparkSession, df: Dataset[_], sink: String, mode: String,
      confs: Seq[(String, String)] = Nil): DataFrame = {
    apply(s, confs)(df.writeStream.format("memory").queryName(sink)
      .outputMode(mode))
    org.apache.spark.sql.graftexpr.MemorySinkFrame(s, sink)
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
