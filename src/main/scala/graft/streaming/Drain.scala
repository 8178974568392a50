package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The one way a graded query drains a stream: `Trigger.AvailableNow`,
  * start, await termination — inside a scope that owns every conf the drain
  * needs and restores them before returning, so the graded read-back and
  * every other registry query still plan at the session's settings.
  *
  * Synchronized on the session: serializes concurrent DRAINS (two drains
  * interleaving would restore each other's confs or pin the wrong width
  * into a checkpoint). It does NOT fence arbitrary concurrent planning — a
  * planner thread reads the conf without taking this monitor — so the
  * session-global rewrites stay safe only under the sequential
  * Verify/Bench drivers this registry runs in; a concurrent driver must
  * schedule drains onto a dedicated session instead. Never take the scope
  * (or any other width scope) on the STREAMING thread from a foreachBatch
  * body: the driver thread holds the monitor across `awaitTermination`, so
  * that deadlocks. The drain owns the width; batch bodies must not re-lock.
  *
  * What the scope sets:
  *
  *  - '''Shared generated code.''' Every streaming query runs on a
  *    `cloneSession()` with a fresh session UUID, and with artifact
  *    isolation on (the Spark default) each clone's tasks get a fresh
  *    executor class loader. Spark's codegen cache keys on (class loader,
  *    code), so every drain recompiled every generated class it ran
  *    (33–47 per drain for the stateful ones). The scope turns
  *    `spark.sql.artifact.isolation.enabled` off — the clone copies the
  *    conf — so the clone's tasks use the executor's shared loader and a
  *    second run of a drain compiles nothing. Only when the session has
  *    added no artifacts of its own: such a session keeps isolation, since
  *    its clones must see those artifacts and nobody else may.
  *  - '''The shuffle width''' and, for merges, adaptive execution,
  *    per [[Width]].
  *  - '''The state-store provider''' for stateful drains:
  *    `SPARK_GRAFT_STATE_PROVIDER` (`rocksdb` or a provider class). RocksDB
  *    moves state off-heap (changelog checkpointing, no GC pressure) but
  *    pays a JNI and snapshot floor per store instance; on these bounded
  *    drains the HDFS-backed default wins (BASELINE.md r8), and RocksDB
  *    becomes right when per-instance state outgrows executor heap — a
  *    deployment decision the variable flips without a code change.
  */
object Drain {

  /** How a drain sizes `spark.sql.shuffle.partitions`. */
  sealed trait Width

  /** The session's width, untouched: stateless drains whose per-batch
    * verdicts join static state. */
  case object SessionWidth extends Width

  /** The merge width and AQE scope of [[mergeConfs]] (the one
    * `StreamingOps.withMergeWidth` also applies): foreachBatch bodies that
    * merge into and publish versioned tables. */
  case object MergeWidth extends Width

  /** A stateful operator's width: 1, or `SPARK_GRAFT_DRAIN_WIDTH`.
    *
    * A stateful operator materializes `shuffle.partitions` state-store
    * instances per store (several stores for an outer join), and each
    * instance pays a provider init, a delta file plus a checksum file per
    * commit and coordinator RPCs every batch. On a bounded drain that is
    * pure fixed cost: at the batch width of 32 the stream-stream join spent
    * about 6 of its 8 s there (r5). The earlier fixed width of 4 was judged
    * "1/2/4 within noise" at 32 cores. On a 4-core host at sf0.01 the
    * stream_drains sample's suite time read 4.85 s at width 4 and 4.76 s
    * at width 1 (medians of 3 perfbench runs each, both with shared
    * generated code and the pinned stream schema): within that host's
    * noise again, with a quarter of the state stores. Every graded
    * fixture's backlog fits one `spark.sql.files.maxPartitionBytes` split,
    * so no input here needs more; a sizing rule belongs with the first
    * workload whose backlog does. Streaming queries PIN the width into
    * their checkpoint at first start, so a deployment sizes it UP per
    * query for state volume through `SPARK_GRAFT_DRAIN_WIDTH`. */
  case object StateWidth extends Width

  private val WidthKey = "spark.sql.shuffle.partitions"
  private val IsolationKey = "spark.sql.artifact.isolation.enabled"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** Drain `writer` to completion under `AvailableNow`. */
  def apply(s: SparkSession, width: Width)(
      writer: DataStreamWriter[_]): Unit = s.synchronized {
    val isolation =
      if (org.apache.spark.sql.graftexpr.SessionArtifacts.added(s)) Nil
      else Seq(IsolationKey -> "false")
    val confs = isolation ++ (width match {
      case SessionWidth => Nil
      case MergeWidth   => mergeConfs
      case StateWidth =>
        Seq(WidthKey -> sys.env.getOrElse("SPARK_GRAFT_DRAIN_WIDTH", "1")) ++
          sys.env.get("SPARK_GRAFT_STATE_PROVIDER").map {
            case "rocksdb" => ProviderKey ->
              "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
            case other => ProviderKey -> other
          }
    })
    withConfs(s, confs) {
      writer.trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
  }

  /** Drain `df` into the memory sink `sink` and return the sink's table. */
  def toMemory(s: SparkSession, df: Dataset[_], sink: String, mode: String,
      width: Width = SessionWidth): DataFrame = {
    apply(s, width)(df.writeStream.format("memory").queryName(sink)
      .outputMode(mode))
    s.table(sink)
  }

  /** Drain `df` through `body` once per micro-batch (with the batch id),
    * checkpointing at `ckpt`. */
  def eachBatch(s: SparkSession, ckpt: String, df: Dataset[_],
      width: Width = SessionWidth, mode: String = "append")(
      body: (DataFrame, Long) => Unit): Unit =
    apply(s, width)(df.toDF().writeStream
      .foreachBatch((batch: DataFrame, id: Long) => body(batch, id))
      .option("checkpointLocation", ckpt).outputMode(mode))

  /** [[eachBatch]] appending each batch's `body` result to the parquet
    * spool `tmp/spool` (checkpoint `tmp/ckpt`); returns the spool. */
  def toSpool(s: SparkSession, tmp: String, df: Dataset[_],
      width: Width = SessionWidth, mode: String = "append")(
      body: (DataFrame, Long) => DataFrame): DataFrame = {
    eachBatch(s, s"$tmp/ckpt", df, width, mode) { (batch, id) =>
      body(batch, id).write.mode("append").parquet(s"$tmp/spool")
    }
    s.read.parquet(s"$tmp/spool")
  }

  /** The merge scope's confs: `SPARK_GRAFT_MERGE_WIDTH` (default 4) and
    * adaptive execution off (the GraphOps.withNoAdaptive rationale): every
    * per-batch merge/fixpoint plan here is batch/delta-sized, and AQE's
    * between-stage replanning is the dominant per-batch cost at any data
    * size — the streaming plan itself already runs without AQE, this
    * extends that to the foreachBatch bodies the streaming thread plans
    * (conf is session-global, so the scope covers them without the
    * streaming thread ever taking the session monitor — the deadlock
    * rule). An unrelated batch query planned on the session mid-drain
    * would lose AQE for its duration (the single-driver contract every
    * width scope shares). `SPARK_GRAFT_NO_AQE=0` keeps AQE on inside the
    * scope, e.g. when a 100 TB delta frame needs skew handling. */
  private[streaming] def mergeConfs: Seq[(String, String)] =
    Seq(WidthKey -> sys.env.getOrElse("SPARK_GRAFT_MERGE_WIDTH", "4")) ++
      (if (sys.env.get("SPARK_GRAFT_NO_AQE").contains("0")) Nil
       else Seq("spark.sql.adaptive.enabled" -> "false"))

  /** Set `confs` for `body`, then restore each key's previous value. */
  private[streaming] def withConfs[T](s: SparkSession,
      confs: Seq[(String, String)])(body: => T): T = {
    val old = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }
}
