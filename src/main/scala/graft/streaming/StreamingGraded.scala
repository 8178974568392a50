package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ConfScope
import graft.sources.Tables

/** Driver-graded queries that EXECUTE the Structured Streaming surface —
  * not batch twins, the real `readStream → transform → writeStream` path,
  * drained to completion with `Trigger.AvailableNow` and returned as the
  * sink's final table so the DuckDB oracle can hash-compare it like any
  * other graded query. This is the externally-audited complement to
  * StreamingSpec: a spec proves stream ≡ batch in-JVM; these two entries
  * put the streaming result itself through the driver's correctness gate.
  *
  * Determinism note: both results are micro-batch-partitioning-independent
  * by construction — the admission gate is a stateless stream-static anti
  * join (each row's verdict depends only on the static corpus), and the
  * upsert sink's last-writer-wins merge is associative across batches
  * (LWW(LWW(a), b) = LWW(a ∪ b) under the total (us, event_id) order) —
  * so the graded output is stable however the file source batches the
  * input.
  */
object StreamingGraded {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // The streaming admission gate (dd_incremental's arrival-time form at
    // the exact-identity level): the doc_id % 5 == 0 increment arrives as
    // a file stream and is anti-joined per micro-batch against the static
    // corpus's hash set. At scale the static side is a stored hash index
    // partitioned by hash — the join shuffles batch-by-hash, never
    // batch × corpus (see StreamingOps.admitAgainstCorpus).
    "dd_admit_stream" -> ((s, d) => {
      val incoming = Tables.tableStream(s, d, "documents")
        .filter(col("doc_id") % 5 === 0)
      val corpus = Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0)
      val admitted = StreamingOps.admitAgainstCorpus(incoming, corpus)
        .select(col("doc_id"), col("text_hash"))
      Drain.toMemory(s, admitted, "dd_admit_stream_sink", "append")
        .orderBy("doc_id")
    }),

    // I4 promoted to the oracle gate: a WATERMARKED tumbling aggregate in
    // append mode — the real late-data semantics, not a batch twin. The
    // emitted set is deterministic under AvailableNow: the watermark ends
    // at max(ts) − 1 h regardless of how the file source batches, append
    // mode emits exactly the windows whose END ≤ that final watermark
    // (inclusive is safe: an event AT the watermark belongs to the NEXT
    // window), and the trailing still-open windows are correctly withheld.
    // The oracle mirrors that frontier arithmetic — this grades the
    // window-eviction contract itself, the thing I4's spec could only
    // assert in-JVM. At scale this exact plan runs continuously with
    // bounded state: the watermark is what lets a 100-TB/day feed drop
    // closed-window state instead of holding every hour ever seen.
    "i4_watermark_stream" -> ((s, d) => {
      val agg = Tables.tableStream(s, d, "events")
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          col("event_type"), col("n"))
      Drain.toMemory(s, agg, "i4_watermark_sink", "append", ConfScope.State)
        .orderBy("hour_start", "event_type")
    }),

    // The hardest streaming operator promoted to the gate: the left-outer
    // STREAM-STREAM interval join (clicks ⋈ purchases within 30 min,
    // 10-min watermarks both sides). Deterministic under AvailableNow by
    // the same frontier argument as i4, applied twice: (1) matches are
    // never missed — a left row's state evicts only when the global
    // watermark (the MIN of both sides' frontiers — the min-watermark
    // gotcha) has passed its entire join window, at which point no
    // qualifying right row can still arrive; (2) the null rows are exactly
    // the unmatched clicks whose window end sits behind that final global
    // watermark — later clicks are withheld as "maybe matched later".
    // The oracle mirrors both halves. At 100 TB this is the operator that
    // joins two unbounded feeds in bounded state — the watermark bound IS
    // the memory bound.
    "i14_stream_join" -> ((s, d) => {
      val joined = StreamingOps.clickToPurchaseLeftJoin(
        Tables.tableStream(s, d, "events"))
      Drain.toMemory(s, joined, "i14_stream_join_sink", "append", ConfScope.State)
        .select(col("click_id"), col("user_id"),
          expr("unix_micros(click_ts)").as("click_us"),
          col("purchase_id"),
          expr("unix_micros(purchase_ts)").as("purchase_us"))
        .orderBy(col("click_id"), coalesce(col("purchase_id"), lit(-1L)))
    }),

    // E8b promoted to the gate: the streaming retention IVM — the one
    // operator with full RETRACTION discipline (a user whose true earlier
    // cohort week arrives late triggers −1 deltas for every increment
    // previously attributed to the provisional cohort, then re-emits
    // rebased). The graded result is the summed delta log, which equals
    // the batch retention matrix under ANY arrival order BY CONSTRUCTION
    // (the IVM invariant) — so unlike the Update-mode twins below there is
    // no last-emission selection at all: sum(delta) GROUP BY key, drop the
    // fully-retracted zero rows, and the oracle is e8_retention's SQL
    // verbatim. Fixture weeks span ≈5 ≪ the 64-week state horizon, so the
    // bounded-state trade never bites here.
    "e8b_retention_stream" -> ((s, d) => {
      val deltas = StreamingOps.retentionDeltas(Tables.tableStream(s, d, "events"))
      Drain.toMemory(s, deltas, "e8b_retention_sink", "append", ConfScope.State)
        .groupBy("cohort_us", "week_offset")
        .agg(sum(col("delta")).as("active_users"))
        .filter(col("active_users") =!= 0)
        .select(timestamp_micros(col("cohort_us")).as("cohort_week"),
          col("week_offset"), col("active_users"))
        .orderBy("cohort_week", "week_offset")
    }),

    // E7b promoted to the gate: the arrival-time funnel. flatMapGroups-
    // WithState Update-mode emissions are one (user, stage) row per batch
    // the user appears in; stage is MONOTONIC (the greedy scan only
    // advances), so max(stage) per user always selects the final
    // position. The funnel is the one arrival-TIME twin (documented in
    // funnelStages): greedy-scan ≡ batch-ladder holds for time-ordered
    // arrival — which AvailableNow over the fixture file gives — not for
    // adversarial reorderings (unlike e8b/i11b/e13b, whose folds are
    // commutative/retracting). Oracle = the batch min-ts ladder's stage
    // column (StreamingSpec proves greedy-scan ≡ ladder in-JVM across a
    // time-split micro-batch boundary; this row makes it externally
    // graded).
    "e7b_funnel_stream" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.tableStream(s, d, "events")
        .select(col("user_id").cast("long"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .as[StreamingOps.UserEvent]
      val prog = StreamingOps.funnelStages(ev, Seq("view", "click", "purchase"))
      Drain.toMemory(s, prog, "e7b_funnel_sink", "update", ConfScope.State)
        .groupBy("user_id")
        .agg(max(col("stage")).cast("int").as("stage"))
        .orderBy("user_id")
    }),

    // I11b promoted to the gate: the streaming sync-changes twin. The
    // post-cutoff delta streams in, stream-static-joined per micro-batch
    // to the pre-sync LWW target state; per-user state folds are
    // commutative (max on (us, event_id) + count), so the FINAL emission
    // per user equals the batch report under any arrival order. Selection
    // from the Update-mode sink: n_delta is STRICTLY increasing across a
    // user's emissions (a batch only emits users it contains ≥1 row for),
    // so the final row is argmax(n_delta) — one row_number window over
    // the user-sized sink table.
    "i11b_sync_stream" -> ((s, d) => {
      val wm = lit("2024-01-15 00:00:00").cast("timestamp")
      val lww = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
        .orderBy(col("us").desc, col("event_id").desc)
      val target = Tables.events(s, d)
        .filter(col("ts") <= wm)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("rn", row_number().over(lww)).filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("old_type"))
      val delta = Tables.tableStream(s, d, "events").filter(col("ts") > wm)
      val changes = StreamingOps.syncChanges(delta, target)
      val last = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("n_delta").desc)
      Drain.toMemory(s, changes, "i11b_sync_sink", "update", ConfScope.State)
        .withColumn("rn", row_number().over(last)).filter(col("rn") === 1)
        .select(col("user_id"), col("new_type"), col("change"), col("n_delta"))
        .orderBy("user_id")
    }),

    // E13b promoted to the gate: the streaming volume-anomaly twin. Each
    // batch re-emits the full evaluable alarm matrix per event type from
    // state, and only the LAST batch's emission is the converged answer —
    // but unlike i11b there is no monotone column to argmax on (a late
    // EARLIER day can shuffle which 7 days-with-data precede a later day,
    // so base7 is not monotone across batches). So the drain goes through
    // foreachBatch to a parquet spool with an explicit batch_seq column,
    // and the graded read-back takes each (type, day)'s row from its
    // newest batch — the general last-emission selector any Update-mode
    // consumer (a KV store, a compacted log) implements natively. Fixture
    // days-with-data ≈30 per type ≪ the 64-day state horizon.
    "e13b_volume_stream" -> ((s, d) => {
      // stable scratch, wiped per invocation: the spool is append-mode and
      // a stale checkpoint would turn the drain into a no-op, so the tree
      // must start empty — but at a STABLE path, or 5 bench passes × the
      // spooling queries leave an unbounded trail of temp trees in /tmp
      val tmp = graft.sources.ScratchDirs.freshDirFor(s, d, "e13b_vol")
      val alarms = StreamingOps.volumeAlarms(Tables.tableStream(s, d, "events"))
      val last = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type", "day").orderBy(col("batch_seq").desc)
      Drain.toSpool(s, tmp, alarms, ConfScope.State, "update")(
        (batch, id) => batch.withColumn("batch_seq", lit(id)))
        .withColumn("rn", row_number().over(last)).filter(col("rn") === 1)
        .select(col("event_type"), col("day"), col("n"), col("base7"),
          col("spike"), col("slump"))
        .orderBy("event_type", "day")
    }),

    // E9b promoted to the gate: weekly exact quantiles as a streaming
    // aggregation in COMPLETE mode — the memory sink holds the final
    // trigger's full state, which equals the batch aggregate for ANY
    // batching (count and exact percentile are order-independent
    // multiset aggregates; complete mode never evicts, so the watermark
    // plays no role in the graded output). The 96-hour startTime shifts
    // the epoch's Thursday window anchor onto Mondays so w.start
    // coincides exactly with the oracle's date_trunc('week') — grading
    // the alignment itself, which the spec could only assert in-JVM.
    // SG18: streaming CUSUM monitoring — the e18 change-point statistic
    // maintained from a live feed, the way a monitoring deployment runs it
    // (the stream owns the daily state; the detector reads the complete
    // aggregate). The daily tick totals drain in COMPLETE mode (the e9b
    // pattern — the final full state is batching-independent by
    // construction: it is ONE aggregate over everything behind the final
    // trigger), then the identical cusumOf windows (shared builder — the
    // statistic can never drift from the batch detector) run over the
    // drained sink. Output ≡ e18 verbatim, so the graded read reuses its
    // oracle. At 100 TB/day the complete-mode state is |days × types|
    // rows — monitoring-sized, not data-sized.
    "e18b_cusum_stream" -> ((s, d) => {
      val daily = Tables.tableStream(s, d, "events")
        .groupBy(col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(sum(graft.functions.ExactNum.tenK(col("value"))).as("xt"))
      val drained =
        Drain.toMemory(s, daily, "e18b_cusum_sink", "complete", ConfScope.State)
      // detach the sink view before the detector: cusumOf self-references
      // its input (daily ⋈ per-type stats), and MemoryPlan views reuse the
      // same attribute ids on both sides — a fresh DataFrame over the
      // collected-at-rest rows gives the analyzer distinct ids. The frame
      // is |days × types| (about 150 rows at sf0.01), monitoring-sized, so
      // it is collected into a LocalRelation: no RDD lineage to schedule
      val daily2 = s.createDataFrame(drained.collectAsList(), drained.schema)
      graft.operators.WindowedAnalytics.cusumOf(daily2)
        .orderBy("event_type", "day")
    }),

    "e9b_quantiles_stream" -> ((s, d) => {
      val q = StreamingOps.weeklyValueQuantiles(Tables.tableStream(s, d, "events"))
      Drain.toMemory(s, q, "e9b_quantiles_sink", "complete", ConfScope.State)
        .orderBy("wk", "event_type")
    }),

    // The versioned-table upsert sink (L15 / i7's production form) driven
    // end-to-end: the event feed streams through foreachBatch into a
    // `_VERSION`-pointered parquet table, and the graded result is the
    // PUBLISHED snapshot read back through the pointer. Equals i7's
    // target ∪ delta merge because last-writer-wins is associative across
    // the cutoff split.
    "i7b_upsert_stream" -> ((s, d) => {
      // same fresh-at-a-stable-path contract as e13b: the versioned table's
      // pointer/version count must start from nothing each invocation
      val tmp = graft.sources.ScratchDirs.freshDirFor(s, d, "i7b_upsert")
      val ev = Tables.tableStream(s, d, "events")
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      StreamingOps.runUpsertSinkToParquet(s, ev, s"$tmp/ckpt", s"$tmp/table")
      StreamingOps.currentUpsertTable(s, s"$tmp/table")
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"), col("us").as("last_us"))
        .orderBy("user_id")
    }),

    // SG16: the MERGE sink with tombstone deletes driven end-to-end by the
    // REAL stream — i7b's delete twin (a16 grades the kernel under explicit
    // batches; this grades it under readStream batching): the op marker is
    // computed IN the stream (error events decommission their key), every
    // micro-batch merges through the shared kernel storing winning
    // tombstones, and the graded read is the VISIBLE snapshot. Equals the
    // batch LWW-minus-tombstones under any batching because the stored-
    // tombstone rule makes delete-vs-update races a pure (us, event_id)
    // argmax — same associativity as the upsert sink, now with deletes.
    "i7c_merge_stream" -> ((s, d) => {
      val tmp = graft.sources.ScratchDirs.freshDirFor(s, d, "i7c_merge")
      val ev = Tables.tableStream(s, d, "events")
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
        .withColumn("op",
          when(col("event_type") === "error", lit("d")).otherwise(lit("u")))
      StreamingOps.runUpsertSinkToParquet(s, ev, s"$tmp/ckpt", s"$tmp/table")
      StreamingOps.visibleMergeTable(s, s"$tmp/table")
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"), col("us").as("last_us"))
        .orderBy("user_id")
    }),

    // A13/L-maintenance: the retention (VACUUM) pass graded as a roundtrip —
    // a12's compaction pattern applied to Maintenance.vacuumVersions, the
    // job that ends old snapshots' readability on the `_VERSION`-pointer
    // table the upsert sink maintains. The feed is spooled into 4 files and
    // drained at maxFilesPerTrigger=1 so the sink publishes one version per
    // micro-batch — several immutable snapshots for vacuum to actually
    // prune (the builder REQUIRES a nonempty prune, so a vacuum no-op can
    // never hash green by accident). The graded read is the published
    // snapshot through the pointer AFTER the prune: a hash match against
    // the batch global-LWW oracle proves retention deleted only
    // out-of-window history and left the current version bit-intact —
    // the entire contract of VACUUM. Version-count/AS-OF-fails assertions
    // stay in MaintenanceSpec (those are layout, not data). At 100 TB this
    // pass is one directory listing + k directory deletes per table —
    // metadata-cost maintenance, same as a real table format's VACUUM.
    "a13_vacuum_roundtrip" -> ((s, d) => {
      val base = graft.sources.ScratchDirs.freshDirFor(s, d, "a13_vac")
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      // landing-zone spool is session-shared PREP (written once per cache
      // generation); the drain + merges + vacuum below are the graded work
      // and rebuild fresh every (timed) invocation
      val spool = graft.sources.ScratchDirs.sharedInputSpool(s, d, "a13_vac_spool")(
        p => ev.repartition(4).write.mode("overwrite").parquet(p))
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(spool)
      StreamingOps.runUpsertSinkToParquet(s, stream, s"$base/ckpt", s"$base/table")
      val pruned = graft.sources.Maintenance
        .vacuumVersions(s, s"$base/table", keep = 2)
      require(pruned.nonEmpty,
        s"a13: vacuum pruned nothing — expected >2 published versions under $base/table")
      StreamingOps.currentUpsertTable(s, s"$base/table")
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"), col("us").as("last_us"))
        .orderBy("user_id")
    }),

    // SG15: INCREMENTAL VIEW MAINTENANCE from the CDC feed — what the A15
    // change feed exists FOR: a downstream aggregate (users per current
    // event type) maintained from O(changes) per batch instead of
    // re-scanning the O(keys) snapshot. Per micro-batch: apply the upsert
    // through the shared kernel, read the v-1→v change feed (v0 = all
    // inserts), and spool SIGNED deltas — +1 on the new type, −1 on the
    // old (updates whose type is unchanged emit a cancelling pair). The
    // graded read sums the spool per type: by TELESCOPING, the sum equals
    // the final snapshot's group-by under ANY batching — the feed rows
    // themselves depend on batch boundaries, but their sum never does,
    // which is exactly the invariant that makes CDC-driven IVM correct.
    // At 100 TB the log is the versions' own staged feeds and each batch's
    // feed is O(changed keys) — the whole point vs. snapshot re-aggregation.
    // Replay honesty: deltas derive from the TABLE DIFF, not the batch
    // rows, so replaying an already-merged batch re-merges to an
    // identical snapshot and stages an EMPTY feed (the redelivery spec
    // pins this) — idempotent for foreachBatch's ordinary at-least-once
    // retry. Feed and version commit ATOMICALLY: the signed deltas are
    // STAGED into the new version's own directory (`v{n}/_feed`, hidden
    // from snapshot reads by Hadoop's `_`-prefix filter) BEFORE the
    // pointer move, and the graded read unions feeds only up to the
    // PUBLISHED pointer — a crash anywhere in the batch either loses
    // snapshot+feed together (replay rewrites both) or publishes both.
    "cdc_ivm_stream" -> ((s, d) => {
      val tmp = graft.sources.ScratchDirs.freshDirFor(s, d, "cdc_ivm")
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      // input spool shared per session (prep), like a13's — the four
      // versioned merges and the feed publication below are the graded work
      val spool = graft.sources.ScratchDirs.sharedInputSpool(s, d, "cdc_ivm_spool")(
        p => ev.repartition(4).write.mode("overwrite").parquet(p))
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(spool)
      Drain.eachBatch(s, s"$tmp/ckpt", stream, ConfScope.Merge) { (batch, _) =>
        StreamingOps.applyUpsertBatchStaged(s, batch, s"$tmp/table") {
          (verDir, cur) =>
            val feed =
              if (cur == 0L)
                s.read.parquet(verDir)
                  .select(lit(null).cast("string").as("old_type"),
                    col("event_type").as("new_type"))
              else
                StreamingOps.upsertChangeFeed(s, s"$tmp/table", cur - 1, cur)
                  .select(col("old_type"), col("new_type"))
            feed
              .select(explode(array(
                struct(col("new_type").as("etype"), lit(1L).as("delta")),
                struct(col("old_type").as("etype"), lit(-1L).as("delta")))).as("x"))
              .select(col("x.etype").as("etype"), col("x.delta").as("delta"))
              .filter(col("etype").isNotNull)
              .write.mode("overwrite").parquet(s"$verDir/_feed")
        }
      }
      val cur = StreamingOps.readVersionPointer(s, s"$tmp/table").getOrElse(
        sys.error(s"cdc_ivm: nothing published under $tmp/table"))
      s.read.parquet((0L to cur).map(v => s"$tmp/table/v$v/_feed"): _*)
        .groupBy("etype").agg(sum("delta").as("n_users"))
        .filter(col("n_users") > 0)
        .orderBy("etype")
    }),

    // SG11: NEAR-DUP streaming admission — the LSH complement of
    // dd_admit_stream's exact-hash gate, and the arrival-time form of the
    // lsh_minhash_pairs miner: each arriving doc is signed with the SAME
    // 16-minhash/8-band pipeline the batch miner uses (one shared
    // minhashBandRows builder, so index and probe can never drift), its
    // shingles capped by the CORPUS-derived stop list (a stored index
    // ships its stop-shingle artifact), and admitted iff NO band bucket
    // collides with the static corpus band index. The verdict is per-row
    // against static state, so the admitted set is identical under ANY
    // batching — graded like any batch query. Signatures are computed
    // RELATIONALLY per micro-batch inside foreachBatch (explode → one
    // 16-min hash aggregate, all codegen'd) rather than per-row HOFs —
    // the dd_simhash_stream lesson. At 100 TB the corpus index is a
    // stored table partitioned by (band_idx, band_val); each batch
    // shuffles batch×8 band rows to it — never batch × corpus, and no
    // pair enumeration at all (admission needs existence, not pairs).
    "dd_admit_near_stream" -> ((s, d) => {
      val tmp = graft.sources.ScratchDirs.freshDirFor(s, d, "admit_near")
      val corpus = Tables.documents(s, d).filter(col("doc_id") % 5 =!= 0)
      val corpusBands = graft.CacheRegistry.materialize(
        graft.operators.Lsh.minhashBandRows(
          graft.operators.LlmOps.shingleIndex(corpus).select("doc_id", "h")))
      val hot = graft.operators.LlmOps.hotShingles(corpus)
      val incoming = Tables.tableStream(s, d, "documents")
        .filter(col("doc_id") % 5 === 0)
      Drain.toSpool(s, tmp, incoming)(
        (batch, _) => StreamingOps.admitNearBatch(batch, hot, corpusBands))
        .orderBy("doc_id")
    }),

    // SG18: streaming dedup-cluster MAINTENANCE at ingest — L69's
    // contraction update run per micro-batch over a VERSIONED label
    // table: the stored old-corpus labels publish as v0, each arriving
    // increment batch contracts its delta edges to current labels, runs
    // the min-label fixpoint over just the delta-touched subgraph
    // (GraphOps.incrementalComponents), and publishes v+1 through the
    // Hadoop-FS pointer. An edge applies exactly when its LATER endpoint
    // arrives (≥1 endpoint in the batch, any NEW endpoint already
    // arrived), so every new-side edge is applied exactly once across the
    // drain — and because contraction updates are union-find merges,
    // which are CONFLUENT, the final table equals the full-closure
    // rebuild under ANY batching: the same recursive-CTE oracle grades
    // the stream end-to-end. Replay honesty: re-running a batch
    // re-appends arrived ids (duplicates are harmless under min-label)
    // and re-applies edges to already-merged labels (no-ops), so
    // foreachBatch's at-least-once retry re-publishes an identical
    // version. PREP (session-shared, the input-spool rule): the stored
    // labels, the stored-index probe result (the τ=0.3 new-side pair
    // frame), and the 4-file increment spool; the graded work is the
    // per-batch contraction fixpoints and the versioned publishes. At
    // 100 TB each batch's cost is sized by the batch's touched
    // components, never the corpus — the ingest-path shape of L69.
    "dd_components_incr_stream" -> ((s, d) => {
      import graft.operators.{GraphOps, LlmOps}
      val tmp = graft.sources.ScratchDirs.freshDirFor(s, d, "comp_incr")
      val newPairs = LlmOps.newSidePairs(s, d)
      val spool = graft.sources.ScratchDirs.sharedInputSpool(s, d, "comp_incr_spool")(
        p => Tables.documents(s, d).filter(LlmOps.isNewDoc(col("doc_id")))
          .select("doc_id").repartition(4).write.mode("overwrite").parquet(p))
      LlmOps.storedOldLabels(s, d)
        .write.mode("overwrite").parquet(s"$tmp/labels/v0")
      StreamingOps.writeVersionPointer(s, s"$tmp/labels", 0L)
      val sch = s.read.parquet(spool).schema
      // 2 files per trigger over the 4-file spool: two REAL maintenance
      // batches prove the multi-batch semantics (cross-batch edges,
      // version chaining) at half the per-batch planning+fixpoint floor —
      // each micro-batch re-plans the join tree and pays verified-fixpoint
      // rounds, the whole cost of this drain at graded SFs
      val stream = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "2").parquet(spool)
      // merge width around the whole drain (the cdc_ivm discipline): every
      // per-batch frame here is delta-sized, and the session's batch
      // width would pay 32 shuffle partitions of pure scheduling per
      // join/fixpoint round (measured 14.3 s → 4.4 s at sf0.01)
      Drain.eachBatch(s, s"$tmp/ckpt", stream, ConfScope.Merge) { (batch, _) =>
        StreamingOps.applyComponentsBatch(s, tmp, newPairs, batch,
          LlmOps.isNewDoc)
      }
      val fin = StreamingOps.readVersionPointer(s, s"$tmp/labels").get
      // retention INSIDE the maintenance job: versions accumulate one per
      // batch, so the drain vacuums to the last 2 after the final publish
      // (keep = current + one rollback target — the production default).
      // The published pointer and every kept version stay readable;
      // StreamingSpec pins a nonempty prune with the final table intact.
      graft.sources.Maintenance.vacuumVersions(s, s"$tmp/labels", keep = 2)
      s.read.parquet(s"$tmp/labels/v$fin")
        .select(col("id").as("doc_id"), col("comp")).orderBy("doc_id")
    }),

    // SG19: TOKENIZE at ingest — the stored BPE merge table (L71's
    // artifact, the shared session build) applied to each arriving
    // increment batch with the same greedy window algebra the trainer
    // used. Merge application is per-doc independent — the corpus only
    // decided WHICH pairs merged — so the stream's per-doc encodings are
    // batching-independent AND equal the increment docs' rows in the
    // trainer's own final sequence: the oracle replays the full training
    // chain and reads seq3 filtered to the increment, which is exactly
    // the claim "encode-at-ingest ≡ train-time tokenization". Per batch:
    // three linear window passes + one per-doc aggregate (fingerprint +
    // token count); no state store, no corpus access — the cheapest
    // ingest-path op after the hash gate.
    "ta_bpe_encode_stream" -> ((s, d) => {
      import graft.operators.LlmOps
      val tmp = graft.sources.ScratchDirs.freshDirFor(s, d, "bpe_enc")
      // the merge table is a STORED artifact at ingest time — published
      // once by the trainer (ta_bpe_merge's graded work), read back here
      // as session PREP (the shared-input-spool rule: state a deployment
      // persists). Handing the encoder the parquet read-back instead of
      // the trainer frame matters twice: foreachBatch re-analyzes its
      // transformation per micro-batch, and the trainer frame's logical
      // plan is the whole 3-round training chain (r9 bench_detail: this
      // drain cost 4.13 s, the #2 in the suite — the trainer lineage
      // re-analyzed per batch plus a trainer rebuild per pass; with the
      // stored-artifact read and the fold encoder it measures ~1.6 s).
      val merges = s.read.parquet(
        graft.sources.ScratchDirs.sharedInputSpool(s, d, "bpe_merges")(
          p => LlmOps.bpeMergeTable(s, d).write.mode("overwrite").parquet(p)))
      // pivot the table to its one broadcastable row ONCE per drain
      // (eager checkpoint: a 1-row frame) — each micro-batch then pays a
      // single tiny broadcast + three linear regexp passes, nothing else
      val winRow = LlmOps.bpeWinRow(merges).localCheckpoint()
      val spool = graft.sources.ScratchDirs.sharedInputSpool(s, d, "bpe_enc_spool")(
        p => Tables.documents(s, d).filter(LlmOps.isNewDoc(col("doc_id")))
          .select("doc_id", "text").repartition(4)
          .write.mode("overwrite").parquet(p))
      val sch = s.read.parquet(spool).schema
      // 2 files per trigger: two real batches prove batching-independent
      // encoding; per-batch analysis is now the 3-round window chain over
      // a trivial scan-backed merge input — constant-size per batch
      val stream = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "2").parquet(spool)
      // merge width around the drain: the per-batch windows are per-doc
      // over a 4-file increment spool — batch width pays pure scheduling
      Drain.toSpool(s, tmp, stream, ConfScope.Merge)(
        (batch, _) => LlmOps.bpeEncodePrepared(batch, winRow))
        .orderBy("doc_id")
    }),

    // SG12: streaming DECONTAMINATION at ingest — tp_decontaminate's
    // arrival-time form, the gate a training pipeline actually runs while
    // data lands (leakage found at ingest is dropped before it ever
    // reaches a shard; the batch query is the retrospective audit). The
    // eval set (split bucket ≥ 90) is static: its capped inverted index
    // and its stop-shingle list are the stored artifacts every arriving
    // batch is checked against. Per-doc overlap counts depend only on the
    // doc's own shingles and that static state ⇒ batching-independent and
    // gradeable. At 100 TB the eval index is tiny (eval sets are), so this
    // is a broadcast-or-small-shuffle join per batch — the cheapest gate
    // in the ingest path.
    "tp_decontaminate_stream" -> ((s, d) => {
      val tmp = graft.sources.ScratchDirs.freshDirFor(s, d, "decon_stream")
      import graft.operators.{LlmOps, TrainingPipeline}
      val docs = Tables.documents(s, d)
      val testDocs = docs.filter(TrainingPipeline.pct("split:", col("doc_id")) >= 90)
      val hot = LlmOps.hotShingles(testDocs)
      val testIndex = graft.CacheRegistry.materialize(
        LlmOps.shingleRows(testDocs)
          .select(col("doc_id").as("test_id"), col("h"))
          .join(broadcast(hot), Seq("h"), "left_anti"))
      val incoming = Tables.tableStream(s, d, "documents")
        .filter(TrainingPipeline.pct("split:", col("doc_id")) < 80)
      Drain.toSpool(s, tmp, incoming)(
        (batch, _) => StreamingOps.decontaminateBatch(batch, hot, testIndex))
        .orderBy("train_id")
    }),

    // SG17: streaming DSIR data selection at ingest — tp_dsir's
    // arrival-time form: the 256-bucket importance model is learned once
    // from the corpus (the stored artifact — built by the SAME
    // `dsirModel` the batch scorer uses, so probe features can never
    // drift), then every arriving doc is scored per micro-batch against
    // that static model and the selection verdict lands in the spool.
    // Per-doc verdicts depend only on the doc's own tokens and static
    // state ⇒ batching-independent (StreamingSpec: thirds ≡ whole ≡ the
    // batch scorer), so the graded read equals tp_dsir's oracle verbatim.
    // At 100 TB the model is 256 rows — a broadcast per batch, the
    // cheapest gate in the ingest path after the exact-hash one.
    "tp_dsir_stream" -> ((s, d) => {
      val tmp = graft.sources.ScratchDirs.freshDirFor(s, d, "dsir_stream")
      val lr = graft.CacheRegistry.materialize(
        graft.operators.TrainingPipeline.dsirModel(Tables.documents(s, d)))
      Drain.toSpool(s, tmp, Tables.tableStream(s, d, "documents"))(
        (batch, _) => StreamingOps.dsirScoreBatch(batch, lr))
        .orderBy("doc_id")
    }),

    // SG14/I3b: SESSION WINDOWS promoted to the gate — the data-aligned
    // window family (i4 grades the time-aligned tumbling form; sessions
    // are the one whose boundaries come from the DATA, which is why they
    // need dedicated merge-on-overlap state). Append mode emits exactly
    // the sessions CLOSED by the final watermark: a session's end is
    // last-event + gap, and the frontier rule is the same INCLUSIVE
    // (end ≤ watermark) contract i4 pinned — re-pinned for session state
    // in StreamingSpec's boundary test, since session windows go through
    // a different state store path than tumbling windows. Deterministic
    // under AvailableNow: interval-union sessionization is set-wise (the
    // same sessions form under any batching inside the watermark), and
    // the final watermark depends only on max(ts). The batch oracle is
    // i3's lag-gap sessionization (≥ gap starts a new session — exactly
    // the exclusive-end interval-union rule) plus the frontier filter.
    "i3b_session_stream" -> ((s, d) => {
      val sess = Tables.tableStream(s, d, "events")
        .withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("sw.start")).as("start_us"),
          unix_micros(col("sw.end")).as("end_us"),
          col("n_events"))
      Drain.toMemory(s, sess, "i3b_session_sink", "append", ConfScope.State)
        .orderBy("user_id", "start_us")
    }),

    // SG13: streaming ANN SERVING — the lookup half of the IVF family
    // (lsh_ivf_topk grades the self-search audit; this grades the serving
    // path a vector index actually exists for): query vectors ARRIVE as a
    // stream and each is answered top-5-by-cosine from the static
    // IVF-indexed corpus. The stored artifacts are the centroid grid and
    // the cell-partitioned assignment index; an arriving query is assigned
    // to its coarse cell by the SAME shared assignVectors (distance and
    // tie rule can never drift from the index build), then scored only
    // against its cell — per-query cost is |cell|, never |corpus|. The
    // verdict is per-row against static state ⇒ batching-independent and
    // gradeable. At 100 TB the batch×cell scoring join shuffles by cell
    // id against the cell-partitioned index — the standard distributed
    // vector-serving shape (queries stream in; nprobe and k are the
    // recall/latency knobs).
    "lsh_ivf_serve_stream" -> ((s, d) => {
      val tmp = graft.sources.ScratchDirs.freshDirFor(s, d, "ivf_serve")
      import graft.operators.Lsh
      val cents = graft.CacheRegistry.materialize(Lsh.ivfCentroids(s, d, nlist = 10))
      val corpus = graft.CacheRegistry.materialize(
        Lsh.ivfAssignments(s, d, nlist = 10, nprobe = 1).filter(col("rnk") === 1))
      val queries = Tables.tableStream(s, d, "embeddings")
        .filter(col("vec_id") % 50 === 0)
      Drain.toSpool(s, tmp, queries)(
        (batch, _) => StreamingOps.annServeBatch(batch, cents, corpus))
        .orderBy("query_id", "rank")
    }),

    // SG20: streaming ANN index MAINTENANCE — the ingest half SG13's
    // serving drain presupposes: arriving vectors are ASSIGNED into the
    // versioned IVF index per micro-batch (StreamingOps.maintainIvfBatch
    // — Lsh.assignVectors against the FIXED stored grid, so the
    // distance/tie rule can never drift from the build or the serving
    // gate) and published through the atomic `_VERSION` pointer; v0 is
    // the stored assignments of the old corpus (vec_id % 5 != 0 — the
    // dd-family increment convention on vectors). Assignment is per-row
    // against static state ⇒ batching-independent and gradeable: the
    // oracle recomputes assignments for corpus ∪ increment from scratch
    // (the lsh_ivf_topk CTE), so the gate proves drained-maintenance ≡
    // batch rebuild under any batching. The graded frame carries each
    // vector's cell PLUS its cell's old/new occupancy split — the drift
    // report an operator watches for cells that need splitting or a grid
    // retrain (a cell whose new_share runs hot is absorbing the
    // increment's distribution shift). Two real batches over a 4-file
    // spool prove version chaining.
    "lsh_ivf_maintain_stream" -> ((s, d) => {
      import graft.operators.Lsh
      val tmp = graft.sources.ScratchDirs.freshDirFor(s, d, "ivf_maintain")
      val cents = graft.CacheRegistry.materialize(Lsh.ivfCentroids(s, d, nlist = 10))
      // the STORED index a maintenance job starts from is PREP, like
      // SG18's storedOldLabels and SG13's corpus assignment — session-
      // -memoized (CacheManager dedupes the canonical plan across pass
      // rebuilds); only the v0 WRITE, the per-batch assignments and the
      // versioned publishes are the graded per-pass work
      val baseIdx = graft.CacheRegistry.materialize(
        Lsh.assignVectors(
          Tables.embeddings(s, d).filter(col("vec_id") % 5 =!= 0)
            .select(col("vec_id"),
              transform(col("embedding"), x => x.cast("double")).as("v")),
          cents, 1)
          .filter(col("rnk") === 1)
          .select(col("vec_id"), col("cell"), lit(0).as("is_new")))
      baseIdx.write.mode("overwrite").parquet(s"$tmp/index/v0")
      StreamingOps.writeVersionPointer(s, s"$tmp/index", 0L)
      val spool = graft.sources.ScratchDirs.sharedInputSpool(s, d, "ivf_maintain_spool")(
        p => Tables.embeddings(s, d).filter(col("vec_id") % 5 === 0)
          .select("vec_id", "embedding").repartition(4)
          .write.mode("overwrite").parquet(p))
      val sch = s.read.parquet(spool).schema
      val stream = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "2").parquet(spool)
      // merge width around the drain: per-batch frames are batch-sized
      // (assignment join + the snapshot union), session width pays pure
      // scheduling per micro-batch
      Drain.eachBatch(s, s"$tmp/ckpt", stream, ConfScope.Merge) {
        (batch, _) => StreamingOps.maintainIvfBatch(s, tmp, cents, batch)
      }
      val fin = StreamingOps.readVersionPointer(s, s"$tmp/index").get
      val idx = s.read.parquet(s"$tmp/index/v$fin")
      val occ = idx.groupBy("cell").agg(
        sum(when(col("is_new") === 0, 1).otherwise(0)).as("n_old"),
        sum(col("is_new")).as("n_new"))
      idx.join(broadcast(occ), "cell")
        .select(col("vec_id"), col("cell"), col("is_new"),
          col("n_old"), col("n_new"),
          graft.functions.ExactNum.round4(
            col("n_new").cast("double") / (col("n_old") + col("n_new")))
            .as("new_share"))
        .orderBy("vec_id")
    }),

    // L28b closed with an ORDER-INDEPENDENT projection: the streaming
    // simhash near-dup dedup (dropDuplicatesWithinWatermark on the 32-bit
    // bigram fingerprint) drained end-to-end, graded as survivors per
    // fingerprint. The doc-level keep set is arrival-order-dependent (the
    // operator keeps FIRST arrival — grading doc ids would pin a file-
    // -listing accident, the documented reason L28b stayed spec-only), but
    // the survivor COUNT per fingerprint is not: every doc carries the
    // same constant event time, so no fingerprint's state can ever expire
    // (watermark = maxEvent − 10 min < eventTime + 10 min always) and
    // exactly one survivor emerges per distinct fingerprint under ANY
    // batching or arrival order. The oracle computes the same bigram
    // simhash relationally — so the graded row proves the streaming dedup
    // operator's keep-exactly-one contract, which is precisely the part
    // that is semantics rather than accident.
    "dd_simhash_stream" -> ((s, d) => {
      val docs = Tables.tableStream(s, d, "documents")
        .withColumn("ts", lit("2024-01-01 10:00:00").cast("timestamp"))
      val kept = StreamingOps.dedupBySimhash(docs)
      Drain.toMemory(s, kept, "dd_simhash_sink", "append", ConfScope.State)
        .groupBy("simhash")
        .agg(count(lit(1)).as("survivors"))
        .orderBy("simhash")
    })
  )

  val oracle: Map[String, String] = Map(

    // confluent per-batch union-find merges ⇒ the drained label table
    // equals the full rebuild — the true-closure oracle verbatim
    "dd_components_incr_stream" -> graft.operators.LlmOps.fullClosureSql,

    // per-doc merge application is corpus-independent ⇒ the streamed
    // encodings equal the increment docs' rows in the trainer's final
    // sequence: replay the training chain, read seq3 at the increment
    "ta_bpe_encode_stream" ->
      s"""WITH ${graft.operators.LlmOps.bpeChainSql}
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
                 md5(string_agg(tok, '|' ORDER BY pos)) AS enc_md5
          FROM seq3 WHERE doc_id % 5 = 0
          GROUP BY doc_id ORDER BY doc_id""",

    // the streamed scorer over the whole corpus against the whole-corpus
    // model is the batch scorer exactly — same oracle as tp_dsir
    "tp_dsir_stream" ->
      graft.operators.TrainingPipeline.oracle("tp_dsir"),

    // the drained complete-mode daily aggregate ≡ the batch daily
    // aggregate, and the shared cusumOf runs over it — same oracle as e18
    "e18b_cusum_stream" ->
      graft.operators.WindowedAnalytics.oracle("e18_cusum"),

    // the same composed plan, batch-declared: increment anti-joined
    // against the corpus hash set on the j1 normalized text hash
    "dd_admit_stream" ->
      """SELECT doc_id, md5(lower(trim(text))) AS text_hash
         FROM documents
         WHERE doc_id % 5 = 0
           AND md5(lower(trim(text))) NOT IN (
             SELECT md5(lower(trim(text))) FROM documents WHERE doc_id % 5 <> 0)
         ORDER BY doc_id""",

    // the emitted-window frontier: every hour window whose end is at or
    // before the final watermark (max event time − 1 h), and no other
    "i4_watermark_stream" ->
      """WITH g AS (
           SELECT date_trunc('hour', ts) AS hs, event_type, count(*) AS n
           FROM events GROUP BY 1, 2)
         SELECT strftime(hs, '%Y-%m-%d %H:%M:%S') AS hour_start, event_type, n
         FROM g
         WHERE hs + INTERVAL 1 HOUR <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
         ORDER BY hour_start, event_type""",

    // matches = the plain interval join; nulls = unmatched clicks whose
    // join window closed behind the final global (min-of-sides) watermark
    "i14_stream_join" ->
      """WITH clicks AS (
           SELECT event_id AS click_id, user_id, ts AS click_ts
           FROM events WHERE event_type = 'click'),
         purchases AS (
           SELECT event_id AS purchase_id, user_id AS p_user, ts AS purchase_ts
           FROM events WHERE event_type = 'purchase'),
         wm AS (
           SELECT least((SELECT max(click_ts) FROM clicks),
                        (SELECT max(purchase_ts) FROM purchases))
                  - INTERVAL 10 MINUTE AS w),
         matched AS (
           SELECT c.click_id, c.user_id, epoch_us(c.click_ts) AS click_us,
                  p.purchase_id, epoch_us(p.purchase_ts) AS purchase_us
           FROM clicks c JOIN purchases p
             ON c.user_id = p.p_user
            AND p.purchase_ts BETWEEN c.click_ts
                                  AND c.click_ts + INTERVAL 30 MINUTE),
         unmatched AS (
           SELECT c.click_id, c.user_id, epoch_us(c.click_ts) AS click_us,
                  CAST(NULL AS BIGINT) AS purchase_id,
                  CAST(NULL AS BIGINT) AS purchase_us
           FROM clicks c
           WHERE c.click_ts + INTERVAL 30 MINUTE < (SELECT w FROM wm)
             AND NOT EXISTS (
               SELECT 1 FROM purchases p
               WHERE p.p_user = c.user_id
                 AND p.purchase_ts BETWEEN c.click_ts
                                       AND c.click_ts + INTERVAL 30 MINUTE))
         SELECT * FROM (SELECT * FROM matched UNION ALL SELECT * FROM unmatched)
         ORDER BY click_id, coalesce(purchase_id, -1)""",

    // the summed retraction log must equal the batch cohort matrix —
    // e8_retention's oracle verbatim (that is the IVM contract)
    "e8b_retention_stream" ->
      """WITH wk AS (
           SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
         c AS (
           SELECT user_id, wk,
                  min(wk) OVER (PARTITION BY user_id) AS cohort_week
           FROM wk)
         SELECT cohort_week,
                CAST(date_diff('day', cohort_week, wk) // 7 AS INT) AS week_offset,
                count(*) AS active_users
         FROM c GROUP BY cohort_week, week_offset
         ORDER BY cohort_week, week_offset""",

    // the batch min-ts funnel ladder's per-user stage — what the greedy
    // arrival-time scan must converge to
    "e7b_funnel_stream" ->
      """WITH v AS (
           SELECT user_id, min(ts) AS ts_min FROM events
           WHERE event_type = 'view' GROUP BY 1),
         c AS (
           SELECT e.user_id, min(e.ts) AS ts_min FROM events e
           JOIN v ON e.user_id = v.user_id
           WHERE e.event_type = 'click' AND e.ts > v.ts_min GROUP BY 1),
         p AS (
           SELECT e.user_id, min(e.ts) AS ts_min FROM events e
           JOIN c ON e.user_id = c.user_id
           WHERE e.event_type = 'purchase' AND e.ts > c.ts_min GROUP BY 1),
         u AS (SELECT DISTINCT user_id FROM events)
         SELECT u.user_id,
                CAST(v.user_id IS NOT NULL AS INT)
                  + CAST(c.user_id IS NOT NULL AS INT)
                  + CAST(p.user_id IS NOT NULL AS INT) AS stage
         FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
                LEFT JOIN p USING (user_id)
         ORDER BY user_id""",

    // i11_sync_pipeline's oracle verbatim — the batch sync report the
    // streaming twin's final per-user emission must equal
    "i11b_sync_stream" ->
      """WITH target AS (
           SELECT user_id AS tu, event_type AS old_type
           FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
           QUALIFY row_number() OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts) DESC, event_id DESC) = 1),
         delta AS (
           SELECT user_id, event_id, event_type, epoch_us(ts) AS us
           FROM events WHERE ts > TIMESTAMP '2024-01-15 00:00:00'),
         vol AS (
           SELECT user_id, count(*) AS n_delta FROM delta GROUP BY user_id),
         dlww AS (
           SELECT user_id, event_type AS new_type FROM delta
           QUALIFY row_number() OVER (PARTITION BY user_id
                                      ORDER BY us DESC, event_id DESC) = 1)
         SELECT d.user_id, d.new_type,
                CASE WHEN t.tu IS NULL THEN 'inserted'
                     WHEN t.old_type <> d.new_type THEN 'updated'
                     ELSE 'unchanged' END AS change,
                v.n_delta
         FROM dlww d
         JOIN vol v ON d.user_id = v.user_id
         LEFT JOIN target t ON d.user_id = t.tu
         ORDER BY d.user_id""",

    // e13_volume_monitor's oracle verbatim — the batch alarm matrix the
    // final emission per (type, day) must equal
    "e13b_volume_stream" ->
      """WITH daily AS (
           SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                  count(*) AS n
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT event_type, day, n,
                  CAST(sum(n) OVER tw AS BIGINT) AS base7,
                  count(n) OVER tw AS nprior
           FROM daily
           WINDOW tw AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
         SELECT event_type, day, n, base7,
                CAST(n*14 > base7*3 AS INT) AS spike,
                CAST(n*14 < base7 AS INT) AS slump
         FROM w WHERE nprior = 7
         ORDER BY event_type, day""",

    // e9_latency_trend's oracle verbatim — Monday-aligned streaming
    // windows must reproduce the batch date_trunc('week') frame exactly
    "e9b_quantiles_stream" ->
      s"""SELECT date_trunc('week', ts) AS wk, event_type, count(*) AS n,
                 ${graft.functions.ExactNum.sqlRound4("quantile_cont(value, 0.5)")} AS p50,
                 ${graft.functions.ExactNum.sqlRound4("quantile_cont(value, 0.95)")} AS p95
          FROM events GROUP BY wk, event_type
          ORDER BY wk, event_type""",

    // global last-writer-wins per user — what the published snapshot
    // must equal after the full feed drains through the sink
    "i7b_upsert_stream" ->
      """SELECT user_id, event_id AS last_event_id, event_type AS last_type,
                epoch_us(ts) AS last_us
         FROM events
         QUALIFY row_number() OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
         ORDER BY user_id""",

    // i7b's oracle verbatim: the vacuumed table's published snapshot must
    // STILL equal the batch global LWW — retention may only delete
    // out-of-window history, never the current version's bytes
    "a13_vacuum_roundtrip" ->
      """SELECT user_id, event_id AS last_event_id, event_type AS last_type,
                epoch_us(ts) AS last_us
         FROM events
         QUALIFY row_number() OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
         ORDER BY user_id""",

    // batch mirror of the visible MERGE snapshot: global LWW winner per
    // key, keys whose winner is a tombstone (error) dropped at read
    "i7c_merge_stream" ->
      """SELECT user_id, event_id AS last_event_id, event_type AS last_type,
                epoch_us(ts) AS last_us
         FROM (SELECT user_id, event_id, event_type, ts,
                      row_number() OVER (PARTITION BY user_id
                        ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
               FROM events)
         WHERE rn = 1 AND event_type <> 'error'
         ORDER BY user_id""",

    // the telescoped sum of the per-batch CDC deltas IS the final
    // snapshot's group-by: users per current (LWW) event type
    "cdc_ivm_stream" ->
      """SELECT event_type AS etype, count(*) AS n_users
         FROM (SELECT user_id, event_type,
                      row_number() OVER (PARTITION BY user_id
                        ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
               FROM events)
         WHERE rn = 1
         GROUP BY 1 ORDER BY 1""",

    // the batch mirror of the admission verdict: a stream doc (doc_id%5=0)
    // is admitted iff NONE of its 8 band values (over corpus-stop-capped
    // shingles) appears in the corpus band index — NOT EXISTS, no pair
    // enumeration, the same minhash/band SQL fragments as the
    // lsh_minhash_pairs oracle
    "dd_admit_near_stream" -> {
      import graft.operators.{Lsh, LlmOps}
      s"""WITH docs AS (
            SELECT doc_id, list_distinct(list_transform(${Lsh.shSql},
              s -> ('0x'||substr(md5(s),1,15))::BIGINT % ${Lsh.P})) AS hs
            FROM documents),
          inv AS (SELECT doc_id, unnest(hs) AS h FROM docs),
          cinv AS (SELECT * FROM inv WHERE doc_id % 5 <> 0),
          hot AS (SELECT h FROM cinv GROUP BY h
                  HAVING count(*) > ${LlmOps.MaxShingleDf}),
          ccapped AS (SELECT cinv.doc_id, cinv.h FROM cinv ANTI JOIN hot USING (h)),
          sinv AS (SELECT * FROM inv WHERE doc_id % 5 = 0),
          scapped AS (SELECT sinv.doc_id, sinv.h FROM sinv ANTI JOIN hot USING (h)),
          csigs AS (SELECT doc_id, ${Lsh.minColsSql}
                    FROM ccapped GROUP BY doc_id),
          ssigs AS (SELECT doc_id, ${Lsh.minColsSql}
                    FROM scapped GROUP BY doc_id),
          cbands AS (${Lsh.bandSelectsSql("csigs")}),
          sbands AS (${Lsh.bandSelectsSql("ssigs")})
          SELECT i.doc_id
          FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) i
          WHERE NOT EXISTS (
            SELECT 1 FROM sbands sb JOIN cbands cb
              ON sb.band_idx = cb.band_idx AND sb.band_val = cb.band_val
            WHERE sb.doc_id = i.doc_id)
          ORDER BY doc_id"""
    },

    // the batch mirror of the ingest gate: train-bucket docs whose
    // shingle overlap with the EVAL-capped index reaches the threshold.
    // Unlike the batch tp_decontaminate audit (whole-corpus df cap), the
    // stop list here is the EVAL index's own artifact — the one a stored
    // index ships — so the oracle caps both sides with the test-side hot
    // set
    "tp_decontaminate_stream" -> {
      import graft.operators.{Lsh, LlmOps, TrainingPipeline}
      s"""WITH docs AS (
            SELECT doc_id,
                   ${TrainingPipeline.sqlPct("split:", "doc_id")} AS bucket,
                   list_distinct(list_transform(${Lsh.shSql},
                     s -> ('0x'||substr(md5(s),1,15))::BIGINT % ${Lsh.P})) AS hs
            FROM documents),
          inv AS (SELECT doc_id, bucket, unnest(hs) AS h FROM docs),
          tinv AS (SELECT doc_id AS test_id, h FROM inv WHERE bucket >= 90),
          hot AS (SELECT h FROM tinv GROUP BY h
                  HAVING count(*) > ${LlmOps.MaxShingleDf}),
          tcapped AS (SELECT tinv.test_id, tinv.h FROM tinv ANTI JOIN hot USING (h)),
          strain AS (SELECT doc_id AS train_id, h FROM inv WHERE bucket < 80),
          scapped AS (SELECT strain.train_id, strain.h FROM strain ANTI JOIN hot USING (h))
          SELECT train_id, count(DISTINCT h) AS n_shared,
                 count(DISTINCT test_id) AS n_test_docs
          FROM scapped JOIN tcapped USING (h)
          GROUP BY train_id
          HAVING count(DISTINCT h) >= 5
          ORDER BY train_id"""
    },

    // i3's lag-gap sessionization + the emitted-session frontier: every
    // session whose end (last event + 30 min gap) is at or before the
    // final watermark (max ts − 10 min), and no other
    "i3b_session_stream" ->
      """WITH e AS (
           SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
         s AS (
           SELECT user_id, event_id, us,
                  CASE WHEN lag(us) OVER w IS NULL
                         OR us - lag(us) OVER w >= 1800000000
                       THEN 1 ELSE 0 END AS new_sess
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         g AS (
           SELECT user_id, us,
                  sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM s),
         agg AS (
           SELECT user_id, min(us) AS start_us,
                  max(us) + 1800000000 AS end_us, count(*) AS n_events
           FROM g GROUP BY user_id, sid)
         SELECT user_id, start_us, end_us, n_events
         FROM agg
         WHERE end_us <= (SELECT max(epoch_us(ts)) - 600000000 FROM events)
         ORDER BY user_id, start_us""",

    // lsh_ivf_topk's oracle with the query set = the streamed ids (every
    // 50th vector) instead of the 5 lowest — same assignment CTE, same
    // in-cell scoring, same top-5 rank rule
    "lsh_ivf_serve_stream" -> {
      import graft.operators.Lsh
      import graft.functions.ExactNum.sqlRound4
      val dotSql =
        """list_reduce(list_prepend(0.0, list_transform(range(1, 65),
            i -> (qs.q[i]::DOUBLE) * (a.embedding[i]::DOUBLE))), (acc, x) -> acc + x)"""
      s"""WITH ${Lsh.ivfAssignSql(10)},
          qs AS (SELECT vec_id AS query_id, embedding AS q, cell, nrm AS qn
                 FROM normed WHERE vec_id % 50 = 0),
          scored AS (
            SELECT qs.query_id, a.vec_id,
                   $dotSql / (qs.qn * a.nrm) AS cos_raw
            FROM normed a JOIN qs ON a.cell = qs.cell)
          SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
                 ${sqlRound4("cos_raw")} AS cos
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos_raw DESC, vec_id ASC) AS rank FROM scored)
          WHERE rank <= 5
          ORDER BY query_id, rank"""
    },

    // the batch REBUILD of the maintained index: assignments for corpus ∪
    // increment recomputed from scratch (same CTE as lsh_ivf_topk), plus
    // the per-cell occupancy split — equality proves the drained
    // maintenance versions converge to the rebuild under any batching
    "lsh_ivf_maintain_stream" -> {
      import graft.operators.Lsh
      import graft.functions.ExactNum.sqlRound4
      s"""WITH ${Lsh.ivfAssignSql(10)},
          idx AS (
            SELECT vec_id, CAST(cell AS INT) AS cell,
                   CAST(vec_id % 5 = 0 AS INT) AS is_new
            FROM normed),
          occ AS (
            SELECT cell,
                   CAST(sum(CASE WHEN is_new = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
                   CAST(sum(is_new) AS BIGINT) AS n_new
            FROM idx GROUP BY cell)
          SELECT vec_id, cell, is_new, n_old, n_new,
                 ${sqlRound4("CAST(n_new AS DOUBLE) / (n_old + n_new)")} AS new_share
          FROM idx JOIN occ USING (cell)
          ORDER BY vec_id"""
    },

    // exactly one survivor per distinct bigram-simhash fingerprint — the
    // keep-exactly-one dedup contract, on the same relational fingerprint
    // the batch lsh_simhash_pairs oracle uses (bit-identity of the
    // streaming HOF form to this SQL is pinned in StreamingSpec)
    "dd_simhash_stream" -> {
      import graft.operators.Lsh.{simhashTermsSql, toksSql}
      s"""WITH sigs AS (
            SELECT doc_id, CAST($simhashTermsSql AS BIGINT) AS simhash
            FROM (SELECT doc_id,
                    list_transform(list_distinct(list_transform(
                      range(1, len($toksSql)),
                      i -> $toksSql[i] || ' ' || $toksSql[i+1])),
                      t -> ('0x'||substr(md5(t),1,8))::BIGINT) AS hs
                  FROM documents))
          SELECT simhash, CAST(1 AS BIGINT) AS survivors
          FROM sigs GROUP BY simhash
          ORDER BY simhash"""
    }
  )
}
