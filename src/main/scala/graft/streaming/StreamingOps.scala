package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.ConfScope
import graft.sources.{UpsertTable, VersionedTable}

/** Structured Streaming forms of the SURVEY.md §2 I-group operators — the
  * CMDB sync loop as an actual stream (the batch twins in
  * graft.operators.TemporalOps are the oracle-graded forms; these are the
  * incremental forms, proven equivalent by StreamingSpec).
  *
  * Each transform takes any events-shaped DataFrame (batch or streaming —
  * the logical plan is identical; Spark incrementalizes it under
  * MicroBatchExecution). Watermarks bound state: windows/dedup state older
  * than the watermark is evicted, which is what makes these run forever on
  * an unbounded change feed.
  */
object StreamingOps {

  /** I1/I4 stream form: tumbling 1-hour counts per event type with a
    * 1-hour watermark — the plan `i4_watermark_stream` grades. In append
    * mode a window emits once the watermark (max event time − 1 h)
    * reaches its end, its state is dropped, and a row arriving for a
    * window behind the watermark is dropped with it; complete mode keeps
    * every window. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("hour_start"), col("event_type"), col("n"))

  /** I2 stream form: sliding 1-hour windows every 15 minutes. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("win_start"), col("n"))

  /** E9 stream form: weekly exact p50/p95 per event type over
    * Monday-aligned tumbling windows — `window(…, "7 days")` anchors at the
    * epoch (a Thursday), so the 96-hour startTime offset shifts window
    * starts onto Mondays, making `w.start` coincide exactly with the batch
    * twin's `date_trunc('week', ts)`. Exact percentile state is the
    * window's value-count map — bounded by per-window distinct values, the
    * same trade the batch form documents; the sketch form is the drop-in
    * for unbounded metric domains. */
  def weeklyValueQuantiles(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "7 days", "7 days", "96 hours").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.functions.ExactNum.round4(expr("percentile(value, 0.5)")).as("p50"),
        graft.functions.ExactNum.round4(expr("percentile(value, 0.95)")).as("p95"))
      .select(col("w.start").as("wk"), col("event_type"),
        col("n"), col("p50"), col("p95"))

  /** I3 stream form: native session windows (30-minute gap, 10-minute
    * watermark) per user, as [start, last event + gap) — the plan
    * `i3b_session_stream` grades. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("sess_start"),
        col("sw.end").as("sess_end"), col("n_events"))

  /** I5 stream form: stateful dedup on the natural key. Plain
    * `dropDuplicates(keys)` only evicts state under a watermark when the
    * event-time column is PART of the keys — deduping on business keys
    * alone grows state forever on an unbounded feed. The WithinWatermark
    * variant keys state on the business columns but expires each entry
    * once the watermark passes its event time, which is the semantics a
    * change-feed dedup actually wants (duplicates arrive close together;
    * a key may legitimately recur much later). */
  def dedupByKey(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Per-row 32-bit bigram simhash as a COLUMN expression — the streaming
    * form of Lsh.simhashBigramSigs. A stream cannot run that builder's
    * lead() window (no ordered per-key shuffle over an unbounded feed), so
    * the fingerprint is computed row-locally by the custom codegen'd
    * Catalyst expression (graft.plans.TextExpressions — one static-call
    * kernel pass per row, inside whole-stage codegen) and proven
    * bit-identical to the batch relational form in StreamingSpec. The
    * earlier higher-order-function form paid 32 interpreted `aggregate`
    * passes per row — 13.5 s for the 5k-doc graded drain at sf0.1 vs ~1 s
    * for the kernel. Docs with < 2 tokens have no bigrams and sign to 0. */
  def simhashCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.plans.TextExpressions.simhash_bigrams(text)

  /** Streaming near-dup dedup: fingerprint each arriving doc with
    * [[simhashCol]] and keep the first per fingerprint inside the
    * watermark horizon — the arrival-time form of the lsh_simhash_pairs
    * dedup family. State is keyed on the 8-byte signature and expired by
    * the watermark, so it stays bounded on an unbounded corpus feed (the
    * same reasoning as [[dedupByKey]]: near-dup bursts arrive close
    * together; a fingerprint legitimately recurring much later is a new
    * context, not a replay). */
  def dedupBySimhash(docs: DataFrame): DataFrame =
    docs
      .withColumn("simhash", simhashCol(col("text")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("simhash")

  /** Streaming admission gate against the EXISTING corpus — the
    * arrival-time form of the graded `dd_incremental` batch gate, at the
    * exact-identity level (`j1`'s normalized text hash): each arriving doc
    * is fingerprinted and stream-static LEFT ANTI joined against the
    * admitted corpus's hash set, so already-present docs are rejected the
    * moment they arrive. Caveat a production deployment must know: for a
    * plain file-source static side the FILE LISTING is pinned when the
    * DataFrame is created — rows appended to the corpus directory
    * mid-stream are NOT seen by later micro-batches (verified in
    * StreamingSpec); picking up corpus growth needs a restart or a
    * refreshable table format. Near-dup admission composes
    * [[dedupBySimhash]] downstream of this gate. At scale the static side
    * is a stored hash index — the anti join shuffles by hash, never
    * batch × corpus. */
  def admitAgainstCorpus(incoming: DataFrame, corpus: DataFrame): DataFrame = {
    val known = corpus.select(md5(lower(trim(col("text")))).as("text_hash"))
      .distinct()
    incoming.withColumn("text_hash", md5(lower(trim(col("text")))))
      .join(known, Seq("text_hash"), "left_anti")
  }

  /** Per-micro-batch NEAR-DUP admission verdict (the dd_admit_near_stream
    * core): sign `batch` with the shared minhash/band pipeline — shingles
    * capped by the CORPUS stop list `hot`, so probe signatures can never
    * drift from the stored index — and admit every doc with NO band-bucket
    * collision against `corpusBands`. The verdict is per-row against
    * static state, so unioning the results of ANY partition of the feed
    * into batches equals one batch over the whole feed (pinned in
    * StreamingSpec) — which is what makes the streaming gate gradeable. */
  def admitNearBatch(batch: DataFrame, hot: DataFrame,
      corpusBands: DataFrame): DataFrame = {
    val capped = graft.operators.LlmOps.shingleRows(batch)
      .select("doc_id", "h")
      .join(broadcast(hot), Seq("h"), "left_anti")
    val colliding = graft.operators.Lsh.minhashBandRows(capped)
      .join(corpusBands, Seq("band_idx", "band_val"), "left_semi")
      .select("doc_id").distinct()
    batch.select("doc_id").join(colliding, Seq("doc_id"), "left_anti")
  }

  /** Per-micro-batch decontamination verdict (the tp_decontaminate_stream
    * core): flag every arriving training doc whose shingle overlap with the
    * STATIC eval index reaches the leakage threshold. `hot` is the eval
    * index's shipped stop-shingle list (the arriving side must cap with the
    * index's artifact, not its own df — same contract as
    * [[admitNearBatch]]); `testIndex` is the capped (test_id, h) inverted
    * index. The per-doc counts depend only on the doc's own shingles and
    * static state ⇒ batching-independent (StreamingSpec). */
  def decontaminateBatch(batch: DataFrame, hot: DataFrame,
      testIndex: DataFrame, minShared: Int = 5): DataFrame = {
    val capped = graft.operators.LlmOps.shingleRows(batch)
      .select("doc_id", "h")
      .join(broadcast(hot), Seq("h"), "left_anti")
    capped.join(testIndex, Seq("h"))
      .groupBy("doc_id")
      .agg(count_distinct(col("h")).as("n_shared"),
        count_distinct(col("test_id")).as("n_test_docs"))
      .filter(col("n_shared") >= minShared)
      .select(col("doc_id").as("train_id"), col("n_shared"), col("n_test_docs"))
  }

  /** Per-micro-batch DSIR scoring verdict (the tp_dsir_stream core): score
    * every arriving doc against the STATIC 256-row bucket model `lr` (the
    * shipped artifact of `TrainingPipeline.dsirModel` — same builder as the
    * batch scorer, so probe features can never drift from the model).
    * Tokenization is relational (explode + hash aggregate, codegen'd — the
    * dd_simhash lesson), the model joins by broadcast, and each verdict
    * depends only on the doc's own tokens and static state ⇒
    * batching-independent and gradeable against the batch oracle. */
  def dsirScoreBatch(batch: DataFrame, lr: DataFrame): DataFrame = {
    import graft.operators.TrainingPipeline
    val occ = batch
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "lang", "tok").agg(count(lit(1)).as("m"))
      .withColumn("bkt", TrainingPipeline.dsirBucket(col("tok")))
    occ.join(broadcast(lr), "bkt")
      .groupBy("doc_id", "lang").agg(
        sum(col("m")).as("n_tokens"),
        graft.functions.ExactNum.round4(
          (sum(col("m") * col("lr")) / 1e7) / sum(col("m"))).as("dsir_score"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("dsir_score"),
        (col("dsir_score") > 0.0 && col("lang") =!= "en").cast("int")
          .as("selected"))
  }

  /** Per-micro-batch ANN serving verdict (the lsh_ivf_serve_stream core):
    * top-`k` cosine neighbors from the STATIC IVF-indexed corpus for every
    * query vector in `batch`. Queries are assigned to their coarse cell
    * with the same stored centroid grid / distance / tie rule as the index
    * build (`Lsh.assignVectors` — one shared assignment), then scored only
    * against their cell's corpus vectors. Per-query results depend only on
    * the query vector and static state ⇒ batching-independent. */
  def annServeBatch(batch: DataFrame, cents: DataFrame, corpus: DataFrame,
      k: Int = 5): DataFrame = {
    val qv = batch.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val qs = graft.operators.Lsh.assignVectors(qv, cents, 1)
      .select(col("vec_id").as("query_id"), col("v").as("q"),
        col("cell"), col("nrm").as("qn"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos_raw").desc, col("vec_id").asc)
    corpus.join(broadcast(qs), "cell")
      .withColumn("cos_raw",
        graft.plans.VectorExpressions.dot_product(col("q"), col("v")) /
          (col("qn") * col("nrm")))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("vec_id"), graft.functions.ExactNum.round4(col("cos_raw")).as("cos"))
  }

  /** Event shape for the custom-state operator. */
  case class UserEvent(user_id: Long, event_type: String, us: Long)

  /** Alert emitted when a user produces `threshold` errors within
    * `windowUs` microseconds. */
  case class BurstAlert(user_id: Long, n_errors: Int, first_us: Long, last_us: Long)

  /** Custom keyed state via flatMapGroupsWithState: an error-burst detector
    * (N errors from one user inside a sliding time span). This is the
    * escape hatch for stateful logic the built-in window/dedup operators
    * can't express — state is per-key, bounded by eviction of old
    * timestamps, and the operator works identically over a stream.
    */
  def errorBursts(events: Dataset[UserEvent], threshold: Int, windowUs: Long)
      : Dataset[BurstAlert] = {
    import events.sparkSession.implicits._
    // state = sorted error timestamps still eligible to form a burst
    def update(userId: Long, rows: Iterator[UserEvent],
        state: GroupState[Array[Long]]): Iterator[BurstAlert] = {
      val prev = state.getOption.getOrElse(Array.empty[Long]).toList
      val incoming = rows.filter(_.event_type == "error").map(_.us).toList.sorted
      var times = (prev ++ incoming).sorted
      val alerts = scala.collection.mutable.ListBuffer[BurstAlert]()
      // slide over sorted error times; emit one alert per time the window
      // first reaches the threshold, then reset that window
      var windowStart = 0
      var lastAlertEnd = -1 // index of the last timestamp consumed by an alert
      for (i <- times.indices) {
        while (times(i) - times(windowStart) > windowUs) windowStart += 1
        if (i - windowStart + 1 == threshold) {
          alerts += BurstAlert(userId, threshold, times(windowStart), times(i))
          lastAlertEnd = i
          windowStart = i + 1 // reset: don't re-alert on overlapping windows
        }
      }
      // Retain only timestamps NOT consumed by an emitted alert — otherwise
      // the same error events could seed a second alert in a later
      // micro-batch and the output would depend on how the stream happened
      // to be batched. At most threshold-1 unconsumed tail timestamps can
      // ever contribute to a future burst, which bounds state per key.
      times = times.drop(lastAlertEnd + 1).takeRight(threshold - 1)
      state.update(times.toArray)
      alerts.iterator
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** Per-user funnel progress for the stream form of `e7_funnel`. */
  case class FunnelProgress(user_id: Long, stage: Int)

  /** Streaming ordered-sequence funnel — the arrival-time twin of
    * `WindowedAnalytics.funnelOf`: per-user state is (current stage,
    * ts of the last advance), a constant-size record regardless of
    * history length, advanced by a greedy in-order scan. The greedy scan
    * IS the batch min-ts ladder: the batch takes the earliest stage-i
    * event strictly after the first reach of stage i−1, and a
    * time-ordered scan advances at exactly that event (ties can't
    * advance either semantics — strict inequality both places — so
    * intra-tie processing order is immaterial; StreamingSpec proves
    * stream ≡ batch on the real feed). Within a micro-batch rows arrive
    * unordered, so each batch's rows sort by time BEFORE the scan —
    * per-key within one micro-batch, a bounded sort. Emits the updated
    * stage per user per batch (Update-mode semantics: stage is monotonic,
    * so the latest emission is the answer). */
  def funnelStages(events: Dataset[UserEvent], stages: Seq[String])
      : Dataset[FunnelProgress] = {
    import events.sparkSession.implicits._
    def update(userId: Long, rows: Iterator[UserEvent],
        state: GroupState[(Int, Long)]): Iterator[FunnelProgress] = {
      var (stage, lastTs) = state.getOption.getOrElse((0, Long.MinValue))
      rows.toSeq.sortBy(_.us).foreach { e =>
        if (stage < stages.length && e.event_type == stages(stage) &&
            e.us > lastTs) {
          stage += 1
          lastTs = e.us
        }
      }
      state.update((stage, lastTs))
      Iterator(FunnelProgress(userId, stage))
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }

  case class VolumeAlarm(event_type: String, day: String, n: Long,
    base7: Long, spike: Int, slump: Int)

  /** Streaming volume-anomaly monitor — the arrival-time twin of
    * `e13_volume_monitor`. Per event type, state is the day→count map of
    * the last 64 calendar days with data (a horizon prune identical in
    * spirit to retentionDeltas' 64-week mask: late data for a day that
    * aged out is dropped, the documented trade for bounded state; within
    * the horizon the twin is EXACTLY order-independent, because day
    * counting is a commutative sum — stronger than the funnel twin, which
    * needs its per-batch sort). Each batch re-emits the alarm row for
    * every evaluable day of the type (≥7 prior days in the horizon) under
    * Update semantics: the latest emission per (type, day) is the answer,
    * and after all data it equals the batch query row-for-row. State is
    * ≤64 entries per type — constant in event volume. */
  def volumeAlarms(events: DataFrame): Dataset[VolumeAlarm] = {
    import events.sparkSession.implicits._
    def update(etype: String, rows: Iterator[(String, String)],
        state: GroupState[Map[String, Long]]): Iterator[VolumeAlarm] = {
      var m = state.getOption.getOrElse(Map.empty[String, Long])
      rows.foreach { case (_, day) =>
        m = m.updated(day, m.getOrElse(day, 0L) + 1L)
      }
      val days = m.keys.toSeq.sorted
      if (days.size > 64) {
        val cut = days(days.size - 64)
        m = m.filter { case (d, _) => d >= cut }
      }
      state.update(m)
      val ds = m.keys.toSeq.sorted
      ds.zipWithIndex.drop(7).iterator.map { case (d, i) =>
        val base = (i - 7 until i).map(j => m(ds(j))).sum
        val n = m(d)
        VolumeAlarm(etype, d, n, base,
          if (n * 14 > base * 3) 1 else 0, if (n * 14 < base) 1 else 0)
      }
    }
    events
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .as[(String, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }

  case class SyncChange(user_id: Long, new_type: String, change: String,
    n_delta: Long)

  /** Streaming form of the composed sync loop (`i11_sync_pipeline`'s
    * arrival-time twin): delta events stream in, each row stream-static
    * LEFT-joined to the pre-sync target state (broadcast per micro-batch),
    * then folded per user into constant-size state — (latest us, latest
    * event_id, latest type, delta count, old state). Every fold is
    * commutative (max on (us, event_id), count, and old_type is constant
    * per user), so like volumeAlarms this twin is EXACTLY
    * order-independent within the delta: any arrival order converges to
    * the batch report. Each batch re-emits the user's current report row
    * under Update semantics; the final emission per user equals the
    * batch `i11_sync_pipeline` row for that user. */
  def syncChanges(delta: DataFrame, target: DataFrame): Dataset[SyncChange] = {
    import delta.sparkSession.implicits._
    val joined = delta
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("event_type"), unix_micros(col("ts")).as("us"))
      .join(org.apache.spark.sql.functions.broadcast(
          target.select(col("user_id").as("t_user"), col("old_type"))),
        col("user_id") === col("t_user"), "left")
      .select(col("user_id"), col("event_id"), col("event_type"), col("us"),
        col("old_type"))
      .as[(Long, Long, String, Long, Option[String])]
    def update(uid: Long, rows: Iterator[(Long, Long, String, Long, Option[String])],
        state: GroupState[(Long, Long, String, Long, String)])
        : Iterator[SyncChange] = {
      // old_type is "" when the user is absent from the target (inserted)
      var (us, eid, typ, n, old) =
        state.getOption.getOrElse((Long.MinValue, Long.MinValue, "", 0L, ""))
      rows.foreach { case (_, e, t, u, o) =>
        n += 1
        if (u > us || (u == us && e > eid)) { us = u; eid = e; typ = t }
        old = o.getOrElse("")
      }
      state.update((us, eid, typ, n, old))
      val change =
        if (old.isEmpty) "inserted" else if (old != typ) "updated" else "unchanged"
      Iterator(SyncChange(uid, typ, change, n))
    }
    joined.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }

  case class RetentionDelta(cohort_us: Long, week_offset: Int, delta: Int)

  /** Streaming cohort retention as an incrementally-maintained view — the
    * arrival-time twin of `WindowedAnalytics.retentionOf`, with a stronger
    * guarantee than the other arrival-time twins: the emitted (+1/−1)
    * delta log sums to EXACTLY the batch matrix under ANY arrival order,
    * because a user whose true (earlier) cohort week arrives late triggers
    * RETRACTIONS — every increment previously attributed to the provisional
    * cohort is emitted again with delta −1 and re-emitted rebased under the
    * new cohort (the retraction discipline of incremental view
    * maintenance). Per-user state is constant-size regardless of history:
    * (cohort week, one Long bitmask of week offsets seen) = 16 bytes, which
    * bounds the horizon at 64 weeks past the cohort — activity beyond the
    * horizon is dropped (retracted without re-emit on a rebase that shifts
    * it out), the documented trade for constant state; batch equivalence
    * holds for data within the horizon. Downstream, `sum(delta) GROUP BY
    * (cohort, offset)` is an ordinary partial-aggregable streaming
    * aggregate. */
  def retentionDeltas(events: DataFrame): Dataset[RetentionDelta] = {
    import events.sparkSession.implicits._
    val weekUs = 7L * 24 * 3600 * 1000000L
    def update(uid: Long, rows: Iterator[(Long, Long)],
        state: GroupState[(Long, Long)]): Iterator[RetentionDelta] = {
      var (cohort, mask) = state.getOption.getOrElse((Long.MaxValue, 0L))
      val out = scala.collection.mutable.ArrayBuffer.empty[RetentionDelta]
      rows.foreach { case (_, wkUs) =>
        if (cohort == Long.MaxValue) {
          cohort = wkUs; mask = 1L
          out += RetentionDelta(cohort, 0, 1)
        } else if (wkUs < cohort) {
          val shift = ((cohort - wkUs) / weekUs).toInt
          var b = 0
          while (b < 64) {
            if ((mask & (1L << b)) != 0) {
              out += RetentionDelta(cohort, b, -1)
              if (b + shift < 64) out += RetentionDelta(wkUs, b + shift, 1)
            }
            b += 1
          }
          // Scala's << masks the shift amount to 6 bits on Long — a ≥64
          // shift must clear explicitly, not rely on the operator
          mask = if (shift < 64) (mask << shift) | 1L else 1L
          cohort = wkUs
          out += RetentionDelta(cohort, 0, 1)
        } else {
          val off = ((wkUs - cohort) / weekUs).toInt
          if (off < 64 && (mask & (1L << off)) == 0) {
            mask |= 1L << off
            out += RetentionDelta(cohort, off, 1)
          }
        }
      }
      state.update((cohort, mask))
      out.iterator
    }
    events
      .select(col("user_id").cast("long"),
        unix_micros(date_trunc("week", col("ts"))).as("wk_us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** Stream-stream interval join: each purchase joined to the same user's
    * clicks in the preceding 30 minutes. Both sides carry watermarks and the
    * join condition bounds event time on both sides, so Spark can expire
    * buffered rows — the state stays O(events within the interval), which is
    * what lets two unbounded streams join forever. The batch twin is the
    * same plan over static frames (interval joins are time-range joins —
    * C7's bucketing is the batch-at-scale form).
    */
  def clickToPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    purchases.join(clicks,
      expr("""c_user = p_user AND
              click_ts BETWEEN purchase_ts - INTERVAL 30 MINUTES
                           AND purchase_ts"""))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("click_id"), col("click_ts"), col("purchase_ts"))
  }

  /** Stream-stream LEFT OUTER interval join — the attribution query's
    * production form: every click, with its purchase inside the next 30
    * minutes IF one exists. The semantic worth pinning is WHEN the
    * unmatched row appears: an inner match emits as soon as both sides
    * arrive, but a click with no purchase can only emit its null once the
    * purchase-side WATERMARK has passed the end of the click's interval —
    * before that, a matching purchase could still arrive, so the row sits
    * in join state. A dashboard reading this stream sees matches promptly
    * and no-purchase rows one watermark-delay late; that lag is the price
    * of the null being definitive, and the watermark bound is also what
    * lets the join state evict (two unbounded streams join forever in
    * bounded memory). Both sides carry watermarks and the condition
    * bounds event time in both directions — the requirements Spark
    * imposes before it will run an outer stream-stream join at all. */
  def clickToPurchaseLeftJoin(events: DataFrame): DataFrame = {
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "10 minutes")
    clicks.join(purchases,
      expr("""c_user = p_user AND
              purchase_ts BETWEEN click_ts
                              AND click_ts + INTERVAL 30 MINUTES"""),
      "leftOuter")
      .select(col("click_id"), col("c_user").as("user_id"),
        col("click_ts"), col("purchase_id"), col("purchase_ts"))
  }

  /** Stream-static enrichment join: each event joined to a static dimension
    * snapshot (the CMDB "reference field" resolution done stream-side). The
    * static side is broadcast per micro-batch — no stream state at all, so
    * unlike a stream-stream join this needs no watermark and never grows;
    * the dimension is re-read each batch, so a slowly-changing dimension is
    * picked up at batch granularity. The batch twin is the identical plan
    * over a static frame (proven by StreamingSpec). */
  def enrichWithDim(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(
      org.apache.spark.sql.functions.broadcast(dim),
      events("user_id") === dim("dim_user_id"), "left")
      .select(events("event_id"), events("user_id"), events("event_type"),
        dim("segment"))

  /** I7 production form: the [[graft.sources.UpsertTable]] merge run per
    * micro-batch via foreachBatch — the shape a real lakehouse-style sink
    * has. Each batch publishes one version; readers always see a complete
    * version and a crashed batch merely leaves an orphaned directory. */
  def runUpsertSinkToParquet(spark: SparkSession, events: Dataset[_],
      checkpoint: String, target: String): Unit =
    Drain.eachBatch(spark, checkpoint, events, ConfScope.Merge, "update") {
      (batch, _) => UpsertTable.applyBatch(spark, batch, target)
    }

  /** One micro-batch of streaming dedup-cluster maintenance (SG18):
    * append the batch's ids to the arrived set, select the delta edges
    * whose LATER endpoint just arrived (≥1 endpoint in the batch, any
    * NEW endpoint already arrived), contract them to the current label
    * table, run the delta-sized min-label fixpoint, publish the next
    * version through the Hadoop-FS pointer. REPLAY-IDEMPOTENT twice
    * over: a redelivered batch's ids keep their ORIGINAL batch number
    * (min(b) over the appended arrived log), so its edges fail the
    * arrived-now predicate and select nothing — and even an edge that
    * did re-apply would contract to a no-op under min-label algebra.
    * The republished version is value-identical; StreamingSpec
    * redelivers a batch mid-sequence and pins the final table equal to
    * both the clean run and the full rebuild.
    *
    * PRECONDITION on the batch contents: every edge endpoint in
    * `newPairs` that `isNew` classifies as new must eventually arrive in
    * some batch; endpoints `isNew` rejects are treated as part of the
    * stored corpus (arrived before t0, b = 0). Feeding ids the predicate
    * misclassifies makes edges apply before their endpoint lands —
    * intermediate published versions may label docs that never arrived
    * (the final drained table still converges to the rebuild).
    *
    * @param root scratch root holding `labels/` (a
    *   [[graft.sources.VersionedTable]]) and `arrived/`
    * @param newPairs the τ=0.3 stored-index probe frame (≥1 new endpoint)
    * @param batch the arriving increment slice (has `doc_id`)
    * @param isNew classifies an edge-endpoint id column as part of the
    *   INCREMENT (must arrive) vs the stored corpus — passed by the
    *   caller, never assumed: this kernel is generic over whatever
    *   increment convention the feed uses */
  def applyComponentsBatch(s: SparkSession, root: String,
      newPairs: DataFrame, batch: DataFrame,
      isNew: Column => Column): Unit = {
    import graft.operators.GraphOps
    VersionedTable.publish(s, s"$root/labels") { (prev, nextDir) =>
      val cur = prev.getOrElse(sys.error(s"no published labels under $root"))
      val curBatch = cur + 1
      // arrived carries the FIRST batch number per id (min(b) under
      // redelivery), so "this edge's later endpoint arrived NOW" is one
      // greatest() predicate — 2 probe joins + a delta-sized agg instead
      // of 4 joins; old endpoints read as b = 0 (arrived before t0)
      val bIds = batch.select(col("doc_id").as("id"))
      bIds.withColumn("b", lit(curBatch))
        .write.mode("append").parquet(s"$root/arrived")
      // explicit schemas on the per-batch reads: the layouts are this
      // kernel's own writes, and schema inference would re-read a parquet
      // footer on the DRIVER every micro-batch — pure per-batch planning
      // cost on the ingest path
      val longCol = org.apache.spark.sql.types.LongType
      val arrivedSchema = new org.apache.spark.sql.types.StructType()
        .add("id", longCol).add("b", longCol)
      val arrived = s.read.schema(arrivedSchema).parquet(s"$root/arrived")
        .groupBy("id").agg(min(col("b")).as("b"))
      val e = newPairs
        .join(arrived.select(col("id").as("sa"), col("b").as("ba")),
          col("src") === col("sa"), "left")
        .join(arrived.select(col("id").as("sb"), col("b").as("bb")),
          col("dst") === col("sb"), "left")
        .filter((!isNew(col("src")) || col("sa").isNotNull) &&
          (!isNew(col("dst")) || col("sb").isNotNull) &&
          greatest(coalesce(col("ba"), lit(0L)), coalesce(col("bb"), lit(0L)))
            === curBatch)
        .select("src", "dst")
      val labSchema = new org.apache.spark.sql.types.StructType()
        .add("id", longCol).add("comp", longCol)
      val lab = VersionedTable.read(s, s"$root/labels", cur, Some(labSchema))
      // a REDELIVERED batch's docs are already labeled — feeding them as
      // new vertices again would emit duplicate label rows (they would
      // surface through both the relabel join and the new-vertex branch);
      // the anti join makes redelivery feed an empty new-vertex set while
      // the re-applied edges contract to no-ops
      val bNew = bIds.join(lab.select("id"), Seq("id"), "left_anti")
      // no ConfScope here: this runs on the STREAMING thread while the
      // drain's ConfScope.Merge holds the session monitor across the drain —
      // taking it again would deadlock. The drain's scope owns the width.
      val upd = GraphOps.incrementalComponents(lab, bNew, e)
      upd.write.mode("overwrite").parquet(nextDir)
    }
  }

  /** One micro-batch of streaming ANN index MAINTENANCE (SG20) — the
    * ingest half of vector serving that SG13's query drain reads from:
    * assign the batch's arriving vectors to their nearest cell of the
    * FIXED coarse-quantizer grid (`cents` is the stored model artifact;
    * assignment reuses Lsh.assignVectors so the distance/tie rule can
    * never drift from the index build or the serving gate), append them
    * to the current snapshot flagged `is_new = 1`, publish the next
    * version through the atomic pointer. REPLAY-IDEMPOTENT: a
    * redelivered batch re-derives the IDENTICAL assignment rows (the
    * grid is static) and the vec_id dedup collapses them, so the
    * republished version is value-identical. The graded SF publishes
    * full snapshot versions (as the UpsertTable does); at 100 TB a
    * version would be a delta dir + manifest so each batch writes
    * O(batch), not O(index) — the pointer/versioning contract and this
    * kernel's per-batch assignment cost (|batch| × nlist broadcast join,
    * one batch-keyed rank window) are unchanged. */
  def maintainIvfBatch(s: SparkSession, root: String, cents: DataFrame,
      batch: DataFrame): Unit = {
    val asg = graft.operators.Lsh.assignVectors(
      batch.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v")),
      cents, 1)
      .filter(col("rnk") === 1)
      .select(col("vec_id"), col("cell"), lit(1).as("is_new"))
    VersionedTable.publish(s, s"$root/index") { (prev, nextDir) =>
      val cur = prev.getOrElse(sys.error(s"no published IVF index under $root"))
      // explicit schema: every version holds this kernel's own (vec_id,
      // cell, is_new) rows — skip the per-batch footer inference (the
      // UpsertTable.applyBatch rule)
      VersionedTable.read(s, s"$root/index", cur, Some(asg.schema))
        .unionByName(asg)
        .dropDuplicates("vec_id")
        .write.mode("overwrite").parquet(nextDir)
    }
  }
}
