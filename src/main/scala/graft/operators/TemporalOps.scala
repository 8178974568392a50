package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Q
import graft.functions.ExactNum._
import graft.sources.Tables._
import graft.sources.UpsertTable.lastWriterWins

/** Scalar function families and the incremental-sync loop — SURVEY.md §2
  * groups H (string/date/math/array/map/JSON) and I (the CMDB sync
  * operators, in their batch/oracle forms; the Structured Streaming forms
  * live in graft.streaming and are proven by unit tests).
  *
  * The I group models the reference's core loop: poll the source for records
  * newer than a watermark (I6), window/sessionize the change feed (I1–I3),
  * dedupe by key (I5), merge last-writer-wins into the target (I7), and
  * derive insert/update/delete deltas between snapshots (I8).
  *
  * Scale notes: the window/sessionize/dedup/upsert operators all partition by
  * user or (user, window) keys — a single hash shuffle each, no global
  * windows on fact-sized data; the tumbling/sliding aggregations pre-reduce
  * map-side. The sliding window uses Spark's native window(slide) generator,
  * which explodes each row into duration/slide windows before the shuffle —
  * the blow-up factor (4×) is fixed and bounded.
  */
object TemporalOps {

  /** I11's sync cutoff: the sync polls the events past it, and the
    * pre-sync target is the state at or before it. A `def`, so loading
    * the registry builds no Column. */
  private[graft] def syncCutoff: Column = lit("2024-01-15 00:00:00").cast("timestamp")

  /** The pre-sync target that i11 and its streaming twin i11b classify
    * against: per user, the last writer at or before [[syncCutoff]], as
    * (user_id, old_type). */
  private[graft] def syncTarget(s: SparkSession, d: String): DataFrame =
    lastWriterWins(syncEvents(events(s, d).filter(col("ts") <= syncCutoff)))
      .select(col("user_id"), col("event_type").as("old_type"))

  private def syncEvents(ev: DataFrame): DataFrame =
    ev.select(col("user_id"), col("event_id"), col("event_type"),
      unix_micros(col("ts")).as("us"))

  val queries: Map[String, Q] = Map(
    // ------------------------------------------------------------------- H
    // H1: string normalization — the CI-name cleanup surface.
    "h1_string" -> ((s, d) =>
      part(s, d)
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("up"),
          regexp_replace(lower(trim(col("p_name"))), "\\s+", "_").as("norm"),
          split(col("p_name"), " ").getItem(0).as("first_word"),
          regexp_extract(col("p_brand"), "(\\d+)", 1).as("brand_num"),
          lpad(col("p_size").cast("string"), 4, "0").as("padded"),
          length(col("p_name")).as("len"))
        .orderBy("p_partkey")),

    // H2: date/time — the sys_updated_on handling surface.
    "h2_datetime" -> ((s, d) =>
      orders(s, d)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          dayofweek(col("o_orderdate")).as("dow"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("mstart"),
          datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date")).as("days_since"),
          date_format(date_add(to_date(col("o_orderdate")), 30), "yyyy-MM-dd").as("plus30"))
        .orderBy("o_orderkey")),

    // H3: math — round/abs/pow/log/floor-bucket/mod.
    "h3_math" -> ((s, d) =>
      part(s, d)
        .select(
          col("p_partkey"),
          expr("p_size div 10").cast("int").as("sz_bucket"),
          pmod(col("p_partkey"), lit(7)).as("modv"),
          round4(log(col("p_retailprice"))).as("ln_price"),
          round4(pow(col("p_retailprice"), 0.5)).as("sqrt_price"),
          round4(abs(col("p_retailprice") - 950.0)).as("dev"))
        .orderBy("p_partkey")),

    // H4: arrays + higher-order functions over document tokens (the
    // codegen-friendly alternative to UDFs: transform/aggregate lambdas).
    "h4_array" -> ((s, d) =>
      documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .select(
          col("doc_id"),
          size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_distinct"),
          array_contains(col("toks"), "table").cast("int").as("has_table"),
          array_join(slice(col("toks"), 1, 3), "-").as("first3"),
          aggregate(transform(col("toks"), t => length(t)),
            lit(0), (acc, x) => acc + x).cast("long").as("tok_chars"))
        .orderBy("doc_id")),

    // H5: map type — parsed props as MapType, keys + element access.
    "h5_map" -> ((s, d) =>
      events(s, d)
        .withColumn("m", from_json(col("props"), MapType(StringType, LongType)))
        .select(
          col("event_id"),
          element_at(col("m"), "k").as("k_val"),
          array_join(array_sort(map_keys(col("m"))), ",").as("keys"))
        .orderBy("event_id")),

    // H6: JSON path extraction — string + typed struct forms side by side.
    "h6_json" -> ((s, d) =>
      events(s, d)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          from_json(col("props"), StructType(Seq(StructField("k", LongType))))
            .getField("k").as("k_num"),
          get_json_object(col("props"), "$.k").isNotNull.cast("int").as("has_k"))
        .orderBy("event_id")),

    // H7: VariantType — Spark 4's native semi-structured type, the engine
    // answer to the reference's dynamic-schema JSON records (a CMDB class
    // can carry any attribute set; Table-API payloads are schemaless).
    // parse_json builds the binary variant encoding ONCE; every
    // variant_get after that is a typed path read on the binary form — no
    // re-parse per extraction, which is what makes a many-field extract
    // affordable at scale (from_json with a schema re-parses text per
    // field set, and plain strings re-tokenize on every get_json_object).
    // try_variant_get on a missing path yields NULL (never throws) — the
    // sparse-attribute read discipline. The oracle extracts the same
    // typed values from the JSON text.
    "h7_variant" -> ((s, d) =>
      events(s, d)
        .withColumn("v", parse_json(col("props")))
        .select(
          col("event_id"),
          variant_get(col("v"), "$.k", "long").as("k_num"),
          variant_get(col("v"), "$.k", "string").as("k_str"),
          try_variant_get(col("v"), "$.missing", "long").as("absent"),
          try_variant_get(col("v"), "$.k", "long").isNotNull.cast("int").as("has_k"))
        .orderBy("event_id")),

    // ------------------------------------------------------------------- I
    // I1: tumbling window aggregation — Spark's window() generator in batch
    // form (identical plan shape to the streaming twin).
    "i1_tumbling" -> ((s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum2(col("value")).as("total_value"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("hour_start", "event_type")),

    // I2: sliding window aggregation — 1h window sliding every 15 min; each
    // event lands in 4 windows.
    "i2_sliding" -> ((s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          col("n"))
        .orderBy("win_start")),

    // I3: session windows (30-min gap), batch form: lag → new-session flag →
    // running-sum session id → per-session rollup. (The streaming twin uses
    // session_window(); this is the standard SQL sessionization that any
    // engine can mirror.) Gap comparison is >= : session_window's interval
    // is [start, last+gap) — end-EXCLUSIVE, so an exactly-30-min gap starts
    // a new session there, and the batch twin must split on the same
    // boundary or stream≡batch equivalence breaks on exact-gap data.
    "i3_session" -> ((s, d) => {
      val byTime = Window.partitionBy("user_id").orderBy("us", "event_id")
      val runSum = byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("new_sess",
          when(col("us") - lag(col("us"), 1).over(byTime) >= 30L * 60 * 1000000, 1)
            .otherwise(when(lag(col("us"), 1).over(byTime).isNull, 1).otherwise(0)))
        .withColumn("session_id", sum(col("new_sess")).over(runSum).cast("int"))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min(col("us")).as("start_us"), max(col("us")).as("end_us"))
        .orderBy("user_id", "session_id")
    }),

    // I5: keyed dedup, batch twin of watermarked dropDuplicates — keep the
    // earliest event per (user, type); row_number=1 is the deterministic form.
    "i5_dedup" -> ((s, d) => {
      val w = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
      events(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .drop("rn")
        .orderBy("user_id", "event_type")
    }),

    // I6: incremental delta filter — the `sys_updated_on > watermark` poll.
    "i6_delta_filter" -> ((s, d) =>
      events(s, d)
        .filter(col("ts") > lit("2024-01-25 00:00:00").cast("timestamp"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .orderBy("event_id")),

    // I7: upsert / SCD1 merge — target snapshot (state before the cutoff)
    // merged with the delta feed, last writer wins per user.
    "i7_upsert" -> ((s, d) => {
      val cutoff = lit("2024-01-15 00:00:00").cast("timestamp")
      val ev = events(s, d).select(col("user_id"), col("event_id"),
        col("event_type"), unix_micros(col("ts")).as("us"), col("ts"))
      val target = lastWriterWins(ev.filter(col("ts") <= cutoff)).drop("ts")
      val delta = ev.filter(col("ts") > cutoff).drop("ts")
      lastWriterWins(target.unionByName(delta))
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"), col("us").as("last_us"))
        .orderBy("user_id")
    }),

    // I9: SCD2 history — the type-2 slowly-changing-dimension view of the
    // change feed: one validity interval per state transition per user,
    // with an open interval (valid_to = -1) for the current state.
    "i9_scd2_history" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val changes = events(s, d)
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"),
          col("event_id"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNull || col("event_type") =!= col("prev_type"))
      val w2 = Window.partitionBy("user_id").orderBy("us", "event_id")
      changes
        .withColumn("nxt", lead(col("us"), 1).over(w2))
        .select(
          col("user_id"),
          col("event_type").as("state"),
          col("us").as("valid_from"),
          coalesce(col("nxt") - 1, lit(-1L)).as("valid_to"),
          col("nxt").isNull.cast("int").as("is_current"))
        .orderBy("user_id", "valid_from")
    }),

    // I10: SCD2 as-of lookup — the warehouse query the I9 history exists
    // FOR: each fact (purchase) joined to the dimension version valid at
    // the fact's instant. The scale-critical shape: this is NOT an
    // interval/theta join — validity intervals live on the key's own
    // timeline, so it is a co-partitioned user_id EQUI join (history is
    // versions-per-key-sized) with the interval test as a post-join
    // filter; exactly one version matches per fact by construction
    // (intervals partition the key's timeline and every fact falls after
    // the key's first version).
    "i10_scd2_lookup" -> ((s, d) => {
      val hist = queries("i9_scd2_history")(s, d)
      val purch = events(s, d).filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          unix_micros(col("ts")).as("pus"))
      purch.join(hist, Seq("user_id"))
        .filter(col("valid_from") <= col("pus") &&
          (col("valid_to") === -1L || col("pus") <= col("valid_to")))
        .select(col("purchase_id"), col("user_id"), col("state"),
          col("valid_from"), col("is_current"))
        .orderBy("purchase_id")
    }),

    // I11: the composed sync batch — the reference's whole inner loop as
    // ONE Catalyst tree, the I-family flagship (pp_end_to_end's symmetry
    // for the CMDB side): poll records past the watermark (I6) → collapse
    // the delta to last-writer-wins per key (I5's dedup discipline) →
    // classify each affected key against the pre-sync target state (I7's
    // merge semantics / I8's change taxonomy) → emit the sync report the
    // load stage would act on: (key, state to write, insert-vs-update,
    // delta volume). Every stage shuffles on user_id once and the frames
    // rejoin on that same key (co-partitioned equi joins), so the whole
    // report costs two window passes + one aggregate over the delta slice
    // — the target table is touched only for the keys the delta names,
    // which is what keeps a 100 TB target affordable to sync against.
    "i11_sync_pipeline" -> ((s, d) => {
      val target = syncTarget(s, d)
        .select(col("user_id").as("tu"), col("old_type"))
      val delta = syncEvents(events(s, d).filter(col("ts") > syncCutoff))
      val deltaVol = delta.groupBy("user_id").agg(count(lit(1)).as("n_delta"))
      val deltaLww = lastWriterWins(delta)
        .select(col("user_id"), col("event_type").as("new_type"))
      deltaLww.join(deltaVol, Seq("user_id"))
        .join(target, col("user_id") === col("tu"), "left")
        .select(
          col("user_id"),
          col("new_type"),
          when(col("tu").isNull, "inserted")
            .when(col("old_type") =!= col("new_type"), "updated")
            .otherwise("unchanged").as("change"),
          col("n_delta"))
        .orderBy("user_id")
    }),

    // I13: multi-source precedence merge — the attribute-level half of
    // CMDB reconciliation (ServiceNow's IRE concept: c13 answers "are
    // these the same CI?", this answers "which source's value wins per
    // FIELD?"). Two discovery sources derive per-user LWW records (source
    // A = transactional events, source B = telemetry); the merge applies
    // per-attribute rules rather than whole-record LWW: the `value` field
    // follows source PRECEDENCE (A holds unless its record is >7 days
    // staler than B's — the staleness override that keeps a dead
    // authoritative feed from pinning stale data forever), while the
    // `type` field is cross-source LWW with A winning timestamp ties
    // (precedence as tie-break). Provenance columns record which source
    // supplied each field — the audit trail reconciliation engines must
    // emit. Shape: two windowed LWW collapses + one full-outer pk join,
    // all hash-partitioned on user_id; per-field CASE logic is pure
    // projection.
    "i13_precedence_merge" -> ((s, d) => {
      val staleUs = 604800000000L // 7 days
      def lww(types: Seq[String]) =
        lastWriterWins(events(s, d).filter(col("event_type").isin(types: _*))
          .select(col("user_id"), col("event_id"), col("event_type"),
            cents(col("value")).as("vc"), unix_micros(col("ts")).as("us")))
      val a = lww(Seq("signup", "purchase"))
        .select(col("user_id"), col("event_type").as("a_type"),
          col("vc").as("a_vc"), col("us").as("a_us"))
      val b = lww(Seq("view", "click", "error"))
        .select(col("user_id"), col("event_type").as("b_type"),
          col("vc").as("b_vc"), col("us").as("b_us"))
      a.join(b, Seq("user_id"), "full")
        .select(col("user_id"),
          when(col("a_us").isNull, "b")
            .when(col("b_us").isNull, "a")
            .otherwise("both").as("present"),
          when(col("a_us").isNull, col("b_type"))
            .when(col("b_us").isNull, col("a_type"))
            .when(col("b_us") > col("a_us"), col("b_type"))
            .otherwise(col("a_type")).as("m_type"),
          when(col("a_us").isNull, "b")
            .when(col("b_us").isNull, "a")
            .when(col("b_us") > col("a_us"), "b")
            .otherwise("a").as("type_src"),
          when(col("a_us").isNull, col("b_vc"))
            .when(col("b_us").isNull, col("a_vc"))
            .when(col("a_us") + staleUs >= col("b_us"), col("a_vc"))
            .otherwise(col("b_vc")).as("m_value_cents"),
          when(col("a_us").isNull, "b")
            .when(col("b_us").isNull, "a")
            .when(col("a_us") + staleUs >= col("b_us"), "a")
            .otherwise("b").as("value_src"))
        .orderBy("user_id")
    }),

    // I12: sync reconciliation — the integrity audit that closes the sync
    // loop: did the target (AWS copy) actually end up equal to the source
    // (CMDB)? At 100 TB you cannot diff row-by-row, so the report is
    // Merkle-style: per partition class (order month), compare row COUNTS
    // and an order-insensitive content CHECKSUM (sum of per-row md5-hashes
    // mod 1e9+7 — integer, associative, partial-aggregable, identical
    // under any partitioning on either engine); only drifted partitions
    // would then get the row-level i8 diff. The target here is the source
    // re-derived with two deterministic sync defects (keys ≡7 mod 997
    // dropped, keys ≡13 mod 997 price-corrupted by one cent) so the report
    // provably classifies all three states. The row hash folds the full
    // record through exact-integer encodings (cents, epoch micros) — no
    // float-to-string formatting anywhere.
    "i12_reconcile" -> ((s, d) => {
      def hashed(df: org.apache.spark.sql.DataFrame) = df.select(
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM").as("month"),
        (conv(substring(md5(concat_ws("|",
          col("o_orderkey").cast("string"), col("o_custkey").cast("string"),
          col("o_orderstatus"), col("pcents").cast("string"),
          unix_micros(col("o_orderdate")).cast("string"),
          col("o_orderpriority"))), 1, 15), 16, 10).cast("long")
          % 1000000007L).as("h"))
      val src = orders(s, d).withColumn("pcents", cents(col("o_totalprice")))
      val tgt = src.filter(col("o_orderkey") % 997 =!= 7)
        .withColumn("pcents",
          when(col("o_orderkey") % 997 === 13, col("pcents") + 1)
            .otherwise(col("pcents")))
      val a = hashed(src).groupBy("month")
        .agg(count(lit(1)).as("src_n"), sum(col("h")).as("src_sum"))
      val b = hashed(tgt).groupBy("month")
        .agg(count(lit(1)).as("tgt_n"), sum(col("h")).as("tgt_sum"))
      a.join(b, Seq("month"), "full")
        .select(col("month"),
          coalesce(col("src_n"), lit(0L)).as("src_n"),
          coalesce(col("tgt_n"), lit(0L)).as("tgt_n"),
          when(coalesce(col("src_n"), lit(0L)) =!= coalesce(col("tgt_n"), lit(0L)),
            "count_drift")
            .when(coalesce(col("src_sum"), lit(-1L)) =!= coalesce(col("tgt_sum"), lit(-1L)),
              "content_drift")
            .otherwise("in_sync").as("status"))
        .orderBy("month")
    }),

    // I8: snapshot diff (CDC derive) — per-user state at t1 vs t2; emits
    // inserted/updated/unchanged rows (the sync delta the reference loads).
    "i8_snapshot_diff" -> ((s, d) => {
      def stateAt(cut: String) =
        lastWriterWins(events(s, d)
          .filter(col("ts") <= lit(cut).cast("timestamp"))
          .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"),
            col("event_id")))
          .select(col("user_id"), col("event_type"))
      val old = stateAt("2024-01-10 00:00:00")
        .select(col("user_id").as("ku"), col("event_type").as("old_type"))
      val neu = stateAt("2024-01-20 00:00:00")
        .select(col("user_id").as("kn"), col("event_type").as("new_type"))
      old.join(neu, col("ku") === col("kn"), "full")
        .select(
          coalesce(col("ku"), col("kn")).as("user_id"),
          when(col("ku").isNull, "inserted")
            .when(col("kn").isNull, "deleted")
            .when(col("old_type") =!= col("new_type"), "updated")
            .otherwise("unchanged").as("change"))
        .orderBy("user_id")
    }),

    // I15: calendar-spine backfill — the gap-filling pass every sync
    // pipeline runs before time-series consumers (a day with no qualifying
    // rows must surface as an explicit gap + a carried-forward value, not
    // silently vanish): the high-value daily count series (value > 200 —
    // sparse by construction, ~30% of cells are gaps at sf0.01) left-joins
    // a generated (type × calendar-day) spine, `filled` carries the last
    // observed count forward (leading gaps fill 0), `is_gap` marks
    // spine-only rows. Scale shape: the spine is |types × days| rows —
    // generated from a single-row min/max aggregate (broadcast) and a
    // distinct-types frame, never data-sized; raw events are touched once
    // by the filter+groupBy; the carry-forward window runs per type over
    // the aggregate. Spark's sequence() and the oracle's generate_series
    // produce the identical closed date range.
    "i15_backfill" -> ((s, d) => {
      val ev = events(s, d)
      val daily = ev.filter(col("value") > 200)
        .groupBy(col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"))
      val bounds = ev.agg(to_date(min(col("ts"))).as("lo"),
        to_date(max(col("ts"))).as("hi"))
      val spine = ev.select(col("event_type")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"))).as("dt"))
        .select(col("event_type"), date_format(col("dt"), "yyyy-MM-dd").as("day"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("event_type", "day"), "left")
        .withColumn("filled",
          coalesce(last(col("n"), ignoreNulls = true).over(w), lit(0L)))
        .select(col("event_type"), col("day"), col("n"), col("filled"),
          col("n").isNull.cast("int").as("is_gap"))
        .orderBy("event_type", "day")
    })
  )

  /** The oracle side of [[graft.sources.UpsertTable.lastWriterWins]]:
    * each user's events ranked newest first (µs desc, event_id desc), so
    * rank 1 is the last writer. */
  private[graft] val lastWriterRankSql =
    """row_number() OVER (PARTITION BY user_id
                          ORDER BY epoch_us(ts) DESC, event_id DESC)"""

  /** i9's state-change CTEs, shared with i10: each user's events with the
    * previous type (`ch`), kept where the type changed (`f`). */
  private val stateChangesSql =
    """ch AS (
           SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
                  lag(event_type, 1) OVER (PARTITION BY user_id
                    ORDER BY epoch_us(ts), event_id) AS prev_type
           FROM events),
         f AS (
           SELECT user_id, event_type, us, event_id FROM ch
           WHERE prev_type IS NULL OR event_type <> prev_type)"""

  /** i12's per-row (month, exact-integer row hash) over orders-shaped `from`. */
  private def monthRowHashSql(from: String): String =
    s"""SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
                  ('0x'||substr(md5(concat_ws('|', o_orderkey::VARCHAR,
                    o_custkey::VARCHAR, o_orderstatus, pcents::VARCHAR,
                    epoch_us(o_orderdate)::VARCHAR, o_orderpriority)),1,15))::BIGINT
                    % 1000000007 AS h
           FROM $from"""

  val oracle: Map[String, String] = Map(
    "i15_backfill" ->
      """WITH daily AS (
           SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                  count(*) AS n
           FROM events WHERE value > 200 GROUP BY 1, 2),
         spine AS (
           SELECT t.event_type, strftime(CAST(g.dt AS DATE), '%Y-%m-%d') AS day
           FROM (SELECT DISTINCT event_type FROM events) t
           CROSS JOIN (
             SELECT unnest(generate_series(CAST(min(ts) AS DATE),
               CAST(max(ts) AS DATE), INTERVAL 1 DAY)) AS dt FROM events) g)
         SELECT event_type, day, n,
                coalesce(last_value(n IGNORE NULLS) OVER (
                  PARTITION BY event_type ORDER BY day
                  ROWS UNBOUNDED PRECEDING), 0) AS filled,
                CAST(n IS NULL AS INT) AS is_gap
         FROM spine LEFT JOIN daily USING (event_type, day)
         ORDER BY event_type, day""",
    "h1_string" ->
      """SELECT p_partkey,
                upper(p_name) AS up,
                regexp_replace(lower(trim(p_name)), '\s+', '_', 'g') AS norm,
                string_split(p_name, ' ')[1] AS first_word,
                regexp_extract(p_brand, '(\d+)', 1) AS brand_num,
                lpad(CAST(p_size AS VARCHAR), 4, '0') AS padded,
                CAST(length(p_name) AS INT) AS len
         FROM part ORDER BY p_partkey""",

    "h2_datetime" ->
      """SELECT o_orderkey,
                CAST(year(o_orderdate) AS INT) AS yr,
                CAST(month(o_orderdate) AS INT) AS mo,
                CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
                strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS mstart,
                CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since,
                strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS plus30
         FROM orders ORDER BY o_orderkey""",

    "h3_math" ->
      """SELECT p_partkey,
                CAST(p_size // 10 AS INT) AS sz_bucket,
                p_partkey % 7 AS modv,
                CAST(round(ln(p_retailprice)*10000) AS BIGINT)/10000.0 AS ln_price,
                CAST(round(pow(p_retailprice, 0.5)*10000) AS BIGINT)/10000.0 AS sqrt_price,
                CAST(round(abs(p_retailprice - 950.0)*10000) AS BIGINT)/10000.0 AS dev
         FROM part ORDER BY p_partkey""",

    "h4_array" ->
      s"""SELECT doc_id,
                CAST(len(${LlmOps.toksSql}) AS INT) AS n_tokens,
                CAST(len(list_distinct(${LlmOps.toksSql})) AS INT) AS n_distinct,
                CAST(list_contains(${LlmOps.toksSql}, 'table') AS INT) AS has_table,
                array_to_string(${LlmOps.toksSql}[1:3], '-') AS first3,
                CAST(list_sum(list_transform(${LlmOps.toksSql}, t -> length(t))) AS BIGINT) AS tok_chars
         FROM documents ORDER BY doc_id""",

    "h5_map" ->
      """SELECT event_id,
                CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
                array_to_string(list_sort(json_keys(props)), ',') AS keys
         FROM events ORDER BY event_id""",

    "h6_json" ->
      """SELECT event_id,
                json_extract_string(props, '$.k') AS k_str,
                CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
                CAST(json_extract_string(props, '$.k') IS NOT NULL AS INT) AS has_k
         FROM events ORDER BY event_id""",

    // the same typed extracts off the JSON text; the missing path is NULL
    // in both engines
    "h7_variant" ->
      """SELECT event_id,
                CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
                json_extract_string(props, '$.k') AS k_str,
                CAST(NULL AS BIGINT) AS absent,
                CAST(json_extract_string(props, '$.k') IS NOT NULL AS INT) AS has_k
         FROM events ORDER BY event_id""",

    "i1_tumbling" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
                event_type, count(*) AS n,
                CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)/100.0 AS total_value
         FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""",

    "i2_sliding" ->
      """SELECT strftime(make_timestamp(((epoch_us(ts) // 900000000) - k) * 900000000),
                         '%Y-%m-%d %H:%M:%S') AS win_start,
                count(*) AS n
         FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) offs(k)
         GROUP BY 1 ORDER BY win_start""",

    "i3_session" ->
      """SELECT user_id, session_id, count(*) AS n_events,
                min(us) AS start_us, max(us) AS end_us
         FROM (
           SELECT user_id, event_id, us,
                  CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_id
           FROM (
             SELECT user_id, event_id, epoch_us(ts) AS us,
                    CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1) OVER
                           (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                           >= 30*60*1000000 THEN 1
                         WHEN lag(epoch_us(ts), 1) OVER
                           (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                           IS NULL THEN 1
                         ELSE 0 END AS new_sess
             FROM events))
         GROUP BY user_id, session_id
         ORDER BY user_id, session_id""",

    "i5_dedup" ->
      """SELECT user_id, event_type, event_id, epoch_us(ts) AS us
         FROM events
         QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY epoch_us(ts), event_id) = 1
         ORDER BY user_id, event_type""",

    "i6_delta_filter" ->
      """SELECT event_id, user_id, event_type, epoch_us(ts) AS us
         FROM events
         WHERE ts > TIMESTAMP '2024-01-25 00:00:00'
         ORDER BY event_id""",

    "i7_upsert" ->
      s"""WITH target AS (
           SELECT user_id, event_id, event_type, epoch_us(ts) AS us
           FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
           QUALIFY $lastWriterRankSql = 1),
         delta AS (
           SELECT user_id, event_id, event_type, epoch_us(ts) AS us
           FROM events WHERE ts > TIMESTAMP '2024-01-15 00:00:00')
         SELECT user_id, event_id AS last_event_id, event_type AS last_type, us AS last_us
         FROM (SELECT * FROM target UNION ALL SELECT * FROM delta)
         QUALIFY row_number() OVER (PARTITION BY user_id
                                    ORDER BY us DESC, event_id DESC) = 1
         ORDER BY user_id""",

    "i9_scd2_history" ->
      s"""WITH $stateChangesSql
         SELECT user_id, event_type AS state, us AS valid_from,
                coalesce(lead(us, 1) OVER w - 1, -1) AS valid_to,
                CAST(lead(us, 1) OVER w IS NULL AS INT) AS is_current
         FROM f WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
         ORDER BY user_id, valid_from""",

    // i9's history CTE joined to purchase facts on the key, interval
    // test as a filter
    "i10_scd2_lookup" ->
      s"""WITH $stateChangesSql,
         hist AS (
           SELECT user_id, event_type AS state, us AS valid_from,
                  coalesce(lead(us, 1) OVER w - 1, -1) AS valid_to,
                  CAST(lead(us, 1) OVER w IS NULL AS INT) AS is_current
           FROM f WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
         SELECT e.event_id AS purchase_id, e.user_id, h.state,
                h.valid_from, h.is_current
         FROM events e JOIN hist h ON e.user_id = h.user_id
         WHERE e.event_type = 'purchase'
           AND h.valid_from <= epoch_us(e.ts)
           AND (h.valid_to = -1 OR epoch_us(e.ts) <= h.valid_to)
         ORDER BY purchase_id""",

    // the composed sync loop: delta slice → LWW collapse → classify vs the
    // pre-sync state, all as CTEs over the same key
    "i11_sync_pipeline" ->
      s"""WITH target AS (
           SELECT user_id AS tu, event_type AS old_type
           FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
           QUALIFY $lastWriterRankSql = 1),
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

    "i13_precedence_merge" ->
      s"""WITH a AS (
           SELECT user_id, event_type AS a_type,
                  CAST(round(value*100) AS BIGINT) AS a_vc,
                  epoch_us(ts) AS a_us
           FROM events WHERE event_type IN ('signup', 'purchase')
           QUALIFY $lastWriterRankSql = 1),
         b AS (
           SELECT user_id, event_type AS b_type,
                  CAST(round(value*100) AS BIGINT) AS b_vc,
                  epoch_us(ts) AS b_us
           FROM events WHERE event_type IN ('view', 'click', 'error')
           QUALIFY $lastWriterRankSql = 1)
         SELECT coalesce(a.user_id, b.user_id) AS user_id,
                CASE WHEN a_us IS NULL THEN 'b'
                     WHEN b_us IS NULL THEN 'a' ELSE 'both' END AS present,
                CASE WHEN a_us IS NULL THEN b_type
                     WHEN b_us IS NULL THEN a_type
                     WHEN b_us > a_us THEN b_type ELSE a_type END AS m_type,
                CASE WHEN a_us IS NULL THEN 'b'
                     WHEN b_us IS NULL THEN 'a'
                     WHEN b_us > a_us THEN 'b' ELSE 'a' END AS type_src,
                CASE WHEN a_us IS NULL THEN b_vc
                     WHEN b_us IS NULL THEN a_vc
                     WHEN a_us + 604800000000 >= b_us THEN a_vc
                     ELSE b_vc END AS m_value_cents,
                CASE WHEN a_us IS NULL THEN 'b'
                     WHEN b_us IS NULL THEN 'a'
                     WHEN a_us + 604800000000 >= b_us THEN 'a'
                     ELSE 'b' END AS value_src
         FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
         ORDER BY user_id""",

    // Same defect derivation, same exact-integer row hash; HUGEINT checksum
    // sums stay internal to the CASE (never in the output schema).
    "i12_reconcile" ->
      s"""WITH src AS (
           SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
                  o_orderdate,
                  CAST(round(o_totalprice*100) AS BIGINT) AS pcents
           FROM orders),
         tgt AS (
           SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
                  o_orderdate,
                  CASE WHEN o_orderkey % 997 = 13 THEN pcents + 1
                       ELSE pcents END AS pcents
           FROM src WHERE o_orderkey % 997 <> 7),
         sh AS (
           ${monthRowHashSql("src")}),
         th AS (
           ${monthRowHashSql("tgt")}),
         sa AS (SELECT month, count(*) AS src_n, sum(h) AS src_sum
                FROM sh GROUP BY 1),
         ta AS (SELECT month, count(*) AS tgt_n, sum(h) AS tgt_sum
                FROM th GROUP BY 1)
         SELECT coalesce(sa.month, ta.month) AS month,
                coalesce(src_n, 0) AS src_n, coalesce(tgt_n, 0) AS tgt_n,
                CASE WHEN coalesce(src_n, 0) <> coalesce(tgt_n, 0)
                       THEN 'count_drift'
                     WHEN coalesce(src_sum, -1) <> coalesce(tgt_sum, -1)
                       THEN 'content_drift'
                     ELSE 'in_sync' END AS status
         FROM sa FULL OUTER JOIN ta ON sa.month = ta.month
         ORDER BY month""",

    "i8_snapshot_diff" ->
      s"""WITH old AS (
           SELECT user_id AS ku, event_type AS old_type
           FROM events WHERE ts <= TIMESTAMP '2024-01-10 00:00:00'
           QUALIFY $lastWriterRankSql = 1),
         neu AS (
           SELECT user_id AS kn, event_type AS new_type
           FROM events WHERE ts <= TIMESTAMP '2024-01-20 00:00:00'
           QUALIFY $lastWriterRankSql = 1)
         SELECT coalesce(ku, kn) AS user_id,
                CASE WHEN ku IS NULL THEN 'inserted'
                     WHEN kn IS NULL THEN 'deleted'
                     WHEN old_type <> new_type THEN 'updated'
                     ELSE 'unchanged' END AS change
         FROM old FULL OUTER JOIN neu ON ku = kn
         ORDER BY user_id"""
  )
}
