package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.ExactNum._
import graft.sources.Tables._

/** Window functions, temporal joins, and ordered/statistical aggregation —
  * SURVEY.md §2 groups E (windows), C7/C8 (range + as-of joins), D5–D7
  * (collect/pivot/stats).
  *
  * Scale notes: every window here is partitioned (user_id / customer /
  * segment / year) except the daily-revenue moving average, whose input is
  * already reduced to one row per calendar day before the window runs. The
  * range join is bucketed into an equi-join on (user, 5-min bucket) so it
  * hash-partitions instead of falling into a nested-loop; the as-of join is
  * a single-shuffle window carry-forward, not a join at all.
  */
object WindowedAnalytics {

  private val usPer5Min = 300000000L // microseconds in 5 minutes

  val queries: Map[String, Q] = Map(
    // E1: ranking — top-3 orders per customer; rank/dense_rank share the
    // value-ordered window, row_number adds the unique tiebreak.
    "e1_rank" -> ((s, d) => {
      val byVal = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc)
      val total = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      orders(s, d)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", row_number().over(total))
        .withColumn("rk", rank().over(byVal))
        .withColumn("drk", dense_rank().over(byVal))
        .filter(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    }),

    // F3: the same top-3-per-customer computed by the partial top-k
    // aggregator (K2) instead of a window. The window form shuffles and
    // sorts EVERY order; the aggregator reduces each map partition to ≤3
    // rows per customer before the shuffle — the scale path for top-k over
    // hot keys. Same oracle shape as a row_number()<=k query, proving the
    // two are semantically interchangeable.
    "f3_topk_per_key" -> ((s, d) => {
      import s.implicits._
      val topk = new graft.functions.Aggregators.TopKAggregator(3).toColumn
      orders(s, d)
        .select(col("o_custkey"), col("o_totalprice"), col("o_orderkey"))
        .as[(Long, Double, Long)]
        .groupByKey(_._1)
        .mapValues(t => (t._2, t._3))
        .agg(topk.name("top"))
        .flatMap { case (cust, top) =>
          top.iterator.zipWithIndex.map { case ((price, okey), i) =>
            (cust, i + 1, okey, price)
          }
        }
        .toDF("o_custkey", "rnk", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rnk")
    }),

    // E2: lag — inter-event gap per user in microseconds (first event → 0).
    "e2_lag" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, d)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("gap_us",
          col("us") - coalesce(lag(col("us"), 1).over(w), col("us")))
        .select("user_id", "event_id", "gap_us")
        .orderBy("user_id", "event_id")
    }),

    // E3: running total — cumulative customer spend per year, in exact cents.
    "e3_running_total" -> ((s, d) => {
      val w = Window.partitionBy("yr")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      orders(s, d)
        .withColumn("yr", year(col("o_orderdate")))
        .select(col("yr"), col("o_orderkey"),
          (sum(cents(col("o_totalprice"))).over(w) / 100.0).as("cum_spend"))
        .orderBy("o_orderkey")
    }),

    // E4: moving aggregate — trailing-7-day average of daily revenue.
    // Input is pre-reduced to one row per day, but even that time line is
    // windowed PARTITIONED: fixed 365-day blocks, with the last 6 days of
    // each block replicated into the next block as "halo" rows so every
    // trailing frame is complete inside its block (a frame never sees both
    // copies — they live in different partitions — and halo rows are
    // dropped after the window). Identical results to the global window,
    // no single-partition WindowExec anywhere in the suite, and the shape
    // holds for a time line of any length.
    "e4_moving_avg" -> ((s, d) => {
      val daily = orders(s, d)
        .groupBy(datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date")).as("day_num"))
        .agg(sum(cents(col("o_totalprice"))).as("day_cents"))
      val base = daily.select(col("day_num"), col("day_cents"),
        expr("day_num div 365").as("blk"), lit(false).as("halo"))
      val halos = daily
        .filter(expr("(day_num div 365) != ((day_num + 6) div 365)"))
        .select(col("day_num"), col("day_cents"),
          expr("(day_num div 365) + 1").as("blk"), lit(true).as("halo"))
      val w = Window.partitionBy("blk").orderBy("day_num").rangeBetween(-6, 0)
      base.unionByName(halos)
        .select(
          col("day_num"),
          (col("day_cents") / 100.0).as("day_rev"),
          round4(sum(col("day_cents")).over(w) / 100.0 /
            count(lit(1)).over(w)).as("avg_7d"),
          col("halo"))
        .filter(!col("halo"))
        .drop("halo")
        .orderBy("day_num")
    }),

    // E5: distribution — quartiles + first/last value with explicit frames.
    "e5_distribution" -> ((s, d) => {
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      customer(s, d)
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("seg_lo", first(col("c_acctbal")).over(full))
        .withColumn("seg_hi", last(col("c_acctbal")).over(full))
        .orderBy("c_custkey")
    }),

    // E6: relative-position distribution — percent_rank and cume_dist per
    // market segment. The unique custkey tiebreak makes both rank-derived
    // ratios deterministic; round4 guards the double division.
    "e6_pct_dist" -> ((s, d) => {
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      customer(s, d)
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .withColumn("pct_rank", round4(percent_rank().over(w)))
        .withColumn("cume", round4(cume_dist().over(w)))
        .orderBy("c_custkey")
    }),

    // E7: ordered-sequence conversion funnel — per user, how deep into
    // view → click → purchase did they get, where each stage must occur
    // STRICTLY AFTER the user's first occurrence of the previous stage
    // (the order-sensitive funnel a naive per-type count gets wrong). A
    // min-ts aggregate ladder: stage i's candidates pk-join stage i−1's
    // first-reach frame and filter ts > prev — three co-partitioned
    // user_id equi joins, no window over a user's whole history, no
    // self-join explosion; user-count-sized frames throughout.
    "e7_funnel" -> ((s, d) =>
      funnelOf(events(s, d), Seq("view", "click", "purchase"))
        .orderBy("user_id")),

    // E8: cohort retention — the engagement matrix the funnel doesn't
    // answer: of the users who FIRST appeared in week W, how many were
    // active W+k weeks later? Raw events reduce to distinct (user, week)
    // immediately (map-side partial agg — the only pass over the event
    // volume), the cohort week is a min() window over the user's own ≤5
    // week rows (no join), and the output is |weeks|² rows. At 100 TB the
    // shuffled data is user×week-sized, never event-sized.
    "e8_retention" -> ((s, d) => retentionOf(events(s, d))),

    // E10: metric-drift monitor — IS a weekly metric trending, and is the
    // trend real? Per event_type, the least-squares slope and R² of the
    // weekly mean over the week index, via the declarative regression
    // aggregates (regr_slope/regr_r2 — moment sums, partial-aggregable,
    // fully distributed). Two-level aggregate: the event-volume pass
    // reduces to types×weeks rows; the regression runs over that frame.
    // The regression runs ENTIRELY in integer arithmetic until one final
    // division: weekly means quantize to 1e-4 ticks (exact cents sums —
    // a float avg() flipped a round-half boundary between DuckDB runs
    // under parallel summation), x is the integer week index, and the
    // moment sums n·Σxy−ΣxΣy / n·Σx²−(Σx)² stay longs. That matters
    // because the slope is then an EXACT small-denominator rational
    // (denx = n²(n²−1)/12 — 50 for five weeks), which lands exactly ON
    // round-half ties (sf0.1's purchase slope was 163525/5e5 = 0.32705),
    // where Spark's decimal-string rounding and DuckDB's binary rounding
    // legitimately disagree by the tie direction. So the slope's rounding
    // is integer too: half-away-from-zero via positive-operand integer
    // division, identical in both engines, emitted as exact micro-units.
    // R² keeps the double round4 — its denominator is a messy data-sized
    // integer, so a grid tie there is measure-zero rather than structural.
    "e10_drift" -> ((s, d) => {
      val weekUs = 604800000000L
      val wk = events(s, d)
        .groupBy(col("event_type"), date_trunc("week", col("ts")).as("wkts"))
        .agg(sum(cents(col("value"))).as("cs"), count(lit(1)).as("cn"))
        .withColumn("t", round(col("cs") / 100.0 / col("cn") * 1e4).cast("long"))
        .withColumn("x", ((unix_micros(col("wkts")) -
          min(unix_micros(col("wkts")))
            .over(Window.partitionBy("event_type"))) / weekUs).cast("long"))
      wk.groupBy("event_type")
        .agg(count(lit(1)).as("n_weeks"),
          sum(col("x")).as("sx"), sum(col("t")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("t")).as("sxy"),
          sum(col("t") * col("t")).as("syy"))
        .select(col("event_type"), col("n_weeks"),
          expr("n_weeks*sxy - sx*sy").as("num"),
          expr("n_weeks*sxx - sx*sx").as("denx"),
          expr("n_weeks*syy - sy*sy").as("deny"))
        .select(col("event_type"), col("n_weeks"),
          // slope in 1e-6 value-units/week: round(100*num/denx) half-away
          expr("""CASE WHEN num >= 0
                       THEN (200*num + denx) div (2*denx)
                       ELSE -((200*(-num) + denx) div (2*denx)) END""")
            .as("slope_micro"),
          round4(col("num") * col("num") /
            expr("nullif(denx*deny, 0)")).as("r2"))
        .orderBy("event_type")
    }),

    // E11: gaps-and-islands — collapse each user's event stream into
    // activity islands separated by >30-minute silences: the batch
    // sessionization primitive (the streaming twin is session_window —
    // same 30-min gap rule). The classic two-window shape: one partitioned
    // pass marks gap-breaks (lag), a running sum over the same window
    // ordering numbers the islands, then one hash aggregate folds each
    // island to its span. Everything is partitioned by user_id — both the
    // windows and the final groupBy shuffle on the same key, so AQE plans
    // one exchange and no global sort exists anywhere. The gap test runs
    // on integer microseconds (both engines read the ns parquet column
    // truncated to µs — Tables.events), so break placement is exact.
    "e11_islands" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, d)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev", lag(col("us"), 1).over(w))
        .withColumn("brk",
          (col("prev").isNull || col("us") - col("prev") > 1800000000L).cast("int"))
        .withColumn("island",
          sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "island")
        .agg(min(col("ts")).as("island_start"),
          max(col("ts")).as("island_end"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id", "island")
    }),

    // E12: event-sequence transition matrix — the first-order Markov view
    // of user behavior ("what follows what"), the sequence-mining primitive
    // funnels and sessions are special cases of. One lead() window per user
    // (ordered by ts with the unique event_id as the deterministic
    // tie-break — same discipline as e11), then a plain partial+final
    // count aggregate over (from, to). The shuffled data is the event
    // volume once for the window and transition-pair-sized after — at
    // 100 TB the |types|² output is constant-sized regardless of input.
    "e12_transitions" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .where(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("from_type", "to_type")
    }),

    // K5: typed cogroup — the API surface for "I need BOTH full groups at
    // once": orders and events shuffled to the same key and handed to one
    // function as two iterators, here counting how many of a customer's
    // orders land inside the span of their event activity. Everything
    // aggregable should stay in groupBy().agg() (map-side combine —
    // cogroup shuffles raw rows); cogroup earns its shuffle only for
    // per-key sequence logic like this interleave test, and per-key state
    // stays bounded by the key's own group sizes (orders-per-customer /
    // events-per-user, never corpus-sized). The oracle reproduces the
    // same answer relationally (full-outer join of two aggregates) —
    // proving the imperative per-key pass equals the declarative form.
    "k5_cogroup" -> ((s, d) => {
      import s.implicits._
      val ords = orders(s, d)
        // o_orderdate is TIMESTAMP_NTZ in the parquet; the session runs
        // UTC, so the cast pins the same instant DuckDB's epoch_us reads
        .select(col("o_custkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("ous"))
        .as[(Long, Long)].groupByKey(_._1)
      val evs = events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("eus"))
        .as[(Long, Long)].groupByKey(_._1)
      ords.cogroup(evs) { (k, oi, ei) =>
        val os = oi.map(_._2).toArray
        val es = ei.map(_._2).toArray
        val inSpan =
          if (es.isEmpty) 0L
          else { val lo = es.min; val hi = es.max
            os.count(t => t >= lo && t <= hi).toLong }
        Iterator((k, os.length.toLong, es.length.toLong, inSpan))
      }.toDF("key", "n_orders", "n_events", "n_in_span")
        .orderBy("key")
    }),

    // K6: secondary sort — the classic big-data pattern for per-key
    // SEQUENCE reduction at unbounded group size: repartition by key,
    // sortWithinPartitions by (key, time), then ONE iterator-to-iterator
    // pass that never holds more than running state per key (here: event
    // count and max inter-event gap). This is what replaces a window/lag
    // when a single key's history outgrows window buffering AND replaces
    // groupByKey.mapGroups when a group outgrows its iterator
    // materialization — state is O(1) per key, rows stream through in
    // sorted order. The oracle is the declarative lag-window twin: the
    // imperative pass must reproduce it exactly (gaps are µs-integer
    // differences of the sorted-µs sequence, so tie order inside one µs
    // cannot change the answer — e11's determinism argument).
    "k6_secondary_sort" -> ((s, d) => {
      import s.implicits._
      val sorted = events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
        .repartition(col("user_id"))
        .sortWithinPartitions("user_id", "us", "event_id")
        .as[(Long, Long, Long)]
      sorted.mapPartitions { it =>
        val buf = it.buffered
        new Iterator[(Long, Long, Long)] {
          def hasNext: Boolean = buf.hasNext
          def next(): (Long, Long, Long) = {
            val (u, first, _) = buf.next()
            var n = 1L; var prev = first; var maxGap = 0L
            while (buf.hasNext && buf.head._1 == u) {
              val us2 = buf.next()._2
              val g = us2 - prev
              if (g > maxGap) maxGap = g
              prev = us2; n += 1
            }
            (u, n, maxGap)
          }
        }
      }.toDF("user_id", "n_events", "max_gap_us")
        .orderBy("user_id")
    }),

    // E7b: time-bounded funnel — the production form of E7: each stage
    // must land STRICTLY after the previous stage's first reach AND within
    // the attribution window (7 days here). An unbounded funnel credits
    // conversions forever; real attribution expires. Same min-ts ladder,
    // one more filter per rung — cost identical to E7.
    "e7b_funnel_window" -> ((s, d) =>
      funnelOf(events(s, d), Seq("view", "click", "purchase"),
        within = Some("7 DAYS")).orderBy("user_id")),

    // E9: weekly value-distribution trend — the ops dashboard query: per
    // (week, event_type), exact p50/p95 of the event value. Exact
    // percentile is a partial-aggregable value-count-map aggregate (memory
    // bounded by distinct values per group, fine for metric domains); for
    // unbounded-cardinality metrics the sketch form (percentile_approx,
    // bounded in SourcesAndApproxSpec) is the drop-in. Output is
    // weeks × types rows at any event volume.
    "e9_latency_trend" -> ((s, d) =>
      events(s, d)
        .groupBy(date_trunc("week", col("ts")).as("wk"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round4(expr("percentile(value, 0.5)")).as("p50"),
          round4(expr("percentile(value, 0.95)")).as("p95"))
        .orderBy("wk", "event_type")),

    // E13: volume-anomaly monitor — the ops alarm on the event feed: per
    // (type, day), is today's volume a spike (>1.5× the trailing-week
    // mean) or a slump (<0.5×)? The raw stream reduces to |types|·|days|
    // daily counts in one map-side-combined aggregate (the only
    // event-volume pass); the trailing baseline is a 7-row window over
    // that tiny frame. Both thresholds are INTEGER comparisons —
    // 14·n > 3·base7 ⇔ n > 1.5·(base7/7) and 14·n < base7 ⇔ n < 0.5·mean
    // — because a ratio or a signed integer division would hit the
    // negative-operand div/floor divergence between engines (the e10
    // lesson); a multiplied-out comparison of nonnegative longs cannot.
    // Days with fewer than 7 prior days are warm-up, not alarms.
    // E14: weekly seasonality profile — the structural complement to
    // E13's anomaly flags: per (event_type, day-of-week), the traffic
    // share and a hot-day flag, answering "is this feed weekday-shaped?"
    // before E13 asks "did today break shape?". The event volume reduces
    // to |types|·7 rows in one map-side-combined aggregate; the hot flag
    // is a multiplied-out nonnegative-integer comparison (7n > 2·total ≡
    // share > 2/7 ≈ 2× uniform) — no division in the predicate (the E10
    // lesson). dow is Sunday=0..Saturday=6 on both engines (Spark
    // dayofweek()-1 ≡ DuckDB dayofweek()).
    // E20: Theil–Sen robust trend — the median of all pairwise
    // day-over-day slopes of each event type's daily-volume series: the
    // robust-statistics complement of e14's fit (one outage day or
    // crawler burst drags a least-squares slope arbitrarily, but moves
    // the median of the C(n,2) pairwise slopes by one rank). Exact and
    // engine-identical: each slope snaps to 1e-4 ticks (one
    // deterministic double division on exact integers), and the median
    // is the d16 two-phase discipline — tick histogram, per-type
    // cumulative count, first tick reaching half by the cross-multiplied
    // integer compare. Scale shape: the pairwise self-join is |days|²
    // per type with |days| CALENDAR-bounded (a year is 365 rows however
    // big the corpus), so cost grows with the type count, not event
    // volume; everything upstream is one hash aggregate over the scan.
    "e20_theil_sen" -> ((s, d) => {
      val epoch = to_date(lit("1970-01-01"))
      theilSenOf(events(s, d)
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), epoch).as("ed"))
        .agg(count(lit(1)).as("n")))
        .orderBy("event_type")
    }),

    "e14_seasonality" -> ((s, d) => {
      val base = events(s, d)
        .select(col("event_type"), (dayofweek(col("ts")) - 1).cast("int").as("dow"))
        .groupBy("event_type", "dow").agg(count(lit(1)).as("n"))
      val tot = base.groupBy("event_type").agg(sum(col("n")).as("total"))
      base.join(tot, "event_type")
        .select(col("event_type"), col("dow"), col("n"),
          round4(col("n") / col("total")).as("share"),
          (col("n") * 7 > col("total") * 2).cast("int").as("hot"))
        .orderBy("event_type", "dow")
    }),

    // E15: EXACT distinct users per sliding 7-day window (the audience /
    // weekly-active-users series). Window functions can't express a
    // distinct count over a moving frame, and re-scanning per window is
    // ×windows cost — the scalable shape is expand-then-aggregate:
    // dedup to (type, user, day) FIRST (bounds the blow-up: each
    // user-day row expands to exactly 7 window assignments no matter how
    // many raw events it had), explode to the 7 covering window starts,
    // then one two-phase distinct aggregate on (type, window). At 100 TB
    // the ×7 factor is the knob (window length ÷ step), and every stage
    // hash-partitions — no per-window rescans, no global state. Day
    // arithmetic is integer epoch-days end to end; the date renders only
    // in the final projection.
    "e15_sliding_distinct" -> ((s, d) => {
      val epoch = to_date(lit("1970-01-01"))
      val dd = events(s, d)
        .select(col("event_type"), col("user_id"),
          datediff(to_date(col("ts")), epoch).as("ed"))
        .distinct()
      dd.select(col("event_type"), col("user_id"),
          explode(sequence(col("ed") - 6, col("ed"))).as("w"))
        .groupBy("event_type", "w")
        .agg(countDistinct(col("user_id")).as("n_users"))
        .select(col("event_type"),
          date_format(date_add(epoch, col("w")), "yyyy-MM-dd").as("win_start"),
          col("n_users"))
        .orderBy("event_type", "win_start")
    }),

    "e13_volume_monitor" -> ((s, d) => {
      val daily = events(s, d)
        .groupBy(col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-7, -1)
      daily
        .withColumn("base7", sum(col("n")).over(w))
        .withColumn("nprior", count(col("n")).over(w))
        .filter(col("nprior") === 7)
        .select(col("event_type"), col("day"), col("n"), col("base7"),
          (col("n") * 14 > col("base7") * 3).cast("int").as("spike"),
          (col("n") * 14 < col("base7")).cast("int").as("slump"))
        .orderBy("event_type", "day")
    }),

    // E17: EWMA smoothing — the exponentially-weighted daily-value
    // baseline (α = 1/2, truncated at 8 taps: the 2⁻⁸ tail is below the
    // 1e-4 value grid, so truncation is exact at our precision, and the
    // finite window makes the whole computation INTEGER — per-day tick
    // sums, power-of-two weights, one division at the end; avg over
    // doubles would be order-dependent in the low bits). Each day's
    // smooth is Σ x_{t−i}·2^{7−i} / Σ 2^{7−i} over the available i ≤ 7
    // (self-normalizing at series start, the standard adjusted-EWMA
    // form), and `above` flags days beating their own smooth via integer
    // cross-multiplication (no division, no zero-denominator edge). The
    // weighted self-join runs on the DAILY AGGREGATE — |days × types|
    // rows at any corpus size (the e13 argument), broadcast explicitly —
    // never on raw events; raw data is touched exactly once by the
    // groupBy.
    "e17_ewma" -> ((s, d) => {
      val daily = events(s, d)
        .groupBy(col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(sum(tenK(col("value"))).as("xt"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("event_type").orderBy("day")))
      val b = daily.select(col("event_type"), col("rn").as("brn"),
        col("xt").as("bxt"))
      daily.join(broadcast(b), Seq("event_type"))
        .filter((col("rn") - col("brn")).between(0, 7))
        .withColumn("w",
          expr("shiftleft(CAST(1 AS BIGINT), 7 - (rn - brn))"))
        .groupBy(col("event_type"), col("day"), col("xt"))
        .agg(sum(col("bxt") * col("w")).as("num"), sum(col("w")).as("den"))
        .select(col("event_type"), col("day"),
          (col("xt") / 10000.0).as("x"),
          round4((col("num") / col("den")) / 1e4).as("ewma"),
          (col("xt") * col("den") > col("num")).cast("int").as("above"))
        .orderBy("event_type", "day")
    }),

    // E19: revenue concentration (Lorenz/Pareto card) — how much of total
    // revenue the top user deciles hold, the 80/20 skew report every
    // monetized-events dataset gets asked for. Sort-free at scale: per-user
    // revenue snaps to BIGINT cents and collapses to a (cents → n_users)
    // HISTOGRAM whose row count is bounded by the value range in cents at
    // ANY user count (the d16/tp_token_budget tick argument), the ordered
    // cumulative window runs over histogram rows (desc — richest first),
    // and a histogram row's decile is where its FIRST user lands
    // ((cum_before·10) div total_users, clamped — deterministic integer
    // arithmetic, no percentile interpolation). Revenue per tick is the
    // exact integer cents·n_users; shares divide once at the end.
    // The cumulative scan runs over the cents histogram, whose row count
    // is bounded by the value range in cents — never by user count — as
    // an EXPLICIT constant-key single-partition scan (BandedScan.cumSum):
    // the bound is stated in the plan instead of the implicit
    // empty-partition-spec window Spark warns about, and the histogram
    // subtree is referenced once (the band+stitch form re-executed the
    // per-user revenue aggregate 3×, measured +0.2 s at sf0.1).
    "e19_concentration" -> ((s, d) => {
      val hist = events(s, d)
        .groupBy("user_id")
        .agg(sum(graft.functions.ExactNum.cents(col("value"))).as("c"))
        .groupBy("c").agg(count(lit(1)).as("nu"))
      // tu/tc ride the SAME single-partition window as the running sum
      // (BandedScan.totalOver): `hist.agg(...)` was a second reference to
      // hist, re-executing the per-user revenue aggregate feed
      val wAll = graft.functions.BandedScan.totalOver("c")
      graft.functions.BandedScan.cumSum(hist, "c", "nu", "cum_before",
        desc = true, includeCurrent = false)
        .withColumn("tu", sum(col("nu")).over(wAll))
        .withColumn("tc", sum(col("c") * col("nu")).over(wAll))
        .withColumn("decile",
          least(lit(9L), expr("(cum_before * 10) div tu")) + 1)
        .groupBy("decile", "tu", "tc")
        .agg(sum(col("nu")).as("n_users"), sum(col("c") * col("nu")).as("rc"))
        .select(col("decile"), col("n_users"),
          (col("rc") / 100.0).as("revenue"),
          round4(col("rc") / col("tc").cast("double")).as("rev_share"))
        .orderBy("decile")
    }),

    // E18: CUSUM change-point detection (Page 1954) — the sequential
    // monitoring statistic that catches a SUSTAINED mean shift long before
    // a per-day spike rule fires: s_t = max(0, s_{t-1} + (x_t − μ)). The
    // recurrence looks inherently sequential, but with k=0 it has a
    // closed window form — s_t = P_t − min(0, min_{i≤t} P_i) where
    // P_t = Σ_{i≤t}(x_i − μ) — so two running windows (sum + min) over the
    // per-type daily aggregate compute it exactly. INTEGER end-to-end:
    // deviations are scaled by n (x_i·n − S with S = Σx, n = #days) to
    // avoid dividing by n per row, so every prefix/min/compare is exact
    // long arithmetic; the one double division (st/n, display grid) and
    // the 1000-unit flag bar (fixture-tuned, an integer compare against
    // n·10⁷ ticks — immune to display rounding) come last. Windows run
    // over the |days × types| aggregate, never raw events.
    "e18_cusum" -> ((s, d) =>
      cusumOf(dailyTicks(events(s, d))).orderBy("event_type", "day")),

    // C7: theta/range join — per error event, count same-user non-error
    // events within ±5 minutes. Bucketed: each error probes its 5-min bucket
    // ±1, turning the range predicate into an equi-join on
    // (user_id, bucket) that hash-partitions at any scale; a probe event's
    // own bucket is unique so no pair dedup is needed.
    "c7_range_join" -> ((s, d) => {
      val ev = events(s, d).select(col("event_id"), col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("us"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id").as("eu"),
          col("us").as("eus"))
        .withColumn("bucket",
          explode(array(expr("eus div 300000000") - 1,
            expr("eus div 300000000"), expr("eus div 300000000") + 1)))
      val probes = ev.filter(col("event_type") =!= "error")
        .select(col("user_id").as("pu"), col("us").as("pus"))
        .withColumn("pbucket", expr("pus div 300000000"))
      errors.join(probes,
          col("eu") === col("pu") && col("bucket") === col("pbucket") &&
          abs(col("pus") - col("eus")) <= usPer5Min)
        .groupBy("error_id")
        .agg(count(lit(1)).as("n_nearby"))
        .orderBy("error_id")
    }),

    // C8: as-of join — for each purchase, the latest same-user click
    // at-or-before it. Implemented Spark-first as a carry-forward window
    // (one shuffle on user_id, no join): `last(click, ignoreNulls)` over the
    // time-ordered union of clicks+purchases. Tie semantics are explicit:
    // ordering by (ts, event_type, event_id) sorts every click before any
    // purchase at the same timestamp ('click' < 'purchase'), so a boundary-ts
    // click is always visible to the purchase, and among boundary-ts clicks
    // the max event_id wins — deterministic on both engines, instead of
    // relying on an engine's unspecified ASOF tie choice.
    "c8_asof_join" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_type", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
        .withColumn("click_id",
          last(when(col("event_type") === "click", col("event_id")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("click_id"))
        .orderBy("purchase_id")
    }),

    // E16: last-touch attribution — the business composite over C8's as-of
    // machinery: every purchase credits the most recent preceding touch
    // (click or view) by the same user within a 7-day lookback, else
    // 'direct'; channels roll up to conversion counts + exact revenue.
    // Same single-window union shape as C8 (touches sort before a
    // same-microsecond conversion via the kind key), so the whole
    // attribution is ONE user-partitioned window pass + one hash
    // aggregate — never a touches × conversions join, which is the shape
    // that dies on high-activity users at 100 TB. The lookback is integer
    // µs arithmetic; revenue goes through the cents kernel.
    "e16_attribution" -> ((s, d) => attributionOf(events(s, d))),

    // C14: interval-overlap join — for each purchase's 1-hour fulfillment
    // interval, the severe maintenance windows (error events with
    // value ≥ 90, ±15 min) that overlap it, with total overlap time.
    // Unlike C7 there is NO equi key at all (windows are global), so the
    // only scale lever is the time-grid trick: both interval sets explode
    // onto a 30-min epoch grid (a bounded ≤3/≤2 cells per interval — the
    // lengths are fixed), the join is equi on the cell, and each
    // qualifying pair is counted exactly once WITHOUT a distinct shuffle
    // by keeping it only in the cell that contains the overlap's start
    // (`cell == greatest(ps, ms) div G` — the standard spatial-join
    // de-dup trick). Candidates are Σ_cell |P_cell|·|M_cell|, never
    // |P|·|M|; at 100 TB the grid granularity is the knob that holds
    // per-cell populations constant. Closed-interval semantics: touching
    // endpoints match with overlap_us = 0, and all arithmetic is integer
    // microseconds so the overlap predicate is exact on both engines.
    "c14_interval_join" -> ((s, d) => {
      val gridUs = 1800000000L // 30-min cells
      val ev = events(s, d).select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("value"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("us").as("ps"),
          (col("us") + 3600000000L).as("pe"))
        .withColumn("cell",
          explode(sequence(expr(s"ps div ${gridUs}L"), expr(s"pe div ${gridUs}L"))))
      val maint = ev.filter(col("event_type") === "error" && col("value") >= 90)
        .select(col("event_id").as("window_id"), (col("us") - 900000000L).as("ms"),
          (col("us") + 900000000L).as("me"))
        .withColumn("cell",
          explode(sequence(expr(s"ms div ${gridUs}L"), expr(s"me div ${gridUs}L"))))
      purch.join(maint, Seq("cell"))
        .filter(col("ps") <= col("me") && col("ms") <= col("pe") &&
          col("cell") === expr(s"greatest(ps, ms) div ${gridUs}L"))
        .groupBy("purchase_id")
        .agg(count(lit(1)).as("n_windows"),
          sum(least(col("pe"), col("me")) - greatest(col("ps"), col("ms")))
            .as("overlap_us"))
        .orderBy("purchase_id")
    }),

    // D5: collect aggregation — per-nation sorted name roster, rendered as a
    // joined string so the oracle hash is array-representation-agnostic.
    "d5_collect" -> ((s, d) =>
      customer(s, d)
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          array_join(array_sort(collect_list(col("c_name"))), "|").as("names"),
          count(lit(1)).as("n"))
        .orderBy("n_name")),

    // D6: pivot — event_type counts as columns, explicit value list for
    // deterministic column order, nulls backfilled to 0.
    "d6_pivot" -> ((s, d) =>
      events(s, d)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "signup", "purchase", "error"))
        .agg(count(lit(1)))
        .select(col("user_id"),
          coalesce(col("click"), lit(0L)).as("n_click"),
          coalesce(col("view"), lit(0L)).as("n_view"),
          coalesce(col("signup"), lit(0L)).as("n_signup"),
          coalesce(col("purchase"), lit(0L)).as("n_purchase"),
          coalesce(col("error"), lit(0L)).as("n_error"))
        .orderBy("user_id")),

    // D6b: unpivot — the inverse reshape of the pivot, melting per-flag
    // measure columns back into (measure, value) rows.
    "d6b_unpivot" -> ((s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          sum2(col("l_quantity")).as("sum_qty"),
          sum2(col("l_extendedprice")).as("sum_base"),
          sum2(col("l_discount")).as("sum_disc"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_base"), col("sum_disc")),
          "measure", "val")
        .orderBy("l_returnflag", "measure")),

    // D7: statistical aggregation — sample stddev, correlation, exact median
    // (linear interpolation; identical formula to DuckDB quantile_cont).
    "d7_stats" -> ((s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round4(stddev_samp(col("l_quantity"))).as("sd_qty"),
          round4(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qty_price"),
          round4(expr("percentile(l_extendedprice, 0.5)")).as("median_price"))
        .orderBy("l_returnflag"))
  )

  /** Ordered-sequence funnel over an events-shaped frame: for each stage
    * (in order), the user's FIRST occurrence strictly after their first
    * reach of the previous stage; output is one row per user with
    * `reached_<stage>` flags and the total `stage` depth. Built as a fold
    * of min-ts aggregates chained by pk joins — each stage frame is
    * user-count-sized, so the ladder stays co-partitioned aggregates and
    * equi joins at any event volume (never a window over a user's full
    * history, never a self-join on the raw stream). */
  private[graft] def funnelOf(ev: DataFrame, stages: Seq[String],
      within: Option[String] = None): DataFrame = {
    val firstReach = stages.foldLeft(List.empty[(String, DataFrame)]) {
      (acc, st) =>
        val base = ev.filter(col("event_type") === st)
        val gated = acc.headOption match {
          case Some((_, prev)) =>
            val g = base
              .join(prev.select(col("user_id"), col("ts_min").as("prev_ts")),
                "user_id").filter(col("ts") > col("prev_ts"))
            within.fold(g)(iv =>
              g.filter(col("ts") <= col("prev_ts") + expr(s"INTERVAL $iv")))
          case None => base
        }
        (st, gated.groupBy("user_id").agg(min(col("ts")).as("ts_min"))) :: acc
    }.reverse
    val flags = firstReach.map { case (st, fr) =>
      fr.select(col("user_id"), lit(1).as(s"reached_$st"))
    }
    val joined = flags.foldLeft(ev.select("user_id").distinct())(
      (df, fr) => df.join(fr, Seq("user_id"), "left"))
    val reachedCols = stages.map(st =>
      coalesce(col(s"reached_$st"), lit(0)).as(s"reached_$st"))
    val stageSum = stages.map(st => coalesce(col(s"reached_$st"), lit(0)))
      .reduce(_ + _).as("stage")
    joined.select(col("user_id") +: reachedCols :+ stageSum: _*)
  }

  /** Cohort retention over an events-shaped frame: distinct (user, week)
    * activity, cohort = the user's first active week (a min() window over
    * the user's own week rows — no cohort join), then a count per
    * (cohort_week, week_offset). All frames after the first aggregate are
    * user×week-sized regardless of event volume. */
  private[graft] def retentionOf(ev: DataFrame): DataFrame = {
    val weeks = ev
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .distinct()
    weeks
      .withColumn("cohort_week",
        min(col("wk")).over(Window.partitionBy("user_id")))
      .select(col("cohort_week"),
        (datediff(col("wk"), col("cohort_week")) / 7).cast("int")
          .as("week_offset"))
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("active_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** The e18 daily aggregate: per (event_type, day), the value total in
    * exact 10⁻⁴ ticks (`xt`). One builder for the batch query and the
    * SG18 streaming twin, which drains it from a stream in complete mode
    * and runs [[cusumOf]] over the sink. */
  private[graft] def dailyTicks(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(sum(tenK(col("value"))).as("xt"))

  /** The e18 CUSUM windows over any (event_type, day, xt-ticks) daily
    * frame — separated so the SG18 streaming twin computes the identical
    * statistic over its drained complete-mode aggregate. See the e18
    * registry comment for the closed-form/integer rationale. */
  private[graft] def cusumOf(daily: DataFrame): DataFrame = {
    // n and s as whole-partition windows over the same partitioning as the
    // running sums: one shuffle, no per-type stats join
    val wtype = Window.partitionBy("event_type")
    val wseq = wtype.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("n", count(lit(1)).over(wtype))
      .withColumn("s", sum(col("xt")).over(wtype))
      .withColumn("pf", sum(col("xt") * col("n") - col("s")).over(wseq))
      .withColumn("st", col("pf") - least(min(col("pf")).over(wseq), lit(0L)))
      .select(col("event_type"), col("day"),
        (col("xt") / 10000.0).as("x"),
        round4((col("st") / col("n")) / 1e4).as("excess"),
        (col("st") > col("n") * 10000000L).cast("int").as("flag"))
  }

  /** Last-touch attribution core (see the `e16_attribution` registry
    * note), over any events-shaped frame — parameterized so tests can pin
    * the 7-day lookback boundary and the same-microsecond ordering. */
  private[graft] def attributionOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "kind", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .filter(col("event_type").isin("purchase", "click", "view"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"), col("value"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("kind"))
      .withColumn("lt", last(when(col("kind") === 0,
          struct(col("us").as("tus"), col("event_type").as("ch"))),
        ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .withColumn("channel",
        when(col("lt").isNotNull &&
            col("lt.tus") >= col("us") - lit(604800000000L), col("lt.ch"))
          .otherwise(lit("direct")))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_conversions"),
        sum2(coalesce(col("value"), lit(0.0))).as("revenue"))
      .orderBy("channel")
  }

  /** Theil–Sen core over any (event_type, ed, n) daily series — see the
    * e20 registry note; separated so the property test can drive it with
    * synthetic series (incl. a planted outlier day that least squares
    * chases and the median ignores). */
  private[graft] def theilSenOf(daily: DataFrame): DataFrame = {
    val pairs = daily.alias("a").join(daily.alias("b"),
        col("a.event_type") === col("b.event_type") && col("a.ed") < col("b.ed"))
      .select(col("a.event_type").as("event_type"),
        round((col("b.n") - col("a.n")).cast("double")
          / (col("b.ed") - col("a.ed")) * 1e4).cast("long").as("s4"))
    val hist = pairs.groupBy("event_type", "s4").agg(count(lit(1)).as("cnt"))
    val wcum = Window.partitionBy("event_type").orderBy("s4")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = hist.groupBy("event_type").agg(sum(col("cnt")).as("tot"))
    hist
      .withColumn("cum", sum(col("cnt")).over(wcum))
      .join(broadcast(tot), "event_type")
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy("event_type")
      .agg(round4(min(col("s4")) / 1e4).as("sen_slope"))
  }

  /** The e7 funnel oracles' first-reach ladder: per user, the first view,
    * then the first click after it, then the first purchase after that
    * (each rung key-joined to the previous one, strictly later, and at
    * most `window` later when given), and the stage reached. `reached`
    * adds the three per-rung flags e7 and e7b report. */
  private[graft] def funnelSql(window: String, reached: Boolean): String = {
    def rung(r: String, prev: String, etype: String): String =
      s"""$r AS (
           SELECT e.user_id, min(e.ts) AS ts_min FROM events e
           JOIN $prev ON e.user_id = $prev.user_id
           WHERE e.event_type = '$etype' AND e.ts > $prev.ts_min""" +
        (if (window.isEmpty) "" else s"""
             AND e.ts <= $prev.ts_min + INTERVAL $window""") + " GROUP BY 1)"
    val flags = if (!reached) "" else """
                CAST(v.user_id IS NOT NULL AS INT) AS reached_view,
                CAST(c.user_id IS NOT NULL AS INT) AS reached_click,
                CAST(p.user_id IS NOT NULL AS INT) AS reached_purchase,"""
    s"""WITH v AS (
           SELECT user_id, min(ts) AS ts_min FROM events
           WHERE event_type = 'view' GROUP BY 1),
         ${rung("c", "v", "click")},
         ${rung("p", "c", "purchase")},
         u AS (SELECT DISTINCT user_id FROM events)
         SELECT u.user_id,$flags
                CAST(v.user_id IS NOT NULL AS INT)
                  + CAST(c.user_id IS NOT NULL AS INT)
                  + CAST(p.user_id IS NOT NULL AS INT) AS stage
         FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
                LEFT JOIN p USING (user_id)
         ORDER BY user_id"""
  }

  val oracle: Map[String, String] = Map(
    "e20_theil_sen" ->
      s"""WITH daily AS (
            SELECT event_type,
                   date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed,
                   count(*) AS n
            FROM events GROUP BY 1, 2),
          pairs AS (
            SELECT a.event_type,
                   CAST(round((b.n - a.n)::DOUBLE / (b.ed - a.ed) * 1e4)
                     AS BIGINT) AS s4
            FROM daily a JOIN daily b
              ON a.event_type = b.event_type AND a.ed < b.ed),
          hist AS (SELECT event_type, s4, count(*) AS cnt
                   FROM pairs GROUP BY 1, 2),
          tot AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS tot
                  FROM hist GROUP BY 1)
          SELECT event_type, ${sqlRound4("min(s4) / 1e4")} AS sen_slope
          FROM (SELECT h.event_type, h.s4,
                  CAST(sum(cnt) OVER (PARTITION BY h.event_type ORDER BY h.s4)
                    AS BIGINT) AS cum,
                  t.tot
                FROM hist h JOIN tot t ON h.event_type = t.event_type)
          WHERE cum * 2 >= tot
          GROUP BY event_type ORDER BY event_type""",

    "e1_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
                CAST(row_number() OVER total AS INT) AS rn,
                CAST(rank() OVER byval AS INT) AS rk,
                CAST(dense_rank() OVER byval AS INT) AS drk
         FROM orders
         WINDOW total AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC),
                byval AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC)
         QUALIFY rn <= 3
         ORDER BY o_custkey, rn""",

    "f3_topk_per_key" ->
      """SELECT o_custkey,
                CAST(row_number() OVER w AS INT) AS rnk,
                o_orderkey, o_totalprice
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey DESC)
         QUALIFY rnk <= 3
         ORDER BY o_custkey, rnk""",

    // same min-ts aggregate ladder: each stage's first-reach gated by a pk
    // join on the previous stage's first-reach and a strict ts inequality
    "e7_funnel" -> funnelSql(window = "", reached = true),

    // identical lag → running-sum → fold shape on µs integers
    "e11_islands" ->
      """WITH g AS (
           SELECT user_id, event_id, ts,
                  lag(epoch_us(ts)) OVER w AS prev,
                  epoch_us(ts) AS us
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         b AS (
           SELECT user_id, event_id, ts,
                  CAST(prev IS NULL OR us - prev > 1800000000 AS INT) AS brk
           FROM g),
         i AS (
           SELECT user_id, ts,
                  CAST(sum(brk) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
           FROM b)
         SELECT user_id, island,
                min(ts) AS island_start, max(ts) AS island_end,
                count(*) AS n_events
         FROM i GROUP BY 1, 2
         ORDER BY user_id, island""",

    // same lead-per-user window, same (ts, event_id) tie-break
    "e12_transitions" ->
      """WITH seq AS (
           SELECT event_type AS from_type,
                  lead(event_type) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) AS to_type
           FROM events)
         SELECT from_type, to_type, count(*) AS n
         FROM seq WHERE to_type IS NOT NULL
         GROUP BY 1, 2 ORDER BY from_type, to_type""",

    // the declarative twin: full-outer join of two aggregates; the span
    // count joins orders back against the event-span frame
    "k5_cogroup" ->
      """WITH o AS (SELECT o_custkey AS key, count(*) AS n_orders
                    FROM orders GROUP BY 1),
          e AS (SELECT user_id AS key, count(*) AS n_events,
                       min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
                FROM events GROUP BY 1),
          s AS (SELECT e.key, count(*) AS n_in_span
                FROM orders o2 JOIN e ON o2.o_custkey = e.key
                WHERE epoch_us(o2.o_orderdate) BETWEEN e.lo AND e.hi
                GROUP BY 1)
          SELECT key,
                 coalesce(o.n_orders, 0) AS n_orders,
                 coalesce(e.n_events, 0) AS n_events,
                 coalesce(s.n_in_span, 0) AS n_in_span
          FROM o FULL JOIN e USING (key) LEFT JOIN s USING (key)
          ORDER BY key""",

    // the declarative lag-window twin of the imperative sorted-stream pass
    "k6_secondary_sort" ->
      """WITH g AS (
           SELECT user_id,
                  epoch_us(ts) - lag(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) AS gap
           FROM events)
         SELECT user_id, count(*) AS n_events,
                coalesce(max(gap), 0) AS max_gap_us
         FROM g GROUP BY 1 ORDER BY user_id""",

    // e7's ladder with the 7-day attribution bound on each rung
    "e7b_funnel_window" -> funnelSql(window = "7 DAY", reached = true),

    // exact quantile_cont per (week, type) group
    "e9_latency_trend" ->
      s"""SELECT date_trunc('week', ts) AS wk, event_type, count(*) AS n,
                 ${graft.functions.ExactNum.sqlRound4("quantile_cont(value, 0.5)")} AS p50,
                 ${graft.functions.ExactNum.sqlRound4("quantile_cont(value, 0.95)")} AS p95
          FROM events GROUP BY wk, event_type
          ORDER BY wk, event_type""",

    // same daily reduction + 7-row trailing window; thresholds stay
    // multiplied-out integer comparisons (HUGEINT window sum cast back)
    "e14_seasonality" ->
      s"""WITH base AS (
            SELECT event_type, CAST(dayofweek(ts) AS INT) AS dow,
                   count(*) AS n
            FROM events GROUP BY 1, 2),
          tot AS (
            SELECT event_type, CAST(sum(n) AS BIGINT) AS total
            FROM base GROUP BY 1)
          SELECT b.event_type, b.dow, b.n,
                 ${sqlRound4("b.n::DOUBLE/t.total")} AS share,
                 CAST(b.n * 7 > t.total * 2 AS INT) AS hot
          FROM base b JOIN tot t ON b.event_type = t.event_type
          ORDER BY 1, 2""",

    // same dedup-first expansion on integer epoch-days
    "e15_sliding_distinct" ->
      """WITH dd AS (
           SELECT DISTINCT event_type, user_id,
                  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed
           FROM events),
         wins AS (
           SELECT event_type, user_id, unnest(range(ed - 6, ed + 1)) AS w
           FROM dd)
         SELECT event_type,
                strftime(DATE '1970-01-01' + CAST(w AS INT), '%Y-%m-%d') AS win_start,
                count(DISTINCT user_id) AS n_users
         FROM wins GROUP BY event_type, w
         ORDER BY event_type, win_start""",

    "e13_volume_monitor" ->
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

    "e17_ewma" ->
      s"""WITH daily AS (
            SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   CAST(sum(CAST(round(value*10000) AS BIGINT)) AS BIGINT) AS xt,
                   row_number() OVER (PARTITION BY event_type
                     ORDER BY strftime(date_trunc('day', ts), '%Y-%m-%d')) AS rn
            FROM events GROUP BY 1, 2),
          j AS (
            SELECT a.event_type, a.day, a.xt,
                   CAST(sum(b.xt * (CAST(1 AS BIGINT) << (7 - (a.rn - b.rn)))) AS BIGINT) AS num,
                   CAST(sum(CAST(1 AS BIGINT) << (7 - (a.rn - b.rn))) AS BIGINT) AS den
            FROM daily a JOIN daily b
              ON a.event_type = b.event_type
             AND a.rn - b.rn BETWEEN 0 AND 7
            GROUP BY 1, 2, 3)
          SELECT event_type, day, xt/10000.0 AS x,
                 ${sqlRound4("(num/den)/1e4")} AS ewma,
                 CAST(xt * den > num AS INT) AS above
          FROM j ORDER BY event_type, day""",

    "e19_concentration" ->
      s"""WITH ur AS (
            SELECT user_id,
                   CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS c
            FROM events GROUP BY 1),
          hist AS (SELECT c, count(*) AS nu FROM ur GROUP BY c),
          tot AS (SELECT CAST(sum(nu) AS BIGINT) AS tu,
                         CAST(sum(c * nu) AS BIGINT) AS tc FROM hist),
          cum AS (
            SELECT c, nu,
                   coalesce(CAST(sum(nu) OVER (ORDER BY c DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS BIGINT), 0) AS cum_before
            FROM hist),
          dec AS (
            SELECT least(9, (cum_before * 10) // tu) + 1 AS decile, nu, c, tu, tc
            FROM cum CROSS JOIN tot)
          SELECT decile, CAST(sum(nu) AS BIGINT) AS n_users,
                 CAST(sum(c * nu) AS BIGINT)/100.0 AS revenue,
                 ${sqlRound4("CAST(sum(c * nu) AS BIGINT)/CAST(tc AS DOUBLE)")} AS rev_share
          FROM dec GROUP BY decile, tu, tc
          ORDER BY decile""",

    "e18_cusum" ->
      s"""WITH daily AS (
            SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   CAST(sum(CAST(round(value*10000) AS BIGINT)) AS BIGINT) AS xt
            FROM events GROUP BY 1, 2),
          stats AS (SELECT event_type, count(*) AS n,
                           CAST(sum(xt) AS BIGINT) AS s
                    FROM daily GROUP BY 1),
          p AS (
            SELECT daily.event_type, day, xt, n,
                   CAST(sum(xt * n - s) OVER (PARTITION BY daily.event_type
                     ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pf
            FROM daily JOIN stats USING (event_type)),
          c AS (
            SELECT event_type, day, xt, n,
                   pf - least(CAST(min(pf) OVER (PARTITION BY event_type
                     ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT),
                     CAST(0 AS BIGINT)) AS st
            FROM p)
          SELECT event_type, day, xt/10000.0 AS x,
                 ${sqlRound4("(st/n)/1e4")} AS excess,
                 CAST(st > n * 10000000 AS INT) AS flag
          FROM c ORDER BY event_type, day""",

    // identical integer pipeline: tick-quantized weekly means, integer
    // week index, long moment sums, and the slope rounded with
    // positive-operand integer division (// here, div in Spark — equal
    // on positive operands); one double division each for t and r2
    "e10_drift" ->
      s"""WITH wk0 AS (
            SELECT event_type, date_trunc('week', ts) AS wkts,
                   sum(CAST(round(value*100) AS BIGINT)) AS cs,
                   count(*) AS cn
            FROM events GROUP BY event_type, wkts),
          wk AS (
            SELECT event_type,
                   CAST(round((cs/100.0/cn)*10000) AS BIGINT) AS t,
                   (epoch_us(wkts) - min(epoch_us(wkts))
                     OVER (PARTITION BY event_type)) // 604800000000 AS x
            FROM wk0),
          m AS (
            SELECT event_type, count(*) AS n_weeks,
                   sum(x) AS sx, sum(t) AS sy, sum(x*x) AS sxx,
                   sum(x*t) AS sxy, sum(t*t) AS syy
            FROM wk GROUP BY event_type),
          d AS (
            SELECT event_type, n_weeks,
                   n_weeks*sxy - sx*sy AS num,
                   n_weeks*sxx - sx*sx AS denx,
                   n_weeks*syy - sy*sy AS deny
            FROM m)
          SELECT event_type, n_weeks,
                 CAST(CASE WHEN num >= 0
                      THEN (200*num + denx) // (2*denx)
                      ELSE -((200*(-num) + denx) // (2*denx)) END
                   AS BIGINT) AS slope_micro,
                 ${graft.functions.ExactNum.sqlRound4(
                   "(num*num) / nullif(denx*deny, 0)")} AS r2
          FROM d ORDER BY event_type""",

    // same shape: distinct user-weeks, per-user min window for the cohort,
    // count per (cohort, offset); date_trunc('week') is Monday-start in
    // both engines
    "e8_retention" ->
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

    "e2_lag" ->
      """SELECT user_id, event_id,
                epoch_us(ts) - coalesce(
                  lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                  epoch_us(ts)) AS gap_us
         FROM events ORDER BY user_id, event_id""",

    "e3_running_total" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr, o_orderkey,
                CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) OVER (
                  PARTITION BY year(o_orderdate)
                  ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)/100.0
                  AS cum_spend
         FROM orders ORDER BY o_orderkey""",

    "e4_moving_avg" ->
      """SELECT day_num,
                day_cents/100.0 AS day_rev,
                CAST(round((CAST(sum(day_cents) OVER w AS BIGINT)/100.0
                            /(count(*) OVER w))*10000) AS BIGINT)/10000.0 AS avg_7d
         FROM (
           SELECT CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INT) AS day_num,
                  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS day_cents
           FROM orders GROUP BY 1)
         WINDOW w AS (ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY day_num""",

    "e5_distribution" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
                CAST(ntile(4) OVER w AS INT) AS quartile,
                first_value(c_acctbal) OVER wf AS seg_lo,
                last_value(c_acctbal) OVER wf AS seg_hi
         FROM customer
         WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC),
                wf AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY c_custkey""",

    "e6_pct_dist" ->
      s"""SELECT c_custkey, c_mktsegment, c_acctbal,
                 ${sqlRound4("percent_rank() OVER w")} AS pct_rank,
                 ${sqlRound4("cume_dist() OVER w")} AS cume
          FROM customer
          WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC)
          ORDER BY c_custkey""",

    "c7_range_join" ->
      """SELECT e.event_id AS error_id, count(*) AS n_nearby
         FROM events e JOIN events x
           ON e.user_id = x.user_id
          AND x.event_type <> 'error'
          AND abs(epoch_us(x.ts) - epoch_us(e.ts)) <= 300000000
         WHERE e.event_type = 'error'
         GROUP BY 1 ORDER BY error_id""",

    "c8_asof_join" ->
      """SELECT event_id AS purchase_id, user_id, click_id FROM (
           SELECT event_id, user_id, event_type,
                  last_value(CASE WHEN event_type = 'click' THEN event_id END
                             IGNORE NULLS)
                    OVER (PARTITION BY user_id
                          ORDER BY ts, event_type, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS click_id
           FROM events WHERE event_type IN ('purchase', 'click'))
         WHERE event_type = 'purchase'
         ORDER BY purchase_id""",

    // two last_value windows over the same spec (both engines collapse to
    // one pass); same (us, kind, event_id) total order as the Spark form
    "e16_attribution" ->
      s"""WITH ev AS (
            SELECT event_id, user_id, event_type, epoch_us(ts) AS us, value,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS kind
            FROM events WHERE event_type IN ('purchase', 'click', 'view')),
          lt AS (
            SELECT *,
                   last_value(CASE WHEN kind = 0 THEN us END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY us, kind, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ltus,
                   last_value(CASE WHEN kind = 0 THEN event_type END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY us, kind, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ltch
            FROM ev)
          SELECT CASE WHEN ltus IS NOT NULL AND ltus >= us - 604800000000
                      THEN ltch ELSE 'direct' END AS channel,
                 count(*) AS n_conversions,
                 ${sqlSum2("coalesce(value, 0.0)")} AS revenue
          FROM lt WHERE kind = 1
          GROUP BY 1 ORDER BY channel""",

    // The oracle states the overlap join directly (DuckDB handles the
    // theta join at oracle scale); the grid blocking is plan shape only.
    "c14_interval_join" ->
      """SELECT p.event_id AS purchase_id, count(*) AS n_windows,
                CAST(sum(least(p.us + 3600000000, m.us + 900000000)
                         - greatest(p.us, m.us - 900000000)) AS BIGINT) AS overlap_us
         FROM (SELECT event_id, epoch_us(ts) AS us FROM events
               WHERE event_type = 'purchase') p
         JOIN (SELECT event_id, epoch_us(ts) AS us FROM events
               WHERE event_type = 'error' AND value >= 90) m
           ON p.us <= m.us + 900000000
          AND m.us - 900000000 <= p.us + 3600000000
         GROUP BY 1 ORDER BY purchase_id""",

    "d5_collect" ->
      """SELECT n_name, string_agg(c_name, '|' ORDER BY c_name) AS names,
                count(*) AS n
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",

    "d6_pivot" ->
      """SELECT user_id,
                count(*) FILTER (WHERE event_type = 'click')    AS n_click,
                count(*) FILTER (WHERE event_type = 'view')     AS n_view,
                count(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
                count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
                count(*) FILTER (WHERE event_type = 'error')    AS n_error
         FROM events GROUP BY user_id ORDER BY user_id""",

    "d6b_unpivot" ->
      s"""SELECT l_returnflag, measure, val FROM (
            UNPIVOT (
              SELECT l_returnflag,
                     ${sqlSum2("l_quantity")} AS sum_qty,
                     ${sqlSum2("l_extendedprice")} AS sum_base,
                     ${sqlSum2("l_discount")} AS sum_disc
              FROM lineitem GROUP BY l_returnflag)
            ON sum_qty, sum_base, sum_disc INTO NAME measure VALUE val)
          ORDER BY l_returnflag, measure""",

    "d7_stats" ->
      """SELECT l_returnflag,
                CAST(round(stddev_samp(l_quantity)*10000) AS BIGINT)/10000.0 AS sd_qty,
                CAST(round(corr(l_quantity, l_extendedprice)*10000) AS BIGINT)/10000.0 AS corr_qty_price,
                CAST(round(quantile_cont(l_extendedprice, 0.5)*10000) AS BIGINT)/10000.0 AS median_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
  )
}
