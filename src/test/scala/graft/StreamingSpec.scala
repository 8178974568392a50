package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.graftexpr.SessionArtifacts

import graft.sources.{Tables, UpsertTable, VersionedTable}
import graft.streaming.{Drain, StreamingOps}

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

case class Doc(doc_id: Long, text: String, ts: Timestamp)

/** Streaming forms vs their batch twins (SURVEY.md §5 layer 4): the same
  * logical transforms driven through MicroBatchExecution via MemoryStream
  * must agree with direct batch execution on the same rows.
  */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  private def t(s: String) = Timestamp.valueOf(s)

  private val evs = Seq(
    Ev(1, t("2024-01-01 10:05:00"), 1, "click", 1.0, "{}"),
    Ev(2, t("2024-01-01 10:20:00"), 1, "view", 1.0, "{}"),
    Ev(3, t("2024-01-01 11:05:00"), 1, "click", 1.0, "{}"),
    Ev(4, t("2024-01-01 10:10:00"), 2, "click", 1.0, "{}"),
    Ev(5, t("2024-01-01 12:30:00"), 2, "click", 1.0, "{}"), // >30m gap: new session
    Ev(6, t("2024-01-01 12:40:00"), 2, "purchase", 1.0, "{}"))

  test("stream tumbling counts equal the batch twin (complete mode)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(evs: _*)
    val q = StreamingOps.tumblingCounts(mem.toDF())
      .writeStream.outputMode("complete").format("memory").queryName("tumb").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("tumb").orderBy("hour_start", "event_type").collect()
    val batch = StreamingOps.tumblingCounts(evs.toDF())
      .orderBy("hour_start", "event_type").collect()
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.nonEmpty)
  }

  test("stream sliding windows equal the batch twin (each event in 4 windows)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(evs: _*)
    val q = StreamingOps.slidingCounts(mem.toDF())
      .writeStream.outputMode("complete").format("memory").queryName("slide").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("slide")
    assert(streamed.agg(sum("n")).collect()(0).getLong(0) == 4L * evs.size)
    val batch = StreamingOps.slidingCounts(evs.toDF()).orderBy("win_start").collect()
    assert(streamed.orderBy("win_start").collect().toSeq == batch.toSeq)
  }

  test("stream session windows match the lag-based batch sessionization count") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(evs: _*)
    val q = StreamingOps.sessionCounts(mem.toDF())
      .writeStream.outputMode("complete").format("memory").queryName("sess").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sess")
    // user 1: one session (gaps 15m, 45m? 10:20→11:05 is 45m > 30m → 2 sessions)
    // user 1: sessions {10:05,10:20}, {11:05}; user 2: {10:10}, {12:30,12:40}
    assert(streamed.count() == 4)
    assert(streamed.filter(col("user_id") === 2 && col("n_events") === 2).count() == 1)
  }

  test("stream session windows over the real feed equal the graded i3_session twin") {
    // The stream-vs-batch equivalence for the hardest streaming semantic:
    // session_window() driven through MicroBatchExecution over the REAL
    // sf0.001 events feed must produce exactly the sessions the graded
    // lag/gap-sum batch twin (i3_session) computes — same session count per
    // user, same start instants, same event counts. (The batch twin starts a
    // new session on gap >= 30 min — matching session_window's end-EXCLUSIVE
    // [start, last+gap) interval, where an exactly-30-min gap also splits;
    // a strict > in the batch twin would diverge on exact-gap data.)
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val feed = graft.sources.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[Ev].collect().toSeq
    val mem = MemoryStream[Ev]
    mem.addData(feed: _*)
    val q = StreamingOps.sessionCounts(mem.toDF())
      .writeStream.outputMode("complete").format("memory").queryName("sess_real").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sess_real")
      .select(col("user_id"), unix_micros(col("sess_start")).as("start_us"),
        col("n_events"))
      .orderBy("user_id", "start_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = SparkEntry.queries("i3_session")(spark, sf)
      .select(col("user_id"), col("start_us"), col("n_events"))
      .orderBy("user_id", "start_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("stream volume alarms equal the graded e13 monitor under reversed " +
    "arrival order") {
    // Day counting is a commutative sum, so this twin must agree with the
    // batch monitor under ANY arrival order — feed the real events REVERSED
    // and split across two micro-batches to force state carry-over.
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val feed = graft.sources.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[Ev].collect().toSeq.reverse
    val (b1, b2) = feed.splitAt(feed.length / 2)
    val mem = MemoryStream[Ev]
    val q = StreamingOps.volumeAlarms(mem.toDF())
      .writeStream.outputMode("update").format("memory").queryName("vol").start()
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()
    // Update mode appends per batch — keep each (type, day)'s FINAL
    // emission. Counts only accumulate, so the final row is the one with
    // the componentwise-max (n, base7); a groupBy+last would be
    // order-nondeterministic.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type", "day")
      .orderBy(col("n").desc, col("base7").desc)
    val streamed = spark.table("vol")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn")
    val batch = SparkEntry.queries("e13_volume_monitor")(spark, sf)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0)
  }

  test("stream sync changes equal the graded i11 report under reversed " +
    "arrival order") {
    // Every per-user fold in syncChanges is commutative (max on (us, eid),
    // count), so the twin must converge to the batch report under ANY
    // arrival order — feed the real delta slice REVERSED over two batches.
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val wm = "2024-01-15 00:00:00"
    val ev = graft.sources.Tables.events(spark, sf)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      .orderBy(col("us").desc, col("event_id").desc)
    val target = ev.filter(col("ts") <= lit(wm).cast("timestamp"))
      .select(col("user_id"), col("event_type").as("old_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("user_id", "old_type")
    val feed = ev.filter(col("ts") > lit(wm).cast("timestamp"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[Ev].collect().toSeq.reverse
    val (b1, b2) = feed.splitAt(feed.length / 2)
    val mem = MemoryStream[Ev]
    val q = StreamingOps.syncChanges(mem.toDF(), target)
      .writeStream.outputMode("update").format("memory").queryName("sync").start()
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()
    // final emission per user = the one with the max n_delta (counts only
    // grow across batches)
    val wFinal = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      .orderBy(col("n_delta").desc)
    val streamed = spark.table("sync")
      .withColumn("rn", row_number().over(wFinal)).filter(col("rn") === 1)
      .select("user_id", "new_type", "change", "n_delta")
    val batch = SparkEntry.queries("i11_sync_pipeline")(spark, sf)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0)
  }

  test("per-row simhash equals the batch signatures; stream dedup keeps " +
    "exactly one doc per fingerprint") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, sf).select("doc_id", "text")
    // 1) the HOF column form must be bit-identical to the relational batch
    // builder on the real corpus (same bigrams, hash, votes, tie rule)
    val hof = docs.withColumn("sh", StreamingOps.simhashCol(col("text")))
      .select("doc_id", "sh")
    val rel = graft.operators.Lsh.simhashBigramSigs(docs)
    assert(rel.count() == docs.count()) // no <2-token dropouts in fixtures
    assert(hof.join(rel, "doc_id")
      .filter(col("sh") =!= col("simhash")).count() == 0)
    // 2) streaming dedup on the fingerprint: one survivor per distinct sig
    val feed = docs.collect().map(r =>
      Doc(r.getLong(0), r.getString(1), t("2024-01-01 10:00:00"))).toSeq
    val mem = MemoryStream[Doc]
    mem.addData(feed: _*)
    val q = StreamingOps.dedupBySimhash(mem.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("simdedup").start()
    q.processAllAvailable(); q.stop()
    val kept = spark.table("simdedup")
    assert(kept.count() == hof.select("sh").distinct().count())
    assert(kept.select("simhash").distinct().count() == kept.count())
    // exact text duplicates exist in the fixture → dedup really drops rows
    assert(kept.count() < docs.count())
  }

  test("streaming admission gate equals the batch anti join; a file-source " +
    "static side pins its listing at query start") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val corpusDir = java.nio.file.Files.createTempDirectory("corpus").toString
    val docs = graft.sources.Tables.documents(spark, sf).select("doc_id", "text")
    docs.filter(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(corpusDir)
    val corpus = spark.read.parquet(corpusDir)
    val feed = docs.orderBy("doc_id").collect().map(r =>
      Doc(r.getLong(0), r.getString(1), t("2024-01-01 10:00:00"))).toSeq
    val (batch1, batch2) = feed.splitAt(feed.size / 2)
    val mem = MemoryStream[Doc]
    mem.addData(batch1: _*)
    val q = StreamingOps.admitAgainstCorpus(mem.toDF(), corpus)
      .writeStream.outputMode("append").format("memory")
      .queryName("admit").start()
    q.processAllAvailable()
    // append to the corpus directory mid-stream: a plain file-source static
    // side pinned its listing at query start, so batch 2 must STILL be
    // gated by the original corpus — the documented production caveat
    docs.filter(col("doc_id") % 3 === 0).write.mode("append").parquet(corpusDir)
    mem.addData(batch2: _*)
    q.processAllAvailable(); q.stop()
    val admitted = spark.table("admit").select("doc_id")
    val expected = StreamingOps.admitAgainstCorpus(
      docs, docs.filter(col("doc_id") % 2 === 0)).select("doc_id")
    assert(admitted.exceptAll(expected).count() == 0 &&
      expected.exceptAll(admitted).count() == 0)
  }

  test("streaming funnel over the real feed equals the graded batch ladder, " +
    "with state surviving micro-batch boundaries") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import StreamingOps.UserEvent
    val ev = graft.sources.Tables.events(spark, sf)
    // time-ordered feed (streams deliver in arrival order; the funnel's
    // cross-batch contract is per-user time order), split mid-stream so
    // per-user stage state must survive the boundary
    val feed = ev.select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .orderBy("us").as[UserEvent].collect().toSeq
    val (b1, b2) = feed.splitAt(feed.size / 2)
    val mem = MemoryStream[UserEvent]
    val q = StreamingOps.funnelStages(mem.toDS(), Seq("view", "click", "purchase"))
      .writeStream.outputMode("update").format("memory")
      .queryName("funnel").start()
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable(); q.stop()
    // stage is monotonic per user → the final answer is the max emission
    val got = spark.table("funnel").groupBy("user_id")
      .agg(max("stage").as("stage"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val batch = graft.operators.WindowedAnalytics
      .funnelOf(ev, Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getInt(4)).toMap
    assert(got == batch)
    // the feed must actually exercise deep stages
    assert(batch.values.max == 3)
  }

  test("stateful ops run on the RocksDB state store (larger-than-heap state path)") {
    // At 100 TB the streaming state (sessions, dedup keys, join buffers)
    // outgrows executor heap; RocksDB is the provider that spills it to
    // local disk. Prove the same sessionization is provider-agnostic.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    implicit val ctx = s2.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(evs: _*)
    val q = StreamingOps.sessionCounts(mem.toDF())
      .writeStream.outputMode("complete").format("memory")
      .queryName("sess_rocks").start()
    q.processAllAvailable(); q.stop()
    assert(q.lastProgress.stateOperators.head.customMetrics
      .containsKey("rocksdbFilesCopied"), "query did not run on RocksDB")
    assert(s2.table("sess_rocks").count() == 4)
  }

  test("custom TopKAggregator runs incrementally over a stream") {
    // the same partial/merge path that makes top-k map-side combinable in
    // batch makes it incrementally updatable in a stream: each micro-batch
    // merges into the bounded per-key state.
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val topk = new graft.functions.Aggregators.TopKAggregator(2).toColumn
    val q = mem.toDS()
      .map(e => (e.user_id, (e.value, e.event_id)))
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(topk.name("top"))
      .toDF("user_id", "top")
      .writeStream.outputMode("complete").format("memory")
      .queryName("topk_stream").start()
    // batch 1: user 1 gets values 5, 1; batch 2: value 9 displaces the 1
    mem.addData(Ev(10, t("2024-01-01 10:00:00"), 1, "click", 5.0, "{}"),
      Ev(11, t("2024-01-01 10:01:00"), 1, "view", 1.0, "{}"))
    q.processAllAvailable()
    mem.addData(Ev(12, t("2024-01-01 10:02:00"), 1, "click", 9.0, "{}"))
    q.processAllAvailable(); q.stop()
    val top = spark.table("topk_stream").filter(col("user_id") === 1)
      .selectExpr("explode(top)").collect()
      .map(r => (r.getStruct(0).getDouble(0), r.getStruct(0).getLong(1))).toSeq
    assert(top == Seq((9.0, 12L), (5.0, 10L)))
  }

  test("stream dedup emits one row per (user, type)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(evs: _*)
    val q = StreamingOps.dedupByKey(mem.toDF())
      .writeStream.outputMode("append").format("memory").queryName("dedup").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("dedup")
    assert(streamed.count() == evs.map(e => (e.user_id, e.event_type)).distinct.size)
  }

  test("watermark drops state for windows far behind the event-time frontier") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingOps.tumblingCounts(mem.toDF())
      .writeStream.outputMode("append").format("memory").queryName("wm").start()
    // batch 1 establishes event-time frontier at 12:40 → watermark 11:40
    mem.addData(evs: _*)
    q.processAllAvailable()
    // batch 2: a very late event at 09:01 — its window [09:00,10:00) closed
    // long before the watermark, so it must not resurrect state; and in
    // append mode the closed window [10:00, 11:00) is already emitted.
    mem.addData(Ev(99, t("2024-01-01 09:01:00"), 9, "click", 1.0, "{}"))
    q.processAllAvailable(); q.stop()
    val out = spark.table("wm")
    assert(out.filter(col("hour_start") === t("2024-01-01 09:00:00")).count() == 0)
  }

  test("flatMapGroupsWithState error-burst detector fires across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import StreamingOps.UserEvent
    val mem = MemoryStream[UserEvent]
    val out = StreamingOps.errorBursts(mem.toDS(), threshold = 3, windowUs = 60L * 1000000)
    val q = out.writeStream.outputMode("append").format("memory").queryName("bursts").start()
    // batch 1: two errors for user 7 within a minute — below threshold
    mem.addData(UserEvent(7, "error", 1000000), UserEvent(7, "error", 2000000),
      UserEvent(8, "click", 1500000))
    q.processAllAvailable()
    assert(spark.table("bursts").count() == 0)
    // batch 2: third error inside the window — alert must fire, proving the
    // partial state survived the micro-batch boundary
    mem.addData(UserEvent(7, "error", 30000000))
    q.processAllAvailable()
    val alerts = spark.table("bursts").collect()
    assert(alerts.length == 1)
    assert(alerts(0).getAs[Long]("user_id") == 7 && alerts(0).getAs[Int]("n_errors") == 3)
    // batch 3: a 4th error still inside the window of the alerted burst —
    // the three alerted timestamps were consumed, so one extra error must
    // NOT produce a second alert (alert output is batch-invariant)
    mem.addData(UserEvent(7, "error", 40000000))
    q.processAllAvailable()
    assert(spark.table("bursts").count() == 1)
    // batch 4+5: two more errors near the 4th — now three unconsumed errors
    // span < 60s across three different micro-batches → exactly one new alert
    mem.addData(UserEvent(7, "error", 50000000))
    q.processAllAvailable()
    mem.addData(UserEvent(7, "error", 60000000))
    q.processAllAvailable()
    assert(spark.table("bursts").count() == 2)
    // batch 6: an error far outside any window — no alert
    mem.addData(UserEvent(7, "error", 900000000))
    q.processAllAvailable(); q.stop()
    assert(spark.table("bursts").count() == 2)
  }

  test("error-burst alerts are invariant to micro-batch boundaries") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import StreamingOps.UserEvent
    val all = Seq(1000000L, 2000000L, 30000000L, 40000000L, 50000000L, 60000000L)
      .map(us => UserEvent(5, "error", us))
    // one event per micro-batch vs everything in one batch → same alerts
    def run(name: String, batches: Seq[Seq[UserEvent]]): Seq[(Long, Long)] = {
      val mem = MemoryStream[UserEvent]
      val out = StreamingOps.errorBursts(mem.toDS(), threshold = 3, windowUs = 60L * 1000000)
      val q = out.writeStream.outputMode("append").format("memory").queryName(name).start()
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
      spark.table(name).collect()
        .map(r => (r.getAs[Long]("first_us"), r.getAs[Long]("last_us"))).toSeq.sorted
    }
    val oneByOne = run("bi_single", all.map(Seq(_)))
    val allAtOnce = run("bi_all", Seq(all))
    assert(oneByOne == allAtOnce)
    assert(oneByOne.size == 2) // {1s,2s,30s} and {40s,50s,60s}
  }

  test("stream-stream interval join equals the batch twin") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rows = Seq(
      Ev(1, t("2024-01-01 10:00:00"), 1, "click", 1.0, "{}"),
      Ev(2, t("2024-01-01 10:20:00"), 1, "purchase", 1.0, "{}"), // joins click 1
      Ev(3, t("2024-01-01 11:30:00"), 1, "purchase", 1.0, "{}"), // no click in window
      Ev(4, t("2024-01-01 10:10:00"), 2, "click", 1.0, "{}"),
      Ev(5, t("2024-01-01 10:15:00"), 2, "click", 1.0, "{}"),
      Ev(6, t("2024-01-01 10:30:00"), 2, "purchase", 1.0, "{}")) // joins 4 and 5
    val mem = MemoryStream[Ev]
    mem.addData(rows: _*)
    val q = StreamingOps.clickToPurchaseJoin(mem.toDF())
      .writeStream.outputMode("append").format("memory").queryName("ssj").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ssj")
      .select("purchase_id", "click_id").orderBy("purchase_id", "click_id").collect()
    val batch = StreamingOps.clickToPurchaseJoin(rows.toDF())
      .select("purchase_id", "click_id").orderBy("purchase_id", "click_id").collect()
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 1L), (6L, 4L), (6L, 5L)))
  }

  test("left-outer stream-stream join: matches emit promptly, null rows " +
    "only after the watermark closes the interval") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val batch1 = Seq(
      Ev(1, t("2024-01-01 10:00:00"), 1, "click", 1.0, "{}"),    // will match
      Ev(2, t("2024-01-01 10:10:00"), 1, "purchase", 1.0, "{}"), // its match
      Ev(3, t("2024-01-01 10:00:00"), 2, "click", 1.0, "{}"))    // never matches
    // far-future events on BOTH sides: the global watermark is the MIN of
    // the per-stream watermarks, so a side that never sees data pins it at
    // epoch and the null row never emits — the production gotcha this test
    // encodes. One late click AND one late (unrelated-user) purchase push
    // both sides past click 3's interval end (10:30) + the 10-min delay.
    val batch2 = Seq(
      Ev(9, t("2024-01-01 13:00:00"), 3, "click", 1.0, "{}"),
      Ev(10, t("2024-01-01 13:00:00"), 4, "purchase", 1.0, "{}"))
    val mem = MemoryStream[Ev]
    val q = StreamingOps.clickToPurchaseLeftJoin(mem.toDF())
      .writeStream.outputMode("append").format("memory").queryName("lsj").start()
    mem.addData(batch1: _*); q.processAllAvailable()
    val afterB1 = spark.table("lsj").collect()
    // the inner match is out immediately; the no-purchase click is NOT —
    // a later purchase could still arrive inside its interval
    assert(afterB1.map(_.getLong(0)).toSet == Set(1L))
    assert(afterB1.forall(!_.isNullAt(3)))
    mem.addData(batch2: _*); q.processAllAvailable()
    // one more empty pull: outer-join null emission happens when a batch
    // RUNS with the advanced watermark, which the no-data microbatch does
    q.processAllAvailable(); q.stop()
    val rows = spark.table("lsj").collect()
    val click3 = rows.filter(_.getLong(0) == 3L)
    assert(click3.length == 1 && click3.head.isNullAt(3),
      rows.mkString(";")) // the null is definitive: watermark passed 10:40
    // and the matched row never re-emits or duplicates
    assert(rows.count(_.getLong(0) == 1L) == 1)
  }

  test("stream-static enrichment join equals the batch twin, stateless") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dim = Seq((1L, "gold"), (3L, "silver")).toDF("dim_user_id", "segment")
    val mem = MemoryStream[Ev]
    mem.addData(evs: _*)
    val q = StreamingOps.enrichWithDim(mem.toDF(), dim)
      .writeStream.outputMode("append").format("memory").queryName("enrich").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("enrich").orderBy("event_id").collect().toSeq
    val batch = StreamingOps.enrichWithDim(evs.toDF(), dim)
      .orderBy("event_id").collect().toSeq
    assert(streamed == batch)
    // user 2 has no dim row → left join keeps the event with a null segment
    assert(streamed.count(_.isNullAt(3)) == 3)
  }

  test("parquet upsert sink: on-disk table equals the batch i7_upsert result") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // the real sf0.001 change feed, streamed in two separate runs (second
    // run merges into the first run's published snapshot — the restart path)
    val feed = graft.sources.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[Ev].collect().toSeq
    val (first, second) = feed.splitAt(feed.size * 2 / 3)
    val target = java.nio.file.Files.createTempDirectory("upsert_tbl").toString
    Seq(first, second).foreach { chunk =>
      val mem = MemoryStream[Ev]
      mem.addData(chunk: _*)
      val ck = java.nio.file.Files.createTempDirectory("ck").toString
      // the kernel's column contract is caller-projected (extra columns
      // ride along into the table — that's how the op-carrying MERGE
      // works), so project to the upsert-table shape here
      StreamingOps.runUpsertSinkToParquet(spark,
        mem.toDS().select("user_id", "event_id", "event_type", "ts"),
        ck, target)
    }
    val got = VersionedTable.readCurrent(spark, target)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_type"), col("us").as("last_us"))
      .orderBy("user_id").collect().toSeq
    val want = SparkEntry.queries("i7_upsert")(spark, sf).collect().toSeq
    assert(got == want)
    // time travel: version 0 (the first run's snapshot, before the second
    // run merged) is still readable AS OF and is exactly the LWW state of
    // the first chunk alone — published versions are immutable snapshots
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      .orderBy(col("us").desc, col("event_id").desc)
    val firstLww = first.toDF()
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
    val v0 = VersionedTable.read(spark, target, 0L)
    assert(v0.exceptAll(firstLww).count() == 0 &&
      firstLww.exceptAll(v0).count() == 0)
    // retention: vacuum to the newest version only — v0's time travel ends
    // (directory gone), the pointer's current snapshot is untouched
    val pruned = VersionedTable.vacuum(spark, target, keep = 1)
    assert(pruned.contains(0L))
    assert(VersionedTable.readCurrent(spark, target)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_type"), col("us").as("last_us"))
      .orderBy("user_id").collect().toSeq == want)
    intercept[Exception] { VersionedTable.read(spark, target, 0L).collect() }
  }

  test("upsert change feed: insert for new keys, update for changed winners, " +
      "NO row for keys whose winner is unchanged (at-least-once redelivery)") {
    import spark.implicits._
    val target = java.nio.file.Files.createTempDirectory("cdc_tbl").toString
    val b0 = Seq(
      Ev(10, t("2024-01-01 10:00:00"), 1, "view", 1.0, "{}"),
      Ev(11, t("2024-01-01 11:00:00"), 2, "view", 1.0, "{}"))
    val b1 = Seq(
      // user 1: later event wins → update
      Ev(12, t("2024-01-02 09:00:00"), 1, "click", 1.0, "{}"),
      // user 2: the SAME event redelivered (at-least-once) → winner
      // unchanged → the feed must omit the key entirely
      Ev(11, t("2024-01-01 11:00:00"), 2, "view", 1.0, "{}"),
      // user 3: first appearance → insert
      Ev(13, t("2024-01-02 10:00:00"), 3, "view", 1.0, "{}"))
    Seq(b0, b1).foreach(ch =>
      UpsertTable.applyBatch(spark, ch.toDF(), target))
    val feed = UpsertTable.changeFeed(spark, target, 0L, 1L)
      .orderBy("user_id").collect()
    assert(feed.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "update"), (3L, "insert")), feed.mkString("; "))
    val upd = feed(0)
    assert(upd.getLong(2) == 10L && upd.getString(3) == "view" &&
      upd.getLong(5) == 12L && upd.getString(6) == "click")
    val ins = feed(1)
    assert(ins.isNullAt(2) && ins.isNullAt(3) && ins.isNullAt(4) &&
      ins.getLong(5) == 13L)
    // the kernel IS the streaming sink's per-micro-batch step: the same two
    // batches pushed through the real sink publish bit-identical versions
    implicit val ctx = spark.sqlContext
    val target2 = java.nio.file.Files.createTempDirectory("cdc_tbl2").toString
    Seq(b0, b1).foreach { chunk =>
      val mem = MemoryStream[Ev]
      mem.addData(chunk: _*)
      val ck = java.nio.file.Files.createTempDirectory("ck").toString
      StreamingOps.runUpsertSinkToParquet(spark, mem.toDS(), ck, target2)
    }
    (0L to 1L).foreach { v =>
      val a = VersionedTable.read(spark, target, v)
      val b = VersionedTable.read(spark, target2, v)
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"stream/batch kernel drift at v$v")
    }
  }

  test("merge tombstones: a stored delete beats an OLDER row redelivered " +
      "later; a newer live row resurrects; the feed reports both") {
    import spark.implicits._
    def withOp(rows: Seq[Ev]) = rows.toDF()
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("op",
        when(col("event_type") === "error", lit("d")).otherwise(lit("u")))
    val target = java.nio.file.Files.createTempDirectory("merge_tbl").toString
    val b0 = Seq(
      Ev(10, t("2024-01-01 10:00:00"), 1, "view", 1.0, "{}"),
      Ev(20, t("2024-01-01 10:00:00"), 2, "error", 1.0, "{}"))
    val b1 = Seq(
      Ev(11, t("2024-01-01 12:00:00"), 1, "error", 1.0, "{}"), // delete user 1
      Ev(21, t("2024-01-01 11:00:00"), 2, "view", 1.0, "{}"))  // resurrect user 2
    val b2 = Seq(
      // at-least-once: user 1's ORIGINAL live row redelivered AFTER its
      // tombstone — if the delete had removed the key instead of storing
      // the tombstone, this older row would silently resurrect the user
      Ev(10, t("2024-01-01 10:00:00"), 1, "view", 1.0, "{}"))
    Seq(b0, b1, b2).foreach(b =>
      UpsertTable.applyBatch(spark, withOp(b), target))
    val visible = UpsertTable.visible(spark, target)
      .select("user_id").collect().map(_.getLong(0)).toSet
    assert(visible == Set(2L), s"tombstone lost to a redelivered older row: $visible")
    // v0→v1 feed: user 1 visible→tombstoned = delete; user 2
    // tombstoned→visible = insert (the resurrect IS an insert: the
    // consumer's copy had no such key)
    val feed01 = UpsertTable.mergeChangeFeed(spark, target, 0L, 1L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed01 == Set((1L, "delete"), (2L, "insert")), feed01.toString)
    // v1→v2: the redelivery changed NO visible state — empty feed
    assert(UpsertTable.mergeChangeFeed(spark, target, 1L, 2L).isEmpty)
  }

  test("cdc ivm: summed change-feed deltas telescope to the final snapshot " +
      "group-by under ANY batch split or order") {
    // the per-batch feed rows DEPEND on batch boundaries; their signed sum
    // must not — that telescoping invariant is what the graded
    // cdc_ivm_stream rides. Build the same table under three batchings
    // (whole; thirds; thirds reversed) and sum each run's deltas.
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
    def ivmCounts(batches: Seq[org.apache.spark.sql.DataFrame]): Map[String, Long] = {
      val target = java.nio.file.Files.createTempDirectory("ivm_tbl").toString
      val deltas = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      batches.zipWithIndex.foreach { case (b, _) =>
        UpsertTable.applyBatch(spark, b, s"$target/t")
        val cur = VersionedTable.current(spark, s"$target/t").get
        val feed =
          if (cur == 0L) VersionedTable.read(spark, s"$target/t", 0L)
            .select(lit(null).cast("string").as("old_type"),
              col("event_type").as("new_type"))
          else UpsertTable.changeFeed(spark, s"$target/t", cur - 1, cur)
            .select(col("old_type"), col("new_type"))
        feed.collect().foreach { r =>
          if (!r.isNullAt(0)) deltas(r.getString(0)) -= 1
          deltas(r.getString(1)) += 1
        }
      }
      deltas.filter(_._2 != 0).toMap
    }
    val thirds = (0 to 2).map(i => ev.filter(col("user_id") % 3 === i))
    val whole = ivmCounts(Seq(ev))
    val split = ivmCounts(thirds)
    val reversed = ivmCounts(thirds.reverse)
    val truth = ev.withColumn("rn", org.apache.spark.sql.functions.row_number()
        .over(org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(whole == truth, s"whole-batch IVM drifted: $whole vs $truth")
    assert(split == truth && reversed == truth,
      s"batching broke the telescoping: split=$split reversed=$reversed truth=$truth")
  }

  test("staged feed commits atomically with the version: a kill between " +
      "snapshot write and pointer publish loses neither-or-both, and the " +
      "replay recovers the exact feed") {
    import org.apache.spark.sql.functions.{col, lit}
    val target = java.nio.file.Files.createTempDirectory("ivm_crash").toString + "/t"
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
    val (b1, b2) = (ev.filter(col("user_id") % 2 === 0),
      ev.filter(col("user_id") % 2 === 1))
    def stageFeed(prev: Option[Long], verDir: String): Unit = {
      val feed = prev match {
        case None => spark.read.parquet(verDir)
          .select(lit(null).cast("string").as("old_type"),
            col("event_type").as("new_type"))
        case Some(p) => UpsertTable.changeFeed(spark, target, p, p + 1)
          .select(col("old_type"), col("new_type"))
      }
      feed.write.mode("overwrite").parquet(s"$verDir/_feed")
    }
    UpsertTable.applyBatch(spark, b1, target, stageFeed)
    assert(VersionedTable.current(spark, target).contains(0L))
    // batch 2 CRASHES after the snapshot write AND the feed stage but
    // before the pointer publish — exactly the old publish-vs-feed window
    val boom = intercept[RuntimeException] {
      UpsertTable.applyBatch(spark, b2, target, { (prev, verDir) =>
        stageFeed(prev, verDir)
        throw new RuntimeException("kill -9 between stage and publish")
      })
    }
    assert(boom.getMessage.contains("kill -9"))
    // the crash is invisible to readers: pointer still v0, current snapshot
    // is batch 1's, and the PUBLISHED feed union excludes the orphan v1
    assert(VersionedTable.current(spark, target).contains(0L))
    assert(VersionedTable.readCurrent(spark, target)
      .select("user_id").distinct().collect()
      .forall(_.getLong(0) % 2 == 0))
    // the snapshot read of the orphaned v1 dir also never sees the staged
    // feed rows (the `_` prefix hides them from parquet directory reads)
    assert(VersionedTable.read(spark, target, 1L).columns.toSet ==
      VersionedTable.read(spark, target, 0L).columns.toSet)
    // REPLAY batch 2 (at-least-once): overwrites orphan snapshot+feed,
    // publishes v1; the feed union through the pointer now telescopes to
    // the full-table truth
    UpsertTable.applyBatch(spark, b2, target, stageFeed)
    assert(VersionedTable.current(spark, target).contains(1L))
    val cur = VersionedTable.current(spark, target).get
    val summed = spark.read
      .parquet((0L to cur).map(v => VersionedTable.dir(target, v) + "/_feed"): _*)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.array(
          org.apache.spark.sql.functions.struct(col("new_type").as("etype"), lit(1L).as("delta")),
          org.apache.spark.sql.functions.struct(col("old_type").as("etype"), lit(-1L).as("delta")))).as("x"))
      .select(col("x.etype").as("etype"), col("x.delta").as("delta"))
      .filter(col("etype").isNotNull)
      .groupBy("etype").sum("delta")
      .collect().map(r => r.getString(0) -> r.getLong(1)).filter(_._2 != 0).toMap
    val truth = ev.withColumn("rn", org.apache.spark.sql.functions.row_number()
        .over(org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(summed == truth, s"replayed feed drifted: $summed vs $truth")
  }

  test("versioned-table pointer I/O never touches java.nio.file — the " +
      "Hadoop FileSystem rule (Maintenance.scala) holds across src/main") {
    // table paths must go through path.getFileSystem(hadoopConf) so the
    // identical code runs on HDFS/object stores; java.nio is only allowed
    // in the driver-artifact writers (Verify/Bench JSON outputs, never a
    // table path)
    val allowed = Set("Verify.scala", "Bench.scala")
    val bad = new scala.collection.mutable.ArrayBuffer[String]
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles.foreach(walk)
      else if (f.getName.endsWith(".scala") && !allowed(f.getName)) {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        val txt = try src.mkString finally src.close()
        if (txt.contains("java.nio.file")) bad += f.getPath
      }
    walk(new java.io.File("src/main/scala"))
    assert(bad.isEmpty,
      s"java.nio.file on a potential table path (use Hadoop FS API): $bad")
  }

  test("stream weekly quantiles over the real feed equal the graded e9 twin") {
    // Monday-aligned tumbling windows must reproduce the batch
    // date_trunc('week') frame exactly — same week starts, same counts,
    // same exact percentiles.
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val feed = graft.sources.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[Ev].collect().toSeq
    val mem = MemoryStream[Ev]
    mem.addData(feed: _*)
    val q = StreamingOps.weeklyValueQuantiles(mem.toDF())
      .writeStream.outputMode("complete").format("memory")
      .queryName("wkq").start()
    q.processAllAvailable(); q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))
    val streamed = spark.table("wkq")
      .select("wk", "event_type", "n", "p50", "p95")
      .collect().map(key).sorted.toSeq
    val batch = SparkEntry.queries("e9_latency_trend")(spark, sf)
      .select("wk", "event_type", "n", "p50", "p95")
      .collect().map(key).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("retention delta log sums to the batch matrix under time-reversed arrival") {
    // adversarial arrival: feed the REAL sf0.001 events newest-first across
    // three micro-batches, so nearly every user's true cohort week arrives
    // LAST and the retract+rebase path runs constantly; the summed delta
    // log must still equal the batch matrix exactly.
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val feed = graft.sources.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[Ev].collect().toSeq
    val scrambled = feed.sortBy(e => (-e.ts.getTime, e.event_id))
    val (b1, rest) = scrambled.splitAt(scrambled.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    val mem = MemoryStream[Ev]
    val q = StreamingOps.retentionDeltas(mem.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("ret_delta").start()
    Seq(b1, b2, b3).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("ret_delta")
      .groupBy("cohort_us", "week_offset").agg(sum("delta").as("n"))
      .filter(col("n") =!= 0)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2))).toMap
    val batch = graft.operators.WindowedAnalytics.retentionOf(feed.toDF())
      .select(unix_micros(col("cohort_week")).as("cus"),
        col("week_offset"), col("active_users"))
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2))).toMap
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("late-arriving earlier cohort week retracts and rebases exactly") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def ev(id: Long, day: String) =
      Ev(id, t(day + " 09:00:00"), 7L, "view", 1.0, "{}")
    val mem = MemoryStream[Ev]
    val q = StreamingOps.retentionDeltas(mem.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("ret_rebase").start()
    // Jan-10 (week Jan-8) first: provisional cohort; then Jan-2 (week
    // Jan-1) forces the rebase; then Jan-16 (week Jan-15) extends it.
    mem.addData(ev(1, "2024-01-10")); q.processAllAvailable()
    mem.addData(ev(2, "2024-01-02")); q.processAllAvailable()
    mem.addData(ev(3, "2024-01-16")); q.processAllAvailable()
    q.stop()
    val deltas = spark.table("ret_rebase").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    // exactly one retraction: the provisional (Jan-8 cohort, offset 0) row
    assert(deltas.count(_._3 == -1) == 1)
    val net = deltas.groupBy(d => (d._1, d._2)).view
      .mapValues(_.map(_._3).sum).filter(_._2 != 0).toMap
    val jan1Us = t("2024-01-01 00:00:00").getTime * 1000L
    assert(net == Map((jan1Us, 0) -> 1, (jan1Us, 1) -> 1, (jan1Us, 2) -> 1))
  }

  test("checkpoint resume: state carries across restart, inputs processed once") {
    // The recovery contract a 24/7 pipeline stands on: kill the query,
    // restart it on the SAME checkpoint, and (a) the file source must not
    // re-read committed files, (b) the aggregation state must carry. The
    // proof is the count total: a lost checkpoint double-counts batch 1
    // (replay + whatever state survived), a lost state store undercounts
    // it; exactly n1+n2 means exactly-once end to end. The checkpoint
    // manager is an input: Spark's default (a bare writeStream) and
    // graft.sources.CheckpointFiles (both runs through Drain).
    import spark.implicits._
    val (first, second) = evs.splitAt(4)
    for (viaDrain <- Seq(false, true)) {
      val manager = if (viaDrain) "CheckpointFiles" else "Spark's default"
      val in = java.nio.file.Files.createTempDirectory("resume_in").toString
      val ck = java.nio.file.Files.createTempDirectory("resume_ck").toString
      first.toDF().write.mode("append").parquet(in)
      def run(): Unit = {
        val writer = StreamingOps.tumblingCounts(
            spark.readStream.schema(first.toDF().schema).parquet(in))
          .writeStream.outputMode("complete").format("memory")
          .queryName("resume").option("checkpointLocation", ck)
        if (viaDrain) Drain(spark)(writer)
        else { val q = writer.start(); q.processAllAvailable(); q.stop() }
      }
      run()
      val n1 = spark.table("resume").agg(sum("n")).head().getLong(0)
      assert(n1 == first.size, manager)
      second.toDF().write.mode("append").parquet(in)
      run()
      val total = spark.table("resume").agg(sum("n")).head().getLong(0)
      assert(total == evs.size, s"$manager: restart broke exactly-once: " +
        s"$total events counted for ${evs.size}")
    }
  }

  test("retention IVM: retraction state survives a checkpoint restart") {
    // The strongest recovery proof the repo can make: the SECOND run
    // (after a clean stop + restart on the same checkpoint) receives an
    // EARLIER cohort week and must RETRACT the two increments recorded
    // BEFORE the restart — which is only possible if the per-user
    // (cohort, offset-bitmask) state survived the state store round-trip.
    // The sink is a parquet spool via foreachBatch (a memory sink would
    // reset between runs and hide lost deltas).
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("ivm_in").toString
    val ck = java.nio.file.Files.createTempDirectory("ivm_ck").toString
    val spool = java.nio.file.Files.createTempDirectory("ivm_sp").toString + "/d"
    def ev(id: Long, day: String) = Ev(id, t(s"$day 12:00:00"), 1L, "view", 1.0, "{}")
    val sch = Seq(ev(1, "2024-01-10")).toDF().schema
    def start() = StreamingOps.retentionDeltas(
        spark.readStream.schema(sch).parquet(in))
      .toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.write.mode("append").parquet(spool)
      }
      .option("checkpointLocation", ck)
      .outputMode("append").start()
    // run 1: weeks Jan-8 and Jan-15 → provisional cohort Jan-8, offsets {0,1}
    Seq(ev(1, "2024-01-10"), ev(2, "2024-01-16")).toDF()
      .write.mode("append").parquet(in)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // run 2 (restart): week Jan-1 arrives — earlier cohort, forces rebase
    Seq(ev(3, "2024-01-02")).toDF().write.mode("append").parquet(in)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val deltas = spark.read.parquet(spool).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(deltas.count(_._3 == -1) == 2,
      s"expected exactly the two pre-restart increments retracted: " +
        deltas.sortBy(d => (d._1, d._2, d._3)).mkString(","))
    val net = deltas.groupBy(d => (d._1, d._2)).view
      .mapValues(_.map(_._3).sum).filter(_._2 != 0).toMap
    val jan1Us = t("2024-01-01 00:00:00").getTime * 1000L
    assert(net == Map((jan1Us, 0) -> 1, (jan1Us, 1) -> 1, (jan1Us, 2) -> 1),
      s"net delta log diverged from the batch matrix: $net")
  }

  test("near-dup admission is batching-independent: any partition of the " +
      "feed into micro-batches admits the same set") {
    // The property that makes dd_admit_near_stream gradeable: the verdict
    // is per-row against STATIC corpus state (stop list + band index), so
    // union(admit(batch_i)) must equal admit(whole feed) for any split.
    // Exercised at the worst split granularity — every doc its own batch
    // would be slow; thirds catch any cross-batch dependency just as well
    // (a batch-local aggregate leaking into the verdict would shift
    // signatures the moment the batch population changes).
    val docs = graft.sources.Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val stream = docs.filter(col("doc_id") % 5 === 0)
    val corpusBands = graft.operators.Lsh.minhashBandRows(
      graft.operators.LlmOps.shingleIndex(corpus).select("doc_id", "h"))
    val hot = graft.operators.LlmOps.hotShingles(corpus)
    val whole = StreamingOps.admitNearBatch(stream, hot, corpusBands)
    val parts = (0 until 3).map(i =>
      StreamingOps.admitNearBatch(
        stream.filter(col("doc_id") % 3 === i), hot, corpusBands))
      .reduce(_ union _)
    assert(whole.count() == parts.count())
    assert(whole.exceptAll(parts).count() == 0 &&
      parts.exceptAll(whole).count() == 0)
    // and the gate really rejects: the fixture plants near-dups across the
    // %5 split, so some stream docs must collide with the corpus index
    assert(whole.count() < stream.count())
  }

  test("streaming decontamination is batching-independent and agrees with " +
      "a sequential overlap model on flagged docs") {
    import graft.operators.{LlmOps, TrainingPipeline}
    val docs = graft.sources.Tables.documents(spark, sf)
    val testDocs = docs.filter(TrainingPipeline.pct("split:", col("doc_id")) >= 90)
    val train = docs.filter(TrainingPipeline.pct("split:", col("doc_id")) < 80)
    val hot = LlmOps.hotShingles(testDocs)
    val testIndex = LlmOps.shingleRows(testDocs)
      .select(col("doc_id").as("test_id"), col("h"))
      .join(broadcast(hot), Seq("h"), "left_anti")
    val whole = StreamingOps.decontaminateBatch(train, hot, testIndex)
    val parts = (0 until 3).map(i =>
      StreamingOps.decontaminateBatch(
        train.filter(col("doc_id") % 3 === i), hot, testIndex))
      .reduce(_ union _)
    assert(whole.count() == parts.count())
    assert(whole.exceptAll(parts).count() == 0 &&
      parts.exceptAll(whole).count() == 0)
    // spot-check one flagged doc against a sequential shingle-overlap model
    val flagged = whole.orderBy("train_id").limit(1).collect()
    assert(flagged.nonEmpty, "fixture should contain leakage at this threshold")
    val tid = flagged(0).getLong(0)
    def shingleSet(text: String): Set[String] =
      text.split(" ", -1).sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    val testTexts = testDocs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> shingleSet(r.getString(1)))
    val trainText = train.filter(col("doc_id") === tid)
      .select("text").head().getString(0)
    // the capped h-space maps 1:1 to shingle strings in the fixture (no
    // md5 collisions — the graded oracles already rely on that), so a
    // string-level overlap count must match n_shared when no hot shingles
    // intersect this doc; allow <= for the hot-capped case
    val overlap = testTexts.map(_._2).reduce(_ union _)
      .intersect(shingleSet(trainText)).size
    assert(flagged(0).getLong(1) <= overlap,
      s"n_shared ${flagged(0).getLong(1)} exceeds string-level overlap $overlap")
    assert(overlap >= 5, "flagged doc must genuinely share >= threshold shingles")
  }

  test("ANN serving is batching-independent and each answer stays in the " +
      "query's coarse cell") {
    import graft.operators.Lsh
    val cents = Lsh.ivfCentroids(spark, sf, nlist = 10)
    val corpus = Lsh.ivfAssignments(spark, sf, nlist = 10, nprobe = 1)
      .filter(col("rnk") === 1)
    val queries = graft.sources.Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 50 === 0)
    val whole = StreamingOps.annServeBatch(queries, cents, corpus)
    val parts = (0 until 3).map(i =>
      StreamingOps.annServeBatch(
        queries.filter(col("vec_id") % 3 === i), cents, corpus))
      .reduce(_ union _)
    assert(whole.count() == parts.count())
    assert(whole.exceptAll(parts).count() == 0 &&
      parts.exceptAll(whole).count() == 0)
    // structural pins: 5 answers per query, rank 1 is the query itself
    // (it is indexed in its own cell, cosine 1.0 beats every tie)
    val k = whole.groupBy("query_id").count().select("count").distinct().collect()
    assert(k.map(_.getLong(0)).toSet == Set(5L))
    assert(whole.filter(col("rank") === 1)
      .filter(col("query_id") =!= col("vec_id")).count() == 0)
  }

  test("stream-stream join state survives a checkpoint restart (i14's " +
      "recovery contract)") {
    // The operator whose recovery matters most at scale — two unbounded
    // feeds joined in bounded state. Kill the query after its first drain,
    // restart from the SAME checkpoint, and (a) a click buffered BEFORE
    // the restart must still match a purchase arriving AFTER it, (b) an
    // unmatched click buffered before the restart must still produce its
    // definitive null row once the post-restart watermark closes its
    // window. Both emissions are only possible if the join state store
    // round-trips the restart; the final proof is set-equality with the
    // UNINTERRUPTED graded drain over the same events.
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("ssj_in").toString
    val ck = java.nio.file.Files.createTempDirectory("ssj_ck").toString
    val spool = java.nio.file.Files.createTempDirectory("ssj_sp").toString + "/d"
    def row(id: Long, uid: Long, typ: String, tm: String) =
      Ev(id, t(tm), uid, typ, 1.0, "{}")
    // run 1: click 1 matches purchase 4 pre-restart; clicks 2 and 3 stay
    // buffered in join state when the query stops
    val run1 = Seq(
      row(1, 1, "click", "2024-01-01 11:00:00"),
      row(2, 2, "click", "2024-01-01 11:05:00"),
      row(3, 3, "click", "2024-01-01 11:02:00"),
      row(4, 1, "purchase", "2024-01-01 11:10:00"))
    // run 2: purchase 5 must find restored click 2; events 6/7 push the
    // min-of-sides watermark to 12:50 so click 3's window (ends 11:32)
    // closes and its null row becomes definitive, while click 6's own
    // window (ends 13:30) is still open and must stay withheld
    val run2 = Seq(
      row(5, 2, "purchase", "2024-01-01 11:20:00"),
      row(6, 9, "click", "2024-01-01 13:00:00"),
      row(7, 8, "purchase", "2024-01-01 13:05:00"))
    def drain(): Unit = {
      val q = StreamingOps.clickToPurchaseLeftJoin(
          spark.readStream.schema(run1.toDF().schema).parquet(in))
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(spool)
        }
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run1.toDF().write.mode("append").parquet(in)
    drain()
    run2.toDF().write.mode("append").parquet(in)
    drain()
    val got = spark.read.parquet(spool).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(got == Set((1L, 4L), (2L, 5L), (3L, -1L)),
      s"restart lost or invented join state: $got")
    // interrupted ≡ uninterrupted: the graded builder drains the same
    // events in one run; the emitted sets must agree exactly
    val uninterrupted = SparkEntry
      .queries("i14_stream_join")(spark, writeEventsFixture(run1 ++ run2))
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(got == uninterrupted,
      s"interrupted drain diverged from the uninterrupted one: " +
        s"$got vs $uninterrupted")
  }

  /** Write `rows` in the fixture layout (one FILE named events.parquet in
    * the dir) so the graded tableStream path reads it verbatim — the glob
    * filter matches data-file names, so a normal parquet DIRECTORY named
    * events.parquet would hide its part-files from the stream. */
  private def writeEventsFixture(rows: Seq[Ev]): String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("evfix")
    val stage = tmp.resolve("stage").toString
    rows.toDF().coalesce(1).write.parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(fail("no part file written"))
    java.nio.file.Files.move(part.toPath, tmp.resolve("events.parquet"))
    tmp.toString
  }

  test("i4 boundary: max ts exactly on an hour edge pins the INCLUSIVE " +
      "window-end frontier the oracle encodes") {
    // The graded oracle emits windows with end <= max(ts) − 1 h. Spark's
    // state-eviction boundary (<= vs <) is an implementation detail the
    // real fixture never lands on exactly; this fixture puts max(ts) ON an
    // hour edge so the final watermark (11:00:00) EQUALS the [10:00,11:00)
    // window's end — if either engine treated the frontier strictly, that
    // window would flip out of one side's row set and the sets diverge.
    val rows = Seq(
      Ev(1, t("2024-01-01 08:30:00"), 1, "view", 1.0, "{}"),
      Ev(2, t("2024-01-01 09:30:00"), 1, "view", 1.0, "{}"),
      Ev(3, t("2024-01-01 10:15:00"), 2, "view", 1.0, "{}"),
      Ev(4, t("2024-01-01 12:00:00"), 2, "view", 1.0, "{}")) // max ON the edge
    val dir = writeEventsFixture(rows)
    val got = SparkEntry.queries("i4_watermark_stream")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(
      ("2024-01-01 08:00:00", "view", 1L),
      ("2024-01-01 09:00:00", "view", 1L),
      ("2024-01-01 10:00:00", "view", 1L)), s"frontier boundary moved: $got")
  }

  test("i3b boundary: a session whose end lands exactly ON the final " +
      "watermark pins the INCLUSIVE session-emission frontier") {
    // Session state goes through a different store path than tumbling
    // windows, so i4's inclusive pin does not automatically transfer —
    // this fixture lands a session end EXACTLY on the final watermark.
    // user 1: single event 10:00 → session [10:00, 10:30); user 9's event
    // at 10:40 sets the final watermark to exactly 10:30 (its own session
    // ends 11:10 and must be withheld); user 2's session ends 10:29:59,
    // strictly inside. If emission were strict (< watermark), user 1's
    // row would vanish and the graded oracle's ≤ would be wrong.
    val rows = Seq(
      Ev(1, t("2024-01-01 10:00:00"), 1, "view", 1.0, "{}"),
      Ev(2, t("2024-01-01 09:59:59"), 2, "view", 1.0, "{}"),
      Ev(3, t("2024-01-01 10:40:00"), 9, "view", 1.0, "{}"))
    val dir = writeEventsFixture(rows)
    val got = SparkEntry.queries("i3b_session_stream")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(got == Set(
      (1L, t("2024-01-01 10:00:00").getTime * 1000L, 1L),
      (2L, t("2024-01-01 09:59:59").getTime * 1000L, 1L)),
      s"session frontier boundary moved: $got")
  }

  test("i14 boundary: a click whose join window ends exactly ON the final " +
      "min-of-sides watermark pins the STRICT null-row frontier") {
    // The graded oracle's unmatched-click predicate is STRICT
    // (click_ts + 30 min < watermark). Fixture: global watermark =
    // min(max click 12:10, max purchase 12:15) − 10 min = 12:00:00
    // exactly; click 1's window ends exactly there (11:30 + 30 min) and
    // must be WITHHELD, click 2's one second earlier and must be EMITTED
    // as a null row, click 3 matches purchase 4 inside the interval.
    val rows = Seq(
      Ev(1, t("2024-01-01 11:30:00"), 1, "click", 1.0, "{}"),
      Ev(2, t("2024-01-01 11:29:59"), 2, "click", 1.0, "{}"),
      Ev(3, t("2024-01-01 11:00:00"), 3, "click", 1.0, "{}"),
      Ev(4, t("2024-01-01 11:20:00"), 3, "purchase", 1.0, "{}"),
      Ev(5, t("2024-01-01 12:10:00"), 9, "click", 1.0, "{}"),
      Ev(6, t("2024-01-01 12:15:00"), 8, "purchase", 1.0, "{}"))
    val dir = writeEventsFixture(rows)
    val got = SparkEntry.queries("i14_stream_join")(spark, dir).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(got == Set((3L, 4L), (2L, -1L)),
      s"stream-stream boundary moved: $got")
  }

  test("tableStream drains a directory-per-table fixture identically to the " +
      "single-file layout") {
    // Insurance against a fixture regeneration that writes tables as
    // parquet DIRECTORIES: the stream source must monitor the directory
    // (glob *.parquet inside) instead of glob-filtering the parent — the
    // old single-layout glob would list zero part files and silently
    // drain nothing.
    import spark.implicits._
    val rows = Seq(
      Ev(1, t("2024-01-01 08:30:00"), 1, "view", 1.0, "{}"),
      Ev(2, t("2024-01-01 09:30:00"), 1, "view", 1.0, "{}"),
      Ev(3, t("2024-01-01 10:15:00"), 2, "view", 1.0, "{}"),
      Ev(4, t("2024-01-01 12:00:00"), 2, "view", 1.0, "{}"))
    val singleFile = writeEventsFixture(rows)
    val dirLayout = java.nio.file.Files.createTempDirectory("evdir").toString
    rows.toDF().repartition(3)
      .write.parquet(s"$dirLayout/events.parquet")
    def run(d: String) = SparkEntry.queries("i4_watermark_stream")(spark, d)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val a = run(singleFile)
    val b = run(dirLayout)
    assert(a.nonEmpty && a == b, s"layouts diverged: file=$a dir=$b")
  }

  test("i4_watermark_stream emits exactly the closed-window frontier") {
    val got = SparkEntry.queries("i4_watermark_stream")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // batch model: every hour window whose END <= max(ts) - 1h, no others
    val ev = graft.sources.Tables.events(spark, sf)
      .select(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("hs"),
        col("event_type"),
        expr("unix_micros(date_trunc('hour', ts)) div 1000000").as("hs_sec"),
        expr("unix_micros(ts) div 1000000").as("sec"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val frontierSec = ev.map(_._4).max - 3600
    val model = ev.groupBy(e => (e._1, e._2)).collect {
      case ((hs, et), g) if g.head._3 + 3600 <= frontierSec =>
        (hs, et) -> g.length.toLong
    }.toMap
    assert(got == model,
      s"frontier mismatch: extra=${got.keySet -- model.keySet} " +
        s"missing=${model.keySet -- got.keySet}")
    assert(model.nonEmpty, "fixture span too short to close any window")
  }

  test("DSIR scoring is batching-independent and equals the batch scorer") {
    import graft.operators.TrainingPipeline
    val docs = graft.sources.Tables.documents(spark, sf)
    val lr = TrainingPipeline.dsirModel(docs)
    val whole = StreamingOps.dsirScoreBatch(docs, lr)
    val parts = (0 until 3).map(i =>
      StreamingOps.dsirScoreBatch(docs.filter(col("doc_id") % 3 === i), lr))
      .reduce(_ union _)
    assert(whole.count() == parts.count())
    assert(whole.exceptAll(parts).count() == 0 &&
      parts.exceptAll(whole).count() == 0)
    // the per-batch scorer against the shipped model IS the batch scorer
    val batch = TrainingPipeline.dsirOf(docs)
    assert(whole.exceptAll(batch).count() == 0 &&
      batch.exceptAll(whole).count() == 0)
  }

  test("streaming CUSUM equals the batch detector set-for-set") {
    val streamed = SparkEntry.queries("e18b_cusum_stream")(spark, sf)
    val batch = SparkEntry.queries("e18_cusum")(spark, sf)
    assert(streamed.count() == batch.count() && streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0)
  }

  test("SG18 batch kernel: a redelivered batch publishes value-identical " +
      "labels and the final table equals the full rebuild") {
    import spark.implicits._
    // old ids ≢ 0 (mod 5), new ids ≡ 0 — the isNewDoc convention the
    // kernel's edge filter uses. Stored: {1,2} and {6,7} merged, 3 alone.
    val stored = Seq((1L, 1L), (2L, 1L), (3L, 3L), (6L, 6L), (7L, 6L))
      .toDF("id", "comp")
    // new-side pairs: 5 bridges 3 and 10; 10 bridges into {6,7};
    // 15 joins {1,2}; 20 stays a singleton
    val newPairs = Seq((3L, 5L), (5L, 10L), (6L, 10L), (1L, 15L))
      .toDF("src", "dst")
    val b1 = Seq(5L, 15L).toDF("doc_id")
    val b2 = Seq(10L, 20L).toDF("doc_id")
    def run(batches: Seq[org.apache.spark.sql.DataFrame], tag: String)
        : Map[Long, Long] = {
      val root = graft.sources.ScratchDirs
        .freshDirFor(spark, "/tmp/sg18synth", s"sg18_$tag")
      VersionedTable.publish(spark, s"$root/labels")(
        (_, v0) => stored.write.mode("overwrite").parquet(v0))
      batches.foreach(b =>
        StreamingOps.applyComponentsBatch(spark, root, newPairs, b,
          c => c % 5 === 0))
      val rows = VersionedTable.readCurrent(spark, s"$root/labels").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.length == rows.map(_._1).distinct.length,
        s"duplicate label rows after $tag")
      rows.toMap
    }
    // union-find over stored ∪ new edges: {1,2,15}→1, {3,5,10,6,7}→3, {20}
    val expected = Map(1L -> 1L, 2L -> 1L, 15L -> 1L, 3L -> 3L, 5L -> 3L,
      10L -> 3L, 6L -> 3L, 7L -> 3L, 20L -> 20L)
    assert(run(Seq(b1, b2), "clean") == expected)
    // at-least-once redelivery of b1 mid-sequence: the anti join feeds an
    // empty new-vertex set and the re-applied edges contract to no-ops
    assert(run(Seq(b1, b1, b2), "replay") == expected)
  }

  test("label-version vacuum after a drain: nonempty prune, published table " +
      "and rollback version stay readable") {
    import spark.implicits._
    val root = graft.sources.ScratchDirs
      .freshDirFor(spark, "/tmp/sg18vac", "sg18_vacuum")
    VersionedTable.publish(spark, s"$root/labels")((_, v0) =>
      Seq((1L, 1L), (2L, 1L)).toDF("id", "comp")
        .write.mode("overwrite").parquet(v0))
    val newPairs = Seq((1L, 5L), (2L, 10L)).toDF("src", "dst")
    Seq(Seq(5L), Seq(10L)).foreach(ids =>
      StreamingOps.applyComponentsBatch(spark, root, newPairs,
        ids.toDF("doc_id"), c => c % 5 === 0))
    // three versions landed (v0..v2); keep = 2 prunes exactly v0
    val pruned = VersionedTable.vacuum(spark, s"$root/labels", keep = 2)
    assert(pruned == Seq(0L))
    assert(VersionedTable.current(spark, s"$root/labels").contains(2L))
    // published version intact and correct; the rollback version readable
    val fin = VersionedTable.read(spark, s"$root/labels", 2L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fin == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 10L -> 1L))
    assert(VersionedTable.read(spark, s"$root/labels", 1L).count() == 3)
    // the pruned version is gone
    assertThrows[org.apache.spark.sql.AnalysisException] {
      VersionedTable.read(spark, s"$root/labels", 0L).collect()
    }
  }

  test("the components and IVF maintenance drains stream their spool with " +
      "the feed frame's schema, equal to the schema the spool reads back") {
    // all five spooled drains: each streams its feed through spooledStream
    import graft.streaming.StreamingGraded.{bpeEncodeFeed, compIncrFeed,
      ivfMaintainFeed, spooledStream, upsertFeed}
    for ((name, feed) <- Seq(
        "a13_vacuum_roundtrip" -> upsertFeed(spark, sf),
        "cdc_ivm_stream" -> upsertFeed(spark, sf),
        "dd_components_incr_stream" -> compIncrFeed(spark, sf),
        "ta_bpe_encode_stream" -> bpeEncodeFeed(spark, sf),
        "lsh_ivf_maintain_stream" -> ivfMaintainFeed(spark, sf))) {
      val tag = s"spec_spool_$name"
      val streamed = spooledStream(spark, sf, tag, feed, 1).schema
      val spool = graft.sources.ScratchDirs.dirFor(sf, tag)
      assert(streamed == spark.read.parquet(spool).schema, name)
    }
    // and no drain declares a spooled stream of its own
    val src = scala.io.Source.fromFile(
      "src/main/scala/graft/streaming/StreamingGraded.scala", "UTF-8")
    val text = try src.mkString finally src.close()
    assert("""\.readStream\b""".r.findAllIn(text).size == 1)
  }

  test("graded drains build their stream plans with the StreamingOps " +
      "kernels: no watermark or window call in StreamingGraded.scala") {
    // an inline watermark or window in a graded drain is a second copy of
    // a kernel the specs above prove against its batch twin
    val inline = """\b(withWatermark|window|session_window)\(""".r
    def lines(f: String) = {
      val src = scala.io.Source.fromFile(s"src/main/scala/graft/streaming/$f", "UTF-8")
      try src.getLines().toList finally src.close()
    }
    // the pattern must see the kernels' own calls, or it scans for nothing
    val own = inline.findAllMatchIn(lines("StreamingOps.scala").mkString("\n"))
      .map(_.group(1)).toSet
    assert(own == Set("withWatermark", "window", "session_window"), own)
    val hits = lines("StreamingGraded.scala").zipWithIndex.collect {
      case (l, i) if inline.findFirstIn(l).isDefined => s"${i + 1}: ${l.trim}"
    }
    assert(hits.isEmpty, s"inline stream plan in StreamingGraded: $hits")
  }

  test("SG20 batch kernel: IVF maintenance assigns against the fixed grid, " +
      "chains versions, and redelivery republishes value-identical") {
    import spark.implicits._
    // a 2-cell grid on 4-dim vectors; assignment is nearest-squared-
    // distance with the clabel tiebreak — the Lsh.assignVectors rule
    val cents = Seq(
      (0, Seq(0.0, 0.0, 0.0, 0.0)), (1, Seq(10.0, 10.0, 10.0, 10.0)))
      .toDF("clabel", "cent")
    val oldRows = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0), 0), // near cell 0
      (2L, Seq(9.0, 10.0, 10.0, 10.0), 1)) // near cell 1
      .toDF("vec_id", "cell_v", "cell")
      .select(col("vec_id"), col("cell").cast("int").as("cell"),
        lit(0).as("is_new"))
    val b1 = Seq((5L, Seq(0.5, 0.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val b2 = Seq((10L, Seq(10.0, 9.5, 10.0, 10.0)),
      (15L, Seq(5.0, 5.0, 5.0, 5.0))) // equidistant → clabel 0 tiebreak
      .toDF("vec_id", "embedding")
    def run(batches: Seq[org.apache.spark.sql.DataFrame], tag: String)
        : (Long, Map[Long, (Int, Int)]) = {
      val root = graft.sources.ScratchDirs
        .freshDirFor(spark, "/tmp/sg20synth", s"sg20_$tag")
      VersionedTable.publish(spark, s"$root/index")(
        (_, v0) => oldRows.write.mode("overwrite").parquet(v0))
      batches.foreach(b => StreamingOps.maintainIvfBatch(spark, root, cents, b))
      val fin = VersionedTable.current(spark, s"$root/index").get
      val rows = VersionedTable.read(spark, s"$root/index", fin).collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2))))
      assert(rows.length == rows.map(_._1).distinct.length,
        s"duplicate index rows after $tag")
      (fin, rows.toMap)
    }
    val expected = Map(
      1L -> ((0, 0)), 2L -> ((1, 0)), // stored corpus untouched
      5L -> ((0, 1)), 10L -> ((1, 1)), 15L -> ((0, 1))) // tiebreak → 0
    val (v2, clean) = run(Seq(b1, b2), "clean")
    assert(v2 == 2L && clean == expected)
    // redelivery of b1: identical assignment rows collapse in the dedup,
    // one more version is published but the table value is unchanged
    val (v3, replay) = run(Seq(b1, b1, b2), "replay")
    assert(v3 == 3L && replay == expected)
  }


  test("drains share generated code: a second run of one drain compiles " +
      "nothing") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def run() = SparkEntry.queries("i3b_session_stream")(spark, sf).collect()
    val first = run()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = run()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiles == 0, s"second run compiled $compiles classes")
    assert(first.nonEmpty && first.toSeq == second.toSeq)
  }

  test("a drain's cloned session drops artifact isolation, unless the " +
      "session added artifacts; the parent's conf is restored") {
    val key = "spark.sql.artifact.isolation.enabled"
    // the conf each micro-batch's (cloned) session actually ran with
    def cloneIsolation(s: org.apache.spark.sql.SparkSession, tag: String) = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val dir = java.nio.file.Files.createTempDirectory(s"iso_$tag").toString
      Drain.eachBatch(s, s"$dir/ckpt", Tables.tableStream(s, sf, "events")) {
        (batch, _) => seen.add(batch.sparkSession.conf.get(key)); ()
      }
      seen.toArray.toSet
    }
    assert(!SessionArtifacts.added(spark))
    assert(cloneIsolation(spark, "plain") == Set("false"))
    assert(spark.conf.get(key) == "true")
    // a session with an added jar keeps isolation for its drains
    val withJar = spark.newSession()
    val jar = java.nio.file.Files.createTempFile("graft_artifact", ".jar")
    new java.util.jar.JarOutputStream(
      java.nio.file.Files.newOutputStream(jar)).close()
    withJar.addArtifact(jar.toString)
    assert(SessionArtifacts.added(withJar))
    assert(cloneIsolation(withJar, "jar") == Set("true"))
  }

  test("a stateful drain pins width 1 into its offset log and restores " +
      "the session's width") {
    val sessionWidth = spark.conf.get("spark.sql.shuffle.partitions")
    val managerKey = "spark.sql.streaming.checkpointFileManagerClass"
    val sessionManager = spark.conf.getOption(managerKey)
    val ckpt = java.nio.file.Files.createTempDirectory("wpin").toString
    Drain(spark, ConfScope.State)(
      Tables.tableStream(spark, sf, "events").groupBy("event_type").count()
        .writeStream.format("memory").queryName("wpin_sink")
        .outputMode("complete").option("checkpointLocation", ckpt))
    val log = scala.io.Source.fromFile(s"$ckpt/offsets/0").mkString
    val pinned = "\"spark.sql.shuffle.partitions\":\"(\\d+)\"".r
      .findFirstMatchIn(log).map(_.group(1).toInt)
    assert(pinned.contains(1), s"offset log pinned $pinned")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == sessionWidth)
    assert(spark.conf.getOption(managerKey) == sessionManager)
  }

  test("a second tableStream on the same path starts no Spark job") {
    val dir = writeEventsFixture(evs)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def jobsOf(body: => Unit): Int = {
      org.apache.spark.GraftBusAccess.drain(spark.sparkContext)
      jobs.set(0)
      body
      org.apache.spark.GraftBusAccess.drain(spark.sparkContext)
      jobs.get()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val first = jobsOf(Tables.tableStream(spark, dir, "events"))
      val second = jobsOf(Tables.tableStream(spark, dir, "events"))
      assert(first >= 1, "the first call infers the schema with a job")
      assert(second == 0, s"second call started $second job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a memory-sink drain reads back as one partition: its read-backs " +
      "plan no shuffle and a count runs one job") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.expressions.Window
    object Plans extends AdaptiveSparkPlanHelper
    val drained = Drain.toMemory(spark, StreamingOps.tumblingCounts(
        Tables.tableStream(spark, writeEventsFixture(evs), "events")),
      "one_partition_sink", "complete", ConfScope.State)
    assert(drained.queryExecution.executedPlan.outputPartitioning ==
      SinglePartition)
    val perType = drained.groupBy("event_type").agg(sum("n").as("n"))
      .orderBy("event_type")
    val ranked = drained.withColumn("rk", row_number().over(
        Window.partitionBy("event_type").orderBy("hour_start")))
      .orderBy("event_type", "rk")
    for (df <- Seq(perType, ranked)) {
      val shuffles = Plans.collect(df.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty, df.queryExecution.executedPlan.toString)
    }
    assert(perType.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq ==
      Seq("click" -> 4L, "purchase" -> 1L, "view" -> 1L))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def jobsOf(body: => Long): (Long, Int) = {
      org.apache.spark.GraftBusAccess.drain(spark.sparkContext)
      jobs.set(0)
      val n = body
      org.apache.spark.GraftBusAccess.drain(spark.sparkContext)
      (n, jobs.get())
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(jobsOf(drained.count()) == (5L, 1))
      assert(jobsOf(ranked.count()) == (5L, 1))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
