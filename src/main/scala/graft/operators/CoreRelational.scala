package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{ConfScope, Q}
import graft.functions.ExactNum._
import graft.sources.Tables._

/** Core relational operators — SURVEY.md §2 groups A (scans/sources),
  * B (project/filter/derive), C (joins), D (aggregation), F (sort/limit),
  * G (set ops).
  *
  * Conventions (SURVEY.md §2): every query reads from the sfDir argument,
  * ends in a total-order orderBy, and routes double outputs through the
  * ExactNum scaled-integer kernels so Spark and the DuckDB oracle produce
  * bit-identical values.
  *
  * Scale notes (100-TB design point): all aggregations are partial+final
  * hash aggregates; dimension joins (part, nation, region, supplier) are
  * broadcast; fact-fact joins (lineitem⋈orders) shuffle on the join key and
  * stay sort-merge; no collect(); the only cross join is 25×5.
  */
object CoreRelational {

  private val discPrice = "l_extendedprice*(1.0-l_discount)"

  /** Side-effecting-at-build tag (consumed by `SparkEntry.eagerQueries`):
    * a12's graded WORK — the explode into small files + the compaction
    * rewrite — runs at plan construction, so Bench must rebuild it inside
    * the timed pass or the timing covers only the 4-file read-back.
    * gr_kcore/gr_lpa are the audit's first catch (occurrences 4 and 5 of
    * the mis-timing class): their per-round `localCheckpoint(eager=false)`
    * still calls `toRdd`, and under AQE that EXECUTES every intermediate
    * shuffle stage of the round at plan-build time — a pre-built plan then
    * times only the final stage over reusable shuffle files. */
  val eager: Set[String] =
    Set("a12_compaction_roundtrip", "a14_asof_read", "a15_change_feed",
      "a16_merge_delete", "a17_delete_feed", "a18_zorder_roundtrip",
      // per-round lazy localCheckpoints execute their broadcast-join
      // build sides at plan build (executeBroadcast launches the collect
      // job when the RDD DAG is wired) — rebuilt inside the timing, the
      // gr_kcore/gr_lpa convention
      "gr_kcore", "gr_lpa", "gr_sssp")

  /** Deterministic versioned-table fixture for the a14/a15 lake reads:
    * wipes `tag`'s scratch, then applies three upsert batches through the
    * shared [[graft.streaming.StreamingOps.applyUpsertBatch]] kernel,
    * publishing v0/v1/v2. Batches are defined by DATA predicates (fixed ts
    * cutoffs, plus a late-onboarding cohort `user_id % 7 == 0` whose rows
    * all arrive in the final batch — every fixture user has day-1 events,
    * so without a modeled cohort the change feed could never contain an
    * `insert`), never by file-listing order — version k's content is a
    * pure function of the table, which is what makes an INTERMEDIATE
    * version oracle-gradeable at all. The wipe keeps the build idempotent:
    * versions otherwise append forever across bench passes and "v1" would
    * drift. */
  private def versionedEventsTable(s: org.apache.spark.sql.SparkSession,
      d: String, tag: String, withOps: Boolean = false): String = {
    val base = graft.sources.ScratchDirs.dirFor(d, tag)
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    val raw = events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
    // op marker for the MERGE queries: an error event decommissions the
    // key (tombstone); everything else upserts it
    val ev = if (withOps)
      raw.withColumn("op",
        when(col("event_type") === "error", lit("d")).otherwise(lit("u")))
    else raw
    val t1 = lit("2024-01-10 00:00:00").cast("timestamp")
    val t2 = lit("2024-01-20 00:00:00").cast("timestamp")
    val late = col("user_id") % 7 === 0
    ConfScope(s, ConfScope.Merge) {
      Seq(!late && col("ts") < t1,
          !late && col("ts") >= t1 && col("ts") < t2,
          late || col("ts") >= t2)
        .foreach { pred =>
          graft.streaming.StreamingOps.applyUpsertBatch(
            s, ev.filter(pred), s"$base/table")
        }
    }
    s"$base/table"
  }

  /** Builders that write a scratch FIXTURE at plan build: the roundtrip
    * sources (a7 orc / a8 jsonl / a9 evolution / a10 binary corpus /
    * a11 partitioned layout) and c15's bucketed catalog tables. For these
    * the write is PREP and the graded artifact is the read-back — each
    * site documents that Bench deliberately times the read, which is the
    * operator under test (the scan of that format/layout). PlanShapeSpec's
    * job audit allowlists exactly this set; an UNDOCUMENTED build-time
    * writer fails that test instead of silently mis-timing. */
  val buildTimeFixtures: Set[String] = Set(
    "a7_orc_roundtrip", "a8_jsonl_roundtrip", "a9_schema_evolution",
    "a10_binary_ingest", "a11_partitioned_sink", "c15_bucket_join",
    // the stored image-byte corpus (LlmOps.imageCorpus session spool):
    // the graded work is the header PARSE of the read-back bytes
    "mm_image_dims", "mm_resize_plan", "mm_patch_grid")

  val queries: Map[String, Q] = Map(
    // ---------------------------------------------------------------- A
    // A1: plain parquet scan with pruned projection.
    "a1_scan" -> ((s, d) =>
      region(s, d).select("r_regionkey", "r_name").orderBy("r_regionkey")),

    // A2: JSON ingest — parse the Table-API-shaped `events.props` payload
    // into typed columns (the ServiceNow Table API returns JSON records;
    // `props` is the local analog).
    "a2_json_ingest" -> ((s, d) =>
      events(s, d)
        .select(
          col("event_id"),
          from_json(col("props"), StructType(Seq(StructField("k", LongType))))
            .getField("k").as("k_val"))
        .orderBy("event_id")),

    // A3: CSV parse surface — rows rendered to CSV text and parsed back with
    // an explicit schema (to_csv/from_csv), proving the delimited-text
    // connector path without a writable input dir.
    "a3_csv_roundtrip" -> ((s, d) => {
      val csvSchema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))
      nation(s, d)
        .select(to_csv(struct(col("n_nationkey"), col("n_name"), col("n_regionkey"))).as("line"))
        .select(from_csv(col("line"), csvSchema, Map.empty[String, String]).as("r"))
        .select(col("r.n_nationkey").as("n_nationkey"), col("r.n_name").as("n_name"),
          col("r.n_regionkey").as("n_regionkey"))
        .orderBy("n_nationkey")
    }),

    // A5: paginated extract — sysparm_offset/sysparm_limit page loop as
    // key-range pagination: pages 2 and 4 (rows 201-300 and 401-500 in
    // o_orderkey order). Phase 1 computes the page-boundary KEYS from a
    // top-(pageEnd) scan of the key column alone (TakeOrderedAndProject —
    // partial top-k per partition, cost bounded by the cursor depth, never
    // a table sort). Phase 2 filters the table to those key ranges and
    // numbers rows with a window PARTITIONED BY page (≤ pageSize rows per
    // partition, pages in parallel) — no global single-partition window
    // anywhere, which is what lets the same plan page a 100-TB extract.
    // The real Table API pages the same way once offsets get deep: the
    // last-seen key becomes the cursor (`o_orderkey > lastKey LIMIT page`).
    "a5_paginate" -> ((s, d) => {
      val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      // try_element_at, not element_at: under ANSI mode (Spark 4 default) an
      // out-of-bounds index THROWS, so a source with <500 rows would crash
      // the page query. A page whose START key is beyond the data does not
      // exist (null lo → between(null,…) is null → filtered); a page whose
      // END is beyond the data is SHORT — its hi bound falls back to the
      // last available key (try_element_at(ks, -1)), the Table API's
      // short-last-page shape (a null hi would silently EMPTY the page).
      val bounds = o.select("o_orderkey").orderBy("o_orderkey").limit(500)
        .agg(array_sort(collect_list(col("o_orderkey"))).as("ks"))
        .select(
          try_element_at(col("ks"), lit(201)).as("lo2"),
          coalesce(try_element_at(col("ks"), lit(300)), try_element_at(col("ks"), lit(-1))).as("hi2"),
          try_element_at(col("ks"), lit(401)).as("lo4"),
          coalesce(try_element_at(col("ks"), lit(500)), try_element_at(col("ks"), lit(-1))).as("hi4"))
      val w = Window.partitionBy("page").orderBy("o_orderkey")
      o.crossJoin(broadcast(bounds))
        .withColumn("page",
          when(col("o_orderkey").between(col("lo2"), col("hi2")), 2)
            .when(col("o_orderkey").between(col("lo4"), col("hi4")), 4))
        .filter(col("page").isNotNull)
        .withColumn("rn", (col("page") * 100 + row_number().over(w)).cast("int"))
        .select("o_orderkey", "o_custkey", "rn")
        .orderBy("rn")
    }),

    // A6: schema-explicit cast-all — Table-API values arrive as strings; the
    // typed model round-trips every column through string and back.
    "a6_cast_roundtrip" -> ((s, d) =>
      orders(s, d)
        .select(
          col("o_orderkey").cast("string").cast("long").as("o_key"),
          col("o_custkey").cast("string").cast("long").as("o_cust"),
          col("o_totalprice").cast("string").cast("double").as("o_price"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
          col("o_orderstatus").as("o_status"))
        .orderBy("o_key")),

    // A7: ORC source + sink — the second columnar format a lake engine
    // must speak (Spark's ORC reader has the same pushdown/pruning
    // machinery as parquet). The query IS the roundtrip: suppliers are
    // written through ORC to a deterministic scratch dir (overwrite —
    // rerun-safe) and read back; the oracle reads the original parquet,
    // so a hash match proves the format preserves every value and type
    // bit-for-bit. The write runs once at plan build; the graded scan is
    // the ORC read.
    "a7_orc_roundtrip" -> ((s, d) => {
      val out = graft.sources.ScratchDirs.dirFor(d, "orc")
      supplier(s, d).write.mode("overwrite").orc(out)
      s.read.orc(out).orderBy("s_suppkey")
    }),

    // A8: JSON-Lines sink + source roundtrip — the interchange text format
    // (every log shipper and API export speaks it). JSONL carries no
    // types, so the read-back supplies the source schema explicitly — the
    // production discipline for text formats (schema inference is a full
    // extra pass AND type-unstable: an all-integral batch of a double
    // column infers long). A hash match against the original parquet
    // proves write+read preserved every value including full double
    // precision (Spark serializes doubles round-trip-exact).
    "a8_jsonl_roundtrip" -> ((s, d) => {
      val out = graft.sources.ScratchDirs.dirFor(d, "jsonl")
      val src = customer(s, d)
      src.write.mode("overwrite").json(out)
      s.read.schema(src.schema).json(out).orderBy("c_custkey")
    }),

    // A9: schema evolution across sync generations — the CMDB reality that
    // a class gains/loses columns between extracts (a new CI attribute
    // lands mid-history), so a lake table accumulates parquet files with
    // DIFFERENT schemas. Two generations are written to scratch (gen 1
    // carries s_nationkey, gen 2 drops it and adds s_acctbal) and read
    // back in ONE scan with mergeSchema: Spark unions the file footers'
    // schemas and null-fills each file's missing columns — no rewrite of
    // old data, which is the only affordable evolution policy at 100 TB
    // (rewriting history per schema change is a full-corpus pass).
    // The oracle reproduces the same union-with-nulls relationally.
    "a9_schema_evolution" -> ((s, d) => {
      val base = graft.sources.ScratchDirs.dirFor(d, "evo")
      val sup = supplier(s, d)
      sup.select(lit(1).as("gen"), col("s_suppkey"), col("s_name"), col("s_nationkey"))
        .write.mode("overwrite").parquet(s"$base/gen1")
      sup.select(lit(2).as("gen"), col("s_suppkey"), col("s_name"), col("s_acctbal"))
        .write.mode("overwrite").parquet(s"$base/gen2")
      s.read.option("mergeSchema", "true").parquet(s"$base/gen1", s"$base/gen2")
        .select("gen", "s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .orderBy("gen", "s_suppkey")
    }),

    // A10: raw binary-file ingest — the standard Spark entry point for
    // media corpora (images/audio land as FILES, not parquet rows; the
    // binaryFile source turns a directory of them into (path, length,
    // content) rows, which is where every multimodal pipeline starts —
    // mm_decode_stub/mm_frame_sample consume exactly this shape). The
    // fixture corpus is built ONCE per sfDir: each document's text is
    // written as doc_<id>.bin through the Hadoop FS API inside
    // foreachPartition — the write is distributed (each task writes its
    // own partition's files; the identical code runs against HDFS/S3A)
    // and skipped when a completed build's marker exists. The row-count
    // suffix in the dir name self-invalidates the fixture if the source
    // table changes size. The graded scan parses the doc id back out of
    // the file path and fingerprints the bytes; the oracle computes the
    // same md5 over the document text (UTF-8 on both sides).
    "a10_binary_ingest" -> ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      val n = docs.count()
      // the row-count tag self-invalidates the fixture if the table grows
      val dir = graft.sources.ScratchDirs.dirFor(d, s"bin_n$n")
      val dirPath = new org.apache.hadoop.fs.Path(dir)
      val fs = dirPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val marker = new org.apache.hadoop.fs.Path(dirPath, "_BUILT")
      if (!fs.exists(marker)) {
        fs.mkdirs(dirPath)
        docs.repartition(8).foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
          val pfs = new org.apache.hadoop.fs.Path(dir)
            .getFileSystem(new org.apache.hadoop.conf.Configuration())
          it.foreach { r =>
            val out = pfs.create(
              new org.apache.hadoop.fs.Path(dir, s"doc_${r.getLong(0)}.bin"), true)
            out.write(r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            out.close()
          }
        }
        fs.create(marker, true).close()
      }
      s.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(dir)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1).cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("content_md5"))
        .orderBy("doc_id")
    }),

    // A11: directory-partitioned sink + pruned read — the lake layout that
    // makes time-sliced scans affordable at 100 TB: orders written
    // partitioned by order year (one year= subdirectory per value, the
    // Hive layout every lake engine shares), then read back filtered to a
    // single year. The filter resolves against the DIRECTORY listing, not
    // the data: the scan's PartitionFilters prune every other year's files
    // before a byte is read (pinned in PlanShapeSpec), which is the
    // difference between a one-partition scan and a full-corpus pass when
    // the sync holds a decade of history. Hash match vs the original
    // table under the same predicate proves the partitioned rewrite is
    // lossless — including the partition column itself, which parquet
    // stores only in the path and the reader re-materializes.
    "a11_partitioned_sink" -> ((s, d) => {
      val out = graft.sources.ScratchDirs.dirFor(d, "part")
      orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_year").parquet(out)
      s.read.parquet(out)
        .filter(col("o_year") === 1998)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_year").cast("int").as("o_year"))
        .orderBy("o_orderkey")
    }),

    // A12/L46: small-files compaction roundtrip — the maintenance pass a
    // streaming lake needs continuously (micro-batch sinks leave KB-sized
    // files; every scan then pays a task + footer read per file). The
    // query IS the roundtrip, the a7_orc_roundtrip pattern applied to
    // Maintenance.compactParquet: the source table is first EXPLODED into
    // many small files (the pathological input — one write at width 32),
    // compacted into ~4 even files via the distributed read→repartition→
    // write pass, and the graded scan reads the compacted copy back; a
    // hash match against the original table proves compaction is
    // value-and-type lossless, which is the entire contract of a
    // maintenance rewrite (the file-count assertions stay in
    // MaintenanceSpec — file counts are layout, not data). At 100 TB the
    // same pass runs per partition-directory, embarrassingly parallel
    // across them.
    "a12_compaction_roundtrip" -> ((s, d) => {
      // ScratchDirs carries the basename + full-path-hash discipline:
      // distinct data dirs sharing a basename must never share the scratch
      // (the lazy graded read would race the other run's eager overwrite)
      val base = graft.sources.ScratchDirs.dirFor(d, "compact")
      val src = customer(s, d)
      src.repartition(32).write.mode("overwrite").parquet(s"$base/small")
      graft.sources.Maintenance.compactParquet(
        s, s"$base/small", s"$base/compacted", targetBytes = 256L * 1024)
      s.read.parquet(s"$base/compacted").orderBy("c_custkey")
    }),

    // A14: TIME-TRAVEL (AS OF) read — the read half of the versioned-table
    // contract a13 grades the retention half of. The builder applies three
    // explicit, DETERMINISTIC upsert batches (events split by fixed ts
    // cutoffs, 2024-01-10 / 2024-01-20) through the SAME
    // `applyUpsertBatch` kernel the streaming sink runs per micro-batch —
    // batch split by data predicate, not by file-listing order, so version
    // k's content is a pure function of the table (the a13 drain grades
    // the stream path; grading an INTERMEDIATE version there would pin the
    // file-arrival accident). The graded read is AS OF v1, which must
    // equal global LWW over exactly the first two batches' rows — because
    // sequential LWW merges are associative, precisely what makes
    // time-travel semantics well-defined. At 100 TB this read is a plain
    // scan of one immutable snapshot directory: no log replay, no merge.
    "a14_asof_read" -> ((s, d) => {
      val t = versionedEventsTable(s, d, "a14_tt")
      graft.streaming.StreamingOps.upsertTableAt(s, t, 1L)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"), col("us").as("last_us"))
        .orderBy("user_id")
    }),

    // A15: CHANGE FEED (CDC) between two published versions — what an
    // incremental downstream consumer replays instead of re-scanning the
    // snapshot (a real table format's CDF on the same layout). Built on
    // its OWN versioned table (same deterministic three-batch build as
    // a14, separate scratch — each graded query is self-contained), the
    // feed is the v1→v2 key-level delta: `insert` rows (key absent at v1)
    // and `update` rows (winning row changed); deletes are impossible by
    // construction in an LWW-upsert-only table and the feed says so by
    // omission. One shuffle join of two key-unique snapshots — O(keys),
    // never O(events).
    "a15_change_feed" -> ((s, d) => {
      val t = versionedEventsTable(s, d, "a15_cdc")
      graft.streaming.StreamingOps.upsertChangeFeed(s, t, 1L, 2L)
        .orderBy("user_id")
    }),

    // A16: MERGE with tombstone DELETES — the op an upsert-only table
    // can't express (a retired CI must LEAVE the snapshot, not linger as
    // its last state). Same deterministic three-batch build, rows carrying
    // the "u"/"d" marker (an error event decommissions its key); the
    // kernel STORES the winning tombstone instead of removing the key —
    // removal would lose the delete's (us, event_id) high-watermark and a
    // later batch redelivering an OLDER live row would silently resurrect
    // it (spec-pinned) — and the graded read is the VISIBLE snapshot
    // (tombstones filtered at read). Oracle: global LWW whose winner is
    // not a tombstone — associativity again, now including deletes.
    "a16_merge_delete" -> ((s, d) => {
      val t = versionedEventsTable(s, d, "a16_del", withOps = true)
      graft.streaming.StreamingOps.visibleMergeTable(s, t)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"), col("us").as("last_us"))
        .orderBy("user_id")
    }),

    // A17: the FULL CDC — insert/update/DELETE between two versions of
    // the op-carrying MERGE table, as the diff of the two VISIBLE sets:
    // `delete` = visible at v1, tombstoned at v2; `insert` = newly
    // visible (including resurrect-after-tombstone); invisible both sides
    // emits nothing (a key deleted before v1 and still deleted is not a
    // change). The full-outer join is the i12_reconcile class — two
    // key-unique snapshots, neither broadcastable at scale.
    "a17_delete_feed" -> ((s, d) => {
      val t = versionedEventsTable(s, d, "a17_feed", withOps = true)
      graft.streaming.StreamingOps.mergeChangeFeed(s, t, 1L, 2L)
        .orderBy("user_id")
    }),

    // A18: Z-ORDER clustering rewrite — the multi-dimensional OPTIMIZE
    // pass that completes the maintenance family (compaction fixes file
    // COUNT, this fixes file CONTENT): rewrite lineitem range-partitioned
    // and sorted by the Morton interleave of (l_partkey, l_suppkey), so
    // file-level min-max stats can prune scans filtered on EITHER key —
    // a single-column sort prunes only its own column. The z key is a
    // codegen'd shift/and/or expression tree (graft.functions.ZOrder), the
    // rewrite is one range shuffle + local sort (the standard distributed
    // OPTIMIZE shape — embarrassingly parallel across partition dirs at
    // 100 TB), and the graded read proves the rewrite value-and-type
    // lossless (the a12 contract); the PRUNING property — a partkey band
    // touches a bounded file fraction where a z-blind layout touches all —
    // is pinned in the spec, since file census is layout, not data.
    "a18_zorder_roundtrip" -> ((s, d) => {
      val out = graft.sources.ScratchDirs.dirFor(d, "zorder")
      lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity")
        .withColumn("z",
          graft.functions.ZOrder.zValue(col("l_partkey"), col("l_suppkey")))
        .repartitionByRange(8, col("z"))
        .sortWithinPartitions("z")
        .drop("z")
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity")
    }),

    // ---------------------------------------------------------------- B
    "b1_project" -> ((s, d) =>
      lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        // (l_orderkey, l_linenumber) is NOT unique in the fixtures — order by
        // every output column so ties are identical rows (hash-stable).
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")),

    // B2: compound predicate — AND/OR/NOT, isin, between, like.
    "b2_filter_compound" -> ((s, d) =>
      lineitem(s, d)
        .filter(
          (col("l_quantity") > 45 && col("l_returnflag").isin("A", "R")) ||
          (col("l_discount").between(0.09, 0.10) && col("l_linestatus") === "F" &&
            !col("l_returnflag").like("N%")))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount",
          "l_returnflag", "l_linestatus")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_discount",
          "l_returnflag", "l_linestatus")),

    // B3: derived columns — net price (4 decimals) and charge (6 decimals).
    "b3_derived" -> ((s, d) =>
      lineitem(s, d)
        .withColumn("net", round4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .withColumn("charge",
          round6(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))))
        .select("l_orderkey", "l_linenumber", "net", "charge")
        .orderBy("l_orderkey", "l_linenumber", "net", "charge")),

    // B4: cast/coercion — string→timestamp parse with explicit format, out as
    // epoch seconds (bigint avoids cross-engine timestamp hashing issues).
    "b4_cast_timestamp" -> ((s, d) =>
      orders(s, d)
        .select(
          col("o_orderkey"),
          unix_timestamp(
            to_timestamp(date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"),
              "yyyy-MM-dd HH:mm:ss")).as("epoch_s"))
        .orderBy("o_orderkey")),

    // B5: conditional bucketing (CASE WHEN).
    "b5_conditional" -> ((s, d) =>
      orders(s, d)
        .withColumn("bucket",
          when(col("o_totalprice") < 10000, "small")
            .when(col("o_totalprice") < 100000, "mid")
            .otherwise("large"))
        .groupBy("o_orderstatus", "bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus", "bucket")),

    // B6: null handling — ISEMPTY/default-value semantics via nullif+coalesce.
    "b6_nulls" -> ((s, d) =>
      orders(s, d)
        .withColumn("status_n",
          when(col("o_orderstatus") === "O", lit(null).cast("string"))
            .otherwise(col("o_orderstatus")))
        .select(
          col("o_orderkey"),
          coalesce(col("status_n"), lit("OPEN")).as("status2"),
          col("status_n").isNull.cast("int").as("was_open"))
        .orderBy("o_orderkey")),

    // B7: nested reference fields — the ServiceNow reference-field shape
    // {"value": sys_id, "link": url} built as a StructType column, traversed
    // with nested-field access (dot-walking on the struct), then flattened
    // for the oracle hash.
    "b7_nested_ref" -> ((s, d) =>
      orders(s, d)
        .withColumn("cust_ref", struct(
          col("o_custkey").cast("string").as("value"),
          concat(lit("/api/now/table/customer/"), col("o_custkey")).as("link")))
        .select(
          col("o_orderkey"),
          col("cust_ref.value").as("ref_value"),
          col("cust_ref.link").as("ref_link"),
          length(col("cust_ref.link")).as("link_len"))
        .orderBy("o_orderkey")),

    // B8: the reference's own query language — a sysparm_query encoded
    // string compiled to Catalyst predicates by graft.api.EncodedQuery.
    // `^OR` groups bind before `^` (AND), exactly as the Table API evaluates
    // them; ORDERBY comes from the same string. The compiled filter is an
    // ordinary predicate tree, so parquet pushdown applies (PlanSurvey flags
    // b-group scans with PushedFilters as PUSH).
    "b8_encoded_query" -> ((s, d) =>
      graft.api.EncodedQuery.applyTo(
        orders(s, d).select("o_orderkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority"),
        "o_orderstatus=F^o_totalprice>150000^ORo_orderpriority=1-URGENT^ORDERBYo_orderkey")),

    // B9: the rest of the encoded-query grammar at the oracle gate — ^NQ
    // (independent OR'd alternative), BETWEEN (`lo@hi` value), and ISEMPTY.
    // Alternative 1: mid-price open orders; alternative 2: empty-priority
    // rows (none in the fixtures — the branch still compiles and ORs) or
    // very expensive orders.
    "b9_encoded_nq" -> ((s, d) =>
      graft.api.EncodedQuery.applyTo(
        orders(s, d).select("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderpriority"),
        "o_totalpriceBETWEEN100000@150000^o_orderstatus=O" +
          "^NQo_orderpriorityISEMPTY^ORo_totalprice>400000^ORDERBYo_orderkey")),

    // B10: the COMPLETE Table-API request emulation at the oracle gate —
    // sysparm_query + sysparm_fields (projection) + sysparm_offset/
    // sysparm_limit (pagination) in one call. ORDERBY on the unique key
    // makes the page deterministic (exactly the real API's requirement);
    // the trailing orderBy only re-asserts the sort after the limit so the
    // written page is order-stable. Offset/limit compile to Spark's
    // Offset/GlobalLimit operators — a page never materializes the table.
    "b10_table_api" -> ((s, d) =>
      graft.api.EncodedQuery.tableApi(
        orders(s, d),
        "o_orderstatus=O^o_totalprice>50000^ORDERBYo_orderkey",
        fields = Seq("o_orderkey", "o_custkey", "o_totalprice"),
        offset = 100, limit = 50)
        .orderBy("o_orderkey")),

    // B11: the Aggregate API (/api/now/stats) — the reference's second
    // query surface: encoded-query filter + group_by + count/sum/avg/
    // min/max, compiled to ONE grouped partial+final aggregate.
    "b11_stats_api" -> ((s, d) =>
      graft.api.EncodedQuery.statsApi(
        orders(s, d),
        q = "o_orderstatus=O",
        groupBy = Seq("o_orderpriority"),
        countRecords = true,
        sumFields = Seq("o_totalprice"), avgFields = Seq("o_totalprice"),
        minFields = Seq("o_totalprice"), maxFields = Seq("o_totalprice"))
        .orderBy("o_orderpriority")),

    // B11b: `sysparm_having` — the Aggregate API's post-aggregate condition
    // list (`aggregate^field^operator^value`, comma-separated), the last
    // clause of the reference's second query surface. Two clauses AND
    // together: a count floor on the record count and a max bar on an
    // aggregate that is NOT displayed (max_o_totalprice is computed for the
    // filter, then dropped — the API evaluates having on any aggregate,
    // shown or not). Bars are fixture-tuned to cut non-trivially at both
    // graded SFs (sf0.01: 1451 customer groups → 962 pass the count floor,
    // 1111 the max bar, 842 both). Compiles to Filter-above-Aggregate:
    // one partial+final grouped aggregate, one shuffle, same plan class
    // as D4's declarative HAVING.
    "b11b_stats_having" -> ((s, d) =>
      graft.api.EncodedQuery.statsApi(
        orders(s, d),
        q = "o_orderstatus=O",
        groupBy = Seq("o_custkey"),
        countRecords = true,
        sumFields = Seq("o_totalprice"), avgFields = Seq("o_totalprice"),
        having = "count^*^>=^3,max^o_totalprice^>^300000")
        .orderBy("o_custkey")),

    // B12: cross-table DOT-WALK in the encoded query — the ServiceNow
    // reference-field traversal (`location.name=X` joins cmdb_ci to
    // cmn_location server-side before filtering). Ref edges pack each
    // broadcast-joined dim as a nested struct named after the edge, after
    // which the compiler's struct resolution handles any ref.ref.field
    // path: here customer dot-walks nation.region two hops deep, filters
    // on the walked region name AND a local column in one predicate tree
    // (pushdown applies to the local half), and projects walked fields.
    "b12_dotwalk_query" -> ((s, d) => {
      import graft.api.EncodedQuery.Ref
      val refs = Seq(Ref("nation", "c_nationkey", nation(s, d), "n_nationkey",
        Seq(Ref("region", "n_regionkey", region(s, d), "r_regionkey"))))
      graft.api.EncodedQuery
        .tableApiWalked(customer(s, d), refs,
          "nation.region.r_name=EUROPE^c_acctbal>0^ORDERBYc_custkey")
        .select(col("c_custkey"), col("c_name"),
          col("nation.n_name").as("n_name"),
          col("nation.region.r_name").as("r_name"))
        .orderBy("c_custkey")
    }),

    // B13: `sysparm_display_value=true` — the Table API's third rendering
    // mode: reference fields come back as the referenced record's DISPLAY
    // value instead of the raw key. Rendering is response-only (the
    // encoded query and ORDERBY bind to raw values first; here the
    // acctbal filter and key sort run before the rewrite), so the graded
    // output has c_nationkey carrying the NATION NAME — exactly what a
    // plain left join to the display column produces, which is the
    // oracle. Costs one broadcast dim join per edge, nothing more.
    "b13_display_value" -> ((s, d) => {
      import graft.api.EncodedQuery.Ref
      graft.api.EncodedQuery.tableApiDisplay(
        customer(s, d),
        Seq(Ref("nation", "c_nationkey", nation(s, d), "n_nationkey",
          display = "n_name")),
        "c_acctbal>1000^ORDERBYc_custkey",
        fields = Seq("c_custkey", "c_name", "c_nationkey"))
        .orderBy("c_custkey")
    }),

    // B13b: `sysparm_display_value=all` — raw key AND display value side
    // by side (the REST `{"value", "display_value"}` pair flattened to a
    // column pair). The encoded query and ORDERBY still bind to RAW
    // values — here the filter is on the raw c_nationkey — so rendering
    // provably never leaks into query semantics; the oracle is the same
    // plain left join emitting both columns.
    "b13b_display_all" -> ((s, d) => {
      import graft.api.EncodedQuery.Ref
      graft.api.EncodedQuery.tableApiDisplayAll(
        customer(s, d),
        Seq(Ref("nation", "c_nationkey", nation(s, d), "n_nationkey",
          display = "n_name")),
        "c_nationkey>=10^c_acctbal>1000^ORDERBYc_custkey",
        fields = Seq("c_custkey", "c_name", "c_nationkey",
          "c_nationkey_display"))
        .orderBy("c_custkey")
    }),

    // B14: relative-date terms in the encoded query — the single most
    // common CMDB sync predicate ("updated in the last N days") plus the
    // ON whole-day forms, compiled against an EXPLICIT now (2024-01-15
    // 12:00 UTC here — deterministic, never wall-clock). Three term
    // shapes in one query: a fixed ON day, ONToday (midnight-inclusive,
    // next-midnight-exclusive — boundary pinned by EncodedQuerySpec),
    // and a RELATIVE window (strictly after 2 days ago AND at-or-before
    // 36 hours ago). Every term folds to plain timestamp-literal range
    // filters, so pushdown sees ordinary comparisons.
    "b14_relative_dates" -> ((s, d) => {
      val now = java.time.Instant.parse("2024-01-15T12:00:00Z")
      graft.api.EncodedQuery.applyTo(
        events(s, d),
        "tsON2024-01-10^ORtsONToday" +
          "^NQtsRELATIVEGT@day@ago@2^tsRELATIVELE@hour@ago@36" +
          "^ORDERBYevent_id",
        now = Some(now))
        .select(col("event_id"), unix_micros(col("ts")).as("us"),
          col("event_type"))
    }),

    // ---------------------------------------------------------------- C
    // C1: fact ⋈ small dim with explicit broadcast hint.
    "c1_join_broadcast" -> ((s, d) =>
      lineitem(s, d)
        .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(
          sum4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("p_brand")),

    // C2: multi-way star join — the dot-walk chain
    // lineitem→orders→customer→nation→region. Fact⋈fact shuffles on the
    // order key; the dimension chain broadcasts.
    "c2_star_join" -> ((s, d) =>
      lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          sum4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")),

    // C3: left outer — keep customers with no orders (null side counted 0).
    "c3_join_left" -> ((s, d) =>
      customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
          sum2(coalesce(col("o_totalprice"), lit(0.0))).as("total_spent"))
        .orderBy("c_custkey")),

    // C4: full outer — snapshot reconciliation (old extract vs new extract).
    "c4_join_full" -> ((s, d) => {
      val o = orders(s, d)
      val old = o.filter(year(col("o_orderdate")) < 1998)
        .select(col("o_orderkey").as("k_old"))
      val neu = o.filter(year(col("o_orderdate")) >= 1996)
        .select(col("o_orderkey").as("k_new"))
      old.join(neu, col("k_old") === col("k_new"), "full")
        .select(
          coalesce(col("k_old"), col("k_new")).as("okey"),
          when(col("k_old").isNull, "added")
            .when(col("k_new").isNull, "removed")
            .otherwise("both").as("delta"))
        .orderBy("okey")
    }),

    // C5: left semi (EXISTS) — customers having a pending order.
    "c5_join_semi" -> ((s, d) =>
      customer(s, d)
        .join(orders(s, d).filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // C6: left anti (NOT EXISTS) — customers with no pending order; the
    // sync-delta "in source, not in target" shape. (Anti against *all*
    // orders is empty at sf0.01+ — every customer has orders.)
    "c6_join_anti" -> ((s, d) =>
      customer(s, d)
        .join(orders(s, d).filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // C9: cross join — small-dim grid only (25×5); never fact-sized.
    "c9_cross" -> ((s, d) =>
      nation(s, d).select("n_name")
        .crossJoin(region(s, d).select("r_name"))
        .orderBy("n_name", "r_name")),

    // C10: self-join graph hop — cmdb_rel_ci-style traversal emulated on the
    // customer/nation edge set: same-nation customer pairs, counted per
    // nation (pair predicate a<b bounds the blow-up; the join itself is an
    // equi-join on the nation key so it hash-partitions at scale).
    "c10_self_join" -> ((s, d) => {
      val c1 = customer(s, d).select(col("c_custkey").as("a"), col("c_nationkey").as("nk"))
      val c2 = customer(s, d).select(col("c_custkey").as("b"), col("c_nationkey").as("nk2"))
      c1.join(c2, col("nk") === col("nk2") && col("a") < col("b"))
        .groupBy(col("nk").as("n_nationkey"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("n_nationkey")
    }),

    // GR: triangle cohesion over a kNN co-occurrence graph — the CMDB
    // relationship-graph audit (CIs that repeatedly change together form
    // communities; triangle density separates genuinely coupled clusters
    // from incidental links). The graph is built the way a 100 TB
    // similarity graph must be: NOT a global threshold (density explodes
    // or vanishes with scale) but each vertex's top-5 strongest partners —
    // degree ≤ 5 by construction, so |E| ≤ 5N and the triangle join's
    // wedge cost stays linear in N at any scale. Stages: per-order
    // distinct supplier sets (orderkey-partitioned self-join, Σ|order|²
    // bounded by order width), co-count agg, per-supplier top-5 window,
    // symmetrize + canonicalize, [[GraphOps.triangleCounts]].
    "gr_knn_triangles" -> ((s, d) =>
      GraphOps.triangleCounts(knnEdges(s, d))
        .select(col("id").as("s_suppkey"), col("n_triangles"))
        .orderBy("s_suppkey")),

    // GR2: fixed-point PageRank over the same kNN graph — "which suppliers
    // sit at the CENTER of the co-supply network", the influence measure
    // triangle counts (local cohesion) can't give. Three damped power-
    // iteration rounds, entirely in scaled-integer arithmetic: rank is in
    // 1e-6 units (start 1_000_000), a node's per-neighbor contribution is
    // `pr div deg` (truncating integer division — identical in Spark and
    // DuckDB for the all-positive operands here), and damping 0.85 is
    // `(85*sum) div 100`. Float PageRank could never hash-match across
    // engines (summation order); the integer fixed-point version is
    // bit-deterministic under ANY partitioning, which is also what makes
    // it restartable mid-iteration at scale. Each round is one equi-join
    // (rank ⋈ edges on the source vertex, both sides hash-partitioned on
    // the key) + one hash aggregate on the destination — the degree-≤5
    // construction bounds the join fan-out at 5 rows per vertex, so a
    // round is O(|V|) shuffled rows no matter the corpus size. The round
    // loop lives in [[GraphOps.pagerankRounds]], whose restart-from-a-
    // persisted-round contract GraphOpsSpec pins through parquet.
    "gr_pagerank" -> ((s, d) => {
      val e = knnEdges(s, d)
      // symmetrize: the canonical src<dst edge both ways, so every vertex
      // both emits and receives; deg = out-degree (≥1, ≤5 by construction)
      val ed = graft.CacheRegistry.materialize(
        e.select(col("src").as("u"), col("dst").as("v"))
          .union(e.select(col("dst").as("u"), col("src").as("v"))))
      val deg = ed.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
      GraphOps.pagerankRounds(ed, deg.withColumn("pr", lit(1000000L)), 3)
        .select(col("id").as("s_suppkey"), col("pr").as("pr_fixed"))
        .orderBy("s_suppkey")
    }),

    // GR8: multi-source bounded-hop WEIGHTED shortest paths over the same
    // kNN graph — "how far is each supplier from its nearest hub", the
    // distance-to-nearest-facility operator (dd_blast_radius is the
    // unweighted first-touch special case). Edge length is the integer
    // inverse of tie strength (`greatest(1, 1000 div w)` — strong
    // co-supply = short distance; floored at 1 so a mega-weight edge can't
    // go free), seeds are every 10th supplier, and 4 Bellman-Ford rounds
    // give the cheapest ≤4-hop path — bounded rounds, like the BFS,
    // because impact horizons are short by design; unbounded reach is the
    // components fixpoint's job. All-integer min-plus arithmetic is
    // bit-deterministic under any partitioning (hash-exact across engines,
    // restartable mid-iteration); each round is one |E|⋈|V| equi-join +
    // a partial-aggregable min — O(|E|) shuffled rows per round at any
    // corpus size, never frontier-squared.
    // ConfScope.Fixpoint: iterative builder over vertex-sized frames — and
    // the scope's AQE-off keeps each round's lazy localCheckpoint from
    // executing stages at plan build (the gr_kcore audit class)
    "gr_sssp" -> ((s, d) => ConfScope(s, ConfScope.Fixpoint) {
      val e = knnEdges(s, d)
      val ew = e.select(col("src").as("u"), col("dst").as("v"), col("w"))
        .union(e.select(col("dst").as("u"), col("src").as("v"), col("w")))
        .withColumn("cost", greatest(lit(1L), expr("1000 div w")))
        .drop("w")
      val seeds = supplier(s, d).filter(col("s_suppkey") % 10 === 1)
        .select(col("s_suppkey").as("id"))
      GraphOps.shortestPathRounds(seeds, ew, rounds = 4)
        .select(col("id").as("s_suppkey"), col("dist").as("dist_fixed"))
        .orderBy("s_suppkey")
    }),

    // GR3: bounded-round k-core peel (k=2, 3 rounds) — "which vertices
    // survive when the periphery is stripped": each round drops vertices
    // whose degree WITHIN the surviving subgraph falls below k, the
    // iterative-subgraph-refinement pattern (the bounded-k complement of
    // the exact k-core fixpoint, same bounded-round discipline as the
    // blast-radius BFS). A round is two semi joins (keep edges whose both
    // endpoints survive — vertex-set-sized right sides, hash-partitioned
    // at scale, never broadcast-mandatory) + one hash aggregate; survivor
    // frames are materialized per round so the unrolled tree never
    // re-executes earlier rounds. Output: survivors with their degree in
    // the final surviving subgraph — all integers, hash-exact.
    // in ConfScope.Fixpoint: the rounds EXECUTE here (the lazy
    // localCheckpoint's toRdd materializes each round's stages under AQE),
    // and survivor frames are |V|-sized — batch width 32 was pure stage
    // overhead (4.8 s → 1.5 s at sf0.1, see ConfScope.Fixpoint)
    "gr_kcore" -> ((s, d) => ConfScope(s, ConfScope.Fixpoint) {
      val e = knnEdges(s, d)
      val ed = graft.CacheRegistry.materialize(
        e.select(col("src").as("u"), col("dst").as("v"))
          .union(e.select(col("dst").as("u"), col("src").as("v"))))
      def degreesAmong(alive: DataFrame): DataFrame = {
        val kept = ed
          .join(alive.select(col("id").as("au")), col("u") === col("au"), "left_semi")
          .join(alive.select(col("id").as("av")), col("v") === col("av"), "left_semi")
        kept.groupBy(col("u").as("id")).agg(count(lit(1)).as("dg"))
      }
      var alive = ed.select(col("u").as("id")).distinct()
      for (_ <- 1 to 3)
        // lazy localCheckpoint, not persist: each round's survivor frame
        // is referenced twice by the next round's semi joins, and a
        // persist leaves the whole nested AQE lineage in the plan — every
        // level then pays the full stage-orchestration depth of all
        // levels below it (measured 3× cost per round). Truncating to an
        // RDD leaf per round keeps the plan flat, exactly the components-
        // fixpoint lineage discipline.
        alive = degreesAmong(alive).filter(col("dg") >= 2).select("id")
          .localCheckpoint(eager = false)
      degreesAmong(alive)
        .select(col("id").as("s_suppkey"), col("dg").as("core_deg"))
        .orderBy("s_suppkey")
    }),

    // GR6: label-propagation communities (Raghavan et al. 2007) over the
    // kNN co-supply graph — the DENSITY view the connectivity fixpoint
    // can't give: dd_components answers "what is reachable", LPA answers
    // "what clusters tightly" (a chain is one component but many weak
    // communities). Two SYNCHRONOUS rounds, made fully deterministic where
    // textbook LPA is run-order-dependent: every vertex adopts the
    // plurality label among its neighbors' PREVIOUS-round labels, ties
    // broken by the smallest label. Each round is one edge⋈labels
    // co-partitioned join + a (vertex, label) count aggregate + an argmax
    // window partitioned by vertex — all hash-partitioned on vertex id,
    // nothing global; rounds are lineage-truncated (the kcore lesson).
    // Bounded rounds are the point: community assignment stabilizes in
    // O(1) rounds on degree-capped graphs, and a bounded unroll is
    // oracle-mirrorable CTE by CTE.
    // in ConfScope.Fixpoint like gr_kcore: the two synchronous LPA
    // rounds execute at build over |V|-sized label frames
    "gr_lpa" -> ((s, d) => ConfScope(s, ConfScope.Fixpoint) {
      val e = knnEdges(s, d)
      val ed = graft.CacheRegistry.materialize(
        e.select(col("src").as("u"), col("dst").as("v"))
          .union(e.select(col("dst").as("u"), col("src").as("v"))))
      var labels = ed.select(col("u").as("id")).distinct()
        .withColumn("lbl", col("id"))
      val argmaxW = Window.partitionBy("u").orderBy(col("n").desc, col("lbl").asc)
      for (_ <- 1 to 2)
        labels = ed
          .join(labels.select(col("id").as("vid"), col("lbl")), col("v") === col("vid"))
          .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("n"))
          .withColumn("rn", row_number().over(argmaxW))
          .filter(col("rn") === 1)
          .select(col("u").as("id"), col("lbl"))
          .localCheckpoint(eager = false)
      labels
        .select(col("id").as("s_suppkey"), col("lbl").as("community"))
        .orderBy("s_suppkey")
    }),

    // GR4: degree distribution of the kNN graph — the one-line graph
    // dataset-card (is the co-supply network a hairball or a sparse
    // lattice?) and the audit that the degree-capped construction actually
    // held: out-degree is ≤5 by construction but SYMMETRIZED degree can
    // exceed it (a hub can sit in many vertices' top-5 lists), and this
    // histogram is where that skew becomes visible before it becomes a
    // hot reducer. Two hash aggregates over the shared materialized edge
    // frame; output is ≤ max-degree rows at any scale.
    "gr_degree_dist" -> ((s, d) => {
      val e = knnEdges(s, d)
      val ed = e.select(col("src").as("u")).union(e.select(col("dst").as("u")))
      ed.groupBy("u").agg(count(lit(1)).as("deg"))
        .groupBy("deg").agg(count(lit(1)).as("n_vertices"))
        .orderBy("deg")
    }),

    // GR7: neighbor-set similarity — the LINK-PREDICTION primitive over
    // the same co-supply kNN graph (common-neighbor count + neighbor
    // Jaccard; pairs scoring high without an edge are the "probably the
    // same / probably related" candidates every CMDB-ish entity graph
    // audit wants). Candidate pairs are TWO-PATHS (a–x–b through a shared
    // neighbor), so cost is Σ_x deg(x)² — and because SYMMETRIZED degree
    // is unbounded even under the top-5 out-degree construction cap (hubs
    // sit in many top-5 lists), neighborSimOf re-caps the symmetrized
    // adjacency at each vertex's 10 strongest partners before the wedge
    // join: Σ deg² ≤ 100·|V|, linear at any scale, never all-pairs, no
    // hot reducer key. Degrees join from a vertex-sized frame; common ≥ 2
    // bounds the reported set. All arithmetic is integer until the final
    // round4 of a small-rational division.
    "gr_node_sim" -> ((s, d) =>
      neighborSimOf(knnEdges(s, d)).orderBy("a", "b")),

    // GR10: local clustering coefficient — Watts–Strogatz per-vertex
    // transitivity, c(u) = 2·t(u)/(deg(u)·(deg(u)−1)): how much of each
    // vertex's neighborhood is itself connected (the community-tightness
    // signal next to GR7's pairwise similarity). Rides the SAME
    // materialized knn edge frame as the triangle/pagerank family — t(u)
    // from the shared triangleCounts build, deg(u) from the symmetrized
    // edge union (one hash aggregate); vertices with deg < 2 have no
    // possible wedge and report 0 by the standard convention. The only
    // division is one small rational per vertex, snapped round4 — all
    // counts are exact integers under any partitioning.
    "gr_clustering_coef" -> ((s, d) =>
      clusteringCoefOf(knnEdges(s, d)).orderBy("s_suppkey")),

    // GR9: bounded harmonic centrality — the "who is structurally central"
    // ranking (Boldi & Vigna) truncated at 2 hops over the same capped
    // co-supply adjacency; see boundedHarmonicOf for the radius/cap
    // rationale and the Σ deg² ≤ capM²·|V| bound.
    "gr_harmonic" -> ((s, d) =>
      boundedHarmonicOf(knnEdges(s, d)).orderBy("node")),

    // ---------------------------------------------------------------- D
    // D1: the flagship pricing summary (TPC-H Q1 shape) — filter, derive,
    // partial+final hash aggregate, exact monetary sums.
    "d1_pricing_summary" -> ((s, d) =>
      lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1999-06-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum2(col("l_quantity")).as("sum_qty"),
          sum2(col("l_extendedprice")).as("sum_base_price"),
          sum4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          avg2(col("l_quantity")).as("avg_qty"),
          avg2(col("l_extendedprice")).as("avg_price"),
          avg2(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // D2: exact distinct counts per group (the approx_count_distinct/HLL
    // variant is exercised in unit tests — approx can't hash-match an oracle).
    "d2_distinct_count" -> ((s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")),

    // D3: rollup with grouping_id; keys coalesced to 'ALL' so no NULL
    // ordering divergence between engines.
    "d3_rollup" -> ((s, d) =>
      lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum2(col("l_quantity")).as("sum_qty"),
          grouping_id().cast("long").as("gid"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("gid"))
        .orderBy("gid", "rf", "ls")),

    // D9: cube — all grouping-set combinations with grouping_id (completes
    // the rollup/cube/grouping-sets family started by D3).
    "d9_cube" -> ((s, d) =>
      lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(sum2(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"),
          grouping_id().cast("long").as("gid"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n"), col("gid"))
        .orderBy("gid", "rf", "ls")),

    // D4: HAVING — post-aggregation filter (sysparm_having analog).
    "d4_having" -> ((s, d) =>
      lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(sum2(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 150)
        .orderBy("l_orderkey")),

    // D8: distinct rows on a projection.
    "d8_distinct" -> ((s, d) =>
      lineitem(s, d)
        .select("l_returnflag", "l_linestatus")
        .dropDuplicates()
        .orderBy("l_returnflag", "l_linestatus")),

    // D10: explicit grouping sets — the general form of rollup/cube; the
    // (status, priority) detail plus a per-status subtotal and grand total,
    // each tagged by grouping_id. One shuffle (Expand feeds a single
    // partial+final hash aggregate), same as rollup.
    "d10_grouping_sets" -> ((s, d) =>
      orders(s, d)
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq.empty),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum2(col("o_totalprice")).as("sum_price"),
          grouping_id().cast("long").as("gid"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          col("n"), col("sum_price"), col("gid"))
        .orderBy("gid", "status", "prio")),

    // D2b: sketch aggregates — HLL++ cardinality and a bounded-error
    // quantile sketch. Both are mergeable partial aggregates (the property
    // that makes them the 100-TB cardinality/quantile path); estimates are
    // engine-specific, so this entry is rows-only (no DuckDB oracle) and its
    // numeric accuracy is asserted against exact values in CoreRelationalSpec.
    "d2b_sketches" -> ((s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("approx_orders"),
          percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("median_qty"))
        .orderBy("l_returnflag")),

    // ---------------------------------------------------------------- F
    // F1: multi-key sort with tie-break total order.
    "f1_sort" -> ((s, d) =>
      lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)),

    // F2: top-k — planned as TakeOrderedAndProject, no full sort at scale.
    "f2_topk" -> ((s, d) =>
      orders(s, d)
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)),

    // ---------------------------------------------------------------- G
    // G1: union of per-class extracts (the per-CI-class / per-page merge).
    "g1_union" -> ((s, d) =>
      customer(s, d).select(col("c_name").as("name"), lit("customer").as("src"))
        .union(supplier(s, d).select(col("s_name").as("name"), lit("supplier").as("src")))
        .orderBy("name", "src")),

    // G2: intersect — customers active in both 1995 and 1996.
    "g2_intersect" -> ((s, d) => {
      val o = orders(s, d)
      o.filter(year(col("o_orderdate")) === 1995).select(col("o_custkey"))
        .intersect(o.filter(year(col("o_orderdate")) === 1996).select(col("o_custkey")))
        .orderBy("o_custkey")
    }),

    // G3: except — customers active in 1995 but not 1996 (snapshot diff, the
    // delete-propagation shape).
    "g3_except" -> ((s, d) => {
      val o = orders(s, d)
      o.filter(year(col("o_orderdate")) === 1995).select(col("o_custkey"))
        .except(o.filter(year(col("o_orderdate")) === 1996).select(col("o_custkey")))
        .orderBy("o_custkey")
    }),

    // ---------------------------------------------------------------- K1
    // The ONE registered scalar UDF in the library — the extensibility
    // surface for an operation no built-in or higher-order function can
    // express: Unicode NFC normalization (java.text.Normalizer), needed
    // before any text hash/dedup when sources mix composed and decomposed
    // encodings of the same glyph ("é" vs "e"+U+0301 — equal to a reader,
    // different bytes, different md5). The input column prepends a
    // DECOMPOSED literal so the op is exercised on every row (norm_len =
    // raw_len − 1 proves a combining pair collapsed). Everything else in
    // the library stays UDF-free on principle: a UDF is an optimizer black
    // box (no codegen, no pushdown through it), so this one is kept off
    // every hot path and exists to grade the registration surface itself.
    "k1_normalize" -> ((s, d) => {
      s.udf.register("nfc_normalize_udf", (t: String) =>
        if (t == null) null
        else java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC))
      documents(s, d)
        .withColumn("raw",
          concat(lit("Cafe\u0301 "), substring(col("text"), 1, 40))) // decomposed e + COMBINING ACUTE
        .select(col("doc_id"),
          expr("nfc_normalize_udf(raw)").as("norm_text"),
          length(col("raw")).as("raw_len"),
          length(expr("nfc_normalize_udf(raw)")).as("norm_len"))
        .orderBy("doc_id")
    }),

    // C11: referential-integrity audit — orphan detection over every FK
    // edge of the schema in one report (the CMDB's dangling-reference
    // check: a CI pointing at a deleted CI is the classic sync defect).
    // Each edge is child-keys LEFT ANTI parent-keys → a 1-row aggregate;
    // the five 1-row frames cross-combine and union into the report.
    // Dim-sized parents broadcast; the lineitem→orders and orders→customer
    // edges stay shuffle anti joins (both sides data-sized) — the correct
    // 100-TB shape. Null FKs count as orphans in both engines (a null key
    // matches nothing in an anti join).
    "c11_ref_integrity" -> ((s, d) =>
      integrityEdge("customer.c_nationkey->nation", customer(s, d), "c_nationkey",
          nation(s, d), "n_nationkey")
        .union(integrityEdge("lineitem.l_orderkey->orders", lineitem(s, d), "l_orderkey",
          orders(s, d), "o_orderkey"))
        .union(integrityEdge("nation.n_regionkey->region", nation(s, d), "n_regionkey",
          region(s, d), "r_regionkey"))
        .union(integrityEdge("orders.o_custkey->customer", orders(s, d), "o_custkey",
          customer(s, d), "c_custkey"))
        .union(integrityEdge("supplier.s_nationkey->nation", supplier(s, d), "s_nationkey",
          nation(s, d), "n_nationkey"))
        .orderBy("edge")),

    // D11: column-profile report — the ANALYZE-style data-quality pass
    // (null count, exact NDV, min/max) per profiled column, one row each.
    // Built as a union of single-column aggregates: with parquet column
    // pruning each branch scans ONLY its own column, so total IO equals a
    // single pass reading all profiled columns, and every branch is a
    // plain codegen'd partial+final aggregate (no multi-distinct Expand
    // blow-up). min/max aggregate in the NATIVE type and cast to string
    // only in the final projection — lexicographic min of a stringified
    // number would be wrong.
    "d11_profile" -> ((s, d) => {
      val li = lineitem(s, d)
      def prof(c: String): DataFrame =
        li.agg(count(lit(1)).as("n_rows"),
            sum(col(c).isNull.cast("long")).as("n_null"),
            countDistinct(col(c)).as("ndv"),
            min(col(c)).cast("string").as("min_s"),
            max(col(c)).cast("string").as("max_s"))
          .select(lit(c).as("col_name"), col("n_rows"), col("n_null"),
            col("ndv"), col("min_s"), col("max_s"))
      prof("l_orderkey")
        .union(prof("l_quantity"))
        .union(prof("l_returnflag"))
        .union(prof("l_shipdate"))
        .orderBy("col_name")
    }),

    // D12: skew-salted two-phase aggregation — the hot-key survival plan
    // as a GRADED query rather than prose. A 100 TB groupBy on a skewed
    // key (one supplier carrying a third of all rows) dies on the single
    // reducer that owns the hot key; the salted form shards every key 16
    // ways on a hash of the row's own primary key (deterministic — never
    // rand(), which breaks retry/oracle stability), partially aggregates
    // per (key, shard) so no reducer ever sees more than ~1/16 of the hot
    // key, then merges the ≤16 shard rows per key in a second, trivially
    // small aggregate. Legal because every measure is a sum/count over
    // exact integer cents: associative + commutative, so shard-then-merge
    // IS the plain groupBy — which is exactly what the oracle runs.
    "d12_salted_agg" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_suppkey"),
          pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(16)).as("shard"))
        .agg(sum(cents(col("l_quantity"))).as("q"),
          sum(cents(col("l_extendedprice"))).as("p"),
          count(lit(1)).as("n"))
        .groupBy("l_suppkey")
        .agg((sum(col("q")) / 100.0).as("sum_qty"),
          (sum(col("p")) / 100.0).as("sum_price"),
          sum(col("n")).as("n_items"))
        .orderBy("l_suppkey")),

    // C12: skew-salted shuffle JOIN — d12's hot-key discipline applied to
    // the join itself, for the case where the dimension is too big to
    // broadcast (at 100 TB a "dimension" can be billions of rows) and one
    // fact key is hot enough to kill the reducer that owns it. The fact
    // side salts each row into one of 16 shards keyed by a hash of the
    // row's OWN primary key (deterministic — rand() would break retries
    // and the oracle); the dim side replicates every row 16× (explode of
    // a literal sequence — dim×16 rows, the standard trade: pay a bounded
    // dim blow-up to split the hot key's rows across 16 reducers). The
    // join then runs on (s_suppkey, salt), hinted shuffle_hash so the
    // demonstration actually shuffles at test SF instead of broadcasting
    // the 100-supplier side — at scale this is the shape AQE skew-join
    // builds implicitly, expressed explicitly. Revenue folds as exact
    // integer cents BEFORE the join (column pruning: the join carries one
    // long, not two doubles), so shard-then-merge is invisible to the
    // oracle's plain join+groupBy.
    "c12_salted_join" -> ((s, d) => {
      val shards = 16
      val dim = supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"))
        .withColumn("salt", explode(sequence(lit(0), lit(shards - 1))))
      val fact = lineitem(s, d)
        .select(col("l_suppkey").as("s_suppkey"),
          pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(shards)).as("salt"),
          cents(expr(discPrice)).as("rev_c"))
      fact.join(dim.hint("shuffle_hash"), Seq("s_suppkey", "salt"))
        .groupBy("s_nationkey")
        .agg((sum(col("rev_c")) / 100.0).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("s_nationkey")
    }),

    // C13: fuzzy identity reconciliation — the CMDB entity-resolution
    // query (two discovery sources name the same CI slightly differently;
    // a sync must match them BEFORE keying on sys_id is possible). The
    // scale discipline is the blocking key: edit distance can't be an
    // equi-join condition, so candidate pairs come from an equi-join on a
    // COMPOSED block key — region (broadcast dim resolve) × one of three
    // TRANSVERSAL digit groups of the 9-char name suffix (chars {0,3,6},
    // {1,4,7}, {2,5,8} of the suffix). Pigeonhole: ≤2 substitutions touch
    // ≤2 groups, so every substitution-radius-2 pair agrees on ≥1 group
    // and survives the banded equi-join — the simhash chunk-index
    // argument (Lsh.scala) applied to characters. Interleaved, not
    // contiguous, groups: zero-padded sequential IDs keep their variation
    // in the LOW digits, and a transversal group spreads those digits
    // across all three bands, so every band's value count grows with N
    // and Σ|block|² stays ~3·N²/v(N) with v(N) → 10³ — candidates refine
    // as the corpus grows instead of staying quadratic in a fixed 5-block
    // partition. The documented recall trade: shift-type pairs (one
    // insert + one delete re-aligning the digits) can land in no shared
    // band — at sf0.1 that is 1,408 of 28,198 region-wide pairs (5%);
    // substitution-type pairs, the realistic typo model for fixed-format
    // identifiers, are caught exactly. The oracle mirrors the composed
    // key verbatim. The a<b orientation counts each pair once; the
    // pair-level dropDuplicates collapses multi-band agreement BEFORE the
    // levenshtein evaluation so each candidate pays the quadratic-cost
    // distance once.
    "c13_fuzzy_match" -> ((s, d) => {
      val reg = nation(s, d).select(col("n_nationkey"), col("n_regionkey"))
      // 1-based suffix start: "Supplier#" is 9 chars, digits at 10..18.
      def bands(namec: Column) = array((0 until 3).map { j =>
        struct(lit(j).as("band"),
          concat(substring(namec, 10 + j, 1), substring(namec, 13 + j, 1),
            substring(namec, 16 + j, 1)).as("bval"))
      }: _*)
      def side(idc: String, namec: String, rk: String, b: String, v: String) =
        supplier(s, d).join(broadcast(reg),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey").as(idc), col("s_name").as(namec),
            col("n_regionkey").as(rk))
          .withColumn("bv", explode(bands(col(namec))))
          .select(col(idc), col(namec), col(rk),
            col("bv.band").as(b), col("bv.bval").as(v))
      side("id_a", "name_a", "rk", "band", "bval")
        .join(side("id_b", "name_b", "rk2", "band2", "bval2"),
          col("rk") === col("rk2") && col("band") === col("band2") &&
            col("bval") === col("bval2") && col("id_a") < col("id_b"))
        .dropDuplicates("id_a", "id_b")
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
        .filter(col("dist") <= 2)
        .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"),
          col("dist"))
        .orderBy("id_a", "id_b")
    }),

    // C15: co-located bucket join — the SHUFFLE-FREE fact⋈dim shape. Both
    // tables are written bucketed (8 buckets, same count) + sorted on the
    // customer key; Spark's bucketed scan then satisfies the sort-merge
    // join's distribution requirement straight off disk, so the join runs
    // with ZERO exchange below it (PlanShapeSpec pins exactly that: no
    // hashpartitioning on the customer key anywhere in the plan). At
    // 100 TB this is the difference between re-shuffling the fact table on
    // every sync-join run and paying the shuffle ONCE at ingest — the
    // lakehouse layout decision every recurring pipeline makes. The
    // `merge` hint keeps the plan honest at test SF (the dim would
    // broadcast and hide the co-location; at scale neither side
    // broadcasts). Buckets are written once per (session, sfDir) at plan
    // build, like a11's partitioned sink.
    "c15_bucket_join" -> ((s, d) => {
      val (ot, ct) = bucketedOrdersCustomer(s, d)
      s.table(ot).hint("merge")
        .join(s.table(ct).hint("merge"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum2(coalesce(col("o_totalprice"), lit(0.0))).as("total_price"))
        .orderBy("c_mktsegment")
    }),

    // D15: data-quality gate report — the per-rule assertion suite every
    // pipeline runs before publishing a sync (pk uniqueness, FK coverage,
    // domain/range and null-rate bounds), as ONE plan: all scan-level
    // rules fold into a single conditional-aggregate pass over the fact
    // table, the FK rule is one anti join (the c11 idiom — a null key
    // matches nothing and counts as an orphan), and the rule rows unpivot
    // from the combined single-row frame. At 100 TB: one pass + one
    // hash-partitioned anti join, however many scan rules are registered;
    // thresholds are multiplied-out integer comparisons (null-rate ≤ 5% is
    // v·20 ≤ n — no engine-divergent division).
    "d15_dq_report" -> ((s, d) => dqReportOf(orders(s, d), customer(s, d))),

    // D16: exact weighted median per group — the order statistic the mean
    // hides (a revenue-weighted "typical price" is robust to the long
    // tail the average rides): lower weighted median = the smallest price
    // whose cumulative weight reaches half the group's total. Exact and
    // engine-identical because everything is integer: prices snap to
    // BIGINT cents, quantities to centiweights, and the median condition
    // is the cross-multiplied cum·2 ≥ tot (no division). Scale shape: the
    // groupBy collapses lineitem to a (flag, cents) HISTOGRAM first —
    // bounded by the price range in cents (≤ ~10⁷ rows) at ANY corpus
    // size, the tp_token_budget tick-histogram argument — so the ordered
    // cumulative window runs over histogram rows, never facts; a wider
    // tick (whole currency units) is the knob if the range ever grows.
    "d16_weighted_median" -> ((s, d) => {
      // two-phase distributed median (the textbook shape): a full-grain
      // cents histogram has ~1 distinct key per row (594 k at sf0.1 —
      // partial aggregation reduces nothing, and the build alone measured
      // 1.35 s of the query's 1.9 s). Phase 1 aggregates 100-unit COARSE
      // buckets (≤ ~1 050 per group at any corpus size — map-side combine
      // collapses the scan) and locates the half-point bucket per group;
      // phase 2 re-scans ONLY that bucket's rows (a broadcast 3-row
      // boundary join + row-local filter) at cents grain. Both cumulative
      // windows run over bucket-bounded frames; the half-mark compares
      // stay cross-multiplied integers. Measured 1.9 → ~1.1 s warm at
      // sf0.1 (two pruned scans beat one 594 k-key shuffle; the residual
      // is the second scan — the honest price of not caching a fact-table
      // projection that would thrash executor memory at 100 TB).
      val rows = lineitem(s, d)
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"),
          round(col("l_quantity") * 100).cast("long").as("wq"))
      val coarse = rows.withColumn("b", expr("cents div 10000"))
        .groupBy("l_returnflag", "b").agg(sum(col("wq")).as("wsum"))
      val wc = Window.partitionBy("l_returnflag").orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = coarse.groupBy("l_returnflag").agg(sum(col("wsum")).as("tot"))
      val bstar = coarse
        .withColumn("cum", sum(col("wsum")).over(wc))
        .join(broadcast(tot), "l_returnflag")
        .filter(col("cum") * 2 >= col("tot"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("l_returnflag").orderBy("b")))
        .filter(col("rn") === 1)
        .select(col("l_returnflag"), col("b"),
          (col("cum") - col("wsum")).as("before"), col("tot"))
      val wf = Window.partitionBy("l_returnflag").orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rows.join(broadcast(bstar), "l_returnflag")
        .filter(expr("cents div 10000") === col("b"))
        .groupBy("l_returnflag", "cents", "before", "tot")
        .agg(sum(col("wq")).as("w2"))
        .withColumn("cum2", col("before") + sum(col("w2")).over(wf))
        .filter(col("cum2") * 2 >= col("tot"))
        .groupBy("l_returnflag", "tot").agg(min(col("cents")).as("med_cents"))
        .select(col("l_returnflag"), (col("med_cents") / 100.0).as("w_median_price"),
          col("tot").as("total_weight"))
        .orderBy("l_returnflag")
    }),

    // D14: exact money ledger — the fixed-point audit/billing path where
    // binary-float drift is not acceptable. GRADED IN EXACT INTEGER UNITS
    // end-to-end (BIGINT cents / 1e-4 / 1e-6 ticks — the proven e10/d12
    // kernel class): round 5 proved that a DecimalType graded output hashes
    // differently across DuckDB versions because the oracle's intermediate
    // DECIMAL widths are engine-inferred, while integer columns have ONE
    // cross-engine representation. The doubles snap to integer cents by
    // the same ExactNum kernel every other money query uses; discount and
    // tax application are pure integer multiplies (px·(100−dc) is exact in
    // 1e-4 units, ·(100+tx) exact in 1e-6); integer sums are associative →
    // identical under any partitioning, engine, or parallelism. Long
    // headroom: avg charge_e6 ≈ 3.6×10¹⁰, so ~2.5×10⁸ average rows per
    // group before the e6 sum overflows — fine through the graded SFs,
    // exhausted around sf~80 (the 'N' flag holds ~half of lineitem); the
    // DecimalType twin below (decimalLedgerOf, int128-backed sums) is the
    // form a larger deployment grades internally.
    "d14_decimal_money" -> ((s, d) => {
      val li = lineitem(s, d).select(
        col("l_returnflag"),
        cents(col("l_extendedprice")).as("pxc"),
        cents(col("l_discount")).as("dcc"),
        cents(col("l_tax")).as("txc"))
        .select(col("l_returnflag"), col("pxc"), col("txc"),
          (col("pxc") * (lit(100L) - col("dcc"))).as("dp4"))
      li.groupBy("l_returnflag")
        .agg(sum(col("pxc")).as("sum_price_cents"),
          sum(col("dp4")).as("sum_disc_price_e4"),
          sum(col("dp4") * (lit(100L) + col("txc"))).as("sum_charge_e6"))
        .orderBy("l_returnflag")
    }),

    // Graded-output type-contract canary (SURVEY.md §7.4 #10, the d14
    // lesson generalized): graded outputs may use ONLY the five classes
    // with proven cross-engine hashing — string, bigint, int,
    // double-via-ExactNum-kernel, timestamp. This 25-row query emits one
    // column of each class from the same base rows, so the local gate
    // exercises every allowed class on every run: if a driver-side engine
    // change ever shifts how one of them hashes (the way DECIMAL width
    // inference shifted d14), the canary goes red FIRST, isolating the
    // type class from any operator logic. A new type class may be added
    // to the contract only together with a canary column here.
    "tc_type_canary" -> ((s, d) =>
      nation(s, d).select(
        col("n_name").as("c_string"),
        col("n_nationkey").cast("long").as("c_bigint"),
        col("n_regionkey").cast("int").as("c_int"),
        round4(col("n_nationkey") / 7.0).as("c_double_kernel"),
        (lit("2024-01-01 00:00:00").cast("timestamp") +
          expr("make_interval(0, 0, 0, n_nationkey, 0, 0, 0)")).as("c_timestamp"))
        .orderBy("c_bigint"))
  )

  /** The DecimalType ledger twin of `d14_decimal_money` — same exact
    * arithmetic lifted into DECIMAL (cents × 0.01 literal scale shift, no
    * division; decimal × decimal widens precision/scale without loss,
    * charge peaks at scale 6, precision ≤ 32 < 38; decimal sums are
    * int128-backed associative integers → order-independent partial+final
    * hash aggregates). This is the production ledger surface when Long e6
    * headroom runs out; it is spec-proven against a driver-side BigDecimal
    * model (CoreRelationalSpec) rather than driver-graded, because graded
    * outputs are restricted to the cross-engine hash-stable type classes
    * (SURVEY.md §7.4 #10) and DECIMAL is not one of them. */
  private[graft] def decimalLedgerOf(li0: DataFrame): DataFrame = {
    val c01 = lit(new java.math.BigDecimal("0.01"))
    def dec2(c: Column) = cents(c).cast("decimal(18,0)") * c01
    val one = lit(new java.math.BigDecimal("1.00"))
    val li = li0.select(
      col("l_returnflag"),
      dec2(col("l_extendedprice")).as("px"),
      dec2(col("l_discount")).as("dc"),
      dec2(col("l_tax")).as("tx"))
      .select(col("l_returnflag"), col("px"), col("tx"),
        (col("px") * (one - col("dc"))).as("dp"))
    li.groupBy("l_returnflag")
      .agg(sum(col("px")).cast("decimal(38,2)").as("sum_price"),
        sum(col("dp")).cast("decimal(38,4)").as("sum_disc_price"),
        sum(col("dp") * (one + col("tx"))).cast("decimal(38,6)").as("sum_charge"))
      .orderBy("l_returnflag")
  }

  /** Data-quality gate core (see the `d15_dq_report` registry note) over
    * any orders/customer-shaped pair — parameterized so tests can inject
    * violations per rule. */
  private[graft] def dqReportOf(o: DataFrame, cust: DataFrame): DataFrame = {
    val base = o.agg(
      count(lit(1)).as("n"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_pk"),
      sum(when(col("o_totalprice") < 0, 1L).otherwise(0L)).as("v_neg"),
      sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("v_null"),
      sum(when(col("o_orderdate").isNull ||
          col("o_orderdate") < lit("1992-01-01").cast("timestamp") ||
          col("o_orderdate") >= lit("2000-01-01").cast("timestamp"), 1L)
        .otherwise(0L)).as("v_range"))
    val vfk = o.join(cust, col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("v_fk"))
    def rule(name: String, v: Column, pass: Column) =
      struct(lit(name).as("rule"), col("n"), v.as("v"), pass.cast("int").as("pass"))
    base.crossJoin(vfk)
      .select(explode(array(
        rule("fk_customer", col("v_fk"), col("v_fk") === 0),
        rule("orderdate_range", col("v_range"), col("v_range") === 0),
        rule("pk_unique", col("v_pk"), col("v_pk") === 0),
        rule("price_nonneg", col("v_neg"), col("v_neg") === 0),
        rule("price_null_rate_5pct", col("v_null"), col("v_null") * 20 <= col("n"))
      )).as("r"))
      .select(col("r.rule").as("rule"), col("r.n").as("n_checked"),
        col("r.v").as("n_violations"), col("r.pass").as("pass"))
      .orderBy("rule")
  }

  /** Bucketed copies of orders/customer for `c15_bucket_join`, written once
    * per (session, sfDir): 8 buckets each on the customer key, sorted
    * within buckets, registered as catalog tables (bucket metadata lives in
    * the catalog — a plain parquet path read would not know the layout).
    * The pre-write repartition on the bucket key gives one file per bucket
    * so the sorted-bucket metadata stays usable. Memoized like
    * [[knnEdgesMemo]]; /tmp paths keep the repo clean. */
  private val bucketMemo =
    scala.collection.concurrent.TrieMap[(org.apache.spark.sql.SparkSession, String), (String, String)]()
  graft.CacheRegistry.onRelease(() => bucketMemo.clear())

  private def bucketedOrdersCustomer(
      s: org.apache.spark.sql.SparkSession, d: String): (String, String) =
    bucketMemo.getOrElseUpdate((s, d), {
      // tag = basename + a hash of the FULL path: the memo keys on the
      // full (session, dir) pair, so two data dirs sharing a basename must
      // never share a catalog table name — the second's overwrite would
      // clobber the first's table while its memo entry still resolved to
      // it, silently serving the wrong dataset to c15_bucket_join
      val dirHash = java.security.MessageDigest.getInstance("MD5")
        .digest(new java.io.File(d).getAbsolutePath
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(4).map(b => f"$b%02x").mkString
      val tag = new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_") +
        "_" + dirHash
      val (ot, ct) = (s"graft_bkt_orders_$tag", s"graft_bkt_customer_$tag")
      val root = graft.sources.ScratchDirs.dirFor(d, "bucketed")
      orders(s, d).repartition(8, col("o_custkey"))
        .write.mode("overwrite").format("parquet")
        .option("path", s"$root/orders")
        .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable(ot)
      customer(s, d).repartition(8, col("c_custkey"))
        .write.mode("overwrite").format("parquet")
        .option("path", s"$root/customer")
        .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable(ct)
      (ot, ct)
    })

  /** The kNN co-supply edge set shared by `gr_knn_triangles` and
    * `gr_pagerank`: per-order distinct supplier sets (orderkey-partitioned
    * self-join, Σ|order|² bounded by order width) → co-count aggregate →
    * per-supplier top-5 window → symmetrize + canonicalize to src<dst.
    * Built once per (session, dir), materialized (the triangle join alone
    * references it three times), and shared across the graded consumers —
    * recomputing the most expensive graph build per consumer would double
    * its cost for no reason. Cleared with the cache registry (the memo
    * must not outlive the cached frames it points at). */
  private val knnEdgesMemo =
    scala.collection.concurrent.TrieMap[(org.apache.spark.sql.SparkSession, String), DataFrame]()
  graft.CacheRegistry.onRelease(() => knnEdgesMemo.clear())

  /** Common-neighbor count + neighbor Jaccard over a canonical (src < dst)
    * edge list — the core of `gr_node_sim`, parameterized for tests.
    *
    * The wedge join's cost is Σ_v deg(v)² on the SYMMETRIZED adjacency,
    * and symmetrized degree is unbounded even when the kNN construction
    * caps out-degree (a hub sits in many vertices' top-5 lists — the skew
    * gr_degree_dist exists to surface). So the similarity is defined over
    * the CAPPED symmetrized adjacency: each vertex keeps its `capM`
    * strongest partners (weight `w` desc, partner id asc — deterministic),
    * one row_number window partitioned by vertex, the same discipline as
    * knnEdges' own out-degree cap. That bounds the wedge key at capM rows
    * per shared neighbor → Σ deg² ≤ capM²·|V|, linear in the graph at any
    * scale, and degrees in the Jaccard denominator are the capped degrees
    * (self-consistent: the operator is "similarity of capped neighbor
    * sets"). An edge list without a `w` column caps by partner id alone
    * (w=1); below the cap the result is IDENTICAL to the uncapped
    * similarity (property-pinned in AnalyticsSpec). */
  private[graft] def neighborSimOf(e: DataFrame, capM: Int = 10): DataFrame = {
    val wcol = if (e.columns.contains("w")) col("w") else lit(1L)
    // three consumers (deg + both wedge-join sides) — materialize, or the
    // union re-evaluates per consumer
    val sym0 = e.select(col("src").as("u"), col("dst").as("v"), wcol.as("w"))
      .union(e.select(col("dst").as("u"), col("src").as("v"), wcol.as("w")))
    val capW = Window.partitionBy("u").orderBy(col("w").desc, col("v").asc)
    val sym = graft.CacheRegistry.materialize(
      sym0.withColumn("rn", row_number().over(capW))
        .filter(col("rn") <= capM).select("u", "v"))
    val deg = sym.groupBy("u").agg(count(lit(1)).as("deg"))
    val cn = sym.alias("l")
      .join(sym.alias("r"), col("l.v") === col("r.v") && col("l.u") < col("r.u"))
      .groupBy(col("l.u").as("a"), col("r.u").as("b"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= 2)
    cn.join(deg.select(col("u").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("u").as("b"), col("deg").as("db")), "b")
      .select(col("a"), col("b"), col("common"), col("da"), col("db"),
        round4(col("common") / (col("da") + col("db") - col("common"))).as("sim"))
  }

  /** Local clustering coefficient over a canonical (src<dst) edge frame —
    * the `gr_clustering_coef` core, separated so AnalyticsSpec can drive
    * it with hand graphs. deg < 2 reports 0 by the standard convention. */
  private[graft] def clusteringCoefOf(e: DataFrame): DataFrame = {
    val deg = e.select(col("src").as("u")).union(e.select(col("dst").as("u")))
      .groupBy("u").agg(count(lit(1)).as("deg"))
    val tri = GraphOps.triangleCounts(e)
      .select(col("id").as("u"), col("n_triangles"))
    deg.join(tri, Seq("u"), "left")
      .select(col("u").as("s_suppkey"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("deg") < 2, lit(0.0)).otherwise(
          round4(coalesce(col("n_triangles"), lit(0L)) * 2.0 /
            (col("deg") * (col("deg") - 1)))).as("coef"))
  }

  /** Bounded harmonic centrality over the capped symmetrized adjacency —
    * Σ 1/d(u,w) truncated at 2 hops (Boldi & Vigna's harmonic centrality,
    * radius-bounded the way any 100-TB graph job bounds it: exact BFS is
    * a fixpoint per source, but the 1- and 2-hop terms dominate the
    * ranking on short-diameter graphs and cost two equi joins). The
    * adjacency is re-capped at each vertex's `capM` strongest partners
    * before the hop join (the neighborSimOf discipline: Σ deg² ≤
    * capM²·|V|, linear at any scale); strictly-2-hop targets anti-join
    * the 1-hop set. harmonic = n1 + n2/2 lands on the exact .5 grid —
    * (2·n1 + n2)/2.0 is one integer-operand division, engine-identical. */
  private[graft] def boundedHarmonicOf(e: DataFrame, capM: Int = 10): DataFrame = {
    val wcol = if (e.columns.contains("w")) col("w") else lit(1L)
    val sym0 = e.select(col("src").as("u"), col("dst").as("v"), wcol.as("w"))
      .union(e.select(col("dst").as("u"), col("src").as("v"), wcol.as("w")))
    val capW = Window.partitionBy("u").orderBy(col("w").desc, col("v").asc)
    val sym = graft.CacheRegistry.materialize(
      sym0.withColumn("rn", row_number().over(capW))
        .filter(col("rn") <= capM).select("u", "v"))
    val two = sym.select(col("u"), col("v").as("x"))
      .join(sym.select(col("u").as("x"), col("v").as("t")), "x")
      .filter(col("t") =!= col("u"))
      .select("u", "t").distinct()
      .join(sym.select(col("u"), col("v").as("t")), Seq("u", "t"), "left_anti")
    val n1 = sym.groupBy("u").agg(count(lit(1)).as("n1"))
    val n2 = two.groupBy("u").agg(count(lit(1)).as("n2"))
    n1.join(n2, Seq("u"), "left")
      .select(col("u").as("node"), col("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"),
        ((col("n1") * 2 + coalesce(col("n2"), lit(0L))) / 2.0).as("harmonic"))
  }

  private[graft] def knnEdges(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    knnEdgesMemo.getOrElseUpdate((s, d), {
      val co = lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      val pairs = co.alias("x")
        .join(co.select(col("ok").as("ok2"), col("sk").as("sk2")).alias("y"),
          col("ok") === col("ok2") && col("sk") < col("sk2"))
        .groupBy(col("sk").as("sa"), col("sk2").as("sb"))
        .agg(count(lit(1)).as("cnt"))
      val dir = pairs.select(col("sa").as("s"), col("sb").as("p"), col("cnt"))
        .union(pairs.select(col("sb").as("s"), col("sa").as("p"), col("cnt")))
      val w = Window.partitionBy("s").orderBy(col("cnt").desc, col("p").asc)
      val knn = dir.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      // cnt is a function of the unordered pair (computed once on sa<sb and
      // unioned both ways), so carrying it through the canonicalize+distinct
      // keeps exactly one weighted row per edge — the `w` column is what
      // lets neighborSimOf cap the symmetrized adjacency by tie strength
      graft.CacheRegistry.materialize(
        knn.select(least(col("s"), col("p")).as("src"),
          greatest(col("s"), col("p")).as("dst"), col("cnt").as("w")).distinct())
    })

  /** One FK-edge audit row for `c11_ref_integrity`: child rows whose key
    * joins no parent (LEFT ANTI — a null key matches nothing and counts as
    * an orphan) reduced to a 1-row aggregate, cross-combined with the
    * child count. Separated so tests can inject dangling references. */
  private[graft] def integrityEdge(name: String, child: DataFrame, ck: String,
      parent: DataFrame, pk: String): DataFrame = {
    val total = child.agg(count(lit(1)).as("n_child"))
    val orphan = child.select(col(ck).as("k"))
      .join(parent.select(col(pk).as("k")), Seq("k"), "left_anti")
      .agg(count(lit(1)).as("n_orphan"))
    total.crossJoin(orphan).select(lit(name).as("edge"),
      col("n_child"), col("n_orphan"),
      (col("n_orphan") === 0).cast("int").as("ok"))
  }

  // ------------------------------------------------------------------------
  // DuckDB oracle SQL — mirrors each query name-for-name with the same
  // ExactNum kernels and the same total-order ORDER BY.
  val oracle: Map[String, String] = Map(
    "a1_scan" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",

    "a2_json_ingest" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
         FROM events ORDER BY event_id""",

    "a3_csv_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",

    "a5_paginate" ->
      """SELECT o_orderkey, o_custkey, rn FROM (
           SELECT o_orderkey, o_custkey,
                  CAST(row_number() OVER (ORDER BY o_orderkey) AS INT) AS rn
           FROM orders)
         WHERE ((rn - 1) // 100) IN (2, 4) ORDER BY rn""",

    "a6_cast_roundtrip" ->
      """SELECT CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS o_key,
                CAST(CAST(o_custkey AS VARCHAR) AS BIGINT) AS o_cust,
                CAST(CAST(o_totalprice AS VARCHAR) AS DOUBLE) AS o_price,
                strftime(o_orderdate, '%Y-%m-%d') AS o_date,
                o_orderstatus AS o_status
         FROM orders ORDER BY o_key""",

    // the ORIGINAL parquet — a hash match proves the ORC write+read
    // preserved every value and type
    "a7_orc_roundtrip" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
         FROM supplier ORDER BY s_suppkey""",

    // the ORIGINAL parquet again — the JSONL hop must be lossless
    "a8_jsonl_roundtrip" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
         FROM customer ORDER BY c_custkey""",

    // the ORIGINAL parquet once more — the explode-to-small-files +
    // compact rewrite must be value-and-type lossless
    "a12_compaction_roundtrip" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
         FROM customer ORDER BY c_custkey""",

    // AS OF v1 ≡ global LWW over exactly the first two deterministic
    // batches (non-late-cohort rows with ts < 2024-01-20) — sequential
    // LWW merges are associative
    "a14_asof_read" ->
      """SELECT user_id, event_id AS last_event_id,
                event_type AS last_type, epoch_us(ts) AS last_us
         FROM events
         WHERE user_id % 7 <> 0 AND ts < TIMESTAMP '2024-01-20 00:00:00'
         QUALIFY row_number() OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
         ORDER BY user_id""",

    // v1→v2 key-level delta: LWW before (first two batches) full-keyed
    // against LWW after (all three) — insert when the key is new (the
    // late-onboarding user_id%7 cohort), update when the winning row
    // changed; deletes impossible in LWW-upsert
    "a15_change_feed" ->
      """WITH before AS (
           SELECT user_id, event_id, event_type, epoch_us(ts) AS us
           FROM events
           WHERE user_id % 7 <> 0 AND ts < TIMESTAMP '2024-01-20 00:00:00'
           QUALIFY row_number() OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts) DESC, event_id DESC) = 1),
         after AS (
           SELECT user_id, event_id, event_type, epoch_us(ts) AS us
           FROM events
           QUALIFY row_number() OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts) DESC, event_id DESC) = 1),
         feed AS (
           SELECT a.user_id,
                  CASE WHEN b.user_id IS NULL THEN 'insert'
                       WHEN b.event_id <> a.event_id OR b.us <> a.us
                            OR b.event_type <> a.event_type THEN 'update'
                  END AS change_type,
                  b.event_id AS old_event_id, b.event_type AS old_type,
                  b.us AS old_us,
                  a.event_id AS new_event_id, a.event_type AS new_type,
                  a.us AS new_us
           FROM after a LEFT JOIN before b ON a.user_id = b.user_id)
         SELECT * FROM feed WHERE change_type IS NOT NULL
         ORDER BY user_id""",

    // the ORIGINAL table — the z-order rewrite must be value-and-type
    // lossless (lineitem has no pk: order by every output column)
    "a18_zorder_roundtrip" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
         FROM lineitem
         ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
                  l_quantity""",

    // visible MERGE snapshot: global LWW winner per key, keys whose
    // winner is a tombstone (error event) dropped at read
    "a16_merge_delete" ->
      """SELECT user_id, event_id AS last_event_id,
                event_type AS last_type, epoch_us(ts) AS last_us
         FROM (SELECT user_id, event_id, event_type, ts,
                      row_number() OVER (PARTITION BY user_id
                        ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
               FROM events)
         WHERE rn = 1 AND event_type <> 'error'
         ORDER BY user_id""",

    // full CDC between the two visible sets: LWW-not-tombstoned before
    // (first two deterministic batches) full-outer LWW-not-tombstoned
    // after — insert / update / delete, nothing when invisible both sides
    "a17_delete_feed" ->
      """WITH before AS (
           SELECT user_id, event_id, event_type, epoch_us(ts) AS us
           FROM (SELECT user_id, event_id, event_type, ts,
                        row_number() OVER (PARTITION BY user_id
                          ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
                 FROM events
                 WHERE user_id % 7 <> 0
                   AND ts < TIMESTAMP '2024-01-20 00:00:00')
           WHERE rn = 1 AND event_type <> 'error'),
         after AS (
           SELECT user_id, event_id, event_type, epoch_us(ts) AS us
           FROM (SELECT user_id, event_id, event_type, ts,
                        row_number() OVER (PARTITION BY user_id
                          ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
                 FROM events)
           WHERE rn = 1 AND event_type <> 'error'),
         feed AS (
           SELECT coalesce(a.user_id, b.user_id) AS user_id,
                  CASE WHEN b.user_id IS NULL THEN 'insert'
                       WHEN a.user_id IS NULL THEN 'delete'
                       WHEN b.event_id <> a.event_id OR b.us <> a.us
                            OR b.event_type <> a.event_type THEN 'update'
                  END AS change_type,
                  b.event_id AS old_event_id, b.event_type AS old_type,
                  b.us AS old_us,
                  a.event_id AS new_event_id, a.event_type AS new_type,
                  a.us AS new_us
           FROM after a FULL OUTER JOIN before b ON a.user_id = b.user_id)
         SELECT * FROM feed WHERE change_type IS NOT NULL
         ORDER BY user_id""",

    // mergeSchema's union-with-nulls, reproduced relationally: each
    // generation contributes its own columns, NULL elsewhere
    "a9_schema_evolution" ->
      """SELECT 1 AS gen, s_suppkey, s_name, s_nationkey,
                CAST(NULL AS DOUBLE) AS s_acctbal
         FROM supplier
         UNION ALL
         SELECT 2 AS gen, s_suppkey, s_name,
                CAST(NULL AS INTEGER) AS s_nationkey, s_acctbal
         FROM supplier
         ORDER BY gen, s_suppkey""",

    // the file bytes ARE the document text in UTF-8, so byte length and
    // md5 are computable straight off the source table
    "a10_binary_ingest" ->
      """SELECT doc_id, strlen(text) AS n_bytes, md5(text) AS content_md5
         FROM documents ORDER BY doc_id""",

    // the ORIGINAL table under the same year predicate — the partitioned
    // rewrite (including the path-stored partition column) must be lossless
    "a11_partitioned_sink" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
                CAST(year(o_orderdate) AS INT) AS o_year
         FROM orders WHERE year(o_orderdate) = 1998
         ORDER BY o_orderkey""",

    "b1_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
         FROM lineitem
         ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""",

    "b2_filter_compound" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag, l_linestatus
         FROM lineitem
         WHERE (l_quantity > 45 AND l_returnflag IN ('A','R'))
            OR (l_discount BETWEEN 0.09 AND 0.10 AND l_linestatus = 'F'
                AND l_returnflag NOT LIKE 'N%')
         ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount,
                  l_returnflag, l_linestatus""",

    "b3_derived" ->
      s"""SELECT l_orderkey, l_linenumber,
                 ${sqlRound4(discPrice)} AS net,
                 ${sqlRound6(s"$discPrice*(1.0+l_tax)")} AS charge
          FROM lineitem ORDER BY l_orderkey, l_linenumber, net, charge""",

    "b4_cast_timestamp" ->
      """SELECT o_orderkey,
                CAST(epoch(strptime(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'),
                                    '%Y-%m-%d %H:%M:%S')) AS BIGINT) AS epoch_s
         FROM orders ORDER BY o_orderkey""",

    "b5_conditional" ->
      """SELECT o_orderstatus,
                CASE WHEN o_totalprice < 10000 THEN 'small'
                     WHEN o_totalprice < 100000 THEN 'mid'
                     ELSE 'large' END AS bucket,
                count(*) AS n
         FROM orders GROUP BY 1, 2 ORDER BY o_orderstatus, bucket""",

    "b6_nulls" ->
      """SELECT o_orderkey,
                coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status2,
                CAST(nullif(o_orderstatus, 'O') IS NULL AS INT) AS was_open
         FROM orders ORDER BY o_orderkey""",

    "b7_nested_ref" ->
      """SELECT o_orderkey,
                CAST(o_custkey AS VARCHAR) AS ref_value,
                '/api/now/table/customer/' || CAST(o_custkey AS VARCHAR) AS ref_link,
                CAST(length('/api/now/table/customer/' || CAST(o_custkey AS VARCHAR)) AS INT) AS link_len
         FROM orders ORDER BY o_orderkey""",

    "b8_encoded_query" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
         FROM orders
         WHERE o_orderstatus = 'F'
           AND (o_totalprice > 150000 OR o_orderpriority = '1-URGENT')
         ORDER BY o_orderkey""",

    "b9_encoded_nq" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
         FROM orders
         WHERE (o_totalprice BETWEEN 100000 AND 150000 AND o_orderstatus = 'O')
            OR (o_orderpriority IS NULL OR o_orderpriority = ''
                OR o_totalprice > 400000)
         ORDER BY o_orderkey""",

    "c1_join_broadcast" ->
      s"""SELECT p_brand, ${sqlSum4(discPrice)} AS revenue, count(*) AS n_items
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY p_brand ORDER BY p_brand""",

    "c2_star_join" ->
      s"""SELECT r_name, n_name, ${sqlSum4(discPrice)} AS revenue, count(*) AS n_items
          FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
          GROUP BY r_name, n_name ORDER BY r_name, n_name""",

    "c3_join_left" ->
      s"""SELECT c_custkey, count(o_orderkey) AS n_orders,
                 ${sqlSum2("coalesce(o_totalprice, 0.0)")} AS total_spent
          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey ORDER BY c_custkey""",

    "c4_join_full" ->
      """SELECT coalesce(a.o_orderkey, b.o_orderkey) AS okey,
                CASE WHEN a.o_orderkey IS NULL THEN 'added'
                     WHEN b.o_orderkey IS NULL THEN 'removed'
                     ELSE 'both' END AS delta
         FROM (SELECT o_orderkey FROM orders WHERE year(o_orderdate) < 1998) a
         FULL OUTER JOIN (SELECT o_orderkey FROM orders WHERE year(o_orderdate) >= 1996) b
           ON a.o_orderkey = b.o_orderkey
         ORDER BY okey""",

    "c5_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
         ORDER BY c_custkey""",

    "c6_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
         ORDER BY c_custkey""",

    "c9_cross" ->
      """SELECT n_name, r_name FROM nation CROSS JOIN region
         ORDER BY n_name, r_name""",

    "c10_self_join" ->
      """SELECT CAST(c1.c_nationkey AS INT) AS n_nationkey, count(*) AS n_pairs
         FROM customer c1 JOIN customer c2
           ON c1.c_nationkey = c2.c_nationkey AND c1.c_custkey < c2.c_custkey
         GROUP BY 1 ORDER BY n_nationkey""",

    // same construction: per-order supplier pairs → co-count → top-5 per
    // supplier (total order: cnt desc, partner asc) → symmetrized
    // canonical edges → oriented a<b<c triangle join
    "gr_knn_triangles" ->
      """WITH co AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
                     FROM lineitem),
          p AS (SELECT x.sk AS sa, y.sk AS sb, count(*) AS cnt
                FROM co x JOIN co y ON x.ok = y.ok AND x.sk < y.sk
                GROUP BY 1, 2),
          dir AS (SELECT sa AS s, sb AS pr, cnt FROM p
                  UNION ALL SELECT sb, sa, cnt FROM p),
          knn AS (SELECT s, pr FROM (
                    SELECT s, pr, row_number() OVER (
                      PARTITION BY s ORDER BY cnt DESC, pr ASC) AS rn
                    FROM dir) WHERE rn <= 5),
          e AS (SELECT DISTINCT least(s, pr) AS src, greatest(s, pr) AS dst
                FROM knn),
          tri AS (SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
                  FROM e ab JOIN e bc ON ab.dst = bc.src
                  JOIN e ac ON ab.src = ac.src AND bc.dst = ac.dst)
          SELECT id AS s_suppkey, count(*) AS n_triangles
          FROM (SELECT a AS id FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri)
          GROUP BY id ORDER BY s_suppkey""",

    // same knn edge CTE; symmetrized degree histogram
    "gr_degree_dist" ->
      """WITH co AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
                     FROM lineitem),
          p AS (SELECT x.sk AS sa, y.sk AS sb, count(*) AS cnt
                FROM co x JOIN co y ON x.ok = y.ok AND x.sk < y.sk
                GROUP BY 1, 2),
          dir AS (SELECT sa AS s, sb AS pr, cnt FROM p
                  UNION ALL SELECT sb, sa, cnt FROM p),
          knn AS (SELECT s, pr FROM (
                    SELECT s, pr, row_number() OVER (
                      PARTITION BY s ORDER BY cnt DESC, pr ASC) AS rn
                    FROM dir) WHERE rn <= 5),
          e AS (SELECT DISTINCT least(s, pr) AS src, greatest(s, pr) AS dst
                FROM knn),
          ed AS (SELECT src AS u FROM e UNION ALL SELECT dst FROM e),
          deg AS (SELECT u, count(*) AS deg FROM ed GROUP BY u)
          SELECT deg, count(*) AS n_vertices
          FROM deg GROUP BY deg ORDER BY deg""",

    // same knn edge CTE; symmetrized adjacency re-capped at the 10
    // strongest partners per vertex (weight desc, partner asc — mirrors
    // neighborSimOf's wedge-key bound), then common neighbors via the
    // two-path join, neighbor Jaccard from the capped degrees
    "gr_node_sim" ->
      s"""WITH co AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
                     FROM lineitem),
          p AS (SELECT x.sk AS sa, y.sk AS sb, count(*) AS cnt
                FROM co x JOIN co y ON x.ok = y.ok AND x.sk < y.sk
                GROUP BY 1, 2),
          dir AS (SELECT sa AS s, sb AS pr, cnt FROM p
                  UNION ALL SELECT sb, sa, cnt FROM p),
          knn AS (SELECT s, pr, cnt FROM (
                    SELECT s, pr, cnt, row_number() OVER (
                      PARTITION BY s ORDER BY cnt DESC, pr ASC) AS rn
                    FROM dir) WHERE rn <= 5),
          e AS (SELECT DISTINCT least(s, pr) AS src, greatest(s, pr) AS dst,
                       cnt AS w
                FROM knn),
          sym0 AS (SELECT src AS u, dst AS v, w FROM e
                   UNION ALL SELECT dst, src, w FROM e),
          sym AS (SELECT u, v FROM (
                    SELECT u, v, row_number() OVER (
                      PARTITION BY u ORDER BY w DESC, v ASC) AS rn
                    FROM sym0) WHERE rn <= 10),
          deg AS (SELECT u, count(*) AS deg FROM sym GROUP BY u),
          cn AS (SELECT l.u AS a, r.u AS b, count(*) AS common
                 FROM sym l JOIN sym r ON l.v = r.v AND l.u < r.u
                 GROUP BY 1, 2 HAVING count(*) >= 2)
          SELECT cn.a, cn.b, CAST(cn.common AS BIGINT) AS common,
                 CAST(da.deg AS BIGINT) AS da, CAST(db.deg AS BIGINT) AS db,
                 ${graft.functions.ExactNum.sqlRound4(
                   "CAST(cn.common AS DOUBLE)/(da.deg + db.deg - cn.common)")} AS sim
          FROM cn JOIN deg da ON cn.a = da.u JOIN deg db ON cn.b = db.u
          ORDER BY cn.a, cn.b""",

    // same knn edge + triangle CTEs; degree from the symmetrized union,
    // one small rational per vertex
    "gr_clustering_coef" ->
      s"""WITH co AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
                     FROM lineitem),
          p AS (SELECT x.sk AS sa, y.sk AS sb, count(*) AS cnt
                FROM co x JOIN co y ON x.ok = y.ok AND x.sk < y.sk
                GROUP BY 1, 2),
          dir AS (SELECT sa AS s, sb AS pr, cnt FROM p
                  UNION ALL SELECT sb, sa, cnt FROM p),
          knn AS (SELECT s, pr FROM (
                    SELECT s, pr, row_number() OVER (
                      PARTITION BY s ORDER BY cnt DESC, pr ASC) AS rn
                    FROM dir) WHERE rn <= 5),
          e AS (SELECT DISTINCT least(s, pr) AS src, greatest(s, pr) AS dst
                FROM knn),
          tri AS (SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
                  FROM e ab JOIN e bc ON ab.dst = bc.src
                  JOIN e ac ON ab.src = ac.src AND bc.dst = ac.dst),
          tcnt AS (SELECT id AS u, CAST(count(*) AS BIGINT) AS n_triangles
                   FROM (SELECT a AS id FROM tri
                         UNION ALL SELECT b FROM tri
                         UNION ALL SELECT c FROM tri)
                   GROUP BY id),
          deg AS (SELECT u, count(*) AS deg
                  FROM (SELECT src AS u FROM e UNION ALL SELECT dst FROM e)
                  GROUP BY u)
          SELECT deg.u AS s_suppkey, CAST(deg.deg AS BIGINT) AS deg,
                 CAST(coalesce(tcnt.n_triangles, 0) AS BIGINT) AS n_triangles,
                 CASE WHEN deg.deg < 2 THEN 0.0 ELSE
                   ${graft.functions.ExactNum.sqlRound4(
                     "coalesce(tcnt.n_triangles, 0) * 2.0 / (deg.deg * (deg.deg - 1))")}
                 END AS coef
          FROM deg LEFT JOIN tcnt ON deg.u = tcnt.u
          ORDER BY s_suppkey""",

    // same knn + cap CTEs as gr_node_sim; strictly-2-hop targets anti-join
    // the 1-hop set, and harmonic lands on the exact .5 grid
    "gr_harmonic" ->
      """WITH co AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
                     FROM lineitem),
          p AS (SELECT x.sk AS sa, y.sk AS sb, count(*) AS cnt
                FROM co x JOIN co y ON x.ok = y.ok AND x.sk < y.sk
                GROUP BY 1, 2),
          dir AS (SELECT sa AS s, sb AS pr, cnt FROM p
                  UNION ALL SELECT sb, sa, cnt FROM p),
          knn AS (SELECT s, pr, cnt FROM (
                    SELECT s, pr, cnt, row_number() OVER (
                      PARTITION BY s ORDER BY cnt DESC, pr ASC) AS rn
                    FROM dir) WHERE rn <= 5),
          e AS (SELECT DISTINCT least(s, pr) AS src, greatest(s, pr) AS dst,
                       cnt AS w
                FROM knn),
          sym0 AS (SELECT src AS u, dst AS v, w FROM e
                   UNION ALL SELECT dst, src, w FROM e),
          sym AS (SELECT u, v FROM (
                    SELECT u, v, row_number() OVER (
                      PARTITION BY u ORDER BY w DESC, v ASC) AS rn
                    FROM sym0) WHERE rn <= 10),
          two AS (
            SELECT u, t FROM (
              SELECT DISTINCT l.u AS u, r.v AS t
              FROM sym l JOIN sym r ON l.v = r.u
              WHERE r.v <> l.u) x
            WHERE NOT EXISTS (SELECT 1 FROM sym s1
                              WHERE s1.u = x.u AND s1.v = x.t)),
          n1 AS (SELECT u, count(*) AS n1 FROM sym GROUP BY u),
          n2 AS (SELECT u, count(*) AS n2 FROM two GROUP BY u)
          SELECT n1.u AS node, CAST(n1.n1 AS BIGINT) AS n1,
                 CAST(coalesce(n2.n2, 0) AS BIGINT) AS n2,
                 (n1.n1 * 2 + coalesce(n2.n2, 0)) / 2.0 AS harmonic
          FROM n1 LEFT JOIN n2 ON n1.u = n2.u
          ORDER BY node""",

    // same knn edge CTE; then three damped power-iteration rounds in the
    // identical scaled-integer arithmetic (`//` = Spark's `div` for the
    // all-positive operands here)
    "gr_pagerank" ->
      """WITH co AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
                     FROM lineitem),
          p AS (SELECT x.sk AS sa, y.sk AS sb, count(*) AS cnt
                FROM co x JOIN co y ON x.ok = y.ok AND x.sk < y.sk
                GROUP BY 1, 2),
          dir AS (SELECT sa AS s, sb AS pr, cnt FROM p
                  UNION ALL SELECT sb, sa, cnt FROM p),
          knn AS (SELECT s, pr FROM (
                    SELECT s, pr, row_number() OVER (
                      PARTITION BY s ORDER BY cnt DESC, pr ASC) AS rn
                    FROM dir) WHERE rn <= 5),
          e AS (SELECT DISTINCT least(s, pr) AS src, greatest(s, pr) AS dst
                FROM knn),
          ed AS (SELECT src AS u, dst AS v FROM e
                 UNION ALL SELECT dst, src FROM e),
          deg AS (SELECT u AS id, count(*) AS deg FROM ed GROUP BY 1),
          pr0 AS (SELECT id, deg, CAST(1000000 AS BIGINT) AS pr FROM deg),
          pr1 AS (SELECT deg.id, deg.deg,
                         CAST(150000 + (85 * sum(pr0.pr // pr0.deg)) // 100
                              AS BIGINT) AS pr
                  FROM ed JOIN pr0 ON ed.u = pr0.id
                          JOIN deg ON ed.v = deg.id
                  GROUP BY 1, 2),
          pr2 AS (SELECT deg.id, deg.deg,
                         CAST(150000 + (85 * sum(pr1.pr // pr1.deg)) // 100
                              AS BIGINT) AS pr
                  FROM ed JOIN pr1 ON ed.u = pr1.id
                          JOIN deg ON ed.v = deg.id
                  GROUP BY 1, 2),
          pr3 AS (SELECT deg.id, deg.deg,
                         CAST(150000 + (85 * sum(pr2.pr // pr2.deg)) // 100
                              AS BIGINT) AS pr
                  FROM ed JOIN pr2 ON ed.u = pr2.id
                          JOIN deg ON ed.v = deg.id
                  GROUP BY 1, 2)
          SELECT id AS s_suppkey, pr AS pr_fixed
          FROM pr3 ORDER BY s_suppkey""",

    // same knn edge CTE carrying the weight; four unrolled Bellman-Ford
    // union+min rounds from the every-10th-supplier seed set
    "gr_sssp" ->
      """WITH co AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
                     FROM lineitem),
          p AS (SELECT x.sk AS sa, y.sk AS sb, count(*) AS cnt
                FROM co x JOIN co y ON x.ok = y.ok AND x.sk < y.sk
                GROUP BY 1, 2),
          dir AS (SELECT sa AS s, sb AS pr, cnt FROM p
                  UNION ALL SELECT sb, sa, cnt FROM p),
          knn AS (SELECT s, pr, cnt FROM (
                    SELECT s, pr, cnt, row_number() OVER (
                      PARTITION BY s ORDER BY cnt DESC, pr ASC) AS rn
                    FROM dir) WHERE rn <= 5),
          e AS (SELECT DISTINCT least(s, pr) AS src, greatest(s, pr) AS dst,
                       cnt AS w
                FROM knn),
          ew AS (SELECT src AS u, dst AS v,
                        greatest(1, 1000 // w) AS cost FROM e
                 UNION ALL
                 SELECT dst, src, greatest(1, 1000 // w) FROM e),
          d0 AS (SELECT s_suppkey AS id, CAST(0 AS BIGINT) AS dist
                 FROM supplier WHERE s_suppkey % 10 = 1),
          d1 AS (SELECT id, min(dist) AS dist FROM (
                   SELECT id, dist FROM d0
                   UNION ALL
                   SELECT ew.v, d0.dist + ew.cost FROM d0 JOIN ew ON d0.id = ew.u
                 ) GROUP BY id),
          d2 AS (SELECT id, min(dist) AS dist FROM (
                   SELECT id, dist FROM d1
                   UNION ALL
                   SELECT ew.v, d1.dist + ew.cost FROM d1 JOIN ew ON d1.id = ew.u
                 ) GROUP BY id),
          d3 AS (SELECT id, min(dist) AS dist FROM (
                   SELECT id, dist FROM d2
                   UNION ALL
                   SELECT ew.v, d2.dist + ew.cost FROM d2 JOIN ew ON d2.id = ew.u
                 ) GROUP BY id),
          d4 AS (SELECT id, min(dist) AS dist FROM (
                   SELECT id, dist FROM d3
                   UNION ALL
                   SELECT ew.v, d3.dist + ew.cost FROM d3 JOIN ew ON d3.id = ew.u
                 ) GROUP BY id)
          SELECT id AS s_suppkey, dist AS dist_fixed
          FROM d4 ORDER BY s_suppkey""",

    // same knn edge CTE; three unrolled peel rounds (k=2), then the final
    // in-subgraph degree
    "gr_kcore" ->
      """WITH co AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
                     FROM lineitem),
          p AS (SELECT x.sk AS sa, y.sk AS sb, count(*) AS cnt
                FROM co x JOIN co y ON x.ok = y.ok AND x.sk < y.sk
                GROUP BY 1, 2),
          dir AS (SELECT sa AS s, sb AS pr, cnt FROM p
                  UNION ALL SELECT sb, sa, cnt FROM p),
          knn AS (SELECT s, pr FROM (
                    SELECT s, pr, row_number() OVER (
                      PARTITION BY s ORDER BY cnt DESC, pr ASC) AS rn
                    FROM dir) WHERE rn <= 5),
          e AS (SELECT DISTINCT least(s, pr) AS src, greatest(s, pr) AS dst
                FROM knn),
          ed AS (SELECT src AS u, dst AS v FROM e
                 UNION ALL SELECT dst, src FROM e),
          a1 AS (SELECT u AS id FROM ed GROUP BY 1 HAVING count(*) >= 2),
          a2 AS (SELECT u AS id FROM ed
                 WHERE u IN (SELECT id FROM a1) AND v IN (SELECT id FROM a1)
                 GROUP BY 1 HAVING count(*) >= 2),
          a3 AS (SELECT u AS id FROM ed
                 WHERE u IN (SELECT id FROM a2) AND v IN (SELECT id FROM a2)
                 GROUP BY 1 HAVING count(*) >= 2)
          SELECT u AS s_suppkey, count(*) AS core_deg FROM ed
          WHERE u IN (SELECT id FROM a3) AND v IN (SELECT id FROM a3)
          GROUP BY 1 ORDER BY s_suppkey""",

    // Two synchronous LPA rounds unrolled CTE by CTE: plurality label
    // among previous-round neighbor labels, min-label tie-break.
    "gr_lpa" ->
      """WITH co AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
                     FROM lineitem),
          p AS (SELECT x.sk AS sa, y.sk AS sb, count(*) AS cnt
                FROM co x JOIN co y ON x.ok = y.ok AND x.sk < y.sk
                GROUP BY 1, 2),
          dir AS (SELECT sa AS s, sb AS pr, cnt FROM p
                  UNION ALL SELECT sb, sa, cnt FROM p),
          knn AS (SELECT s, pr FROM (
                    SELECT s, pr, row_number() OVER (
                      PARTITION BY s ORDER BY cnt DESC, pr ASC) AS rn
                    FROM dir) WHERE rn <= 5),
          e AS (SELECT DISTINCT least(s, pr) AS src, greatest(s, pr) AS dst
                FROM knn),
          ed AS (SELECT src AS u, dst AS v FROM e
                 UNION ALL SELECT dst, src FROM e),
          l0 AS (SELECT DISTINCT u AS id, u AS lbl FROM ed),
          v1 AS (SELECT ed.u, l0.lbl, count(*) AS n
                 FROM ed JOIN l0 ON ed.v = l0.id GROUP BY 1, 2),
          l1 AS (SELECT u AS id, lbl FROM (
                   SELECT *, row_number() OVER (
                     PARTITION BY u ORDER BY n DESC, lbl ASC) AS rn
                   FROM v1) WHERE rn = 1),
          v2 AS (SELECT ed.u, l1.lbl, count(*) AS n
                 FROM ed JOIN l1 ON ed.v = l1.id GROUP BY 1, 2),
          l2 AS (SELECT u AS id, lbl FROM (
                   SELECT *, row_number() OVER (
                     PARTITION BY u ORDER BY n DESC, lbl ASC) AS rn
                   FROM v2) WHERE rn = 1)
          SELECT id AS s_suppkey, lbl AS community FROM l2
          ORDER BY s_suppkey""",

    "d1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
                 ${sqlSum2("l_quantity")} AS sum_qty,
                 ${sqlSum2("l_extendedprice")} AS sum_base_price,
                 ${sqlSum4(discPrice)} AS sum_disc_price,
                 ${sqlAvg2("l_quantity")} AS avg_qty,
                 ${sqlAvg2("l_extendedprice")} AS avg_price,
                 ${sqlAvg2("l_discount")} AS avg_disc,
                 count(*) AS count_order
          FROM lineitem
          WHERE l_shipdate <= TIMESTAMP '1999-06-01 00:00:00'
          GROUP BY l_returnflag, l_linestatus
          ORDER BY l_returnflag, l_linestatus""",

    "d2_distinct_count" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
                count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "d3_rollup" ->
      s"""SELECT coalesce(l_returnflag, 'ALL') AS rf,
                 coalesce(l_linestatus, 'ALL') AS ls,
                 ${sqlSum2("l_quantity")} AS sum_qty,
                 CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid
          FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
          ORDER BY gid, rf, ls""",

    "d9_cube" ->
      s"""SELECT coalesce(l_returnflag, 'ALL') AS rf,
                 coalesce(l_linestatus, 'ALL') AS ls,
                 ${sqlSum2("l_quantity")} AS sum_qty,
                 count(*) AS n,
                 CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid
          FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
          ORDER BY gid, rf, ls""",

    "d4_having" ->
      s"""SELECT l_orderkey, ${sqlSum2("l_quantity")} AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING ${sqlSum2("l_quantity")} > 150
          ORDER BY l_orderkey""",

    "d8_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus""",

    "d10_grouping_sets" ->
      s"""SELECT coalesce(o_orderstatus, 'ALL') AS status,
                 coalesce(o_orderpriority, 'ALL') AS prio,
                 count(*) AS n,
                 ${sqlSum2("o_totalprice")} AS sum_price,
                 CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
          FROM orders
          GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                  (o_orderstatus), ())
          ORDER BY gid, status, prio""",

    "f1_sort" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC""",

    "f2_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",

    "g1_union" ->
      """SELECT c_name AS name, 'customer' AS src FROM customer
         UNION ALL
         SELECT s_name AS name, 'supplier' AS src FROM supplier
         ORDER BY name, src""",

    "g2_intersect" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
         INTERSECT
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
         ORDER BY o_custkey""",

    "g3_except" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
         EXCEPT
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
         ORDER BY o_custkey""",

    "b10_table_api" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders
         WHERE o_orderstatus = 'O' AND o_totalprice > 50000
         ORDER BY o_orderkey
         LIMIT 50 OFFSET 100""",

    // the Aggregate API mirror: one grouped aggregate, money measures
    // through the exact cents kernels
    "b11_stats_api" ->
      s"""SELECT o_orderpriority, count(*) AS "count",
                 ${sqlSum2("o_totalprice")} AS sum_o_totalprice,
                 ${sqlAvg2("o_totalprice")} AS avg_o_totalprice,
                 min(o_totalprice) AS min_o_totalprice,
                 max(o_totalprice) AS max_o_totalprice
          FROM orders WHERE o_orderstatus = 'O'
          GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "b11b_stats_having" ->
      s"""SELECT o_custkey, count(*) AS "count",
                 ${sqlSum2("o_totalprice")} AS sum_o_totalprice,
                 ${sqlAvg2("o_totalprice")} AS avg_o_totalprice
          FROM orders WHERE o_orderstatus = 'O'
          GROUP BY o_custkey
          HAVING count(*) >= 3 AND max(o_totalprice) > 300000
          ORDER BY o_custkey""",

    // display rendering = a plain left join to the dim's display column
    "b13_display_value" ->
      """SELECT c_custkey, c_name, n_name AS c_nationkey
         FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
         WHERE c_acctbal > 1000
         ORDER BY c_custkey""",

    // mode `all` = the same left join keeping BOTH columns; the filter
    // binds to the raw key, proving rendering is response-only
    "b13b_display_all" ->
      """SELECT c_custkey, c_name, c_nationkey,
                n_name AS c_nationkey_display
         FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
         WHERE c_nationkey >= 10 AND c_acctbal > 1000
         ORDER BY c_custkey""",

    // relative-date mirror: interval arithmetic off the same explicit now
    "b14_relative_dates" ->
      """SELECT event_id, epoch_us(ts) AS us, event_type FROM events
         WHERE (ts >= TIMESTAMP '2024-01-10 00:00:00'
                AND ts < TIMESTAMP '2024-01-11 00:00:00')
            OR (ts >= TIMESTAMP '2024-01-15 00:00:00'
                AND ts < TIMESTAMP '2024-01-16 00:00:00')
            OR (ts > TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 2 DAY
                AND ts <= TIMESTAMP '2024-01-15 12:00:00' - INTERVAL 36 HOUR)
         ORDER BY event_id""",

    // the dot-walk is server-side joins in the real API — plain joins here
    "b12_dotwalk_query" ->
      """SELECT c_custkey, c_name, n_name, r_name
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'EUROPE' AND c_acctbal > 0
         ORDER BY c_custkey""",

    // K1: DuckDB's nfc_normalize is the same Unicode NFC algorithm
    // (utf8proc) as java.text.Normalizer — byte-identical outputs. chr(769)
    // is U+0301 COMBINING ACUTE: the raw column is built DECOMPOSED, so the
    // norm_len = raw_len - 1 delta proves the UDF actually normalized.
    "k1_normalize" ->
      """SELECT doc_id,
                nfc_normalize('Cafe' || chr(769) || ' ' || substr(text, 1, 40)) AS norm_text,
                CAST(length('Cafe' || chr(769) || ' ' || substr(text, 1, 40)) AS INT) AS raw_len,
                CAST(length(nfc_normalize('Cafe' || chr(769) || ' ' || substr(text, 1, 40))) AS INT) AS norm_len
         FROM documents
         ORDER BY doc_id""",

    // same five edges, each an anti-join scalar pair
    "c11_ref_integrity" ->
      """SELECT edge, n_child, n_orphan, CAST(n_orphan = 0 AS INT) AS ok FROM (
           SELECT 'customer.c_nationkey->nation' AS edge,
                  (SELECT count(*) FROM customer) AS n_child,
                  (SELECT count(*) FROM customer c ANTI JOIN nation n
                     ON c.c_nationkey = n.n_nationkey) AS n_orphan
           UNION ALL
           SELECT 'lineitem.l_orderkey->orders',
                  (SELECT count(*) FROM lineitem),
                  (SELECT count(*) FROM lineitem l ANTI JOIN orders o
                     ON l.l_orderkey = o.o_orderkey)
           UNION ALL
           SELECT 'nation.n_regionkey->region',
                  (SELECT count(*) FROM nation),
                  (SELECT count(*) FROM nation n ANTI JOIN region r
                     ON n.n_regionkey = r.r_regionkey)
           UNION ALL
           SELECT 'orders.o_custkey->customer',
                  (SELECT count(*) FROM orders),
                  (SELECT count(*) FROM orders o ANTI JOIN customer c
                     ON o.o_custkey = c.c_custkey)
           UNION ALL
           SELECT 'supplier.s_nationkey->nation',
                  (SELECT count(*) FROM supplier),
                  (SELECT count(*) FROM supplier s ANTI JOIN nation n
                     ON s.s_nationkey = n.n_nationkey))
         ORDER BY edge""",

    // min/max aggregate in the native type, cast to text at the end —
    // mirroring the Spark projection order exactly
    "d11_profile" ->
      """SELECT * FROM (
           SELECT 'l_orderkey' AS col_name, count(*) AS n_rows,
                  CAST(count(*) FILTER (l_orderkey IS NULL) AS BIGINT) AS n_null,
                  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS ndv,
                  CAST(min(l_orderkey) AS VARCHAR) AS min_s,
                  CAST(max(l_orderkey) AS VARCHAR) AS max_s FROM lineitem
           UNION ALL
           SELECT 'l_quantity', count(*),
                  CAST(count(*) FILTER (l_quantity IS NULL) AS BIGINT),
                  CAST(count(DISTINCT l_quantity) AS BIGINT),
                  CAST(min(l_quantity) AS VARCHAR),
                  CAST(max(l_quantity) AS VARCHAR) FROM lineitem
           UNION ALL
           SELECT 'l_returnflag', count(*),
                  CAST(count(*) FILTER (l_returnflag IS NULL) AS BIGINT),
                  CAST(count(DISTINCT l_returnflag) AS BIGINT),
                  CAST(min(l_returnflag) AS VARCHAR),
                  CAST(max(l_returnflag) AS VARCHAR) FROM lineitem
           UNION ALL
           SELECT 'l_shipdate', count(*),
                  CAST(count(*) FILTER (l_shipdate IS NULL) AS BIGINT),
                  CAST(count(DISTINCT l_shipdate) AS BIGINT),
                  CAST(min(l_shipdate) AS VARCHAR),
                  CAST(max(l_shipdate) AS VARCHAR) FROM lineitem)
         ORDER BY col_name""",

    // the PLAIN groupBy — the whole point: shard-then-merge over
    // associative integer sums is semantically invisible
    "d12_salted_agg" ->
      s"""SELECT l_suppkey,
                 ${sqlSum2("l_quantity")} AS sum_qty,
                 ${sqlSum2("l_extendedprice")} AS sum_price,
                 count(*) AS n_items
          FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""",

    // the PLAIN join+groupBy — salt-and-replicate must be invisible
    "c12_salted_join" ->
      s"""SELECT s_nationkey,
                 ${sqlSum2(discPrice)} AS revenue,
                 count(*) AS n_items
          FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          GROUP BY s_nationkey ORDER BY s_nationkey""",

    // mirrors the composed block key verbatim: same region, same ≥1-of-3
    // transversal digit groups (the OR form is set-equal to the banded
    // equi-join union), same standard edit distance
    "c13_fuzzy_match" ->
      """WITH s AS (
           SELECT s_suppkey, s_name, n_regionkey
           FROM supplier JOIN nation ON s_nationkey = n_nationkey)
         SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
                a.s_name AS name_a, b.s_name AS name_b,
                CAST(levenshtein(a.s_name, b.s_name) AS INT) AS dist
         FROM s a JOIN s b
           ON a.n_regionkey = b.n_regionkey AND a.s_suppkey < b.s_suppkey
         WHERE levenshtein(a.s_name, b.s_name) <= 2
           AND (   substr(a.s_name,10,1)||substr(a.s_name,13,1)||substr(a.s_name,16,1)
                 = substr(b.s_name,10,1)||substr(b.s_name,13,1)||substr(b.s_name,16,1)
                OR substr(a.s_name,11,1)||substr(a.s_name,14,1)||substr(a.s_name,17,1)
                 = substr(b.s_name,11,1)||substr(b.s_name,14,1)||substr(b.s_name,17,1)
                OR substr(a.s_name,12,1)||substr(a.s_name,15,1)||substr(a.s_name,18,1)
                 = substr(b.s_name,12,1)||substr(b.s_name,15,1)||substr(b.s_name,18,1))
         ORDER BY id_a, id_b""",

    // The bucketed copies are row-identical to the source tables, so the
    // oracle joins the originals — what it grades is the RESULT; the
    // zero-exchange layout is pinned by PlanShapeSpec.
    "c15_bucket_join" ->
      s"""SELECT c_mktsegment, count(*) AS n_orders,
                 ${sqlSum2("coalesce(o_totalprice, 0.0)")} AS total_price
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    // the (flag, cents) histogram, the same running windows, the same
    // cross-multiplied median condition
    "d16_weighted_median" ->
      """WITH hist AS (
           SELECT l_returnflag,
                  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
                  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS wsum
           FROM lineitem GROUP BY 1, 2),
         c AS (
           SELECT l_returnflag, cents,
                  CAST(sum(wsum) OVER (PARTITION BY l_returnflag ORDER BY cents
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                  CAST(sum(wsum) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot
           FROM hist)
         SELECT l_returnflag, cents/100.0 AS w_median_price, tot AS total_weight
         FROM (SELECT *, row_number() OVER (PARTITION BY l_returnflag
                 ORDER BY cents) AS rn
               FROM c WHERE cum * 2 >= tot)
         WHERE rn = 1
         ORDER BY l_returnflag""",

    // one conditional-aggregate pass + one NOT EXISTS, unpivoted per rule
    "d15_dq_report" ->
      """WITH b AS (
           SELECT count(*) AS n,
                  CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS v_pk,
                  CAST(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_neg,
                  CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null,
                  CAST(sum(CASE WHEN o_orderdate IS NULL
                                OR o_orderdate < TIMESTAMP '1992-01-01'
                                OR o_orderdate >= TIMESTAMP '2000-01-01'
                           THEN 1 ELSE 0 END) AS BIGINT) AS v_range
           FROM orders),
         f AS (SELECT count(*) AS v_fk FROM orders o
               WHERE NOT EXISTS (SELECT 1 FROM customer c
                                 WHERE o.o_custkey = c.c_custkey))
         SELECT rule, n AS n_checked, v AS n_violations, CAST(p AS INT) AS pass
         FROM (
           SELECT 'fk_customer' AS rule, n, v_fk AS v, v_fk = 0 AS p
           FROM b CROSS JOIN f
           UNION ALL SELECT 'orderdate_range', n, v_range, v_range = 0 FROM b
           UNION ALL SELECT 'pk_unique', n, v_pk, v_pk = 0 FROM b
           UNION ALL SELECT 'price_nonneg', n, v_neg, v_neg = 0 FROM b
           UNION ALL SELECT 'price_null_rate_5pct', n, v_null, v_null * 20 <= n FROM b)
         ORDER BY rule""",

    // Mirrors the integer-unit ledger step for step: same cents snap, same
    // integer discount/tax multiplies, BIGINT sums (DuckDB's sum(BIGINT)
    // returns HUGEINT — the explicit final cast pins the graded type; the
    // values fit, see the registry headroom note). No DECIMAL anywhere, so
    // no engine-version-inferred width can reach the hash.
    "d14_decimal_money" ->
      """WITH li AS (
           SELECT l_returnflag,
                  CAST(round(l_extendedprice*100) AS BIGINT) AS pxc,
                  CAST(round(l_discount*100) AS BIGINT) AS dcc,
                  CAST(round(l_tax*100) AS BIGINT) AS txc
           FROM lineitem),
         d AS (SELECT l_returnflag, pxc, txc, pxc * (100 - dcc) AS dp4 FROM li)
         SELECT l_returnflag,
                CAST(sum(pxc) AS BIGINT) AS sum_price_cents,
                CAST(sum(dp4) AS BIGINT) AS sum_disc_price_e4,
                CAST(sum(dp4 * (100 + txc)) AS BIGINT) AS sum_charge_e6
         FROM d GROUP BY l_returnflag ORDER BY l_returnflag""",

    // one column per allowed graded-output type class (§7.4 #10)
    "tc_type_canary" ->
      s"""SELECT n_name AS c_string,
                 CAST(n_nationkey AS BIGINT) AS c_bigint,
                 CAST(n_regionkey AS INT) AS c_int,
                 ${graft.functions.ExactNum.sqlRound4("n_nationkey/7.0")}
                   AS c_double_kernel,
                 TIMESTAMP '2024-01-01 00:00:00'
                   + n_nationkey * INTERVAL 1 DAY AS c_timestamp
          FROM nation ORDER BY c_bigint"""
  )
}
