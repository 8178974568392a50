package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The last-writer-wins upsert table on the [[VersionedTable]] layout —
  * I7's production form. A lakehouse MERGE is this loop with a
  * transaction log; here the "log" is the version pointer, moved after
  * the new snapshot lands. Rows are (user_id, event_id, event_type, us)
  * plus whatever columns the batches carry (an `op` marker makes it a
  * MERGE table with tombstone deletes). The streaming sink
  * (`graft.streaming.StreamingOps.runUpsertSinkToParquet`) and the batch
  * time-travel/change-feed builders (a14–a17) share [[applyBatch]], and
  * every batch LWW builder (i7, i8, i11, i13 and i11b's target) calls
  * [[lastWriterWins]], so the merge rule can never drift between the
  * stream and batch forms.
  */
object UpsertTable {

  /** One LWW merge-and-publish step. Expects `batch` with columns
    * (user_id, event_id, event_type, ts). Everything stays distributed:
    * batch-local [[lastWriterWins]], union with the current snapshot,
    * [[lastWriterWins]] again for the winner per key, write
    * the next immutable version, move the pointer. No driver-side
    * collection at any size; the read-merge-write is O(table + batch) per
    * batch, the honest cost of upsert-on-parquet (a real table format
    * turns it into O(affected files) via file-level pruning on the same
    * plan).
    *
    * Columns beyond the (user_id, event_id, event_type, ts) contract ride
    * along untouched — in particular an `op` MERGE marker ("u" upsert /
    * "d" tombstone). Tombstones are STORED, not applied-by-removal: a
    * removed key would lose the delete's (us, event_id) high-watermark
    * and a later batch redelivering an OLDER live row would resurrect it;
    * with the tombstone in the table the LWW rule handles out-of-order
    * delivery for deletes exactly as for updates, and only READERS filter
    * it ([[visible]]).
    *
    * `stage(prev, versionDir)` runs after the new snapshot is written and
    * before the pointer moves; what it writes under a `_` name inside
    * `versionDir` (e.g. `versionDir/_feed`) commits with the version
    * ([[VersionedTable.publish]]). That closes the CDC-IVM publish-vs-feed
    * crash window: the signed-delta feed is staged inside the version it
    * describes, so "version visible but its feed missing" cannot happen. */
  def applyBatch(s: SparkSession, batch: DataFrame, target: String,
      stage: (Option[Long], String) => Unit = (_, _) => ()): Unit = {
    val latest = lastWriterWins(
      batch.withColumn("us", unix_micros(col("ts"))).drop("ts"))
    VersionedTable.publish(s, target) { (prev, verDir) =>
      // explicit schema on the snapshot re-read: every version was written
      // by THIS kernel from the same batch shape, so inference would only
      // re-read a parquet footer on the driver per merge — pure per-batch
      // planning cost for the streaming sink that calls this per
      // micro-batch (parquet matches columns by name, so column order is
      // irrelevant)
      val merged = prev
        .map(v => lastWriterWins(
          VersionedTable.read(s, target, v, Some(latest.schema))
            .unionByName(latest)))
        .getOrElse(latest)
      // overwrite also clears any orphan from a previous crashed attempt at
      // this same (unpublished) version number, staged artifacts included
      merged.write.mode("overwrite").parquet(verDir)
      stage(prev, verDir)
    }
  }

  /** The last-writer-wins rule every upsert, snapshot and sync builder
    * applies: per `user_id`, the one row with the greatest (`us`,
    * `event_id`) — `event_id` breaks a same-microsecond tie. `rows` needs
    * those three columns; every column rides along. One window pass,
    * partitioned by `user_id`. */
  def lastWriterWins(rows: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(col("us").desc, col("event_id").desc)
    rows.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** CHANGE FEED (CDC read) between two published versions: the row-level
    * delta a downstream incremental consumer replays instead of re-reading
    * the whole snapshot — a real table format's CDF on the same layout.
    * The change types are `insert` (key absent at `fromV`) and `update`
    * (key present, winning row changed). The feed compares stored rows
    * and ignores the `op` marker: on a MERGE table a tombstone is just the
    * key's new winning row, so a delete reads as an `update` (an `insert`
    * for a key whose first row is a tombstone); [[mergeChangeFeed]] is the
    * feed that emits `delete` rows. This one stays a left join because
    * cdc_ivm_stream runs it once per batch.
    * Distributed shape: one shuffle join of two key-unique snapshots —
    * O(keys), never O(events); at 100 TB both sides are the compacted
    * per-key table, orders of magnitude smaller than the raw feed. */
  def changeFeed(s: SparkSession, target: String,
      fromV: Long, toV: Long): DataFrame =
    feed(s, target, fromV, toV, "left", identity)(
      when(col("old_event_id").isNull, lit("insert"))
        .when(winnerChanged, lit("update")))

  /** The VISIBLE snapshot of a MERGE table (rows carry the "u"/"d"
    * marker): stored tombstones filtered out at read — the reader half of
    * the store-the-tombstone contract. */
  def visible(s: SparkSession, target: String): DataFrame =
    live(VersionedTable.readCurrent(s, target))

  /** CHANGE FEED between two versions of a MERGE table — the full
    * insert/update/DELETE CDC: diff the two VISIBLE sets (tombstones
    * already filtered), so a key emits `delete` when it was visible at
    * `fromV` and is tombstoned at `toV`, `insert` when newly visible
    * (including a resurrect after a tombstone), `update` when visible both
    * sides with a changed winner, and nothing when invisible both sides —
    * a key deleted before `fromV` and still deleted carries no change. One
    * full-outer join of two key-unique snapshots (the i12_reconcile class
    * — neither side broadcastable at scale, co-partitioned on the key). */
  def mergeChangeFeed(s: SparkSession, target: String,
      fromV: Long, toV: Long): DataFrame =
    feed(s, target, fromV, toV, "full", live)(
      when(col("old_event_id").isNull && col("new_event_id").isNotNull,
        lit("insert"))
        .when(col("new_event_id").isNull && col("old_event_id").isNotNull,
          lit("delete"))
        .when(winnerChanged, lit("update")))

  private def live(rows: DataFrame): DataFrame =
    rows.filter(col("op") =!= "d")

  private def winnerChanged: Column =
    col("old_event_id") =!= col("new_event_id") ||
      col("old_us") =!= col("new_us") || col("old_type") =!= col("new_type")

  /** The feed both CDC reads share: `rows` of version `toV` (new_*) joined
    * `how` to `rows` of version `fromV` (old_*) on the key, keeping the
    * keys `changeType` names. */
  private def feed(s: SparkSession, target: String, fromV: Long, toV: Long,
      how: String, rows: DataFrame => DataFrame)(changeType: Column): DataFrame = {
    require(fromV < toV, s"change feed needs fromV < toV, got $fromV..$toV")
    def side(v: Long, p: String) = rows(VersionedTable.read(s, target, v))
      .select(col("user_id"), col("event_id").as(s"${p}_event_id"),
        col("event_type").as(s"${p}_type"), col("us").as(s"${p}_us"))
    side(toV, "new").join(side(fromV, "old"), Seq("user_id"), how)
      .withColumn("change_type", changeType)
      .filter(col("change_type").isNotNull)
      .select("user_id", "change_type", "old_event_id", "old_type", "old_us",
        "new_event_id", "new_type", "new_us")
  }
}
