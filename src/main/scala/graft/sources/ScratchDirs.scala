package graft.sources

import org.apache.spark.sql.SparkSession

/** Stable scratch directories for graded queries whose work IS a write
  * (compaction roundtrip, streaming spools/checkpoints, versioned-table
  * sinks). One scheme, shared by every such builder:
  *
  *  - keyed by `tag` + the data dir's basename + a 4-byte hash of its
  *    absolute path, so distinct data dirs sharing a basename (sf0.01 in
  *    two checkouts) never share a scratch tree, while repeated runs over
  *    the SAME data dir reuse one tree — overwrite semantics instead of
  *    the unbounded `createTempDirectory` growth a 5-pass bench otherwise
  *    leaves in /tmp;
  *  - SINGLE-DRIVER ASSUMPTION (same contract as
  *    `graft.streaming.Drain`): path stability deliberately spans
  *    JVMs, so two CONCURRENT drivers grading the same data dir would race
  *    each other's eager overwrite against the other's lazy graded read.
  *    The sequential Verify/Bench/test drivers this registry runs under
  *    never overlap; a future concurrent harness must key the scratch by
  *    process (pid/session id) and accept the /tmp growth that brings.
  */
object ScratchDirs {

  /** Path-component sanitizer: the tag and the data dir's basename are
    * interpolated into a /tmp path, so anything outside [A-Za-z0-9._-]
    * (a '/', a space) would silently nest or escape the scratch tree.
    * Collapsed to '_' — the full-path hash keeps sanitized collisions
    * (e.g. "a/b" vs "a_b" basenames) in distinct trees anyway. */
  private def safe(c: String): String = c.replaceAll("[^A-Za-z0-9._-]", "_")

  /** The stable scratch root for (`tag`, data dir `d`). */
  def dirFor(d: String, tag: String): String = {
    val dirHash = java.security.MessageDigest.getInstance("MD5")
      .digest(new java.io.File(d).getAbsolutePath
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map(b => f"$b%02x").mkString
    s"${System.getProperty("java.io.tmpdir")}/graft_${safe(tag)}_" +
      safe(new java.io.File(d).getName) + "_" + dirHash
  }

  /** [[dirFor]], with the tree deleted first — for builders that must start
    * from an empty scratch every invocation (streaming spools whose sink
    * appends, versioned tables whose version count the run asserts on). */
  def freshDirFor(s: SparkSession, d: String, tag: String): String = {
    val dir = dirFor(d, tag)
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    dir
  }

  private val spoolMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), String]()
  graft.CacheRegistry.onRelease(() => spoolMemo.clear())

  /** Session-memoized INPUT spool: `write` materializes the landing-zone
    * fixture under the returned dir exactly once per (session, data dir)
    * cache generation. The input spool is PREP — the stand-in for the
    * landing zone a production stream would already find on arrival, not
    * the graded work — so an eager builder that Bench rebuilds five times
    * must not pay the write five times; the drain, the checkpoints, and
    * the versioned merges stay inside the rebuilt (timed) builder, on
    * their own fresh dirs. Single-driver assumption as [[dirFor]];
    * cleared with the cache registry so a releaseAll() forces a rewrite
    * in the next build generation. */
  def sharedInputSpool(s: SparkSession, d: String, tag: String)(
      write: String => Unit): String =
    spoolMemo.computeIfAbsent((s, d, tag), { _ =>
      val dir = freshDirFor(s, d, tag)
      write(dir)
      dir
    })
}
