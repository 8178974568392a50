package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Lake maintenance — the small-files compaction pass.
  *
  * At 100 TB the small-files problem is structural: streaming sinks and
  * per-partition writers leave thousands of KB-sized parquet files per
  * table, and every downstream scan then pays one task + one footer read
  * per file (plus NameNode/liststore pressure). Compaction rewrites a
  * directory into ~targetBytes files: one distributed read, one
  * repartition to ceil(bytes/target), one write.
  *
  * The rewrite goes to an explicit destination directory rather than
  * in-place: in-place compaction is only safe under a transaction log
  * (a real table format's MERGE/OPTIMIZE, or the [[VersionedTable]]
  * pointer) — a caller that owns such a log swaps the pointer to `dest`
  * after this returns, so readers never observe a half-written table.
  *
  * File listing goes through the Hadoop FileSystem API (not java.io) so
  * the same code runs against HDFS/object stores on a cluster.
  */
object Maintenance {

  /** Compact `src` (a parquet directory) into `dest` targeting
    * `targetBytes` per output file. Returns (files before, files after).
    */
  def compactParquet(spark: SparkSession, src: String, dest: String,
                     targetBytes: Long): (Int, Int) = {
    require(targetBytes > 0, "targetBytes must be positive")
    def parquetFiles(dir: String): Seq[(String, Long)] = {
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      val out = Seq.newBuilder[(String, Long)]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet"))
          out += ((f.getPath.toString, f.getLen))
      }
      out.result()
    }
    val before = parquetFiles(src)
    val totalBytes = before.map(_._2).sum
    val n = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    // repartition (round-robin), not coalesce: coalesce(n) glues whole
    // input partitions together, so one giant input file yields one giant
    // output file; repartition rebalances bytes evenly across the n
    // outputs at the price of one shuffle — the right trade for a
    // maintenance pass whose whole point is even file sizes.
    spark.read.parquet(src)
      .repartition(n)
      .write.mode("overwrite").parquet(dest)
    (before.length, parquetFiles(dest).length)
  }
}
