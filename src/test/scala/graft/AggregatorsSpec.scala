package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Aggregators
import graft.operators.Lsh

class AggregatorsSpec extends AnyFunSuite {
  import TestSpark._

  test("typed CentroidAggregator agrees with the relational j4 centroids") {
    import spark.implicits._
    val agg = new Aggregators.CentroidAggregator(64).toColumn
    val typed = graft.sources.Tables.embeddings(spark, sf)
      .select(col("label"), col("embedding"))
      .as[(Int, Array[Float])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg)
      .collect().toMap
    val relational = SparkEntry.queries("j4_centroid")(spark, sf)
      .collect()
      .groupBy(_.getAs[Int]("label"))
    relational.foreach { case (label, rows) =>
      rows.foreach { r =>
        val pos = r.getAs[Int]("pos")
        val expect = r.getAs[Double]("c") // rounded to 4 decimals
        assert(math.abs(typed(label)(pos) - expect) < 1e-4 + 1e-9)
      }
    }
  }

  test("typed MinHashAggregator reproduces the SQL min-per-seed signature") {
    import spark.implicits._
    val agg = new Aggregators.MinHashAggregator(
      Lsh.A.toArray, Lsh.B.toArray, Lsh.P).toColumn
    val inv = graft.operators.LlmOps.shingleRows(
      graft.sources.Tables.documents(spark, sf)).select("doc_id", "h")
    val typed = inv.as[(Long, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg)
      .collect().toMap
    val sql = inv.groupBy("doc_id").agg(
      min((col("h") * Lsh.A(0) + Lsh.B(0)) % Lsh.P).as("mh0"),
      (1 until 16).map(i =>
        min((col("h") * Lsh.A(i) + Lsh.B(i)) % Lsh.P).as(s"mh$i")): _*)
      .collect()
    sql.take(50).foreach { r =>
      val id = r.getLong(0)
      (0 until 16).foreach { i =>
        assert(typed(id)(i) == r.getLong(i + 1), s"doc $id seed $i")
      }
    }
  }

  test("TopKAggregator equals the window row_number form on every partitioning") {
    import org.apache.spark.sql.expressions.Window
    val orders = graft.sources.Tables.orders(spark, sf)
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").desc)
    val windowed = orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("o_custkey", "rnk", "o_orderkey", "o_totalprice")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val rows = SparkEntry.queries("f3_topk_per_key")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(rows == windowed)
  }

  test("TopKAggregator merge is order-insensitive (bounded sorted union)") {
    val agg = new Aggregators.TopKAggregator(3)
    val vs = Seq((5.0, 1L), (9.0, 2L), (9.0, 3L), (1.0, 4L), (7.0, 5L), (3.0, 6L))
    val full = vs.foldLeft(agg.zero)(agg.reduce)
    // any split of the stream must merge to the same top-3
    (1 until vs.size).foreach { cut =>
      val (l, r) = vs.splitAt(cut)
      val lm = l.foldLeft(agg.zero)(agg.reduce)
      val rm = r.foldLeft(agg.zero)(agg.reduce)
      assert(agg.merge(lm, rm) == full && agg.merge(rm, lm) == full, s"cut=$cut")
    }
    assert(agg.finish(full) == Seq((9.0, 3L), (9.0, 2L), (7.0, 5L)))
  }

  test("roundHalfUp replicates Spark round() on boundary doubles and " +
    "random products; SecondMomentAggregator equals the generate form") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val boundary = Seq(0.49999999999999994, -0.49999999999999994,
      2.5, -2.5, 0.5, -0.5, 1.4999999999999998, -1.4999999999999998,
      123456789.5, -123456789.5, 0.0, 1e-300, -1e-300)
    val rnd = new scala.util.Random(11)
    val samples = boundary ++ Seq.fill(5000)((rnd.nextDouble() - 0.5) * 2e8)
    val viaSpark = samples.toDF("y")
      .select(round(col("y")).cast("long")).collect().map(_.getLong(0))
    val viaScala = samples.map(graft.functions.Aggregators.roundHalfUp)
    assert(viaScala == viaSpark.toSeq)
    // the aggregator's s8 matrix equals the posexplode×posexplode form
    val vecs = Seq.fill(40)(Array.fill(8)((rnd.nextDouble() - 0.5) * 2.0))
    val df = vecs.map(v => Tuple1(v)).toDF("v")
    val viaAgg = df.as[Array[Double]]
      .select(new graft.functions.Aggregators.SecondMomentAggregator(8)
        .toColumn.name("s"))
      .select(posexplode(col("s"))).collect()
      .map(r => (r.getInt(0) / 8, r.getInt(0) % 8) -> r.getLong(1)).toMap
    val viaGen = df
      .select(col("v"), posexplode(col("v")).as(Seq("i", "xi")))
      .select(col("i"), col("xi"), posexplode(col("v")).as(Seq("j", "xj")))
      .groupBy("i", "j")
      .agg(sum(round(col("xi") * col("xj") * 1e8).cast("long")).as("s8"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(viaAgg == viaGen)
  }

  test("BandedScan.cumSum equals a sequential prefix scan in every " +
    "direction/inclusivity, including negative keys") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // distinct keys spanning negatives and several bands at width 10
    val keys = rnd.shuffle((-40 to 60).toList).take(37).map(_.toLong)
    val rows = keys.map(k => (k, (rnd.nextInt(100) + 1).toLong))
    val df = rows.toDF("k", "v")
    for (desc <- Seq(true, false); incl <- Seq(true, false)) {
      val got = graft.functions.BandedScan
        .cumSum(df, "k", "v", "cum", desc, incl)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val ordered = if (desc) rows.sortBy(-_._1) else rows.sortBy(_._1)
      var run = 0L
      val want = ordered.map { case (k, v) =>
        val out = if (incl) run + v else run
        run += v
        k -> out
      }.toMap
      assert(got == want, s"desc=$desc includeCurrent=$incl")
    }
  }

  test("BandedScan.cumSum fails loudly on a null key instead of dropping it") {
    import spark.implicits._
    val df = Seq((Option(1L), 5L), (Option.empty[Long], 7L), (Option(3L), 2L))
      .toDF("k", "v")
    val err = intercept[Exception](
      graft.functions.BandedScan.cumSum(df, "k", "v", "cum").collect())
    val msgs = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(e => String.valueOf(e.getMessage))
    assert(msgs.exists(_.contains("null key in column k")), err.toString)
  }
}
