package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** minLabelComponents vs a sequential union-find model on random graphs —
  * covers chains, cycles, singletons, and multi-edges, in both the
  * fixed-rounds mode (graded path) and the verified-fixpoint mode.
  */
object GraphOpsSpec extends Properties("graphops") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8).withMaxDiscardRatio(10)

  private lazy val spark = TestSpark.spark

  private def unionFind(n: Int, edges: Seq[(Int, Int)]): Map[Int, Int] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0 until n).map(i => i -> find(i)).toMap
  }

  private val graphGen = for {
    n <- Gen.choose(1, 24)
    m <- Gen.choose(0, 30)
    edges <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
  } yield (n, edges.filter(e => e._1 != e._2))

  // The provable bound: the hop step guarantees one edge-hop of
  // min-propagation per round, so rounds = n ≥ diameter always converges.
  // (rounds = 5 with the jump heuristic was falsified by adversarial id
  // layouts — the jump is opportunistic, never budget rounds on it.)
  property("fixed rounds = n (≥ diameter) equal union-find") =
    forAll(graphGen) { case (n, edges) =>
      import spark.implicits._
      val verts = (0 until n).map(_.toLong).toDF("id")
      val es =
        if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("src", "dst")
        else edges.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst")
      val got = graft.operators.GraphOps
        .minLabelComponents(verts, es, rounds = Some(n))
        .collect().map(r => r.getLong(0).toInt -> r.getLong(1).toInt).toMap
      got == unionFind(n, edges)
    }

  property("adversarial id layout: fixpoint still converges to the true min") =
    forAll(Gen.choose(4, 16)) { n =>
      import spark.implicits._
      // path 1-2-…-(n-1)-0: the global min sits at the far end and every
      // intermediate label is a local minimum, so jumps never help and
      // propagation is one hop per round — the layout that falsified the
      // doubling assumption.
      val verts = (0 until n).map(_.toLong).toDF("id")
      val path = (1 until n - 1).map(i => (i.toLong, (i + 1).toLong)) :+
        ((n - 1).toLong, 0L)
      val es = path.toDF("src", "dst")
      val got = graft.operators.GraphOps.minLabelComponents(verts, es, rounds = None)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      got.forall(_._2 == 0L)
    }

  property("fixpoint mode equals union-find on random graphs") =
    forAll(for {
      n <- Gen.choose(1, 10)
      m <- Gen.choose(0, 12)
      edges <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
    } yield (n, edges.filter(e => e._1 != e._2))) { case (n, edges) =>
      import spark.implicits._
      val verts = (0 until n).map(_.toLong).toDF("id")
      val es =
        if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("src", "dst")
        else edges.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst")
      val got = graft.operators.GraphOps
        .minLabelComponents(verts, es, rounds = None)
        .collect().map(r => r.getLong(0).toInt -> r.getLong(1).toInt).toMap
      got == unionFind(n, edges)
    }

  property("fixpoint mode agrees with fixed rounds on a path graph") =
    forAll(Gen.choose(2, 12)) { n =>
      import spark.implicits._
      // worst case for propagation: one long chain
      val verts = (0 until n).map(_.toLong).toDF("id")
      val es = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
      val fp = graft.operators.GraphOps.minLabelComponents(verts, es, rounds = None)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      fp == (0 until n).map(i => (i.toLong, 0L))
    }

  property("incrementalComponents on a split feed equals a full rebuild") =
    forAll(graphGen, Gen.choose(2, 5)) { case ((n, edges), mod) =>
      import spark.implicits._
      // split: new vertices are id % mod == 0 (includes the global min —
      // the case where a NEW id becomes the merged cluster's label)
      val isNew = (v: Int) => v % mod == 0
      val oldIds = (0 until n).filterNot(isNew)
      val newIds = (0 until n).filter(isNew)
      def df(s: Seq[(Long, Long)]) =
        if (s.isEmpty) Seq.empty[(Long, Long)].toDF("src", "dst") else s.toDF("src", "dst")
      val oldEdges = edges.filter { case (a, b) => !isNew(a) && !isNew(b) }
        .map { case (a, b) => (a.toLong, b.toLong) }
      val deltaEdges = edges.filter { case (a, b) => isNew(a) || isNew(b) }
        .map { case (a, b) => (a.toLong, b.toLong) }
      val stored = graft.operators.GraphOps
        .minLabelComponents(oldIds.map(_.toLong).toDF("id"), df(oldEdges), rounds = None)
      val got = graft.operators.GraphOps
        .incrementalComponents(stored,
          if (newIds.isEmpty) Seq.empty[Long].toDF("id") else newIds.map(_.toLong).toDF("id"),
          df(deltaEdges))
        .collect().map(r => r.getLong(0).toInt -> r.getLong(1).toInt).toMap
      got == unionFind(n, edges)
    }

  property("incremental merge of two old components through a new bridge") =
    forAll(Gen.choose(2, 6)) { k =>
      import spark.implicits._
      // two disjoint old chains 1-2-…-k and (k+10)-…-(2k+9); new vertex 0
      // bridges their far ends — the stored labels must BOTH relabel to 0
      val chainA = (1 until k).map(i => (i.toLong, (i + 1).toLong))
      val chainB = (1 until k).map(i => ((i + 10).toLong, (i + 11).toLong))
      val oldIds = ((1 to k) ++ (11 to k + 10)).map(_.toLong)
      val stored = graft.operators.GraphOps.minLabelComponents(
        oldIds.toDF("id"), (chainA ++ chainB).toDF("src", "dst"), rounds = None)
      val delta = Seq((0L, k.toLong), (0L, (k + 10).toLong)).toDF("src", "dst")
      val got = graft.operators.GraphOps
        .incrementalComponents(stored, Seq(0L).toDF("id"), delta)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      got.size == 2 * k + 1 && got.values.forall(_ == 0L)
    }

  property("SG18 kernel: random multi-batch arrival orders converge to union-find") =
    forAll(for {
      nOld <- Gen.choose(1, 8)
      nNew <- Gen.choose(1, 6)
      m <- Gen.choose(0, 14)
      // old ids 1..nOld*5-ish avoiding %5==0; new ids multiples of 5
      edges <- Gen.listOfN(m, Gen.zip(Gen.choose(0, nOld + nNew - 1),
        Gen.choose(0, nOld + nNew - 1)))
      nBatches <- Gen.choose(1, 3)
      assign <- Gen.listOfN(nNew, Gen.choose(0, nBatches - 1))
    } yield (nOld, nNew, edges.filter(e => e._1 != e._2), nBatches, assign)) {
      case (nOld, nNew, rawEdges, nBatches, assign) =>
        import spark.implicits._
        // vertex v < nOld → old id (v*5 + 1 + v%4, never ≡0 mod 5);
        // v ≥ nOld → new id ((v-nOld+1)*5)
        def vid(v: Int): Long =
          if (v < nOld) (v * 5 + 1 + v % 4).toLong else ((v - nOld + 1) * 5).toLong
        val edges = rawEdges.map { case (a, b) => (vid(a), vid(b)) }.distinct
        val isNewId = (x: Long) => x % 5 == 0
        val oldIds = (0 until nOld).map(vid)
        val oldEdges = edges.filter { case (a, b) => !isNewId(a) && !isNewId(b) }
        val newEdges = edges.filter { case (a, b) => isNewId(a) || isNewId(b) }
        def df(s: Seq[(Long, Long)]) =
          if (s.isEmpty) Seq.empty[(Long, Long)].toDF("src", "dst") else s.toDF("src", "dst")
        val stored = graft.operators.GraphOps
          .minLabelComponents(oldIds.toDF("id"), df(oldEdges), rounds = None)
        val root = graft.sources.ScratchDirs
          .freshDirFor(spark, "/tmp/sg18prop", "sg18_prop")
        graft.sources.VersionedTable.publish(spark, s"$root/labels")(
          (_, v0) => stored.write.mode("overwrite").parquet(v0))
        (0 until nBatches).foreach { b =>
          val ids = (0 until nNew).filter(assign(_) == b).map(v => vid(v + nOld))
          val batch = (if (ids.isEmpty) Seq.empty[Long] else ids).toDF("doc_id")
          graft.streaming.StreamingOps
            .applyComponentsBatch(spark, root, df(newEdges), batch,
              c => c % 5 === 0)
        }
        val got = graft.sources.VersionedTable
          .readCurrent(spark, s"$root/labels").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toMap
        // union-find over ALL vertices and edges, on the real id space
        val allIds = (oldIds ++ (0 until nNew).map(v => vid(v + nOld))).distinct
        val idx = allIds.sorted.zipWithIndex.toMap
        val inv = idx.map(_.swap)
        val model = unionFind(allIds.size,
          edges.map { case (a, b) => (idx(a), idx(b)) })
          .map { case (v, c) => inv(v) -> inv(c) }
        got == model
    }

  property("bfsDepths equals a sequential min-depth BFS model") =
    forAll(graphGen, Gen.choose(1, 4)) { case ((n, edges), k) =>
      import spark.implicits._
      val bi = edges.flatMap { case (a, b) =>
        Seq((a.toLong, b.toLong), (b.toLong, a.toLong)) }
      val es =
        if (bi.isEmpty) Seq.empty[(Long, Long)].toDF("src", "dst")
        else bi.toDF("src", "dst")
      val got = graft.operators.GraphOps
        .bfsDepths(Seq(0L).toDF("id"), es, rounds = k)
        .collect().map(r => r.getLong(0).toInt -> r.getInt(1)).toMap
      val adj = bi.groupBy(_._1.toInt).map { case (v, es_) => v -> es_.map(_._2.toInt) }
      var depth = Map(0 -> 0)
      var frontier = Set(0)
      for (i <- 1 to k) {
        val nxt = frontier.flatMap(v => adj.getOrElse(v, Nil)).filterNot(depth.contains)
        nxt.foreach(v => depth += v -> i)
        frontier = nxt
      }
      got == depth
    }

  property("triangleCounts equals the local enumeration model") =
    forAll(graphGen) { case (n, edges) =>
      import spark.implicits._
      // canonical orientation + distinct, as the operator contract requires
      val canon = edges.map { case (a, b) =>
        (math.min(a, b).toLong, math.max(a, b).toLong) }.distinct
      val eset = canon.toSet
      val counts = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for {
        (a, b) <- canon
        c <- (b + 1) until n.toLong
        if eset((b, c)) && eset((a, c))
      } { counts(a) += 1; counts(b) += 1; counts(c) += 1 }
      val es =
        if (canon.isEmpty) Seq.empty[(Long, Long)].toDF("src", "dst")
        else canon.toDF("src", "dst")
      val got = graft.operators.GraphOps.triangleCounts(es)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == counts.toMap
    }

  // The restartable-mid-iteration contract gr_pagerank's integer fixed
  // point claims: a+b rounds straight through must be BIT-identical to a
  // rounds, a real checkpoint (the intermediate rank frame round-tripped
  // through parquet, losing cache and lineage), then b more rounds. Any
  // float arithmetic or partitioning-order dependence would falsify this.
  property("shortestPathRounds(k) equals the ≤k-edge min-plus model " +
      "(multi-seed, weighted, bounded-hop truncation)") =
    forAll(graphGen, Gen.choose(1, 4)) { case ((n, edges), k) =>
      import spark.implicits._
      // deterministic weights 1..5 from the endpoints; symmetrize
      val ew = edges.flatMap { case (a, b) =>
        val c = ((a + b) % 5 + 1).toLong
        Seq((a.toLong, b.toLong, c), (b.toLong, a.toLong, c))
      }
      val seeds = (0 until n).filter(_ % 3 == 0).map(_.toLong)
      val es =
        if (ew.isEmpty) Seq.empty[(Long, Long, Long)].toDF("u", "v", "cost")
        else ew.toDF("u", "v", "cost")
      val got = graft.operators.GraphOps
        .shortestPathRounds(seeds.toDF("id"), es, rounds = k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // model: k relaxation rounds over the same directed edge list
      var dist = seeds.map(_ -> 0L).toMap
      for (_ <- 1 to k) {
        val relaxed = ew.flatMap { case (u, v, c) =>
          dist.get(u).map(du => v -> (du + c)) }
        dist = (dist.toSeq ++ relaxed).groupBy(_._1)
          .map { case (v, ds) => v -> ds.map(_._2).min }
      }
      got == dist
    }

  property("pagerank restarts from a persisted round without drift") =
    forAll(graphGen suchThat (_._2.nonEmpty)) { case (_, edges) =>
      import spark.implicits._
      val canon = edges.map { case (a, b) =>
        (math.min(a, b).toLong, math.max(a, b).toLong) }.distinct
      val ed = (canon ++ canon.map(_.swap)).toDF("u", "v")
      val pr0 = ed.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
        .withColumn("pr", lit(1000000L))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val straight = rows(graft.operators.GraphOps.pagerankRounds(ed, pr0, 3))
      val ckpt = java.nio.file.Files
        .createTempDirectory("pr_ckpt").resolve("round1").toString
      graft.operators.GraphOps.pagerankRounds(ed, pr0, 1)
        .write.mode("overwrite").parquet(ckpt)
      val resumed = rows(graft.operators.GraphOps.pagerankRounds(
        ed, spark.read.parquet(ckpt).select("id", "deg", "pr"), 2))
      straight == resumed
    }
}
