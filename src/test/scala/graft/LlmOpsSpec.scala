package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the LLM-pipeline operators — properties the
  * DuckDB hash gate can't express (SURVEY.md §5 layer 3).
  */
class LlmOpsSpec extends AnyFunSuite {
  import TestSpark._

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("LSH pairs are a superset of the blocked-join Jaccard pairs") {
    // The planted near-dups have Jaccard ≈0.9+ → band-collision probability
    // ≈1-(1-j²)⁸ ≈ 1, so LSH must find every pair the blocked join finds.
    // LSH legitimately finds MORE: the (lang, length-bucket) blocking in j2
    // misses near-dups whose edit crossed a block boundary (the fixtures
    // plant cross-language near-dups), while banding is block-free.
    val lsh = run("lsh_minhash_pairs").select("doc_a", "doc_b", "jac")
    val brute = run("j2_jaccard_pairs").select("doc_a", "doc_b", "jac")
    assert(brute.exceptAll(lsh).count() == 0)
    assert(lsh.count() >= brute.count())
    assert(lsh.count() > 0) // fixture plants near-dups at every SF
  }

  test("j1 exact dedup is idempotent") {
    val once = run("j1_exact_dedup")
    assert(once.groupBy("text_hash").count().filter(col("count") > 1).count() == 0)
  }

  test("j3 top-1 neighbor of every query is itself with cos 1.0") {
    val top1 = run("j3_topk_cosine").filter(col("rank") === 1)
    assert(top1.filter(col("query_id") =!= col("vec_id")).count() == 0)
    assert(top1.filter(abs(col("cos") - 1.0) > 1e-9).count() == 0)
  }

  test("ivf cells partition the corpus and self is always retrievable") {
    val ivf = run("lsh_ivf_topk")
    val self = ivf.filter(col("query_id") === col("vec_id"))
    // the query lives in its own probed cell → must appear (at rank 1)
    assert(self.count() == run("j3_topk_cosine").select("query_id").distinct().count())
    assert(self.filter(col("rank") =!= 1).count() == 0)
  }

  test("simhash of near-dup docs differs in few bits") {
    val pairs = run("j2_jaccard_pairs").filter(col("jac") >= 0.9)
      .select("doc_a", "doc_b")
    val sh = run("lsh_simhash")
    val joined = pairs
      .join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("simhash", "ha"), "doc_a")
      .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("simhash", "hb"), "doc_b")
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
    assert(joined.filter(col("hamming") > 6).count() == 0)
  }

  test("quality score is bounded in [0,1] and pass flag is consistent") {
    val q = run("ta_quality_score")
    assert(q.filter(col("score") < 0 || col("score") > 1).count() == 0)
    assert(q.filter((col("score") >= 0.5) =!= (col("pass") === 1)).count() == 0)
  }

  test("fingerprint is content-determined: same text => same fp") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(md5(col("text")).as("h"))
    val fps = run("ta_fingerprint")
    // distinct texts vs distinct fps: fp collisions allowed but must not
    // exceed text duplicates (fp is a function of text).
    val nTexts = docs.distinct().count()
    assert(fps.select("fp").distinct().count() <= nTexts)
  }

  test("centroids are the exact per-label means (spot check one label/pos)") {
    val c = run("j4_centroid").filter(col("label") === 0 && col("pos") === 0)
      .collect()(0).getAs[Double]("c")
    val direct = graft.sources.Tables.embeddings(spark, sf)
      .filter(col("label") === 0)
      .select(element_at(col("embedding"), 1).cast("double").as("e"))
      .agg(avg("e")).collect()(0).getDouble(0)
    assert(math.abs(c - direct) < 1e-4)
  }

  test("ta_unigram_logprob: scores are negative, count-consistent, and " +
    "rank common-word docs above rare-word docs") {
    val lp = run("ta_unigram_logprob")
    // every unigram prob < 1 (no token IS the whole corpus) → ln < 0
    assert(lp.filter(col("avg_logprob") >= 0).count() == 0)
    // token accounting must agree with ta_token_stats' whitespace count
    val ws = run("ta_token_stats").select(col("doc_id"), col("ws_tokens"))
    assert(lp.join(ws, "doc_id")
      .filter(col("n_tokens") =!= col("ws_tokens")).count() == 0)
    assert(lp.count() == graft.sources.Tables.documents(spark, sf).count())
  }

  test("ta_repetition: hand-computed signals on a looping vs a clean doc") {
    import spark.implicits._
    // "a b a b a": bigrams [a b, b a, a b, b a] → 4 total, 2 unique, top 2
    // "a b c d e f g": 6 bigrams, all unique, top share 1/6 → passes
    // "solo": one token, no bigrams → must not appear at all
    val docs = Seq((1L, "a b a b a"), (2L, "a b c d e f g"), (3L, "solo"))
      .toDF("doc_id", "text")
    val r = graft.operators.LlmOps.repetitionOf(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(!r.contains(3L))
    val loop = r(1L)
    assert(loop.getLong(1) == 4 && loop.getLong(2) == 2)
    assert(loop.getDouble(3) == 0.5 && loop.getDouble(4) == 0.5)
    assert(loop.getInt(5) == 0)
    val clean = r(2L)
    assert(clean.getLong(1) == 6 && clean.getLong(2) == 6)
    assert(clean.getDouble(3) == 0.0 && clean.getDouble(4) == 0.1667)
    assert(clean.getInt(5) == 1)
  }

  test("lsh_simhash_pairs: chunk index is EXACT at the graded radius — " +
    "equals brute-force all-pairs hamming <= 2 (pigeonhole over 4 chunks)") {
    val sigs = graft.operators.Lsh.simhashBigramSigs(
      graft.sources.Tables.documents(spark, sf))
    val brute = sigs.alias("x").join(sigs.alias("y"),
        col("x.doc_id") < col("y.doc_id"))
      .withColumn("hamming",
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("int"))
      .filter(col("hamming") <= 2)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("hamming"))
    val indexed = run("lsh_simhash_pairs")
    // a pair within hamming 2 of 32 bits must agree on one of the 4 8-bit
    // chunks, so the banded index can neither miss nor invent a pair
    assert(indexed.exceptAll(brute).count() == 0)
    assert(brute.exceptAll(indexed).count() == 0)
    // exact text duplicates exist in the fixtures → pairs at hamming 0
    assert(indexed.filter(col("hamming") === 0).count() > 0)
  }

  test("ta_boilerplate: hand-built hot-shingle corpus") {
    import spark.implicits._
    // shingle "a b c" appears in docs 1-5 (df=5 >= minDf); doc 6 shares no
    // shingle with anyone. Suffixes make every other shingle unique.
    val docs = (1L to 5L).map(i => (i, s"a b c d$i e$i", "en")) :+ ((6L, "p q r s", "en"))
    val r = graft.operators.LlmOps.boilerplateOf(docs.toDF("doc_id", "text", "lang"), 5)
      .collect().map(x => x.getLong(0) -> x).toMap
    // docs 1-5: shingles {a b c, b c dI, c dI eI} → nsh 3, one boilerplate
    (1L to 5L).foreach { i =>
      assert(r(i).getLong(1) == 3 && r(i).getLong(2) == 1)
      assert(math.abs(r(i).getDouble(3) - 0.3333) < 1e-9)
    }
    // doc 6: shingles {p q r, q r s} → nothing hot
    assert(r(6L).getLong(1) == 2 && r(6L).getLong(2) == 0 && r(6L).getDouble(3) == 0.0)
  }

  test("ta_redact: word-boundary semantics — whole words only") {
    import spark.implicits._
    // "indexes"/"monkey" must NOT match \b(key|merge|index)\b; the three
    // whole-word occurrences must.
    val docs = Seq((1L, "key of the merge and indexes monkey key"),
                   (2L, "nothing to see")).toDF("doc_id", "text")
    val r = graft.operators.LlmOps.redactOf(docs)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) == 3)
    assert(r(2L).getLong(1) == 0)
    // hash equals the md5 of the expected redacted string
    val expected = spark.sql(
      "SELECT md5('[X] of the [X] and indexes monkey [X]') AS h")
      .collect()(0).getString(0)
    assert(r(1L).getString(2) == expected)
  }

  test("dd_substr_spans: planted verbatim span localized exactly; " +
    "sub-threshold overlap suppressed") {
    import spark.implicits._
    val shared = (1 to 25).map(i => s"s$i").mkString(" ")
    val short = (1 to 15).map(i => s"u$i").mkString(" ")
    val docs = Seq(
      (1L, s"p1 p2 p3 $shared q1 q2"), // span at pos 3
      (2L, s"z1 $shared"),             // same span at pos 1
      (3L, s"a1 a2 $short b1 b2"),     // 15-token overlap — below minSpan
      (4L, s"c1 $short d1")).toDF("doc_id", "text")
    val spans = graft.operators.LlmOps.substrSpansOf(docs).collect()
    assert(spans.length == 1)
    val r = spans(0)
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    // 16 consecutive 10-gram matches on one diagonal → span of exactly 25
    assert(r.getInt(2) == 3 && r.getInt(3) == 1 && r.getLong(4) == 25L)
  }

  test("dd_substr_cut: higher-id copy removed, lowest-id survives, " +
    "fully-duplicated docs cut to empty and restored by the right join") {
    import spark.implicits._
    val shared = (1 to 25).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"p1 p2 p3 $shared q1 q2"), // keeps everything (lowest id)
      (2L, s"z1 $shared"),             // loses the 25 shared tokens
      (5L, shared),                    // verbatim dup of the span — fully cut
      (6L, shared)).toDF("doc_id", "text")
    val r = graft.operators.LlmOps.substrCutOf(docs)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) == 30 && r(1L).getLong(2) == 0)
    assert(r(2L).getLong(1) == 1 && r(2L).getLong(2) == 25)
    assert(r(5L).getLong(1) == 0 && r(5L).getLong(2) == 25)
    assert(r(6L).getLong(1) == 0 && r(6L).getLong(2) == 25)
    val expect = spark.sql("SELECT md5('z1') AS a, md5('') AS b").collect()(0)
    assert(r(2L).getString(3) == expect.getString(0))
    assert(r(5L).getString(3) == expect.getString(1))
  }

  test("dd_source_overlap: unordered source pairs, pair counts consistent " +
    "with the graded jaccard pairs") {
    val d = "/root/testdata/sf0.001"
    val m = graft.operators.LlmOps.queries("dd_source_overlap")(spark, d).collect()
    assert(m.nonEmpty)
    // normalization invariant: every row's pair is unordered-canonical
    assert(m.forall(r => r.getString(0) <= r.getString(1)))
    // total pair mass equals the graded near-dup pair count
    val pairs = graft.operators.LlmOps.queries("j2_jaccard_pairs")(spark, d).count()
    assert(m.map(_.getLong(2)).sum == pairs)
  }

  test("dd_incremental: every new-batch doc gated exactly once; hits are " +
    "cross-side only and admit complements them") {
    val d = "/root/testdata/sf0.001"
    val g = graft.operators.LlmOps.queries("dd_incremental")(spark, d).collect()
    // one verdict per new-batch doc
    val newIds = graft.sources.Tables.documents(spark, d)
      .filter("doc_id % 5 = 0").count()
    assert(g.length == newIds && g.map(_.getLong(0)).distinct.length == g.length)
    // admit == (no hits); rejected docs carry a real similarity
    assert(g.forall(r => (r.getInt(3) == 1) == (r.getLong(1) == 0L)))
    assert(g.filter(_.getInt(3) == 0).forall(_.getDouble(2) >= 0.5))
    // hit mass equals the graded pair frame's cross-side subset
    val crossPairs = graft.operators.LlmOps.queries("j2_jaccard_pairs")(spark, d)
      .filter("(doc_a % 5 = 0) != (doc_b % 5 = 0)").count()
    assert(g.map(_.getLong(1)).sum == crossPairs)
  }

  test("ta_oov_rate: top-K vocab selection is tie-stable and OOV mass " +
    "is the occurrence weight outside it") {
    import spark.implicits._
    // counts: a=3, b=1, c=1 — K=2 takes a then the b/c tie breaks to b
    val docs = Seq((1L, "a b c"), (2L, "a a")).toDF("doc_id", "text")
    val r = graft.operators.LlmOps.oovRateOf(docs, vocabK = 2)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) == 3 && r(1L).getLong(2) == 1)
    assert(r(1L).getDouble(3) == 0.3333)
    assert(r(2L).getLong(2) == 0 && r(2L).getDouble(3) == 0.0)
  }

  test("ta_bigram_logprob: hand-computed Laplace-smoothed transition " +
    "scores; sub-2-token docs drop out") {
    import spark.implicits._
    // cb: "a b"→3, "b a"→1, "b c"→1; ca: a→3, b→2; V=4 (incl. "solo")
    // doc1: (2·ln(4/7) + ln(2/6))/3 = −0.7393; doc2: (ln(4/7)+ln(2/6))/2
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "solo"))
      .toDF("doc_id", "text")
    val r = graft.operators.LlmOps.bigramLogprobOf(docs)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(!r.contains(3L))
    assert(r(1L).getLong(1) == 3 && r(1L).getDouble(2) == -0.7393)
    assert(r(2L).getLong(1) == 2 && r(2L).getDouble(2) == -0.8291)
    assert(r(1L).getInt(3) == 1 && r(2L).getInt(3) == 1)
  }

  test("ta_entropy: hand-computed values — skewed, uniform, degenerate") {
    import spark.implicits._
    val docs = Seq((1L, "a a b"), (2L, "a b c"), (3L, "a a a a"))
      .toDF("doc_id", "text")
    val r = graft.operators.LlmOps.entropyOf(docs)
      .collect().map(x => x.getLong(0) -> x).toMap
    // H("a a b") = ln3 - 2ln2/3 = 0.6365; uniform = ln3; constant = 0
    assert(r(1L).getLong(1) == 3 && r(1L).getLong(2) == 2)
    assert(r(1L).getDouble(3) == 0.6365)
    assert(r(2L).getDouble(3) == 1.0986)
    assert(r(3L).getDouble(3) == 0.0)
    // entropy is maximal for the uniform doc of the same length
    assert(r(2L).getDouble(3) > r(1L).getDouble(3))
  }

  test("sem_dedup: survivors are in-cell pairwise below the threshold, " +
    "and every cell's minimum vec_id survives") {
    val survivors = run("sem_dedup")
    val all = graft.operators.Lsh.ivfAssignments(spark, sf, nlist = 10, nprobe = 1)
      .filter(col("rnk") === 1)
    // keep-lowest can never drop the lowest vec_id of a cell
    val cellMins = all.groupBy("cell").agg(min("vec_id").as("vec_id"))
    assert(cellMins.join(survivors, Seq("vec_id"), "left_anti").count() == 0)
    // survivors of the same cell must all be below τ pairwise: if a<b with
    // cos≥τ shared a cell, b is dropped by definition — so none remain
    val s = survivors.join(all.select("vec_id", "v", "nrm"), "vec_id")
    val pairs = s.alias("x").join(s.alias("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .withColumn("cos",
        graft.plans.VectorExpressions.dot_product(col("x.v"), col("y.v")) /
          (col("x.nrm") * col("y.nrm")))
    assert(pairs.filter(col("cos") >= 0.4).count() == 0)
    // dedup is a pruning: survivors ⊆ corpus, and nothing else was invented
    assert(survivors.join(all, Seq("vec_id"), "left_anti").count() == 0)
  }

  test("ta_mad_outliers equals a local median/MAD model per source") {
    // quantile_cont interpolation, computed sequentially per source
    def q50(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val pos = (s.length - 1) * 0.5
      val (lo, hi) = (s(pos.toInt), s(math.ceil(pos).toInt))
      lo + (pos - pos.toInt) * (hi - lo)
    }
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = docs.groupBy(_._2).flatMap { case (_, rows) =>
      val med = q50(rows.map(_._3.toDouble).toSeq)
      val mad = q50(rows.map(r => math.abs(r._3 - med)).toSeq)
      rows.filter(r => math.abs(r._3 - med) > 2 * mad).map(_._1).toSeq
    }.toSet
    val got = run("ta_mad_outliers").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(got.nonEmpty && got == expected)
  }

  test("pp_score_calibration: deciles partition the corpus, means monotone") {
    val r = run("pp_score_calibration").collect()
    val nTotal = graft.sources.Tables.documents(spark, sf).count()
    assert(r.map(_.getAs[Long]("n_docs")).sum == nTotal)
    assert(r.forall(x => x.getAs[Int]("decile") >= 1 && x.getAs[Int]("decile") <= 10))
    val means = r.sortBy(_.getAs[Int]("decile")).map(_.getAs[Double]("avg_score"))
    assert(means.zip(means.tail).forall { case (a, b) => a <= b })
    assert(r.forall { x =>
      val d = x.getAs[Double]("dup_rate"); d >= 0.0 && d <= 1.0 })
  }

  test("dd_cluster_stats: histogram accounts for every doc and every " +
    "cluster exactly once") {
    import org.apache.spark.sql.functions._
    val h = run("dd_cluster_stats").collect()
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    // docs covered across size buckets = the whole corpus (components
    // assign every doc exactly one label, singletons included)
    assert(h.map(_.getAs[Long]("n_docs")).sum == nDocs)
    // cluster count across buckets = keep-one survivor count (one
    // representative per cluster, by construction of dd_keep_one)
    val nKeep = run("dd_keep_one").count()
    assert(h.map(_.getAs[Long]("n_clusters")).sum == nKeep)
    // within a bucket, docs = size × clusters
    assert(h.forall(r => r.getAs[Long]("n_docs") ==
      r.getAs[Long]("cluster_size") * r.getAs[Long]("n_clusters")))
  }

  test("ta_novelty: first use gets full credit, a verbatim copy scores zero, " +
      "shingle-less docs drop out") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d", "en", "s"),
      (2L, "a b c d", "en", "s"), // verbatim copy of 1 → novelty 0
      (3L, "x y z w", "en", "s"), // disjoint content → novelty 1
      (4L, "a b", "en", "s")      // < 3 tokens → no shingles → absent
    ).toDF("doc_id", "text", "lang", "source")
    val got = graft.operators.LlmOps.noveltyOf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(1L -> (2L, 2L), 2L -> (2L, 0L), 3L -> (2L, 2L)))
  }

  test("d13: two-pass MG heavy hitters equal the exact frequent-item set " +
      "on a skewed stream") {
    import spark.implicits._
    // a=50 b=30 c=10, plus 8 singletons → N=98; k=3 → threshold N/4=24.5
    val occ = (Seq((1L, "a", 50L), (1L, "b", 30L), (1L, "c", 10L)) ++
      (1 to 8).map(i => (2L, s"t$i", 1L))).toDF("doc_id", "tok", "m")
    val got = graft.operators.LlmOps.heavyHittersOf(occ, 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 50L, "b" -> 30L))
  }

  test("ta_zipf: a Zipfian corpus fits slope ~ -1 with high r2, uniform ~ 0") {
    import spark.implicits._
    // token k appears floor(2000/k) times, k = 1..100 → exact power law
    val zipfOcc = (1 to 100).map(k => (1L, f"t$k%03d", (2000 / k).toLong))
      .toDF("doc_id", "tok", "m")
    val z = graft.operators.LlmOps.zipfOf(zipfOcc).collect()(0)
    assert(z.getLong(0) == 100)
    assert(math.abs(z.getDouble(1) - (-1.0)) < 0.05, s"slope ${z.getDouble(1)}")
    assert(z.getDouble(2) > 0.99, s"r2 ${z.getDouble(2)}")
    // uniform counts → flat slope, r2 undefined-or-0 (deny = 0 → null r2)
    val uniOcc = (1 to 50).map(k => (1L, f"u$k%03d", 10L)).toDF("doc_id", "tok", "m")
    val u = graft.operators.LlmOps.zipfOf(uniOcc).collect()(0)
    assert(u.getDouble(1) == 0.0, s"uniform slope ${u.getDouble(1)}")
  }

  test("ta_heaps: new types land in their first-doc bucket, vocab accumulates") {
    import spark.implicits._
    // doc k introduces its own token new_k; every doc also repeats "the"
    // (first-doc 0). Buckets of 10 over 35 docs → 4 buckets.
    val occ = (0L until 35L).flatMap(k =>
      Seq((k, s"new_$k", 1L), (k, "the", 3L))).toDF("doc_id", "tok", "m")
    val got = graft.operators.LlmOps.heapsOf(occ, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (0L, 11L, 11L),   // 10 new_k + "the"
      (10L, 10L, 21L),
      (20L, 10L, 31L),
      (30L, 5L, 36L)))
  }

  test("ta_bm25: top-20 matches a sequential BM25 model on the fixture") {
    val got = SparkEntry.queries("ta_bm25")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val n = docs.length.toDouble
    val avgdl = docs.map(_._2.length).sum.toDouble / docs.length
    val termCnt = docs.flatMap { case (id, ts) =>
      ts.groupBy(identity).map { case (w, g) => (id, w, g.size, ts.length) } }
    val df = termCnt.groupBy(_._2).map { case (w, g) => w -> g.size }
    val q = termCnt.groupBy(_._2).map { case (w, g) => w -> g.map(_._3).sum }
      .toSeq.sortBy { case (w, c) => (-c, w) }.take(3).map(_._1).toSet
    val model = termCnt.filter(t => q(t._2)).groupBy(_._1).map { case (id, g) =>
      val ticks = g.map { case (_, w, cnt, dlen) =>
        math.round((math.log(1.0 + (n - df(w) + 0.5) / (df(w) + 0.5)) *
          ((cnt * 2.2) / (cnt + 1.2 * (0.25 + 0.75 * dlen / avgdl)))) * 1e7)
      }.sum
      (id, ticks / 1e7, g.size.toLong)
    }.toSeq.sortBy { case (id, s, _) => (-s, id) }.take(20)
    assert(got.length == 20)
    got.zip(model).foreach { case ((gi, gs, gt), (mi, ms, mt)) =>
      assert(gi == mi && gt == mt && math.abs(gs - ms) <= 1e-6,
        s"got ($gi,$gs,$gt) model ($mi,$ms,$mt)")
    }
  }

  test("ta_tfidf and ta_bm25 share ONE storage copy of the posting frame") {
    // The two heaviest batch text queries both materialize the
    // (doc, dlen, word, cnt) posting frame through the shared termFrame
    // builder; Spark's CacheManager keys on the canonical plan, so the
    // second materialize must be a storage no-op. The proof is at the
    // BlockManager level: after ta_tfidf executes, running ta_bm25 must
    // not add a single new cached RDD (a second copy of a corpus-sized
    // posting frame would be ~the most expensive silent duplication in
    // the registry).
    SparkEntry.queries("ta_tfidf")(spark, sf).collect()
    val before = spark.sparkContext.getRDDStorageInfo
      .filter(_.isCached).map(_.id).toSet
    SparkEntry.queries("ta_bm25")(spark, sf).collect()
    val after = spark.sparkContext.getRDDStorageInfo
      .filter(_.isCached).map(_.id).toSet
    assert((after -- before).isEmpty,
      s"ta_bm25 materialized a second posting-frame copy: new cached " +
        s"RDD ids ${(after -- before).mkString(",")}")
  }

  test("ta_pmi: a perfect collocation outranks chance pairs, values exact") {
    import spark.implicits._
    // "xq yq" is a pure collocation (xq only ever precedes yq); the
    // the/a × cat/dog grid is chance co-occurrence of common words.
    val docs = Seq(
      (1L, "xq yq xq yq xq yq"),
      (2L, "the cat the dog a cat a dog"),
      (3L, "the dog a cat the cat a dog"),
      (4L, "xq yq the cat a dog xq yq")
    ).toDF("doc_id", "text")
    val got = graft.operators.LlmOps.pmiOf(docs, 2L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // sequential model: same bigrams (within doc, across all positions),
    // same marginals, same snapped ln
    val bgs = Seq("xq yq xq yq xq yq", "the cat the dog a cat a dog",
      "the dog a cat the cat a dog", "xq yq the cat a dog xq yq")
      .flatMap(t => t.split(" ").sliding(2).map(_.mkString(" ")))
    val cb = bgs.groupBy(identity).map { case (b, g) => b -> g.size.toLong }
    val ca = cb.groupBy(_._1.split(" ")(0)).map { case (w, g) => w -> g.values.sum }
    val cz = cb.groupBy(_._1.split(" ")(1)).map { case (w, g) => w -> g.values.sum }
    val n = cb.values.sum.toDouble
    val model = cb.filter(_._2 >= 2L).map { case (b, c) =>
      val Array(w1, w2) = b.split(" ")
      (b, c, math.round(math.log(c.toDouble * n / (ca(w1).toDouble * cz(w2).toDouble)) * 1e7) / 1e7)
    }.toSeq.sortBy(t => (-t._3, t._1))
    assert(got.toSeq == model)
    // both xq/yq transitions are pure collocations (those tokens never pair
    // with anything else); either outranks every the/a × cat/dog pair
    assert(Set("xq yq", "yq xq")(got.head._1),
      s"collocation not ranked first: ${got.head}")
    val grid = got.filter(r => !Set("xq yq", "yq xq")(r._1)).map(_._3)
    assert(grid.nonEmpty && grid.max < got.head._3)
  }

  test("ta_kn_bigram: hand-computed KN probabilities on a tiny corpus") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "c b")).toDF("doc_id", "text")
    val r = graft.operators.LlmOps.knBigramOf(docs).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    // cb: "a b"→2, "b a"→1, "c b"→1; T=3; ca(a)=2 n1r(a)=1; ca(b)=ca(c)=1;
    // continuation types: n1l(b)=2 ("a b","c b"), n1l(a)=1
    val pAB = (2 - 0.75) / 2 + 0.75 * 1 / 2.0 * (2 / 3.0) // 0.875
    val pBA = (1 - 0.75) / 1 + 0.75 * 1 / 1.0 * (1 / 3.0) // 0.5
    val pCB = (1 - 0.75) / 1 + 0.75 * 1 / 1.0 * (2 / 3.0) // 0.75
    val exp1 = (2 * math.log(pAB) + math.log(pBA)) / 3
    val exp2 = math.log(pCB)
    assert(r(1L)._1 == 3 && math.abs(r(1L)._2 - exp1) < 1e-3)
    assert(r(2L)._1 == 1 && math.abs(r(2L)._2 - exp2) < 1e-3)
  }

  test("ta_kn_bigram: continuation counts separate what Laplace can't — " +
    "a token seen after many contexts backs off higher than an equal-count " +
    "token welded to one context") {
    import spark.implicits._
    // y and z both occur once after the shared context w with identical
    // bigram counts, but y otherwise follows only x while z follows four
    // distinct contexts: KN must score "w z" above "w y" (z's continuation
    // set is bigger), while the Laplace model sees identical (cb, ca, V)
    // and scores them equal.
    val docs = Seq(
      (1L, "x y x y x y x y"),
      (2L, "a z b z c z d z"),
      (3L, "w y"), (4L, "w z")).toDF("doc_id", "text")
    val kn = graft.operators.LlmOps.knBigramOf(docs)
      .filter(col("doc_id").isin(3L, 4L))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(kn(4L) > kn(3L), s"KN did not rank the diverse continuation higher: $kn")
    val lap = graft.operators.LlmOps.bigramLogprobOf(docs)
      .filter(col("doc_id").isin(3L, 4L))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(lap(3L) == lap(4L), s"Laplace control broke: $lap")
  }

  test("dd_keep_best: one representative per component, and it is the " +
    "score argmax (ties to the lowest id) among the component's members") {
    val best = run("dd_keep_best")
      .select("doc_id", "comp", "score_t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val one = run("dd_keep_one").select("doc_id").collect().map(_.getLong(0))
    // both keep exactly one doc per component
    assert(best.length == one.length)
    assert(best.map(_._2).distinct.length == best.length)
    // recompute every member's score with the same expressions and assert
    // the winner dominates its whole component
    val comp = graft.operators.LlmOps.componentsOf(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scores = SparkEntry.queries("dd_keep_best")(spark, sf) // winner rows
      .select("doc_id", "score_t").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val allScores = graft.sources.Tables.documents(spark, sf)
      .withColumn("tk", split(col("text"), " "))
      .withColumn("n_tok", size(col("tk")).cast("long"))
      .withColumn("uniq_ratio",
        size(array_distinct(col("tk"))).cast("double") / col("n_tok"))
      .withColumn("stop_ratio",
        size(filter(col("tk"), x => x.isin("the", "a"))).cast("double") / col("n_tok"))
      .withColumn("score_t", graft.functions.ExactNum.tenK(
        lit(0.3) * col("uniq_ratio") + lit(0.4) * (lit(1.0) - col("stop_ratio")) +
          lit(0.3) * least(col("n_tok") / 100.0, lit(1.0))))
      .select("doc_id", "score_t").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    best.foreach { case (id, c, st) =>
      assert(allScores(id) == st, s"winner $id score mismatch")
      comp.foreach { case (m, mc) =>
        if (mc == c) assert(allScores(m) < st ||
          (allScores(m) == st && m >= id), s"member $m beats winner $id")
      }
    }
  }

  test("ta_sttr: repetitive text scores near 1/window, fully diverse text " +
    "scores 1.0, and short docs drop out") {
    import spark.implicits._
    val docs = Seq(
      (1L, Seq.fill(50)("x").mkString(" ")),            // 2 segs, 1 type each
      (2L, (1 to 50).map(i => s"w$i").mkString(" ")),   // 2 segs, all distinct
      (3L, Seq.fill(24)("y").mkString(" "))             // no full segment
    ).toDF("doc_id", "text")
    val r = graft.operators.LlmOps.sttrOf(docs, 25).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    assert(r(1L) == ((2L, math.round(2.0 / 50 * 10000) / 10000.0)))
    assert(r(2L) == ((2L, 1.0)))
    assert(!r.contains(3L))
  }

  test("stored-index refresh handles the cap-crossing shingle a stale " +
    "artifact manufactures pairs through") {
    import spark.implicits._
    import graft.operators.LlmOps
    // cap 2: shingle "a b c" has df 2 in the OLD corpus (under the cap)
    // and df 3 once doc 5 lands (over it). A probe against the STALE
    // artifact keeps it and manufactures (1,5)/(2,5) pairs; a full
    // rebuild drops it and finds none of them. The (3,10) pair shares
    // only under-cap shingles and must survive everywhere.
    val cap = 2
    val tau = 0.1
    val docs = Seq(
      (1L, "en", "a b c x1 y1"), (2L, "en", "a b c x2 y2"),
      (3L, "en", "p q r s"),
      (5L, "en", "a b c x3 y3"), (10L, "en", "p q r s z"))
      .toDF("doc_id", "lang", "text")
    val isNew = (c: org.apache.spark.sql.Column) => c % 5 === 0
    def probePairs(inv: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      LlmOps.jaccardFromIndex(inv, tau)
        .filter(isNew(col("doc_a")) || isNew(col("doc_b")))
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val root = graft.sources.ScratchDirs
      .freshDirFor(spark, "/tmp/idx_refresh_spec", "cap_cross")
    val oldRows = LlmOps.shingleRows(docs.filter(!isNew(col("doc_id"))))
    val incRows = LlmOps.shingleRows(docs.filter(isNew(col("doc_id"))))
    assert(LlmOps.writeShingleArtifact(spark, root, oldRows, maxDf = cap) == 0L)
    // STALE probe: the increment's rows checked against v0's stop list —
    // "a b c" is not hot there, so the phantom pairs appear
    val stale = probePairs(
      oldRows.unionByName(incRows)
        .join(broadcast(spark.read.parquet(
          graft.sources.VersionedTable.dir(root, 0L) + "/stop")),
          Seq("h"), "left_anti"))
    assert(stale == Set((1L, 5L), (2L, 5L), (3L, 10L)))
    // full rebuild over old ∪ increment: the cap drops "a b c"
    val rebuild = LlmOps.jaccardPairsOf(docs, tau, maxDf = cap)
      .filter(isNew(col("doc_a")) || isNew(col("doc_b")))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rebuild == Set((3L, 10L)))
    // REFRESH republishes df + stop over the union; the refreshed-artifact
    // probe now equals the rebuild, and the pointer moved atomically
    val v1 = LlmOps.writeShingleArtifact(spark, root, incRows, maxDf = cap)
    assert(v1 == 1L)
    assert(graft.sources.VersionedTable.current(spark, root).contains(1L))
    assert(probePairs(LlmOps.readCappedShingleIndex(spark, root)) == rebuild)
    // v0 stays readable (immutable versions) until a vacuum prunes it
    assert(spark.read.parquet(graft.sources.VersionedTable.dir(root, 0L) + "/rows")
      .count() == oldRows.count())
  }
}
