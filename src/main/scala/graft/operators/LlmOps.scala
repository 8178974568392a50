package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{ConfScope, Q}
import graft.functions.ExactNum._
import graft.sources.Tables._
import graft.sources.VersionedTable

/** LLM-training-data pipeline operators — SURVEY.md §2 group J plus the
  * text-analysis / multimodal surface the north star mandates: exact and
  * near dedup, top-k cosine similarity search, centroid aggregation, word
  * frequencies, quality scoring, language-ID heuristics, fingerprinting,
  * token statistics, and binary-column decode plumbing.
  *
  * Scale notes:
  *  - Near-dup pairing is a *blocked* self-join — (lang, token-length
  *    bucket) equi-keys bound the pair blow-up and hash-partition cleanly;
  *    the MinHash-LSH variant (graft.operators.Lsh) is the 100-TB path.
  *  - Top-k cosine broadcasts the (small) query set against the corpus:
  *    one pass, no shuffle of the corpus; the IVF variant in Lsh probes
  *    one coarse cell instead of the full corpus.
  *  - All array math uses higher-order functions (transform/zip_with/
  *    aggregate) — codegen'd, no UDFs; folds run left-to-right in both
  *    engines so float results are bit-identical.
  */
object LlmOps {

  /** Word tokens of the document text. */
  private def toks: Column = split(col("text"), " ")

  /** Left-to-right float64 dot product — the codegen'd Catalyst expression
    * (graft.plans.DotProduct) whose fold order matches DuckDB's
    * list_reduce(list_prepend(0.0, …)) bit-for-bit. */
  private def dot(a: Column, b: Column): Column =
    graft.plans.VectorExpressions.dot_product(a, b)

  private def toDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Modulus shared by the shingle hashes and the MinHash family. */
  private[graft] val P = 2147483647L // 2^31 - 1

  /** One row per (doc, token-bigram) OCCURRENCE — the posexplode + lead()
    * window stream (one shuffle, on doc_id) shared by [[repetitionOf]],
    * `ta_bigrams` and the simhash signature builder (Lsh.simhashBigramSigs)
    * so the tokenization/bigram semantics cannot diverge between graded
    * operators. Docs with < 2 tokens produce no rows. */
  private[graft] def bigramRows(docs: DataFrame): DataFrame = {
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .withColumn("t2", lead(col("tok"), 1).over(byPos))
      .filter(col("t2").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("tok"), col("t2")).as("bg"))
  }

  /** Vocabulary-growth core (see the `ta_heaps` registry note) over any
    * (doc_id, tok, m) occurrence frame. */
  private[graft] def heapsOf(occ: DataFrame, bucketDocs: Int): DataFrame =
    graft.functions.BandedScan.cumSum(
      occ
        .groupBy("tok").agg(min(col("doc_id")).as("fd"))
        .groupBy(expr(s"fd div $bucketDocs").as("bucket"))
        .agg(count(lit(1)).as("new_types")),
      // the frame is the bucket histogram — corpus_docs/bucketDocs rows,
      // the dataset-card resolution knob — one explicit-partition scan
      "bucket", "new_types", "vocab",
      desc = false, includeCurrent = true)
      .select((col("bucket") * bucketDocs).as("docs_start"), col("new_types"),
        col("vocab"))
      .orderBy("docs_start")

  /** Zipf power-law fit core (see the `ta_zipf` registry note) over any
    * (doc_id, tok, m) occurrence frame — parameterized so tests can feed a
    * true Zipfian corpus (slope → −1) and a uniform one (slope → 0). */
  private[graft] def zipfOf(occ: DataFrame): DataFrame = {
    val top = occ
      .groupBy("tok").agg(sum(col("m")).as("c"))
      .filter(col("c") >= 2)
      .orderBy(col("c").desc, col("tok").asc).limit(200)
    top
      // rank the limit-bounded frame by one array sort (struct(-c, tok)
      // ascending = (c desc, tok asc)) + posexplode — no window, so no
      // single-partition WindowExec; the frame is ≤ 200 rows by the
      // limit() above, never the vocabulary
      .agg(array_sort(collect_list(
        struct((-col("c")).as("nc"), col("tok"), col("c")))).as("a"))
      .select(posexplode(col("a")).as(Seq("i", "s")))
      .select((col("i") + 1).cast("long").as("r"), col("s.c").as("c"))
      .select(round(log(col("r")) * 1e4).cast("long").as("x"),
        round(log(col("c")) * 1e4).cast("long").as("y"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("x*x")).as("sxx"), sum(expr("x*y")).as("sxy"),
        sum(expr("y*y")).as("syy"))
      .select(col("n").as("n_points"),
        expr("n*sxy - sx*sy").as("num"),
        expr("n*sxx - sx*sx").as("denx"),
        expr("n*syy - sy*sy").as("deny"))
      .select(col("n_points"),
        (expr("""CASE WHEN num >= 0 THEN (20000*num + denx) div (2*denx)
                 ELSE -((20000*(-num) + denx) div (2*denx)) END""") / 1e4)
          .as("slope"),
        round4(col("num").cast("double") * col("num") /
          expr("nullif(cast(denx as double)*deny, 0)")).as("r2"))
  }

  /** Corpus-level PMI per frequent bigram (see the `ta_pmi` registry note).
    * Separated so tests can drive it with synthetic collocation text. */
  private[graft] def pmiOf(docs: DataFrame, minCnt: Long): DataFrame = {
    val cb = graft.CacheRegistry.materialize(
      bigramRows(docs).groupBy("bg").agg(count(lit(1)).as("cnt")))
    val ca = cb.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("cnt")).as("ca"))
    val cz = cb.groupBy(substring_index(col("bg"), " ", -1).as("w2"))
      .agg(sum(col("cnt")).as("cz"))
    val n = cb.agg(sum(col("cnt")).cast("double").as("n"))
    cb.filter(col("cnt") >= minCnt)
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(ca, "w1").join(cz, "w2")
      .crossJoin(broadcast(n))
      .select(col("bg").as("bigram"), col("cnt"),
        (round(log(col("cnt").cast("double") * col("n") /
          (col("ca").cast("double") * col("cz").cast("double"))) * 1e7)
          .cast("long") / 1e7).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram").asc)
  }

  /** One row per distinct (doc, hashed word-3-gram shingle), plus the
    * (lang, length-bucket) block key. Built relationally — posexplode +
    * lead() window + row-level md5 — because Spark's higher-order-function
    * lambdas are interpreted (CodegenFallback): the row-level form keeps the
    * whole shingle pipeline inside whole-stage codegen and is reused by both
    * the Jaccard join (J2) and the MinHash signatures (Lsh). Hashing
    * shingles to ints makes every downstream comparison an integer op; the
    * md5-derived hash is engine-portable so oracles mirror it exactly. */
  private[graft] def shingleRows(df: DataFrame): DataFrame = {
    val toks = df.select(col("doc_id"), col("lang"),
      expr("(size(split(text, ' ')) div 10)").as("blk"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    // All three windows partition by doc_id, so the whole pipeline is ONE
    // shuffle: lead() builds the 3-grams, lag() dedups within the sorted
    // partition (instead of a dropDuplicates that would add a second
    // exchange), and count() carries the per-doc shingle-set size inline so
    // consumers never need a separate `sizes` aggregate (which would
    // re-evaluate this whole subtree — Spark doesn't share plan subtrees).
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val byHash = Window.partitionBy("doc_id").orderBy("h")
    val perDoc = Window.partitionBy("doc_id")
    toks
      .withColumn("s2", lead(col("tok"), 1).over(byPos))
      .withColumn("s3", lead(col("tok"), 2).over(byPos))
      .filter(col("s3").isNotNull)
      .select(col("doc_id"), col("lang"), col("blk"),
        (conv(substring(md5(concat_ws(" ", col("tok"), col("s2"), col("s3"))), 1, 15), 16, 10)
          .cast("long") % P).as("h"))
      .withColumn("dup", lag(col("h"), 1).over(byHash) === col("h"))
      .filter(!coalesce(col("dup"), lit(false)))
      .drop("dup")
      .withColumn("nsh", count(lit(1)).over(perDoc))
  }

  /** Stop-shingle document-frequency cap. The cost of every inverted-index
    * pair expansion below is Σ_shingle df(shingle)² — one boilerplate
    * 3-gram shared by a large fraction of the corpus makes a single key
    * quadratic at scale, so shingles with df above this bound are dropped
    * from the index before ANY pair generation (candidate and verification
    * alike; the per-doc set size `nsh` deliberately stays the FULL size, so
    * a capped pair's Jaccard can only shrink — a hot boilerplate shingle
    * never manufactures a near-dup). Fixture max df is 25 at sf0.1, so 100
    * leaves every graded result unchanged while bounding any one shingle's
    * pair contribution to df² ≤ 10⁴. Mirrored in the oracles as
    * `HAVING count(*) > cap` anti-joins. */
  private[graft] val MaxShingleDf = 100

  /** The shingle index is referenced 2-3× per consumer and Spark re-evaluates
    * subtrees (ReusedExchange doesn't fire through the window chain), so
    * materialize it once via the registry (the harness owns release;
    * CacheManager keys on the canonical plan, so the Jaccard and MinHash
    * queries share a single copy, ~40 bytes/shingle). At cluster scale this
    * is the standard "build the dedup index once" materialization.
    *
    * The returned index is df-capped: the hot-shingle set (an aggregate of
    * the materialized index — partial+final, so the skewed key is combined
    * map-side) is tiny by construction and broadcast into a left-anti join;
    * no shuffle keys on the skewed shingle itself. */
  /** The hot-shingle (df > maxDf) stop list of `df` — the capping artifact
    * [[shingleIndex]] subtracts. Exposed separately for the streaming
    * admission gate: a stored corpus index SHIPS its stop-shingle list, and
    * arriving batches must drop the same shingles or their signatures
    * drift from the index they are checked against. The materialize here
    * resolves to the same storage copy as shingleIndex's (canonical-plan
    * keyed). */
  private[graft] def hotShingles(df: DataFrame, maxDf: Int = MaxShingleDf): DataFrame =
    graft.CacheRegistry.materialize(shingleRows(df))
      .groupBy("h").agg(count(lit(1)).as("df_"))
      .filter(col("df_") > maxDf).select("h")

  private[graft] def shingleIndex(df: DataFrame, maxDf: Int = MaxShingleDf): DataFrame = {
    val full = graft.CacheRegistry.materialize(shingleRows(df))
    val hot = full.groupBy("h").agg(count(lit(1)).as("df_"))
      .filter(col("df_") > maxDf).select("h")
    // the CAPPED index is what every consumer references 2-3× — materialize
    // it as well, or each reference re-runs the hot-set aggregate + anti-join
    // over the cached raw index (measured +0.7 s on j2/minhash at sf0.1)
    graft.CacheRegistry.materialize(full.join(broadcast(hot), Seq("h"), "left_anti"))
  }

  /** Blocked near-dup candidate pairs with exact Jaccard ≥ tau over the
    * shared shingle index: the (lang, length-bucket) block keys bound the
    * pair blow-up and hash-partition cleanly (see j2 scale notes). Used by
    * j2 (τ=0.5 report), dd_source_overlap (same τ=0.5 frame), and
    * dd_components (τ=0.3 cluster edges). Materialized: the τ=0.5 frame
    * has two graded consumers and the τ=0.3 frame feeds every fixpoint
    * round — CacheManager keys on the canonical plan, so same-τ callers
    * share one copy. */
  private[graft] def jaccardPairs(s: org.apache.spark.sql.SparkSession,
      d: String, tau: Double): DataFrame =
    graft.CacheRegistry.materialize(jaccardPairsOf(documents(s, d), tau))

  /** Blocked inverted-index pair expansion shared by every set-similarity
    * scorer: one row per candidate pair with the shared-shingle count and
    * both (full) set sizes — Jaccard, containment, and overlap are all just
    * different arithmetic over these three integers.
    *
    * `blockOnLength` adds the (length div 10) bucket to the block key.
    * Jaccard consumers keep it on (j ≥ 0.5 forces sizes within 2× — a
    * same-bucket miss is impossible above ~20 tokens, and it shrinks the
    * candidate set); CONTAINMENT consumers must turn it OFF — an excerpt vs
    * its source, the exact asymmetric pair containment exists to catch,
    * straddles length buckets by definition. Cost without it is still
    * Σ df² per (lang, shingle), bounded by the df cap — never all-pairs. */
  private[graft] def sharedShinglePairs(docs: DataFrame,
      maxDf: Int = MaxShingleDf, blockOnLength: Boolean = true): DataFrame =
    pairsFromIndex(shingleIndex(docs, maxDf), blockOnLength)

  /** The pair expansion over an ALREADY-BUILT capped index frame
    * (doc_id, lang, blk, h, nsh) — factored out of [[sharedShinglePairs]]
    * so the stored-artifact probe ([[readCappedShingleIndex]]) runs the
    * IDENTICAL join/blocking/arithmetic as the from-scratch build: an
    * incremental pipeline whose probe drifted from its rebuild would fail
    * the dd_index_refresh gate, not ship. */
  private[graft] def pairsFromIndex(inv: DataFrame,
      blockOnLength: Boolean = true): DataFrame = {
    val sameBlock = col("x.lang") === col("y.lang") &&
      col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id")
    val cond = if (blockOnLength) sameBlock && col("x.blk") === col("y.blk")
               else sameBlock
    inv.alias("x").join(inv.alias("y"), cond)
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"),
        max(col("x.nsh")).as("na"), max(col("y.nsh")).as("nb"))
  }

  /** Jaccard-τ pairs over a stored capped index frame — [[jaccardPairsOf]]'s
    * arithmetic on [[pairsFromIndex]]'s expansion. */
  private[graft] def jaccardFromIndex(inv: DataFrame, tau: Double): DataFrame =
    pairsFromIndex(inv)
      .withColumn("jac",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= tau)

  // ------------------------------------------------------------------
  // The STORED shingle-index artifact + its refresh job — the maintenance
  // half of incremental dedup. An increment probe checks arriving docs
  // against a PERSISTED index, and that index's df-cap stop list is a
  // function of the WHOLE corpus: a shingle whose df crosses the cap only
  // once increments land must start being dropped, or the stored-index
  // probe diverges from a full rebuild (pairs manufactured through a
  // now-hot shingle). The refresh below re-derives df counts + the stop
  // list over corpus ∪ landed increments FROM THE STORED ROWS (one
  // partial+final aggregate over ~40-byte index rows — never a text
  // rescan) and republishes through the same VersionedTable layout the
  // label table uses: immutable version dirs, atomic pointer move,
  // crash-safe (a half-written version is unreachable), old versions
  // prunable by VersionedTable.vacuum. Graded by
  // dd_index_refresh: refreshed-artifact probe ≡ full-rebuild probe.
  // ------------------------------------------------------------------

  /** The stored RAW (uncapped) index rows of versions 0..v — DELTA-DIR
    * layout: v0 holds the base corpus's rows, each later version dir
    * holds ONLY its increment's rows. Rows are stored uncapped so a
    * refresh re-derives df without a corpus rescan; storing deltas means
    * a refresh WRITES O(increment), not O(index) — at the graded SF the
    * full-rewrite form cost two ~0.85 s jobs per refresh (the old rows
    * re-written and re-aggregated), and at 100 TB a full rewrite per
    * increment is exactly the anti-pattern the a12 compaction job exists
    * to amortize (fold deltas periodically; this reader unions them).
    *
    * Upgrade path: a root without the `_LAYOUT` marker is refused, so a
    * root written before the marker existed is unreadable by design (and
    * cannot be refreshed either: the publish reads it first). There is no
    * migration; rebuild it on an empty root with [[writeShingleArtifact]],
    * which stamps the marker there (BASELINE.md, "Stored-artifact upgrade
    * path"). */
  private[graft] def storedShingleRows(s: org.apache.spark.sql.SparkSession,
      root: String, v: Long,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    // layout marker (ADVICE r10): nothing else on disk distinguishes the
    // delta-dir layout from the old full-rewrite layout (where v1/rows
    // already held base ∪ increment), and unioning full-rewrite dirs
    // would silently double-count base rows. Readers fail loudly on an
    // unmarked root instead. An a12-style compaction that folds version
    // dirs must rewrite the marker's dir list semantics — today the
    // marker pins exactly "union contiguous v0..pointer".
    val marker = new org.apache.hadoop.fs.Path(root, "_LAYOUT")
    val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    require(fs.exists(marker),
      s"shingle artifact at $root carries no _LAYOUT marker — refusing to " +
        "union version dirs that may be full-rewrite snapshots")
    // caller-supplied schema skips the per-read footer inference (the
    // UpsertTable.applyBatch rule) — every version dir is this module's
    // own write of the same shingle-row shape
    val reader = schema.map(s.read.schema(_)).getOrElse(s.read)
    reader.parquet(
      (0L to v).map(i => VersionedTable.dir(root, i) + "/rows"): _*)
  }

  /** Publish the next version of the artifact and return its number:
    * `deltaRows` as the version's delta (on an empty root they are the
    * whole base corpus, v0) plus the df>maxDf stop list derived over the
    * FULL stored rows ≤ it — one partial+final aggregate over ~40-byte
    * index rows, never a text rescan, and no document re-shingled. Both
    * land inside the version dir before the pointer moves
    * ([[VersionedTable.publish]]), so a refresh is O(delta) written +
    * O(stored index) aggregated. The delta-dir layout marker is stamped
    * when there is no prior version, before any rows land, so a reader
    * can never see an unmarked delta-dir root. */
  private[graft] def writeShingleArtifact(s: org.apache.spark.sql.SparkSession,
      root: String, deltaRows: DataFrame, maxDf: Int = MaxShingleDf): Long =
    VersionedTable.publish(s, root) { (prev, dir) =>
      if (prev.isEmpty) {
        val marker = new org.apache.hadoop.fs.Path(root, "_LAYOUT")
        val out = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
          .create(marker, true)
        try out.write("delta-dirs-v1\n".getBytes("UTF-8")) finally out.close()
      }
      deltaRows.write.mode("overwrite").parquet(s"$dir/rows")
      val v = VersionedTable.next(prev)
      storedShingleRows(s, root, v, schema = Some(deltaRows.schema))
        .groupBy("h").agg(count(lit(1)).as("df_"))
        .filter(col("df_") > maxDf).select("h")
        .write.mode("overwrite").parquet(s"$dir/stop")
      v
    }

  /** Read the CURRENT artifact version as a capped index frame — the
    * stored-index probe input (base ∪ delta rows ≤ pointer, minus the
    * pointer version's own stop list, broadcast anti-join — the
    * shingleIndex capping shape). */
  private[graft] def readCappedShingleIndex(s: org.apache.spark.sql.SparkSession,
      root: String): DataFrame = {
    val v = VersionedTable.current(s, root)
      .getOrElse(sys.error(s"no published shingle artifact under $root"))
    storedShingleRows(s, root, v).join(
      broadcast(s.read.parquet(VersionedTable.dir(root, v) + "/stop")),
      Seq("h"), "left_anti")
  }

  /** Core of [[jaccardPairs]] over any documents-shaped frame (doc_id, lang,
    * text) — separated so tests can drive it with synthetic hot-shingle
    * corpora and a tight `maxDf`. */
  private[graft] def jaccardPairsOf(docs: DataFrame, tau: Double,
      maxDf: Int = MaxShingleDf): DataFrame =
    sharedShinglePairs(docs, maxDf)
      .withColumn("jac",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= tau)

  /** The near-dup cluster index (doc_id → component), computed ONCE per
    * (session, dir) and shared by every consumer — `dd_components` reports
    * it, `dd_keep_one` prunes the corpus with it. The fixpoint loop is
    * driver-side control flow over checkpointed DataFrames, i.e. a stored
    * index build; recomputing it per consumer would double the most
    * expensive build in the suite for no reason. Per-pass, so each bench
    * pass measures exactly one honest build (serving both queries), never
    * a stale cached read. */
  private val componentsMemo = graft.CacheRegistry.memo[
    (org.apache.spark.sql.SparkSession, String), DataFrame](graft.CacheRegistry.PerPass)

  private[graft] def componentsOf(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    componentsMemo((s, d))(
      // ConfScope.Fixpoint: the verified-fixpoint rounds run HERE (label
      // frames are |V|-sized; measured 1.3 s → 0.9 s at sf0.1)
      ConfScope(s, ConfScope.Fixpoint) {
        GraphOps.minLabelComponents(
          documents(s, d).select(col("doc_id").as("id")),
          jaccardPairs(s, d, 0.3)
            .select(col("doc_a").as("src"), col("doc_b").as("dst")),
          rounds = None)
      })

  /** The simulated pre-existing label store for `dd_components_incr` and
    * its streaming twin — see the registration notes. PREP, unlike
    * componentsMemo: it stands in for persisted lake state, not for work
    * the queries perform. */
  private val storedLabelsMemo = graft.CacheRegistry.memo[
    (org.apache.spark.sql.SparkSession, String), DataFrame](graft.CacheRegistry.Prep)

  /** doc_id % 5 == 0 — the deterministic increment slice every
    * incremental-dedup query uses (dd_incremental's convention). */
  private[graft] def isNewDoc(c: Column): Column = c % 5 === 0

  /** The synthetic image corpus as STORED BYTES (doc_id, payload) — a
    * session parquet spool, written once (the a10 fixture rule). The
    * header parser must read a stored binary column like a real corpus,
    * not an inlineable synthesis expression: CollapseProject inlines
    * cheap-looking producer expressions into every consumer site, and
    * the md5-laden payload tree replicated into each byte-read of the
    * downstream geometry arithmetic measured 50.7 s on mm_patch_grid;
    * reading the spool measures 0.1 s with identical rows. */
  private[graft] def imageCorpus(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    s.read.parquet(graft.sources.ScratchDirs.sharedInputSpool(s, d, "img_corpus")(
      p => documents(s, d)
        .select(col("doc_id"),
          graft.multimodal.ImageHeaders.fakeImagePayload(col("doc_id"))
            .as("payload"))
        .write.mode("overwrite").parquet(p)))

  /** Stored (id, comp) labels of the OLD corpus (the lake read an
    * increment starts from): min-label fixpoint over the old–old edges of
    * the shared τ=0.3 pair frame, session-memoized as PREP. */
  private[graft] def storedOldLabels(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    storedLabelsMemo((s, d))(ConfScope(s, ConfScope.Fixpoint) {
      graft.CacheRegistry.materialize(
        GraphOps.minLabelComponents(
          documents(s, d).filter(!isNewDoc(col("doc_id")))
            .select(col("doc_id").as("id")),
          jaccardPairs(s, d, 0.3)
            .filter(!isNewDoc(col("doc_a")) && !isNewDoc(col("doc_b")))
            .select(col("doc_a").as("src"), col("doc_b").as("dst")),
          rounds = None))
    })

  /** τ=0.3 pairs with ≥1 NEW endpoint — the stored-index probe result an
    * increment applies (materialized; shared by the batch and streaming
    * incremental-components queries). */
  private[graft] def newSidePairs(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    graft.CacheRegistry.materialize(
      jaccardPairs(s, d, 0.3)
        .filter(isNewDoc(col("doc_a")) || isNewDoc(col("doc_b")))
        .select(col("doc_a").as("src"), col("doc_b").as("dst")))

  /** Per-doc token occurrence counts (doc_id, tok, m) — ONE hash aggregate
    * over the exploded token stream, materialized once and shared by the
    * unigram-LM scorer and the entropy signal (CacheManager keys on the
    * canonical plan, so both consumers read a single copy). */
  private[graft] def tokenCounts(docs: DataFrame): DataFrame =
    graft.CacheRegistry.materialize(docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("m")))

  /** Per-document unigram-LM score over any documents-shaped frame — the
    * unordered core of `ta_unigram_logprob`, reused by the quality funnel. */
  private[graft] def unigramLogprobOf(docs: DataFrame): DataFrame = {
    val occ = tokenCounts(docs)
    val uni = occ.groupBy("tok").agg(sum(col("m")).as("cnt"))
    val tot = uni.agg(sum(col("cnt")).cast("double").as("tot"))
    // one grid-snapped ln per VOCABULARY entry, not per occurrence row —
    // the occurrence frame joins a (tok, lp) model frame once (same
    // model-sized-first shape as bigramLogprobOf)
    val lp = uni.crossJoin(broadcast(tot))
      .select(col("tok"),
        round(log(col("cnt").cast("double") / col("tot")) * 1e7)
          .cast("long").as("lp"))
    occ.join(lp, "tok")
      .select(col("doc_id"), col("m"), (col("m") * col("lp")).as("slp"))
      .groupBy("doc_id")
      .agg(sum(col("m")).as("n_tokens"),
        round4((sum(col("slp")) / 1e7) / sum(col("m"))).as("avg_logprob"))
      .withColumn("pass", (col("avg_logprob") >= -9.0).cast("int"))
  }

  /** Per-document out-of-vocabulary rate against the corpus's own top-K
    * token vocabulary — the tokenizer-planning signal (how much of each
    * doc a K-entry vocab won't cover; docs of rare-token soup get flagged,
    * and the corpus-level aggregate sizes the vocab). Vocabulary selection
    * is a distributed top-K (TakeOrderedAndProject — the f2 shape, never a
    * global sort) on the TOTAL order (count desc, token asc), so the
    * boundary of a count-tie is engine-identical; the K-row vocab
    * broadcasts back onto the shared [[tokenCounts]] frame and OOV mass is
    * the occurrence weight that joins nothing. K=20 is fixture-tuned (31
    * distinct tokens at sf0.01) like [[BoilerplateDf]]; production runs at
    * 30k+ with the identical plan. */
  private[graft] def oovRateOf(docs: DataFrame, vocabK: Int = 20): DataFrame = {
    val occ = tokenCounts(docs)
    val vocab = occ.groupBy("tok").agg(sum(col("m")).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc).limit(vocabK)
      .select(col("tok"), lit(1).as("in_v"))
    occ.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(sum(col("m")).as("n_tokens"),
        sum(when(col("in_v").isNull, col("m")).otherwise(lit(0L))).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round4(col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
  }

  /** Per-document bigram-LM score — the context-aware step up from
    * [[unigramLogprobOf]]'s CCNet stand-in: mean ln p(w2 | w1) under the
    * corpus's own Laplace-smoothed bigram distribution,
    * ln((c(w1,w2) + 1) / (c(w1 ·) + V)). Repetitive but diverse-unigram
    * text (which the unigram score misses) scores HIGH here only when its
    * transitions are corpus-typical — the pair separates template junk
    * from fluent text. All counts come off the shared [[bigramRows]]
    * stream (one shuffle); the model frames (`cb` per distinct bigram,
    * `ca` per context, both vocabulary-sized, broadcast-or-AQE at the
    * corpus's discretion) join back on their keys; every ln snaps to the
    * 1e-7 integer grid before the (long) sum — order-invariant and
    * engine-identical. Docs with < 2 tokens have no transitions and drop
    * out (mirrored by the oracle's empty unnest). The −3.45 pass bar is
    * fixture-tuned like [[BoilerplateDf]]; a production run recalibrates
    * it per corpus. */
  private[graft] def bigramLogprobOf(docs: DataFrame): DataFrame = {
    // feeds the cb aggregate AND the scoring join — materialize like
    // tokenCounts, or the bigram window chain re-evaluates per consumer
    val occ = graft.CacheRegistry.materialize(
      bigramRows(docs).groupBy("doc_id", "bg").agg(count(lit(1)).as("m")))
    val cb = occ.groupBy("bg").agg(sum(col("m")).as("cb"))
    val ca = cb.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("cb")).as("ca"))
    val voc = docs.select(explode(split(col("text"), " ")).as("tok"))
      .agg(countDistinct(col("tok")).cast("double").as("v"))
    // fold the model arithmetic into a model-sized frame FIRST: lp is one
    // grid-snapped ln per distinct corpus bigram, so the occurrence frame
    // shuffles once (join on bg) instead of re-shuffling 1M+ occurrence
    // rows a second time by context key
    val lp = cb.withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(ca, "w1")
      .crossJoin(broadcast(voc))
      .select(col("bg"),
        round(log((col("cb").cast("double") + 1) /
          (col("ca") + col("v"))) * 1e7).cast("long").as("lp"))
    occ.join(lp, "bg")
      .select(col("doc_id"), col("m"), (col("m") * col("lp")).as("slp"))
      .groupBy("doc_id")
      .agg(sum(col("m")).as("n_bigrams"),
        round4((sum(col("slp")) / 1e7) / sum(col("m"))).as("avg_logprob"))
      .withColumn("pass", (col("avg_logprob") >= -3.45).cast("int"))
  }

  /** Segmental type-token ratio over any documents-shaped frame — per full
    * `window`-token segment: distinct types / window; per doc: the mean.
    * All integer until one final division; docs under `window` tokens have
    * no full segment and drop out. Separated so LlmOpsSpec can drive it
    * with synthetic repetitive/diverse corpora. */
  private[graft] def sttrOf(docs: DataFrame, window: Int): DataFrame =
    docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .withColumn("seg", expr(s"pos div $window"))
      .groupBy("doc_id", "seg")
      .agg(count(lit(1)).as("len"), countDistinct(col("tok")).as("types"))
      .filter(col("len") === window)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segs"), sum(col("types")).as("sum_types"))
      .select(col("doc_id"), col("n_segs"),
        round4(col("sum_types") / (col("n_segs") * window.toDouble)).as("sttr"))

  /** Per-document interpolated Kneser–Ney bigram score — the standard
    * LM-smoothing step up from [[bigramLogprobOf]]'s Laplace stand-in
    * (Kneser & Ney 1995; Chen & Goodman 1999): absolute discounting with
    * the CONTINUATION-count back-off,
    * p_kn(w2|w1) = (c(w1w2) − D)/c(w1·) + (D·N1+(w1·)/c(w1·))·(N1+(·w2)/T),
    * D = 0.75, where N1+(w1·)/N1+(·w2) count distinct bigram TYPES by
    * context/continuation and T is the total distinct-bigram count. The
    * continuation term is what separates KN from MLE/Laplace: a word seen
    * often but only after one context ("Francisco") backs off LOW. Every
    * count is a TYPE count off the model-sized `cb` frame — the corpus-
    * sized occurrence frame shuffles once (the scoring join on bg), all
    * model arithmetic happens on vocabulary-sized frames first, exactly
    * the [[bigramLogprobOf]] shape; each ln snaps to the 1e-7 integer grid
    * before the long sum, so any partitioning and both engines agree
    * bit-for-bit. c(w1w2) ≥ 1 always here (the corpus is scored under its
    * own model), so the max(·−D, 0) clamp is the identity and the ln
    * argument is strictly positive. The −3.40 pass bar is fixture-tuned
    * (quartile split at sf0.01) like [[BoilerplateDf]]. */
  private[graft] def knBigramOf(docs: DataFrame): DataFrame = {
    val occ = graft.CacheRegistry.materialize(
      bigramRows(docs).groupBy("doc_id", "bg").agg(count(lit(1)).as("m")))
    val cb = graft.CacheRegistry.materialize(
      occ.groupBy("bg").agg(sum(col("m")).as("cb"))
        .withColumn("w1", substring_index(col("bg"), " ", 1))
        .withColumn("w2", substring_index(col("bg"), " ", -1)))
    val ctx = cb.groupBy("w1")
      .agg(sum(col("cb")).as("ca"), count(lit(1)).as("n1r"))
    val cont = cb.groupBy("w2").agg(count(lit(1)).as("n1l"))
    val tt = cb.agg(count(lit(1)).cast("double").as("tt"))
    val lp = cb
      .join(ctx, "w1")
      .join(cont, "w2")
      .crossJoin(broadcast(tt))
      .select(col("bg"),
        round(log((col("cb") - 0.75) / col("ca")
          + lit(0.75) * col("n1r") / col("ca") * (col("n1l") / col("tt")))
          * 1e7).cast("long").as("lp"))
    occ.join(lp, "bg")
      .select(col("doc_id"), col("m"), (col("m") * col("lp")).as("slp"))
      .groupBy("doc_id")
      .agg(sum(col("m")).as("n_bigrams"),
        round4((sum(col("slp")) / 1e7) / sum(col("m"))).as("avg_logprob"))
      .withColumn("pass", (col("avg_logprob") >= -3.40).cast("int"))
  }

  /** Per-document repetition signals over any documents-shaped frame —
    * `n_bigrams`/`n_unique` token-bigram counts, the duplicate-bigram
    * fraction `1 - unique/total`, the top-bigram share `max(count)/total`,
    * and a pass flag at the 0.2/0.2 thresholds (the Gopher-paper family of
    * within-doc repetition filters). Thresholds compare the *rounded*
    * fractions so the flag is bit-stable across engines. Documents with
    * fewer than two tokens have no bigrams and drop out (mirrored by the
    * oracle's empty unnest). Separated from the registry entry so tests can
    * drive it with synthetic looping text. */
  /** Deterministic BPE merge rounds — the tokenizer-training primitive:
    * each round finds the globally most frequent ADJACENT token pair
    * (ties by token order) and applies the classic greedy left-to-right
    * merge to every document, so round r+1 counts pairs over the merged
    * sequences (a merged token pairs with its new neighbors exactly as
    * real BPE training does).
    *
    * The greedy merge is pure window algebra on ONE partitioning
    * (doc_id, ordered by pos): overlapping matches only occur in runs of
    * consecutive matched positions (positions are re-indexed to
    * consecutive integers every round), and greedy left-to-right within a
    * run keeps exactly the even offsets from the run's start — so
    * run-start flag (match with no matched predecessor), running
    * max-of-start-positions, parity test, then a lag() consumption filter
    * and a row_number() re-index. No self-joins, no driver data: per
    * round ONE shared corpus-linear window pass (pair count and merge
    * both read the persisted windowed frame) + one pair hash-aggregate +
    * a single-row TakeOrdered winner broadcast back — the corpus is
    * exchanged once for the whole trainer, and each round's only shuffle
    * is the model-sized pair aggregate. Round frames are persisted
    * (materializeShared, reset per bench pass — one honest build each),
    * which makes the builder eager; Bench rebuilds it inside the timed
    * pass.
    *
    * Sequential-model property: GraftProperties replays random small
    * corpora (3-letter alphabet → overlapping runs and count ties)
    * against a straight-line Scala BPE and pins equality round by round.
    * @return (merge table — one row per round: (round, left_tok,
    *         right_tok, pair_cnt); final (doc_id, pos, tok) sequence) */
  private[graft] def bpeMergeRounds(docs: DataFrame, rounds: Int)
      : (DataFrame, DataFrame) = {
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    var seq: DataFrame = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
    val perRound = (1 to rounds).map { r =>
      // ONE windowed frame per round, shared by the pair count AND the
      // merge (r10 profile: the two consumers each re-sorted the corpus —
      // two ~0.5 s exchange+sort passes per round). The persisted frame
      // (materializeShared — reset per bench pass, one honest build each)
      // keeps its hash(doc_id) partitioning and (doc_id, pos) ordering
      // through InMemoryRelation, so the merge's window chain adds NO
      // exchange and round r+1's lead() window needs only a
      // partition-local re-sort: the corpus is exchanged ONCE for the
      // whole trainer; each round's only shuffle is the pair-count hash
      // aggregate over its model-sized (t1, t2) key space. Persisting
      // round frames instead of localCheckpoint keeps lineage in the
      // logical plan — bounded here (each round references the previous
      // frame twice → 2^rounds = 8 subtree copies at analysis for the
      // fixed 3-round build; CacheManager substitutes the cached subtree
      // before execution), unlike the unbounded fixpoints that must
      // truncate.
      val seqN = graft.CacheRegistry.materializeShared(
        seq.withColumn("nxt", lead(col("tok"), 1).over(byPos)))
      val pc = seqN
        .filter(col("nxt").isNotNull)
        .groupBy(col("tok").as("t1"), col("nxt").as("t2"))
        .agg(count(lit(1)).as("cnt"))
      // single-row winner — shared by this round's merge AND the output
      val win = graft.CacheRegistry.materializeShared(
        pc.orderBy(col("cnt").desc, col("t1").asc, col("t2").asc).limit(1))
      seq = applyBpeMergePrewindowed(seqN, win.select(col("t1"), col("t2")))
      win.select(lit(r).as("round"), col("t1").as("left_tok"),
        col("t2").as("right_tok"), col("cnt").as("pair_cnt"))
    }
    (perRound.reduce(_.unionByName(_)), seq)
  }

  /** Apply ONE merge pair (`win`: a single-row (t1, t2) frame) to a
    * (doc_id, pos, tok) sequence frame — the greedy left-to-right window
    * algebra shared by the trainer and the at-ingest encoder. Positions
    * must be consecutive per doc on entry; re-indexed on exit. */
  private[graft] def applyBpeMerge(seq: DataFrame, win: DataFrame): DataFrame = {
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    applyBpeMergePrewindowed(
      seq.withColumn("nxt", lead(col("tok"), 1).over(byPos)), win)
  }

  /** [[applyBpeMerge]] over a frame that ALREADY carries the `nxt` lead
    * column — the trainer shares one windowed frame per round between the
    * pair count and the merge, so the corpus is not re-sorted twice. */
  private def applyBpeMergePrewindowed(seqN: DataFrame, win: DataFrame)
      : DataFrame = {
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    seqN
      // LEFT join on true, not crossJoin: a round with NO pairs (every
      // doc already a single token) has an EMPTY winner frame, and a
      // cross join would wipe the corpus instead of passing it through —
      // null t1/t2 make every match flag 0 and the sequence survives
      // re-indexed (caught by the sequential-trainer property)
      .join(broadcast(win), lit(true), "left")
      // when/otherwise(0), never bare cast: nxt is NULL at each doc's
      // last position and mn is NULL before the first run — a null flag
      // would poison every window downstream (the oracle's CASE…ELSE 0)
      .withColumn("m",
        when(col("tok") === col("t1") && col("nxt") === col("t2"), 1)
          .otherwise(0))
      .withColumn("s",
        when(col("m") === 1 &&
          coalesce(lag(col("m"), 1).over(byPos), lit(0)) === 0, 1)
          .otherwise(0))
      .withColumn("mn",
        max(when(col("s") === 1, col("pos"))).over(byPos))
      .withColumn("keep",
        when(col("m") === 1 && (col("pos") - col("mn")) % 2 === 0, 1)
          .otherwise(0))
      .withColumn("cons", lag(col("keep"), 1).over(byPos))
      .filter(coalesce(col("cons"), lit(0)) === 0)
      .select(col("doc_id"), col("pos").as("opos"),
        when(col("keep") === 1, concat_ws(" ", col("tok"), col("nxt")))
          .otherwise(col("tok")).as("tok"))
      .withColumn("pos",
        row_number().over(Window.partitionBy("doc_id").orderBy("opos"))
          .cast("long") - 1)
      .select("doc_id", "pos", "tok")
  }

  /** The stored merge table (round, left_tok, right_tok, pair_cnt) of the
    * shared 3-round BPE build — the artifact the at-ingest encoder
    * applies. */
  private[graft] def bpeMergeTable(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = bpeRoundsOf(s, d)._1

  /** ENCODE a documents-shaped batch with a stored merge table: apply
    * each learned merge in round order as a greedy LEFTMOST
    * NON-OVERLAPPING pair replacement on the space-separated token
    * string — exactly the sequential model the trainer's window algebra
    * implements (runs of consecutive matches merge at even offsets from
    * the run start, which is what a left-to-right scan does), and
    * exactly what `regexp_replace` executes (java.util.regex replaces
    * leftmost non-overlapping matches, resuming after each match).
    * Merged tokens keep their internal spaces as U+0001 so token
    * boundaries stay representable in the flat string; the output
    * restores them. Merge application is per-doc independent (the
    * corpus only decided WHICH pairs merged), so encoding any subset of
    * the training corpus reproduces exactly its rows in the trainer's
    * final sequence — the equivalence the streaming encoder's oracle
    * grades, which also pins this form ≡ the trainer's windows.
    *
    * WHY regex and not the trainer's window chain (or an aggregate()
    * fold): the encoder runs per MICRO-BATCH at ingest. The window form
    * pays ~15 sort stages of scheduling+analysis per batch (~1.5 s
    * fixed, any batch size); an aggregate() lambda fold is interpreted
    * AND O(tokens²) per doc (array append copies the accumulator per
    * token — measured, it cost as much as the windows). Three
    * codegen'd regexp_replace passes are per-doc LINEAR, shuffle-free,
    * and constant-plan — the drain dropped 4.1 → ~1.7 s at sf0.1.
    * Precondition (documented, fixture-true): corpus tokens contain no
    * U+0001 and no \E regex-quote terminator; pair literals are
    * \Q…\E-quoted and replacement metacharacters escaped, so any other
    * token content is handled verbatim. */
  private[graft] def bpeEncode(docs: DataFrame, merges: DataFrame,
      rounds: Int = 3): DataFrame =
    bpeEncodePrepared(docs, bpeWinRow(merges, rounds), rounds)

  /** The merge table pivoted to ONE broadcastable row (t1_r/t2_r per
    * round; a round with no learned pair pivots to null) — prepared once
    * per drain so each micro-batch pays one tiny broadcast, not a
    * per-round re-aggregation of the merge table. */
  private[graft] def bpeWinRow(merges: DataFrame, rounds: Int = 3): DataFrame = {
    val aggs = (1 to rounds).flatMap { r =>
      Seq(max(when(col("round") === r, col("left_tok"))).as(s"t1_$r"),
        max(when(col("round") === r, col("right_tok"))).as(s"t2_$r"))
    }
    merges.groupBy().agg(aggs.head, aggs.tail: _*)
  }

  private[graft] def bpeEncodePrepared(docs: DataFrame, winRow: DataFrame,
      rounds: Int = 3): DataFrame = {
    val sep = "\u0001"
    val rxQuote = (c: Column) => concat(lit("\\Q"), c, lit("\\E"))
    // one round = one linear regexp_replace pass; merged-pair literals
    // come from the broadcast winRow with their internal spaces folded
    // to the sep char (that's how earlier rounds' merges look in the
    // string). A null round (no learned pair) passes the string through
    // — the applyBpeMerge empty-winner rule.
    val applyRound = (str: Column, t1: Column, t2: Column) => {
      val a = translate(t1, " ", sep)
      val b = translate(t2, " ", sep)
      val pat = concat(lit("(?<= |^)"), rxQuote(a), lit(" "), rxQuote(b),
        lit("(?= |$)"))
      // replacement metacharacters ($, \) escaped so token content is
      // literal in java.util.regex's replacement grammar
      val rep = regexp_replace(concat(a, lit(sep), b),
        lit("([\\\\$])"), lit("\\\\$1"))
      when(t1.isNull || t2.isNull, str)
        .otherwise(regexp_replace(str, pat, rep))
    }
    val encoded = (1 to rounds).foldLeft(col("text")) {
      (s0, r) => applyRound(s0, col(s"t1_$r"), col(s"t2_$r"))
    }
    docs.join(broadcast(winRow), lit(true), "left")
      // bind the 3-pass result to an attribute so the two consumers
      // below don't each re-run the regex chain
      .select(col("doc_id"), encoded.as("enc"))
      .select(col("doc_id"),
        size(split(col("enc"), " ")).cast("long").as("n_tok"),
        md5(translate(col("enc"), " " + sep, "| ")).as("enc_md5"))
  }

  /** The graded 3-round BPE build, shared by `ta_bpe_merge` (the merge
    * table) and `ta_bpe_compress` (the merged sequences) — per-pass, so
    * one honest build is timed per pass. */
  private val bpeMemo = graft.CacheRegistry.memo[
    (org.apache.spark.sql.SparkSession, String), (DataFrame, DataFrame)](
    graft.CacheRegistry.PerPass)

  private def bpeRoundsOf(s: org.apache.spark.sql.SparkSession, d: String)
      : (DataFrame, DataFrame) =
    bpeMemo((s, d))(
      // deliberately NOT ConfScope.NoAdaptive (unlike the graph/PCA
      // fixpoints): the BPE rounds are CORPUS-sized window passes, not
      // model-sized frames, so AQE's coalescing is the right default. A/B'd in
      // the r10 bench (min-of-5, family = merge + compress since the
      // build is shared): 3.08/3.87 s with AQE across two runs vs 3.62 s
      // without — within the family's run-to-run noise (checkpointed
      // corpus windows swing ±0.5 s under host load), so the scale-
      // -correct default stands. The isolated single-query profile also
      // misleads here: the shared build lands on whichever consumer runs
      // first.
      bpeMergeRounds(documents(s, d), rounds = 3))

  private[graft] def repetitionOf(docs: DataFrame): DataFrame = {
    bigramRows(docs)
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(
        sum(col("cnt")).as("n_bigrams"),
        count(lit(1)).as("n_unique"),
        max(col("cnt")).as("top_cnt"))
      .select(col("doc_id"), col("n_bigrams"), col("n_unique"),
        round4(lit(1.0) - col("n_unique").cast("double") / col("n_bigrams")).as("dup_frac"),
        round4(col("top_cnt").cast("double") / col("n_bigrams")).as("top_frac"))
      .withColumn("pass",
        (col("dup_frac") <= 0.2 && col("top_frac") <= 0.2).cast("int"))
  }

  /** Side-effecting-at-build tag (consumed by `SparkEntry.eagerQueries`):
    * these builders run the driver-side components FIXPOINT loop (isEmpty
    * per round) at plan-construction time, so Bench must REBUILD them
    * inside the timed pass — a pre-built plan would time only a cached-RDD
    * read. Registered here, next to the queries map, so adding a builder
    * with build-time control work means tagging it in the same edit;
    * PlanShapeSpec's plan-build job audit fails the build if an untagged
    * registry query still runs jobs at warm plan build. */
  val eager: Set[String] =
    Set("dd_components", "dd_keep_one", "dd_keep_best", "dd_components_incr",
      // per-round lazy localCheckpoints execute their broadcast-join build
      // sides at plan build — rebuilt inside the timing (gr_kcore rule)
      "dd_blast_radius",
      // per-round localCheckpoints force AQE planning at build (the
      // emb_pca_topk rule); compress rides the same shared build
      "ta_bpe_merge", "ta_bpe_compress",
      // writes + refreshes the versioned artifact at plan build
      "dd_index_refresh")

  /** The (doc_id, dlen, word, cnt) posting frame — one row per (doc, word)
    * with the doc length carried alongside — shared by ta_tfidf and
    * ta_bm25 (the two heaviest text queries). ONE builder, so both
    * consumers produce byte-identical canonical plans and Spark's
    * CacheManager serves them from a single storage copy (the second
    * materialize is a no-op by canonical-plan lookup; LlmOpsSpec asserts
    * the single-copy property via RDD storage info). */
  private def termFrame(docs: DataFrame): DataFrame =
    graft.CacheRegistry.materialize(docs
      .select(col("doc_id"), size(split(col("text"), " ")).as("dlen"),
        explode(split(col("text"), " ")).as("word"))
      .groupBy("doc_id", "dlen", "word")
      .agg(count(lit(1)).as("cnt")))

  val queries: Map[String, Q] = Map(
    // J1: exact dedup — hash of normalized text, keep the lowest doc_id of
    // each duplicate group. (Fixtures plant exact dups at sf0.1.)
    "j1_exact_dedup" -> ((s, d) => {
      val w = Window.partitionBy("text_hash").orderBy("doc_id")
      documents(s, d)
        .withColumn("text_hash", md5(lower(trim(col("text")))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("doc_id", "text_hash", "lang", "source")
        .orderBy("doc_id")
    }),

    // J2: near-dup detection — word-3-gram Jaccard within (lang,
    // length-bucket) blocks, computed as an inverted-index join: explode
    // hashed shingles, equi-join on (block, shingle), count shared shingles
    // per pair. Cost is Σ_shingle (docs sharing it)², never blocksize² —
    // the shape that survives 100 TB — and the whole pipeline is codegen'd
    // hash joins + aggregates (no interpreted array_intersect per pair).
    "j2_jaccard_pairs" -> ((s, d) =>
      jaccardPairs(s, d, 0.5)
        .select(col("doc_a"), col("doc_b"), round4(col("jac")).as("jac"))
        .orderBy("doc_a", "doc_b")),

    // J2b: containment similarity — |A∩B| / min(|A|,|B|) over the shared-
    // shingle pairs. Catches the asymmetric near-dups Jaccard misses: a
    // boilerplate-padded copy or an excerpt has low Jaccard against its
    // source (union is large) but containment ≈ 1. Blocked on lang ONLY —
    // the length-bucket key Jaccard uses would exclude exactly these
    // cross-size pairs (an excerpt and its source sit in different
    // buckets). Same inverted-index cost shape, different arithmetic.
    "j2b_containment" -> ((s, d) =>
      sharedShinglePairs(documents(s, d), blockOnLength = false)
        .withColumn("cont",
          col("inter").cast("double") / least(col("na"), col("nb")))
        .filter(col("cont") >= 0.8)
        .select(col("doc_a"), col("doc_b"), round4(col("cont")).as("cont"))
        .orderBy("doc_a", "doc_b")),

    // Dedup clustering: connected components over the τ=0.3 Jaccard pair
    // graph assigns every doc its duplicate-cluster id (min doc_id in the
    // cluster) — the step that turns pairwise near-dup hits into "keep one
    // per cluster". Runs to a VERIFIED fixpoint (component diameter is
    // data-dependent; a fixed round count would silently under-propagate
    // on adversarial chains — caught by GraphOpsSpec). The convergence
    // checks are driver CONTROL jobs at plan-build time: this one builder
    // is eager by necessity, and its loop cost therefore shows up in
    // Verify/Bench plan construction rather than the timed pass. The
    // oracle computes the true closure with a recursive CTE, so the gate
    // proves convergence, not just plausibility.
    "dd_components" -> ((s, d) =>
      componentsOf(s, d)
        .select(col("id").as("doc_id"), col("comp"))
        .orderBy("doc_id")),

    // Dedup outcome: keep one representative per duplicate cluster — the
    // step that turns L9's component ids into the deduplicated corpus. The
    // representative is the cluster's min doc_id, i.e. exactly the rows
    // whose component label equals their own id; a left-semi join against
    // that keep set prunes the corpus. The semi join is data×data on
    // doc_id (most docs are singleton clusters, so the keep set is
    // corpus-sized and must NOT be broadcast — the shuffle join is the
    // correct 100-TB shape here).
    "dd_keep_one" -> ((s, d) => {
      val keep = componentsOf(s, d)
        .filter(col("id") === col("comp"))
        .select(col("id").as("doc_id"))
      documents(s, d)
        .join(keep, Seq("doc_id"), "left_semi")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // Quality-aware dedup representative — what production dedup actually
    // keeps (RefinedWeb/FineWeb keep the BEST copy, not the first-crawled):
    // per near-dup cluster, the doc with the highest quality score
    // (tp_token_budget's composite, in exact 1e-4 ticks), ties to the
    // lowest doc_id. Rides the SAME memoized components fixpoint as
    // dd_keep_one (zero extra graph work); the argmax is one window over
    // the (doc, comp, score) join — corpus-sized equi joins on the doc pk,
    // co-partitioned at scale. The keep-one/keep-best outputs differ
    // exactly on multi-doc clusters whose min-id member isn't the best
    // copy (spec-pinned).
    "dd_keep_best" -> ((s, d) => {
      val comp = componentsOf(s, d).withColumnRenamed("id", "doc_id")
      val w = Window.partitionBy("comp")
        .orderBy(col("score_t").desc, col("doc_id").asc)
      documents(s, d)
        .withColumn("tk", toks)
        .withColumn("n_tok", size(col("tk")).cast("long"))
        .withColumn("uniq_ratio",
          size(array_distinct(col("tk"))).cast("double") / col("n_tok"))
        .withColumn("stop_ratio",
          size(filter(col("tk"), x => x.isin("the", "a"))).cast("double") / col("n_tok"))
        .withColumn("score_t", graft.functions.ExactNum.tenK(
          lit(0.3) * col("uniq_ratio") + lit(0.4) * (lit(1.0) - col("stop_ratio")) +
            lit(0.3) * least(col("n_tok") / 100.0, lit(1.0))))
        .join(comp, "doc_id")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("comp"), col("score_t"), col("lang"), col("source"))
        .orderBy("doc_id")
    }),

    // Dedup cluster-size histogram — the dataset-card view of HOW the
    // near-dups cluster (dd_source_overlap answers where): per cluster
    // size, how many clusters and how many docs they cover. The shape of
    // this histogram is the dedup decision signal — a long tail of pairs
    // is crawl noise, a few giant clusters are mirrored boilerplate whose
    // transitive closure deserves a manual look before keep-one deletes
    // 90% of a source. Rides the memoized components frame (third graded
    // consumer); two hash aggregates; output is ≤ max-cluster-size rows
    // at any corpus scale.
    "dd_cluster_stats" -> ((s, d) => {
      val sizes = componentsOf(s, d)
        .groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
      sizes.groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("cluster_size")).as("n_docs"))
        .orderBy("cluster_size")
    }),

    // Cross-source duplication matrix — the dataset-card view of WHERE the
    // near-dups live (a pair of crawls duplicating each other wants a
    // source-level decision, not per-doc cuts): for every unordered source
    // pair, the τ=0.5 near-dup pair count (src_a = src_b rows are
    // within-source duplication) and the mean similarity. Composes the
    // shared jaccardPairs frame with two primary-key joins to the
    // doc→source map; output is |sources|² rows at most. Per-pair jac
    // snaps to the 1e-7 grid before the long sum so the mean is
    // order-invariant and engine-identical.
    "dd_source_overlap" -> ((s, d) => {
      val src = documents(s, d).select(col("doc_id"), col("source"))
      jaccardPairs(s, d, 0.5)
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
        .select(least(col("sa"), col("sb")).as("src_a"),
          greatest(col("sa"), col("sb")).as("src_b"),
          round(col("jac") * 1e7).cast("long").as("jl"))
        .groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("dup_pairs"),
          round4((sum(col("jl")) / 1e7) / count(lit(1))).as("avg_jac"))
        .orderBy("src_a", "src_b")
    }),

    // Incremental dedup — the admission gate a GROWING corpus runs on every
    // new batch (daily crawl increment): does a candidate doc near-dup
    // (τ=0.5) against anything ALREADY IN the corpus? The batch is the
    // deterministic doc_id % 5 == 0 slice (a production run passes an
    // actual increment frame); within-batch dups are deliberately out of
    // scope — that's the batch's own j1/j2 pass. Rides the shared τ=0.5
    // pair frame filtered to cross-side pairs; the real-scale shape is the
    // same probe — new-batch shingles against the STORED df-capped index
    // (Σ df_new·df_old, never batch×corpus). Admitted docs report zero
    // hits; rejected ones the hit count and best similarity.
    "dd_incremental" -> ((s, d) => {
      val isNew = (c: org.apache.spark.sql.Column) => c % 5 === 0
      val hits = jaccardPairs(s, d, 0.5)
        .filter(isNew(col("doc_a")) =!= isNew(col("doc_b")))
        .select(when(isNew(col("doc_a")), col("doc_a"))
          .otherwise(col("doc_b")).as("doc_id"), col("jac"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_dup_hits"), max(col("jac")).as("mj"))
      documents(s, d).filter(isNew(col("doc_id"))).select("doc_id")
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_dup_hits"), lit(0L)).as("n_dup_hits"),
          round4(coalesce(col("mj"), lit(0.0))).as("max_jac"),
          (coalesce(col("n_dup_hits"), lit(0L)) === 0).cast("int").as("admit"))
        .orderBy("doc_id")
    }),

    // Incremental cluster MAINTENANCE — where dd_incremental only answers
    // admission (does the new doc hit anything?), this UPDATES the stored
    // component labels from the delta batch: contract each delta edge's
    // old endpoint to its stored label, fixpoint over just the contracted
    // delta-touched subgraph, relabel stored components by one equi-join
    // (GraphOps.incrementalComponents — see its scaladoc for the
    // correctness argument). The oracle is dd_components' full recursive
    // closure VERBATIM, so the gate proves incremental ≡ full rebuild,
    // not just plausibility. Here the stored frame is simulated by a
    // fixpoint over the old–old edges of the shared τ=0.3 pair frame
    // (prep — production reads it from the lake); the incremental work
    // proper is delta-sized. The pair frame caps shingle df over the FULL
    // corpus — which is exactly what a stored-index probe sees AFTER the
    // refresh job republishes the artifact over corpus ∪ increment:
    // dd_index_refresh grades that equivalence (refreshed-artifact probe
    // ≡ full-rebuild probe), closing the cap-crossing-shingle staleness
    // a never-refreshed index would accumulate.
    "dd_components_incr" -> ((s, d) => {
      // the STORED label frame is the lake read a production increment
      // starts from — session-memoized PREP (the shared-input-spool
      // rule), so Bench's per-pass rebuilds time the incremental work,
      // not a re-simulation of history; cleared with the cache registry
      ConfScope(s, ConfScope.Fixpoint) {
        GraphOps.incrementalComponents(
          storedOldLabels(s, d),
          documents(s, d).filter(isNewDoc(col("doc_id")))
            .select(col("doc_id").as("id")),
          newSidePairs(s, d))
      }.select(col("id").as("doc_id"), col("comp")).orderBy("doc_id")
    }),

    // Stored-index REFRESH + probe — the maintenance job that keeps the
    // incremental dedup family honest on a growing corpus. v0 is the
    // STALE artifact (rows + stop list derived over the OLD corpus only:
    // a shingle whose df crosses the cap only once the increment lands is
    // NOT in its stop list); the refresh job lands the increment's rows
    // as v1's DELTA dir (writes O(increment), never a rewrite of the
    // stored rows — the full-rewrite form cost two ~0.85 s jobs per
    // refresh at sf0.1), re-derives df + the stop list over base ∪ delta
    // from the stored rows alone (one aggregate over index rows — no
    // text rescan), and publishes v1 through the atomic version
    // pointer. The graded
    // frame is the stored-index probe an increment runs — τ=0.3 pairs
    // with ≥1 new endpoint, read from the REFRESHED artifact — and the
    // oracle is the full-rebuild probe VERBATIM, so the gate proves
    // refresh ≡ rebuild (LlmOpsSpec plants a cap-crossing shingle that
    // only the refreshed stop list handles). At 100 TB: a refresh WRITES
    // delta-sized rows and AGGREGATES index-sized ~40-byte rows (the
    // delta-dir layout; a12's compaction folds deltas periodically), the
    // probe is the same Σ df² bucketed join, and readers never see a
    // half-refreshed index (immutable version dirs, pointer move last).
    "dd_index_refresh" -> ((s, d) => {
      val root = graft.sources.ScratchDirs.freshDirFor(s, d, "idx_refresh")
      // both sides slice the SESSION-SHARED raw shingle frame (the same
      // canonical plan shingleIndex materializes, so CacheManager serves
      // one copy): every shingleRows column is per-doc (all its windows
      // partition by doc_id), so filtering docs after shingling is
      // value-identical to shingling the filtered corpus — and the
      // per-pass rebuild re-times the artifact writes + refresh + probe,
      // not a re-derivation of the corpus index (measured 3.4 → ~1.5 s)
      val all = graft.CacheRegistry.materialize(shingleRows(documents(s, d)))
      writeShingleArtifact(s, root, all.filter(!isNewDoc(col("doc_id"))))
      writeShingleArtifact(s, root, all.filter(isNewDoc(col("doc_id"))))
      jaccardFromIndex(readCappedShingleIndex(s, root), 0.3)
        .filter(isNewDoc(col("doc_a")) || isNewDoc(col("doc_b")))
        .select(col("doc_a").as("src"), col("doc_b").as("dst"),
          round4(col("jac")).as("jac"))
        .orderBy("src", "dst")
    }),

    // Contamination blast radius — bounded-depth BFS over the τ=0.3
    // near-dup graph from a seed set: when a doc is found contaminated
    // (or poisoned, or license-burdened), every doc within k near-dup
    // hops is suspect, and the DEPTH says how direct the link is. The
    // bounded-k complement of dd_components' unbounded fixpoint: 3
    // rounds unrolled as ONE Catalyst tree (frontier ⋈ edges → anti-join
    // already-reached → next depth), no driver-side loop, min-depth
    // semantics by construction. Seeds are the 5 lowest doc ids that
    // APPEAR in the pair graph (bounded top-k, the j3 pattern — seeding
    // from the graph guarantees the graded rows exercise real traversal,
    // not just the depth-0 echo); edges ride the cached τ=0.3 pair frame
    // that dd_components already builds.
    // ConfScope.Fixpoint: iterative builder over pair-graph-sized frames —
    // and the scope's AQE-off keeps each round's lazy localCheckpoint from
    // executing stages at plan build (the gr_kcore audit class)
    "dd_blast_radius" -> ((s, d) => ConfScope(s, ConfScope.Fixpoint) {
      val e = jaccardPairs(s, d, 0.3)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val bi = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = e.select(col("src").as("id")).distinct()
        .orderBy("id").limit(5)
      GraphOps.bfsDepths(seeds, bi, rounds = 3).orderBy("doc_id")
    }),

    // J3: similarity search — brute-force top-5 cosine neighbors for an
    // explicit bounded query set: the 5 lowest vec_ids via a top-k scan
    // (TakeOrderedAndProject), so the broadcast is O(5·dim) at ANY corpus
    // size and total compute is O(5·N) — the exact-oracle baseline; the
    // IVF/LSH forms in graft.operators.Lsh are the indexed scale paths.
    // Ranking is the PARTIAL top-k aggregator, not a window: a
    // `row_number() over (partition by query_id)` here puts the ENTIRE
    // scored corpus in each of the nq partitions — one reducer sorting N
    // rows per query at 100×. The aggregator reduces every map partition
    // to ≤ 5 rows per query before the shuffle (the f3/K2 shape), so the
    // shuffle carries nq·k·partitions rows at any corpus size.
    "j3_topk_cosine" -> ((s, d) => {
      import s.implicits._
      val emb = embeddings(s, d)
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        .withColumn("nrm", sqrt(graft.plans.VectorExpressions.squared_norm(col("v"))))
      val corpus = emb
      val qs = emb.orderBy("vec_id").limit(5)
        .select(col("vec_id").as("query_id"), col("v").as("q"), col("nrm").as("qn"))
      val scored = corpus.join(broadcast(qs))
        .withColumn("cos_raw",
          dot(col("q"), col("v")) / (col("qn") * col("nrm")))
      val topk = new graft.functions.Aggregators.TopKAscAggregator(5).toColumn
      scored.select(col("query_id"), col("cos_raw"), col("vec_id"))
        .as[(Long, Double, Long)]
        .groupByKey(_._1)
        .mapValues(t => (0.0 - t._2, t._3, t._2)) // key = −cos (asc ⇒ cos desc), tie vec_id asc
        .agg(topk.name("top"))
        .flatMap { case (qid, top) => top.iterator.zipWithIndex.map {
          case ((_, vid, cos), i) => (qid, i + 1, vid, cos) } }
        .toDF("query_id", "rank", "vec_id", "cos_raw")
        .select(col("query_id"), col("rank"), col("vec_id"),
          round4(col("cos_raw")).as("cos"))
        .orderBy("query_id", "rank")
    }),

    // K4 closed at the SQL surface: the session extension registers the
    // codegen'd vector Expressions as SQL functions (dot_product /
    // squared_distance / squared_norm) and injects the DotSelfToNorm
    // optimizer rule, so a user writing plain SQL gets the same tight
    // generated loops the Column API gets — and dot_product(v, v) is
    // rewritten to the one-array squared_norm automatically (PlanShapeSpec
    // pins that the rewrite fired through the SQL path). Outputs are RAW
    // doubles on purpose: the Expressions fold left-to-right exactly like
    // the oracle's list_reduce(list_prepend(0.0, …)), so the hash match is
    // bit-for-bit — no rounding net needed.
    "k4_sql_vector" -> ((s, d) => {
      graft.plans.GraftExtensions.register(s)
      embeddings(s, d)
        .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        .createOrReplaceTempView("graft_emb_sqlv")
      s.sql("""SELECT vec_id,
                      dot_product(v, v) AS sq_norm,
                      dot_product(v, reverse(v)) AS rev_dot,
                      squared_distance(v, reverse(v)) AS rev_dist
               FROM graft_emb_sqlv ORDER BY vec_id""")
    }),

    // J4: centroid aggregation — per-label mean vector, emitted flat as
    // (label, pos, c) rows (array outputs hash differently across engines).
    "j4_centroid" -> ((s, d) =>
      embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "e")))
        .groupBy("label", "pos")
        .agg(round4(avg(col("e").cast("double"))).as("c"))
        .orderBy("label", "pos")),

    // J4b: the typed-Aggregator form of J4, graded against the SAME oracle —
    // the K2 extensibility surface proven at the hash gate, not just in unit
    // tests. The aggregator pre-reduces each map partition to one
    // (sum-vector, count) buffer per label, so the shuffle carries
    // n_labels·dim doubles instead of the corpus.
    "j4b_centroid_typed" -> ((s, d) => {
      import s.implicits._
      val cent = new graft.functions.Aggregators.CentroidAggregator(64).toColumn
      embeddings(s, d).select(col("label"), col("embedding"))
        .as[(Int, Array[Float])]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(cent)
        .toDF("label", "cent")
        .select(col("label"), posexplode(col("cent")).as(Seq("pos", "c")))
        .select(col("label"), col("pos"), round4(col("c")).as("c"))
        .orderBy("label", "pos")
    }),

    // J5: text analysis — corpus word frequencies (explode → count).
    "j5_word_freq" -> ((s, d) =>
      documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word").asc)),

    // J5b: TF-IDF — top-3 terms per document. tf = in-doc count / doc
    // length; idf = ln(N / docfreq); all ratios of exact integers, so both
    // engines compute identical doubles and the ranking is stable.
    "ta_tfidf" -> ((s, d) => {
      val docs = documents(s, d)
      // N arrives as a broadcast one-row aggregate (not a driver-side
      // docs.count() — keeps the builder lazy, no job at plan time).
      val nDf = docs.agg(count(lit(1)).cast("double").as("n_total"))
      // terms has exactly one row per (doc, word); materialize it (it feeds
      // both the docfreq aggregate and the scoring join — Spark re-evaluates
      // referenced subtrees), aggregate the tiny per-word docfreq, and
      // broadcast it back. Avoids a vocabulary-keyed window shuffle, which
      // skews badly when the vocabulary is small relative to the corpus.
      val terms = termFrame(docs)
      val df_ = terms.groupBy("word").agg(count(lit(1)).as("docfreq"))
      val scored = terms
        .join(broadcast(df_), "word")
        .crossJoin(broadcast(nDf))
        .withColumn("tfidf",
          (col("cnt").cast("double") / col("dlen")) *
            log(col("n_total") / col("docfreq")))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("word").asc)
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("word"), round6(col("tfidf")).as("tfidf"))
        .orderBy("doc_id", "rnk")
    }),

    // J5c: corpus bigram frequencies — the n-gram counting surface, built
    // with the same lead-window pattern as the shingle pipeline.
    "ta_bigrams" -> ((s, d) => {
      bigramRows(documents(s, d))
        .select(col("bg").as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("cnt"))
        // >= 20 keeps the gate non-vacuous at every graded scale (max bigram
        // count is 48 at sf0.01, 357 at sf0.1 — measured from the fixtures)
        .filter(col("cnt") >= 20)
        .orderBy(col("cnt").desc, col("bigram").asc)
    }),

    // Corpus dataset-card: Zipf power-law fit — the slope of
    // ln(count) ~ ln(rank) over the top-200 token frequencies (natural
    // text sits near −1; a flat or cliff-shaped slope flags synthetic or
    // template-heavy corpora before training does). Exactly e10's
    // integer-least-squares discipline: the only data-sized work is the
    // token-count aggregate (already shared/materialized); the top-200 is
    // a TakeOrdered; ranks come from a window over that BOUNDED 200-row
    // frame (never the vocabulary); x/y snap to the 1e-4 ln grid so every
    // moment sum is an exact long (products bounded ≲6e18 by the tick
    // choice — headroom audited), and the slope divides once with
    // half-away rounding. r² goes through doubles (num² exceeds long
    // range) — same IEEE ops both engines.
    "ta_zipf" -> ((s, d) => zipfOf(tokenCounts(documents(s, d)))),

    // Corpus dataset-card, growth axis (Heaps' law companion to ta_zipf's
    // frequency axis): vocabulary size as the corpus streams in, in
    // 50-doc ingestion buckets — new types per bucket + the running
    // vocabulary. Sub-linear growth is natural text; a straight line
    // flags unbounded-id junk (serials, hashes) that will blow up a
    // tokenizer's vocab. Each token contributes ONE row at its first doc
    // (min aggregate over the shared occurrence frame — the data-sized
    // work is a partial+final min, no window over the corpus); the
    // cumulative sum runs over the BUCKET frame (N/50 rows — bounded,
    // the tick-histogram discipline). Ingestion order = doc_id order,
    // the fixtures' load order.
    "ta_heaps" -> ((s, d) => heapsOf(tokenCounts(documents(s, d)), 50)),

    // Ranked RETRIEVAL: BM25 (k1=1.2, b=0.75) over the corpus for a
    // bounded query-term set — the relevance-scoring primitive a training
    // pipeline uses to surface topic-matched documents (and the classic
    // lexical-retrieval baseline next to J3's dense retrieval). The query
    // terms are the top-3 corpus tokens (deterministic: count desc, word
    // asc) — at scale an explicit user list, same broadcast shape. Rides
    // ta_tfidf's materialized (doc, dlen, word, cnt) frame (CacheManager
    // keys on the canonical plan — one storage copy); docfreq and the
    // query set are vocabulary-/k-sized broadcasts, N·avgdl one broadcast
    // row (avgdl = exact long sum ÷ count, one division — no
    // order-dependent double sum). Per-(doc,term) scores snap to the 1e-7
    // grid pre-sum; top-20 is a TakeOrdered, never a global sort.
    "ta_bm25" -> ((s, d) => {
      val docs = documents(s, d)
      val nAvg = docs.agg(count(lit(1)).cast("double").as("n_total"),
        (sum(size(split(col("text"), " "))).cast("double") /
          count(lit(1))).as("avgdl"))
      val terms = termFrame(docs)
      val df_ = terms.groupBy("word").agg(count(lit(1)).as("docfreq"))
      val q = terms.groupBy("word").agg(sum(col("cnt")).as("ctot"))
        .orderBy(col("ctot").desc, col("word").asc).limit(3)
        .select("word")
      terms.join(broadcast(q), "word")
        .join(broadcast(df_), "word")
        .crossJoin(broadcast(nAvg))
        .select(col("doc_id"),
          round(log(lit(1.0) + (col("n_total") - col("docfreq") + 0.5) /
              (col("docfreq") + 0.5)) *
            ((col("cnt") * 2.2) /
              (col("cnt") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dlen") / col("avgdl"))))
            * 1e7).cast("long").as("sticks"))
        .groupBy("doc_id")
        .agg((sum(col("sticks")) / 1e7).as("bm25"),
          count(lit(1)).as("n_terms"))
        .orderBy(col("bm25").desc, col("doc_id").asc)
        .limit(20)
    }),

    // Text analysis: PMI collocations — which frequent bigrams are REAL
    // multi-word units rather than chance co-occurrences of common words
    // (the Church–Hanks association measure; the tokenizer-vocabulary and
    // phrase-mining primitive). PMI(a,b) = ln(c(ab)·N / (c(a·)·c(·b))).
    // Everything reduces to model-sized frames off the shared bigram
    // stream: per-bigram counts (materialized — three aggregate consumers),
    // prefix/suffix marginals (vocabulary-sized, joined on their keys),
    // and the single-row total broadcast. The ln runs once per SURVIVING
    // distinct bigram — never per occurrence — and snaps to the 1e-7 grid,
    // so the score is engine-identical and the whole op is two hash
    // aggregates + model joins at any corpus size.
    "ta_pmi" -> ((s, d) => pmiOf(documents(s, d), 20L)),

    // J6: quality gate — length/lang corpus-cleaning filter.
    "j6_quality_filter" -> ((s, d) =>
      documents(s, d)
        .withColumn("n_tokens", size(toks))
        .filter(col("n_chars").between(100, 400) &&
          col("lang").isin("en", "fr", "es") && col("n_tokens") >= 20)
        .select("doc_id", "lang", "n_chars", "n_tokens")
        .orderBy("doc_id")),

    // J7: multimodal record assembly — text ⋈ embedding with derived
    // features, projected flat for stable hashing.
    "j7_multimodal_record" -> ((s, d) => {
      val emb = embeddings(s, d)
        .select(col("vec_id"), col("label"),
          round4(sqrt(graft.plans.VectorExpressions.squared_norm(toDouble(col("embedding"))))).as("emb_norm"))
      documents(s, d)
        .join(emb, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          size(toks).as("n_tokens"), col("label"), col("emb_norm"))
        .orderBy("doc_id")
    }),

    // Calibration report: DOES the quality score predict duplication?
    // Exact-decile lift table — per score decile, the exact-dup rate
    // (j1's normalized-text fingerprint seen >1×). The scale-critical
    // choice: deciles do NOT come from ntile() (a single global-order
    // window — one partition holds the corpus), but from ONE aggregate
    // row of nine exact percentile boundaries broadcast back for a
    // per-row bucket comparison: boundary math is aggregate-sized at any
    // corpus size. Score means fold as 1e4-grid longs (order-invariant).
    "pp_score_calibration" -> ((s, d) => {
      val scored = queries("ta_quality_score")(s, d).select(col("doc_id"), col("score"))
      val h = documents(s, d)
        .select(col("doc_id"), md5(lower(trim(col("text")))).as("h"))
      val isDup = h.join(h.groupBy("h").agg(count(lit(1)).as("nh")), "h")
        .select(col("doc_id"), (col("nh") > 1).cast("int").as("is_dup"))
      val qs = scored.agg(expr(
        "percentile(score, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))").as("qs"))
      val decile = (1 to 9).map(i =>
          (col("score") > round4(element_at(col("qs"), i))).cast("int"))
        .reduce(_ + _) + lit(1)
      scored.join(isDup, "doc_id").crossJoin(broadcast(qs))
        .select(col("score"), col("is_dup"), decile.as("decile"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"),
          round4(sum(round(col("score") * 1e4).cast("long")) /
            (count(lit(1)) * lit(1e4))).as("avg_score"),
          round4(sum(col("is_dup")) / count(lit(1))).as("dup_rate"))
        .orderBy("decile")
    }),

    // Text analysis: robust per-source length-outlier gate — median/MAD
    // instead of mean/stddev, because corpus length distributions are
    // heavy-tailed and the outliers being hunted would poison the very
    // moments a z-score uses (one 100 MB doc shifts a source's mean;
    // it cannot shift its median). Two grouped exact-percentile
    // aggregates (median, then median absolute deviation) produce a
    // |sources|-row stats frame that broadcasts back for a per-row flag —
    // the corpus is scanned twice, shuffled never (percentile partials
    // aggregate map-side per source). 2×MAD is the trim knob (the
    // conventional 3×MAD-outlier rule, tightened to an aggressive trim).
    "ta_mad_outliers" -> ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      val med = docs.groupBy("source")
        .agg(expr("percentile(n_chars, 0.5)").as("med"))
      val mad = docs.join(broadcast(med), "source")
        .groupBy("source")
        .agg(expr("percentile(abs(n_chars - med), 0.5)").as("mad"))
      docs.join(broadcast(med), "source").join(broadcast(mad), "source")
        .filter(abs(col("n_chars") - col("med")) > lit(2) * col("mad"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          round4(col("med")).as("med"), round4(col("mad")).as("mad"))
        .orderBy("doc_id")
    }),

    // Text analysis: composite quality score from token statistics.
    "ta_quality_score" -> ((s, d) =>
      documents(s, d)
        .withColumn("t", toks)
        .withColumn("n_tokens", size(col("t")))
        .withColumn("n_unique", size(array_distinct(col("t"))))
        .withColumn("n_stop",
          size(filter(col("t"), x => x.isin("the", "a"))))
        .withColumn("uniq_ratio", col("n_unique").cast("double") / col("n_tokens"))
        .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
        .withColumn("score", round4(
          lit(0.3) * col("uniq_ratio") + lit(0.4) * (lit(1.0) - col("stop_ratio")) +
            lit(0.3) * least(col("n_tokens") / 100.0, lit(1.0))))
        .select(col("doc_id"), col("n_tokens"), col("n_unique"),
          round4(col("uniq_ratio")).as("uniq_ratio"),
          round4(col("stop_ratio")).as("stop_ratio"),
          col("score"), (col("score") >= 0.5).cast("int").as("pass"))
        .orderBy("doc_id")),

    // Text analysis: marker-word language-ID heuristic (argmax over
    // stopword hits, alphabetical tiebreak) scored against the label.
    "ta_langid" -> ((s, d) => {
      def hits(words: String*): Column =
        size(filter(toks, x => x.isin(words.map(lit): _*)))
      documents(s, d)
        .withColumn("en_h", hits("the", "a", "of"))
        .withColumn("de_h", hits("der", "die", "und"))
        .withColumn("fr_h", hits("le", "la", "et"))
        .withColumn("pred",
          when(col("en_h") >= col("de_h") && col("en_h") >= col("fr_h") &&
            col("en_h") > 0, "en")
            .when(col("de_h") >= col("fr_h") && col("de_h") > 0, "de")
            .when(col("fr_h") > 0, "fr")
            .otherwise("und"))
        .select(col("doc_id"), col("pred"), col("lang"),
          (col("pred") === col("lang")).cast("int").as("hit"))
        .orderBy("doc_id")
    }),

    // Text analysis: polynomial rolling-hash fingerprint over characters
    // ((acc*31 + code) mod 1e9+7 — identical fold in both engines).
    "ta_fingerprint" -> ((s, d) =>
      documents(s, d)
        .withColumn("fp",
          aggregate(transform(split(col("text"), ""), c => ascii(c).cast("long")),
            lit(0L), (acc, x) => (acc * 31 + x) % 1000000007L))
        .select("doc_id", "fp")
        .orderBy("doc_id")),

    // Text analysis: token accounting — whitespace tokens plus a BPE-ish
    // subword estimate (ceil(len/4) pieces per word).
    "ta_token_stats" -> ((s, d) =>
      documents(s, d)
        .withColumn("t", toks)
        .select(
          col("doc_id"),
          size(col("t")).as("ws_tokens"),
          aggregate(transform(col("t"), x => ceil(length(x) / lit(4.0)).cast("long")),
            lit(0L), (acc, x) => acc + x).as("subtokens"),
          length(col("text")).as("chars"))
        .orderBy("doc_id")),

    // Segmental type-token ratio (STTR, the fixed-window form of MATTR) —
    // the lexical-diversity metric that, unlike raw TTR, does not collapse
    // with document length (TTR is length-biased; fixed 25-token segments
    // make docs comparable). Per full segment: distinct types / 25; per
    // doc: the mean — all INTEGER until one final division (Σ types /
    // (25·segs)). Docs under 25 tokens have no full segment and drop out
    // (mirrored). Relational end-to-end: posexplode + `pos div 25` keeps
    // the segmenter inside codegen; two hash aggregates, no windows.
    "ta_sttr" -> ((s, d) => sttrOf(documents(s, d), 25).orderBy("doc_id")),

    // BPE-ish tokenization: letter runs, digit runs, and single non-space
    // symbols as separate tokens (the pre-tokenizer shape real BPE applies
    // before merges), counted against plain whitespace tokens. The pattern
    // avoids backslash classes so Java-regex and RE2 agree byte-for-byte.
    "ta_regex_tokens" -> ((s, d) =>
      documents(s, d)
        .withColumn("toks",
          expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("ws_tokens"),
          size(col("toks")).as("bpe_tokens"),
          size(array_distinct(col("toks"))).as("uniq_bpe"))
        .orderBy("doc_id")),

    // Text analysis: CCNet-style unigram-LM quality score — each document's
    // mean log-probability under the corpus's own unigram distribution (the
    // cheap stand-in for the LM-perplexity filter real pipelines run; docs
    // of common well-formed words score high, gibberish scores low).
    // Shape: one grouped (doc, token, multiplicity) frame feeds BOTH the
    // vocabulary aggregate and the scoring join (materialized — Spark
    // re-evaluates shared subtrees), mirroring ta_tfidf. Determinism: the
    // per-token ln is snapped to a 1e-7 integer grid and summed as longs
    // (associative — identical under any partitioning/engine; avg(double)
    // would be order-dependent in the low bits). At 100 TB the vocabulary
    // join splits hot head-tokens (broadcast) from the long tail (shuffle,
    // AQE skew-join) — here Catalyst auto-broadcasts the whole vocabulary.
    "ta_unigram_logprob" -> ((s, d) =>
      unigramLogprobOf(documents(s, d)).orderBy("doc_id")),

    // CCNet-style corpus cut: head/middle/tail TERCILES of the per-doc
    // LM score (the bucketing CCNet/LLaMA-style pipelines filter and
    // sample by). Exact two-phase (the d16 discipline): per-doc scores
    // snap to their 1e-4 grid, fold to a TICK HISTOGRAM (bounded by the
    // score grid, never doc volume — the cumulative scan over it is the
    // explicit single-reference scan, BandedScan.cumSum, the e19 shape;
    // the band+stitch form re-executed the per-doc scoring feed 3×,
    // measured 2.24 s vs 0.8 s at sf0.1), and
    // each tick's bucket is decided by its FIRST doc's integer rank
    // position (3·cum_before < n / < 2n — cross-multiplied, no division,
    // ties share a bucket by construction). Output is the 3-row dataset
    // card: docs per bucket + the score range each bucket spans.
    "ta_ppl_buckets" -> ((s, d) => {
      val lp = unigramLogprobOf(documents(s, d))
        .select(col("doc_id"),
          round(col("avg_logprob") * 1e4).cast("long").as("lp4"))
      val hist = lp.groupBy("lp4").agg(count(lit(1)).as("cnt"))
      // ntot rides the SAME single-partition window as the running sum
      // (BandedScan.totalOver): the former `hist.agg(sum)` was a second
      // reference to hist, and the whole per-doc LM scoring feed re-ran
      // for it (7 scans in the r10 plan — the +0.45 s residual vs r9)
      graft.functions.BandedScan.cumSum(hist, "lp4", "cnt", "cum",
        desc = true, includeCurrent = true)
        .withColumn("ntot",
          sum(col("cnt")).over(graft.functions.BandedScan.totalOver("lp4")))
        .withColumn("bucket",
          when((col("cum") - col("cnt")) * 3 < col("ntot"), "head")
            .when((col("cum") - col("cnt")) * 3 < col("ntot") * 2, "middle")
            .otherwise("tail"))
        .groupBy("bucket")
        .agg(sum(col("cnt")).as("n_docs"),
          round4(max(col("lp4")) / 1e4).as("best_lp"),
          round4(min(col("lp4")) / 1e4).as("worst_lp"))
        .orderBy("bucket")
    }),

    // Out-of-vocabulary rate per doc vs the corpus's own top-K vocab — the
    // tokenizer-planning signal; see oovRateOf for the distributed top-K
    // selection and the tie-stable total order.
    "ta_oov_rate" -> ((s, d) =>
      oovRateOf(documents(s, d)).orderBy("doc_id")),

    // Bigram-LM quality score — mean ln p(w2|w1) under the corpus's own
    // Laplace-smoothed bigram model, off the shared bigramRows stream.
    // Catches corpus-atypical TRANSITIONS (template junk with diverse
    // unigrams) that ta_unigram_logprob scores as fluent; see
    // bigramLogprobOf for the model frames and grid-snap determinism.
    "ta_bigram_logprob" -> ((s, d) =>
      bigramLogprobOf(documents(s, d)).orderBy("doc_id")),

    // Text analysis: interpolated Kneser–Ney bigram score — absolute
    // discounting + continuation-count back-off, the smoothing real LM
    // quality filters use (Laplace overweights unseen-context mass; KN's
    // continuation term scores a word by how many DISTINCT contexts it
    // follows). See knBigramOf for the model frames and determinism.
    "ta_kn_bigram" -> ((s, d) =>
      knBigramOf(documents(s, d)).orderBy("doc_id")),

    // Text analysis: Gopher-style repetition signals — the duplicate-bigram
    // fraction and the most-frequent-bigram share of each document, the two
    // cheapest detectors of boilerplate/looping text (a failure mode exact
    // and near dedup both miss because the repetition is *within* one doc).
    // Relational throughout: bigrams via the same one-shuffle lead() window
    // shape as shingleRows, then two partial+final hash aggregates — no
    // HOF lambdas, fully codegen'd, so the op is a linear scan at 100 TB.
    "ta_repetition" -> ((s, d) => repetitionOf(documents(s, d)).orderBy("doc_id")),

    // Tokenizer training: three deterministic BPE merge rounds over the
    // corpus token stream — see [[bpeMergeRounds]] for the greedy-merge
    // window algebra and the scale shape. Output is the merge TABLE
    // (round, pair, frequency): the artifact a tokenizer build persists.
    "ta_bpe_merge" -> ((s, d) => bpeRoundsOf(s, d)._1.orderBy("round")),

    // The merge rounds APPLIED, audited: corpus token mass before vs
    // after the 3 merges and the compression ratio — the number a
    // tokenizer build reports per merge budget. Rides the shared BPE
    // build (one per bench pass); two per-doc counts + one pk join.
    "ta_bpe_compress" -> ((s, d) => {
      val before = documents(s, d)
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("nb"))
      val after = bpeRoundsOf(s, d)._2
        .groupBy("doc_id").agg(count(lit(1)).as("na"))
      before.join(after, "doc_id")
        .agg(sum(col("nb")).as("tokens_before"), sum(col("na")).as("tokens_after"),
          sum(col("nb") - col("na")).as("merges_applied"))
        .select(col("tokens_before"), col("tokens_after"), col("merges_applied"),
          round4(col("tokens_after") / col("tokens_before").cast("double"))
            .as("ratio"))
    }),

    // Multimodal decode plumbing — text treated as an opaque binary payload
    // with a deterministic stub "decoder" (byte length, content hash, fake
    // dimensions). The mapPartitions-based typed pipeline lives in
    // graft.multimodal; this is its SQL-expressible projection.
    "mm_decode_stub" -> ((s, d) =>
      documents(s, d)
        .select(
          col("doc_id"),
          octet_length(col("text")).as("n_bytes"),
          md5(col("text")).as("content_hash"),
          (ascii(substring(col("text"), 1, 1)) * 7 % 640).as("width"),
          (ascii(substring(col("text"), 2, 1)) * 5 % 480).as("height"))
        .orderBy("doc_id")),

    // Header-level image dimension parse — JPEG SOF0/PNG IHDR byte
    // arithmetic over a raw binary column (graft.multimodal.ImageHeaders:
    // public formats, no codec, pure codegen'd byte reads). Payloads are
    // synthesized with REAL header layouts around formula dims — the
    // variable-length COM segment forces the JPEG parser to actually
    // scan the marker chain — and STORED to a session parquet spool
    // (the a10 fixture rule: a real image corpus is bytes on disk, and
    // the parser must read a stored binary column, not an inlineable
    // synthesis expression — CollapseProject would otherwise inline the
    // md5-laden payload tree into every byte-read site of the geometry
    // arithmetic below: measured 50.7 s on mm_patch_grid before the
    // spool, 0.1 s after). The oracle recomputes dims from the stored
    // doc_id metadata. At 100 TB this is a bounded prefix read per file
    // feeding the geometry queries below — the metadata plane is honest
    // end to end while the pixel decode stays stubbed.
    "mm_image_dims" -> ((s, d) =>
      graft.multimodal.ImageHeaders
        .withImageDims(imageCorpus(s, d), "payload")
        .select(col("doc_id"), col("fmt"), col("width"), col("height"))
        .orderBy("doc_id")),

    // Multimodal resize planning — the geometry pass a vision-ingest
    // pipeline runs BEFORE any pixels move: shorter-side-to-224 scale in
    // pure integer arithmetic (aspect preserved, floor division — both
    // engines truncate on positive operands) plus the center-crop box.
    // Metadata-only over the PARSED header dims (mm_image_dims — real
    // SOF0/IHDR byte reads, not a stub), a linear scan; at 100 TB the
    // PLAN rows — not the pixels — are what the scheduler shuffles to
    // co-locate decode work, which is why the geometry is graded
    // separately from the decode.
    "mm_resize_plan" -> ((s, d) => {
      graft.multimodal.ImageHeaders
        .withImageDims(imageCorpus(s, d), "payload")
        .select(col("doc_id"),
          col("width").as("src_w"), col("height").as("src_h"))
        .withColumn("rs_w",
          when(col("src_w") <= col("src_h"), lit(224))
            .otherwise(expr("(src_w * 224) div src_h").cast("int")))
        .withColumn("rs_h",
          when(col("src_w") <= col("src_h"),
            expr("(src_h * 224) div src_w").cast("int"))
            .otherwise(lit(224)))
        .withColumn("crop_x", expr("(rs_w - 224) div 2").cast("int"))
        .withColumn("crop_y", expr("(rs_h - 224) div 2").cast("int"))
        .orderBy("doc_id")
    }),

    // Multimodal frame sampling — the payload stands in for a media
    // container of (n_bytes div 100)+1 fixed-size frames; keep every 4th.
    // Like tp_chunk this is a narrow generate-per-row op (sequence+explode,
    // no shuffle) — the shape a keyframe sampler has at 100 TB, where the
    // decoded frames, not the documents, dominate row count.
    "mm_frame_sample" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), octet_length(col("text")).as("n_bytes"))
        // `div` yields LONG — cast back so every output column is int32
        .withColumn("n_frames", (expr("n_bytes div 100") + 1).cast("int"))
        .withColumn("frame_idx",
          explode(sequence(lit(0), col("n_frames") - 1, lit(4))))
        .select(col("doc_id"), col("frame_idx"),
          (col("frame_idx") * 100).as("byte_offset"), col("n_frames"))
        .orderBy("doc_id", "frame_idx")),

    // Multimodal ViT patch geometry — the arithmetic that sizes a vision
    // transformer's input BEFORE any pixel touches the cluster: aspect-
    // preserving downscale to a 96-px max side (integer round-half-up of
    // side·96/max(w,h) — exact cross-engine, no float scale factor), then
    // the ceil-div 16-px patch grid and the resulting sequence length
    // (+1 CLS token). This is the column a packing/batching stage keys on
    // (sequence length drives batch shape and cost), and it must be
    // computable WITHOUT decoding — a 100-TB image corpus plans its
    // training batches from metadata (here the PARSED SOF0/IHDR header
    // dims), decoding only what ships. Per-row projection; no shuffle.
    "mm_patch_grid" -> ((s, d) => {
      graft.multimodal.ImageHeaders
        .withImageDims(imageCorpus(s, d), "payload")
        .select(col("doc_id"), col("width").as("w"), col("height").as("h"))
        .filter(col("w") > 0 && col("h") > 0)
        .withColumn("m", greatest(col("w"), col("h")))
        .withColumn("rw", when(col("m") <= 96, col("w"))
          .otherwise(greatest(lit(1), expr("(192*w + m) div (2*m)"))).cast("int"))
        .withColumn("rh", when(col("m") <= 96, col("h"))
          .otherwise(greatest(lit(1), expr("(192*h + m) div (2*m)"))).cast("int"))
        .select(col("doc_id"), col("w"), col("h"), col("rw"), col("rh"),
          expr("(rw + 15) div 16").cast("int").as("patch_cols"),
          expr("(rh + 15) div 16").cast("int").as("patch_rows"),
          (expr("(rw + 15) div 16") * expr("(rh + 15) div 16") + 1)
            .cast("int").as("seq_len"))
        .orderBy("doc_id")
    }),

    // Multimodal audio frame windowing — the 25 ms / 10 ms hop frame count
    // (the feature-extractor contract: 16 kHz mono 16-bit, 400-sample
    // windows, 160-sample hop) from payload size alone. Like the patch
    // grid, this is the batch-shape column (frame count = encoder sequence
    // length) a pipeline computes from metadata at planning time; the
    // decode itself stays stubbed. Integer end to end; per-row projection.
    "mm_audio_frames" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), octet_length(col("text")).as("n_bytes"))
        .withColumn("n_samples", expr("n_bytes div 2").cast("bigint"))
        .select(col("doc_id"), col("n_bytes"), col("n_samples"),
          expr("(n_samples * 1000) div 16000").cast("bigint").as("duration_ms"),
          when(col("n_samples") >= 400,
            (expr("(n_samples - 400) div 160") + 1).cast("int"))
            .otherwise(lit(0)).as("n_frames"))
        .orderBy("doc_id")),

    // WebDataset-style shard MANIFEST — the byte-budget packing plan a
    // multimodal corpus ships as (tar shards of ~budget bytes, assembled
    // per source in stable key order so resumption and re-shards are
    // reproducible). Payload size is the a10 binary corpus's byte length
    // (octet_length of the UTF-8 payload — the same n_bytes the binary
    // ingest fingerprints); shard id = bytes-before div budget, the
    // tp_pack streaming-first-fit shape on bytes: one window cumsum per
    // source, then the manifest is one hash aggregate — (source, shard,
    // n_docs, bytes, fill). At 100 TB the per-source windows partition by
    // the source key; budget is the shard-size knob (4096 B here, ~500 MB
    // in production, identical plan).
    "mm_shard_plan" -> ((s, d) => {
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      documents(s, d)
        .select(col("doc_id"), col("source"),
          octet_length(col("text")).cast("long").as("n_bytes"))
        .withColumn("before", coalesce(sum(col("n_bytes")).over(w), lit(0L)))
        .withColumn("shard", expr("before div 4096"))
        .groupBy("source", "shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_bytes")).as("bytes"))
        .withColumn("fill", round4(col("bytes") / 4096.0))
        .orderBy("source", "shard")
    }),

    // Cross-doc boilerplate coverage (the C4/RefinedWeb-family signal the
    // WITHIN-doc ta_repetition can't see): a 3-gram shingle appearing in
    // ≥ BoilerplateDf distinct docs is boilerplate (headers, licence
    // blocks, navigation chrome); each doc reports how much of it is made
    // of such shingles. Reuses the raw (uncapped — boilerplate IS the hot
    // tail the similarity cap drops) materialized shingle index; df comes
    // from a partial-aggregable groupBy (the hot key combines map-side,
    // same as the shingleIndex cap computation — never a window over the
    // skewed shingle hash), and the boilerplate set broadcasts back.
    "ta_boilerplate" -> ((s, d) =>
      boilerplateOf(documents(s, d), BoilerplateDf).orderBy("doc_id")),

    // Pattern redaction — the PII-scrub pass (emails, phone numbers, ids)
    // every released training corpus runs. The synthetic corpus has no real
    // PII, so the graded denylist is three vocabulary words standing in for
    // the sensitive-pattern alternation; the MECHANICS are the real ones:
    // one word-boundary regex alternation applied globally per doc, a match
    // count for the redaction report, and the redacted text itself (graded
    // as its md5 to keep the row narrow). Pure per-row projection — no
    // shuffle, codegen'd, trivially linear at 100 TB.
    "ta_redact" -> ((s, d) => redactOf(documents(s, d)).orderBy("doc_id")),

    // Exact-substring span detection (the ExactSubstr dedup family —
    // Lee et al. 2022, arXiv:2107.06499 — the dedup signal Jaccard/MinHash
    // can't localize): report every ≥ 20-token verbatim overlap between two
    // docs as (pair, start offsets, length). k-gram inverted index (same
    // df-capped Σ df² bound as the similarity family) → matches on the same
    // DIAGONAL (pos_a − pos_b) merged into maximal spans with the classic
    // pos − row_number() island trick — all integer arithmetic, one window
    // + one aggregate over the match frame, never all-pairs.
    "dd_substr_spans" -> ((s, d) =>
      substrSpansOf(documents(s, d)).orderBy("doc_a", "doc_b", "start_a", "start_b")),

    // The CUT step the spans feed (ExactSubstr's second half): remove the
    // higher-id copy of every reported span, so of N verbatim occurrences
    // exactly the lowest-id one survives (pairwise lowest-keeps composes:
    // docs {1,2,3} sharing a span cut it from 2 and 3, keep it in 1).
    // Coverage is the union of per-span token ranges — linear in the
    // duplicated volume, never doc²; the rebuild is one anti-join + one
    // per-doc aggregate. Reports the surviving-text hash, not the text —
    // corpus-sized output stays in the sink, not the driver.
    "dd_substr_cut" -> ((s, d) =>
      substrCutOf(documents(s, d)).orderBy("doc_id")),

    // Token-distribution entropy per doc — the classic gibberish/low-
    // diversity gate (a looping doc has entropy → 0, natural text sits
    // near ln(distinct)): H = ln(n) − Σ m·ln(m)/n over the shared
    // tokenCounts frame. Every ln is snapped to a 1e-7 integer grid before
    // the (long) sum — the same order-invariance discipline as
    // ta_unigram_logprob, so any partitioning and both engines produce the
    // identical rounded value. One shared hash aggregate + one more on
    // doc_id: a linear scan at any scale.
    "ta_entropy" -> ((s, d) => entropyOf(documents(s, d)).orderBy("doc_id")),

    // Per-doc shingle NOVELTY — the corpus-curation signal "how much of
    // this doc's 3-gram content appears here first?" (crawl snapshots:
    // high-novelty docs carry new content, near-zero-novelty docs are
    // recombinations of text already seen at earlier ids). First
    // occurrence is min(doc_id) per shingle hash over the UNCAPPED raw
    // index (boilerplate 3-grams legitimately credit whichever doc used
    // them first); the per-shingle min and the index co-shuffle on h, the
    // per-doc roll-up is one more hash aggregate — two exchanges total,
    // linear in corpus shingle volume at any scale. Shares the cached raw
    // shingle frame with shingleIndex (CacheManager keys on the canonical
    // plan — one storage copy). Docs with < 3 tokens have no shingles and
    // drop out (mirrored by the oracle's len(sh) > 0).
    "ta_novelty" -> ((s, d) =>
      noveltyOf(documents(s, d)).orderBy("doc_id")),

    // D13: EXACT heavy hitters at sketch cost — the two-pass
    // Misra–Gries shape (candidates from a k-entry mergeable summary,
    // exactness restored by one bounded verification pass). Pass 1 is a
    // typed MisraGriesAggregator over the shared tokenCounts frame: each
    // map partition reduces to a ≤ k-entry map, merges are map-sums
    // re-capped (Agarwal et al. PODS'12), so the aggregate moves k·parts
    // entries — never the token stream — and MG guarantees every item
    // with frequency > N/(k+1) survives. Pass 2 broadcasts the ≤ k
    // candidates back onto tokenCounts for exact counts and applies the
    // multiplied-out integer threshold cnt·(k+1) > N. At 100 TB the
    // verification join touches only candidate rows; no global
    // sort-by-frequency, no full distinct aggregate shuffle. k = 30 is
    // fixture-tuned (31-token vocabulary → the cap and the threshold both
    // bind); production sizes k ≈ 1/θ for support threshold θ.
    "d13_heavy_hitters" -> ((s, d) =>
      heavyHittersOf(tokenCounts(documents(s, d)), HeavyHitterK).orderBy("tok"))
  )

  /** Two-pass exact heavy hitters over a (doc_id, tok, m) occurrence frame —
    * the core of `d13_heavy_hitters`, parameterized for tests. */
  private[graft] def heavyHittersOf(occ: DataFrame, k: Int): DataFrame = {
    val spark = occ.sparkSession
    import spark.implicits._
    val mg = new graft.functions.Aggregators.MisraGriesAggregator(k)
    val cands = occ.select(col("tok"), col("m")).as[(String, Long)]
      .select(mg.toColumn.name("cands"))
      .select(explode(col("cands")).as("tok"))
    val tot = occ.agg(sum(col("m")).as("n"))
    occ.join(broadcast(cands), "tok")
      .groupBy("tok").agg(sum(col("m")).as("cnt"))
      .crossJoin(broadcast(tot))
      .filter(col("cnt") * (k + 1) > col("n"))
      .select(col("tok"), col("cnt"))
  }

  /** Per-doc first-occurrence shingle share — the core of `ta_novelty`,
    * parameterized for tests. Shares the cached raw shingle frame with
    * [[shingleIndex]] (same canonical plan → one storage copy). */
  private[graft] def noveltyOf(docs: DataFrame): DataFrame = {
    val full = graft.CacheRegistry.materialize(shingleRows(docs))
    val first = full.groupBy("h").agg(min(col("doc_id")).as("first_doc"))
    full.join(first, "h")
      .groupBy("doc_id")
      .agg(max(col("nsh")).as("nsh"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("novel"))
      .select(col("doc_id"), col("nsh"), col("novel"),
        round4(col("novel") / col("nsh")).as("novelty"))
  }

  /** Misra–Gries summary capacity for `d13_heavy_hitters` (support
    * threshold 1/(k+1) of total token mass). Fixture-tuned like
    * [[BoilerplateDf]]: 30 against the 31-token vocabulary makes both the
    * sketch cap and the frequency threshold bind mid-distribution. */
  private[graft] val HeavyHitterK = 30

  /** Shingle document-frequency at or above which a 3-gram counts as
    * cross-doc boilerplate for `ta_boilerplate` (1% of the sf0.01 corpus; a
    * production run sets it relative to corpus size, like [[MaxShingleDf]]). */
  private[graft] val BoilerplateDf = 5

  /** `ta_redact`'s denylist alternation — word-boundary, Java and RE2
    * compatible. Stand-in terms; a real run swaps in email/phone/id
    * patterns with identical plan shape. */
  private[graft] val RedactPattern = "\\b(key|merge|index)\\b"

  /** Per-doc cross-corpus boilerplate coverage: distinct-shingle count,
    * how many of those shingles appear in ≥ `minDf` docs, and the covered
    * fraction. Document frequency is a partial+final hash aggregate (the
    * hot boilerplate shingle is combined map-side — a window over the
    * skewed hash would send every occurrence of the hottest key to one
    * task), and the ≥ minDf set joins back as a broadcast: with the
    * threshold set relative to corpus size (minDf = εN, as here — 1% of
    * the graded corpus), the set is PROVABLY bounded at any scale:
    * |{h : df(h) ≥ εN}| ≤ Σ df / (εN) = avgShinglesPerDoc / ε rows.
    * Docs with < 3 tokens have no shingles and drop out. */
  private[graft] def boilerplateOf(docs: DataFrame, minDf: Int): DataFrame = {
    val inv = graft.CacheRegistry.materialize(shingleRows(docs))
    val boiler = inv.groupBy("h").agg(count(lit(1)).as("df_"))
      .filter(col("df_") >= minDf)
      .select(col("h"), lit(1).as("is_b"))
    inv.join(broadcast(boiler), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nsh"),
        sum(when(col("is_b") === 1, 1L).otherwise(0L)).as("nboiler"))
      .withColumn("coverage",
        round4(col("nboiler").cast("double") / col("nsh")))
      .select("doc_id", "nsh", "nboiler", "coverage")
  }

  /** Polynomial-combine base for the k-gram rolling hash (any constant
    * < P works; products stay < P·B < 2^62, so the Horner fold is
    * overflow-safe even under ANSI arithmetic). */
  private val HornerB = 1000003L

  /** Maximal verbatim token spans (length ≥ `minSpan`) shared by doc pairs:
    * k-gram hashes with positions → df-capped inverted-index match join →
    * per (pair, diagonal) consecutive positions collapse via
    * pos − row_number() → span = run length + k − 1. A shared span of L
    * tokens produces exactly L−k+1 consecutive k-gram matches on one
    * diagonal, so the reported length is exact.
    *
    * Each token is hashed to a long ONCE (md5 prefix mod P) before the
    * per-doc window, and the k-gram key is a Horner polynomial fold of the
    * k token hashes mod P — so the lead-chain shuffles/sorts narrow
    * (doc, pos, long) rows instead of carrying k string columns, and the
    * post-window projection is 9 multiply-adds instead of a 10-token
    * concat + md5 + base-16 conv per row. An isolated 31-bit collision
    * produces a lone diagonal match → run 1 → span k < minSpan, filtered;
    * only ≥ minSpan−k+1 CONSECUTIVE colliding grams could fabricate a
    * span, which is vanishing at any corpus size. Separated for synthetic
    * span tests. */
  private[graft] def substrSpansOf(docs: DataFrame, k: Int = 10,
      minSpan: Int = 20, maxDf: Int = 50): DataFrame = {
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val toks = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos"),
        (conv(substring(md5(col("tok")), 1, 15), 16, 10)
          .cast("long") % P).as("th"))
    val withLeads = (1 until k).foldLeft(toks)((df, i) =>
      df.withColumn(s"t$i", lead(col("th"), i).over(byPos)))
    // materialized once: feeds the hot-gram aggregate AND (via the
    // anti-join) both self-join sides — same two-level pattern as
    // shingleIndex
    val grams = graft.CacheRegistry.materialize(
      withLeads.filter(col(s"t${k - 1}").isNotNull)
        .select(col("doc_id"), col("pos"),
          (1 until k).foldLeft(col("th"))((acc, i) =>
            (acc * HornerB + col(s"t$i")) % P).as("h")))
    // df cap: a k-gram shared corpus-wide (boilerplate) would make its h a
    // quadratic join key; the hot set is tiny and broadcast (same shape and
    // reasoning as shingleIndex's cap)
    val hot = grams.groupBy("h").agg(count(lit(1)).as("df_"))
      .filter(col("df_") > maxDf).select("h")
    // the gram frame feeds three consumers (both self-join sides + the hot
    // aggregate's own subtree) — materialize it once or the explode +
    // lead-window chain re-evaluates per consumer
    val g = graft.CacheRegistry.materialize(
      grams.join(broadcast(hot), Seq("h"), "left_anti"))
    val m = g.alias("a").join(g.alias("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"),
        (col("a.pos") - col("b.pos")).as("diag"))
    val byDiag = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    m.withColumn("grp", col("pa") - row_number().over(byDiag))
      .groupBy("doc_a", "doc_b", "diag", "grp")
      .agg(min(col("pa")).cast("int").as("start_a"),
        min(col("pb")).cast("int").as("start_b"),
        (count(lit(1)) + (k - 1)).as("span_len"))
      .filter(col("span_len") >= minSpan)
      .select("doc_a", "doc_b", "start_a", "start_b", "span_len")
  }

  /** Applies [[substrSpansOf]]'s spans as cuts: every token of `doc_b`
    * covered by a reported span is dropped (the `doc_a` copy survives;
    * `doc_a < doc_b` makes "keep lowest id" transitive across a clique).
    * Overlapping spans union via a distinct (doc, pos) coverage frame, the
    * survivors rebuild per doc with an order-pinned sort inside the
    * aggregate, and fully-cut or span-free docs are restored by a right
    * join back to the corpus. Output is (doc_id, n_kept, n_cut,
    * cut_md5). */
  private[graft] def substrCutOf(docs: DataFrame, k: Int = 10,
      minSpan: Int = 20, maxDf: Int = 50): DataFrame = {
    val spans = substrSpansOf(docs, k, minSpan, maxDf)
    val covered = spans.select(col("doc_b").as("doc_id"),
        explode(sequence(col("start_b"),
          col("start_b") + col("span_len") - 1)).as("pos"))
      .distinct()
    val toks = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val kept = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x("tok")), " ")).as("cut_md5"))
    docs.select(col("doc_id"), size(split(col("text"), " ")).as("n_toks"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_toks") - coalesce(col("n_kept"), lit(0L))).as("n_cut"),
        coalesce(col("cut_md5"), md5(lit(""))).as("cut_md5"))
  }

  /** Per-document token-distribution entropy in nats: H = ln(n) −
    * Σ m·ln(m)/n (the m=n degenerate case gives 0; uniform tokens give
    * ln(distinct)). ln values are grid-snapped longs so the sums are
    * associative — bit-identical across partitionings and engines. */
  private[graft] def entropyOf(docs: DataFrame): DataFrame =
    tokenCounts(docs)
      .select(col("doc_id"), col("m"),
        (col("m") * round(log(col("m").cast("double")) * 1e7).cast("long")).as("sml"))
      .groupBy("doc_id")
      .agg(sum(col("m")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        (sum(col("sml")) / 1e7).as("smlnm"))
      .withColumn("entropy",
        round4((round(log(col("n_tokens").cast("double")) * 1e7).cast("long") / 1e7)
          - col("smlnm") / col("n_tokens")))
      .select("doc_id", "n_tokens", "n_distinct", "entropy")

  /** Word-boundary denylist redaction + per-doc match count; the redacted
    * text is reported as its md5 (narrow graded row). */
  private[graft] def redactOf(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(RedactPattern)).cast("long").as("n_hits"),
      md5(regexp_replace(col("text"), RedactPattern, "[X]")).as("red_md5"))

  // DuckDB-side shared fragments.
  private[graft] val toksSql = "string_split(text, ' ')"
  /** Per `doc_id`: token count `n_tok`, distinct tokens `n_unique`, their
    * unique and stop-word ratios and the unrounded quality `score` the
    * Spark scorers compute. */
  private[graft] val qualityScoreSql =
    s"""(SELECT doc_id, n_tok, n_unique, uniq_ratio, stop_ratio,
               0.3*uniq_ratio + 0.4*(1.0 - stop_ratio) + 0.3*least(n_tok/100.0, 1.0) AS score
        FROM (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok,
                     CAST(len(list_distinct(t)) AS BIGINT) AS n_unique,
                     CAST(len(list_distinct(t)) AS DOUBLE)/len(t) AS uniq_ratio,
                     CAST(len(list_filter(t, x -> x IN ('the','a'))) AS DOUBLE)/len(t) AS stop_ratio
              FROM (SELECT doc_id, $toksSql AS t FROM documents)))"""
  /** The distinct word 3-gram shingles of `text`. */
  private[graft] val shSql =
    s"""list_distinct(list_transform(range(1, len($toksSql) - 1),
        i -> $toksSql[i] || ' ' || $toksSql[i+1] || ' ' || $toksSql[i+2]))"""
  /** The distinct shingle hashes (md5 prefix mod P) of [[shSql]], as
    * [[shingleIndex]] hashes them: where every shingle oracle starts. */
  private[graft] val shHashSql =
    s"""list_distinct(list_transform($shSql,
              s -> ('0x'||substr(md5(s),1,15))::BIGINT % $P))"""

  /** DuckDB CTE chain ending in `pairs(doc_a, doc_b, jac)` — the oracle
    * mirror of [[jaccardPairsOf]] at threshold `tau`, including the
    * stop-shingle df cap (`hot`/`capped`): intersections count capped
    * shingles only, while `nsh` stays the full set size. `blockOnLength`
    * mirrors [[sharedShinglePairs]]' flag (off for containment). */
  private def jacPairsCte(tau: Double, blockOnLength: Boolean = true): String = {
    val blkEq = if (blockOnLength) "AND x.blk = y.blk " else ""
    s"""docs AS (
            SELECT doc_id, lang, (len($toksSql)) // 10 AS blk,
                   $shHashSql AS sh
            FROM documents),
          sizes AS (SELECT doc_id, len(sh) AS nsh FROM docs),
          inv AS (SELECT doc_id, lang, blk, unnest(sh) AS h FROM docs),
          hot AS (SELECT h FROM inv GROUP BY h HAVING count(*) > $MaxShingleDf),
          capped AS (SELECT inv.* FROM inv ANTI JOIN hot USING (h)),
          shared AS (
            SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
            FROM capped x JOIN capped y
              ON x.lang = y.lang ${blkEq}AND x.h = y.h
             AND x.doc_id < y.doc_id
            GROUP BY 1, 2),
          pairs AS (
            SELECT doc_a, doc_b, jac FROM (
              SELECT doc_a, doc_b,
                     CAST(inter AS DOUBLE) / (a.nsh + b.nsh - inter) AS jac
              FROM shared JOIN sizes a ON shared.doc_a = a.doc_id
                          JOIN sizes b ON shared.doc_b = b.doc_id)
            WHERE jac >= $tau)"""
  }

  /** The per-doc unigram-LM score as DuckDB CTEs ending in
    * `doclp(doc_id, n_tokens, avg_logprob)` — the mirror of
    * [[unigramLogprobOf]], shared by ta_unigram_logprob and
    * ta_ppl_buckets. */
  private lazy val unigramLpCtes: String =
    s"""occ AS (
          SELECT doc_id, tok, count(*) AS m
          FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
          GROUP BY doc_id, tok),
        uni AS (SELECT tok, CAST(sum(m) AS BIGINT) AS cnt FROM occ GROUP BY tok),
        tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM uni),
        slps AS (
          SELECT doc_id, m,
                 m * CAST(round(ln(CAST(cnt AS DOUBLE)/tot)*1e7) AS BIGINT) AS slp
          FROM occ JOIN uni USING (tok) CROSS JOIN tot),
        doclp AS (
          SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_tokens,
                 ${sqlRound4("(CAST(sum(slp) AS BIGINT)/1e7)/CAST(sum(m) AS BIGINT)")} AS avg_logprob
          FROM slps GROUP BY doc_id)"""

  /** The τ=0.3 pairs as undirected edges `bi(a, b)` and their transitive
    * closure `reach(src, dst)` from every doc (recursive CTE) — shared by
    * the components oracles. */
  private lazy val closureReachSql: String =
    s"""${jacPairsCte(0.3)},
        bi AS (SELECT doc_a AS a, doc_b AS b FROM pairs
               UNION ALL
               SELECT doc_b AS a, doc_a AS b FROM pairs),
        reach(src, dst) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT r.src, e.b FROM reach r JOIN bi e ON r.dst = e.a)"""

  /** The true τ=0.3 connected-components closure (recursive CTE) — the
    * oracle for dd_components AND both incremental paths (batch +
    * streaming), which must reproduce the full rebuild row-for-row. */
  private[graft] lazy val fullClosureSql: String =
    s"""WITH RECURSIVE $closureReachSql
        SELECT src AS doc_id, min(dst) AS comp
        FROM reach GROUP BY src ORDER BY doc_id"""

  private val centroidSql =
    """SELECT label, CAST(i AS INT) AS pos,
              CAST(round(avg(embedding[i+1]::DOUBLE)*10000) AS BIGINT)/10000.0 AS c
       FROM embeddings, range(64) t(i)
       GROUP BY label, i ORDER BY label, pos"""

  /** One BPE merge round as DuckDB CTEs `pc$r..seq$r` over `$prev` — the
    * operand-for-operand mirror of one [[bpeMergeRounds]] iteration
    * (pair count → total-order winner → run-start/parity greedy merge →
    * re-index). */
  private def bpeRoundSql(prev: String, r: Int): String =
    s"""pc$r AS (SELECT t1, t2, count(*) AS cnt FROM (
            SELECT tok AS t1,
                   lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
            FROM $prev) WHERE t2 IS NOT NULL GROUP BY t1, t2),
        win$r AS (SELECT t1, t2, cnt FROM pc$r
                  ORDER BY cnt DESC, t1 ASC, t2 ASC LIMIT 1),
        mm$r AS (SELECT q.doc_id, q.pos, q.tok, q.nxt,
                   CASE WHEN q.tok = w.t1 AND q.nxt = w.t2 THEN 1 ELSE 0 END AS m
                 FROM (SELECT doc_id, pos, tok,
                         lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
                       FROM $prev) q LEFT JOIN win$r w ON TRUE),
        st$r AS (SELECT *, CASE WHEN m = 1 AND coalesce(
                     lag(m) OVER (PARTITION BY doc_id ORDER BY pos), 0) = 0
                   THEN 1 ELSE 0 END AS s FROM mm$r),
        is$r AS (SELECT *, max(CASE WHEN s = 1 THEN pos END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS mn FROM st$r),
        kp$r AS (SELECT *, CASE WHEN m = 1 AND (pos - mn) % 2 = 0
                   THEN 1 ELSE 0 END AS keep FROM is$r),
        sv$r AS (SELECT doc_id, pos AS opos,
                   CASE WHEN keep = 1 THEN tok || ' ' || nxt ELSE tok END AS tok
                 FROM (SELECT *, lag(keep)
                         OVER (PARTITION BY doc_id ORDER BY pos) AS cons
                       FROM kp$r)
                 WHERE coalesce(cons, 0) = 0),
        seq$r AS (SELECT doc_id,
                    row_number() OVER (PARTITION BY doc_id ORDER BY opos) - 1 AS pos,
                    tok
                  FROM sv$r)"""

  /** The 3-round BPE CTE chain (token stream + rounds 1–3) — shared by
    * the ta_bpe_merge / ta_bpe_compress / ta_bpe_encode_stream oracles. */
  private[graft] lazy val bpeChainSql: String =
    s"""seq0 AS (
          SELECT doc_id, CAST(unnest(range(len(l))) AS BIGINT) AS pos,
                 unnest(l) AS tok
          FROM (SELECT doc_id, $toksSql AS l FROM documents)),
        ${bpeRoundSql("seq0", 1)},
        ${bpeRoundSql("seq1", 2)},
        ${bpeRoundSql("seq2", 3)}"""

  /** `bg(doc_id, bg)`: each doc's word-bigram stream, one row per
    * occurrence — the oracle side of [[bigramRows]]. */
  private val bigramsSql =
    s"""bg AS (
            SELECT doc_id, unnest(list_transform(range(1, len(t)),
                   i -> t[i] || ' ' || t[i+1])) AS bg
            FROM (SELECT doc_id, $toksSql AS t FROM documents))"""

  /** [[bigramsSql]] counted per doc: `occ(doc_id, bg, m)`, the base of
    * both bigram LM oracles. */
  private val bigramOccSql =
    s"""$bigramsSql,
          occ AS (SELECT doc_id, bg, count(*) AS m FROM bg GROUP BY 1, 2)"""

  /** A bigram LM oracle's report over `slps(doc_id, m, slp)`: bigram count,
    * mean log-prob from the 1e-7-snapped sums, pass at `minLogprob`. */
  private def bigramScoreSql(minLogprob: String): String =
    s"""SELECT doc_id, n_bigrams, avg_logprob,
                 CAST(avg_logprob >= $minLogprob AS INT) AS pass
          FROM (
            SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
                   ${sqlRound4("(CAST(sum(slp) AS BIGINT)/1e7)/CAST(sum(m) AS BIGINT)")} AS avg_logprob
            FROM slps GROUP BY doc_id)
          ORDER BY doc_id"""

  /** The winnowing chain dd_substr_spans and dd_substr_cut share, ending
    * in `isl`: per-doc token hashes (`base`, plus the token list as `toks`
    * when `keepToks`), every 10-gram's Horner hash, the df > 50 cap, the
    * cross-doc hash matches and their diagonal islands. */
  private def substrIslandsSql(keepToks: Boolean): String = {
    val toks = if (keepToks) s"$toksSql AS toks, " else ""
    s"""base AS (
            SELECT doc_id,
                   list_transform($toksSql,
                     t -> ('0x'||substr(md5(t),1,15))::BIGINT % $P) AS hs,
                   ${toks}len($toksSql) AS n
            FROM documents),
          expanded AS (
            SELECT doc_id, hs, unnest(generate_series(0, n - 10)) AS pos
            FROM base WHERE n >= 10),
          g0 AS (
            SELECT doc_id, pos,
                   list_reduce(list_slice(hs, pos+1, pos+10),
                     (a, b) -> (a * $HornerB + b) % $P) AS h
            FROM expanded),
          hot AS (SELECT h FROM g0 GROUP BY h HAVING count(*) > 50),
          g AS (SELECT g0.* FROM g0 ANTI JOIN hot USING (h)),
          m AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb,
                   a.pos - b.pos AS diag
            FROM g a JOIN g b ON a.h = b.h AND a.doc_id < b.doc_id),
          isl AS (
            SELECT doc_a, doc_b, diag, pa, pb,
                   pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                     ORDER BY pa) AS grp
            FROM m)"""
  }

  /** `terms(doc_id, dlen, word, cnt)`: each doc's length and per-word
    * counts, shared by ta_tfidf and ta_bm25. */
  private val termsSql =
    s"""terms AS (
            SELECT doc_id, len($toksSql) AS dlen, word, count(*) AS cnt
            FROM (SELECT doc_id, text, unnest($toksSql) AS word FROM documents)
            GROUP BY doc_id, len($toksSql), word)"""

  val oracle: Map[String, String] = Map(
    "ta_bpe_merge" ->
      s"""WITH $bpeChainSql
          SELECT * FROM (
            SELECT CAST(1 AS INT) AS round, t1 AS left_tok, t2 AS right_tok,
                   cnt AS pair_cnt FROM win1
            UNION ALL
            SELECT CAST(2 AS INT) AS round, t1, t2, cnt FROM win2
            UNION ALL
            SELECT CAST(3 AS INT) AS round, t1, t2, cnt FROM win3)
          ORDER BY round""",

    "ta_bpe_compress" ->
      s"""WITH $bpeChainSql,
          bef AS (SELECT doc_id, count(*) AS nb FROM seq0 GROUP BY doc_id),
          aft AS (SELECT doc_id, count(*) AS na FROM seq3 GROUP BY doc_id)
          SELECT CAST(sum(nb) AS BIGINT) AS tokens_before,
                 CAST(sum(na) AS BIGINT) AS tokens_after,
                 CAST(sum(nb - na) AS BIGINT) AS merges_applied,
                 ${sqlRound4("CAST(sum(na) AS BIGINT) / CAST(CAST(sum(nb) AS BIGINT) AS DOUBLE)")} AS ratio
          FROM bef JOIN aft USING (doc_id)""",

    "j1_exact_dedup" ->
      """SELECT doc_id, md5(lower(trim(text))) AS text_hash, lang, source
         FROM documents
         QUALIFY row_number() OVER (PARTITION BY md5(lower(trim(text)))
                                    ORDER BY doc_id) = 1
         ORDER BY doc_id""",

    "j2_jaccard_pairs" ->
      s"""WITH ${jacPairsCte(0.5)}
          SELECT doc_a, doc_b, ${sqlRound4("jac")} AS jac FROM pairs
          ORDER BY doc_a, doc_b""",

    // reuses the jacPairsCte chain for its shared/sizes CTEs (the final
    // `pairs` CTE goes unused — containment is different arithmetic over
    // the same three integers); lang-only blocking mirrors the Spark side
    "j2b_containment" ->
      s"""WITH ${jacPairsCte(0.0, blockOnLength = false)}
          SELECT doc_a, doc_b, ${sqlRound4("cont")} AS cont FROM (
            SELECT doc_a, doc_b,
                   CAST(inter AS DOUBLE) / least(a.nsh, b.nsh) AS cont
            FROM shared JOIN sizes a ON shared.doc_a = a.doc_id
                        JOIN sizes b ON shared.doc_b = b.doc_id)
          WHERE cont >= 0.8
          ORDER BY doc_a, doc_b""",

    "dd_components" -> fullClosureSql,

    // the FULL closure verbatim — the strongest possible gate for the
    // incremental path: its split-feed contraction must reproduce the
    // full rebuild row-for-row (and likewise for the streaming twin,
    // whose per-batch merges are confluent)
    "dd_components_incr" -> fullClosureSql,

    // the FULL-REBUILD probe: pairs recomputed from scratch over the whole
    // corpus (df cap included), filtered to ≥1 new endpoint — equality
    // proves the refreshed stored artifact reproduces the rebuild
    "dd_index_refresh" ->
      s"""WITH ${jacPairsCte(0.3)}
          SELECT doc_a AS src, doc_b AS dst, ${sqlRound4("jac")} AS jac
          FROM pairs WHERE doc_a % 5 = 0 OR doc_b % 5 = 0
          ORDER BY src, dst""",

    // the components closure again, folded to cluster sizes then to the
    // size histogram (HUGEINT sums cast back to BIGINT for hashing)
    "dd_cluster_stats" ->
      s"""WITH RECURSIVE $closureReachSql,
          comp AS (SELECT src AS doc_id, min(dst) AS comp
                   FROM reach GROUP BY src),
          csz AS (SELECT comp, count(*) AS cluster_size
                  FROM comp GROUP BY comp)
          SELECT cluster_size, count(*) AS n_clusters,
                 CAST(sum(cluster_size) AS BIGINT) AS n_docs
          FROM csz GROUP BY cluster_size ORDER BY cluster_size""",

    // τ=0.3 pairs CTE, bidirectional edges, 3 BFS rounds unrolled with the
    // same anti-join min-depth semantics
    "dd_blast_radius" ->
      s"""WITH ${jacPairsCte(0.3)},
          bi AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                 UNION ALL
                 SELECT doc_b AS src, doc_a AS dst FROM pairs),
          d0 AS (SELECT doc_id, 0 AS depth FROM
                   (SELECT DISTINCT doc_a AS doc_id FROM pairs
                    ORDER BY doc_id LIMIT 5)),
          n1 AS (SELECT DISTINCT bi.dst AS doc_id FROM bi
                 JOIN d0 ON bi.src = d0.doc_id),
          d1 AS (SELECT n1.doc_id, 1 AS depth FROM n1
                 ANTI JOIN d0 USING (doc_id)),
          r1 AS (SELECT * FROM d0 UNION ALL SELECT * FROM d1),
          n2 AS (SELECT DISTINCT bi.dst AS doc_id FROM bi
                 JOIN d1 ON bi.src = d1.doc_id),
          d2 AS (SELECT n2.doc_id, 2 AS depth FROM n2
                 ANTI JOIN r1 USING (doc_id)),
          r2 AS (SELECT * FROM r1 UNION ALL SELECT * FROM d2),
          n3 AS (SELECT DISTINCT bi.dst AS doc_id FROM bi
                 JOIN d2 ON bi.src = d2.doc_id),
          d3 AS (SELECT n3.doc_id, 3 AS depth FROM n3
                 ANTI JOIN r2 USING (doc_id))
          SELECT * FROM r2 UNION ALL SELECT * FROM d3
          ORDER BY doc_id""",

    // jacPairsCte(0.5) as in j2, filtered to cross-side pairs, left-joined back
    // to the new-batch slice so admitted docs report zero hits
    "dd_incremental" ->
      s"""WITH ${jacPairsCte(0.5)},
          hits AS (
            SELECT CASE WHEN doc_a % 5 = 0 THEN doc_a ELSE doc_b END AS doc_id,
                   count(*) AS n_dup_hits, max(jac) AS mj
            FROM pairs WHERE (doc_a % 5 = 0) <> (doc_b % 5 = 0)
            GROUP BY 1)
          SELECT d.doc_id, coalesce(h.n_dup_hits, 0) AS n_dup_hits,
                 ${sqlRound4("coalesce(h.mj, 0.0)")} AS max_jac,
                 CAST(coalesce(h.n_dup_hits, 0) = 0 AS INT) AS admit
          FROM documents d LEFT JOIN hits h USING (doc_id)
          WHERE d.doc_id % 5 = 0 ORDER BY d.doc_id""",

    // jacPairsCte(0.5) as in j2, then two pk joins to the source map and a
    // grid-snapped mean per unordered source pair
    "dd_source_overlap" ->
      s"""WITH ${jacPairsCte(0.5)},
          lab AS (
            SELECT least(sa.source, sb.source) AS src_a,
                   greatest(sa.source, sb.source) AS src_b,
                   CAST(round(jac*1e7) AS BIGINT) AS jl
            FROM pairs JOIN documents sa ON pairs.doc_a = sa.doc_id
                       JOIN documents sb ON pairs.doc_b = sb.doc_id)
          SELECT src_a, src_b, count(*) AS dup_pairs,
                 ${sqlRound4("(CAST(sum(jl) AS BIGINT)/1e7)/count(*)")} AS avg_jac
          FROM lab GROUP BY 1, 2 ORDER BY 1, 2""",

    "dd_keep_one" ->
      s"""WITH RECURSIVE $closureReachSql,
          comp AS (SELECT src AS doc_id, min(dst) AS comp FROM reach GROUP BY src)
          SELECT d.doc_id, d.lang, d.source, d.n_chars
          FROM documents d JOIN comp c ON d.doc_id = c.doc_id
          WHERE c.doc_id = c.comp
          ORDER BY d.doc_id""",

    // same recursive closure as dd_keep_one; the representative is the
    // score argmax instead of the min id
    "dd_keep_best" ->
      s"""WITH RECURSIVE $closureReachSql,
          comp AS (SELECT src AS doc_id, min(dst) AS comp FROM reach GROUP BY src),
          scored AS (
            SELECT doc_id, lang, source,
                   CAST(round(score*10000) AS BIGINT) AS score_t
            FROM $qualityScoreSql JOIN documents USING (doc_id))
          SELECT doc_id, comp, score_t, lang, source
          FROM (SELECT s.doc_id, c.comp, s.score_t, s.lang, s.source,
                       row_number() OVER (PARTITION BY c.comp
                         ORDER BY s.score_t DESC, s.doc_id ASC) AS rn
                FROM scored s JOIN comp c USING (doc_id))
          WHERE rn = 1
          ORDER BY doc_id""",

    "ta_sttr" ->
      s"""WITH toks AS (
            SELECT doc_id, CAST((i-1)//25 AS BIGINT) AS seg, t[i] AS tok
            FROM (SELECT doc_id, t, unnest(range(1, len(t)+1)) AS i
                  FROM (SELECT doc_id, $toksSql AS t FROM documents))),
          segs AS (
            SELECT doc_id, seg, count(*) AS len,
                   CAST(count(DISTINCT tok) AS BIGINT) AS types
            FROM toks GROUP BY 1, 2)
          SELECT doc_id, count(*) AS n_segs,
                 ${sqlRound4("CAST(sum(types) AS BIGINT)/(count(*)*25.0)")} AS sttr
          FROM segs WHERE len = 25
          GROUP BY doc_id
          ORDER BY doc_id""",

    "j3_topk_cosine" ->
      """WITH corpus AS (
              SELECT vec_id, embedding,
                     sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                       i -> (embedding[i]::DOUBLE) * (embedding[i]::DOUBLE))), (a,x) -> a + x)) AS nrm
              FROM embeddings),
            qs AS (SELECT vec_id AS query_id, embedding AS q, nrm AS qn FROM corpus
                   ORDER BY vec_id LIMIT 5),
            scored AS (
              SELECT query_id, vec_id,
                     list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                       i -> (q[i]::DOUBLE) * (embedding[i]::DOUBLE))), (a,x) -> a + x)
                     / (qn * nrm) AS cos_raw
              FROM corpus CROSS JOIN qs)
         SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
                CAST(round(cos_raw*10000) AS BIGINT)/10000.0 AS cos
         FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_raw DESC, vec_id ASC) AS rank FROM scored)
         WHERE rank <= 5
         ORDER BY query_id, rank""",

    // The same left-to-right double fold as the Expressions generate —
    // bit-identical, so raw doubles hash-match.
    "k4_sql_vector" ->
      """SELECT vec_id,
                list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                  i -> (embedding[i]::DOUBLE) * (embedding[i]::DOUBLE))),
                  (a,x) -> a + x) AS sq_norm,
                list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                  i -> (embedding[i]::DOUBLE) * (embedding[65-i]::DOUBLE))),
                  (a,x) -> a + x) AS rev_dot,
                list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                  i -> ((embedding[i]::DOUBLE) - (embedding[65-i]::DOUBLE))
                     * ((embedding[i]::DOUBLE) - (embedding[65-i]::DOUBLE)))),
                  (a,x) -> a + x) AS rev_dist
         FROM embeddings ORDER BY vec_id""",

    "j4_centroid" -> centroidSql,

    // Same oracle on purpose: the typed Aggregator must reproduce the
    // relational answer bit-for-bit (round4 absorbs partial-sum-order ulps).
    "j4b_centroid_typed" -> centroidSql,

    "j5_word_freq" ->
      s"""SELECT word, count(*) AS cnt
          FROM (SELECT unnest($toksSql) AS word FROM documents)
          GROUP BY word ORDER BY cnt DESC, word ASC""",

    "ta_tfidf" ->
      s"""WITH $termsSql,
          n AS (SELECT count(*) AS total FROM documents),
          scored AS (
            SELECT doc_id, word,
                   (CAST(cnt AS DOUBLE)/dlen)
                   * ln(CAST(total AS DOUBLE)/(count(*) OVER (PARTITION BY word))) AS tfidf
            FROM terms CROSS JOIN n)
          SELECT doc_id, CAST(rnk AS INT) AS rnk, word, ${sqlRound6("tfidf")} AS tfidf
          FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                  ORDER BY tfidf DESC, word ASC) AS rnk FROM scored)
          WHERE rnk <= 3
          ORDER BY doc_id, rnk""",

    "ta_bigrams" ->
      s"""SELECT bigram, count(*) AS cnt FROM (
            SELECT $toksSql[i] || ' ' || $toksSql[i+1] AS bigram
            FROM documents, LATERAL (SELECT unnest(range(1, len($toksSql))) AS i) t)
          GROUP BY bigram HAVING count(*) >= 20
          ORDER BY cnt DESC, bigram ASC""",

    // one row per token at its first doc; cumulative over the bucket frame
    "ta_heaps" ->
      s"""WITH first AS (
            SELECT tok, min(doc_id) AS fd
            FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
            GROUP BY tok),
          b AS (SELECT fd // 50 AS bucket, count(*) AS new_types
                FROM first GROUP BY 1)
          SELECT bucket * 50 AS docs_start, new_types,
                 CAST(sum(new_types) OVER (ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab
          FROM b ORDER BY docs_start""",

    // same snapped-ln moments in exact BIGINTs; r² through doubles like
    // the Spark side (num² exceeds the long range)
    "ta_zipf" ->
      s"""WITH tc AS (
            SELECT tok, CAST(sum(m) AS BIGINT) AS c FROM (
              SELECT doc_id, tok, count(*) AS m
              FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
              GROUP BY doc_id, tok)
            GROUP BY tok HAVING sum(m) >= 2
            ORDER BY c DESC, tok ASC LIMIT 200),
          rk AS (SELECT row_number() OVER (ORDER BY c DESC, tok ASC) AS r, c FROM tc),
          p AS (SELECT CAST(round(ln(r)*10000) AS BIGINT) AS x,
                       CAST(round(ln(c)*10000) AS BIGINT) AS y FROM rk),
          a AS (SELECT count(*) AS n,
                       CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                       CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(x*y) AS BIGINT) AS sxy,
                       CAST(sum(y*y) AS BIGINT) AS syy FROM p),
          b AS (SELECT n, n*sxy - sx*sy AS num, n*sxx - sx*sx AS denx,
                       n*syy - sy*sy AS deny FROM a)
          SELECT n AS n_points,
                 CAST(CASE WHEN num >= 0 THEN (20000*num + denx) // (2*denx)
                      ELSE -((20000*(-num) + denx) // (2*denx)) END AS BIGINT)/10000.0
                   AS slope,
                 CAST(round((CAST(num AS DOUBLE)*num
                     / nullif(CAST(denx AS DOUBLE)*deny, 0))*10000) AS BIGINT)/10000.0
                   AS r2
          FROM b""",

    // termsSql as in ta_tfidf; idf/tf-part mirrored operand for
    // operand, snapped to 1e-7 pre-sum; avgdl = exact long sum ÷ count
    "ta_bm25" ->
      s"""WITH $termsSql,
          navg AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_total,
                   CAST(sum(len($toksSql)) AS DOUBLE)/count(*) AS avgdl
            FROM documents),
          dfq AS (SELECT word, count(*) AS docfreq FROM terms GROUP BY word),
          q AS (SELECT word FROM (
                  SELECT word, sum(cnt) AS ctot FROM terms GROUP BY word)
                ORDER BY ctot DESC, word ASC LIMIT 3),
          s AS (
            SELECT t.doc_id,
                   CAST(round(ln(1.0 + (n_total - docfreq + 0.5)/(docfreq + 0.5))
                     * ((cnt * 2.2)/(cnt + 1.2 * (0.25 + 0.75 * dlen / avgdl)))
                     * 10000000) AS BIGINT) AS sticks
            FROM terms t JOIN q USING (word) JOIN dfq USING (word)
            CROSS JOIN navg)
          SELECT doc_id, CAST(sum(sticks) AS BIGINT)/10000000.0 AS bm25,
                 count(*) AS n_terms
          FROM s GROUP BY doc_id
          ORDER BY bm25 DESC, doc_id ASC LIMIT 20""",

    // mirrors pmiOf term for term: same bigram stream, same marginals,
    // same ln argument structure, same 1e-7 snap
    "ta_pmi" ->
      s"""WITH cb AS (
            SELECT bg, count(*) AS cnt FROM (
              SELECT $toksSql[i] || ' ' || $toksSql[i+1] AS bg
              FROM documents, LATERAL (SELECT unnest(range(1, len($toksSql))) AS i) t)
            GROUP BY bg),
          ca AS (SELECT split_part(bg, ' ', 1) AS w1, sum(cnt) AS ca FROM cb GROUP BY 1),
          cz AS (SELECT split_part(bg, ' ', 2) AS w2, sum(cnt) AS cz FROM cb GROUP BY 1),
          n AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM cb)
          SELECT bg AS bigram, cnt,
                 CAST(round(ln(CAST(cnt AS DOUBLE) * n
                     / (CAST(ca AS DOUBLE) * CAST(cz AS DOUBLE))) * 10000000)
                   AS BIGINT)/10000000.0 AS pmi
          FROM cb
          JOIN ca ON split_part(bg, ' ', 1) = w1
          JOIN cz ON split_part(bg, ' ', 2) = w2
          CROSS JOIN n
          WHERE cnt >= 20
          ORDER BY pmi DESC, bigram ASC""",

    "j6_quality_filter" ->
      s"""SELECT doc_id, lang, n_chars, CAST(len($toksSql) AS INT) AS n_tokens
          FROM documents
          WHERE n_chars BETWEEN 100 AND 400 AND lang IN ('en','fr','es')
            AND len($toksSql) >= 20
          ORDER BY doc_id""",

    "j7_multimodal_record" ->
      s"""SELECT doc_id, lang, source, n_chars,
                 CAST(len($toksSql) AS INT) AS n_tokens, label,
                 CAST(round(sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                   i -> (embedding[i]::DOUBLE) * (embedding[i]::DOUBLE))), (a,x) -> a + x))*10000) AS BIGINT)/10000.0 AS emb_norm
          FROM documents JOIN embeddings ON doc_id = vec_id
          ORDER BY doc_id""",

    // the qualityScoreSql score, as ta_quality_score; deciles from one
    // quantile_cont list boundary row, dup flags from a count() window
    // over the normalized-text fingerprint
    "pp_score_calibration" ->
      s"""WITH s AS (
            SELECT doc_id, ${sqlRound4("score")} AS score
            FROM $qualityScoreSql),
          dup AS (
            SELECT doc_id, CAST(cnt > 1 AS INT) AS is_dup FROM (
              SELECT doc_id,
                     count(*) OVER (PARTITION BY md5(lower(trim(text)))) AS cnt
              FROM documents)),
          q AS (SELECT quantile_cont(score,
                  [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs FROM s)
          SELECT decile, count(*) AS n_docs,
                 ${sqlRound4("sum(CAST(round(score*10000) AS BIGINT)) / (count(*) * 10000.0)")} AS avg_score,
                 ${sqlRound4("sum(is_dup) / count(*)")} AS dup_rate
          FROM (
            SELECT s.score, dup.is_dup,
                   1 + ${(1 to 9).map(i =>
                     s"CAST(s.score > ${sqlRound4(s"qs[$i]")} AS INT)")
                     .mkString(" + ")} AS decile
            FROM s JOIN dup USING (doc_id) CROSS JOIN q)
          GROUP BY decile ORDER BY decile""",

    // same two quantile_cont passes; the flag compares against the raw
    // (un-rounded) med/mad exactly as the Spark side does
    "ta_mad_outliers" ->
      s"""WITH med AS (SELECT source, quantile_cont(n_chars, 0.5) AS med
                       FROM documents GROUP BY source),
           mad AS (SELECT d.source,
                          quantile_cont(abs(d.n_chars - m.med), 0.5) AS mad
                   FROM documents d JOIN med m ON d.source = m.source
                   GROUP BY d.source)
          SELECT doc_id, d.source, n_chars,
                 ${sqlRound4("med.med")} AS med,
                 ${sqlRound4("mad.mad")} AS mad
          FROM documents d JOIN med ON d.source = med.source
                           JOIN mad ON d.source = mad.source
          WHERE abs(n_chars - med.med) > 2 * mad.mad
          ORDER BY doc_id""",

    "ta_quality_score" ->
      s"""SELECT doc_id, CAST(n_tok AS INT) AS n_tokens,
                 CAST(n_unique AS INT) AS n_unique,
                 ${sqlRound4("uniq_ratio")} AS uniq_ratio,
                 ${sqlRound4("stop_ratio")} AS stop_ratio,
                 score, CAST(score >= 0.5 AS INT) AS pass
          FROM (
            SELECT doc_id, n_tok, n_unique, uniq_ratio, stop_ratio,
                   ${sqlRound4("score")} AS score
            FROM $qualityScoreSql)
          ORDER BY doc_id""",

    "ta_langid" ->
      s"""SELECT doc_id, pred, lang, CAST(pred = lang AS INT) AS hit FROM (
            SELECT doc_id, lang,
                   CASE WHEN en_h >= de_h AND en_h >= fr_h AND en_h > 0 THEN 'en'
                        WHEN de_h >= fr_h AND de_h > 0 THEN 'de'
                        WHEN fr_h > 0 THEN 'fr'
                        ELSE 'und' END AS pred
            FROM (
              SELECT doc_id, lang,
                     len(list_filter(t, x -> x IN ('the','a','of'))) AS en_h,
                     len(list_filter(t, x -> x IN ('der','die','und'))) AS de_h,
                     len(list_filter(t, x -> x IN ('le','la','et'))) AS fr_h
              FROM (SELECT doc_id, lang, $toksSql AS t FROM documents)))
          ORDER BY doc_id""",

    "ta_fingerprint" ->
      """SELECT doc_id,
                list_reduce(list_prepend(0::BIGINT,
                  list_transform(string_split(text, ''), c -> ord(c)::BIGINT)),
                  (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
         FROM documents ORDER BY doc_id""",

    "ta_token_stats" ->
      s"""SELECT doc_id,
                 CAST(len($toksSql) AS INT) AS ws_tokens,
                 CAST(list_sum(list_transform($toksSql,
                   x -> CAST(ceil(length(x)/4.0) AS BIGINT))) AS BIGINT) AS subtokens,
                 CAST(length(text) AS INT) AS chars
          FROM documents ORDER BY doc_id""",

    "mm_decode_stub" ->
      """SELECT doc_id,
                CAST(octet_length(encode(text)) AS INT) AS n_bytes,
                md5(text) AS content_hash,
                CAST(ascii(text[1]) * 7 % 640 AS INT) AS width,
                CAST(ascii(text[2]) * 5 % 480 AS INT) AS height
         FROM documents ORDER BY doc_id""",

    // the parser reads only the payload bytes; the oracle recomputes the
    // dims from the stored doc_id metadata the payload was built around
    "mm_image_dims" ->
      """SELECT doc_id,
                CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
                CAST(doc_id * 7 % 624 + 16 AS INT) AS width,
                CAST(doc_id * 5 % 464 + 16 AS INT) AS height
         FROM documents ORDER BY doc_id""",

    "mm_resize_plan" ->
      """SELECT doc_id, src_w, src_h, rs_w, rs_h,
                CAST((rs_w - 224) // 2 AS INT) AS crop_x,
                CAST((rs_h - 224) // 2 AS INT) AS crop_y
         FROM (
           SELECT doc_id, src_w, src_h,
                  CAST(CASE WHEN src_w <= src_h THEN 224
                            ELSE (src_w * 224) // src_h END AS INT) AS rs_w,
                  CAST(CASE WHEN src_w <= src_h THEN (src_h * 224) // src_w
                            ELSE 224 END AS INT) AS rs_h
           FROM (
             SELECT doc_id,
                    CAST(doc_id * 7 % 624 + 16 AS INT) AS src_w,
                    CAST(doc_id * 5 % 464 + 16 AS INT) AS src_h
             FROM documents))
         ORDER BY doc_id""",

    "ta_regex_tokens" ->
      s"""SELECT doc_id,
                 CAST(len($toksSql) AS INT) AS ws_tokens,
                 CAST(len(toks) AS INT) AS bpe_tokens,
                 CAST(len(list_distinct(toks)) AS INT) AS uniq_bpe
          FROM (SELECT doc_id, text,
                  regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]') AS toks
                FROM documents)
          ORDER BY doc_id""",

    "ta_unigram_logprob" ->
      s"""WITH $unigramLpCtes
          SELECT doc_id, n_tokens, avg_logprob,
                 CAST(avg_logprob >= -9.0 AS INT) AS pass
          FROM doclp ORDER BY doc_id""",

    // the per-doc LM scores folded to exact terciles: histogram on the
    // 1e-4 score grid, cumulative count ordered best-score-first, each
    // tick's bucket decided by its FIRST doc's integer rank position
    // (3·cum_before vs n and 2n — no division, no rounding boundary)
    "ta_ppl_buckets" ->
      s"""WITH $unigramLpCtes,
          lp AS (SELECT doc_id,
                   CAST(round(avg_logprob * 1e4) AS BIGINT) AS lp4 FROM doclp),
          hist AS (SELECT lp4, count(*) AS cnt FROM lp GROUP BY lp4),
          b AS (SELECT lp4, cnt,
                  CAST(sum(cnt) OVER (ORDER BY lp4 DESC) AS BIGINT) AS cum,
                  CAST(sum(cnt) OVER () AS BIGINT) AS ntot FROM hist)
          SELECT bucket, CAST(sum(cnt) AS BIGINT) AS n_docs,
                 ${sqlRound4("max(lp4) / 1e4")} AS best_lp,
                 ${sqlRound4("min(lp4) / 1e4")} AS worst_lp
          FROM (SELECT *, CASE WHEN (cum - cnt) * 3 < ntot THEN 'head'
                               WHEN (cum - cnt) * 3 < ntot * 2 THEN 'middle'
                               ELSE 'tail' END AS bucket FROM b)
          GROUP BY bucket ORDER BY bucket""",

    // same top-20 vocabulary on the same (count desc, token asc) total
    // order, OOV mass = occurrences outside it
    "ta_oov_rate" ->
      s"""WITH occ AS (
            SELECT doc_id, tok, count(*) AS m
            FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
            GROUP BY doc_id, tok),
          vocab AS (
            SELECT tok FROM (
              SELECT tok, CAST(sum(m) AS BIGINT) AS cnt FROM occ GROUP BY tok)
            ORDER BY cnt DESC, tok LIMIT 20)
          SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_tokens,
                 CAST(sum(CASE WHEN v.tok IS NULL THEN m ELSE 0 END) AS BIGINT) AS n_oov,
                 ${sqlRound4("CAST(sum(CASE WHEN v.tok IS NULL THEN m ELSE 0 END) AS DOUBLE)/sum(m)")} AS oov_rate
          FROM occ LEFT JOIN vocab v USING (tok)
          GROUP BY doc_id ORDER BY doc_id""",

    // Same Laplace-smoothed model arithmetic as the Spark side: identical
    // bigram stream, identical grid-snapped ln folded as BIGINTs.
    "ta_bigram_logprob" ->
      s"""WITH $bigramOccSql,
          cb AS (SELECT bg, CAST(sum(m) AS BIGINT) AS cb FROM occ GROUP BY bg),
          ca AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(cb) AS BIGINT) AS ca
                 FROM cb GROUP BY 1),
          voc AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
                  FROM (SELECT unnest($toksSql) AS tok FROM documents)),
          slps AS (
            SELECT doc_id, m,
                   m * CAST(round(ln((CAST(cb AS DOUBLE) + 1)/(ca + v))*1e7) AS BIGINT) AS slp
            FROM occ JOIN cb USING (bg)
            JOIN ca ON split_part(occ.bg, ' ', 1) = ca.w1 CROSS JOIN voc)
          ${bigramScoreSql("-3.45")}""",

    "ta_kn_bigram" ->
      s"""WITH $bigramOccSql,
          cb AS (SELECT bg, CAST(sum(m) AS BIGINT) AS cb,
                        split_part(bg, ' ', 1) AS w1,
                        split_part(bg, ' ', 2) AS w2
                 FROM occ GROUP BY bg),
          ctx AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS ca, count(*) AS n1r
                  FROM cb GROUP BY 1),
          cont AS (SELECT w2, count(*) AS n1l FROM cb GROUP BY 1),
          tt AS (SELECT CAST(count(*) AS DOUBLE) AS tt FROM cb),
          slps AS (
            SELECT doc_id, m,
                   m * CAST(round(ln((cb - 0.75)/ca
                     + 0.75 * n1r / ca * (n1l / tt))*1e7) AS BIGINT) AS slp
            FROM occ JOIN cb USING (bg)
            JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN tt)
          ${bigramScoreSql("-3.40")}""",

    "ta_repetition" ->
      s"""WITH $bigramsSql,
          cnts AS (SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY 1, 2)
          SELECT doc_id, n_bigrams, n_unique,
                 ${sqlRound4("1.0 - CAST(n_unique AS DOUBLE)/n_bigrams")} AS dup_frac,
                 ${sqlRound4("CAST(top_cnt AS DOUBLE)/n_bigrams")} AS top_frac,
                 CAST(${sqlRound4("1.0 - CAST(n_unique AS DOUBLE)/n_bigrams")} <= 0.2
                  AND ${sqlRound4("CAST(top_cnt AS DOUBLE)/n_bigrams")} <= 0.2 AS INT) AS pass
          FROM (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
                       count(*) AS n_unique, CAST(max(cnt) AS BIGINT) AS top_cnt
                FROM cnts GROUP BY doc_id)
          ORDER BY doc_id""",

    "mm_frame_sample" ->
      """SELECT doc_id, CAST(gs AS INT) AS frame_idx,
                CAST(gs * 100 AS INT) AS byte_offset,
                CAST(n_frames AS INT) AS n_frames
         FROM (
           SELECT doc_id, n_frames, unnest(generate_series(0, n_frames - 1, 4)) AS gs
           FROM (SELECT doc_id, octet_length(encode(text)) // 100 + 1 AS n_frames
                 FROM documents))
         ORDER BY doc_id, frame_idx""",

    "mm_patch_grid" ->
      """WITH dims AS (
           SELECT doc_id,
                  CAST(doc_id * 7 % 624 + 16 AS INT) AS w,
                  CAST(doc_id * 5 % 464 + 16 AS INT) AS h
           FROM documents),
         scaled AS (
           SELECT doc_id, w, h,
                  CAST(CASE WHEN greatest(w, h) <= 96 THEN w
                       ELSE greatest(1, (192*w + greatest(w, h)) // (2*greatest(w, h)))
                       END AS INT) AS rw,
                  CAST(CASE WHEN greatest(w, h) <= 96 THEN h
                       ELSE greatest(1, (192*h + greatest(w, h)) // (2*greatest(w, h)))
                       END AS INT) AS rh
           FROM dims WHERE w > 0 AND h > 0)
         SELECT doc_id, w, h, rw, rh,
                CAST((rw + 15) // 16 AS INT) AS patch_cols,
                CAST((rh + 15) // 16 AS INT) AS patch_rows,
                CAST(((rw + 15) // 16) * ((rh + 15) // 16) + 1 AS INT) AS seq_len
         FROM scaled ORDER BY doc_id""",

    "mm_audio_frames" ->
      """SELECT doc_id,
                CAST(n_bytes AS INT) AS n_bytes,
                CAST(n_samples AS BIGINT) AS n_samples,
                CAST((n_samples * 1000) // 16000 AS BIGINT) AS duration_ms,
                CAST(CASE WHEN n_samples >= 400 THEN (n_samples - 400) // 160 + 1
                     ELSE 0 END AS INT) AS n_frames
         FROM (SELECT doc_id, octet_length(encode(text)) AS n_bytes,
                      octet_length(encode(text)) // 2 AS n_samples
               FROM documents)
         ORDER BY doc_id""",

    "mm_shard_plan" ->
      s"""WITH sized AS (
            SELECT doc_id, source,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
            FROM documents),
          placed AS (
            SELECT source,
                   coalesce(CAST(sum(n_bytes) OVER (PARTITION BY source
                     ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS BIGINT), 0) // 4096 AS shard,
                   n_bytes
            FROM sized)
          SELECT source, shard, count(*) AS n_docs,
                 CAST(sum(n_bytes) AS BIGINT) AS bytes,
                 ${graft.functions.ExactNum.sqlRound4(
                   "CAST(sum(n_bytes) AS BIGINT)/4096.0")} AS fill
          FROM placed GROUP BY source, shard
          ORDER BY source, shard""",

    // Same shingle hash as the similarity oracles; df via a window count
    // over the hash, boilerplate = df >= BoilerplateDf.
    "ta_boilerplate" ->
      s"""WITH inv AS (
            SELECT doc_id, unnest($shHashSql) AS h
            FROM documents),
          wdf AS (SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS df
                  FROM inv)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS nsh,
                 CAST(count(*) FILTER (df >= $BoilerplateDf) AS BIGINT) AS nboiler,
                 ${sqlRound4(s"count(*) FILTER (df >= $BoilerplateDf) * 1.0 / count(*)")} AS coverage
          FROM wdf GROUP BY doc_id ORDER BY doc_id""",

    "ta_redact" ->
      s"""SELECT doc_id,
                 CAST(len(regexp_extract_all(text, '$RedactPattern')) AS BIGINT) AS n_hits,
                 md5(regexp_replace(text, '$RedactPattern', '[X]', 'g')) AS red_md5
          FROM documents ORDER BY doc_id""",

    // k-grams via list_slice at each start position (equivalent to the
    // Spark lead-chain), same md5 hash, df cap, diagonal island merge.
    "dd_substr_spans" ->
      s"""WITH ${substrIslandsSql(keepToks = false)}
          SELECT doc_a, doc_b, CAST(min(pa) AS INT) AS start_a,
                 CAST(min(pb) AS INT) AS start_b,
                 CAST(count(*) + 9 AS BIGINT) AS span_len
          FROM isl GROUP BY doc_a, doc_b, diag, grp
          HAVING count(*) + 9 >= 20
          ORDER BY doc_a, doc_b, start_a, start_b""",

    // substrIslandsSql as in dd_substr_spans, then: union span coverage on the doc_b side, anti-join
    // the positional tokens, rebuild with an ORDER BY pos string_agg
    // (mirrors Spark's array_sort(struct(pos, tok)) rebuild), restore
    // span-free docs via right join.
    "dd_substr_cut" ->
      s"""WITH ${substrIslandsSql(keepToks = true)},
          spans AS (
            SELECT doc_b, min(pb) AS sb, count(*) + 9 AS L
            FROM isl GROUP BY doc_a, doc_b, diag, grp
            HAVING count(*) + 9 >= 20),
          covered AS (
            SELECT DISTINCT doc_id, pos FROM (
              SELECT doc_b AS doc_id, unnest(generate_series(sb, sb + L - 1)) AS pos
              FROM spans)),
          toks AS (
            SELECT doc_id, toks[pos + 1] AS tok, pos FROM (
              SELECT doc_id, toks, unnest(generate_series(0, n - 1)) AS pos
              FROM base)),
          kept AS (
            SELECT doc_id, count(*) AS n_kept,
                   md5(string_agg(tok, ' ' ORDER BY pos)) AS cut_md5
            FROM toks ANTI JOIN covered USING (doc_id, pos)
            GROUP BY doc_id)
          SELECT b.doc_id, coalesce(k.n_kept, 0) AS n_kept,
                 b.n - coalesce(k.n_kept, 0) AS n_cut,
                 coalesce(k.cut_md5, md5('')) AS cut_md5
          FROM base b LEFT JOIN kept k USING (doc_id)
          ORDER BY doc_id""",

    // Same grid-snapped-ln arithmetic as the Spark side: every ln folds as
    // a scaled BIGINT before any sum, and the final double ops replay in
    // the identical order.
    "ta_entropy" ->
      s"""SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                 CAST(n_distinct AS BIGINT) AS n_distinct,
                 ${sqlRound4(
                   "CAST(round(ln(n_tokens)*1e7) AS BIGINT)/1e7 - (CAST(sml AS BIGINT)/1e7)/n_tokens")}
                   AS entropy
          FROM (
            SELECT doc_id, sum(m) AS n_tokens, count(*) AS n_distinct,
                   sum(m * CAST(round(ln(m)*1e7) AS BIGINT)) AS sml
            FROM (SELECT doc_id, tok, count(*) AS m
                  FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
                  GROUP BY doc_id, tok)
            GROUP BY doc_id)
          ORDER BY doc_id""",

    // shHashSql, as in jacPairsCte's docs CTE; first occurrence =
    // min(doc_id) per hash over the whole corpus.
    "ta_novelty" ->
      s"""WITH docs AS (
            SELECT doc_id, $shHashSql AS sh
            FROM documents),
          inv AS (SELECT doc_id, unnest(sh) AS h FROM docs),
          first AS (SELECT h, min(doc_id) AS fd FROM inv GROUP BY h),
          sizes AS (SELECT doc_id, len(sh) AS nsh FROM docs WHERE len(sh) > 0),
          nv AS (SELECT inv.doc_id,
                        count(*) FILTER (WHERE f.fd = inv.doc_id) AS novel
                 FROM inv JOIN first f USING (h) GROUP BY inv.doc_id)
          SELECT s.doc_id, CAST(s.nsh AS BIGINT) AS nsh,
                 CAST(nv.novel AS BIGINT) AS novel,
                 ${sqlRound4("CAST(nv.novel AS DOUBLE)/s.nsh")} AS novelty
          FROM sizes s JOIN nv ON s.doc_id = nv.doc_id
          ORDER BY s.doc_id""",

    // The oracle computes the exact frequent-item set directly — the
    // Spark plan must land on the same set through the sketch+verify
    // route, which is precisely the MG guarantee under test.
    "d13_heavy_hitters" ->
      s"""WITH c AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS cnt
            FROM (SELECT unnest($toksSql) AS tok FROM documents)
            GROUP BY tok),
          tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c)
          SELECT tok, cnt FROM c, tot
          WHERE cnt * ${HeavyHitterK + 1} > n
          ORDER BY tok"""
  )
}
