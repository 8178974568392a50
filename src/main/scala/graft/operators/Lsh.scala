package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{ConfScope, Q}
import graft.functions.ExactNum._
import graft.sources.Tables._

/** Sketch/LSH-based dedup and ANN — the 100-TB-scale variants of the
  * brute-force LLM operators in LlmOps:
  *
  *  - MinHash + banded LSH: per-doc 16-hash signature → 8 bands of 2 →
  *    candidate pairs share a band bucket (equi-join, hash-partitioned) →
  *    exact Jaccard verify on the candidates only. Candidate generation is
  *    O(docs × bands), never O(docs²).
  *  - SimHash: 32-bit per-doc fingerprint from token hashes; near-dups
  *    differ in few bits.
  *  - IVF top-k cosine: label centroids act as the coarse quantizer; each
  *    vector is assigned to its nearest (rounded) centroid cell, and a
  *    query probes only its own cell — 10× less compute than brute force
  *    here, k/nlist in general.
  *  - Embedding near-dup: IVF-cell-blocked cosine pairs above a threshold
  *    (Σ|cell|² cost with the nlist knob — never quadratic in a fixed
  *    block).
  *
  * Hashes are md5-derived on both engines (Spark `conv(substr(md5,…),16,10)`
  * ≡ DuckDB `('0x'||substr(md5,…))::BIGINT`), so every oracle hash-matches
  * bit-for-bit; no engine-specific hash function is ever used.
  */
object Lsh {

  private val nHashes = 16
  private val nBands = 8 // rows-per-band = 2

  /** Universal-hash family for MinHash: h_i(x) = (a_i·x + b_i) mod P over a
    * base md5-derived hash. One md5 per shingle, 16 cheap integer ops —
    * instead of 16 md5s — keeps the whole signature pipeline inside
    * whole-stage codegen (higher-order-function lambdas are interpreted in
    * Spark, so the relational explode→groupBy(min×16) form below is ~50×
    * faster and is the shape that scales).
    */
  private[graft] val P = LlmOps.P
  private[graft] val A: IndexedSeq[Long] = (0 until nHashes).map(i => (2654435761L * (i + 1)) % P)
  private[graft] val B: IndexedSeq[Long] = (0 until nHashes).map(i => (40503L * (i + 7) + 1) % P)

  /** 32-bit integer hash of a string via md5. */
  private def mdHash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** (doc_id, band_idx, band_val) LSH band rows of a shingle-hash frame
    * (`doc_id`, `h` columns): 16 affine min-hashes folded by ONE hash
    * aggregate, banded 8×2. Shared by the batch pair miner
    * (`lsh_minhash_pairs`) and the streaming near-dup admission gate
    * (`dd_admit_near_stream`) — one definition, so the stored corpus index
    * and a per-batch signature computation can never drift. */
  private[graft] def minhashBandRows(shingles: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sigs = shingles.groupBy("doc_id").agg(
      min((col("h") * A(0) + B(0)) % P).as("mh0"),
      (1 until nHashes).map(i => min((col("h") * A(i) + B(i)) % P).as(s"mh$i")): _*)
    sigs.select(col("doc_id"),
      posexplode(array((0 until nBands).map(b =>
        concat(col(s"mh${2 * b}").cast("string"), lit("_"),
          col(s"mh${2 * b + 1}").cast("string"))): _*))
        .as(Seq("band_idx", "band_val")))
  }

  /** DuckDB twin of [[minhashBandRows]]'s signature aggregate: the 16
    * min-hash columns over a capped inverted-index CTE. */
  private[graft] def minColsSql: String = (0 until nHashes)
    .map(i => s"min((h * ${A(i)} + ${B(i)}) % $P) AS mh$i")
    .mkString(",\n                   ")

  /** DuckDB twin of the band explode over a `sigs`-shaped CTE `from`. */
  private[graft] def bandSelectsSql(from: String): String = (0 until nBands)
    .map(b => s"SELECT doc_id, $b AS band_idx, CAST(mh${2 * b} AS VARCHAR)||'_'||CAST(mh${2 * b + 1} AS VARCHAR) AS band_val FROM $from")
    .mkString("\n            UNION ALL ")

  private def dot(a: Column, b: Column): Column =
    graft.plans.VectorExpressions.dot_product(a, b)

  private def toDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Deterministic ±1 sign matrix (`nOut`×64) from md5 parity of "rp:j:i" —
    * the JL-style projection seed. A crossJoin of two tiny ranges: never
    * data-sized, always broadcast. */
  private def signMatrix(s: org.apache.spark.sql.SparkSession, nOut: Int): org.apache.spark.sql.DataFrame =
    s.range(nOut).select(col("id").cast("int").as("j"))
      .crossJoin(s.range(64).select(col("id").cast("int").as("i")))
      .withColumn("sgn",
        when(conv(substring(md5(concat(lit("rp:"), col("j").cast("string"),
          lit(":"), col("i").cast("string"))), 1, 15), 16, 10)
          .cast("long") % 2 === 0, 1.0).otherwise(-1.0))

  /** Signed random projections (vec_id, j, raw): explode → broadcast-join →
    * groupBy(vec_id, j) with a scaled-integer sum — one shuffle,
    * partial-aggregable, order-invariant, so both engines produce the exact
    * same `raw` (and therefore the exact same sign) for every coordinate. */
  private def projections(emb: org.apache.spark.sql.DataFrame,
      mat: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
      .join(broadcast(mat), "i")
      .groupBy("vec_id", "j")
      .agg((sum(round(col("x").cast("double") * col("sgn") * 1e7).cast("long"))
        / 1e7).as("raw"))

  // DuckDB-side shared fragments.
  import LlmOps.{shHashSql, toksSql}
  private def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0, list_transform(range(1, 65),
        i -> ($a[i]::DOUBLE) * ($b[i]::DOUBLE))), (acc, x) -> acc + x)"""

  /** Builders whose graded work happens at plan CONSTRUCTION (see
    * SparkEntry.eagerQueries): the deflation's lazy localCheckpoints
    * force physical planning, which under AQE executes the upstream
    * stages at build time — Bench must rebuild these inside the timed
    * pass (the shared basis memo resets per pass; first consumer pays). */
  val eager: Set[String] = Set("emb_pca_top1", "emb_pca_topk", "emb_pca_project")

  /** The graded top-2 basis, one BUILD shared by its two consumers —
    * reset per bench pass. */
  private val basisMemo = graft.CacheRegistry.memo[
    (org.apache.spark.sql.SparkSession, String), org.apache.spark.sql.DataFrame](
    graft.CacheRegistry.PerPass)

  private def pcaBasisOf(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    basisMemo((s, d))(
      // ConfScope.NoAdaptive: everything past the one corpus covariance pass is
      // 64×64 iterative arithmetic (9 power rounds + deflation), where
      // AQE's between-stage replanning and per-checkpoint build execution
      // dominate — measured 2.0 → 1.7 s wall at sf0.1 with identical rows
      // (see ConfScope.NoAdaptive)
      ConfScope(s, ConfScope.NoAdaptive) {
        graft.CacheRegistry.materializeShared(pcaTopkOf(embeddings(s, d)))
      })

  val queries: Map[String, Q] = Map(
    // MinHash signatures → banded LSH buckets → candidate pairs → exact
    // Jaccard verification. Recovers the ≥0.5 pairs (miss probability for a
    // 0.99-Jaccard pair ≈ (1-j²)⁸ ≈ 1e-13) without a quadratic join.
    // Pipeline shape: explode shingles once, one md5 each, 16 affine hashes
    // folded by a single hash-aggregate with 16 min() columns — everything
    // codegen'd, partial+final aggregable, one shuffle on doc_id.
    "lsh_minhash_pairs" -> ((s, d) => {
      val inv = LlmOps.shingleIndex(documents(s, d)).select("doc_id", "h", "nsh")
      // both sides of the candidate self-join reference `bands` — materialize
      // it (8 small rows per doc) or the signature aggregate + band explode
      // run twice; at cluster scale this is the stored LSH band index
      val bands = graft.CacheRegistry.materialize(minhashBandRows(inv))
      val cand = bands.select(col("doc_id").as("doc_a"), col("band_idx"), col("band_val"))
        .join(bands.select(col("doc_id").as("doc_b"), col("band_idx"), col("band_val")),
          Seq("band_idx", "band_val"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      // Exact-Jaccard verification of the candidates via the same inverted
      // index (count shared shingle hashes per pair — no array ops; per-doc
      // set sizes ride along on the inv rows).
      val shared = cand
        .join(inv.select(col("doc_id").as("doc_a"), col("h"), col("nsh").as("na")), "doc_a")
        .join(inv.select(col("doc_id").as("doc_b"), col("h"), col("nsh").as("nb")),
          Seq("doc_b", "h"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("inter"), max(col("na")).as("na"), max(col("nb")).as("nb"))
      shared
        .withColumn("jac",
          col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
        .filter(col("jac") >= 0.5)
        .select(col("doc_a"), col("doc_b"), round4(col("jac")).as("jac"))
        .orderBy("doc_a", "doc_b")
    }),

    // MinHash ESTIMATE audit — the sketch-accuracy card next to the pair
    // miner (est = matching signature components / 16 is an unbiased
    // Jaccard estimator; this grades how far the 16-hash sketch sits from
    // the exact inverted-index Jaccard on every banded candidate). The
    // audit is what sizes nHashes in production: mean |est − jac| ~
    // 1/√nHashes, so a corpus owner reads this table before trusting
    // sketch-only dedup. Same bucketed discipline as lsh_minhash_pairs
    // (signatures + bands + candidates off the shared capped index —
    // never all-pairs); the estimate adds 16 integer equality checks per
    // candidate. Identical shingle sets ⟹ identical signatures ⟹ est = 1
    // exactly (spec-pinned on the planted exact dups).
    "lsh_minhash_est" -> ((s, d) => {
      val inv = LlmOps.shingleIndex(documents(s, d)).select("doc_id", "h", "nsh")
      val sigs = graft.CacheRegistry.materialize(
        inv.groupBy("doc_id").agg(
          min((col("h") * A(0) + B(0)) % P).as("mh0"),
          (1 until nHashes).map(i => min((col("h") * A(i) + B(i)) % P).as(s"mh$i")): _*))
      val bands = graft.CacheRegistry.materialize(minhashBandRows(inv))
      val cand = bands.select(col("doc_id").as("doc_a"), col("band_idx"), col("band_val"))
        .join(bands.select(col("doc_id").as("doc_b"), col("band_idx"), col("band_val")),
          Seq("band_idx", "band_val"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      val sa = sigs.toDF(sigs.columns.map(c => if (c == "doc_id") "doc_a" else s"a_$c"): _*)
      val sb = sigs.toDF(sigs.columns.map(c => if (c == "doc_id") "doc_b" else s"b_$c"): _*)
      val matches = (0 until nHashes)
        .map(i => (col(s"a_mh$i") === col(s"b_mh$i")).cast("long"))
        .reduce(_ + _)
      val exact = cand
        .join(inv.select(col("doc_id").as("doc_a"), col("h"), col("nsh").as("na")), "doc_a")
        .join(inv.select(col("doc_id").as("doc_b"), col("h"), col("nsh").as("nb")),
          Seq("doc_b", "h"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("inter"), max(col("na")).as("na"), max(col("nb")).as("nb"))
      cand
        .join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("matches", matches)
        .join(exact, Seq("doc_a", "doc_b"))
        .select(col("doc_a"), col("doc_b"), col("matches"),
          round4(col("matches") / nHashes.toDouble).as("est"),
          round4(col("inter").cast("double")
            / (col("na") + col("nb") - col("inter"))).as("jac"))
        .orderBy("doc_a", "doc_b")
    }),

    // Signed random projection: 64-dim → 8-dim via a deterministic ±1
    // matrix (md5 parity of "rp:j:i") — the JL-style reduction that shrinks
    // vectors before an ANN index. The 8×64 sign matrix is a broadcast
    // crossJoin of two ranges (never data-sized); the projection itself is
    // explode → broadcast-join → groupBy(vec_id, j) with a scaled-integer
    // sum, so it is one shuffle, partial-aggregable, and order-invariant.
    "emb_rproject" -> ((s, d) =>
      projections(embeddings(s, d), signMatrix(s, 8))
        .select(col("vec_id"), col("j"), round4(col("raw")).as("proj"))
        .orderBy("vec_id", "j")),

    // Embedding near-dup via sign-bucket LSH — with `lsh_emb_near_dup`'s
    // IVF-cell blocking, one of the two sub-quadratic shapes for the same
    // problem (banding composes with cells for huge corpora). Compose L12:
    // a 16-dim signed
    // projection's sign bits, split into 4 bands of 4 bits; two vectors are
    // candidates iff they share any band's 4-bit bucket (equi-join on
    // (band, band_val) — hash-partitioned, never all-pairs), then exact
    // cosine verifies candidates. Knobs at scale: bits-per-band grows with
    // log(corpus/target-bucket-size) to keep buckets bounded, and more
    // bands (or ±1-bit multiprobe) buys recall — the same trade the banded
    // MinHash makes. The oracle mirrors the bucketing bit-for-bit (signs of
    // identical scaled-integer sums), so the gate proves the candidate set
    // and the verification, while RpNearDupSpec measures recall against the
    // brute-force all-pairs truth.
    "lsh_rp_near_dup" -> ((s, d) =>
      rpNearDup(s, d, nBits = 16, bandBits = 4, tau = 0.4)),

    // SimHash: 32-bit fingerprint — bit k is the sign of the sum of ±1
    // votes from each distinct token's hash bit k.
    "lsh_simhash" -> ((s, d) => {
      val bitSums: Seq[Column] = (0 until 32).map { k =>
        aggregate(col("hs"), lit(0L),
          (acc, h) => acc + (shiftright(h, k).bitwiseAND(lit(1L)) * 2 - 1))
      }
      val sim = bitSums.zipWithIndex
        .map { case (sc, k) => when(sc > 0, lit(1L << k)).otherwise(lit(0L)) }
        .reduce(_ + _)
      documents(s, d)
        .withColumn("hs",
          transform(array_distinct(split(col("text"), " ")), t => mdHash32(t)))
        .select(col("doc_id"), sim.as("simhash"))
        .orderBy("doc_id")
    }),

    // IVF top-k cosine — see [[ivfTopK]]; the graded setting is nlist=10,
    // nprobe=1, k=5 over the 5 lowest vec_ids as queries.
    "lsh_ivf_topk" -> ((s, d) =>
      ivfTopK(s, d, nlist = 10, nprobe = 1, k = 5, nq = 5)),

    // SemDeDup-style semantic dedup — see [[semDedup]]; graded at nlist=10,
    // τ=0.4: cluster by the hash-seeded IVF coarse quantizer, drop every
    // vector that has a lower-id semantic duplicate in its cell.
    "sem_dedup" -> ((s, d) => semDedup(s, d, nlist = 10, tau = 0.4)),

    // Embedding-cosine near-dup pairs, blocked by IVF cell (the same
    // hash-seeded coarse quantizer as lsh_ivf_topk — the materialized index
    // is built once and shared by all its consumers). Blocking on a
    // data-independent attribute (the old `label` form) is quadratic per
    // fixed block at scale: Σ|block|² ≈ N²/|labels|. Cell blocking keeps
    // the same equi-join shape but cell size is a KNOB — nlist grows ~√N,
    // so Σ|cell|² stays bounded and the plan survives a 100× scale-up.
    // Norms are computed once per vector before the pair join (1 dot per
    // pair, not 3).
    "lsh_emb_near_dup" -> ((s, d) => {
      val assigned = ivfAssignments(s, d, nlist = 10, nprobe = 1)
      val a = assigned.select(col("vec_id").as("vec_a"), col("cell"),
        col("v").as("va"), col("nrm").as("na"))
      val b = assigned.select(col("vec_id").as("vec_b"), col("cell"),
        col("v").as("vb"), col("nrm").as("nb"))
      a.join(b, Seq("cell"))
        .filter(col("vec_a") < col("vec_b"))
        .withColumn("cos_raw", dot(col("va"), col("vb")) / (col("na") * col("nb")))
        .filter(col("cos_raw") >= 0.4)
        .select(col("vec_a"), col("vec_b"), round4(col("cos_raw")).as("cos"))
        .orderBy("vec_a", "vec_b")
    }),

    // IVF with one Lloyd refinement round — grades the `refine` knob
    // cross-engine: the k-means reassign+recompute round must produce
    // bit-identical centroids (round4 at each round) and therefore
    // identical cells in both engines. AnnRecallSpec separately shows the
    // refined index's recall ≥ the seed index's.
    "lsh_ivf_refined" -> ((s, d) =>
      ivfTopK(s, d, nlist = 10, nprobe = 1, k = 5, nq = 5, refine = 1)),

    // Product quantization (Jégou et al., TPAMI 2011) — the embedding
    // COMPRESSION half of large-scale ANN (IVF is the partition half;
    // IVF-PQ composes them): the 64-dim vector splits into m=4 16-dim
    // subvectors, each subspace learns a k=8-codeword codebook (one
    // k-means assignment step from the same md5-hash-seeded start as the
    // IVF quantizer — no data-dependent seeding, bit-identical centroids
    // via round4 on both engines), and every vector is encoded as its
    // nearest codeword per subspace: 64×8 bytes → 4×3 bits. Output is the
    // long-format code table (vec_id, sub, code, err2) with the per-
    // subspace squared reconstruction error. Scale shape: the codebook is
    // m×k rows — always broadcast; encoding is one broadcast-join +
    // per-(vec,sub) argmin window; nothing is ever pair-wise. The same
    // plan at 100 TB just grows k (and Lloyd rounds, same shape as
    // lsh_ivf_refined's knob).
    "emb_pq" -> ((s, d) => pqCodes(s, d, m = 4, k = 8)),

    // K-means clustering REPORT over the refined IVF index — the dataset
    // card for the coarse quantizer (and the generic embedding-clustering
    // deliverable): per-cluster population and inertia (Σ squared distance
    // to the centroid). Rides the SAME materialized assignment frame
    // lsh_ivf_refined serves from (nlist=10, one Lloyd round) — zero extra
    // corpus passes; the report is one hash aggregate over it. Inertia
    // sums snap each distance to the 1e-4 grid first (order-independent
    // integer sum → engine-identical), the same trick as every money sum.
    // This is the convergence/balance signal a 100-TB clustering job
    // monitors per round: skewed cells → grow nlist or re-seed.
    "emb_kmeans_report" -> ((s, d) =>
      ivfAssignments(s, d, nlist = 10, nprobe = 1, refine = 1)
        .filter(col("rnk") === 1)
        .groupBy("cell")
        .agg(count(lit(1)).as("n"), sum4(col("dist2")).as("inertia"))
        .orderBy("cell")),

    // IVF-PQ ADC search — the composition of the two graded halves
    // (lsh_ivf_topk's coarse cells × emb_pq's codes); see [[ivfpqTopK]].
    // Graded at nlist=10, m=4, k=8 with 2 Lloyd rounds (the measured
    // recall-best codebook on this fixture), top-5 over the 5 lowest
    // vec_ids.
    "lsh_ivfpq_topk" -> ((s, d) =>
      ivfpqTopK(s, d, nlist = 10, m = 4, k = 8, topk = 5, nq = 5, refine = 2)),

    // IVF-PQ + exact re-rank — the third stage of the FAISS architecture
    // (coarse cells → ADC codes → refine): the ADC top-15 pool per query
    // rejoins raw vectors for an exact squared-L2 re-rank to top-5. The
    // corpus scan stays codes-only; exactly nq·candK raw vectors are
    // gathered. Recall vs the exact in-cell ranking dominates pure ADC by
    // construction (AnnRecallSpec pins it; measured 0.44 → 0.68 on the
    // fixture — the residual loss is the ADC pool missing true neighbors
    // past rank 15, the candK knob).
    "lsh_ivfpq_refined" -> ((s, d) =>
      ivfpqRefined(s, d, nlist = 10, m = 4, k = 8, topk = 5, nq = 5,
        refine = 2, candK = 15)),

    // ±1-bit multiprobe LSH — grades the `multiprobe` knob: per band, side
    // A also probes every bucket one sign-bit away, recovering true pairs
    // that disagree on a single bit in every band, at ×(1+bandBits)
    // candidate cost instead of more bands. The oracle mirrors the
    // probe-set union bit-for-bit.
    "lsh_rp_multiprobe" -> ((s, d) =>
      rpNearDup(s, d, nBits = 16, bandBits = 4, tau = 0.4, multiprobe = 1)),

    // SimHash near-dup PAIRS — the dedup stage the lsh_simhash fingerprint
    // exists to feed (Manku et al., WWW'07). Signatures here hash DISTINCT
    // BIGRAMS, not distinct tokens: on a small shared vocabulary every long
    // doc converges to the same token SET, so the unigram fingerprint
    // collapses (hamming 0 across unrelated docs); bigram features keep
    // word order in the signature and restore discrimination. Candidates
    // share one of four 8-bit signature chunks — by pigeonhole a pair
    // within hamming ≤ 3 of 32 bits MUST agree on a full chunk, so for the
    // graded threshold (≤ 2) the chunk index is EXACT, not approximate:
    // same-chunk equi-join (hash-partitioned, never all-pairs), then
    // bit_count(xor) verifies. Scale knobs are the standard simhash-dedup
    // ones: more/wider chunks trade candidate volume against the hamming
    // radius the pigeonhole argument covers.
    "lsh_simhash_pairs" -> ((s, d) => simhashPairs(s, d, maxHamming = 2)),

    // Matryoshka truncation audit (Kusupati et al., NeurIPS 2022): rank by
    // the first-16-dim PREFIX of each embedding (what an MRL-trained model
    // serves at 4× less memory/compute), attach the full-64-dim cosine for
    // every truncated-rank winner — the table that tells you what recall a
    // dimension cut buys before you commit the serving index to it. Same
    // bounded-query brute-force shape as j3 (nq=5 broadcast, corpus scan ×
    // codegen'd 16-dim dot); the truncated frame is a row-local slice, the
    // rank windows are per-query. Ties break on vec_id; raw doubles match
    // engines bit-for-bit (the k4 left-to-right-fold argument), round4 only
    // on display. MatryoshkaSpec pins the prefix-vs-full rank overlap.
    "emb_matryoshka" -> ((s, d) =>
      matryoshkaOf(embeddings(s, d), dims = 16, k = 5, nq = 5)),

    // Binary-quantization ANN with exact re-rank — the 1-bit cousin of
    // lsh_ivfpq_refined (the shape modern vector stores ship as "BQ +
    // rescore"): each vector compresses to its 64 sign bits (two 32-bit
    // halves — a BIGINT<<63 overflows the oracle engine), the corpus scan
    // ranks by Hamming distance over CODES ONLY (8 bytes/vector, 32×
    // compression; XOR+popcount, no floats), and exactly nq·candK raw
    // vectors are gathered for the exact cosine re-rank to top-5.
    // Candidate ranking is integer (hamming, vec_id) — deterministic by
    // construction; the code build is a relational explode + integer hash
    // aggregate (sum of distinct powers ≡ OR), fully codegen'd. At 100 TB
    // the sign codes ride the same stored-index discipline as the PQ
    // codes, and candK is the recall-vs-gather knob. BqRerankSpec pins
    // recall ≥ the no-rerank hamming top-5.
    "emb_bq_rerank" -> ((s, d) =>
      bqRerank(embeddings(s, d), candK = 20, k = 5, nq = 5)),

    // Top principal component by POWER ITERATION — the distributed-PCA
    // primitive (the direction a 100-TB embedding corpus varies most
    // along; the axis every whitening/compression/drift job starts from).
    // One corpus pass builds the 64×64 covariance (explode² self-join on
    // the vector pk: 4096·N product rows, linear in N — the standard
    // distributed shape); every subsequent round is MODEL-sized (64×64 ⋈
    // 64). Determinism discipline: the j4-exact grid-snapped mean, every
    // centered product snapped to a 1e-8 integer grid pre-sum, covariance
    // averaged to ticks, iterate in pure integer ticks with max-abs
    // renormalization per round (an integer max — no sqrt until the very
    // end), md5-parity seed. Three rounds suffice for a rank-separated
    // top eigenvector on any input (PcaSpec pins recovery of a planted
    // dominant axis); the L2 normalization runs once, on integer
    // operands, so both engines see identical doubles.
    // component 1 of the SHARED basis build — pcaTopkOf's first level is
    // pcaTop1Of verbatim (same "pca:" seed, same three power rounds,
    // deflation only alters later levels), so all three PCA queries ride
    // ONE memoized build per pass instead of top1 duplicating the
    // covariance pass (pcaTop1Of itself stays — PcaSpec drives it
    // directly against planted axes).
    "emb_pca_top1" -> ((s, d) =>
      pcaBasisOf(s, d).filter(col("component") === 1)
        .select(col("pos"), col("loading")).orderBy("pos")),

    // Top-3 principal axes by iterated deflation — see [[pcaTopkOf]]:
    // each level's Rayleigh estimate and rank-1 subtraction run on the
    // model-sized 64×64 covariance frame SHARED with emb_pca_top1 (one
    // corpus pass serves all PCA queries); only the three integer power
    // rounds re-run per level, from independent seeds. The
    // whitening/compression basis beyond the top component, at arbitrary
    // k. Memoized per (session, dir): the basis is a shared BUILD
    // (emb_pca_project rides it) — reset per bench pass so one honest
    // build is timed per pass.
    "emb_pca_topk" -> ((s, d) =>
      pcaBasisOf(s, d).orderBy("component", "pos")),

    // The basis APPLIED — every vector's coordinates on the top-2
    // principal axes, the compression/whitening projection itself: one
    // posexplode + a broadcast join against the 128-row basis + one hash
    // aggregate — a linear corpus scan at any size. Each product snaps to
    // the 1e-8 grid pre-sum (loading is already on the 1e-4 grid), so the
    // coordinates are order-invariant and engine-identical.
    "emb_pca_project" -> ((s, d) => {
      val basis = pcaBasisOf(s, d)
      embeddings(s, d)
        .select(col("vec_id"),
          posexplode(toDouble(col("embedding"))).as(Seq("pos", "x")))
        .join(broadcast(basis), "pos")
        .select(col("vec_id"), col("component"),
          round(col("x") * col("loading") * 1e8).cast("long").as("t8"))
        .groupBy("vec_id")
        .agg(round4(sum(when(col("component") === 1, col("t8"))) / 1e8).as("c1"),
          round4(sum(when(col("component") === 2, col("t8"))) / 1e8).as("c2"))
        .orderBy("vec_id")
    }),

    // Embedding outlier flags — the per-cluster OOD audit run before
    // trusting labels or centroids (mislabeled / out-of-distribution
    // vectors sit far from their own label centroid): squared distance to
    // the label centroid, flagged when a vector's dist² exceeds 1.05× its
    // label's mean dist² (fixture-tuned: the synthetic fixtures are uniform
    // noise around label centroids, ratios 0.90–1.12, so the 2–3× bar real
    // data would use here would be vacuous; the spec plants a genuinely far
    // vector and pins the mechanism). Determinism: centroids
    // are j4's exact arithmetic
    // (round4(avg) per (label, pos) — the grid snap absorbs partial-sum
    // ulps), every squared term snaps to a 1e-8 integer grid BEFORE the
    // per-vector sum (order-invariant long arithmetic), and the flag is
    // the cross-multiplied integer compare d8·n·100 > Σd8·105 — no
    // division, no rounding boundary (re-scale the factors if n·d8 ever
    // approaches Long range). Scale shape: the centroid frame is |labels|×64
    // rows (broadcast); everything else is one explode + two hash
    // aggregates over the corpus — a linear scan at any size.
    "emb_outliers" -> ((s, d) => {
      val cent = embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "e")))
        .groupBy("label", "pos")
        .agg(round4(avg(col("e").cast("double"))).as("c"))
      val per = embeddings(s, d)
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .join(broadcast(cent), Seq("label", "pos"))
        .select(col("vec_id"), col("label"),
          round((col("x").cast("double") - col("c"))
            * (col("x").cast("double") - col("c")) * 1e8)
            .cast("long").as("t8"))
        .groupBy("vec_id", "label").agg(sum(col("t8")).as("d8"))
      val lab = per.groupBy("label")
        .agg(count(lit(1)).as("n"), sum(col("d8")).as("s8"))
      per.join(broadcast(lab), "label")
        .select(col("vec_id"), col("label"),
          round4(col("d8") / 1e8).as("dist2"),
          (col("d8") * col("n") * 100 > col("s8") * 105).cast("int").as("flag"))
        .orderBy("vec_id")
    })
  )

  /** Core of `emb_pca_top1` over any embeddings-shaped frame — see the
    * registry comment for the shape; separated so PcaSpec can plant a
    * dominant axis and assert recovery.
    *
    * The covariance uses the MOMENTS identity Cov = E[xxᵀ] − μμᵀ with a
    * DOUBLE posexplode for the second-moment matrix: the centered-product
    * self-join form SHUFFLED 4096·N product rows (measured 3.7 s at
    * sf0.1 — briefly the suite's slowest query), and a 64-column wide
    * aggregate fell out of whole-stage codegen (measured 8 s cold). The
    * double generate is NARROW — 4096·N product rows exist only map-side,
    * and partial aggregation collapses them to ≤ 4096 rows per partition
    * before the only shuffle (the s8 aggregate alone measures 0.7 s at
    * sf0.1). The steady-state query still pays ~3 s: three rounds × two
    * broadcast exchanges each (the round result and its max-abs scalar)
    * re-execute per run — the honest multi-job floor of an ITERATIVE
    * operator, the same class as the graph fixpoints; every frame in
    * those jobs is model-sized, so the floor does not grow with the
    * corpus. Each raw product snaps to the 1e-8 grid pre-sum; the μμᵀ
    * correction happens on the model-sized 64×64 frame with the
    * grid-snapped mean — deterministic end to end, mirrored
    * operand-for-operand. */
  private[graft] def pcaTop1Of(embs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    pcaNormalized(pcaPowerW3(pcaCovOf(embs), pcaSeed(embs, "pca:")))

  /** The 64×64 covariance frame (i, j, c8 in 1e-8 ticks) — the one
    * corpus-sized pass of the PCA family, materialized so `emb_pca_top1`
    * and `emb_pca_topk` share a single build (CacheManager keys on the
    * canonical plan). */
  private def pcaCovOf(embs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val x = embs
      .select(toDouble(col("embedding")).as("v"))
      .select(col("v"), posexplode(col("v")).as(Seq("i", "xi")))
    val mu = x.groupBy("i").agg(round4(avg(col("xi"))).as("mu"))
    val nDf = embs.agg(count(lit(1)).as("n"))
    // the second-moment sums come from ONE typed-aggregator pass
    // (SecondMomentAggregator): the 4096·N product rows of the former
    // posexplode×posexplode form never exist as rows — each map task
    // multiply-accumulates into a 4096-long buffer and the shuffle
    // carries one buffer per partition (measured 3.3 → ~0.4 s at sf0.1;
    // grid snap per product via the Round-exact roundHalfUp, so the
    // sums are bit-identical to the generate form and the oracle)
    val sess = embs.sparkSession
    import sess.implicits._
    val s8 = embs.select(toDouble(col("embedding")).as("v")).as[Array[Double]]
      .select(new graft.functions.Aggregators.SecondMomentAggregator(64)
        .toColumn.name("s8s"))
      .select(posexplode(col("s8s")).as(Seq("idx", "s8")))
      .select(expr("idx div 64").cast("int").as("i"),
        expr("idx % 64").cast("int").as("j"), col("s8"))
    graft.CacheRegistry.materializeShared(
      s8.crossJoin(broadcast(nDf))
        .join(broadcast(mu.select(col("i"), col("mu").as("mi"))), "i")
        .join(broadcast(mu.select(col("i").as("j"), col("mu").as("mj"))), "j")
        .select(col("i"), col("j"),
          round(col("s8") / col("n") - col("mi") * col("mj") * 1e8)
            .cast("long").as("c8")))
  }

  /** md5-parity ±1e7-tick start vector; the prefix makes each component's
    * power run start from an independent direction. */
  private def pcaSeed(embs: org.apache.spark.sql.DataFrame, prefix: String)
      : org.apache.spark.sql.DataFrame =
    embs.sparkSession.range(64).select(col("id").cast("int").as("j"))
      .withColumn("w7",
        when(conv(substring(md5(concat(lit(prefix), col("j").cast("string"))),
          1, 15), 16, 10).cast("long") % 2 === 0, 10000000L)
          .otherwise(-10000000L))

  /** Three integer power rounds over a (i, j, c8) matrix frame.
    * Each round MATERIALIZES its 64-row result (the GraphOps fixpoint
    * lesson): without it, round k's broadcast subtrees re-execute every
    * earlier round — w1 ran 4× inside w3's plan, measured 7 s of pure
    * re-evaluation on 64-row frames. The max-abs renormalization is a
    * WHOLE-FRAME window over the 64-row round result, not a broadcast
    * cross-combine: broadcast exchanges re-execute per action and their
    * per-execution floor dominated the query (r8 audit: two exchanges ×
    * three rounds ≈ 2.5 s of pure broadcast latency on model-sized
    * frames); the single-partition WindowExec WARN is benign by the
    * heapsOf precedent — the frame is always exactly 64 rows. */
  private def pcaPowerW3(cov: org.apache.spark.sql.DataFrame,
      w0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val whole = Window.partitionBy()
    def iterate(w: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      graft.CacheRegistry.materializeShared(
        cov.join(broadcast(w), "j")
          .groupBy("i").agg(sum(col("c8") * col("w7")).as("raw"))
          .select(col("i").as("j"),
            round(col("raw") / max(abs(col("raw"))).over(whole) * 1e7)
              .cast("long").as("w7")))
    iterate(iterate(iterate(w0)))
  }

  private def pcaNormalized(w3: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    w3.select(col("j").as("pos"),
      round4(col("w7") / sqrt(
        sum(col("w7") * col("w7")).over(Window.partitionBy()).cast("double")))
        .as("loading"))

  /** Top-k principal axes by iterated DEFLATION over the shared
    * covariance: after each power run converges to w3, estimate λ by the
    * Rayleigh quotient (every product snapped to the 1e-8 grid pre-sum,
    * the quotient one BIGINT/BIGINT → double division — deterministic in
    * both engines), subtract the rank-1 term on the model-sized 64×64
    * frame, and re-run the three integer power rounds from the next
    * independent md5-parity seed. Everything after the one corpus-sized
    * covariance pass (shared with `emb_pca_top1` via the cache registry)
    * is 64×64 arithmetic — the whitening/compression basis costs the
    * same linear scan however many components are deflated out. PcaSpec
    * plants three orthogonal axes with separated variances and pins
    * recovery of ALL of them in variance order.
    *
    * The rank-1 term is C − λ·vvᵀ/(vᵀv): v is max-abs (NOT unit)
    * normalized, so the outer product divides by vᵀv once more beyond
    * the Rayleigh quotient — without it the deflated axis overshoots
    * negative and the next power run re-converges onto |λ| (caught by
    * the planted-axes spec).
    *
    * Lineage TRUNCATION, not just caching (the minLabelComponents
    * lesson): each w3's tree embeds its covariance ~8× and is itself
    * embedded 4× in the next deflated covariance, which the next power
    * run embeds ~8× more — without the lazy localCheckpoints the plan
    * STRING grows into the hundreds of covariance copies per level and
    * Spark's per-execution tree rendering alone runs for minutes
    * (observed: main thread pinned in generateTreeString). */
  private[graft] def pcaTopkOf(embs: org.apache.spark.sql.DataFrame,
      k: Int = 3): org.apache.spark.sql.DataFrame = {
    var cov = pcaCovOf(embs)
    val comps = (1 to k).map { c =>
      val w3 = pcaPowerW3(cov, pcaSeed(embs, if (c == 1) "pca:" else s"pca$c:"))
        .localCheckpoint(eager = false)
      val out = pcaNormalized(w3).withColumn("component", lit(c))
      if (c < k) {
        val wi = w3.select(col("j").as("wi_j"), col("w7").as("wi"))
        val wj = w3.select(col("j").as("wj_j"), col("w7").as("wj"))
        val covW = cov
          .join(broadcast(wi), col("i") === col("wi_j"))
          .join(broadcast(wj), col("j") === col("wj_j"))
        val ray = covW.agg(
          sum(round(col("wi") / lit(1e7) * (col("c8") / lit(1e8))
            * (col("wj") / lit(1e7)) * lit(1e8)).cast("long")).as("num8"))
        val den = w3.agg(
          sum(round(col("w7") / lit(1e7) * (col("w7") / lit(1e7)) * lit(1e8))
            .cast("long")).as("den8"))
        cov = covW
          .crossJoin(broadcast(ray)).crossJoin(broadcast(den))
          .select(col("i"), col("j"),
            (col("c8") - round(col("num8") / col("den8") * (col("wi") / lit(1e7))
              * (col("wj") / lit(1e7)) / (col("den8") / lit(1e8)) * lit(1e8))
              .cast("long")).as("c8"))
          .localCheckpoint(eager = false)
      }
      out
    }
    comps.reduce(_.unionByName(_))
      .select(col("component"), col("pos"), col("loading"))
  }

  /** Core of `emb_matryoshka` over any embeddings-shaped frame — rank by
    * the `dims`-prefix cosine, attach the full cosine; queries are the
    * `nq` lowest vec_ids. Separated so MatryoshkaSpec can drive it with
    * synthetic prefix-dominant vectors. */
  private[graft] def matryoshkaOf(embs: org.apache.spark.sql.DataFrame,
      dims: Int, k: Int, nq: Int): org.apache.spark.sql.DataFrame = {
    val emb = embs
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("t", slice(col("v"), 1, dims))
      .withColumn("nrm",
        sqrt(graft.plans.VectorExpressions.squared_norm(col("v"))))
      .withColumn("tn",
        sqrt(graft.plans.VectorExpressions.squared_norm(col("t"))))
    val qs = emb.orderBy("vec_id").limit(nq)
      .select(col("vec_id").as("query_id"), col("t").as("qt"),
        col("tn").as("qtn"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = emb.join(broadcast(qs))
      .withColumn("cos_t_raw", dot(col("qt"), col("t")) / (col("qtn") * col("tn")))
      .withColumn("cos_f_raw", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
    // partial top-k aggregator, not a corpus-sized per-query window (the
    // j3 rationale): key = −cos_t (asc ⇒ truncated-cosine desc, vec_id asc
    // ties), the full cosine rides the payload slot; −key restores cos_t
    // exactly (negation is lossless, and `0.0 −` folds −0.0 to +0.0)
    import embs.sparkSession.implicits._
    val topk = new graft.functions.Aggregators.TopKAscAggregator(k).toColumn
    scored.select(col("query_id"), col("cos_t_raw"), col("vec_id"), col("cos_f_raw"))
      .as[(Long, Double, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => (0.0 - t._2, t._3, t._4))
      .agg(topk.name("top"))
      .flatMap { case (qid, top) => top.iterator.zipWithIndex.map {
        case ((negT, vid, cosF), i) => (qid, i + 1, vid, 0.0 - negT, cosF) } }
      .toDF("query_id", "rank", "vec_id", "cos_t_raw", "cos_f_raw")
      .select(col("query_id"), col("rank"), col("vec_id"),
        round4(col("cos_t_raw")).as("cos_t"), round4(col("cos_f_raw")).as("cos_f"))
      .orderBy("query_id", "rank")
  }

  /** Core of `emb_bq_rerank` over any embeddings-shaped frame: 64 sign
    * bits per vector (two 32-bit halves), Hamming candidate ranking over
    * codes only to `candK`, exact cosine re-rank of the bounded gather to
    * top `k`. Separated so BqRerankSpec can drive it synthetically and
    * compare against the no-rerank Hamming ranking. */
  private[graft] def bqRerank(embs: org.apache.spark.sql.DataFrame,
      candK: Int, k: Int, nq: Int): org.apache.spark.sql.DataFrame = {
    val emb = embs
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm",
        sqrt(graft.plans.VectorExpressions.squared_norm(col("v"))))
    val codes = emb
      .select(col("vec_id"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("vec_id").agg(
        sum(when(col("i") < 32 && col("x") > 0,
          expr("shiftleft(CAST(1 AS BIGINT), i)")).otherwise(lit(0L))).as("lo"),
        sum(when(col("i") >= 32 && col("x") > 0,
          expr("shiftleft(CAST(1 AS BIGINT), i - 32)")).otherwise(lit(0L))).as("hi"))
    val qc = codes.orderBy("vec_id").limit(nq)
      .select(col("vec_id").as("query_id"), col("lo").as("qlo"), col("hi").as("qhi"))
    // both ranking stages are partial top-k aggregators, not per-query
    // windows (the j3 rationale — the Hamming stage's window partition was
    // the whole code table): hamming ≤ 64 is exact in a double key, ties
    // vec_id asc by the aggregator's contract
    import embs.sparkSession.implicits._
    val candTopk = new graft.functions.Aggregators.TopKAscAggregator(candK).toColumn
    val cand = codes.join(broadcast(qc))
      .withColumn("hamming",
        bit_count(col("lo").bitwiseXOR(col("qlo"))) +
          bit_count(col("hi").bitwiseXOR(col("qhi"))))
      .select(col("query_id"), col("hamming").cast("double"), col("vec_id"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3, 0.0))
      .agg(candTopk.name("top"))
      .flatMap { case (qid, top) => top.iterator.map {
        case (h, vid, _) => (qid, vid, h.toLong) } }
      .toDF("query_id", "vec_id", "hamming")
    val qv = emb.orderBy("vec_id").limit(nq)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val rerank = new graft.functions.Aggregators.TopKAscAggregator(k).toColumn
    cand.join(emb, "vec_id").join(broadcast(qv), "query_id")
      .withColumn("cos_raw", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .select(col("query_id"), col("cos_raw"), col("vec_id"),
        col("hamming").cast("double"))
      .as[(Long, Double, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => (0.0 - t._2, t._3, t._4))
      .agg(rerank.name("top"))
      .flatMap { case (qid, top) => top.iterator.zipWithIndex.map {
        case ((negC, vid, ham), i) => (qid, i + 1, vid, ham.toInt, 0.0 - negC) } }
      .toDF("query_id", "rank", "vec_id", "hamming", "cos_raw")
      .select(col("query_id"), col("rank"), col("vec_id"), col("hamming"),
        round4(col("cos_raw")).as("cos"))
      .orderBy("query_id", "rank")
  }

  /** Sign-bucket LSH near-dup over `embeddings` — the parameterized form of
    * `lsh_rp_near_dup`. `nBits` signed projections split into bands of
    * `bandBits` sign bits; two vectors are candidates iff they share a
    * band's bucket value, then exact cosine ≥ `tau` verifies. Knobs:
    *
    *  - `bandBits` sets bucket occupancy (2^bandBits buckets per band —
    *    grow it ~log(corpus/target-bucket-size) to stay sub-quadratic);
    *  - `nBits/bandBits` bands buy recall (any-band-matches semantics);
    *  - `multiprobe` = m additionally probes, per band, every bucket within
    *    Hamming distance m of one side's bucket (side A emits the probe
    *    set, side B stays exact — a true pair disagreeing on ≤ m sign bits
    *    in some band is still found). Recall without more bands, at
    *    ×(1 + Σ C(bandBits, i)) candidate cost.
    *
    * Both the bucket index (`bands`) and the candidates stay equi-joined,
    * hash-partitioned DataFrames; AnnRecallSpec pins recall vs the
    * brute-force truth at multiprobe 0 and 1. */
  private[graft] def rpNearDup(s: org.apache.spark.sql.SparkSession, d: String,
      nBits: Int, bandBits: Int, tau: Double, multiprobe: Int = 0)
      : org.apache.spark.sql.DataFrame = {
    require(nBits % bandBits == 0, s"nBits=$nBits not divisible by bandBits=$bandBits")
    require(multiprobe >= 0 && multiprobe <= 1, "only multiprobe 0 or 1 (±1-bit) is implemented")
    val emb = embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(graft.plans.VectorExpressions.squared_norm(col("v"))))
    // both sides of the candidate self-join reference `bands` — materialize
    // it once (nBits/bandBits small rows per vector) or the explode→agg
    // pipeline runs twice; at cluster scale this is the stored bucket index
    val bands = graft.CacheRegistry.materialize(
      projections(embeddings(s, d), signMatrix(s, nBits))
        .select(col("vec_id"), expr(s"j div $bandBits").as("band"),
          expr(s"shiftleft(cast(raw >= 0 as int), j % $bandBits)").as("bitv"))
        .groupBy("vec_id", "band").agg(sum(col("bitv")).as("band_val")))
    val aProbes =
      if (multiprobe == 0) bands
      else bands.select(col("vec_id"), col("band"),
        explode(array(col("band_val") +: (0 until bandBits).map(k =>
          col("band_val").bitwiseXOR(lit(1L << k))): _*)).as("band_val"))
    val cand = aProbes.select(col("vec_id").as("vec_a"), col("band"), col("band_val"))
      .join(bands.select(col("vec_id").as("vec_b"), col("band"), col("band_val")),
        Seq("band", "band_val"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
    cand
      .join(emb.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na")), "vec_a")
      .join(emb.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb")), "vec_b")
      .withColumn("cos_raw", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos_raw") >= tau)
      .select(col("vec_a"), col("vec_b"), round4(col("cos_raw")).as("cos"))
      .orderBy("vec_a", "vec_b")
  }

  /** Per-doc 32-bit simhash over distinct BIGRAMS, fully relational: the
    * shared LlmOps.bigramRows stream (posexplode + lead() window — the same
    * bigrams every other graded bigram operator sees), dedup on the bigram
    * STRING (so an improbable 32-bit hash collision cannot make the engines
    * disagree on the vote count), and the 32 per-bit ±1 vote sums fold in
    * ONE partial+final hash aggregate on doc_id — no higher-order-function
    * lambdas, everything codegen'd. Docs with < 2 tokens have no bigrams
    * and drop out (mirrored in the oracle). */
  private[graft] def simhashBigramSigs(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val grams = LlmOps.bigramRows(docs)
      .distinct()
      .select(col("doc_id"), mdHash32(col("bg")).as("h"))
    val votes = grams.groupBy("doc_id").agg(
      sum((shiftright(col("h"), 0).bitwiseAND(lit(1L))) * 2 - 1).as("b0"),
      (1 until 32).map(k =>
        sum((shiftright(col("h"), k).bitwiseAND(lit(1L))) * 2 - 1).as(s"b$k")): _*)
    val sim = (0 until 32)
      .map(k => when(col(s"b$k") > 0, lit(1L << k)).otherwise(lit(0L)))
      .reduce(_ + _)
    votes.select(col("doc_id"), sim.as("simhash"))
  }

  /** Simhash near-dup pairs at `maxHamming` — see the `lsh_simhash_pairs`
    * query notes for the pigeonhole-exactness argument. The signature frame
    * is referenced three times (two candidate sides + verification), so it
    * is materialized once via the registry — at cluster scale this is the
    * stored fingerprint table simhash dedup systems keep. */
  private[graft] def simhashPairs(s: org.apache.spark.sql.SparkSession, d: String,
      maxHamming: Int): org.apache.spark.sql.DataFrame =
    simhashPairsOf(documents(s, d), maxHamming)

  /** Core of [[simhashPairs]] over any documents-shaped frame — separated
    * so property tests can drive it with arbitrary synthetic corpora. */
  private[graft] def simhashPairsOf(docs: org.apache.spark.sql.DataFrame,
      maxHamming: Int): org.apache.spark.sql.DataFrame = {
    val sigs = graft.CacheRegistry.materialize(simhashBigramSigs(docs))
    val chunks = sigs.select(col("doc_id"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("simhash"), 8 * c).bitwiseAND(lit(255L))): _*))
        .as(Seq("chunk", "chunk_val")))
    val cand = chunks.select(col("doc_id").as("doc_a"), col("chunk"), col("chunk_val"))
      .join(chunks.select(col("doc_id").as("doc_b"), col("chunk"), col("chunk_val")),
        Seq("chunk", "chunk_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("simhash").as("ha")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("simhash").as("hb")), "doc_b")
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** Parameterized IVF top-k cosine index + search over `embeddings`.
    *
    *  - `nlist` cells, seeded deterministically: seed cell₀ =
    *    md5-hash(vec_id) mod nlist, centroid = mean of its seed cell
    *    (rounded to 4 decimals on both engines → bit-identical cells) —
    *    one k-means assignment step from a hash-random start, no label
    *    leakage. At scale nlist grows ~√N and more k-means rounds refine
    *    the same pipeline shape (each round is one broadcast-join + agg).
    *  - Every vector is assigned to its nearest centroid (its home cell);
    *    the assignment is materialized once — at cluster scale this is the
    *    stored IVF index (the registry owns release, see graft.CacheRegistry).
    *  - Queries are an explicit bounded set (the `nq` lowest vec_ids via a
    *    top-k scan), each probing its `nprobe` nearest cells, so the
    *    broadcast is O(nq·nprobe·dim) regardless of corpus size and compute
    *    is ~nq·nprobe/nlist of brute force. AnnRecallSpec measures recall
    *    vs the brute-force truth at nprobe 1 and 2.
    *  - `refine` runs that many Lloyd (k-means) rounds from the hash seed —
    *    each round is one broadcast-join + aggregate over the corpus, so
    *    index build cost is linear in rounds at any scale.
    */
  /** The IVF coarse-quantizer index build shared by [[ivfTopK]] and
    * [[semDedup]]: hash-seeded cells → (optionally Lloyd-refined) centroids
    * → every vector ranked by distance to its `nprobe` nearest cells. The
    * returned frame (vec_id, v, cell, rnk, nrm) is materialized once — at
    * cluster scale this is the stored IVF index the registry owns. */
  /** Assign arbitrary (vec_id, v) vectors to their `nprobe` nearest
    * centroids of the `cents` grid (clabel, cent): one broadcast join +
    * one per-vector rank window. Factored out of [[ivfAssignments]] so
    * the streaming ANN serving gate can assign ARRIVING query vectors
    * against the same stored grid with the identical distance/tie rule. */
  private[graft] def assignVectors(vectors: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame, nprobe: Int)
      : org.apache.spark.sql.DataFrame = {
    val assignW = Window.partitionBy("vec_id").orderBy(col("dist2").asc, col("clabel").asc)
    vectors
      .join(broadcast(cents))
      .withColumn("dist2",
        graft.plans.VectorExpressions.squared_distance(col("v"), col("cent")))
      .withColumn("rnk", row_number().over(assignW))
      .filter(col("rnk") <= math.max(1, nprobe))
      .select(col("vec_id"), col("v"), col("clabel").as("cell"), col("rnk"),
        sqrt(graft.plans.VectorExpressions.squared_norm(col("v"))).as("nrm"),
        col("dist2"))
  }

  /** The IVF coarse-quantizer grid (clabel, cent) over the corpus:
    * hash-seeded cells + `refine` Lloyd rounds — the model artifact a
    * serving path stores next to the assignment index. */
  private[graft] def ivfCentroids(s: org.apache.spark.sql.SparkSession,
      d: String, nlist: Int, refine: Int = 0): org.apache.spark.sql.DataFrame = {
    val emb = embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    // per-cell mean vectors, rounded so both engines build identical cells
    def centroidsOf(assigned: org.apache.spark.sql.DataFrame) = assigned
      .select(col("cell0").as("clabel"), posexplode(col("v")).as(Seq("pos", "e")))
      .groupBy("clabel", "pos").agg(round4(avg(col("e"))).as("c"))
      .groupBy("clabel")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("cent"))
    val seeded = emb.withColumn("cell0",
      (conv(substring(md5(col("vec_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % nlist).cast("int"))
    // optional Lloyd rounds: reassign to the nearest centroid, recompute
    // means — each round is one broadcast-join + one aggregate, the same
    // pipeline shape at any scale (empty cells simply drop out)
    (0 until refine).foldLeft(centroidsOf(seeded)) { (c, _) =>
      centroidsOf(assignVectors(emb, c, 1)
        .select(col("cell").as("cell0"), col("v")))
    }
  }

  private[graft] def ivfAssignments(s: org.apache.spark.sql.SparkSession,
      d: String, nlist: Int, nprobe: Int, refine: Int = 0)
      : org.apache.spark.sql.DataFrame = {
    val emb = embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    graft.CacheRegistry.materialize(
      assignVectors(emb, ivfCentroids(s, d, nlist, refine), math.max(1, nprobe)))
  }

  private[graft] def ivfTopK(s: org.apache.spark.sql.SparkSession, d: String,
      nlist: Int, nprobe: Int, k: Int, nq: Int, refine: Int = 0)
      : org.apache.spark.sql.DataFrame = {
    val ranked = ivfAssignments(s, d, nlist, nprobe, refine)
    val corpus = ranked.filter(col("rnk") === 1)
    val qIds = corpus.select("vec_id").orderBy("vec_id").limit(nq)
    val qs = ranked.join(broadcast(qIds), "vec_id")
      .select(col("vec_id").as("query_id"), col("v").as("q"), col("cell"),
        col("nrm").as("qn"))
    val scored = corpus.join(broadcast(qs), "cell")
      .withColumn("cos_raw", dot(col("q"), col("v")) / (col("qn") * col("nrm")))
    val rankW = Window.partitionBy("query_id").orderBy(col("cos_raw").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), round4(col("cos_raw")).as("cos"))
      .orderBy("query_id", "rank")
  }

  /** Product-quantization encoder — see the `emb_pq` entry for semantics.
    * Codebook: seed code₀ = md5-hash(vec_id) mod k (the vector seeds the
    * SAME codeword in every subspace — irrelevant for quality, one hash per
    * vector), codeword = round4'd per-dimension mean of its seed cell's
    * subvectors. Encoding: broadcast the m·k-row codebook, squared-distance
    * argmin per (vec, sub) with the codeword id as the deterministic
    * tie-break. Distances are bit-identical cross-engine: round4-exact
    * centroids, and both engines fold the 16 dimension terms in index
    * order. */
  /** The PQ model build shared by [[pqCodes]] and [[ivfpqTopK]]: returns
    * (codebook, codes) — codebook is the m·k broadcastable centroid table
    * (sub, code, cent), codes is the per-(vec, sub) assignment
    * (vec_id, sub, code, dist2). */
  private[graft] def pqModel(s: org.apache.spark.sql.SparkSession, d: String,
      m: Int, k: Int, refine: Int = 0)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val dims = 64 / m
    val subs = embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .select(col("vec_id"), col("v"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .withColumn("sv", expr(s"slice(v, sub*$dims + 1, $dims)"))
      .withColumn("seed",
        (conv(substring(md5(col("vec_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % k).cast("int"))
    // (sub, code, sv) → round4'd per-dimension mean codewords
    def centsOf(assign: org.apache.spark.sql.DataFrame) = assign
      .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("pos", "e")))
      .groupBy("sub", "code", "pos").agg(round4(avg(col("e"))).as("c"))
      .groupBy("sub", "code")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("cent"))
    val argminW = Window.partitionBy("vec_id", "sub")
      .orderBy(col("dist2").asc, col("code").asc)
    def nearest(cb: org.apache.spark.sql.DataFrame) =
      subs.join(broadcast(cb), Seq("sub"))
        .withColumn("dist2",
          graft.plans.VectorExpressions.squared_distance(col("sv"), col("cent")))
        .withColumn("rn", row_number().over(argminW))
    // Lloyd rounds per subspace: reassign each subvector to its nearest
    // codeword, recompute round4 means — one broadcast-join + aggregate
    // per round at any scale (empty codewords drop out), exactly the IVF
    // `refine` shape applied m times in parallel. Each round's m·k-row
    // codebook is MATERIALIZED: the next round's plan then starts from a
    // 32-row leaf instead of nesting every previous round's corpus pass
    // (the kcore/components lineage lesson, at codebook size).
    val cb0 = centsOf(subs.select(col("sub"), col("seed").as("code"), col("sv")))
    val codebook = (0 until refine).foldLeft(graft.CacheRegistry.materialize(cb0)) {
      (c, _) =>
        graft.CacheRegistry.materialize(centsOf(nearest(c).filter(col("rn") === 1)
          .select(col("sub"), col("code"), col("sv"))))
    }
    // the code table IS the stored PQ index at cluster scale — built once,
    // owned by the registry, served to every consumer (same policy as
    // ivfAssignments / the shingle and band indexes)
    val codes = graft.CacheRegistry.materialize(nearest(codebook)
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("sub"), col("code"), col("dist2")))
    (codebook, codes)
  }

  private[graft] def pqCodes(s: org.apache.spark.sql.SparkSession, d: String,
      m: Int, k: Int): org.apache.spark.sql.DataFrame =
    pqModel(s, d, m, k)._2
      .select(col("vec_id"), col("sub"), col("code"),
        round4(col("dist2")).as("err2"))
      .orderBy("vec_id", "sub")

  /** IVF-PQ search (Jégou et al. TPAMI'11; the FAISS `IVFPQ` architecture):
    * the coarse IVF quantizer picks the candidate cell, and candidates are
    * ranked by ASYMMETRIC distance (ADC) — the exact query subvector
    * against each candidate's CODEWORD, so ranking needs only the 12-bit
    * code per candidate, never the raw vector. The ADC lookup table is
    * nq·m·k rows (query × subspace × codeword squared distances) — always
    * broadcast; per candidate the approximate distance is the SUM of its m
    * table entries. The sum runs over exact 1e-4-tick longs (each entry
    * tenK-quantized) so it is associative — identical under any
    * partitioning or fold order on either engine — and the (adist, vec_id)
    * ranking is wholly deterministic. At 100 TB this is the plan where the
    * raw vectors never shuffle: cells partition the corpus, codes are 4
    * bytes/vector, and only the top-k per query rejoin their vectors for
    * an (optional) exact re-rank. */
  /** Shared ADC candidate chain for [[ivfpqTopK]] / [[ivfpqRefined]]:
    * returns (qs = (query_id, q, cell), candidates = (query_id, vec_id,
    * adist_tenk) for every same-cell candidate). See [[ivfpqTopK]] for the
    * scale notes. */
  private def adcCandidates(s: org.apache.spark.sql.SparkSession, d: String,
      nlist: Int, m: Int, k: Int, nq: Int, refine: Int)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val dims = 64 / m
    val ranked = ivfAssignments(s, d, nlist, nprobe = 1)
    val corpus = ranked.filter(col("rnk") === 1).select("vec_id", "cell")
    val (codebook, codes) = pqModel(s, d, m, k, refine)
    val qIds = corpus.select("vec_id").orderBy("vec_id").limit(nq)
    val qs = ranked.filter(col("rnk") === 1).join(broadcast(qIds), "vec_id")
      .select(col("vec_id").as("query_id"), col("v").as("q"), col("cell"))
    // ADC lookup table: exact query subvector vs every codeword, as 1e-4
    // ticks (nq·m·k rows, broadcast)
    val adc = qs
      .select(col("query_id"), col("q"), explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .withColumn("qsv", expr(s"slice(q, sub*$dims + 1, $dims)"))
      .join(broadcast(codebook), Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        tenK(graft.plans.VectorExpressions.squared_distance(col("qsv"), col("cent")))
          .as("dq"))
    val cand = corpus.join(broadcast(qs.select(col("query_id"), col("cell"))), Seq("cell"))
      .join(codes.select("vec_id", "sub", "code"), Seq("vec_id"))
      .join(broadcast(adc), Seq("query_id", "sub", "code"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("dq")).as("adist_tenk"))
    (qs, cand)
  }

  private[graft] def ivfpqTopK(s: org.apache.spark.sql.SparkSession, d: String,
      nlist: Int, m: Int, k: Int, topk: Int, nq: Int, refine: Int = 0)
      : org.apache.spark.sql.DataFrame = {
    val (_, cand) = adcCandidates(s, d, nlist, m, k, nq, refine)
    val rankW = Window.partitionBy("query_id").orderBy(col("adist_tenk").asc, col("vec_id").asc)
    cand
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= topk)
      .select(col("query_id"), col("rank"), col("vec_id"),
        (col("adist_tenk") / 10000.0).as("adist"))
      .orderBy("query_id", "rank")
  }

  /** IVF-PQ with exact re-rank (the FAISS `IVFPQR`/refine stage): the ADC
    * ranking keeps a candidate pool of `candK` per query (codes only — 4
    * bytes/vector, raw vectors still never shuffle), and ONLY those
    * nq·candK candidates rejoin their raw vectors for an exact
    * squared-L2 re-rank to topk. This removes most of the 12-bit
    * quantization loss at a bounded exact-compute cost: recall vs the
    * exact in-cell ranking is ≥ the pure-ADC recall BY CONSTRUCTION
    * (ADC-top-topk ⊆ ADC-top-candK, and every true neighbor present in
    * the pool survives an exact re-rank) — pinned in AnnRecallSpec. At
    * 100 TB the candidate pool is the knob that trades one bounded
    * gather of raw vectors (a broadcast-semi join against the corpus)
    * for recall; the corpus-sized scan stays codes-only. Exact distances
    * are 1e-4-tick longs (sequential fold both engines) → deterministic
    * ranking, engine-identical hash. */
  private[graft] def ivfpqRefined(s: org.apache.spark.sql.SparkSession, d: String,
      nlist: Int, m: Int, k: Int, topk: Int, nq: Int, refine: Int, candK: Int)
      : org.apache.spark.sql.DataFrame = {
    val (qs, cand) = adcCandidates(s, d, nlist, m, k, nq, refine)
    val candW = Window.partitionBy("query_id").orderBy(col("adist_tenk").asc, col("vec_id").asc)
    val pool = cand
      .withColumn("crank", row_number().over(candW))
      .filter(col("crank") <= candK)
      .select("query_id", "vec_id")
    // gather raw vectors for the pool only: the pool is nq·candK rows →
    // broadcast it against the corpus-sized vector frame
    val vecs = ivfAssignments(s, d, nlist, nprobe = 1)
      .filter(col("rnk") === 1).select(col("vec_id"), col("v"))
    val rankW = Window.partitionBy("query_id").orderBy(col("d2t").asc, col("vec_id").asc)
    vecs.join(broadcast(pool), Seq("vec_id"))
      .join(broadcast(qs.select(col("query_id"), col("q"))), Seq("query_id"))
      .withColumn("d2t",
        tenK(graft.plans.VectorExpressions.squared_distance(col("v"), col("q"))))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= topk)
      .select(col("query_id"), col("rank"), col("vec_id"),
        (col("d2t") / 10000.0).as("dist2"))
      .orderBy("query_id", "rank")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic dedup by
    * clustering embeddings and removing near-identical vectors *within each
    * cluster*: assign every vector to its nearest IVF cell (the same
    * hash-seeded coarse quantizer as [[ivfTopK]] — no label leakage), score
    * within-cell pairs by exact cosine, and drop every vector that has a
    * duplicate with a smaller vec_id in its cell (keep-lowest is the
    * deterministic stand-in for the paper's keep-one-per-group). Output is
    * the surviving (vec_id, cell) corpus.
    *
    * Scale shape: the pair join is equi on `cell`, so cost is
    * Σ_cell |cell|² — exactly the bound SemDeDup chooses, with nlist grown
    * ~√N (the knob is a parameter here) to hold cells at a constant size;
    * for huge cells the in-cell verify composes with [[rpNearDup]]'s
    * sign-bucket banding. The cell index is built once ([[ivfAssignments]]
    * materializes it) and norms are computed per vector, not per pair. */
  private[graft] def semDedup(s: org.apache.spark.sql.SparkSession, d: String,
      nlist: Int, tau: Double, refine: Int = 0): org.apache.spark.sql.DataFrame = {
    val assigned = ivfAssignments(s, d, nlist, nprobe = 1, refine)
    val a = assigned.select(col("vec_id").as("vec_a"), col("cell"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("vec_id").as("vec_b"), col("cell"),
      col("v").as("vb"), col("nrm").as("nb"))
    val dups = a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos_raw", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos_raw") >= tau)
      .select(col("vec_b").as("vec_id")).distinct()
    assigned.join(dups, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"))
      .orderBy("vec_id")
  }

  /** Oracle CTE chain ending in `assigned, normed` — the DuckDB mirror of
    * [[ivfAssignments]] at nprobe=1, shared by the IVF search, SemDeDup and
    * cell-blocked near-dup oracles so the cell assignment is asserted once.
    * `refine` Lloyd rounds mirror the Spark side: reassign every vector to
    * its nearest centroid, recompute round4-ed means — identical membership
    * each round because the distances fold in the same order and the
    * centroids are exact 4-decimal values in both engines. */
  /** Oracle CTE chain for the PQ model — mirrors [[pqModel]] (same md5
    * seed, round4 codeword means, argmin with code-id tie-break, `refine`
    * Lloyd rounds per subspace). Ends in `pcb` (the final codebook:
    * sub, code, cent) and `pcodes` (vec_id, embedding, sub, code, dist2).
    * All CTE names are p-prefixed so the chain composes with
    * [[ivfAssignSql]] in one WITH clause. */
  private def pqSql(k: Int, refine: Int): String = {
    def distExpr(e: String, sub: String, cent: String): String =
      pqDistSql(e, sub, cent)
    def centsOf(src: String, cname: String): String =
      s"""$cname AS (
            SELECT sub, code, list(c ORDER BY pos) AS cent FROM (
              SELECT sub, code, i AS pos,
                     CAST(round(avg(embedding[sub*16 + i + 1]::DOUBLE)*10000) AS BIGINT)/10000.0 AS c
              FROM $src, range(16) t(i) GROUP BY 1, 2, 3)
            GROUP BY sub, code)"""
    def assignOf(cbname: String, aname: String): String =
      s"""$aname AS (
            SELECT vec_id, embedding, sub, code, dist2 FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                          ORDER BY dist2 ASC, code ASC) AS rn FROM (
                SELECT s.vec_id, s.embedding, s.sub, c.code,
                       ${distExpr("s.embedding", "s.sub", "c.cent")} AS dist2
                FROM psubs s JOIN $cbname c ON s.sub = c.sub))
            WHERE rn = 1)"""
    val lloyd = (1 to refine).map { r =>
      assignOf(s"pcb${r - 1}", s"pre$r") + ",\n          " +
        centsOf(s"pre$r", s"pcb$r")
    }.mkString(",\n          ", ",\n          ", "")
    s"""pseed AS (
            SELECT vec_id, embedding,
                   CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15))::BIGINT % $k AS INT) AS code0
            FROM embeddings),
          psubs AS (
            SELECT vec_id, embedding, code0 AS code, CAST(t.i AS INT) AS sub
            FROM pseed, range(4) t(i)),
          ${centsOf("psubs", "pcb0")}${if (refine > 0) lloyd else ""},
          pcb AS (SELECT * FROM pcb$refine),
          ${assignOf("pcb", "pcodes")}"""
  }

  /** SQL fragment: squared distance between a 16-dim subvector of `e`
    * (subspace index `sub`) and codeword `cent` — shared by [[pqSql]]
    * consumers that need the ADC table. */
  private def pqDistSql(e: String, sub: String, cent: String): String =
    s"""list_reduce(list_prepend(0.0, list_transform(range(1, 17),
        i -> ($e[$sub*16 + i]::DOUBLE - $cent[i])
           * ($e[$sub*16 + i]::DOUBLE - $cent[i]))), (acc, x) -> acc + x)"""

  private[graft] def ivfAssignSql(nlist: Int, refine: Int = 0): String = {
    def centsOf(src: String, cname: String): String =
      s"""$cname AS (
            SELECT clabel, list(c ORDER BY pos) AS cent FROM (
              SELECT cell0 AS clabel, i AS pos,
                     CAST(round(avg(embedding[i+1]::DOUBLE)*10000) AS BIGINT)/10000.0 AS c
              FROM $src, range(64) t(i) GROUP BY 1, 2)
            GROUP BY clabel)"""
    def assignOf(cname: String, aname: String, outCol: String): String =
      s"""$aname AS (
            SELECT vec_id, embedding, $outCol FROM (
              SELECT e.vec_id, e.embedding, c.clabel AS $outCol,
                     row_number() OVER (PARTITION BY e.vec_id ORDER BY
                       list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                         i -> (e.embedding[i]::DOUBLE - c.cent[i])
                            * (e.embedding[i]::DOUBLE - c.cent[i]))), (acc,x) -> acc + x) ASC,
                       c.clabel ASC) AS rn
              FROM embeddings e CROSS JOIN $cname c)
            WHERE rn = 1)"""
    val lloyd = (1 to refine).map { r =>
      assignOf(s"cents${r - 1}", s"re$r", "cell0") + ",\n          " +
        centsOf(s"re$r", s"cents$r")
    }.mkString(",\n          ", ",\n          ", "")
    s"""seeded AS (
            SELECT vec_id, embedding,
                   CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15))::BIGINT % $nlist AS INT) AS cell0
            FROM embeddings),
          ${centsOf("seeded", "cents0")}${if (refine > 0) lloyd else ""},
          ${assignOf(s"cents$refine", "assigned", "cell")},
          normed AS (
            SELECT vec_id, embedding, cell,
                   sqrt(${dotSql("embedding", "embedding")}) AS nrm
            FROM assigned)"""
  }

  // Oracle-side simhash term list, generated to mirror the Spark bit loop.
  private[graft] val simhashTermsSql: String = (0 until 32).map { k =>
    s"CASE WHEN list_sum(list_transform(hs, h -> ((h >> $k) & 1)*2 - 1)) > 0 THEN ${1L << k} ELSE 0 END"
  }.mkString(" + ")

  /** Left-to-right double dot fold over dims [1, n] — the oracle twin of
    * the codegen'd dot_product (same fold order, bit-identical). */
  private def dotSqlN(a: String, b: String, n: Int): String =
    s"""list_reduce(list_prepend(0.0, list_transform(range(1, ${n + 1}),
        i -> ($a[i]::DOUBLE) * ($b[i]::DOUBLE))), (acc, x) -> acc + x)"""

  /** DuckDB mirrors of the PCA family's building blocks — shared by the
    * `emb_pca_top1` and `emb_pca_topk` oracles so the two cannot diverge
    * (same discipline as [[LlmOps]]' jacPairsCte). */
  private def pcaIterSql(cov: String, prev: String, out: String): String =
    s"""${out}raw AS MATERIALIZED (
          SELECT $cov.i, CAST(sum(c8 * w7) AS BIGINT) AS raw
          FROM $cov JOIN $prev ON $cov.j = $prev.j GROUP BY $cov.i),
        ${out}m AS MATERIALIZED (SELECT max(abs(raw)) AS mx FROM ${out}raw),
        $out AS MATERIALIZED (SELECT i AS j,
                   CAST(round(raw / mx * 1e7) AS BIGINT) AS w7
                 FROM ${out}raw CROSS JOIN ${out}m)"""

  private def pcaSeedSql(name: String, prefix: String): String =
    s"""$name AS MATERIALIZED (SELECT CAST(i AS INT) AS j,
                    CASE WHEN ('0x'||substr(md5('$prefix'||CAST(i AS VARCHAR)),1,15))::BIGINT % 2 = 0
                         THEN 10000000 ELSE -10000000 END AS w7
                  FROM range(64) t(i))"""

  private val pcaCovSql: String =
    s"""x AS MATERIALIZED (
          SELECT vec_id, i, embedding[i+1]::DOUBLE AS xi, embedding
          FROM embeddings, range(64) t(i)),
        mu AS MATERIALIZED (SELECT i, CAST(round(avg(xi)*10000) AS BIGINT)/10000.0 AS mu
               FROM x GROUP BY i),
        nn AS MATERIALIZED (SELECT count(*) AS n FROM embeddings),
        s8 AS MATERIALIZED (
          SELECT i, j,
                 CAST(sum(CAST(round(xi * (embedding[j+1]::DOUBLE) * 1e8)
                   AS BIGINT)) AS BIGINT) AS s8
          FROM x, range(64) u(j) GROUP BY i, j),
        cov AS MATERIALIZED (
          SELECT s8.i, s8.j,
                 CAST(round(s8 / n - mi.mu * mj.mu * 1e8) AS BIGINT) AS c8
          FROM s8 CROSS JOIN nn
          JOIN mu mi ON s8.i = mi.i JOIN mu mj ON s8.j = mj.i)"""

  /** The full top-k-basis CTE chain ending in
    * `basis(component, pos, loading)` — generated level by level (power
    * run → Rayleigh → deflated covariance → next run), shared by the
    * emb_pca_topk and emb_pca_project oracles so the mirrors cannot
    * diverge from [[pcaTopkOf]]'s fold. */
  private def pcaChainSql(k: Int): String = {
    def covName(c: Int) = if (c == 1) "cov" else s"cov$c"
    val levels = (1 to k).map { c =>
      def w(r: Int) = s"p${c}w$r"
      val seed = pcaSeedSql(w(0), if (c == 1) "pca:" else s"pca$c:")
      val iters = (1 to 3)
        .map(r => pcaIterSql(covName(c), w(r - 1), w(r))).mkString(",\n        ")
      val defl = if (c < k)
        s""",
        ray$c AS MATERIALIZED (
          SELECT CAST(sum(CAST(round(wi.w7/1e7 * (c8/1e8) * (wj.w7/1e7) * 1e8)
            AS BIGINT)) AS BIGINT) AS num8
          FROM ${covName(c)} JOIN ${w(3)} wi ON ${covName(c)}.i = wi.j
            JOIN ${w(3)} wj ON ${covName(c)}.j = wj.j),
        den$c AS MATERIALIZED (
          SELECT CAST(sum(CAST(round(w7/1e7 * (w7/1e7) * 1e8) AS BIGINT))
            AS BIGINT) AS den8 FROM ${w(3)}),
        ${covName(c + 1)} AS MATERIALIZED (
          SELECT ${covName(c)}.i, ${covName(c)}.j,
                 c8 - CAST(round(num8/den8 * (wi.w7/1e7) * (wj.w7/1e7)
                   / (den8/1e8) * 1e8) AS BIGINT) AS c8
          FROM ${covName(c)} CROSS JOIN ray$c CROSS JOIN den$c
          JOIN ${w(3)} wi ON ${covName(c)}.i = wi.j
          JOIN ${w(3)} wj ON ${covName(c)}.j = wj.j)"""
      else ""
      s"""$seed,
        $iters,
        nrm$c AS MATERIALIZED (SELECT sqrt(CAST(sum(w7 * w7) AS DOUBLE)) AS nr FROM ${w(3)})$defl"""
    }.mkString(",\n        ")
    val basis = (1 to k).map(c =>
      s"""SELECT CAST($c AS INT) AS component, CAST(j AS INT) AS pos,
                 ${sqlRound4("w7 / nr")} AS loading
          FROM p${c}w3 CROSS JOIN nrm$c""").mkString("\n          UNION ALL\n          ")
    s"""$pcaCovSql,
        $levels,
        basis AS MATERIALIZED (
          $basis)"""
  }

  private lazy val pcaTopkChainSql: String = pcaChainSql(3)

  /** The capped MinHash candidate chain lsh_minhash_pairs and
    * lsh_minhash_est share: shingle hashes (`docs`), the df-capped
    * inverted index (`inv`/`hot`/`capped`), 16 min-hashes (`sigs`), the
    * 8 bands and their candidate pairs (`cand`), and each doc's capped
    * hash list (`cdocs`). */
  private val minhashCandSql =
    s"""docs AS (
            SELECT doc_id, $shHashSql AS hs
            FROM documents),
          inv AS (SELECT doc_id, unnest(hs) AS h FROM docs),
          hot AS (SELECT h FROM inv GROUP BY h
                  HAVING count(*) > ${LlmOps.MaxShingleDf}),
          capped AS (SELECT inv.doc_id, inv.h FROM inv ANTI JOIN hot USING (h)),
          sigs AS (
            SELECT doc_id, $minColsSql
            FROM capped
            GROUP BY doc_id),
          bands AS (
            ${bandSelectsSql("sigs")}),
          cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id),
          cdocs AS (SELECT doc_id, list(h) AS ch FROM capped GROUP BY doc_id)"""

  /** The 16×64 ±1 sign matrix (`mat`) and the signed projections
    * (`proj(vec_id, j, raw)`) of the random-projection oracles — the
    * mirror of [[signMatrix]] and [[projections]]. */
  private val rpProjSql =
    """mat AS (
            SELECT j, i,
                   CASE WHEN ('0x'||substr(md5('rp:'||j||':'||i),1,15))::BIGINT % 2 = 0
                        THEN 1.0 ELSE -1.0 END AS sgn
            FROM generate_series(0, 15) t(j), generate_series(0, 63) s(i)),
          proj AS (
            SELECT vec_id, j,
                   CAST(sum(CAST(round(x * sgn * 1e7) AS BIGINT)) AS BIGINT) / 1e7 AS raw
            FROM (SELECT vec_id, i, CAST(embedding[i + 1] AS DOUBLE) AS x
                  FROM embeddings, generate_series(0, 63) g(i))
            JOIN mat USING (i)
            GROUP BY vec_id, j)"""

  /** The random-projection oracles' verification: the exact cosine of
    * every `cand(vec_a, vec_b)` pair, kept at ≥ 0.4. */
  private val rpCosineSql =
    s"""e AS (
            SELECT vec_id, embedding,
                   sqrt(${dotSql("embedding", "embedding")}) AS nrm
            FROM embeddings)
          SELECT vec_a, vec_b, ${sqlRound4("cos_raw")} AS cos FROM (
            SELECT vec_a, vec_b,
                   ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos_raw
            FROM cand JOIN e a ON cand.vec_a = a.vec_id
                      JOIN e b ON cand.vec_b = b.vec_id)
          WHERE cos_raw >= 0.4
          ORDER BY vec_a, vec_b"""

  /** The IVF top-5 oracle: the assignment chain ([[ivfAssignSql]] with
    * `refine` Lloyd rounds), the query vectors picked by `querySet` (a
    * clause over `normed`), in-cell cosine scoring and the top-5 rank
    * rule (cos desc, vec_id asc). */
  private[graft] def ivfTopkSql(refine: Int, querySet: String): String =
    s"""WITH ${ivfAssignSql(10, refine)},
          qs AS (SELECT vec_id AS query_id, embedding AS q, cell, nrm AS qn
                 FROM normed $querySet),
          scored AS (
            SELECT qs.query_id, a.vec_id,
                   ${dotSql("qs.q", "a.embedding")} / (qs.qn * a.nrm) AS cos_raw
            FROM normed a JOIN qs ON a.cell = qs.cell)
          SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
                 ${sqlRound4("cos_raw")} AS cos
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos_raw DESC, vec_id ASC) AS rank FROM scored)
          WHERE rank <= 5
          ORDER BY query_id, rank"""

  /** The IVF-PQ candidate chain both IVF-PQ oracles share: the IVF cells,
    * the PQ codebook, the per-query ADC table in 1e-4 ticks (`adc`) and
    * each in-cell vector's summed ADC distance (`cand`). */
  private val ivfpqCandSql =
    s"""${ivfAssignSql(10)},
          ${pqSql(8, 2)},
          qs AS (SELECT vec_id AS query_id, embedding AS q, cell
                 FROM assigned ORDER BY vec_id LIMIT 5),
          adc AS (
            SELECT q.query_id, c.sub, c.code,
                   CAST(round((${pqDistSql("q.q", "c.sub", "c.cent")})*10000) AS BIGINT) AS dq
            FROM qs q CROSS JOIN pcb c),
          cand AS (
            SELECT q.query_id, a.vec_id, CAST(sum(adc.dq) AS BIGINT) AS adist_tenk
            FROM assigned a JOIN qs q ON a.cell = q.cell
            JOIN pcodes pc ON pc.vec_id = a.vec_id
            JOIN adc ON adc.query_id = q.query_id
                    AND adc.sub = pc.sub AND adc.code = pc.code
            GROUP BY 1, 2)"""

  /** Each doc's bigram simhash (dedup on the bigram STRING, then hash —
    * mirrors simhashBigramSigs) as `(doc_id, simhash)` rows, with the
    * doc's hash list `hs` still in scope for a filter. */
  private[graft] val bigramSimhashSql =
    s"""SELECT doc_id, CAST($simhashTermsSql AS BIGINT) AS simhash
            FROM (SELECT doc_id,
                    list_transform(list_distinct(list_transform(
                      range(1, len($toksSql)),
                      i -> $toksSql[i] || ' ' || $toksSql[i+1])),
                      t -> ('0x'||substr(md5(t),1,8))::BIGINT) AS hs
                  FROM documents)"""

  val oracle: Map[String, String] = Map(
    "emb_matryoshka" ->
      s"""WITH corpus AS (
            SELECT vec_id, embedding,
                   sqrt(${dotSqlN("embedding", "embedding", 64)}) AS nrm,
                   sqrt(${dotSqlN("embedding", "embedding", 16)}) AS tn
            FROM embeddings),
          qs AS (SELECT vec_id AS query_id, embedding AS q, nrm AS qn, tn AS qtn
                 FROM corpus ORDER BY vec_id LIMIT 5),
          scored AS (
            SELECT query_id, vec_id,
                   ${dotSqlN("q", "embedding", 16)} / (qtn * tn) AS cos_t_raw,
                   ${dotSqlN("q", "embedding", 64)} / (qn * nrm) AS cos_f_raw
            FROM corpus CROSS JOIN qs)
          SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
                 ${sqlRound4("cos_t_raw")} AS cos_t,
                 ${sqlRound4("cos_f_raw")} AS cos_f
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos_t_raw DESC, vec_id ASC) AS rank FROM scored)
          WHERE rank <= 5
          ORDER BY query_id, rank""",

    "emb_bq_rerank" ->
      s"""WITH corpus AS (
            SELECT vec_id, embedding,
                   sqrt(${dotSqlN("embedding", "embedding", 64)}) AS nrm
            FROM embeddings),
          xs AS (SELECT vec_id, i, embedding[i] AS x
                 FROM (SELECT vec_id, embedding, unnest(range(1, 65)) AS i
                       FROM embeddings)),
          codes AS (
            SELECT vec_id,
                   CAST(sum(CASE WHEN i <= 32 AND x > 0
                     THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END) AS BIGINT) AS lo,
                   CAST(sum(CASE WHEN i > 32 AND x > 0
                     THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE 0 END) AS BIGINT) AS hi
            FROM xs GROUP BY vec_id),
          qc AS (SELECT vec_id AS query_id, lo AS qlo, hi AS qhi
                 FROM codes ORDER BY vec_id LIMIT 5),
          cand AS (
            SELECT query_id, vec_id, hamming FROM (
              SELECT query_id, vec_id,
                     bit_count(xor(lo, qlo)) + bit_count(xor(hi, qhi)) AS hamming,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY bit_count(xor(lo, qlo)) + bit_count(xor(hi, qhi)) ASC,
                                vec_id ASC) AS crnk
              FROM codes CROSS JOIN qc)
            WHERE crnk <= 20),
          qv AS (SELECT vec_id AS query_id, embedding AS q, nrm AS qn
                 FROM corpus ORDER BY vec_id LIMIT 5),
          rer AS (
            SELECT cand.query_id, cand.vec_id, cand.hamming,
                   ${dotSqlN("q", "embedding", 64)} / (qn * nrm) AS cos_raw
            FROM cand JOIN corpus USING (vec_id) JOIN qv USING (query_id))
          SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
                 CAST(hamming AS INT) AS hamming, ${sqlRound4("cos_raw")} AS cos
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos_raw DESC, vec_id ASC) AS rank FROM rer)
          WHERE rank <= 5
          ORDER BY query_id, rank""",

    "emb_pca_top1" ->
      s"""WITH $pcaCovSql,
          ${pcaSeedSql("w0", "pca:")},
          ${pcaIterSql("cov", "w0", "w1")},
          ${pcaIterSql("cov", "w1", "w2")},
          ${pcaIterSql("cov", "w2", "w3")},
          nrm AS (SELECT sqrt(CAST(sum(w7 * w7) AS DOUBLE)) AS nr FROM w3)
          SELECT CAST(j AS INT) AS pos, ${sqlRound4("w7 / nr")} AS loading
          FROM w3 CROSS JOIN nrm ORDER BY pos""",

    // the deflation mirror: Rayleigh λ₁ in grid-snapped ticks (one
    // BIGINT/BIGINT → double division), λ₁·v₁v₁ᵀ subtracted on the 64×64
    // frame, the identical three power rounds re-run on cov2 from the
    // independent pca2: seed — every product in the Spark expressions'
    // left-to-right order
    "emb_pca_topk" ->
      s"""WITH $pcaTopkChainSql
          SELECT * FROM basis ORDER BY component, pos""",

    // the basis chain + the projection: per (vector, component) one
    // grid-snapped product sum, pivoted to (c1, c2)
    "emb_pca_project" ->
      s"""WITH $pcaTopkChainSql,
          proj AS (
            SELECT vec_id, component,
                   CAST(round((embedding[pos+1]::DOUBLE) * loading * 1e8)
                     AS BIGINT) AS t8
            FROM embeddings CROSS JOIN basis)
          SELECT vec_id,
                 ${sqlRound4("CAST(sum(CASE WHEN component = 1 THEN t8 END) AS BIGINT) / 1e8")} AS c1,
                 ${sqlRound4("CAST(sum(CASE WHEN component = 2 THEN t8 END) AS BIGINT) / 1e8")} AS c2
          FROM proj GROUP BY vec_id ORDER BY vec_id""",

    "emb_outliers" ->
      s"""WITH cent AS (
            SELECT label, CAST(i AS INT) AS pos,
                   CAST(round(avg(embedding[i+1]::DOUBLE)*10000) AS BIGINT)/10000.0 AS c
            FROM embeddings, range(64) t(i)
            GROUP BY label, i),
          per AS (
            SELECT vec_id, e.label,
                   CAST(sum(CAST(round((e.embedding[pos+1]::DOUBLE - c)
                     * (e.embedding[pos+1]::DOUBLE - c) * 1e8) AS BIGINT)) AS BIGINT) AS d8
            FROM embeddings e JOIN cent ON e.label = cent.label
            GROUP BY vec_id, e.label),
          lab AS (SELECT label, count(*) AS n, CAST(sum(d8) AS BIGINT) AS s8
                  FROM per GROUP BY label)
          SELECT vec_id, label, ${sqlRound4("d8/1e8")} AS dist2,
                 CAST(d8 * n * 100 > s8 * 105 AS INT) AS flag
          FROM per JOIN lab USING (label)
          ORDER BY vec_id""",

    "lsh_minhash_pairs" ->
      s"""WITH $minhashCandSql
          SELECT doc_a, doc_b, ${sqlRound4("jac")} AS jac FROM (
            SELECT doc_a, doc_b,
                   CAST(len(list_intersect(cx.ch, cy.ch)) AS DOUBLE) /
                   (len(x.hs) + len(y.hs) - len(list_intersect(cx.ch, cy.ch))) AS jac
            FROM cand JOIN docs x ON cand.doc_a = x.doc_id
                      JOIN docs y ON cand.doc_b = y.doc_id
                      JOIN cdocs cx ON cand.doc_a = cx.doc_id
                      JOIN cdocs cy ON cand.doc_b = cy.doc_id)
          WHERE jac >= 0.5
          ORDER BY doc_a, doc_b""",

    "lsh_minhash_est" -> {
      val matchSum = (0 until nHashes)
        .map(i => s"CASE WHEN sx.mh$i = sy.mh$i THEN 1 ELSE 0 END")
        .mkString("CAST(", " + ", " AS BIGINT)")
      s"""WITH $minhashCandSql,
          scored AS (
            SELECT doc_a, doc_b,
                   $matchSum AS matches,
                   CAST(len(list_intersect(cx.ch, cy.ch)) AS BIGINT) AS inter,
                   len(x.hs) AS na, len(y.hs) AS nb
            FROM cand JOIN docs x ON cand.doc_a = x.doc_id
                      JOIN docs y ON cand.doc_b = y.doc_id
                      JOIN cdocs cx ON cand.doc_a = cx.doc_id
                      JOIN cdocs cy ON cand.doc_b = cy.doc_id
                      JOIN sigs sx ON cand.doc_a = sx.doc_id
                      JOIN sigs sy ON cand.doc_b = sy.doc_id)
          SELECT doc_a, doc_b, matches,
                 ${sqlRound4(s"matches/$nHashes.0")} AS est,
                 ${sqlRound4("CAST(inter AS DOUBLE)/(na + nb - inter)")} AS jac
          FROM scored WHERE inter >= 1
          ORDER BY doc_a, doc_b"""
    },

    "emb_rproject" ->
      """SELECT vec_id, CAST(j AS INT) AS j,
                CAST(round(raw * 10000) AS BIGINT) / 10000.0 AS proj
         FROM (
           SELECT vec_id, j,
                  CAST(sum(CAST(round(x * sgn * 1e7) AS BIGINT)) AS BIGINT) / 1e7 AS raw
           FROM (SELECT vec_id, i, CAST(embedding[i + 1] AS DOUBLE) AS x
                 FROM embeddings, generate_series(0, 63) g(i))
           JOIN (SELECT j, i,
                   CASE WHEN ('0x'||substr(md5('rp:'||j||':'||i),1,15))::BIGINT % 2 = 0
                        THEN 1.0 ELSE -1.0 END AS sgn
                 FROM generate_series(0, 7) t(j), generate_series(0, 63) s(i))
           USING (i)
           GROUP BY vec_id, j)
         ORDER BY vec_id, j""",

    "lsh_rp_near_dup" ->
      s"""WITH $rpProjSql,
          bands AS (
            SELECT vec_id, j // 4 AS band,
                   sum(CAST(raw >= 0 AS INT) * (1 << (j % 4))) AS band_val
            FROM proj GROUP BY vec_id, j // 4),
          cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_val = b.band_val
             AND a.vec_id < b.vec_id),
          $rpCosineSql""",

    "lsh_simhash" ->
      s"""SELECT doc_id, CAST($simhashTermsSql AS BIGINT) AS simhash
          FROM (SELECT doc_id,
                  list_transform(list_distinct($toksSql),
                    t -> ('0x'||substr(md5(t),1,8))::BIGINT) AS hs
                FROM documents)
          ORDER BY doc_id""",

    "lsh_ivf_topk" -> ivfTopkSql(refine = 0, "ORDER BY vec_id LIMIT 5"),

    "sem_dedup" ->
      s"""WITH ${ivfAssignSql(10)},
          dups AS (
            SELECT DISTINCT b.vec_id
            FROM normed a JOIN normed b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.4)
          SELECT vec_id, CAST(cell AS INT) AS cell
          FROM normed ANTI JOIN dups USING (vec_id)
          ORDER BY vec_id""",

    "lsh_emb_near_dup" ->
      s"""WITH ${ivfAssignSql(10)}
          SELECT vec_a, vec_b, ${sqlRound4("cos_raw")} AS cos FROM (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos_raw
            FROM normed a JOIN normed b
              ON a.cell = b.cell AND a.vec_id < b.vec_id)
          WHERE cos_raw >= 0.4
          ORDER BY vec_a, vec_b""",

    "lsh_ivf_refined" -> ivfTopkSql(refine = 1, "ORDER BY vec_id LIMIT 5"),

    // same refined assignment CTE; distance re-derived against the final
    // centroids with the identical left-to-right fold, snapped pre-sum
    "emb_kmeans_report" ->
      s"""WITH ${ivfAssignSql(10, refine = 1)},
          d AS (
            SELECT a.cell,
                   list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                     i -> (a.embedding[i]::DOUBLE - c.cent[i])
                        * (a.embedding[i]::DOUBLE - c.cent[i]))), (acc,x) -> acc + x) AS dist2
            FROM assigned a JOIN cents1 c ON a.cell = c.clabel)
          SELECT cell, count(*) AS n, ${sqlSum4("dist2")} AS inertia
          FROM d GROUP BY cell ORDER BY cell""",

    // PQ mirror: same md5 seed, round4'd per-subspace codeword means,
    // squared-distance argmin with the code id as tie-break. Distances
    // index into the full embedding (sub*16 + i) where Spark slices first
    // — same values, same fold order, bit-identical doubles.
    "emb_pq" ->
      s"""WITH ${pqSql(8, 0)}
          SELECT vec_id, sub, code,
                 CAST(round(dist2*10000) AS BIGINT)/10000.0 AS err2
          FROM pcodes
          ORDER BY vec_id, sub""",

    // IVF-PQ mirror: the IVF cell chain (`assigned`) + the shared PQ chain
    // (p-prefixed CTEs, 2 Lloyd rounds) + the per-query ADC table in 1e-4
    // ticks, summed as integers so the ranking is exact.
    "lsh_ivfpq_topk" ->
      s"""WITH $ivfpqCandSql
          SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
                 adist_tenk/10000.0 AS adist
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY adist_tenk ASC, vec_id ASC) AS rank FROM cand)
          WHERE rank <= 5
          ORDER BY query_id, rank""",

    // the same ADC chain, then the top-15 pool per query re-ranked by the
    // exact squared L2 against the raw vectors (1e-4 ticks, same
    // sequential fold as the Spark expression)
    "lsh_ivfpq_refined" ->
      s"""WITH $ivfpqCandSql,
          pool AS (
            SELECT query_id, vec_id
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY adist_tenk ASC, vec_id ASC) AS crank FROM cand)
            WHERE crank <= 15),
          exact AS (
            SELECT p.query_id, p.vec_id,
                   CAST(round((list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                     i -> (e.embedding[i]::DOUBLE - q.q[i]::DOUBLE)
                        * (e.embedding[i]::DOUBLE - q.q[i]::DOUBLE))),
                     (acc, x) -> acc + x))*10000) AS BIGINT) AS d2t
            FROM pool p
            JOIN qs q ON p.query_id = q.query_id
            JOIN embeddings e ON e.vec_id = p.vec_id)
          SELECT query_id, CAST(rank AS INT) AS rank, vec_id, d2t/10000.0 AS dist2
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY d2t ASC, vec_id ASC) AS rank FROM exact)
          WHERE rank <= 5
          ORDER BY query_id, rank""",

    // lsh_rp_near_dup's chain plus the ±1-bit probe union: side A probes
    // its own bucket and every bucket one sign-bit away in each band.
    "lsh_rp_multiprobe" ->
      s"""WITH $rpProjSql,
          bands AS (
            SELECT vec_id, j // 4 AS band,
                   CAST(sum(CAST(raw >= 0 AS INT) * (1 << (j % 4))) AS BIGINT) AS band_val
            FROM proj GROUP BY vec_id, j // 4),
          probes AS (
            SELECT vec_id, band, band_val FROM bands
            UNION
            SELECT vec_id, band, xor(band_val, CAST(1 << k AS BIGINT)) AS band_val
            FROM bands, generate_series(0, 3) t(k)),
          cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM probes a JOIN bands b
              ON a.band = b.band AND a.band_val = b.band_val
             AND a.vec_id < b.vec_id),
          $rpCosineSql""",

    // Bigram-simhash signatures (dedup on the bigram STRING, then hash —
    // mirrors simhashBigramSigs), 4×8-bit chunk index, bit_count(xor)
    // verification at hamming ≤ 2 (chunk index exact by pigeonhole).
    "lsh_simhash_pairs" ->
      s"""WITH sigs AS (
            $bigramSimhashSql
            WHERE len(hs) > 0),
          chunks AS (
            SELECT doc_id, c AS chunk, (simhash >> (8*c)) & 255 AS chunk_val
            FROM sigs, generate_series(0, 3) t(c)),
          cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM chunks a JOIN chunks b
              ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val
             AND a.doc_id < b.doc_id)
          SELECT doc_a, doc_b,
                 CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
          FROM cand JOIN sigs x ON cand.doc_a = x.doc_id
                    JOIN sigs y ON cand.doc_b = y.doc_id
          WHERE bit_count(xor(x.simhash, y.simhash)) <= 2
          ORDER BY doc_a, doc_b"""
  )
}
