package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.ExactNum._
import graft.sources.Tables._

/** Training-corpus assembly operators — the steps between "cleaned corpus"
  * (LlmOps/Lsh) and "batches on the trainer": dataset splitting, context-
  * window chunking, and token-budget packing.
  *
  * Scale notes:
  *  - tp_split assigns split membership from a *portable salted hash of the
  *    stable document key*, never `rand()`: the assignment is reproducible
  *    run-to-run, stable under re-partitioning, and needs no shuffle at all
  *    (pure row-local projection before the reporting aggregate).
  *  - tp_chunk is generate-per-row (sequence+explode): no shuffle, output
  *    rows ∝ corpus tokens / stride. At 100 TB the chunker is the op that
  *    multiplies row count — keeping it a narrow map-side transform (inside
  *    whole-stage codegen, no UDF) is what makes it feasible.
  *  - tp_pack is the streaming first-fit packer: one shuffle on the
  *    partition key (source), then a window cumsum assigns each doc to
  *    bin = floor(tokens-before / capacity). Greedy global bin-packing is
  *    inherently sequential; per-source streaming packing is the standard
  *    distributed compromise (each source packs independently in doc order,
  *    so the plan parallelizes across sources and stays deterministic).
  */
object TrainingPipeline {

  /** Portable deterministic hash in [0,100): same value in Spark and DuckDB
    * (md5 hex prefix → int), salted so different pipeline stages draw
    * independent assignments from the same key. */
  private[graft] def pct(salt: String, key: org.apache.spark.sql.Column) =
    conv(substring(md5(concat(lit(salt), key.cast("string"))), 1, 15), 16, 10)
      .cast("long") % 100

  private[graft] val sqlPct =
    (salt: String, key: String) =>
      s"('0x'||substr(md5('$salt'||CAST($key AS VARCHAR)),1,15))::BIGINT % 100"

  val queries: Map[String, Q] = Map(
    "pp_end_to_end" -> endToEnd,

    // pp_corpus_stats: the per-source "dataset card" — doc/token/char
    // volumes, language spread, exact-dup counts, and each source's share
    // of corpus tokens, as ONE Catalyst tree. One wide scan, one
    // partial+final hash aggregate (the two distinct aggregates plan as a
    // single Expand), then the token-share window runs over the
    // |sources|-row aggregate — tiny by construction, never data-sized, so
    // the lit(0) partition is safe at any corpus size.
    "pp_corpus_stats" -> ((s, d) => {
      val per = documents(s, d).select(
        col("source"), col("lang"), col("n_chars"),
        size(split(col("text"), " ")).as("n_toks"),
        md5(lower(trim(col("text")))).as("th"))
      val w = Window.partitionBy(lit(0))
      per.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("tokens"),
          round4(sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
          countDistinct(col("lang")).as("n_langs"),
          (count(lit(1)) - countDistinct(col("th"))).as("n_exact_dups"))
        .withColumn("token_share",
          round4(col("tokens").cast("double") / sum(col("tokens")).over(w)))
        .orderBy("source")
    }),

    // pp_quality_funnel: the pipeline-yield report — per source, how many
    // docs survive each successive gate: length bounds → repetition filter
    // (L22) → unigram-LM score (L25) → exact-dedup representative. Composes
    // the graded quality operators as ONE Catalyst tree: the per-doc signal
    // frames join back on doc_id (corpus-sized × corpus-sized equi joins on
    // the primary key — co-partitioned at scale, never broadcast), and the
    // funnel itself is conditional aggregation (sum of cumulative flags), so
    // the report costs one pass over the joined signals. This is the
    // yield-accounting run before committing a corpus to training.
    "pp_quality_funnel" -> ((s, d) => {
      val docs = documents(s, d)
      val rep = LlmOps.repetitionOf(docs)
        .select(col("doc_id"), col("pass").as("rep_pass"))
      val lm = LlmOps.unigramLogprobOf(docs)
        .select(col("doc_id"), col("pass").as("lm_pass"))
      val w = Window.partitionBy("text_hash").orderBy("doc_id")
      docs
        .withColumn("n_toks", size(split(col("text"), " ")))
        .withColumn("text_hash", md5(lower(trim(col("text")))))
        .withColumn("rn", row_number().over(w))
        .join(rep, Seq("doc_id"), "left")
        .join(lm, Seq("doc_id"), "left")
        .withColumn("c1", col("n_toks").between(20, 10000))
        .withColumn("c2", col("c1") && coalesce(col("rep_pass"), lit(0)) === 1)
        .withColumn("c3", col("c2") && coalesce(col("lm_pass"), lit(0)) === 1)
        .withColumn("c4", col("c3") && col("rn") === 1)
        .groupBy("source").agg(
          count(lit(1)).as("n_total"),
          sum(col("c1").cast("long")).as("n_len"),
          sum(col("c2").cast("long")).as("n_rep"),
          sum(col("c3").cast("long")).as("n_lm"),
          sum(col("c4").cast("long")).as("n_unique"))
        .orderBy("source")
    }),

    // tp_length_buckets: the length-bucketed batching planner — group docs
    // into 64-token-wide length buckets, fit floor(8192/upper) sequences of
    // the bucket's padded length per batch, and report batch counts + the
    // padding waste each bucket pays. (Length bucketing is how trainers cut
    // pad-token waste vs naive fixed batches; the report quantifies it.)
    // Pure integer arithmetic end-to-end — `div`, greatest, ceil-by-
    // (n+k-1) div k — so both engines agree bit-for-bit; one narrow scan,
    // one partial+final aggregate over ≤ max_len/64 groups.
    "tp_length_buckets" -> ((s, d) =>
      documents(s, d)
        .select(size(split(col("text"), " ")).as("n_toks"))
        .withColumn("bucket", expr("n_toks div 64").cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("sum_toks"))
        .withColumn("upper", ((col("bucket") + 1) * 64).cast("long"))
        .withColumn("seqs_per_batch", greatest(lit(1L), expr("8192 div upper")))
        .withColumn("n_batches",
          expr("(n_docs + seqs_per_batch - 1) div seqs_per_batch"))
        .withColumn("pad_frac",
          round4(lit(1.0) - col("sum_toks").cast("double") /
            (col("n_batches") * col("seqs_per_batch") * col("upper"))))
        .orderBy("bucket")),

    // tp_split: deterministic 80/10/10 train/val/test split keyed on doc_id.
    // Reported as per-(split, lang) doc and char counts so the gate checks
    // both the assignment hash and the aggregation.
    "tp_split" -> ((s, d) =>
      documents(s, d)
        .withColumn("bucket", pct("split:", col("doc_id")))
        .withColumn("subset",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test"))
        .groupBy("subset", "lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
        .orderBy("subset", "lang")),

    // tp_sample_stratified: deterministic per-stratum sampling — each source
    // keeps a configured fraction (src0 20%, others 10%) chosen by a salted
    // portable hash threshold on the stable key. Spark's own
    // df.stat.sampleBy draws from rand() (non-reproducible, partitioning-
    // dependent); the hash-threshold form is reproducible run-to-run,
    // repartition-stable, resume-safe, and engine-portable — membership is
    // a pure row-local predicate (no shuffle, pushable, codegen'd).
    "tp_sample_stratified" -> ((s, d) =>
      documents(s, d)
        .withColumn("bucket", pct("smp:", col("doc_id")))
        .filter(col("bucket") <
          when(col("source") === "src0", 20).otherwise(10))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")),

    // tp_weighted_sample: weighted sampling WITHOUT replacement, made
    // reproducible — the Efraimidis–Spitsakis exponential-key trick
    // (A-Res): rank every doc by -ln(u)/w (u a salted portable hash
    // uniform in (0,1), w the doc's weight — n_chars as the quality-mass
    // stand-in) and keep the k smallest. Distributionally identical to
    // sequential weighted draws without replacement, but it is a pure
    // per-row projection + TakeOrderedAndProject (per-partition top-k
    // heaps, no global sort, no rand()) — reproducible run-to-run and
    // stable under repartitioning at any scale. The key snaps to the 1e-9
    // grid (engine-identical ln) and (kl, doc_id) makes the cut boundary
    // a total order.
    "tp_weighted_sample" -> ((s, d) =>
      documents(s, d)
        .withColumn("u",
          (conv(substring(md5(concat(lit("ws:"), col("doc_id").cast("string"))), 1, 6),
            16, 10).cast("double") + 0.5) / 16777216.0)
        .withColumn("kl", round(-log(col("u")) / col("n_chars") * 1e9).cast("long"))
        .select(col("doc_id"), col("source"), col("kl"))
        .orderBy("kl", "doc_id")
        .limit(100)),

    // tp_chunk: fixed context windows of 64 tokens with stride 48 (16-token
    // overlap) — the standard LM-pretraining chunker. Chunk text is reported
    // as its md5 so the gate pins exact chunk boundaries and content without
    // hashing megabytes of text through the parquet compare.
    "tp_chunk" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n", size(col("toks")))
        .withColumn("start", explode(sequence(lit(0), col("n") - 1, lit(48))))
        .select(col("doc_id"),
          expr("start div 48").cast("int").as("chunk_idx"),
          least(col("n") - col("start"), lit(64)).as("chunk_tokens"),
          md5(concat_ws(" ", slice(col("toks"), col("start") + 1, lit(64))))
            .as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")),

    // tp_pack: pack docs (in stable doc_id order, per source) into
    // 2048-token bins: bin = tokens-accumulated-before div capacity.
    "tp_pack" -> ((s, d) => {
      val before = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      documents(s, d)
        .withColumn("n_toks", size(split(col("text"), " ")))
        .withColumn("cum_before", coalesce(sum(col("n_toks")).over(before), lit(0L)))
        .withColumn("bin_id", expr("cum_before div 2048").cast("int"))
        .groupBy("source", "bin_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("bin_tokens"))
        .orderBy("source", "bin_id")
    }),

    // tp_decontaminate: train/test leakage detection — the decontamination
    // pass every serious pretraining pipeline runs before training. A train
    // doc is contaminated if it shares ≥ 5 distinct 3-gram shingles with
    // ANY test doc (the planted near-dup whose twin landed in test is the
    // canonical catch). Shape: the shared shingle index split by the
    // tp_split hash, train-side ⋈ test-side equi-join on the shingle hash —
    // cost Σ_h df_train(h)·df_test(h), bounded by the same stop-shingle cap
    // as every other index consumer; never corpus × corpus.
    "tp_decontaminate" -> ((s, d) => {
      val inv = LlmOps.shingleIndex(documents(s, d))
        .withColumn("bucket", pct("split:", col("doc_id")))
      val train = inv.filter(col("bucket") < 80)
        .select(col("doc_id").as("train_id"), col("h"))
      val test = inv.filter(col("bucket") >= 90)
        .select(col("doc_id").as("test_id"), col("h"))
      train.join(test, "h")
        .groupBy("train_id")
        .agg(count_distinct(col("h")).as("n_shared"),
          count_distinct(col("test_id")).as("n_test_docs"))
        .filter(col("n_shared") >= 5)
        .orderBy("train_id")
    }),

    // tp_pack_sharded: the packer's 100-TB form. tp_pack's per-source
    // window is a skew bomb when sources are few (3 sources → 3 partitions
    // carry the corpus); sharding the cumsum key to (source, shard) — shard
    // a salted hash of the doc key — caps every window partition at
    // corpus/(sources·shards) while keeping packing deterministic and
    // shard-local (bins never span shards, matching how a packed corpus is
    // written out file-per-shard anyway). Shards here = 8; at scale it is
    // corpus/(sources · target-partition-rows).
    "tp_pack_sharded" -> ((s, d) => {
      val nShards = 8
      val before = Window.partitionBy("source", "shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      documents(s, d)
        .withColumn("n_toks", size(split(col("text"), " ")))
        .withColumn("shard", (pct("shard:", col("doc_id")) % nShards).cast("int"))
        .withColumn("cum_before", coalesce(sum(col("n_toks")).over(before), lit(0L)))
        .withColumn("bin_id", expr("cum_before div 2048").cast("int"))
        .groupBy("source", "shard", "bin_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("bin_tokens"))
        .orderBy("source", "shard", "bin_id")
    }),

    // tp_shuffle: deterministic corpus shuffle — order by a salted portable
    // hash of the key. Reproducible run-to-run, stable under repartitioning,
    // and at cluster scale it's a plain sort (range-partitioned, spillable)
    // rather than rand()-ordering, which changes every execution and breaks
    // resume-from-checkpoint training.
    // tp_reservoir: k-per-group reservoir sampling, derandomized — keep
    // exactly 5 docs per language, uniformly without replacement. A
    // uniform-random priority per item + per-group top-k IS reservoir
    // sampling; the salted portable hash replaces rand() so the draw is
    // reproducible run-to-run and identical across engines. The scale
    // shape is the same bounded partial aggregate as f3: each map
    // partition reduces to ≤ k rows per group BEFORE the shuffle (the
    // window form would shuffle and sort every row of every group — at
    // 100 TB with billions of docs per language that is the whole table).
    // Priority is the hash mod 1e9 (exactly representable in the
    // aggregator's double; doc_id breaks ties deterministically).
    "tp_reservoir" -> ((s, d) => {
      import s.implicits._
      val topk = new graft.functions.Aggregators.TopKAggregator(5).toColumn
      documents(s, d)
        .select(col("lang"),
          (conv(substring(md5(concat(lit("res:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
            .cast("long") % 1000000000L).cast("double").as("pri"),
          col("doc_id"))
        .as[(String, Double, Long)]
        .groupByKey(_._1)
        .mapValues(t => (t._2, t._3))
        .agg(topk.name("top"))
        .flatMap { case (lang, top) =>
          top.iterator.zipWithIndex.map { case ((pri, id), i) =>
            (lang, i + 1, id, pri.toLong)
          }
        }
        .toDF("lang", "rnk", "doc_id", "pri")
        .orderBy("lang", "rnk")
    }),

    "tp_shuffle" -> ((s, d) =>
      documents(s, d)
        .withColumn("shuffle_key",
          conv(substring(md5(concat(lit("shuf:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
            .cast("long"))
        .select(col("doc_id"), col("shuffle_key"))
        .orderBy("shuffle_key", "doc_id")),

    // tp_interleave: deterministic weighted language mixing — the
    // temperature-sampling data-mix schedule made reproducible. Doc n of a
    // stream with weight w sits at virtual position (n-0.5)/w; merging all
    // streams by that position yields prefix proportions → w/Σw with no
    // randomness, no driver-side scheduling, and stability under
    // repartitioning. One window shuffle + a top-k; the merged order is
    // total ((vpos, doc_id) — doc_id is unique), so LIMIT is deterministic.
    "tp_interleave" -> ((s, d) => {
      val perLang = Window.partitionBy("lang").orderBy("doc_id")
      documents(s, d)
        .withColumn("w",
          when(col("lang") === "en", 3.0)
            .when(col("lang").isin("fr", "es"), 2.0)
            .otherwise(1.0))
        .withColumn("rn", row_number().over(perLang))
        .withColumn("vpos", (col("rn") - lit(0.5)) / col("w"))
        .orderBy("vpos", "doc_id")
        .limit(200)
        .select(col("doc_id"), col("lang"), col("rn"), col("vpos"))
    }),

    // tp_temperature_mix: temperature-balanced source selection — the
    // multilingual rebalancing step (sample ∝ n^α, α=1/2) that keeps a
    // dominant language from drowning the tail without upsampling the tail
    // past its data. tp_interleave ORDERS streams by fixed weights; this
    // op derives the weights FROM the data and cuts the corpus to them.
    // All quota arithmetic is integer end-to-end (w=⌊√n⌋ — IEEE sqrt is
    // correctly rounded in both engines, floor makes it exact; quotas via
    // positive-operand integer division — the e10 lesson), so the admitted
    // set is bit-stable cross-engine. Shapes: the per-lang count is a
    // partial+final aggregate; the quota frame is langs-sized (crossJoin
    // of a langs-sized frame with ONE total row, then broadcast back);
    // admission ranks docs per lang by a portable salted hash — per-lang
    // windows at 100 TB would use tp_token_budget's tick-histogram split
    // (hash ticks → histogram prefix → rank only within the cut tick);
    // the direct rank keeps this entry's oracle 1:1 with the semantics.
    "tp_temperature_mix" -> ((s, d) => {
      val hk = conv(substring(md5(concat(lit("temp:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long")
      val docs = documents(s, d).select(col("doc_id"), col("lang"))
        .withColumn("hk", hk)
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
        .withColumn("w_l", floor(sqrt(col("n_l"))).cast("long"))
      val tot = counts.agg(sum(col("w_l")).as("sw"), sum(col("n_l")).as("nd"))
      val quota = counts.crossJoin(tot)
        .withColumn("quota", expr("((nd DIV 2) * w_l) DIV sw"))
        .select(col("lang"), col("quota"))
      val perLang = Window.partitionBy("lang").orderBy("hk", "doc_id")
      docs.join(broadcast(quota), Seq("lang"))
        .withColumn("rk", row_number().over(perLang))
        .where(col("rk") <= col("quota"))
        .select(col("doc_id"), col("lang"), col("rk"))
        .orderBy("doc_id")
    }),

    // emb_quantize: symmetric int8 quantization of the embedding column
    // (scale = max|x|/127 per vector) with per-vector reconstruction RMSE —
    // the compression step before an ANN index ships to serving. Relational
    // form (explode + window max), no interpreted lambdas; the error sum is
    // a scaled-integer sum so the result is identical under any row order
    // or partitioning (doubles don't associate; longs do).
    "emb_quantize" -> ((s, d) => {
      val perVec = Window.partitionBy("vec_id")
      embeddings(s, d)
        .select(col("vec_id"), explode(col("embedding")).as("x"))
        .withColumn("xd", col("x").cast("double"))
        .withColumn("scale", max(abs(col("xd"))).over(perVec) / 127.0)
        // all-zero vector ⇒ scale 0: quantize to 0 rather than divide by it
        // (same CASE on the oracle side, so the guard itself is verified)
        .withColumn("q",
          when(col("scale") === 0, 0)
            .otherwise(round(col("xd") / col("scale")).cast("int")))
        .withColumn("err", col("xd") - col("q") * col("scale"))
        .groupBy("vec_id")
        .agg(
          (round(sqrt(sum(round(col("err") * col("err") * 1e12).cast("long"))
            / 1e12 / 64) * 10000).cast("long") / 10000.0).as("rmse"),
          max(abs(col("q"))).as("qmax"),
          (round(max(abs(col("xd"))) * 10000).cast("long") / 10000.0).as("amax"))
        .orderBy("vec_id")
    }),

    // tp_upsample: repeat-factor source mixing — the "epochs per source"
    // data-mix step (high-quality sources repeat 2-3×, the long tail runs
    // once; the multi-epoch generalization of tp_interleave's weights).
    // explode(sequence(1, factor)) is a narrow generate-per-row op — no
    // shuffle, row count multiplies by the factor exactly where the plan
    // says so — and each copy gets a salted-hash mix position (same
    // portable-hash idiom as tp_shuffle: reproducible, repartition-stable,
    // no rand()), so downstream batch assembly interleaves epochs instead
    // of replaying the corpus factor-times back to back.
    "tp_upsample" -> ((s, d) => {
      val factor = when(col("source") === "src0", 3)
        .when(col("source") === "src1", 2)
        .otherwise(1)
      documents(s, d)
        .select(col("doc_id"), col("source"),
          explode(sequence(lit(1), factor)).as("epoch"))
        .withColumn("pos",
          conv(substring(md5(concat(lit("ups:"), col("doc_id").cast("string"),
            lit(":"), col("epoch").cast("string"))), 1, 15), 16, 10)
            .cast("long"))
        .select(col("doc_id"), col("epoch").cast("int").as("epoch"),
          col("source"), col("pos"))
        .orderBy("doc_id", "epoch")
    }),

    // Token-budget-constrained selection — "the best docs that fit in N
    // tokens": rank by quality, keep the greedy prefix whose cumulative
    // token count stays within the budget (25% of corpus tokens here —
    // derived from the data, never a constant, so the query scales with
    // the sf dir). The naive plan is a running sum over the GLOBAL
    // quality ordering — a single-partition window, dead at scale. This
    // plan never builds a global ordering: the quality score is already
    // grid-quantized (1e-4 ticks), so (a) a histogram aggregate per score
    // tick (≤10⁴ rows at ANY corpus size) gets a running total over score
    // ticks — a window over an aggregate-sized frame — giving each tick
    // the tokens consumed by all strictly-better ticks, and (b) one
    // window PARTITIONED by score tick (doc_id order) ranks docs within
    // their tick. A doc's global cumulative = its tick's prefix + its
    // within-tick running sum, reconstructed exactly without ever sorting
    // the corpus; the budget filter is then row-local. The oracle runs
    // the naive global running sum — same set by construction.
    "tp_token_budget" -> ((s, d) => {
      val t = documents(s, d)
        .withColumn("tk", split(col("text"), " "))
        .withColumn("n_tok", size(col("tk")).cast("long"))
        .withColumn("uniq_ratio",
          size(array_distinct(col("tk"))).cast("double") / col("n_tok"))
        .withColumn("stop_ratio",
          size(filter(col("tk"), x => x.isin("the", "a"))).cast("double") / col("n_tok"))
        .withColumn("score_t", tenK(
          lit(0.3) * col("uniq_ratio") + lit(0.4) * (lit(1.0) - col("stop_ratio")) +
            lit(0.3) * least(col("n_tok") / 100.0, lit(1.0))))
        .select("doc_id", "score_t", "n_tok")
      // tokens consumed by strictly better score ticks: aggregate-sized
      // frame (≤ 10⁴ distinct ticks no matter the corpus), scanned with
      // the explicit single-reference scan (BandedScan.cumSum — the
      // band+stitch form re-executed the per-doc scoring feed 3×,
      // measured 0.95 vs ~0.5 s at sf0.1). The budget (sum over ticks of
      // btok ≡ sum(n_tok), div 4) rides the SAME single-partition window
      // (BandedScan.totalOver): the former `t.agg(...)` was a THIRD
      // reference to t, re-running the per-doc scoring feed for it.
      val hist = graft.functions.BandedScan.cumSum(
        t.groupBy("score_t").agg(sum(col("n_tok")).as("btok")),
        "score_t", "btok", "prefix",
        desc = true, includeCurrent = false)
        .withColumn("ttok",
          sum(col("btok")).over(graft.functions.BandedScan.totalOver("score_t")))
        .withColumn("budget", expr("ttok div 4"))
        .select("score_t", "prefix", "budget")
      val wtick = Window.partitionBy("score_t").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t.withColumn("wcum", sum(col("n_tok")).over(wtick))
        .join(broadcast(hist), "score_t")
        .withColumn("cum_tok", col("prefix") + col("wcum"))
        .filter(col("cum_tok") <= col("budget"))
        .select("doc_id", "score_t", "n_tok", "cum_tok")
        .orderBy("doc_id")
    }),

    // tp_dsir: DSIR-style importance resampling (Xie et al., NeurIPS 2023)
    // — the data-selection step that picks raw-pool docs distributionally
    // CLOSE TO A TARGET domain without training a classifier: hashed
    // unigram features (md5 → 256 buckets, the fixed-size model DSIR uses
    // so the method scales past any vocabulary), Laplace-smoothed bucket
    // distributions for target (lang='en', the best-populated fixture
    // domain) and raw (the rest), per-doc importance weight = mean
    // log-ratio Σ m·ln(p_t(b)/p_r(b)) / Σ m. Plan shape: the shared
    // tokenCounts frame (one shuffle, reused by every ta_* consumer) maps
    // to buckets row-locally; the bucket model is 256 rows — broadcast —
    // so scoring is a broadcast join + one hash aggregate, and selection
    // (weight > 0: "looks more target than raw") is a pure projection, no
    // global sort at any corpus size. The fixture's languages share one
    // synthetic vocabulary, so separation is faint here (en median above
    // the rest; DsirSpec proves the mechanism sharply on disjoint-vocab
    // corpora) — the plan, not the fixture, is what ships. Every ln snaps
    // to the 1e-7 grid pre-sum; engines agree bit-for-bit.
    "tp_dsir" -> ((s, d) => dsirOf(documents(s, d)).orderBy("doc_id")))

  /** Token → 256-bucket hashed-feature projection shared by the batch
    * scorer and the streaming gate (one definition — the stored model and
    * a per-batch probe can never drift). */
  private[graft] def dsirBucket(tok: org.apache.spark.sql.Column) =
    conv(substring(md5(tok), 1, 8), 16, 10).cast("long") % 256

  /** The 256-row DSIR bucket model (log target/raw mass ratio on the 1e-7
    * grid) learned from `docs` — the STATIC ARTIFACT a streaming ingest
    * gate ships; target = lang 'en'. */
  private[graft] def dsirModel(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val occ = LlmOps.tokenCounts(docs).withColumn("bkt", dsirBucket(col("tok")))
    val langs = docs.select(col("doc_id"), col("lang"))
    val cnt = occ.join(langs, "doc_id")
      .groupBy("bkt").agg(
        sum(when(col("lang") === "en", col("m")).otherwise(lit(0L))).as("ct"),
        sum(when(col("lang") =!= "en", col("m")).otherwise(lit(0L))).as("cr"))
    val tot = cnt.agg(sum(col("ct")).cast("double").as("st"),
      sum(col("cr")).cast("double").as("sr"))
    cnt.crossJoin(broadcast(tot))
      .select(col("bkt"),
        round(log(((col("ct") + 1) / (col("st") + 256)) /
          ((col("cr") + 1) / (col("sr") + 256))) * 1e7)
          .cast("long").as("lr"))
  }

  /** Core of `tp_dsir` over any documents-shaped frame (target = lang
    * 'en') — separated so TrainingPipelineSpec can prove the mechanism on
    * disjoint-vocabulary synthetic corpora where the separation is sharp. */
  private[graft] def dsirOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val occ = LlmOps.tokenCounts(docs).withColumn("bkt", dsirBucket(col("tok")))
    val langs = docs.select(col("doc_id"), col("lang"))
    val lr = dsirModel(docs)
    occ.join(broadcast(lr), "bkt")
      .groupBy("doc_id").agg(
        sum(col("m")).as("n_tokens"),
        round4((sum(col("m") * col("lr")) / 1e7) / sum(col("m")))
          .as("dsir_score"))
      .join(langs, "doc_id")
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("dsir_score"),
        (col("dsir_score") > 0.0 && col("lang") =!= "en").cast("int")
          .as("selected"))
  }

  /** pp_end_to_end: the whole corpus-prep pipeline composed as ONE lazy
    * plan — quality gate → exact dedup (keep lowest doc_id per normalized
    * text hash) → deterministic train split (same salt as tp_split, so the
    * subset provably matches it) → per-language corpus stats. Catalyst sees
    * a single tree: the quality filter pushes to the scan, the dedup window
    * and the final aggregate share one shuffle each, and nothing
    * materializes between stages — composition is free, which is the point
    * of declaring operators as DataFrame transforms.
    */
  def endToEnd: Q = (s, d) =>
    documents(s, d)
      .filter(col("n_chars").between(200, 20000) &&
        col("lang").isin("en", "fr", "es", "de", "zh"))
      .withColumn("text_hash", md5(lower(trim(col("text")))))
      .withColumn("rn",
        row_number().over(Window.partitionBy("text_hash").orderBy("doc_id")))
      .filter(col("rn") === 1)
      .filter(pct("split:", col("doc_id")) < 80)
      .withColumn("n_toks", size(split(col("text"), " ")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("tokens"),
        sum(col("n_chars")).as("chars"))
      .orderBy("lang")

  val oracle: Map[String, String] = Map(
    "pp_end_to_end" ->
      s"""SELECT lang, count(*) AS n_docs,
                 CAST(sum(len(${LlmOps.toksSql})) AS BIGINT) AS tokens,
                 CAST(sum(n_chars) AS BIGINT) AS chars
          FROM (
            SELECT lang, text, n_chars FROM (
              SELECT lang, text, n_chars, doc_id,
                     row_number() OVER (PARTITION BY md5(lower(trim(text)))
                                        ORDER BY doc_id) AS rn
              FROM documents
              WHERE n_chars BETWEEN 200 AND 20000
                AND lang IN ('en', 'fr', 'es', 'de', 'zh'))
            WHERE rn = 1 AND ${sqlPct("split:", "doc_id")} < 80)
          GROUP BY lang ORDER BY lang""",

    "pp_corpus_stats" ->
      s"""SELECT source, n_docs, tokens, avg_chars, n_langs, n_exact_dups,
                 ${sqlRound4("CAST(tokens AS DOUBLE) / sum(tokens) OVER ()")} AS token_share
          FROM (
            SELECT source, count(*) AS n_docs,
                   CAST(sum(len(${LlmOps.toksSql})) AS BIGINT) AS tokens,
                   ${sqlRound4("CAST(sum(n_chars) AS DOUBLE) / count(*)")} AS avg_chars,
                   count(DISTINCT lang) AS n_langs,
                   count(*) - count(DISTINCT md5(lower(trim(text)))) AS n_exact_dups
            FROM documents GROUP BY source)
          ORDER BY source""",

    "pp_quality_funnel" ->
      s"""WITH t AS (
            SELECT doc_id, source, text, ${LlmOps.toksSql} AS tk
            FROM documents),
          bg AS (
            SELECT doc_id, unnest(list_transform(range(1, len(tk)),
                   i -> tk[i] || ' ' || tk[i+1])) AS bg
            FROM t),
          bcnt AS (SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY 1, 2),
          rep AS (
            SELECT doc_id,
                   CAST((${sqlRound4("1.0 - CAST(count(*) AS DOUBLE)/sum(cnt)")} <= 0.2
                    AND ${sqlRound4("CAST(max(cnt) AS DOUBLE)/sum(cnt)")} <= 0.2) AS INT) AS rep_pass
            FROM bcnt GROUP BY doc_id),
          occ AS (
            SELECT doc_id, tok, count(*) AS m
            FROM (SELECT doc_id, unnest(tk) AS tok FROM t)
            GROUP BY doc_id, tok),
          uni AS (SELECT tok, CAST(sum(m) AS BIGINT) AS cnt FROM occ GROUP BY tok),
          tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM uni),
          lm AS (
            SELECT doc_id,
                   CAST(${sqlRound4("(CAST(sum(m * CAST(round(ln(CAST(cnt AS DOUBLE)/tot)*1e7) AS BIGINT)) AS BIGINT)/1e7)/CAST(sum(m) AS BIGINT)")} >= -9.0 AS INT) AS lm_pass
            FROM occ JOIN uni USING (tok) CROSS JOIN tot GROUP BY doc_id),
          base AS (
            SELECT doc_id, source, len(tk) AS n_toks,
                   row_number() OVER (PARTITION BY md5(lower(trim(text)))
                                      ORDER BY doc_id) AS rn
            FROM t),
          staged AS (
            SELECT source,
                   (n_toks BETWEEN 20 AND 10000) AS c1,
                   ((n_toks BETWEEN 20 AND 10000) AND coalesce(rep_pass, 0) = 1) AS c2,
                   ((n_toks BETWEEN 20 AND 10000) AND coalesce(rep_pass, 0) = 1
                     AND coalesce(lm_pass, 0) = 1) AS c3,
                   ((n_toks BETWEEN 20 AND 10000) AND coalesce(rep_pass, 0) = 1
                     AND coalesce(lm_pass, 0) = 1 AND rn = 1) AS c4
            FROM base LEFT JOIN rep USING (doc_id) LEFT JOIN lm USING (doc_id))
          SELECT source, count(*) AS n_total,
                 CAST(sum(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT) AS n_len,
                 CAST(sum(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rep,
                 CAST(sum(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT) AS n_lm,
                 CAST(sum(CASE WHEN c4 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
          FROM staged GROUP BY source
          ORDER BY source""",

    "tp_length_buckets" ->
      s"""SELECT bucket, n_docs, sum_toks, upper, seqs_per_batch, n_batches,
                 ${sqlRound4("1.0 - CAST(sum_toks AS DOUBLE)/(n_batches*seqs_per_batch*upper)")} AS pad_frac
          FROM (
            SELECT bucket, n_docs, sum_toks, upper, seqs_per_batch,
                   (n_docs + seqs_per_batch - 1) // seqs_per_batch AS n_batches
            FROM (
              SELECT bucket, n_docs, sum_toks, upper,
                     CAST(greatest(1, 8192 // upper) AS BIGINT) AS seqs_per_batch
              FROM (
                SELECT bucket, count(*) AS n_docs,
                       CAST(sum(n_toks) AS BIGINT) AS sum_toks,
                       CAST((bucket + 1) * 64 AS BIGINT) AS upper
                FROM (SELECT CAST(len(${LlmOps.toksSql}) // 64 AS INT) AS bucket,
                             len(${LlmOps.toksSql}) AS n_toks
                      FROM documents)
                GROUP BY bucket)))
          ORDER BY bucket""",

    "tp_split" ->
      s"""SELECT subset, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
          FROM (
            SELECT lang, n_chars,
              CASE WHEN ${sqlPct("split:", "doc_id")} < 80 THEN 'train'
                   WHEN ${sqlPct("split:", "doc_id")} < 90 THEN 'val'
                   ELSE 'test' END AS subset
            FROM documents)
          GROUP BY subset, lang ORDER BY subset, lang""",

    "tp_sample_stratified" ->
      s"""SELECT doc_id, lang, source, n_chars
          FROM documents
          WHERE ${sqlPct("smp:", "doc_id")} <
                CASE WHEN source = 'src0' THEN 20 ELSE 10 END
          ORDER BY doc_id""",

    // same exponential key: u from the 24-bit md5 prefix (+0.5 keeps it
    // strictly inside (0,1)), key = -ln(u)/w snapped to the 1e-9 grid
    "tp_weighted_sample" ->
      """SELECT doc_id, source, kl FROM (
           SELECT doc_id, source,
                  CAST(round(1e9 * -ln(
                    (('0x'||substr(md5('ws:'||CAST(doc_id AS VARCHAR)),1,6))::BIGINT
                      + 0.5) / 16777216.0) / n_chars) AS BIGINT) AS kl
           FROM documents)
         ORDER BY kl, doc_id LIMIT 100""",

    "tp_chunk" ->
      s"""SELECT doc_id, CAST(gs // 48 AS INT) AS chunk_idx,
                CAST(least(n - gs, 64) AS INT) AS chunk_tokens,
                md5(array_to_string(list_slice(toks, gs + 1, gs + 64), ' ')) AS chunk_md5
         FROM (
           SELECT doc_id, toks, n, unnest(generate_series(0, n - 1, 48)) AS gs
           FROM (SELECT doc_id, ${LlmOps.toksSql} AS toks,
                        len(${LlmOps.toksSql}) AS n
                 FROM documents))
         ORDER BY doc_id, chunk_idx""",

    "tp_pack" ->
      s"""SELECT source, bin_id, count(*) AS n_docs,
                CAST(sum(n_toks) AS BIGINT) AS bin_tokens
         FROM (
           SELECT source, n_toks,
             CAST(coalesce(sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048 AS INT) AS bin_id
           FROM (SELECT source, doc_id, len(${LlmOps.toksSql}) AS n_toks
                 FROM documents))
         GROUP BY source, bin_id ORDER BY source, bin_id""",

    "tp_decontaminate" ->
      s"""WITH docs AS (
            SELECT doc_id,
                   ${sqlPct("split:", "doc_id")} AS bucket,
                   ${LlmOps.shHashSql} AS sh
            FROM documents),
          inv AS (SELECT doc_id, bucket, unnest(sh) AS h FROM docs),
          hot AS (SELECT h FROM inv GROUP BY h
                  HAVING count(*) > ${graft.operators.LlmOps.MaxShingleDf}),
          capped AS (SELECT inv.* FROM inv ANTI JOIN hot USING (h)),
          train AS (SELECT doc_id AS train_id, h FROM capped WHERE bucket < 80),
          test AS (SELECT doc_id AS test_id, h FROM capped WHERE bucket >= 90)
          SELECT train_id, count(DISTINCT h) AS n_shared,
                 count(DISTINCT test_id) AS n_test_docs
          FROM train JOIN test USING (h)
          GROUP BY train_id
          HAVING count(DISTINCT h) >= 5
          ORDER BY train_id""",

    "tp_pack_sharded" ->
      s"""SELECT source, shard, bin_id, count(*) AS n_docs,
                 CAST(sum(n_toks) AS BIGINT) AS bin_tokens
          FROM (
            SELECT source, shard, n_toks,
              CAST(coalesce(sum(n_toks) OVER (PARTITION BY source, shard ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048 AS INT) AS bin_id
            FROM (SELECT source, doc_id,
                    CAST(${sqlPct("shard:", "doc_id")} % 8 AS INT) AS shard,
                    len(${LlmOps.toksSql}) AS n_toks
                  FROM documents))
          GROUP BY source, shard, bin_id ORDER BY source, shard, bin_id""",

    // The window form is the semantic mirror of the bounded partial
    // aggregate (TopKAggregator orders score DESC, id DESC).
    "tp_reservoir" ->
      """SELECT lang, CAST(rnk AS INT) AS rnk, doc_id, pri
         FROM (
           SELECT lang, doc_id, pri,
                  row_number() OVER (PARTITION BY lang
                                     ORDER BY pri DESC, doc_id DESC) AS rnk
           FROM (SELECT lang, doc_id,
                   ('0x'||substr(md5('res:'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT
                     % 1000000000 AS pri
                 FROM documents))
         WHERE rnk <= 5 ORDER BY lang, rnk""",

    "tp_shuffle" ->
      """SELECT doc_id,
                ('0x'||substr(md5('shuf:'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT AS shuffle_key
         FROM documents ORDER BY shuffle_key, doc_id""",

    "tp_interleave" ->
      """SELECT doc_id, lang, CAST(rn AS INT) AS rn, vpos
         FROM (
           SELECT doc_id, lang, rn,
                  (CAST(rn AS DOUBLE) - 0.5) / w AS vpos
           FROM (
             SELECT doc_id, lang,
               CAST(CASE WHEN lang = 'en' THEN 3.0
                         WHEN lang IN ('fr', 'es') THEN 2.0
                         ELSE 1.0 END AS DOUBLE) AS w,
               row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
             FROM documents))
         ORDER BY vpos, doc_id LIMIT 200""",

    // same integer quota chain: w=floor(sqrt(n)), quota=((nd//2)*w)//sw,
    // admission by the same salted-hash rank per lang
    "tp_temperature_mix" ->
      """WITH c AS (
           SELECT lang, count(*) AS n_l,
                  CAST(floor(sqrt(count(*))) AS BIGINT) AS w_l
           FROM documents GROUP BY 1),
         t AS (SELECT CAST(sum(w_l) AS BIGINT) AS sw,
                      CAST(sum(n_l) AS BIGINT) AS nd FROM c),
         q AS (SELECT lang, ((nd // 2) * w_l) // sw AS quota FROM c, t),
         h AS (SELECT doc_id, lang,
                 ('0x'||substr(md5('temp:'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT AS hk
               FROM documents),
         r AS (SELECT h.doc_id, h.lang, q.quota,
                 row_number() OVER (PARTITION BY h.lang ORDER BY hk, doc_id) AS rk
               FROM h JOIN q USING (lang))
         SELECT doc_id, lang, CAST(rk AS INT) AS rk
         FROM r WHERE rk <= quota ORDER BY doc_id""",

    "emb_quantize" ->
      """SELECT vec_id,
                CAST(round(sqrt(CAST(sum(CAST(round(err*err*1e12) AS BIGINT)) AS BIGINT)
                     / 1e12 / 64) * 10000) AS BIGINT) / 10000.0 AS rmse,
                max(abs(q)) AS qmax,
                CAST(round(max(abs(xd)) * 10000) AS BIGINT) / 10000.0 AS amax
         FROM (
           SELECT vec_id, xd, scale,
                  CASE WHEN scale = 0 THEN 0
                       ELSE CAST(round(xd / scale) AS INT) END AS q,
                  xd - (CASE WHEN scale = 0 THEN 0
                             ELSE CAST(round(xd / scale) AS INT) END) * scale AS err
           FROM (
             SELECT vec_id, CAST(x AS DOUBLE) AS xd,
                    max(abs(CAST(x AS DOUBLE))) OVER (PARTITION BY vec_id) / 127.0 AS scale
             FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)))
         GROUP BY vec_id ORDER BY vec_id""",

    "tp_upsample" ->
      """SELECT doc_id, CAST(epoch AS INT) AS epoch, source,
                ('0x'||substr(md5('ups:'||doc_id||':'||epoch),1,15))::BIGINT AS pos
         FROM (SELECT doc_id, source,
                 unnest(range(1, CASE WHEN source = 'src0' THEN 3
                                      WHEN source = 'src1' THEN 2
                                      ELSE 1 END + 1)) AS epoch
               FROM documents)
         ORDER BY doc_id, epoch""",

    // the naive form: ONE global running sum over the quality ordering —
    // exactly the plan the Spark side avoids; same selected set proves the
    // histogram-prefix reconstruction is the identical cumulative
    "tp_token_budget" ->
      s"""WITH t AS (
            SELECT doc_id, CAST(round(score*10000) AS BIGINT) AS score_t, n_tok
            FROM ${LlmOps.qualityScoreSql}),
          b AS (SELECT sum(n_tok) // 4 AS budget FROM t),
          o AS (SELECT doc_id, score_t, n_tok,
                       CAST(sum(n_tok) OVER (
                         ORDER BY score_t DESC, doc_id
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
                FROM t)
          SELECT doc_id, score_t, n_tok, cum_tok
          FROM o, b WHERE cum_tok <= budget ORDER BY doc_id""",

    "tp_dsir" ->
      s"""WITH occ AS (
            SELECT doc_id, tok, count(*) AS m
            FROM (SELECT doc_id, unnest(${LlmOps.toksSql}) AS tok FROM documents)
            GROUP BY 1, 2),
          b AS (SELECT doc_id,
                       ('0x'||substr(md5(tok),1,8))::BIGINT % 256 AS bkt, m
                FROM occ),
          cnt AS (SELECT bkt,
                   CAST(sum(CASE WHEN lang = 'en' THEN m ELSE 0 END) AS BIGINT) AS ct,
                   CAST(sum(CASE WHEN lang <> 'en' THEN m ELSE 0 END) AS BIGINT) AS cr
                  FROM b JOIN (SELECT doc_id, lang FROM documents) USING (doc_id)
                  GROUP BY 1),
          tot AS (SELECT CAST(sum(ct) AS DOUBLE) AS st,
                         CAST(sum(cr) AS DOUBLE) AS sr FROM cnt),
          lr AS (SELECT bkt,
                        CAST(round(ln(((ct + 1)/(st + 256))
                          / ((cr + 1)/(sr + 256)))*1e7) AS BIGINT) AS lr
                 FROM cnt CROSS JOIN tot),
          sc AS (SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_tokens,
                   ${sqlRound4("(CAST(sum(m*lr) AS BIGINT)/1e7)/CAST(sum(m) AS BIGINT)")} AS dsir_score
                 FROM b JOIN lr USING (bkt) GROUP BY 1)
          SELECT doc_id, lang, n_tokens, dsir_score,
                 CAST(dsir_score > 0.0 AND lang <> 'en' AS INT) AS selected
          FROM sc JOIN (SELECT doc_id, lang FROM documents) USING (doc_id)
          ORDER BY doc_id""")
}
