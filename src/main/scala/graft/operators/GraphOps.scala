package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by min-label propagation — the final
  * step of near-dup deduplication (pair graph → duplicate clusters) and the
  * generic `cmdb_rel_ci` reachability primitive.
  *
  * Each round every vertex takes the minimum label among itself and its
  * neighbors (one hop), then follows its current label's own label (a
  * pointer jump). The hop GUARANTEES one edge-hop of min-propagation per
  * round, so `rounds = diameter` always suffices; the jump usually
  * collapses long chains much faster but is only opportunistic — when the
  * current label's own label is no smaller it contributes nothing, so do
  * NOT budget rounds assuming doubling (a property test with adversarial
  * id layouts falsified exactly that assumption). All state lives in
  * DataFrames (labels hash-partitioned on vertex id; each round is two
  * small equi-joins + a partial-aggregable min), nothing on the driver —
  * the same shape GraphX/GraphFrames use, minus their dependency.
  *
  * With `rounds = None` the loop runs to a VERIFIED fixpoint — one
  * changed-labels check per round (driver CONTROL, never driver DATA).
  * That is the correct mode whenever the component diameter is unknown;
  * fixed `rounds` is for callers with a structural diameter bound.
  */
object GraphOps {

  /** @param vertices one column `id`; @param edges columns `src`, `dst`
    *  (directed; pass both directions for an undirected graph).
    * @return (id, comp) where comp = min vertex id reachable. */
  def minLabelComponents(vertices: DataFrame, edges: DataFrame,
      rounds: Option[Int] = None): DataFrame = {
    // no distinct(): duplicate/multi-edges are harmless under min() and
    // deduping them would cost a full shuffle of the edge list every run
    // materializeShared, not materialize: fixpoints run inside per-pass
    // rebuilt builders (components memo, incremental maintenance), so the
    // frames must die with the pass or the next rebuild is a
    // canonical-plan cache hit and re-registers a duplicate every pass
    val e = graft.CacheRegistry.materializeShared(
      edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").as("src"), col("src").as("dst"))))
    var labels = graft.CacheRegistry.materializeShared(
      vertices.select(col("id"), col("id").as("comp")))
    // ONE round: hop + jump, returning (id, comp, changed). comp0 (the
    // round's starting label) rides along so convergence is a per-row
    // comparison INSIDE this round's plan — no extra join against the
    // previous labels frame at check time.
    // hop appears twice in this plan, so the tree would double every
    // round (2^rounds copies — OOM in the analyzer by round 5); the lazy
    // localCheckpoint truncates lineage to an RDD leaf per round while
    // deferring execution, and each round's result is computed once and
    // reused across bench passes.
    def step(lab: DataFrame): DataFrame = {
      val nbr = e.join(lab.select(col("id").as("nid"), col("comp").as("ncomp")),
          col("dst") === col("nid"))
        .groupBy(col("src")).agg(min(col("ncomp")).as("nbr_comp"))
      val hop = lab.join(nbr, col("id") === col("src"), "left")
        .select(col("id"), col("comp").as("comp0"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
      // pointer jump: follow the label's own label — opportunistic chain
      // collapsing (see scaladoc; correctness never depends on it).
      hop.alias("h")
        .join(hop.select(col("id").as("jid"), col("comp").as("jcomp")).alias("j"),
          col("h.comp") === col("j.jid"), "left")
        .select(col("h.id").as("id"),
          least(col("h.comp"), coalesce(col("j.jcomp"), col("h.comp"))).as("comp"),
          (least(col("h.comp"), coalesce(col("j.jcomp"), col("h.comp")))
            < col("h.comp0")).as("changed"))
        .localCheckpoint(eager = false)
    }
    rounds match {
      case Some(n) =>
        for (_ <- 1 to n) labels = step(labels).select(col("id"), col("comp"))
        labels
      case None =>
        // verified fixpoint, TWO rounds per check: labels only ever
        // DECREASE, so "no row's comp dropped below its round-start comp0"
        // IS "nothing changed", and a second round changing nothing is a
        // verified fixpoint regardless of what the first did. Checking
        // every other round halves the driver's per-round cost (one plan
        // analysis + one isEmpty job ladder per TWO rounds) for at most
        // one extra no-op round of delta-sized joins — the per-batch
        // planning floor was the dominant cost of the incremental
        // maintenance drain (r10 scaling ratio 0.67: FASTER on 8 cores
        // than 32). Extra rounds at the fixpoint are no-ops under
        // min-label algebra, so the result is round-count-independent.
        var done = false
        while (!done) {
          val b = step(step(labels).select(col("id"), col("comp")))
          // one filter scan of the (checkpointed) round result, no join
          done = b.filter(col("changed")).isEmpty
          labels = b.select(col("id"), col("comp"))
        }
        labels
    }
  }

  /** Incremental connected-components maintenance — update a STORED label
    * frame from a delta batch without re-running the fixpoint over the
    * whole graph. The old graph is never touched: every delta edge
    * endpoint is CONTRACTED to its current label (an old vertex collapses
    * into its stored component's super-vertex; a new vertex is its own
    * label), the min-label fixpoint runs over just that contracted
    * delta-touched subgraph, and the result relabels stored components by
    * a components-sized equi-join. Contraction preserves connectivity and
    * min labels are min doc ids on both sides of the contraction, so the
    * output is row-identical to a full rebuild over old ∪ delta
    * (IncrementalComponentsSpec pins exactly that, including two old
    * components merged through a new bridge vertex) — but the fixpoint
    * cost is sized by the DELTA (touched components + new vertices), not
    * the corpus: the 100-TB daily-increment shape, where the stored frame
    * is a lake read and only the day's batch iterates.
    *
    * @param stored    (id, comp) — the persisted label frame (comp = min
    *                  vertex id of the component, [[minLabelComponents]]'
    *                  own output contract)
    * @param newVertices one column `id`, disjoint from stored ids
    * @param deltaEdges columns `src`, `dst` — every edge with ≥1 new
    *                  endpoint (new–new and new–old; old–old edges are
    *                  already folded into `stored`)
    * @return (id, comp) for ALL vertices (stored ∪ new) */
  def incrementalComponents(stored: DataFrame, newVertices: DataFrame,
      deltaEdges: DataFrame): DataFrame = {
    val sLab = stored.select(col("id").as("sid"), col("comp").as("scomp"))
    val dLab = stored.select(col("id").as("did"), col("comp").as("dcomp"))
    // two hash joins on the vertex pk (delta-sized probe against the
    // stored frame — co-partitioned on a bucketed lake table); new
    // endpoints have no stored row → own id
    val contracted = graft.CacheRegistry.materializeShared(deltaEdges
      .join(sLab, col("src") === col("sid"), "left")
      .join(dLab, col("dst") === col("did"), "left")
      .select(coalesce(col("scomp"), col("src")).as("src"),
        coalesce(col("dcomp"), col("dst")).as("dst")))
    // isolated new vertices ride along as singletons so the result frame
    // covers the full new batch in one pass
    val touched = contracted.select(col("src").as("id"))
      .union(contracted.select(col("dst").as("id")))
      .union(newVertices.select(col("id")))
      .distinct()
    val sub = minLabelComponents(touched, contracted, rounds = None)
    val relab = sub.select(col("id").as("rc"), col("comp").as("nc"))
    // stored components not touched by any delta edge have no relab row
    // and keep their label — the common case on a daily increment
    val oldOut = stored
      .join(relab, col("comp") === col("rc"), "left")
      .select(col("id"), coalesce(col("nc"), col("comp")).as("comp"))
    val newOut = newVertices
      .join(relab, col("id") === col("rc"), "left")
      .select(col("id"), coalesce(col("nc"), col("id")).as("comp"))
    oldOut.union(newOut)
  }

  /** Bounded-depth BFS with min-depth labels — the blast-radius /
    * impact-analysis complement to [[minLabelComponents]]' unbounded
    * fixpoint: from `seeds` (one column `id`), every vertex reachable in
    * ≤ `rounds` edge hops with the SMALLEST hop count that reaches it.
    * The rounds unroll into ONE Catalyst tree (frontier ⋈ edges →
    * distinct → anti-join everything already reached → next depth): no
    * driver-side loop or action, so a bounded-k traversal plans and
    * optimizes like any other query. Cost per round is frontier-sized ⋈
    * edge-partition equi joins; `rounds` is small by design (impact
    * horizons are 2–4 hops) — for unbounded reach use the fixpoint. */
  def bfsDepths(seeds: DataFrame, edges: DataFrame, rounds: Int): DataFrame = {
    var reached = seeds.select(col("id").as("doc_id")).withColumn("depth", lit(0))
    for (i <- 1 to rounds) {
      val next = reached.filter(col("depth") === i - 1)
        .join(edges, col("doc_id") === col("src"))
        .select(col("dst").as("doc_id")).distinct()
        .join(reached.select("doc_id"), Seq("doc_id"), "left_anti")
        .withColumn("depth", lit(i))
      // each round references the previous `reached` THREE times (frontier
      // filter, anti join, union) — truncate per round or the unrolled
      // tree re-evaluates the whole prefix exponentially in `rounds`.
      // localCheckpoint, not persist: persist leaves the exponential tree
      // in the LOGICAL plan, and every downstream action re-ANALYZES it
      // (dd_blast_radius spent ~1.8 s of a 2.0 s wall in the analyzer on
      // a 3^rounds tree — the gr_sssp plan-blowup class); the lazy
      // checkpoint truncates to an RDD leaf with the same computed-once,
      // block-cached execution. Callers hold AQE off (ConfScope.Fixpoint)
      // so the checkpoint's toRdd stays lazy at plan build.
      reached = reached.union(next).localCheckpoint(eager = false)
    }
    reached
  }

  /** Per-vertex triangle participation over a canonically-oriented edge
    * list (`src < dst`) — the cohesion audit of a near-dup graph: a
    * component held together by a CHAIN of pairwise links (few triangles)
    * is transitive-closure risk (A~B~C with A̸~C), while a triangle-dense
    * component is a genuine duplicate cluster. Orientation makes each
    * triangle a<b<c appear exactly once: wedge-join a<b with b<c on the
    * shared middle vertex, then close against the a<c edge — two
    * hash-partitioned equi-joins, candidate cost Σ_b out(b)·in(b) (never
    * |E|² and never a cartesian). At skew, re-orient by (degree, id)
    * instead of id — the same two joins with wedge cost bounded by the
    * graph's arboricity (standard compact-forward); id-orientation is the
    * oracle-mirrorable form and near-dup graphs cap degree by design
    * (the df cap bounds how many pairs any doc joins).
    * @return (id, n_triangles), vertices in ≥1 triangle only. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val tri = e.alias("ab")
      .join(e.select(col("src").as("b2"), col("dst").as("c2")).alias("bc"),
        col("ab.dst") === col("bc.b2"))
      .join(e.select(col("src").as("a3"), col("dst").as("c3")).alias("ac"),
        col("ab.src") === col("ac.a3") && col("bc.c2") === col("ac.c3"))
      .select(col("ab.src").as("a"), col("ab.dst").as("b"), col("bc.c2").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
  }

  /** Multi-source bounded-hop shortest paths — Bellman-Ford relaxation
    * rounds in the union+min form: each round unions the current distance
    * frame with every one-hop relaxation (dist ⋈ edges on the source
    * vertex) and takes min(dist) per vertex. After k rounds a vertex's
    * row is the cheapest path from ANY seed using ≤ k edges — the
    * distance-to-nearest-facility operator (impact cost, escalation
    * routing) with the same bounded-round discipline as [[bfsDepths]]
    * (which is this with cost ≡ 1 and first-touch instead of min).
    *
    * Shape: per round ONE equi-join (edges hash-partitioned on `u`,
    * distances on `id`) + a union + a partial-aggregable min — no
    * full-outer reconciliation, no driver data, distance frames |V|-sized
    * and materialized per round so the unrolled tree never re-executes its
    * prefix. Integer costs make every round bit-deterministic under any
    * partitioning (the pagerank restartability argument), so the frame
    * checkpoints/resumes mid-iteration at scale.
    *
    * @param seeds one column `id`; @param edges columns `u`, `v`, `cost`
    *   (directed; pass both directions for an undirected graph;
    *   non-negative integer costs). */
  def shortestPathRounds(seeds: DataFrame, edges: DataFrame,
      rounds: Int): DataFrame = {
    var dist = seeds.select(col("id"), lit(0L).as("dist"))
    for (_ <- 1 to rounds) {
      val relaxed = edges
        .join(dist.select(col("id").as("uid"), col("dist").as("du")),
          col("u") === col("uid"))
        .select(col("v").as("id"), (col("du") + col("cost")).as("dist"))
      // localCheckpoint, not persist — the bfsDepths rationale: each round
      // references `dist` twice (union + relaxation join), so a persisted
      // but un-truncated tree doubles per round and every count() on the
      // final frame re-analyzes 2^rounds subtree copies (gr_sssp: 142
      // scans, 377 KB of plan text, ~1 s of analyzer per bench pass)
      dist = dist.union(relaxed).groupBy("id").agg(min("dist").as("dist"))
        .localCheckpoint(eager = false)
    }
    dist
  }

  /** Damped power-iteration PageRank rounds in scaled-integer arithmetic,
    * over a symmetrized edge list `ed` (columns `u`, `v`) starting from
    * `pr0` (columns `id`, `deg`, `pr`; rank in 1e-6 units). Each round is
    * one equi-join (rank ⋈ edges on the source vertex, both sides
    * hash-partitioned on the key) + one hash aggregate on the destination;
    * rounds are materialized so the unrolled Catalyst tree never
    * re-executes its prefix (the components-fixpoint lineage discipline).
    *
    * Every quantity is an integer and every step (`pr div deg`, the
    * damping `(85·sum) div 100`) is deterministic under ANY partitioning,
    * so running `a + b` rounds from `pr0` is bit-identical to running `b`
    * rounds restarted from the PERSISTED result of `a` rounds — the
    * restartable-mid-iteration contract a long job needs at 100 TB
    * (checkpoint the rank frame, resume after preemption). GraphOpsSpec
    * pins exactly that, round-tripping the intermediate through parquet.
    */
  def pagerankRounds(ed: DataFrame, pr0: DataFrame, rounds: Int): DataFrame = {
    val deg = pr0.select(col("id"), col("deg"))
    var pr = pr0
    for (_ <- 1 to rounds) {
      val next = ed
        .join(pr.withColumn("c", expr("pr div deg")), col("u") === col("id"))
        .groupBy(col("v").as("vid"))
        .agg((lit(150000L) + expr("(85 * sum(c)) div 100")).as("pr"))
      // materialize (persist), NOT localCheckpoint: 3 rounds × 2
      // references keep the analyzed tree small enough that the per-pass
      // analyzer cost is ~0.2 s (measured r11), while a localCheckpoint
      // would wire broadcast jobs at plan build and force the builder
      // eager — re-paying the whole build per bench pass for no win.
      // shortestPathRounds/bfsDepths differ: their trees carry the
      // corpus-sized knn/pair subtrees at 2^4/3^3 copies and the analyzer
      // dominated (gr_sssp 0.9 s), so they truncate and run eager.
      pr = graft.CacheRegistry.materialize(
        deg.join(next, col("id") === col("vid")).drop("vid"))
    }
    pr
  }
}
