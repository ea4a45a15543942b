"""Graph operators over the kNN self-join output (beyond-reference).

``knn_join`` (ops/similarity.py) builds the n·k edge table that
SemDeDup-style curation, graph dedup, and semi-supervised quality
classification all consume.  This module adds the two consumers a
large-scale training-data pipeline actually runs over that graph:

* ``label_propagate`` -- semi-supervised label propagation (Zhu &
  Ghahramani 2002 shape): a small seed set of labeled rows spreads
  class mass over the kNN edges for a fixed number of rounds.  The
  100 TB use case is quality/topic/language classification from a
  hand-labeled seed set without training a model: each round is ONE
  equi-join of the n·k skinny edge table against the (node, class)
  mass table plus two keyed aggregations -- nothing corpus-sized is
  collected or broadcast, and the mass table is bounded by
  n × n_classes rows.

* ``hard_negatives`` -- contrastive-training negative mining: for
  each anchor, the nearest neighbours whose label DIFFERS from the
  anchor's, taken from a pool of the anchor's ``pool_k`` nearest
  rows.  This is the standard "in-batch hard negative" prep step for
  embedding-model training, expressed as the already-bounded
  ``knn_join`` pool + a label anti-predicate + one per-anchor rank --
  never an all-pairs scan.

* ``pagerank`` -- unlabeled centrality over the kNN graph: the
  data-selection signal "which rows sit in dense, well-connected
  regions" (density/representativeness scoring for coreset selection
  and prototypicality ranking).  Each round is one equi-join of the
  n·k edge table against the (node, rank) table plus one keyed sum --
  the same skinny-integer-exchange shape as ``label_propagate``.

* ``mutual_knn`` -- symmetrize the directed kNN graph to edges
  present in BOTH directions.  Mutual-kNN graphs suppress hub nodes
  (a hub is many rows' neighbour but reciprocates few), the standard
  preprocessing step before graph clustering or graph-based dedup;
  one self-equi-join of the edge table on the (src, dst) pair key.

Cross-engine determinism (the repo-wide discipline, SCALE.md
pathology #3): every arithmetic step that feeds an ORDER BY or a
group key is integer-quantized.  Edge weights are
``round(W_SCALE/(1+dist))`` as int64 over the graph's already
element-quantized distance; per-round class masses are normalized
with INTEGER division to ``M_SCALE`` per node.  Integer sums and
integer division are merge-order-independent in any engine, so the
Spark plan and a DuckDB oracle land on bit-identical masses, the
same argmax, and the same near-tie winner.

Overflow budget (int64 max ≈ 9.2e18): masses ≤ M_SCALE = 1e5,
weights ≤ W_SCALE = 1e6, so a round's raw aggregate is ≤
k·W_SCALE·M_SCALE = k·1e11 per class and the normalization product
is ≤ k·1e11·1e5 = k·1e16 -- three orders of magnitude of headroom at
k = 100.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..functions.plan import materialize

W_SCALE = 1_000_000    # edge-weight quantization: w = round(1e6/(1+dist))
M_SCALE = 100_000      # per-node class-mass normalization target

PR_SCALE = 1_000_000_000   # pagerank mass per node at t=0 (int64)
PR_D_NUM, PR_D_DEN = 85, 100   # damping 0.85 as an integer ratio


def label_propagate(edges: DataFrame, seeds: DataFrame, iters: int = 2,
                    q_col: str = "q_id", n_col: str = "id",
                    dist_col: str = "dist",
                    id_col: str = "id", label_col: str = "label",
                    checkpoint_every: int = 0,
                    symmetric: bool = False) -> DataFrame:
    """Propagate seed labels over a kNN edge table for ``iters`` rounds.

    ``edges``: (q_col, n_col, dist_col) -- directed edges "q pulls from
    n", i.e. exactly what ``knn_join`` emits (q_id, id, dist).
    ``seeds``: (id_col, label_col) -- the clamped labeled rows.

    Semantics per round t (integer arithmetic throughout):

    1. edge weight  w = round(W_SCALE / (1 + dist))  as int64;
    2. raw mass     m_raw(v, c) = Σ_{(v,u) ∈ edges} w(v,u) · m_{t-1}(u, c);
    3. normalize    m_t(v, c) = (m_raw · M_SCALE) div Σ_c m_raw  (int div);
    4. clamp seeds  m_t(seed, seed_label) = M_SCALE (propagated rows
       for seed ids are discarded -- seeds never drift).

    Rows with zero mass are dropped each round, so the state stays
    skinny; nodes with no ≤``iters``-hop path from a seed are absent
    from the output (documented: they are UNLABELED, not class-0).

    Returns one row per reached node: (id, label, confidence,
    is_seed) where label is the argmax class (ties -> smallest
    label), confidence = round(mass / M_SCALE, 6) ∈ (0, 1].

    Scale: each round is one equi-join on the node id (n·k edges vs
    ≤ n·n_classes mass rows, both skinny) + one (node, class) agg +
    one node-keyed window -- 2-3 exchanges of integer rows per round,
    combiner-friendly, nothing broadcast.  For deep propagation set
    ``checkpoint_every`` to cut the lineage like
    ``connected_components`` does (requires a checkpoint dir for
    non-local masters).

    ``symmetric=True`` propagates along BOTH edge directions (each
    directed edge also acts reversed, same weight) — the coverage
    lever the measured 10M depth law calls for (SCALE.md §9h
    addendum): directed kNN reach saturates at the seeds'
    clique closure (0.250 at 1% seeds on the §9b geometry, no depth
    recovers more) because a node only ever receives from its OWN
    kNN list; symmetrizing lets mass also flow from a row to the
    rows that COUNT it among their kNN, merging cliques the directed
    frontier cannot cross.  Doubles the per-round edge rows, same
    plan shape; a (u,v) pair present in both directions contributes
    both reversed copies — intentional (reciprocated affinity counts
    twice), same semantics as the standard W + Wᵀ symmetrization.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    w_edges = (edges.select(
        F.col(q_col).alias("_dst"), F.col(n_col).alias("_src"),
        F.expr(f"CAST(round({W_SCALE}.0 / (1.0 + {dist_col})) AS BIGINT)")
        .alias("_w")))
    if symmetric:
        w_edges = w_edges.unionByName(
            w_edges.select(F.col("_src").alias("_dst"),
                           F.col("_dst").alias("_src"), "_w"))

    seed_mass = (seeds.select(
        F.col(id_col).alias("_node"),
        F.col(label_col).cast("long").alias("_label"),
        F.lit(M_SCALE).cast("long").alias("_m")))
    seed_ids = seeds.select(F.col(id_col).alias("_node")).distinct()

    mass = seed_mass
    for t in range(iters):
        raw = (w_edges
               .join(mass, w_edges["_src"] == mass["_node"], "inner")
               .groupBy(F.col("_dst").alias("_node"), "_label")
               .agg(F.sum(F.col("_w") * F.col("_m")).alias("_mr")))
        total = Window.partitionBy("_node")
        norm = (raw.withColumn("_tot", F.sum("_mr").over(total))
                .select("_node", "_label",
                        F.expr(f"CAST(_mr * {M_SCALE} div _tot AS BIGINT)")
                        .alias("_m"))
                .filter(F.col("_m") > 0))
        mass = (norm.join(seed_ids, "_node", "left_anti")
                .unionByName(seed_mass))
        if checkpoint_every and (t + 1) % checkpoint_every == 0 \
                and t + 1 < iters:
            mass = materialize(mass)

    is_seed = (mass.join(seed_ids.withColumn("_is_seed", F.lit(True)),
                         "_node", "left")
               .withColumn("_is_seed",
                           F.coalesce("_is_seed", F.lit(False))))
    rank = Window.partitionBy("_node").orderBy(F.col("_m").desc(), "_label")
    return (is_seed
            .withColumn("_rn", F.row_number().over(rank))
            .filter(F.col("_rn") == 1)
            .select(F.col("_node").alias(id_col),
                    F.col("_label").alias(label_col),
                    F.round(F.col("_m") / M_SCALE, 6).alias("confidence"),
                    F.col("_is_seed").alias("is_seed")))


def hard_negatives(df: DataFrame, centroids: DataFrame, labels: DataFrame,
                   k: int = 5, pool_k: int = 20, nprobe: int = 2,
                   id_col: str = "id", vector_col: str = "vector",
                   label_col: str = "label",
                   **knn_kwargs) -> DataFrame:
    """Mine hard negatives: each anchor's ``k`` nearest rows with a
    DIFFERENT label, drawn from its ``pool_k``-NN pool.

    The pool is ``knn_join(df, centroids, k=pool_k, nprobe=nprobe)``
    -- the bounded cell-blocked self-join, never all-pairs -- so the
    negative set is "hard" in the standard sense (nearest by the same
    metric the embedding model is trained on) and the extra cost over
    the graph build is two skinny label joins + one per-anchor rank
    of ≤ pool_k rows.  Anchors whose pool contains fewer than ``k``
    different-label rows emit fewer than ``k`` negatives (documented;
    widen ``pool_k``/``nprobe`` to fill).

    Returns (q_id, id, dist, rank) with rank ≤ k over different-label
    neighbours only.
    """
    from .similarity import knn_join
    if k > pool_k:
        raise ValueError("k must be <= pool_k")
    pool = knn_join(df, centroids, k=pool_k, nprobe=nprobe,
                    id_col=id_col, vector_col=vector_col, **knn_kwargs)
    lab = labels.select(F.col(id_col).alias("_lid"),
                        F.col(label_col).alias("_lab"))
    anchored = (pool
                .join(lab.withColumnRenamed("_lab", "_q_lab"),
                      pool["q_id"] == lab["_lid"], "inner")
                .drop("_lid"))
    negs = (anchored
            .join(lab, anchored["id"] == lab["_lid"], "inner")
            .filter(F.col("_lab") != F.col("_q_lab"))
            .drop("_lid"))
    rank = Window.partitionBy("q_id").orderBy("dist", "id")
    return (negs
            .withColumn("nrank", F.row_number().over(rank))
            .filter(F.col("nrank") <= k)
            .select("q_id", "id", "dist", F.col("nrank").alias("rank")))


def pagerank(edges: DataFrame, nodes: DataFrame | None = None,
             iters: int = 2, q_col: str = "q_id", n_col: str = "id",
             id_col: str = "id", checkpoint_every: int = 0,
             release: bool = True) -> DataFrame:
    """Integer-exact PageRank (Page et al. 1999, damped-centrality
    form) over a directed edge table for ``iters`` rounds -- the
    unlabeled twin of ``label_propagate``.

    ``edges``: (q_col, n_col) -- mass flows q -> n, exactly the
    direction ``knn_join`` emits (a row "votes for" its nearest
    neighbours), so high scores mark rows many other rows count among
    their kNN: dense-region / prototypical rows.  The 100 TB use is
    coreset and curriculum selection ("keep the most central docs per
    cluster") and hub diagnostics before graph dedup.

    Semantics per round t (integer arithmetic throughout, scaled so
    the stationary mean is PR_SCALE per node):

    1. contribution  c(u) = r_{t-1}(u) div outdeg(u)   (int div);
    2. received      recv(v) = Sum over in-edges of c(u);
    3. damped        r_t(v) = BASE + (85 * recv) div 100, with
       BASE = PR_SCALE * 15 div 100 -- nodes with no in-edges hold
       exactly BASE.

    Documented deviations from the stochastic-matrix textbook form,
    chosen for merge-order independence (int64 sums and int division
    are associative/commutative in any engine, so Spark and a DuckDB
    oracle land on bit-identical ranks -- SCALE.md pathology #3):
    dangling-node mass evaporates instead of redistributing, and int
    division truncates ~1 part in 1e9 per hop.  Neither moves a
    relative ranking at PR_SCALE = 1e9.

    Overflow budget: total system mass is <= n * PR_SCALE, so any
    single damped aggregate is <= 85 * n * 1e9; int64 holds to
    n ~ 1e8 nodes per graph -- beyond that, shrink PR_SCALE.

    ``nodes``: optional (id_col) universe; nodes absent from the edge
    table still emit BASE.  Defaults to the distinct endpoints of
    ``edges``.  ``nodes`` must COVER the edge endpoints: passing a
    strict subset neither errors nor computes induced-subgraph
    PageRank (out-degree still counts edges to excluded targets,
    whose mass evaporates) -- filter ``edges`` first to rank a
    subgraph.  Returns (id, score), score = round(r / PR_SCALE, 6).

    Scale: per round ONE equi-join of the n·k skinny integer edge
    table against the n-row (node, rank) table plus one keyed sum --
    combiner-friendly, nothing broadcast, no vectors anywhere.  The
    skinny (src, dst) projection and the node set are persisted on
    entry: the degree aggregation and every round's join consume them
    through DIFFERENT plan subtrees, which would otherwise re-execute
    an expensive upstream (a fresh ``knn_join``) once per consumer.

    ``release=True`` (default, the long-lived-session hygiene mode,
    r08 ADVICE): the final rank table (n skinny rows) is eagerly
    local-checkpointed, both caches are unpersisted before returning,
    and the int64 budget guard runs as a count over the CHECKPOINTED
    blocks (no recompute, no extra upstream job — the r09 regression
    fix: the previous pre-count + in-call eager actions cost ×6 on a
    sub-second query at bench scale).  The guard fires after the
    arithmetic but before any value is returned, which preserves its
    contract: fail loudly instead of handing back silently-wrapped
    int64 sums.

    ``release=False`` (for composition and benching — one caller
    materializes the result exactly once): returns the LAZY plan;
    the single downstream action fills and reuses both caches within
    its one job (they stay registered afterwards — the caller owns
    cleanup, e.g. ``spark.catalog.clearCache()`` at a pipeline
    boundary), and the budget guard is skipped (a lazy return cannot
    run a job) — callers above ~1e8 nodes must check the documented
    budget themselves.
    """
    out, caches = _pagerank_plan(edges, nodes, iters, q_col, n_col,
                                 id_col, checkpoint_every,
                                 persist_nodes=release)
    if not release:
        return out
    out = materialize(out)
    n_nodes = out.count()        # checkpointed: scans local blocks only
    for c in caches:
        c.unpersist()
    budget = (2 ** 63 - 1) // (PR_SCALE * PR_D_NUM)
    if n_nodes > budget:
        raise ValueError(
            f"pagerank int64 overflow: {n_nodes} nodes exceeds the "
            f"{budget}-node budget at PR_SCALE={PR_SCALE}; shrink "
            "PR_SCALE (docstring 'Overflow budget')")
    return out


def _pagerank_plan(edges: DataFrame, nodes: DataFrame | None,
                   iters: int, q_col: str, n_col: str, id_col: str,
                   checkpoint_every: int, persist_nodes: bool = True):
    """Build the lazy PageRank plan; returns (out, caches) so callers
    that compose it (``graph_coreset``) can release the entry caches
    at their own materialization boundary.

    ``persist_nodes``: cache the distinct node set too.  Worth it in
    the eager mode at scale (iters+1 subtrees re-shuffle the distinct
    otherwise) but measured at +~60% wall on a sub-second bench query
    (the cache-materialization stage costs more than the 4k-row
    distinct it saves) — the lazy bench/composed mode skips it, which
    is also exactly the r8 plan the bench bands were set on."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    src = (edges.select(F.col(q_col).alias("_src"),
                        F.col(n_col).alias("_dst"))
           .persist())
    if nodes is None:
        node_set = (src.select(F.col("_src").alias("_node"))
                    .union(src.select(F.col("_dst").alias("_node")))
                    .distinct())
    else:
        node_set = nodes.select(F.col(id_col).alias("_node")).distinct()
    caches = [src]
    if persist_nodes:
        node_set = node_set.persist()
        caches.append(node_set)
    deg = src.groupBy("_src").agg(F.count("*").alias("_deg"))
    base = PR_SCALE * (PR_D_DEN - PR_D_NUM) // PR_D_DEN
    rank = node_set.withColumn("_r", F.lit(PR_SCALE).cast("long"))
    for t in range(iters):
        contrib = (rank.join(deg, rank["_node"] == deg["_src"], "inner")
                   .select("_src", F.expr("_r div _deg").alias("_c")))
        recv = (src.join(contrib, "_src")
                .groupBy(F.col("_dst").alias("_node"))
                .agg(F.sum("_c").alias("_recv")))
        rank = (node_set.join(recv, "_node", "left")
                .select("_node", F.expr(
                    f"CAST({base} + {PR_D_NUM} * coalesce(_recv, "
                    f"CAST(0 AS BIGINT)) div {PR_D_DEN} AS BIGINT)")
                    .alias("_r")))
        if checkpoint_every and (t + 1) % checkpoint_every == 0 \
                and t + 1 < iters:
            rank = materialize(rank)
    out = rank.select(F.col("_node").alias(id_col),
                      F.round(F.col("_r") / PR_SCALE, 6).alias("score"))
    return out, tuple(caches)


def mutual_knn(edges: DataFrame, q_col: str = "q_id", n_col: str = "id",
               dist_col: str = "dist",
               rank_col: str = "rank") -> DataFrame:
    """Symmetrize a directed kNN edge table: keep only pairs present
    in BOTH directions, one row per unordered pair.

    A hub row appears in many rows' kNN lists without reciprocating,
    so mutual filtering is the standard hubness-suppression step
    before graph clustering / graph dedup (e.g. mutual-kNN spectral
    clustering); the surviving edge density is also a graph-health
    diagnostic.  Returns (id_a, id_b, dist, rank_ab, rank_ba) with
    id_a < id_b; dist is the (symmetric) metric value carried on the
    a->b edge -- identical on both directions by construction since
    ``knn_join`` distances are element-quantized.

    Contract: ``edges`` must contain each directed edge AT MOST once
    (``knn_join`` guarantees this -- a pair is scored at most once);
    duplicate directed edges would emit duplicate pair rows.  Dedup
    upstream (``dropDuplicates([q_col, n_col])``) when unioning edge
    tables from multiple builds.

    Scale: ONE self-equi-join of the n·k skinny edge table on the
    (src, dst) pair key -- both sides co-shuffle on the same key,
    never corpus-sized.
    """
    fwd = edges.select(F.col(q_col).alias("id_a"), F.col(n_col).alias("id_b"),
                       F.col(dist_col).alias("dist"),
                       F.col(rank_col).alias("rank_ab"))
    rev = edges.select(F.col(n_col).alias("id_a"), F.col(q_col).alias("id_b"),
                       F.col(rank_col).alias("rank_ba"))
    return (fwd.join(rev, ["id_a", "id_b"], "inner")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "dist", "rank_ab", "rank_ba"))


def graph_coreset(df: DataFrame, centroids: DataFrame,
                  keep_per_cell: int = 10, k: int = 10, nprobe: int = 2,
                  iters: int = 2, id_col: str = "id",
                  vector_col: str = "vector", c_id_col: str = "id",
                  c_vector_col: str = "vector", release: bool = True,
                  **knn_kwargs) -> DataFrame:
    """Prototypicality coreset selection: keep the ``keep_per_cell``
    most CENTRAL rows of each coarse cell, centrality = integer
    PageRank over the kNN graph.

    The data-pruning recipe (Sorscher et al. 2022 "Beyond neural
    scaling laws" prototype selection, SemDeDup's companion pass):
    after near-dups are removed, training-set pruning keeps the most
    prototypical examples per semantic region.  Density is exactly
    what kNN-graph in-degree mass measures -- rows many other rows
    count among their kNN are cluster cores; stratifying by coarse
    cell keeps the selection spread across the embedding space instead
    of collapsing onto the single densest region.

    Composition of already-bounded pieces: ``knn_join`` (cell-blocked,
    never all-pairs) -> ``pagerank`` (skinny integer exchanges) ->
    map-side cell assignment vs the broadcast centroids -> ONE
    cell-keyed window over (score desc, id).  Deterministic end to
    end: the graph's distances are element-quantized, PageRank is
    int64-exact, and the final tie-break is by id.

    Returns (id, cell, score, cell_rank) for the kept rows.

    ``release`` mirrors :func:`pagerank`'s knob, applied at THIS
    composition's boundary: True (default) eagerly checkpoints the
    tiny kept-rows table, runs pagerank's int64 budget guard over the
    now-populated node-set cache (no recompute — advice r10: past
    ~1.08e8 nodes at PR_SCALE=1e9 the damped sums would wrap and the
    coreset would rank by garbage), and unpersists the internal
    PageRank caches (one materialization of the whole pipeline — not
    one per stage, the r09 regression fix); False returns the lazy
    plan, leaves the two skinny caches registered for the caller's
    single action, and SKIPS the guard (a lazy return cannot run a
    job) — callers above ~1e8 nodes must check pagerank's documented
    budget themselves, exactly as with ``pagerank(release=False)``.
    """
    from .similarity import ivf_assign, knn_join
    # assign ONCE: the same (id, vector, cell) table serves as
    # knn_join's member side AND the final per-cell stratification —
    # a second full-corpus argmin pass would re-pay the quantizer tax
    cells = ivf_assign(df.select(id_col, vector_col), centroids,
                       id_col=id_col, vector_col=vector_col,
                       c_id_col=c_id_col, c_vector_col=c_vector_col)
    graph = knn_join(df, centroids, k=k, nprobe=nprobe, id_col=id_col,
                     vector_col=vector_col, c_id_col=c_id_col,
                     c_vector_col=c_vector_col, assigned=cells,
                     **knn_kwargs)
    pr, caches = _pagerank_plan(graph.select("q_id", "id"), df, iters,
                                "q_id", "id", id_col, 0)
    node_cache = caches[1]       # the persisted node set (see below)
    rank = Window.partitionBy("cell").orderBy(F.col("score").desc(), id_col)
    out = (pr.join(cells.select(id_col, "cell"), id_col)
           .withColumn("cell_rank", F.row_number().over(rank))
           .filter(F.col("cell_rank") <= keep_per_cell)
           .select(id_col, "cell", "score",
                   F.col("cell_rank").cast("int").alias("cell_rank")))
    if release:
        out = materialize(out)
        # pagerank's eager-mode int64 budget guard, at this
        # composition's boundary (advice r10).  The checkpoint above
        # populated the node-set cache, so the count scans cached
        # skinny blocks only — no upstream recompute.
        n_nodes = node_cache.count()
        for c in caches:
            c.unpersist()
        budget = (2 ** 63 - 1) // (PR_SCALE * PR_D_NUM)
        if n_nodes > budget:
            raise ValueError(
                f"graph_coreset int64 overflow: {n_nodes} nodes "
                f"exceeds the {budget}-node budget at "
                f"PR_SCALE={PR_SCALE}; shrink PR_SCALE (pagerank "
                "docstring 'Overflow budget')")
    return out
