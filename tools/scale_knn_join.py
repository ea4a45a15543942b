"""kNN self-join (kNN-graph builder) scale measurement — SCALE.md §9g.

Round-6 verdict Missing #3: `knn_join` (ops/similarity.py) — the
SemDeDup/label-propagation graph primitive — had plan-shape arguments
(cell co-partitioned equi-join, nothing broadcast/collected, no
CartesianProduct) but no published scale point.  This script measures
at 1M and 10M embeddings:

  * wall + edges/s for the full n-row kNN graph (k, nprobe knobs);
  * the PAIR-EXPANSION FACTOR: scored candidate pairs vs the balanced
    prediction n²·nprobe/|C| — the number that decides whether the
    plan survives 100×;
  * graph recall vs an exact numpy oracle on a row sample (does
    nprobe-cell blocking find the true neighbours?).

Corpus: §9b's deterministic map-only generator (256 natural clusters,
vector = f(id), no driver materialization).  The quantizer is
`kmeans_fit` at |C| = n/target_cell cells — |C| grows WITH n (the §9b
discipline), so per-cell work stays bounded at any corpus size.

Usage: python3 tools/scale_knn_join.py [n] [k] [nprobe] [fit_fraction]
                                       [shuffle_dtype]
(10M needs SPARK_GRAFT_DRIVER_MEM=96g.)

Round-8 additions (verdict r07 Next #2/#3):
  * fit_fraction (default 0.1 past 1M, 1.0 below): kmeans_fit trains
    Lloyd on a deterministic hash sample — the 10M quantizer fit was a
    234 s setup tax on every IVF-family run; sampling cuts it linearly
    at equal downstream recall (centroids depend on cluster geometry,
    which a uniform sample preserves).
  * shuffle_dtype (default "float"): the probe side of knn_join ships
    n·nprobe FULL vectors; at 10M × nprobe 8 the float64 form spilled
    ~90 GB against 68 GB free /tmp and died.  The generator emits
    float32-REPRESENTABLE doubles (the at-rest contract), so the
    float shuffle is lossless here — emitted distances bit-identical.
  * shuffle_dtype "sq8" switches to knn_join_sq8 (probe side = dim
    BYTES per row, 8x under float64; member side float32; rerank 2
    exact re-rank) — the nprobe-16+ single-box path where even the
    float32 probe shuffle would exceed the filesystem.

Round-8 graph-consumer step (env KNN_LP=1): after the graph is built
and persisted, time 2 rounds of ops/graph.label_propagate over it
with a ~1% seed set labeled by the generator's TRUE natural cluster,
and report coverage (nodes reached in 2 hops) and accuracy
(propagated label == true cluster) — the end-to-end cost of the
semi-supervised classification pass a curation pipeline runs on top
of the graph it already built.

Late-r8 consumer steps: KNN_PR=1 times 2 integer PageRank rounds over
the persisted graph (the coreset/centrality pass) and reports the
score spread; KNN_MUTUAL=1 times the mutual-kNN symmetrization and
reports the reciprocated-edge fraction (the hubness diagnostic).

Round-9 additions (verdict r08 Next #4/#5):
  * KNN_PROBE_MASS=<m> switches probing (either dtype path) to the
    per-row ADAPTIVE mass budget (knn_join(probe_mass=)): every
    prober scans ≥ m candidate mass, cells in quantized-distance
    order — nprobe is then only a label in the output.
  * KNN_LP_ITERS="4,6,8" measures label_propagate at each depth
    (checkpoint_every=2) over the built graph: coverage + accuracy +
    wall per depth — the iteration-depth law (§9h addendum).

Round-10 additions (verdict r09 Next #3/#6/#7):
  * KNN_SKEW=<s>: power-law (Zipf exponent s) CLUSTER MASSES — the
    deliberately skewed-cell-size fixture the adaptive-probing claim
    needs.  Cluster of id = searchsorted(zipf_cdf, fib_hash(id)),
    deterministic and vectorizable, noise stream unchanged.  The
    quantizer is trained on the BALANCED generator by default
    (KNN_FIT_ON_SKEWED=1 overrides): a quantizer trained on the live
    skewed distribution SELF-BALANCES cell masses (seeds ∝ density),
    so cell-size skew in production arises when the index is trained
    once and the corpus drifts — exactly the regime modeled here.
  * KNN_COMPARE="p:m": matched-fixture comparison — per-prober
    scanned-mass distribution (min/p50/p99/max, probe math only, so
    the headline survives a wall-clock kill), then the ADAPTIVE
    (probe_mass=m) build, then the FIXED (nprobe=p) build, each with
    wall + edges + recall vs the shared exact oracle.
  * LP seeds de-aliased: id % 101 (gcd(101, 256) = 1 ⇒ every natural
    cluster holds seeds — the r9 lesson: id % 100 seeds hit only
    64/256 clusters and the coverage ceiling measured gcd arithmetic,
    not propagation).  Every LP step now prints a seeds-per-cluster
    census and REFUSES a degenerate seeding (some cluster unseeded)
    unless KNN_ALLOW_PARTIAL_SEEDS=1.
  * KNN_LP_SYM=1: directed vs symmetric (W + Wᵀ) label_propagate
    pair over the built graph at matched conditions — the 10M point
    for SCALE.md §9h's symmetric-reach claim (1M-only in r9).
"""

from __future__ import annotations

import os
import sys
import time
from typing import Iterator

import numpy as np
import pandas as pd

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F                               # noqa: E402

from fspann_query_system_spark.session import get_spark              # noqa: E402

DIM = 64
N_CENTERS = 256
TARGET_CELL = 1000           # rows per coarse cell: |C| = max(64, n/1000)
# per-row work = nprobe × TARGET_CELL GEMM distances; |C| grows with n
# so this stays constant at any corpus size (the §9b discipline)

# Fibonacci-hash multiplier (2^64 / φ, odd): full-period mixing of the
# id into a uniform [0,1) draw for the skewed cluster map — cheap,
# vectorizable, and identically computable in the exact-oracle rebuild
PHI64 = np.uint64(11400714819323198485)


def _zipf_cum(s: float) -> np.ndarray:
    """Cumulative Zipf(s) mass over the N_CENTERS clusters (rank 1 is
    the heaviest)."""
    w = np.arange(1, N_CENTERS + 1, dtype=np.float64) ** (-s)
    return np.cumsum(w / w.sum())


def _cluster_of(ids: np.ndarray, skew_cum: np.ndarray | None) -> np.ndarray:
    """Deterministic id → natural-cluster map: balanced (id % 256) or
    power-law via inverse-CDF over a Fibonacci-hash uniform."""
    if skew_cum is None:
        return ids % N_CENTERS
    u = ((ids.astype(np.uint64) * PHI64) >> np.uint64(11)).astype(
        np.float64) / float(1 << 53)
    return np.minimum(np.searchsorted(skew_cum, u, side="right"),
                      N_CENTERS - 1)


def gen_embeddings(spark, n: int, skew_cum: np.ndarray | None = None,
                   persist: bool = True):
    """§9b generator, dup-free: (id, vector), vector = f(id) map-side.
    ``skew_cum`` switches the cluster map to the power-law fixture;
    the per-id noise stream is IDENTICAL either way."""
    centers = np.random.default_rng(42).normal(0, 4.0, (N_CENTERS, DIM))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            cl = _cluster_of(ids, skew_cum)
            V = np.empty((len(ids), DIM))
            for i, b in enumerate(ids):
                V[i] = centers[cl[i]] + \
                    np.random.default_rng(int(b)).normal(0, 1.4, DIM)
            # float32-representable doubles (the at-rest contract):
            # makes shuffle_dtype="float" a LOSSLESS compaction
            V = V.astype(np.float32).astype(np.float64)
            yield pd.DataFrame({"id": ids, "vector": list(V)})

    out = (spark.range(n).repartition(64)
           .mapInPandas(run, schema="id LONG, vector ARRAY<DOUBLE>"))
    return out.persist() if persist else out


def exact_gt(n: int, k: int, sample: np.ndarray,
             skew_cum: np.ndarray | None) -> dict:
    """Exact kNN for the sampled probers by blocked BLAS over the
    deterministic generator (no corpus collect) — shared across both
    legs of a KNN_COMPARE run."""
    t0 = time.time()
    X = np.empty((n, DIM), dtype=np.float32)
    centers = np.random.default_rng(42).normal(0, 4.0, (N_CENTERS, DIM))
    step = 1_000_000
    for lo in range(0, n, step):
        hi = min(lo + step, n)
        cl = _cluster_of(np.arange(lo, hi, dtype=np.int64), skew_cum)
        for i in range(lo, hi):
            X[i] = centers[cl[i - lo]] + \
                np.random.default_rng(i).normal(0, 1.4, DIM)
    Xd = X.astype(np.float64)
    del X
    sq = (Xd * Xd).sum(1)
    gt = {}
    for s in sample:
        d2 = sq - 2.0 * (Xd @ Xd[s])
        d2[s] = np.inf                     # exclude_self semantics
        top = np.argpartition(d2, k)[:k]
        gt[int(s)] = set(top[np.argsort(d2[top], kind="stable")].tolist())
    print(f"exact oracle build ({len(sample)}-row sample): "
          f"{time.time()-t0:.0f}s", flush=True)
    return gt


def graph_recall(spark, graph, gt: dict, k: int) -> float:
    sample = sorted(gt)
    rows = (graph.join(
        spark.createDataFrame([(int(s),) for s in sample], "q_id LONG"),
        "q_id").collect())
    got = {}
    for r in rows:
        got.setdefault(r.q_id, set()).add(r.id)
    return float(np.mean([len(got.get(s, set()) & gt[s]) / k
                          for s in sample]))


def per_prober_stats(emb, cent, assigned, mc, n: int, nprobe: int,
                     probe_mass: int | None, label: str):
    """Per-prober SCANNED-MASS distribution: probe math only (one
    map-side probe pass + cell-size join + n-row agg), no graph build
    — the number the adaptive-vs-fixed claim is about."""
    from fspann_query_system_spark.ops.similarity import _nearest_cells
    _mass = None
    if probe_mass:
        _mass = ({r["cell"]: r["count"] for r in
                  assigned.groupBy("cell").count().collect()}, probe_mass)
    pc = _nearest_cells(emb, cent, nprobe, "id", "vector", "cell", "vector",
                        keep_vector=False, mass=_mass)
    per = (pc.join(mc, "cell")
           .groupBy("id").agg(F.sum("nm").alias("m"),
                              F.count("*").alias("nc")))
    s = per.agg(F.sum("m").alias("pairs"), F.min("m").alias("mn"),
                F.expr("percentile(m, 0.5)").alias("p50"),
                F.expr("percentile(m, 0.99)").alias("p99"),
                F.max("m").alias("mx"),
                F.avg("nc").alias("cells")).collect()[0]
    print(f"{label} per-prober scanned mass: min {s.mn} p50 {s.p50:.0f} "
          f"p99 {s.p99:.0f} max {s.mx} (avg cells/prober {s.cells:.2f}); "
          f"total scored pairs {float(s.pairs):.4g} = "
          f"{float(s.pairs)/(n*n):.2e} of n²", flush=True)
    return s


def seed_guard(seeds, label_col: str = "label") -> None:
    """Seeds-per-cluster census + de-aliasing guard (verdict r09 Next
    #7): a skewed seeding rule silently zeroes whole regions — refuse
    to burn propagation wall on one."""
    per = seeds.groupBy(label_col).count()
    hit = per.count()
    mn = per.agg(F.min("count")).collect()[0][0]
    print(f"seed census: {hit}/{N_CENTERS} clusters seeded "
          f"(min seeds/cluster {mn})", flush=True)
    if hit < N_CENTERS and not os.environ.get("KNN_ALLOW_PARTIAL_SEEDS"):
        raise SystemExit(
            f"degenerate seeding: only {hit}/{N_CENTERS} clusters hold "
            "seeds — coverage would measure seed aliasing, not "
            "propagation (the r9 gcd(100,256) lesson).  Set "
            "KNN_ALLOW_PARTIAL_SEEDS=1 to run anyway.")


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    nprobe = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    fit_fraction = (float(sys.argv[4]) if len(sys.argv) > 4
                    else (0.1 if n > 1_000_000 else 1.0))
    shuffle_dtype = sys.argv[5] if len(sys.argv) > 5 else "float"
    n_cells = max(64, n // TARGET_CELL)
    skew_cum = (None if not os.environ.get("KNN_SKEW")
                else _zipf_cum(float(os.environ["KNN_SKEW"])))
    spark = get_spark("scale-knn-join",
                      extra_conf={
                          "spark.ui.showConsoleProgress": "false",
                          # staged sq8 runs checkpoint group partials to
                          # disk; let the cleaner delete superseded ones
                          # and compress what lives
                          "spark.cleaner.referenceTracking.cleanCheckpoints":
                              "true",
                          "spark.checkpoint.compress": "true"})
    spark.sparkContext.setLogLevel("ERROR")
    # stale scratch from a previous crashed run eats the budget this
    # run's shuffle needs (a hard-killed JVM leaves its blockmgr dir
    # and checkpoint tree behind — measured 33 GB of a 94 GB fs)
    import shutil
    shutil.rmtree("/tmp/knn_join_ckpt", ignore_errors=True)
    # staged sq8 runs (KNN_PROBE_GROUPS > 1) need reliable checkpoints:
    # local ones hold each n·k·rerank partial on the heap (see
    # knn_join_sq8); single-pass runs keep localCheckpoint
    pg = int(os.environ.get("KNN_PROBE_GROUPS", "1"))
    if pg > 1:
        spark.sparkContext.setCheckpointDir("/tmp/knn_join_ckpt")

    from fspann_query_system_spark.ops.similarity import (
        kmeans_fit, ivf_assign, knn_join)

    t0 = time.time()
    emb = gen_embeddings(spark, n, skew_cum)
    emb.count()
    mode = ("balanced" if skew_cum is None else
            f"zipf(s={os.environ['KNN_SKEW']})")
    print(f"materialize {n} embeddings ({mode} cluster masses): "
          f"{time.time()-t0:.1f}s", flush=True)
    if skew_cum is not None:
        pm = np.diff(np.concatenate([[0.0], skew_cum]))
        print(f"cluster-mass law: top-1 {pm[0]:.3f} top-5 "
              f"{pm[:5].sum():.3f} top-20 {pm[:20].sum():.3f} "
              f"median {np.median(pm):.5f} min {pm[-1]:.5f} of corpus",
              flush=True)

    t0 = time.time()
    if skew_cum is not None and not os.environ.get("KNN_FIT_ON_SKEWED"):
        # quantizer trained BEFORE the drift (see module docstring):
        # fit on the balanced generator, serve the skewed corpus
        fit_src = gen_embeddings(spark, n, None, persist=False)
        fit_note = "balanced reference sample (trained-before-drift)"
    else:
        fit_src = emb
        fit_note = "the corpus itself"
    cent = kmeans_fit(fit_src, k=n_cells, iters=2,
                      fit_fraction=fit_fraction).persist()
    cent.count()
    print(f"kmeans_fit |C|={n_cells} (iters=2, fit_fraction="
          f"{fit_fraction}, on {fit_note}): {time.time()-t0:.1f}s "
          f"(one-off quantizer train, shared with the whole IVF family)",
          flush=True)

    # cell balance + the predicted pair expansion Σ|cell|² ≈ n²/|C|
    assigned = ivf_assign(emb, cent, c_id_col="cell").persist()
    sizes = (assigned.groupBy("cell").count()
             .agg(F.count("*").alias("cells"),
                  F.max("count").alias("max"),
                  F.expr("percentile(count, 0.5)").alias("p50"),
                  F.expr("percentile(count, 0.99)").alias("p99"),
                  F.sum(F.col("count") * F.col("count")).alias("sum_sq"))
             .collect()[0])
    print(f"cells hit {sizes.cells}/{n_cells}, size p50 {sizes.p50:.0f} "
          f"p99 {sizes.p99:.0f} max {sizes['max']}; Σ|cell|² = "
          f"{sizes.sum_sq:.3g} (balanced n²/|C| = {n*n/n_cells:.3g})",
          flush=True)

    if os.environ.get("KNN_COMPARE"):
        # matched-fixture FIXED-vs-ADAPTIVE comparison (verdict r09
        # Next #3).  Spec "p:m1[,m2...]": fixed nprobe=p vs adaptive
        # at each mass budget (m1 = equal nominal coverage; extra
        # budgets probe recall-at-higher-budget).  Order chosen so a
        # wall-clock kill preserves the most: per-prober mass tables
        # first (probe math only), then the primary adaptive build
        # (the claim under test), then fixed, then extra budgets.
        p_s, m_s = os.environ["KNN_COMPARE"].split(":")
        p_fx = int(p_s)
        masses = [int(x) for x in m_s.split(",")]
        print(f"COMPARE fixed nprobe={p_fx} vs adaptive probe_mass="
              f"{masses} (equal nominal coverage at mean cell "
              f"{n/n_cells:.0f})", flush=True)
        mc = (assigned.groupBy("cell").agg(F.count("*").alias("nm"))
              .persist())
        mc.count()
        per_prober_stats(emb, cent, assigned, mc, n, p_fx, None,
                         f"FIXED p{p_fx}")
        for m_ad in masses:
            per_prober_stats(emb, cent, assigned, mc, n, p_fx, m_ad,
                             f"ADAPTIVE m{m_ad}")
        sample = np.random.default_rng(9).choice(n, 200, replace=False)
        gt = exact_gt(n, k, sample, skew_cum)
        legs = [(f"ADAPTIVE m{masses[0]}", masses[0]),
                (f"FIXED p{p_fx}", None)]
        legs += [(f"ADAPTIVE m{m}", m) for m in masses[1:]]
        for label, pm_ in legs:
            t0 = time.time()
            g = knn_join(emb, cent, k=k, nprobe=p_fx, c_id_col="cell",
                         assigned=assigned, shuffle_dtype=shuffle_dtype,
                         probe_mass=pm_).persist()
            edges = g.count()
            wall = time.time() - t0
            rec = graph_recall(spark, g, gt, k)
            print(f"{label}: wall {wall:.1f}s, {edges} edges "
                  f"({edges/wall:,.0f} edges/s), recall@{k} {rec:.4f}",
                  flush=True)
            g.unpersist()
        mc.unpersist()
        return

    probe_mass = (int(os.environ["KNN_PROBE_MASS"])
                  if os.environ.get("KNN_PROBE_MASS") else None)
    if probe_mass:
        # adaptive budget: every prober scans >= probe_mass candidates
        # (plus its last cell's overshoot) — n·mass is a LOWER BOUND
        pred_pairs = n * probe_mass
        print(f"ADAPTIVE probing: probe_mass={probe_mass} "
              f"(nprobe arg ignored)", flush=True)
    else:
        pred_pairs = nprobe * n * n / n_cells
    t0 = time.time()
    if shuffle_dtype == "sq8":
        from fspann_query_system_spark.ops.similarity import (knn_join_sq8,
                                                              sq8_stats)
        mins, maxs = sq8_stats(emb)
        graph = knn_join_sq8(emb, cent, mins, maxs, k=k, nprobe=nprobe,
                             rerank=2, c_id_col="cell", assigned=assigned,
                             shuffle_dtype="float", probe_groups=pg,
                             probe_mass=probe_mass)
    else:
        graph = knn_join(emb, cent, k=k, nprobe=nprobe,
                         c_id_col="cell", assigned=assigned,
                         shuffle_dtype=shuffle_dtype,
                         probe_mass=probe_mass)
    # persist: the recall sample below joins against the graph — an
    # unpersisted graph RE-RUNS the entire join for it (measured ~17
    # wasted minutes at 10M).  The materialized graph is n·k skinny
    # rows (~3 GB at 10M), cheap next to the join it saves.
    graph = graph.persist()
    edges = graph.count()
    wall = time.time() - t0
    print(f"knn_join k={k} nprobe={nprobe} shuffle_dtype={shuffle_dtype}: "
          f"{wall:.1f}s -> {edges} edges "
          f"= {edges/wall:,.0f} edges/s ({n/wall:,.0f} rows/s)", flush=True)

    # graph recall vs exact: sample rows, exact kNN by blocked BLAS over
    # the deterministic generator (no corpus collect).  Runs BEFORE the
    # expansion census so the headline number survives a wall-clock
    # kill of a long run.  KNN_SKIP_RECALL=1 skips it for matched A/B
    # legs whose recall is known identical (physical rewrites,
    # equality-tested) — the driver-side oracle build is ~19 min at 10M.
    if not os.environ.get("KNN_SKIP_RECALL"):
        sample = np.random.default_rng(9).choice(n, 200, replace=False)
        gt = exact_gt(n, k, sample, skew_cum)
        rec = graph_recall(spark, graph, gt, k)
        print(f"graph recall@{k} vs exact (200-row sample): {rec:.4f}",
              flush=True)

    # actual candidate expansion + per-prober scanned-mass distribution
    mc = assigned.groupBy("cell").agg(F.count("*").alias("nm"))
    s = per_prober_stats(emb, cent, assigned, mc, n, nprobe, probe_mass,
                         "probe census")
    actual = float(s.pairs)
    bound = "lower bound n·mass" if probe_mass else "balanced prediction"
    note = (" (structurally >= 1: every prober is topped up to the budget)"
            if probe_mass else "")
    print(f"scored pairs {actual:.3g} vs {bound} {pred_pairs:.3g} -> "
          f"expansion factor x{actual/pred_pairs:.2f}{note}, "
          f"{actual/(n*n):.2e} of n²", flush=True)

    lp_wanted = (os.environ.get("KNN_LP_ITERS")
                 or os.environ.get("KNN_LP") == "1"
                 or os.environ.get("KNN_LP_SYM") == "1")
    if lp_wanted and skew_cum is not None:
        raise SystemExit("LP consumer steps assume the balanced cluster "
                         "map for their truth labels; run them on the "
                         "balanced fixture")
    if lp_wanted:
        # seeds: id % 101 — coprime with 256, so every natural cluster
        # holds seeds (the r9 de-aliasing fix; id % 100 hit only 64/256)
        from fspann_query_system_spark.ops.graph import label_propagate
        seeds = (emb.filter(F.col("id") % 101 == 0)
                 .select("id", (F.col("id") % N_CENTERS).alias("label")))
        seed_guard(seeds)
        n_seeds = n // 101 + (1 if n % 101 else 0)
        g6 = (graph.select("q_id", "id", F.round("dist", 6).alias("dist"))
              .persist())
        g6.count()

        def lp_run(iters: int, symmetric: bool) -> None:
            t0 = time.time()
            lp = label_propagate(g6, seeds, iters=iters,
                                 checkpoint_every=2,
                                 symmetric=symmetric).persist()
            reached = lp.count()
            lp_wall = time.time() - t0
            correct = lp.filter(
                F.col("label") == (F.col("id") % N_CENTERS)).count()
            print(f"label_propagate iters={iters} "
                  f"{'SYMMETRIC' if symmetric else 'directed'} "
                  f"(checkpoint_every=2) over {edges} edges, "
                  f"{n_seeds} seeds: {lp_wall:.1f}s -> {reached} reached "
                  f"({reached/n:.4f} of corpus), accuracy "
                  f"{correct/reached:.4f}", flush=True)
            lp.unpersist()

        if os.environ.get("KNN_LP_ITERS"):
            for it in [int(x) for x in
                       os.environ["KNN_LP_ITERS"].split(",")]:
                lp_run(it, False)
        if os.environ.get("KNN_LP") == "1":
            lp_run(2, False)
        if os.environ.get("KNN_LP_SYM") == "1":
            # matched directed-vs-symmetric pair (verdict r09 Next #6)
            lp_run(2, False)
            lp_run(2, True)
        g6.unpersist()

    if os.environ.get("KNN_PR") == "1":
        from fspann_query_system_spark.ops.graph import pagerank
        t0 = time.time()
        pr = pagerank(graph.select("q_id", "id"), nodes=emb,
                      iters=2).persist()
        n_pr = pr.count()
        pr_wall = time.time() - t0
        stats = pr.agg(F.min("score"), F.expr("percentile(score, 0.5)"),
                       F.expr("percentile(score, 0.99)"),
                       F.max("score")).collect()[0]
        print(f"pagerank iters=2 over {edges} edges: {pr_wall:.1f}s -> "
              f"{n_pr} nodes, score min {stats[0]:.3f} p50 {stats[1]:.3f} "
              f"p99 {stats[2]:.3f} max {stats[3]:.3f}", flush=True)
        pr.unpersist()

    if os.environ.get("KNN_MUTUAL") == "1":
        from fspann_query_system_spark.ops.graph import mutual_knn
        t0 = time.time()
        n_mut = mutual_knn(graph).count()
        print(f"mutual_knn over {edges} edges: {time.time()-t0:.1f}s -> "
              f"{n_mut} mutual pairs (reciprocated fraction "
              f"{2*n_mut/edges:.3f})", flush=True)

    if os.environ.get("KNN_CORESET") == "1":
        # the coreset MARGINAL over an already-built graph: pagerank +
        # one reuse of the persisted assignment + one cell-keyed window
        from fspann_query_system_spark.ops.graph import pagerank
        from pyspark.sql.window import Window as W
        t0 = time.time()
        pr = pagerank(graph.select("q_id", "id"), nodes=emb, iters=2)
        rk = W.partitionBy("cell").orderBy(F.col("score").desc(), "id")
        kept = (pr.join(assigned.select("id", "cell"), "id")
                .withColumn("cr", F.row_number().over(rk))
                .filter(F.col("cr") <= 10).count())
        print(f"graph_coreset marginal (PR + window, keep 10/cell): "
              f"{time.time()-t0:.1f}s -> {kept} rows kept", flush=True)


if __name__ == "__main__":
    main()
