"""1M-vector measurements for the round-2 scale paths (SCALE.md §8):

1. join-based routing vs broadcast routing (forced through
   `query.ann.AUTO_ROUTING_ROWS`) —
   same results by construction (equivalence-tested); here: overhead.
2. IVF with ingest-time assignment: assignment throughput, probe
   latency, recall@100 at nprobe/|C|.
3. SQ8 compressed-refine top-k: throughput + recall@100 vs exact.

Usage: python3 tools/scale_extras_1m.py [n] [nq]
"""

from __future__ import annotations

import sys
import time

import numpy as np

sys.path.insert(0, "/root/repo")

from fspann_query_system_spark.session import get_spark            # noqa: E402
from fspann_query_system_spark.lsh.params import LshConfig, fit_params  # noqa: E402
from fspann_query_system_spark.query import ann                     # noqa: E402
from fspann_query_system_spark.query.ann import AnnIndex, search_batch  # noqa: E402

DIM = 64
K = 100


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    nq = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    spark = get_spark("scale-extras",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    rng = np.random.default_rng(7)
    centers = rng.normal(0, 4.0, (64, DIM)).astype(np.float32)
    assign = rng.integers(0, 64, n)
    X = (centers[assign] + rng.normal(0, 1.0, (n, DIM)).astype(np.float32))
    vec = spark.createDataFrame(
        ((i, X[i].tolist()) for i in range(n)), "id LONG, vector ARRAY<DOUBLE>")
    vec = vec.repartition(32).persist()
    vec.count()

    qi = rng.choice(n, nq, replace=False)
    queries = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in qi], "q_id LONG, vector ARRAY<DOUBLE>")
    sub = qi[:50]
    gt = {}
    for q in sub:
        d2 = ((X - X[q]) ** 2).sum(1)
        gt[int(q)] = set(np.argsort(d2, kind="stable")[:K].tolist())

    def recall(rows):
        got: dict[int, set] = {}
        for r in rows:
            got.setdefault(r.q_id, set()).add(r.id)
        return float(np.mean([len(got.get(q, set()) & gt[q]) / K for q in gt]))

    # ---- 1. join vs broadcast routing at 1M ----
    cfg = LshConfig(dim=DIM, seed=11, m=20, lam=2, tables=8, divisions=2,
                    probes=8, block_size=128, refinement_limit=8000)
    params = fit_params(X[:10000], cfg)
    idx = AnnIndex.build(vec, cfg, params=params)
    idx.codes.count(); idx.routing()
    crossover = ann.AUTO_ROUTING_ROWS
    for mode in ("broadcast", "join", "broadcast", "join"):
        # search_batch routes by join once the bounds pass the crossover
        ann.AUTO_ROUTING_ROWS = 0 if mode == "join" else sys.maxsize
        t0 = time.time()
        rows = search_batch(idx, queries, k=K).collect()
        print(f"routing={mode}: {time.time()-t0:.1f}s for {nq} q "
              f"(recall {recall(rows):.3f})", flush=True)
    ann.AUTO_ROUTING_ROWS = crossover

    # ---- 2. IVF with ingest-time assignment (256 cells, nprobe 16) ----
    from fspann_query_system_spark.ops.similarity import ivf_assign, ivf_topk
    cent_ids = rng.choice(n, 256, replace=False)
    centroids = spark.createDataFrame(
        [(int(i), X[i].tolist()) for i in cent_ids], "id LONG, vector ARRAY<DOUBLE>")
    t0 = time.time()
    assigned = ivf_assign(vec, centroids).persist()
    assigned.count()
    print(f"ivf_assign 1M x 256 cells: {time.time()-t0:.1f}s", flush=True)
    for npb in (8, 16):
        t0 = time.time()
        rows = ivf_topk(vec, queries, centroids, k=K, nprobe=npb,
                        assigned=assigned).collect()
        print(f"ivf nprobe={npb} ({npb/256:.1%} of cells): "
              f"{time.time()-t0:.1f}s (recall {recall(rows):.3f})", flush=True)

    # ---- 3. SQ8 compressed-refine top-k ----
    from fspann_query_system_spark.ops.similarity import (sq8_stats,
                                                          sq8_quantize,
                                                          sq8_topk)
    t0 = time.time()
    mins, maxs = sq8_stats(vec)
    codes = sq8_quantize(vec, mins, maxs).select("id", "codes").persist()
    codes.count()
    print(f"sq8 encode 1M: {time.time()-t0:.1f}s", flush=True)
    t0 = time.time()
    rows = sq8_topk(vec, queries, mins, maxs, k=K, rerank=4,
                    codes=codes).collect()
    print(f"sq8_topk (brute over codes + exact rerank): {time.time()-t0:.1f}s "
          f"(recall {recall(rows):.3f})", flush=True)


if __name__ == "__main__":
    main()
