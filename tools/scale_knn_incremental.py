"""Incremental kNN-graph maintenance scale measurement — SCALE.md §9k.

Verdict r10 Next #1: `knn_join_incremental` (ops/similarity.py) landed
with an exact-equality contract and a batch-proportional cost argument
but no measured point.  This script measures, at a standing corpus of
n rows (the §9b deterministic generator, frozen quantizer trained on
the corpus):

  * the STANDING-STATE build cost (graph + probe table + assignment —
    what a production layout already persists at ingest time);
  * the FOLD wall for each batch size b: knn_join_incremental of the
    ids [n, n+b) into the persisted state — the per-batch cost a
    continuously-growing corpus pays;
  * the FULL-REBUILD wall at n+b_max — the cost the fold avoids — and
    the fold:rebuild ratio vs the b/n proportionality prediction;
  * an EXACT-EQUALITY audit at b_max: (q_id, id, rank) symmetric
    anti-join count between fold and rebuild must be 0 (the contract,
    cross-checked at scale, not just at the sf0.01 oracle fixture).

Usage: python3 tools/scale_knn_incremental.py [n] [k] [nprobe]
                                              [b_list] [shuffle_dtype]
       b_list comma-separated, default "10000,100000"
(10M needs SPARK_GRAFT_DRIVER_MEM=96g.)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/repo/tools")
# executor python workers must import the generator module too
os.environ["PYTHONPATH"] = os.pathsep.join(
    ["/root/repo", "/root/repo/tools"]
    + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else []))

from pyspark.sql import functions as F                               # noqa: E402

from fspann_query_system_spark.session import get_spark              # noqa: E402
from scale_knn_join import TARGET_CELL, gen_embeddings               # noqa: E402


def _mat(df) -> float:
    """Materialize via the noop sink (full compute, nothing collected)
    and return the wall."""
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    nprobe = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    b_list = ([int(x) for x in sys.argv[4].split(",")]
              if len(sys.argv) > 4 else [10_000, 100_000])
    shuffle_dtype = sys.argv[5] if len(sys.argv) > 5 else "float"
    b_max = max(b_list)
    n_cells = max(64, n // TARGET_CELL)
    spark = get_spark("scale-knn-incremental",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    from fspann_query_system_spark.ops.similarity import (
        _nearest_cells, ivf_assign, kmeans_fit, knn_join,
        knn_join_incremental)

    t0 = time.time()
    allv = gen_embeddings(spark, n + b_max)
    allv.count()
    old = allv.filter(F.col("id") < n)
    print(f"materialize {n}+{b_max} embeddings: {time.time()-t0:.1f}s",
          flush=True)

    t0 = time.time()
    fit_fraction = 0.1 if n > 1_000_000 else 1.0
    cent = kmeans_fit(old, k=n_cells, iters=2,
                      fit_fraction=fit_fraction).persist()
    cent.count()
    print(f"kmeans_fit |C|={n_cells} on the OLD corpus (frozen "
          f"quantizer, fit_fraction={fit_fraction}): "
          f"{time.time()-t0:.1f}s", flush=True)

    # -- standing state: what ingest already persists --------------------
    t0 = time.time()
    assigned = ivf_assign(old, cent, c_id_col="cell").persist()
    assigned.count()
    probes = _nearest_cells(old, cent, nprobe, "id", "vector", "cell",
                            "vector", keep_vector=False).persist()
    probes.count()
    layouts = [("skinny", probes)]
    if not os.environ.get("KNN_INC_SKIP_VEC"):
        # the vector-carrying layout, pre-partitioned by cell: the
        # fold's cogroup then consumes it with NO exchange of old
        # vectors.  ~n·nprobe·(8·dim) bytes persisted (22 GB at
        # 10M×p4×64d) — skip via KNN_INC_SKIP_VEC=1 on tight disks.
        probes_v = _nearest_cells(old, cent, nprobe, "id", "vector",
                                  "cell", "vector", keep_vector=True)
        probes_v = probes_v.repartition("cell").persist()
        probes_v.count()
        layouts.append(("vec-carrying", probes_v))
    t_side = time.time() - t0
    t0 = time.time()
    graph = knn_join(old, cent, k=k, nprobe=nprobe, c_id_col="cell",
                     assigned=assigned,
                     shuffle_dtype=shuffle_dtype).persist()
    n_edges = graph.count()
    t_graph = time.time() - t0
    print(f"standing state: graph {n_edges} edges {t_graph:.1f}s; "
          f"assign+probe tables {t_side:.1f}s", flush=True)

    # -- the folds, both probe-table layouts ------------------------------
    fold_walls = {}
    for b in sorted(b_list):
        batch = allv.filter((F.col("id") >= n) & (F.col("id") < n + b))
        for label, ptab in layouts:
            inc = knn_join_incremental(graph, ptab, assigned, batch,
                                       cent, k=k, nprobe=nprobe,
                                       c_id_col="cell",
                                       shuffle_dtype=shuffle_dtype)
            w = _mat(inc)
            fold_walls[(b, label)] = w
            print(f"fold b={b} [{label}]: {w:.1f}s "
                  f"(b/n = {b/n:.3f})", flush=True)

    # -- the rebuild the fold avoids (at b_max) ---------------------------
    t0 = time.time()
    full = knn_join(allv, cent, k=k, nprobe=nprobe, c_id_col="cell",
                    shuffle_dtype=shuffle_dtype).persist()
    full.count()
    t_rebuild = time.time() - t0
    print(f"full rebuild at n+b_max={n+b_max}: {t_rebuild:.1f}s",
          flush=True)
    for label, _ in layouts:
        print(f"fold:rebuild [{label}] = "
              f"{fold_walls[(b_max, label)]/t_rebuild:.3f} "
              f"(b/n prediction {b_max/n:.3f})", flush=True)

    # -- exact-equality audit at b_max, all built layouts ------------------
    # KNN_INC_AUDIT=hash compares order-free per-row xxhash64 folded
    # with bit_xor (xor: commutative, no int64 overflow under ANSI —
    # a SUM of 1e8 hashes overflows) + counts: two streaming agg
    # scans, no sort-merge exceptAll — the 100M-row exceptAll pair
    # spilled past the disk budget at 10M.  Multiset caveat: xor
    # cancels DUPLICATE rows pairwise, but (q_id, id, rank) rows are
    # unique by construction (rank is a row_number), so xor+count is
    # an exact set compare here.
    hash_mode = os.environ.get("KNN_INC_AUDIT") == "hash"

    def fingerprint(df):
        return df.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(q_id, id, rank))").alias("h")
        ).collect()[0]

    fl = full.select("q_id", "id", "rank")
    if hash_mode:
        want = fingerprint(fl)
    bmx = allv.filter((F.col("id") >= n) & (F.col("id") < n + b_max))
    for label, ptab in layouts:
        t0 = time.time()
        inc = knn_join_incremental(
            graph, ptab, assigned, bmx, cent, k=k, nprobe=nprobe,
            c_id_col="cell",
            shuffle_dtype=shuffle_dtype).select("q_id", "id", "rank")
        if hash_mode:
            got = fingerprint(inc)
            ok = (got.n, got.h) == (want.n, want.h)
            print(f"equality audit [{label}] xxhash64-sum+count: "
                  f"inc ({got.n}, {got.h}) vs rebuild "
                  f"({want.n}, {want.h}) ({time.time()-t0:.1f}s) -> "
                  f"{'EXACT' if ok else 'MISMATCH'}", flush=True)
        else:
            diff = (inc.exceptAll(fl).count() + fl.exceptAll(inc).count())
            print(f"equality audit [{label}] (q_id,id,rank) symmetric "
                  f"diff: {diff} rows ({time.time()-t0:.1f}s) -> "
                  f"{'EXACT' if diff == 0 else 'MISMATCH'}", flush=True)

    # -- KNN_DEC=<d>: the deletion twin — tombstone ~d rows out of the
    # -- standing graph, wall vs the survivors-only rebuild, hash-
    # -- fingerprint equality (blast radius = in-degree of the deleted
    # -- set; each affected query re-scores its probed cells once)
    if os.environ.get("KNN_DEC"):
        from fspann_query_system_spark.ops.similarity import (
            knn_join_decremental)
        d = int(os.environ["KNN_DEC"])
        is_del = (F.col("id") % (n // d) == 5) & (F.col("id") < n)
        del_ids = old.filter(is_del).select("id")
        n_del = del_ids.count()
        t0 = time.time()
        dec = knn_join_decremental(graph, assigned, del_ids, cent,
                                   k=k, nprobe=nprobe,
                                   c_id_col="cell",
                                   shuffle_dtype=shuffle_dtype)
        w_dec = _mat(dec)
        print(f"delete fold d={n_del}: {w_dec:.1f}s", flush=True)
        t0 = time.time()
        surv = knn_join(old.filter(~is_del), cent, k=k, nprobe=nprobe,
                        c_id_col="cell", shuffle_dtype=shuffle_dtype)
        w_srv = _mat(surv)
        print(f"survivors rebuild at {n - n_del}: {w_srv:.1f}s; "
              f"delete:rebuild = {w_dec/w_srv:.3f} "
              f"(d/n = {n_del/n:.4f})", flush=True)
        a = fingerprint(dec.select("q_id", "id", "rank"))
        b2 = fingerprint(surv.select("q_id", "id", "rank"))
        ok = (a.n, a.h) == (b2.n, b2.h)
        print(f"delete equality audit xxhash64-xor+count: "
              f"({a.n}, {a.h}) vs ({b2.n}, {b2.h}) -> "
              f"{'EXACT' if ok else 'MISMATCH'}", flush=True)


if __name__ == "__main__":
    main()
