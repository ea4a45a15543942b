"""Similarity search over embedding columns (beyond-reference mandate):
brute-force cosine top-k baseline + LSH-bucketed scale path, and
embedding-cosine near-duplicate detection.

The LSH machinery is the engine's own (lsh/ + query/ann) — similarity
search is the same physical plan with cosine instead of L2 on normalized
vectors (cos(a,b) = 1 - ||â-b̂||²/2, so the L2 index over normalized
vectors IS a cosine index)."""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.distance import cosine_expr
from ..functions.plan import materialize, rows_cached
from .pq import _q9, _sweep


def cosine_topk(base: DataFrame, queries: DataFrame, k: int = 10,
                id_col: str = "id", vector_col: str = "vector",
                q_id_col: str = "q_id", q_vector_col: str = "vector") -> DataFrame:
    """Blocked brute-force cosine top-k → (q_id, id, cosine, rank).
    Same partial-top-k shape as query.exact.knn_exact: the shuffle
    carries O(Q*k*n_batches) rows; scan is embarrassingly parallel."""
    spark = base.sparkSession
    q_rows = rows_cached(queries, q_id_col, q_vector_col)
    if not q_rows:
        return spark.createDataFrame([], "q_id BIGINT, id BIGINT, cosine DOUBLE, rank INT")
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-30)
    bc = spark.sparkContext.broadcast((q_ids, Qn, k))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_ids_, Qn_, k_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            B = np.vstack([np.asarray(v, dtype=np.float64)
                           for v in pdf[vector_col].to_numpy()])
            Bn = B / np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-30)
            ids = pdf[id_col].to_numpy()
            sims = Bn @ Qn_.T                      # (n, q)
            n = len(ids)
            kk = min(k_, n)
            frames = []
            for qi in range(len(q_ids_)):
                s = sims[:, qi]
                if kk < n:
                    # tie-inclusive cut (see query/exact.py): boundary
                    # ties must all survive or the result depends on
                    # batch partitioning
                    kth = -np.partition(-s, kk - 1)[kk - 1]
                    part = np.flatnonzero(s >= kth)
                else:
                    part = np.arange(n)
                frames.append(pd.DataFrame({
                    "q_id": np.full(len(part), q_ids_[qi], dtype=np.int64),
                    "id": ids[part], "cosine": s[part]}))
            yield pd.concat(frames, ignore_index=True)

    id_type = base.schema[id_col].dataType.simpleString()
    partial = base.select(id_col, vector_col).mapInPandas(
        run, schema=f"q_id BIGINT, id {id_type}, cosine DOUBLE")
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("id").asc())
    return (partial.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def cosine_topk_sql_shape(base: DataFrame, queries: DataFrame, k: int = 10,
                          id_col: str = "id", vector_col: str = "vector",
                          q_id_col: str = "q_id", q_vector_col: str = "vector") -> DataFrame:
    """Declarative crossJoin+window variant (native exprs; the oracle's
    plan shape, and exact to the last ulp for correctness checks)."""
    q = queries.select(F.col(q_id_col).alias("q_id"), F.col(q_vector_col).alias("_qv"))
    b = base.select(F.col(id_col).alias("id"), F.col(vector_col).alias("_bv"))
    joined = b.crossJoin(F.broadcast(q)).withColumn(
        "cosine", cosine_expr("_qv", "_bv"))
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("id").asc())
    return (joined.select("q_id", "id", "cosine")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def _nearest_cells(df: DataFrame, centroids: DataFrame, n_cells: int,
                   id_col: str, vector_col: str,
                   c_id_col: str, c_vector_col: str,
                   keep_vector: bool, quantize: bool = False,
                   sq8: tuple | None = None,
                   mass: tuple | None = None) -> DataFrame:
    """Shared coarse-quantizer kernel: each row's probed cells by L2,
    ties broken by lowest centroid id → (id[, vector], cell), one row
    per (row, cell), each row's cells in probe order.

    Arrow-batched numpy against the broadcast centroid matrix — strictly
    map-side: no crossJoin, no shuffle, no window.  Each batch is one
    call of :func:`_cells`, the cell rule every IVF family shares
    (:func:`_probe_cells_local` runs it on a collected query batch), so
    probe sets cannot drift between the spellings.

    ``quantize=True`` sums ELEMENT-QUANTIZED (``_q9``) squared diffs in
    the exact sweep — for assigns that chain into a cross-engine oracle
    comparison (semantic_dedup / cluster_sample's final kmeans assign),
    where a float near-tie could resolve differently under DuckDB's
    parallel aggregation.  Ignored past 256 centroids (see
    :func:`_nearest_idx`).

    ``sq8=(mins, maxs)`` (with ``keep_vector=True``) replaces the
    emitted vector column with ``qcodes BINARY`` — the row's SQ8 codes
    packed one byte per dimension (:func:`_sq8_bytes`).  This is the
    knn_join_sq8 probe payload: dim BYTES per probe row instead of
    8·dim, an 8× probe-shuffle reduction over float64.

    ``mass=(counts, budget)`` switches to per-row ADAPTIVE probing
    (verdict r08 Next #5; :func:`_mass_cells`): ``counts`` is the
    {cell: member_count} census (one |C|-bounded collect) and
    ``n_cells`` is ignored.  Without it, an ``n_cells`` below 1 probes
    nothing and raises on the driver."""
    spark = df.sparkSession
    cid, C = _sorted_centroids(rows_cached(centroids, c_id_col,
                                           c_vector_col))
    bc = spark.sparkContext.broadcast((cid, C, sq8,
                                       _mass_arrs(mass, cid, n_cells)))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cid_, C_, sq8_, mass_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            B = np.vstack([np.asarray(v, dtype=np.float64)
                           for v in pdf[vector_col].to_numpy()])
            cells, nk = _cells(B, cid_, C_, n_cells, mass_, quantize)
            out = {id_col: np.repeat(pdf[id_col].to_numpy(), nk)}
            if keep_vector and sq8_ is not None:
                out["qcodes"] = list(np.repeat(_sq8_bytes(B, *sq8_), nk))
            elif keep_vector:
                out[vector_col] = np.repeat(pdf[vector_col].to_numpy(), nk)
            out["cell"] = cells
            yield pd.DataFrame(out)

    schema = f"{id_col} {df.schema[id_col].dataType.simpleString()}"
    if keep_vector and sq8 is not None:
        schema += ", qcodes BINARY"
    elif keep_vector:
        schema += (f", {vector_col} "
                   f"{df.schema[vector_col].dataType.simpleString()}")
    return df.select(id_col, vector_col).mapInPandas(
        run, schema=schema + ", cell BIGINT")


def _sq8_bytes(V: np.ndarray, mins, maxs) -> np.ndarray:
    """Rows → their SQ8 codes packed one byte per dimension, as an
    object array of ``bytes``.  HALF_UP rounding (floor(x+0.5) on the
    non-negative normalized value — mirrors sq8_quantize's F.round and
    the oracle's round()); rg=0 dims → 0."""
    mn8 = np.asarray(mins, dtype=np.float64)
    rg8 = np.asarray(maxs, dtype=np.float64) - mn8
    x = np.zeros_like(V)
    nz = rg8 > 0
    x[:, nz] = (V[:, nz] - mn8[nz]) / rg8[nz] * 255.0
    codes = np.clip(np.floor(x + 0.5), 0, 255).astype(np.uint8)
    return np.array([c.tobytes() for c in codes], dtype=object)


def _cells(B: np.ndarray, cid: np.ndarray, C: np.ndarray, n_cells: int,
           mass: tuple | None, quantize: bool = False) -> tuple:
    """The one cell rule of every IVF family → (the probed cell ids of
    all rows, flattened row-major with each row's cells in probe order;
    the per-row cell counts).  ``mass=None`` probes the ``n_cells``
    nearest (:func:`_nearest_idx`), a :func:`_mass_arrs` pair the
    adaptive rule (:func:`_mass_cells`).  ``cid``/``C`` are sorted by
    cid (:func:`_sorted_centroids`), so index order is cid order."""
    if mass is None:
        near = _nearest_idx(B, C, min(n_cells, len(C)), quantize)
        return cid[near].ravel(), np.full(len(B), near.shape[1])
    idx, nk = _mass_cells(B, C, *mass)
    return cid[idx], nk


def _nearest_idx(B: np.ndarray, C: np.ndarray, nc: int,
                 quantize: bool = False) -> np.ndarray:
    """(rows, nc) indices of each row's ``nc`` nearest rows of ``C`` in
    (squared L2, index) order — over cid-sorted centroids, the
    lowest-cid tie-break.

    Up to 256 centroids it is the exact per-centroid sweep
    (:func:`~.pq._sweep`), float or, with ``quantize``,
    element-quantized.

    Past 256 (SemDeDup-scale |C| ~ n/64): the GEMM form -2 b·c + |c|²
    (the |b|² term is row-constant, so it cannot move the per-row
    order), computed in (row, centroid) TILES through one preallocated
    buffer.  Materializing the full batch×|C| distance matrix (and the
    GEMM expression's temporaries) at |C|=15625 means several ~1.25 GB
    allocations per 10k-row batch ×32 concurrent workers — measured as
    a kernel-time page-zeroing storm that was SLOWER than the python
    loop.  Tiles bound the working set at ~64 MB/task.  Each tile keeps
    its argmin (nc == 1) or its top-(nc+8), and one per-row (d, index)
    merge picks the nc: O(|C|) GEMM work per row instead of |C| python
    sweeps per batch (measured: |C|=10k probes at 10M went from hours
    to minutes).  ``quantize`` is ignored here: the GEMM form has no
    per-element squared diff to quantize, its fp summation order
    differs from the sweep only within ~1 ulp, and the oracle-gated
    fixtures keep the sweep.  The +8 margin absorbs within-tile float
    ties at the cut; a >8-deep cohort of bit-identical GEMM distances
    straddling the boundary (duplicate centroids) could still resolve
    differently than the sweep's lowest-cid order."""
    if len(C) <= 256:
        d2 = _sweep(B, C, quantize)
        if nc == 1:
            # argmin returns the first (= lowest-index) minimum
            return np.argmin(d2, axis=1)[:, None]
        return np.argsort(d2, axis=1, kind="stable")[:, :nc]
    cn = np.square(C).sum(axis=1)
    RB, CB = 2048, 4096
    buf = np.empty((min(RB, len(B)), min(CB, len(C))), dtype=np.float64)
    near = np.empty((len(B), nc), dtype=np.int64)
    for r0 in range(0, len(B), RB):
        Br = B[r0:r0 + RB]
        cd, cj = [], []
        for c0 in range(0, len(C), CB):
            Ct = C[c0:c0 + CB]
            t = buf[:len(Br), :len(Ct)]
            np.matmul(Br, Ct.T, out=t)
            t *= -2.0
            t += cn[c0:c0 + CB]
            w = min(1 if nc == 1 else nc + 8, len(Ct))
            j = (t.argmin(axis=1)[:, None] if w == 1
                 else np.argpartition(t, w - 1, axis=1)[:, :w])
            cd.append(np.take_along_axis(t, j, 1))
            cj.append(j + c0)
        md, mj = np.concatenate(cd, axis=1), np.concatenate(cj, axis=1)
        near[r0:r0 + RB] = np.take_along_axis(
            mj, np.lexsort((mj, md), axis=1)[:, :nc], 1)
    return near


def _mass_cells(B: np.ndarray, C: np.ndarray, cnt: np.ndarray,
                budget: int) -> tuple:
    """Adaptive mass-budget probing → (the cell indices of all rows,
    flattened row-major; the per-row cell counts).  Each row takes
    cells in ascending ELEMENT-QUANTIZED (``_q9``) L2 order, ties by
    lowest index, while the cumulative member count ``cnt`` of the
    cells BEFORE the cell is < ``budget``.  Per-row scanned candidate
    mass is thus hard-bounded regardless of cell-size skew, which a
    fixed cell count cannot offer (a prober whose nearest cell holds
    10× the average pays 10× under fixed nprobe), and a SQL oracle's
    cumulative-sum window over the same (dd, cid) ordering picks
    IDENTICAL cells.

    Up to 256 centroids (the oracle fixtures) the order is the exact
    quantized sweep over ALL cells plus a stable argsort —
    engine-reproducible at any tie density.  Past 256 the full sweep
    is |C| python-loop passes + a (rows × |C|) sort per chunk, measured
    as kernel-dominating at |C| = 10⁴.  Instead: T = the worst-case
    cell count that covers the budget (smallest prefix of ASCENDING
    cell counts ≥ budget — no prober can need more cells than the
    all-smallest-cells adversary), a float prefilter to the T+8
    nearest (:func:`_nearest_idx`, same tie caveat), a quantized
    recompute of only those, then the same (dd, index) rule within the
    shortlist.  At SemDeDup-scale |C| (≥ 10⁴) prefer fixed probing or a
    coarser census."""
    T = len(C)
    if len(C) > 256:
        asc = np.cumsum(np.sort(cnt))
        T = min(len(C), int(np.searchsorted(asc, budget)) + 1 + 8)
    # row chunks bound the (rows × |C|) working set at ~32 MB/task
    RB = max(256, min(2048, (4 << 20) // max(1, len(C))))
    idx, nk = [], []
    for r0 in range(0, len(B), RB):
        Br = B[r0:r0 + RB]
        if T < len(C):
            # index order == cid order: pre-sort so the stable argsort
            # below breaks quantized ties by cid
            part = np.sort(_nearest_idx(Br, C, T), axis=1)
            # quantized recompute of the shortlist, tiled over rows:
            # RB is sized only by |C|, so just past the 256-centroid
            # crossover a large budget (T → |C|) would otherwise blow
            # the (RB × T × dim) cube to hundreds of MB/task (r09
            # ADVICE) — cap the cube at ~32 MB
            sub = max(1, (32 << 20) // max(1, T * Br.shape[1] * 8))
            dd = np.empty((len(Br), T), dtype=np.int64)
            for s0 in range(0, len(Br), sub):
                diff = Br[s0:s0 + sub, None, :] - C[part[s0:s0 + sub]]
                dd[s0:s0 + sub] = _q9(np.square(diff)).sum(axis=2)
            perm = np.take_along_axis(
                part, np.argsort(dd, axis=1, kind="stable"), 1)
        else:
            perm = np.argsort(_sweep(Br, C, True), axis=1, kind="stable")
        run_cnt = np.cumsum(cnt[perm], axis=1)
        keep = np.empty(perm.shape, dtype=bool)
        keep[:, 0] = True                   # prior mass 0 < budget
        keep[:, 1:] = run_cnt[:, :-1] < budget
        # perm[keep] flattens row-major: per-row cells in (dd, index)
        # order, rows in input order
        idx.append(perm[keep])
        nk.append(keep.sum(axis=1))
    return np.concatenate(idx), np.concatenate(nk)


def _probe_cells_local(q_rows, c_rows, n_cells: int,
                       mass: tuple | None = None) -> dict:
    """Driver-side fixed/adaptive probe sets for an ALREADY-COLLECTED
    query batch: {q_id: sorted int64 cell array}.

    Runs :func:`_cells` — the `_nearest_cells` kernel's cell rule — on
    the collected rows, so the probe sets are bit-identical to the
    distributed spelling by construction.  The point (guide §1/§4): the
    online ANN families (`ivfpq_topk`, `_ivf_bq_partial`) already
    collect both the query batch and the centroid table; deriving the
    Q·nprobe probe pairs locally removes one whole Spark job (scan +
    Arrow kernel + collect) from every call without touching results.
    ``mass=(counts, budget)`` mirrors `_nearest_cells(mass=)` —
    validation included — and is the one adaptive-probe rule of the
    collected-batch families (IVF-PQ, IVF-BQ, IVF-BQ-SQ8): cells in
    ascending element-quantized L2 order, ties by lowest cid, kept
    while the member count of the cells BEFORE them is < budget.  A
    query in a dense region covers its neighbourhood with few cells;
    one whose cluster is shattered across many small cells probes
    deeper (SCALE.md §9e addendum 2), and the (dd, cid) order plus one
    cumulative-sum window reproduce the probe set in SQL."""
    cid, C = _sorted_centroids(c_rows)
    mass_ = _mass_arrs(mass, cid, n_cells)
    if not q_rows:
        return {}
    B = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    cells, nk = _cells(B, cid, C, n_cells, mass_)
    probed: dict[int, set] = {}
    for q, c in zip(np.repeat([int(r[0]) for r in q_rows], nk), cells):
        probed.setdefault(int(q), set()).add(int(c))
    return {q: np.array(sorted(s), dtype=np.int64)
            for q, s in probed.items()}


def _sorted_centroids(c_rows) -> tuple:
    """Collected (cid, vector) centroid rows → ``(cid, C)`` sorted by
    cid, so argmin's first-minimum rule is the lowest-cid tie-break."""
    cid = np.array([r[0] for r in c_rows], dtype=np.int64)
    C = np.array([list(r[1]) for r in c_rows], dtype=np.float64)
    order = np.argsort(cid, kind="stable")
    return cid[order], C[order]


def _mass_arrs(mass: tuple | None, cid: np.ndarray,
               n_cells: int) -> tuple | None:
    """``mass=(counts, budget)`` → the kernel's ``(member counts aligned
    with cid, budget)``, or None for fixed probing.  Either rule probes
    nothing below 1 — ``n_cells`` without a budget, the budget with one
    — and raises on the driver rather than return no rows."""
    if mass is None:
        if n_cells < 1:
            raise ValueError(f"nprobe must be >= 1, got {n_cells}")
        return None
    counts, budget = mass
    if budget < 1:
        raise ValueError(f"probe mass budget must be >= 1, got {budget}")
    cnt = np.array([int(counts.get(int(c), 0)) for c in cid],
                   dtype=np.int64)
    return cnt, int(budget)


def ivf_assign(base: DataFrame, centroids: DataFrame,
               id_col: str = "id", vector_col: str = "vector",
               c_id_col: str = "id", c_vector_col: str = "vector") -> DataFrame:
    """Ingest-time IVF cell assignment: (id, vector, cell), one row per
    input row, strictly map-side.  Computed ONCE when the index is built;
    persist it (or ``ivf_save`` it) and reuse across queries — query time
    never re-derives assignments (reference layout idea:
    ``GreedyPartitioner.java:37-76`` id→partition materialization)."""
    return _nearest_cells(base, centroids, 1, id_col, vector_col,
                          c_id_col, c_vector_col, keep_vector=True)


def kmeans_fit(df: DataFrame, k: int = 16, iters: int = 2,
               id_col: str = "id", vector_col: str = "vector",
               fit_fraction: float = 1.0) -> DataFrame:
    """Distributed Lloyd k-means for the IVF coarse quantizer →
    (cell, vector) centroids after ``iters`` rounds.

    ``fit_fraction`` < 1 fits Lloyd on a DETERMINISTIC hash sample of
    the table (xxhash64(id) mod 2^20 below the fraction threshold —
    reproducible, no rand()) and is standard coarse-quantizer practice
    (faiss trains IVF quantizers on ~30–256 points/centroid, not the
    corpus): centroid quality depends on cluster geometry, which a
    uniform sample preserves, while the fit cost drops linearly — the
    full corpus is still assigned map-side downstream (``ivf_assign``).
    Default 1.0 keeps the oracle-gated chains bit-identical (the
    sampling branch is never entered); scale harnesses opt in.  The
    sample is persisted across the ``iters`` passes so the full table
    is scanned ZERO times during the fit.

    Per round, the 100TB shape: ONE fused Arrow kernel argmins each
    batch against the broadcast centroid matrix (tiled GEMM past 256
    cells, no crossJoin) and emits element-quantized int64 partial
    sums per (cell, pos) — the only shuffle carries
    O(n_batches·k·dim) partial rows, never data rows, and no vector
    ever crosses back to the JVM.

    Determinism across engines: init = the k lowest-id vectors; the
    centroid mean is an ELEMENT-QUANTIZED integer sum (components
    quantized to 1e-9, summed as int64 — order-independent under any
    parallel merge in any engine, mirrored exactly in the SQL oracle)
    rounded to 6 decimals at each round boundary, so float-summation-
    order drift cannot butterfly into different assignments next
    round; argmin ties break toward the lowest cell id on both sides.
    Cells left empty by a round keep their previous centroid (mirrored
    in SQL via left join + coalesce)."""
    if fit_fraction < 1.0:
        den = 1 << 20
        thresh = max(1, int(fit_fraction * den))
        fit_df = (df.select(id_col, vector_col)
                  .filter(F.pmod(F.xxhash64(F.col(id_col)),
                                 F.lit(den)) < thresh)
                  .persist())
    else:
        fit_df = df
    # orderBy+limit is a distributed partial top-k (no global window);
    # cell i = i-th lowest id.  The centroid state lives DRIVER-SIDE
    # as a (k, dim) matrix across rounds (the pq_fit shape, applied
    # here in the r12 optimization round): each round is then ONE
    # Spark job (kernel pass + codebook-sized agg + collect) instead
    # of three (collect of the previous round's joined table, update
    # pass, persist+count materialization) — the matrix is exactly
    # what the next round's broadcast needs anyway, and the per-round
    # persist/unpersist churn is gone.  Values are unchanged: the same
    # aggregate computes round(sum/1e9/count, 6), empty cells keep
    # their previous centroid by row absence.
    head = (fit_df.select(id_col, vector_col)
            .orderBy(id_col).limit(k).collect())
    if len(head) < k:
        raise ValueError(f"need >= {k} rows to init {k} cells")
    C_state = np.array([list(r[vector_col]) for r in head],
                       dtype=np.float64)
    for _ in range(iters):
        # Fused assign+partial-sum kernel (round 7, the pq_fit shape):
        # one Arrow pass argmins each batch against the broadcast
        # centroid matrix and emits ELEMENT-QUANTIZED int64 partial
        # sums per (cell, pos) — k·dim rows per batch, so the update
        # shuffle carries O(n_batches·k·dim) tiny rows and the n·dim
        # posexplode + Arrow round-trip of the assigned table are gone
        # entirely.  Quantized-int sums are associative AND
        # commutative, so the mean is bit-identical under ANY merge
        # order in ANY engine — the round-6 sorted-partial merge
        # protected only Spark, while the DUCKDB oracle's parallel
        # avg() measurably flipped between two states under load (17/3
        # in 20 runs of the same SQL — SCALE.md pathology #3 addendum).
        # 1e-9 quanta keep the mean within 5e-10 of true (vs the 1e-6
        # output rounding); int64 holds ~3e8 rows/cell at |x| <= 30.
        bcC = df.sparkSession.sparkContext.broadcast(C_state.copy())

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            C_ = bcC.value
            dim_ = C_.shape[1]
            pos = np.arange(dim_, dtype=np.int32)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                B = np.vstack([np.asarray(v, dtype=np.float64)
                               for v in pdf[vector_col].to_numpy()])
                a = _nearest_idx(B, C_, 1, quantize=True)[:, 0]
                cell_l, pos_l, s_l, c_l = [], [], [], []
                for j in np.unique(a):
                    mask = a == j
                    ssum = _q9(B[mask]).sum(axis=0)
                    cell_l.append(np.full(dim_, j, dtype=np.int64))
                    pos_l.append(pos)
                    s_l.append(ssum)
                    c_l.append(np.full(dim_, int(mask.sum()),
                                       dtype=np.int64))
                if not cell_l:
                    continue
                yield pd.DataFrame({
                    "cell": np.concatenate(cell_l),
                    "pos": np.concatenate(pos_l),
                    "_s": np.concatenate(s_l),
                    "_c": np.concatenate(c_l)})

        upd_rows = (fit_df.select(vector_col)
                    .mapInPandas(run, schema="cell LONG, pos INT, _s LONG, "
                                             "_c LONG")
                    .groupBy("cell", "pos")
                    .agg(F.round(F.sum("_s") / F.lit(1e9) / F.sum("_c"), 6)
                         .alias("v"))
                    .collect())
        # the kernel has run: free this round's centroid broadcast
        # blocks on the executors — leaked per-iteration broadcasts
        # accumulate at SemDeDup-scale |C| (mirrors pq_fit)
        bcC.unpersist()
        # empty cells keep the previous centroid (rows simply absent)
        for r in upd_rows:
            C_state[r["cell"], r["pos"]] = r["v"]
    if fit_df is not df:
        fit_df.unpersist()
    return df.sparkSession.createDataFrame(
        [(int(c), [float(x) for x in C_state[c]]) for c in range(k)],
        "cell LONG, vector ARRAY<DOUBLE>")


def ivf_save(assigned: DataFrame, path: str) -> None:
    """Persist the assigned base set hive-partitioned by cell: a probe of
    nprobe cells then reads nprobe/|C| of the files — partition pruning
    does the scan elimination at 100TB (PartitionFilters in the scan
    node; asserted by tests/test_plan_quality.py)."""
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path)


def _cell_counts(assigned: DataFrame) -> dict:
    """The cell census {cell: member count}: one |C|-bounded collect."""
    return {r["cell"]: r["count"] for r in
            assigned.groupBy("cell").count().collect()}


def _assigned_and_mass(df: DataFrame, centroids: DataFrame,
                       assigned: DataFrame | None,
                       probe_mass: int | None,
                       id_col: str, vector_col: str,
                       c_id_col: str, c_vector_col: str) -> tuple:
    """``(assigned, mass)`` for a probe-based family over ``df``:
    ``assigned`` as given, or the lazy :func:`ivf_assign` of ``df``;
    ``mass`` the ``(census, probe_mass)`` pair :func:`_nearest_cells`
    takes, None without a budget.  With ``assigned`` omitted the census
    is a census-only pass: the SAME assign kernel but WITHOUT carrying
    vectors through Arrow — the census needs only `cell`, so the pass
    ships ~16 bytes/row across the Python boundary instead of the full
    vector (guide §4.2; r12 optimization round), while the candidate
    side keeps its own lazy vector-carrying assign."""
    mass = None
    if probe_mass is not None:
        census_src = assigned
        if assigned is None:
            census_src = _nearest_cells(df, centroids, 1, id_col,
                                        vector_col, c_id_col,
                                        c_vector_col, keep_vector=False)
        mass = (_cell_counts(census_src), probe_mass)
    if assigned is None:
        assigned = ivf_assign(df, centroids, id_col, vector_col,
                              c_id_col, c_vector_col)
    return assigned, mass


def ivf_topk(base: DataFrame, queries: DataFrame, centroids: DataFrame,
             k: int = 10, nprobe: int = 2,
             id_col: str = "id", vector_col: str = "vector",
             q_id_col: str = "q_id", q_vector_col: str = "vector",
             assigned: DataFrame | None = None,
             probe_mass: int | None = None) -> DataFrame:
    """IVF (inverted-file) approximate top-k: probe the ``nprobe``
    nearest cells per query, exact-rank only candidates in probed cells.

    Query-time plan (no crossJoin anywhere):
      probes  = map-side numpy top-nprobe cells per query  (tiny: Q×nprobe)
      cands   = broadcast(probes) ⋈ assigned on cell — the assigned table
                never shuffles; with an ``ivf_save`` layout the probe
                values prune partitions at file level
      rank    = exact L2 window top-k over candidates (the only shuffle)

    Pass ``assigned`` (from :func:`ivf_assign`, persisted or reloaded
    from an ``ivf_save`` layout) to reuse the ingest-time assignment;
    when omitted it is derived on the fly (still map-side).

    ``probe_mass`` switches to per-query ADAPTIVE mass-budget probing
    (``nprobe`` ignored): the same rule as :func:`knn_join` /
    ``ivf_bq_sq8_topk(probe_mass=)`` — cells in element-quantized
    distance order while the cumulative member count of closer cells
    is below the budget — run MAP-SIDE over the (possibly distributed)
    query table via :func:`_nearest_cells`, so unlike the
    collected-batch ``_probe_cells_local`` path it never needs the
    queries on the driver.  Per-query scanned rows are hard-bounded
    under cell-size skew; the broadcast probes table simply carries a
    variable probe count per query.  NOTE (mirrors :func:`knn_join`):
    with ``probe_mass`` the cell census is collected from ``assigned``,
    so an on-the-fly (omitted) assignment runs the assign kernel over
    the full base table TWICE (census collect + candidate join) — pass
    a persisted ``assigned`` at scale (r09 ADVICE)."""
    from ..functions.distance import l2_expr
    assigned, mass = _assigned_and_mass(base, centroids, assigned,
                                        probe_mass, id_col, vector_col,
                                        id_col, vector_col)
    probes = _nearest_cells(
        queries, centroids, nprobe, q_id_col, q_vector_col,
        id_col, vector_col, keep_vector=True, mass=mass)
    qp = (probes.withColumnRenamed(q_vector_col, "_qv")
          if q_vector_col in probes.columns else probes)
    cand = (assigned.withColumnRenamed(vector_col, "_bv")
            .join(F.broadcast(qp), on="cell"))
    w_rank = Window.partitionBy(q_id_col).orderBy("dist", id_col)
    return (cand.withColumn("dist", l2_expr("_qv", "_bv"))
            .withColumn("rank", F.row_number().over(w_rank))
            .filter(F.col("rank") <= k)
            .select(q_id_col, id_col, "dist", "rank"))


def knn_join(df: DataFrame, centroids: DataFrame, k: int = 10,
             nprobe: int = 2,
             id_col: str = "id", vector_col: str = "vector",
             c_id_col: str = "id", c_vector_col: str = "vector",
             assigned: DataFrame | None = None,
             exclude_self: bool = True, method: str = "gemm",
             shuffle_dtype: str = "double",
             probe_mass: int | None = None,
             queries: DataFrame | None = None) -> DataFrame:
    """Distributed kNN self-join (the kNN-graph builder behind
    SemDeDup-style curation, graph-based dedup, and label propagation):
    for EVERY row, its k nearest neighbours among rows sharing one of
    its ``nprobe`` probed coarse cells → (q_id, id, dist, rank ≤ k).

    The difference from :func:`ivf_topk` is the query side: here it is
    the WHOLE table, so nothing is collected to the driver or
    broadcast.  Probes (row → nprobe cells, map-side kernel) and the
    cell assignment co-shuffle on ``cell``; candidate scoring is the
    JVM-codegen ``l2_expr`` inside the join; one (dist, id) window
    takes top-k per row.  Shuffle volume is n·nprobe + n rows; the
    scored pair expansion is Σ_cell |probers|·|members| ≈ n²·nprobe/|C|
    in the balanced case — never n².  At 100 TB, |C| scales with n
    (cells of ~10³–10⁴ rows) so the per-cell work stays bounded, and an
    ``ivf_save`` layout lets the member side arrive pre-partitioned.

    Each base row is assigned to exactly ONE cell and a row's probed
    cells are distinct, so a (q, neighbour) pair is scored at most once
    — no distinct needed.  ``exclude_self`` drops the trivial
    self-edge (rank semantics then match "k nearest OTHER rows").

    ``method`` picks the in-cell scoring kernel:

    * ``"gemm"`` (default, the scale path): per-cell Arrow cogroup —
      one BLAS d2 matrix per (probers × members) cell, shortlist by
      GEMM distance with a +8 safety margin, EXACT recompute of the
      shortlist (``sqrt(Σ(a-b)²)``, the numpy form of ``l2_expr``), emit
      only per-(prober, cell) top-k.  The final window then ranks
      ≤ k·nprobe rows per prober instead of cell_size·nprobe.
      Measured ~40× over the expr path at 1M (SCALE.md §9g).  Ties:
      a cohort of >8 candidates at BIT-IDENTICAL distance straddling
      the k-th rank may resolve differently than the strict (dist,
      id) order — impossible for continuous embeddings, use
      ``"expr"`` for tie-dense integer corpora.
    * ``"expr"``: the declarative twin — plain cell equi-join with
      JVM-codegen ``l2q_expr`` per pair and one window; strict
      (dist, id) semantics at any tie density.

    Both methods emit the ELEMENT-QUANTIZED distance (``_q9``: each
    squared diff quantized to 1e-9 as int64 before the sum) — the
    int sum is order-independent, so the gemm kernel's numpy
    pairwise summation, the expr path's Catalyst fold, and a SQL
    oracle's sequential ``list_reduce`` all emit the SAME value and
    the SAME near-tie rank order.  An unquantized float sum differs
    across those three at ulp level, which can flip a ``round(.,6)``
    boundary or a near-tie rank between engines.

    ``shuffle_dtype="float"`` ships BOTH shuffled vector columns as
    ``array<float>``, halving the dominant cost at scale: the probe
    side carries n·nprobe full vectors, and at 10M rows × 64 d ×
    nprobe 8 the float64 form is a ~45 GB exchange (measured as the
    /tmp-spill death of the §9g nprobe-8 run).  When the source
    vectors are float32-representable (the at-rest contract — SURVEY
    §1.2 keeps float32 at rest, computes in double), the f32→f64
    round-trip is LOSSLESS and the emitted distances are bit-identical
    to the default; for arbitrary doubles it perturbs distances by
    ≤ 1e-7 relative (document per call site).  Default "double"
    keeps the oracle-gated entry byte-exact regardless of source.

    ``probe_mass`` switches probing from fixed top-``nprobe`` cells to
    per-row ADAPTIVE mass coverage (``nprobe`` is then ignored): each
    row probes cells in ascending element-quantized distance order
    while the cumulative member count of closer cells is below the
    budget — the self-join twin of the query path's
    :func:`_probe_cells_local` (verdict r08 Next #5).  This
    hard-bounds every prober's scanned candidate mass under cell-size
    skew: with fixed nprobe a prober landing on a 10×-average cell
    pays 10× in its cogroup (the measured p22 tail, SCALE.md §9g),
    while a prober in a shattered region is capped at nprobe cells
    regardless of need.  Map-side: the |C|-row cell census (one
    map-combined count over ``assigned``) is collected and broadcast
    into the probe kernel — no new shuffle in the graph plan itself.
    Pass a persisted ``assigned`` at scale so the census pass reads
    the cache instead of re-running the assign kernel.

    ``queries`` switches the PROBE side from ``df`` (the self-join)
    to the given (id_col, vector_col) table — the bipartite form
    :func:`knn_join_incremental` uses to probe only a new batch
    against the full member side.  Same plan otherwise; with
    ``exclude_self`` a query row sharing an id with a member row
    still drops that pair (the self-edge when queries ⊆ df).
    """
    from ..functions.distance import l2q_expr
    if shuffle_dtype not in ("double", "float"):
        raise ValueError(f"shuffle_dtype must be 'double' or 'float', "
                         f"got {shuffle_dtype!r}")
    assigned, mass = _assigned_and_mass(df, centroids, assigned,
                                        probe_mass, id_col, vector_col,
                                        c_id_col, c_vector_col)
    probes = _nearest_cells(queries if queries is not None else df,
                            centroids, nprobe, id_col, vector_col,
                            c_id_col, c_vector_col, keep_vector=True,
                            mass=mass)
    _vt = "array<float>" if shuffle_dtype == "float" else None
    _cast = (lambda c: c.cast(_vt)) if _vt else (lambda c: c)
    qp = probes.select(F.col(id_col).alias("q_id"),
                       _cast(F.col(vector_col)).alias("_qv"), "cell")
    bp = assigned.select(F.col(id_col).alias("id"),
                         _cast(F.col(vector_col)).alias("_bv"), "cell")
    if queries is not None:
        # bipartite case (incremental fold, external query set):
        # members in cells NO query probes cannot score — semi-join
        # the member side down to the probed-cell list before it
        # ships.  The list is |queries|·nprobe-bounded and skinny;
        # when queries ≪ |C| (the streaming micro-batch regime) this
        # cuts the dominant member-side exchange to the probed
        # fraction of the corpus.  Self-join (queries=None) probes
        # every occupied cell by construction — skipped there.
        # The batch-sized probe output is eagerly materialized
        # first (r11 ADVICE / r12 opt round): the broadcast cell list
        # and the cogroup consume qp through two plan subtrees, so an
        # unmaterialized qp re-ran the Arrow probe kernel AND its
        # query-side upstream once per action; blocks free with the
        # plan.
        qp = materialize(qp)
        bp = bp.join(F.broadcast(qp.select("cell").distinct()),
                     "cell", "semi")
    w_rank = Window.partitionBy("q_id").orderBy("dist", "id")

    if method == "expr":
        cand = qp.join(bp, on="cell")
        if exclude_self:
            cand = cand.filter(F.col("id") != F.col("q_id"))
        scored = cand.withColumn("dist", l2q_expr("_qv", "_bv"))
    elif method == "gemm":
        id_t = df.schema[id_col].dataType.simpleString()
        scored = _gemm_cell_topk(qp, bp, k, exclude_self, id_t)
    else:
        raise ValueError(f"method must be 'gemm' or 'expr', got {method!r}")
    return (scored.withColumn("rank", F.row_number().over(w_rank))
            .filter(F.col("rank") <= k)
            .select("q_id", "id", "dist", "rank"))


def _gemm_cell_topk(qp: DataFrame, bp: DataFrame, k: int,
                    exclude_self: bool, id_t: str) -> DataFrame:
    """The cell-cogrouped BLAS scoring kernel shared by
    :func:`knn_join` (query side vs full member side) and
    :func:`knn_join_incremental` (affected old probes vs new members):
    per probed cell, each query's top-k members by element-quantized
    L2 → (q_id, id, dist).  ``qp`` = (q_id, _qv, cell), ``bp`` =
    (id, _bv, cell); per-cell top-k is sufficient for every caller
    because a global (dist, id) window re-ranks the union downstream
    and any member outside a query's per-cell top-k is dominated by k
    better members of the same cell that ARE emitted."""
    excl = bool(exclude_self)

    def cell_topk(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0 or k <= 0:
            return pd.DataFrame({"q_id": [], "id": [], "dist": []})
        qids = left["q_id"].to_numpy()
        Q = np.vstack([np.asarray(v, dtype=np.float64)
                       for v in left["_qv"].to_numpy()])
        ids = right["id"].to_numpy()
        B = np.vstack([np.asarray(v, dtype=np.float64)
                       for v in right["_bv"].to_numpy()])
        order = np.argsort(ids, kind="stable")
        ids, B = ids[order], B[order]
        sqb = (B * B).sum(axis=1)
        kk = min(k + 8 + (1 if excl else 0), len(ids))
        oq, oi, od = [], [], []
        for lo in range(0, len(qids), 512):
            Qb, qb = Q[lo:lo + 512], qids[lo:lo + 512]
            # |q|² is row-constant: cannot move the per-row cut
            d2 = sqb[None, :] - 2.0 * (Qb @ B.T)
            if kk < len(ids):
                sel = np.argpartition(d2, kk - 1, axis=1)[:, :kk]
            else:
                sel = np.tile(np.arange(len(ids)), (len(Qb), 1))
            # exact shortlist recompute, element-quantized (_q9):
            # int64 sums are merge-order-free, so this matches the
            # expr path's l2q_expr fold AND the oracle's sequential
            # list_reduce bit-for-bit (an unquantized numpy pairwise
            # sum differs from both at ulp level)
            diff = Qb[:, None, :] - B[sel]
            ex = np.sqrt(_q9(np.square(diff)).sum(axis=2) / 1e9)
            for r in range(len(Qb)):
                cids, dr = ids[sel[r]], ex[r]
                if excl:
                    keep = cids != qb[r]
                    cids, dr = cids[keep], dr[keep]
                top = np.lexsort((cids, dr))[:k]
                oq.append(np.full(len(top), qb[r], dtype=qids.dtype))
                oi.append(cids[top])
                od.append(dr[top])
        return pd.DataFrame({"q_id": np.concatenate(oq),
                             "id": np.concatenate(oi),
                             "dist": np.concatenate(od)})

    return (qp.groupBy("cell").cogroup(bp.groupBy("cell"))
            .applyInPandas(cell_topk,
                           schema=f"q_id {id_t}, id {id_t}, "
                                  f"dist DOUBLE"))


def knn_join_incremental(old_graph: DataFrame, old_probes: DataFrame,
                         assigned: DataFrame, new_batch: DataFrame,
                         centroids: DataFrame, k: int = 10,
                         nprobe: int = 2,
                         id_col: str = "id", vector_col: str = "vector",
                         c_id_col: str = "id",
                         c_vector_col: str = "vector",
                         method: str = "gemm",
                         shuffle_dtype: str = "double") -> DataFrame:
    """Incremental kNN-graph maintenance: fold a new batch into an
    existing :func:`knn_join` graph WITHOUT rebuilding it — the
    ingest-time operation a continuously-growing corpus runs (the
    graph consumers — SemDeDup, label propagation, PageRank coresets
    — then always see a current graph).

    Inputs are the ingest-time materializations a production layout
    already keeps (cite: the reference's ingest path persists its
    bucket assignments the same way, `PartitionedIndexService`):

    * ``old_graph``  — (q_id, id, dist, rank): knn_join over the old
      corpus at the SAME (k, nprobe, centroids);
    * ``old_probes`` — (id, cell): the old rows' probe sets
      (:func:`_nearest_cells` with ``keep_vector=False``); may
      instead carry ``vector_col`` (``keep_vector=True``), which
      skips the per-fold corpus-sized id→vector join — persist it
      pre-partitioned by cell and the fold exchanges NO old vectors;
    * ``assigned``   — (id, vector, cell): :func:`ivf_assign` of the
      old corpus;
    * ``new_batch``  — (id, vector): ids disjoint from the old corpus.

    EXACT-EQUALITY contract (equality-tested): with the coarse
    quantizer FROZEN (the production regime — retraining centroids
    re-shuffles everything and is a rebuild by definition), the
    result is bit-identical to ``knn_join(old ∪ new)`` at the same
    knobs.  Why: probe sets are per-row functions of the frozen
    centroids, cell membership is append-only, and a full-rebuild
    top-k for an old row can only contain old members drawn from its
    EXISTING top-k (any old member outside it is dominated by k
    better old members that are still present) plus new members in
    its probed cells.  Fixed ``nprobe`` only: a mass budget's probe
    sets depend on the cell census, which the batch itself changes.

    Scale: the work is proportional to the BATCH, not the corpus —
    (1) new rows probe the union members (|new|·nprobe probe rows
    against probed cells only, the knn_join bipartite path);
    (2) old rows are re-examined only where it can matter: the
    probes landing in cells that RECEIVED new rows (a broadcast
    semi-join of the skinny probe table against the batch's cell
    list) score against the NEW members of those cells only —
    |affected probes| × |new cell members| pairs through the same
    cell-cogrouped BLAS kernel the rebuild uses, never old × old;
    (3) one (dist, id) window re-ranks the merged skinny edges.
    Nothing corpus-sized shuffles: the old graph moves once (n·k
    skinny rows), the member side of (1) is pruned to probed cells,
    and (2) touches only affected probe rows joined id→vector
    against the assigned table.
    """
    from ..functions.distance import l2q_expr
    spark = new_batch.sparkSession
    if shuffle_dtype not in ("double", "float"):
        raise ValueError(f"shuffle_dtype must be 'double' or 'float', "
                         f"got {shuffle_dtype!r}")
    # EXACT-EQUALITY with knn_join(old ∪ new) requires scoring the
    # update edges on the SAME dtype knn_join shuffles: float mode
    # casts both sides to array<float> before l2q_expr (advice r10).
    _vt = "array<float>" if shuffle_dtype == "float" else None
    _cast = (lambda c: c.cast(_vt)) if _vt else (lambda c: c)
    new_assigned = ivf_assign(new_batch, centroids, id_col, vector_col,
                              c_id_col, c_vector_col)
    union_assigned = assigned.select(id_col, vector_col, "cell") \
        .unionByName(new_assigned.select(id_col, vector_col, "cell"))
    # (1) new rows vs the union member side — the bipartite knn_join
    new_edges = knn_join(union_assigned.select(id_col, vector_col),
                         centroids, k=k, nprobe=nprobe, id_col=id_col,
                         vector_col=vector_col, c_id_col=c_id_col,
                         c_vector_col=c_vector_col,
                         assigned=union_assigned, method=method,
                         shuffle_dtype=shuffle_dtype,
                         queries=new_batch).select("q_id", "id", "dist")
    # (2) affected old probes vs NEW members of their probed cells.
    # The batch's touched-cell list is |batch|-bounded — broadcast it.
    # When the standing probe table CARRIES vectors (keep_vector=True
    # at build time — the continuously-ingesting deployment shape),
    # the corpus-sized id→vector join is skipped entirely: a probe
    # table persisted pre-partitioned by cell then feeds the cogroup
    # with NO per-fold exchange of old vectors at all (the
    # n-proportional residual the skinny layout pays).
    touched = new_assigned.select("cell").distinct()
    if vector_col in old_probes.columns:
        affected = (old_probes.join(F.broadcast(touched), "cell")
                    .select(F.col(id_col).alias("q_id"),
                            _cast(F.col(vector_col)).alias("_qv"),
                            "cell"))
    else:
        affected = (old_probes.join(F.broadcast(touched), "cell")
                    .select(F.col(id_col).alias("q_id"), "cell")
                    .join(assigned.select(
                        F.col(id_col).alias("q_id"),
                        _cast(F.col(vector_col)).alias("_qv")),
                        "q_id")
                    .select("q_id", "_qv", "cell"))
    new_members = new_assigned.select(F.col(id_col).alias("id"),
                                      _cast(F.col(vector_col)).alias("_bv"),
                                      "cell")
    if method == "gemm":
        # the same BLAS kernel knn_join scores with — the expr HOF
        # fold pays ~2 orders more per pair, and the affected×new
        # pair count is where the fold's wall actually lives (no
        # self-pairs possible: old and new ids are disjoint).  Dist
        # values are bit-identical (_q9 element quantization both
        # ways), so the EXACT-EQUALITY contract is dtype-independent.
        id_t = new_batch.schema[id_col].dataType.simpleString()
        upd = _gemm_cell_topk(affected, new_members, k, False, id_t)
    elif method == "expr":
        upd = (affected.join(new_members, "cell")
               .withColumn("dist", l2q_expr("_qv", "_bv"))
               .select("q_id", "id", "dist"))
    else:
        raise ValueError(f"method must be 'gemm' or 'expr', "
                         f"got {method!r}")
    # (3) merge + re-rank: unaffected rows pass through with their
    # old edges; affected rows and new rows rank over the union.
    # The merged frame's neighbour column is literally "id" (the
    # knn_join output schema) regardless of id_col (advice r10).
    # Measured note (r11, the §9j discipline): an affected-only
    # re-rank — anti/semi-splitting the old graph on the changed-q
    # set so untouched rows skip the window — LOST to this plain
    # union+window at every batch size on the 1M fixture (b=1k:
    # 12.5 s vs 8.7 s; b=100k: 45.3 vs 26.4): the two extra passes
    # over the n·k edge table cost more than the window they avoid.
    w_rank = Window.partitionBy("q_id").orderBy("dist", "id")
    return (old_graph.select("q_id", "id", "dist")
            .unionByName(upd).unionByName(new_edges)
            .withColumn("rank", F.row_number().over(w_rank))
            .filter(F.col("rank") <= k)
            .select("q_id", "id", "dist", "rank"))


def knn_join_decremental(old_graph: DataFrame, assigned: DataFrame,
                         deleted: DataFrame, centroids: DataFrame,
                         k: int = 10, nprobe: int = 2,
                         id_col: str = "id",
                         vector_col: str = "vector",
                         c_id_col: str = "id",
                         c_vector_col: str = "vector",
                         method: str = "gemm",
                         shuffle_dtype: str = "double") -> DataFrame:
    """Incremental kNN-graph DELETION: remove a set of rows from an
    existing :func:`knn_join` graph WITHOUT rebuilding it — the
    tombstone/GDPR-erasure twin of :func:`knn_join_incremental`
    (reference tombstone semantics: F3 / `mark_deleted`'s anti-join
    discipline, `index/metadata.py`).

    Inputs: ``old_graph`` (q_id, id, dist, rank) and ``assigned``
    (id, vector, cell) over the OLD corpus at the same frozen
    (k, nprobe, centroids); ``deleted`` — one column of ids to
    remove (need not all exist).

    EXACT-EQUALITY contract (equality-tested): the result is
    bit-identical to ``knn_join(old ∖ deleted)`` at the same knobs.
    Why: deletion only REMOVES candidates — a surviving query's
    top-k changes iff it currently holds a deleted neighbour (its
    other members all survive, and anything better would already be
    in it), and a changed query's new top-k is exactly the rebuild's
    top-k over the REMAINING members of its probed cells (probe sets
    are per-row functions of the frozen centroids, untouched by
    membership).  Fixed ``nprobe`` only, as with the insert fold.

    Scale: work is proportional to the DELETION'S BLAST RADIUS, not
    the corpus — (1) dropping deleted queries and finding affected
    queries are two semi/anti joins of the skinny n·k edge table
    against the broadcast-size deleted list; (2) only the affected
    queries (≤ in-degree of the deleted set, ≤ k·|deleted|) re-score,
    through the same bipartite :func:`knn_join` path the insert fold
    uses — their probed cells' members ship via the probed-cell
    semi-join, everything else passes through verbatim with its
    existing rank.
    """
    del_ids = deleted.select(F.col(deleted.columns[0]).alias(id_col)) \
        .distinct()
    surv = old_graph.join(
        del_ids.select(F.col(id_col).alias("q_id")), "q_id", "anti")
    aff_q = (surv.join(del_ids.select(F.col(id_col).alias("id")),
                       "id", "semi")
             .select("q_id").distinct())
    clean = (surv.join(aff_q, "q_id", "anti")
             .select("q_id", "id", "dist", "rank"))
    assigned2 = assigned.join(del_ids, id_col, "anti")
    aff_vec = (aff_q.select(F.col("q_id").alias(id_col))
               .join(assigned.select(id_col, vector_col), id_col))
    rescored = knn_join(assigned2.select(id_col, vector_col),
                        centroids, k=k, nprobe=nprobe, id_col=id_col,
                        vector_col=vector_col, c_id_col=c_id_col,
                        c_vector_col=c_vector_col,
                        assigned=assigned2, method=method,
                        shuffle_dtype=shuffle_dtype, queries=aff_vec)
    return clean.unionByName(rescored)


def knn_graph_fold(graph: DataFrame, probes: DataFrame,
                   assigned: DataFrame, new_batch: DataFrame,
                   centroids: DataFrame, k: int = 10, nprobe: int = 2,
                   id_col: str = "id", vector_col: str = "vector",
                   c_id_col: str = "id", c_vector_col: str = "vector",
                   method: str = "gemm",
                   shuffle_dtype: str = "double",
                   deletes: DataFrame | None = None
                   ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One ingest-time fold of a micro-batch into the persisted
    kNN-graph state triple — the ``foreachBatch`` body of a
    continuously-maintained corpus graph (verdict r10 Next #4).

    State = (graph, probes, assigned), exactly
    :func:`knn_join_incremental`'s inputs; this helper advances all
    three so the NEXT batch can fold against them:

    * graph'    = ``knn_join_incremental(...)`` — ≡ the full rebuild
      over (corpus ∪ batch) by the exact-equality contract;
    * probes'   = probes ∪ the batch rows' probe sets;
    * assigned' = assigned ∪ ``ivf_assign(batch)``.

    Each advanced table is eagerly materialized
    (:func:`~..functions.plan.materialize`): lineage would otherwise
    grow by one fold per batch and re-execute every prior fold on each
    action — the same truncation discipline the staged
    :func:`knn_join_sq8` path uses (in production, write the state to
    a table/Delta instead).  Per-batch cost is |batch|-proportional
    end to end: the three appended deltas are batch-sized, and the
    incremental graph update never scores old × old (see
    :func:`knn_join_incremental`'s scale note).

    ``deletes`` (optional, one id column) makes the fold an UPSERT:
    tombstoned rows are removed FIRST via
    :func:`knn_join_decremental` (blast-radius-bounded) and dropped
    from the probe/assign state, then ``new_batch`` folds in — so
    fold(deletes=D, batch=B) ≡ ``knn_join((corpus ∖ D) ∪ B)`` by the
    composition of the two exact-equality contracts.  ``new_batch``
    ids must be disjoint from the SURVIVING corpus; re-using a
    just-deleted id (an in-place update) is therefore valid.
    """
    if deletes is not None:
        del_ids = deletes.select(
            F.col(deletes.columns[0]).alias(id_col)).distinct()
        graph = knn_join_decremental(graph, assigned, del_ids,
                                     centroids, k=k, nprobe=nprobe,
                                     id_col=id_col,
                                     vector_col=vector_col,
                                     c_id_col=c_id_col,
                                     c_vector_col=c_vector_col,
                                     method=method,
                                     shuffle_dtype=shuffle_dtype)
        probes = probes.join(del_ids, id_col, "anti")
        assigned = assigned.join(del_ids, id_col, "anti")
    g2 = knn_join_incremental(graph, probes, assigned, new_batch,
                              centroids, k=k, nprobe=nprobe,
                              id_col=id_col, vector_col=vector_col,
                              c_id_col=c_id_col,
                              c_vector_col=c_vector_col,
                              method=method,
                              shuffle_dtype=shuffle_dtype)
    # advance the probe table in the SAME layout it arrived in (r11
    # ADVICE): a vector-carrying probe table (keep_vector=True — the
    # layout that lets the NEXT fold's update stage skip the
    # corpus-sized id→vector join) stays vector-carrying across folds
    # instead of silently degrading to the skinny layout after fold 1.
    keep_vec = vector_col in probes.columns
    new_probes = _nearest_cells(new_batch, centroids, nprobe, id_col,
                                vector_col, c_id_col, c_vector_col,
                                keep_vector=keep_vec)
    p_cols = [id_col, vector_col, "cell"] if keep_vec else [id_col, "cell"]
    p2 = probes.select(*p_cols).unionByName(new_probes.select(*p_cols))
    a2 = assigned.select(id_col, vector_col, "cell").unionByName(
        ivf_assign(new_batch, centroids, id_col, vector_col,
                   c_id_col, c_vector_col)
        .select(id_col, vector_col, "cell"))
    return materialize(g2), materialize(p2), materialize(a2)


def knn_join_sq8(df: DataFrame, centroids: DataFrame,
                 mins: list, maxs: list, k: int = 10, nprobe: int = 2,
                 rerank: int = 2,
                 id_col: str = "id", vector_col: str = "vector",
                 c_id_col: str = "id", c_vector_col: str = "vector",
                 assigned: DataFrame | None = None,
                 exclude_self: bool = True,
                 shuffle_dtype: str = "double",
                 probe_groups: int = 1,
                 probe_mass: int | None = None) -> DataFrame:
    """kNN self-join with SQ8 PROBE CODES — the high-nprobe scale
    variant of :func:`knn_join` (verdict r07 Next #2's "ascending
    ambition" option): the probe side ships each row's scalar-quantized
    codes as ONE BINARY of dim bytes instead of 8·dim float64 (8×) or
    4·dim float32 (4×), which is what bounds the n·nprobe probe-side
    cogroup exchange — the §9g single-box ceiling (f32 fit nprobe 12
    at 80% of the filesystem; codes fit nprobe ~50 in the same
    budget).

    Three stages, each mirrored EXACTLY by the generated oracle:

    1. per probed cell, rank (reconstructed-query × true-member) pairs
       by the ELEMENT-QUANTIZED approximate distance
       ``ad2 = Σ _q9((q̃_i - b_i)²)`` and keep the per-(prober, cell)
       top-k by (ad2, id) — a GEMM float pre-cut with +8 margin picks
       the candidates, the quantized recompute orders them, so the
       kept SET matches a sequential SQL evaluation bit-for-bit
       (same discipline as :func:`knn_join`'s gemm kernel);
    2. one global window keeps each prober's top-``k·rerank`` by
       (ad2, id) — the SQ8 shortlist;
    3. exact re-rank: the shortlist joins TRUE vectors on both sides
       (two exchanges of n·k·rerank skinny rows — never the corpus
       by more than its one pass) and the final top-k ranks by the
       exact quantized distance (``l2q_expr``), ties by id.

    Approximation contract: a true neighbour is lost only if SQ8
    reconstruction error demotes it below rank k IN ITS OWN CELL
    (stage 1) or below rank k·rerank globally (stage 2) — SQ8 is
    near-lossless at these ranks (§9e addendum 2/3), and ``rerank``
    widens the escape hatch.  Results are NOT bit-identical to
    :func:`knn_join`; they are identical whenever SQ8 ranking agrees
    with exact ranking down to rank k·rerank, which the equality test
    pins on the clustered fixture.

    ``shuffle_dtype="float"`` additionally ships the MEMBER side as
    float32 (lossless on f32-representable sources, like knn_join).

    ``probe_groups=g`` stages stage 1+2 over g cell partitions
    (``cell % g``) with IDENTICAL output: top-m over a union equals
    top-m over the union of per-part top-m, so each group's per-cell
    top-k feeds a per-prober top-``k·rerank`` WITHIN the group, the
    g skinny partials (n·k·rerank rows each) are materialized via
    :func:`~..functions.plan.materialize`, and one final window merges
    them.
    What this bounds is the NEXT footprint after SQ8 probe codes: at
    nprobe 16 × 10M the stage-1→2 window exchange is n·nprobe·k ≈
    1.6e9 rows, which overflowed the measured single box (§9g
    addendum 3) — staging divides that live shuffle by g at the cost
    of re-running the map-side probe kernel per group (no extra
    exchange; dereferenced group shuffles are reclaimed by the 1-min
    periodic-GC cleaner the session always sets).  On a cluster the
    same knob caps per-stage shuffle capacity instead of /tmp.
    Default 1 = single-pass, byte-identical plan to round 8's entry.

    Without a checkpoint directory the group partials are
    ``localCheckpoint`` blocks in executor storage — fine at test
    scale, but the MEMORY_AND_DISK deserialized blocks of an
    n·k·rerank partial are heap-resident while they build (measured:
    heap OOM at 10M×g4 in a 96 GB driver).  With
    ``setCheckpointDir`` they are reliable checkpoints SERIALIZED to
    that directory — zero heap residency, and with
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` +
    ``spark.checkpoint.compress=true`` superseded partials are
    deleted/compact.  Set one for corpus-scale staged runs.

    ``probe_mass`` switches to per-row ADAPTIVE mass-budget probing —
    identical rule and rationale as :func:`knn_join`'s ``probe_mass``
    (cells in ascending element-quantized distance order while the
    cumulative member count of closer cells is below the budget;
    ``nprobe`` is then ignored).  This is the knob that bounds the
    per-cell cogroup under cell-size skew at high coverage — the p22
    tail flattener (SCALE.md §9g): a prober whose neighbourhood is
    dense stops after one big cell instead of dragging nprobe
    fixed-count cells through stage 1.
    """
    from ..functions.distance import l2q_expr
    spark = df.sparkSession
    assigned, mass = _assigned_and_mass(df, centroids, assigned,
                                        probe_mass, id_col, vector_col,
                                        c_id_col, c_vector_col)
    qp = _nearest_cells(df, centroids, nprobe, id_col, vector_col,
                        c_id_col, c_vector_col, keep_vector=True,
                        sq8=(mins, maxs), mass=mass)
    qp = qp.select(F.col(id_col).alias("q_id"), "qcodes", "cell")

    _vt = "array<float>" if shuffle_dtype == "float" else None
    _cast = (lambda c: c.cast(_vt)) if _vt else (lambda c: c)
    bp = assigned.select(F.col(id_col).alias("id"),
                         _cast(F.col(vector_col)).alias("_bv"), "cell")
    mn8 = np.asarray(mins, dtype=np.float64)
    rg8 = np.asarray(maxs, dtype=np.float64) - mn8
    bcq = spark.sparkContext.broadcast((mn8, rg8, k, bool(exclude_self)))

    def cell_topk(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        mn_, rg_, k_, excl = bcq.value
        if len(left) == 0 or len(right) == 0 or k_ <= 0:
            return pd.DataFrame({"q_id": [], "id": [], "ad2": []})
        qids = left["q_id"].to_numpy()
        Qc = np.vstack([np.frombuffer(b, dtype=np.uint8)
                        for b in left["qcodes"].to_numpy()]
                       ).astype(np.float64)
        # reconstruction: mn + c/255*rg — elementwise-IEEE identical to
        # the oracle's recon CTE (same operand order)
        Qr = mn_ + Qc / 255.0 * rg_
        ids = right["id"].to_numpy()
        B = np.vstack([np.asarray(v, dtype=np.float64)
                       for v in right["_bv"].to_numpy()])
        order = np.argsort(ids, kind="stable")
        ids, B = ids[order], B[order]
        sqb = (B * B).sum(axis=1)
        kk = min(k_ + 8 + (1 if excl else 0), len(ids))
        oq, oi, od = [], [], []
        for lo in range(0, len(qids), 512):
            Qb, qb = Qr[lo:lo + 512], qids[lo:lo + 512]
            d2 = sqb[None, :] - 2.0 * (Qb @ B.T)
            if kk < len(ids):
                sel = np.argpartition(d2, kk - 1, axis=1)[:, :kk]
            else:
                sel = np.tile(np.arange(len(ids)), (len(Qb), 1))
            # quantized recompute of the GEMM-selected candidates: the
            # kept set + its ad2 values then match the oracle exactly
            diff = Qb[:, None, :] - B[sel]
            ad = _q9(np.square(diff)).sum(axis=2)
            for r in range(len(Qb)):
                cids, ar = ids[sel[r]], ad[r]
                if excl:
                    keep = cids != qb[r]
                    cids, ar = cids[keep], ar[keep]
                top = np.lexsort((cids, ar))[:k_]
                oq.append(np.full(len(top), qb[r], dtype=qids.dtype))
                oi.append(cids[top])
                od.append(ar[top])
        return pd.DataFrame({"q_id": np.concatenate(oq),
                             "id": np.concatenate(oi),
                             "ad2": np.concatenate(od)})

    id_t = df.schema[id_col].dataType.simpleString()
    sch = f"q_id {id_t}, id {id_t}, ad2 LONG"
    kk = k * rerank
    w_ap = Window.partitionBy("q_id").orderBy("ad2", "id")
    if probe_groups <= 1:
        scored = (qp.groupBy("cell").cogroup(bp.groupBy("cell"))
                  .applyInPandas(cell_topk, schema=sch))
        short = (scored.withColumn("_ar", F.row_number().over(w_ap))
                 .filter(F.col("_ar") <= kk).select("q_id", "id"))
    else:
        from pyspark import StorageLevel
        # Staged probe table: one row per probe, persisted DISK_ONLY.
        # Three layouts were built and measured back-to-back at
        # 10M × p16/g4 (SCALE.md §9j):
        #   flat persist (one row per probe, DISK_ONLY)   1847.7 s
        #   packed persist (one row per prober + explode) 2036.1 s
        #   per-group kernel recompute (probe fusion)     2872.4 s
        # disk reads of the redundant flat table are cheaper than
        # either the per-group selection sweep or the per-group array
        # explode + HOF filter; packed only saved scratch disk.
        pk = qp.persist(StorageLevel.DISK_ONLY)
        running = None
        for gi in range(probe_groups):
            # pmod, not %: SQL '%' keeps the sign of the dividend, so
            # negative cell ids would match no group
            in_g = F.pmod(F.col("cell"), F.lit(probe_groups)) == gi
            sg = (pk.filter(in_g).groupBy("cell")
                  .cogroup(bp.filter(in_g).groupBy("cell"))
                  .applyInPandas(cell_topk, schema=sch))
            # per-prober top-kk WITHIN the group, eagerly materialized:
            # the group's big shuffle is dereferenced (and reclaimed by
            # the periodic-GC cleaner) before the next group runs
            part = materialize(
                sg.withColumn("_ar", F.row_number().over(w_ap))
                .filter(F.col("_ar") <= kk)
                .select("q_id", "id", "ad2"))
            if running is None:
                running = part
            else:
                # incremental merge: fold into a running top-kk so the
                # LIVE state is always ≤ 2 skinny n·kk checkpoints plus
                # one n·2kk merge window — never g partials at once
                running = materialize(
                    running.unionByName(part)
                    .withColumn("_ar", F.row_number().over(w_ap))
                    .filter(F.col("_ar") <= kk)
                    .select("q_id", "id", "ad2"))
        pk.unpersist()       # stages 1-2 ran eagerly; stage 3 only
        short = running.select("q_id", "id")  # reads the checkpoints
    # stage 3: exact re-rank.  The shortlist rows carry a TRUE vector
    # through the q_id join exchange — the one unavoidable vector-per-
    # pair movement.  Two footprint levers, both value-preserving:
    # shuffle_dtype="float" ships those vectors as array<float>
    # (lossless on f32-representable sources, f32→f64 promotion is
    # exact inside l2q_expr), and probe_groups>1 stages the re-rank by
    # q_id % g — every query's shortlist is COMPLETE within its chunk,
    # so per-chunk top-k rows are final and just union (no merge
    # window), dividing the live vector-carrying exchange by g.
    qv = df.select(F.col(id_col).alias("q_id"),
                   _cast(F.col(vector_col)).alias("_qv"))
    bv = df.select(F.col(id_col).alias("id"),
                   _cast(F.col(vector_col)).alias("_bv"))
    w_rank = Window.partitionBy("q_id").orderBy("dist", "id")

    def _rerank(sub_short, sub_qv):
        return (sub_short.join(bv, on="id").join(sub_qv, on="q_id")
                .withColumn("dist", l2q_expr("_qv", "_bv"))
                .withColumn("rank", F.row_number().over(w_rank))
                .filter(F.col("rank") <= k)
                .select("q_id", "id", "dist", "rank"))

    if probe_groups <= 1:
        return _rerank(short, qv)
    out = None
    for gi in range(probe_groups):
        in_g = F.pmod(F.col("q_id"), F.lit(probe_groups)) == gi
        res_g = materialize(_rerank(short.filter(in_g), qv.filter(in_g)))
        out = res_g if out is None else out.unionByName(res_g)
    return out


def _key_bucket_pairs(df: DataFrame, index, threshold: float,
                      id_col: str, vector_col: str,
                      max_bucket: int | None) -> DataFrame:
    """Exact-code-key near-dup pairs, scored per bucket.

    Plan: codes ⋈ vectors (one vector per bucket MEMBER — O(n·T·D)
    rows, the only data-sized shuffle), hash-repartition on the bucket
    key + sort within partitions, then ONE mapInPandas kernel per
    partition walks the bucket boundaries and computes each bucket's
    in-bucket cosine matrix (normalized GEMM), emitting ONLY pairs
    >= threshold.  One kernel per PARTITION instead of a per-group
    applyInPandas (r12): thousands of small buckets otherwise each pay
    the per-group Arrow/pandas dispatch, which dominated the stage at
    bench scale; the per-bucket math (ids ascending, (m, dim) GEMM) is
    unchanged, so rows are bit-identical to the per-group spelling.
    A pair found in several buckets emits identical rows (same float
    math), collapsed by the final distinct.  Rounding is HALF_UP at 6
    dp like the exact path, so results are oracle-comparable."""
    sized = index.codes.groupBy("table", "division", "code_key").count()
    if max_bucket is not None:
        sized = sized.filter(F.col("count") <= max_bucket)
    members = (index.codes.join(sized.select("table", "division", "code_key"),
                                on=["table", "division", "code_key"])
               .select("table", "division", "code_key", "id")
               .join(df.select(F.col(id_col).alias("id"),
                               F.col(vector_col).alias("_v")), on="id"))
    # one mapInPandas over key-sorted partitions instead of a per-group
    # applyInPandas (r12 optimization round): thousands of small
    # buckets each paid the per-group Arrow/pandas dispatch, which
    # dominated the stage at bench scale.  The hash repartition on the
    # bucket key is the same exchange the groupBy paid; each bucket is
    # still scored as ONE (m, dim) GEMM over ids ascending, so the
    # emitted rows are bit-identical to the per-group spelling.
    nparts = df.sparkSession.sparkContext.defaultParallelism
    members = (members.repartition(nparts, "table", "division", "code_key")
               .sortWithinPartitions("table", "division", "code_key", "id"))

    def score_bucket(ids: np.ndarray, B: np.ndarray):
        m = len(ids)
        if m < 2:
            return None
        Bn = B / np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-30)
        S = Bn @ Bn.T
        iu, ju = np.triu_indices(m, k=1)
        s = S[iu, ju]
        keep = s >= threshold
        if not keep.any():
            return None
        s = s[keep]
        rounded = np.sign(s) * np.floor(np.abs(s) * 1e6 + 0.5) / 1e6
        return pd.DataFrame({"id_a": ids[iu[keep]], "id_b": ids[ju[keep]],
                             "cosine": rounded})

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tail = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if tail is not None:
                pdf = pd.concat([tail, pdf], ignore_index=True)
                tail = None
            t = pdf["table"].to_numpy()
            d = pdf["division"].to_numpy()
            ck = pdf["code_key"].to_numpy()
            change = np.flatnonzero((t[1:] != t[:-1]) | (d[1:] != d[:-1])
                                    | (ck[1:] != ck[:-1])) + 1
            bounds = np.concatenate(([0], change, [len(pdf)]))
            ids_all = pdf["id"].to_numpy()
            V_all = np.vstack([np.asarray(v, dtype=np.float64)
                               for v in pdf["_v"].to_numpy()])
            frames = []
            # hold the LAST bucket back — it may continue in the next
            # Arrow batch of this partition
            for i in range(len(bounds) - 2):
                lo, hi = bounds[i], bounds[i + 1]
                out = score_bucket(ids_all[lo:hi], V_all[lo:hi])
                if out is not None:
                    frames.append(out)
            tail = pdf.iloc[bounds[-2]:].reset_index(drop=True)
            if frames:
                yield pd.concat(frames, ignore_index=True)
        if tail is not None and len(tail):
            ids_t = tail["id"].to_numpy()
            V_t = np.vstack([np.asarray(v, dtype=np.float64)
                             for v in tail["_v"].to_numpy()])
            out = score_bucket(ids_t, V_t)
            if out is not None:
                yield out

    return (members.mapInPandas(
                run, schema="id_a BIGINT, id_b BIGINT, cosine DOUBLE")
            .distinct())


def embedding_near_dups(df: DataFrame, threshold: float = 0.95,
                        id_col: str = "id", vector_col: str = "vector",
                        index=None,
                        kernel_partitions: int | None = None,
                        max_exact_rows: int = 1_000_000,
                        bucket: str = "block",
                        max_bucket: int | None = 4096) -> DataFrame:
    """(id_a, id_b, cosine) pairs with cosine >= threshold, id_a < id_b.

    Scale path: when an ``AnnIndex`` is supplied, only pairs co-located
    in at least one LSH bucket are scored (bucketed candidate join — the
    all-pairs crossJoin never materializes).  ``bucket`` picks the
    blocking key:

    * ``"key"`` — pairs sharing an EXACT code key in any (table,
      division).  The recall-robust mode for high thresholds: a
      near-identical pair gets identical keys with probability ~1
      regardless of how many other vectors share them.  Scoring runs
      INSIDE a per-bucket Arrow kernel (vectors shuffle once per
      bucket member, never per pair — the sum-of-bucket² candidate
      set is compute, not a materialized DataFrame; at 1M embeddings
      the pair-join formulation spilled ~160 GB where this shape
      shuffles ~1 GB).  ``max_bucket`` (default 4096) is the df-cap
      analog (see ``jaccard_pairs``): buckets bigger than the cap are
      code-degenerate dense modes — scoring them all-pairs is
      O(bucket²) for pairs a coarse code can no longer discriminate —
      and are skipped, with the same documented recall trade as every
      frequency cap in the dedup family.
    * ``"block"`` (default, the registry/oracle semantics) — pairs
      co-located in a greedy partition block.  Volume is bounded by
      blocks·block_size² by construction, but when an equal-key run
      outgrows one block the run is CUT and pairs straddling the cut
      are missed — recall degrades as duplicate clusters outgrow
      ``block_size`` (the measured §9b limiter).  Prefer ``"key"``
      for dedup; "block" remains for volume-bounded screening.

    Without an index: exact all-pairs via broadcast — SMALL TABLES
    ONLY: the exact path collects the full (id, vector) matrix to the
    driver and broadcasts it, so it refuses inputs above
    ``max_exact_rows`` (default 1M ≈ 512 MB at dim=64 float64) with a
    pointer to the index path rather than driver-OOMing.

    The candidate id-pairs are round-robined over ``kernel_partitions``
    (default: cluster default parallelism) before the vector joins: a
    pair is 16 bytes of shuffle input but a dim-length cosine fold of
    compute, so AQE's byte-based coalescing under-parallelizes the
    scoring stage (one task at bench scale; 2.6 s → 1.3 s on 32 cores —
    same pathology as the Levenshtein kernel in ``edit_near_dups``)."""
    if bucket not in ("block", "key"):
        raise ValueError(f"bucket must be 'block' or 'key', got {bucket!r}")
    if index is not None:
        if kernel_partitions is None:
            kernel_partitions = df.sparkSession.sparkContext.defaultParallelism
        if bucket == "key":
            return _key_bucket_pairs(df, index, threshold, id_col,
                                     vector_col, max_bucket)
        bucket_col = "part_idx"
        codes = index.codes.select("table", "division", bucket_col,
                                   F.col("id").alias("_cid"))
        a = codes.select("table", "division", bucket_col,
                         F.col("_cid").alias("id_a"))
        b = codes.select("table", "division", bucket_col,
                         F.col("_cid").alias("id_b"))
        pairs = (a.join(b, on=["table", "division", bucket_col])
                 .filter(F.col("id_a") < F.col("id_b"))
                 .select("id_a", "id_b").distinct()
                 .repartition(kernel_partitions))
        va = df.select(F.col(id_col).alias("id_a"), F.col(vector_col).alias("_va"))
        vb = df.select(F.col(id_col).alias("id_b"), F.col(vector_col).alias("_vb"))
        scored = (pairs.join(va, "id_a").join(vb, "id_b")
                  .withColumn("cosine", cosine_expr("_va", "_vb")))
        return (scored.filter(F.col("cosine") >= threshold)
                .select("id_a", "id_b", F.round("cosine", 6).alias("cosine")))

    # exact path: blocked matmul — each partition scores its rows against
    # the broadcast normalized matrix (vectorized; the 2M-pair crossJoin
    # with per-pair fold expressions is ~40x slower at sf0.1)
    spark = df.sparkSession
    n_rows = df.count()
    if n_rows > max_exact_rows:
        raise ValueError(
            f"embedding_near_dups exact mode collects the whole table to "
            f"the driver: input has {n_rows} rows > max_exact_rows="
            f"{max_exact_rows}. Pass index=AnnIndex.build(df, cfg) to use "
            f"the LSH-bucketed scale path (or raise max_exact_rows if the "
            f"driver really has the memory).")
    rows = df.select(id_col, vector_col).collect()
    ids_all = np.array([r[0] for r in rows], dtype=np.int64)
    M = np.array([list(r[1]) for r in rows], dtype=np.float64)
    Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-30)
    bc = spark.sparkContext.broadcast((ids_all, Mn, float(threshold)))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_, Mn_, thr = bc.value
        pos = {int(i): p for p, i in enumerate(ids_)}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            B = np.vstack([np.asarray(v, dtype=np.float64)
                           for v in pdf[vector_col].to_numpy()])
            Bn = B / np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-30)
            bids = pdf[id_col].to_numpy().astype(np.int64)
            sims = Bn @ Mn_.T                       # (block, all)
            mask = (sims >= thr) & (bids[:, None] < ids_[None, :])
            bi, aj = np.nonzero(mask)
            if len(bi):
                s = sims[bi, aj]
                # HALF_UP like F.round / DuckDB round (np.round is
                # half-to-even and can disagree on exact midpoints)
                rounded = np.sign(s) * np.floor(np.abs(s) * 1e6 + 0.5) / 1e6
                yield pd.DataFrame({"id_a": bids[bi], "id_b": ids_[aj],
                                    "cosine": rounded})

    return df.select(id_col, vector_col).mapInPandas(
        run, schema="id_a BIGINT, id_b BIGINT, cosine DOUBLE")


def semantic_dedup(df: DataFrame, centroids: DataFrame,
                   threshold: float = 0.95,
                   id_col: str = "id", vector_col: str = "vector") -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster the corpus with a coarse k-means quantizer,
    then score pairwise cosine ONLY within each cluster → (cell, id_a,
    id_b, cosine) for pairs with cosine >= ``threshold``.  The canonical
    SemDeDup keep/drop rule (drop id_b of every surviving pair) is one
    ``select id_b distinct`` over this output.

    Pass ``centroids`` from :func:`kmeans_fit` (computed once at ingest,
    like the IVF quantizer) — fitting is not repeated per call.

    Scale shape: assignment is strictly map-side against the broadcast
    centroid matrix (:func:`_nearest_cells` — no crossJoin); the pair
    join is an equi-join on the cell id, so each task scores one
    cluster's block and the corpus-wide all-pairs product never
    materializes.  With k sized so clusters are ~|corpus|/k documents,
    work is O(n²/k) spread over k independent tasks — the published
    SemDeDup recipe's exact cost model."""
    # quantize: the assign chains into the oracle-compared pair set, so
    # a float near-tie must not flip between engines (ADVICE r07)
    assigned = _nearest_cells(df, centroids, 1, id_col, vector_col,
                              "cell", "vector", keep_vector=True,
                              quantize=True)
    a = assigned.select("cell", F.col(id_col).alias("id_a"),
                        F.col(vector_col).alias("_va"))
    b = assigned.select("cell", F.col(id_col).alias("id_b"),
                        F.col(vector_col).alias("_vb"))
    pairs = (a.join(b, on="cell")
             .filter(F.col("id_a") < F.col("id_b"))
             .withColumn("cosine", cosine_expr("_va", "_vb"))
             .filter(F.col("cosine") >= threshold))
    return pairs.select("cell", "id_a", "id_b",
                        F.round("cosine", 6).alias("cosine"))


def sq8_topk(base: DataFrame, queries: DataFrame, mins: list, maxs: list,
             k: int = 10, rerank: int = 4,
             id_col: str = "id", vector_col: str = "vector",
             q_id_col: str = "q_id", q_vector_col: str = "vector",
             codes: DataFrame | None = None) -> DataFrame:
    """Compressed-refine ANN: rank candidates on SQ8 codes (4–8× less
    data scanned than float vectors), then exact re-rank only the top
    ``k*rerank`` with the true vectors → (q_id, id, dist, rank ≤ k).

    This is the memory path the SQ8 codebook exists for: the approx
    stage is the shared :func:`~.pq._scan_shortlist` kernel over the
    codes column, scoring with :func:`_sq8_dist` (shuffle carries
    O(Q·k·rerank·n_batches) rows, like :func:`cosine_topk`), and the
    exact stage (:func:`~.pq._exact_rerank`) joins true vectors for
    only Q·k·rerank ids.  Reconstruction is elementwise IEEE double
    (mn + c/255·rg), identical in numpy and SQL, so the two-stage
    result is oracle-checkable; the ``rerank`` margin absorbs
    approx-boundary ties.

    STANDALONE mode (as called here, over the full ``codes`` table) is
    deliberately the brute-force twin: every query scans every code —
    O(N·Q) approx ranking at 1/4 the bytes of the float scan.  It is
    the exhaustive-compressed baseline, not the scale path.  The scale
    path is ``AnnIndex.with_sq8()`` + ``search_batch(sq8_rerank=...)``
    (``query/ann.py``), which ranks only the LSH-capped candidate pool
    of each query on SQ8 codes."""
    from .pq import (_TOPK_SCHEMA, _exact_rerank, _query_batch,
                     _scan_shortlist)
    if codes is None:
        codes = sq8_quantize(base, mins, maxs, id_col=id_col,
                             vector_col=vector_col)
    q_rows, q_ids, Q = _query_batch(queries, q_id_col, q_vector_col)
    if not q_rows:
        return base.sparkSession.createDataFrame([], _TOPK_SCHEMA)
    mn = np.array(mins, dtype=np.float64)
    rg = np.array(maxs, dtype=np.float64) - mn
    kk = k * rerank
    partial = _scan_shortlist(
        codes, "codes", q_ids, kk,
        lambda st, R, qi, cell: _sq8_dist(R, st[0][qi]), (Q, mn, rg),
        decode=lambda st, C: _sq8_decode(C, st[1], st[2]))
    return _exact_rerank(partial, base, queries, k, kk,
                         id_col, vector_col, q_id_col, q_vector_col)


def _sq8_decode(C: np.ndarray, mn: np.ndarray,
                rg: np.ndarray) -> np.ndarray:
    """SQ8 code rows ``C`` → their elementwise-IEEE reconstruction
    ``mn + C/255·rg`` (identical in numpy and SQL)."""
    return mn + C / 255.0 * rg


_SQ8_ROWS = 256


def _sq8_dist(R: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """SQ8 approximate distance of reconstructed rows ``R``
    (:func:`_sq8_decode`) to ``Q`` (one query, or one per row), as an
    element-quantized (``_q9``) int64 sum — order-exact in any engine
    (SCALE.md pathology #3 addendum, the duckdb parallel-agg flip);
    mirrored by SQL_SQ8_ANN's ad CTE.

    Scored ``_SQ8_ROWS`` rows at a time so the elementwise temporaries
    stay cache-sized: batch-sized ones made each call's speed depend on
    the allocator's page-fault churn (0.41 s against 0.55–1.26 s per
    10k-row, 64-d batch of 100 queries, measured on a 4-core Xeon)."""
    Q = np.broadcast_to(Q, R.shape)
    return np.concatenate([np.zeros(0, dtype=np.int64)] + [
        _q9(np.square(R[i:i + _SQ8_ROWS] - Q[i:i + _SQ8_ROWS])).sum(axis=1)
        for i in range(0, len(R), _SQ8_ROWS)])


def sq8_stats(df: DataFrame, vector_col: str = "vector") -> tuple[list, list]:
    """Per-dimension (mins, maxs) over the table — the SQ8 codebook.
    One tiny aggregate job (posexplode → groupBy pos → min/max); the
    result is 2×dim doubles, broadcast as literals into the encode plan."""
    stats = (df.select(F.posexplode(vector_col).alias("pos", "x"))
             .groupBy("pos").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
             .orderBy("pos").collect())
    return [r.mn for r in stats], [r.mx for r in stats]


def sq8_quantize(df: DataFrame, mins: list, maxs: list,
                 id_col: str = "id", vector_col: str = "vector") -> DataFrame:
    """Scalar 8-bit quantization: code_i = round((x_i - mn_i)/rg_i * 255).

    Output (id, codes ARRAY<INT>, mse DOUBLE): the uint8 codes (4x-8x
    memory reduction for ANN payloads; at scale the codes column replaces
    the float vectors in the refine stage, with exact re-rank only for
    the final top-k) and the per-vector reconstruction MSE.

    Entirely map-side native expressions — the codebook rides in the plan
    as literal arrays, so quantizing 10^9 vectors is one scan with no
    shuffle and no Python."""
    dim = len(mins)
    rngs = [mx - mn for mn, mx in zip(mins, maxs)]
    # zip_with evaluates its input arrays ONCE per row; an element_at(expr)
    # inside a transform lambda would instead re-evaluate the whole array
    # expression per element (O(dim^2) per row — measured 20x slower)
    out = (df.withColumn("_mn", F.array(*[F.lit(float(v)) for v in mins]))
           .withColumn("_rg", F.array(*[F.lit(float(v)) for v in rngs])))
    shifted = F.zip_with(F.col(vector_col), F.col("_mn"), lambda x, m: x - m)
    codes = F.zip_with(
        shifted, F.col("_rg"),
        lambda s, g: F.when(g > 0, F.round(s / g * 255))
        .otherwise(F.lit(0)).cast("int"))
    residual = F.zip_with(
        shifted, F.col("_rg"),
        lambda s, g: F.when(g > 0, s - F.round(s / g * 255) / 255.0 * g)
        .otherwise(s))
    mse = (F.aggregate(F.transform(residual, lambda e: e * e),
                       F.lit(0.0), lambda acc, x: acc + x) / dim)
    return (out.withColumn("codes", codes).withColumn("mse", mse)
            .select(F.col(id_col).alias("id"), "codes", "mse"))


def bq_thresholds(mins: list, maxs: list) -> list:
    """Per-dimension binary-quantization thresholds: the midrange
    (mn+mx)/2 of each dimension.  Midrange (unlike the mean) is exactly
    reproducible across engines — min/max are order-independent, so the
    same corpus yields bit-identical thresholds in Spark, numpy, and
    SQL, which keeps the whole BQ pipeline oracle-checkable without any
    quantized-boundary tricks."""
    return [(mn + mx) / 2.0 for mn, mx in zip(mins, maxs)]


_POPCOUNT16 = None


def _popcount64(a: np.ndarray) -> np.ndarray:
    """Vectorized popcount over a uint64 array (numpy<2 has no
    ``bitwise_count``): 16-bit table lookup over the raw words."""
    global _POPCOUNT16
    if _POPCOUNT16 is None:
        _POPCOUNT16 = np.array([bin(i).count("1") for i in range(1 << 16)],
                               dtype=np.uint8)
    v = np.ascontiguousarray(a).view(np.uint16)
    return _POPCOUNT16[v].reshape(*a.shape, 4).sum(axis=-1, dtype=np.int64)


def bq_encode(df: DataFrame, thresholds: list,
              id_col: str = "id", vector_col: str = "vector",
              keep: tuple = ()) -> DataFrame:
    """1-bit binary quantization: bit_j = (x_j > thr_j), packed MSB-first
    into 64-dim words → (id, words ARRAY<BIGINT>).  32× smaller than the
    float32 column — the cheapest ANN payload compression tier (below
    SQ8's 4× and PQ's 16-64×), and the only one whose approximate
    distance is pure integer ops (XOR + popcount).

    Entirely map-side native expressions (the thresholds ride in the
    plan as a literal array) — encoding 10^9 vectors is one scan, no
    shuffle, no Python, same as :func:`sq8_quantize`.

    ``keep`` names extra input columns to carry through unchanged
    (e.g. the vector itself, for the fused encode+assign scan in
    :func:`_ivf_bq_partial`)."""
    dim = len(thresholds)
    thr = F.array(*[F.lit(float(t)) for t in thresholds])
    out = df.withColumn(
        "_bits", F.zip_with(F.col(vector_col), thr,
                            lambda x, t: (x > t).cast("long")))
    words = [
        F.aggregate(F.slice("_bits", w + 1, min(64, dim - w)),
                    F.lit(0).cast("long"),
                    lambda acc, b: F.shiftleft(acc, 1).bitwiseOR(b))
        for w in range(0, dim, 64)]
    return out.select(F.col(id_col).alias("id"),
                      F.array(*words).alias("words"),
                      *[F.col(c) for c in keep])


def _bq_encode_cells(base: DataFrame, thresholds: list,
                     centroids: DataFrame,
                     id_col: str = "id", vector_col: str = "vector",
                     c_id_col: str = "id",
                     c_vector_col: str = "vector") -> DataFrame:
    """Fused (id, words, cell) corpus table: the JVM-native BQ word
    packing of :func:`bq_encode` chained into the Arrow coarse-assign
    kernel (:func:`_nearest_idx`, the exact `ivf_assign`
    semantics — lowest-cid ties) in ONE corpus scan, no join.

    The adaptive (``probe_mass``) BQ paths eagerly materialize this
    table so the cell census and the Hamming kernel both read the same
    materialized skinny blocks — one corpus pass per call where the
    census-only `ivf_assign` pass previously made it two (r12
    optimization round, guide §1.2/§2.4).  The words column is 32×
    smaller than the float vectors, so the materialization is cheap by
    construction."""
    spark = base.sparkSession
    enc = bq_encode(base, thresholds, id_col=id_col,
                    vector_col=vector_col, keep=(vector_col,))
    bc = spark.sparkContext.broadcast(_sorted_centroids(
        rows_cached(centroids, c_id_col, c_vector_col)))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cid_, C_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack([np.asarray(v, dtype=np.float64)
                           for v in pdf[vector_col].to_numpy()])
            yield pd.DataFrame({
                "id": pdf["id"].to_numpy(),
                "words": pdf["words"].to_numpy(),
                "cell": cid_[_nearest_idx(V, C_, 1)[:, 0]]})

    id_t = enc.schema["id"].dataType.simpleString()
    return enc.mapInPandas(
        run, schema=f"id {id_t}, words ARRAY<BIGINT>, cell BIGINT")


def bq_topk(base: DataFrame, queries: DataFrame, thresholds: list,
            k: int = 10, rerank: int = 8,
            id_col: str = "id", vector_col: str = "vector",
            q_id_col: str = "q_id", q_vector_col: str = "vector",
            codes: DataFrame | None = None) -> DataFrame:
    """Binary-quantization compressed-refine ANN: approximate rank by
    Hamming distance over packed sign bits (XOR + popcount, 32× less
    scanned data than the float column), then exact re-rank of the top
    ``k*rerank`` with true vectors → (q_id, id, dist, rank ≤ k).

    Same two-stage gated shape as :func:`sq8_topk`: the approx stage is
    the shared :func:`~.pq._scan_shortlist` kernel over the words
    column scoring with :func:`_hamming_score`.  Hamming is
    integer-valued with massive tie plateaus (every member of a
    code-degenerate cluster shares one value — a tie-INCLUSIVE cut kept
    ~whole clusters per batch, measured 10× at 10M as rerank grows);
    the kernel's exact batch top-``kk`` under the global (hamming, id)
    order stays partition-invariant and flat in rerank.  The exact
    stage joins true vectors for only Q·k·rerank ids.  1-bit codes are
    the coarsest tier, so ``rerank`` defaults higher (8) than SQ8's 4.

    STANDALONE mode scans every code per query — the exhaustive
    compressed baseline.  At scale, compose with LSH/IVF routing the
    same way SQ8 composes via ``AnnIndex.with_sq8``."""
    from .pq import (_TOPK_SCHEMA, _exact_rerank, _query_batch,
                     _scan_shortlist)
    if codes is None:
        codes = bq_encode(base, thresholds, id_col=id_col,
                          vector_col=vector_col)
    q_rows, q_ids, Q = _query_batch(queries, q_id_col, q_vector_col)
    if not q_rows:
        return base.sparkSession.createDataFrame([], _TOPK_SCHEMA)
    kk = k * rerank
    partial = _scan_shortlist(codes, "words", q_ids, kk, _hamming_score,
                              _pack_query_words(Q, thresholds))
    return _exact_rerank(partial, base, queries, k, kk,
                         id_col, vector_col, q_id_col, q_vector_col)


def _hamming_score(qwords: np.ndarray, W: np.ndarray, qi: int,
                   cell) -> np.ndarray:
    """Hamming distance of packed word rows ``W`` to query ``qi``."""
    return _popcount64(W ^ qwords[qi]).sum(axis=1)


def _pack_query_words(Q: np.ndarray, thresholds: list) -> np.ndarray:
    """Binary-quantize query vectors into packed MSB-first 64-bit words
    (the driver-side mirror of :func:`bq_encode`'s native expression),
    viewed as int64 like the BIGINT words column."""
    thr = np.array(thresholds, dtype=np.float64)
    dim = len(thresholds)
    n_words = (dim + 63) // 64
    qbits = (Q > thr)
    qwords = np.zeros((len(Q), n_words), dtype=np.uint64)
    for w in range(n_words):
        chunk = qbits[:, 64 * w:64 * (w + 1)]
        for j in range(chunk.shape[1]):                # MSB-first
            qwords[:, w] = ((qwords[:, w] << np.uint64(1))
                            | chunk[:, j].astype(np.uint64))
    return qwords.view(np.int64)


def ivf_bq_topk(base: DataFrame, queries: DataFrame, centroids: DataFrame,
                thresholds: list, k: int = 10, nprobe: int = 2,
                rerank: int = 8,
                id_col: str = "id", vector_col: str = "vector",
                q_id_col: str = "q_id", q_vector_col: str = "vector",
                c_id_col: str = "id", c_vector_col: str = "vector",
                assigned: DataFrame | None = None,
                codes: DataFrame | None = None,
                probe_mass: int | None = None) -> DataFrame:
    """IVF-BQ composition: the coarse quantizer prunes each query to
    ``nprobe`` cells, Hamming distance over packed sign bits ranks ONLY
    rows in probed cells (XOR + popcount, 32× less scanned data), exact
    re-rank of the top ``k·rerank`` with true vectors.

    This is the composition :func:`bq_topk`'s docstring prescribes and
    SCALE.md §9e's 10M measurement demands: standalone BQ recall
    collapses once a code-degenerate cluster outgrows the shortlist
    (0.51 at rerank 256 over 156k-vector clusters), because 1-bit codes
    cannot rank WITHIN a cluster.  Routing first means Hamming only has
    to separate the ~nprobe·(n/|C|) probed rows, and the shortlist
    budget is spent inside the right cells — recall is restored at a
    fraction of the scan (measured: SCALE.md §9e addendum).  At 100 TB
    the two prunings compose multiplicatively exactly as IVF-PQ's
    (`ivfpq_topk`), with BQ's 32× cheaper codes and integer-only
    approximate stage as the trade against ADC's finer ranking.

    Pass ``assigned`` / ``codes`` to reuse ingest-time materializations
    (both computed once per corpus, never per query).  ``probe_mass``
    switches to per-query ADAPTIVE probing (see
    :func:`ivf_bq_sq8_topk` / :func:`_probe_cells_local`)."""
    from .pq import _TOPK_SCHEMA, _exact_rerank
    kk = k * rerank
    mass = None
    if probe_mass is not None:
        assigned, codes, mass = _bq_adaptive_setup(
            base, centroids, thresholds, probe_mass, assigned, codes,
            id_col, vector_col, c_id_col, c_vector_col)
    partial = _ivf_bq_partial(base, queries, centroids, thresholds, kk,
                              nprobe, id_col, vector_col, q_id_col,
                              q_vector_col, c_id_col, c_vector_col,
                              assigned, codes, mass)
    if partial is None:
        return base.sparkSession.createDataFrame([], _TOPK_SCHEMA)
    return _exact_rerank(partial, base, queries, k, kk,
                         id_col, vector_col, q_id_col, q_vector_col)


def _bq_adaptive_setup(base: DataFrame, centroids: DataFrame,
                       thresholds: list, probe_mass: int,
                       assigned: DataFrame | None,
                       codes: DataFrame | None,
                       id_col: str, vector_col: str,
                       c_id_col: str, c_vector_col: str) -> tuple:
    """Cell census for the adaptive IVF-BQ family, scanning the corpus
    ONCE (r12 optimization round): with neither ``assigned`` nor
    ``codes`` supplied, the fused (id, words, cell) encode+assign table
    (:func:`_bq_encode_cells`) is eagerly checkpointed and serves as
    BOTH the census source and the Hamming-kernel input — the
    census-only `ivf_assign` corpus pass this path previously paid is
    gone.  A supplied persisted ``assigned`` keeps the cheap cached
    census exactly as before.  Returns ``(assigned, codes, mass)``,
    ``mass`` being the ``(counts, probe_mass)`` pair
    :func:`_probe_cells_local` takes."""
    if assigned is None and codes is None:
        codes = materialize(_bq_encode_cells(
            base, thresholds, centroids, id_col, vector_col, c_id_col,
            c_vector_col))
        census_src = codes
    elif assigned is None:
        # codes supplied without cells: BOTH consumers (census collect
        # + cell join) need only (id, cell), so one skinny assign pass
        # (keep_vector=False — no vectors through Arrow, guide §4.2)
        # is checkpointed and shared; payload is ~16 bytes/row
        assigned = materialize(_nearest_cells(
            base, centroids, 1, id_col, vector_col, c_id_col,
            c_vector_col, keep_vector=False))
        census_src = assigned
    else:
        census_src = assigned
    return assigned, codes, (_cell_counts(census_src), probe_mass)


def _ivf_bq_partial(base: DataFrame, queries: DataFrame,
                    centroids: DataFrame, thresholds: list, kk: int,
                    nprobe: int, id_col: str, vector_col: str,
                    q_id_col: str, q_vector_col: str,
                    c_id_col: str, c_vector_col: str,
                    assigned: DataFrame | None,
                    codes: DataFrame | None,
                    mass: tuple | None = None) -> DataFrame | None:
    """IVF-routed BQ Hamming pre-screen shared by :func:`ivf_bq_topk`
    and :func:`ivf_bq_sq8_topk`: (q_id, id, d) batch partials from
    :func:`~.pq._scan_shortlist`, at most ``kk`` rows per (query,
    batch), probed cells only.  ``None`` when the query set is empty.
    Probe sets are computed DRIVER-SIDE on the already-collected query
    batch by :func:`_probe_cells_local` — fixed top-``nprobe``, or
    adaptive with ``mass=(counts, budget)``.

    On-the-fly plan shape (r12 optimization round): when NEITHER
    ``assigned`` nor ``codes`` is supplied, the corpus scan is ONE
    fused pass — JVM-native BQ word packing feeding the kernel, which
    derives each row's coarse cell inline (:func:`_nearest_idx`,
    the exact `ivf_assign` semantics) and Hamming-scores probed cells.
    This removes the separate assign kernel pass over the corpus AND
    the codes⋈assigned id-join (guide §2.4/§4).  Pass persisted
    ``assigned``/``codes`` to keep the ingest-reuse join path."""
    from .pq import _query_batch, _scan_shortlist
    c_rows = rows_cached(centroids, c_id_col, c_vector_col)
    assign = None
    if assigned is None and codes is None:
        codes = bq_encode(base, thresholds, id_col=id_col,
                          vector_col=vector_col, keep=(vector_col,))
        assign = _sorted_centroids(c_rows)
    elif codes is None or "cell" not in codes.columns:
        # ingest-reuse join path; a pre-fused (id, words, cell) table —
        # e.g. the probe_mass path's checkpointed _bq_encode_cells
        # output — skips it
        if assigned is None:
            assigned = ivf_assign(base, centroids, id_col, vector_col,
                                  c_id_col, c_vector_col)
        if codes is None:
            codes = bq_encode(base, thresholds, id_col=id_col,
                              vector_col=vector_col)
        codes = codes.join(assigned.select(F.col(id_col).alias("id"),
                                           "cell"), on="id")
    q_rows, q_ids, Q = _query_batch(queries, q_id_col, q_vector_col)
    if not q_rows:
        return None
    probed = _probe_cells_local(q_rows, c_rows, nprobe, mass=mass)
    cell_lists = [probed.get(int(q), np.empty(0, dtype=np.int64))
                  for q in q_ids]
    return _scan_shortlist(codes, "words", q_ids, kk, _hamming_score,
                           _pack_query_words(Q, thresholds),
                           cell_lists=cell_lists, assign=assign,
                           vector_col=vector_col)


def ivf_bq_sq8_topk(base: DataFrame, queries: DataFrame,
                    centroids: DataFrame, thresholds: list,
                    mins: list, maxs: list,
                    k: int = 10, nprobe: int = 2, bq_keep: int = 32,
                    rerank: int = 4,
                    id_col: str = "id", vector_col: str = "vector",
                    q_id_col: str = "q_id", q_vector_col: str = "vector",
                    c_id_col: str = "id", c_vector_col: str = "vector",
                    assigned: DataFrame | None = None,
                    codes: DataFrame | None = None,
                    sq8_codes: DataFrame | None = None,
                    probe_mass: int | None = None) -> DataFrame:
    """Three-tier compressed ANN: IVF probe → BQ Hamming pre-screen to
    ``k·bq_keep`` → SQ8 rank to ``k·rerank`` → exact re-rank → top-k.

    This is the missing tier SCALE.md §9e names: 1-bit codes cannot
    rank WITHIN a code-degenerate cluster (standalone-BQ recall caps
    ~0.31 at 10M geometry), so re-ranking straight from Hamming either
    wastes shortlist budget (small ``rerank``) or decrypt/IO budget
    (huge ``rerank``).  Putting SQ8 between them restores ranking
    power at 1/4 the bytes of the float column: the 32×-cheaper BQ
    scan cuts probed cells to a ``k·bq_keep`` shortlist, the 4×-cheaper
    SQ8 reconstruction orders THAT shortlist well enough that only
    ``k·rerank`` true vectors are ever touched.

    Scale shape: tier-1 is :func:`ivf_bq_topk`'s map-side kernel
    (probed cells only, batch partials bounded by ``k·bq_keep``);
    tier-2 joins the broadcast-hinted shortlist to the SQ8 code table
    (Q·k·bq_keep rows of 1-byte/dim codes — never the corpus) and
    ranks in one Arrow kernel against the broadcast query matrix;
    tier-3 is the shared :func:`~.pq._exact_rerank` broadcast tail.
    Nothing corpus-sized shuffles in any tier.

    SQ8 distances are :func:`sq8_topk`'s (:func:`_sq8_dist`), so the
    whole three-tier result is oracle-checkable cross-engine.

    ``probe_mass`` switches probing from fixed top-``nprobe`` cells to
    PER-QUERY ADAPTIVE coverage (:func:`_probe_cells_local`): cells
    in quantized-distance order until the cumulative member count of
    prior cells reaches the budget.  This is the §9e-addendum-2
    ceiling fix — at 10M the p16 point sat AT its routing ceiling
    because fixed probes cover a fixed fraction of a shattered
    cluster; a mass budget spends the same scanned-row total where
    each query needs it.  The probe set stays engine-reproducible
    (quantized distances + (dd, cid) order + a cumulative-sum rule the
    oracle mirrors with one window)."""
    from .pq import _TOPK_SCHEMA, _exact_rerank, _query_batch, _shortlist
    kk1 = k * bq_keep
    mass = None
    if probe_mass is not None:
        assigned, codes, mass = _bq_adaptive_setup(
            base, centroids, thresholds, probe_mass, assigned, codes,
            id_col, vector_col, c_id_col, c_vector_col)
    partial = _ivf_bq_partial(base, queries, centroids, thresholds, kk1,
                              nprobe, id_col, vector_col, q_id_col,
                              q_vector_col, c_id_col, c_vector_col,
                              assigned, codes, mass)
    spark = base.sparkSession
    if partial is None:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    if sq8_codes is None:
        sq8_codes = sq8_quantize(base, mins, maxs, id_col=id_col,
                                 vector_col=vector_col).select("id", "codes")
    _, q_ids, Q = _query_batch(queries, q_id_col, q_vector_col)
    mn = np.array(mins, dtype=np.float64)
    rg = np.array(maxs, dtype=np.float64) - mn
    qidx = {int(q): i for i, q in enumerate(q_ids)}
    bc = spark.sparkContext.broadcast((qidx, Q, mn, rg))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qidx_, Q_, mn_, rg_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.vstack([np.asarray(c, dtype=np.int64)
                           for c in pdf["codes"].to_numpy()])
            rows = np.array([qidx_[int(q)] for q in pdf["q_id"].to_numpy()])
            yield pd.DataFrame({"q_id": pdf["q_id"].to_numpy(),
                                "id": pdf["id"].to_numpy(),
                                "d": _sq8_dist(_sq8_decode(C, mn_, rg_),
                                               Q_[rows])})

    id_type = sq8_codes.schema["id"].dataType.simpleString()
    # shortlist is Q·k·bq_keep-bounded: broadcast it so tier-2 reads
    # the code table map-side (same discipline as _exact_rerank)
    pairs = _shortlist(partial, kk1).hint("broadcast").join(sq8_codes,
                                                            on="id")
    partial2 = pairs.mapInPandas(
        score, schema=f"q_id BIGINT, id {id_type}, d BIGINT")
    return _exact_rerank(partial2, base, queries, k, k * rerank,
                         id_col, vector_col, q_id_col, q_vector_col)


def embedding_dim_stats(emb: DataFrame, vector_col: str = "embedding",
                        round_to: int = 4) -> DataFrame:
    """Per-dimension distribution report over an embedding column —
    the embedding-QA scan a pipeline runs before indexing or training
    on vectors (collapsed dimensions show as ~zero stddev, scale bugs
    as outlier min/max, normalization drift as |mean| >> 0).

    Output: (dim, n, mean, stddev, mn, mx) — one row per dimension.

    Scale shape: posexplode fans each row out dim-fold, then ONE
    aggregate keyed on the dimension index with map-side combine — the
    shuffle carries (partitions x dim) partial rows, not corpus-sized
    data.  The same stats feed sq8 codebook fitting (mins/maxs).
    """
    from ..functions.plan import select_posexploded
    e = select_posexploded(emb.select(F.col(vector_col).alias("v")),
                           F.col("v"), "dim", "x")
    return (e.groupBy(F.col("dim").cast("int").alias("dim"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg(F.col("x").cast("double")), round_to)
                  .alias("mean"),
                 F.round(F.stddev_samp(F.col("x").cast("double")), round_to)
                  .alias("stddev"),
                 F.round(F.min(F.col("x").cast("double")), round_to)
                  .alias("mn"),
                 F.round(F.max(F.col("x").cast("double")), round_to)
                  .alias("mx")))


def jl_matrix(in_dim: int, out_dim: int, seed: int = 7) -> np.ndarray:
    """Deterministic Johnson-Lindenstrauss projection matrix
    (in_dim x out_dim): iid Gaussian entries from PCG64(seed), scaled
    by 1/sqrt(out_dim) so expected squared distances are preserved
    (Johnson & Lindenstrauss 1984; Achlioptas 2003 database-friendly
    framing).  The SAME matrix feeds the Spark kernel and the
    generated SQL oracle (inlined as literals), so the projection is
    engine-portable by construction."""
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.standard_normal((in_dim, out_dim)) / np.sqrt(out_dim)


def jl_project(df: DataFrame, out_dim: int = 8, seed: int = 7,
               id_col: str = "id", vector_col: str = "vector") -> DataFrame:
    """Random-projection dimensionality reduction (JL transform) —
    compress an embedding column ~dim/out_dim-fold while approximately
    preserving pairwise distances.  The 100 TB uses: cheap first-pass
    ANN / near-dup screening over a narrow projection (read out_dim
    floats per row instead of dim), and decorrelated low-dim sketches
    for drift monitoring.  Distortion is the JL bound, ~1/sqrt(out_dim)
    relative — a screening tier, with exact re-rank on true vectors as
    the refine tier (the repo-wide two-tier pattern).

    Map-only: ONE Arrow kernel per batch against the closure-shipped
    (in_dim x out_dim) matrix — zero exchanges at any scale.  Each
    output component is an ELEMENT-QUANTIZED int64 sum
    (Σ_i round(x_i·g_ij·1e9), the ``_q9`` treatment), so numpy's
    reduction order, Spark, and a DuckDB fold land on bit-identical
    values (SCALE.md pathology #3 discipline).

    Returns (id_col, vector_col) with the projected array<double>
    (components at 1e-9 resolution).
    """
    G = jl_matrix  # resolved below once dim is known, per batch group
    seed_ = seed
    id_t = df.schema[id_col].dataType.simpleString()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Gm = None
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.vstack([np.asarray(v, dtype=np.float64)
                           for v in pdf[vector_col].to_numpy()])
            if Gm is None:
                Gm = G(X.shape[1], out_dim, seed_)
            # element-quantize each x_i*g_ij term, sum as int64 — one
            # output column at a time, so the working set is
            # O(batch × in_dim) per column, never the full
            # batch × in_dim × out_dim tensor (a 1024-d embedding at
            # a 10k-row Arrow batch would otherwise cube to ~5 GB)
            T = np.empty((len(X), out_dim), dtype=np.float64)
            for j in range(out_dim):
                T[:, j] = _q9(X * Gm[None, :, j]).sum(axis=1) / 1e9
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(),
                                vector_col: list(T)})

    return df.select(id_col, vector_col).mapInPandas(
        run, schema=f"{id_col} {id_t}, {vector_col} ARRAY<DOUBLE>")


def jl_topk(base: DataFrame, queries: DataFrame, k: int = 10,
            rerank: int = 4, out_dim: int = 8, seed: int = 7,
            id_col: str = "id", vector_col: str = "vector",
            q_id_col: str = "q_id") -> DataFrame:
    """Random-projection-screened ANN: rank approximately in JL space
    (``out_dim`` doubles per row scanned instead of dim — 8× less at
    64→8), then exact re-rank of the top ``k*rerank`` shortlist with
    true vectors — ``jl_project``'s screening tier instantiated as the
    repo-standard compressed-refine pattern (SQ8/BQ/PQ siblings).

    Where it fits among the tiers: SQ8 reads dim BYTES (8× under
    float64, near-lossless rank), BQ reads dim BITS (64×, recall-
    capped); JL reads ``out_dim`` DOUBLES with JL-bound distortion —
    the right screen when vectors are very wide (out_dim is fixed by
    the distortion target, so the ratio GROWS with dim, e.g. 1024→32
    is 32×) and no quantizer state (mins/maxs/codebook) may be
    maintained: the matrix is a pure function of (seed, dims).

    Determinism: projections are element-quantized int64 sums
    (``jl_project``), both ranking stages use ``l2q_expr``/(value, id)
    orderings — bit-identical across engines.

    Scale shape: the screen is a broadcast-query-matrix crossJoin over
    the PROJECTED table (the repo-sanctioned crossJoin class); the
    per-query shortlist window is a rank-filter (WindowGroupLimit:
    partial top-n before the exchange, so the shuffle carries
    ≤ partitions × Q × k·rerank skinny rows, never n×Q); the exact
    tail joins true vectors for Q·k·rerank ids only.
    """
    from ..functions.distance import l2q_expr
    if k <= 0 or rerank <= 0:
        raise ValueError("k and rerank must be positive")
    bp = (jl_project(base, out_dim=out_dim, seed=seed,
                     id_col=id_col, vector_col=vector_col)
          .select(id_col, F.col(vector_col).alias("_bp")))
    qp = (jl_project(queries, out_dim=out_dim, seed=seed,
                     id_col=q_id_col, vector_col=vector_col)
          .select(q_id_col, F.col(vector_col).alias("_qp")))
    w_short = Window.partitionBy(q_id_col).orderBy("ad", id_col)
    shortlist = (bp.crossJoin(F.broadcast(qp))
                 .withColumn("ad", l2q_expr("_bp", "_qp"))
                 .withColumn("_rn", F.row_number().over(w_short))
                 .filter(F.col("_rn") <= k * rerank)
                 .select(q_id_col, id_col))
    w_rank = Window.partitionBy(q_id_col).orderBy("dist", id_col)
    return (shortlist
            .join(base.select(id_col, F.col(vector_col).alias("_bv")),
                  id_col)
            .join(F.broadcast(queries.select(
                q_id_col, F.col(vector_col).alias("_qv"))), q_id_col)
            .withColumn("dist", l2q_expr("_qv", "_bv"))
            .withColumn("rank", F.row_number().over(w_rank))
            .filter(F.col("rank") <= k)
            .select(q_id_col, id_col, "dist", "rank"))


def semantic_decontaminate(base: DataFrame, bench: DataFrame,
                           threshold: float = 0.95,
                           id_col: str = "id", vector_col: str = "vector",
                           b_id_col: str = "id",
                           b_vector_col: str = "vector") -> DataFrame:
    """Embedding-level benchmark decontamination: flag every training
    vector whose cosine to ANY benchmark vector reaches ``threshold``
    → (id, bench_id, cosine) pairs.  The n-gram ``decontaminate``
    op catches verbatim leakage; this catches paraphrased/translated
    leakage the lexical check misses (the published eval-contamination
    recipe for embedding-indexed corpora).  The distinct ``id`` set of
    this output is the drop list.

    Scale shape: the benchmark set is small BY CONSTRUCTION (an eval
    suite, not a corpus) — it broadcasts as a dense matrix and the
    corpus side is ONE map-only blocked-matmul pass (same Arrow kernel
    family as :func:`cosine_topk`), emitting only above-threshold
    pairs.  Zero shuffles on the corpus side; at 100 TB this is a
    straight scan, embarrassingly parallel across executors.
    """
    import numpy as np
    import pandas as pd
    spark = base.sparkSession
    b_rows = rows_cached(bench, b_id_col, b_vector_col)
    out_schema = f"id BIGINT, bench_id BIGINT, cosine DOUBLE"
    if not b_rows:
        return spark.createDataFrame([], out_schema)
    b_ids = np.array([r[0] for r in b_rows], dtype=np.int64)
    B = np.array([list(r[1]) for r in b_rows], dtype=np.float64)
    Bn = B / np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-30)
    bc = spark.sparkContext.broadcast((b_ids, Bn, float(threshold)))

    def run(batches):
        b_ids_, Bn_, thr = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.vstack([np.asarray(v, dtype=np.float64)
                           for v in pdf[vector_col].to_numpy()])
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True),
                                1e-30)
            ids = pdf[id_col].to_numpy()
            sims = Xn @ Bn_.T                       # (n, |bench|)
            ri, ci = np.nonzero(sims >= thr)
            if len(ri) == 0:
                continue
            yield pd.DataFrame({"id": ids[ri].astype(np.int64),
                                "bench_id": b_ids_[ci],
                                "cosine": sims[ri, ci]})

    pairs = base.select(id_col, vector_col).mapInPandas(run, schema=out_schema)
    return pairs.select("id", "bench_id", F.round("cosine", 6).alias("cosine"))
