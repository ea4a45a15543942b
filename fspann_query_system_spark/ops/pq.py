"""Product quantization (PQ) ANN — the subspace member of the
vector-compression family next to SQ8 (scalar, ``similarity.sq8_*``) and
IVF (coarse, ``similarity.ivf_*``): train per-subspace k-means
codebooks, encode each vector as ``m_sub`` small cell ids, and score
queries with asymmetric-distance (ADC) lookup tables.

Beyond-reference operator (the reference engine has no quantizer at
all — its refine stage decrypts full vectors,
``QueryServiceImpl.java:219-271``); the algorithm is Jégou et al. 2011,
*Product quantization for nearest neighbor search* — the standard
100 TB ANN memory layout (IVF-PQ): a 64-dim float32 vector (256 B)
becomes ``m_sub`` bytes (4–16 B), a 16–64× scan reduction before the
exact re-rank touches any float vector.

Scale shape (mirrors the certified ``kmeans_fit`` / ``sq8_topk``
design):
  train  — one Arrow kernel pass per Lloyd round; the kernel emits
           PRE-AGGREGATED per-batch (sub, cell, spos, sum, count) rows,
           so the update shuffle carries O(n_batches · m·k·d_sub) tiny
           rows, never data rows;
  encode — map-side against the broadcast codebook tensor, no shuffle;
  query  — ADC lookup tables (Q × m·k doubles) broadcast; per-batch
           partial top-(k·rerank) so the shuffle carries
           O(Q·k·rerank·n_batches) rows; exact re-rank joins true
           vectors for only Q·k·rerank ids.

Cross-engine determinism (same contract as ``kmeans_fit``): init = the
k lowest-id vectors (cell i = i-th lowest, per subspace); centroid
updates rounded to 6 decimals at each round boundary; argmin ties break
toward the lowest cell id; empty cells keep their previous centroid.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.plan import materialize, rows_cached


def _codebook_tensor(codebook: DataFrame) -> np.ndarray:
    """(sub, cell, vector) rows → dense (m_sub, k, d_sub) float64 tensor,
    cells ordered ascending so ``np.argmin``'s first-minimum rule is the
    lowest-cell tie-break.

    When the codebook came from :func:`pq_fit` in THIS process, the
    trained tensor is attached to the DataFrame object and returned
    directly — the driver already holds the exact float64 values the
    collect would round-trip (createDataFrame(float) → DoubleType →
    collect is exact), so the scheduled job buys nothing."""
    local = getattr(codebook, "_fspann_codebook_tensor", None)
    if local is not None:
        return local.copy()
    rows = rows_cached(codebook, "sub", "cell", "vector")
    m = max(r["sub"] for r in rows) + 1
    k = max(r["cell"] for r in rows) + 1
    d = len(rows[0]["vector"])
    T = np.empty((m, k, d), dtype=np.float64)
    seen = 0
    for r in rows:
        T[r["sub"], r["cell"]] = r["vector"]
        seen += 1
    if seen != m * k:
        raise ValueError(f"codebook has {seen} rows, expected {m * k}")
    return T


def _q9(a: np.ndarray) -> np.ndarray:
    """Element quantization to 1e-9 as int64, HALF_UP like Spark/DuckDB
    round().  Summing quantized elements is associative AND commutative,
    so every distance in the PQ chain (training assign, encode assign,
    LUT entries, ADC sums) is bit-identical under ANY merge order in
    ANY engine — the fix for the measured DuckDB parallel-aggregation
    flip (SCALE.md pathology #3 addendum).  1e-9 quanta on O(10³)
    squared-diff elements keep d_sub·1e-9 precision, far below any
    meaningful distance gap; int64 magnitudes stay < 6e13 per LUT
    entry at |x| <= 30."""
    b = a * 1e9
    return (np.sign(b) * np.floor(np.abs(b) + 0.5)).astype(np.int64)


def _sweep(B: np.ndarray, C: np.ndarray, quantize: bool) -> np.ndarray:
    """(rows, |C|) squared L2 distances of ``B``'s rows to ``C``'s, one
    vectorized row-sweep ``(B - C_j)² @ 1`` per row of ``C``, so memory
    is O(rows×|C|) distances, never a rows×|C|×dim cube.  ``quantize``
    sums element-quantized (``_q9``) squared diffs into int64 — the
    order-free form every oracle-mirrored assign in the PQ chain and
    the coarse stage uses — instead of floats."""
    d2 = np.empty((len(B), len(C)), dtype=np.int64 if quantize else np.float64)
    for j in range(len(C)):
        sq = np.square(B - C[j])
        d2[:, j] = (_q9(sq) if quantize else sq).sum(axis=1)
    return d2


def pq_fit(df: DataFrame, m_sub: int = 4, k: int = 8, iters: int = 2,
           id_col: str = "id", vector_col: str = "vector",
           init_offset: int = 0) -> DataFrame:
    """Train per-subspace Lloyd codebooks → (sub, cell, vector) with
    ``m_sub * k`` rows, d_sub = dim / m_sub components each.

    One data pass per round: the assignment kernel slices each vector
    into ``m_sub`` subvectors, argmins every subspace against the
    broadcast codebook tensor, and emits batch-local partial sums — the
    only shuffle per round aggregates those m·k·d_sub-sized partials.

    ``init_offset``: init from the k lowest ids with id >= offset.
    REQUIRED when training on residuals whose coarse centroids are
    themselves corpus rows (ids < offset): those rows' residuals are
    identically zero, so a zero-init codebook makes every round-1
    distance an exact tie — and cross-engine aggregation-order noise
    then breaks the ties differently (observed DuckDB-vs-numpy
    divergence).  Distinct init points keep the iteration in the
    proven deterministic regime.
    """
    spark = df.sparkSession
    # init: subvectors of the k lowest-id rows (>= init_offset);
    # cell i = i-th lowest id.  orderBy+limit is a distributed partial
    # top-k (no global window).
    head = (df.select(id_col, vector_col)
            .filter(F.col(id_col) >= init_offset)
            .orderBy(id_col).limit(k).collect())
    if len(head) < k:
        raise ValueError(f"need >= {k} rows to init {k} cells")
    dim = len(head[0][vector_col])
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    d_sub = dim // m_sub
    T = (np.array([list(r[vector_col]) for r in head], dtype=np.float64)
         .reshape(k, m_sub, d_sub).transpose(1, 0, 2).copy())

    sums_schema = ("sub INT, cell INT, spos INT, s LONG, c LONG")
    for _ in range(iters):
        bc = spark.sparkContext.broadcast(T)

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            T_ = bc.value
            m_, k_, d_ = T_.shape
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                B = np.vstack([np.asarray(v, dtype=np.float64)
                               for v in pdf[vector_col].to_numpy()]
                              ).reshape(-1, m_, d_)
                sub_l, cell_l, spos_l, s_l, c_l = [], [], [], [], []
                for s in range(m_):
                    Bs = B[:, s, :]                      # (n, d_sub)
                    # ties -> lowest cell
                    a = np.argmin(_sweep(Bs, T_[s], True), axis=1)
                    for j in range(k_):
                        mask = a == j
                        n_j = int(mask.sum())
                        if n_j == 0:
                            continue
                        # element-quantized int64 partial: the merge
                        # is then order-independent in ANY engine (see
                        # kmeans_fit — the duckdb-parallel-avg flip)
                        ssum = _q9(Bs[mask]).sum(axis=0)
                        sub_l.append(np.full(d_, s, dtype=np.int32))
                        cell_l.append(np.full(d_, j, dtype=np.int32))
                        spos_l.append(np.arange(d_, dtype=np.int32))
                        s_l.append(ssum)
                        c_l.append(np.full(d_, n_j, dtype=np.int64))
                if not sub_l:
                    continue
                yield pd.DataFrame({
                    "sub": np.concatenate(sub_l),
                    "cell": np.concatenate(cell_l),
                    "spos": np.concatenate(spos_l),
                    "s": np.concatenate(s_l),
                    "c": np.concatenate(c_l)})

        # partials are element-quantized int64 sums, so a plain F.sum
        # merges them EXACTLY in any order.  The round-6 sorted-partial
        # merge protected only the Spark side; the DuckDB oracle's
        # parallel avg() still merged double partials in thread order
        # and measurably flipped between two states under load (17/3
        # in 20 runs of the same SQL — SCALE.md pathology #3 addendum).
        # Both engines now sum identical integers, so the round(.,6)
        # boundary cannot flip anywhere.
        upd_rows = (df.select(vector_col).mapInPandas(run, schema=sums_schema)
                    .groupBy("sub", "cell", "spos")
                    .agg(F.round(F.sum("s") / F.lit(1e9) / F.sum("c"), 6)
                         .alias("v"))
                    .collect())
        bc.unpersist()
        # empty cells keep the previous centroid (rows simply absent)
        for r in upd_rows:
            T[r["sub"], r["cell"], r["spos"]] = r["v"]

    flat = [(s, c, [float(x) for x in T[s, c]])
            for s in range(m_sub) for c in range(k)]
    out = spark.createDataFrame(
        flat, "sub INT, cell INT, vector ARRAY<DOUBLE>")
    # the trained tensor IS the codebook: attach it so a same-process
    # consumer (`_codebook_tensor`) skips the collect-back job
    out._fspann_codebook_tensor = T.copy()
    return out


def pq_encode(df: DataFrame, codebook: DataFrame,
              id_col: str = "id", vector_col: str = "vector",
              carry_cell: bool = False,
              assign_centroids: DataFrame | None = None) -> DataFrame:
    """Encode each vector as its per-subspace nearest cells →
    (id, codes ARRAY<INT> length m_sub).  Strictly map-side against the
    broadcast codebook tensor — encoding 10^9 vectors is one scan with
    no shuffle; ties break toward the lowest cell id.

    Two optional fusions (r12 optimization round) let `ivfpq_topk`
    derive its (id, codes, cell) table in THIS one pass instead of
    joining a separate `ivf_assign` pass on id:

    * ``carry_cell=True`` — ``df`` already carries a ``cell`` column
      (e.g. :func:`residual_table` output); pass it through.
    * ``assign_centroids=<coarse centroid table>`` — compute each
      row's coarse cell inline with the exact `ivf_assign` semantics
      (:func:`~.similarity._nearest_idx`, float, ties → lowest
      centroid id).

    Both emit (id, codes, cell); mutually exclusive."""
    if carry_cell and assign_centroids is not None:
        raise ValueError("carry_cell and assign_centroids are mutually "
                         "exclusive")
    from .similarity import _nearest_idx, _sorted_centroids
    spark = df.sparkSession
    assign_state = None
    if assign_centroids is not None:
        assign_state = _sorted_centroids(
            rows_cached(assign_centroids, id_col, vector_col))
    bc = spark.sparkContext.broadcast((_codebook_tensor(codebook),
                                       assign_state))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        T_, assign_ = bc.value
        m_, _, d_ = T_.shape
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack([np.asarray(v, dtype=np.float64)
                           for v in pdf[vector_col].to_numpy()])
            B = V.reshape(-1, m_, d_)
            codes = np.empty((len(B), m_), dtype=np.int32)
            for s in range(m_):
                codes[:, s] = np.argmin(_sweep(B[:, s, :], T_[s], True), axis=1)
            out = {"id": pdf[id_col].to_numpy(), "codes": list(codes)}
            if assign_ is not None:
                cid_, C_ = assign_
                out["cell"] = cid_[_nearest_idx(V, C_, 1)[:, 0]]
            elif carry_cell:
                out["cell"] = pdf["cell"].to_numpy()
            yield pd.DataFrame(out)

    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"id {id_type}, codes ARRAY<INT>"
    in_cols = [id_col, vector_col]
    if carry_cell:
        schema += ", cell BIGINT"
        in_cols.append("cell")
    elif assign_state is not None:
        schema += ", cell BIGINT"
    return df.select(*in_cols).mapInPandas(run, schema=schema)


_TOPK_SCHEMA = "q_id BIGINT, id BIGINT, dist DOUBLE, rank INT"


def _query_batch(queries: DataFrame, q_id_col: str,
                 q_vector_col: str) -> tuple:
    """The collected query batch of a compressed-refine call →
    ``(rows, int64 ids, float64 matrix)``; ``rows`` is empty when the
    batch is."""
    q_rows = rows_cached(queries, q_id_col, q_vector_col)
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    return q_rows, q_ids, Q


def _scan_shortlist(codes: DataFrame, code_col: str, q_ids: np.ndarray,
                    kk: int, score, state, decode=None,
                    cell_lists: list | None = None,
                    assign: tuple | None = None,
                    vector_col: str = "vector") -> DataFrame:
    """The approximate stage of every compressed-refine family (SQ8, BQ,
    PQ, IVF-BQ, IVF-PQ): one Arrow pass over ``codes`` →
    (q_id, id, d BIGINT), at most ``kk`` rows per (query, batch).

    Each batch's ``code_col`` list column is stacked once into an int64
    matrix, which ``decode(state, M)`` (default: none) turns once per
    batch into the matrix ``M`` the codec scores — SQ8 reconstructs its
    floats there rather than once per query.  ``score(state, M, qi,
    cell)`` returns the int64 approximate distances of those rows to
    query ``qi`` (``cell`` is the probed cell the rows sit in, None
    without routing).  ``state`` is the codec's query-side arrays (SQ8
    ``(Q, mn, rg)``, packed query words, ADC tables) and rides in the
    call's one broadcast.

    With ``cell_lists`` (per-query probed cells, aligned with ``q_ids``)
    only rows in a query's probed cells are scored: the batch is sorted
    by cell once and each probed cell is a ``searchsorted`` range, so a
    query touches its probed rows, not the batch.  Row cells come from
    the ``cell`` column or, with ``assign=(cid_sorted, C_sorted)``, are
    derived inline from ``vector_col`` (:func:`~.similarity._nearest_idx`,
    the exact `ivf_assign` semantics) — the fused encode+assign scan.

    The batch cut is the exact batch top-``kk`` under the global
    ``(d, id)`` order: ``np.partition`` picks the kth distance, every
    row below it is kept, and the tie plateau at it is cut to the rows
    still needed by an ``argpartition`` on id — linear in the batch for
    any id type, however wide the plateau.  A global top-``kk`` row is
    therefore always a batch top-``kk`` row — the shortlist cannot
    depend on how the table is partitioned — and a plateau (duplicated
    vectors, code-degenerate clusters, integer Hamming distances) never
    ships more than ``kk`` rows per batch."""
    from .similarity import _nearest_idx
    cols = ["id", code_col]
    if assign is not None:
        cols.append(vector_col)
    elif cell_lists is not None:
        cols.append("cell")
    bc = codes.sparkSession.sparkContext.broadcast(
        (q_ids, kk, state, cell_lists, assign))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_ids_, kk_, st, cells_, assign_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.vstack([np.asarray(c, dtype=np.int64)
                           for c in pdf[code_col].to_numpy()])
            if decode is not None:
                M = decode(st, M)
            ids = pdf["id"].to_numpy()
            if cells_ is not None:
                if assign_ is not None:
                    cid_, C_ = assign_
                    V = np.vstack([np.asarray(v, dtype=np.float64)
                                   for v in pdf[vector_col].to_numpy()])
                    row_cell = cid_[_nearest_idx(V, C_, 1)[:, 0]]
                else:
                    row_cell = np.asarray(pdf["cell"].to_numpy(),
                                          dtype=np.int64)
                order = np.argsort(row_cell, kind="stable")
                sorted_cells = row_cell[order]
            frames = []
            for qi in range(len(q_ids_)):
                if cells_ is None:
                    keep = slice(None)
                    d = score(st, M, qi, None)
                else:
                    cs = cells_[qi]
                    lo = np.searchsorted(sorted_cells, cs, side="left")
                    hi = np.searchsorted(sorted_cells, cs, side="right")
                    segs = [(c, order[a:b])
                            for c, a, b in zip(cs, lo, hi) if b > a]
                    if not segs:
                        continue
                    keep = np.concatenate([rows for _, rows in segs])
                    d = np.concatenate([score(st, M[rows], qi, c)
                                        for c, rows in segs])
                kid = ids[keep]
                part = np.arange(len(d))
                if kk_ < len(d):
                    kth = np.partition(d, kk_ - 1)[kk_ - 1]
                    less = np.flatnonzero(d < kth)
                    tie = np.flatnonzero(d == kth)
                    need = kk_ - len(less)
                    if len(tie) > need:
                        tie = tie[np.argpartition(kid[tie], need - 1)[:need]]
                    part = np.concatenate([less, tie])
                frames.append(pd.DataFrame({
                    "q_id": np.full(len(part), q_ids_[qi], dtype=np.int64),
                    "id": kid[part], "d": d[part]}))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    id_type = codes.schema["id"].dataType.simpleString()
    return codes.select(*cols).mapInPandas(
        run, schema=f"q_id BIGINT, id {id_type}, d BIGINT")


def _shortlist(partial: DataFrame, kk: int) -> DataFrame:
    """(q_id, id, d) partials → each query's first ``kk`` ids under the
    (d, id) order."""
    w = Window.partitionBy("q_id").orderBy(F.col("d").asc(),
                                           F.col("id").asc())
    return (partial.withColumn("_ar", F.row_number().over(w))
            .filter(F.col("_ar") <= kk).select("q_id", "id"))


def _exact_rerank(partial: DataFrame, base: DataFrame, queries: DataFrame,
                  k: int, kk: int, id_col: str, vector_col: str,
                  q_id_col: str, q_vector_col: str) -> DataFrame:
    """Shared compressed-refine tail: (q_id, id, d) partials →
    (d, id)-ordered shortlist of ``kk`` → exact-L2 re-rank of only
    those ids with true vectors → top ``k``."""
    from ..functions.distance import l2_expr
    qv = queries.select(F.col(q_id_col).alias("q_id"),
                        F.col(q_vector_col).alias("_qv"))
    bv = base.select(F.col(id_col).alias("id"),
                     F.col(vector_col).alias("_bv"))
    w_exact = Window.partitionBy("q_id").orderBy(F.col("dist").asc(),
                                                 F.col("id").asc())
    # the shortlist is Q*k*rerank-bounded by construction: broadcast
    # it so the exact re-rank NEVER shuffles the base vector table
    # (unhinted, a >10MB shortlist silently flipped this join to
    # sort-merge over the full base — measured 5x at 10M)
    return (_shortlist(partial, kk).hint("broadcast").join(bv, on="id")
            .join(F.broadcast(qv), on="q_id")
            .withColumn("dist", l2_expr("_qv", "_bv"))
            .withColumn("rank", F.row_number().over(w_exact))
            .filter(F.col("rank") <= k)
            .select("q_id", "id", "dist", "rank"))


def _adc_tables(Q: np.ndarray, T: np.ndarray) -> np.ndarray:
    """ADC lookup tables: LUT[q, sub, cell] = squared L2 between query
    q's subvector and the codebook cell, element-quantized to int64
    (``_q9``) so ADC sums are merge-order-exact."""
    m, _, d_sub = T.shape
    return _q9(np.square(Q.reshape(len(Q), m, 1, d_sub) - T[None])
               ).sum(axis=3)


def _adc(lut: np.ndarray, M: np.ndarray) -> np.ndarray:
    """ADC distance of code rows ``M`` under one (m_sub, k) lookup
    table: ``Σ_sub LUT[sub, M[:, sub]]`` — table lookups and a sum."""
    return lut[np.arange(len(lut)), M].sum(axis=1)


def pq_topk(base: DataFrame, queries: DataFrame, codebook: DataFrame,
            k: int = 10, rerank: int = 4,
            id_col: str = "id", vector_col: str = "vector",
            q_id_col: str = "q_id", q_vector_col: str = "vector",
            codes: DataFrame | None = None) -> DataFrame:
    """ADC-compressed-refine ANN: rank candidates on PQ codes (m_sub
    bytes scanned per vector instead of 4·dim), exact re-rank only the
    top ``k·rerank`` with true vectors → (q_id, id, dist, rank ≤ k).

    The approx stage never reconstructs vectors: per query a lookup
    table LUT[sub, cell] = ||q_sub − c_{sub,cell}||² (m·k integers,
    :func:`_adc_tables`) is built driver-side and broadcast; each batch
    scores a row as ``Σ_sub LUT[sub, codes[sub]]`` — pure table lookups
    + a sum, the classic ADC inner loop — in the shared
    :func:`_scan_shortlist` kernel, whose (d, id) batch cut keeps the
    shortlist independent of batch partitioning (duplicated vectors
    yield equal codes AND equal exact distances).

    STANDALONE mode (codes=None over the full table) is the exhaustive
    compressed baseline — every query scans every code at m_sub bytes a
    row.  The scale path passes a precomputed/pruned ``codes`` table
    (e.g. IVF-pruned cells), same kernel."""
    if codes is None:
        codes = pq_encode(base, codebook, id_col=id_col,
                          vector_col=vector_col)
    q_rows, q_ids, Q = _query_batch(queries, q_id_col, q_vector_col)
    if not q_rows:
        return base.sparkSession.createDataFrame([], _TOPK_SCHEMA)
    kk = k * rerank
    partial = _scan_shortlist(codes, "codes", q_ids, kk,
                              lambda luts, M, qi, cell: _adc(luts[qi], M),
                              _adc_tables(Q, _codebook_tensor(codebook)))
    return _exact_rerank(partial, base, queries, k, kk,
                         id_col, vector_col, q_id_col, q_vector_col)


def residual_table(base: DataFrame, centroids: DataFrame,
                   id_col: str = "id", vector_col: str = "vector",
                   c_id_col: str = "id", c_vector_col: str = "vector",
                   assigned: DataFrame | None = None) -> DataFrame:
    """(id, vector = x − coarse_centroid(cell), cell): the residual
    representation IVF-PQ encodes (faiss ``by_residual=true``).
    Residual magnitudes live at intra-cell scale, so a PQ codebook of
    the same size resolves them far more finely than raw vectors —
    the standard fix for ADC rank collapse inside dense cells.
    Map-side: cell assignment is the broadcast argmin kernel, the
    subtraction a zip_with against the broadcast-joined centroid."""
    from .similarity import ivf_assign
    if assigned is None:
        assigned = ivf_assign(base, centroids, id_col, vector_col,
                              c_id_col, c_vector_col)
    cent = centroids.select(
        F.col(c_id_col).alias("cell"),
        F.col(c_vector_col).cast("array<double>").alias("_cv"))
    # double-width subtraction: float32 inputs widen exactly, so the
    # residual is bit-identical to the SQL oracle's double arithmetic
    # (a float32 subtraction would round before the kernel widens)
    return (assigned.join(F.broadcast(cent), on="cell")
            .select(id_col,
                    F.zip_with(F.col(vector_col).cast("array<double>"),
                               F.col("_cv"),
                               lambda a, b: a - b).alias(vector_col),
                    "cell"))


def ivfpq_topk(base: DataFrame, queries: DataFrame, centroids: DataFrame,
               codebook: DataFrame, k: int = 10, nprobe: int = 2,
               rerank: int = 4,
               id_col: str = "id", vector_col: str = "vector",
               q_id_col: str = "q_id", q_vector_col: str = "vector",
               assigned: DataFrame | None = None,
               codes: DataFrame | None = None,
               by_residual: bool = False,
               probe_mass: int | None = None) -> DataFrame:
    """IVF-PQ (the canonical 100 TB ANN composition, faiss's
    ``IVFx,PQy`` with by_residual=false): coarse quantizer prunes each
    query to ``nprobe`` cells, ADC lookup tables score ONLY rows in
    probed cells, exact re-rank of the top ``k·rerank``.

    The two prunings compose multiplicatively: the coarse stage cuts
    candidates to ~nprobe/|C| of the corpus, and the ADC stage reads
    m_sub bytes per surviving row — with an ``ivf_save``-style
    cell-partitioned codes layout, the probed cells prune at FILE level
    and the scan touches nprobe/|C| of the files.  Pass ``assigned`` /
    ``codes`` to reuse ingest-time materializations (both computed once
    per corpus, never per query).

    ``by_residual=True`` (the faiss default) encodes RESIDUALS
    x − coarse_centroid(cell) instead of raw vectors: ADC then uses a
    per-(query, probed cell) lookup table over (q − c_cell), which
    resolves intra-cell structure the raw-vector codebook collapses
    into ties (measured at 1M: the rerank budget needed for a given
    recall drops by an order of magnitude — SCALE.md §9c).  When set,
    ``codes``/``codebook`` must come from :func:`residual_table`
    vectors (training included).

    ``probe_mass`` switches the coarse stage to per-query ADAPTIVE
    mass-budget probing (``nprobe`` ignored) — the same rule as
    :func:`ivf_topk` / :func:`knn_join`: cells in element-quantized
    distance order while the cumulative member count of closer cells
    is below the budget, hard-bounding each query's ADC-scanned rows
    under cell-size skew (completes the probe-based ANN family —
    verdict r09 API nit).  Like the others, the cell census is one
    |C|-bounded collect over ``assigned``; pass a persisted
    ``assigned`` so the on-the-fly assign kernel does not run twice."""
    from .similarity import _cell_counts, _probe_cells_local, ivf_assign
    spark = base.sparkSession
    assigned_given = assigned is not None
    mass = None
    if codes is None:
        if by_residual:
            # residual_table's output already carries the coarse cell:
            # pass it through the encode kernel instead of re-joining
            # the assigned table on id (one exchange + one assign
            # consumption saved per call — r12 optimization round)
            src = residual_table(base, centroids, id_col, vector_col,
                                 id_col, vector_col, assigned=assigned)
            codes = pq_encode(src, codebook, id_col=id_col,
                              vector_col=vector_col, carry_cell=True)
        elif not assigned_given:
            # fused encode+assign: ONE corpus pass emits
            # (id, codes, cell) — the separate ivf_assign pass and the
            # codes⋈assigned id-join are gone (guide §2.4/§4)
            codes = pq_encode(base, codebook, id_col=id_col,
                              vector_col=vector_col,
                              assign_centroids=centroids)
        else:
            codes = pq_encode(base, codebook, id_col=id_col,
                              vector_col=vector_col)
            codes = codes.join(assigned.select(F.col(id_col).alias("id"),
                                               "cell"), on="id")
    elif "cell" in codes.columns:
        # pre-fused (id, codes, cell) table — e.g. pq_encode(...,
        # carry_cell=True) over a checkpointed residual_table: no
        # assigned join needed (r12 optimization round)
        pass
    else:
        if assigned is None:
            assigned = ivf_assign(base, centroids, id_col, vector_col,
                                  id_col, vector_col)
        codes = codes.join(assigned.select(F.col(id_col).alias("id"),
                                           "cell"), on="id")
    if probe_mass is not None:
        # census AFTER the codes build (r12 optimization round): the
        # codes table always carries `cell` by here, so when no
        # persisted `assigned` was supplied the fused encode+assign
        # scan is eagerly checkpointed and BOTH the census and the ADC
        # kernel read the materialized (id, codes, cell) blocks — one
        # corpus pass per call where the census-only ivf_assign pass
        # previously made it two (guide §1.2/§2.4).  A supplied
        # `assigned` keeps the cheap cached census as before.
        if assigned_given:
            census_src = assigned
        else:
            codes = materialize(codes)
            census_src = codes
        mass = (_cell_counts(census_src), probe_mass)
    q_rows, q_ids, Q = _query_batch(queries, q_id_col, q_vector_col)
    if not q_rows:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    # probe sets DRIVER-SIDE on the already-collected query batch (the
    # _nearest_cells kernel's cell rule): removes the probe-kernel
    # Spark job this call previously ran per invocation, and the
    # centroid collect it needs is shared with the by_residual LUTs
    c_rows = rows_cached(centroids, id_col, vector_col)
    probed = _probe_cells_local(q_rows, c_rows, nprobe, mass=mass)
    cell_lists = [probed.get(int(q), np.empty(0, dtype=np.int64))
                  for q in q_ids]
    T = _codebook_tensor(codebook)
    if by_residual:
        coarse = {int(r[0]): np.asarray(list(r[1]), dtype=np.float64)
                  for r in c_rows}
        # per-(query, probed cell) LUT over the residual query
        luts = [{int(c): _adc_tables((Q[qi] - coarse[int(c)])[None], T)[0]
                 for c in cells} for qi, cells in enumerate(cell_lists)]
    else:
        # every probed cell of a query shares the query's one table
        luts = [dict.fromkeys(map(int, cells), lut)
                for cells, lut in zip(cell_lists, _adc_tables(Q, T))]
    kk = k * rerank
    # JVM-side pre-filter on the probed-cell UNION (Q·nprobe-bounded,
    # ≪ |C| for online query batches): rows in unprobed cells
    # contribute nothing, so dropping them BEFORE the Arrow kernel
    # cuts the Python-side ADC exchange from corpus-sized to
    # probed-cells-sized — measured ×2.4 p50 / ×3.1 max on
    # single-query latency at 10M (SCALE.md §9i addendum); the
    # remaining floor is the exact-rerank base join (a JVM-side hash
    # probe an `ivf_save` cell-partitioned layout file-prunes further).
    # Spelling picked by the union's size (r11 ADVICE / verdict item):
    # skip when the batch collectively probes EVERY cell (the filter
    # is then pure overhead, no pruning possible); a literal isin list
    # while it is small (static file-pruning sees through it); a
    # broadcast semi-join past ~1k cells, where a giant In-list bloats
    # plan serialization linearly (the knn_join bipartite pattern).
    all_cells = sorted({int(c) for s in probed.values() for c in s})
    sel = codes.select("id", "codes", "cell")
    if len(all_cells) < len(c_rows):
        if len(all_cells) <= 1024:
            sel = sel.filter(F.col("cell").isin(all_cells))
        else:
            cells_df = spark.createDataFrame(
                [(int(c),) for c in all_cells], "cell BIGINT")
            sel = sel.join(F.broadcast(cells_df), "cell", "semi")
    partial = _scan_shortlist(
        sel, "codes", q_ids, kk,
        lambda luts, M, qi, cell: _adc(luts[qi][cell], M), luts,
        cell_lists=cell_lists)
    return _exact_rerank(partial, base, queries, k, kk,
                         id_col, vector_col, q_id_col, q_vector_col)
