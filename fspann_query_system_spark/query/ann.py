"""Batched ANN query pipeline (reference read path
``query/.../QueryServiceImpl.search:101-352`` +
``index/.../PartitionedIndexService.lookupCandidatesWithScores:592-715``).

The reference answers queries one at a time; this engine executes the
whole query *set* as one DataFrame plan (SURVEY §3.2 — the single biggest
idiomatic win).  Physical shape (SURVEY §4):

  queries → collected once; coded (F1/F2 filter) and routed on the
            driver against the collected partition bounds (binary
            search + hamming-ranked multi-probe, O2/O3)        no job
          → probes (q_id, table, division, part_idx, part_ham) as a
            driver-built table
          → join codes table on (table, division, part_idx),
            hash on q_id into one partition per core           shuffle 1
          → groupBy (q_id, id) min(partition hamming)  (J2/A1)
          → per-query ranked-hamming prefilter, LIMIT refinement (F4/O5)
          → join point payloads on id (J1), decrypt if encrypted (C5)
          → exact L2 (C1) → per-query window rank ≤ K (A2)     shuffle 2
          → results (q_id, id, distance, rank)

The decrypt/score stage runs strictly after the refinement limit — the
plan is shaped so Catalyst cannot float the expensive UDF above the
cheap hamming cut (SURVEY §4 "predicate ordering").
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..lsh.coding import code_vectors, code_family, _popcount, with_hamming
from ..lsh.params import LshParams, LshConfig, fit_params_from_df
from ..lsh.partitioner import build_partitions
from ..functions.distance import l2_expr
from ..functions.plan import rows_cached

# Routing crossover: broadcast routing measured at parity
# with the distributed join up to ~125k bounds rows (1M vectors,
# flagship config) and strictly worse by 1.25M rows (10M vectors,
# 303 vs 237 ms/q; SCALE.md §8b).  300k sits between the measured
# parity and win points with margin for the per-search broadcast
# serialize+ship cost that grows linearly in rows.  ``search_batch``
# routes by join past it, on the driver below it.
AUTO_ROUTING_ROWS = 300_000

# --- §8b budget-scaling law (SCALE.md), applied ---------------------------
# Measured: recall at a FIXED candidate budget degrades ~linearly with
# corpus size (LSH coverage law), and scaling the budget with n recovers
# it: refine 16_384 → recall 0.961 at 1M; refine 131_072 (×10, the
# pool-matched row) → 0.872 at 10M; ×16 → 0.941.  The knob that grows
# with n is the BUDGET, not the topology (same shuffle shape at any
# scale).  These constants turn that measurement into the default a
# scale user gets without re-deriving the sweep (reference anchor:
# adaptive probe widening ``QueryServiceImpl.java:444-447`` — same idea,
# here data-sized instead of failure-triggered).
#
# (target_recall floor, refine fraction of n).  Each fraction is a
# measured §8/§8b operating point: 0.0131·n pow2-ceils to exactly
# 16_384 at 1M (measured 0.961) and 131_072 at 10M (measured 0.872);
# 0.0197·n is the ×16 row (0.941 at 10M); 0.0655·n reproduces the
# near-exact 1M point (65_536 → 0.996) and is an EXTRAPOLATION past 1M.
BUDGET_LAW = ((0.87, 0.0131), (0.94, 0.0197), (1.00, 0.0655))
# b512 matches b128 recall at equal (pool, refine) while building 3x and
# querying 2x faster at 10M (§8b block sweep); b128 is the measured 1M
# point.  Crossover placed between the two measured scales.
AUTO_BLOCK_CROSSOVER = 4_000_000
# decrypt budget k*rerank: 8 measured at 1M (800 decrypts), 16 at 10M
# (1600) — the rerank margin absorbing approx-boundary ties grows one
# notch with the 10x pool.
AUTO_RERANK_CROSSOVER = 4_000_000


def _ceil_pow2(x: int) -> int:
    return 1 << max(0, int(x - 1).bit_length())


def suggest_operating_point(n: int, target_recall: float = 0.87,
                            k: int = 100, tables: int = 8,
                            divisions: int = 2,
                            block_size: int | None = None) -> dict:
    """Derive the (block_size, probes, refinement_limit, sq8_rerank)
    operating point for a corpus of ``n`` vectors from the measured
    §8b budget-scaling law — the knobs a 100 TB deployment would
    otherwise have to re-sweep.

    Invariants the derivation enforces (measured, SCALE.md §8/§8b):

    * **pool = 2×refine** (headroom for the Hamming cut): probes are
      sized so the candidate pool T·D·probes·block covers TWICE the
      refinement budget.  Refine past the pool is outright wasted (the
      ×8 pool-starved row spent 128k to reach 65k), but a pool exactly
      equal to refine is also measurably worse: the ranked-Hamming
      stage then has nothing to cut, and keeping the better half of a
      2× pool buys +0.10 recall at equal refine cost (1M: p16/r16k =
      0.961 vs pool-matched p8/r16k = 0.860, same 16_384 SQ8-ranked).
    * **budget ∝ n**: refinement_limit = pow2-ceil(fraction·n), with
      the fraction picked per ``target_recall`` tier from the measured
      curve.  Floors at 8_192 (the 1M flagship's band) so tiny corpora
      don't starve.

    ``block_size=None`` also derives the block: 512 past
    ``AUTO_BLOCK_CROSSOVER`` (3x faster build, 2x faster query, equal
    recall at 10M), else 128 — the package's one block-size rule; a
    build takes it through ``LshConfig.block_size``.  Pass the index's
    actual block size when suggesting a budget for an ALREADY-BUILT
    index.
    """
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    for floor, frac in BUDGET_LAW:
        if target_recall <= floor:
            break
    else:
        raise ValueError(f"target_recall {target_recall} > 1.0")
    if block_size is None:
        block_size = 512 if n >= AUTO_BLOCK_CROSSOVER else 128
    refine = max(8192, _ceil_pow2(int(frac * n)))
    slot = tables * divisions * block_size
    probes = -(-2 * refine // slot)           # ceil: pool >= 2x refine
    return {"block_size": block_size, "probes": probes,
            "refinement_limit": refine,
            "sq8_rerank": 16 if n >= AUTO_RERANK_CROSSOVER else 8}


@dataclass
class AnnIndex:
    """Immutable routing state + payload table handle.

    Routing state (codes/bounds) never changes under key rotation —
    the reference's routing–ciphertext orthogonality invariant
    (``ARCHITECTURE.md:7-25``).  ``keys_bc`` says which payload table
    ``points`` is: None for plaintext (id, vector), else the broadcast
    {version: key} map of an encrypted store (FIXTURES §4 schema, set by
    :meth:`with_encrypted_points`).
    """
    params: LshParams
    codes: DataFrame      # (id, table, division, code_key, code_bits, part_idx)
    bounds: DataFrame     # (table, division, part_idx, min/max/center_key, rep_bits, n_ids)
    points: DataFrame     # plaintext (id, vector) OR encrypted store
    keys_bc: object = None
    _routing_bc: object = None
    _bounds_rows: int | None = None
    sq8_codes: DataFrame = None     # (id, codes BINARY) compressed shadow,
                                    # one byte per dimension
    sq8_mins: object = None         # per-dim codebook (lists of float)
    sq8_maxs: object = None

    @classmethod
    def build(cls, vectors: DataFrame, cfg: LshConfig,
              params: LshParams | None = None,
              id_col: str = "id", vector_col: str = "vector") -> "AnnIndex":
        """Fit params from a sample (P5-P7), code all vectors (P8), build
        greedy partitions (O1) of ``cfg.block_size`` codes, cache the hot
        tables.  :func:`suggest_operating_point` sizes the block from
        the corpus."""
        n_vec = vectors.count()
        if params is None:
            params = fit_params_from_df(vectors, cfg, vector_col=vector_col)
        codes = code_vectors(vectors, params, id_col=id_col, vector_col=vector_col)
        # the count above is a cheap metadata scan on columnar sources
        # and picks the ranking strategy: one window for small builds,
        # two-pass distributed ranking past DISTRIBUTED_RANK_THRESHOLD
        n_codes = n_vec * cfg.tables * cfg.divisions
        codes_p, bounds = build_partitions(codes, cfg.block_size, id_col=id_col,
                                           n_codes=n_codes)
        codes_p = codes_p.persist()
        bounds = bounds.persist()
        points = vectors.select(F.col(id_col).alias("id"),
                                F.col(vector_col).alias("vector"))
        return cls(params=params, codes=codes_p, bounds=bounds, points=points)

    def with_sq8(self) -> "AnnIndex":
        """Attach an SQ8 compressed shadow of the payload vectors: one
        byte per dimension (4x smaller than float32, 8x than float64),
        stored as ``codes BINARY`` (:func:`_sq8_shadow`).
        ``search_batch(..., sq8_rerank=r)`` then ranks hamming-kept
        candidates on the codes and decrypts/scores only the top k*r per
        query, cutting AES work by refinement_limit/(k*r) at matched
        recall (the reference decrypts EVERY kept candidate,
        ``QueryServiceImpl.java:219-271``).

        Call on the plaintext index BEFORE ``with_encrypted_points`` —
        the shadow derives from plaintext at ingest, exactly like the
        LSH codes (same leakage class as the routing state: both are
        deterministic functions of the vector kept server-side).  One
        stats aggregate + one map-side encode, computed once; rows added
        by :meth:`insert` are coded under the same codebook."""
        from dataclasses import replace
        from ..ops.similarity import sq8_stats
        if self.keys_bc is not None:
            raise ValueError("with_sq8 must run on the plaintext index "
                             "(before with_encrypted_points)")
        mins, maxs = sq8_stats(self.points, "vector")
        codes = _sq8_shadow(self.points, mins, maxs).persist()
        return replace(self, sq8_codes=codes, sq8_mins=mins, sq8_maxs=maxs)

    def with_encrypted_points(self, encrypted: DataFrame,
                              keys_bc) -> "AnnIndex":
        """Swap the payload table for an encrypted_points table (FIXTURES
        §4 schema) whose rows decrypt under the broadcast {version: key}
        map ``keys_bc``.  Search skips a row that does not decrypt (the
        reference's decryptErr accounting).  Routing state is untouched —
        the reference's routing–ciphertext orthogonality invariant: key
        rotation never changes codes or partition bounds."""
        from dataclasses import replace
        return replace(self, points=encrypted, keys_bc=keys_bc)

    def save(self, path: str) -> None:
        """Persist routing state (restart path, SURVEY §3.4 — strictly
        better than the reference, whose codes live only in RAM and must
        be re-derived by decrypt+recode).  Codes are laid out
        range-sorted by (table, division, code_key): parquet min/max
        stats then prune probe scans exactly like the in-memory binary
        search.  Payload tables are saved separately — they evolve under
        key rotation; routing state never does (orthogonality
        invariant)."""
        from ..lsh.params import save_params
        (self.codes
         .repartitionByRange("table", "division", "code_key")
         .sortWithinPartitions("table", "division", "code_key")
         .write.mode("overwrite").parquet(f"{path}/codes"))
        self.bounds.write.mode("overwrite").parquet(f"{path}/bounds")
        save_params(self.bounds.sparkSession, self.params, f"{path}/params")

    @classmethod
    def load(cls, spark, path: str, points: DataFrame) -> "AnnIndex":
        """Reopen a saved index against a payload table (plaintext or
        encrypted via ``with_encrypted_points`` after load)."""
        from ..lsh.params import load_params
        params = load_params(spark, f"{path}/params")
        codes = spark.read.parquet(f"{path}/codes").persist()
        bounds = spark.read.parquet(f"{path}/bounds").persist()
        return cls(params=params, codes=codes, bounds=bounds, points=points)

    def insert(self, new_vectors: DataFrame, mode: str = "append",
               id_col: str = "id", vector_col: str = "vector") -> "AnnIndex":
        """Insert a batch of vectors (reference ``PartitionedIndexService
        .insert:312-345``: stage codes, then ``build:395-428`` re-derives
        the greedy partitions wholesale on finalize).

        ``mode="rebuild"`` reproduces the reference semantics: union the
        new codes and re-run greedy partitioning — exact block invariants,
        at the cost of re-sorting everything (the reference pays the same).

        ``mode="append"`` is the Spark-native incremental path: each new
        code routes to its nearest EXISTING partition with the identical
        binary-search rule queries use, so lookups find appended points by
        construction; partition min/max/rep stay fixed (routing metadata,
        not containment proofs) and only n_ids is refreshed.  O(new) work,
        never touches existing rows.  Blocks can grow past block_size
        under sustained appends — rebuild periodically (reference behavior
        on finalize) to restore the block-size invariant.  Note also that
        a candidate's prefilter rank uses its PARTITION's rep-code
        hamming: an appended point far from its block's representative is
        likelier to be refine-cut than an originally-built one (measured:
        3 families + refine=150 drops 43/50 appended self-hits; 8
        families + refine=400 drops none) — another reason sustained
        append workloads should rebuild on a cadence."""
        from dataclasses import replace
        if mode not in ("append", "rebuild"):
            raise ValueError(f"mode must be 'append' or 'rebuild', got {mode!r}")
        cfg = self.params.cfg
        new_codes = code_vectors(new_vectors, self.params,
                                 id_col=id_col, vector_col=vector_col)
        new_points = new_vectors.select(F.col(id_col).alias("id"),
                                        F.col(vector_col).alias("vector"))
        points = self.points.unionByName(new_points)
        # the SQ8 shadow gains the new rows under the existing codebook
        # (clipped): the shortlist inner-joins on it.  Only the new rows
        # are cached; the union reads the old shadow's cache, so no row
        # of it is stored twice
        sq8 = self.sq8_codes
        if sq8 is not None:
            sq8 = sq8.unionByName(_sq8_shadow(
                new_points, self.sq8_mins, self.sq8_maxs).persist())
        if mode == "rebuild":
            all_codes = (self.codes.drop("part_idx")
                         .unionByName(new_codes.withColumnRenamed(id_col, "id")))
            codes_p, bounds = build_partitions(all_codes, cfg.block_size,
                                               id_col="id")
            return replace(self, codes=codes_p.persist(),
                           bounds=bounds.persist(), points=points,
                           sq8_codes=sq8, _routing_bc=None, _bounds_rows=None)
        routed = _route_nearest(
            new_codes.withColumnRenamed(id_col, "id"), self.routing())
        codes = self.codes.unionByName(routed)
        counts = routed.groupBy("table", "division", "part_idx").count()
        bounds = (self.bounds
                  .join(counts, on=["table", "division", "part_idx"],
                        how="left")
                  .withColumn("n_ids", F.col("n_ids")
                              + F.coalesce(F.col("count"), F.lit(0)))
                  .drop("count"))
        return replace(self, codes=codes.persist(), bounds=bounds.persist(),
                       points=points, sq8_codes=sq8, _routing_bc=None,
                       _bounds_rows=None)

    def delete(self, ids: DataFrame, id_col: str = "id") -> "AnnIndex":
        """Tombstone-delete: filter the payload table; routing state is
        untouched (reference F3 semantics — deleted ids stay in partitions
        and are dropped at the candidate⋈payload join, so a delete is O(1)
        metadata work, and queries simply never return them)."""
        from dataclasses import replace
        tomb = ids.select(F.col(id_col).alias("id"))
        return replace(self,
                       points=self.points.join(tomb, on="id", how="left_anti"))

    def n_vectors(self) -> int:
        """Corpus size, from the bounds table's per-partition counts —
        a bounds-sized agg (N/block rows), no scan of codes or points."""
        total = self.bounds.agg(F.sum("n_ids")).first()[0] or 0
        return int(total) // (self.params.cfg.tables
                              * self.params.cfg.divisions)

    def suggest_budget(self, target_recall: float = 0.87,
                       k: int = 100) -> dict:
        """Apply the measured §8b budget-scaling law to THIS index:
        derive (probes, refinement_limit, sq8_rerank) from its corpus
        size and built geometry (block size is fixed at build time, so
        it is taken as-is, not re-derived).  Pass the values to
        :func:`search_batch` (``probes=``, ``refinement_limit=``, and
        ``sq8_rerank=`` on an index with an SQ8 shadow) — a 10M-vector
        user gets the 0.87-recall operating point without re-running the
        sweep (SCALE.md §8b; reference anchor
        ``QueryServiceImpl.java:444-447``)."""
        cfg = self.params.cfg
        return suggest_operating_point(
            self.n_vectors(), target_recall=target_recall, k=k,
            tables=cfg.tables, divisions=cfg.divisions,
            block_size=cfg.block_size)

    def bounds_rows(self) -> int:
        """Total partition count across (t,d) slices — the routing-table
        size that decides broadcast-vs-join routing (cached; set without
        a job once :meth:`routing` has collected the bounds)."""
        if self._bounds_rows is None:
            self._bounds_rows = self.bounds.count()
        return self._bounds_rows

    def routing(self):
        """Collect the per-(t,d) partition bounds once and pack them for
        driver-side binary-search routing (a broadcast handle whose
        ``.value`` holds the packed arrays; ``insert`` routes with it in
        executors).  Bounds are N/block rows — tiny relative to data
        (SURVEY §2 O2)."""
        if self._routing_bc is None:
            rows = self.bounds.select(
                "table", "division", "part_idx", "min_key", "max_key", "rep_bits"
            ).collect()
            self._bounds_rows = len(rows)
            info: dict = {}
            for r in rows:
                info.setdefault((r.table, r.division), []).append(
                    (r.part_idx, r.min_key, r.max_key, r.rep_bits))
            packed = {}
            for td, lst in info.items():
                lst.sort()
                packed[td] = (
                    np.array([x[1] for x in lst], dtype=np.int64),   # min_keys
                    np.array([x[2] for x in lst], dtype=np.int64),   # max_keys
                    np.array([x[3] for x in lst], dtype=np.int64),   # rep words (P, W)
                )
            spark = self.bounds.sparkSession
            self._routing_bc = spark.sparkContext.broadcast(packed)
        return self._routing_bc


def _query_batch(queries: DataFrame, q_id_col: str, q_vector_col: str,
                 dim: int):
    """The batch on the driver → (q_ids int64 (n,), Q float64 (n, dim)).

    Collected once per DataFrame object (``rows_cached``: the adaptive
    retry check, and any later search of the same object, replay the
    first collect).  Rows that :func:`code_vectors` would drop — wrong
    dimension, NaN/Inf (F1/F2, reference
    ``Coding.requireVector:355-361``) — are dropped here, so they get no
    probes and no results."""
    ids, vecs = [], []
    for q_id, v in rows_cached(queries, q_id_col, q_vector_col):
        if q_id is None or v is None or len(v) != dim:
            continue
        a = np.asarray(v, dtype=np.float64)
        if np.isfinite(a).all():
            ids.append(q_id)
            vecs.append(a)
    Q = np.vstack(vecs) if vecs else np.empty((0, dim))
    return np.asarray(ids, dtype=np.int64), Q


def _list_array(M: np.ndarray) -> pa.ListArray:
    """An (n, W) matrix as an Arrow list column (``ARRAY`` in Spark)."""
    offsets = np.arange(0, M.size + 1, M.shape[1], dtype=np.int32)
    return pa.ListArray.from_arrays(offsets, pa.array(M.reshape(-1)))


def _q_codes_table(q_ids: np.ndarray, coded: dict) -> pa.Table:
    """The coded batch as an Arrow table (q_id, table, division,
    code_key, code_bits) — the join router's input."""
    n = len(q_ids)
    td = list(coded)
    return pa.table({
        "q_id": pa.array(np.tile(q_ids, len(td)), pa.int64()),
        "table": pa.array(np.repeat([t for t, _ in td], n), pa.int32()),
        "division": pa.array(np.repeat([d for _, d in td], n), pa.int32()),
        "code_key": pa.array(np.concatenate([coded[x][0] for x in td]),
                             pa.int64()),
        "code_bits": _list_array(np.concatenate([coded[x][1] for x in td])),
    })


def _nearest_part(keys: np.ndarray, min_keys: np.ndarray,
                  max_keys: np.ndarray) -> np.ndarray:
    """Partition of each key in one (table, division) slice: the one
    whose [min_key, max_key] holds it, else the nearer neighbour by
    key distance, ties to the left (reference
    ``GreedyPartitioner.findNearestPartition:101-124``).  The query and
    insert routers share it, so appended points are reachable by
    construction."""
    pos = np.searchsorted(min_keys, keys, side="right") - 1
    left = np.maximum(pos, 0)
    right = np.minimum(pos + 1, len(min_keys) - 1)
    dl = np.maximum(np.maximum(min_keys[left] - keys, keys - max_keys[left]), 0)
    dr = np.maximum(np.maximum(min_keys[right] - keys, keys - max_keys[right]), 0)
    return np.where((pos >= 0) & (keys <= max_keys[left]), pos,
                    np.where(dl <= dr, left, right))


def _route_slice(keys: np.ndarray, words: np.ndarray, bounds,
                 probes: int):
    """One (table, division) slice of the probe routing, vectorized over
    the batch: query keys (n,) and code words (n, W) against that
    slice's packed (min_keys, max_keys, reps) → (row, part_idx,
    part_ham) of every probe.

    Route each key to its partition (:func:`_nearest_part`), then take
    the ``probes`` best partitions inside the ±probes contiguous window
    under (rep hamming, |offset|, part_idx) — the reachable set of the
    reference's best-first queue
    (``PartitionedIndexService.lookupCandidateIds:506-553``).
    :func:`_route_probes_join` is the distributed twin."""
    min_keys, max_keys, reps = bounds
    npart = len(min_keys)
    routed = _nearest_part(keys, min_keys, max_keys)
    # the window (routed ± probes) ∩ [0, npart), as fixed-width rows
    # with out-of-range slots sorted last
    w = min(probes, npart - 1)
    win = routed[:, None] + np.arange(-w, w + 1)
    valid = (win >= 0) & (win < npart)
    x = (reps[np.clip(win, 0, npart - 1)] ^ words[:, None, :]).view(np.uint64)
    ham = _popcount(x).sum(axis=2).astype(np.int64)
    order = np.lexsort((win, np.abs(win - routed[:, None]), ham, ~valid),
                       axis=-1)[:, :probes]
    take = np.take_along_axis(valid, order, 1)
    rows = np.broadcast_to(np.arange(len(keys))[:, None], order.shape)
    return (rows[take], np.take_along_axis(win, order, 1)[take],
            np.take_along_axis(ham, order, 1)[take])


def _route_probes_local(q_ids: np.ndarray, coded: dict, packed: dict,
                        probes: int) -> pa.Table:
    """The coded batch routed on the driver → Arrow table (q_id, table,
    division, part_idx, part_ham), one row per probe."""
    out: dict = {"q_id": [], "table": [], "division": [], "part_idx": [],
                 "part_ham": []}
    for (t, d), (keys, words) in coded.items():
        if (t, d) not in packed:
            continue
        rows, parts, hams = _route_slice(keys, words, packed[(t, d)], probes)
        out["q_id"].append(q_ids[rows])
        out["table"].append(np.full(len(rows), t, dtype=np.int32))
        out["division"].append(np.full(len(rows), d, dtype=np.int32))
        out["part_idx"].append(parts.astype(np.int32))
        out["part_ham"].append(hams)
    types = {"q_id": pa.int64(), "table": pa.int32(), "division": pa.int32(),
             "part_idx": pa.int32(), "part_ham": pa.int64()}
    return pa.table({c: pa.array(np.concatenate(v) if v else [], types[c])
                     for c, v in out.items()})


def _route_nearest(codes: DataFrame, routing_bc) -> DataFrame:
    """(id, table, division, code_key, code_bits) → same + ``part_idx`` of
    the containment/nearest partition (:func:`_nearest_part`, the query
    router's rule), so appended points are reachable by the query path
    by construction.  Rows of a (table, division) with no bounds are
    dropped."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        packed = routing_bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            t, d = pdf["table"].to_numpy(), pdf["division"].to_numpy()
            keys = pdf["code_key"].to_numpy(dtype=np.int64)
            parts = np.full(len(pdf), -1, dtype=np.int32)
            for (ti, di), (min_keys, max_keys, _) in packed.items():
                m = (t == ti) & (d == di)
                if m.any():
                    parts[m] = _nearest_part(keys[m], min_keys, max_keys)
            keep = parts >= 0
            out = pdf[keep].copy()
            out["part_idx"] = parts[keep]
            yield out

    from pyspark.sql.types import StructType, StructField, IntegerType
    out_schema = StructType(list(codes.schema.fields)
                            + [StructField("part_idx", IntegerType())])
    return codes.mapInPandas(run, schema=out_schema)


def _route_probes_join(q_codes: DataFrame, bounds: DataFrame,
                       probes: int) -> DataFrame:
    """Join-based twin of the driver router (:func:`_route_slice`) for
    bounds tables past the broadcast budget (SCALE.md §1: ≥ ~1B vectors per (table, division) the
    bounds are ~16M rows × L×D and stop being driver-collectable).

    Same semantics, fully distributed:
      1. as-of lookup of pos = last partition with min_key <= q_key, via
         union + range-partitioned sort with per-slice carry-in fixup (the
         two-pass scheme of ``partitioner._global_rank`` — no single-task
         window, works because part_idx is monotone in min_key);
      2. containment / nearest-gap decision through equi-joins on
         (table, division, part_idx);
      3. probe window exploded to (routed±probes) ∩ [0, npart), equi-join
         to bounds reps, native-expression hamming, per-(q,t,d) rank.

    Everything shuffles on keys with q_id or part_idx in them — no
    driver collect of anything proportional to the index."""
    spark = q_codes.sparkSession
    qc = q_codes.select("q_id", "table", "division", "code_key", "code_bits")

    # --- 1. distributed as-of: pos = max part_idx with min_key <= key ---
    b_side = bounds.select(
        "table", "division", F.col("min_key").alias("key"),
        F.col("part_idx").cast("long").alias("_bpi"), F.lit(1).alias("_isb"),
        F.lit(None).cast("long").alias("q_id"))
    q_side = qc.select(
        "table", "division", F.col("code_key").alias("key"),
        F.lit(None).cast("long").alias("_bpi"), F.lit(0).alias("_isb"),
        "q_id")
    n_slices = min(int(spark.conf.get("spark.sql.shuffle.partitions")),
                   max(4, q_codes.rdd.getNumPartitions()))
    # _isb descending in the sort: a bound AT the query key counts
    # (searchsorted side="right" semantics)
    u = (b_side.unionByName(q_side)
         .repartitionByRange(n_slices, "table", "division", "key",
                             F.desc("_isb"))
         .withColumn("_slice", F.spark_partition_id()))
    # ordering: (key, bounds-before-queries, part_idx asc) — the _bpi
    # tie-break makes last() return the MAX part_idx among equal-min_key
    # bounds, matching searchsorted(side="right") in the broadcast path
    # (equal keys spanning block boundaries are common at scale; without
    # this the as-of result is nondeterministic among duplicate keys)
    w_asof = (Window.partitionBy("_slice", "table", "division")
              .orderBy("key", F.desc("_isb"), F.asc_nulls_last("_bpi"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # persist BEFORE the carry job — same materialization pitfall as
    # partitioner._global_rank (_slice comes from physical partitioning)
    local = (u.withColumn("_lpos", F.last("_bpi", ignorenulls=True).over(w_asof))
             .persist())
    carry_rows = (local.groupBy("_slice", "table", "division")
                  .agg(F.max("_bpi").alias("_mx")).collect())
    carries, running = [], {}
    for r in sorted(carry_rows, key=lambda r: (r.table, r.division, r._slice)):
        td = (r.table, r.division)
        carries.append((r._slice, r.table, r.division, running.get(td)))
        if r._mx is not None:
            running[td] = max(running.get(td, -1), r._mx)
    carry_df = spark.createDataFrame(
        carries, "_slice INT, table INT, division INT, _carry LONG")
    pos_df = (local.filter(F.col("_isb") == 0)
              .join(F.broadcast(carry_df), on=["_slice", "table", "division"])
              .select("q_id", "table", "division",
                      F.coalesce("_lpos", "_carry", F.lit(-1)).alias("pos")))

    # --- 2. containment / nearest-gap routing (equi-joins) ---
    npart = bounds.groupBy("table", "division").agg(
        F.max("part_idx").alias("_maxpi"))
    bk = bounds.select("table", "division", "part_idx", "min_key", "max_key")
    with_q = (pos_df.join(qc, on=["q_id", "table", "division"])
              .join(F.broadcast(npart), on=["table", "division"])
              .withColumn("_lidx", F.greatest("pos", F.lit(0)).cast("int"))
              .withColumn("_ridx", F.least(F.col("pos") + 1,
                                           F.col("_maxpi")).cast("int")))

    def _b(alias):
        # fully-renamed projection: chained joins stay unambiguous
        return bk.select(F.col("table").alias(f"_{alias}t"),
                         F.col("division").alias(f"_{alias}d"),
                         F.col("part_idx").alias(f"_{alias}pi"),
                         F.col("min_key").alias(f"_{alias}min"),
                         F.col("max_key").alias(f"_{alias}max"))

    qk = F.col("code_key")
    gap_l = F.greatest(F.col("_lmin") - qk, qk - F.col("_lmax"), F.lit(0))
    gap_r = F.greatest(F.col("_rmin") - qk, qk - F.col("_rmax"), F.lit(0))
    # equi-join the three referenced bounds rows (pos may be -1 → left join)
    routed = (with_q
              .join(_b("p"), on=[F.col("table") == F.col("_pt"),
                                 F.col("division") == F.col("_pd"),
                                 F.col("pos") == F.col("_ppi")], how="left")
              .join(_b("l"), on=[F.col("table") == F.col("_lt"),
                                 F.col("division") == F.col("_ld"),
                                 F.col("_lidx") == F.col("_lpi")])
              .join(_b("r"), on=[F.col("table") == F.col("_rt"),
                                 F.col("division") == F.col("_rd"),
                                 F.col("_ridx") == F.col("_rpi")])
              .withColumn(
                  "routed",
                  F.when((F.col("pos") >= 0) & (qk <= F.col("_pmax")),
                         F.col("pos").cast("int"))
                  .when(gap_l <= gap_r, F.col("_lidx"))
                  .otherwise(F.col("_ridx")))
              .select("q_id", "table", "division", "code_bits", "routed",
                      "_maxpi"))

    # --- 3. probe window ∩ [0, npart), rep-hamming rank ---
    window = routed.withColumn(
        "part_idx",
        F.explode(F.sequence(
            F.greatest(F.col("routed") - probes, F.lit(0)),
            F.least(F.col("routed") + probes, F.col("_maxpi")))))
    reps = bounds.select("table", "division", "part_idx", "rep_bits")
    hammed = with_hamming(window.join(reps, on=["table", "division", "part_idx"]),
                          "code_bits", "rep_bits", "part_ham")
    w_rank = Window.partitionBy("q_id", "table", "division").orderBy(
        F.col("part_ham").asc(),
        F.abs(F.col("part_idx") - F.col("routed")).asc(),
        F.col("part_idx").asc())
    return (hammed.withColumn("_pr", F.row_number().over(w_rank))
            .filter(F.col("_pr") <= probes)
            .select("q_id", "table", "division", "part_idx",
                    F.col("part_ham").cast("long").alias("part_ham")))


def _sq8_shadow(points: DataFrame, mins: list, maxs: list) -> DataFrame:
    """(id, codes BINARY): :func:`ops.similarity.sq8_quantize`'s codes of
    ``points`` under the codebook (``mins``, ``maxs``), clipped to
    [0, 255] (a row inserted after the codebook was fit may fall outside
    it), one byte per dimension.  A JVM-native expression packs them
    (two hex digits per code, then ``unhex``), so ingest runs no
    Python."""
    from ..ops.similarity import sq8_quantize

    def hex_byte(c):
        return F.lpad(F.hex(F.least(F.greatest(c, F.lit(0)), F.lit(255))),
                      2, "0")

    return sq8_quantize(points, mins, maxs).select(
        "id", F.unhex(F.concat_ws("", F.transform("codes", hex_byte)))
        .alias("codes"))


def _binary_rows(arr: pa.Array, width: int) -> np.ndarray:
    """A BINARY or LARGE_BINARY Arrow array whose values are all ``width``
    bytes long, as an (n, width) uint8 view of its values buffer: no
    copy.  Honors the array's ``offset`` and offsets buffer, since a
    batch may be a slice of a larger array."""
    large = pa.types.is_large_binary(arr.type)
    off_t = np.dtype(np.int64 if large else np.int32)
    _, offsets, values = arr.buffers()
    off = np.frombuffer(offsets, dtype=off_t, count=len(arr) + 1,
                        offset=arr.offset * off_t.itemsize)
    if np.any(np.diff(off) != width):
        raise ValueError(f"SQ8 codes must be {width} bytes per row")
    return np.frombuffer(values, dtype=np.uint8, count=len(arr) * width,
                         offset=int(off[0])).reshape(len(arr), width)


def _sq8_shortlist(index: AnnIndex, kept: DataFrame, q_ids: np.ndarray,
                   Q: np.ndarray, limit: int) -> DataFrame:
    """Rank hamming-kept candidates by SQ8-reconstructed L2 and keep the
    ``limit`` best per query → (q_id, id).

    Plan: ``kept`` arrives hashed on q_id, one partition per core
    (:func:`search_batch`); kept ⋈ sq8_codes on id is whichever join the
    planner picks (a broadcast of the shadow while it fits the broadcast
    threshold, which keeps that partitioning, else a shuffle of ≤
    Q·refinement_limit code rows), then one ``mapInArrow`` kernel for the
    batched reconstruction+distance on those partitions, then a
    per-query (d2, id) window.  The kernel reads the one-byte codes
    straight out of the Arrow values buffer (:func:`_binary_rows`, no
    per-row decode) and scores them in float64.  The query matrix ``Q``
    (rows keyed by ``q_ids``) rides in the kernel's broadcast variable,
    so no query vector is copied onto the candidate rows.  Runs strictly
    BEFORE the payload join, so the decrypt stage sees only
    limit/refinement_limit of the candidates."""
    spark = kept.sparkSession
    mn = np.array(index.sq8_mins, dtype=np.float64)
    rg = np.array(index.sq8_maxs, dtype=np.float64) - mn
    order = np.argsort(q_ids, kind="stable")
    bc = spark.sparkContext.broadcast((mn, rg, q_ids[order], Q[order]))

    carry = [c for c in kept.columns if c.startswith("_cand_")]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        mn_, rg_, qid_, Q_ = bc.value
        for b in batches:
            if b.num_rows == 0:
                continue
            C = _binary_rows(b.column("codes"), len(mn_))
            q = b.column("q_id")
            Qm = Q_[np.searchsorted(qid_, q.to_numpy())]
            d2 = np.square(mn_ + C / 255.0 * rg_ - Qm).sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [q, b.column("id"), pa.array(d2)]
                + [b.column(c) for c in carry],
                names=["q_id", "id", "_ad", *carry])

    id_type = index.sq8_codes.schema["id"].dataType.simpleString()
    schema = f"q_id BIGINT, id {id_type}, _ad DOUBLE"
    schema += "".join(f", {c} BIGINT" for c in carry)
    approx = (kept.join(index.sq8_codes, on="id")
              .select("q_id", "id", "codes", *carry)
              .mapInArrow(run, schema=schema))
    w = Window.partitionBy("q_id").orderBy(F.col("_ad").asc(), F.col("id").asc())
    return (approx.withColumn("_sr", F.row_number().over(w))
            .filter(F.col("_sr") <= limit).select("q_id", "id", *carry))


def search_batch(index: AnnIndex, queries: DataFrame, k: int = 10,
                 probes: int | None = None,
                 refinement_limit: int | None = None,
                 q_id_col: str = "q_id", q_vector_col: str = "vector",
                 sq8_rerank: int | None = None,
                 allow: DataFrame | None = None,
                 allow_id_col: str = "id",
                 with_diagnostics: bool = False) -> DataFrame:
    """Top-k ANN for a whole query set → (q_id, id, distance, rank).

    ``probes`` and ``refinement_limit`` default to the index config's;
    :meth:`AnnIndex.suggest_budget` derives both (and ``sq8_rerank``)
    from the corpus size.  The F4 prefilter threshold is
    ``cfg.hamming_threshold``.

    ``with_diagnostics`` carries the reference's stabilization counters
    (``QueryServiceImpl.java:29-31,87-94``: candTotal raw from the index,
    candKept after the limiter, candDecrypted refined) through the plan
    as per-query columns ``_cand_raw`` / ``_cand_kept`` /
    ``_cand_decrypted`` — window counts over the existing q_id
    partitioning, so they add NO extra shuffle.  Collapse them with
    :func:`fspann_query_system_spark.query.profiler.stabilization_rows`.

    The query batch is collected once (it is broadcast to the refine
    stage anyway, so it must fit on the driver) and coded on the
    driver; rows the coding filter drops (NaN/Inf, wrong dimension) get
    no results.

    The refine stage runs on every core.  Its one exchange before the
    SQ8 kernel hashes the probe⋈codes rows on q_id into one partition
    per core (``defaultParallelism``, at most one per query), which
    serves the (q_id, id) min-merge and every q_id window after it.  On
    an encrypted index the final rank window is hashed the same way (the
    decrypt kernel's output needs an exchange anyway), so the result has
    that many partitions.  An explicit partition count is not coalesced by
    AQE, whose byte-sized partitions would put this compute-bound stage,
    fed by a shuffle of about a megabyte, in one or two tasks.

    Routing is chosen by the index's bounds size: up to
    ``AUTO_ROUTING_ROWS`` bounds rows the bounds are collected once and
    binary-searched on the driver (:func:`_route_slice`); past it,
    where they stop being driver-collectable, the routing is fully
    distributed (:func:`_route_probes_join`; SCALE.md §8b: 303 vs 237
    ms/q at 10M vectors, measured when the broadcast router ran in
    executors and re-shipped the bounds every search).  Both routers
    are output-identical (tested).

    ``sq8_rerank``: with an index built ``.with_sq8()``, rank the
    hamming-kept candidates on the SQ8 shadow first and decrypt/score
    only the best k*sq8_rerank per query (compressed-refine; see
    :meth:`AnnIndex.with_sq8`).

    The refine stage joins the kept candidates to ``index.points``.  On
    a plaintext index it scores them with ``l2_expr``; on an encrypted
    one a single kernel decrypts and scores them
    (:func:`crypto.aes.decrypt_score_vectors`), dropping rows that do
    not decrypt."""
    cfg = index.params.cfg
    probes = probes or cfg.probes
    refinement_limit = refinement_limit or cfg.refinement_limit
    T = cfg.hamming_threshold

    spark = queries.sparkSession
    q_ids, Q = _query_batch(queries, q_id_col, q_vector_col, cfg.dim)
    # {(table, division): (keys (n,), words (n, W))}, code_vectors' kernel
    coded = {(t, d): code_family(Q, alpha, r, omega, cfg.lam)
             for t, d, alpha, r, omega in index.params.packed()}

    # the bounds size picks the router (see the docstring); counted once,
    # then cached on the index
    if index.bounds_rows() > AUTO_ROUTING_ROWS:
        probes_df = _route_probes_join(
            spark.createDataFrame(_q_codes_table(q_ids, coded)),
            index.bounds, probes)
    else:
        # a driver-built table: broadcasting it runs no job
        probes_df = spark.createDataFrame(_route_probes_local(
            q_ids, coded, index.routing().value, probes))

    # shuffle 1: probe partitions → member ids, one partition per core
    # (see the docstring); min-merge across tables/divisions
    n = max(1, min(spark.sparkContext.defaultParallelism, len(q_ids)))
    cand = (probes_df.join(index.codes.select("table", "division", "part_idx", "id"),
                           on=["table", "division", "part_idx"])
            .repartition(n, "q_id")
            .groupBy("q_id", "id").agg(F.min("part_ham").alias("ham")))

    # metadata-filtered search: semi-join the allow-list BEFORE the
    # ranked prefilter, so the refinement budget is spent on candidates
    # that satisfy the predicate (budget-preserving post-filter — the
    # filtered-vector-search semantics; an id-only predicate commutes
    # with the min-merge).  Small allow-lists broadcast; big ones are a
    # plain shuffled semi-join on the already-min-merged (q_id, id) set.
    if allow is not None:
        cand = cand.join(
            allow.select(F.col(allow_id_col).alias("id")).distinct(),
            on="id", how="leftsemi")

    wq = Window.partitionBy("q_id")
    if with_diagnostics:
        cand = cand.withColumn("_cand_raw", F.count(F.lit(1)).over(wq))

    # F4 ranked-hamming prefilter + O5 bounded refinement, one sort:
    # ORDER BY (ham > T), ham, id LIMIT refinement_limit per query.
    w = Window.partitionBy("q_id").orderBy(
        (F.col("ham") > F.lit(T)).cast("int") if T > 0 else F.lit(0),
        F.col("ham").asc(), F.col("id").asc())
    kept = (cand.withColumn("_cr", F.row_number().over(w))
            .filter(F.col("_cr") <= refinement_limit).drop("_cr"))
    if with_diagnostics:
        kept = kept.withColumn("_cand_kept", F.count(F.lit(1)).over(wq))

    qv = spark.createDataFrame(pa.table({
        "q_id": pa.array(q_ids, pa.int64()), "_qvec": _list_array(Q)}))

    # optional compressed-refine: approximate rank on the SQ8 shadow,
    # so the decrypt/score stage below touches only k*sq8_rerank rows
    if sq8_rerank is not None:
        if index.sq8_codes is None:
            raise ValueError(
                "sq8_rerank requires an index built with .with_sq8()")
        kept = _sq8_shortlist(index, kept, q_ids, Q, k * sq8_rerank)
    if with_diagnostics:
        kept = kept.withColumn("_cand_decrypted", F.count(F.lit(1)).over(wq))

    # J1: candidates ⋈ payloads; decrypt only survivors (C5 after O5).
    joined = kept.join(index.points, on="id").join(F.broadcast(qv), on="q_id")
    if index.keys_bc is None:
        scored = joined.withColumn("distance", l2_expr("_qvec", "vector"))
    else:
        # fused decrypt+score: one Arrow kernel, no plaintext-vector
        # exchange back to the JVM (SCALE.md §8b — the refine stage is
        # decrypt-bound at 10M; bit-identical to decrypt-then-l2_expr,
        # tested).  The kernel emits new attributes, so the rank window
        # needs an exchange anyway: size it like shuffle 1
        from ..crypto.aes import decrypt_score_vectors
        scored = decrypt_score_vectors(joined, index.keys_bc,
                                       mode="skip").repartition(n, "q_id")

    # shuffle 2: per-query exact rank (A2), ties by id (A3 semantics)
    wr = Window.partitionBy("q_id").orderBy(F.col("distance").asc(), F.col("id").asc())
    out_cols = ["q_id", "id", "distance", "rank"]
    if with_diagnostics:
        out_cols += ["_cand_raw", "_cand_kept", "_cand_decrypted"]
    return (scored.withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= k)
            .select(*out_cols))


def search_batch_adaptive(index: AnnIndex, queries: DataFrame, k: int = 10,
                          **kw) -> DataFrame:
    """O6 adaptive retry: one extra pass with the wider probe budget for
    every query that returned fewer than k rows, zero included
    (reference ``QueryServiceImpl.needRetry:444-447``).  Queries the
    coding filter drops (NaN/Inf, wrong dimension) are not retried.

    The result comes back persisted and materialized.  The first pass
    takes ONE action with no shuffle of its own: a query has k rows
    exactly when its ``rank == k`` row exists, so collecting the q_ids
    of those rows fills the cache, and the retry set is the rest of the
    batch's coded q_ids (already on the driver).  Without a retry the
    first pass is returned as is; a retry pass is persisted and
    materialized by one more action, and replaces the first pass's rows
    of its queries.

    ``probe_override <= 0`` disables the retry entirely: the first pass
    is materialized by one ``count()`` (reference
    ``RuntimeConfig.probeOverride = -1`` default — the PAPER_BASELINE
    search mode, ``config/SearchMode.java:3-6``, runs with no widening
    heuristic; see ``configs/example.json`` profile ``paper_baseline``)."""
    override = index.params.cfg.probe_override
    first = search_batch(index, queries, k=k, **kw).persist()
    if override <= 0:
        first.count()
        return first
    full = {r.q_id for r in
            first.filter(F.col("rank") == k).select("q_id").collect()}
    q_id_col = kw.get("q_id_col", "q_id")
    q_ids, _ = _query_batch(queries, q_id_col, kw.get("q_vector_col", "vector"),
                            index.params.cfg.dim)
    retry_ids = sorted(set(q_ids.tolist()) - full)
    if not retry_ids:
        return first
    retry = search_batch(index, queries.filter(F.col(q_id_col).isin(retry_ids)),
                         k=k, **{**kw, "probes": override}).persist()
    retry.count()
    return first.filter(~F.col("q_id").isin(retry_ids)).unionByName(retry)
