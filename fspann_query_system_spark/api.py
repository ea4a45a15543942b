"""System facade (reference ``api/.../ForwardSecureANNSystem.java`` —
the end-to-end lifecycle of SURVEY §3.1):

SETUP → GT → INDEX → FINALIZE → QUERY+EVAL → SELECTIVE RE-ENCRYPT → EXPORT

The reference is a single-process Java service looping queries serially;
this facade drives the same lifecycle as a handful of DataFrame plans:
index build is one job, the whole query set is one plan, re-encryption is
one semi-join plan.  Keys stay on the driver (broadcast only)."""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import SystemConfig
from .functions.plan import materialize
from .crypto import KeyManager, RotationPolicy, encrypt_vectors, reencrypt_touched, \
    version_census, TouchedTracker
from .lsh.params import LshParams, fit_params_from_df
from .query.ann import AnnIndex, search_batch, search_batch_adaptive
from .query.exact import knn_exact, groundtruth_table
from .query.profiler import Profiler, query_metric_rows, aggregates
from .query.token import interleave_decoys, strip_decoy_results
from .sources.registry import load_vectors


class ForwardSecureANNSystem:
    """Spark-native forward-secure ANN retrieval system."""

    def __init__(self, spark: SparkSession, config: SystemConfig,
                 keystore_path: str | None = None,
                 master_key: bytes | None = None):
        self.spark = spark
        self.config = config.validate()
        self.keys = KeyManager(
            master=master_key, path=keystore_path,
            policy=RotationPolicy(config.rotation_max_ops,
                                  config.rotation_max_age_sec))
        self.profiler = Profiler()
        self.tracker = TouchedTracker()
        self.index: AnnIndex | None = None
        self.encrypted: DataFrame | None = None
        self._base: DataFrame | None = None
        from .query.cache import QueryCache
        self.cache = QueryCache()
        self._index_epoch = 0

    # -- INDEX ------------------------------------------------------------
    def _keys_bc(self):
        return self.spark.sparkContext.broadcast(self.keys.key_map())

    def index_vectors(self, vectors: DataFrame,
                      params: LshParams | None = None,
                      sq8: bool = False) -> None:
        """Build routing state + encrypted store (SURVEY §3.1 steps 3-4).
        ``sq8=True`` also attaches the SQ8 compressed shadow at ingest so
        :meth:`search` can compressed-refine (``sq8_rerank=``)."""
        self.profiler.start("index_build")
        self._base = vectors.persist()
        self.keys.record_ops(self._base.count())
        self.keys.rotate_if_needed()
        plain_idx = AnnIndex.build(self._base, self.config.lsh(), params=params)
        if sq8:
            plain_idx = plain_idx.with_sq8()
        self.encrypted = encrypt_vectors(
            self._base, self._keys_bc(), self.keys.current_version).persist()
        self.encrypted.count()
        self.index = plain_idx.with_encrypted_points(self.encrypted, self._keys_bc())
        self._index_epoch += 1
        self.cache.invalidate()
        self.profiler.stop("index_build")

    def index_path(self, path: str) -> None:
        vec = load_vectors(self.spark, path, expected_dim=self.config.dim)
        self.index_vectors(
            vec.select("id", F.col("vector").cast("array<double>").alias("vector")))

    # -- QUERY + EVAL -----------------------------------------------------
    def search_cached(self, queries: DataFrame, k: int | None = None,
                      adaptive: bool = True) -> DataFrame:
        """Read-through result cache in front of :meth:`search` (reference
        LRU+TTL query cache, ``ForwardSecureANNSystem.java:1103-1151``):
        split the batch into cache hits and misses by logical token key,
        run the probe pipeline only for misses, merge.  The epoch in the
        key invalidates on every index rebuild / payload swap.

        DRIVER-BOUNDED BY DESIGN: the query batch and its results are
        collected, so memory is O(|batch| * (dim + k)) on the driver —
        fine for the interactive lookup pattern this cache mirrors
        (reference caches per-query in driver RAM too), wrong for bulk
        scoring.  Batches past ~10^5 queries should call :meth:`search`
        directly, which never collects."""
        from .query.cache import QueryCache
        k = k or self.config.top_k
        q_rows = queries.select("q_id", "vector").collect()
        keyed = [(r.q_id, QueryCache.key_of(r.vector, k, self._index_epoch), r)
                 for r in q_rows]
        # cache entries are (id, distance, rank) WITHOUT q_id: the key is
        # the query geometry, so a later query with the same vector but a
        # different q_id must get the rows re-stamped with ITS q_id
        hit_rows, miss = [], []
        for q_id, ck, r in keyed:
            cached = self.cache.get(ck)
            if cached is None:
                miss.append((ck, r))
            else:
                hit_rows.extend((q_id, *row) for row in cached)
        if miss:
            mdf = self.spark.createDataFrame(
                [(r.q_id, list(r.vector)) for _, r in miss],
                "q_id LONG, vector ARRAY<DOUBLE>")
            res = self.search(mdf, k=k, adaptive=adaptive, with_decoys=False)
            got = res.select("q_id", "id", "distance", "rank").collect()
            by_q: dict = {}
            for row in got:
                by_q.setdefault(row.q_id, []).append((row.id, row.distance, row.rank))
            for ck, r in miss:
                rows = by_q.get(r.q_id, [])
                self.cache.put(ck, rows)
                hit_rows.extend((r.q_id, *row) for row in rows)
        return self.spark.createDataFrame(
            hit_rows, "q_id LONG, id LONG, distance DOUBLE, rank INT")

    def search(self, queries: DataFrame, k: int | None = None,
               adaptive: bool = True, with_decoys: bool | None = None,
               sq8_rerank: int | None = None,
               with_diagnostics: bool = False) -> DataFrame:
        """Batched search over the encrypted store; decoy interleaving per
        config; touched ids recorded for forward-secure re-encryption.
        ``sq8_rerank`` enables compressed refine on an index built with
        ``index_vectors(..., sq8=True)``.  ``with_diagnostics`` carries
        the stabilization counters (raw/kept/decrypted candidate counts
        per query) through the result — see
        :func:`query.profiler.stabilization_rows`.

        The result comes back persisted and materialized by one action:
        the adaptive retry check's collect (plus one count when a retry
        pass runs — for every query with fewer than k rows, zero
        included; :func:`query.ann.search_batch_adaptive`), or one
        ``count()``.  The batch is coded and routed on the driver."""
        if self.index is None:
            raise RuntimeError("index not built")
        k = k or self.config.top_k
        use_decoys = (self.config.decoy_ratio > 0
                      if with_decoys is None else with_decoys)
        q = queries
        if use_decoys:
            q = interleave_decoys(queries, self.config.decoy_ratio,
                                  self.config.decoy_mode, self.config.dim,
                                  seed=self.config.seed).drop("is_decoy")
        self.profiler.start("search")
        kw = dict(k=k, sq8_rerank=sq8_rerank, with_diagnostics=with_diagnostics)
        if adaptive:
            res = search_batch_adaptive(self.index, q, **kw)
        else:
            res = search_batch(self.index, q, **kw).persist()
            res.count()
        self.profiler.stop("search")
        if self.config.reenc_mode != "off":
            self.tracker.record(res.select("id"))
        return strip_decoy_results(res) if use_decoys else res

    def evaluate(self, results: DataFrame, queries: DataFrame,
                 ks: list[int]) -> DataFrame:
        self.profiler.start("evaluate")
        rows = query_metric_rows(results, self._base, queries, None, ks,
                                 n_base=self._base.count())
        out = aggregates(rows)
        self.profiler.stop("evaluate")
        return out

    def groundtruth(self, queries: DataFrame, k: int = 100) -> DataFrame:
        """GT precompute (SURVEY §3.3 oracle) on the plaintext base."""
        return groundtruth_table(self._base, queries, k=k)

    # -- FORWARD SECURITY -------------------------------------------------
    def rotate_and_reencrypt_touched(self) -> dict:
        """SELECTIVE RE-ENCRYPT phase (reference
        ``runSelectiveReencryptionIfNeeded:1739-1804``): forced rotation,
        drain touched set, migrate touched stale rows, census."""
        return self.reencrypt_touched_to(self.keys.rotate())

    def reencrypt_touched_to(self, new_version: int) -> dict:
        """Migration body without the rotation — callers that share one
        KeyManager across several indexes (MultiDimSystem) rotate ONCE
        and migrate every index to the same version."""
        touched = self.tracker.drain()
        if touched is None:
            return {"version": new_version, "migrated": 0}
        self.profiler.start("reencrypt")
        bc = self._keys_bc()
        # materialized with its lineage cut: the new store's plan holds the
        # old store's three times (semi-join, anti-join, migrated rows), so
        # a persisted plan would grow threefold per rotation
        new_enc = materialize(reencrypt_touched(self.encrypted, touched, bc,
                                                new_version))
        census = {r.key_version: r.n_points
                  for r in version_census(new_enc).collect()}
        old = self.encrypted
        self.encrypted = new_enc
        self.index = self.index.with_encrypted_points(new_enc, bc)
        old.unpersist()
        self.profiler.stop("reencrypt")
        return {"version": new_version,
                "migrated": census.get(new_version, 0), "census": census}

    # -- RESTORE (SURVEY §3.4) -------------------------------------------
    def restore_from_store(self, encrypted: DataFrame,
                           params: LshParams) -> None:
        """Rebuild routing state from an encrypted store: decrypt →
        re-code with persisted params (the reference must re-insert
        one-by-one; here it is one decrypt + one build plan)."""
        from .crypto.aes import decrypt_vectors
        bc = self._keys_bc()
        plain = decrypt_vectors(encrypted, bc, mode="strict") \
            .select("id", "vector")
        self._base = plain.persist()
        idx = AnnIndex.build(self._base, params.cfg, params=params)
        self.encrypted = encrypted
        self.index = idx.with_encrypted_points(encrypted, bc)
        self._index_epoch += 1
        self.cache.invalidate()

    # -- EXPORT -----------------------------------------------------------
    def export_artifacts(self, out_dir: str, metric_rows=None, summary=None,
                         config_hash: str | None = None, **sinks) -> dict:
        """S13 export; extra sinks (accuracy, reencrypt_metrics,
        retrieved_samples, diagnostics) pass through to Profiler.export."""
        return self.profiler.export(out_dir, metric_rows, summary,
                                    config_hash, **sinks)


class MultiDimSystem:
    """Per-dimension system registry (reference ``main`` accepts a dims
    list and keeps one token factory + index per dim,
    ``ForwardSecureANNSystem.java:358-375``).  One shared KeyManager —
    rotation and forward security span all dims; each dim owns its LSH
    params and index."""

    def __init__(self, spark: SparkSession, config: SystemConfig,
                 dims: list[int], keystore_path: str | None = None,
                 master_key: bytes | None = None):
        from dataclasses import replace
        self.spark = spark
        self.systems: dict[int, ForwardSecureANNSystem] = {}
        shared_keys = None
        for d in dims:
            sub = ForwardSecureANNSystem(
                spark, replace(config, dim=d),
                keystore_path=keystore_path if shared_keys is None else None,
                master_key=master_key)
            if shared_keys is None:
                shared_keys = sub.keys
            else:
                sub.keys = shared_keys          # one keystore across dims
            self.systems[d] = sub

    def __getitem__(self, dim: int) -> ForwardSecureANNSystem:
        return self.systems[dim]

    def index_vectors(self, dim: int, vectors: DataFrame) -> None:
        self.systems[dim].index_vectors(vectors)

    def search(self, dim: int, queries: DataFrame, **kw) -> DataFrame:
        return self.systems[dim].search(queries, **kw)

    def rotate_and_reencrypt_touched(self) -> dict:
        """One rotation event migrates touched rows in every dim: the
        shared KeyManager rotates exactly once, then every dim migrates
        to that same version (rotating per dim would advance the retained
        key window D times per event and leave D-1 dims stale)."""
        new_version = next(iter(self.systems.values())).keys.rotate()
        return {d: sub.reencrypt_touched_to(new_version)
                for d, sub in self.systems.items()}
