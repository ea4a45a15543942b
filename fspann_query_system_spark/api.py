"""System facade (reference ``api/.../ForwardSecureANNSystem.java`` —
the end-to-end lifecycle of SURVEY §3.1):

SETUP → GT → INDEX → FINALIZE → QUERY+EVAL → SELECTIVE RE-ENCRYPT → EXPORT

The reference is a single-process Java service looping queries serially;
this facade drives the same lifecycle as a handful of DataFrame plans:
index build is one job, the whole query set is one plan.  Keys stay on
the driver (broadcast only).

No table the facade keeps persisted holds a plaintext vector.  The
routing state (LSH codes, partition bounds), the optional
one-byte-per-dimension SQ8 shadow and the AES-GCM store stay cached;
the plaintext corpus is cached only while the build reads it, and
``evaluate`` and ``groundtruth`` read it again from its source (after a
restore, by decrypting the live store).

The encrypted store is a fixed base plus a small re-encrypted delta,
merged on read (the reference writes one record file per id and
version, so its re-encryption touches only the touched records).  A
rotation writes the new delta — the touched rows under the new key plus
the older delta rows — and never the base; once the delta holds more
than ``COMPACT_FRACTION`` of the store, a compaction rewrites the base
from the live view.  See :meth:`ForwardSecureANNSystem.reencrypt_touched_to`."""

from __future__ import annotations

import math

import pyarrow as pa

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import SystemConfig
from .functions.plan import as_leaf, materialize, release
from .crypto import KeyManager, RotationPolicy, encrypt_vectors, reencrypt_all, \
    TouchedTracker
from .lsh.params import LshParams, fit_params_from_df
from .query.ann import AnnIndex, search_batch_adaptive
from .query.exact import knn_exact, groundtruth_table
from .query.profiler import Profiler, query_metric_rows, aggregates
from .query.token import interleave_decoys, strip_decoy_results
from .sources.registry import load_vectors

# A rotation first compacts (rewrites the base from the live view) when
# the delta held more than this fraction of the store's rows at the last
# census.  Between compactions a rotation writes only the delta, so the
# base is rewritten about once per this fraction of the store migrated:
# a migrated row costs about 1 + 1/COMPACT_FRACTION written rows,
# amortized, against a delta of up to this fraction masked and merged on
# every read.  1/8 is a starting point, not a measured optimum.
COMPACT_FRACTION = 1 / 8


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
        self.encrypted: DataFrame | None = None     # the live store
        self._store: DataFrame | None = None        # its encrypted base
        self._leaf: DataFrame | None = None         # the base as a plan leaf
        self._delta: DataFrame | None = None        # rows re-encrypted since
        self._delta_rows = 0                        # the last compaction
        self._rows = 0
        self._store_parts = 0
        self._base: DataFrame | None = None         # plaintext source;
                                                    # None after a restore
        from .query.cache import QueryCache
        self.cache = QueryCache()
        self._index_epoch = 0

    # -- INDEX ------------------------------------------------------------
    def _keys_bc(self):
        """Every live key version.  Retirement is census-gated, so a
        version not yet retired may still guard rows, however old."""
        return self.spark.sparkContext.broadcast(self.keys.key_map(oldest=1))

    def index_vectors(self, vectors: DataFrame,
                      params: LshParams | None = None,
                      sq8: bool = False) -> None:
        """Build routing state + encrypted store (SURVEY §3.1 steps 3-4).
        ``sq8=True`` also attaches the SQ8 compressed shadow at ingest so
        :meth:`search` can compressed-refine (``sq8_rerank=``).

        ``vectors`` is persisted for the build only: the count, the
        params fit, the LSH coding, the SQ8 stats and shadow and the
        encryption all read it, so a source that is costly to read (a
        vector file parsed in Python) is read once.  Once the routing
        state, the shadow and the store are loaded, it is released, so
        no plaintext copy stays in the block store (releasing it earlier
        would re-plan the not-yet-loaded tables to read the source).  A
        table the caller persisted is left as it is."""
        self.profiler.start("index_build")
        owned = vectors.storageLevel == StorageLevel.NONE
        if owned:
            vectors.persist()
        self._base = vectors
        rows = vectors.count()
        self.keys.record_ops(rows)
        self.keys.rotate_if_needed()
        plain_idx = AnnIndex.build(vectors, self.config.lsh(), params=params)
        if sq8:
            plain_idx = plain_idx.with_sq8()
            plain_idx.sq8_codes.count()
        plain_idx.routing()
        plain_idx.codes.count()
        bc = self._keys_bc()
        store = encrypt_vectors(vectors, bc, self.keys.current_version).persist()
        store.count()
        if owned:
            release(vectors)
        self.index = plain_idx
        self._set_base(store, as_leaf(store), rows, bc)
        self._index_epoch += 1
        self.cache.invalidate()
        self.profiler.stop("index_build")

    def index_path(self, path: str) -> None:
        vec = load_vectors(self.spark, path, expected_dim=self.config.dim)
        self.index_vectors(
            vec.select("id", F.col("vector").cast("array<double>").alias("vector")))

    # -- QUERY + EVAL -----------------------------------------------------
    def search_cached(self, queries: DataFrame,
                      k: int | None = None) -> DataFrame:
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
            mdf = self.spark.createDataFrame(pa.table({
                "q_id": pa.array([r.q_id for _, r in miss], pa.int64()),
                "vector": pa.array([r.vector for _, r in miss],
                                   pa.list_(pa.float64()))}))
            res = self.search(mdf, k=k, with_decoys=False)
            got = res.select("q_id", "id", "distance", "rank").collect()
            by_q: dict = {}
            for row in got:
                by_q.setdefault(row.q_id, []).append((row.id, row.distance, row.rank))
            for ck, r in miss:
                rows = by_q.get(r.q_id, [])
                self.cache.put(ck, rows)
                hit_rows.extend((r.q_id, *row) for row in rows)
        cols = list(zip(*hit_rows)) or [()] * 4
        return self.spark.createDataFrame(pa.table({
            name: pa.array(col, typ) for name, col, typ in zip(
                ("q_id", "id", "distance", "rank"), cols,
                (pa.int64(), pa.int64(), pa.float64(), pa.int32()))}))

    def search(self, queries: DataFrame, k: int | None = None,
               with_decoys: bool | None = None,
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
        ``count()`` when ``probe_override <= 0`` turns the retry off.
        The batch is coded and routed on the driver."""
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
        res = search_batch_adaptive(self.index, q, k=k, sq8_rerank=sq8_rerank,
                                    with_diagnostics=with_diagnostics)
        self.profiler.stop("search")
        if self.config.reenc_mode != "off":
            self.tracker.record(res.select("id"))
        return strip_decoy_results(res) if use_decoys else res

    def evaluate(self, results: DataFrame, queries: DataFrame,
                 ks: list[int]) -> DataFrame:
        self.profiler.start("evaluate")
        rows = query_metric_rows(results, self._plaintext(), queries, None,
                                 ks, n_base=self._rows)
        out = aggregates(rows)
        self.profiler.stop("evaluate")
        return out

    def groundtruth(self, queries: DataFrame, k: int = 100) -> DataFrame:
        """GT precompute (SURVEY §3.3 oracle) on the plaintext base."""
        return groundtruth_table(self._plaintext(), queries, k=k)

    def _plaintext(self) -> DataFrame:
        """The plaintext corpus, planned at call time: the source
        :meth:`index_vectors` was given or, after
        :meth:`restore_from_store`, a strict decrypt of the current live
        store under the current keys (a compaction releases the table
        the facade was restored from)."""
        if self._base is not None:
            return self._base
        from .crypto.aes import decrypt_vectors
        return decrypt_vectors(self.encrypted, self._keys_bc(),
                               mode="strict").select("id", "vector")

    # -- FORWARD SECURITY -------------------------------------------------
    def rotate_and_reencrypt_touched(self) -> dict:
        """SELECTIVE RE-ENCRYPT phase (reference
        ``runSelectiveReencryptionIfNeeded:1739-1804``): forced rotation,
        drain touched set, migrate touched stale rows, census."""
        return self.reencrypt_touched_to(self.keys.rotate())

    def reencrypt_touched_to(self, new_version: int) -> dict:
        """Migration body without the rotation — callers that share one
        KeyManager across several indexes (MultiDimSystem) rotate ONCE
        and migrate every index to the same version.

        The store is a fixed base plus a delta (merge-on-read).  The live
        view :attr:`encrypted` — also the index's payload table, so every
        search and every census sees it — is the base rows whose id the
        delta does not hold, plus the delta, coalesced to the base's
        partition count.  A rotation:

        1. compacts first if the delta held more than
           ``COMPACT_FRACTION`` of the rows at the last census: the live
           view is materialized as the new base (same partition count),
           and the old base and delta are released;
        2. drains the tracker (:meth:`TouchedTracker.drain`: one collect,
           deduplicated on the driver into an Arrow table, which
           broadcasts without a Python worker stage);
        3. re-encrypts the touched live rows through
           :func:`crypto.reencrypt.reencrypt_all` (F5: rows already under
           the target key pass through), one task per base partition's
           worth of rows the new delta can hold;
        4. materializes only the new delta — the old delta without the
           re-touched ids, plus those rows — never the base, and
           releases the old delta;
        5. takes the census over the live view's two halves in one
           aggregate, which also sizes the delta for steps 1 and 3.

        So between compactions the base is never rewritten, and the
        delta holds exactly the ids migrated since the last compaction.
        A masked base row is not live: the census does not count it and
        no search reads it.  Once its key is retired it is unreadable
        garbage, which the next compaction drops."""
        touched = self.tracker.drain()
        if touched is None:
            return {"version": new_version, "migrated": 0}
        self.profiler.start("reencrypt")
        bc = self._keys_bc()
        if self._delta_rows > COMPACT_FRACTION * self._rows:
            old = (self._store, self._delta)
            compacted = materialize(self.encrypted)
            self._set_base(compacted, compacted, self._rows, bc)
            for df in old:
                release(df)
        ids = F.broadcast(self.spark.createDataFrame(touched))
        # one task per base partition's worth of delta rows, coalesced
        # BEFORE the kernel: a kernel below a coalesce would run once per
        # store partition, serially, inside each task
        parts = max(1, math.ceil(self._store_parts * (self._delta_rows
                                                      + touched.num_rows)
                                 / max(1, self._rows)))
        delta = reencrypt_all(self.encrypted.join(ids, on="id", how="left_semi")
                              .coalesce(parts), bc, new_version)
        old = self._delta
        if old is not None:
            delta = old.join(ids, on="id", how="left_anti").unionByName(delta)
        delta = materialize(delta.coalesce(parts))
        masked = self._leaf.join(F.broadcast(delta.select("id")), on="id",
                                 how="left_anti")
        census, n_delta = {}, 0
        for r in (masked.select("key_version", F.lit(0).alias("in_delta"))
                  .unionByName(delta.select("key_version",
                                            F.lit(1).alias("in_delta")))
                  .groupBy("key_version", "in_delta").count().collect()):
            census[r.key_version] = census.get(r.key_version, 0) + r["count"]
            n_delta += r.in_delta * r["count"]
        self._delta, self._delta_rows = delta, n_delta
        self._rows = sum(census.values())
        self._set_live(masked.unionByName(delta).coalesce(self._store_parts), bc)
        if old is not None:
            release(old)
        self.profiler.stop("reencrypt")
        return {"version": new_version,
                "migrated": census.get(new_version, 0), "census": census}

    def _set_base(self, store: DataFrame, leaf: DataFrame, rows: int,
                  keys_bc) -> None:
        """Make ``store`` (``rows`` rows) the encrypted base, with no
        delta: the live store.  ``leaf`` is the same rows behind a
        one-node plan (:func:`functions.plan.as_leaf`), which the live
        view reads once a delta exists, so the view's plan keeps one
        shape whether the base was persisted at ingest or materialized
        by a compaction."""
        self._store, self._leaf, self._rows = store, leaf, rows
        self._delta, self._delta_rows = None, 0
        self._store_parts = store.rdd.getNumPartitions()
        self._set_live(store, keys_bc)

    def _set_live(self, live: DataFrame, keys_bc) -> None:
        """Make ``live`` the store of the facade and of its index."""
        self.encrypted = live
        self.index = self.index.with_encrypted_points(live, keys_bc)

    # -- RESTORE (SURVEY §3.4) -------------------------------------------
    def restore_from_store(self, encrypted: DataFrame,
                           params: LshParams) -> None:
        """Rebuild routing state from an encrypted store: decrypt →
        re-code with persisted params (the reference must re-insert
        one-by-one; here it is one decrypt + one build plan).  The store
        becomes the base of this facade's live store.

        The decrypted vectors are persisted only while the routing state
        is built: its codes and bounds are materialized, then the
        plaintext is released (releasing it first would re-plan the
        not-yet-loaded tables to decrypt again).  :meth:`evaluate` and
        :meth:`groundtruth` decrypt the live store when called."""
        from .crypto.aes import decrypt_vectors
        bc = self._keys_bc()
        plain = decrypt_vectors(encrypted, bc, mode="strict") \
            .select("id", "vector").persist()
        self._base = None
        self.index = AnnIndex.build(plain, params.cfg, params=params)
        self.index.routing()
        self.index.codes.count()
        release(plain)
        self._set_base(encrypted, as_leaf(encrypted), encrypted.count(), bc)
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
