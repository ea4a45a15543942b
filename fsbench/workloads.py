"""The benchmark workloads.

Both run a closed loop with one client: the next operation is sent only
after the previous one returned, and every operation is timed from the
call to the last collected row.

``enc_interactive`` runs the forward-security cycle on two facades over
the same store, each after a 16-query ``search`` batch (SQ8 shadow,
AES-GCM payloads), and replays the batch after each cycle; the replay
must return identical rows.

``offline`` alternates a 256-query IVF-PQ top-k batch with a near-dup
pass over documents that carry planted edit chains.

Set-up is timed once per run, cold: data generation, the build and the
first call of each operation, in a fresh Spark session.
"""

from __future__ import annotations

import gc
import os
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from . import checks, gen

K = 10
CORES = 4
MIN_SAMPLES = 2          # timed samples of each operation in every run
N_VECTORS = 20_000
RAW_VECTOR_BYTES = N_VECTORS * gen.DIM * 4      # float32 source vectors


@dataclass
class Outcome:
    """What one run measured and checked."""
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    setup_s: float = 0.0                               # the cold set-up
    latency_ms: dict = field(default_factory=dict)     # op -> [ms]
    items: dict = field(default_factory=dict)          # op -> items served
    quality: dict = field(default_factory=dict)        # name -> value
    values: dict = field(default_factory=dict)         # other measurements
    layers: dict = field(default_factory=dict)         # per-layer metrics

    def op(self, name: str, ms: float, items: int, errors: list) -> None:
        self.latency_ms.setdefault(name, []).append(ms)
        self.items[name] = self.items.get(name, 0) + items
        self.check(name, errors)

    def check(self, name: str, errors: list) -> None:
        """An untimed operation that only checks."""
        self.attempted += 1
        if errors:
            self.failed += 1
            self.errors.extend(f"{name}: {e}" for e in errors)

    def measured_s(self) -> float:
        return sum(sum(v) for v in self.latency_ms.values()) / 1e3


class Context:
    """Spark session, scratch directory, seed, run length and (traced
    runs only) the span collector."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer=None):
        self.spark, self.work, self.seed = spark, work, seed
        self.seconds, self.tracer = seconds, tracer

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def call(self, layer: str, fn):
        return fn() if self.tracer is None else self.tracer.call(layer, fn)

    def timed(self, layer: str, fn):
        """Run one client operation; returns (result, milliseconds).
        The driver's Python garbage is collected first, outside the
        timing; the JVM collects on its own (see README, warm-up policy)."""
        gc.collect()
        t0 = time.perf_counter()
        out = self.call(layer, fn)
        return out, (time.perf_counter() - t0) * 1e3

    def stored_bytes(self) -> int:
        """Bytes held by persisted tables (memory + disk)."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)


def _noop(df) -> None:
    """Evaluate every column of ``df`` without keeping the result."""
    df.write.format("noop").mode("overwrite").save()


def _routing_digest(index) -> dict:
    """(rows, order-independent 64-bit content sum) of the index's codes
    and bounds tables, in one job."""
    parts = [df.select(F.lit(name).alias("t"), F.count(F.lit(1)).alias("n"),
                       F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
                       .alias("h"))
             for name, df in (("codes", index.codes), ("bounds", index.bounds))]
    return {r.t: (int(r.n), str(r.h))
            for r in parts[0].unionByName(parts[1]).collect()}


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


# ---------------------------------------------------------------------------
# enc_interactive
# ---------------------------------------------------------------------------

BATCH = 16
MAX_FACADES = 6
SQ8_RERANK = 8
SENTINEL_ROWS = 64


def _system_config():
    from fspann_query_system_spark.config import SystemConfig
    # the knob-free operating point of tools/scale_bench.py
    return SystemConfig(dim=gen.DIM, m=26, lam=2, tables=8, divisions=2,
                        block_size=128, probes=8, refinement_limit=8192,
                        top_k=K, seed=11)


def _census(encrypted) -> dict:
    """key_version -> rows, counted from the store itself."""
    return {int(r.key_version): int(r.n) for r in encrypted.groupBy(
        "key_version").agg(F.count(F.lit(1)).alias("n")).collect()}


def enc_interactive(ctx: Context) -> Outcome:
    from fspann_query_system_spark.api import ForwardSecureANNSystem

    out = Outcome()
    spark = ctx.spark
    diag = ctx.tracer is not None
    cand: dict = {"raw": [], "kept": [], "decrypted": [], "returned": [],
                  "per_call": []}

    def search(sysm):
        """The batch on ``sysm``: (the facade's result DataFrame, its
        (q_id, id, distance, rank) rows)."""
        res = sysm.search(queries, k=K, sq8_rerank=SQ8_RERANK,
                          with_diagnostics=diag)
        if not diag:
            return res, [tuple(r) for r in
                         res.select("q_id", "id", "distance", "rank").collect()]
        full = [tuple(r) for r in res.select(
            "q_id", "id", "distance", "rank", "_cand_raw", "_cand_kept",
            "_cand_decrypted").collect()]
        per_q: dict = {}
        for r in full:
            per_q.setdefault(r[0], []).append(r)
        for rs in per_q.values():
            cand["raw"].append(rs[0][4])
            cand["kept"].append(rs[0][5])
            cand["decrypted"].append(rs[0][6])
            cand["returned"].append(len(rs))
        cand["per_call"].append(sum(rs[0][6] for rs in per_q.values()))
        return res, [r[:4] for r in full]

    def facade():
        """A fresh facade over the store with its lazy caches forced."""
        sysm = ForwardSecureANNSystem(spark, _system_config(),
                                      master_key=bytes(32))
        sysm.index_vectors(spark.read.parquet(ctx.path("base.parquet")),
                           sq8=True)
        idx = sysm.index
        idx.routing()
        idx.codes.count()
        idx.sq8_codes.count()
        return sysm

    # -- set-up, cold: data generation, the first facade and its first
    # batch, the second facade, the sentinel's forward-security cycle.
    # The store arrives as one file per core, as a bulk load would.
    t0 = time.perf_counter()
    X = gen.clustered_vectors(ctx.seed, N_VECTORS)
    Q = gen.perturbed_queries(ctx.seed, X, BATCH)
    gen.write_vectors(ctx.path("base.parquet"), X, files=CORES)
    gen.write_vectors(ctx.path("queries.parquet"), Q, id_name="q_id", files=1)
    queries = spark.read.parquet(ctx.path("queries.parquet")).persist()
    queries.count()
    before = ctx.stored_bytes()
    systems = [facade()]
    out.values["space_amp"] = (ctx.stored_bytes() - before) / RAW_VECTOR_BYTES
    res, first = search(systems[0])

    def touched_facade():
        """Each cycle needs a facade of its own (see README, known limits).
        This one indexes the same store with the same parameters, so Spark
        serves its plain index from the tables the first one persisted; it
        encrypts its own payloads.  It is handed the ids the batch touched,
        which is what its own search of the batch would record."""
        sysm = facade()
        sysm.tracker.record(res.select("id"))
        return sysm

    while len(systems) < MIN_SAMPLES:
        systems.append(touched_facade())
    sentinel = _sentinel_cycle(ctx)
    out.setup_s = time.perf_counter() - t0
    truth = checks.exact_topk(X, Q, K)
    q_ids = list(range(BATCH))
    out.check("search", checks.check_topk_rows(first, q_ids, K))
    routing = _routing_digest(systems[0].index)

    # -- per facade: the forward-security cycle, then the batch replayed;
    # at least MIN_SAMPLES cycles, more (on facades built untimed, like
    # the second) while the timed operations add up to less than --seconds
    cycle = {"migrated": [], "rewritten": [], "live": []}
    for f in range(MAX_FACADES):
        if f >= MIN_SAMPLES and out.measured_s() >= ctx.seconds:
            break
        if f == len(systems):
            systems.append(touched_facade())
        sysm = systems[f]

        def fs_cycle():
            info = sysm.rotate_and_reencrypt_touched()
            sysm.keys.delete_keys_older_than(info["version"], info["census"])
            return info

        info, ms = ctx.timed("crypto.reencrypt", fs_cycle)
        census = _census(sysm.encrypted)
        errs = checks.check_census(census, sysm.keys.retired, N_VECTORS)
        errs += checks.check_routing_unchanged(routing,
                                               _routing_digest(sysm.index))
        out.op("rotate", ms, 1, errs)
        cycle["migrated"].append(info["migrated"])
        cycle["rewritten"].append(sum(census.values()))
        cycle["live"].append(len(census))

        (_, replay), ms = ctx.timed("query.ann", lambda: search(sysm))
        out.op("search", ms, BATCH, checks.check_topk_rows(replay, q_ids, K)
               + checks.check_replay(first, replay))

    cycle["retired"] = _check_retirement(ctx, out, sentinel, X)
    got: dict = {}
    for q, pid, _, _ in first:
        got.setdefault(int(q), []).append(int(pid))
    out.quality["recall_at_10"] = checks.recall(got, truth, q_ids, K)
    out.values["rotations"] = len(cycle["migrated"])
    if ctx.tracer is not None:
        _enc_layers(ctx, out, cand, cycle)
    return out


def _sentinel_cycle(ctx: Context):
    """A sentinel store of the first SENTINEL_ROWS vectors, encrypted under
    its own key manager, with every row touched, so the forward-security
    cycle (rotate, re-encrypt the touched rows, census, retire) must
    retire version 1.  Run during set-up, where it is also the first call
    of the cycle's kernels in the process.  Returns (keys, store, the
    version that must be retired)."""
    from fspann_query_system_spark.crypto import (KeyManager, encrypt_vectors,
                                                  reencrypt_touched,
                                                  version_census)

    vec = ctx.spark.read.parquet(ctx.path("base.parquet")).filter(
        F.col("id") < SENTINEL_ROWS)
    keys = KeyManager(master=bytes(32))

    def bc():
        return ctx.spark.sparkContext.broadcast(keys.key_map())

    old = keys.current_version
    store = encrypt_vectors(vec, bc(), old).persist()
    new = keys.rotate()
    store = reencrypt_touched(store, vec.select("id"), bc(), new).persist()
    keys.delete_keys_older_than(new, {r.key_version: r.n_points for r in
                                      version_census(store).collect()})
    return keys, store, old


def _check_retirement(ctx: Context, out: Outcome, sentinel, X) -> int:
    """Untimed: the sentinel store is recounted and decrypted under the
    live keys alone.  Returns the number of retired versions."""
    from fspann_query_system_spark.crypto.aes import decrypt_vectors

    keys, store, old = sentinel
    try:
        keys.key_for(old)
        denied = False
    except KeyError:
        denied = True
    live = ctx.spark.sparkContext.broadcast(keys.key_map())
    decrypted = {int(r.id): r.vector for r in decrypt_vectors(
        store, live, mode="skip").select("id", "vector").collect()}
    errs = checks.check_census(_census(store), keys.retired, SENTINEL_ROWS)
    errs += checks.check_retired(keys.retired, range(1, old + 1),
                                 decrypted, X[:SENTINEL_ROWS], denied)
    out.check("retire", errs)
    return len(keys.retired)


def _enc_layers(ctx: Context, out: Outcome, cand: dict, cycle: dict) -> None:
    """Traced runs: per-layer metrics of the facade path, plus one pass of
    the ingest layers called one by one (the facade builds them in a
    single call)."""
    from fspann_query_system_spark.crypto import KeyManager, encrypt_vectors
    from fspann_query_system_spark.crypto.aes import decrypt_score_vectors
    from fspann_query_system_spark.lsh.coding import code_vectors
    from fspann_query_system_spark.lsh.params import fit_params_from_df
    from fspann_query_system_spark.lsh.partitioner import build_partitions
    from fspann_query_system_spark.ops.similarity import sq8_quantize, sq8_stats

    tr, L = ctx.tracer, out.layers
    for f in ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        L[f"query.ann.{f}"] = tr.median("query.ann", f)
    L["query.ann.compose_ms"] = tr.median("query.ann", "driver_ms")
    L["query.ann.exec_ms"] = tr.median("query.ann", "jobs_ms")
    for name in ("raw", "kept", "decrypted"):
        L[f"query.ann.cand_{name}"] = _median(cand[name])
    raw, kept = sum(cand["raw"]), sum(cand["kept"])
    dec, ret = sum(cand["decrypted"]), sum(cand["returned"])
    L["query.ann.kept_ratio"] = kept / raw if raw else 0.0
    L["query.ann.useful_ratio"] = ret / dec if dec else 0.0
    L["crypto.aes.decrypt_rows"] = _median(cand["per_call"])
    L["crypto.reencrypt.ms"] = tr.median("crypto.reencrypt", "wall_ms")
    L["crypto.reencrypt.jobs"] = tr.median("crypto.reencrypt", "jobs")
    L["crypto.reencrypt.migrated_rows"] = _median(cycle["migrated"])
    L["crypto.reencrypt.rewritten_rows"] = _median(cycle["rewritten"])
    mig = sum(cycle["migrated"])
    L["crypto.reencrypt.write_amp"] = sum(cycle["rewritten"]) / mig if mig else 0.0
    L["crypto.keys.live_versions"] = _median(cycle["live"])
    L["crypto.keys.retired_versions"] = float(cycle["retired"])

    spark, cfg = ctx.spark, _system_config().lsh()
    # the facades cached these very plans; without this the layers below
    # would read the facades' tables instead of doing their work
    spark.catalog.clearCache()
    vec = spark.read.parquet(ctx.path("base.parquet")).persist()
    vec.count()
    params = tr.call("lsh.params.fit", lambda: fit_params_from_df(vec, cfg))
    codes = code_vectors(vec, params).persist()
    tr.call("lsh.coding", codes.count)
    parts, bounds = build_partitions(
        codes, cfg.block_size, n_codes=N_VECTORS * cfg.tables * cfg.divisions)
    tr.call("lsh.partitioner", lambda: (_noop(parts), _noop(bounds)))
    tr.call("ops.similarity.sq8",
            lambda: _noop(sq8_quantize(vec, *sq8_stats(vec, "vector"))))
    keys = KeyManager(master=bytes(32))
    bc = spark.sparkContext.broadcast(keys.key_map())
    enc = encrypt_vectors(vec, bc, keys.current_version)
    tr.call("crypto.aes.encrypt", lambda: _noop(enc))
    enc = enc.persist()
    enc.count()
    q = spark.createDataFrame([([0.0] * gen.DIM,)], "_qvec ARRAY<DOUBLE>")
    tr.call("crypto.aes.decrypt",
            lambda: _noop(decrypt_score_vectors(enc.crossJoin(F.broadcast(q)), bc)))
    L["lsh.params.fit_ms"] = tr.median("lsh.params.fit", "wall_ms")
    L["lsh.coding.ms"] = tr.median("lsh.coding", "wall_ms")
    L["lsh.partitioner.ms"] = tr.median("lsh.partitioner", "wall_ms")
    L["lsh.partitioner.jobs"] = tr.median("lsh.partitioner", "jobs")
    L["lsh.partitioner.shuffle_bytes"] = tr.median("lsh.partitioner",
                                                   "shuffle_write_bytes")
    L["ops.similarity.sq8_ms"] = tr.median("ops.similarity.sq8", "wall_ms")
    L["crypto.aes.encrypt_rows_per_s"] = \
        N_VECTORS / (tr.median("crypto.aes.encrypt", "wall_ms") / 1e3)
    L["crypto.aes.decrypt_rows_per_s"] = \
        N_VECTORS / (tr.median("crypto.aes.decrypt", "wall_ms") / 1e3)


# ---------------------------------------------------------------------------
# offline
# ---------------------------------------------------------------------------

Q_BATCH = 256
Q_BATCHES = 4
N_TRAIN = 1_024
N_CELLS = 128
PQ_M, PQ_K = 8, 256
KMEANS_ITERS, PQ_ITERS = 1, 1
NPROBE, RERANK = 8, 16

N_DOCS, N_CHAINS, CHAIN_LEN = 2_000, 100, 6
DEDUP = dict(text_col="text", id_col="doc_id", k=gen.SHINGLE_K,
             n_hashes=24, bands=24, threshold=0.5)


def offline(ctx: Context) -> Outcome:
    from fspann_query_system_spark.ops.dedup import near_dup_pipeline
    from fspann_query_system_spark.ops.pq import (ivfpq_topk, pq_encode,
                                                  pq_fit, residual_table)
    from fspann_query_system_spark.ops.similarity import kmeans_fit

    out = Outcome()
    spark = ctx.spark

    def batch(i):
        i %= Q_BATCHES
        return queries.filter((F.col("q_id") >= i * Q_BATCH)
                              & (F.col("q_id") < (i + 1) * Q_BATCH))

    def build():
        base = spark.read.parquet(ctx.path("base.parquet")).persist()
        base.count()
        train = base.join(F.broadcast(train_df), "id")
        centroids = ctx.call("ops.similarity.kmeans", lambda: kmeans_fit(
            train, k=N_CELLS, iters=KMEANS_ITERS).withColumnRenamed("cell", "id").persist())
        # the residual table feeds both the codebook fit and the encode
        res = residual_table(base, centroids).persist()
        cb = ctx.call("ops.pq.fit", lambda: pq_fit(
            res.join(F.broadcast(train_df), "id"), m_sub=PQ_M, k=PQ_K, iters=PQ_ITERS))
        codes = pq_encode(res, cb, carry_cell=True).persist()
        ctx.call("ops.pq.encode", codes.count)
        docs = spark.read.parquet(ctx.path("docs.parquet")).persist()
        docs.count()
        return dict(base=base, centroids=centroids, res=res, codebook=cb,
                    codes=codes, docs=docs)

    def topk(st, queries):
        return ivfpq_topk(st["base"], queries, st["centroids"], st["codebook"],
                          k=K, nprobe=NPROBE, rerank=RERANK, codes=st["codes"],
                          by_residual=True)

    def dedup(docs):
        stats: dict = {}
        rows = [tuple(r) for r in near_dup_pipeline(
            docs, stats=stats, **DEDUP).collect()]
        return rows, stats

    # -- set-up, cold: data generation, the build, and the first calls of
    # each operation.  Bulk inputs arrive split, one file per core, so the
    # PQ, k-means and dedup kernels run on every core.
    t0 = time.perf_counter()
    X = gen.clustered_vectors(ctx.seed, N_VECTORS)
    Q = gen.perturbed_queries(ctx.seed, X, Q_BATCH * Q_BATCHES)
    train_ids = gen.sample_ids(ctx.seed, N_VECTORS, N_TRAIN)
    texts, chains = gen.chain_documents(ctx.seed, N_DOCS, N_CHAINS, CHAIN_LEN)
    gen.write_vectors(ctx.path("base.parquet"), X, files=CORES)
    gen.write_vectors(ctx.path("queries.parquet"), Q, id_name="q_id", files=CORES)
    gen.write_docs(ctx.path("docs.parquet"), texts, files=CORES)
    train_df = spark.createDataFrame([(int(i),) for i in train_ids], "id LONG")
    queries = spark.read.parquet(ctx.path("queries.parquet")).persist()
    queries.count()
    before = ctx.stored_bytes()
    state = build()
    out.values["space_amp"] = (ctx.stored_bytes() - before) / RAW_VECTOR_BYTES
    topk(state, batch(0).limit(16)).collect()
    dedup(state["docs"])
    out.setup_s = time.perf_counter() - t0
    truth = checks.exact_topk(X, Q, K)
    expected = checks.expected_dedup(texts, chains, DEDUP["threshold"])

    got: dict = {}
    stats_seen, i = [], 0
    while i < MIN_SAMPLES or out.measured_s() < ctx.seconds:
        rows, ms = ctx.timed("ops.pq.ivfpq",
                             lambda: [(r.q_id, r.id, r.dist, r.rank)
                                      for r in topk(state, batch(i)).collect()])
        ids = list(range((i % Q_BATCHES) * Q_BATCH,
                         (i % Q_BATCHES + 1) * Q_BATCH))
        out.op("ivfpq", ms, Q_BATCH, checks.check_topk_rows(rows, ids, K))
        for q, pid, _, _ in rows:
            got.setdefault(int(q), set()).add(int(pid))
        i += 1

        (rows, stats), ms = ctx.timed("ops.dedup", lambda: dedup(state["docs"]))
        rec, prec, errs = checks.dedup_scores(rows, expected)
        out.op("dedup", ms, N_DOCS, errs)
        out.quality["dedup_pair_recall"] = rec
        out.quality["dedup_pair_precision"] = prec
        stats_seen.append(stats)

    q_ids = sorted(got)
    out.quality["recall_at_10"] = checks.recall(got, truth[q_ids], q_ids, K)
    if ctx.tracer is not None:
        _offline_layers(ctx, out, state, stats_seen, texts)
    return out


def _offline_layers(ctx: Context, out: Outcome, state: dict, stats_seen: list,
                    texts: list) -> None:
    from fspann_query_system_spark.ops.dedup import (connected_components,
                                                     minhash_band_pairs)
    from fspann_query_system_spark.ops.similarity import ivf_assign

    tr, L = ctx.tracer, out.layers
    tr.call("ops.similarity.assign",
            lambda: _noop(ivf_assign(state["base"], state["centroids"])))
    L["ops.similarity.kmeans_ms"] = tr.median("ops.similarity.kmeans", "wall_ms")
    L["ops.similarity.assign_ms"] = tr.median("ops.similarity.assign", "wall_ms")
    L["ops.pq.fit_ms"] = tr.median("ops.pq.fit", "wall_ms")
    L["ops.pq.encode_ms"] = tr.median("ops.pq.encode", "wall_ms")
    L["ops.pq.ivfpq.exec_ms"] = tr.median("ops.pq.ivfpq", "jobs_ms")
    for f in ("jobs", "stages", "tasks", "executor_cpu_ms"):
        L[f"ops.pq.ivfpq.{f}"] = tr.median("ops.pq.ivfpq", f)
    L["ops.pq.ivfpq.shuffle_bytes"] = tr.median("ops.pq.ivfpq", "shuffle_write_bytes")
    for f in ("jobs", "stages"):
        L[f"ops.dedup.{f}"] = tr.median("ops.dedup", f)
    L["ops.dedup.shuffle_bytes"] = tr.median("ops.dedup", "shuffle_write_bytes")
    L["ops.dedup.cc_rounds"] = _median([s["rounds"] for s in stats_seen])

    # the pipeline's stages one by one: banding, then components over the
    # candidate pairs the exact shingle Jaccard keeps
    kw = {k: DEDUP[k] for k in ("text_col", "id_col", "k", "n_hashes", "bands")}
    pairs = tr.call("ops.dedup.band_pairs", lambda: [
        (r.id_a, r.id_b) for r in minhash_band_pairs(
            state["docs"], **kw).select("id_a", "id_b").collect()])
    sets: dict = {}

    def sh(d):
        if d not in sets:
            sets[d] = gen.shingles(texts[d])
        return sets[d]

    verified = [(a, b) for a, b in pairs
                if gen.jaccard(sh(a), sh(b)) >= DEDUP["threshold"]]
    pairs_df = ctx.spark.createDataFrame(verified, "id_a LONG, id_b LONG")
    cc_stats: dict = {}
    tr.call("ops.dedup.cc", lambda: connected_components(
        pairs_df, stats=cc_stats).collect())
    L["ops.dedup.band_pairs_ms"] = tr.median("ops.dedup.band_pairs", "wall_ms")
    L["ops.dedup.candidates"] = float(len(pairs))
    L["ops.dedup.verified_pairs"] = float(len(verified))
    L["ops.dedup.verify_ratio"] = len(verified) / len(pairs) if pairs else 0.0
    L["ops.dedup.cc_ms"] = tr.median("ops.dedup.cc", "wall_ms")


WORKLOADS = {"enc_interactive": enc_interactive, "offline": offline}
