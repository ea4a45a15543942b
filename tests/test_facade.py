"""Facade lifecycle (reference api/it module coverage): config profiles,
tokens/decoys, profiler sinks, full system loop incl. restore."""

import json

import numpy as np
import pytest

from pyspark.sql import functions as F

from fspann_query_system_spark.api import ForwardSecureANNSystem
from fspann_query_system_spark.config import SystemConfig, load_config, config_sha256
from fspann_query_system_spark.query.token import (make_token, open_token,
                                                   generate_decoys, decoy_count,
                                                   interleave_decoys,
                                                   strip_decoy_results)
from fspann_query_system_spark.crypto import KeyManager


def test_config_profiles_and_validation(tmp_path):
    p = tmp_path / "cfg.json"
    p.write_text(json.dumps({
        "dim": 16, "m": 6, "tables": 3,
        "profiles": {"fast": {"probes": 3, "refinement_limit": 500},
                     "bad": {"reenc_mode": "sometimes"}}}))
    cfg = load_config(str(p))
    assert cfg.dim == 16 and cfg.probes == 5
    fast = load_config(str(p), "fast")
    assert fast.probes == 3 and fast.refinement_limit == 500
    with pytest.raises(ValueError):
        load_config(str(p), "bad")
    with pytest.raises(KeyError):
        load_config(str(p), "nope")
    (tmp_path / "junk.json").write_text('{"not_a_key": 1}')
    with pytest.raises(ValueError):
        load_config(str(tmp_path / "junk.json"))
    assert len(config_sha256(str(p))) == 64


def test_token_roundtrip_and_decoys(clustered):
    df, X = clustered
    from fspann_query_system_spark.lsh.params import LshConfig, fit_params
    cfg = LshConfig(dim=16, m=4, lam=2, tables=2, divisions=1, seed=3)
    params = fit_params(X[:200], cfg)
    km = KeyManager(master=b"\x21" * 32)
    tok = make_token(5, X[5], params, km.key_for(1), 1, top_k=7)
    assert tok.top_k == 7 and tok.dim == 16 and len(tok.codes) == 2
    v = open_token(tok, km.key_for(1))
    assert np.allclose(v, X[5])

    assert decoy_count(100, 0.2) == 25      # 25/125 = 20% decoys
    assert decoy_count(100, 0.0) == 0
    D = generate_decoys(10, 16, "clustered", np.random.default_rng(0), X)
    assert np.allclose(np.linalg.norm(D, axis=1), 1.0)
    with pytest.raises(ValueError):
        generate_decoys(5, 16, "weird", np.random.default_rng(0))


def test_decoy_interleave_and_strip(spark, clustered):
    df, X = clustered
    q = df.limit(10).select(F.col("id").alias("q_id"), "vector")
    mixed = interleave_decoys(q, ratio=0.3, mode="gaussian", dim=16)
    n = mixed.count()
    assert n > 10
    assert mixed.filter("is_decoy").count() == n - 10
    fake_results = mixed.select("q_id", F.lit(1).alias("rank"))
    assert strip_decoy_results(fake_results).count() == 10


def test_full_lifecycle(spark, clustered, tmp_path):
    df, X = clustered
    cfg = SystemConfig(dim=16, m=8, lam=2, tables=4, divisions=2,
                       block_size=32, refinement_limit=400,
                       rotation_max_ops=10**9, top_k=10)
    sys_ = ForwardSecureANNSystem(spark, cfg, master_key=b"\x33" * 32)
    sys_.index_vectors(df)

    rng = np.random.default_rng(8)
    qidx = rng.choice(len(X), 12, replace=False)
    q = spark.createDataFrame(
        [(int(i), (X[i] + rng.normal(0, 0.05, 16)).tolist()) for i in qidx],
        "q_id LONG, vector ARRAY<DOUBLE>")

    res = sys_.search(q, k=10)
    assert res.groupBy("q_id").count().filter("count != 10").count() == 0

    ev = {r.k: r for r in sys_.evaluate(res, q, ks=[1, 10]).collect()}
    assert ev[10].avg_recall > 0.6
    assert ev[10].avg_ratio >= 1.0

    # forward-security phase: touched ids migrate to the new key
    out = sys_.rotate_and_reencrypt_touched()
    assert out["version"] == 2 and out["migrated"] > 0
    assert set(out["census"]) == {1, 2}

    # search still correct against the mixed-version store
    res2 = sys_.search(q, k=10)
    assert sorted(map(tuple, res2.select("q_id", "id").collect())) == \
           sorted(map(tuple, res.select("q_id", "id").collect()))

    # restore path: rebuild routing state from the encrypted store alone
    sys2 = ForwardSecureANNSystem(spark, cfg, master_key=b"\x33" * 32)
    sys2.keys.current_version = sys_.keys.current_version
    sys2.restore_from_store(sys_.encrypted, sys_.index.params)
    res3 = sys2.search(q, k=10)
    assert res3.count() > 0

    # export sinks
    art = sys_.export_artifacts(str(tmp_path / "artifacts"),
                                config_hash="ab" * 32)
    assert "phases" in art and "metrics_summary" in art
    txt = open(art["metrics_summary"]).read()
    assert "config_sha256=" in txt and "phase.search=" in txt


def test_facade_sq8_compressed_refine(spark, clustered):
    """index_vectors(sq8=True) + search(sq8_rerank=) — the facade path
    of the compressed refine: same ids as the full-decrypt search."""
    df, X = clustered
    cfg = SystemConfig(dim=16, m=8, lam=2, tables=4, divisions=2,
                       block_size=32, refinement_limit=400,
                       rotation_max_ops=10**9, top_k=10)
    sys_ = ForwardSecureANNSystem(spark, cfg, master_key=b"\x44" * 32)
    sys_.index_vectors(df, sq8=True)
    q = df.filter("id < 5").selectExpr("id AS q_id", "vector")
    full = sys_.search(q, k=10)
    pre = sys_.search(q, k=10, sq8_rerank=4)
    hits = (pre.select("q_id", "id")
            .join(full.select("q_id", "id"), ["q_id", "id"]).count())
    assert full.count() == 50 and hits >= 48
    top1 = {r.q_id: r.id for r in pre.filter("rank = 1").collect()}
    assert top1 == {i: i for i in range(5)}    # exact self-hits survive


def _block_store(spark) -> tuple[dict, set]:
    """The cached relations, by JVM identity → (their column names, the
    RDD id of their buffers when loaded), and the RDD ids that hold
    blocks in the block store."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    seq = field.get(cm)
    identity = spark._jvm.java.lang.System.identityHashCode
    cached = {}
    for i in range(seq.size()):
        cd = seq.apply(i)
        out = cd.plan().output()
        builder = cd.cachedRepresentation().cacheBuilder()
        rdd = (builder.cachedColumnBuffers().id()
               if builder.isCachedColumnBuffersLoaded() else None)
        cached[identity(cd)] = (
            {out.apply(j).name() for j in range(out.size())}, rdd)
    stored = {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    return cached, stored


def _assert_no_plaintext_since(spark, before, timeout_s: float = 20.0):
    """No relation cached since ``before`` has a ``vector`` column, and
    every RDD stored since then is the buffer of such a relation.  A
    released table's blocks are freed asynchronously, hence the wait."""
    import time
    deadline = time.monotonic() + timeout_s
    while True:
        cached, stored = _block_store(spark)
        new = {k: v for k, v in cached.items() if k not in before[0]}
        assert not [cols for cols, _ in new.values() if "vector" in cols]
        owned = {rdd for _, rdd in new.values()}
        stray = stored - before[1] - owned
        if not stray or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    assert not stray, stray


def test_no_plaintext_at_rest(spark, clustered):
    """After ``index_vectors(sq8=True)`` and after ``restore_from_store``
    the facade has persisted no plaintext vector: its cached tables are
    routing state, the SQ8 shadow and the AES-GCM store.  ``evaluate``
    and ``groundtruth`` re-read the plaintext from its source and agree
    with the same calls on the caller's table, on a restored facade also
    after a compaction has released the table it was restored from.  The SQ8 shadow is one
    byte per dimension and unpacks to ``sq8_quantize``'s codes."""
    from fspann_query_system_spark.api import COMPACT_FRACTION
    from fspann_query_system_spark.functions.plan import materialize
    from fspann_query_system_spark.ops.similarity import sq8_quantize
    from fspann_query_system_spark.query.exact import groundtruth_table
    from fspann_query_system_spark.query.profiler import (aggregates,
                                                          query_metric_rows)
    from pyspark.sql.types import BinaryType
    df, X = clustered
    cfg = SystemConfig(dim=16, m=8, lam=2, tables=4, divisions=2,
                       block_size=32, refinement_limit=400,
                       rotation_max_ops=10**9, top_k=10)
    q = df.filter(F.col("id") % 97 == 5).selectExpr("id AS q_id", "vector")
    ks = [1, 10]

    def expected(res):
        return (sorted(tuple(r) for r in aggregates(query_metric_rows(
                    res, df, q, None, ks, n_base=len(X))).collect()),
                sorted((r.q_id, list(r.neighbor_ids)) for r in
                       groundtruth_table(df, q, k=20).collect()))

    def got(sysm, res):
        return (sorted(tuple(r) for r in sysm.evaluate(res, q, ks).collect()),
                sorted((r.q_id, list(r.neighbor_ids)) for r in
                       sysm.groundtruth(q, k=20).collect()))

    before = _block_store(spark)
    sys_ = ForwardSecureANNSystem(spark, cfg, master_key=b"\x49" * 32)
    # a plan of its own, not the fixture's cached one
    sys_.index_vectors(df.filter(F.col("id") >= 0), sq8=True)
    idx = sys_.index
    idx.routing()
    idx.codes.count()
    idx.sq8_codes.count()
    _assert_no_plaintext_since(spark, before)

    shadow = idx.sq8_codes
    assert isinstance(shadow.schema["codes"].dataType, BinaryType)
    packed = {r.id: list(r.codes) for r in shadow.collect()}
    ref = {r.id: r.codes for r in
           sq8_quantize(df, idx.sq8_mins, idx.sq8_maxs).collect()}
    assert len(packed) == len(X) and all(len(c) == 16 for c in packed.values())
    assert packed == ref

    res = sys_.search(q, k=10, sq8_rerank=4)
    want = expected(res)
    assert got(sys_, res) == want

    # restored from a checkpoint, whose blocks a compaction frees
    stored = materialize(sys_.encrypted)
    before = _block_store(spark)
    sys2 = ForwardSecureANNSystem(spark, cfg, master_key=b"\x49" * 32)
    sys2.restore_from_store(stored, idx.params)
    _assert_no_plaintext_since(spark, before)
    assert got(sys2, res) == want
    assert sorted(tuple(r) for r in sys2.search(q, k=10).collect()) == \
        sorted(tuple(r) for r in sys_.search(q, k=10).collect())

    # the first rotation leaves a delta past the compaction fraction, the
    # second compacts it and releases the restored table: the plaintext
    # view follows the live store
    for lo, hi in ((0, int(COMPACT_FRACTION * len(X)) + 50), (0, 10)):
        sys2.tracker.record(df.filter((F.col("id") >= lo) & (F.col("id") < hi))
                            .select("id"))
        sys2.rotate_and_reencrypt_touched()
    assert sys2._store is not stored
    assert got(sys2, res) == want


def test_query_cache_lru_ttl_and_epoch():
    from fspann_query_system_spark.query.cache import QueryCache
    c = QueryCache(max_entries=2, ttl_sec=60)
    k1 = QueryCache.key_of([1.0, 2.0], 10, epoch=1)
    assert QueryCache.key_of([1.0, 2.0], 10, 1) == k1          # deterministic
    assert QueryCache.key_of([1.0, 2.0], 10, 2) != k1          # epoch busts
    assert QueryCache.key_of([1.0, 2.5], 10, 1) != k1
    assert c.get(k1) is None
    c.put(k1, [("a", 0.1)])
    assert c.get(k1) == [("a", 0.1)]
    c.put("k2", [1]); c.put("k3", [2])                          # evicts k1 (LRU)
    assert c.get(k1) is None and c.get("k3") == [2]
    c.ttl_sec = 0.0
    c.put("k4", [3])
    import time as _t; _t.sleep(0.01)
    assert c.get("k4") is None                                  # TTL expiry
    assert c.hits >= 2 and c.misses >= 3


def test_example_config_profiles():
    from fspann_query_system_spark.config import load_config
    cfg = load_config("/root/repo/configs/example.json", profile="high")
    assert cfg.tables == 8 and cfg.refinement_limit == 22000
    base = load_config("/root/repo/configs/example.json")
    assert base.tables == 6


def test_paper_baseline_profile_end_to_end(spark):
    """SearchMode parity (reference ``config/SearchMode.java:3-6``):
    the ``paper_baseline`` profile pins every knob the reference's
    PAPER_BASELINE mode implies — PaperConfig geometry defaults
    (``SystemConfig.java:237-263``: m=24, lambda=2, divisions=3,
    tables=6, seed=13) and RuntimeConfig defaults
    (``SystemConfig.java:265-285``: refinementLimit=20000,
    probeOverride=-1 i.e. adaptive widening DISABLED,
    hammingPrefilterThreshold=0) with decoys/cloaking off — and those
    values flow end-to-end through AnnIndex.build + search."""
    import numpy as np
    from dataclasses import replace
    from pyspark.sql import functions as F
    from fspann_query_system_spark.config import load_config
    from fspann_query_system_spark.query.ann import (
        AnnIndex, search_batch, search_batch_adaptive)

    cfg = load_config("/root/repo/configs/example.json",
                      profile="paper_baseline")
    # reference PaperConfig defaults
    assert cfg.m == 24 and cfg.lam == 2 and cfg.divisions == 3
    assert cfg.tables == 6 and cfg.seed == 13
    # reference RuntimeConfig defaults
    assert cfg.refinement_limit == 20000
    assert cfg.probe_override == -1        # widening heuristic disabled
    assert cfg.hamming_threshold == 0      # prefilter disabled
    assert cfg.decoy_ratio == 0.0 and cfg.cloak_noise == 0.0

    # end-to-end: the built index carries the profile's params
    rng = np.random.default_rng(7)
    X = rng.normal(0, 1, (200, 12))
    vec = spark.createDataFrame([(i, X[i].tolist()) for i in range(200)],
                                "id LONG, vector ARRAY<DOUBLE>")
    idx = AnnIndex.build(vec, replace(cfg, dim=12).lsh())
    got = idx.params.cfg
    assert (got.m, got.lam, got.divisions, got.tables, got.seed) == \
        (24, 2, 3, 6, 13)
    assert got.refinement_limit == 20000 and got.probe_override == -1
    # probeOverride=-1 => adaptive retry is a no-op (identical results)
    q = vec.limit(3).select(F.col("id").alias("q_id"), "vector")
    plain = search_batch(idx, q, k=5).orderBy("q_id", "rank").collect()
    adapt = search_batch_adaptive(idx, q, k=5).orderBy("q_id",
                                                       "rank").collect()
    assert plain == adapt


def test_search_cached_hits_and_equivalence(spark):
    import numpy as np
    from pyspark.sql import functions as F
    from fspann_query_system_spark.api import ForwardSecureANNSystem
    from fspann_query_system_spark.config import SystemConfig
    rng = np.random.default_rng(12)
    X = rng.normal(0, 1, (300, 12))
    vec = spark.createDataFrame([(i, X[i].tolist()) for i in range(300)],
                                "id LONG, vector ARRAY<DOUBLE>")
    cfg = SystemConfig(dim=12, m=6, lam=2, tables=3, divisions=1,
                       probes=4, refinement_limit=100, top_k=5)
    sys_ = ForwardSecureANNSystem(spark, cfg, master_key=bytes(32))
    sys_.index_vectors(vec)
    q = vec.limit(4).select(F.col("id").alias("q_id"), "vector")
    first = sorted(tuple(r) for r in sys_.search_cached(q).collect())
    assert sys_.cache.misses >= 4 and sys_.cache.hits == 0
    second = sorted(tuple(r) for r in sys_.search_cached(q).collect())
    assert second == first
    assert sys_.cache.hits >= 4                 # all served from cache
    sys_.index_vectors(vec)                      # rebuild → epoch bust
    third = sorted(tuple(r) for r in sys_.search_cached(q).collect())
    assert third == first                        # recomputed, same answers


def test_banded_candidates_then_exact_verify(spark, docs=None):
    """At-scale dedup composition (SCALE.md: LSH banding restricts the
    pair set, exact jaccard verifies): band candidates must contain every
    high-jaccard pair found by the all-pairs plan."""
    from fspann_query_system_spark.ops.dedup import (minhash_band_pairs,
                                                     jaccard_pairs)
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "completely different content about spark engines at scale"),
        (4, "el gato y el perro en la casa de la abuela grande"),
    ]
    d = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    cands = {(r.id_a, r.id_b)
             for r in minhash_band_pairs(d, n_hashes=16, bands=8).collect()}
    exact_high = {(r.id_a, r.id_b)
                  for r in jaccard_pairs(d, threshold=0.5).collect()}
    assert exact_high and exact_high <= cands
    # restrict verification to candidate docs only (the scale flow)
    cand_ids = sorted({i for p in cands for i in p})
    sub = d.filter(d.doc_id.isin(cand_ids))
    sub_verified = {(r.id_a, r.id_b)
                    for r in jaccard_pairs(sub, threshold=0.5).collect()}
    assert exact_high <= sub_verified


def test_multi_dim_system_shared_rotation(spark):
    import numpy as np
    from fspann_query_system_spark.api import MultiDimSystem
    from fspann_query_system_spark.config import SystemConfig
    rng = np.random.default_rng(3)
    cfg = SystemConfig(dim=8, m=4, lam=2, tables=2, divisions=1,
                       probes=3, refinement_limit=50, top_k=3)
    mds = MultiDimSystem(spark, cfg, dims=[8, 12], master_key=bytes(32))
    for d in (8, 12):
        X = rng.normal(0, 1, (120, d))
        vec = spark.createDataFrame([(i, X[i].tolist()) for i in range(120)],
                                    "id LONG, vector ARRAY<DOUBLE>")
        mds.index_vectors(d, vec)
        q = vec.limit(3).selectExpr("id AS q_id", "vector")
        res = mds.search(d, q, k=3)
        top1 = {r.q_id: r.id for r in res.filter("rank = 1").collect()}
        assert top1 == {0: 0, 1: 1, 2: 2}
    assert mds[8].keys is mds[12].keys          # one keystore, all dims
    v_before = mds[8].keys.current_version
    out = mds.rotate_and_reencrypt_touched()
    assert set(out) == {8, 12}
    # ONE rotation event: shared version advances exactly once, and both
    # dims migrated to that same version
    assert mds[8].keys.current_version == v_before + 1
    assert {o["version"] for o in out.values()} == {v_before + 1}


def test_background_reencryption_scheduler():
    import time as _t
    from fspann_query_system_spark.crypto.scheduler import \
        BackgroundReencryptionScheduler
    calls = []
    sch = BackgroundReencryptionScheduler(lambda: calls.append(1) or len(calls),
                                          interval_sec=0.05)
    assert sch.run_once() == 1                   # explicit-trigger body
    sch.start()
    _t.sleep(0.3)
    sch.stop()
    assert sch.runs >= 3
    assert sch.last_result == sch.runs
    runs_before = sch.runs
    sch.start()                                   # restart must work
    _t.sleep(0.2)
    sch.stop()
    assert sch.runs > runs_before


def test_search_cached_restamps_q_id_for_same_vector(spark):
    """Cache key ignores q_id (logical token): a second query with the
    SAME vector but a DIFFERENT q_id must get rows under its own q_id."""
    import numpy as np
    from fspann_query_system_spark.api import ForwardSecureANNSystem
    from fspann_query_system_spark.config import SystemConfig
    rng = np.random.default_rng(9)
    X = rng.normal(0, 1, (150, 10))
    vec = spark.createDataFrame([(i, X[i].tolist()) for i in range(150)],
                                "id LONG, vector ARRAY<DOUBLE>")
    cfg = SystemConfig(dim=10, m=5, lam=2, tables=3, divisions=1,
                       probes=3, refinement_limit=80, top_k=4)
    sys_ = ForwardSecureANNSystem(spark, cfg, master_key=bytes(32))
    sys_.index_vectors(vec)
    q1 = spark.createDataFrame([(1, X[7].tolist())], "q_id LONG, vector ARRAY<DOUBLE>")
    r1 = sys_.search_cached(q1).collect()
    assert {r.q_id for r in r1} == {1}
    q2 = spark.createDataFrame([(77, X[7].tolist())], "q_id LONG, vector ARRAY<DOUBLE>")
    r2 = sys_.search_cached(q2).collect()          # cache hit on geometry
    assert sys_.cache.hits >= 1
    assert {r.q_id for r in r2} == {77}            # re-stamped, not q_id=1
    assert sorted((r.id, r.rank) for r in r2) == sorted((r.id, r.rank) for r in r1)


def test_rotation_cycles_keep_store_plan_bounded(spark):
    """Six rotate-then-search cycles on one facade, whose touched sets
    cross the compaction fraction twice: the live store keeps one
    partition count (it used to be rewritten as a union of itself and
    the migrated rows, doubling its partitions: 4 -> 8 -> 16 ...) and
    one plan size, across compactions too, instead of nesting the
    previous store; the base is the same persisted table between
    compactions; the delta holds exactly the distinct ids touched since
    the last compaction; the replayed batch and the routing tables
    (codes, bounds) never change."""
    from fspann_query_system_spark.api import COMPACT_FRACTION
    rng = np.random.default_rng(21)
    n = 300
    X = rng.normal(0, 1, (n, 12))
    vec = spark.createDataFrame([(i, X[i].tolist()) for i in range(n)],
                                "id LONG, vector ARRAY<DOUBLE>")
    cfg = SystemConfig(dim=12, m=6, lam=2, tables=3, divisions=1,
                       probes=4, refinement_limit=100, top_k=5,
                       rotation_max_ops=10**9)
    sys_ = ForwardSecureANNSystem(spark, cfg, master_key=bytes(32))
    sys_.index_vectors(vec)
    q = vec.limit(6).select(F.col("id").alias("q_id"), "vector")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    def plan_size():
        return len(sys_.encrypted._jdf.queryExecution().logical().toString())

    first = rows(sys_.search(q, k=5).select("q_id", "id", "distance",
                                            "rank"))
    codes, bounds = rows(sys_.index.codes), rows(sys_.index.bounds)
    parts = sys_.encrypted.rdd.getNumPartitions()
    # every search touches its result ids; each cycle adds `step` fresh
    # ids, sized so that the delta passes the fraction every second cycle
    result_ids = {r[1] for r in first}
    limit = COMPACT_FRACTION * n
    step = int(limit - len(result_ids))
    assert step > 0 and len(result_ids) + 2 * step > limit
    fresh = iter(sorted(set(range(n)) - result_ids))
    base, expected, sizes, compactions = sys_._store, set(), [], 0
    for cycle in range(6):
        extra = [next(fresh) for _ in range(step)]
        sys_.tracker.record(spark.createDataFrame([(i,) for i in extra],
                                                  "id LONG"))
        compacts = len(expected) > limit
        out = sys_.rotate_and_reencrypt_touched()
        assert out["version"] == cycle + 2 and out["migrated"] > 0
        assert sum(out["census"].values()) == n
        if compacts:
            assert sys_._store is not base, cycle
            base, expected = sys_._store, set()
            compactions += 1
        else:
            assert sys_._store is base, cycle
        expected |= result_ids | set(extra)
        assert {r.id for r in sys_._delta.select("id").collect()} == expected
        assert out["migrated"] == len(result_ids | set(extra))
        assert sys_.encrypted.rdd.getNumPartitions() == parts, cycle
        sizes.append(plan_size())
        replay = rows(sys_.search(q, k=5).select("q_id", "id", "distance",
                                                 "rank"))
        assert replay == first, cycle
    assert compactions == 2
    assert len(set(sizes)) == 1, sizes
    assert rows(sys_.index.codes) == codes
    assert rows(sys_.index.bounds) == bounds


def test_forward_security_invariants_over_base_and_delta(spark, clustered):
    """Every row touched over three cycles.  Version 1 retires while
    masked base rows still hold v1 ciphertext; the live census has no
    row under a retired version and counts every row; every live row
    decrypts in strict mode, under the live keys alone, to its source
    vector; a retired key no longer derives; once a compaction has run no
    physical row (base or delta) remains under a retired version; codes
    and bounds stay byte-identical throughout."""
    from fspann_query_system_spark.api import COMPACT_FRACTION
    from fspann_query_system_spark.crypto import decrypt_vectors
    df, X = clustered
    n = len(X)
    cfg = SystemConfig(dim=16, m=8, lam=2, tables=4, divisions=2,
                       block_size=32, refinement_limit=400,
                       rotation_max_ops=10**9, top_k=10)
    sys_ = ForwardSecureANNSystem(spark, cfg, master_key=b"\x46" * 32)
    sys_.index_vectors(df)

    def rows(d):
        return sorted(tuple(r) for r in d.collect())

    def versions(d):
        return {r.key_version for r in d.select("key_version").distinct()
                .collect()}

    def cycle(lo, hi):
        sys_.tracker.record(df.filter((F.col("id") >= lo) & (F.col("id") < hi))
                            .select("id"))
        out = sys_.rotate_and_reencrypt_touched()
        retired = sys_.keys.delete_keys_older_than(out["version"],
                                                   out["census"])
        assert sum(out["census"].values()) == n
        assert rows(sys_.index.codes) == codes
        assert rows(sys_.index.bounds) == bounds
        return out, retired

    codes, bounds = rows(sys_.index.codes), rows(sys_.index.bounds)
    # cycle 1 leaves a delta past the fraction; cycle 2 compacts it into
    # the base, then migrates the last v1 rows into a delta that still
    # passes the fraction; cycle 3 compacts again
    last = n - int(COMPACT_FRACTION * n) - 50
    _, retired = cycle(0, last)
    assert retired == []
    base = sys_._store
    out, retired = cycle(last, n)
    assert sys_._store is not base
    assert retired == [1] and 1 not in out["census"]
    with pytest.raises(KeyError, match="retired"):
        sys_.keys.key_for(1)
    # masked base rows still hold v1 ciphertext: garbage, not live
    assert 1 in versions(sys_._store)
    assert versions(sys_.encrypted) == {2, 3}
    live = spark.sparkContext.broadcast(sys_.keys.key_map())
    got = {r.id: r.vector for r in decrypt_vectors(
        sys_.encrypted, live, mode="strict").select("id", "vector").collect()}
    assert len(got) == n
    assert all(np.array_equal(got[i], X[i]) for i in range(n))

    cycle(0, 10)
    assert not {1} & (versions(sys_._store) | versions(sys_._delta))
    assert versions(sys_.encrypted) == {2, 3, 4}


def test_search_job_count_ceiling(spark, clustered):
    """Counter gate: the Spark jobs one ``search(sq8_rerank=...)`` starts
    on a small encrypted SQ8 store, counted by job group through the
    status tracker (the caller's own collect excluded).  A change that
    adds a job to the interactive search must raise this ceiling and say
    why.

    History on this fixture (lazy tables forced first, a new query
    DataFrame per search): 19 jobs for a facade's first search and 17 for
    its second, when the batch was coded and routed by an executor
    ``mapInPandas``, the SQ8 kernel read query vectors broadcast-joined
    onto its candidate rows, the auto routing choice counted the bounds,
    and the adaptive-retry check (groupBy, semi-join,
    ``limit(1).count()``) was followed by a second ``count()``.  With the
    batch coded and routed on the driver and one collect that both
    materializes the result and finds the queries to retry: 11 and 11,
    each counting the one job that collects its batch.  With the
    min-merge and the final rank window each hashed on ``q_id`` into one
    partition per core, the (q_id, id) → q_id exchange pair before the
    SQ8 kernel is one exchange: 10 and 10, and the persisted result has
    one partition per core (at most one per query) instead of one per
    shuffle partition."""
    df, X = clustered
    cfg = SystemConfig(dim=16, m=8, lam=2, tables=4, divisions=2,
                       block_size=32, refinement_limit=400,
                       rotation_max_ops=10**9, top_k=10)
    sys_ = ForwardSecureANNSystem(spark, cfg, master_key=b"\x45" * 32)
    sys_.index_vectors(df, sq8=True)
    # the facade's lazy tables, forced as a server does at set-up
    sys_.index.routing()
    sys_.index.codes.count()
    sys_.index.sq8_codes.count()
    sc = spark.sparkContext
    counts = []
    for i in range(2):
        q = df.filter(F.col("id") % 97 == i).selectExpr("id AS q_id", "vector")
        sc.setJobGroup(f"search-jobs-{i}", "search")
        try:
            res = sys_.search(q, k=10, sq8_rerank=4)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        counts.append(len(sc.statusTracker().getJobIdsForGroup(
            f"search-jobs-{i}")))
        assert res.filter("rank = 10").count() == q.count()
        assert res.rdd.getNumPartitions() == min(sc.defaultParallelism,
                                                 q.count())
    assert max(counts) <= 10, counts


def test_search_invariant_to_execution_config(spark, clustered):
    """A search's (q_id, id, distance, rank) rows do not depend on the
    shuffle partition count or the Arrow batch size.  997 rows per batch
    splits each SQ8 kernel partition over several Arrow batches; one
    shuffle partition puts every AQE-sized exchange in one task."""
    df, X = clustered
    cfg = SystemConfig(dim=16, m=8, lam=2, tables=4, divisions=2,
                       block_size=32, refinement_limit=400,
                       rotation_max_ops=10**9, top_k=10)
    sys_ = ForwardSecureANNSystem(spark, cfg, master_key=b"\x48" * 32)
    sys_.index_vectors(df, sq8=True)
    q = df.filter(F.col("id") % 97 == 3).selectExpr("id AS q_id", "vector")
    keys = ("spark.sql.shuffle.partitions",
            "spark.sql.execution.arrow.maxRecordsPerBatch")
    saved = [spark.conf.get(k) for k in keys]
    results = {}
    try:
        for parts in (1, 7, 32):
            for batch in (997, 10000):
                spark.conf.set(keys[0], str(parts))
                spark.conf.set(keys[1], str(batch))
                results[parts, batch] = sorted(
                    tuple(r) for r in sys_.search(q, k=10, sq8_rerank=4)
                    .select("q_id", "id", "distance", "rank").collect())
    finally:
        for k, v in zip(keys, saved):
            spark.conf.set(k, v)
    first = results[1, 997]
    assert len(first) == 10 * q.count()
    for conf, rows in results.items():
        assert rows == first, conf


def test_rotation_job_count_ceiling(spark, clustered):
    """Counter gate for the forward-security write path: the Spark jobs
    of one ``rotate_and_reencrypt_touched`` on the 2,000-row fixture after
    a ``search(sq8_rerank=4)``, counted by job group (first rotation, and
    a second one that also folds the older delta in), and of the search
    on the rotated store.

    History on this fixture: 8 jobs for each of the two rotations when
    the rotation deduplicated the touched set in Spark (twice, once per
    use), rewrote the whole store as a union of its untouched and its
    re-encrypted rows and took the census over it; the searches took 11
    jobs each.  With the touched ids collected once and deduplicated on
    the driver, a delta write instead of a store rewrite and the census
    over the live view's two halves: 6 and 7 (the second also folds the
    older delta in).  A search on a rotated store pays one job for the
    broadcast of the delta's ids, which mask the base: 12, against 11
    on an unrotated store (``test_search_job_count_ceiling``); 11 and 10
    since the search's refine stage has one q_id exchange per core."""
    df, X = clustered
    cfg = SystemConfig(dim=16, m=8, lam=2, tables=4, divisions=2,
                       block_size=32, refinement_limit=400,
                       rotation_max_ops=10**9, top_k=10)
    sys_ = ForwardSecureANNSystem(spark, cfg, master_key=b"\x47" * 32)
    sys_.index_vectors(df, sq8=True)
    sys_.index.routing()
    sys_.index.codes.count()
    sys_.index.sq8_codes.count()
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    rotations, searches = [], []
    for i in range(2):
        q = df.filter(F.col("id") % 89 == i).selectExpr("id AS q_id", "vector")
        res, n = jobs(f"rotated-search-{i}",
                      lambda: sys_.search(q, k=10, sq8_rerank=4))
        assert res.filter("rank = 10").count() == q.count()
        searches.append(n)
        out, n = jobs(f"rotation-jobs-{i}", sys_.rotate_and_reencrypt_touched)
        assert out["migrated"] > 0 and sys_._delta is not None
        rotations.append(n)
    q = df.filter(F.col("id") % 89 == 2).selectExpr("id AS q_id", "vector")
    res, n = jobs("rotated-search-2", lambda: sys_.search(q, k=10, sq8_rerank=4))
    assert res.filter("rank = 10").count() == q.count()
    searches.append(n)
    assert searches[0] <= 10, searches
    assert max(searches[1:]) <= 11, searches
    assert max(rotations) <= 7, rotations
