"""End-to-end ANN pipeline recall + semantics (SURVEY §7.1 regression
anchor): plaintext path, encrypted path, adaptive retry."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from fspann_query_system_spark.lsh.params import LshConfig
from fspann_query_system_spark.query.ann import AnnIndex, search_batch, search_batch_adaptive
from fspann_query_system_spark.query.exact import knn_exact
from fspann_query_system_spark.query.metrics import evaluate


@pytest.fixture(scope="module")
def index(clustered):
    df, X = clustered
    cfg = LshConfig(dim=16, m=8, lam=2, tables=4, divisions=2, seed=42,
                    block_size=32, probes=5, refinement_limit=400)
    return AnnIndex.build(df, cfg), df, X


@pytest.fixture(scope="module")
def queries(spark, index):
    _, df, X = index
    rng = np.random.default_rng(11)
    qidx = rng.choice(len(X), 25, replace=False)
    Q = X[qidx] + rng.normal(0, 0.05, (25, X.shape[1]))
    return spark.createDataFrame(
        [(int(i), Q[j].tolist()) for j, i in enumerate(qidx)],
        "q_id LONG, vector ARRAY<DOUBLE>")


def test_recall_on_clustered_data(index, queries):
    idx, df, X = index
    res = search_batch(idx, queries, k=10)
    gt = knn_exact(df, queries, k=10)
    hits = (res.select("q_id", "id")
            .join(gt.select("q_id", "id"), ["q_id", "id"]).count())
    recall = hits / gt.count()
    # clustered data + 400-candidate refinement over 2000 points: LSH must
    # do far better than random (random ≈ 400/2000 = 0.2)
    assert recall > 0.6, recall


def test_result_shape_and_ranks(index, queries):
    idx, _, _ = index
    res = search_batch(idx, queries, k=10).collect()
    per_q = {}
    for r in res:
        per_q.setdefault(r.q_id, []).append(r)
    for q, rows in per_q.items():
        ranks = sorted(x.rank for x in rows)
        assert ranks == list(range(1, len(rows) + 1))
        by_rank = sorted(rows, key=lambda x: x.rank)
        dists = [x.distance for x in by_rank]
        assert dists == sorted(dists)


def test_refinement_limit_bounds_candidates(index, queries):
    idx, _, _ = index
    # with a tiny refinement budget results still have <= k rows per query
    res = search_batch(idx, queries, k=10, refinement_limit=12)
    counts = res.groupBy("q_id").count().collect()
    assert all(r["count"] <= 10 for r in counts)


def test_adaptive_retry_fills_underfilled(index, queries):
    idx, _, _ = index
    res = search_batch_adaptive(idx, queries, k=10, refinement_limit=400)
    counts = res.groupBy("q_id").count().collect()
    assert all(r["count"] == 10 for r in counts)


def test_evaluate_headline(index, queries):
    idx, df, _ = index
    res = search_batch(idx, queries, k=10)
    ev = {r.k: r for r in evaluate(res, df, queries, ks=[1, 10]).collect()}
    assert ev[1].avg_recall > 0.5
    assert ev[10].avg_ratio is not None and ev[10].avg_ratio >= 1.0


def test_index_save_load_roundtrip(spark, clustered, tmp_path):
    """Saved routing state reopens and answers identically (SURVEY §3.4
    restore; codes persisted range-sorted for file-stat pruning)."""
    from fspann_query_system_spark.lsh.params import LshConfig
    from fspann_query_system_spark.query.ann import AnnIndex, search_batch
    from pyspark.sql import functions as F
    df, X = clustered
    cfg = LshConfig(dim=16, m=8, lam=2, tables=3, divisions=1, block_size=32,
                    probes=4, refinement_limit=150, seed=5)
    idx = AnnIndex.build(df, cfg)
    q = df.filter(F.col("id") < 6).select(F.col("id").alias("q_id"), "vector")
    before = sorted((r.q_id, r.id, r.rank)
                    for r in search_batch(idx, q, k=5).collect())
    path = str(tmp_path / "annidx")
    idx.save(path)
    idx2 = AnnIndex.load(spark, path, points=df)
    after = sorted((r.q_id, r.id, r.rank)
                   for r in search_batch(idx2, q, k=5).collect())
    assert before == after
    assert idx2.params.cfg.m == cfg.m


def test_search_survives_corrupt_ciphertexts(spark, clustered):
    """SuperFailureModeIT analog: flip bytes in some stored ciphertexts —
    skip-mode decrypt drops them (reference decryptErr accounting,
    QueryServiceImpl.java:241-270) and search still answers from the
    intact rows; corrupted ids never appear in results."""
    from pyspark.sql import functions as F
    from fspann_query_system_spark.lsh.params import LshConfig
    from fspann_query_system_spark.query.ann import AnnIndex, search_batch
    from fspann_query_system_spark.crypto.keys import KeyManager
    from fspann_query_system_spark.crypto.aes import encrypt_vectors

    df, X = clustered
    km = KeyManager(master=bytes(32))
    bc = spark.sparkContext.broadcast(km.key_map())
    enc = encrypt_vectors(df, bc, 1)
    corrupt_ids = set(range(0, 2000, 100))           # 20 of 2000 damaged
    # drop the last ciphertext byte: the GCM tag check fails with
    # probability 1.  (The original fixture SET byte 9 to 0x00 — a
    # no-op whenever the random-IV ciphertext already had 0x00 there,
    # ≈1/256 per damaged id; ids 0 and 500 are rank-1 self-matches of
    # the queries, so the test flaked at ~1% — SCALE.md pathology #4.)
    corrupted = enc.withColumn(
        "ciphertext",
        F.when(F.col("id").isin(list(corrupt_ids)),
               F.expr("substring(ciphertext, 1, length(ciphertext) - 1)"))
        .otherwise(F.col("ciphertext")))
    cfg = LshConfig(dim=16, m=8, lam=2, tables=3, divisions=1, block_size=32,
                    probes=4, refinement_limit=300, seed=5)
    idx = AnnIndex.build(df, cfg).with_encrypted_points(corrupted, bc)
    q = df.filter(F.col("id").isin([0, 500, 999])) \
          .select(F.col("id").alias("q_id"), "vector")
    res = search_batch(idx, q, k=5).collect()
    assert len(res) > 0
    returned_ids = {r.id for r in res}
    assert not (returned_ids & corrupt_ids)          # damaged rows excluded
    # same index over the intact store can return the damaged ids again
    idx_ok = AnnIndex.build(df, cfg, params=idx.params) \
        .with_encrypted_points(enc, bc)
    ok_ids = {r.id for r in search_batch(idx_ok, q, k=5).collect()}
    assert ok_ids & corrupt_ids                       # 0, 500 retrievable again
    assert {r.q_id for r in res} == {0, 500, 999}     # every query answered


def test_sq8_prefilter_encrypted_path(spark, clustered, queries):
    """Compressed-refine inside the encrypted search: rank hamming-kept
    candidates on the SQ8 shadow, decrypt only top k*rerank — results
    must track the full-decrypt path (identical here: 8-bit codes on
    well-separated clusters preserve the candidate order)."""
    from fspann_query_system_spark.crypto.keys import KeyManager
    from fspann_query_system_spark.crypto.aes import encrypt_vectors
    df, X = clustered
    cfg = LshConfig(dim=16, m=8, lam=2, tables=4, divisions=2, seed=42,
                    block_size=32, probes=5, refinement_limit=400)
    km = KeyManager(master=bytes(32))
    bc = spark.sparkContext.broadcast(km.key_map())
    enc = encrypt_vectors(df, bc, 1)
    idx = (AnnIndex.build(df, cfg).with_sq8()
           .with_encrypted_points(enc, bc))
    full = search_batch(idx, queries, k=10)
    pre = search_batch(idx, queries, k=10, sq8_rerank=4)
    hits = (pre.select("q_id", "id")
            .join(full.select("q_id", "id"), ["q_id", "id"]).count())
    n = full.count()
    assert n > 0 and hits / n >= 0.95, (hits, n)
    # exact self-hit survives the compressed shortlist
    self_q = df.filter(F.col("id") < 3).select(
        F.col("id").alias("q_id"), "vector")
    top = {(r.q_id, r.rank): (r.id, r.distance)
           for r in search_batch(idx, self_q, k=3, sq8_rerank=2).collect()}
    for qid in range(3):
        sid, sdist = top[(qid, 1)]
        assert sid == qid and sdist == 0.0
    # guard: sq8_rerank without the shadow must raise
    bare = AnnIndex.build(df, cfg)
    with pytest.raises(ValueError, match="with_sq8"):
        search_batch(bare, queries, k=10, sq8_rerank=4)
    # and with_sq8 after encryption must raise (shadow needs plaintext)
    with pytest.raises(ValueError, match="plaintext"):
        idx.with_sq8()


def _join_routed(monkeypatch):
    """Make every following ``search_batch`` take the distributed join
    router (the path past the ``AUTO_ROUTING_ROWS`` crossover)."""
    from fspann_query_system_spark.query import ann as ann_mod
    monkeypatch.setattr(ann_mod, "AUTO_ROUTING_ROWS", 0)


def test_join_routing_matches_broadcast(index, queries, monkeypatch):
    """Join routing (the >broadcast-budget fallback) must produce
    byte-identical results to the broadcast binary-search path."""
    idx, df, X = index
    a = sorted((r.q_id, r.id, round(r.distance, 9), r.rank)
               for r in search_batch(idx, queries, k=10).collect())
    _join_routed(monkeypatch)
    b = sorted((r.q_id, r.id, round(r.distance, 9), r.rank)
               for r in search_batch(idx, queries, k=10).collect())
    assert a == b


def _edge_keys(min_keys, max_keys):
    """Query keys that hit every routing case of one (table, division)
    slice: below the first min_key, above the last max_key, on block
    edges, and inside each gap — at its midpoint (equal distance to both
    neighbours when the gap width is even: the tie goes left) and one
    step off it on either side.  Returns (keys, number of tie keys)."""
    keys = [max(0, int(min_keys[0]) - 7), int(max_keys[-1]) + 7,
            int(min_keys[0]), int(max_keys[-1])]
    ties = 0
    for lo, hi in zip(max_keys[:-1], min_keys[1:]):
        lo, hi = int(lo), int(hi)
        if hi - lo < 2:
            continue
        mid = lo + (hi - lo) // 2
        keys += [mid - 1, mid, mid + 1]
        ties += (hi - lo) % 2 == 0
    return np.array(keys, dtype=np.int64), ties


def test_driver_router_matches_join_router(spark, clustered):
    """The driver router (numpy, vectorized per (table, division)) and
    the distributed ``_route_probes_join`` pick the same probes with the
    same rep hamming, on a tiny-block index and hand-made query keys:
    below the first block, above the last, in gaps (including the
    equal-distance tie), on block edges; probe windows clipped at both
    ends; and probes at or past the partition count."""
    from fspann_query_system_spark.query.ann import (
        _q_codes_table, _route_probes_join, _route_probes_local)
    df, X = clustered
    cfg = LshConfig(dim=16, m=8, lam=2, tables=2, divisions=2, seed=5,
                    block_size=8, probes=3, refinement_limit=100)
    idx = AnnIndex.build(df.filter(F.col("id") < 240), cfg)
    packed = idx.routing().value
    rng = np.random.default_rng(0)
    per_td, ties = {}, 0
    for td, (mins, maxs, reps) in packed.items():
        keys, t = _edge_keys(mins, maxs)
        per_td[td] = (keys, reps.shape[1])
        ties += t
    assert ties > 0                     # the dl == dr case is exercised
    n = max(len(k) for k, _ in per_td.values())
    q_ids = np.arange(n, dtype=np.int64) * 3 + 1
    coded = {td: (np.resize(keys, n),
                  rng.integers(-2**62, 2**62, (n, W), dtype=np.int64))
             for td, (keys, W) in per_td.items()}
    q_codes = spark.createDataFrame(_q_codes_table(q_ids, coded))
    npart = max(len(m) for m, _, _ in packed.values())
    for probes in (1, 3, npart, npart + 5):
        local = sorted(tuple(r.values()) for r in
                       _route_probes_local(q_ids, coded, packed,
                                           probes).to_pylist())
        joined = sorted(tuple(r) for r in _route_probes_join(
            q_codes, idx.bounds, probes).select(
            "q_id", "table", "division", "part_idx", "part_ham").collect())
        assert local == joined, probes
        per_q = {}
        for q, t, d, _, _ in local:
            per_q[(q, t, d)] = per_q.get((q, t, d), 0) + 1
        assert set(per_q.values()) <= set(range(1, probes + 1))


def test_broadcast_and_join_routing_identical_on_string_ids(spark, clustered,
                                                           monkeypatch):
    """End to end on a tiny-block index with STRING point ids: broadcast
    (driver) and join routing return identical rows, diagnostics
    included, through the SQ8 shortlist and an allow-list."""
    df, X = clustered
    sdf = df.filter(F.col("id") < 400).select(
        F.format_string("p%04d", "id").alias("id"), "vector")
    cfg = LshConfig(dim=16, m=8, lam=2, tables=3, divisions=2, seed=8,
                    block_size=8, probes=4, refinement_limit=120)
    idx = AnnIndex.build(sdf, cfg).with_sq8()
    q = spark.createDataFrame(
        [(i, (X[i * 37] + 0.01).tolist()) for i in range(10)],
        "q_id LONG, vector ARRAY<DOUBLE>")
    allow = sdf.filter(F.col("id") < "p0300").select("id")
    kws = ({}, {"sq8_rerank": 3, "with_diagnostics": True},
           {"sq8_rerank": 3, "allow": allow, "with_diagnostics": True},
           {"probes": 60})
    def run():
        return [sorted(tuple(r) for r in search_batch(idx, q, k=6, **kw)
                       .collect()) for kw in kws]

    broadcast = run()
    _join_routed(monkeypatch)
    for kw, b, j in zip(kws, broadcast, run()):
        assert b == j and b, kw
        assert isinstance(b[0][1], str)


def test_auto_routing_picks_by_bounds_size(index, queries, monkeypatch):
    """search_batch flips broadcast→join routing at the measured bounds-
    size crossover (SCALE.md §8b) and both selections return the same
    results."""
    from fspann_query_system_spark.query import ann as ann_mod
    idx, df, X = index
    joins = []
    join_router = ann_mod._route_probes_join
    monkeypatch.setattr(ann_mod, "_route_probes_join",
                        lambda *a: joins.append(a) or join_router(*a))

    def rows():
        return sorted((r.q_id, r.id, round(r.distance, 9), r.rank)
                      for r in search_batch(idx, queries, k=10).collect())

    # small index: the broadcast path (bounds << 300k)
    assert idx.bounds_rows() < ann_mod.AUTO_ROUTING_ROWS
    base = rows()
    assert not joins
    # force the crossover: the distributed join path
    _join_routed(monkeypatch)
    assert rows() == base
    assert len(joins) == 1


def test_insert_append_and_rebuild(spark, clustered):
    """Dynamic maintenance (reference insert:312-345 + build:395-428):
    appended vectors are reachable by search; rebuild reproduces a fresh
    build exactly; delete tombstones without touching routing state."""
    df, X = clustered
    base = df.filter(F.col("id") < 1900)
    held = df.filter(F.col("id") >= 1900)          # 100 held-out vectors
    cfg = LshConfig(dim=16, m=8, lam=2, tables=4, divisions=2, seed=42,
                    block_size=32, probes=5, refinement_limit=400)
    idx = AnnIndex.build(base, cfg)

    # --- append: new points must be reachable (self-hit at rank 1) ---
    idx2 = idx.insert(held, mode="append")
    q_new = held.select(F.col("id").alias("q_id"), "vector")
    res = search_batch(idx2, q_new, k=5).collect()
    top = {r.q_id: r.id for r in res if r.rank == 1}
    assert set(top) == set(range(1900, 2000))
    assert all(top[q] == q for q in top)           # found themselves
    # old points still reachable
    q_old = base.filter(F.col("id") < 10).select(
        F.col("id").alias("q_id"), "vector")
    top_old = {r.q_id: r.id for r in search_batch(idx2, q_old, k=5).collect()
               if r.rank == 1}
    assert all(top_old[q] == q for q in top_old)
    # n_ids accounting: totals grew by exactly the appended code count
    n_before = sum(r.n_ids for r in idx.bounds.collect())
    n_after = sum(r.n_ids for r in idx2.bounds.collect())
    assert n_after - n_before == 100 * cfg.tables * cfg.divisions

    # --- rebuild: identical to building from scratch on the union ---
    idx3 = idx.insert(held, mode="rebuild")
    fresh = AnnIndex.build(df, cfg, params=idx.params)
    a = sorted(tuple(r) for r in idx3.bounds.select(
        "table", "division", "part_idx", "min_key", "max_key", "n_ids").collect())
    b = sorted(tuple(r) for r in fresh.bounds.select(
        "table", "division", "part_idx", "min_key", "max_key", "n_ids").collect())
    assert a == b

    with pytest.raises(ValueError):
        idx.insert(held, mode="bogus")

    # --- delete: tombstoned ids vanish from results, routing untouched ---
    victims = spark.createDataFrame([(i,) for i in range(1900, 1950)], "id LONG")
    idx4 = idx2.delete(victims)
    res4 = search_batch(idx4, q_new, k=5).collect()
    ids4 = {r.id for r in res4}
    assert not (ids4 & set(range(1900, 1950)))     # deleted: gone
    assert any(i in ids4 for i in range(1950, 2000))  # survivors remain
    assert idx4.codes is idx2.codes                # routing state untouched


def test_insert_keeps_sq8_shadow_current(spark, clustered):
    """Inserted vectors join the SQ8 shadow, coded under the index's
    codebook and clipped to [0, 255]: the shortlist inner-joins on the
    shadow, so without them an ``sq8_rerank`` search never returns an
    inserted vector.  Both insert modes."""
    from pyspark import StorageLevel
    from fspann_query_system_spark.ops.similarity import sq8_quantize
    df, X = clustered
    base = df.filter(F.col("id") < 1900)
    held = df.filter(F.col("id") >= 1900)          # 100 held-out vectors
    cfg = LshConfig(dim=16, m=8, lam=2, tables=4, divisions=2, seed=42,
                    block_size=32, probes=5, refinement_limit=400)
    idx = AnnIndex.build(base, cfg).with_sq8()
    q_new = held.select(F.col("id").alias("q_id"), "vector")
    clipped = {r.id: [min(max(c, 0), 255) for c in r.codes] for r in
               sq8_quantize(held, idx.sq8_mins, idx.sq8_maxs).collect()}
    assert any(c in (0, 255) for cs in clipped.values() for c in cs)
    for mode in ("append", "rebuild"):
        idx2 = idx.insert(held, mode=mode)
        res = search_batch(idx2, q_new, k=5, sq8_rerank=2).collect()
        top = {r.q_id: r.id for r in res if r.rank == 1}
        assert top == {i: i for i in range(1900, 2000)}, mode
        shadow = {r.id: list(r.codes) for r in idx2.sq8_codes.collect()}
        assert len(shadow) == 2000, mode
        assert {i: shadow[i] for i in clipped} == clipped, mode
        # only the new rows are cached anew: the union reads the old
        # shadow's cache, so none of its rows is stored twice
        assert idx2.sq8_codes.storageLevel == StorageLevel.NONE, mode
        assert idx.sq8_codes.storageLevel != StorageLevel.NONE, mode


def test_binary_rows_decode_honors_slices_and_large_binary():
    """The SQ8 kernel's zero-copy decode reads a sliced batch at its own
    offset, accepts BINARY and LARGE_BINARY, and refuses rows of another
    width."""
    import pyarrow as pa
    from fspann_query_system_spark.query.ann import _binary_rows
    rows = [bytes([i, 255 - i, 7]) for i in range(6)]
    want = np.array([list(r) for r in rows], dtype=np.uint8)
    for typ in (pa.binary(), pa.large_binary()):
        arr = pa.array(rows, typ)
        assert np.array_equal(_binary_rows(arr, 3), want)
        assert np.array_equal(_binary_rows(arr.slice(2, 3), 3), want[2:5])
        with pytest.raises(ValueError):
            _binary_rows(pa.array([b"ab", b"abcd"], typ), 3)


@pytest.mark.parametrize("cfg_kw", [
    # tight everything: probes ≪ partitions, refine binds hard
    dict(m=6, lam=2, tables=2, divisions=2, seed=5, block_size=8,
         probes=2, refinement_limit=50),
    # lam=3, single division, F4 threshold active (exercises the
    # (ham > T) prefilter branch in BOTH the plan and the generated SQL)
    dict(m=10, lam=3, tables=3, divisions=1, seed=9, block_size=16,
         probes=3, refinement_limit=80, hamming_threshold=8),
], ids=["tight_selective", "lam3_threshold_div1"])
def test_generated_ann_oracle_matches_pipeline(spark, cfg_kw):
    """The generated full-pipeline SQL oracle must track the live plan
    across config space, not just the two registry configs."""
    import duckdb
    from fspann_query_system_spark.workloads import (sql_ann_search,
                                                     _emb_matrix, _emb)
    from fspann_query_system_spark.lsh.params import fit_params
    sf = "/root/testdata/sf0.01"
    cfg = LshConfig(dim=64, **cfg_kw)
    params = fit_params(_emb_matrix(sf), cfg)
    idx = AnnIndex.build(_emb(spark, sf), cfg, params=params)
    q = (_emb(spark, sf).filter(F.col("id") < 20)
         .select(F.col("id").alias("q_id"), "vector"))
    spark_rows = sorted(
        (r.q_id, r.id, round(r.distance, 6), r.rank)
        for r in search_batch(idx, q, k=10).collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'")
    duck_rows = sorted(
        (int(a), int(b), round(float(c), 6), int(d))
        for a, b, c, d in con.sql(sql_ann_search(params, 20)).fetchall())
    assert spark_rows == duck_rows


def test_load_insert_save_cycle(spark, clustered, tmp_path):
    """Operational cycle: build → save → load → append-insert → save →
    reload — appended points stay reachable across the persistence
    boundary (the reference cannot do this at all: its codes live only
    in RAM, SURVEY §3.4)."""
    df, X = clustered
    old = df.filter(F.col("id") < 1950)
    new = df.filter(F.col("id") >= 1950)
    # family/probe budget as in test_insert_append_and_rebuild: appended
    # points rank by their partition REP's hamming, so a too-tight refine
    # cut with few families can drop them before exact scoring (isolated
    # experimentally: 3 families + refine=150 loses 43/50 self-hits,
    # 8 families + refine=400 loses none — persistence is not a factor)
    cfg = LshConfig(dim=16, m=8, lam=2, tables=4, divisions=2, block_size=32,
                    probes=5, refinement_limit=400, seed=42)
    p1, p2 = str(tmp_path / "i1"), str(tmp_path / "i2")
    AnnIndex.build(old, cfg).save(p1)
    idx = AnnIndex.load(spark, p1, points=old).insert(new, mode="append")
    idx.save(p2)
    idx2 = AnnIndex.load(spark, p2, points=idx.points)
    q = new.select(F.col("id").alias("q_id"), "vector")
    top = {r.q_id: r.id for r in search_batch(idx2, q, k=3).collect()
           if r.rank == 1}
    assert set(top) == set(range(1950, 2000))
    assert all(top[q_] == q_ for q_ in top)


def test_join_routing_with_duplicate_keys(spark, monkeypatch):
    """Regression: equal code keys spanning block boundaries (mass-
    duplicated vectors) once made the join-path as-of lookup pick a
    nondeterministic part_idx among equal min_keys — caught by a 1M diff
    run, invisible at 2k scale.  Duplicated vectors force duplicate keys
    at ANY scale."""
    rng = np.random.default_rng(3)
    protos = rng.normal(0, 3.0, (12, 16))
    # 40 copies of each prototype (+15 uniques) → every block boundary
    # inside a prototype run has equal min/max keys
    X = np.vstack([np.repeat(protos, 40, axis=0), rng.normal(0, 3.0, (15, 16))])
    df = spark.createDataFrame([(i, X[i].tolist()) for i in range(len(X))],
                               "id LONG, vector ARRAY<DOUBLE>").persist()
    cfg = LshConfig(dim=16, m=8, lam=2, tables=3, divisions=2, seed=13,
                    block_size=16, probes=3, refinement_limit=120)
    idx = AnnIndex.build(df, cfg)
    q = df.filter(F.col("id") % 37 == 0).select(F.col("id").alias("q_id"),
                                                "vector")
    a = sorted((r.q_id, r.id, r.rank)
               for r in search_batch(idx, q, k=10).collect())
    _join_routed(monkeypatch)
    b = sorted((r.q_id, r.id, r.rank)
               for r in search_batch(idx, q, k=10).collect())
    assert a == b


def test_filtered_search_obeys_allow_list(index, queries):
    """Metadata-filtered search: every result id satisfies the
    predicate, and with an exhaustive budget results equal exact KNN
    over the filtered base (budget-preserving post-filter)."""
    idx, df, X = index
    allow = df.filter(F.col("id") % 3 == 0).select("id")
    res = search_batch(idx, queries, k=10, allow=allow,
                       probes=50, refinement_limit=len(X))
    ids = [r.id for r in res.collect()]
    assert ids and all(i % 3 == 0 for i in ids)
    gt = knn_exact(df.filter(F.col("id") % 3 == 0), queries, k=10)
    got = {(r.q_id, r.rank): r.id for r in res.collect()}
    want = {(r.q_id, r.rank): r.id for r in gt.collect()}
    assert got == want


def test_filtered_search_composes_with_sq8_and_encryption(spark, clustered,
                                                          queries):
    """allow-list + SQ8 compressed refine + encrypted payloads in one
    plan: the filter cuts candidates before the SQ8 shortlist, which
    cuts decrypts — results still only from allowed ids."""
    from fspann_query_system_spark.crypto.keys import KeyManager
    from fspann_query_system_spark.crypto.aes import encrypt_vectors
    df, X = clustered
    cfg = LshConfig(dim=16, m=8, lam=2, tables=4, divisions=2, seed=42,
                    block_size=32, probes=5, refinement_limit=400)
    km = KeyManager(master=bytes(32))
    bc = spark.sparkContext.broadcast(km.key_map())
    idx = (AnnIndex.build(df, cfg).with_sq8()
           .with_encrypted_points(encrypt_vectors(df, bc, 1), bc))
    allow = df.filter(F.col("id") % 2 == 0).select("id")
    res = search_batch(idx, queries, k=5, allow=allow, sq8_rerank=4)
    rows = res.collect()
    assert rows and all(r.id % 2 == 0 for r in rows)


def test_stabilization_diagnostics_counters(index, queries):
    """with_diagnostics carries the reference's stabilization counters
    (QueryServiceImpl.java:29-31: candTotal >= candKept >= candDecrypted
    >= |results|) through the plan, constant per query, and the plain
    result columns are untouched."""
    from fspann_query_system_spark.query.profiler import stabilization_rows
    idx, _, _ = index
    res = search_batch(idx, queries, k=10, with_diagnostics=True)
    rows = stabilization_rows(res).collect()
    assert len(rows) == 25
    for r in rows:
        assert r.cand_raw >= r.cand_kept >= r.cand_decrypted >= r.returned > 0
        # no refinement pressure here (limit 400 > candidates): kept == raw
        # only when raw <= limit
        if r.cand_raw <= 400:
            assert r.cand_kept == r.cand_raw
    # the diagnostic columns don't perturb the search result itself
    plain = search_batch(idx, queries, k=10)
    a = {(r.q_id, r.rank): r.id for r in plain.collect()}
    b = {(r.q_id, r.rank): r.id for r in res.collect()}
    assert a == b


def test_stabilization_diagnostics_sq8_path(spark, clustered, queries):
    """The counters survive the SQ8 shortlist: cand_decrypted is capped
    at k*rerank while cand_kept still reflects the pre-shortlist set."""
    from fspann_query_system_spark.query.profiler import stabilization_rows
    df, X = clustered
    cfg = LshConfig(dim=16, m=8, lam=2, tables=4, divisions=2, seed=42,
                    block_size=32, probes=5, refinement_limit=400)
    idx = AnnIndex.build(df, cfg).with_sq8()
    res = search_batch(idx, queries, k=10, sq8_rerank=2,
                       with_diagnostics=True)
    for r in stabilization_rows(res).collect():
        assert r.cand_decrypted <= 10 * 2
        assert r.cand_kept >= r.cand_decrypted >= r.returned > 0


def test_stabilization_surfaces_zero_result_queries(index, queries):
    """Passing the query set left-joins it in, so a query with no result
    rows still appears with returned = 0 (the reference records counters
    for every executed search — zero-result queries are the
    diagnostically interesting case)."""
    from pyspark.sql import functions as F
    from fspann_query_system_spark.query.profiler import stabilization_rows
    idx, _, _ = index
    res = search_batch(idx, queries, k=10, with_diagnostics=True)
    victim = queries.select("q_id").first().q_id
    # simulate an executed query whose candidates all died pre-return
    culled = res.filter(F.col("q_id") != victim)
    rows = {r.q_id: r for r in
            stabilization_rows(culled, queries=queries).collect()}
    assert len(rows) == 25
    assert rows[victim].returned == 0 and rows[victim].cand_raw is None
    assert all(r.returned > 0 for q, r in rows.items() if q != victim)


def test_suggest_operating_point_pins_the_measured_law():
    """The §8b budget-scaling derivation reproduces the MEASURED
    operating points exactly — this test pins the law so a refactor
    can't silently drift the scale defaults (SCALE.md §8/§8b)."""
    from fspann_query_system_spark.query.ann import suggest_operating_point

    # 1M, default target: EXACTLY the measured §8 flagship
    # (p16/refine16k/rerank8/b128 → recall 0.961 at 18.5 ms/q)
    p1 = suggest_operating_point(1_000_000)
    assert p1 == {"block_size": 128, "probes": 16,
                  "refinement_limit": 16_384, "sq8_rerank": 8}
    # 10M, default target: the §8b ×10 budget (refine 131_072) with 2x
    # pool headroom on the b512 build (3x faster, equal recall)
    p10 = suggest_operating_point(10_000_000)
    assert p10 == {"block_size": 512, "probes": 32,
                   "refinement_limit": 131_072, "sq8_rerank": 16}
    # pool = 2x refine invariant at arbitrary n: refine past the pool
    # is wasted; pool at exactly refine loses the Hamming cut's +0.10
    # recall (measured 0.961 vs 0.860 at 1M, equal refine cost)
    for n in (123_457, 3_000_000, 7_500_000, 50_000_000):
        p = suggest_operating_point(n)
        slot = 8 * 2 * p["block_size"]
        pool = p["probes"] * slot
        assert 2 * p["refinement_limit"] <= pool \
            < 2 * p["refinement_limit"] + slot, n
    # budget ∝ n: fraction stays within 2x of the law constant (pow2
    # ceiling + pool rounding are the only slack)
    for n in (2_000_000, 20_000_000, 100_000_000):
        p = suggest_operating_point(n)
        assert 0.0131 <= p["refinement_limit"] / n <= 0.0131 * 2.2, n
    # higher target tier engages the x16 fraction
    hi = suggest_operating_point(10_000_000, target_recall=0.94)
    assert hi["refinement_limit"] >= 196_608
    # floor: tiny corpora never starve below the 1M flagship band
    assert suggest_operating_point(10_000)["refinement_limit"] >= 8192
    # an already-built index's block size is honored, not re-derived
    fixed = suggest_operating_point(10_000_000, block_size=128)
    assert fixed["block_size"] == 128
    assert fixed["probes"] * 8 * 2 * 128 >= 2 * fixed["refinement_limit"]


def test_auto_budget_end_to_end(index, queries):
    """suggest_budget derives the knobs from the index's own corpus size
    and geometry, and a search passed them explicitly is a valid search:
    on this 2,000-row fixture the floored budget covers the whole corpus,
    so it returns the exact top-k."""
    idx, df, X = index
    sug = idx.suggest_budget()
    # small fixture: floor engages; 2x pool headroom within its geometry
    cfgb = idx.params.cfg
    slot = cfgb.tables * cfgb.divisions * cfgb.block_size
    assert sug["probes"] * slot >= 2 * sug["refinement_limit"]
    assert sug["refinement_limit"] >= 8192
    got = search_batch(idx, queries, k=10, probes=sug["probes"],
                       refinement_limit=sug["refinement_limit"])
    exact = knn_exact(df, queries, k=10)
    assert {(r.q_id, r.id) for r in got.collect()} == \
        {(r.q_id, r.id) for r in exact.collect()}


def test_build_auto_block_size(spark, clustered):
    """The one block-size rule: suggest_operating_point picks 128 below
    the crossover, and a build takes it through ``cfg.block_size``
    (params carry the effective block size)."""
    from dataclasses import replace
    from fspann_query_system_spark.query.ann import suggest_operating_point
    df, X = clustered
    cfg = LshConfig(dim=16, m=6, lam=2, tables=2, divisions=1, seed=3,
                    block_size=999, probes=4, refinement_limit=400)
    block = suggest_operating_point(len(X))["block_size"]
    assert block == 128                          # n << crossover
    idx = AnnIndex.build(df, replace(cfg, block_size=block))
    assert idx.params.cfg.block_size == 128
    assert max(r.n_ids for r in idx.bounds.collect()) <= 128
    # and the auto-sized index still answers (self-hit at distance 0)
    q = df.limit(3).select(F.col("id").alias("q_id"), "vector")
    top = search_batch(idx, q, k=1).collect()
    assert all(r.distance == 0.0 and r.q_id == r.id for r in top)


def test_fused_decrypt_score_bit_identical_to_split(spark, clustered, queries):
    """The fused decrypt+score kernel (one mapInPandas: AES-GCM decrypt
    + per-dimension left-to-right L2 accumulation) must be BIT-identical
    to the split plan (decrypt_vectors → l2_expr fold) — same rows, same
    distances to the last ulp, so oracle hashes and rank ties cannot
    move.  The split reference is a plaintext index over the decrypted
    store: its refine stage scores with l2_expr."""
    from dataclasses import replace
    from fspann_query_system_spark.crypto.keys import KeyManager
    from fspann_query_system_spark.crypto.aes import (decrypt_vectors,
                                                      encrypt_vectors)

    df, X = clustered
    km = KeyManager(master=bytes(32))
    bc = spark.sparkContext.broadcast(km.key_map())
    enc = encrypt_vectors(df, bc, 1).persist()
    decrypted = decrypt_vectors(enc, bc).select("id", "vector")
    cfg = LshConfig(dim=16, m=8, lam=2, tables=3, divisions=2, block_size=32,
                    probes=4, refinement_limit=300, seed=9)
    plain = AnnIndex.build(df, cfg)
    fused = plain.with_encrypted_points(enc, bc)
    split = replace(plain, points=decrypted)
    r_fused = search_batch(fused, queries, k=8).orderBy("q_id", "rank").collect()
    r_split = search_batch(split, queries, k=8).orderBy("q_id", "rank").collect()
    assert [tuple(r) for r in r_fused] == [tuple(r) for r in r_split]
    assert len(r_fused) > 0
    # fused path also composes with SQ8 compressed refine + diagnostics
    plain8 = plain.with_sq8()
    r8f = search_batch(plain8.with_encrypted_points(enc, bc), queries, k=8,
                       sq8_rerank=4, with_diagnostics=True) \
        .orderBy("q_id", "rank").collect()
    r8s = search_batch(replace(plain8, points=decrypted), queries, k=8,
                       sq8_rerank=4, with_diagnostics=True) \
        .orderBy("q_id", "rank").collect()
    assert [tuple(r) for r in r8f] == [tuple(r) for r in r8s]
    enc.unpersist()


def test_bounds_rows_is_free_after_routing(spark, index):
    """``routing()`` records the bounds row count it collected, so the
    routing choice on a facade whose routing was forced at set-up runs
    no ``bounds.count()`` job."""
    from dataclasses import replace
    idx = replace(index[0], _routing_bc=None, _bounds_rows=None)
    idx.routing()
    sc = spark.sparkContext
    sc.setJobGroup("bounds-rows", "bounds-rows")
    try:
        n = idx.bounds_rows()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("bounds-rows") == []
    assert n == index[0].bounds.count()


@pytest.fixture(scope="module")
def underfilled(spark, clustered):
    """A 2,000-row index searched with probes=1 (probe_override=40) and
    an allow-list of 50 ids that only the wide probe reaches for q 0, so
    q 0 has ZERO first-pass rows.  q 7 has a NaN vector, which the
    coding filter drops (never searched, never retried)."""
    df, X = clustered
    cfg = LshConfig(dim=16, m=8, lam=2, tables=4, divisions=2, seed=42,
                    block_size=32, probes=1, probe_override=40,
                    refinement_limit=2000)
    idx = AnnIndex.build(df, cfg)
    q0 = spark.createDataFrame([(0, X[0].tolist())],
                               "q_id LONG, vector ARRAY<DOUBLE>")

    def reach(p):
        return {r.id for r in search_batch(idx, q0, k=2000,
                                           probes=p).collect()}

    only_wide = sorted(reach(40) - reach(1))
    assert len(only_wide) >= 50
    allow = spark.createDataFrame([(int(i),) for i in only_wide[:50]],
                                  "id LONG")
    q = spark.createDataFrame([(0, X[0].tolist()), (7, [float("nan")] * 16)],
                              "q_id LONG, vector ARRAY<DOUBLE>")
    assert search_batch(idx, q, k=10, allow=allow).count() == 0
    want = sorted(tuple(r) for r in search_batch(
        idx, q0, k=10, probes=40, allow=allow).collect())
    assert len(want) == 10
    return idx, q, allow, want


def test_adaptive_retry_includes_zero_result_queries(underfilled):
    """O6 needRetry: a query with fewer than k rows is retried with the
    wide probe budget — zero rows included (the retry once only saw
    q_ids present in the first pass)."""
    idx, q, allow, want = underfilled
    got = sorted(tuple(r) for r in search_batch_adaptive(
        idx, q, k=10, allow=allow).collect())
    assert got == want


def test_adaptive_retry_overrides_explicit_probes(underfilled):
    """An explicit ``probes=`` must not collide with the retry's probe
    override (it raised "got multiple values for keyword argument
    'probes'" whenever the retry fired)."""
    idx, q, allow, want = underfilled
    got = sorted(tuple(r) for r in search_batch_adaptive(
        idx, q, k=10, probes=1, allow=allow).collect())
    assert got == want
