"""Crypto layer: round-trips, AAD binding, no-fallback rule, and the
forward-security game (reference
``it/.../adversarial/ForwardSecurityGameTest.java:24-100`` — snapshot
ciphertexts, compromise the old key, rotate + re-encrypt, assert the old
key cannot decrypt migrated points)."""

import numpy as np
import pytest

from cryptography.exceptions import InvalidTag
from pyspark.sql import functions as F

from fspann_query_system_spark.crypto import (
    KeyManager, RotationPolicy, decrypt_record, decrypt_vectors,
    encrypt_record, encrypt_vectors, reencrypt_all, reencrypt_touched,
    version_census, TouchedTracker, derive_session_key)


@pytest.fixture(scope="module")
def km(tmp_path_factory):
    path = tmp_path_factory.mktemp("keys") / "keystore.json"
    return KeyManager(master=b"\x07" * 32, path=str(path))


def test_key_derivation_deterministic(km):
    assert derive_session_key(km.master, 1) == km.key_for(1)
    assert km.key_for(1) != km.key_for(2) if km.current_version >= 2 else True


def test_keystore_persistence_roundtrip(km, tmp_path):
    path = tmp_path / "ks.json"
    a = KeyManager(master=b"\x01" * 32, path=str(path))
    a.rotate()
    b = KeyManager(path=str(path))
    assert b.current_version == 2
    assert b.key_for(2) == a.key_for(2)


def test_record_roundtrip_and_aad_binding(km):
    vec = np.arange(8, dtype=float)
    key = km.key_for(1)
    iv, ct = encrypt_record(key, "p1", 1, vec)
    out = decrypt_record(key, "p1", 1, 8, iv, ct)
    assert np.array_equal(out, vec)
    # AAD binds id, version, dim — any mismatch fails authentication
    with pytest.raises(InvalidTag):
        decrypt_record(key, "p2", 1, 8, iv, ct)
    with pytest.raises(InvalidTag):
        decrypt_record(key, "p1", 2, 8, iv, ct)
    with pytest.raises(InvalidTag):
        decrypt_record(key, "p1", 1, 9, iv, ct)
    # tampered ciphertext fails
    bad = bytes([ct[0] ^ 1]) + ct[1:]
    with pytest.raises(InvalidTag):
        decrypt_record(key, "p1", 1, 8, iv, bad)


def test_df_encrypt_decrypt_roundtrip(spark, km):
    rng = np.random.default_rng(0)
    X = rng.normal(0, 1, (50, 8))
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(50)], "id LONG, vector ARRAY<DOUBLE>")
    bc = spark.sparkContext.broadcast(km.key_map())
    enc = encrypt_vectors(df, bc, km.current_version)
    dec = decrypt_vectors(enc, bc, mode="strict")
    out = {r.id: r.vector for r in dec.collect()}
    for i in range(50):
        assert np.allclose(out[i], X[i])
    # a per-row key version: each row under its own key, and back
    from fspann_query_system_spark.crypto.aes import encrypt_vectors_versioned
    km2 = KeyManager(master=b"\x08" * 32)
    km2.rotate()
    bc2 = spark.sparkContext.broadcast(km2.key_map())
    mixed = encrypt_vectors_versioned(
        df.withColumn("_kv", (F.col("id") % 2 + 1).cast("int")), bc2, "_kv")
    rows = decrypt_vectors(mixed, bc2, mode="strict").collect()
    assert {r.id: r.key_version for r in rows} == \
        {i: i % 2 + 1 for i in range(50)}
    for r in rows:
        assert np.array_equal(r.vector, X[r.id])


def test_decrypt_kernels_skip_and_strict_on_damaged_rows(spark):
    """The two decrypt kernels share one record loop: over a store with
    one truncated ciphertext (id 3) and one row under a key version the
    key map lacks (id 7), mode="skip" keeps the same ids in both, and
    mode="strict" raises on either defect in both."""
    from fspann_query_system_spark.crypto.aes import (
        decrypt_score_vectors, encrypt_vectors_versioned)
    rng = np.random.default_rng(4)
    X = rng.normal(0, 1, (20, 8))
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(20)], "id LONG, vector ARRAY<DOUBLE>")
    km = KeyManager(master=b"\x09" * 32)
    km.rotate()
    both = spark.sparkContext.broadcast(km.key_map())
    only_v1 = spark.sparkContext.broadcast({1: km.key_for(1)})
    truncated = F.expr("substring(ciphertext, 1, length(ciphertext) - 1)")
    store = (encrypt_vectors_versioned(
                 df.withColumn("_kv", F.when(F.col("id") == 7, 2)
                               .otherwise(1).cast("int")), both, "_kv")
             .withColumn("ciphertext", F.when(F.col("id") == 3, truncated)
                         .otherwise(F.col("ciphertext")))
             .persist())
    q = spark.createDataFrame([(0, [0.0] * 8)], "q_id LONG, _qvec ARRAY<DOUBLE>")

    def decrypted(st, mode):
        return {r.id for r in decrypt_vectors(st, only_v1, mode=mode)
                .select("id").collect()}

    def scored(st, mode):
        return {r.id: r.distance for r in decrypt_score_vectors(
            st.crossJoin(F.broadcast(q)), only_v1, mode=mode).collect()}

    want = set(range(20)) - {3, 7}
    assert decrypted(store, "skip") == want
    dist = scored(store, "skip")
    assert set(dist) == want
    for i in want:
        assert np.isclose(dist[i], np.linalg.norm(X[i]))
    # one defect at a time: drop the other damaged row
    for other, msg in ((7, "InvalidTag"), (3, "no key for version 2")):
        one = store.filter(F.col("id") != other)
        for kernel in (decrypted, scored):
            with pytest.raises(Exception, match=msg):
                kernel(one, "strict")
    store.unpersist()


def test_forward_security_game(spark, tmp_path):
    """G6-style game: adversary snapshots v1 ciphertexts and learns K1.
    After rotation + selective re-encryption of touched points, migrated
    points are bound to K2 — K1 fails on them (InvalidTag via AAD/key
    mismatch). Untouched points remain on v1 (selective, not full)."""
    km = KeyManager(master=b"\x42" * 32)
    rng = np.random.default_rng(1)
    X = rng.normal(0, 1, (40, 6))
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(40)], "id LONG, vector ARRAY<DOUBLE>")
    bc1 = spark.sparkContext.broadcast(km.key_map())
    enc_v1 = encrypt_vectors(df, bc1, 1).persist()
    enc_v1.count()

    adversary_key = km.key_for(1)          # compromise
    km.rotate()                            # v2
    bc2 = spark.sparkContext.broadcast(km.key_map())

    touched = spark.createDataFrame([(i,) for i in range(10)], "id LONG")
    migrated = reencrypt_touched(enc_v1, touched, bc2, 2).persist()

    census = {r.key_version: r.n_points for r in version_census(migrated).collect()}
    assert census == {1: 30, 2: 10}

    rows = {r.id: r for r in migrated.collect()}
    for i in range(10):                    # migrated: old key must FAIL
        r = rows[i]
        with pytest.raises(InvalidTag):
            decrypt_record(adversary_key, r.id, r.key_version, r.dim,
                           bytes(r.iv), bytes(r.ciphertext))
        out = decrypt_record(km.key_for(2), r.id, 2, r.dim,
                             bytes(r.iv), bytes(r.ciphertext))
        assert np.allclose(out, X[i])
    r = rows[20]                           # untouched: still v1
    assert r.key_version == 1
    assert np.allclose(
        decrypt_record(adversary_key, r.id, 1, r.dim, bytes(r.iv), bytes(r.ciphertext)),
        X[20])

    # full rotation closes the window
    all_v2 = reencrypt_all(migrated, bc2, 2)
    census2 = {r.key_version: r.n_points for r in version_census(all_v2).collect()}
    assert census2 == {2: 40}


def test_touched_tracker_dedup(spark):
    t = TouchedTracker()
    t.record(spark.createDataFrame([(1,), (2,)], "id LONG"))
    t.record(spark.createDataFrame([(2,), (3,)], "id LONG"))
    drained = t.drain()
    assert sorted(drained.column("id").to_pylist()) == [1, 2, 3]
    assert str(drained.schema.field("id").type) == "int64"
    assert t.drain() is None


def test_rotation_policy():
    km = KeyManager(master=b"\x05" * 32,
                    policy=RotationPolicy(max_ops=100, max_age_sec=1e9))
    km.record_ops(50)
    assert km.rotate_if_needed() is None
    km.record_ops(60)
    assert km.rotate_if_needed() == 2
    assert km.safe_to_delete(1, bound_count=0)
    assert not km.safe_to_delete(1, bound_count=5)
    assert not km.safe_to_delete(2, bound_count=0)  # current key never deletable


def test_key_retirement_census_gated(tmp_path):
    """F6 enforcement (reference KeyManager.deleteKeysOlderThan:274-317):
    only census-empty, non-current versions retire; retirement denies
    derivation and survives restart."""
    from fspann_query_system_spark.crypto.keys import KeyManager
    import pytest as _pt
    path = str(tmp_path / "ks.bin")
    km = KeyManager(master=bytes(range(32)), path=path)
    for _ in range(3):
        km.rotate()                       # versions 1..4, current=4
    census = {1: 0, 2: 7, 3: 0}           # v2 still guards 7 points
    retired = km.delete_keys_older_than(4, census)
    assert retired == [1, 3]
    assert 2 in km.key_map(oldest=1) and 4 in km.key_map(oldest=1)
    with _pt.raises(KeyError, match="retired"):
        km.key_for(1)
    km2 = KeyManager(path=path)            # reload from disk
    assert km2.retired == {1, 3}
    with _pt.raises(KeyError, match="retired"):
        km2.key_for(3)
    assert km2.key_for(2) == km.key_for(2)
