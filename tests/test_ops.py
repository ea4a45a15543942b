"""Training-data ops: dedup variants, similarity search, text functions,
multimodal plumbing."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from fspann_query_system_spark.functions import text as T
from fspann_query_system_spark.ops.dedup import (exact_duplicates, dedup_exact,
                                                 minhash_signatures,
                                                 minhash_band_pairs,
                                                 jaccard_pairs, simhash)
from fspann_query_system_spark.ops.similarity import (cosine_topk,
                                                      cosine_topk_sql_shape,
                                                      embedding_near_dups)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
        (2, "THE  QUICK   BROWN fox jumps over the lazy dog"),  # exact after normalize
        (3, "completely different content about spark engines"),
        (4, "el gato y el perro en la casa de la abuela"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_exact_dedup(docs):
    dups = exact_duplicates(docs).collect()
    assert len(dups) == 1
    assert sorted(dups[0].doc_ids) == [0, 2]
    kept = dedup_exact(docs)
    assert kept.count() == 5  # 6 docs, one dup removed
    assert 2 not in {r.doc_id for r in kept.collect()}


def test_minhash_near_dup_detection(docs):
    sigs = {r.doc_id: r.sig for r in minhash_signatures(docs, n_hashes=16).collect()}
    # near-dups share most minhashes; unrelated docs share almost none
    agree_01 = sum(a == b for a, b in zip(sigs[0], sigs[1]))
    agree_03 = sum(a == b for a, b in zip(sigs[0], sigs[3]))
    assert agree_01 > agree_03
    assert sigs[0] == sigs[2]  # exact dup after normalization
    pairs = {(r.id_a, r.id_b) for r in
             minhash_band_pairs(docs, n_hashes=16, bands=8).collect()}
    assert (0, 2) in pairs
    assert (0, 1) in pairs


def test_winnow_fingerprints(docs, spark):
    from fspann_query_system_spark.ops.dedup import winnow_fingerprints
    fps = {}
    for r in winnow_fingerprints(docs.filter(F.col("doc_id") != 5),
                                 window=4).collect():
        fps.setdefault(r.doc_id, set()).add(r.fingerprint)
    # winnowing guarantee: a shared token run of >= window + k - 1 (= 6)
    # tokens forces >= 1 shared fingerprint; docs 0/1 share 8 leading tokens
    assert fps[0] & fps[1]
    # identical normalized text -> identical fingerprint set
    assert fps[0] == fps[2]
    # unrelated docs share nothing
    assert not (fps[0] & fps[3])
    # doc with fewer shingles than the window emits exactly one fingerprint
    short = spark.createDataFrame([(9, "two words")], "doc_id LONG, text STRING")
    assert winnow_fingerprints(short, window=4).count() == 1


def test_jaccard_pairs(docs):
    j = {(r.id_a, r.id_b): r.jaccard for r in jaccard_pairs(docs, k=3).collect()}
    assert j[(0, 2)] == 1.0
    assert 0.5 < j[(0, 1)] < 1.0
    assert (0, 3) not in j


def test_jaccard_df_cap(spark):
    # 6 docs all sharing one boilerplate trigram; pairwise overlap is ONLY
    # that trigram.  With max_df=3 the frequent shingle is dropped from the
    # shingle sets, so no pair shares anything -> the self-join input is
    # empty and no pairs come out; uncapped, all 15 pairs appear.
    rows = [(i, f"common boiler plate unique{i} token{i} word{i}")
            for i in range(6)]
    d = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    uncapped = jaccard_pairs(d, k=3, threshold=0.01)
    assert uncapped.count() == 15
    capped = jaccard_pairs(d, k=3, threshold=0.01, max_df=3)
    assert capped.count() == 0
    # sizes shrink too: the cap removes the shingle from the sets, not
    # just the join (jaccard over filtered sets stays exact)
    solo = jaccard_pairs(d.limit(2), k=3, threshold=0.01, max_df=3)
    assert solo.count() == 1  # df=2 <= 3 within the subset: shingle kept


def test_simhash_similarity(docs):
    sh = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    def ham(a, b):
        return bin(a ^ b).count("1")
    assert sh[0] == sh[2]
    assert ham(sh[0], sh[1]) < ham(sh[0], sh[3])


def test_text_functions(docs):
    out = {r.doc_id: r for r in docs.select(
        "doc_id",
        T.token_count("text").alias("tc"),
        T.lang_id("text").alias("lang"),
        T.quality_score("text").alias("q")).collect()}
    assert out[0].tc == 9
    assert out[5].tc == 0
    assert out[0].lang == "en"
    assert out[4].lang == "es"
    assert out[5].lang == "und"
    assert 0.0 <= out[3].q <= 1.0


def test_bpe_token_count(spark):
    rows = [
        (0, "don't stop"),              # don / 't / stop
        (1, "hello,   world!!"),        # hello / , / world / !!
        (2, "a1b2"),                    # a / 1 / b / 2
        (3, ""),
        (4, "it's we're i'll"),         # it 's we 're i 'll
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r.doc_id: r.n for r in
           df.select("doc_id", T.bpe_token_count("text").alias("n")).collect()}
    assert got == {0: 3, 1: 4, 2: 4, 3: 0, 4: 6}


def test_cosine_topk_blocked_vs_sql_shape(spark, clustered):
    df, X = clustered
    q = df.limit(5).select(F.col("id").alias("q_id"), "vector")
    a = cosine_topk(df, q, k=5).orderBy("q_id", "rank").collect()
    b = cosine_topk_sql_shape(df, q, k=5).orderBy("q_id", "rank").collect()
    assert [(r.q_id, r.id) for r in a] == [(r.q_id, r.id) for r in b]
    assert a[0].id == a[0].q_id  # self-match first


def test_embedding_near_dups(spark):
    rng = np.random.default_rng(2)
    base = rng.normal(0, 1, (40, 8))
    base[13] = base[7] + rng.normal(0, 1e-3, 8)   # planted near-dup
    df = spark.createDataFrame([(i, base[i].tolist()) for i in range(40)],
                               "id LONG, vector ARRAY<DOUBLE>")
    pairs = {(r.id_a, r.id_b): r.cosine for r in
             embedding_near_dups(df, threshold=0.99).collect()}
    assert (7, 13) in pairs
    assert len(pairs) == 1


def test_key_bucket_pairs_batched_kernel_matches_join_spelling(spark,
                                                               clustered):
    """r12: the bucket="key" scorer runs one mapInPandas over
    key-sorted partitions instead of a per-group applyInPandas — its
    pairs must equal an independent declarative spelling (key-equality
    self-join + cosine expression), values at 6dp."""
    from pyspark.sql import functions as F
    from fspann_query_system_spark.lsh.params import LshConfig
    from fspann_query_system_spark.query.ann import AnnIndex
    from fspann_query_system_spark.functions.distance import cosine_expr
    df, X = clustered
    base = df.filter(F.col("id") < 400)
    cfg = LshConfig(dim=16, m=4, lam=2, tables=2, divisions=2,
                    block_size=32, probes=3, refinement_limit=100)
    idx = AnnIndex.build(base, cfg)
    thr = 0.98
    got = sorted(map(tuple, embedding_near_dups(
        base, thr, index=idx, bucket="key").collect()))
    k = idx.codes.select("table", "division", "code_key",
                         F.col("id").alias("_kid"))
    ref_pairs = (k.alias("a").join(
        k.alias("b"),
        on=[F.col("a.table") == F.col("b.table"),
            F.col("a.division") == F.col("b.division"),
            F.col("a.code_key") == F.col("b.code_key"),
            F.col("a._kid") < F.col("b._kid")])
        .select(F.col("a._kid").alias("id_a"),
                F.col("b._kid").alias("id_b")).distinct())
    va = base.select(F.col("id").alias("id_a"), F.col("vector").alias("_va"))
    vb = base.select(F.col("id").alias("id_b"), F.col("vector").alias("_vb"))
    ref = sorted(map(tuple, (ref_pairs.join(va, "id_a").join(vb, "id_b")
                             .withColumn("cosine", cosine_expr("_va", "_vb"))
                             .filter(F.col("cosine") >= thr)
                             .select("id_a", "id_b",
                                     F.round("cosine", 6).alias("cosine"))
                             ).collect()))
    assert len(got) > 0
    assert got == ref


def test_embedding_near_dups_exact_mode_guard(spark):
    """Exact mode collects the table to the driver, so it refuses
    inputs above max_exact_rows with a pointer to the index path
    instead of driver-OOMing."""
    import pytest
    rng = np.random.default_rng(3)
    df = spark.createDataFrame(
        [(i, rng.normal(0, 1, 4).tolist()) for i in range(30)],
        "id LONG, vector ARRAY<DOUBLE>")
    with pytest.raises(ValueError, match="index=AnnIndex.build"):
        embedding_near_dups(df, threshold=0.9, max_exact_rows=10)
    # at/under the cap it runs
    assert embedding_near_dups(df, threshold=0.999,
                               max_exact_rows=30).count() >= 0


def test_multimodal_plumbing(spark):
    from fspann_query_system_spark.ops.multimodal import (make_media_table,
                                                          image_features,
                                                          frame_sample,
                                                          media_summary)
    rows = [(i, f"payload-{i}".encode()) for i in range(10)] + [(99, b"")]
    df = spark.createDataFrame(rows, "doc_id LONG, payload BINARY")
    media = make_media_table(df, "payload", "image")
    feats = {r.media_id: r.feat for r in image_features(media, feat_dim=16).collect()}
    assert len(feats) == 10                 # empty payload dropped like a codec error
    assert all(len(v) == 16 for v in feats.values())
    # deterministic: same content → same features
    again = {r.media_id: r.feat for r in image_features(media, feat_dim=16).collect()}
    assert feats == again
    vids = make_media_table(df.limit(3), "payload", "video")
    fs = frame_sample(vids, every_n=7)
    assert fs.count() > 0
    assert media_summary(media).collect()[0].n == 11


def test_sq8_quantize_roundtrip(spark, clustered):
    from fspann_query_system_spark.ops.similarity import sq8_stats, sq8_quantize
    df, X = clustered
    mins, maxs = sq8_stats(df)
    assert np.allclose(mins, X.min(axis=0)) and np.allclose(maxs, X.max(axis=0))
    out = sq8_quantize(df, mins, maxs).collect()
    assert len(out) == len(X)
    step = (np.array(maxs) - np.array(mins)) / 255.0
    worst_mse = float((step ** 2).mean())   # error bounded by one code step
    for r in out:
        assert all(0 <= c <= 255 for c in r.codes)
        assert 0.0 <= r.mse <= worst_mse
    # reconstruction matches numpy reference for a spot row
    r0 = next(r for r in out if r.id == 0)
    codes_np = np.round((X[0] - mins) / np.where(step > 0, step * 255, 1) * 255)
    assert list(codes_np.astype(int)) == list(r0.codes)


def test_multimodal_resize_and_audio(spark):
    from fspann_query_system_spark.ops.multimodal import (make_media_table,
                                                          resize_images,
                                                          audio_features)
    rows = [(i, f"payload-{i}".encode()) for i in range(5)] + [(99, b"")]
    df = spark.createDataFrame(rows, "doc_id LONG, payload BINARY")
    media = make_media_table(df, "payload", "image")
    th = {r.media_id: r for r in resize_images(media, 16, 8).collect()}
    assert len(th) == 5                       # empty payload dropped
    assert all(len(bytes(r.content)) == 16 * 8 * 3 for r in th.values())
    assert all(r.meta.width == 16 and r.meta.height == 8 for r in th.values())
    audio = make_media_table(df, "payload", "audio")
    feats = {r.media_id: r.feat
             for r in audio_features(audio, n_windows=8,
                                     decoder="stub").collect()}
    assert len(feats) == 5
    assert all(len(v) == 16 for v in feats.values())
    # RMS of the 0.25-sigma stub waveform sits near 0.25; ZCR near 0.5
    some = next(iter(feats.values()))
    assert 0.15 < some[0] < 0.35 and 0.3 < some[8] < 0.7
    again = {r.media_id: r.feat
             for r in audio_features(audio, n_windows=8,
                                     decoder="stub").collect()}
    assert feats == again
    # default decoder is the REAL stdlib WAV codec: text payloads are not
    # WAV, so every row is dropped rather than silently faked
    assert audio_features(audio, n_windows=8).count() == 0


def test_real_wav_codec_and_decoder_injection(spark):
    """Real-codec paths: stdlib WAV decode end-to-end through executors,
    and the image-decoder injection seam (the PIL branch uses the same
    seam; see test_pil_image_decode for the PIL-present case)."""
    import io
    import wave as wavmod
    from fspann_query_system_spark.ops.multimodal import (make_media_table,
                                                          audio_features,
                                                          image_features)

    def wav_bytes(freq_hz, amp, sr=8000, n=8000):
        t = np.arange(n) / sr
        pcm = (amp * np.sin(2 * np.pi * freq_hz * t) * 32767).astype("<i2")
        buf = io.BytesIO()
        with wavmod.open(buf, "wb") as w:
            w.setnchannels(1); w.setsampwidth(2); w.setframerate(sr)
            w.writeframes(pcm.tobytes())
        return buf.getvalue()

    rows = [(1, wav_bytes(440, 0.5)), (2, wav_bytes(880, 0.1)),
            (3, b"not a wav at all")]
    df = spark.createDataFrame(rows, "doc_id LONG, payload BINARY")
    audio = make_media_table(df, "payload", "audio")
    feats = {r.media_id: r.feat
             for r in audio_features(audio, n_windows=4).collect()}
    assert set(feats) == {1, 2}               # non-WAV payload dropped
    # sine RMS = amp/sqrt(2); windowed RMS of a pure tone is flat
    assert abs(feats[1][0] - 0.5 / np.sqrt(2)) < 0.01
    assert abs(feats[2][0] - 0.1 / np.sqrt(2)) < 0.01
    # ZCR of a pure tone = 2*freq/sr
    assert abs(feats[1][4] - 2 * 440 / 8000) < 0.02
    assert abs(feats[2][4] - 2 * 880 / 8000) < 0.02

    # image-decoder injection: a custom callable rides the same seam the
    # PIL branch uses, cloudpickled through real Python workers
    def gradient_decoder(content, width, height):
        if not content:
            raise ValueError("empty")
        v = np.arange(height * width * 3, dtype=np.uint8)
        return (v.reshape(height, width, 3) + (content[0] % 7)).astype(np.uint8)

    media = make_media_table(df, "payload", "image")
    out = {r.media_id: r.feat
           for r in image_features(media, feat_dim=16,
                                   decoder=gradient_decoder).collect()}
    assert set(out) == {1, 2, 3}
    assert all(len(v) == 16 for v in out.values())
    stub = {r.media_id: r.feat for r in image_features(media, 16).collect()}
    assert out[1] != stub[1]                  # decoder actually took effect


def _png_bytes(arr: np.ndarray, filters=None) -> bytes:
    """Minimal pure-Python PNG encoder (8-bit RGB) for codec tests —
    each scanline stored under the filter type ``filters[y]`` (0=None,
    1=Sub, 2=Up, 3=Average, 4=Paeth)."""
    import struct
    import zlib
    h, w, _ = arr.shape
    raw = b""
    prev = np.zeros(w * 3, dtype=int)
    for y in range(h):
        cur = arr[y].reshape(-1).astype(int)
        f = filters[y % len(filters)] if filters else 0
        a = np.concatenate([[0, 0, 0], cur[:-3]])
        if f == 0:
            line = cur
        elif f == 1:
            line = (cur - a) % 256
        elif f == 2:
            line = (cur - prev) % 256
        elif f == 3:
            line = (cur - (a + prev) // 2) % 256
        else:
            c = np.concatenate([[0, 0, 0], prev[:-3]])
            p = a + prev - c
            pred = np.where((abs(p - a) <= abs(p - prev))
                            & (abs(p - a) <= abs(p - c)), a,
                            np.where(abs(p - prev) <= abs(p - c), prev, c))
            line = (cur - pred) % 256
        raw += bytes([f]) + bytes(line.astype(np.uint8))
        prev = cur
    def chunk(t, d):
        return (struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def test_png_stdlib_decode_roundtrip():
    """The stdlib PNG codec must reconstruct exact pixels through every
    scanline filter type — this is the real-image branch CI exercises in
    a container without PIL."""
    from fspann_query_system_spark.ops.multimodal import _decode_image_png
    rng = np.random.default_rng(3)
    arr = rng.integers(0, 256, (7, 5, 3), dtype=np.uint8)
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        got = _decode_image_png(_png_bytes(arr, filters), 0, 0)
        assert np.array_equal(got, arr), filters
    with pytest.raises(ValueError):
        _decode_image_png(b"not a png", 0, 0)


def test_png_default_dispatch_in_pipeline(spark):
    """Without PIL, the DEFAULT image decoder decodes PNG payloads for
    real (stub only for non-PNG): a solid-color PNG must produce exact
    pooled statistics through image_features, and resize_images must
    resample the true pixel grid."""
    from fspann_query_system_spark.ops.multimodal import (
        make_media_table, image_features, resize_images)
    solid = np.full((6, 4, 3), 200, dtype=np.uint8)
    grad = np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3)
    rows = [(1, _png_bytes(solid)), (2, _png_bytes(grad, [4])),
            (3, b"opaque non-png payload")]
    df = spark.createDataFrame(rows, "doc_id LONG, payload BINARY")
    media = make_media_table(df, "payload", "image")
    feats = {r.media_id: r.feat
             for r in image_features(media, feat_dim=16).collect()}
    assert set(feats) == {1, 2, 3}            # non-PNG falls back to stub
    # solid 200-image: every pooled mean is 200/255, every std is 0
    assert abs(feats[1][0] - 200 / 255) < 1e-12 and abs(feats[1][1]) < 1e-12
    out = {r.media_id: r.content for r in resize_images(media, 2, 2).collect()}
    assert len(out[1]) == 2 * 2 * 3
    assert set(bytes(out[1])) == {200}        # true pixels, not stub noise
    # gradient image: resample picks rows 0/4, cols 0/4 of the REAL array
    expect = grad[[0, 4]][:, [0, 4]].tobytes()
    assert bytes(out[2]) == expect


def test_pil_image_decode():
    """Runs only where PIL exists: the real-codec branch of the image
    decoder dispatch."""
    pytest.importorskip("PIL")
    import io
    from PIL import Image
    from fspann_query_system_spark.ops.multimodal import (
        _decode_image_pil, default_image_decoder)
    buf = io.BytesIO()
    Image.new("RGB", (8, 4), (10, 20, 30)).save(buf, format="PNG")
    img = _decode_image_pil(buf.getvalue(), 0, 0)
    assert img.shape == (4, 8, 3) and tuple(img[0, 0]) == (10, 20, 30)
    assert default_image_decoder() is _decode_image_pil


def test_ivf_topk_subset_and_self_hit(spark, clustered):
    from fspann_query_system_spark.ops.similarity import ivf_topk
    from fspann_query_system_spark.query.exact import knn_exact
    df, X = clustered
    centroids = df.filter(F.col("id") % 250 == 0)   # one seed per true cluster
    q = df.filter(F.col("id") < 10).select(F.col("id").alias("q_id"), "vector")
    out = ivf_topk(df, q, centroids, k=5, nprobe=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == set(range(10))
    for q_id, rows in by_q.items():
        ranked = sorted(rows, key=lambda r: r.rank)
        assert ranked[0].id == q_id and ranked[0].dist == 0.0  # self-hit first
        assert [r.rank for r in ranked] == list(range(1, len(ranked) + 1))
    # with cluster-aligned centroids, IVF top-5 should match exact top-5
    # for nearly all queries (clusters are well separated)
    exact = knn_exact(df, q, k=5).collect()
    ex_sets = {}
    for r in exact:
        ex_sets.setdefault(r.q_id, set()).add(r.id)
    hits = sum(len(ex_sets[qid] & {r.id for r in rows}) for qid, rows in by_q.items())
    assert hits >= 45  # recall@5 >= 0.9 over 10 queries


def test_ivf_topk_probe_mass_exhaustive_and_bounded(spark, clustered):
    """ivf_topk(probe_mass=) — the bipartite query-vs-corpus twin of
    knn_join's adaptive probing, map-side over the (possibly
    distributed) query table: a whole-corpus budget equals probing
    every cell, and a partial budget still returns dense k results
    with the self-hit first (every query scans >= budget rows)."""
    from fspann_query_system_spark.ops.similarity import ivf_topk
    df, X = clustered
    centroids = df.filter(F.col("id") % 250 == 0)   # 8 cells
    q = df.filter(F.col("id") < 10).select(F.col("id").alias("q_id"),
                                           "vector")
    full = sorted((r.q_id, r.id, r.rank) for r in
                  ivf_topk(df, q, centroids, k=5,
                           probe_mass=10 ** 9).collect())
    exh = sorted((r.q_id, r.id, r.rank) for r in
                 ivf_topk(df, q, centroids, k=5, nprobe=8).collect())
    assert full == exh
    part = ivf_topk(df, q, centroids, k=5, probe_mass=300).collect()
    by_q = {}
    for r in part:
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == set(range(10))
    for q_id, rows in by_q.items():
        ranked = sorted(rows, key=lambda r: r.rank)
        assert len(ranked) == 5
        assert ranked[0].id == q_id and ranked[0].dist == 0.0


def test_kmeans_fit_improves_ivf(spark, clustered):
    """Lloyd training must move the coarse quantizer toward the true
    cluster structure: mean point-to-nearest-centroid distance strictly
    drops vs the naive first-k init, and IVF recall with trained
    centroids matches or beats the untrained ones."""
    from fspann_query_system_spark.ops.similarity import (kmeans_fit,
                                                          ivf_topk)
    from fspann_query_system_spark.query.exact import knn_exact
    df, X = clustered
    k = 8
    naive = (df.filter(F.col("id") < k)
             .select(F.col("id").alias("cell"), "vector"))
    trained = kmeans_fit(df, k=k, iters=3)
    assert trained.count() == k

    def mean_min_d2(cent_df):
        C = np.array([r.vector for r in
                      cent_df.orderBy("cell").collect()], dtype=np.float64)
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        return float(d2.min(axis=1).mean())

    assert mean_min_d2(trained) < 0.7 * mean_min_d2(naive)

    q = df.filter(F.col("id") < 15).select(F.col("id").alias("q_id"), "vector")
    gt = {}
    for r in knn_exact(df, q, k=5).collect():
        gt.setdefault(r.q_id, set()).add(r.id)

    def recall(cent_df):
        cent = cent_df.select(F.col("cell").alias("id"), "vector")
        hits = 0
        for r in ivf_topk(df, q, cent, k=5, nprobe=2).collect():
            hits += r.id in gt[r.q_id]
        return hits / (5 * 15)

    assert recall(trained) >= recall(naive)


def test_kmeans_fit_fraction_sample_quality_and_determinism(spark,
                                                            clustered):
    """fit_fraction < 1 trains Lloyd on a deterministic hash sample:
    the result is reproducible call-to-call (no rand()), returns the
    full k centroids, and lands near the full-fit objective — the
    sample preserves cluster geometry, so the mean point-to-centroid
    distance stays within a small factor of the full fit's (the
    coarse-quantizer practice the scale harnesses rely on)."""
    from fspann_query_system_spark.ops.similarity import kmeans_fit
    df, X = clustered
    k = 8
    a = {r.cell: tuple(r.vector) for r in
         kmeans_fit(df, k=k, iters=3, fit_fraction=0.5).collect()}
    b = {r.cell: tuple(r.vector) for r in
         kmeans_fit(df, k=k, iters=3, fit_fraction=0.5).collect()}
    assert a == b and len(a) == k          # deterministic, full codebook
    full = kmeans_fit(df, k=k, iters=3)

    def mean_min_d2(cent):
        C = np.array([list(v) for v in cent.values()], dtype=np.float64)
        return float(((X[:, None, :] - C[None]) ** 2).sum(-1)
                     .min(axis=1).mean())

    full_c = {r.cell: tuple(r.vector) for r in full.collect()}
    assert mean_min_d2(a) <= 1.5 * mean_min_d2(full_c)


def test_semantic_dedup_within_cluster_only(spark, clustered):
    """SemDeDup pairs must (a) respect the threshold, (b) come only from
    co-clustered rows, and (c) recover the planted duplicates: rows in
    the same tight synthetic cluster are near-dups at high threshold,
    rows from different clusters never are."""
    from fspann_query_system_spark.ops.similarity import (kmeans_fit,
                                                          semantic_dedup)
    df, X = clustered
    cent = kmeans_fit(df, k=8, iters=3)
    pairs = semantic_dedup(df, cent, threshold=0.98).collect()
    assert len(pairs) > 0
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    for r in pairs:
        assert r.id_a < r.id_b
        cos = float(Xn[r.id_a] @ Xn[r.id_b])
        assert abs(cos - r.cosine) < 1e-5 and r.cosine >= 0.98
        # fixture layout: ids 250*j .. 250*j+249 share a true cluster
        assert r.id_a // 250 == r.id_b // 250
    # the pair set must be exactly the within-cell thresholded pairs:
    # recompute from the assignment and compare counts for one cell
    from fspann_query_system_spark.ops.similarity import ivf_assign
    assigned = {r.id: r.cell
                for r in ivf_assign(df, cent, c_id_col="cell").collect()}
    cells = sorted({assigned[i] for i in range(len(X))})
    expect = 0
    for c in cells:
        ids = [i for i in range(len(X)) if assigned[i] == c]
        S = Xn[ids] @ Xn[ids].T
        expect += int((np.triu(S, 1) >= 0.98).sum())
    assert len(pairs) == expect


def test_asof_join_matches_bruteforce(spark):
    """Union-trick as-of join vs a brute-force crossJoin argmax, both
    directions, incl. equal-timestamp inclusivity and unmatched lefts."""
    from fspann_query_system_spark.ops.asof import asof_join
    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 205), (3, 10, 300),
         (4, 20, 50), (5, 20, 500), (6, 30, 100)],
        "lid LONG, user_id LONG, ts LONG")
    right = spark.createDataFrame(
        [(10, 100, 1.0), (10, 200, 2.0), (10, 205, 3.0), (10, 400, 4.0),
         (20, 60, 5.0), (20, 499, 6.0)],
        "user_id LONG, ts LONG, state DOUBLE")
    back = {r.lid: (r.state, r.ts_right)
            for r in asof_join(left, right, on="ts", by="user_id",
                               value_cols=["state"]).collect()}
    assert back == {1: (1.0, 100),    # equal ts is inclusive
                    2: (3.0, 205), 3: (3.0, 205),
                    4: (None, None),  # no right at-or-before
                    5: (6.0, 499), 6: (None, None)}
    fwd = {r.lid: (r.state, r.ts_right)
           for r in asof_join(left, right, on="ts", by="user_id",
                              value_cols=["state"],
                              direction="forward").collect()}
    assert fwd == {1: (1.0, 100), 2: (3.0, 205), 3: (4.0, 400),
                   4: (5.0, 60), 5: (None, None), 6: (None, None)}
    with pytest.raises(ValueError):
        asof_join(left, right, direction="nearest")
    # brute-force cross-check on random data
    rng = np.random.default_rng(5)
    L = [(i, int(rng.integers(0, 4)), int(rng.integers(0, 1000)))
         for i in range(60)]
    R = [(u, int(t), float(u * 10000 + t))
         for u in range(4)
         for t in rng.choice(1000, 25, replace=False)]
    ldf = spark.createDataFrame(L, "lid LONG, user_id LONG, ts LONG")
    rdf = spark.createDataFrame(R, "user_id LONG, ts LONG, state DOUBLE")
    got = {r.lid: r.state
           for r in asof_join(ldf, rdf, on="ts", by="user_id",
                              value_cols=["state"]).collect()}
    rmap: dict = {}
    for u, t, s in R:
        rmap.setdefault(u, []).append((t, s))
    for lid, u, t in L:
        cands = [(rt, s) for rt, s in rmap.get(u, []) if rt <= t]
        expect = max(cands)[1] if cands else None
        assert got[lid] == expect, (lid, got[lid], expect)


def test_stratified_sample_deterministic_and_stable(spark):
    """Keep-decision is a pure hash of (salt, key): exact reruns, rate
    accuracy within hash-uniformity bounds, per-row stability under
    appends (a row's fate never changes when the table grows), and
    independent samples under different salts."""
    from fspann_query_system_spark.ops.sampling import stratified_sample
    rows = [(i, "a" if i % 2 == 0 else "b") for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING")
    kept1 = {r.doc_id for r in stratified_sample(
        df, {"a": 0.5, "b": 0.1}).collect()}
    kept2 = {r.doc_id for r in stratified_sample(
        df, {"a": 0.5, "b": 0.1}).collect()}
    assert kept1 == kept2                       # exact rerun
    n_a = sum(1 for d in kept1 if d % 2 == 0)
    n_b = len(kept1) - n_a
    assert abs(n_a - 1000) < 100 and abs(n_b - 200) < 80
    # append stability: same rows keep their fate in a larger table
    bigger = spark.createDataFrame(
        rows + [(i, "a") for i in range(4000, 6000)],
        "doc_id LONG, source STRING")
    kept_big = {r.doc_id for r in stratified_sample(
        bigger, {"a": 0.5, "b": 0.1}).collect()}
    assert {d for d in kept_big if d < 4000} == kept1
    # salts decorrelate
    alt = {r.doc_id for r in stratified_sample(
        df, {"a": 0.5, "b": 0.1}, salt="v2").collect()}
    assert alt != kept1
    overlap = len(alt & kept1 & {d for d in range(0, 4000, 2)})
    assert 350 < overlap < 650                  # ~0.25 of stratum a


def test_pack_sequences_boundary_math(spark):
    from fspann_query_system_spark.ops.sampling import pack_sequences
    rows = [("s", 1, 1000), ("s", 2, 1000), ("s", 3, 500),
            ("t", 9, 5000)]
    df = spark.createDataFrame(rows, "source STRING, doc_id LONG, n LONG")
    got = {(r.source, r.doc_id): (r.pack_id, r.pack_offset)
           for r in pack_sequences(df, size_col="n", window=2048).collect()}
    assert got == {("s", 1): (0, 0),            # starts pack 0
                   ("s", 2): (0, 1000),         # straddles 0→1 boundary
                   ("s", 3): (0, 2000),         # starts at 2000, splits
                   ("t", 9): (0, 0)}            # separate stream


def test_range_join_matches_bruteforce(spark):
    """Binned interval join vs brute force: every containment pair
    exactly once, across bin-width regimes (narrower/wider than the
    intervals) and with/without a by-key."""
    from fspann_query_system_spark.ops.ranges import range_join
    rng = np.random.default_rng(9)
    P = [(i, int(rng.integers(0, 2)), int(rng.integers(0, 1000)))
         for i in range(80)]
    IV = []
    for j in range(30):
        s = int(rng.integers(0, 950))
        IV.append((j, int(rng.integers(0, 2)), s, s + int(rng.integers(0, 120))))
    pdf = spark.createDataFrame(P, "pid LONG, user_id LONG, t LONG")
    ivdf = spark.createDataFrame(IV, "iid LONG, user_id LONG, start LONG, end LONG")
    expect = sorted((p, i) for p, pu, t in P for i, iu, s, e in IV
                    if pu == iu and s <= t <= e)
    for bw in (7, 64, 1000, 10**9):
        got = sorted((r.pid, r.iid)
                     for r in range_join(pdf, ivdf, point_col="t",
                                         by="user_id",
                                         bin_width=bw).collect())
        assert got == expect, bw
    # keyless variant
    expect_nokey = sorted((p, i) for p, _, t in P for i, _, s, e in IV
                          if s <= t <= e)
    got = sorted((r.pid, r.iid)
                 for r in range_join(pdf.drop("user_id"),
                                     ivdf.drop("user_id"), point_col="t",
                                     bin_width=50).collect())
    assert got == expect_nokey
    with pytest.raises(ValueError):
        range_join(pdf, ivdf, point_col="t", bin_width=0)


def test_percentile_approx_tracks_exact(spark):
    """The 100TB path for doc_quantiles is percentile_approx (mergeable
    one-pass t-digest); it must track the exact sort-based percentile
    within the sketch tolerance on real corpus lengths."""
    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    row = d.agg(
        F.expr("percentile(n_chars, 0.9)").alias("exact"),
        F.expr("percentile_approx(n_chars, 0.9, 10000)").alias("approx"),
    ).collect()[0]
    assert abs(row.approx - row.exact) <= 0.01 * row.exact + 1


def test_version_census_workload(spark):
    from fspann_query_system_spark.workloads import q_version_census, ROTATE_EVERY
    rows = q_version_census(spark, "/root/testdata/sf0.001").collect()
    census = {r.key_version: (r.n_points, r.total_ct_bytes) for r in rows}
    n = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").count()
    assert sum(v[0] for v in census.values()) == n
    for kv, (np_, bytes_) in census.items():
        assert np_ <= ROTATE_EVERY
        assert bytes_ == np_ * (64 * 8 + 16)   # dim-64 float64 body + GCM tag


def test_minhash_band_buckets_find_planted_pair(docs):
    pairs = {(r.id_a, r.id_b) for r in
             minhash_band_pairs(docs, n_hashes=8, bands=8).collect()}
    assert (0, 2) in pairs   # exact dup must collide in every band


def test_salted_agg_matches_plain(spark):
    from fspann_query_system_spark.ops.skew import salted_agg
    rows = [(i % 3, float(i)) for i in range(1000)] + [(0, 5.0)] * 500  # hot key 0
    df = spark.createDataFrame(rows, "k INT, v DOUBLE")
    plain = {r.k: (r.n, r.total, r.lo) for r in
             df.groupBy("k").agg(F.count("*").alias("n"), F.sum("v").alias("total"),
                                 F.min("v").alias("lo")).collect()}
    salted = {r.k: (r.n, r.total, r.lo) for r in
              salted_agg(df, ["k"], {"n": ("count", "*"), "total": ("sum", "v"),
                                     "lo": ("min", "v")}).collect()}
    assert plain == salted


def test_vocab_topk_salted_plan_and_result(spark):
    """The gated skew workload really runs the two-phase salted agg (one
    extra exchange, salt in the phase-1 grouping keys) and returns exactly
    the plain top-N."""
    from fspann_query_system_spark.ops.skew import explain_shuffles
    from fspann_query_system_spark.workloads import (q_vocab_topk,
                                                     q_vocab_topk_salted)
    sf = "/root/testdata/sf0.001"
    plain_df = q_vocab_topk(spark, sf)
    salted_df = q_vocab_topk_salted(spark, sf)
    assert explain_shuffles(salted_df) == explain_shuffles(plain_df) + 1
    plan = salted_df._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan
    assert [(r.token, r.cnt) for r in plain_df.collect()] == \
           [(r.token, r.cnt) for r in salted_df.collect()]


def test_salted_join_matches_plain(spark):
    from fspann_query_system_spark.ops.skew import salted_join
    big = spark.createDataFrame([(i % 5, i) for i in range(2000)], "k INT, payload INT")
    dim = spark.createDataFrame([(i, f"d{i}") for i in range(5)], "k INT, name STRING")
    plain = sorted((r.k, r.payload, r.name) for r in big.join(dim, "k").collect())
    salted = sorted((r.k, r.payload, r.name) for r in salted_join(big, dim, "k").collect())
    assert plain == salted


def test_encrypted_store_partition_pruning(spark, tmp_path):
    """The version-partitioned store layout must prune non-matching key
    versions at the file level (S8 scale claim)."""
    from fspann_query_system_spark.crypto.keys import KeyManager
    from fspann_query_system_spark.crypto.aes import encrypt_vectors_versioned
    import numpy as np
    rng = np.random.default_rng(0)
    rows = [(i, rng.normal(0, 1, 8).tolist()) for i in range(60)]
    df = (spark.createDataFrame(rows, "id LONG, vector ARRAY<DOUBLE>")
          .withColumn("_kv", (F.col("id") / 20 + 1).cast("int")))
    km = KeyManager(master=bytes(32))
    km.rotate(); km.rotate()
    bc = spark.sparkContext.broadcast(km.key_map(oldest=1))
    out = str(tmp_path / "enc_store")
    encrypt_vectors_versioned(df, bc, "_kv").write.partitionBy("key_version").parquet(out)
    rd = spark.read.parquet(out).filter(F.col("key_version") == 2)
    assert rd.count() == 20
    plan = rd._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(key_version" in plan.replace("#", " #") or \
           "key_version" in plan.split("PartitionFilters")[1].split("]")[0]


def test_simhash_fast_equals_native_spec(spark, docs):
    from fspann_query_system_spark.ops.dedup import simhash, simhash_fast
    native = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    fast = {r.doc_id: r.simhash for r in simhash_fast(docs).collect()}
    assert native == fast
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
    native = {r.doc_id: r.simhash for r in simhash(d).collect()}
    fast = {r.doc_id: r.simhash for r in simhash_fast(d).collect()}
    assert native == fast


def test_simhash_near_pairs_matches_bruteforce(spark):
    """Pigeonhole block join must find exactly the pairs a brute-force
    hamming scan finds (no candidates lost by blocking)."""
    from fspann_query_system_spark.ops.dedup import simhash_near_pairs
    rng = np.random.default_rng(4)
    base = int(rng.integers(0, 1 << 60))
    sigs = [base]
    for flips in [1, 2, 3, 4, 8]:          # planted neighbors at known dists
        s = base
        for pos in rng.choice(60, size=flips, replace=False):
            s ^= 1 << int(pos)
        sigs.append(int(s))
    sigs += [int(x) for x in rng.integers(0, 1 << 60, size=30)]
    df = spark.createDataFrame(list(enumerate(sigs)), "doc_id LONG, simhash LONG")
    got = {(r.id_a, r.id_b): r.hamming
           for r in simhash_near_pairs(df, max_hamming=3).collect()}
    want = {}
    for i in range(len(sigs)):
        for j in range(i + 1, len(sigs)):
            h = bin(sigs[i] ^ sigs[j]).count("1")
            if h <= 3:
                want[(i, j)] = h
    assert got == want
    assert (0, 1) in got and (0, 3) in got and (0, 4) not in got


def test_sq8_topk_compressed_refine(spark, clustered):
    from fspann_query_system_spark.ops.similarity import sq8_stats, sq8_topk
    from fspann_query_system_spark.query.exact import knn_exact
    df, X = clustered
    mins, maxs = sq8_stats(df)
    q = df.filter(F.col("id") < 15).select(F.col("id").alias("q_id"), "vector")
    out = sq8_topk(df, q, mins, maxs, k=5, rerank=4).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == set(range(15))
    for q_id, rows in by_q.items():
        first = min(rows, key=lambda r: r.rank)
        assert first.id == q_id and first.dist == 0.0   # exact self-hit
    # 8-bit codes on well-separated clusters: top-5 ≈ exact top-5
    ex = {}
    for r in knn_exact(df, q, k=5).collect():
        ex.setdefault(r.q_id, set()).add(r.id)
    hits = sum(len(ex[qid] & {r.id for r in rows})
               for qid, rows in by_q.items())
    assert hits >= 70  # recall@5 >= 0.93 over 15 queries


def test_bq_encode_packs_msb_first(spark):
    from fspann_query_system_spark.ops.similarity import bq_encode
    # 4 dims, thresholds 0: bits = sign pattern, MSB-first in one word
    df = spark.createDataFrame(
        [(1, [1.0, -1.0, 1.0, -1.0]),    # 1010 -> 10
         (2, [-1.0, -1.0, -1.0, 1.0]),   # 0001 -> 1
         (3, [1.0, 1.0, 1.0, 1.0])],     # 1111 -> 15
        "id LONG, vector ARRAY<DOUBLE>")
    rows = {r.id: list(r.words) for r in
            bq_encode(df, [0.0, 0.0, 0.0, 0.0]).collect()}
    assert rows == {1: [10], 2: [1], 3: [15]}
    # 70 dims spill into a second word: dim 64 is the MSB of word 1
    v = [0.0] * 70
    v[0] = 1.0       # MSB of word 0
    v[64] = 1.0      # MSB of word 1 (6 packed bits -> 100000 = 32)
    v[69] = 1.0      # LSB of word 1 -> +1
    df2 = spark.createDataFrame([(1, v)], "id LONG, vector ARRAY<DOUBLE>")
    [r] = bq_encode(df2, [0.5] * 70).collect()
    # top bit of a signed long wraps negative; word 1 packs 6 bits:
    # 100001 = 33
    assert list(r.words) == [-(2 ** 63), 33]


def test_bq_topk_matches_exact_on_clusters(spark, clustered):
    from fspann_query_system_spark.ops.similarity import (sq8_stats,
                                                          bq_thresholds,
                                                          bq_topk)
    from fspann_query_system_spark.query.exact import knn_exact
    df, X = clustered
    thr = bq_thresholds(*sq8_stats(df))
    q = df.filter(F.col("id") < 15).select(F.col("id").alias("q_id"), "vector")
    # 16-bit codes collapse each 250-member cluster onto a near-constant
    # sign pattern — rerank must cover the tie plateau (pool 300 >= one
    # cluster) for the exact stage to recover the true neighbours.  This
    # is the documented BQ trade: coarsest codes, largest rerank.
    out = bq_topk(df, q, thr, k=5, rerank=60).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == set(range(15))
    for q_id, rows in by_q.items():
        first = min(rows, key=lambda r: r.rank)
        assert first.id == q_id and first.dist == 0.0   # exact self-hit
    ex = {}
    for r in knn_exact(df, q, k=5).collect():
        ex.setdefault(r.q_id, set()).add(r.id)
    hits = sum(len(ex[qid] & {r.id for r in rows})
               for qid, rows in by_q.items())
    # 1-bit codes on well-separated clusters still route the rerank pool
    assert hits >= 65  # recall@5 >= 0.86 over 15 queries


def test_bq_topk_partition_invariant(spark):
    """Hamming is integer-valued so approx ties are pervasive: the
    shortlist must come out identical under any partitioning (tie-
    inclusive batch cut + (ham, id) window)."""
    from fspann_query_system_spark.ops.similarity import bq_topk
    rows = ([(i, [1.0, 1.0, 1.0, 1.0]) for i in range(40)]
            + [(100, [0.5, 0.5, 0.5, 0.5]), (101, [0.4, 0.4, 0.4, 0.4])])
    q = spark.createDataFrame([(0, [0.0, 0.0, 0.0, 0.0])],
                              "q_id LONG, vector ARRAY<DOUBLE>")
    # thresholds 0.45: dups+100 -> 1111, 101 -> 0000 (ham 0 to the query)
    expect = None
    for nparts in (1, 7, 32):
        df = spark.createDataFrame(rows, "id LONG, vector ARRAY<DOUBLE>") \
                  .repartition(nparts)
        got = sorted((r.id, r.rank) for r in
                     bq_topk(df, q, [0.45] * 4, k=10, rerank=1).collect())
        if expect is None:
            expect = got
        assert got == expect, (nparts, got)


def test_topk_boundary_ties_deterministic(spark):
    """Duplicated vectors put exact ties on the partial-top-k boundary:
    every kernel must return the lowest-id winners regardless of how the
    base table is partitioned (exact (score, id) batch cut + (score, id)
    window).  Covers exact kNN and the SQ8, BQ, PQ, IVF-BQ and IVF-PQ
    compressed-refine scans, over integer ids and a string-id copy."""
    from fspann_query_system_spark.query.exact import knn_exact
    from fspann_query_system_spark.ops.pq import ivfpq_topk, pq_topk
    from fspann_query_system_spark.ops.similarity import (
        bq_thresholds, bq_topk, ivf_bq_topk, sq8_stats, sq8_topk)
    # 40 identical vectors + 2 distinct closer ones
    nums = list(range(40)) + [100, 101]
    vecs = [[1.0] * 4] * 40 + [[0.5] * 4, [0.4] * 4]
    q = spark.createDataFrame([(0, [0.0, 0.0, 0.0, 0.0])],
                              "q_id LONG, vector ARRAY<DOUBLE>")
    # a codebook whose cells are the three distinct sub-vectors (exact
    # PQ codes), and two coarse cells that are both probed
    cb = spark.createDataFrame(
        [(s, c, [v, v]) for s in range(2)
         for c, v in enumerate((1.0, 0.5, 0.4))],
        "sub INT, cell INT, vector ARRAY<DOUBLE>")
    cents = spark.createDataFrame([(0, [1.0] * 4), (1, [0.45] * 4)],
                                  "id LONG, vector ARRAY<DOUBLE>")
    for id_type, ident in (("LONG", int), ("STRING", "v{:03d}".format)):
        # closest two, then the lowest ids
        expect = {ident(i) for i in [101, 100] + list(range(8))}
        rows = [(ident(i), v) for i, v in zip(nums, vecs)]
        for nparts in (1, 7, 32):
            df = spark.createDataFrame(
                rows, f"id {id_type}, vector ARRAY<DOUBLE>") \
                .repartition(nparts)
            mins, maxs = sq8_stats(df)
            thr = bq_thresholds(mins, maxs)
            runs = {
                "sq8": sq8_topk(df, q, mins, maxs, k=10, rerank=1),
                "bq": bq_topk(df, q, thr, k=10, rerank=1),
                "pq": pq_topk(df, q, cb, k=10, rerank=1),
                "ivf_bq": ivf_bq_topk(df, q, cents, thr, k=10, nprobe=2,
                                      rerank=1),
                "ivfpq": ivfpq_topk(df, q, cents, cb, k=10, nprobe=2,
                                    rerank=1)}
            if id_type == "LONG":
                runs["knn_exact"] = knn_exact(df, q, k=10)
            for name, out in runs.items():
                got = {r.id for r in out.collect()}
                assert got == expect, (id_type, nparts, name, sorted(got))
    # cosine: all 40 dups have cosine 1.0 with the query direction
    from fspann_query_system_spark.ops.similarity import cosine_topk
    qc = spark.createDataFrame([(0, [1.0, 1.0, 1.0, 1.0])],
                               "q_id LONG, vector ARRAY<DOUBLE>")
    rows = list(zip(nums, vecs))
    for nparts in (1, 7, 32):
        df = spark.createDataFrame(rows, "id LONG, vector ARRAY<DOUBLE>") \
                  .repartition(nparts)
        got = {r.id for r in cosine_topk(df, qc, k=10).collect()}
        # every vector is parallel to the query -> pure id tie-break
        assert got == set(range(10)), (nparts, sorted(got))


def test_connected_components_transitive(spark):
    from fspann_query_system_spark.ops.dedup import connected_components
    # chain 1-2-3 (1 and 3 never paired directly), island 7-8, singleton-
    # free: only ids in pairs appear
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (7, 8), (10, 11), (11, 12), (12, 13)],
        "id_a LONG, id_b LONG")
    comp = {r.id: r.component for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7,
                    10: 10, 11: 10, 12: 10, 13: 10}


def test_connected_components_long_chain(spark, monkeypatch):
    """Adversarial path graph (diameter 599): large-star/small-star must
    converge in O(log n) rounds, where min-label propagation would need
    one round per hop (and silently truncate at max_iter).  Pinned to the
    distributed rounds (no driver finish)."""
    from fspann_query_system_spark.ops import dedup
    from fspann_query_system_spark.ops.dedup import connected_components
    monkeypatch.setattr(dedup, "DRIVER_FINISH_EDGES", 0)
    n = 600
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "id_a LONG, id_b LONG")
    stats = {}
    comp = {r.id: r.component
            for r in connected_components(pairs, stats=stats).collect()}
    assert comp == {i: 0 for i in range(n)}
    # ~2*log2(n) + fixpoint-detection round; 16 leaves slack over the
    # observed count while still excluding any O(diameter) behavior
    assert stats["rounds"] <= 16, stats


def test_as_leaf_reads_the_cache_and_release_frees_checkpoints(spark):
    """as_leaf: a one-node plan (the shape materialize returns, with the
    same output attributes) over a persisted table's cached rows — the
    random column a recomputation would redraw reads back identical —
    storing nothing more.  release:
    the blocks of a local checkpoint are gone afterwards, which
    unpersist alone does not do."""
    import secrets
    from fspann_query_system_spark.functions.plan import (as_leaf,
                                                          materialize,
                                                          release)
    sc = spark.sparkContext

    def stored():
        return {i.id(): i.memSize() + i.diskSize()
                for i in sc._jsc.sc().getRDDStorageInfo()}

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    draw = F.udf(lambda: secrets.randbits(62), "long").asNondeterministic()
    df = spark.range(0, 500, numPartitions=3).withColumn("r", draw())
    cached = df.persist()
    cached.count()
    before = stored()
    leaf = as_leaf(cached)
    plan = leaf._jdf.queryExecution().logical()
    assert plan.nodeName() == "LogicalRDD" and plan.children().isEmpty()
    assert plan.output().toString() == \
        cached._jdf.queryExecution().analyzed().output().toString()
    assert rows(leaf) == rows(cached)
    assert stored() == before
    release(cached)

    pinned = materialize(spark.range(0, 500, numPartitions=3))
    rdd_id = pinned._jdf.queryExecution().analyzed().rdd().id()
    assert stored().get(rdd_id, 0) > 0
    release(pinned)
    assert stored().get(rdd_id, 0) == 0


def test_materialize_follows_checkpoint_dir(spark, tmp_path, docs):
    """materialize() takes the reliable path exactly when the session has
    a checkpoint directory (the cluster fault-tolerance switch:
    localCheckpoint blocks die with an executor, reliable checkpoints
    survive): files land under the directory, and CC labels, near-dup
    keep/drop decisions, CMS estimates and source KL are identical to
    the localCheckpoint run."""
    from fspann_query_system_spark.functions.plan import materialize
    from fspann_query_system_spark.ops.dedup import (connected_components,
                                                     near_dup_pipeline)
    from fspann_query_system_spark.ops.quality import source_kl
    from fspann_query_system_spark.ops.sketches import cms_heavy_hitters
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (7, 8), (10, 11), (11, 12), (12, 13)],
        "id_a LONG, id_b LONG")
    kl_docs = docs.withColumn(
        "source", (F.col("doc_id") % 2).cast("string"))

    def outputs():
        return ({(r.id, r.component) for r in
                 connected_components(pairs).collect()},
                {(r.doc_id, r.canonical_id, r.keep) for r in
                 near_dup_pipeline(docs).collect()},
                {tuple(r) for r in cms_heavy_hitters(docs).collect()},
                {tuple(r) for r in source_kl(kl_docs).collect()})

    local = outputs()
    ckpt = tmp_path / "ckpt"
    sc.setCheckpointDir(str(ckpt))
    try:
        pinned = materialize(pairs)
        assert sorted(pinned.collect()) == sorted(pairs.collect())
        assert any(p.is_file() for p in ckpt.rglob("part-*"))
        assert outputs() == local
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None))
    assert sc.getCheckpointDir() is None
    assert sorted(materialize(pairs).collect()) == sorted(pairs.collect())


def test_connected_components_nonconvergence_raises(spark, monkeypatch):
    # pinned to the distributed rounds: the driver finish never raises
    from fspann_query_system_spark.ops import dedup
    from fspann_query_system_spark.ops.dedup import connected_components
    monkeypatch.setattr(dedup, "DRIVER_FINISH_EDGES", 0)
    pairs = spark.createDataFrame([(i, i + 1) for i in range(63)],
                                  "id_a LONG, id_b LONG")
    with pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(pairs, max_iter=1)


def test_connected_components_self_pairs_and_empty(spark):
    from fspann_query_system_spark.ops.dedup import connected_components
    pairs = spark.createDataFrame([(5, 5), (1, 2), (2, 2)],
                                  "id_a LONG, id_b LONG")
    comp = {r.id: r.component for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 5: 5}
    empty = spark.createDataFrame([], "id_a LONG, id_b LONG")
    assert connected_components(empty).count() == 0


def _cc_rows(pairs, **kw):
    from fspann_query_system_spark.ops.dedup import connected_components
    return sorted(tuple(r) for r in connected_components(pairs, **kw)
                  .select("id", "component").collect())


def test_connected_components_driver_finish_matches_rounds(spark,
                                                           monkeypatch):
    """The driver union-find and the distributed rounds label every input
    identically: transitive fixture, the 600-node path, self-pairs,
    empty input and planted chains with shuffled ids and cross links."""
    from fspann_query_system_spark.ops import dedup
    from fspann_query_system_spark.ops.dedup import connected_components
    rng = np.random.default_rng(7)
    ids = rng.permutation(10_000)[:120].tolist()
    chains = [ids[i:i + 6] for i in range(0, 120, 6)]
    planted = [(c[j], c[j + 1]) for c in chains for j in range(5)]
    planted += [(chains[0][2], chains[1][4]), (chains[5][0], chains[9][5]),
                (chains[3][3], chains[3][3])]
    inputs = {
        "transitive": [(2, 1), (2, 3), (7, 8), (10, 11), (11, 12), (12, 13)],
        "path600": [(i, i + 1) for i in range(599)],
        "self_pairs": [(5, 5), (1, 2), (2, 2)],
        "empty": [],
        "planted": planted,
    }
    labels = {}
    for name, rows in inputs.items():
        pairs = spark.createDataFrame(rows, "id_a LONG, id_b LONG")
        local_stats, dist_stats = {}, {}
        local = _cc_rows(pairs, stats=local_stats)
        monkeypatch.setattr(dedup, "DRIVER_FINISH_EDGES", 0)
        dist = _cc_rows(pairs, stats=dist_stats)
        monkeypatch.undo()
        assert local == dist, name
        labels[name] = dict(local)
        assert local_stats["rounds"] == 0, (name, local_stats)
        assert dist_stats["local_edges"] == 0, (name, dist_stats)
        if name == "path600":
            assert local == [(i, 0) for i in range(600)]
            assert local_stats["local_edges"] == 599
            assert dist_stats["rounds"] >= 2
    assert labels["planted"][chains[9][5]] == min(chains[5] + chains[9])
    # string ids keep their type and order through the driver finish
    s_pairs = spark.createDataFrame([("b", "a"), ("c", "b"), ("x", "y")],
                                    "id_a STRING, id_b STRING")
    s_out = connected_components(s_pairs)
    assert s_out.schema["id"].dataType.simpleString() == "string"
    assert sorted(tuple(r) for r in s_out.collect()) == [
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")]


def test_connected_components_hybrid_rounds_then_driver(spark, monkeypatch):
    """Contraction never leaves fewer edges than nodes minus components,
    so a mid-way driver finish needs a graph with redundant edges: the
    600-node path plus chords to i+2 and i+3 (1,794 edges) under a bound
    of 1,000 runs one or more rounds on the cluster, then finishes on the
    driver.  Every node still gets the component minimum."""
    from fspann_query_system_spark.ops import dedup
    monkeypatch.setattr(dedup, "DRIVER_FINISH_EDGES", 1_000)
    perm = np.random.default_rng(3).permutation(600).tolist()
    rows = [(perm[i], perm[i + d]) for d in (1, 2, 3)
            for i in range(600 - d)]
    pairs = spark.createDataFrame(rows, "id_a LONG, id_b LONG")
    stats = {}
    assert _cc_rows(pairs, stats=stats) == [(i, 0) for i in range(600)]
    assert stats["rounds"] >= 1, stats
    assert 0 < stats["local_edges"] < 1_000, stats


# ---------------------------------------------------------------------------
# quality operators (repetition / decontamination / BM25)
# ---------------------------------------------------------------------------

def test_repetition_stats_known_values(spark):
    from fspann_query_system_spark.ops.quality import repetition_stats
    docs = spark.createDataFrame(
        [(1, "a a a a"),                 # 4 tokens, 1 distinct, "a a" x3
         (2, "w x y z"),                 # fully diverse
         (3, "solo"),                    # 1 token: no bigrams
         (4, "")],                       # empty
        "doc_id LONG, text STRING")
    rows = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert rows[1].n_tokens == 4
    assert rows[1].distinct_ratio == 0.25
    assert rows[1].top_bigram_frac == 1.0       # 3 of 3 bigrams are "a a"
    assert rows[1].repetitive == 1
    assert rows[2].distinct_ratio == 1.0
    assert rows[2].top_bigram_frac == pytest.approx(1 / 3, abs=1e-6)
    assert rows[2].repetitive == 1               # 0.333 > 0.18 bigram cap
    assert rows[3].n_tokens == 1 and rows[3].top_bigram_frac == 0.0
    assert rows[3].repetitive == 0
    assert rows[4].n_tokens == 0 and rows[4].distinct_ratio == 0.0


def test_quality_curriculum_ramp_and_determinism(spark):
    from fspann_query_system_spark.ops.sampling import quality_curriculum
    docs = spark.createDataFrame(
        [(i, ("the and of to in is on for with as by at it or are "
              "good long document text " * (1 + i % 5))[: 40 + 7 * i])
         for i in range(200)],
        "doc_id LONG, text STRING")
    out = quality_curriculum(docs, n_buckets=4, floor=0.25).collect()
    assert 0 < len(out) < 200
    rates = {r.bucket: r.rate for r in out}
    # linear ramp 0.25 -> 1.0 over 4 buckets
    assert rates == {1: 0.25, 2: 0.5, 3: 0.75, 4: 1.0} or \
        set(rates.items()) <= {(1, 0.25), (2, 0.5), (3, 0.75), (4, 1.0)}
    # bucket 4 (best) keeps everything: 50 docs per ntile bucket
    assert sum(1 for r in out if r.bucket == 4) == 50
    # deterministic under re-run and partitioning
    again = sorted((r.doc_id, r.bucket) for r in
                   quality_curriculum(docs.repartition(13), n_buckets=4,
                                      floor=0.25).collect())
    assert again == sorted((r.doc_id, r.bucket) for r in out)


def test_training_corpus_prep_composes_stages(spark):
    """The capstone composite: quality-rejected docs never reach dedup,
    near-dup copies never reach the mix, and the mix output is a subset
    of the deduped survivors with per-lang rates attached."""
    from fspann_query_system_spark import workloads as W
    out = W.q_training_corpus_prep(spark, "/root/testdata/sf0.01")
    rows = out.collect()
    assert 0 < len(rows) < 500
    assert {r.lang for r in rows} <= {"en", "es", "de", "fr", "zh"}
    assert all(0 < r.rate <= 1.0 for r in rows)
    # stage containment: every emitted doc passed the quality gate and
    # is its cluster's canonical
    from fspann_query_system_spark.ops.dedup import near_dup_pipeline
    from fspann_query_system_spark.ops.quality import gopher_filter
    docs = W._t(spark, "/root/testdata/sf0.01", "documents")
    qual = {r.doc_id for r in
            gopher_filter(docs, min_tokens=30, min_stop_hits=0,
                          min_distinct_ratio=0.35)
            .filter(F.col("keep") == 1).select("doc_id").collect()}
    emitted = {r.doc_id for r in rows}
    assert emitted <= qual
    clean = docs.filter(F.col("doc_id").isin([int(i) for i in qual]))
    canon = {r.doc_id for r in near_dup_pipeline(clean)
             .filter(F.col("keep") == 1).select("doc_id").collect()}
    assert emitted <= canon


def test_leakage_safe_split_components_stay_together(spark):
    from fspann_query_system_spark.ops.dedup import leakage_safe_split
    base = ("spark shuffles data between stages whenever a wide "
            "dependency like a join or group by forces a repartition "
            "of the rows across the executors of the whole cluster")
    rows = [(1, base), (2, base + " extra"), (3, base + " more words")]
    rows += [(100 + i, f"unique doc {i} " + " ".join(
        f"tok{i}x{j}" for j in range(30))) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {r.doc_id: r for r in
           leakage_safe_split(docs, val_frac=0.3).collect()}
    assert len(out) == 43
    # the planted near-dup trio shares a canonical id and a side
    assert out[1].canonical_id == out[2].canonical_id == \
        out[3].canonical_id == 1
    assert out[1].split == out[2].split == out[3].split
    # deterministic: a re-run lands every doc on the same side
    again = {r.doc_id: r.split for r in
             leakage_safe_split(docs, val_frac=0.3).collect()}
    assert again == {k: v.split for k, v in out.items()}
    # both sides populated at val_frac=0.3 over 40 singletons
    sides = {v.split for v in out.values()}
    assert sides == {"train", "val"}
    # a different salt derives an independent split
    other = {r.doc_id: r.split for r in
             leakage_safe_split(docs, val_frac=0.3, salt="s2").collect()}
    assert other != {k: v.split for k, v in out.items()}


def test_span_dedup_keeps_first_occurrence(spark):
    from fspann_query_system_spark.ops.dedup import span_dedup
    boiler = "all rights reserved contact us"          # one 5-token span
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon " + boiler),
         (2, "one two three four five " + boiler),     # span repeated
         (3, boiler),                                  # doc IS the span
         (4, "unique words only here now")],
        "doc_id LONG, text STRING")
    rows = {r.doc_id: r for r in span_dedup(docs, span_tokens=5).collect()}
    # doc 1 holds the first occurrence (doc_id order): keeps both spans
    assert rows[1].n_spans == 2 and rows[1].n_kept == 2
    assert rows[1].text_kept.endswith(boiler)
    # docs 2 and 3 lose the repeated span
    assert rows[2].n_kept == 1
    assert rows[2].text_kept == "one two three four five"
    assert rows[3].n_kept == 0 and rows[3].text_kept == ""
    assert rows[4].n_kept == 1
    # partial final span: 7 tokens -> spans of 5 and 2
    docs2 = spark.createDataFrame(
        [(1, "a b c d e f g")], "doc_id LONG, text STRING")
    [r] = span_dedup(docs2, span_tokens=5).collect()
    assert r.n_spans == 2 and r.text_kept == "a b c d e f g"


def test_gopher_filter_rule_chain(spark):
    from fspann_query_system_spark.ops.quality import gopher_filter
    good = ("the quick brown fox jumps over the lazy dog and then "
            "walks along the river bank with many other small animals "
            "that live near the old stone bridge every single day "
            "while birds sing loudly from tall green trees above them "
            "and the wind moves softly through long yellow grass there")
    docs = spark.createDataFrame(
        [(1, good),                               # passes every rule
         (2, "short doc"),                        # rule 1: n_tokens
         (3, " ".join(["zz"] * 60)),              # rule 2: mean len 2 < 3
         (4, " ".join(["the", "and"] * 30)),      # rule 5: distinct_ratio
         (5, " ".join(f"w{i:03d}xx" for i in range(60)))],  # rule 4: stopwords
        "doc_id LONG, text STRING")
    rows = {r.doc_id: r for r in gopher_filter(docs).collect()}
    assert rows[1].keep == 1 and rows[1].fail_reason is None
    assert rows[2].fail_reason == "n_tokens"
    assert rows[3].fail_reason == "mean_token_len"
    # doc 4 survives length/mean/alpha/stopwords, dies on repetition
    assert rows[4].fail_reason == "distinct_ratio"
    assert rows[5].fail_reason == "stopwords" and rows[5].stop_hits == 0
    # rule order is part of the contract: doc 4 ALSO violates top_bigram,
    # but distinct_ratio fires first
    assert rows[4].top_bigram_frac > 0.18


def test_decontaminate_flags_copies(spark):
    from fspann_query_system_spark.ops.quality import decontaminate
    bench_text = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [(0, bench_text),                         # benchmark (id % 50 == 0)
         (1, bench_text),                         # verbatim copy -> flagged
         (2, "one two three four five six"),      # disjoint -> clean
         (3, "pad alpha beta gamma delta epsilon zeta tail"),  # superset
         (4, "too short")],                       # <5 tokens: no grams
        "doc_id LONG, text STRING")
    rows = {r.doc_id: r for r in decontaminate(docs).collect()}
    assert set(rows) == {1, 2, 3}                 # 0=bench, 4 gram-less
    assert rows[1].contaminated == 1 and rows[1].hit_frac == 1.0
    assert rows[2].contaminated == 0 and rows[2].n_hit == 0
    # doc 3: 4 grams, 2 of them inside the benchmark window
    assert rows[3].n_grams == 4 and rows[3].n_hit == 2
    assert rows[3].contaminated == 1              # 0.5 >= threshold


def test_bm25_topk_retrieval(spark):
    import math
    from fspann_query_system_spark.ops.quality import bm25_topk
    docs = spark.createDataFrame(
        [(1, "spark shuffle spark join spark"),   # heavy on q0 terms
         (2, "spark appears once here only"),
         (3, "hash table hash probe build"),
         (4, "totally unrelated words everywhere")],
        "doc_id LONG, text STRING")
    queries = spark.createDataFrame(
        [(0, ["spark", "join"]), (1, ["hash"]), (2, ["absentterm"])],
        "q_id LONG, terms ARRAY<STRING>")
    rows = bm25_topk(docs, queries, k=2).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    # q0: doc 1 (tf 3 + join hit) above doc 2 (tf 1)
    got0 = sorted(by_q[0], key=lambda r: r.rank)
    assert [r.doc_id for r in got0] == [1, 2]
    assert got0[0].n_terms_matched == 2 and got0[1].n_terms_matched == 1
    # q1: only doc 3 contains 'hash'
    assert [r.doc_id for r in by_q[1]] == [3]
    # q2: no postings -> no rows
    assert 2 not in by_q
    # formula spot-check: q1/doc3, tf=2, df=1, N=4, dl=5, avgdl=19/4
    k1, b = 1.2, 0.75
    idf = math.log(1 + (4 - 1 + 0.5) / (1 + 0.5))
    expect = idf * (2 * (k1 + 1)) / (2 + k1 * (1 - b + b * 5 / (19 / 4)))
    assert by_q[1][0].bm25 == pytest.approx(round(expect, 4), abs=1e-4)


def test_bm25_matches_reference_formula(spark):
    import math
    from fspann_query_system_spark.ops.quality import bm25
    corpus = [(1, "spark hash spark join"),
              (2, "hash table scan"),
              (3, "merge sort merge merge"),
              (4, "totally unrelated words here")]
    docs = spark.createDataFrame(corpus, "doc_id LONG, text STRING")
    terms, k1, b = ("spark", "hash", "merge"), 1.2, 0.75
    toks = {d: t.split() for d, t in corpus}
    N = len(corpus)
    avgdl = sum(len(t) for t in toks.values()) / N
    df = {t: sum(1 for tk in toks.values() if t in tk) for t in terms}
    expect = {}
    for d, tk in toks.items():
        s = 0.0
        for t in terms:
            tf = tk.count(t)
            idf = math.log(1 + (N - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * (tf * (k1 + 1)) / (
                tf + k1 * (1 - b + b * len(tk) / avgdl))
        if any(t in tk for t in terms):
            expect[d] = round(s, 4)
    rows = {r.doc_id: r for r in bm25(docs, terms, k1=k1, b=b).collect()}
    assert set(rows) == set(expect) == {1, 2, 3}
    for d in expect:
        assert rows[d].bm25 == pytest.approx(expect[d], abs=2e-4), d
    assert rows[1].n_terms_matched == 2


def test_kmv_cardinality_formula_and_exact_small(spark):
    """Small group (< k distinct) -> sketch is exact; large group ->
    estimate matches a Python reimplementation of the same k-th order
    statistic bit-for-bit (engine-independent determinism is the whole
    point of choosing KMV over HLL)."""
    import hashlib
    from fspann_query_system_spark.ops.sketches import kmv_cardinality
    small = ["alpha beta gamma"]                       # 3 distinct tokens
    big_tokens = [f"tok{i:04d}" for i in range(500)]   # 500 distinct
    rows = [(0, "s", small[0])] + [
        (i + 1, "b", " ".join(big_tokens[j] for j in range(i, i + 50)))
        for i in range(0, 451, 50)]
    docs = spark.createDataFrame(rows, "doc_id LONG, source STRING, text STRING")
    k = 64
    out = {r.source: r for r in kmv_cardinality(docs, k=k).collect()}
    assert out["s"].n_distinct_exact == 3
    assert out["s"].kmv_estimate == 3.0               # < k -> exact
    assert out["b"].n_distinct_exact == 500
    hashes = sorted(hashlib.md5(t.encode()).hexdigest() for t in big_tokens)
    t_k = int(hashes[k - 1][:15], 16) / float(16 ** 15)
    assert out["b"].kmv_estimate == round((k - 1) / t_k, 4)
    # unbiased-ish: within the ~3-sigma band for k=64 (sigma ~ 12.7%)
    assert abs(out["b"].kmv_estimate - 500) / 500 < 0.4


def test_kmv_fanout_autosizing_and_invariance(spark):
    """The auto-derived merge_fanout bounds the level-1 buffer for the
    heaviest group, and the estimate is fanout-INVARIANT (k-min of a
    union is partition-invariant) — so auto-sizing can never change the
    answer, only the merge-tree shape."""
    from fspann_query_system_spark.ops.sketches import (_derive_fanout,
                                                        kmv_cardinality)
    # derivation: ceil(max_distinct / target), floored at 1
    assert _derive_fanout(0, 1_000_000) == 1
    assert _derive_fanout(999_999, 1_000_000) == 1
    assert _derive_fanout(1_000_001, 1_000_000) == 2
    assert _derive_fanout(10**9, 1_000_000) == 1000
    # deliberately skewed groups: one group with 2000 distinct tokens,
    # one with 3; a tight target forces fanout > 1 on the heavy group
    rows = [(i, "heavy", " ".join(f"t{j:05d}" for j in range(i * 40, (i + 1) * 40)))
            for i in range(50)] + [(99, "tiny", "a b c")]
    docs = spark.createDataFrame(rows, "doc_id LONG, source STRING, text STRING")
    base = {(r.source, r.n_distinct_exact, r.kmv_estimate)
            for r in kmv_cardinality(docs, k=32, merge_fanout=1).collect()}
    for fanout in (None, 7):   # auto-derived and an arbitrary explicit one
        got = {(r.source, r.n_distinct_exact, r.kmv_estimate)
               for r in kmv_cardinality(docs, k=32, merge_fanout=fanout,
                                        target_partial_rows=100).collect()}
        assert got == base, fanout
    assert ("heavy", 2000) in {(s, n) for s, n, _ in base}


def test_cms_estimate_bounds_and_collision(spark):
    """CMS never underestimates; with a wide sketch (no collisions) the
    estimate is exact, with a 2-bucket sketch collisions force strict
    overestimates somewhere."""
    from fspann_query_system_spark.ops.sketches import cms_heavy_hitters
    rows = [(i, ("alpha " * 5 + "beta " * 3 + f"uniq{i} ")) for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    wide = {r.token: r for r in
            cms_heavy_hitters(docs, top_n=5, depth=4, width=4096).collect()}
    assert wide["alpha"].exact_cnt == 100
    assert all(r.cms_estimate == r.exact_cnt for r in wide.values())
    narrow = cms_heavy_hitters(docs, top_n=5, depth=2, width=2).collect()
    assert all(r.cms_estimate >= r.exact_cnt for r in narrow)
    assert any(r.cms_estimate > r.exact_cnt for r in narrow)


def test_tfidf_rank_hand_computed(spark):
    """Rare term outranks frequent-but-common term within a doc."""
    import math
    from fspann_query_system_spark.workloads import q_tfidf_topk  # noqa: F401
    from fspann_query_system_spark.functions import text as T
    from pyspark.sql import Window
    corpus = [(1, "common common common rare"),
              (2, "common other words here"),
              (3, "common filler filler text"),
              (4, "common more stuff again")]
    docs = spark.createDataFrame(corpus, "doc_id LONG, text STRING")
    toks = docs.select("doc_id", F.explode(T.tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (tf.join(dfreq, "term")
              .withColumn("tfidf", F.col("tf") * F.log(F.lit(4.0) / F.col("df"))))
    w = Window.partitionBy("doc_id").orderBy(F.round("tfidf", 6).desc(), "term")
    top = (scored.withColumn("rank", F.row_number().over(w))
           .filter("rank = 1 and doc_id = 1").collect())
    # doc 1: 'common' tf=3 df=4 -> 3*ln(1)=0; 'rare' tf=1 df=1 -> ln(4)
    assert top[0].term == "rare"
    assert top[0].tfidf == pytest.approx(math.log(4.0))


def test_edit_near_dups_verifies_planted_pair(spark, docs):
    """Banding surfaces the planted near-dup; the Levenshtein stage
    keeps it with the exact distance and drops distinct pairs."""
    from fspann_query_system_spark.ops.dedup import edit_near_dups
    out = edit_near_dups(docs, k=3, n_hashes=8, bands=8, max_dist=3)
    rows = {(r.id_a, r.id_b): r.edit_distance for r in out.collect()}
    assert rows[(0, 1)] == 3          # dog -> cat: 3 substitutions
    assert all(d <= 3 for d in rows.values())


def test_near_dup_pipeline_planted_cluster(spark, docs):
    """End-to-end near-dup pipeline: the planted near-dups (0,1,2) land
    in one cluster with the min id canonical and only doc 0 kept;
    distinct docs keep themselves."""
    from fspann_query_system_spark.ops.dedup import near_dup_pipeline
    out = {r.doc_id: (r.canonical_id, r.keep)
           for r in near_dup_pipeline(docs, k=3, n_hashes=8, bands=8,
                                      threshold=0.5).collect()}
    assert len(out) == 6                       # every doc labeled
    assert out[0] == (0, 1)
    assert out[1] == (0, 0)                    # near-dup dropped
    assert out[2] == (0, 0)                    # normalize-exact dropped
    assert out[3] == (3, 1)
    assert out[4] == (4, 1)
    assert out[5] == (5, 1)                    # empty doc is its own


def test_shard_assign_is_deterministic_permutation(spark):
    """Every id appears exactly once, positions are dense 1..n_s per
    shard, reruns are identical, and a different salt is a genuinely
    different order."""
    from fspann_query_system_spark.ops.sampling import shard_assign
    df = spark.range(300).withColumnRenamed("id", "doc_id")
    a = shard_assign(df, 4).collect()
    assert len(a) == 300 and len({r.doc_id for r in a}) == 300
    by_shard = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) <= set(range(4))
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))  # dense rank
    b = shard_assign(df, 4).collect()
    assert {(r.doc_id, r.shard, r.pos) for r in a} \
        == {(r.doc_id, r.shard, r.pos) for r in b}            # stable
    c = {r.doc_id: (r.shard, r.pos)
         for r in shard_assign(df, 4, salt="epoch1").collect()}
    moved = sum(1 for r in a if c[r.doc_id] != (r.shard, r.pos))
    assert moved > 200                                        # fresh shuffle


def test_sample_to_budget_rates_and_determinism(spark):
    """Under-budget strata keep everything at rate 1, zero/missing
    budgets drop, over-budget strata land near their budget, and the
    keep-set is stable across reruns."""
    from fspann_query_system_spark.ops.sampling import sample_to_budget
    rows = [(i, "big" if i < 400 else ("small" if i < 420 else "none"), 10)
            for i in range(440)]
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING, n_tokens INT")
    out = sample_to_budget(df, {"big": 1000, "small": 10_000}).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    assert "none" not in by_src                         # no budget -> dropped
    assert len(by_src["small"]) == 20                   # under budget: all
    assert all(r.rate == 1.0 for r in by_src["small"])
    kept_big = sum(r.n_tokens for r in by_src["big"])
    assert 500 <= kept_big <= 1500                      # ~1000-token target
    assert all(r.rate == 0.25 for r in by_src["big"])   # 1000/4000
    again = sample_to_budget(df, {"big": 1000, "small": 10_000}).collect()
    assert {r.doc_id for r in again} == {r.doc_id for r in out}


def test_select_exploded_single_evaluation_plan_shape(spark, tmp_path):
    """select_exploded must (a) match explode() semantics for non-null
    elements and (b) keep the expensive array expression OUT of any
    Filter node: InferFiltersFromGenerate turns plain explode(expr) into
    an inferred size(expr)>0 filter that pushdown drags into the scan
    stage, evaluating the whole expression chain twice per row (measured
    6.5x on the decontaminate gram build at sf0.1)."""
    from pyspark.sql import functions as F
    from fspann_query_system_spark.functions.plan import (select_exploded,
                                                          select_posexploded)
    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, "a b c"), (2, "d e"), (3, "")],
        "id LONG, text STRING").write.parquet(p)
    df = spark.read.parquet(p)
    arr = F.filter(F.split(F.lower(F.col("text")), "\\s+"),
                   lambda t: t != "")
    out = select_exploded(df, arr, "tok", "id")
    rows = {(r.id, r.tok) for r in out.collect()}
    # empty-array row 3 must vanish exactly like plain explode
    assert rows == {(1, "a"), (1, "b"), (1, "c"), (2, "d"), (2, "e")}
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Filter" in line:
            assert "split(" not in line, (
                "expensive array expression leaked into a Filter node "
                "(double evaluation):\n" + plan)
    pos = select_posexploded(df, arr, "pos", "tok", "id")
    prows = {(r.id, r.pos, r.tok) for r in pos.collect()}
    assert prows == {(1, 0, "a"), (1, 1, "b"), (1, 2, "c"),
                     (2, 0, "d"), (2, 1, "e")}
    # the control: exploding a PROJECTED column (the decontaminate
    # shape: grams built in a select, exploded next) makes
    # InferFiltersFromGenerate fire, and pushdown substitutes the
    # alias's full definition into the filter (if Spark ever stops
    # doing this, the helpers can be retired)
    ctl = (df.select("id", arr.alias("arr"))
           .select("id", F.explode("arr").alias("tok")))
    cplan = ctl._jdf.queryExecution().executedPlan().toString()
    assert any("Filter" in line and "split(" in line
               for line in cplan.splitlines()), cplan


# ---------------------------------------------------------------------------
# corpus statistics (unigram NLL / source KL) + chunking + embedding QA
# ---------------------------------------------------------------------------

def test_unigram_logprob_known_values(spark):
    import math
    from fspann_query_system_spark.ops.quality import unigram_logprob
    docs = spark.createDataFrame(
        [(1, "a a b"),      # counts: a=2, b=2, c=1; total=5
         (2, "b c"),
         (3, "")],          # zero tokens: excluded
        "doc_id LONG, text STRING")
    rows = {r.doc_id: r for r in unigram_logprob(docs).collect()}
    assert set(rows) == {1, 2}
    assert rows[1].n_tokens == 3
    assert rows[1].avg_nll == pytest.approx(-math.log(0.4), abs=1e-4)
    assert rows[2].avg_nll == pytest.approx(
        -(math.log(0.4) + math.log(0.2)) / 2, abs=1e-4)


def test_source_kl_identical_vs_disjoint(spark):
    import math
    from fspann_query_system_spark.ops.quality import source_kl
    # identical distributions: KL = 0 for both sources
    same = spark.createDataFrame(
        [(1, "a b", "s1"), (2, "a b", "s2")],
        "doc_id LONG, text STRING, source STRING")
    rows = {r.source: r for r in source_kl(same).collect()}
    assert rows["s1"].kl == 0.0 and rows["s2"].kl == 0.0
    # fully disjoint vocab, equal mass: KL = ln 2 for both
    disj = spark.createDataFrame(
        [(1, "a a a a", "s1"), (2, "b b b b", "s2")],
        "doc_id LONG, text STRING, source STRING")
    rows = {r.source: r for r in source_kl(disj).collect()}
    for s in ("s1", "s2"):
        assert rows[s].n_tokens == 4 and rows[s].n_vocab == 1
        assert rows[s].kl == pytest.approx(math.log(2), abs=1e-4)


def test_chunk_docs_stride_and_tail(spark):
    from fspann_query_system_spark.ops.sampling import chunk_docs
    toks11 = " ".join(f"t{i}" for i in range(11))
    docs = spark.createDataFrame(
        [(1, toks11),        # 11 toks, size 4 stride 3: starts 0,3,6,9
         (2, "x y"),         # short doc: one chunk, len 2
         (3, "")],           # empty: dropped
        "doc_id LONG, text STRING")
    out = chunk_docs(docs, chunk_size=4, overlap=1)
    rows = sorted(((r.doc_id, r.chunk_id, r.start_tok, r.n_chunk_tokens,
                    r.chunk_text) for r in out.collect()))
    assert rows == [
        (1, 0, 0, 4, "t0 t1 t2 t3"),
        (1, 1, 3, 4, "t3 t4 t5 t6"),
        (1, 2, 6, 4, "t6 t7 t8 t9"),
        (1, 3, 9, 2, "t9 t10"),
        (2, 0, 0, 2, "x y"),
    ]
    # every token is covered by at least one chunk; overlap rows agree
    with pytest.raises(ValueError):
        chunk_docs(docs, chunk_size=4, overlap=4)


def test_embedding_dim_stats_known_values(spark):
    from fspann_query_system_spark.ops.similarity import embedding_dim_stats
    emb = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [2.0, 1.0]), (3, [4.0, 1.0])],
        "vec_id LONG, embedding ARRAY<FLOAT>")
    rows = {r.dim: r for r in embedding_dim_stats(emb).collect()}
    assert rows[0].n == 3 and rows[0].mean == 2.0 and rows[0].stddev == 2.0
    assert rows[0].mn == 0.0 and rows[0].mx == 4.0
    assert rows[1].stddev == 0.0 and rows[1].mn == 1.0 and rows[1].mx == 1.0


def test_jl_project_matches_numpy_mirror_and_is_deterministic(spark):
    """Each projected component equals the element-quantized int64 sum
    computed by a numpy mirror (bit-identical), and re-running the op
    gives the same rows."""
    import numpy as np
    from fspann_query_system_spark.ops.similarity import (jl_matrix,
                                                          jl_project)
    rng = np.random.default_rng(3)
    X = rng.normal(0, 1, (40, 16))
    df = spark.createDataFrame([(i, X[i].tolist()) for i in range(40)],
                               "id LONG, vector ARRAY<DOUBLE>")
    G = jl_matrix(16, 4, seed=7)
    b = X[:, :, None] * G[None, :, :] * 1e9
    want = (np.sign(b) * np.floor(np.abs(b) + 0.5)).astype(
        np.int64).sum(axis=1) / 1e9
    got = {r.id: r.vector for r in jl_project(df, out_dim=4).collect()}
    for i in range(40):
        assert got[i] == list(want[i]), f"row {i}"
    again = {r.id: r.vector for r in jl_project(df, out_dim=4).collect()}
    assert got == again


def test_jl_project_preserves_distances_approximately(spark):
    """The JL guarantee at the operator level: squared distances in the
    projected space stay within a loose multiplicative band of the
    originals (out_dim=16 from dim=64 -> distortion ~1/4)."""
    import numpy as np
    from fspann_query_system_spark.ops.similarity import jl_project
    rng = np.random.default_rng(9)
    X = rng.normal(0, 1, (60, 64))
    df = spark.createDataFrame([(i, X[i].tolist()) for i in range(60)],
                               "id LONG, vector ARRAY<DOUBLE>")
    P = {r.id: np.array(r.vector)
         for r in jl_project(df, out_dim=16).collect()}
    ratios = []
    for i in range(0, 40, 2):
        d0 = float(np.sum((X[i] - X[i + 1]) ** 2))
        d1 = float(np.sum((P[i] - P[i + 1]) ** 2))
        ratios.append(d1 / d0)
    # mean ratio near 1, individual pairs within a wide JL band
    assert 0.7 < float(np.mean(ratios)) < 1.3
    assert all(0.25 < r < 2.5 for r in ratios)


def test_jl_topk_full_budget_equals_exact_knn(spark, clustered):
    """With a saturating shortlist (k*rerank >= n) the JL screen keeps
    everything, so jl_topk == exact KNN exactly (same ids, same
    ranks); at a tight budget (rerank=4) recall stays high on
    clustered data (the JL guarantee doing its job)."""
    from fspann_query_system_spark.query.exact import knn_exact
    from fspann_query_system_spark.ops.similarity import jl_topk
    df, X = clustered
    base = df.filter(F.col("id") < 300)
    queries = (base.filter(F.col("id") < 10)
               .select(F.col("id").alias("q_id"), "vector"))
    exact = {(r.q_id, r.rank): r.id
             for r in knn_exact(base, queries, k=10).collect()}
    full = {(r.q_id, r.rank): r.id
            for r in jl_topk(base, queries, k=10, rerank=30,
                             out_dim=8).collect()}
    assert full == exact
    gt = {}
    for (q, _), i in exact.items():
        gt.setdefault(q, set()).add(i)

    def recall(rerank):
        got = {}
        for r in jl_topk(base, queries, k=10, rerank=rerank,
                         out_dim=8).collect():
            got.setdefault(r.q_id, set()).add(r.id)
        return sum(len(got[q] & gt[q]) for q in gt) / (10 * len(gt))

    # 16d -> 8d is only a 2x squeeze, so the screen is lossy but far
    # above random (10/300 ~ 0.03), and widening the budget must help
    r4, r8 = recall(4), recall(8)
    assert r4 > 0.6
    assert r8 >= r4


def test_jl_topk_bad_args_raise(spark, clustered):
    import pytest as _pytest
    from fspann_query_system_spark.ops.similarity import jl_topk
    df, X = clustered
    q = df.limit(2).select(F.col("id").alias("q_id"), "vector")
    with _pytest.raises(ValueError):
        jl_topk(df.limit(10), q, k=0)
    with _pytest.raises(ValueError):
        jl_topk(df.limit(10), q, rerank=0)


def test_jl_project_is_map_only(spark):
    """Zero exchanges: the projection is one Arrow kernel over the scan
    (no Exchange in the plan)."""
    import numpy as np
    from fspann_query_system_spark.ops.similarity import jl_project
    rng = np.random.default_rng(1)
    df = spark.createDataFrame(
        [(i, rng.normal(0, 1, 8).tolist()) for i in range(10)],
        "id LONG, vector ARRAY<DOUBLE>")
    plan = jl_project(df, out_dim=2)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_vocab_overlap_known_values(spark):
    from fspann_query_system_spark.ops.quality import vocab_overlap
    docs = spark.createDataFrame(
        [(1, "a b c", "s1"), (2, "b c d", "s2"), (3, "x y", "s3")],
        "doc_id LONG, text STRING, source STRING")
    rows = {(r.src_a, r.src_b): r for r in vocab_overlap(docs).collect()}
    # {a,b,c} vs {b,c,d}: inter 2, union 4
    assert rows[("s1", "s2")].n_common == 2
    assert rows[("s1", "s2")].jaccard == 0.5
    # fully disjoint pairs have no row (inner-join semantics: J = 0)
    assert ("s1", "s3") not in rows and ("s2", "s3") not in rows


def test_zipf_fit_matches_numpy_ols(spark):
    from fspann_query_system_spark.ops.quality import zipf_fit
    # counts 4, 2, 1 for tokens a, b, c (rank by cnt desc, token asc)
    docs = spark.createDataFrame(
        [(1, "a a a a b b c")], "doc_id LONG, text STRING")
    row = zipf_fit(docs).collect()[0]
    x = np.log(np.array([1.0, 2.0, 3.0]))
    y = np.log(np.array([4.0, 2.0, 1.0]))
    slope, intercept = np.polyfit(x, y, 1)
    assert row.n_terms == 3
    assert row.slope == pytest.approx(slope, abs=1e-3)
    assert row.intercept == pytest.approx(intercept, abs=1e-3)
    assert 0.9 <= row.r2 <= 1.0


def test_nearest_cells_blas_branch_matches_exact_sweep(spark):
    """_nearest_cells switches to the GEMM form past 256 centroids
    (SemDeDup-scale codebooks); assignments must match the exact
    per-centroid sweep on well-separated data."""
    from fspann_query_system_spark.ops.similarity import _nearest_cells
    rng = np.random.default_rng(5)
    C = rng.normal(0, 10.0, (300, 8))           # > 256 -> BLAS branch
    X = C[rng.integers(0, 300, 500)] + rng.normal(0, 0.01, (500, 8))
    df = spark.createDataFrame([(i, X[i].tolist()) for i in range(500)],
                               "id LONG, vector ARRAY<DOUBLE>")
    cents = spark.createDataFrame([(j, C[j].tolist()) for j in range(300)],
                                  "cell LONG, vector ARRAY<DOUBLE>")
    got = {r.id: r.cell for r in
           _nearest_cells(df, cents, 1, "id", "vector",
                          "cell", "vector", False).collect()}
    # numpy exact oracle
    for i in range(500):
        d2 = ((C - X[i]) ** 2).sum(1)
        assert got[i] == int(np.argmin(d2)), i


def test_pq_fit_codebook_shape_and_determinism(spark, clustered):
    from fspann_query_system_spark.ops.pq import pq_fit
    df, X = clustered
    cb1 = pq_fit(df, m_sub=4, k=8, iters=2)
    rows = cb1.collect()
    assert len(rows) == 32 and all(len(r.vector) == 4 for r in rows)
    assert {(r.sub, r.cell) for r in rows} == {
        (s, c) for s in range(4) for c in range(8)}
    cb2 = pq_fit(df, m_sub=4, k=8, iters=2)
    a = {(r.sub, r.cell): r.vector for r in rows}
    b = {(r.sub, r.cell): r.vector for r in cb2.collect()}
    assert a == b  # byte-identical across runs (6dp-quantized updates)


def test_pq_encode_is_per_subspace_argmin(spark, clustered):
    import numpy as np
    from fspann_query_system_spark.ops.pq import (pq_fit, pq_encode,
                                                  _codebook_tensor)
    df, X = clustered
    cb = pq_fit(df, m_sub=4, k=8, iters=1)
    T = _codebook_tensor(cb)
    got = {r.id: list(r.codes) for r in pq_encode(df, cb).collect()}
    B = X.reshape(len(X), 4, 4)
    for i in [0, 17, 555, 1999]:
        want = [int(np.square(B[i, s] - T[s]).sum(axis=1).argmin())
                for s in range(4)]
        assert got[i] == want


def test_pq_topk_compressed_refine(spark, clustered):
    from fspann_query_system_spark.ops.pq import pq_fit, pq_topk
    from fspann_query_system_spark.query.exact import knn_exact
    df, X = clustered
    cb = pq_fit(df, m_sub=4, k=8, iters=2)
    q = df.filter(F.col("id") < 15).select(F.col("id").alias("q_id"), "vector")
    # rerank=64 -> 320-candidate shortlist: covers a whole 250-member
    # cluster even when every member shares one PQ code (ADC all-ties)
    out = pq_topk(df, q, cb, k=5, rerank=64).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == set(range(15))
    for q_id, rows in by_q.items():
        assert len(rows) == 5
        first = min(rows, key=lambda r: r.rank)
        assert first.id == q_id and first.dist == 0.0   # exact self-hit
    # 12-bit codes on well-separated clusters: most of exact top-5 kept
    ex = {}
    for r in knn_exact(df, q, k=5).collect():
        ex.setdefault(r.q_id, set()).add(r.id)
    hits = sum(len(ex[qid] & {r.id for r in rows})
               for qid, rows in by_q.items())
    assert hits >= 70  # recall@5 >= 0.93 over 15 queries


def test_incremental_near_dups_matches_full_banding(spark):
    from fspann_query_system_spark.ops.dedup import (incremental_near_dups,
                                                     minhash_band_pairs)
    rows = [(i, f"alpha beta gamma delta epsilon zeta doc {i}") for i in range(40)]
    rows += [(100 + i, f"alpha beta gamma delta epsilon zeta doc {i}")
             for i in range(10)]      # planted dups of docs 0..9
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    corpus = docs.filter("doc_id < 100")
    new = docs.filter("doc_id >= 100")
    inc = {(r.new_id, r.corpus_id, r.n_shared_bands)
           for r in incremental_near_dups(corpus, new, k=3, n_hashes=8,
                                          bands=8).collect()}
    # broadcast-batch mode (corpus side never exchanges) is result-equal
    bcast = {(r.new_id, r.corpus_id, r.n_shared_bands)
             for r in incremental_near_dups(corpus, new, k=3, n_hashes=8,
                                            bands=8,
                                            broadcast_batch=True).collect()}
    assert bcast == inc
    # every planted dup is found against its corpus original
    found = {(n, c) for n, c, _ in inc}
    assert {(100 + i, i) for i in range(10)} <= found
    # consistency: the full-corpus banding restricted to (new, old) pairs
    # is exactly the incremental result (same bands, same counts)
    full = {(r.id_b, r.id_a, r.n_shared_bands)
            for r in minhash_band_pairs(docs, k=3, n_hashes=8,
                                        bands=8).collect()
            if r.id_b >= 100 and r.id_a < 100}
    assert inc == full


def test_reservoir_sample_fixed_size_and_append_stability(spark):
    from fspann_query_system_spark.ops.sampling import reservoir_sample
    rows = [(i, "s%d" % (i % 3)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING")
    out = reservoir_sample(df, 10, by="source", key_col="doc_id")
    got = [(r.source, r.doc_id) for r in out.collect()]
    assert len(got) == 30 and len(set(got)) == 30
    # deterministic across runs
    assert set(got) == {(r.source, r.doc_id) for r in out.collect()}
    # appending rows only displaces hash-boundary members: the sample
    # from the grown table still contains >= 7/10 of each old group
    # (bottom-k churn is bounded, never a reshuffle of the whole sample)
    grown = spark.createDataFrame(
        rows + [(1000 + i, "s%d" % (i % 3)) for i in range(60)],
        "doc_id LONG, source STRING")
    new = {(r.source, r.doc_id)
           for r in reservoir_sample(grown, 10, by="source",
                                     key_col="doc_id").collect()}
    for s in ("s0", "s1", "s2"):
        old_s = {d for src, d in got if src == s}
        assert len(old_s & {d for src, d in new if src == s}) >= 7
    # independent salt -> different sample
    alt = {(r.source, r.doc_id)
           for r in reservoir_sample(df, 10, by="source", key_col="doc_id",
                                     salt="other").collect()}
    assert alt != set(got)


def test_reservoir_sample_plan_has_window_group_limit(spark):
    from fspann_query_system_spark.ops.sampling import reservoir_sample
    df = spark.createDataFrame([(i, "s") for i in range(50)],
                               "doc_id LONG, source STRING")
    plan = (reservoir_sample(df, 5)._jdf.queryExecution().executedPlan()
            .toString())
    # rank-filter pushdown: partial top-n runs before the exchange, so a
    # 10^9-row group ships ~n rows per input partition
    assert "WindowGroupLimit" in plan


def test_boilerplate_stats_known_values(spark):
    from fspann_query_system_spark.ops.quality import boilerplate_stats
    # docs 0-4 all contain the same header trigram run; doc 5 is unique
    rows = [(i, f"common header line for doc unique{i} tail{i}")
            for i in range(5)]
    rows.append((5, "totally different content entirely here now"))
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {r.doc_id: r for r in
           boilerplate_stats(docs, n=3, min_docs=5).collect()}
    assert len(out) == 6
    # "common header line", "header line for" appear in all 5 docs
    assert out[0].n_boiler >= 2 and out[0].boiler_frac > 0
    assert out[5].n_boiler == 0 and out[5].boiler_frac == 0.0
    # every doc with 7 tokens has 5 trigrams
    assert out[0].n_grams == 5


def test_ivfpq_probed_cells_only_and_full_probe_equivalence(spark, clustered):
    from fspann_query_system_spark.ops.pq import pq_fit, pq_topk, ivfpq_topk
    from fspann_query_system_spark.ops.similarity import ivf_assign
    df, X = clustered
    cb = pq_fit(df, m_sub=4, k=8, iters=2)
    centroids = df.filter(F.col("id") < 16)
    q = df.filter(F.col("id") < 10).select(F.col("id").alias("q_id"), "vector")
    out = ivfpq_topk(df, q, centroids, cb, k=5, nprobe=2, rerank=8).collect()
    # results only come from probed cells
    from fspann_query_system_spark.ops.similarity import _nearest_cells
    cells = {r.id: r.cell for r in ivf_assign(df, centroids).collect()}
    probes = {}
    for r in _nearest_cells(q, centroids, 2, "q_id", "vector",
                            "id", "vector", keep_vector=False).collect():
        probes.setdefault(r.q_id, set()).add(r.cell)
    for r in out:
        assert cells[r.id] in probes[r.q_id]
    # self-hit: each query's own cell is its nearest -> always probed
    firsts = {r.q_id: r for r in out if r.rank == 1}
    assert all(firsts[qid].id == qid and firsts[qid].dist == 0.0
               for qid in range(10))
    # probing every cell degenerates to plain PQ-ADC over the full corpus
    full = ivfpq_topk(df, q, centroids, cb, k=5, nprobe=16, rerank=8)
    plain = pq_topk(df, q, cb, k=5, rerank=8)
    assert sorted(map(tuple, full.collect())) == \
        sorted(map(tuple, plain.collect()))


def test_ivfpq_probe_mass_exhaustive_and_bounded(spark, clustered):
    """ivfpq_topk(probe_mass=) completes the probe-based ANN family
    (verdict r09 API nit): a whole-corpus budget equals probing every
    cell, and a partial budget still returns dense k results with the
    self-hit first (each query's nearest cell is always probed)."""
    from fspann_query_system_spark.ops.pq import pq_fit, ivfpq_topk
    df, X = clustered
    cb = pq_fit(df, m_sub=4, k=8, iters=2)
    centroids = df.filter(F.col("id") < 16)
    q = df.filter(F.col("id") < 10).select(F.col("id").alias("q_id"),
                                           "vector")
    full = sorted(map(tuple, ivfpq_topk(df, q, centroids, cb, k=5,
                                        rerank=8,
                                        probe_mass=10 ** 9).collect()))
    exh = sorted(map(tuple, ivfpq_topk(df, q, centroids, cb, k=5,
                                       nprobe=16, rerank=8).collect()))
    assert full == exh
    part = ivfpq_topk(df, q, centroids, cb, k=5, rerank=8,
                      probe_mass=200).collect()
    by_q = {}
    for r in part:
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == set(range(10))
    for q_id, rows in by_q.items():
        ranked = sorted(rows, key=lambda r: r.rank)
        assert len(ranked) == 5
        assert ranked[0].id == q_id and ranked[0].dist == 0.0


def test_ivf_bq_probed_cells_only_and_full_probe_equivalence(spark, clustered):
    from fspann_query_system_spark.ops.similarity import (
        _nearest_cells, bq_thresholds, bq_topk, ivf_assign, ivf_bq_topk,
        sq8_stats)
    df, X = clustered
    thr = bq_thresholds(*sq8_stats(df))
    centroids = df.filter(F.col("id") < 16)
    q = df.filter(F.col("id") < 10).select(F.col("id").alias("q_id"), "vector")
    out = ivf_bq_topk(df, q, centroids, thr, k=5, nprobe=2, rerank=8).collect()
    # results only come from probed cells
    cells = {r.id: r.cell for r in ivf_assign(df, centroids).collect()}
    probes = {}
    for r in _nearest_cells(q, centroids, 2, "q_id", "vector",
                            "id", "vector", keep_vector=False).collect():
        probes.setdefault(r.q_id, set()).add(r.cell)
    for r in out:
        assert cells[r.id] in probes[r.q_id]
    # self-hit: each query's own cell is its nearest -> always probed
    firsts = {r.q_id: r for r in out if r.rank == 1}
    assert all(firsts[qid].id == qid and firsts[qid].dist == 0.0
               for qid in range(10))
    # probing every cell degenerates to plain BQ over the full corpus
    full = ivf_bq_topk(df, q, centroids, thr, k=5, nprobe=16, rerank=8)
    plain = bq_topk(df, q, thr, k=5, rerank=8)
    assert sorted(map(tuple, full.collect())) == \
        sorted(map(tuple, plain.collect()))


def test_ivf_bq_routing_beats_standalone_at_equal_budget(spark, clustered):
    """The §9e story: standalone BQ's shortlist drowns in the cluster
    tie plateau (every in-cluster code is Hamming-equal, so the pool is
    the lowest-id plateau members, not the nearest).  A FINE coarse
    quantizer bounds the per-cell plateau, so at the SAME rerank budget
    the routed shortlist covers the probed cells and recall rises —
    while scanning only nprobe/|C| of the codes.  (Routing at the
    natural-cluster granularity would NOT help: the probed cell's
    plateau still exceeds the pool — cells must be sized to
    ~k·rerank/nprobe, the law SCALE.md §9e derives at 10M.)"""
    from fspann_query_system_spark.ops.similarity import (
        bq_thresholds, bq_topk, ivf_bq_topk, sq8_stats)
    from fspann_query_system_spark.query.exact import knn_exact
    df, X = clustered
    thr = bq_thresholds(*sq8_stats(df))
    # fine quantizer: every 25th point -> 80 cells, ~25 members each,
    # so nprobe 3 x 25 ~ pool 75 = k*rerank
    centroids = df.filter(F.col("id") % 25 == 0)
    q = df.filter(F.col("id") < 15).select(F.col("id").alias("q_id"), "vector")
    ex = {}
    for r in knn_exact(df, q, k=5).collect():
        ex.setdefault(r.q_id, set()).add(r.id)

    def hits(rows):
        by_q = {}
        for r in rows:
            by_q.setdefault(r.q_id, set()).add(r.id)
        return sum(len(ex[qid] & ids) for qid, ids in by_q.items())

    # equal rerank budget: pool 75 << the 250-member standalone plateau
    plain = hits(bq_topk(df, q, thr, k=5, rerank=15).collect())
    routed = hits(ivf_bq_topk(df, q, centroids, thr, k=5, nprobe=3,
                              rerank=15).collect())
    assert routed >= plain + 5        # routing wins at equal budget
    assert routed >= 45               # recall@5 >= 0.60 over 15 queries
    assert plain <= 42                # the standalone collapse is real


def test_knn_join_full_probe_matches_exact(spark, clustered):
    """Probing every cell makes the kNN self-join exhaustive: it must
    equal blocked exact KNN with the whole table as the query set
    (modulo exact's 'distance' column name and self-row handling).
    The edge set and ranks match EXACTLY; distances compare with a
    1e-7 tolerance: knn_join emits the ELEMENT-QUANTIZED distance
    (_q9 at 1e-9, for cross-engine merge-order exactness) while
    knn_exact emits plain double — a rounded-equality compare would
    flip on any value sitting on a rounding boundary."""
    from fspann_query_system_spark.ops.similarity import knn_join
    from fspann_query_system_spark.query.exact import knn_exact
    df, X = clustered
    small = df.filter(F.col("id") < 300)
    centroids = small.filter(F.col("id") % 50 == 0)   # 6 cells
    got = sorted(
        (r.q_id, r.id, r.dist, r.rank) for r in
        knn_join(small, centroids, k=5, nprobe=6,
                 exclude_self=False).collect())
    q = small.select(F.col("id").alias("q_id"), "vector")
    want = sorted(
        (r.q_id, r.id, r.distance, r.rank) for r in
        knn_exact(small, q, k=5).collect())
    assert [(g[0], g[1], g[3]) for g in got] == \
           [(w[0], w[1], w[3]) for w in want]
    assert all(abs(g[2] - w[2]) < 1e-7 for g, w in zip(got, want))
    # exclude_self drops exactly the rank-1 self edge per row
    no_self = knn_join(small, centroids, k=5, nprobe=6,
                       exclude_self=True).collect()
    assert all(r.id != r.q_id for r in no_self)
    assert len(no_self) == 300 * 5


def test_knn_join_float_shuffle_bit_identical_on_f32_data(spark):
    """shuffle_dtype='float' ships the probe/member vectors as
    array<float>; on float32-representable source data (the at-rest
    contract) the f32->f64 round-trip is lossless, so the emitted
    graph — dist values included — is BIT-IDENTICAL to the float64
    shuffle.  This is the §9g nprobe-8 shuffle-footprint fix."""
    import numpy as np
    from fspann_query_system_spark.ops.similarity import knn_join
    rng = np.random.default_rng(7)
    X = rng.normal(0, 3, (400, 16)).astype(np.float32).astype(np.float64)
    df = spark.createDataFrame([(i, X[i].tolist()) for i in range(len(X))],
                               "id LONG, vector ARRAY<DOUBLE>")
    cents = df.filter(F.col("id") % 80 == 0)
    wide = sorted(
        (r.q_id, r.id, r.dist, r.rank) for r in
        knn_join(df, cents, k=5, nprobe=2).collect())
    slim = sorted(
        (r.q_id, r.id, r.dist, r.rank) for r in
        knn_join(df, cents, k=5, nprobe=2,
                 shuffle_dtype="float").collect())
    assert wide == slim


def test_knn_join_sq8_matches_exact_join_on_separated_clusters(spark,
                                                               clustered):
    """knn_join_sq8 (SQ8 probe codes + exact re-rank): on the clustered
    fixture, SQ8 ranking agrees with exact ranking except at rank-k
    boundary near-ties, so (a) edge agreement with the exact join is
    ≥ 99%, (b) every disagreement's exact distance is within the
    cluster's intra-noise of the displaced edge (no gross errors),
    (c) dist values of agreeing edges are BIT-IDENTICAL (both paths
    emit the quantized exact distance), and (d) shipping the member
    side as float32 changes nothing on f32-representable data."""
    import numpy as np
    from fspann_query_system_spark.ops.similarity import (knn_join,
                                                          knn_join_sq8,
                                                          sq8_stats)
    rng = np.random.default_rng(42)
    centers = rng.normal(0, 5.0, (8, 16))
    X = np.vstack([c + rng.normal(0, 0.6, (250, 16)) for c in centers])
    X = X.astype(np.float32).astype(np.float64)
    df = spark.createDataFrame([(i, X[i].tolist()) for i in range(len(X))],
                               "id LONG, vector ARRAY<DOUBLE>")
    small = df.filter(F.col("id") < 300)
    cents = small.filter(F.col("id") % 50 == 0)
    mins, maxs = sq8_stats(small)
    exact = {(r.q_id, r.id): r.dist for r in
             knn_join(small, cents, k=5, nprobe=2,
                      method="expr").collect()}
    got = {(r.q_id, r.id): r.dist for r in
           knn_join_sq8(small, cents, mins, maxs, k=5, nprobe=2,
                        rerank=4).collect()}
    assert len(got) == len(exact) == 1500          # dense ranks both
    agree = set(exact) & set(got)
    assert len(agree) / len(exact) >= 0.99
    assert all(exact[e] == got[e] for e in agree)  # bit-identical dists
    for e in set(got) - set(exact):                # near-tie displacements
        assert got[e] <= max(exact[(q, i)] for (q, i) in exact
                             if q == e[0]) + 0.5
    f32 = {(r.q_id, r.id): r.dist for r in
           knn_join_sq8(small, cents, mins, maxs, k=5, nprobe=2,
                        rerank=4, shuffle_dtype="float").collect()}
    assert f32 == got


def test_knn_join_gemm_and_expr_emit_identical_values(spark, clustered):
    """The gemm kernel and the declarative expr twin both emit the
    ELEMENT-QUANTIZED (_q9) distance, so dist values and near-tie rank
    order match BIT-FOR-BIT — not merely to a rounding tolerance
    (ADVICE r07: an unquantized numpy pairwise sum vs the Catalyst
    fold differed at ulp level)."""
    from fspann_query_system_spark.ops.similarity import knn_join
    df, X = clustered
    small = df.filter(F.col("id") < 250)
    centroids = small.filter(F.col("id") % 50 == 0)
    gemm = sorted(
        (r.q_id, r.id, r.dist, r.rank) for r in
        knn_join(small, centroids, k=5, nprobe=2,
                 method="gemm").collect())
    expr = sorted(
        (r.q_id, r.id, r.dist, r.rank) for r in
        knn_join(small, centroids, k=5, nprobe=2,
                 method="expr").collect())
    assert gemm == expr


def test_knn_join_probe_mass_rule_and_bounds(spark, clustered):
    """probe_mass adaptive probing (verdict r08 Next #5): (a) a budget
    covering the whole corpus degenerates to the exhaustive join,
    (b) gemm and expr agree bit-for-bit under a partial budget,
    (c) the probe SET matches the numpy cumulative-mass rule exactly
    — cells in element-quantized (dd, cid) order, kept while prior
    member mass < budget — so every prober's scanned candidate mass
    is hard-bounded (< budget + its last cell's size) AND sufficient
    (>= budget when the corpus has that much)."""
    import numpy as np
    from fspann_query_system_spark.ops.similarity import (knn_join, _q9,
                                                          _nearest_cells)
    df, X = clustered
    small = df.filter(F.col("id") < 300)
    centroids = small.filter(F.col("id") % 50 == 0)   # 6 cells
    # (a) whole-corpus budget == probe-all-cells exhaustive join
    full = sorted(
        (r.q_id, r.id, r.dist, r.rank) for r in
        knn_join(small, centroids, k=5, probe_mass=10 ** 9).collect())
    exh = sorted(
        (r.q_id, r.id, r.dist, r.rank) for r in
        knn_join(small, centroids, k=5, nprobe=6).collect())
    assert full == exh
    # (b) method equivalence under a partial budget
    m = 120
    gemm = sorted(
        (r.q_id, r.id, r.dist, r.rank) for r in
        knn_join(small, centroids, k=5, probe_mass=m,
                 method="gemm").collect())
    expr = sorted(
        (r.q_id, r.id, r.dist, r.rank) for r in
        knn_join(small, centroids, k=5, probe_mass=m,
                 method="expr").collect())
    assert gemm == expr
    # (c) probe set == the numpy rule, with mass bounds both ways
    Xs = X[:300]
    crows = sorted((r.id, list(r.vector)) for r in centroids.collect())
    cid = np.array([c[0] for c in crows])
    C = np.array([c[1] for c in crows], dtype=np.float64)
    assign = np.array([int(np.argmin(np.square(x - C).sum(axis=1)))
                       for x in Xs])
    cnt = np.bincount(assign, minlength=len(cid))
    probes = {}
    for r in _nearest_cells(small, centroids, 1, "id", "vector",
                            "id", "vector", keep_vector=False,
                            mass=({int(cid[j]): int(cnt[j])
                                   for j in range(len(cid))}, m)).collect():
        probes.setdefault(r.id, []).append(r.cell)
    for q in range(300):
        dd = np.array([_q9(np.square(Xs[q] - C[j])).sum()
                       for j in range(len(cid))])
        o = np.lexsort((cid, dd))
        prior = np.concatenate(([0], np.cumsum(cnt[o])[:-1]))
        want = list(cid[o[prior < m]])
        assert probes[q] == want        # order AND set
        got_mass = int(cnt[[int(np.where(cid == c)[0][0])
                            for c in want]].sum())
        assert got_mass >= min(m, len(Xs))          # sufficient
        assert got_mass - int(cnt[np.where(cid == want[-1])[0][0]]) < m


def test_knn_join_sq8_probe_mass_matches_fixed_on_uniform_cells(spark):
    """knn_join_sq8(probe_mass=) shares the same probe rule; on a
    fixture where every cell holds exactly the same mass, a budget of
    2 cells' worth must reproduce fixed nprobe=2 bit-for-bit (same
    probe sets -> same three-stage result)."""
    import numpy as np
    from fspann_query_system_spark.ops.similarity import (knn_join_sq8,
                                                          sq8_stats)
    rng = np.random.default_rng(11)
    centers = rng.normal(0, 6.0, (4, 12))
    X = np.vstack([c + rng.normal(0, 0.5, (100, 12)) for c in centers])
    X = X.astype(np.float32).astype(np.float64)
    df = spark.createDataFrame([(i, X[i].tolist()) for i in range(len(X))],
                               "id LONG, vector ARRAY<DOUBLE>")
    cents = df.filter(F.col("id") % 100 == 0)    # one per true cluster
    mins, maxs = sq8_stats(df)
    # derive the budget from the ACTUAL census: budget = max_cell + 1
    # forces >= 2 probed cells everywhere, and 2*min_cell >= budget
    # (asserted) guarantees it stops at exactly 2 — the fixed plan.
    from fspann_query_system_spark.ops.similarity import ivf_assign
    census = (ivf_assign(df, cents).groupBy("cell").count()
              .toPandas()["count"].to_numpy())
    budget = int(census.max()) + 1
    assert 2 * int(census.min()) >= budget
    fixed = sorted(
        (r.q_id, r.id, r.dist, r.rank) for r in
        knn_join_sq8(df, cents, mins, maxs, k=5, nprobe=2,
                     rerank=4).collect())
    adaptive = sorted(
        (r.q_id, r.id, r.dist, r.rank) for r in
        knn_join_sq8(df, cents, mins, maxs, k=5, rerank=4,
                     probe_mass=budget).collect())
    assert fixed == adaptive


def test_nearest_cells_mass_large_codebook_matches_exact_rule(spark):
    """The large-|C| mass-probe fast path (tiled-GEMM prefilter to the
    worst-case-T shortlist + quantized recompute) must produce the
    SAME per-row probe lists as the exact rule — full quantized sort +
    cumulative member mass < budget — verified against a numpy oracle
    on a 300-centroid codebook (past the 256 crossover)."""
    import numpy as np
    from fspann_query_system_spark.ops.similarity import (_nearest_cells,
                                                          _q9)
    rng = np.random.default_rng(5)
    X = rng.normal(0, 2, (800, 24))
    C = rng.normal(0, 2, (300, 24))
    df = spark.createDataFrame([(i, X[i].tolist()) for i in range(len(X))],
                               "id LONG, vector ARRAY<DOUBLE>")
    cents = spark.createDataFrame(
        [(j, C[j].tolist()) for j in range(len(C))],
        "id LONG, vector ARRAY<DOUBLE>")
    # synthetic skewed census (mass rule must respect counts, not
    # geometry): cell j holds (j % 7) + 1 members
    counts = {j: (j % 7) + 1 for j in range(len(C))}
    budget = 25
    got = {}
    for r in _nearest_cells(df, cents, 1, "id", "vector", "id", "vector",
                            keep_vector=False,
                            mass=(counts, budget)).collect():
        got.setdefault(r.id, []).append(r.cell)
    cnt = np.array([counts[j] for j in range(len(C))])
    for q in range(0, 800, 37):          # sample rows
        dd = np.array([_q9(np.square(X[q] - C[j])).sum()
                       for j in range(len(C))])
        o = np.lexsort((np.arange(len(C)), dd))
        prior = np.concatenate(([0], np.cumsum(cnt[o])[:-1]))
        assert got[q] == list(o[prior < budget])


def test_knn_join_incremental_equals_full_rebuild(spark, clustered):
    """Folding a new batch into an existing graph (frozen quantizer)
    must equal the full rebuild bit-for-bit — including displacement
    (a new row evicting an old row from some old row's top-k) — and
    an empty batch must pass the old graph through unchanged."""
    from fspann_query_system_spark.ops.similarity import (
        _nearest_cells, ivf_assign, knn_join, knn_join_incremental)
    df, X = clustered
    full = df.filter(F.col("id") < 700)
    old = full.filter(F.col("id") < 550)
    new = full.filter(F.col("id") >= 550)
    cents = full.filter((F.col("id") % 100 == 0) & (F.col("id") < 550))
    assigned_old = ivf_assign(old, cents)
    probes_old = _nearest_cells(old, cents, 2, "id", "vector", "id",
                                "vector", keep_vector=False)
    og = knn_join(old, cents, k=5, nprobe=2, assigned=assigned_old)
    inc = sorted(map(tuple, knn_join_incremental(
        og, probes_old, assigned_old, new, cents, k=5,
        nprobe=2).collect()))
    fullg = sorted(map(tuple, knn_join(full, cents, k=5,
                                       nprobe=2).collect()))
    assert inc == fullg
    # vector-carrying probe table (skips the id->vector join): same
    # exact equality
    probes_v = _nearest_cells(old, cents, 2, "id", "vector", "id",
                              "vector", keep_vector=True)
    inc_v = sorted(map(tuple, knn_join_incremental(
        og, probes_v, assigned_old, new, cents, k=5,
        nprobe=2).collect()))
    assert inc_v == fullg
    # displacement actually happened: some old row's edge set changed
    old_rows = {(r.q_id, r.id) for r in og.collect()}
    inc_old_side = {(q, i) for (q, i, d, rk) in inc if q < 550}
    assert inc_old_side != old_rows
    # empty batch: identity
    empty = full.filter(F.col("id") < 0)
    inc0 = sorted(map(tuple, knn_join_incremental(
        og, probes_old, assigned_old, empty, cents, k=5,
        nprobe=2).collect()))
    assert inc0 == sorted(map(tuple, og.collect()))


def test_knn_join_incremental_float_dtype_equals_full(spark, clustered):
    """shuffle_dtype='float' must keep the exact-equality contract:
    the update edges score on the SAME array<float> cast knn_join
    shuffles (advice r10 — the raw-double path diverged), so the fold
    equals the float-mode full rebuild bit-for-bit."""
    from fspann_query_system_spark.ops.similarity import (
        _nearest_cells, ivf_assign, knn_join, knn_join_incremental)
    import pytest
    df, X = clustered
    full = df.filter(F.col("id") < 600)
    old = full.filter(F.col("id") < 480)
    new = full.filter(F.col("id") >= 480)
    cents = full.filter((F.col("id") % 100 == 0) & (F.col("id") < 480))
    assigned_old = ivf_assign(old, cents)
    probes_old = _nearest_cells(old, cents, 2, "id", "vector", "id",
                                "vector", keep_vector=False)
    og = knn_join(old, cents, k=5, nprobe=2, assigned=assigned_old,
                  shuffle_dtype="float")
    inc = sorted(map(tuple, knn_join_incremental(
        og, probes_old, assigned_old, new, cents, k=5, nprobe=2,
        shuffle_dtype="float").collect()))
    fullg = sorted(map(tuple, knn_join(
        full, cents, k=5, nprobe=2, shuffle_dtype="float").collect()))
    assert inc == fullg
    with pytest.raises(ValueError, match="shuffle_dtype"):
        knn_join_incremental(og, probes_old, assigned_old, new, cents,
                             k=5, nprobe=2, shuffle_dtype="f16")


def test_knn_graph_fold_two_file_stream_state_carry(spark, clustered,
                                                    tmp_path):
    """The continuous-corpus composition (verdict r10 Next #4): two
    parquet files dropped into a streamed directory arrive as TWO
    micro-batches (maxFilesPerTrigger=1); foreachBatch folds each into
    the state triple via knn_graph_fold, so the second fold consumes
    state the first produced.  Final graph must equal the full
    rebuild over corpus ∪ batch1 ∪ batch2 bit-for-bit, and the
    advanced probe/assign tables must equal freshly-built ones."""
    import uuid
    from fspann_query_system_spark.ops.similarity import (
        _nearest_cells, ivf_assign, knn_join, knn_graph_fold)
    df, X = clustered
    full = df.filter(F.col("id") < 700)
    old = full.filter(F.col("id") < 500)
    b1 = full.filter((F.col("id") >= 500) & (F.col("id") < 600))
    b2 = full.filter(F.col("id") >= 600)
    cents = full.filter((F.col("id") % 100 == 0) & (F.col("id") < 500))
    drop_dir = str(tmp_path / "drops")
    b1.coalesce(1).write.parquet(f"{drop_dir}/f1.parquet")
    b2.coalesce(1).write.parquet(f"{drop_dir}/f2.parquet")
    assigned = ivf_assign(old, cents)
    probes = _nearest_cells(old, cents, 2, "id", "vector", "id",
                            "vector", keep_vector=False)
    og = knn_join(old, cents, k=5, nprobe=2, assigned=assigned)
    state = {"g": og.localCheckpoint(eager=True),
             "p": probes.localCheckpoint(eager=True),
             "a": assigned.localCheckpoint(eager=True),
             "batches": 0}

    def fold(bdf, _bid):
        if bdf.isEmpty():
            return
        state["g"], state["p"], state["a"] = knn_graph_fold(
            state["g"], state["p"], state["a"], bdf, cents,
            k=5, nprobe=2)
        state["batches"] += 1

    stream = (spark.readStream.schema(b1.schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(f"{drop_dir}/*.parquet"))
    q = (stream.writeStream.foreachBatch(fold)
         .queryName("t_knn_fold_" + uuid.uuid4().hex[:8])
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert state["batches"] == 2          # the state-carry condition
    got = sorted(map(tuple, state["g"].collect()))
    want = sorted(map(tuple, knn_join(full, cents, k=5,
                                      nprobe=2).collect()))
    assert got == want
    # the advanced side tables equal freshly-built ones over the union
    fresh_a = ivf_assign(full, cents)
    assert (sorted((r.id, r.cell) for r in state["a"].collect())
            == sorted((r.id, r.cell) for r in fresh_a.collect()))
    fresh_p = _nearest_cells(full, cents, 2, "id", "vector", "id",
                             "vector", keep_vector=False)
    assert (sorted((r.id, r.cell) for r in state["p"].collect())
            == sorted((r.id, r.cell) for r in fresh_p.collect()))


def test_knn_join_sq8_probe_groups_identical_with_mass(spark, clustered):
    """The staged path under an adaptive mass budget: per-group probe
    slicing must leave results identical to the single-pass adaptive
    plan."""
    from fspann_query_system_spark.ops.similarity import (knn_join_sq8,
                                                          sq8_stats)
    df, X = clustered
    small = df.filter(F.col("id") < 500)
    cents = small.filter(F.col("id") % 100 == 0)
    mins, maxs = sq8_stats(small)
    base = sorted((r.q_id, r.id, r.dist, r.rank) for r in
                  knn_join_sq8(small, cents, mins, maxs, k=5,
                               nprobe=3, probe_mass=150).collect())
    got = sorted((r.q_id, r.id, r.dist, r.rank) for r in
                 knn_join_sq8(small, cents, mins, maxs, k=5, nprobe=3,
                              probe_mass=150, probe_groups=2).collect())
    assert got == base


def test_nearest_cells_gemm_topn_matches_exact_sweep(spark):
    """The tiled-GEMM top-nc probe path (large codebooks, |C| > 256)
    must probe the same cells as the exact per-centroid sweep —
    verified against a numpy exact oracle on a 300-centroid codebook
    (the IVF query path at SemDeDup-scale |C|, where the python sweep
    was hours at 10M).  The probe ORDER is checked without Spark by
    test_nearest_idx_and_mass_cells_follow_lexsort_order."""
    import numpy as np
    from fspann_query_system_spark.ops.similarity import _nearest_cells
    rng = np.random.default_rng(3)
    X = rng.normal(0, 2, (1000, 24))
    C = rng.normal(0, 2, (300, 24))
    df = spark.createDataFrame([(i, X[i].tolist()) for i in range(len(X))],
                               "id LONG, vector ARRAY<DOUBLE>")
    cents = spark.createDataFrame(
        [(i, C[i].tolist()) for i in range(len(C))],
        "cell LONG, vector ARRAY<DOUBLE>")
    got = {}
    for r in _nearest_cells(df, cents, 3, "id", "vector", "cell", "vector",
                            keep_vector=False).collect():
        got.setdefault(r.id, set()).add(r.cell)
    for i in range(len(X)):
        d2 = ((C - X[i]) ** 2).sum(1)
        assert got[i] == set(np.argsort(d2, kind="stable")[:3]), i


def test_nearest_idx_and_mass_cells_follow_lexsort_order():
    """The coarse stage's one cell rule, numpy only: _nearest_idx
    returns each row's nc nearest centroids in (d2, index) order — the
    brute-force np.lexsort((index, d2)) order — and _mass_cells keeps
    cells in quantized (dd, index) order while the member count of the
    cells before them is below the budget."""
    from fspann_query_system_spark.ops.pq import _q9
    from fspann_query_system_spark.ops.similarity import (_mass_cells,
                                                          _nearest_idx)

    def lex(B, C, quantize):
        out = []
        for r0 in range(0, len(B), 128):        # bounds the cube
            sq = np.square(B[r0:r0 + 128, None, :] - C[None])
            d2 = (_q9(sq) if quantize else sq).sum(axis=2)
            idx = np.broadcast_to(np.arange(len(C)), d2.shape)
            out.append(np.lexsort((idx, d2), axis=1))
        return np.concatenate(out)

    rng = np.random.default_rng(11)
    # up to 256 centroids: the sweep, with exact ties from duplicated
    # centroids and from rows that sit on a centroid
    C = rng.integers(-3, 4, (40, 6)).astype(np.float64)
    C[20:] = C[:20]
    B = np.vstack([C[:10], rng.integers(-3, 4, (150, 6))]).astype(np.float64)
    for quantize in (False, True):
        want = lex(B, C, quantize)
        for nc in (1, 3, 9):
            got = _nearest_idx(B, C, nc, quantize)
            assert (got == want[:, :nc]).all(), (quantize, nc)
    # past 256: the tiled GEMM over two 4,096-wide column tiles and
    # two 2,048-row tiles, on tie-free data; then on small integers,
    # where every GEMM distance is exact, with centroids duplicated
    # within and across column tiles (2-deep ties, inside the +8 margin)
    C = rng.normal(0, 3, (4200, 8))
    B = rng.normal(0, 3, (2100, 8))
    want = lex(B, C, False)
    for nc in (1, 3):
        assert (_nearest_idx(B, C, nc) == want[:, :nc]).all(), nc
    C = rng.integers(-20, 21, (4200, 8)).astype(np.float64)
    C[4100:] = C[:100]
    C[200:300] = C[100:200]
    B = np.vstack([C[:100] + 1, rng.integers(-20, 21, (200, 8))])
    want = lex(B, C, False)
    for nc in (1, 3):
        assert (_nearest_idx(B, C, nc) == want[:, :nc]).all(), nc
    # mass budgets against a cumulative-count reference, both sides of
    # 256 centroids
    for n_c in (40, 300):
        C = rng.normal(0, 3, (n_c, 8))
        B = rng.normal(0, 3, (120, 8))
        cnt = rng.integers(0, 25, n_c)
        order = lex(B, C, True)
        for budget in (1, 60, 400):
            idx, nk = _mass_cells(B, C, cnt, budget)
            want_idx, want_nk = [], []
            for row in order:
                prior = np.concatenate([[0], np.cumsum(cnt[row])[:-1]])
                kept = row[prior < budget]
                want_idx += kept.tolist()
                want_nk.append(len(kept))
            assert idx.tolist() == want_idx, (n_c, budget)
            assert nk.tolist() == want_nk, (n_c, budget)


def test_ivf_bq_sq8_full_budget_matches_exact(spark, clustered):
    """With every cell probed and saturating shortlist budgets the
    three-tier plan degenerates to exhaustive exact search — results
    must equal blocked exact KNN bit-for-bit."""
    from fspann_query_system_spark.ops.similarity import (
        sq8_stats, bq_thresholds, ivf_bq_sq8_topk)
    from fspann_query_system_spark.query.exact import knn_exact
    df, X = clustered
    small = df.filter(F.col("id") < 300)
    centroids = small.filter(F.col("id") % 50 == 0)   # 6 cells
    mins, maxs = sq8_stats(small)
    q = small.filter(F.col("id") < 5) \
        .select(F.col("id").alias("q_id"), "vector")
    got = sorted(
        (r.q_id, r.id, round(r.dist, 9), r.rank) for r in
        ivf_bq_sq8_topk(small, q, centroids, bq_thresholds(mins, maxs),
                        mins, maxs, k=5, nprobe=6, bq_keep=100,
                        rerank=100).collect())
    want = sorted(
        (r.q_id, r.id, round(r.distance, 9), r.rank) for r in
        knn_exact(small, q, k=5).collect())
    assert got == want


def test_ivf_bq_sq8_tight_budget_recall_and_plateau_coverage(spark,
                                                             clustered):
    """Production-shaped budgets on the adversarial 16-bit fixture:
    the 250-row clusters are BQ tie plateaus (every member shares one
    16-bit code), so bq_keep must cover the plateau for the SQ8 tier
    to see the true neighbours — the exact failure mode §9e documents
    for re-ranking straight from Hamming.  Pinned (deterministic
    fixture): bq_keep 16 → 80-row shortlist < plateau, recall ~0.47;
    bq_keep 64 → 640-row shortlist > plateau, recall 1.0 with every
    query self-matched at rank 1."""
    from fspann_query_system_spark.ops.similarity import (
        sq8_stats, bq_thresholds, ivf_bq_sq8_topk)
    from fspann_query_system_spark.query.exact import knn_exact
    df, X = clustered
    centroids = df.filter(F.col("id") % 250 == 0)     # 8 cells
    mins, maxs = sq8_stats(df)
    q = df.filter(F.col("id").isin([0, 700, 1500])) \
        .select(F.col("id").alias("q_id"), "vector")
    gt = {}
    for r in knn_exact(df, q, k=5).collect():
        gt.setdefault(r.q_id, set()).add(r.id)

    def run(bq_keep):
        res = ivf_bq_sq8_topk(df, q, centroids, bq_thresholds(mins, maxs),
                              mins, maxs, k=5, nprobe=2, bq_keep=bq_keep,
                              rerank=4).collect()
        by_q = {}
        for r in res:
            by_q.setdefault(r.q_id, []).append(r)
        assert set(by_q) == {0, 700, 1500}
        assert all(len(v) == 5 for v in by_q.values())
        return by_q, sum(len({r.id for r in by_q[k_]} & gt[k_]) / 5
                         for k_ in gt) / len(gt)

    _, rec_small = run(16)
    by_q, rec_large = run(64)
    assert rec_small < 0.6 < 1.0 == rec_large
    for qid, rows in by_q.items():
        top = min(rows, key=lambda r: r.rank)
        assert top.id == qid and top.dist == 0.0


def test_probe_cells_local_mass_coverage_semantics(spark, clustered):
    """_probe_cells_local(mass=): cells in quantized-distance order, kept
    while the cumulative member count of PRIOR cells is < probe_mass —
    so (a) every query's probed mass reaches the budget (or exhausts
    the corpus), (b) removing the last probed cell drops coverage
    below the budget (no over-probing), (c) a saturating budget probes
    every non-empty cell."""
    from fspann_query_system_spark.ops.similarity import (
        _probe_cells_local, ivf_assign)
    df, X = clustered
    small = df.filter(F.col("id") < 400)
    centroids = small.filter(F.col("id") % 50 == 0)   # 8 cells
    assigned = ivf_assign(small, centroids)
    counts = {r["cell"]: r["count"] for r in
              assigned.groupBy("cell").count().collect()}
    q_rows = small.filter(F.col("id") < 6) \
        .select(F.col("id").alias("q_id"), "vector").collect()
    c_rows = centroids.select("id", "vector").collect()
    mass = 120
    probes = _probe_cells_local(q_rows, c_rows, 1, mass=(counts, mass))
    assert set(probes) == set(range(6))
    total = sum(counts.values())
    for cells in probes.values():
        covered = sum(counts.get(int(c), 0) for c in cells)
        assert covered >= min(mass, total)
        # dropping ANY one probed cell must leave prior-mass < budget
        # for the cell that followed it => the SMALLEST probed set
        biggest = max(counts.get(int(c), 0) for c in cells)
        assert covered - biggest < mass
    full = _probe_cells_local(q_rows, c_rows, 1, mass=(counts, total + 1))
    nonempty = {c for c, n in counts.items() if n > 0}
    assert all(set(map(int, v)) >= nonempty for v in full.values())


@pytest.mark.parametrize("family", ["ivf_topk", "ivfpq_topk", "ivf_bq_topk",
                                    "ivf_bq_sq8_topk", "knn_join",
                                    "knn_join_sq8"])
def test_probe_mass_below_one_raises(spark, clustered, family):
    """A probe-mass budget below 1, or a fixed nprobe below 1, probes
    no cell: every IVF family refuses it on the driver with ValueError
    instead of returning zero rows or failing inside a Python worker."""
    from fspann_query_system_spark.ops.pq import ivfpq_topk
    from fspann_query_system_spark.ops.similarity import (
        bq_thresholds, ivf_assign, ivf_bq_sq8_topk, ivf_bq_topk, ivf_topk,
        knn_join, knn_join_sq8, sq8_stats)
    df, X = clustered
    small = df.filter(F.col("id") < 200)
    cents = small.filter(F.col("id") % 50 == 0)
    assigned = ivf_assign(small, cents)
    q = small.filter(F.col("id") < 3) \
        .select(F.col("id").alias("q_id"), "vector")
    mins, maxs = sq8_stats(small)
    thr = bq_thresholds(mins, maxs)
    cb = spark.createDataFrame(
        [(s, c, X[c, 8 * s:8 * s + 8].tolist())
         for s in range(2) for c in range(4)],
        "sub INT, cell INT, vector ARRAY<DOUBLE>")
    calls = {
        "ivf_topk": lambda **kw: ivf_topk(small, q, cents, k=5,
                                          assigned=assigned, **kw),
        "ivfpq_topk": lambda **kw: ivfpq_topk(small, q, cents, cb, k=5,
                                              assigned=assigned, **kw),
        "ivf_bq_topk": lambda **kw: ivf_bq_topk(small, q, cents, thr, k=5,
                                                assigned=assigned, **kw),
        "ivf_bq_sq8_topk": lambda **kw: ivf_bq_sq8_topk(
            small, q, cents, thr, mins, maxs, k=5, assigned=assigned, **kw),
        "knn_join": lambda **kw: knn_join(small, cents, k=5,
                                          assigned=assigned, **kw),
        "knn_join_sq8": lambda **kw: knn_join_sq8(
            small, cents, mins, maxs, k=5, assigned=assigned, **kw)}
    with pytest.raises(ValueError, match="probe mass budget"):
        calls[family](probe_mass=0)
    with pytest.raises(ValueError, match="nprobe must be >= 1"):
        calls[family](nprobe=0)


def test_ivf_bq_sq8_adaptive_budget_beats_matched_fixed_probes(spark,
                                                               clustered):
    """End-to-end adaptive probing: with a saturating mass budget the
    three-tier plan equals exhaustive exact search (same degeneracy
    contract as the fixed-probe test), and at a tight budget the
    result ranks within probed cells exactly (every query returns k
    rows, self-match at rank 1)."""
    from fspann_query_system_spark.ops.similarity import (
        sq8_stats, bq_thresholds, ivf_bq_sq8_topk)
    from fspann_query_system_spark.query.exact import knn_exact
    df, X = clustered
    small = df.filter(F.col("id") < 300)
    centroids = small.filter(F.col("id") % 50 == 0)
    mins, maxs = sq8_stats(small)
    q = small.filter(F.col("id") < 5) \
        .select(F.col("id").alias("q_id"), "vector")
    got = sorted(
        (r.q_id, r.id, round(r.dist, 9), r.rank) for r in
        ivf_bq_sq8_topk(small, q, centroids, bq_thresholds(mins, maxs),
                        mins, maxs, k=5, bq_keep=100, rerank=100,
                        probe_mass=10 ** 9).collect())
    want = sorted(
        (r.q_id, r.id, round(r.distance, 9), r.rank) for r in
        knn_exact(small, q, k=5).collect())
    assert got == want
    tight = ivf_bq_sq8_topk(small, q, centroids, bq_thresholds(mins, maxs),
                            mins, maxs, k=5, bq_keep=100, rerank=100,
                            probe_mass=60).collect()
    by_q = {}
    for r in tight:
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == set(range(5))
    for qid, rows in by_q.items():
        assert len(rows) == 5
        top = min(rows, key=lambda r: r.rank)
        assert top.id == qid and top.dist == 0.0


def test_knn_join_pairs_scored_once_per_probed_cell_membership(spark,
                                                               clustered):
    """Each base row lives in ONE cell, so (q, neighbour) pairs are
    unique even at nprobe > 1 — the graph never needs a distinct."""
    from fspann_query_system_spark.ops.similarity import knn_join
    df, X = clustered
    small = df.filter(F.col("id") < 200)
    centroids = small.filter(F.col("id") % 40 == 0)
    out = knn_join(small, centroids, k=200, nprobe=2,
                   exclude_self=False).collect()
    pairs = [(r.q_id, r.id) for r in out]
    assert len(pairs) == len(set(pairs))
    # rank is dense 1..n_candidates per query
    by_q = {}
    for r in out:
        by_q.setdefault(r.q_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1))
               for v in by_q.values())


def test_ivfpq_residual_resolves_intra_cell_ties(spark, clustered):
    from fspann_query_system_spark.ops.pq import (pq_fit, ivfpq_topk,
                                                  residual_table)
    from fspann_query_system_spark.ops.similarity import ivf_assign
    from fspann_query_system_spark.query.exact import knn_exact
    df, X = clustered
    centroids = df.filter(F.col("id") < 16)
    assigned = ivf_assign(df, centroids)
    q = df.filter(F.col("id") < 15).select(F.col("id").alias("q_id"), "vector")
    ex = {}
    for r in knn_exact(df, q, k=5).collect():
        ex.setdefault(r.q_id, set()).add(r.id)

    def hits(out):
        by_q = {}
        for r in out:
            by_q.setdefault(r.q_id, set()).add(r.id)
        return sum(len(ex[qid] & ids) for qid, ids in by_q.items())

    # raw-vector codebook at a small rerank: intra-cell ADC ties cap recall
    cb_raw = pq_fit(df, m_sub=4, k=8, iters=2)
    raw = hits(ivfpq_topk(df, q, centroids, cb_raw, k=5, nprobe=4,
                          rerank=4).collect())
    # residual codebook (faiss by_residual): same budget, ties resolved
    res = residual_table(df, centroids, assigned=assigned)
    cb_res = pq_fit(res, m_sub=4, k=8, iters=2, init_offset=16)
    rr = ivfpq_topk(df, q, centroids, cb_res, k=5, nprobe=4,
                    rerank=4, assigned=assigned, by_residual=True).collect()
    resid = hits(rr)
    assert resid > raw          # the point of residual encoding
    assert resid >= 55          # recall@5 >= 0.73 at rerank=4 (dim-16 codes)
    firsts = {r.q_id: r for r in rr if r.rank == 1}
    assert all(firsts[qid].id == qid and firsts[qid].dist == 0.0
               for qid in range(15))


def test_temperature_mix_flattens_toward_tail_sources(spark):
    from fspann_query_system_spark.ops.sampling import temperature_mix
    rows = ([(i, "big") for i in range(900)]
            + [(1000 + i, "small") for i in range(100)])
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING")
    out = temperature_mix(df, alpha=0.5, budget_frac=0.5).collect()
    rates = {}
    for r in out:
        rates[r.source] = r.rate
    # alpha < 1 up-weights the tail: small-source keep rate strictly higher
    assert rates["small"] > rates["big"]
    # alpha = 1 reproduces natural proportions: every rate == budget_frac
    flat = {r.source: r.rate
            for r in temperature_mix(df, alpha=1.0, budget_frac=0.5).collect()}
    assert flat == {"big": 0.5, "small": 0.5}
    # deterministic: same rows kept on re-run
    a = sorted(r.doc_id for r in out)
    b = sorted(r.doc_id for r in
               temperature_mix(df, alpha=0.5, budget_frac=0.5).collect())
    assert a == b


def test_dsir_weights_ranks_target_like_docs_higher(spark):
    """Docs written in the target domain's vocabulary must outscore
    docs from a disjoint vocabulary, and weights are deterministic
    under repartitioning."""
    from pyspark.sql import functions as F
    from fspann_query_system_spark.ops.quality import dsir_weights
    target_text = "the quick brown fox jumps over the lazy dog again "
    other_text = "zzz qqq www eee rrr ttt yyy uuu iii ooo ppp "
    rows = ([(i, "t", target_text * 3) for i in range(30)]          # target
            + [(100 + i, "r", target_text * 3) for i in range(10)]  # raw, target-like
            + [(200 + i, "r", other_text * 3) for i in range(10)])  # raw, alien
    docs = spark.createDataFrame(rows, "doc_id LONG, side STRING, text STRING")
    out = dsir_weights(docs, F.col("side") == "t", n_buckets=64)
    w = {r.doc_id: r.dsir_logw for r in out.collect()}
    assert len(w) == 50
    # every target-like raw doc beats every alien raw doc
    assert min(w[100 + i] for i in range(10)) > max(w[200 + i]
                                                    for i in range(10))
    again = dsir_weights(docs.repartition(7), F.col("side") == "t",
                         n_buckets=64)
    assert {r.doc_id: r.dsir_logw for r in again.collect()} == w
    # fast-path hash: same doc set and gram counts, same ranking property
    fast = dsir_weights(docs, F.col("side") == "t", n_buckets=64,
                        bucket_hash="xxhash64")
    wf = {r.doc_id: r.dsir_logw for r in fast.collect()}
    assert set(wf) == set(w)
    assert min(wf[100 + i] for i in range(10)) > max(wf[200 + i]
                                                     for i in range(10))


def test_semantic_decontaminate_flags_planted_leaks_only(spark):
    """A near-copy of a benchmark vector is flagged against exactly
    that benchmark row; orthogonal vectors are not flagged."""
    from fspann_query_system_spark.ops.similarity import semantic_decontaminate
    import math
    dim = 8
    def unit(axis):
        v = [0.0] * dim
        v[axis] = 1.0
        return v
    bench = spark.createDataFrame(
        [(i, unit(i)) for i in range(3)], "id LONG, vector ARRAY<DOUBLE>")
    leak = [0.99] + [0.01] * (dim - 1)              # ~axis-0 copy
    base = spark.createDataFrame(
        [(10, leak), (11, unit(4)), (12, unit(5))],
        "id LONG, vector ARRAY<DOUBLE>")
    out = semantic_decontaminate(base, bench, threshold=0.9).collect()
    assert [(r.id, r.bench_id) for r in out] == [(10, 0)]
    assert math.isclose(out[0].cosine,
                        0.99 / math.sqrt(0.99**2 + 7 * 0.01**2),
                        rel_tol=1e-6)


def test_semantic_decontaminate_is_map_only(spark):
    """Plan shape: the corpus side never shuffles — no Exchange above
    the scan, no join, no CartesianProduct."""
    from fspann_query_system_spark.ops.similarity import semantic_decontaminate
    bench = spark.createDataFrame([(0, [1.0, 0.0])],
                                  "id LONG, vector ARRAY<DOUBLE>")
    base = spark.createDataFrame([(1, [0.5, 0.5])],
                                 "id LONG, vector ARRAY<DOUBLE>")
    plan = (semantic_decontaminate(base, bench, threshold=0.1)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan


def test_cluster_sample_caps_every_cell_and_is_deterministic(spark):
    from fspann_query_system_spark.ops.sampling import cluster_sample
    from fspann_query_system_spark.ops.similarity import kmeans_fit
    import random
    rng = random.Random(7)
    # two well-separated blobs, 60 rows each
    rows = [(i, [rng.uniform(-0.1, 0.1) + (10.0 if i % 2 else -10.0),
                 rng.uniform(-0.1, 0.1)]) for i in range(120)]
    df = spark.createDataFrame(rows, "id LONG, vector ARRAY<DOUBLE>")
    cent = kmeans_fit(df, k=2, iters=2)
    out = cluster_sample(df, cent, per_cell=15).collect()
    per_cell = {}
    for r in out:
        per_cell.setdefault(r.cell, []).append(r.rk)
    assert set(per_cell) == {0, 1}
    for ranks in per_cell.values():
        assert sorted(ranks) == list(range(1, 16))
    again = cluster_sample(df.repartition(5), cent, per_cell=15).collect()
    assert sorted((r.cell, r.id, r.rk) for r in again) == \
        sorted((r.cell, r.id, r.rk) for r in out)


def test_bloom_decontaminate_supersets_exact_hits(spark):
    """Bloom membership can false-positive but NEVER false-negative:
    per doc, bloom n_hit >= exact n_hit, and every exactly-contaminated
    doc is bloom-contaminated."""
    from fspann_query_system_spark.ops.quality import (bloom_decontaminate,
                                                       decontaminate)
    bench_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(0, bench_text), (50, "one two three four five six seven")]
    rows += [(i, bench_text + f" tail{i}") for i in range(1, 11)]   # leaks
    rows += [(60 + i, f"clean{i} " + " ".join(f"w{i}x{j}" for j in range(9)))
             for i in range(10)]                                    # clean
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    exact = {r.doc_id: r for r in decontaminate(docs).collect()}
    bloom = {r.doc_id: r for r in
             bloom_decontaminate(docs, m_bits=1 << 14).collect()}
    assert set(exact) == set(bloom)
    for d, e in exact.items():
        assert bloom[d].n_hit >= e.n_hit
        assert bloom[d].n_grams == e.n_grams
        if e.contaminated:
            assert bloom[d].contaminated
    # the planted leaks are contaminated through the bloom path too
    assert all(bloom[i].contaminated for i in range(1, 11))
    assert not any(bloom[60 + i].contaminated for i in range(10))


def test_lsh_band_geometry_pins_the_s_curve_law():
    from fspann_query_system_spark.ops.dedup import lsh_band_geometry
    import pytest
    # crossover (1/b)^(1/r); closest-from-below wins
    assert lsh_band_geometry(0.5, 8) == (4, 2)     # crossover exactly 0.5
    assert lsh_band_geometry(0.8, 16) == (4, 4)    # 0.707, vs (2,8)=0.917
    assert lsh_band_geometry(0.5, 16) == (8, 2)    # 0.354
    assert lsh_band_geometry(0.9, 64) == (8, 8)    # 0.771
    # nothing below the threshold -> closest anywhere
    assert lsh_band_geometry(0.01, 4) == (4, 1)
    with pytest.raises(ValueError):
        lsh_band_geometry(1.5, 8)


def test_near_dup_pipeline_auto_bands_matches_explicit(spark):
    from fspann_query_system_spark.ops.dedup import (near_dup_pipeline,
                                                     lsh_band_geometry)
    rows = [(i, f"doc {i} unique words alpha{i} beta{i} gamma{i} delta{i}")
            for i in range(40)]
    rows += [(100 + i, rows[i][1]) for i in range(5)]       # exact dups
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    b, _ = lsh_band_geometry(0.5, 8)
    auto = sorted(tuple(r) for r in
                  near_dup_pipeline(docs, n_hashes=8, bands="auto",
                                    threshold=0.5).collect())
    explicit = sorted(tuple(r) for r in
                      near_dup_pipeline(docs, n_hashes=8, bands=b,
                                        threshold=0.5).collect())
    assert auto == explicit
    dropped = {i for i, c, keep in auto if not keep}
    assert dropped == {100 + i for i in range(5)}


def test_dsir_sample_gumbel_topk_is_deterministic_and_weight_biased(spark):
    from pyspark.sql import functions as F
    from fspann_query_system_spark.ops.quality import dsir_sample, dsir_weights
    target_text = "the quick brown fox jumps over the lazy dog again "
    other_text = "zzz qqq www eee rrr ttt yyy uuu iii ooo ppp "
    rows = ([(i, "t", target_text * 3) for i in range(30)]
            + [(100 + i, "r", target_text * 3) for i in range(20)]
            + [(200 + i, "r", other_text * 3) for i in range(20)])
    docs = spark.createDataFrame(rows, "doc_id LONG, side STRING, text STRING")
    sel = dsir_sample(docs, F.col("side") == "t", n_keep=25, n_buckets=64)
    got = sel.collect()
    assert len(got) == 25 and sorted(r.rk for r in got) == list(range(1, 26))
    # deterministic under repartitioning
    again = dsir_sample(docs.repartition(9), F.col("side") == "t",
                        n_keep=25, n_buckets=64).collect()
    assert sorted((r.doc_id, r.rk) for r in again) == \
        sorted((r.doc_id, r.rk) for r in got)
    # resampling is weight-biased: selected mean logw > corpus mean logw
    all_w = {r.doc_id: r.dsir_logw for r in
             dsir_weights(docs, F.col("side") == "t",
                          n_buckets=64).collect()}
    sel_mean = sum(r.dsir_logw for r in got) / len(got)
    assert sel_mean > sum(all_w.values()) / len(all_w)
    # a different salt draws a different (still deterministic) sample
    salted = dsir_sample(docs, F.col("side") == "t", n_keep=25,
                         n_buckets=64, salt="s2").collect()
    assert {r.doc_id for r in salted} != {r.doc_id for r in got}


def test_dsir_fit_apply_equals_one_call(spark):
    """Scoring with a pre-fitted ratio table (ONE corpus scan) is
    bit-identical to the one-call two-scan form."""
    from pyspark.sql import functions as F
    from fspann_query_system_spark.ops.quality import dsir_fit, dsir_weights
    docs = spark.createDataFrame(
        [(i, "en" if i % 3 else "de",
          f"some shared words plus unique tail w{i} x{i}") for i in range(60)],
        "doc_id LONG, lang STRING, text STRING")
    tgt = F.col("lang") == "en"
    one_call = {r.doc_id: (r.n_grams, r.dsir_logw) for r in
                dsir_weights(docs, tgt, n_buckets=64).collect()}
    ratio = dsir_fit(docs, tgt, n_buckets=64).persist()
    applied = {r.doc_id: (r.n_grams, r.dsir_logw) for r in
               dsir_weights(docs, tgt, n_buckets=64,
                            ratio=ratio).collect()}
    assert applied == one_call


def test_dsir_prefit_scores_out_of_fit_grams_at_smoothed_floor(spark):
    """A pre-fitted ratio table must score docs whose grams hash to
    buckets UNSEEN in the fit pool (the frame fix): n_grams counts
    every gram, and each unseen bucket contributes the add-alpha floor
    ln(tr+aB)-ln(tt+aB) instead of being silently dropped."""
    import math
    from pyspark.sql import functions as F
    from fspann_query_system_spark.ops.quality import dsir_fit, dsir_weights
    fit_docs = spark.createDataFrame(
        [(0, "t", "aa bb"), (1, "r", "aa cc")],
        "doc_id LONG, side STRING, text STRING")
    # one out-of-distribution doc: 3 tokens + 2 bigrams = 5 grams, all novel
    ood = spark.createDataFrame(
        [(9, "r", "zz yy xx")], "doc_id LONG, side STRING, text STRING")
    nb, a = 64, 1.0
    ratio = dsir_fit(fit_docs, F.col("side") == "t", n_buckets=nb,
                     alpha=a).persist()
    assert ratio.count() == nb  # framed to exactly n_buckets rows
    out = dsir_weights(ood, F.col("side") == "t", n_buckets=nb,
                       ratio=ratio).collect()
    assert len(out) == 1 and out[0].n_grams == 5
    # fit pool: 6 grams total, 3 of them target → tt=3, tr=6
    floor = ((math.log(0 + a) - math.log(3 + a * nb))
             - (math.log(0 + a) - math.log(6 + a * nb)))
    # allow for hash collisions with fit-pool buckets: only assert if
    # the ood grams landed clear of the 6 fit grams' buckets; with 64
    # buckets and disjoint vocab that is the overwhelmingly likely
    # deterministic outcome for this fixed fixture — check exactly.
    assert abs(out[0].dsir_logw - round(5 * floor, 4)) < 1e-6


def test_dsir_sample_forwards_bucket_hash_to_prefit_ratio(spark):
    """dsir_sample(bucket_hash=...) pairs grams with the SAME bucket
    space the ratio was fitted in — xxhash64 fit + xxhash64 sample
    equals the inline xxhash64 one-call sample."""
    from pyspark.sql import functions as F
    from fspann_query_system_spark.ops.quality import dsir_fit, dsir_sample
    docs = spark.createDataFrame(
        [(i, "en" if i % 3 else "de",
          f"some shared words plus unique tail w{i} x{i}") for i in range(60)],
        "doc_id LONG, lang STRING, text STRING")
    tgt = F.col("lang") == "en"
    inline = {(r.doc_id, r.key, r.rk) for r in
              dsir_sample(docs, tgt, n_keep=20, n_buckets=64,
                          bucket_hash="xxhash64").collect()}
    ratio = dsir_fit(docs, tgt, n_buckets=64,
                     bucket_hash="xxhash64").persist()
    applied = {(r.doc_id, r.key, r.rk) for r in
               dsir_sample(docs, tgt, n_keep=20, n_buckets=64,
                           bucket_hash="xxhash64", ratio=ratio).collect()}
    assert applied == inline


def test_rrf_fuse_known_values_and_absent_list_semantics(spark):
    from fspann_query_system_spark.ops.retrieval import rrf_fuse
    a = spark.createDataFrame([(0, 10, 1), (0, 11, 2)],
                              "q_id LONG, doc_id LONG, rank INT")
    b = spark.createDataFrame([(0, 11, 1), (0, 12, 2)],
                              "q_id LONG, doc_id LONG, rank INT")
    out = {r.doc_id: r for r in rrf_fuse(a, b, k=10).collect()}
    # doc 11 in both lists (rank 2 + rank 1); 10 and 12 in one each
    assert out[11].n_lists == 2
    assert abs(out[11].rrf - (1 / 62 + 1 / 61)) < 1e-6
    assert out[10].n_lists == 1 and abs(out[10].rrf - 1 / 61) < 1e-6
    assert out[12].n_lists == 1 and abs(out[12].rrf - 1 / 62) < 1e-6
    # fused order: 11 (both lists) first, then 10 (rank1) over 12 (rank2)
    assert [r.doc_id for r in sorted(out.values(), key=lambda r: r.rank)] \
        == [11, 10, 12]


def test_bigram_logprob_separates_shuffled_from_fluent(spark):
    """Unigram NLL cannot distinguish a doc from its own shuffle;
    bigram NLL must — the property that justifies the extra model
    order.  Corpus: many fluent copies + one token-shuffled copy."""
    from fspann_query_system_spark.ops.quality import bigram_logprob
    fluent = "the quick brown fox jumps over the lazy dog"
    shuffled = "dog the over quick lazy jumps brown the fox"
    rows = [(i, fluent) for i in range(20)] + [(99, shuffled)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {r.doc_id: r for r in bigram_logprob(docs).collect()}
    assert len(out) == 21
    assert all(out[i].n_bigrams == 8 for i in range(20))
    # every fluent doc scores strictly better (lower NLL) than the shuffle
    assert max(out[i].avg_nll for i in range(20)) < out[99].avg_nll


def test_knn_join_sq8_probe_groups_identical(spark, clustered):
    """probe_groups staging is a pure physical rewrite — top-m over a
    union equals top-m of per-group top-m — so g=1/2/3 emit IDENTICAL
    rows (ids, dists, ranks).  The knob exists to divide the stage-1→2
    shortlist shuffle (n·nprobe·k rows, the footprint that overflowed
    the 10M nprobe-16 box, SCALE.md §9g addendum 3)."""
    from fspann_query_system_spark.ops.similarity import (knn_join_sq8,
                                                          sq8_stats)
    df, X = clustered
    small = df.filter(F.col("id") < 500)
    cents = small.filter(F.col("id") % 100 == 0)     # 5 cells
    mins, maxs = sq8_stats(small)
    base = sorted((r.q_id, r.id, r.dist, r.rank) for r in
                  knn_join_sq8(small, cents, mins, maxs, k=5,
                               nprobe=3).collect())
    for g in (2, 3):
        got = sorted((r.q_id, r.id, r.dist, r.rank) for r in
                     knn_join_sq8(small, cents, mins, maxs, k=5, nprobe=3,
                                  probe_groups=g).collect())
        assert got == base, f"probe_groups={g} diverged"


def test_containment_pairs_finds_doc_in_doc(spark):
    """A short doc fully contained in a long one: containment 1.0 but
    Jaccard ~ |A|/|B| — kept by containment_pairs, structurally missed
    by a Jaccard gate at any resemblance threshold."""
    from fspann_query_system_spark.ops.dedup import (containment_pairs,
                                                     jaccard_pairs)
    long_text = " ".join(f"w{i}" for i in range(60))
    short_text = " ".join(f"w{i}" for i in range(20, 30))   # quoted span
    other = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(0, long_text), (1, short_text), (2, other)],
        "doc_id LONG, text STRING")
    rows = containment_pairs(docs, threshold=0.8).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.id_a, r.id_b) == (0, 1)
    assert r.cont_b == 1.0            # all of the short doc is inside
    assert r.cont_a == r.jaccard      # |A∩B|=|B| ⇒ cont_a = jaccard
    assert r.jaccard < 0.2
    assert jaccard_pairs(docs, threshold=0.5).count() == 0


def test_containment_pairs_identical_docs_and_capped_twin(spark):
    """Identical docs: cont_a = cont_b = jaccard = 1.0; and the df cap
    flows through the shared core exactly as in jaccard_pairs (the
    capped jaccard column matches the twin's value row-for-row)."""
    from fspann_query_system_spark.ops.dedup import (containment_pairs,
                                                     jaccard_pairs)
    docs = spark.createDataFrame(
        [(0, "a b c d e f g"), (1, "a b c d e f g"),
         (2, "a b c d e f g h i"), (3, "x y z w v u t")],
        "doc_id LONG, text STRING")
    out = {(r.id_a, r.id_b): r for r in
           containment_pairs(docs, threshold=0.0, max_df=10).collect()}
    assert out[(0, 1)].cont_a == 1.0 and out[(0, 1)].cont_b == 1.0 \
        and out[(0, 1)].jaccard == 1.0
    jac = {(r.id_a, r.id_b): r.jaccard for r in
           jaccard_pairs(docs, threshold=0.0, max_df=10).collect()}
    assert {k: v.jaccard for k, v in out.items()} == jac


def test_pii_scrub_redacts_and_counts(spark):
    """Emails/IPv4s are replaced by sentinels with per-doc counts;
    out-of-range octets (999.x) are rejected by the octet grammar +
    word boundaries, while an in-range dotted-quad inside a longer
    dotted run still matches (leftmost match semantics, identical in
    Java regex and RE2 — the oracle-portability contract)."""
    import pytest as _pytest
    from fspann_query_system_spark.ops.quality import pii_scrub
    docs = spark.createDataFrame(
        [(0, "mail a.b+c@ex-ample.org and x@y.io from 10.0.255.1"),
         (1, "no pii here"),
         (2, "999.1.1.1 and 1.2.3.4.5 edge: 1.2.3.4")],
        "doc_id LONG, text STRING")
    out = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert out[0].n_email == 2 and out[0].n_ipv4 == 1
    assert "@" not in out[0].text_clean
    assert "<EMAIL>" in out[0].text_clean and "<IPV4>" in out[0].text_clean
    assert out[1].text_clean == "no pii here"
    assert out[1].n_email == 0 and out[1].n_ipv4 == 0
    assert out[2].n_ipv4 == 2                      # 1.2.3.4 twice
    assert "999.1.1.1" in out[2].text_clean        # rejected octet kept
    with _pytest.raises(ValueError):
        pii_scrub(docs, kinds=("email", "ssn")).collect()


def test_knn_join_sq8_staged_negative_cells_match_single_pass(spark):
    """Negative cell ids through the staged path: the group filter must
    use pmod (advice r10 — SQL '%' keeps the dividend's sign, silently
    dropping every negative cell's candidates), so staged and
    single-pass agree."""
    import numpy as np
    from fspann_query_system_spark.ops.similarity import (knn_join_sq8,
                                                          sq8_stats)
    rng = np.random.default_rng(7)
    X = rng.normal(0, 2, (300, 16))
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(len(X))],
        "id LONG, vector ARRAY<DOUBLE>")
    # centroid ids deliberately negative (user-supplied id space)
    cents = spark.createDataFrame(
        [(-(j + 1), X[j * 50].tolist()) for j in range(6)],
        "id LONG, vector ARRAY<DOUBLE>")
    mins, maxs = sq8_stats(df)
    base = sorted((r.q_id, r.id, r.dist, r.rank) for r in
                  knn_join_sq8(df, cents, mins, maxs, k=5,
                               nprobe=3).collect())
    got = sorted((r.q_id, r.id, r.dist, r.rank) for r in
                 knn_join_sq8(df, cents, mins, maxs, k=5, nprobe=3,
                              probe_groups=2).collect())
    assert got == base


def test_knn_join_decremental_equals_full_rebuild(spark, clustered):
    """Deleting rows from a standing graph (frozen quantizer) must
    equal the rebuild over the survivors bit-for-bit — including
    REPLACEMENT (an affected query pulling a new neighbour from
    beyond its old top-k) — and an empty deletion must be identity."""
    from fspann_query_system_spark.ops.similarity import (
        ivf_assign, knn_join, knn_join_decremental)
    df, X = clustered
    full = df.filter(F.col("id") < 700)
    cents = full.filter(F.col("id") % 100 == 0)
    is_del = (F.col("id") % 13 == 5) & (F.col("id") % 100 != 0)
    assigned = ivf_assign(full, cents)
    og = knn_join(full, cents, k=5, nprobe=2, assigned=assigned)
    dec = sorted(map(tuple, knn_join_decremental(
        og, assigned, full.filter(is_del).select("id"), cents,
        k=5, nprobe=2).collect()))
    want = sorted(map(tuple, knn_join(
        full.filter(~is_del), cents, k=5, nprobe=2).collect()))
    assert dec == want
    # replacement happened: some surviving query gained a neighbour
    # it did not have before the deletion
    old_edges = {(r.q_id, r.id) for r in og.collect()}
    gained = {(q, i) for (q, i, d, rk) in dec} - old_edges
    assert gained
    # empty deletion: identity (ranks included)
    empty = full.filter(F.col("id") < 0).select("id")
    dec0 = sorted(map(tuple, knn_join_decremental(
        og, assigned, empty, cents, k=5, nprobe=2).collect()))
    assert dec0 == sorted(map(tuple, og.collect()))


def test_knn_graph_fold_upsert_delete_then_reinsert_identity(
        spark, clustered):
    """The upsert fold's composed contract: deleting a set and
    re-inserting the SAME rows in one fold(deletes=, new_batch=) is
    the identity on the graph, and the probe/assign state round-trips
    — the in-place-update path a continuously-maintained corpus
    uses."""
    from fspann_query_system_spark.ops.similarity import (
        _nearest_cells, ivf_assign, knn_join, knn_graph_fold)
    df, X = clustered
    full = df.filter(F.col("id") < 600)
    cents = full.filter(F.col("id") % 100 == 0)
    is_mut = (F.col("id") % 11 == 4) & (F.col("id") % 100 != 0)
    assigned = ivf_assign(full, cents)
    probes = _nearest_cells(full, cents, 2, "id", "vector", "id",
                            "vector", keep_vector=False)
    og = knn_join(full, cents, k=5, nprobe=2, assigned=assigned)
    g2, p2, a2 = knn_graph_fold(
        og, probes, assigned, full.filter(is_mut), cents, k=5,
        nprobe=2,
        deletes=full.filter(is_mut).select("id"))
    assert (sorted(map(tuple, g2.collect()))
            == sorted(map(tuple, og.collect())))
    assert (sorted((r.id, r.cell) for r in p2.collect())
            == sorted((r.id, r.cell) for r in probes.collect()))
    assert (sorted((r.id, r.cell) for r in a2.collect())
            == sorted((r.id, r.cell) for r in assigned.collect()))


# ---------------------------------------------------------------------------
# r12 optimization round: fused/driver-side plan spellings must be
# bit-identical to the plan shapes they replaced
# ---------------------------------------------------------------------------

def test_probe_cells_local_matches_kernel_fixed_and_mass(spark, clustered):
    """_probe_cells_local (driver-side probe sets over the collected
    query batch) runs the _nearest_cells kernel's cell rule — fixed and
    mass-budget probe sets must equal the distributed spelling's."""
    from pyspark.sql import functions as F
    from fspann_query_system_spark.ops.similarity import (
        _nearest_cells, _probe_cells_local, ivf_assign)
    df, X = clustered
    base = df.filter(F.col("id") < 700)
    cents = base.filter(F.col("id") % 90 == 0)
    q = base.filter(F.col("id") % 13 == 5).select(
        F.col("id").alias("q_id"), "vector")
    q_rows = q.collect()
    c_rows = cents.select("id", "vector").collect()
    # fixed top-3
    dist = {}
    for r in _nearest_cells(q, cents, 3, "q_id", "vector", "id", "vector",
                            keep_vector=False).collect():
        dist.setdefault(r.q_id, set()).add(r.cell)
    loc = _probe_cells_local(q_rows, c_rows, 3)
    assert {k: set(v.tolist()) for k, v in loc.items()} == dist
    # adaptive mass budget
    counts = {r.cell: r["count"] for r in
              ivf_assign(base, cents).groupBy("cell").count().collect()}
    dist_m = {}
    for r in _nearest_cells(q, cents, 3, "q_id", "vector", "id", "vector",
                            keep_vector=False,
                            mass=(counts, 120)).collect():
        dist_m.setdefault(r.q_id, set()).add(r.cell)
    loc_m = _probe_cells_local(q_rows, c_rows, 3, mass=(counts, 120))
    assert {k: set(v.tolist()) for k, v in loc_m.items()} == dist_m


def test_ivfpq_fused_encode_assign_matches_join_path(spark, clustered):
    """ivfpq_topk's fused (id, codes, cell) scan — pq_encode with
    assign_centroids / carry_cell — must reproduce the join spelling
    (separate ivf_assign ⋈ pq_encode) bit-for-bit, fixed and residual."""
    from pyspark.sql import functions as F
    from fspann_query_system_spark.ops.pq import (pq_fit, pq_encode,
                                                  ivfpq_topk,
                                                  residual_table)
    from fspann_query_system_spark.ops.similarity import ivf_assign
    df, X = clustered
    base = df.filter(F.col("id") < 600)
    cents = base.filter(F.col("id") % 75 == 0)
    q = base.filter(F.col("id") % 97 == 3).select(
        F.col("id").alias("q_id"), "vector")
    cb = pq_fit(base, m_sub=4, k=4, iters=1)
    assigned = ivf_assign(base, cents)
    # kernel-level: fused cell column == ivf_assign's cell column
    fused = {r.id: (list(r.codes), r.cell) for r in
             pq_encode(base, cb, assign_centroids=cents).collect()}
    plain = {r.id: list(r.codes) for r in pq_encode(base, cb).collect()}
    cells = {r.id: r.cell for r in assigned.select("id", "cell").collect()}
    assert fused == {i: (plain[i], cells[i]) for i in plain}
    # end-to-end: on-the-fly (fused) == assigned-given (join path)
    a = sorted(map(tuple, ivfpq_topk(base, q, cents, cb, k=5, nprobe=2,
                                     rerank=8).collect()))
    b = sorted(map(tuple, ivfpq_topk(base, q, cents, cb, k=5, nprobe=2,
                                     rerank=8, assigned=assigned).collect()))
    assert a == b
    # residual: carry_cell spelling == explicit-assigned spelling
    res = residual_table(base, cents, assigned=assigned)
    cbr = pq_fit(res, m_sub=4, k=4, iters=1, init_offset=1)
    r1 = sorted(map(tuple, ivfpq_topk(base, q, cents, cbr, k=5, nprobe=2,
                                      rerank=8, by_residual=True).collect()))
    r2 = sorted(map(tuple, ivfpq_topk(base, q, cents, cbr, k=5, nprobe=2,
                                      rerank=8, by_residual=True,
                                      assigned=assigned).collect()))
    assert r1 == r2
    # r12: pre-fused cell-carrying codes= (the checkpointed-residual
    # spelling q_ivfpq_residual_ann uses) == on-the-fly rebuild
    pre = pq_encode(res.localCheckpoint(eager=True), cbr, carry_cell=True)
    r3 = sorted(map(tuple, ivfpq_topk(base, q, cents, cbr, k=5, nprobe=2,
                                      rerank=8, by_residual=True,
                                      codes=pre).collect()))
    assert r1 == r3


def test_ivf_bq_fused_assign_matches_join_path(spark, clustered):
    """_ivf_bq_partial's fused encode+assign scan (no assigned/codes
    given) must equal the join spelling (assigned given), for both the
    two-tier and three-tier compositions."""
    from pyspark.sql import functions as F
    from fspann_query_system_spark.ops.similarity import (
        bq_thresholds, ivf_assign, ivf_bq_topk, ivf_bq_sq8_topk, sq8_stats)
    df, X = clustered
    base = df.filter(F.col("id") < 600)
    cents = base.filter(F.col("id") % 75 == 0)
    q = base.filter(F.col("id") % 97 == 3).select(
        F.col("id").alias("q_id"), "vector")
    mins, maxs = sq8_stats(base)
    thr = bq_thresholds(mins, maxs)
    assigned = ivf_assign(base, cents)
    a = sorted(map(tuple, ivf_bq_topk(base, q, cents, thr, k=5, nprobe=2,
                                      rerank=8).collect()))
    b = sorted(map(tuple, ivf_bq_topk(base, q, cents, thr, k=5, nprobe=2,
                                      rerank=8,
                                      assigned=assigned).collect()))
    assert a == b
    t1 = sorted(map(tuple, ivf_bq_sq8_topk(
        base, q, cents, thr, mins, maxs, k=5, nprobe=2, bq_keep=8,
        rerank=4).collect()))
    t2 = sorted(map(tuple, ivf_bq_sq8_topk(
        base, q, cents, thr, mins, maxs, k=5, nprobe=2, bq_keep=8,
        rerank=4, assigned=assigned).collect()))
    assert t1 == t2
    # adaptive probing still fuses (census stays local to the caller)
    m1 = sorted(map(tuple, ivf_bq_sq8_topk(
        base, q, cents, thr, mins, maxs, k=5, bq_keep=8, rerank=4,
        probe_mass=150).collect()))
    m2 = sorted(map(tuple, ivf_bq_sq8_topk(
        base, q, cents, thr, mins, maxs, k=5, bq_keep=8, rerank=4,
        probe_mass=150, assigned=assigned).collect()))
    assert m1 == m2


def test_adaptive_census_from_fused_codes_matches_assign_pass(spark,
                                                              clustered):
    """r12: the probe_mass census now derives from the checkpointed
    fused (id, words/codes, cell) table instead of a census-only
    ivf_assign corpus pass — the fused cell column, and therefore the
    census and every adaptive result, must be bit-identical to the
    separate-assign spelling."""
    from pyspark.sql import functions as F
    from fspann_query_system_spark.ops.similarity import (
        _bq_encode_cells, bq_encode, bq_thresholds, ivf_assign,
        sq8_stats)
    from fspann_query_system_spark.ops.pq import pq_fit, ivfpq_topk
    df, X = clustered
    base = df.filter(F.col("id") < 600)
    cents = base.filter(F.col("id") % 75 == 0)
    q = base.filter(F.col("id") % 97 == 3).select(
        F.col("id").alias("q_id"), "vector")
    mins, maxs = sq8_stats(base)
    thr = bq_thresholds(mins, maxs)
    assigned = ivf_assign(base, cents)
    # kernel-level: fused (id, words, cell) == bq_encode ⋈ ivf_assign
    fused = {r.id: (list(r.words), r.cell) for r in
             _bq_encode_cells(base, thr, cents).collect()}
    words = {r.id: list(r.words) for r in bq_encode(base, thr).collect()}
    cells = {r.id: r.cell for r in assigned.select("id", "cell").collect()}
    assert fused == {i: (words[i], cells[i]) for i in words}
    # ivfpq adaptive: on-the-fly (census from checkpointed fused codes)
    # == assigned-given (census from the supplied assignment)
    cb = pq_fit(base, m_sub=4, k=4, iters=1)
    a = sorted(map(tuple, ivfpq_topk(base, q, cents, cb, k=5, rerank=8,
                                     probe_mass=150).collect()))
    b = sorted(map(tuple, ivfpq_topk(base, q, cents, cb, k=5, rerank=8,
                                     probe_mass=150,
                                     assigned=assigned).collect()))
    assert a == b


def test_knn_graph_fold_preserves_vector_carrying_probe_layout(spark,
                                                               clustered):
    """r11 ADVICE: a vector-carrying probe table must stay
    vector-carrying across folds (not silently degrade to the skinny
    layout after fold 1), and the advanced graph must be identical
    under either layout."""
    from pyspark.sql import functions as F
    from fspann_query_system_spark.ops.similarity import (
        _nearest_cells, ivf_assign, knn_join, knn_graph_fold)
    df, X = clustered
    base = df.filter(F.col("id") < 700)
    cents = base.filter(F.col("id") % 90 == 0)
    is_b1 = F.col("id") % 10 == 7
    is_b2 = F.col("id") % 10 == 3
    old = base.filter(~is_b1 & ~is_b2)
    assigned = ivf_assign(old, cents)
    graph = knn_join(old, cents, k=5, nprobe=2, assigned=assigned)
    outs = {}
    for kv in (False, True):
        probes = _nearest_cells(old, cents, 2, "id", "vector", "id",
                                "vector", keep_vector=kv)
        g, p, a = knn_join(old, cents, k=5, nprobe=2,
                           assigned=assigned), probes, assigned
        for batch in (base.filter(is_b1), base.filter(is_b2)):
            g, p, a = knn_graph_fold(g, p, a, batch, cents, k=5,
                                     nprobe=2)
        assert ("vector" in p.columns) == kv   # layout preserved
        outs[kv] = sorted(map(tuple, g.collect()))
    assert outs[False] == outs[True]
    full_rebuild = sorted(map(tuple, knn_join(base, cents, k=5,
                                              nprobe=2).collect()))
    assert outs[True] == full_rebuild


# --- r12 optimization round: driver-side small-state reuse ---------------

def test_rows_cached_memoizes_per_object_and_matches_collect(spark):
    from pyspark.sql import functions as F
    from fspann_query_system_spark.functions.plan import rows_cached
    df = spark.range(50).select("id", (F.col("id") * 2).alias("v"))
    r1 = rows_cached(df, "id", "v")
    # same object + projection -> the SAME row list, no second job
    assert rows_cached(df, "id", "v") is r1
    # rows are exactly what a plain collect returns
    assert r1 == df.select("id", "v").collect()
    # a different projection of the same object is a separate entry
    assert rows_cached(df, "v", "id") == df.select("v", "id").collect()
    # a FRESH DataFrame object recomputes (no cross-invocation state)
    df2 = spark.range(50).select("id", (F.col("id") * 2).alias("v"))
    assert "_fspann_rows_cache" not in df2.__dict__
    assert rows_cached(df2, "id", "v") == r1


def test_pq_fit_attached_tensor_matches_collected_codebook(spark, clustered):
    import numpy as np
    from fspann_query_system_spark.ops.pq import pq_fit, _codebook_tensor
    df, _ = clustered
    cb = pq_fit(df, m_sub=4, k=8, iters=2)
    T_attached = _codebook_tensor(cb)          # served from the attach
    # strip the attach AND the rows memo: force the collect path
    del cb._fspann_codebook_tensor
    cb.__dict__.pop("_fspann_rows_cache", None)
    T_collected = _codebook_tensor(cb)
    assert T_attached.shape == T_collected.shape == (4, 8, 4)
    assert np.array_equal(T_attached, T_collected)
