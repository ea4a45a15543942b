"""Deduplication operators for training-data pipelines (beyond the
reference; first-class per the build mandate).

All variants are expressed as DataFrame plans whose hash primitive is
md5 (stable across engines → every stage is oracle-checkable in ANSI
SQL).  Scale notes per operator:

- exact:     one shuffle (groupBy fingerprint).  At 100TB: fingerprint is
             computed map-side, shuffle carries (hash, id) only.
- minhash:   shingle explode is map-side; signature = groupBy(doc) min per
             seed — partial aggregation makes the shuffle carry
             n_docs*n_seeds rows, not n_shingles.  Band buckets then
             self-join only within equal (band, hash) — the classic
             MinHash-LSH join, skew-safe because bucket sizes are tiny.
- simhash:   64-bit signature per doc, near-dups = hamming <= t within
             byte-prefix buckets.
- ngram jaccard: exact verification join on shared shingles, intended for
             candidate pairs (post-LSH), not all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.plan import materialize, select_exploded
from ..functions.text import fingerprint_md5, word_shingles


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(fingerprint, n_docs, doc_ids) for every normalized-text fingerprint
    shared by >1 document."""
    return (df.select(F.col(id_col), fingerprint_md5(text_col).alias("fingerprint"))
            .groupBy("fingerprint")
            .agg(F.count("*").alias("n_docs"),
                 F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
            .filter(F.col("n_docs") > 1))


def dedup_exact(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id doc per fingerprint (deterministic winner)."""
    w = Window.partitionBy("fingerprint").orderBy(id_col)
    return (df.withColumn("fingerprint", fingerprint_md5(text_col))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "fingerprint"))


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------

def shingle_table(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", k: int = 3,
                  dedupe: bool = True) -> DataFrame:
    """(id, shingle) — the set representation of each document
    (``dedupe=True``) or the raw multiset (``dedupe=False``).  Both are
    map-side only: "distinct" here means distinct WITHIN a document, so
    it is ``array_distinct`` on the per-row shingle array, never a
    global exchange (rows are unique by construction afterwards).

    Tokens are materialized into a column before the shingle transform
    (see ``shingles_from_tokens``: a captured expression is re-evaluated
    per element inside the HOF lambda, ~3x slower at sf0.1)."""
    from ..functions.text import tokens, shingles_from_tokens
    sh = shingles_from_tokens(F.col("_toks"), k)
    if dedupe:
        sh = F.array_distinct(sh)
    return select_exploded(df.withColumn("_toks", tokens(text_col)),
                           sh, "shingle", id_col)


MINHASH_BITS = 60        # base hash width: 15 hex chars of md5 fit a BIGINT
_MINHASH_MASK = (1 << MINHASH_BITS) - 1
_GOLDEN = 0x9E3779B97F4A7C15  # Weyl/Fibonacci mixing constant


def minhash_mix_params(n_hashes: int) -> list[tuple[int, int, int]]:
    """Deterministic (h, rot, cst) per hash function.  Each v_h is a
    bijection of the 60-bit base hash (rotate-then-xor), so min over a
    shingle set under v_h is a valid min-wise permutation draw; rotation
    offsets are coprime-spaced so no two h share a permutation."""
    return [(h, (7 * h + 1) % MINHASH_BITS,
             ((h + 1) * _GOLDEN) & _MINHASH_MASK)
            for h in range(n_hashes)]


def _minhash_base(shingle) -> "F.Column":
    """60-bit base hash: first 15 hex chars of md5(shingle) as BIGINT.
    ONE md5 per shingle; the per-h values are cheap bit mixes of this —
    vs. md5 per (shingle, h), that is n_hashes× less hashing compute at
    corpus scale, and the same formula runs verbatim in ANSI SQL."""
    return F.conv(F.substring(F.md5(shingle), 1, 15), 16, 10).cast("long")


def _minhash_rows(df: DataFrame, text_col: str, id_col: str, k: int,
                  n_hashes: int) -> DataFrame:
    """(id, h, mh BIGINT): per-document minimum of each mixed hash.

    One aggregate with n_hashes min() columns — no per-variant row
    explosion: each shingle row is consumed once and updates n_hashes
    accumulator slots (all whole-stage-codegen), the shuffle carries one
    row per document, and the (id, h, mh) shape is restored by
    unpivoting the n_docs-row result.  Shingles stay a multiset: min()
    is duplicate-invariant, so the distinct shuffle is skipped."""
    sh = (shingle_table(df, text_col, id_col, k, dedupe=False)
          .select(F.col(id_col), _minhash_base("shingle").alias("_u")))
    u = F.col("_u")
    mins = [
        F.min(F.shiftleft(u.bitwiseAND(F.lit((1 << (MINHASH_BITS - rot)) - 1)), rot)
              .bitwiseOR(F.shiftright(u, MINHASH_BITS - rot))
              .bitwiseXOR(F.lit(cst))).alias(f"_m{h}")
        for h, rot, cst in minhash_mix_params(n_hashes)]
    wide = sh.groupBy(id_col).agg(*mins)
    variants = [F.struct(F.lit(h).alias("h"), F.col(f"_m{h}").alias("mh"))
                for h in range(n_hashes)]
    return (wide.select(id_col, F.explode(F.array(*variants)).alias("_v"))
            .select(id_col, F.col("_v.h").alias("h"), F.col("_v.mh").alias("mh")))


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 —
    the rolling-hash fingerprint family): hash every k-gram in position
    order, slide a ``window``-wide frame over the hash sequence, keep the
    minimum of each frame, dedup.  Guarantees any shared run of
    ``window + k - 1`` tokens between two documents yields at least one
    shared fingerprint, at ~2/(window+1) the storage of full shingling.

    Entirely native: posexplode → one frame-min window per doc → distinct.
    Docs with fewer than ``window`` shingles emit the global min (one
    fingerprint) so every non-empty doc is representable.

    Output: (id, fingerprint BIGINT) rows."""
    from ..functions.plan import select_posexploded
    from ..functions.text import tokens, shingles_from_tokens
    shp = (select_posexploded(df.withColumn("_toks", tokens(text_col)),
                              shingles_from_tokens(F.col("_toks"), k),
                              "pos", "shingle", id_col)
           .select(id_col, "pos", _minhash_base("shingle").alias("hv")))
    frame = (Window.partitionBy(id_col).orderBy("pos")
             .rowsBetween(0, window - 1))
    part = Window.partitionBy(id_col)
    out = (shp.select(F.col(id_col),
                      F.col("pos"),
                      F.min("hv").over(frame).alias("fingerprint"),
                      F.count("*").over(part).alias("_n"))
           .filter((F.col("pos") <= F.col("_n") - window)
                   | ((F.col("_n") < window) & (F.col("pos") == 0)))
           .select(id_col, "fingerprint").distinct())
    return out


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 3,
                       n_hashes: int = 16) -> DataFrame:
    """(id, sig ARRAY<LONG>) — sig[h] = min over shingles of the h-th
    mixed 60-bit hash (see ``_minhash_base``)."""
    per_hash = _minhash_rows(df, text_col, id_col, k, n_hashes)
    return (per_hash.groupBy(id_col)
            .agg(F.sort_array(F.collect_list(F.struct("h", "mh"))).alias("_s"))
            .select(id_col, F.transform("_s", lambda s: s["mh"]).alias("sig")))


def band_table(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", k: int = 3,
               n_hashes: int = 16, bands: int = 4) -> DataFrame:
    """(id, band, band_hash) — each document's LSH band identities
    (band hash = md5 of the band's signature slice; with single-row
    bands the minhash value IS the band identity).  This is the
    materialization an incremental-dedup corpus keeps: band it once at
    ingest, join each new batch against it forever after."""
    rows_per_band = n_hashes // bands
    per_hash = _minhash_rows(df, text_col, id_col, k, n_hashes)
    if rows_per_band == 1:
        # single-row bands: the minhash value IS the band identity (kept
        # as LONG — the bucket join stays on a fixed-width key)
        return per_hash.select(id_col, F.col("h").alias("band"),
                               F.col("mh").alias("band_hash"))
    # band hash straight off the per-hash minima (no full-signature
    # assembly stage): md5 of the band's mh values in h order
    return (per_hash
            .withColumn("band", F.floor(F.col("h") / rows_per_band).cast("int"))
            .groupBy(id_col, "band")
            .agg(F.md5(F.concat_ws("|", F.transform(
                F.sort_array(F.collect_list(F.struct("h", "mh"))),
                lambda s: s["mh"].cast("string")))).alias("band_hash")))


def minhash_band_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 3,
                       n_hashes: int = 16, bands: int = 4) -> DataFrame:
    """Candidate near-dup pairs: docs sharing >= 1 LSH band.  Returns
    (id_a, id_b, n_shared_bands), id_a < id_b.

    The band table is eagerly materialized (n·bands skinny rows —
    exactly the table an incremental-dedup corpus persists
    anyway, see :func:`band_table`) before the self-join: both join
    sides otherwise re-execute the whole minhash chain (shingle
    explode + per-shingle md5 + the n_hashes-min aggregate — the
    dominant cost of every banding consumer) once EACH per action
    (r12 optimization round; the same double-subtree pathology as the
    knn_join bipartite probe table).  Measured cost-neutral at sf0.1
    (2.34 s vs 2.31 s lazy, same-JVM interleaved medians — the pinning
    job offsets the saved chain at toy scale) and kept for the scale
    shape: at 100 TB the saved pass is the dominant term."""
    banded = materialize(band_table(df, text_col, id_col, k, n_hashes, bands))
    a = banded.select(F.col(id_col).alias("id_a"), "band", "band_hash")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "band_hash")
    return (a.join(b, on=["band", "band_hash"])
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_shared_bands")))


def incremental_near_dups(corpus: DataFrame, new_docs: DataFrame,
                          text_col: str = "text", id_col: str = "doc_id",
                          k: int = 3, n_hashes: int = 16, bands: int = 4,
                          corpus_bands: DataFrame | None = None,
                          broadcast_batch: bool = False) -> DataFrame:
    """New-batch-vs-corpus near-dup candidates → (new_id, corpus_id,
    n_shared_bands): which incoming documents near-duplicate something
    the corpus already holds.

    This is the production incremental-ingest shape at 100 TB: the
    corpus is banded ONCE at ingest (pass ``corpus_bands`` — in practice
    a materialized table, e.g. ``band_table(corpus).write`` bucketed by
    band_hash) and each arriving batch bands only ITSELF — O(batch)
    shingling, never a corpus re-scan — then equi-joins on
    (band, band_hash).  Anti-joining the result against the batch gives
    the admit set; the full-corpus re-banding pipeline
    (:func:`near_dup_pipeline`) is the backfill twin of this operator.

    With ``broadcast_batch=True`` the batch's band rows are broadcast,
    so the CORPUS side never exchanges at all: per-batch cost is one
    corpus-bands scan + a map-side hash join — flat in corpus size for
    any batch whose bands fit the broadcast budget (~a few M docs).
    Leave it False for backfill-sized batches (sort-merge on the
    fixed-width key).
    """
    if corpus_bands is None:
        corpus_bands = band_table(corpus, text_col, id_col, k,
                                  n_hashes, bands)
    nb = (band_table(new_docs, text_col, id_col, k, n_hashes, bands)
          .select(F.col(id_col).alias("new_id"), "band", "band_hash"))
    if broadcast_batch:
        nb = F.broadcast(nb)
    return (nb.join(corpus_bands.select(F.col(id_col).alias("corpus_id"),
                                        "band", "band_hash"),
                    on=["band", "band_hash"])
            .groupBy("new_id", "corpus_id")
            .agg(F.count("*").alias("n_shared_bands")))


def simhash_near_pairs(sigs: DataFrame, max_hamming: int = 3,
                       id_col: str = "doc_id", sig_col: str = "simhash",
                       bits: int = 60) -> DataFrame:
    """(id_a, id_b, hamming) pairs with hamming(simhash) <= max_hamming.

    Candidate generation is block-wise: two codes within hamming t of each
    other agree exactly on at least one of (t+1) disjoint bit blocks
    (pigeonhole), so the join runs per block on block-value equality —
    never all-pairs.  With default t=3: 4 blocks of 15 bits, each join key
    has ~2^15 buckets.  This is the standard simhash dedup join (Manku et
    al. WWW'07 fingerprint blocking) expressed as unions of equi-joins —
    Catalyst shuffles on (block, value) which stays skew-free for
    hash-like signatures."""
    n_blocks = max_hamming + 1
    width = bits // n_blocks
    blocks = []
    start = 0
    for b in range(n_blocks):
        width_b = width if b < n_blocks - 1 else bits - start
        shift = bits - start - width_b
        start += width_b
        mask = (1 << width_b) - 1
        blocks.append(
            sigs.select(F.col(id_col),
                        F.col(sig_col),
                        F.lit(b).alias("block"),
                        F.shiftright(F.col(sig_col), shift).bitwiseAND(F.lit(mask))
                        .alias("block_val")))
    banded = blocks[0]
    for extra in blocks[1:]:
        banded = banded.unionByName(extra)
    a = banded.select(F.col(id_col).alias("id_a"), F.col(sig_col).alias("_sa"),
                      "block", "block_val")
    b2 = banded.select(F.col(id_col).alias("id_b"), F.col(sig_col).alias("_sb"),
                       "block", "block_val")
    cand = (a.join(b2, on=["block", "block_val"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "_sa", "_sb").distinct())
    ham = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
    return (cand.withColumn("hamming", ham.cast("long"))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact verification)
# ---------------------------------------------------------------------------

def jaccard_pairs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", k: int = 3,
                  threshold: float = 0.0,
                  max_df: int | None = None,
                  kernel_partitions: int | None = None) -> DataFrame:
    """Exact shingle-set Jaccard for all pairs sharing >= 1 shingle:
    (id_a, id_b, jaccard), id_a < id_b, jaccard >= threshold.

    |A∩B| from the shared-shingle join; |A∪B| = |A|+|B|-|A∩B|.

    ``max_df`` is the scale guard: a shingle occurring in more than
    ``max_df`` documents contributes df² rows to the self-join — one
    boilerplate trigram shared by 1M docs is a 10¹²-row straggler task.
    With the cap, such shingles are dropped from the shingle *sets*
    (numerator and sizes alike, so the result is still an exact Jaccard
    — over the stopword-filtered sets), standard near-dup practice.  The
    heavy-hitter list is tiny by construction (≤ n_shingle_rows/max_df
    entries), so it broadcast-anti-joins without re-shuffling.  The
    other scale route is composing with ``minhash_band_pairs`` to
    restrict the pair set first (see tests/test_facade.py).

    Shingles are collapsed to 64-bit hashes up front: every shuffle then
    moves (id, long) rows instead of (id, ~25-byte string), ~1.5x at
    sf0.1 and growing with shingle width.  Per-document dedup is
    map-side (``shingle_table`` uses array_distinct — no global
    exchange).  A hash collision would merge two distinct shingles
    (P ≈ n²/2⁶⁴ — at even 10¹⁰ corpus shingles that is ~0.005, and
    per-pair effect is one count); exactness at gate scale is covered by
    the oracle match.

    Physical plan: with ``max_df`` (the scale mode) the shingle rows
    shuffle ONCE into per-shingle posting lists; the df cap is an array-
    size filter on the grouped rows (no separate frequency pass or
    anti-join), and the ≤ max_df-bounded lists expand to ordered pairs
    map-side.  Intermediates are checkpointed (:func:`materialize`), not
    persist-ed: checkpoint blocks are released when the plan is
    garbage-collected, where CacheManager-registered persists leak until
    an explicit unpersist (repeated registry/bench invocations
    accumulated blocks).

    The posting rows are round-robined over ``kernel_partitions``
    (default: cluster default parallelism) before the pair expansion:
    a posting row is ≤ max_df·8 bytes of input but O(df²) structs of
    expansion compute, so byte-based AQE coalescing packs the
    compute-bound stage into too few tasks (one, at bench scale:
    2.2 s → 0.7 s on 32 cores — same pathology as the Levenshtein
    kernel in :func:`edit_near_dups`)."""
    inter, sizes = _shingle_overlap(df, text_col, id_col, k, max_df,
                                    kernel_partitions)
    out = (inter
           .join(F.broadcast(sizes.select(F.col(id_col).alias("id_a"),
                                          F.col("sz").alias("sz_a"))), "id_a")
           .join(F.broadcast(sizes.select(F.col(id_col).alias("id_b"),
                                          F.col("sz").alias("sz_b"))), "id_b")
           .select("id_a", "id_b",
                   F.round(F.col("n_inter")
                           / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6)
                   .alias("jaccard")))
    return out.filter(F.col("jaccard") >= threshold) if threshold > 0 else out


def _shingle_overlap(df: DataFrame, text_col: str, id_col: str, k: int,
                     max_df: int | None, kernel_partitions: int | None
                     ) -> tuple[DataFrame, DataFrame]:
    """Shared pair-overlap core of :func:`jaccard_pairs` /
    :func:`containment_pairs`: returns (``inter``: (id_a, id_b,
    n_inter) with id_a < id_b over pairs sharing ≥ 1 (df-capped)
    shingle, ``sizes``: (id, sz) shingle-set sizes over the SAME
    capped sets).  Plan properties — one posting shuffle, array-side
    df cap, compute-aware repartition of the pair expansion — are
    documented on :func:`jaccard_pairs`."""
    if kernel_partitions is None:
        kernel_partitions = df.sparkSession.sparkContext.defaultParallelism
    sh = (shingle_table(df, text_col, id_col, k, dedupe=True)
          .select(F.col(id_col), F.xxhash64("shingle").alias("shingle")))
    if max_df is not None:
        posting = materialize(   # read twice: sizes + pairs
            sh.groupBy("shingle")
            .agg(F.sort_array(F.collect_list(id_col)).alias("_ids"))
            .filter(F.size("_ids") <= max_df)
            .select("_ids"))
        # sizes reads the checkpointed posting blocks DIRECTLY: the
        # compute-balancing round-robin repartition below exists only
        # for the pair-expansion stage, and routing sizes through it
        # executed that full posting shuffle a second time per action
        # (r12 optimization round) — sizes is partitioning-independent
        sizes = (posting.select(F.explode("_ids").alias(id_col))
                 .groupBy(id_col).agg(F.count("*").alias("sz")))
        posting = posting.repartition(kernel_partitions)
        pair_structs = F.flatten(F.transform(
            F.col("_ids"),
            lambda x, i: F.transform(
                F.slice(F.col("_ids"), i + F.lit(2), F.size(F.col("_ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")))))
        inter = (select_exploded(posting.filter(F.size("_ids") >= 2),
                                 pair_structs, "p")
                 .select(F.col("p.id_a").alias("id_a"),
                         F.col("p.id_b").alias("id_b"))
                 .groupBy("id_a", "id_b").agg(F.count("*").alias("n_inter")))
    else:
        # uncapped exact mode: posting lists are unbounded (one hot
        # shingle would make a single giant array row), so pair the rows
        # with a shingle-keyed self-join instead
        shc = materialize(sh)          # read 3x: sizes + a + b
        sizes = shc.groupBy(id_col).agg(F.count("*").alias("sz"))
        a = shc.select(F.col(id_col).alias("id_a"), "shingle")
        b = shc.select(F.col(id_col).alias("id_b"), "shingle")
        inter = (a.join(b, on="shingle")
                 .filter(F.col("id_a") < F.col("id_b"))
                 .groupBy("id_a", "id_b").agg(F.count("*").alias("n_inter")))
    return inter, sizes


def containment_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 3,
                      threshold: float = 0.8,
                      max_df: int | None = None,
                      kernel_partitions: int | None = None) -> DataFrame:
    """Shingle-set CONTAINMENT near-dups (Broder 1997's second
    resemblance measure): (id_a, id_b, cont_a, cont_b, jaccard) with
    id_a < id_b, where ``cont_a = |A∩B|/|A|`` is the fraction of A's
    shingles inside B, kept when ``greatest(cont_a, cont_b) >=
    threshold``.

    This is the doc-in-doc duplicate detector Jaccard structurally
    misses: a short document fully quoted inside a long one has
    containment 1.0 but Jaccard ≈ \\|A\\|/\\|B\\| — below any useful
    resemblance threshold, so pipelines gated on Jaccard keep both
    copies (quote-inflated pages, article+comments wrappers, README
    concatenations).  Emitting both directions plus Jaccard lets the
    keep-rule distinguish "B extends A" (drop A, keep B) from
    "near-identical" (standard canonical pick).

    Same physical plan as :func:`jaccard_pairs` (shared
    :func:`_shingle_overlap` core: one posting shuffle, ``max_df``
    array-side cap against the df² hot-shingle expansion, broadcast
    size joins) — the containment arithmetic is free once n_inter
    exists.  With the cap, containment is exact over the
    stopword-filtered sets, same contract as the Jaccard twin."""
    inter, sizes = _shingle_overlap(df, text_col, id_col, k, max_df,
                                    kernel_partitions)
    out = (inter
           .join(F.broadcast(sizes.select(F.col(id_col).alias("id_a"),
                                          F.col("sz").alias("sz_a"))), "id_a")
           .join(F.broadcast(sizes.select(F.col(id_col).alias("id_b"),
                                          F.col("sz").alias("sz_b"))), "id_b")
           .select("id_a", "id_b",
                   F.round(F.col("n_inter") / F.col("sz_a"), 6)
                   .alias("cont_a"),
                   F.round(F.col("n_inter") / F.col("sz_b"), 6)
                   .alias("cont_b"),
                   F.round(F.col("n_inter")
                           / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6)
                   .alias("jaccard")))
    return (out.filter(F.greatest("cont_a", "cont_b") >= threshold)
            if threshold > 0 else out)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_fast(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", bits: int = 60) -> DataFrame:
    """Vectorized twin of :func:`simhash` — identical output, Arrow-batched
    numpy kernel instead of the 60-rows-per-token bit explode.  The native
    plan is the verifiable spec (its SQL oracle runs in the driver gate);
    this is the 100TB path (SCALE.md §4): one pass over tokens, md5 per
    distinct token per doc, bit-matrix vote in numpy."""
    import hashlib
    from typing import Iterator
    import numpy as np
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re
        # ASCII \s+ split to match the native plan's Java regex (Python's
        # str.split also breaks on Unicode whitespace like NBSP; Java \s
        # does not) — bit b of the code = bit (3 - b%4) of hex nibble b//4
        ws = re.compile(r"\s+", re.ASCII)
        for pdf in batches:
            ids, sigs = [], []
            for pid, text in zip(pdf[id_col], pdf[text_col]):
                toks = {t for t in ws.split(str(text).lower()) if t}
                if not toks:
                    continue
                votes = np.zeros(bits, dtype=np.int64)
                for t in toks:
                    hx = hashlib.md5(t.encode()).hexdigest()
                    nib = np.array([int(c, 16) for c in hx[:(bits + 3) // 4]],
                                   dtype=np.int64)
                    tok_bits = ((nib[:, None] >> (3 - np.arange(4))) & 1).ravel()[:bits]
                    votes += 2 * tok_bits - 1
                weights = np.where(votes > 0,
                                   1 << (bits - 1 - np.arange(bits, dtype=np.int64)), 0)
                ids.append(pid)
                sigs.append(int(weights.sum()))
            if ids:
                yield pd.DataFrame({id_col: ids, "simhash": sigs})

    return df.select(id_col, text_col).mapInPandas(
        run, schema=f"{id_col} {id_type}, simhash BIGINT")


def simhash(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id", bits: int = 60) -> DataFrame:
    """(id, simhash BIGINT): 60-bit SimHash.  Per distinct token, the
    first 15 md5 hex chars supply 60 bits; each bit votes ±1; the sign
    vector packs into a BIGINT (60 bits keeps the value in int64 and the
    hex→int mapping portable: nibble = strpos('0123456789abcdef', char)-1).

    Fully native plan (token explode → bit explode → conditional sum) so
    the DuckDB oracle can mirror it exactly.  At 100TB scale the bit
    explode (60 rows/token) would move to a vectorized pandas UDF; the
    plan here is the verifiable spec."""
    assert bits % 4 == 0 and bits <= 60
    toks = (select_exploded(
                df, F.filter(F.split(F.lower(F.col(text_col)), "\\s+"),
                             lambda t: t != ""), "tok", id_col)
            .distinct())
    h = toks.select(id_col, F.md5("tok").alias("hv"))
    bit = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit")
    # bit i: hex char at position i//4 (1-based from the left), nibble
    # bit (3 - i%4) MSB-first.  hex char → int via ascii ('0'-'9' = 48-57,
    # 'a'-'f' = 97-102) — portable to the SQL oracle.
    ch_ascii = F.ascii(F.substring(F.col("hv"), (F.col("bit") / 4 + 1).cast("int"), 1))
    nib = (ch_ascii - 48 - F.when(ch_ascii >= 97, F.lit(39)).otherwise(F.lit(0))).cast("long")
    bitval = F.floor(nib / F.pow(F.lit(2.0), (3 - F.col("bit") % 4).cast("double"))
                     .cast("long")) % 2
    votes = (h.select(id_col, bit, "hv")
             .select(id_col, "bit",
                     F.when(bitval == 1, F.lit(1)).otherwise(F.lit(-1)).alias("vote"))
             .groupBy(id_col, "bit").agg(F.sum("vote").alias("v")))
    weight = F.pow(F.lit(2.0), (bits - 1 - F.col("bit")).cast("double")).cast("long")
    return (votes.select(id_col,
                         F.when(F.col("v") > 0, weight).otherwise(F.lit(0)).alias("bv"))
            .groupBy(id_col).agg(F.sum("bv").alias("simhash")))


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the candidate-pair graph
# ---------------------------------------------------------------------------

# Edge-set size under which connected_components stops contracting on the
# cluster and finishes with a union-find on the driver (Łącki et al.,
# "Connected Components at Scale via Local Contractions", KDD'18).  2^20
# long pairs are 16 MB of Arrow; collecting and finishing them costs less
# than one distributed round at that size (SCALE.md §9).  0 disables the
# driver finish.
DRIVER_FINISH_EDGES = 1 << 20


def _driver_components(edges) -> tuple:
    """(nodes, component) numpy arrays for the (u, v) pyarrow table
    ``edges``: every node of the edge set labeled with the minimum id of
    its component.

    Union-find by hooking and full path compression, vectorized: nodes
    become their rank in sorted id order, so a smaller index IS a smaller
    id; each pass hooks the larger root of every still-split edge onto the
    smaller one (parent[i] <= i always holds, so the forest never gains a
    cycle and every root is its tree's minimum), compresses every node to
    its root, and keeps only the edges whose roots still differ, as root
    pairs.  Each pass lowers at least one parent, so it terminates; a
    random-order 2^20-node path takes 14 passes."""
    import numpy as np
    u = edges.column("u").to_numpy(zero_copy_only=False)
    v = edges.column("v").to_numpy(zero_copy_only=False)
    nodes, idx = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = idx[:len(u)], idx[len(u):]
    parent = np.arange(len(nodes))
    while True:
        ra, rb = parent[a], parent[b]
        split = ra != rb
        if not split.any():
            return nodes, nodes[parent]
        a, b = ra[split], rb[split]
        np.minimum.at(parent, np.maximum(a, b), np.minimum(a, b))
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up


def _finish_on_driver(edges: DataFrame, stats: dict | None) -> DataFrame:
    """Collect ``edges`` (u, v) through Arrow and label its nodes on the
    driver; the result is a driver-held table, not a lineage."""
    import pyarrow as pa
    table = edges.toArrow()
    nodes, comp = _driver_components(table)
    if stats is not None:
        stats["local_edges"] = table.num_rows
    typ = table.schema.field("u").type
    return edges.sparkSession.createDataFrame(pa.table(
        {"id": pa.array(nodes, typ), "component": pa.array(comp, typ)}))


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b", max_iter: int = 50,
                         stats: dict | None = None) -> DataFrame:
    """(id, component) for every id in ``pairs``; component = the minimum
    id reachable through the pair graph.

    This is the step that turns pairwise near-dup evidence into
    *canonical document assignment*: transitive duplicates (A≈B, B≈C,
    A̸≈C) must share one canonical id, which no pairwise operator gives.

    Algorithm: alternating large-star / small-star contraction (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14),
    finished on the driver once the edge set is small (the local
    contraction of Łącki et al., KDD'18):

      large-star  — every node links each strictly-larger neighbor to
                    the minimum of its closed neighborhood;
      small-star  — edges re-orient larger→smaller, then every node
                    links its smaller neighbors and itself to that
                    minimum.

    Each half-step is one groupBy-min plus one join over the CURRENT
    edge set — which contracts geometrically as stars collapse — and the
    alternation reaches the fixpoint in O(log n) rounds on ANY topology,
    vs O(diameter) for min-label propagation (a 10³-deep chain of
    gradually-drifting boilerplate converges in ~10 rounds, not 10³).
    Per round there is exactly ONE materializing action
    (:func:`materialize` truncating lineage) plus one tiny aggregate over the
    just-checkpointed blocks that returns the edge count and tests the
    fixpoint STRUCTURALLY: the edge set is a disjoint union of stars iff
    no node both points somewhere and is pointed at, and no node carries
    two roots — and a star set is provably invariant under both steps.
    At the fixpoint every surviving edge IS a (member, component-min)
    label, so the labeling falls out of the last edge set without a
    propagation pass.

    Driver finish: the initial (deduplicated) edge set is counted once
    checkpointed, and each round's aggregate counts the round's edges.
    As soon as an edge set holds fewer than :data:`DRIVER_FINISH_EDGES`
    edges it is collected through Arrow and labeled by a vectorized
    union-find on the driver (:func:`_driver_components`).  Contraction
    preserves both every node and every component's minimum, so the
    labels equal the fixpoint's.  Per-round cost at these sizes is job
    scheduling, not data, so small inputs skip the rounds entirely.  The
    finished labels are a driver-held table that Spark re-sends, not a
    lineage over checkpointed blocks, so nothing downstream of the finish
    carries the ``localCheckpoint`` fault hazard of :func:`materialize`.

    Raises RuntimeError if ``max_iter`` distributed rounds pass without
    reaching the fixpoint or the driver bound — a partially-contracted
    labeling must never be consumed as correct.  Pass ``stats={}`` to
    receive {"rounds": distributed rounds, "local_edges": edges finished
    on the driver (0 when the rounds reach the fixpoint)} back.

    With a session checkpoint directory set, every per-round
    materialization is a reliable ``checkpoint``: a lost executor then
    costs one round's recompute from the last checkpoint instead of
    killing a multi-hour cluster job (see :func:`materialize`)."""
    # canonical initial edge set, checkpointed once: every round reads e
    # twice (union with its swap / join with its min table) and the
    # upstream plan (e.g. minhash banding) must not recompute per read.
    # Both-null pairs are the only null rows (greatest/least skip nulls).
    e0 = materialize(
        pairs.select(F.greatest(F.col(id_a), F.col(id_b)).alias("u"),
                     F.least(F.col(id_a), F.col(id_b)).alias("v"))
        .distinct())
    if stats is not None:
        stats.update(rounds=0, local_edges=0)
    if e0.count() < DRIVER_FINISH_EDGES:
        return _finish_on_driver(e0.filter(F.col("u").isNotNull()), stats)
    singles = e0.filter(F.col("u") == F.col("v")).select("u")
    e = e0.filter(F.col("u") != F.col("v"))
    for rounds in range(1, max_iter + 1):
        # -- large-star: m = min over closed neighborhood; larger
        #    neighbors re-attach to m
        und = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mn_l = und.groupBy("u").agg(F.min("v").alias("_mn"))
        # no distinct here: duplicate ls edges cannot multiply (the next
        # join is against a one-row-per-key min table) and the ss-side
        # distinct collapses them — saves one full-edge shuffle per round
        ls = (und.join(mn_l, on="u")
              .filter(F.col("v") > F.col("u"))
              .select(F.col("v").alias("_nu"),
                      F.least(F.col("u"), F.col("_mn")).alias("_nv"))
              .filter(F.col("_nu") != F.col("_nv"))
              .select(F.col("_nu").alias("u"), F.col("_nv").alias("v")))
        # -- small-star: ls already satisfies u > v (neighbor > center >=
        #    min), so the larger→smaller orientation is free; smaller
        #    neighbors and the center all attach to the minimum
        mn_s = ls.groupBy("u").agg(F.min("v").alias("_mn"))
        ss = (ls.join(mn_s, on="u")
              .filter(F.col("v") != F.col("_mn"))
              .select(F.col("v").alias("_nu"), F.col("_mn").alias("_nv"))
              .unionByName(mn_s.select(F.col("u").alias("_nu"),
                                       F.col("_mn").alias("_nv")))
              .distinct()
              .select(F.col("_nu").alias("u"), F.col("_nv").alias("v")))
        e = materialize(ss)
        if stats is not None:
            stats["rounds"] = rounds
        # star test and edge count in one action: member rows map n -> its
        # root, root rows map n -> n; any node with two distinct images
        # breaks star-ness (either it carries two roots, or it is both
        # member and root).  Member rows are the edges, one each.
        chk = (e.select(F.col("u").alias("n"), F.col("v").alias("root"),
                        F.lit(1).alias("_edge"))
               .unionByName(e.select(F.col("v").alias("n"),
                                     F.col("v").alias("root"),
                                     F.lit(0).alias("_edge")))
               .groupBy("n")
               .agg((F.min("root") != F.max("root")).alias("_split"),
                    F.sum("_edge").alias("_edges"))
               .agg(F.count(F.when(F.col("_split"), 1)).alias("not_star"),
                    F.coalesce(F.sum("_edges"), F.lit(0)).alias("edges"))
               .first())
        if chk.not_star == 0:
            break
        if chk.edges < DRIVER_FINISH_EDGES:
            return _finish_on_driver(
                e.unionByName(singles.select("u", F.col("u").alias("v"))),
                stats)
    else:
        raise RuntimeError(
            f"connected_components did not reach the star fixpoint in "
            f"{max_iter} rounds — refusing to return a partially "
            f"contracted labeling")
    # fixpoint edges are (member, root): members each carry exactly one
    # root, roots never appear on the left.  Self-pairs in the input
    # label any otherwise-isolated node with itself; the min-agg folds
    # every source together.
    return (e.select(F.col("u").alias("id"), F.col("v").alias("component"))
            .unionByName(e.select(F.col("v").alias("id"),
                                  F.col("v").alias("component")))
            .unionByName(singles.select(F.col("u").alias("id"),
                                        F.col("u").alias("component")))
            .groupBy("id").agg(F.min("component").alias("component")))


def near_dup_pipeline(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 3,
                      n_hashes: int = 8, bands: int | str = 8,
                      threshold: float = 0.5,
                      stats: dict | None = None) -> DataFrame:
    """The complete near-dup pipeline in one plan: MinHash-band candidate
    generation → exact shingle-set Jaccard verification of just those
    candidates → connected components over verified pairs → canonical id
    + keep/drop per document.

    Output: (id, canonical_id, keep INT) for EVERY input document; keep=1
    iff the document is its cluster's canonical (minimum-id) member.

    Scale shape: banding bounds the candidate set (never all-pairs); the
    verification join expands candidates by |shingles/doc| only for
    banded pairs; CC finishes on the driver under
    ``DRIVER_FINISH_EDGES`` verified pairs and runs the log-round star
    contraction above; the final labeling is a left join on the (small)
    component table.  This is the
    composition a 100 TB dedup actually runs — candidate generation and
    exact verification must never both be all-pairs.

    ``bands="auto"`` derives the band count from ``threshold`` via
    :func:`lsh_band_geometry`, keeping the candidate S-curve crossover
    coupled to the verify threshold instead of hand-picked.
    """
    if bands == "auto":
        bands, _ = lsh_band_geometry(threshold, n_hashes)
    # Candidate pairs are consumed three times (two verify joins + the
    # id semi-join below); materialize() pins the banding pass
    # ONCE instead of re-running shingle+minhash per consumer (the same
    # reuse discipline as jaccard_pairs — checkpoint, not persist, so
    # blocks free with the plan).
    cand = materialize(minhash_band_pairs(docs, text_col, id_col, k=k,
                                          n_hashes=n_hashes, bands=bands)
                       .select("id_a", "id_b"))
    if stats is not None:
        # one cheap count over the just-checkpointed blocks (scale
        # diagnostics: candidate volume is THE cost driver downstream)
        stats["n_candidates"] = cand.count()
    # verify-stage shingles only for docs that appear in a candidate
    # pair: at scale candidates are a small fraction of the corpus, so
    # re-shingling everything for the exact-Jaccard stage would be the
    # plan's biggest waste.  AQE turns the semi-join into a broadcast
    # when the candidate id set is small.  The shingle table feeds both
    # verify joins and the size aggregate — checkpoint it too.
    cand_ids = (cand.select(F.col("id_a").alias(id_col))
                .unionByName(cand.select(F.col("id_b").alias(id_col)))
                .distinct())
    docs_c = docs.join(cand_ids, on=id_col, how="leftsemi")
    # shingles collapse to 64-bit hashes before the two verify joins and
    # the size agg: the (id, shingle) edge shuffles longs, not ~k-word
    # strings (same discipline as jaccard_pairs; only intersection
    # COUNTS reach the output, so the oracle needs no hash mirroring)
    sh = materialize(
        shingle_table(docs_c, text_col, id_col, k=k, dedupe=True)
        .select(F.col(id_col), F.xxhash64("shingle").alias("shingle")))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    inter = (cand
             .join(sh.select(F.col(id_col).alias("id_a"), "shingle"),
                   on="id_a")
             .join(sh.select(F.col(id_col).alias("id_b"), "shingle"),
                   on=["id_b", "shingle"])
             .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_inter")))
    ver = (inter
           .join(sizes.select(F.col(id_col).alias("id_a"),
                              F.col("sz").alias("_sza")), on="id_a")
           .join(sizes.select(F.col(id_col).alias("id_b"),
                              F.col("sz").alias("_szb")), on="id_b")
           .filter(F.col("n_inter")
                   >= threshold
                   * (F.col("_sza") + F.col("_szb") - F.col("n_inter")))
           .select("id_a", "id_b"))
    comp = connected_components(ver, stats=stats)
    canonical = F.coalesce("component", id_col)
    return (docs.select(id_col)
            .join(comp.withColumnRenamed("id", id_col), on=id_col,
                  how="left")
            .select(id_col,
                    canonical.alias("canonical_id"),
                    (F.col(id_col) == canonical).cast("int").alias("keep")))


def leakage_safe_split(docs: DataFrame, val_frac: float = 0.1,
                       text_col: str = "text", id_col: str = "doc_id",
                       k: int = 3, n_hashes: int = 8, bands: int = 8,
                       threshold: float = 0.5,
                       salt: str = "split") -> DataFrame:
    """Near-dup-aware train/validation split: every document in a
    near-duplicate component lands on the SAME side, so no eval example
    has a training-set near-duplicate (the contamination mode a naive
    per-doc split creates by construction — the reason Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" found
    >1% of eval perplexity attributable to train/test overlap).

    Composition: :func:`near_dup_pipeline` (banded candidates → exact
    Jaccard verify → connected components → canonical id) then a
    deterministic md5 bucket of the CANONICAL id decides the side — a
    pure function of (salt, component), so re-runs, appends, and
    repartitioning cannot move a document, and two docs that dedup
    together can never straddle the split.

    Output: (doc_id, canonical_id, split 'train'|'val') for every input
    document.  Scale shape: identical to ``near_dup_pipeline`` (banding
    bounds candidates; CC is log-round); the split decision adds zero
    exchanges."""
    from .sampling import SAMPLE_DENOM, sample_bucket
    labeled = near_dup_pipeline(docs, text_col=text_col, id_col=id_col,
                                k=k, n_hashes=n_hashes, bands=bands,
                                threshold=threshold)
    cut = int(round(val_frac * SAMPLE_DENOM))
    side = F.when(sample_bucket(F.col("canonical_id"), salt) < cut,
                  F.lit("val")).otherwise(F.lit("train"))
    return labeled.select(id_col, "canonical_id", side.alias("split"))


def span_dedup(docs: DataFrame, text_col: str = "text",
               span_tokens: int = 5) -> DataFrame:
    """C4-style span-granular deduplication (Raffel et al. 2020 §2.2:
    "we discarded all but one of any three-sentence span occurring more
    than once in the data set" — here the span unit is ``span_tokens``
    consecutive words, since the corpus fixture has no sentence
    boundaries).  Unlike document-level dedup this removes boilerplate
    REGIONS from otherwise-unique documents.

    Semantics: split each doc into non-overlapping ``span_tokens``-word
    spans (final partial span included); for every distinct span text
    the FIRST occurrence in (doc_id, pos) order survives; all other
    occurrences are cut.  Output one row per doc that produced at least
    one span: (doc_id, n_spans, n_kept, text_kept) — ``text_kept`` is
    the document re-assembled from surviving spans in position order.

    Scale shape: two keyed exchanges, both on bounded keys — one window
    over span-text hash partitions (keep-first needs a global order per
    distinct span; partitions are span-frequency-sized, and a span that
    repeats enough to skew a partition is exactly the boilerplate being
    cut), then one doc-keyed aggregate to reassemble.  Never all-pairs,
    never corpus², and the span table is ~1/span_tokens the token count.
    """
    from ..functions.text import tokens
    k = span_tokens
    toks = docs.select("doc_id", tokens(text_col).alias("toks"))
    n_spans = F.ceil(F.size("toks") / F.lit(k)).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.concat_ws(" ", F.slice("toks", i * k + 1, k)))
    from ..functions.plan import select_posexploded
    sp = select_posexploded(toks, spans, "pos", "span", "doc_id")
    w = Window.partitionBy("span").orderBy("doc_id", "pos")
    sp = sp.withColumn("_keep", F.row_number().over(w) == 1)
    return (sp.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("int").alias("n_spans"),
                 F.sum(F.col("_keep").cast("int")).cast("int")
                 .alias("n_kept"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.when(F.col("_keep"),
                                    F.struct("pos", "span")))),
                         lambda s: s["span"]),
                     " ").alias("text_kept")))


def edit_near_dups(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", k: int = 3,
                   n_hashes: int = 16, bands: int = 4,
                   max_dist: int = 80,
                   kernel_partitions: int | None = None) -> DataFrame:
    """Edit-distance-verified near-duplicates: MinHash-LSH banding as
    the blocking stage, Levenshtein as the exact verifier.

    The realistic two-stage dedup pipeline: banding bounds the
    candidate set (never all-pairs — see minhash_band_pairs), then the
    O(len_a x len_b) edit-distance kernel runs only on candidates, with
    Spark's threshold form (returns -1 past ``max_dist``) so the DP
    early-exits on clearly-distinct pairs.  Scale shape: candidate
    pairs carry ids only through the band shuffle; the two text
    lookups are plain equi-joins against the corpus (sort-merge at
    scale, broadcast when the candidate set is small).

    The candidate id-pairs are explicitly round-robined over
    ``kernel_partitions`` (default: cluster default parallelism) before
    the text joins: the banded-DP kernel costs ~50-100 µs/pair against
    ~16 bytes/pair of shuffle input, so AQE's byte-based partition
    coalescing underestimates the stage by orders of magnitude and (at
    bench scale) packed the whole kernel into ONE task (6.2 s; 1.8 s
    after balancing, 32 cores).  The exchange moves only id pairs —
    texts are fetched after it — so the balancing costs ~nothing at any
    scale.

    Returns (id_a, id_b, n_shared_bands, edit_distance) with
    edit_distance <= max_dist, id_a < id_b.
    """
    if kernel_partitions is None:
        kernel_partitions = df.sparkSession.sparkContext.defaultParallelism
    cand = (minhash_band_pairs(df, text_col, id_col, k, n_hashes, bands)
            .repartition(kernel_partitions))
    ta = df.select(F.col(id_col).alias("id_a"),
                   F.col(text_col).alias("text_a"))
    tb = df.select(F.col(id_col).alias("id_b"),
                   F.col(text_col).alias("text_b"))
    return (cand.join(ta, "id_a").join(tb, "id_b")
            .withColumn("edit_distance",
                        F.levenshtein("text_a", "text_b", max_dist))
            .filter(F.col("edit_distance") >= 0)
            .select("id_a", "id_b", "n_shared_bands", "edit_distance"))


def lsh_band_geometry(threshold: float, n_hashes: int) -> tuple[int, int]:
    """Derive MinHash band geometry from a target Jaccard threshold —
    the S-curve law applied (Leskovec/Rajaraman/Ullman, "Mining of
    Massive Datasets" §3.4.3): with ``b`` bands of ``r`` rows, a pair
    at similarity ``s`` becomes a candidate with P = 1 − (1 − s^r)^b,
    whose crossover sits at ``(1/b)^(1/r)``.

    Returns the ``(bands, rows_per_band)`` factorization of
    ``n_hashes`` whose crossover is closest to ``threshold`` FROM
    BELOW — at-threshold pairs must be likelier than not to band
    together (recall before cost); if every factorization crosses
    above the threshold, the closest one wins.  Pinned examples:
    ``(0.5, 8) → (4, 2)`` (crossover exactly 0.5), ``(0.8, 16) →
    (4, 4)`` (0.707), ``(0.3, 16) → (16, 1)`` (0.0625 — anything
    finer over-prunes a low-threshold hunt).

    Hand-picked geometry silently decouples from the verify threshold
    as pipelines evolve — band pruning then either misses at-threshold
    pairs (b too small) or floods the verify stage (b too large); this
    derivation re-couples them the way the ANN family's
    ``suggest_operating_point`` couples budget to corpus size.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1): {threshold}")
    below, anywhere = None, None
    for r in range(1, n_hashes + 1):
        if n_hashes % r:
            continue
        b = n_hashes // r
        x = (1.0 / b) ** (1.0 / r)
        if x <= threshold and (below is None or x > below[0]):
            below = (x, b, r)
        if anywhere is None or abs(x - threshold) < abs(anywhere[0]
                                                        - threshold):
            anywhere = (x, b, r)
    pick = below or anywhere
    return pick[1], pick[2]
