"""Mergeable sketch operators (beyond the reference -- SURVEY build
mandate: large-scale pipeline statistics).

KMV (k-minimum-values) cardinality sketch, Bar-Yossef et al. 2002 /
Beyer et al. SIGMOD'07: keep the k smallest values of a uniform hash of
the distinct items; with t_k = the k-th smallest hash mapped into
(0, 1), the unbiased distinct-count estimate is (k - 1) / t_k.

Why KMV and not HyperLogLog here: Spark's ``approx_count_distinct``
and DuckDB's HLL are different sketch implementations, so their
estimates can never hash-match in a cross-engine oracle.  KMV over a
DETERMINISTIC hash (md5) is engine-independent arithmetic -- the same
k-th order statistic and the same estimate to the last bit on both
sides -- so the registry entry gets a FULL oracle, while keeping the
property that makes sketches matter at 100 TB: per-partition k-min
sets merge by union+truncate (a map-side partial aggregate).

Scale shape: hash is map-side; the per-group k-min set is computed as a
SALTED TWO-LEVEL bounded aggregate -- level 1 keeps the k smallest
hashes per (group, salt) as a sorted-truncated array (the partial
sketch), level 2 merges the <= fanout partials per group by
union+truncate, which IS the KMV merge operation the sketch exists
for.  No per-group window, no single task ever sees a group's full
distinct set: level-1 buffers hold ~distinct/fanout hashes and the
fanout is auto-derived from an approx_count_distinct pre-pass so the
buffer stays bounded without operator tuning (explicit override
available); level 2 sees fanout * k rows per group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as T

# fraction of the hash space covered by the first 15 hex digits
_HEX15_SPACE = float(16 ** 15)


def _derive_fanout(max_distinct_per_group: int,
                   target_partial_rows: int) -> int:
    """Smallest fanout that bounds the level-1 buffer (~distinct/fanout
    hashes) at ``target_partial_rows`` for the heaviest group."""
    return max(1, -(-int(max_distinct_per_group) // int(target_partial_rows)))


def kmv_cardinality(docs: DataFrame, group_col: str = "source",
                    text_col: str = "text", k: int = 64,
                    merge_fanout: int | None = None,
                    target_partial_rows: int = 1_000_000) -> DataFrame:
    """Per-group distinct-token cardinality: exact count + KMV estimate.

    Output: (group, n_distinct_exact, kmv_estimate).  When a group has
    fewer than ``k`` distinct tokens the sketch is exact by definition
    and the estimate equals the count.

    The estimate is deterministic: md5 is the hash, the first 15 hex
    digits (60 bits) map the k-th smallest hash into (0, 1), and
    (k - 1) / t_k is plain double arithmetic -- identical in any
    engine, hence fully oracle-checkable.

    The k-min set is a salted two-level sorted-truncate aggregate (no
    per-group window): level 1 produces the bounded partial sketch per
    (group, salt), level 2 merges partials by union + re-sort +
    truncate -- the canonical KMV merge.  ``merge_fanout`` bounds
    level-1 buffer size at ~distinct/fanout; the salt comes from hash
    digits DISJOINT from the ones that order the sketch, so salting
    cannot bias which hashes are smallest.

    ``merge_fanout=None`` (the default) derives the fanout from a cheap
    per-group character-count upper bound on distinct tokens
    (``sum(length(text)) / 2`` — every token costs >= 1 char + 1
    separator, so tokens <= chars/2 and distinct <= tokens), sized so
    the level-1 buffer stays under ``target_partial_rows`` hashes: a
    static knob mis-set at 100 TB would silently reintroduce the
    unbounded buffer this rewrite removed.  The bound needs ONE scan of
    a pruned (group, length) projection — no second tokenize/explode
    (the round-5 ``approx_count_distinct`` pre-pass re-scanned the full
    token stream and cost +34% on the whole query).  Over-estimating
    the fanout is harmless: the k-min of the union is
    partition-invariant, so the estimate is identical for ANY fanout
    (the auto/explicit equivalence is tested), and level 2 merges at
    most min(fanout, distinct) partials of k hashes each.
    """
    from ..functions.plan import select_exploded
    raw = select_exploded(docs.select(F.col(group_col).alias("grp"),
                                      F.col(text_col)),
                          T.tokens(text_col), "tok", "grp")
    toks = raw.distinct()
    if merge_fanout is None:
        # one-row collect of the heaviest group's distinct-token UPPER
        # BOUND from raw character counts (column-pruned scan, no
        # tokenization): distinct <= tokens <= sum(chars)/2
        hardest = (docs.groupBy(F.col(group_col).alias("grp"))
                   .agg((F.sum(F.length(text_col)) / 2).alias("nd"))
                   .agg(F.max("nd")).first()[0]) or 0
        # cap so the level-2 buffer (fanout partials x k hashes) stays
        # under the same target even when the char bound overestimates
        # distinct by the corpus duplication factor
        merge_fanout = min(_derive_fanout(int(hardest), target_partial_rows),
                           max(1, target_partial_rows // k))
    # salt from hex digits 16.. (independent of the ordering digits 1-15)
    hashed = toks.select(
        "grp", F.md5("tok").alias("h")
    ).select(
        "grp", "h",
        F.pmod(F.conv(F.substring("h", 16, 8), 16, 10).cast("long"),
               F.lit(merge_fanout)).alias("salt"))
    partial = (hashed.groupBy("grp", "salt")
               .agg(F.count(F.lit(1)).alias("n_part"),
                    F.slice(F.array_sort(F.collect_list("h")), 1, k)
                     .alias("kmin_part")))
    merged = (partial.groupBy("grp")
              .agg(F.sum("n_part").alias("n_distinct_exact"),
                   F.slice(F.array_sort(F.flatten(F.collect_list("kmin_part"))),
                           1, k).alias("kmin")))
    kth_hash = F.when(F.size("kmin") >= k, F.element_at("kmin", k))
    t_k = (F.conv(F.substring(kth_hash, 1, 15), 16, 10).cast("double")
           / F.lit(_HEX15_SPACE))
    return merged.select(
        F.col("grp").alias(group_col),
        "n_distinct_exact",
        F.round(
            F.when(kth_hash.isNull(),
                   F.col("n_distinct_exact").cast("double"))
            .otherwise(F.lit(float(k - 1)) / t_k),
            4).alias("kmv_estimate"))


def cms_heavy_hitters(docs: DataFrame, text_col: str = "text",
                      top_n: int = 20, depth: int = 4,
                      width: int = 1024) -> DataFrame:
    """Count-min-sketch frequency estimates for the corpus's heavy
    hitters, next to the exact counts (Cormode & Muthukrishnan '05).

    Output: (token, exact_cnt, cms_estimate) for the top-``top_n``
    tokens by exact count (ties broken by token).  CMS guarantees
    cms_estimate >= exact_cnt; the gap is the collision overestimate.

    Deterministic like the KMV sketch above: row ``j``'s hash is the
    first 15 hex digits of md5(f"{j}:" + token) mod ``width`` -- plain
    integer arithmetic, identical in any engine, so the registry entry
    gets a full cross-engine oracle (a real CMS library's seeded
    multiply-shift hashes never would).

    Scale shape: the sketch is built FROM the per-token count table
    (one token-keyed shuffle with map-side combine -- the same shuffle
    an exact word-count needs), then collapsed to at most
    depth x width rows (a map-side-combined second agg over a bounded
    key space).  The sketch side of the estimate join is <= depth x
    width rows -- broadcast.  At 100 TB the per-partition sketch is
    what you'd actually ship (union of partials = elementwise sum);
    building it from the count table here keeps the demo exact-
    comparable without an extra pass over raw tokens.  The per-token
    count table goes through :func:`materialize`: at corpus scale it
    is large, so a cluster run sets a checkpoint directory.
    """
    from ..functions.plan import materialize, select_exploded
    toks = select_exploded(docs, T.tokens(text_col), "tok")
    counts = materialize(   # reused: sketch build + exact top-N
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt")))

    def bucket(j):
        h = F.md5(F.concat(F.lit(f"{j}:"), F.col("tok")))
        return (F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
                % width)

    rows = None
    for j in range(depth):
        proj = counts.select(F.lit(j).alias("row_id"),
                             bucket(j).alias("bucket"), "cnt")
        rows = proj if rows is None else rows.unionByName(proj)
    sketch = (rows.groupBy("row_id", "bucket")
              .agg(F.sum("cnt").alias("bucket_cnt")))

    top = (counts.orderBy(F.col("cnt").desc(), "tok").limit(top_n))
    probes = top.select(
        "tok", "cnt",
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("row_id"), bucket(j).alias("bucket"))
            for j in range(depth)])).alias("rb")
    ).select("tok", "cnt", F.col("rb.row_id").alias("row_id"),
             F.col("rb.bucket").alias("bucket"))
    return (probes.join(F.broadcast(sketch), ["row_id", "bucket"])
            .groupBy("tok", "cnt")
            .agg(F.min("bucket_cnt").alias("cms_estimate"))
            .select(F.col("tok").alias("token"),
                    F.col("cnt").alias("exact_cnt"),
                    "cms_estimate"))
