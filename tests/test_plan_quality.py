"""Plan-shape regression tests: the physical plans the 100TB design
depends on (pushdown, pruning, broadcast, codegen) must not silently
degrade (SCALE.md §2/§6 claims)."""

import pytest

from pyspark.sql import functions as F

from fspann_query_system_spark import workloads as W

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def _codegen(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("codegen")
    return df._jdf.queryExecution().explainString(mode)


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = _formatted(W.q_pricing_summary(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the 16-column lineitem scan reads only the 7 needed
    rs = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert rs.count(":") == 7, rs
    assert "l_comment" not in rs


def test_shipping_priority_broadcasts_dims(spark):
    plan = _plan(W.q_shipping_priority(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_region_revenue_all_broadcast(spark):
    plan = _plan(W.q_region_revenue(spark, SF))
    assert plan.count("BroadcastHashJoin") == 5
    assert "SortMergeJoin" not in plan


def test_partial_aggregation_before_shuffle(spark):
    """groupBy must plan partial (map-side) aggregation: two HashAggregate
    levels around the exchange."""
    plan = _plan(W.q_candidate_min_merge(spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan


def test_whole_stage_codegen_covers_relational_path(spark):
    plan = _codegen(W.q_pricing_summary(spark, SF))
    assert "WholeStageCodegen" in plan


def test_topk_plans_window_group_limit(spark):
    """rank<=k filter must push a WindowGroupLimit (no full sort of every
    group at scale)."""
    plan = _plan(W.q_top_orders_per_customer(spark, SF))
    assert "WindowGroupLimit" in plan


def test_tombstone_plans_anti_join(spark):
    plan = _plan(W.q_tombstone_anti_join(spark, SF))
    assert "LeftAnti" in plan


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Bucketing co-locates join keys at write time: a bucketed-bucketed
    equi-join must plan ZERO exchanges on the join path (SCALE.md: reuse a
    partitioning across stages instead of re-shuffling 100TB)."""
    import uuid
    suffix = uuid.uuid4().hex[:8]
    ta, tb = f"bk_a_{suffix}", f"bk_b_{suffix}"
    a = spark.range(0, 10_000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(0, 10_000).selectExpr("id AS k", "id * 3 AS vb")
    for name, df in [(ta, a), (tb, b)]:
        (df.write.bucketBy(4, "k").sortBy("k")
         .option("path", str(tmp_path / name))
         .mode("overwrite").saveAsTable(name))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(ta).join(spark.table(tb), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert joined.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_ivf_query_plan_has_no_crossjoin_and_prunes_partitions(spark, tmp_path):
    """IVF assignment is ingest-time (map-side numpy), never a
    base×centroids crossJoin; probing an ivf_save layout must prune cell
    partitions at file level."""
    from fspann_query_system_spark.ops.similarity import (ivf_assign,
                                                          ivf_save, ivf_topk)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    cent = emb.filter(F.col("id") < 8)
    q = emb.filter(F.col("id") < 5).select(F.col("id").alias("q_id"), "vector")

    out = ivf_topk(emb, q, cent, k=5, nprobe=2)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    # ingest-time layout: hive-partitioned by cell; a cell filter prunes
    path = str(tmp_path / "ivf")
    ivf_save(ivf_assign(emb, cent), path)
    loaded = spark.read.parquet(path)
    pruned = _formatted(loaded.filter(F.col("cell").isin(0, 3)))
    assert "PartitionFilters" in pruned and "cell" in pruned.split(
        "PartitionFilters")[1].split("\n")[0]
    # probing the layout still returns the same top-k as the inline path
    via_layout = ivf_topk(emb, q, cent, k=5, nprobe=2, assigned=loaded)
    a = sorted((r.q_id, r.id, r.rank) for r in out.collect())
    b = sorted((r.q_id, r.id, r.rank) for r in via_layout.collect())
    assert a == b


def test_asof_join_single_shuffle_no_product(spark):
    """The as-of join must stay the union-trick plan: exactly ONE
    exchange (the by-key hash partitioning feeding the sort+window) and
    never a range/nested-loop product."""
    from fspann_query_system_spark.ops.asof import asof_join
    left = spark.createDataFrame([(1, 10, 100)],
                                 "lid LONG, user_id LONG, ts LONG")
    right = spark.createDataFrame([(10, 100, 1.0)],
                                  "user_id LONG, ts LONG, state DOUBLE")
    plan = _plan(asof_join(left, right, on="ts", by="user_id",
                           value_cols=["state"]))
    assert plan.count("Exchange") == 1, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_kmeans_plan_no_product(spark):
    """Lloyd rounds must keep assignment map-side (broadcast numpy, no
    base x centroids join product in the plan)."""
    from fspann_query_system_spark.ops.similarity import kmeans_fit
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector"))
    plan = _plan(kmeans_fit(emb, k=4, iters=1))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sq8_prefilter_bounds_decrypt_input(spark, clustered):
    """With sq8_rerank, the decrypt stage's input is the k*rerank-row
    shortlist (LIMIT-like window cut BEFORE the payload join), not the
    full refinement set."""
    from fspann_query_system_spark.lsh.params import LshConfig
    from fspann_query_system_spark.query.ann import AnnIndex, search_batch
    df, X = clustered
    cfg = LshConfig(dim=16, m=8, lam=2, tables=3, divisions=1,
                    block_size=32, probes=4, refinement_limit=300, seed=5)
    idx = AnnIndex.build(df, cfg).with_sq8()
    q = df.filter(F.col("id") < 3).select(F.col("id").alias("q_id"), "vector")
    res = search_batch(idx, q, k=5, sq8_rerank=2)
    plan = _plan(res)
    assert "CartesianProduct" not in plan
    # the shortlist window rank filter must sit in the plan (cut before
    # the vector/payload join)
    assert "_sr" in plan, plan


def test_range_join_is_equi_join_not_nested_loop(spark):
    """The binned interval join must plan as a hash/sort-merge equi-join
    on (by, bin) — never the BroadcastNestedLoopJoin a raw BETWEEN
    predicate produces."""
    from fspann_query_system_spark.ops.ranges import range_join
    pts = spark.range(100).select(F.col("id").alias("pid"),
                                  (F.col("id") % 3).alias("u"),
                                  (F.col("id") * 7).alias("t"))
    iv = spark.range(20).select(F.col("id").alias("iid"),
                                (F.col("id") % 3).alias("u"),
                                (F.col("id") * 30).alias("start"),
                                (F.col("id") * 30 + 50).alias("end"))
    plan = _plan(range_join(pts, iv, point_col="t", by="u", bin_width=64))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # keyless binned join still equi-joins on the bin...
    plan_nokey = _plan(range_join(pts.drop("u"), iv.drop("u"),
                                  point_col="t", bin_width=64))
    assert "BroadcastNestedLoopJoin" not in plan_nokey
    # ...where the naive BETWEEN-only join goes nested-loop (with an
    # equi-key Spark instead hash-joins on the key and re-scans every
    # same-key interval as a residual filter — better, still a per-key
    # product the binned plan avoids)
    naive = pts.drop("u").join(iv.drop("u"),
                               on=pts.t.between(iv.start, iv.end))
    assert "BroadcastNestedLoopJoin" in _plan(naive)


def test_repetition_stats_is_map_only(spark):
    """Gopher repetition signals are pure array-side HOFs: the plan
    must be a single scan + project — zero exchanges at any scale."""
    from fspann_query_system_spark.ops.quality import repetition_stats
    plan = _plan(repetition_stats(W._t(spark, SF, "documents")))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_decontaminate_broadcasts_bench_single_agg_shuffle(spark):
    """Decontamination joins the corpus gram stream against the (small)
    benchmark gram set via broadcast — no sort-merge join — and the
    corpus side shuffles only for the final doc_id agg (plus the
    broadcast build's own exchange on the tiny bench side)."""
    from fspann_query_system_spark.ops.quality import decontaminate
    plan = _plan(decontaminate(W._t(spark, SF, "documents")))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # partial agg before the one corpus-side shuffle
    assert "partial_count" in plan, plan


def test_bm25_stats_broadcast_no_per_term_shuffle(spark):
    """BM25's corpus stats reduce to ONE row broadcast back; the doc
    side is never shuffled (no per-term explode, no doc_id exchange)."""
    from fspann_query_system_spark.ops.quality import bm25
    plan = _plan(bm25(W._t(spark, SF, "documents"),
                      ("spark", "hash", "merge")))
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row crossJoin
    assert "SortMergeJoin" not in plan, plan
    assert "Generate" not in plan, plan            # no explode anywhere
    # only exchanges allowed: the single-row stats aggregate's
    assert plan.count("Exchange") <= 2, plan


def test_kmv_is_bounded_aggregate_not_window(spark):
    """The KMV k-min set must come from the salted two-level
    sorted-truncate aggregate (mergeable union+truncate partials), NOT
    a per-group window ranking the full distinct-token set in one task
    — that window is a single-task scale killer at 100 TB."""
    from fspann_query_system_spark.ops.sketches import kmv_cardinality
    plan = _plan(kmv_cardinality(W._t(spark, SF, "documents")))
    assert "Window" not in plan, plan
    # two aggregate levels: (grp, salt) partial sketch then grp merge
    assert "ObjectHashAggregate" in plan or "SortAggregate" in plan, plan


def test_chunk_docs_is_map_only(spark):
    """Chunking is tokenize + array-build + one explode: the plan must
    be a single scan + generate — zero exchanges at any scale."""
    from fspann_query_system_spark.ops.sampling import chunk_docs
    plan = _plan(chunk_docs(W._t(spark, SF, "documents")))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_unigram_logprob_keyed_edges_only(spark):
    """The unigram-NLL plan must stay keyed: no nested-loop / cartesian
    edge anywhere except the deliberate 1-row total broadcast."""
    from fspann_query_system_spark.ops.quality import unigram_logprob
    plan = _plan(unigram_logprob(W._t(spark, SF, "documents")))
    assert "CartesianProduct" not in plan, plan
    # token->logp lookup resolves to a hash join (broadcast at this
    # size; a shuffled hash/sort-merge join on token at corpus scale)
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_vocab_overlap_vocab_sized_self_join(spark):
    """The source-overlap matrix must self-join the DISTINCT
    (source, token) set on token — never a corpus x corpus or
    nested-loop product."""
    from fspann_query_system_spark.ops.quality import vocab_overlap
    plan = _plan(vocab_overlap(W._t(spark, SF, "documents")))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_incremental_dedup_plan_no_product_and_broadcast_batch(spark):
    from pyspark.sql import functions as F
    from fspann_query_system_spark.ops.dedup import incremental_near_dups
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc {i}") for i in range(40)],
        "doc_id LONG, text STRING")
    corpus, new = docs.filter("doc_id < 30"), docs.filter("doc_id >= 30")
    plan = _formatted(incremental_near_dups(corpus, new, k=3, n_hashes=8,
                                            bands=8))
    assert "CartesianProduct" not in plan
    # broadcast_batch mode: the batch side is a broadcast exchange, so
    # the corpus bands never shuffle for the join
    planb = _formatted(incremental_near_dups(corpus, new, k=3, n_hashes=8,
                                             bands=8, broadcast_batch=True))
    assert "BroadcastHashJoin" in planb and "CartesianProduct" not in planb


def test_boilerplate_stats_plan_no_product(spark):
    from fspann_query_system_spark.ops.quality import boilerplate_stats
    docs = spark.createDataFrame(
        [(i, f"common header line doc {i}") for i in range(10)],
        "doc_id LONG, text STRING")
    plan = _formatted(boilerplate_stats(docs, n=3, min_docs=3))
    assert "CartesianProduct" not in plan


def test_gopher_filter_is_map_only(spark):
    """The composite Gopher gate is array-side HOFs over each row: one
    scan + project, zero exchanges at any corpus size."""
    from fspann_query_system_spark.ops.quality import gopher_filter
    plan = _plan(gopher_filter(W._t(spark, SF, "documents")))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_span_dedup_two_bounded_exchanges_no_double_eval(spark):
    """span_dedup shuffles exactly twice (span-keyed window, doc-keyed
    reassembly) and must not re-evaluate the computed span array below
    the Generate (the InferFiltersFromGenerate double-eval class)."""
    from fspann_query_system_spark.ops.dedup import span_dedup
    import re
    plan = _formatted(span_dedup(W._t(spark, SF, "documents")))
    # formatted output names each node twice (tree + detail section)
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges == 2, plan
    assert "CartesianProduct" not in plan
    # the explode goes through select_posexploded (posexplode in Outer
    # mode): no inferred size()-filter duplicating the slice chain below
    # the Generate
    assert "posexplode" in plan, plan
    # the inferred-filter double-eval class would insert a Filter BELOW
    # the Generate (smaller node id) re-evaluating the span build; the
    # only Filter here is select_posexploded's null guard above it
    nodes = dict((name, int(i)) for i, name in
                 re.findall(r"^\((\d+)\) (\w+)", plan, re.M))
    assert nodes.get("Filter", 10 ** 6) > nodes["Generate"], plan


def test_bq_topk_no_product_and_broadcast_rerank(spark):
    """BQ ANN: approx stage is a scan-side kernel (no Q x N join); the
    exact re-rank broadcasts the tiny query side."""
    from fspann_query_system_spark.ops.similarity import bq_topk
    base = W._emb(spark, SF)
    q = base.filter(F.col("id") < 5).selectExpr("id as q_id", "vector")
    plan = _formatted(bq_topk(base, q, [0.0] * 64, k=5, rerank=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_knn_join_cell_equi_join_no_product(spark):
    """The kNN self-join must co-shuffle probes and assignment on cell
    as an equi-join — never a nested-loop/cartesian pair expansion, and
    never a collect of the query side (both sides are scan-fed)."""
    from fspann_query_system_spark.ops.similarity import knn_join
    base = W._emb(spark, SF)
    cents = base.filter(F.col("id") < 8)
    plan = _formatted(knn_join(base, cents, k=5, nprobe=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_join_sq8_no_product_and_binary_probe_payload(spark):
    """The SQ8-probe kNN self-join must keep the cell equi-join shape
    (no product), and its probe-side exchange must carry the BINARY
    qcodes column, not a vector array — the whole point of the
    variant is that the n·nprobe exchange ships dim bytes per row."""
    from fspann_query_system_spark.ops.similarity import (knn_join_sq8,
                                                          sq8_stats)
    base = W._emb(spark, SF)
    cents = base.filter(F.col("id") < 8)
    mins, maxs = sq8_stats(base)
    plan = _formatted(knn_join_sq8(base, cents, mins, maxs,
                                   k=5, nprobe=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "qcodes" in plan


def test_ivf_bq_sq8_topk_no_product_and_broadcast_tiers(spark):
    """Three-tier ANN: every tier must stay shortlist-bounded — no
    Q x N product anywhere, and both the SQ8-rank join and the exact
    re-rank broadcast the bounded side."""
    from fspann_query_system_spark.ops.similarity import ivf_bq_sq8_topk
    base = W._emb(spark, SF)
    cents = base.filter(F.col("id") < 8)
    q = base.filter(F.col("id") < 5).selectExpr("id as q_id", "vector")
    plan = _formatted(ivf_bq_sq8_topk(base, q, cents, [0.0] * 64,
                                      [-1.0] * 64, [1.0] * 64,
                                      k=5, nprobe=2, bq_keep=8, rerank=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_ivf_bq_topk_no_product_and_broadcast_rerank(spark):
    """IVF-BQ: coarse assign + Hamming prescreen are scan-side kernels
    (no Q x N join anywhere); the exact re-rank broadcasts the bounded
    shortlist and query sides."""
    from fspann_query_system_spark.ops.similarity import ivf_bq_topk
    base = W._emb(spark, SF)
    cents = base.filter(F.col("id") < 8)
    q = base.filter(F.col("id") < 5).selectExpr("id as q_id", "vector")
    plan = _formatted(ivf_bq_topk(base, q, cents, [0.0] * 64,
                                  k=5, nprobe=2, rerank=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_dsir_weights_bounded_histogram_and_broadcast_ratio(spark):
    """DSIR: the bucket histogram key space is n_buckets (never
    corpus-sized), the log-ratio side reaches the scoring join as a
    broadcast, and nothing goes all-pairs."""
    from fspann_query_system_spark.ops.quality import dsir_weights
    plan = _plan(dsir_weights(W._t(spark, SF, "documents"),
                              F.col("lang") == "en", n_buckets=64))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan          # ratio-table join
    assert "SortMergeJoin" not in plan


def test_bloom_decontaminate_broadcast_bits_no_double_eval(spark):
    """Bloom probe: the position table joins as a broadcast, nothing
    goes all-pairs, and no Filter re-evaluates the computed gram/
    position arrays below a Generate (double-eval class)."""
    from fspann_query_system_spark.ops.quality import bloom_decontaminate
    df = bloom_decontaminate(W._t(spark, SF, "documents"), m_bits=1024)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    fmt = _formatted(df)
    for line in fmt.splitlines():
        if line.strip().startswith("Condition") and "md5" in line:
            raise AssertionError(f"computed array in a Filter: {line}")


def test_cluster_sample_map_side_assign_single_cell_window(spark):
    """cluster_sample: assignment is map-side (no join with the
    centroid table), the only exchange above the scan feeds the
    cell-keyed window."""
    from fspann_query_system_spark.ops.sampling import cluster_sample
    from fspann_query_system_spark.ops.similarity import kmeans_fit
    emb = W._emb(spark, SF)
    cent = kmeans_fit(emb, k=4, iters=1)
    plan = _plan(cluster_sample(emb, cent, per_cell=3))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Window") >= 1


def test_checkpoints_only_through_materialize():
    """The materialization policy lives in one module: every eager
    checkpoint in the package goes through ``functions.plan.materialize``
    (localCheckpoint, or a reliable checkpoint once the session has a
    checkpoint directory).  A bare ``.localCheckpoint(`` / ``.checkpoint(``
    anywhere else would silently bypass the cluster switch."""
    import ast
    from pathlib import Path

    import fspann_query_system_spark as pkg
    root = Path(pkg.__file__).parent
    allowed = root / "functions" / "plan.py"
    bare = []
    for path in sorted(root.rglob("*.py")):
        if path == allowed:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("localCheckpoint", "checkpoint")):
                bare.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not bare, bare


def test_search_call_keywords_name_real_parameters():
    """Every keyword passed to ``search_batch``, ``search_batch_adaptive``,
    ``AnnIndex.build``, ``with_encrypted_points``, ``_nearest_cells``,
    ``ivf_topk``, ``knn_join`` or ``knn_join_sq8`` in the package,
    ``tools/`` and ``fsbench/`` names a parameter of that function
    (``search_batch_adaptive`` forwards its keywords to ``search_batch``).
    Tier-1 runs no tool, so a keyword an API change removed would
    otherwise survive there until the tool is next run."""
    import ast
    import inspect
    from pathlib import Path

    import fspann_query_system_spark as pkg
    from fspann_query_system_spark.ops import similarity
    from fspann_query_system_spark.query import ann

    def params(fn):
        return set(inspect.signature(fn).parameters)

    search = params(ann.search_batch)
    allowed = {
        "search_batch": search,
        "search_batch_adaptive": search | params(ann.search_batch_adaptive),
        "build": params(ann.AnnIndex.build),
        "with_encrypted_points": params(ann.AnnIndex.with_encrypted_points),
        **{fn.__name__: params(fn) for fn in (
            similarity._nearest_cells, similarity.ivf_topk,
            similarity.knn_join, similarity.knn_join_sq8)},
    }
    pkg_root = Path(pkg.__file__).parent
    files = [*pkg_root.rglob("*.py"),
             *(pkg_root.parent / "tools").rglob("*.py"),
             *(pkg_root.parent / "fsbench").rglob("*.py")]
    calls, stale = 0, []
    for path in sorted(files):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name == "build" and not (isinstance(f, ast.Attribute)
                                        and isinstance(f.value, ast.Name)
                                        and f.value.id == "AnnIndex"):
                continue
            if name not in allowed:
                continue
            calls += 1
            stale += [f"{path.name}:{node.lineno} {name}({kw.arg}=)"
                      for kw in node.keywords
                      if kw.arg is not None and kw.arg not in allowed[name]]
    assert calls >= 20, calls          # the walk reached the call sites
    assert not stale, stale
