"""Scheduled-job inventory.

Query mode (VERDICT r12 "Next round" #3: repeat batch 9's method — count
scheduled jobs per entry and delete the ones carrying no new
information): runs one registry query once warm in a fresh JVM and
reports how many Spark jobs the materializing action(s) scheduled, via
the status tracker (job group ids are not needed: the JVM is dedicated
to this one query).

Facade mode: builds the ``enc_interactive`` facade of the benchmark on
its seeded corpus (``fsbench/gen.py``, the benchmark's system config,
SQ8 shadow, AES-GCM store), warms it with one search and one rotation,
then lists one warm search and one warm rotation stage by stage: job,
stage, tasks, stage wall milliseconds (submission to completion),
executor run and CPU milliseconds summed over the tasks, shuffle read
and write bytes, read from Spark's status store.  A stage whose wall is
close to its summed run time ran its tasks one after another, or in one
task.  Before those, it lists each table the facade build left in the
block store (name, partitions, bytes, and bytes per raw float32 corpus
byte, the unit of the benchmark's ``space_amp``), measured where the
benchmark measures it: after the build and the loads of its lazy
tables.  The last line is one JSON object with the same listings.

Usage: python3 tools/job_inventory.py <repo_root> <query>
       python3 tools/job_inventory.py <repo_root> --facade SEED
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def _setup(root: str) -> None:
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = root + (
        os.pathsep + os.environ["PYTHONPATH"]
        if os.environ.get("PYTHONPATH") else "")


def query_inventory(root: str, name: str) -> None:
    from fspann_query_system_spark.session import get_spark
    from fspann_query_system_spark import workloads

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("job-inventory",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    import pandas as _pd  # noqa: F401
    spark.range(100).mapInPandas(lambda it: it, schema="id LONG").count()

    fn = workloads.QUERIES[name]
    fn(spark, sf_dir).collect()          # warm (broadcast/index caches)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    t0 = time.time()
    fn(spark, sf_dir).collect()
    wall = round(time.time() - t0, 3)
    after = set(tracker.getJobIdsForGroup(None) or [])
    jobs = sorted(after - before)
    info = []
    for j in jobs:
        ji = tracker.getJobInfo(j)
        n_stages = len(ji.stageIds) if ji else -1
        info.append({"job": j, "stages": n_stages})
    print(json.dumps({"root": root, "query": name, "warm_wall_sec": wall,
                      "n_jobs": len(jobs), "jobs": info}), flush=True)


def _listed(spark, group: str, fn) -> dict:
    """Run ``fn`` under job group ``group``; its wall time and one row
    per stage that ran (skipped stages are left out)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    try:
        fn()
    finally:
        wall = (time.perf_counter() - t0) * 1e3
        sc.setLocalProperty("spark.jobGroup.id", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    stages, seen = [], set()
    job_ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
    for j in job_ids:
        for sid in sc.statusTracker().getJobInfo(j).stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            s = store.lastStageAttempt(sid)
            if str(s.status()) == "SKIPPED":
                continue
            stages.append({
                "job": j, "stage": sid, "tasks": s.numTasks(),
                "wall_ms": (s.completionTime().get().getTime()
                            - s.submissionTime().get().getTime()),
                "run_ms": s.executorRunTime(),
                "cpu_ms": round(s.executorCpuTime() / 1e6),
                "shuffle_read": s.shuffleReadBytes(),
                "shuffle_write": s.shuffleWriteBytes(),
                "name": s.name().split(" at ")[0]})
    return {"op": group, "wall_ms": round(wall), "jobs": len(job_ids),
            "stages": stages}


def _stored(spark) -> dict:
    """RDD id → (partitions, bytes in memory and on disk) of every RDD
    that holds blocks in the block store."""
    return {i.id(): (i.numPartitions(), i.memSize() + i.diskSize())
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _persisted_tables(spark, sysm, before: dict, raw_bytes: int) -> list:
    """One row per RDD stored since ``before``, named after the facade
    table whose cache it is ("other" when none is)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    idx = sysm.index
    names = {}
    for name, df in (("plaintext base", sysm._base), ("store", sysm._store),
                     ("codes", idx.codes), ("bounds", idx.bounds),
                     ("sq8 shadow", idx.sq8_codes)):
        if df is None:
            continue
        cd = cm.lookupCachedData(df._jdf)
        if cd.isDefined():
            builder = cd.get().cachedRepresentation().cacheBuilder()
            if builder.isCachedColumnBuffersLoaded():
                names[builder.cachedColumnBuffers().id()] = name
    return [{"table": names.get(rdd, "other"), "rdd": rdd, "partitions": parts,
             "bytes": size, "per_raw": round(size / raw_bytes, 3)}
            for rdd, (parts, size) in sorted(_stored(spark).items())
            if rdd not in before]


def facade_inventory(root: str, seed: int) -> None:
    from fsbench import gen
    from fsbench import workloads as bench
    from fspann_query_system_spark.api import ForwardSecureANNSystem
    from fspann_query_system_spark.session import get_spark

    work = tempfile.mkdtemp(prefix="job-inventory-")
    spark = get_spark("job-inventory", master=f"local[{bench.CORES}]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        X = gen.clustered_vectors(seed, bench.N_VECTORS)
        Q = gen.perturbed_queries(seed, X, bench.BATCH)
        gen.write_vectors(os.path.join(work, "base.parquet"), X,
                          files=bench.CORES)
        gen.write_vectors(os.path.join(work, "queries.parquet"), Q,
                          id_name="q_id", files=1)
        queries = spark.read.parquet(
            os.path.join(work, "queries.parquet")).persist()
        queries.count()
        before = _stored(spark)
        sysm = ForwardSecureANNSystem(spark, bench._system_config(),
                                      master_key=bytes(32))
        sysm.index_vectors(spark.read.parquet(
            os.path.join(work, "base.parquet")), sq8=True)
        sysm.index.routing()
        sysm.index.codes.count()
        sysm.index.sq8_codes.count()
        tables = _persisted_tables(spark, sysm, before, bench.RAW_VECTOR_BYTES)

        def search():
            sysm.search(queries, k=bench.K, sq8_rerank=bench.SQ8_RERANK) \
                .select("q_id", "id", "distance", "rank").collect()

        search()                               # warm-up: the kernels,
        sysm.rotate_and_reencrypt_touched()    # then a first delta
        listing = [_listed(spark, "search", search),
                   _listed(spark, "rotation",
                           sysm.rotate_and_reencrypt_touched)]
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    total = sum(t["bytes"] for t in tables)
    print(f"# persisted tables: {total} bytes, "
          f"{total / bench.RAW_VECTOR_BYTES:.3f} x the raw corpus")
    for t in tables:
        print(f"  {t['table']:>14} rdd {t['rdd']:>5} {t['partitions']:>5} parts "
              f"{t['bytes']:>12} bytes {t['per_raw']:>7.3f} x raw")
    cols = ("job", "stage", "tasks", "wall_ms", "run_ms", "cpu_ms",
            "shuffle_read", "shuffle_write", "name")
    for op in listing:
        print(f"# {op['op']}: {op['wall_ms']} ms wall, {op['jobs']} jobs, "
              f"{len(op['stages'])} stages")
        print("  " + " ".join(f"{c:>13}" for c in cols[:-1]) + "  name")
        for s in op["stages"]:
            print("  " + " ".join(f"{s[c]:>13}" for c in cols[:-1])
                  + f"  {s['name']}")
    print(json.dumps({"root": root, "seed": seed, "tables": tables,
                      "ops": listing}), flush=True)


def main():
    root = os.path.abspath(sys.argv[1])
    _setup(root)
    if sys.argv[2] == "--facade":
        facade_inventory(root, int(sys.argv[3]))
    else:
        query_inventory(root, sys.argv[2])


if __name__ == "__main__":
    main()
