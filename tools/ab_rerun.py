"""Matched A/B isolated rerun: one registry query in a fresh session/JVM
of the tree at REPO ROOT — the warm-up bench.py applies (JVM, parquet
footers, python workers), then N timed runs, printed as one JSON line
with all runs and the median — so the same measurement can run against
the working tree and a checkout of an older snapshot (the pathology-#5
adjudication protocol, SCALE.md §10: only a delta that survives the
isolated back-to-back A/B on the same box is a plan regression).

Usage: python3 tools/ab_rerun.py <repo_root> <query> [runs=3]
       # alternate trees to interleave environment drift:
       for i in 1 2; do
         python3 tools/ab_rerun.py /root/repo        knn_join_sq8
         python3 tools/ab_rerun.py /root/repo/.ab_r9 knn_join_sq8
       done
(each invocation is a separate JVM — that IS the isolation.)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


def main():
    root = os.path.abspath(sys.argv[1])
    name = sys.argv[2]
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = root + (
        os.pathsep + os.environ["PYTHONPATH"]
        if os.environ.get("PYTHONPATH") else "")
    from fspann_query_system_spark.session import get_spark
    from fspann_query_system_spark import workloads

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ab-rerun",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    # bench.py's warm-up, verbatim in spirit: JVM, footers, py workers
    spark.range(1000).selectExpr("sum(id)").collect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").schema
    workloads.load_events(spark, f"{sf_dir}/events.parquet").schema
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    import pandas as _pd  # noqa: F401
    spark.range(100).mapInPandas(lambda it: it, schema="id LONG").count()

    fn = workloads.QUERIES[name]
    times = []
    for _ in range(runs):
        spark.sparkContext._jvm.System.gc()
        t0 = time.time()
        fn(spark, sf_dir).collect()
        times.append(round(time.time() - t0, 3))
    print(json.dumps({"root": root, "query": name, "sf_dir": sf_dir,
                      "runs": times,
                      "median": statistics.median(times)}), flush=True)


if __name__ == "__main__":
    main()
