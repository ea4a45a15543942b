"""Benchmark entry point.

    python3 fsbench/run.py --workload enc_interactive --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout.  Generates the workload's inputs
from ``--seed``, sets up, drives the closed loop for ``--seconds`` of
measured operation time, checks every output against the oracles in
``checks.py`` and prints one ``# name = value unit`` line per metric,
then, as the last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs under the span collector and
reports the per-layer metrics (spans also go to
``.fsbench/spans-<workload>-<seed>.jsonl``).  A failed check still prints the
result line, with ``"correct": false``, and exits 1; without the engine
package in the working directory it exits 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "fspann_query_system_spark"

# the operation each workload times as "query" and as "job"
OPS = {"enc_interactive": ("search", "rotate"), "offline": ("ivfpq", "dedup")}


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def _tail(xs: list) -> str:
    """Sample count and the highest of p50/p90/p95/p99 that has at least
    ten samples above it."""
    n = len(xs)
    ok = [p for p in (50, 90, 95, 99) if n - int(n * p / 100) - 1 >= 10]
    if not ok:
        return f"n={n}, no percentile has ten samples beyond it"
    return f"n={n}, p{ok[-1]}={sorted(xs)[int(n * ok[-1] / 100)]:.1f}"


def _report(workload: str, out, trace: bool) -> dict:
    """Print the human-readable lines; return the JSON metrics."""
    spec = _spec()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    q_op, job_op = OPS[workload]
    lat = out.latency_ms
    med = lambda xs: float(statistics.median(xs))   # noqa: E731

    def line(name, value, unit, note=""):
        print(f"# {workload} {name} = {value:.6g} {unit}" + (f" ({note})" if note else ""))

    line("setup_s", out.setup_s, "s",
         "cold: data generation, build, first call of each operation")
    line("error_rate", out.failed / max(1, out.attempted), "ratio",
         f"{out.failed} of {out.attempted} operations")
    for op in (q_op, job_op):
        line(f"{op}_p50_ms", med(lat[op]), "ms", _tail(lat[op]))
        print(f"# {workload} {op} samples_ms = "
              + " ".join(f"{x:.0f}" for x in lat[op]))
    if workload == "enc_interactive":
        line("query_qps", 1e3 * out.items["search"] / sum(lat["search"]), "1/s")
    else:
        line("ivfpq_qps", 1e3 * out.items["ivfpq"] / sum(lat["ivfpq"]), "1/s")
        line("dedup_docs_per_s", 1e3 * out.items["dedup"] / sum(lat["dedup"]), "1/s")
    for name, v in sorted(out.quality.items()):
        line(name, v, "ratio")
    for name, v in sorted(out.values.items()):
        line(name, v, units.get(name, "count"))

    if trace:
        out.layers["trace.query_p50_ms"] = med(lat[q_op])
        out.layers["trace.job_p50_ms"] = med(lat[job_op])
        names = [m["name"] for m in spec["per_layer"]]
    else:
        names = [m["name"] for m in spec["end_to_end"]]
    e2e = {"setup_s": out.setup_s, "query_p50_ms": med(lat[q_op]),
           "job_p50_ms": med(lat[job_op]),
           "recall_at_10": out.quality["recall_at_10"],
           "space_amp": out.values["space_amp"]}
    metrics = {}
    for name in names:
        value = e2e[name] if not trace else out.layers.get(name, 0.0)
        metrics[name] = {"value": float(value), "unit": units[name]}
        if trace:
            line(name, value, units[name])
    return metrics


def _confine(root: str, work: str) -> str:
    """Point every scratch location of this process, the JVM and the
    Python workers into the checkout; workers import the engine from the
    checkout root.  Returns the Spark local directory."""
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    # reaches the spark-submit launcher JVM as well as the Spark driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={local}"
    tempfile.tempdir = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    return local


def _start_spark(work: str, local: str, cores: int):
    from fspann_query_system_spark.session import get_spark
    spark = get_spark("fsbench", master=f"local[{cores}]", extra_conf={
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the gateway
    JVM exits once its stdin closes, and takes its Python workers along."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"fsbench: no {PACKAGE}/ in {root}; run from a source checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".fsbench", f"{args.workload}-{os.getpid()}")
    local = _confine(root, work)
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.dirname(HERE))
    from fsbench import workloads
    from fsbench.trace import Tracer

    spark = _start_spark(work, local, workloads.CORES)
    try:
        tracer = Tracer(spark) if args.trace else None
        ctx = workloads.Context(spark, work, args.seed, args.seconds, tracer)
        out = workloads.WORKLOADS[args.workload](ctx)
        if tracer is not None:
            tracer.write(os.path.join(
                root, ".fsbench", f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for err in out.errors:
        print(f"# CHECK FAILED {err}")
    metrics = _report(args.workload, out, bool(args.trace))
    print(json.dumps({"correct": out.failed == 0, "attempted": out.attempted,
                      "failed": out.failed, "metrics": metrics}))
    return 0 if out.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
