"""Benchmark entry point for the engine in this checkout.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the workload's input tables from ``--seed``, starts a Spark
session sized to the host, runs the workload for about ``--seconds`` of
timed work, checks every output, and prints as its last stdout line one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
measured with tracing off; with ``--trace 1`` they are the per-layer
metrics, and the run's spans are written to ``perfbench/.work/traces/``.
The lines before it give the host facts and a readable report.

Everything the run writes (inputs, Spark scratch, the served model and map
table, traces) stays under ``perfbench/.work/``; the per-run directory is
removed at exit. Workloads are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# The engine and pyspark write scratch files through tempfile; keep them in
# the checkout. Must be set before anything calls tempfile.gettempdir().
_TMP = os.path.join(WORK, "tmp", str(os.getpid()))
os.makedirs(_TMP, exist_ok=True)
os.environ["TMPDIR"] = _TMP
# Spark's scratch goes to spark.local.dir under the run directory; an
# inherited SPARK_LOCAL_DIRS would take precedence over it.
os.environ.pop("SPARK_LOCAL_DIRS", None)
sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    try:
        return _main(argv)
    finally:
        shutil.rmtree(_TMP, ignore_errors=True)


def _main(argv) -> int:
    import nyc_traffic_insight_spark  # noqa: F401 - fail fast without the engine

    import workloads
    from harness import Context, host_facts

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    t_start = time.perf_counter()
    before = host_facts()
    work = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    ctx = None
    try:
        ctx = Context(args, work)
        res = workloads.run(args.workload, ctx)
        if ctx.trace:
            tdir = os.path.join(WORK, "traces")
            os.makedirs(tdir, exist_ok=True)
            ctx.tracer.write(os.path.join(tdir, f"{args.workload}-seed{args.seed}.json"))
    finally:
        if ctx is not None:
            ctx.session.close()
        shutil.rmtree(work, ignore_errors=True)
    res.report["run_s"] = time.perf_counter() - t_start
    after = host_facts()
    host = dict(after, steal_jiffies_delta=after["steal_jiffies"] - before["steal_jiffies"])
    del host["steal_jiffies"]

    print(json.dumps({"host": host}))
    for name, (value, unit) in sorted(res.metrics.items()):
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(json.dumps({"report": res.report, "check_failures": res.check_failures}))
    print(
        json.dumps(
            {
                "correct": not res.check_failures and res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {
                    n: {"value": v, "unit": u} for n, (v, u) in sorted(res.metrics.items())
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
