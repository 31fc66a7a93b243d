"""Order-flow benchmark: one command per named workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Inputs are generated from ``--seed``; the
program sees only those inputs.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` holding every end-to-end
metric (``--trace 0``) or every per-layer metric (``--trace 1``); the line
before it carries sample counts, load average and the workload's own
figures.  A failed output check, a lost tick or a generator that fell
behind makes ``correct`` false and the exit code 1.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
PKG = "live_market_data_orderflow_analysis_big_data_project__spark"
WORKLOADS = ("tick_feed", "orderflow_queries")


def _spec() -> dict:
    """Metric names and units, from BENCHMARK.json at the repository root."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)),
                    help="local task threads (default: nproc); 1 gives the "
                         "single-threaded baseline")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _args(sys.argv[1:] if argv is None else argv)
    needed = (PKG, "__spark_entry__.py", "BENCHMARK.json")
    if not all(os.path.exists(os.path.join(ROOT, n)) for n in needed):
        print(f"run from the repository root: {', '.join(needed)} not all found in {ROOT}",
              file=sys.stderr)
        return 2
    loadavg = os.getloadavg()

    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Every scratch path stays in the checkout; the package import path is
    # exported so Python workers (mapInPandas) find it.
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(args.cpus),
        "SPARK_GRAFT_SCRATCH": os.path.join(work, "scratch"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    t0 = time.time()
    try:
        if args.workload == "tick_feed":
            out = workloads.run_tick_feed(args.seed, args.seconds, bool(args.trace), work, args.cpus)
        else:
            out = workloads.run_mix(args.workload, args.seed, args.seconds, bool(args.trace), work, args.cpus)
    finally:
        workloads.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    wall = time.time() - t0

    spec = _spec()
    if args.trace:
        metrics = {m["name"]: (float(out.layers.get(m["name"], 0.0)), m["unit"])
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: (float(out.e2e[m["name"]]), m["unit"]) for m in spec["end_to_end"]}
    correct = not out.problems
    for p in out.problems:
        print(f"perfbench: {args.workload}: {p}", file=sys.stderr)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "cpus": args.cpus,
        "loadavg_start": [round(x, 2) for x in loadavg], "run_wall_s": round(wall, 2),
        "error_rate": out.failed / max(1, out.attempted), **out.detail,
        **({"traced_e2e": out.e2e} if args.trace else {}),
    }))
    print(json.dumps({
        "correct": correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
