#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root (the package is imported from the working
directory). Each workload generates its inputs from ``--seed``, sets up,
discards a warm-up pass where it has one, times passes for ``--seconds``,
checks every pass against a reference computed in set-up, and prints one JSON
object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` turns on benchmark-side spans, job groups and Spark's event log
and reports the per-layer metrics instead (a layer the workload bypasses
reads 0). The per-layer span table goes to standard error and to
``.perfbench_out/``. See ``perfbench/README.md`` for the workloads.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

WORKLOADS = {
    "skewed_extract": "w_extract",
    "resume_job": "w_resume",
}


class Context:
    """What a workload receives: its arguments, the pinned box, its work
    directory and the tracer."""

    def __init__(self, args, work, cpus: int, tracer) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.cpus = cpus
        self.tracer = tracer
        self.t_start = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Progress line on standard error: seconds since start, phase."""
        print(f"[perfbench] {time.perf_counter() - self.t_start:7.2f}s {phase}", file=sys.stderr)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # the package under test is the checkout's own source tree; a directory
    # holding only the benchmark fails here, before any result is printed
    sys.path.insert(0, root)
    importlib.import_module("pdf_extraction_and_query_spark")

    import common

    common.become_subreaper()
    cpus = common.pinned_cpus()
    work = common.Workdir(root, args.workload)
    common.pin_environment(work, cpus, bool(args.trace))
    tracer = common.Tracer(enabled=bool(args.trace))
    ctx = Context(args, work, cpus, tracer)
    try:
        res = importlib.import_module(WORKLOADS[args.workload]).run(ctx)
    finally:
        common.reap_children()
        work.remove()

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    measured = res["metrics"]
    unknown = set(measured) - {m["name"] for m in wanted}
    if unknown:
        raise RuntimeError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    metrics = {}
    for m in wanted:
        if m["name"] not in measured and not args.trace:
            raise RuntimeError(f"end-to-end metric {m['name']} not measured")
        metrics[m["name"]] = {"value": float(measured.get(m["name"], 0.0)), "unit": m["unit"]}

    if args.trace:
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        table = tracer.self_times()
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json"), "w") as f:
            json.dump(
                {"host": res["host"], "layers": table, "metrics": metrics,
                 "spans": [s.__dict__ for s in tracer.spans]},
                f,
                indent=1,
            )
        print(f"{'layer':<28}{'self_s':>10}{'total_s':>10}{'count':>7}", file=sys.stderr)
        for layer, row in sorted(table.items()):
            print(
                f"{layer:<28}{row['self_s']:>10.3f}{row['total_s']:>10.3f}{row['count']:>7d}",
                file=sys.stderr,
            )
    print(json.dumps({"host": res["host"], "passes_s": res["passes_s"]}), file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
