"""Repository benchmark: runs one workload (or all of them) against the
program in this checkout and prints one JSON result line.

  python3 perfbench/run.py --workload filter_batch --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py            # every workload, default seconds

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, ``--trace 1``
its per-layer metrics (and writes the span file under perfbench/.work/traces).
Exit status is non-zero when a correctness check fails, and when the
program's sources are missing from the checkout.
"""

from __future__ import annotations

import argparse
import importlib
import json
import subprocess
import sys
import time

import common

WORKLOADS = {
    "filter_batch": "wl_filter",
    "api_check": "wl_api",
}


def load_spec() -> dict:
    with open(common.REPO_ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def run_one(args, spec: dict) -> int:
    run = common.Run(args.workload, args.seed, args.seconds, bool(args.trace))
    host = {"host.loadavg_start": common.loadavg(),
            "host.raw_cpu_rate": common.raw_cpu_rate(common.cores())}
    run.mark("probes")
    try:
        e2e, layers = importlib.import_module(WORKLOADS[args.workload]).run(run)
    finally:
        run.cleanup()
    run.mark("done")
    host["host.loadavg_end"] = common.loadavg()
    layers.update(host)
    if args.trace:
        wanted, values = spec["per_layer"], layers
    else:
        wanted, values = spec["end_to_end"], e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "seconds": args.seconds,
              "attempted": run.attempted, "failed": run.failed,
              "marks": run.marks, "op_times": run.op_times, "e2e": e2e,
              "layers": layers, "at": time.time()}
    with open(common.WORK_ROOT / "runs.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")
    correct = run.failed == 0 and run.attempted > 0
    sys.stdout.flush()
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


def run_all(args, spec: dict) -> int:
    """Every workload in its own process; prints each metric by name with
    its unit and fails if any workload's correctness check failed."""
    status = 0
    for name in WORKLOADS:
        cmd = [sys.executable, __file__, "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode not in (0, 1) or not lines:
            print(f"{name}: crashed (exit {out.returncode})")
            status = 1
            continue
        res = json.loads(lines[-1])
        print(f"{name}: correct={res['correct']} attempted={res['attempted']}"
              f" failed={res['failed']}")
        for metric, v in res["metrics"].items():
            print(f"  {metric:45s} {v['value']:14.4f} {v['unit']}")
        if not res["correct"]:
            status = 1
    return status


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", default="all",
                   choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=None,
                   help="measured seconds per run (default: run_seconds "
                        "of BENCHMARK.json)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not common.repo_present():
        print("perfbench: the program's sources (" + ", ".join(common.REQUIRED)
              + ") are not in this checkout", file=sys.stderr)
        return 2
    spec = load_spec()
    if args.seconds is None:
        args.seconds = float(spec["run_seconds"])
    common.WORK_ROOT.mkdir(exist_ok=True)
    if args.workload == "all":
        return run_all(args, spec)
    return run_one(args, spec)


if __name__ == "__main__":
    sys.exit(main())
