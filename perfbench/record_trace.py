"""Record the committed traced run of one workload.

    python3 perfbench/record_trace.py --workload <name> --seed <n>

Runs the benchmark untraced and then traced with the same seed, one
after the other, each for ``run_seconds`` of ``BENCHMARK.json`` (the
window every benchmark run measures), and writes ``perfbench/traces/<workload>.json``: the
traced run's per-layer metrics and spans, both runs' end-to-end
metrics, and the tracing overhead (traced ``wall_s`` minus untraced
``wall_s``). Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True, timeout=600,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        seconds = json.load(f)["run_seconds"]

    untraced = _run(args.workload, args.seed, seconds, 0)
    _run(args.workload, args.seed, seconds, 1)
    with open(os.path.join(".perfbench_out", f"trace_{args.workload}_{args.seed}.json")) as f:
        traced = json.load(f)
    wall0 = untraced["metrics"]["wall_s"]["value"]
    wall1 = traced["per_layer"]["trace.wall_s"]
    traced["untraced_end_to_end"] = {k: v["value"] for k, v in untraced["metrics"].items()}
    traced["tracing_overhead_s"] = wall1 - wall0
    traced["tracing_overhead_frac"] = (wall1 - wall0) / wall0
    os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
    with open(os.path.join(HERE, "traces", f"{args.workload}.json"), "w") as f:
        json.dump(traced, f, indent=1)
    print(json.dumps({"workload": args.workload, "wall_s": wall0, "traced_wall_s": wall1,
                      "tracing_overhead_s": wall1 - wall0}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
