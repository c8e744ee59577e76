"""Tracing overhead: run a workload untraced and traced on the same seeds and
report, per end-to-end metric, the traced median relative to the untraced one.

    python3 perfbench/overhead.py --workload cdc --seeds 1 2 3 --seconds 18

Both runs compute the end-to-end metrics; a traced run writes them to its
artifact under ``.perfbench/artifacts/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    subprocess.run(cmd, cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    path = os.path.join(ROOT, ".perfbench", "artifacts", f"{workload}-seed{seed}-trace{trace}.json")
    with open(path) as f:
        return json.load(f)["e2e"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    untraced, traced = [], []
    for seed in args.seeds:  # alternate, so drift on the host hits both sides
        untraced.append(run(args.workload, seed, args.seconds, 0))
        traced.append(run(args.workload, seed, args.seconds, 1))
    out = {}
    for name in sorted(untraced[0]):
        u = statistics.median(r[name]["value"] for r in untraced)
        t = statistics.median(r[name]["value"] for r in traced)
        out[name] = {"untraced": u, "traced": t, "traced_over_untraced": t / u if u else None,
                     "unit": untraced[0][name]["unit"]}
        print(f"{name:<24} untraced {u:>12.5g} traced {t:>12.5g} "
              f"ratio {out[name]['traced_over_untraced'] or float('nan'):.3f}")
    print(json.dumps({"workload": args.workload, "seeds": args.seeds, "overhead": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
