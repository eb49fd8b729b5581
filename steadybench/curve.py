#!/usr/bin/env python3
"""Measure a workload's warm-up curve: pass wall and JIT time per pass.

Runs ``run.py`` once with its fixed warm-up (the first pass is the cold,
checking pass) and then enough timed passes to make ``--passes`` in all,
and writes ``results/curve_<workload>.json``.
The fixed warm-up and timed counts in ``workloads.py`` are read off these
curves.

    python3 steadybench/curve.py --workload listings_batch --passes 14
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WARMUP_PASSES  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--passes", type=int, default=14)
    ap.add_argument("--seed", type=int, default=0)
    args = ap.parse_args()
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--trace", "0",
           "--timed", str(args.passes - WARMUP_PASSES)]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True)
    if proc.returncode != 0:
        print(f"run failed with code {proc.returncode}", file=sys.stderr)
        return proc.returncode
    with open(os.path.join(ROOT, ".steadybench", f"last_{args.workload}_trace0.json")) as fh:
        detail = json.load(fh)["detail"]
    walls = detail["warmup_walls_s"] + detail["timed_walls_s"]
    jit = [p[0] for p in detail["jvm_per_pass"]]
    classes = [p[2] for p in detail["jvm_per_pass"]]
    out = {
        "workload": args.workload,
        "command": " ".join(["python3", "steadybench/curve.py"] + sys.argv[1:]),
        "host": detail["host"],
        "slots": detail["slots"],
        "note": "pass 0 is the cold pass that also checks outputs",
        "passes": [
            {"pass": i, "wall_s": w, "jvm_jit_ms": j, "jvm_classes_loaded": c}
            for i, (w, j, c) in enumerate(zip(walls, jit, classes))
        ],
    }
    path = os.path.join(HERE, "results", f"curve_{args.workload}.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    for p in out["passes"]:
        print(p["pass"], p["wall_s"], p["jvm_jit_ms"])
    return 0


if __name__ == "__main__":
    sys.exit(main())
