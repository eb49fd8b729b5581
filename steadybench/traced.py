#!/usr/bin/env python3
"""Run a workload traced and write its per-layer report.

Runs ``run.py --trace 1`` once and writes ``results/trace_<workload>.json``:
the per-layer metrics, span self time per layer, each timed pass's wall
split into traced spans, plain executions and the harness gap, the plain
and traced ``e2e_s``, and the event-log fold per job group. The full span
list stays in ``.steadybench/last_<workload>_trace1.json``.

    python3 steadybench/traced.py --workload index_ingest
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--trace", "1"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True)
    if proc.returncode != 0:
        print(f"run failed with code {proc.returncode}", file=sys.stderr)
        return proc.returncode
    with open(os.path.join(ROOT, ".steadybench", f"last_{args.workload}_trace1.json")) as fh:
        last = json.load(fh)
    detail = last["detail"]
    out = {
        "workload": args.workload,
        "command": " ".join(["python3", "steadybench/traced.py"] + sys.argv[1:]),
        "result": last["result"],
        "e2e_s_plain": detail["e2e_s_plain"],
        "e2e_s_traced": detail["e2e_s_traced"],
        "pass_accounting": detail["pass_accounting"],
        "layer_self_s": detail["layer_self_s"],
        "host": detail["host"],
        "peak_rss_mb": detail["peak_rss_mb"],
        "eventlog_fold": detail["eventlog_fold"],
    }
    with open(os.path.join(HERE, "results", f"trace_{args.workload}.json"), "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    for name, m in last["result"]["metrics"].items():
        print(f"{name:34s} {m['value']:.6g} {m['unit']}")
    for a in detail["pass_accounting"]:
        print(f"pass {a['pass']}: wall {a['wall_s']:.3f} s = traced spans {a['traced_spans_s']:.3f}"
              f" + plain {a['plain_s']:.3f} + harness gap {a['gap_s']:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
