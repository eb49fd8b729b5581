#!/usr/bin/env python3
"""Run a workload K times, then K times more, and check the two sets.

Each run gets its own seed (1..2K). For every end-to-end metric in
``BENCHMARK.json`` it prints the median and the quartile spread (IQR as a
share of the median) of each set and of all 2K runs, and checks that each
spread stays within the metric's bound and that the
second set's median is not worse than the first's by more than the bound.
The report goes to ``results/stability_<workload>.json``.

    python3 steadybench/stability.py --workload corpus_dedup --k 5
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import agg  # noqa: E402


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=600)
    wall = time.perf_counter() - t
    if proc.returncode != 0:
        raise SystemExit(f"seed {seed}: exit code {proc.returncode}")
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".steadybench", f"last_{workload}_trace0.json")) as fh:
        detail = json.load(fh)["detail"]
    res.update(wall_s=wall, seed=seed, host=detail["host"], peak_rss_mb=detail["peak_rss_mb"],
               timed_walls_s=detail["timed_walls_s"], warmup_walls_s=detail["warmup_walls_s"],
               per_query_median_s={q: statistics.median([v for v in ts if v is not None])
                                   for q, ts in detail["per_query_s"].items()})
    return res


def check(sets: list[list[dict]], spec: dict) -> tuple[dict, bool]:
    report, ok = {}, True
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        vals = [[r["metrics"][name]["value"] for r in s] for s in sets]
        med = [statistics.median(v) for v in vals]
        spreads = [agg.spread(v) for v in vals]
        all_spread = agg.spread(vals[0] + vals[1])
        worse = agg.worse_by(med[0], med[1], m["better"])
        spread_ok = max(spreads + [all_spread]) <= bound
        row_ok = spread_ok and worse <= bound
        ok &= row_ok
        report[name] = {
            "bound": bound, "medians": med, "spreads": spreads, "spread_all": all_spread,
            "second_worse_by": worse, "ok": row_ok, "under_third_of_bound":
                max(spreads + [all_spread]) < bound / 3,
            "values": vals,
        }
    return report, ok


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--k", type=int, default=5)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = spec["run_seconds"]
    sets = [[one_run(args.workload, s, seconds) for s in range(1 + k * args.k, 1 + (k + 1) * args.k)]
            for k in range(2)]
    report, ok = check(sets, spec)
    runs = [r for s in sets for r in s]
    out = {
        "workload": args.workload,
        "command": f"python3 steadybench/stability.py --workload {args.workload} --k {args.k}",
        "ok": ok,
        "all_correct": all(r["correct"] for r in runs),
        "failed_total": sum(r["failed"] for r in runs),
        "run_wall_s": [round(r["wall_s"], 2) for r in runs],
        "runs": [{k: r[k] for k in ("seed", "host", "peak_rss_mb", "warmup_walls_s", "timed_walls_s",
                                    "per_query_median_s")}
                 for r in runs],
        "metrics": report,
    }
    with open(os.path.join(HERE, "results", f"stability_{args.workload}.json"), "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    for name, r in report.items():
        print(f"{name:12s} medians {r['medians'][0]:.4g} / {r['medians'][1]:.4g}  "
              f"spreads {r['spreads'][0]:.3f} / {r['spreads'][1]:.3f} (all {r['spread_all']:.3f})  "
              f"second worse by {r['second_worse_by']:+.3f}  bound {r['bound']}  "
              f"{'ok' if r['ok'] else 'FAIL'}")
    print(f"runs {len(runs)}, mean wall {statistics.mean(out['run_wall_s']):.1f} s, "
          f"failed ops {out['failed_total']}, {'ok' if ok else 'FAIL'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
