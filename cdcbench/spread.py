#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 cdcbench/spread.py --workload bulk-skewed,trickle-serve --seeds 1-10

Runs ``run.py`` once per seed and workload (sequentially, alternating
the workloads, from the repository root) and prints, per workload and
metric (those on the last line and those printed beside it), the median
and the quartile distance as a share of the median, next to a third of
the metric's bound in BENCHMARK.json: a steady metric stays below that
third.  Each run's line shows its wall time and the host's steal share
over its timed window.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from helpers import iqr_share, median  # noqa: E402


def seed_list(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="comma-separated")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=None)
    args = ap.parse_args(argv)
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = args.seconds or bench["run_seconds"]

    workloads = args.workload.split(",")
    values: dict[str, dict[str, list[float]]] = {w: {} for w in workloads}
    for seed in seed_list(args.seeds):
        for wl in workloads:
            t0 = time.monotonic()
            proc = subprocess.run(
                bench["command"] + ["--workload", wl, "--seed", str(seed),
                                    "--seconds", str(seconds), "--trace", "0"],
                cwd=REPO, capture_output=True, text=True,
            )
            wall = time.monotonic() - t0
            last = (proc.stdout.strip().splitlines() or ["{}"])[-1]
            result = json.loads(last) if last.startswith("{") else {}
            # the run record also holds the metrics printed beside the last line
            record = os.path.join(REPO, ".cdcbench", "results",
                                  f"{wl}-seed{seed}-trace0.json")
            steal = None
            if proc.returncode == 0 and os.path.exists(record):
                with open(record) as f:
                    rec = json.load(f)
                steal = rec["host"]["host.steal_share"]
                for name, v in {**rec["end_to_end"], **rec["serve"]}.items():
                    values[wl].setdefault(name, []).append(v)
            print(f"{wl} seed {seed}: exit {proc.returncode} wall {wall:.1f}s "
                  f"correct {result.get('correct')} steal {steal}", flush=True)
    for wl in workloads:
        for name, vals in values[wl].items():
            if len(vals) < 2:
                continue
            share = iqr_share(vals)
            third = bounds.get(name, float("nan")) / 3
            flag = "ok" if share < third else ("WIDE" if name in bounds else "unbound")
            print(f"{wl:14s} {name:22s} median {median(vals):12.4f} "
                  f"iqr/median {share:6.3f} bound/3 {third:6.3f} {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
