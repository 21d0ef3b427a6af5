#!/usr/bin/env python
"""Scaling-efficiency evidence: same CDC replay at local[N] vs local[4N].

The north rule requires throughput scaling efficiency >= 0.8 from N to
4N executors; this sandbox has one machine, so we evidence it with two
parallelism levels of the identical job on identical input (per driver
instructions).  Each sample runs in a fresh JVM (subprocess) so nothing
is shared between levels.

Methodology notes (both matter on this host — see VERDICT r01):

- **Interleaved rounds, min per level.**  The host hypervisor has
  bursty steal: multi-minute windows where effective CPU drops 10-40x.
  Running all N samples then all 4N samples lets one burst poison a
  whole level; alternating N / 4N / N / 4N and taking the minimum per
  level estimates the noise-free runtime of each (noise only ever adds
  time).
- **N=1 by default.**  The VM advertises 32 vCPUs but sustains only a
  few physical cores' worth of memory bandwidth; measured pure-CPU
  scaling is ~4x from 1->4 processes and far less from 2->8.  The
  1-vs-4 pair therefore measures the ENGINE's scaling rather than the
  host's oversubscription ceiling.  Pass --n 2 to reproduce the
  2-vs-8 pair.
- **One big batch.**  A 10^10-event production stream is applied in
  ~10^8-event batches, so per-batch commit bookkeeping is amortized to
  noise; many tiny batches would benchmark the constant-time
  offset-log commits instead of the data plane.

Usage:
    python scripts/bench_scaling.py [--n 1] [--events 1000000] [--rounds 3]

Prints one JSON line and appends a results row to the BENCH section of
BASELINE.md (use --no-write to skip).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A sample that runs this long is hung, not slow: a local[1] sample with
# the default 2 reps takes ~2-4 min.  One local[1] sample once stalled
# for 14 min with the CPU idle, so a hang fails the run loudly, with
# thread dumps of both processes, instead of going unnoticed.
SAMPLE_TIMEOUT_S = 1200

# prepended to every sample's code: SIGUSR1 makes the child Python dump
# every thread's stack to its stderr
_DUMP_ON_SIGNAL = (
    "import faulthandler, signal\n"
    "faulthandler.register(signal.SIGUSR1, all_threads=True)\n"
)


def _descendants(pid: int) -> list[int]:
    """Every live descendant process of ``pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces or parentheses: the fields
        # after the last ')' are state, ppid, ...
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def run_sample(code: str, timeout_s: float, label: str) -> tuple[str, str]:
    """Run ``code`` in a fresh Python process; return (stdout, stderr).

    On expiry of ``timeout_s``: take a ``jstack`` of every JVM below
    the child and a faulthandler dump of the child Python, print both
    to stderr, kill the whole process group and raise.
    """
    proc = subprocess.Popen(
        [sys.executable, "-c", _DUMP_ON_SIGNAL + code],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, cwd=REPO,
        start_new_session=True,
    )
    try:
        out, err = proc.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        dumps = []
        for pid in _descendants(proc.pid):
            if _comm(pid) != "java":
                continue
            try:
                js = subprocess.run(
                    ["jstack", str(pid)], capture_output=True, text=True,
                    timeout=120,
                )
                dumps.append(f"--- jstack {pid} ---\n{js.stdout}{js.stderr}")
            except (OSError, subprocess.TimeoutExpired) as e:
                dumps.append(f"--- jstack {pid} failed: {e!r} ---")
        os.kill(proc.pid, signal.SIGUSR1)
        time.sleep(2)
        os.killpg(proc.pid, signal.SIGKILL)
        out, err = proc.communicate()
        dumps.append(f"--- {label} python (faulthandler) ---\n{err[-20000:]}")
        sys.stderr.write("\n".join(dumps) + "\n")
        raise RuntimeError(
            f"{label} hung: no result after {timeout_s:.0f}s; thread dumps "
            f"of its JVM(s) and Python are on stderr\n{err[-2000:]}"
        )
    return out, err


def run_level(cores: int, events: int, batch: int, html_size: int, reps: int) -> dict:
    """One sample: the replay at one parallelism level in a fresh JVM.

    ``reps`` in-JVM repetitions; the minimum apply time is returned
    (warm-JIT, noise-robust), with the host's busy cores over that
    rep's timed replay (``/proc/stat``, as cdcbench counts
    ``host.cpu_busy_share``; the timed replay is each rep's last
    ``replay`` call, after the untimed warm-up batch).  A sample still
    running after ``SAMPLE_TIMEOUT_S`` fails the run (see
    ``run_sample``).
    """
    code = f"""
import json, os, sys
sys.path.insert(0, {REPO!r})
import giraffe_etl_spark.cdc as cdc
from cdcbench.counters import read_cpu
from giraffe_etl_spark.session import get_spark
from bench import run_cdc_bench
spans = []
_replay = cdc.replay
def timed_replay(*a, **kw):
    before = read_cpu()
    try:
        return _replay(*a, **kw)
    finally:
        spans.append((before, read_cpu()))
cdc.replay = timed_replay
spark = get_spark("scaling-{cores}", cores={cores})
spark.sparkContext.setLogLevel("ERROR")
best = None
for rep in range({reps}):
    ev, apply_sec, wall = run_cdc_bench(
        spark, n_events={events}, batch_size={batch}, html_size={html_size})
    (busy0, _, total0), (busy1, _, total1) = spans[-1]
    busy = (busy1 - busy0) / max(total1 - total0, 1) * os.cpu_count()
    print("REP", rep, round(apply_sec, 2), round(busy, 2), flush=True)
    if best is None or apply_sec < best[1]:
        best = (ev, apply_sec, wall, busy)
ev, apply_sec, wall, busy = best
print("RESULT " + json.dumps({{"cores": {cores}, "events": ev,
    "apply_sec": apply_sec, "wall_sec": wall, "busy_cores": busy}}))
spark.stop()
"""
    out, err = run_sample(code, SAMPLE_TIMEOUT_S, f"level {cores}")
    for line in out.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"level {cores} failed:\n{out[-2000:]}\n{err[-4000:]}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=1, help="base parallelism N (runs N and 4N)")
    ap.add_argument(
        "--events", type=int, default=2_000_000,
        help="events in the single batch; must be large enough that the "
        "data plane dominates per-batch fixed costs (job scheduling, "
        "commits, ~2-4s/batch) — the production shape is 10^8-event "
        "batches where fixed cost is noise, so the sandbox batch is "
        "sized to keep it under ~15%% of the 4N-level runtime",
    )
    ap.add_argument(
        "--html-size", type=int, default=1024,
        help="html payload bytes; the production workload is "
        "compute-dominated (per-event canonicalization + per-key "
        "extract/lang transforms), so payloads are sized to keep compute, "
        "not fixed overhead, in front",
    )
    ap.add_argument("--rounds", type=int, default=3,
                    help="interleaved N/4N rounds; min per level is reported")
    ap.add_argument("--reps", type=int, default=2,
                    help="in-JVM repetitions per sample (min taken; 2 so a "
                    "hypervisor steal burst during either rep cannot poison "
                    "the sample — rep 2 also runs warm-JIT)")
    ap.add_argument(
        "--batch", type=int, default=None,
        help="events per batch (default: all events in ONE batch — see "
        "module docstring)",
    )
    ap.add_argument("--no-write", action="store_true")
    args = ap.parse_args()

    batch = args.batch or args.events
    lo_cores, hi_cores = args.n, 4 * args.n
    lo_samples, hi_samples, controls = [], [], []
    lo_busy, hi_busy = [], []
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from cpu_control import measure as control_measure

    for rnd in range(args.rounds):
        # same-window host control: pure-CPU process scaling at the two
        # levels, measured right next to the engine samples, so a
        # pass/fail row is attributable post-hoc (a window where even
        # the hardware control scales < 0.9 cannot grade the engine)
        c_lo = control_measure(lo_cores, 3.0)
        c_hi = control_measure(hi_cores, 3.0)
        ctl = round((c_hi / c_lo) / (hi_cores / lo_cores), 3)
        controls.append(ctl)
        lo = run_level(lo_cores, args.events, batch, args.html_size, args.reps)
        hi = run_level(hi_cores, args.events, batch, args.html_size, args.reps)
        lo_samples.append(lo["apply_sec"])
        hi_samples.append(hi["apply_sec"])
        lo_busy.append(lo["busy_cores"])
        hi_busy.append(hi["busy_cores"])
        print(
            f"round {rnd}: local[{lo_cores}] {lo['apply_sec']:.2f}s "
            f"at {lo['busy_cores']:.2f} busy cores  "
            f"local[{hi_cores}] {hi['apply_sec']:.2f}s "
            f"at {hi['busy_cores']:.2f} busy cores  "
            f"(host control eff {ctl})",
            file=sys.stderr, flush=True,
        )

    best_lo, best_hi = min(lo_samples), min(hi_samples)
    # busy cores of the samples the efficiency is computed from: if
    # local[4N] keeps B4 cores busy where local[N] kept B1 (task slots
    # plus the JVM and Python work beside them), the same CPU work per
    # event caps the efficiency near B4 / (4 * B1)
    busy_lo = lo_busy[lo_samples.index(best_lo)]
    busy_hi = hi_busy[hi_samples.index(best_hi)]
    tput_lo = args.events / best_lo
    tput_hi = args.events / best_hi
    eff = (tput_hi / tput_lo) / 4.0
    result = {
        "metric": "cdc-apply scaling efficiency N->4N",
        "n": args.n,
        "events": args.events,
        "throughput_n": round(tput_lo, 1),
        "throughput_4n": round(tput_hi, 1),
        "apply_sec_n": round(best_lo, 2),
        "apply_sec_4n": round(best_hi, 2),
        "samples_n": [round(s, 2) for s in lo_samples],
        "samples_4n": [round(s, 2) for s in hi_samples],
        "efficiency": round(eff, 3),
        "busy_cores_n": round(busy_lo, 2),
        "busy_cores_4n": round(busy_hi, 2),
        "busy_cores_samples_n": [round(b, 2) for b in lo_busy],
        "busy_cores_samples_4n": [round(b, 2) for b in hi_busy],
        "busy_cores_efficiency_cap": round(busy_hi / (4.0 * busy_lo), 3),
        "host_control_efficiency": controls,
        "pass": eff >= 0.8,
    }
    print(json.dumps(result))

    if not args.no_write:
        # persisted for bench.py to embed in its per-round JSON record
        with open(os.path.join(REPO, "SCALING.json"), "w") as f:
            json.dump(result, f, indent=1)
            f.write("\n")
        path = os.path.join(REPO, "BASELINE.md")
        with open(path, "a") as f:
            f.write(
                f"\n<!-- bench_scaling.py -->\n"
                f"| measured {args.events} events | local[{lo_cores}]: "
                f"{result['throughput_n']} ev/s | local[{hi_cores}]: "
                f"{result['throughput_4n']} ev/s | efficiency "
                f"{result['efficiency']} ({'PASS' if result['pass'] else 'FAIL'}) |\n"
            )


if __name__ == "__main__":
    main()
