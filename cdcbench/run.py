#!/usr/bin/env python3
"""CDC benchmark: one workload, one seed, one JSON line.

    python3 cdcbench/run.py --workload trickle-serve --seed 1 --seconds 20 --trace 0

Run from the repository root.  The benchmark stages the workload's
change log, seed pages and oracle digest (cached per workload and seed
under ``.cdcbench/cache``), starts one Spark process at local[4], sets
up the pages table, warms up, then drives ``CdcApplier.apply_batch``
batch after batch (closed loop, one calling thread) over a window of
whole inline-compaction cycles.  On ``trickle-serve`` a replica sync, a
rollup sync, point lookups and a range scan follow every commit, and
the loop metric times the whole iteration.  Every run ends with
correctness checks outside the timed region.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` counts
Spark jobs, stages, tasks and metadata I/O around each call and prints
the per-layer metrics.  Each metric is printed on a line of its own
with its unit; the last stdout line is the JSON object
``{"correct", "attempted", "failed", "metrics"}`` holding the metrics
every workload has.  Each run also writes its full record to
``.cdcbench/results/<workload>-seed<seed>-trace<t>.json``.  The exit
code is non-zero when a check fails or a call raises.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
STATE = os.path.join(REPO, ".cdcbench")
WORK = os.path.join(STATE, "work")
# A 2 GB driver heap instead of the engine's 8 GB default.  The engine
# pre-touches its whole heap at JVM start (-Xms = -Xmx, AlwaysPreTouch),
# so the heap size is paid inside setup_s and held resident for the
# whole run; 2 GB keeps both small on a host shared with other work.
HEAP = "2g"
# C1-only JIT.  A run lives about a minute on four cores: C2 never
# reaches steady state in that time, and its compiler threads burned
# ~70 s of CPU per run beside the four task threads, so the window's
# timing hung on when compilations landed.  C1-only shrinks the default
# code cache to 48 MB, which Spark fills mid-run ("compiler has been
# disabled"), so the cache is sized back up.  The figures are therefore
# those of a C1-compiled JVM; both commits of a comparison run the same
# flags.
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m -XX:-UsePerfData"

# On the last line, for every workload (BENCHMARK.json end_to_end).
# loop_events_per_s divides the window's events by the whole closed
# loop's wall time, readers included, so a write-side gain that costs
# the readers shows on trickle-serve; on bulk-skewed the loop is the
# apply alone.
END_TO_END = {
    "setup_s": "s",
    "apply_events_per_s": "1/s",
    "commit_s_p50": "s",
    "loop_events_per_s": "1/s",
}
# Measured only where readers run beside the writer (trickle-serve), so
# they cannot sit on the last line, which every workload must fill.
SERVE = {
    "replica_lag_s_p50": "s",
    "rollup_lag_s_p50": "s",
    "lookup_s_p50": "s",
    "range_scan_s_p50": "s",
}

# On the last line of a traced run (BENCHMARK.json per_layer).
PER_LAYER = {
    "session.start_s": "s",
    **{f"apply.{ph}_ms": "ms" for ph in (
        "setup", "plan", "write_job", "footers", "commit", "compact", "metrics",
        "quarantine")},
    "apply.blocking_share": "share",
    "apply.rows_in": "count",
    "apply.rows_quarantined": "count",
    "apply.rows_winners": "count",
    "apply.winners_per_valid_event": "ratio",
    "apply.hot_keys_detected": "count",
    "apply.buckets_touched": "count",
    "apply.batches_skipped": "count",
    "apply.jobs_per_batch": "count",
    "apply.tasks_per_batch": "count",
    "lake.meta_reads_per_commit": "count",
    "lake.meta_writes_per_commit": "count",
    "lake.meta_lists_per_commit": "count",
    "lake.meta_bytes_read_per_commit": "bytes",
    "lake.compactions": "count",
    "lake.delta_files_per_bucket": "count",
    "lake.files_scanned_per_range_scan": "count",
    "lake.files_in_snapshot": "count",
    "lake.rows_scanned_per_row_returned": "ratio",
    "lake.lookup_tasks": "count",
    "lake.read_changes_ms": "ms",
    "lake.read_changes_rows": "count",
    "lake.bytes_per_live_row": "bytes",
    "follow.files_per_sync": "count",
    "follow.jobs_per_sync": "count",
    "follow.replica_compactions": "count",
    "rollup.jobs_per_sync": "count",
    "host.cpu_busy_share": "share",
    "host.steal_share": "share",
}

APPLY_PHASES = ("setup", "plan", "write_job", "footers", "compact", "metrics", "quarantine")
BLOCKING_PHASES = ("setup", "plan", "merge_write", "compact", "metrics")


def load_workload(name: str) -> dict:
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if name not in spec["workloads"]:
        raise SystemExit(f"unknown workload {name!r}; known: {sorted(spec['workloads'])}")
    return dict(spec["common"], **spec["workloads"][name], name=name)


def isolate_environment() -> None:
    """Keep every file Spark and Python write inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_JVM_OPTS"] = f"-Djava.io.tmpdir={tmp} {JVM_OPTS}"
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable


# ---- Spark process lifetime --------------------------------------------------


def start_spark(cores: int):
    from giraffe_etl_spark.session import get_spark

    return get_spark(
        app_name="cdcbench",
        cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # one staged log segment = one scan task (bench.py's sizing)
            "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(128 * 1024),
        },
    )


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait for it and its Python workers."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in workers:
        while time.monotonic() < deadline:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)


# ---- one benchmark run --------------------------------------------------------


class Run:
    def __init__(self, spark, wl: dict, staged: dict, seed: int, cycles: int,
                 trace: bool) -> None:
        import pyarrow.parquet as pq

        from counters import CountingIO, JobCounter, Tracer

        self.spark = spark
        self.wl = wl
        self.staged = staged
        self.serve = wl["lookups_per_commit"] > 0
        # a traced write-only run still builds the consumers, so that it
        # can report their layer counters from one catch-up sync
        self.consumers = self.serve or trace
        self.window_batches = cycles * (wl["compact_threshold"] + 1)
        self.io = CountingIO()
        self.tr = Tracer(trace, JobCounter(spark.sparkContext), self.io)
        self.loop_s: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.rng = random.Random(seed)
        self.lookup_urls = (
            pq.read_table(staged["pages"], columns=["url"]).column(0).to_pylist()
        )

    # -- set-up

    def set_up(self) -> None:
        from giraffe_etl_spark.cdc import (
            CdcApplier,
            ChangelogFollower,
            IncrementalRollup,
            seed_pages,
        )

        wl = self.wl
        self.applier = CdcApplier(
            self.spark, os.path.join(WORK, "lake"), n_buckets=wl["n_buckets"],
            compact_threshold=wl["compact_threshold"],
            hot_key_threshold=wl["hot_key_threshold"], io=self.io,
        )
        seed_pages(self.applier.pages, self.spark.read.parquet(self.staged["pages"]))
        if not self.consumers:
            return
        self.follower = ChangelogFollower(
            self.spark, self.applier.pages, os.path.join(WORK, "replica"),
            n_buckets=wl["replica_buckets"],
            compact_threshold=wl["compact_threshold"],
        )
        self.rollup = IncrementalRollup(
            self.spark, self.applier.pages, os.path.join(WORK, "rollup"),
            group_cols=["lang"], measures={"html_bytes": "length(html)"},
            on_rewrite="skip",
        )

    # -- the calls the loop makes

    def apply(self, batch_id: int, span: str) -> None:
        from giraffe_etl_spark.cdc.replay import parquet_log_source
        from stage import batch_bounds

        lo, hi = batch_bounds(self.wl, batch_id)
        src = parquet_log_source(self.staged["log"])(self.spark, None, lo, hi)
        self.attempted += 1
        with self.tr.span(span) as rec:
            res = self.applier.apply_batch(src, batch_id=batch_id,
                                           lsn_range=(lo * 3, hi * 3 - 1))
        rec.update(
            skipped=res.skipped, rows_in=res.rows_in,
            rows_quarantined=res.rows_quarantined, rows_winners=res.rows_winners,
            buckets_touched=res.buckets_touched, hot_keys=res.hot_keys_detected,
            wall_ms=res.wall_ms, phase_ms=dict(res.phase_ms),
        )
        if self.tr.enabled:
            snap = self.applier.pages.current_snapshot()
            rec["delta_files_per_bucket"] = (
                sum(len(fs) for fs in snap.deltas.values()) / self.wl["n_buckets"]
            )

    def sync(self, prefix: str) -> None:
        self.attempted += 2
        with self.tr.span(prefix + "follow") as rec:
            rec["files"] = self.follower.sync()["files"]
        if self.tr.enabled:
            op = self.follower.dst.current_snapshot().summary.get("operation")
            rec["replica_compacted"] = int(op == "compact")
        with self.tr.span(prefix + "rollup"):
            self.rollup.sync()

    def lookup(self, span: str) -> None:
        url = self.rng.choice(self.lookup_urls)
        self.attempted += 1
        with self.tr.span(span):
            self.applier.pages.read_keys([url]).collect()

    def scan(self, span: str) -> None:
        from pyspark.sql import functions as F

        from giraffe_etl_spark.cdc import read_pages

        pages = self.applier.pages
        self.attempted += 1
        with self.tr.span(span) as rec:
            df = read_pages(pages).filter(
                F.col("warc_ts") >= F.lit(self.staged["scan_from"]).cast("timestamp")
            )
            df.count()
        if self.tr.enabled:
            snap = pages.current_snapshot()
            rec["files_scanned"] = len(df.inputFiles())
            rec["files_in_snapshot"] = sum(
                len(fs) for m in (snap.buckets, snap.deltas) for fs in m.values()
            )

    # -- phases of the run

    def run(self) -> None:
        from counters import read_cpu

        t0 = time.monotonic()
        self.set_up()
        table_s = time.monotonic() - t0
        # warm-up: one batch (and one sync of each consumer, one lookup,
        # one range scan), so the window runs on loaded, JIT-compiled
        # code with the planner's skew profile in place.  An explicit
        # compaction here would also warm the compaction path; it is
        # left out to keep a run near one minute.
        t0 = time.monotonic()
        self.apply(0, "warm.apply")
        if self.serve:
            self.sync("warm.")
            self.lookup("warm.lookup")
            self.scan("warm.scan")
        self.setup = {"table_s": table_s, "warmup_s": time.monotonic() - t0}

        self.window_start = self.applier.pages.current_snapshot().snapshot_id
        cpu0 = read_cpu()
        for b in range(1, 1 + self.window_batches):
            t0 = time.monotonic()
            self.apply(b, "apply")
            if self.serve:
                self.sync("")
                for _ in range(self.wl["lookups_per_commit"]):
                    self.lookup("lookup")
                self.scan("scan")
            self.loop_s.append(time.monotonic() - t0)
        self.cpu = (cpu0, read_cpu())
        if self.tr.enabled:
            self.end_of_window_probes()
        t0 = time.monotonic()
        self.check()
        self.setup["check_s"] = time.monotonic() - t0

    def end_of_window_probes(self) -> None:
        """Read-side lake counters, taken after the window on every
        workload, so the traced line is the same on both."""
        from giraffe_etl_spark.cdc import read_pages

        pages = self.applier.pages
        snap = pages.current_snapshot()
        if not self.serve:
            self.sync("")  # the consumers catch up over the whole run
        with self.tr.span("probe.read_changes") as rec:
            rec["rows"] = pages.read_changes(
                self.window_start, snap.snapshot_id, with_pre_images=True,
                on_rewrite="skip",
            ).count()
        self.lookup("probe.lookup")
        self.scan("probe.scan")
        live = read_pages(pages, snap).count()
        self.probes = {
            "lake.rows_scanned_per_row_returned":
                pages.read(snap, reconcile=False).count() / max(live, 1),
            "lake.bytes_per_live_row": sum(
                os.path.getsize(fi["path"])
                for m in (snap.buckets, snap.deltas) for fs in m.values() for fi in fs
            ) / max(live, 1),
        }

    # -- correctness gate (outside every timed region)

    def _gate(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{name}: {detail}")

    def check(self) -> None:
        from pyspark.sql import functions as F

        from giraffe_etl_spark.cdc import read_pages
        from helpers import content_digest, window_compactions

        def content(table):
            return read_pages(table).select(
                "url", "warc_ts", "text", "lang", F.length("html").alias("n")
            ).toPandas()

        def digest(pdf) -> str:
            ts = pdf["warc_ts"].astype("datetime64[us]").astype("int64")
            return content_digest(zip(pdf["url"], ts, pdf["text"], pdf["lang"], pdf["n"]))

        pages = content(self.applier.pages)
        pages_digest = digest(pages)
        self._gate("pages_vs_oracle", pages_digest == self.staged["oracle_digest"],
                   f"{pages_digest} != {self.staged['oracle_digest']}")
        n_q = self.applier.quarantine.read().count()
        self._gate("quarantine_vs_oracle", n_q == self.staged["oracle_quarantine"],
                   f"{n_q} != {self.staged['oracle_quarantine']}")
        spans = self.tr.spans["apply"]
        compactions = sum("compact" in s["phase_ms"] for s in spans)
        expected = window_compactions(1, self.window_batches,
                                      self.wl["compact_threshold"])
        self._gate("window_compactions", compactions == expected,
                   f"{compactions} != {expected}")
        skipped = sum(s["skipped"] for s in spans)
        self._gate("no_skipped_batches", skipped == 0, f"{skipped} skipped")
        if not self.consumers:
            return
        replica_digest = digest(content(self.follower.dst))
        self._gate("replica_vs_pages", replica_digest == pages_digest,
                   f"{replica_digest} != {pages_digest}")
        # recompute of the rollup: groupBy(lang) over the checked pages
        want = {k: float(v) for k, v in pages.groupby("lang")["n"].sum().items()}
        got = {r["lang"]: r["html_bytes"] for r in self.rollup.read().collect()}
        self._gate("rollup_vs_recompute", got == want, f"{got} != {want}")

    # -- reporting

    def end_to_end(self, session_s: float) -> dict:
        from helpers import median

        apply_s = self.tr.values("apply")
        events = sum(s["rows_in"] for s in self.tr.spans["apply"])
        return {
            "setup_s": session_s + self.setup["table_s"] + self.setup["warmup_s"],
            "apply_events_per_s": events / sum(apply_s),
            "commit_s_p50": median(apply_s),
            "loop_events_per_s": events / sum(self.loop_s),
        }

    def serve_metrics(self) -> tuple[dict, dict]:
        """The readers' latencies and the lookup tail rule's outcome."""
        from helpers import median, percentile, tail_percentile

        tr = self.tr
        lookups = tr.values("lookup")
        p = tail_percentile(len(lookups))
        tail = {"n": len(lookups), "percentile": p,
                "lookup_s_tail": percentile(lookups, p) if p is not None else None}
        return {
            "replica_lag_s_p50": median(tr.values("follow")),
            "rollup_lag_s_p50": median(tr.values("rollup")),
            "lookup_s_p50": median(lookups),
            "range_scan_s_p50": median(tr.values("scan")),
        }, tail

    def per_layer(self, session_s: float) -> dict:
        from counters import cpu_shares

        tr = self.tr
        spans = tr.spans["apply"]
        n = len(spans)

        def mean(field: str, recs=spans) -> float:
            return sum(r[field] for r in recs) / len(recs)

        out = {"session.start_s": session_s}
        for ph in APPLY_PHASES:
            vals = [s["phase_ms"][ph] for s in spans if ph in s["phase_ms"]]
            if vals:  # a phase that never ran is absent, not 0
                out[f"apply.{ph}_ms"] = sum(vals) / n
        out["apply.commit_ms"] = sum(
            s["phase_ms"]["merge_write"] - s["phase_ms"]["write_job"]
            - s["phase_ms"]["footers"] for s in spans
        ) / n
        out["apply.blocking_share"] = sum(
            sum(s["phase_ms"].get(ph, 0) for ph in BLOCKING_PHASES) for s in spans
        ) / sum(s["wall_ms"] for s in spans)
        for field in ("rows_in", "rows_quarantined", "rows_winners", "buckets_touched"):
            out[f"apply.{field}"] = mean(field)
        valid = sum(s["rows_in"] - s["rows_quarantined"] for s in spans)
        out["apply.winners_per_valid_event"] = sum(s["rows_winners"] for s in spans) / valid
        out["apply.hot_keys_detected"] = mean("hot_keys")
        out["apply.batches_skipped"] = sum(s["skipped"] for s in spans)
        out["apply.jobs_per_batch"] = mean("jobs")
        out["apply.tasks_per_batch"] = mean("tasks")
        for k in ("reads", "writes", "lists", "bytes_read"):
            out[f"lake.meta_{k}_per_commit"] = mean(f"meta_{k}")
        out["lake.compactions"] = sum("compact" in s["phase_ms"] for s in spans)
        out["lake.delta_files_per_bucket"] = mean("delta_files_per_bucket")
        scans = tr.spans["probe.scan"] + tr.spans["scan"]
        out["lake.files_scanned_per_range_scan"] = mean("files_scanned", scans)
        out["lake.files_in_snapshot"] = mean("files_in_snapshot", scans)
        out.update(self.probes)
        out["lake.lookup_tasks"] = mean("tasks", tr.spans["probe.lookup"] + tr.spans["lookup"])
        rc = tr.spans["probe.read_changes"]
        out["lake.read_changes_ms"] = 1000 * mean("s", rc)
        out["lake.read_changes_rows"] = mean("rows", rc)
        follow = tr.spans["follow"]
        out["follow.files_per_sync"] = mean("files", follow)
        out["follow.jobs_per_sync"] = mean("jobs", follow)
        out["follow.replica_compactions"] = sum(r["replica_compacted"] for r in follow)
        out["rollup.jobs_per_sync"] = mean("jobs", tr.spans["rollup"])
        out.update(cpu_shares(*self.cpu))
        return out


def write_record(name: str, record: dict) -> None:
    out_dir = os.path.join(STATE, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, "giraffe_etl_spark")):
        print(f"engine package not found under {REPO}", file=sys.stderr)
        return 2
    sys.path[:0] = [REPO, HERE]
    wl = load_workload(args.workload)
    # a terminated run still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    import fcntl

    from counters import cpu_shares
    from helpers import window_cycles
    from stage import ensure_staged

    cycles = window_cycles(args.seconds, wl["cycle_seconds"])
    os.makedirs(STATE, exist_ok=True)
    startup_s = time.monotonic() - T_PROCESS
    with open(os.path.join(STATE, "lock"), "w") as lock:
        # one benchmark JVM on the host at a time
        fcntl.flock(lock, fcntl.LOCK_EX)
        shutil.rmtree(WORK, ignore_errors=True)
        isolate_environment()
        t0 = time.monotonic()
        staged = ensure_staged(os.path.join(STATE, "cache"), wl, args.seed, cycles)
        stage_s = time.monotonic() - t0

        t0 = time.monotonic()
        spark = start_spark(wl["cores"])
        # process start to a live session, less lock wait and staging
        session_s = startup_s + time.monotonic() - t0
        run = None
        try:
            run = Run(spark, wl, staged, args.seed, cycles, bool(args.trace))
            run.run()
            e2e = run.end_to_end(session_s)
            serve, tail = run.serve_metrics() if run.serve else ({}, None)
            layers = run.per_layer(session_s) if args.trace else {}
        except Exception:
            traceback.print_exc()
            attempted = (run.attempted if run else 0) + 1
            print(json.dumps({"correct": False, "attempted": attempted,
                              "failed": (run.failed if run else 0) + 1, "metrics": {}}))
            return 1
        finally:
            stop_spark(spark)
            shutil.rmtree(WORK, ignore_errors=True)

    for err in run.errors:
        print(f"check failed: {err}", file=sys.stderr)
    record = {
        "workload": wl["name"], "seed": args.seed, "trace": args.trace,
        "cycles": cycles, "window_batches": run.window_batches,
        "stage_s": stage_s, "setup": run.setup, "lookup_tail": tail,
        "end_to_end": e2e, "serve": serve, "per_layer": layers,
        "host": cpu_shares(*run.cpu),
        "errors": run.errors,
        "span_s": {k: [round(r["s"], 3) for r in v] for k, v in run.tr.spans.items()},
    }
    if args.trace:
        untraced = os.path.join(STATE, "results",
                                f"{wl['name']}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            record["tracing_overhead"] = {
                k: v - base[part][k]
                for part, vals in (("end_to_end", e2e), ("serve", serve))
                for k, v in vals.items() if k in base.get(part, {})
            }
        if layers["apply.blocking_share"] < 0.9:
            print(f"warning: blocking phases cover only "
                  f"{layers['apply.blocking_share']:.1%} of apply_batch", file=sys.stderr)
    write_record(f"{wl['name']}-seed{args.seed}-trace{args.trace}.json", record)

    if args.trace:
        line = {k: (layers[k], u) for k, u in PER_LAYER.items() if k in layers}
        extra = {}
    else:
        line = {k: (e2e[k], u) for k, u in END_TO_END.items()}
        extra = {k: (serve[k], u) for k, u in SERVE.items() if k in serve}
    for k, (v, u) in {**line, **extra}.items():
        print(f"{k} {v:.6g} {u}")
    if tail is not None and not args.trace:
        print(f"lookup_s_tail: n={tail['n']}, "
              + (f"p{tail['percentile']} = {tail['lookup_s_tail']:.6g} s"
                 if tail["percentile"] is not None
                 else "no percentile has 10 samples beyond it"))
    correct = run.failed == 0
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in line.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
