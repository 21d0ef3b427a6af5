"""bench.py contract pieces that don't need a SparkSession."""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import engine_last_commit_ts, load_scaling_record


def _write_scaling(tmp_path, efficiency=0.95):
    p = os.path.join(tmp_path, "SCALING.json")
    with open(p, "w") as f:
        json.dump(
            {"efficiency": efficiency, "pass": True,
             "apply_sec_n": 60.0, "apply_sec_4n": 16.0},
            f,
        )
    return p


def test_fresh_scaling_record_embeds(tmp_path):
    p = _write_scaling(str(tmp_path))
    # engine commit long before the measurement -> fresh
    rec = load_scaling_record(p, engine_ts=time.time() - 3600)
    assert rec["pass"] is True and rec["efficiency"] == 0.95
    assert "stale" not in rec


def test_stale_scaling_record_refused(tmp_path):
    """A SCALING.json older than the engine's last commit must NOT ride
    along as a pass — the bench line carries an explicit stale marker
    with the pass verdict dropped (round-4 verdict item #10)."""
    p = _write_scaling(str(tmp_path))
    old = time.time() - 7200
    os.utime(p, (old, old))
    rec = load_scaling_record(p, engine_ts=time.time() - 3600)
    assert rec["stale"] is True
    assert "pass" not in rec
    assert rec["measured"]["efficiency"] == 0.95  # numbers kept, verdict not


def test_missing_or_unreadable_record(tmp_path):
    assert load_scaling_record(os.path.join(str(tmp_path), "nope.json"), None) is None
    p = os.path.join(str(tmp_path), "SCALING.json")
    with open(p, "w") as f:
        f.write("{not json")
    assert load_scaling_record(p, None) is None


def test_no_git_metadata_is_tolerated(tmp_path):
    # outside a git repo the guard degrades to embedding (ts None)
    assert engine_last_commit_ts(str(tmp_path)) is None
    p = _write_scaling(str(tmp_path))
    rec = load_scaling_record(p, engine_ts=None)
    assert rec["efficiency"] == 0.95


def test_engine_commit_ts_in_this_repo():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ts = engine_last_commit_ts(repo)
    assert ts is not None and ts > 1_500_000_000


def test_hung_scaling_sample_fails_with_thread_dumps(capsys):
    """A scaling sample that outlives its timeout is killed and fails
    the run, with the child Python's stacks (faulthandler) on stderr."""
    import pytest

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "scripts"))
    from bench_scaling import run_sample

    code = "import time\ndef stuck_in_sample():\n    time.sleep(60)\nstuck_in_sample()\n"
    t0 = time.monotonic()
    with pytest.raises(RuntimeError, match="hung"):
        run_sample(code, timeout_s=3, label="level 1")
    assert time.monotonic() - t0 < 30
    assert "stuck_in_sample" in capsys.readouterr().err
