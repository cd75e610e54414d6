"""Pure-Python tests (no Spark session): config-hash stability for
execution-only knobs and the event-log diagnosis tool
(scripts/parse_eventlog.py, BENCH/ADDENDUM.md Addendum 10)."""

import json
import sys
from pathlib import Path

from nise_dedup.config import DedupConfig

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
import parse_eventlog  # noqa: E402


def test_execution_knobs_do_not_change_config_hash():
    """Every execution-only knob must leave config_hash alone — a resume
    after tuning one must NOT recompute completed stages."""
    base = DedupConfig().config_hash()
    assert DedupConfig(shuffle_partitions=4).config_hash() == base
    assert DedupConfig(arrow_batch_rows=7).config_hash() == base
    # and a semantic knob MUST change it
    assert DedupConfig(tau_hamming=5).config_hash() != base


def _ev(kind, **kw):
    return {"Event": kind, **kw}


def _stage(sid, t0, t1, n_tasks, name="stage"):
    return _ev("SparkListenerStageCompleted",
               **{"Stage Info": {"Stage ID": sid, "Stage Name": name,
                                 "Number of Tasks": n_tasks,
                                 "Submission Time": int(t0 * 1000),
                                 "Completion Time": int(t1 * 1000)}})


def _task(sid, t0, t1):
    return _ev("SparkListenerTaskEnd", **{
        "Stage ID": sid,
        "Task Info": {"Launch Time": int(t0 * 1000),
                      "Finish Time": int(t1 * 1000)}})


def test_parse_eventlog_gaps_and_stages(tmp_path):
    """Two stages with a 2s hole between them: the hole is a driver gap;
    per-stage task sums/max and the single-task wall roll up."""
    evs = [
        _ev("SparkListenerExecutorAdded",
            **{"Executor Info": {"Total Cores": 4}}),
        _stage(0, 0.0, 10.0, 4, "scan"),
        _task(0, 0.0, 9.0), _task(0, 0.0, 5.0),
        _stage(1, 12.0, 20.0, 1, "collect"),
        _task(1, 12.0, 20.0),
    ]
    p = tmp_path / "events.jsonl"
    p.write_text("\n".join(json.dumps(e) for e in evs))
    out = parse_eventlog.analyze(str(p))
    assert out["span_s"] == 20.0
    assert out["driver_gap_s"] == 2.0
    assert out["gaps_over_min"][0]["gap_s"] == 2.0
    assert out["single_task_wall_s"] == 8.0
    assert out["n_stages"] == 2 and out["cores"] == 4


def test_parse_eventlog_overlapping_stages_merge(tmp_path):
    """Concurrent stages must not double-count coverage."""
    evs = [_stage(0, 0.0, 10.0, 2), _stage(1, 5.0, 15.0, 2)]
    p = tmp_path / "events.jsonl"
    p.write_text("\n".join(json.dumps(e) for e in evs))
    out = parse_eventlog.analyze(str(p))
    assert out["covered_s"] == 15.0 and out["driver_gap_s"] == 0.0
