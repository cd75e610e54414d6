"""Unit tests for the benchmark's pure-Python parts.

Run with ``python -m pytest perfbench -q`` (no Spark session needed).
"""

from __future__ import annotations

import os
import statistics

import pytest

from nise_dedup.config import DedupConfig
from perfbench import workloads as W
from perfbench.stats import (check_names, layer_name, median, metric,
                             pair_quality, partition, self_times, spread)
from perfbench.seeds import parse_seeds
from perfbench.trace import _size_bytes, _unit


def test_median_and_spread():
    assert median([3, 1, 2]) == 2.0
    assert median([4, 1, 2, 3]) == 2.5
    values = [10.0, 11.0, 12.0, 13.0, 30.0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    assert spread(values) == pytest.approx((q3 - q1) / 12.0)
    assert spread([5.0]) == 0.0
    with pytest.raises(ValueError):
        median([])


def test_parse_seeds():
    assert parse_seeds("1-3,7") == [1, 2, 3, 7]
    assert parse_seeds("5") == [5]


def test_metric_records_and_names():
    assert metric(1, "s") == {"value": 1.0, "unit": "s"}
    with pytest.raises(ValueError):
        metric(float("nan"), "s")
    with pytest.raises(ValueError):
        metric(1.0, "seconds per run")
    assert layer_name("verify", "wall_s") == "verify.wall_s"
    with pytest.raises(ValueError):
        layer_name("verify", "wall s")
    with pytest.raises(ValueError):
        check_names({"_hidden": metric(1, "s")})
    assert _unit("hashing.shingle_us_per_kb") == "us/KB"
    assert _unit("lsh.shuffle_write_mb") == "MB"
    assert _unit("verify.wall_s") == "s"
    assert _unit("verify.pass_ratio") == "ratio"
    assert _unit("lsh.n_cand_pairs") == "count"


def test_size_metric_parsing():
    assert _size_bytes("12.0 MiB") == 12 * (1 << 20)
    total = "total (min, med, max (stageId: taskId))\n1,024.0 KiB (1.0 KiB, "
    assert _size_bytes(total + "2.0 KiB, 3.0 KiB (stage 1.0: task 2))") \
        == 1024 * 1024
    assert _size_bytes("n/a") == 0.0


def test_pair_quality_counts_pairs_per_cluster():
    truth = {"a": 1, "b": 1, "c": 1, "d": -1, "e": -1}
    pred = {"a": 7, "b": 7, "c": 9, "d": 9, "e": 5}
    q = pair_quality(truth, pred)
    # truth pairs ab ac bc; predicted pairs ab cd; hit ab
    assert (q["n_truth_pairs"], q["n_pred_pairs"], q["n_hit_pairs"]) \
        == (3, 2, 1)
    assert q["recall"] == pytest.approx(1 / 3)
    assert q["precision"] == pytest.approx(1 / 2)
    with pytest.raises(ValueError):
        pair_quality(truth, {"a": 1})


def test_partition_ignores_label_values():
    assert partition({"a": 1, "b": 1, "c": 2}) \
        == partition({"a": 5, "b": 5, "c": 0})
    assert partition({"a": 1, "b": 1, "c": 2}) \
        != partition({"a": 1, "b": 2, "c": 2})


def test_self_times_subtract_direct_children():
    spans = [{"name": "pipeline", "start": 0.0, "end": 10.0, "parent": None},
             {"name": "lsh", "start": 1.0, "end": 4.0, "parent": "pipeline"},
             {"name": "verify", "start": 4.0, "end": 9.0,
              "parent": "pipeline"}]
    st = self_times(spans)
    assert st["pipeline"] == pytest.approx(2.0)
    assert st["lsh"] == pytest.approx(3.0)


@pytest.mark.parametrize("name", sorted(W.GENERATORS))
def test_generators_are_deterministic(name):
    gen = W.GENERATORS[name]
    a, b = gen(3), gen(3)
    assert W.fingerprint(a) == W.fingerprint(b)
    assert W.fingerprint(a) != W.fingerprint(gen(4))
    keys = {(r.repo, r.path, r.commit) for r in a}
    assert len(keys) == len(a)              # natural keys are unique
    assert any(r.gt_cluster > 0 for r in a)  # planted truth exists


def test_hotbucket_plants_an_oversized_stub_family():
    rows = W.hotbucket(5)
    stubs = [r for r in rows if r.gt_cluster == W.STUB_CLUSTER]
    assert len(stubs) == W.HOTBUCKET_STUBS + W.HOTBUCKET_VARIANTS
    assert len({r.content for r in stubs}) == len(stubs)
    assert W.HOTBUCKET_STUBS > DedupConfig().bucket_cap


def test_largefiles_sizes():
    rows = W.largefiles(5)
    assert len(rows) == W.LARGEFILES_N
    mean = sum(len(r.content) for r in rows) / len(rows)
    assert 0.8 * W.LARGEFILES_MEAN_BYTES < mean < 1.2 * W.LARGEFILES_MEAN_BYTES


def test_end_descendants_stops_and_reaps_children():
    import subprocess
    import time

    from perfbench.run import descendants, end_descendants

    proc = subprocess.Popen(["sleep", "60"])
    assert proc.pid in descendants(os.getpid())
    t0 = time.monotonic()
    end_descendants(grace=0.0)
    assert time.monotonic() - t0 < 5
    assert proc.pid not in descendants(os.getpid())
    assert not os.path.exists(f"/proc/{proc.pid}")


def test_is_result():
    from perfbench.run import is_result

    assert is_result('{"correct": true, "attempted": 1}\n')
    assert not is_result('{"workload": "hotbucket"}\n')
    assert not is_result("WARN something\n")
    assert not is_result("[1, 2]\n")
    assert not is_result('"correct"\n')
