"""Pure helpers: medians, spreads, pair-level quality and metric records."""

from __future__ import annotations

import math
import re
import statistics
from collections import Counter, defaultdict

_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
_UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def spread(values) -> float:
    """Interquartile distance as a share of the median (0 for < 2 values)."""
    values = list(values)
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else math.inf


def metric(value: float, unit: str) -> dict:
    """One metric record, as the result line carries it."""
    if not _UNIT.match(unit):
        raise ValueError(f"bad unit {unit!r}")
    if value is None or not math.isfinite(float(value)):
        raise ValueError(f"metric value must be a finite number: {value!r}")
    return {"value": float(value), "unit": unit}


def check_names(metrics: dict) -> dict:
    """Validate metric names (letters, digits, '_', '.', '-'; <= 64)."""
    for name in metrics:
        if not _NAME.match(name):
            raise ValueError(f"bad metric name {name!r}")
    return metrics


def layer_name(layer: str, what: str) -> str:
    """``<layer>.<metric>`` with a validated result."""
    name = f"{layer}.{what}"
    if not _NAME.match(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def _pairs(n: int) -> int:
    return n * (n - 1) // 2


def pair_quality(truth: dict, pred: dict) -> dict:
    """Dup-pair recall and precision of a clustering against planted truth.

    ``truth``: key -> ground-truth cluster (> 0 for planted duplicates,
    anything else for negatives); ``pred``: key -> predicted cluster for
    the same keys. A pair is every unordered pair inside one cluster;
    counted per cluster so a giant component costs O(n), not O(n^2).
    """
    if truth.keys() != pred.keys():
        raise ValueError("truth and prediction cover different rows")
    by_truth: dict = defaultdict(Counter)
    for key, t in truth.items():
        if t > 0:
            by_truth[t][pred[key]] += 1
    n_truth = sum(_pairs(sum(c.values())) for c in by_truth.values())
    n_hit = sum(_pairs(v) for c in by_truth.values() for v in c.values())
    n_pred = sum(_pairs(v) for v in Counter(pred.values()).values())
    return {"n_truth_pairs": n_truth, "n_hit_pairs": n_hit,
            "n_pred_pairs": n_pred,
            "recall": n_hit / n_truth if n_truth else 1.0,
            "precision": n_hit / n_pred if n_pred else 1.0}


def partition(labels: dict) -> frozenset:
    """A clustering as a set of member sets, independent of label values."""
    groups: dict = defaultdict(set)
    for key, label in labels.items():
        groups[label].add(key)
    return frozenset(frozenset(g) for g in groups.values())


def self_times(spans: list[dict]) -> dict:
    """Span name -> duration minus the time its direct children cover."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["name"]: (s["end"] - s["start"]) - child[s["name"]]
            for s in spans}
