"""Pure helpers for the linkage benchmark: percentiles and pairwise
F1. No Spark import, so they are unit-testable in
milliseconds (test_perfbench.py)."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def tail_percentile(samples, beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """(percentile, value, n): the highest nearest-rank percentile that
    leaves min(``beyond``, ⌊n/4⌋) samples strictly above its rank.

    With n sorted samples, rank k leaves n - k samples beyond it and is
    percentile 100·k/n. From 4·``beyond`` samples on, that is the rank
    with exactly ``beyond`` samples beyond it. A shorter run cannot
    place ``beyond`` samples above its upper quartile, and its maximum
    is set by a single slow unit, which does not repeat from run to
    run; it reports the upper quartile instead. The caller reports the
    percentile it got, so a short run's p80 is never read as a p99."""
    xs = sorted(float(x) for x in samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    k = n - min(beyond, n // 4)
    return 100.0 * k / n, xs[k - 1], n


def _norm(pairs) -> set:
    return {(a, b) if a <= b else (b, a) for a, b in pairs}


def pair_f1(pred_pairs, gold_pairs, ordered: bool = False) -> dict:
    """Pairwise precision, recall and F1 of a predicted pair set against
    gold pairs. Dedup pairs are unordered (normalized lo, hi); linkage
    pairs (``ordered``) keep their (A, B) orientation."""
    p = set(pred_pairs) if ordered else _norm(pred_pairs)
    g = set(gold_pairs) if ordered else _norm(gold_pairs)
    common = len(p & g)
    prec = common / len(p) if p else 0.0
    rec = common / len(g) if g else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {"pred": len(p), "gold": len(g), "common": common,
            "precision": prec, "recall": rec, "f1": f1}


def cluster_pairs(assignments) -> set:
    """Unordered within-cluster pairs of a {member: cluster} mapping."""
    by: dict = {}
    for member, cluster in assignments:
        by.setdefault(cluster, []).append(member)
    out = set()
    for ms in by.values():
        ms.sort()
        for i, a in enumerate(ms):
            for b in ms[i + 1:]:
                out.add((a, b))
    return out
