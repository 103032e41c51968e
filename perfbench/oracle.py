"""Independent expected values for the benchmark's output checks.

Everything here works on the driver-side flat corpus
(``corpus.generate_flat_pandas``, the same pure per-doc function the
Spark generator maps) with NumPy counting only — no Spark, no scoring
kernels — so a count that disagrees with the pipeline points at the
pipeline, not at a shared bug.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def _codes(*key_arrays):
    """Shared integer codes for the same key values across arrays."""
    allv = np.concatenate([np.asarray(k, dtype=object) for k in key_arrays])
    codes, _ = pd.factorize(allv)
    out, pos = [], 0
    for k in key_arrays:
        out.append(codes[pos:pos + len(k)])
        pos += len(k)
    return out


def within_block_pairs(keys) -> int:
    """Σ C(n, 2) over blocks: the dedup candidate-pair count."""
    n = pd.Series(np.asarray(keys, dtype=object)).value_counts().to_numpy(np.int64)
    return int((n * (n - 1) // 2).sum())


def cross_pairs_within(keys_a, keys_b, days_a, days_b, window: int) -> int:
    """A×B pairs sharing a block key with |day_a - day_b| <= window,
    counted by binary search over B sorted by (block, day) — no pair is
    materialized. With A = B it counts every ordered pair, self-pairs
    included (see ``within_block_pairs_within``)."""
    ca, cb = _codes(keys_a, keys_b)
    da = np.asarray(days_a, dtype=np.int64)
    db = np.asarray(days_b, dtype=np.int64)
    off = window + 1 - min(da.min(initial=0), db.min(initial=0))
    span = int(max(da.max(initial=0), db.max(initial=0)) + off + window + 1)
    comp_b = np.sort(cb.astype(np.int64) * span + db + off)
    base = ca.astype(np.int64) * span + da + off
    lo = np.searchsorted(comp_b, base - window, side="left")
    hi = np.searchsorted(comp_b, base + window, side="right")
    return int((hi - lo).sum())


def within_block_pairs_within(keys, days, window: int) -> int:
    """Unordered same-block pairs with |day_a - day_b| <= window: the
    ordered A = B count, less the self-pairs, halved."""
    return (cross_pairs_within(keys, keys, days, days, window) - len(keys)) // 2


def enumerate_cross_pairs(keys_a, keys_b, limit: int) -> tuple[np.ndarray, np.ndarray]:
    """Up to ``limit`` (pos_a, pos_b) A×B pairs sharing a key, in block
    order — workload string pairs for the direct kernel probe."""
    ca, cb = _codes(keys_a, keys_b)
    order_b = np.argsort(cb, kind="stable")
    sorted_b = cb[order_b]
    out_a, out_b, total = [], [], 0
    for i in np.argsort(ca, kind="stable"):
        lo = np.searchsorted(sorted_b, ca[i], side="left")
        hi = np.searchsorted(sorted_b, ca[i], side="right")
        if hi > lo:
            take = order_b[lo:hi][: limit - total]
            out_a.append(np.full(len(take), i))
            out_b.append(take)
            total += len(take)
            if total >= limit:
                break
    if not out_a:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(out_a), np.concatenate(out_b)


def gold_cross_pairs(flat_a: pd.DataFrame, flat_b: pd.DataFrame) -> set:
    """(doc_a, doc_b) pairs of A×B documents planted as one entity."""
    la = flat_a[flat_a["entity"] >= 0][["doc_id", "entity"]]
    lb = flat_b[flat_b["entity"] >= 0][["doc_id", "entity"]]
    j = la.merge(lb, on="entity", suffixes=("_a", "_b"))
    return set(zip(j["doc_id_a"], j["doc_id_b"]))


def gold_within_pairs(flat: pd.DataFrame) -> set:
    lab = flat[flat["entity"] >= 0][["doc_id", "entity"]]
    j = lab.merge(lab, on="entity", suffixes=("_a", "_b"))
    j = j[j["doc_id_a"] < j["doc_id_b"]]
    return set(zip(j["doc_id_a"], j["doc_id_b"]))


def epoch_days(dates) -> np.ndarray:
    return (pd.to_datetime(pd.Series(list(dates))).to_numpy("datetime64[D]")
            .astype(np.int64))
