"""Unit tests of the benchmark's own helpers (no Spark session):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import itertools
import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import evlog  # noqa: E402
import oracle  # noqa: E402
from stats import cluster_pairs, pair_f1, tail_percentile  # noqa: E402
from traced import self_times, unit_of  # noqa: E402


# -- percentile with ten samples (or a quarter) beyond it ------------


def test_tail_percentile_leaves_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    pct, value, n = tail_percentile(xs)
    assert (pct, value, n) == (90.0, 90.0, 100)
    assert sum(x > value for x in xs) == 10


def test_tail_percentile_forty_samples_is_the_upper_quartile():
    xs = list(range(1, 41))
    random.Random(1).shuffle(xs)
    pct, value, n = tail_percentile(xs)
    assert (pct, value, n) == (75.0, 30.0, 40)
    assert sum(x > value for x in xs) == 10


def test_tail_percentile_short_run_leaves_a_quarter_beyond():
    xs = list(range(1, 26))
    random.Random(1).shuffle(xs)
    pct, value, n = tail_percentile(xs)
    assert (pct, value, n) == (76.0, 19.0, 25)
    assert sum(x > value for x in xs) == 6
    assert tail_percentile(range(1, 11)) == (80.0, 8.0, 10)
    assert tail_percentile(range(1, 21)) == (75.0, 15.0, 20)


def test_tail_percentile_under_four_samples_is_the_max():
    assert tail_percentile([3.0, 1.0, 2.0]) == (100.0, 3.0, 3)


def test_tail_percentile_rejects_empty():
    with pytest.raises(ValueError):
        tail_percentile([])


# -- pairwise F1 ------------------------------------------------------


def test_pair_f1_unordered_normalizes_orientation():
    r = pair_f1({("b", "a"), ("c", "d")}, {("a", "b"), ("a", "c")})
    assert (r["pred"], r["gold"], r["common"]) == (2, 2, 1)
    assert r["precision"] == r["recall"] == r["f1"] == 0.5


def test_pair_f1_ordered_keeps_orientation():
    r = pair_f1({("b", "a")}, {("a", "b")}, ordered=True)
    assert r["common"] == 0 and r["f1"] == 0.0


def test_pair_f1_empty_prediction_is_zero():
    assert pair_f1(set(), {("a", "b")})["f1"] == 0.0


def test_cluster_pairs_enumerates_within_cluster_pairs():
    got = cluster_pairs([("a", 1), ("b", 1), ("c", 1), ("d", 2), ("e", 3), ("f", 3)])
    assert got == {("a", "b"), ("a", "c"), ("b", "c"), ("e", "f")}
    r = pair_f1(got, {("a", "b"), ("a", "c"), ("b", "c"), ("d", "e")})
    assert r["precision"] == 0.75 and r["recall"] == 0.75


# -- event log --------------------------------------------------------


def _job(job_id, group, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages,
            "Properties": {"spark.jobGroup.id": group} if group else {}}


def _stage(sid, sub, done):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": sid, "Submission Time": sub, "Completion Time": done}}


def _task(sid, run_ms, cpu_ns=0, gc=0, wrote=0, remote=0, local=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Task Metrics": {
        "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": gc,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": wrote},
        "Shuffle Read Metrics": {"Remote Bytes Read": remote, "Local Bytes Read": local}}}


def test_evlog_attributes_stages_and_tasks_to_job_groups():
    events = [
        _job(0, "span/1", [0, 1]),
        _task(0, 400, cpu_ns=3e8, gc=5, wrote=100),
        _task(0, 100, wrote=50),
        _stage(0, 1000, 1500),
        _task(1, 200, remote=60, local=90),
        _stage(1, 1500, 1700),
        _job(1, "span/2", [2]),
        _task(2, 300, gc=7),
        _stage(2, 2000, 2100),
        _job(2, None, [3]),
        _task(3, 10),
        {"Event": "SparkListenerApplicationEnd"},
    ]
    g = evlog.summarize([__import__("json").dumps(e) for e in events], cores=4)
    s1, s2, other = g["span/1"], g["span/2"], g[""]
    assert (s1["jobs"], s1["stages"], s1["tasks"]) == (1, 2, 3)
    assert s1["shuffle_write_bytes"] == 150 and s1["shuffle_read_bytes"] == 150
    assert s1["gc_ms"] == 5 and s1["executor_cpu_ns"] == 3e8 and s1["run_ms"] == 700
    # stage 0: 4 cores x 500 ms - 500 ms run; stage 1: 4 x 200 - 200
    assert s1["idle_core_ms"] == (2000 - 500) + (800 - 200)
    assert s2["idle_core_ms"] == 4 * 100 - 300 and s2["gc_ms"] == 7
    assert other["jobs"] == 1 and other["tasks"] == 1


def test_evlog_stage_shared_by_two_jobs_belongs_to_the_first():
    events = [_job(0, "a", [0]), _job(1, "b", [0, 1]), _task(0, 10), _stage(0, 0, 10),
              _task(1, 20), _stage(1, 10, 30)]
    g = evlog.summarize(events, cores=1)
    assert g["a"]["tasks"] == 1 and g["a"]["stages"] == 1
    assert g["b"]["tasks"] == 1 and g["b"]["stages"] == 1 and g["b"]["jobs"] == 1


def test_idle_core_ms():
    assert evlog.idle_core_ms(4, 1000, 1000) == 3000
    assert evlog.idle_core_ms(4, 1000, 4000) == 0
    assert evlog.idle_core_ms(4, 10, 50) == 0  # clock granularity: floored


# -- spans ------------------------------------------------------------


def test_self_times_subtract_direct_children_only():
    spans = [
        {"id": "r", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "a", "parent": "r", "start": 1.0, "end": 4.0},
        {"id": "b", "parent": "r", "start": 5.0, "end": 9.0},
        {"id": "b1", "parent": "b", "start": 5.5, "end": 6.5},
    ]
    st = self_times(spans)
    assert st == pytest.approx({"r": 3.0, "a": 3.0, "b": 3.0, "b1": 1.0})


def test_unit_of_metric_names():
    assert unit_of("filters.s") == "s"
    assert unit_of("grouped.score_s") == "s"
    assert unit_of("kernels.jw_pairs_per_s") == "1/s"
    assert unit_of("streaming.link_batch_ms") == "ms"
    assert unit_of("pairing.shuffle_write_mb") == "MB"
    assert unit_of("filters.pass_ratio") == "ratio"
    assert unit_of("pairing.partition_skew") == "ratio"
    assert unit_of("pairing.pairs") == "count"


# -- oracle -----------------------------------------------------------


def _brute_within(keys):
    return sum(1 for i, j in itertools.combinations(range(len(keys)), 2) if keys[i] == keys[j])


def _brute_cross(ka, kb, pred=lambda i, j: True):
    return sum(1 for i in range(len(ka)) for j in range(len(kb)) if ka[i] == kb[j] and pred(i, j))


def test_block_pair_counts_match_brute_force():
    rng = random.Random(7)
    ka = [rng.choice("abcde") for _ in range(40)]
    assert oracle.within_block_pairs(ka) == _brute_within(ka)


def test_windowed_counts_match_brute_force():
    rng = random.Random(11)
    n_a, n_b = 35, 45
    ka = [rng.choice("xyz") for _ in range(n_a)]
    kb = [rng.choice("xyz") for _ in range(n_b)]
    da = [rng.randrange(-500, 500) for _ in range(n_a)]
    db = [rng.randrange(-500, 500) for _ in range(n_b)]
    near = lambda i, j: abs(da[i] - db[j]) <= 100  # noqa: E731
    assert oracle.cross_pairs_within(ka, kb, da, db, 100) == _brute_cross(ka, kb, near)
    within = sum(1 for i, j in itertools.combinations(range(n_a), 2)
                 if ka[i] == ka[j] and abs(da[i] - da[j]) <= 100)
    assert oracle.within_block_pairs_within(ka, da, 100) == within


def test_enumerate_cross_pairs_lists_blocked_pairs_up_to_limit():
    ka, kb = ["a", "b", "a"], ["a", "a", "c"]
    pa, pb = oracle.enumerate_cross_pairs(ka, kb, 10)
    assert sorted(zip(pa.tolist(), pb.tolist())) == [(0, 0), (0, 1), (2, 0), (2, 1)]
    pa, _ = oracle.enumerate_cross_pairs(ka, kb, 3)
    assert len(pa) == 3


# -- host facts -------------------------------------------------------


def test_cpu_shares_are_fractions_of_the_interval():
    from procs import cpu_shares

    start = {"user": 100, "system": 50, "idle": 800, "steal": 50}
    end = {"user": 400, "system": 100, "idle": 1300, "steal": 200}
    s = cpu_shares(start, end)
    assert s == pytest.approx({"user": 0.3, "system": 0.05, "idle": 0.5, "steal": 0.15})
