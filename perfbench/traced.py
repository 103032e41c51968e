"""The traced run: the workload's pipeline called layer by layer, each
call inside a span, plus probes of the layers its pipeline does not
call, so every per-layer metric exists on every workload.

A span records name, layer, role (``job`` for the steps of the
workload's own pipeline, ``probe`` otherwise), start, end, parent and
trace id, and sets the Spark job group to its id, so the event log
attributes every job, stage and task to one span (evlog.py). Spans are
kept in memory and returned with the report. Each step materializes its
output (``localCheckpoint`` + count) so the next layer starts from
data, not from a lazy plan: the traced plan differs from the untraced
one, and ``trace.overhead_s`` (traced job steps minus the untraced
unit of work) says by how much.
"""

from __future__ import annotations

import glob
import os
import statistics
import time
from contextlib import contextmanager

import numpy as np

from evlog import read as read_evlog
from evlog import summarize
from workloads import HIGH, LOW, dob_filter, scorer

SPARK_LAYERS = ["indices", "pairing", "filters", "scorers", "grouped", "matchers",
                "clustering", "streaming"]
KERNEL_PAIRS = 1_000_000
STREAM_BATCHES = 3  # traced micro-batches on link_online


class Tracer:
    def __init__(self, sc, trace_id: str) -> None:
        self.sc = sc
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._n = 0

    @contextmanager
    def span(self, name: str, layer: str | None = None, role: str = "probe"):
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        s = {"id": f"{self.trace_id}/{self._n}", "name": name, "layer": layer,
             "role": role, "parent": parent["id"] if parent else None,
             "trace_id": self.trace_id}
        self._stack.append(s)
        self.sc.setJobGroup(s["id"], name)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["id"], parent["name"])
            self.spans.append(s)


def self_times(spans: list[dict]) -> dict:
    """{span id: duration minus the part of it its children cover}."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] in out:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def _ckpt(df):
    from datamatch_spark.session import checkpoint_storage_level

    out = df.localCheckpoint(storageLevel=checkpoint_storage_level())
    return out, out.count()


# ---------------------------------------------------------------------
# one function per layer call; each returns its output and its counts
# ---------------------------------------------------------------------


def step_indices(tr, role, index, dfa, dfb):
    from datamatch_spark.indices import BLOCK_KEY
    from pyspark.sql import functions as F

    with tr.span("indices.key_df", "indices", role) as s:
        keyed = []
        for side, df in enumerate([dfa] if dfb is None else [dfa, dfb]):
            k, _ = _ckpt(index.key_df(df, "doc_id").withColumn("__side", F.lit(side)))
            keyed.append(k)
    keys = keyed[0] if len(keyed) == 1 else keyed[0].unionByName(keyed[1])
    per = keys.groupBy(BLOCK_KEY).pivot("__side", list(range(len(keyed)))).count().fillna(0)
    rows = per.toPandas()
    na = rows["0"].to_numpy(np.int64)
    nb = rows["1"].to_numpy(np.int64) if dfb is not None else None
    total = na + (nb if nb is not None else 0)
    raw = int((na * nb).sum()) if nb is not None else int((na * (na - 1) // 2).sum())
    return rows, {"indices.key_s": s["end"] - s["start"], "indices.keys": int(total.sum()),
                  "indices.blocks": int(len(rows)), "indices.max_block_rows": int(total.max()),
                  "_block_rows": total, "_pairs_raw": raw}


def step_pairing(tr, role, index, dfa, dfb, cfg, idx_counts):
    from datamatch_spark.metrics import partition_stats
    from datamatch_spark.pairing import candidate_pairs

    with tr.span("pairing.candidate_pairs", "pairing", role) as s:
        pairs, n = _ckpt(candidate_pairs(dfa, index, "doc_id", ["last", "first", "dob"],
                                         dfb=dfb, cfg=cfg))
    ps = partition_stats(pairs).toPandas()
    parts = np.zeros(int(ps["n_partitions_total"].max()) if len(ps) else 1)
    parts[: len(ps)] = np.sort(ps["n_rows"].to_numpy())[::-1]
    n_a = dfa.count()
    possible = n_a * dfb.count() if dfb is not None else n_a * (n_a - 1) // 2
    raw = idx_counts["_pairs_raw"]
    return pairs, {
        "pairing.candidate_pairs_s": s["end"] - s["start"], "pairing.pairs": n,
        "pairing.pairs_raw": raw, "pairing.dup_ratio": raw / n if n else 1.0,
        "pairing.hot_blocks": int((idx_counts["_block_rows"] > cfg.salt_threshold).sum()),
        "pairing.reduction_ratio": 1.0 - n / possible,
        "pairing.partition_skew": float(parts.max() / max(np.median(parts), 1.0)),
    }


def step_filters(tr, role, pairs, n_pairs):
    rec = pairs.schema["a"].dataType
    with tr.span("filters.predicate", "filters", role) as s:
        out, n = _ckpt(pairs.where(dob_filter().predicate("a", "b", rec)))
    return out, {"filters.s": s["end"] - s["start"], "filters.pairs": n,
                 "filters.pass_ratio": n / n_pairs if n_pairs else 0.0}


def step_scorers(tr, role, pairs):
    from datamatch_spark.scorers import CompileCtx
    from pyspark.sql import functions as F

    with tr.span("scorers.compile", "scorers", role) as s:
        ctx = CompileCtx(df=pairs)
        col = scorer().compile(ctx)
        out, n = _ckpt(ctx.df.withColumn("sim_score", col.cast("double"))
                       .select("idx_a", "idx_b", "sim_score"))
    # a NULL score is a refusal, which ThresholdMatcher drops
    refused = out.where(F.col("sim_score").isNull()).count()
    return out, {"scorers.score_s": s["end"] - s["start"], "scorers.pairs_scored": n,
                 "matchers.refused": refused}


def step_one_to_one(tr, role, scored, n_scored):
    from datamatch_spark.clustering import greedy_one_to_one

    with tr.span("clustering.greedy_one_to_one", "clustering", role) as s:
        kept, n = _ckpt(greedy_one_to_one(scored))
    return kept, {"clustering.one_to_one_s": s["end"] - s["start"],
                  "clustering.one_to_one_kept_ratio": n / n_scored if n_scored else 0.0}


def step_grouped(tr, role, index, dfa, dfb, cfg):
    from datamatch_spark.grouped import grouped_scored_pairs

    with tr.span("grouped.grouped_scored_pairs", "grouped", role) as s:
        out, n = _ckpt(grouped_scored_pairs(dfa, index, "doc_id", scorer(), cfg=cfg, dfb=dfb))
    return out, {"grouped.score_s": s["end"] - s["start"], "grouped.pairs": n}


def step_clusters(tr, role, scored):
    """Connected components of the pairs in the threshold band, then
    the clique split — the two calls ``get_cluster_assignments`` makes."""
    from datamatch_spark.clustering import connected_components, split_clique_members
    from pyspark.sql import functions as F

    sliced = scored.where((F.col("sim_score") >= LOW) & (F.col("sim_score") <= HIGH))
    with tr.span("clustering.connected_components", "clustering", role) as s_cc:
        comp, _ = _ckpt(connected_components(sliced.select("idx_a", "idx_b")))
    edges = sliced.count()
    components = comp.select("component").distinct().count()
    tagged = sliced.join(comp.withColumnRenamed("node", "idx_a"), on="idx_a").select(
        "component", "sim_score", "idx_a", "idx_b")
    with tr.span("clustering.split_clique_members", "clustering", role) as s_sp:
        members, _ = _ckpt(split_clique_members(tagged))
    clusters = members.select("cluster_id").distinct().count()
    return members, {"clustering.cc_s": s_cc["end"] - s_cc["start"],
                     "clustering.edges": edges, "clustering.components": components,
                     "clustering.split_s": s_sp["end"] - s_sp["start"],
                     "clustering.clusters": clusters}


def step_matchers(tr, role, make_matcher):
    with tr.span("matchers.ThresholdMatcher", "matchers", role) as s:
        n = make_matcher().scored_pairs.count()
    return {"matchers.scored_pairs_s": s["end"] - s["start"], "matchers.pairs": n}


def step_streaming(tr, role, batches, reference, index):
    from datamatch_spark.streaming import incremental_link_batch

    spans = []
    for k, batch in enumerate(batches):
        with tr.span(f"streaming.incremental_link_batch[{k}]", "streaming", role) as s:
            incremental_link_batch(batch, reference, index, scorer(), "doc_id",
                                   lower_bound=LOW, upper_bound=HIGH).collect()
        spans.append(s)
    return spans


def step_kernels(tr, w):
    from datamatch_spark.kernels import jaro_winkler_batch

    a, b = w.kernel_pairs(KERNEL_PAIRS)
    a, b = list(a), list(b)
    with tr.span("kernels.jaro_winkler_batch", "kernels", "probe") as s:
        jaro_winkler_batch(a, b)
    return {"kernels.jw_pairs": len(a),
            "kernels.jw_pairs_per_s": len(a) / (s["end"] - s["start"])}


# ---------------------------------------------------------------------


def _layer_inputs(w):
    """(dfa, dfb, index, pairing config, matcher factory, batches for the
    streaming layer, their reference) on workload ``w``'s data. On
    link_online the batch-level calls see one timed-size micro-batch."""
    from datamatch_spark import PairingConfig
    from datamatch_spark.session import checkpoint_storage_level

    level = checkpoint_storage_level()
    if w.name == "link_online":
        batches = [w.batch_df(w.WARM_BATCHES + k).localCheckpoint(storageLevel=level)
                   for k in range(STREAM_BATCHES)]
        return (batches[0], w.dfb, w.index(), PairingConfig(salt_enabled=False),
                lambda: w.matcher(batches[0]), batches, w.dfb)
    dfb = getattr(w, "dfb", None)
    batch = w.dfa.orderBy("doc_id").limit(200).localCheckpoint(storageLevel=level)
    return (w.dfa, dfb, w.index(), PairingConfig(), w.matcher, [batch],
            w.dfa if dfb is None else dfb)


# the layer calls that make up each workload's own pipeline
JOB_STEPS = {"dedup_hot": {"grouped", "clustering"},
             "link_online": {"streaming"}}


def run(w, spark, cores: int, work: str):
    """Traced run of workload ``w`` after set-up and warm-up; returns
    (result line, report detail)."""
    sc = spark.sparkContext
    app_id = sc.applicationId
    sc.setJobGroup("untraced", "untraced")
    untraced = w.iteration(0)
    w.check(untraced)
    tr = Tracer(sc, f"{w.name}-{w.seed}")
    dfa, dfb, index, cfg, make_matcher, batches, reference = _layer_inputs(w)
    role = lambda step: "job" if step in JOB_STEPS[w.name] else "probe"  # noqa: E731
    m: dict = {}

    with tr.span("traced_run"):
        _, c = step_indices(tr, role("indices"), index, dfa, dfb)
        m.update(c)
        grouped_out, c = step_grouped(tr, role("grouped"), index, dfa, dfb, cfg)
        m.update(c)
        pairs, c = step_pairing(tr, role("pairing"), index, dfa, dfb, cfg, m)
        m.update(c)
        filtered, c = step_filters(tr, role("filters"), pairs, m["pairing.pairs"])
        m.update(c)
        scored, c = step_scorers(tr, role("scorers"), filtered)
        m.update(c)
        links, c = step_one_to_one(tr, role("clustering.one_to_one"), scored,
                                   m["scorers.pairs_scored"])
        m.update(c)
        # dedup clusters its grouped scores; the link workloads' links
        _, c = step_clusters(tr, role("clustering"),
                             grouped_out if w.name == "dedup_hot" else links)
        m.update(c)
        m.update(step_matchers(tr, role("matchers"), make_matcher))
        stream_spans = step_streaming(tr, role("streaming"), batches, reference, index)
        m.update(step_kernels(tr, w))
    spark.stop()  # flushes the event log

    failures = []
    path = os.path.join(work, "evlog", app_id)
    files = glob.glob(path) + glob.glob(path + ".inprogress")
    if not files:
        failures.append(f"no event log at {path}")
    groups = summarize(read_evlog(files[0]), cores) if files else {}
    per_span = {s["id"]: groups.get(s["id"], {}) for s in tr.spans}
    # every step of the workload's own pipeline runs Spark tasks; a job
    # span without any means its events were not attributed
    failures += [f"span {s['name']} ran no tasks in the event log" for s in tr.spans
                 if s["role"] == "job" and not per_span[s["id"]].get("tasks")]
    st = self_times(tr.spans)
    for layer in SPARK_LAYERS:
        ids = [s["id"] for s in tr.spans if s["layer"] == layer]
        tot = lambda k: sum(per_span[i].get(k, 0) for i in ids)  # noqa: E731
        m[f"{layer}.self_s"] = sum(st[i] for i in ids)
        m[f"{layer}.tasks"] = tot("tasks")
        m[f"{layer}.shuffle_write_mb"] = tot("shuffle_write_bytes") / 2**20
        m[f"{layer}.shuffle_read_mb"] = tot("shuffle_read_bytes") / 2**20
        m[f"{layer}.executor_cpu_s"] = tot("executor_cpu_ns") / 1e9
        m[f"{layer}.idle_core_s"] = tot("idle_core_ms") / 1000.0
    # JVM GC time as one figure for the whole traced run: per layer it
    # reads 0 on the small layers, per span it is in the report line
    m["trace.gc_ms"] = sum(g.get("gc_ms", 0) for g in per_span.values())
    m["kernels.self_s"] = sum(st[s["id"]] for s in tr.spans if s["layer"] == "kernels")
    m["streaming.link_batch_ms"] = 1000.0 * statistics.median(
        s["end"] - s["start"] for s in stream_spans)
    m["streaming.jobs_per_batch"] = statistics.median(
        per_span[s["id"]].get("jobs", 0) for s in stream_spans)
    m["streaming.tasks_per_batch"] = statistics.median(
        per_span[s["id"]].get("tasks", 0) for s in stream_spans)
    if w.name == "link_online":  # one unit of work is one batch
        m["trace.job_s"] = m["streaming.link_batch_ms"] / 1000.0
    else:
        m["trace.job_s"] = sum(s["end"] - s["start"] for s in tr.spans if s["role"] == "job")
    m["trace.untraced_job_s"] = untraced.seconds
    m["trace.overhead_s"] = m["trace.job_s"] - untraced.seconds
    failures += [f"{k} = {m[k]}, oracle {want}"
                 for k, want in w.traced_expected().items() if m[k] != want]
    detail = {"spans": [{k: (round(v, 6) if isinstance(v, float) else v) for k, v in s.items()}
                        for s in tr.spans],
              "span_events": per_span, "trace_failures": failures,
              "untraced_s": untraced.seconds,
              "unattributed_events": groups.get("", {})}
    metrics = {k: v for k, v in m.items() if not k.startswith("_")}
    out = {"correct": not failures, "attempted": 1, "failed": int(bool(failures)),
           "metrics": {k: {"value": float(v), "unit": unit_of(k)} for k, v in metrics.items()}}
    return out, detail


def unit_of(name: str) -> str:
    suffix = name.rsplit(".", 1)[1]
    if suffix == "s":
        return "s"
    for end, unit in (("_per_s", "1/s"), ("_ms", "ms"), ("_mb", "MB"), ("_s", "s"),
                      ("_ratio", "ratio"), ("_skew", "ratio")):
        if suffix.endswith(end):
            return unit
    return "count"
