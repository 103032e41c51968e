"""The benchmark workloads: inputs from the seed, one timed unit
of work, and the checks of its output.

Every workload builds its inputs with ``datamatch_spark.corpus``
(``CorpusConfig(profile="clean")``) and checks its outputs against the
generator's planted entities and the independent counts in
``oracle.py``. Why each workload exists and how it was sized is
recorded in README.md next to this file.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

from oracle import (
    cross_pairs_within,
    enumerate_cross_pairs,
    epoch_days,
    gold_cross_pairs,
    gold_within_pairs,
    within_block_pairs,
    within_block_pairs_within,
)
from stats import cluster_pairs, pair_f1

LOW, HIGH = 0.8, 1.0
DOB_WINDOW_DAYS = 365
RESCORE_EVERY = 997  # dedup rescoring sample: pairs whose xxhash64 % 997 == 0

# Counts that depend on scores, so no independent oracle gives them:
# recorded from the pipeline at these seeds. At any other seed they are
# checked for repeatability across the iterations of one run.
# pair_f1 is rounded to 12 digits.
KNOWN = {
    "dedup_hot": {
        42: {"scored_pairs": 530666, "cluster_members": 17759, "clusters": 6662,
             "pair_f1": 0.998487043296},
        7: {"scored_pairs": 471614, "cluster_members": 17743, "clusters": 6659,
            "pair_f1": 0.998387928811},
    },
    "link_online": {
        42: {"pair_f1": 0.749063670412},
        7: {"pair_f1": 0.749239054086},
    },
}

# pair_f1 floors, under the lowest F1 seen over seeds 1-20 and 42
# (0.9954 and 0.7466) by about four seed-to-seed standard deviations: a
# run below its workload's floor fails its output check.
F1_FLOOR = {"dedup_hot": 0.993, "link_online": 0.74}


class CheckFailed(Exception):
    """An output disagreed with its expected value."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def scorer():
    from datamatch_spark import DateSimilarity, JaroWinklerSimilarity
    from datamatch_spark.scorers import SimSumScorer

    return SimSumScorer({
        "last": JaroWinklerSimilarity(),
        "first": JaroWinklerSimilarity(),
        "dob": DateSimilarity(),
    })


def dob_filter():
    from datamatch_spark.filters import ColumnFilter
    from pyspark.sql import functions as F

    return ColumnFilter(
        lambda a, b: F.abs(F.datediff(a["dob"], b["dob"])) <= DOB_WINDOW_DAYS, {"dob"})


def scalar_score(ra, rb) -> float:
    """The SimSum score recomputed with the scalar kernels, in the
    scorer's field order and accumulation order."""
    from datamatch_spark.kernels import date_similarity, jaro_winkler

    acc = 0.0
    for v in (jaro_winkler(ra["last"], rb["last"]),
              jaro_winkler(ra["first"], rb["first"]),
              date_similarity(ra["dob"], rb["dob"])):
        acc += v * v
    return math.sqrt(acc / 3.0)


def rescore_check(pairs: pd.DataFrame, recs_a: dict, recs_b: dict) -> int:
    """Each pair's score must equal the scalar kernels' exactly; returns
    the number of pairs checked."""
    for ia, ib, s in pairs[["idx_a", "idx_b", "sim_score"]].itertuples(index=False):
        want = scalar_score(recs_a[ia], recs_b[ib])
        expect(s == want, f"score of ({ia}, {ib}) is {s!r}, scalar kernels give {want!r}")
    return len(pairs)


def _records(flat: pd.DataFrame) -> dict:
    return {r["doc_id"]: r for r in flat[["doc_id", "last", "first", "dob"]].to_dict("records")}


def _doc_index(flat: pd.DataFrame) -> np.ndarray:
    return flat["doc_id"].str[1:].astype(np.int64).to_numpy()


@dataclass
class IterResult:
    seconds: float
    pairs: int        # candidate pairs this unit of work covered
    records: int      # input records it linked or deduplicated
    output: object    # compared across the iterations of one run


class Workload:
    """Interface the runner drives: ``build_oracle`` (untimed),
    ``prepare`` (timed set-up), ``warm_up`` (untimed units of
    work; every later unit's output must equal the first one's), then
    ``iteration``/``check`` in a closed loop, then ``finish`` for the
    untimed checks and the F1."""

    name = ""
    N_DOCS = 0
    HOT_PCT = 4
    MIN_UNITS = 2  # timed units per run, however short --seconds is
    WARM_UNITS = 2  # untimed units first: the JIT is still settling in the second

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.reference = None
        self.counts: dict = {}

    def corpus_config(self):
        from datamatch_spark.corpus import CorpusConfig

        n = self.N_DOCS
        return CorpusConfig(n_docs=n, seed=self.seed, profile="clean",
                            blk_buckets=n // 25, hot_pct=self.HOT_PCT)

    def _fields(self, spark):
        """(fields frame, doc-index column, checkpoint level)."""
        from datamatch_spark.corpus import generate_documents, project_fields
        from datamatch_spark.session import checkpoint_storage_level
        from pyspark.sql import functions as F

        fields = project_fields(generate_documents(spark, self.corpus_config()))
        fields = fields.select("doc_id", "last", "first", "dob", "blk")
        return fields, F.substring("doc_id", 2, 9).cast("long"), checkpoint_storage_level()

    def expect_known(self, key: str, value) -> None:
        self.counts[key] = value
        want = KNOWN[self.name].get(self.seed, {}).get(key)
        if want is not None:
            expect(value == want, f"{key} = {value}, expected {want} at seed {self.seed}")

    def check(self, res: IterResult) -> None:
        """Every iteration's output equals the warm-up's exactly."""
        if self.reference is None:
            self.reference = res
        expect(res.output == self.reference.output,
               "output differs from the warm-up run's")


# ---------------------------------------------------------------------


class DedupHot(Workload):
    """Single-table dedup of a skewed corpus: block-local grouped
    scoring, then connected components and clique split."""

    name = "dedup_hot"
    N_DOCS = 20_000

    def index(self):
        from datamatch_spark import ColumnsIndex

        return ColumnsIndex("blk")

    def prepare(self, spark) -> None:
        fields, _, level = self._fields(spark)
        self.spark = spark
        self.dfa = fields.localCheckpoint(storageLevel=level)
        self.n_rows = self.dfa.count()

    def build_oracle(self) -> None:
        from datamatch_spark.corpus import generate_flat_pandas

        flat = generate_flat_pandas(self.corpus_config())
        self.flat = flat
        self.recs = _records(flat)
        self.expected_pairs = within_block_pairs(flat["blk"])
        self.expected_filtered = within_block_pairs_within(
            flat["blk"].to_numpy(), epoch_days(flat["dob"]), DOB_WINDOW_DAYS)
        self.gold = gold_within_pairs(flat)

    def matcher(self):
        from datamatch_spark import ThresholdMatcher

        return ThresholdMatcher(self.index(), scorer(), self.dfa, row_key="doc_id",
                                validate=False)

    def run_pipeline(self) -> IterResult:
        t = time.perf_counter()
        m = self.matcher()
        n_scored = m.scored_pairs.count()
        assign = m.get_cluster_assignments(LOW, HIGH).toPandas()
        dt = time.perf_counter() - t
        self.last_matcher, self.last_assign = m, assign
        members = frozenset(zip(assign["row_key"], assign["cluster_id"]))
        return IterResult(dt, n_scored, self.n_rows, (n_scored, members))

    def warm_up(self) -> None:
        self.check(self.run_pipeline())
        self.first_matcher, self.first_assign = self.last_matcher, self.last_assign
        for _ in range(self.WARM_UNITS - 1):
            self.check(self.run_pipeline())

    def iteration(self, i: int) -> IterResult:
        return self.run_pipeline()

    def check(self, res: IterResult) -> None:
        n_scored, members = res.output
        expect(n_scored == self.expected_pairs,
               f"scored pairs {n_scored}, oracle {self.expected_pairs}")
        self.expect_known("scored_pairs", n_scored)
        self.expect_known("cluster_members", len(members))
        self.expect_known("clusters", len({c for _, c in members}))
        super().check(res)

    def finish(self) -> float:
        """Rescoring sample of the first warm-up unit's scored pairs, and
        cluster F1 through ``metrics.pairwise_f1`` cross-checked against
        the benchmark's own pair-set F1."""
        from datamatch_spark.metrics import pairwise_f1
        from pyspark.sql import functions as F

        sample = (self.first_matcher.scored_pairs
                  .where(F.xxhash64("idx_a", "idx_b") % RESCORE_EVERY == 0).toPandas())
        self.counts["rescored_pairs"] = rescore_check(sample, self.recs, self.recs)
        assign = self.first_assign
        # every document on both sides (singletons as their own group;
        # noise documents carry unique negative entities), so the
        # evaluation universe is the whole corpus
        groups = dict(zip(assign["row_key"], assign["cluster_id"]))
        docs = self.flat["doc_id"]
        pred = self.spark.createDataFrame(pd.DataFrame(
            {"doc_id": docs, "group_id": [groups.get(d, "row:" + d) for d in docs]}))
        truth = self.spark.createDataFrame(
            self.flat[["doc_id", "entity"]].rename(columns={"entity": "true_id"}))
        f1 = float(pairwise_f1(pred, truth, "doc_id").collect()[0]["f1"])
        own = pair_f1(cluster_pairs(groups.items()), self.gold)["f1"]
        expect(abs(f1 - own) < 1e-12, f"metrics.pairwise_f1 {f1} != pair-set F1 {own}")
        return f1

    def traced_expected(self) -> dict:
        return {"pairing.pairs": self.expected_pairs, "pairing.pairs_raw": self.expected_pairs,
                "grouped.pairs": self.expected_pairs, "filters.pairs": self.expected_filtered}

    def kernel_pairs(self, limit: int):
        keys = self.flat["blk"].to_numpy()
        pa, pb = enumerate_cross_pairs(keys, keys, 2 * limit)
        keep = pa < pb
        last = self.flat["last"].to_numpy()
        return last[pa[keep][:limit]], last[pb[keep][:limit]]


# ---------------------------------------------------------------------


class LinkOnline(Workload):
    """Closed-loop micro-batches of new records linked against a fixed
    reference with ``streaming.incremental_link_batch``."""

    name = "link_online"
    N_DOCS = 60_000
    HOT_PCT = 0
    BATCH = 200
    WARM_BATCHES = 5
    F1_BATCHES = 8  # pair_f1 covers the first F1_BATCHES timed batches
    MIN_UNITS = F1_BATCHES

    def index(self):
        from datamatch_spark import ColumnsIndex

        return ColumnsIndex("blk")

    def prepare(self, spark) -> None:
        fields, idx, level = self._fields(spark)
        self.spark = spark
        self.dfb = fields.where(idx % 3 != 0).localCheckpoint(storageLevel=level)
        self.reference_rows = self.dfb.count()
        self.batch_schema = fields.schema

    def build_oracle(self) -> None:
        from datamatch_spark.corpus import generate_flat_pandas

        flat = generate_flat_pandas(self.corpus_config())
        i = _doc_index(flat)
        new, ref = flat[i % 3 == 0], flat[i % 3 != 0]
        self.new = new[["doc_id", "last", "first", "dob", "blk"]].reset_index(drop=True)
        self.flat_ref = ref
        self.recs_new, self.recs_ref = _records(new), _records(ref)
        self.blk = dict(zip(flat["doc_id"], flat["blk"]))
        self.days_ref = epoch_days(ref["dob"])
        self.ref_blocks = ref["blk"].value_counts().to_dict()
        self.gold_by_new: dict = {}
        for a, b in gold_cross_pairs(new, ref):
            self.gold_by_new.setdefault(a, set()).add((a, b))
        self.n_batches = len(self.new) // self.BATCH
        self.f1_batches: list = []

    def batch_frame(self, k: int) -> pd.DataFrame:
        k %= self.n_batches
        return self.new.iloc[k * self.BATCH:(k + 1) * self.BATCH]

    def batch_df(self, k: int):
        return self.spark.createDataFrame(self.batch_frame(k), schema=self.batch_schema)

    def link(self, batch) -> pd.DataFrame:
        from datamatch_spark.streaming import incremental_link_batch

        return incremental_link_batch(batch, self.dfb, self.index(), scorer(), "doc_id",
                                      lower_bound=LOW, upper_bound=HIGH).toPandas()

    def matcher(self, batch):
        """The matcher ``incremental_link_batch`` builds for one batch."""
        from datamatch_spark import PairingConfig, ThresholdMatcher

        return ThresholdMatcher(self.index(), scorer(), batch, self.dfb, row_key="doc_id",
                                validate=False,
                                pairing_config=PairingConfig(salt_enabled=False))

    def warm_up(self) -> None:
        for k in range(self.WARM_BATCHES):
            self.check_links(self.batch_frame(k), self.link(self.batch_df(k)))

    def check_links(self, pdf: pd.DataFrame, links: pd.DataFrame) -> None:
        """One link per batch record (every record of the corpus has a
        match in the band at every seed tried), one-to-one, in the
        threshold band, sharing a block, each rescored exactly with the
        scalar kernels."""
        expect(len(links) == len(pdf), f"{len(links)} links for a batch of {len(pdf)} records")
        expect(links["idx_a"].is_unique and links["idx_b"].is_unique,
               "batch links are not one-to-one")
        expect(set(links["idx_a"]) <= set(pdf["doc_id"]), "link from a record outside the batch")
        expect(bool(((links["sim_score"] >= LOW) & (links["sim_score"] <= HIGH)).all()),
               "link score outside the threshold band")
        for ia, ib in links[["idx_a", "idx_b"]].itertuples(index=False):
            expect(self.blk[ia] == self.blk[ib], f"link ({ia}, {ib}) shares no block")
        self.counts["rescored_links"] = (self.counts.get("rescored_links", 0)
                                         + rescore_check(links, self.recs_new, self.recs_ref))

    def iteration(self, i: int) -> IterResult:
        k = self.WARM_BATCHES + i
        pdf = self.batch_frame(k)
        t = time.perf_counter()
        links = self.link(self.batch_df(k))
        dt = time.perf_counter() - t
        self.check_links(pdf, links)
        if i < self.F1_BATCHES:
            self.f1_batches.append((pdf, links))
        return IterResult(dt, self.batch_pairs(pdf), len(pdf), len(links))

    def batch_pairs(self, pdf: pd.DataFrame) -> int:
        """Candidate pairs of one batch: Σ reference rows sharing each
        batch record's block."""
        return int(sum(self.ref_blocks.get(b, 0) for b in pdf["blk"]))

    def check(self, res: IterResult) -> None:
        pass  # each batch is checked in iteration(); batches differ

    def finish(self) -> float:
        """The candidate count of the first timed batch against the
        oracle, then link F1 over the first F1_BATCHES timed batches."""
        from datamatch_spark import PairingConfig
        from datamatch_spark.grouped import grouped_scored_pairs

        pdf = self.batch_frame(self.WARM_BATCHES)
        n = grouped_scored_pairs(self.batch_df(self.WARM_BATCHES), self.index(), "doc_id",
                                 scorer(), cfg=PairingConfig(salt_enabled=False),
                                 dfb=self.dfb).count()
        want = self.batch_pairs(pdf)
        expect(n == want, f"batch candidate pairs {n}, oracle {want}")
        self.counts["batch_candidate_pairs"] = n
        pred, gold = set(), set()
        for pdf, links in self.f1_batches:
            pred |= set(zip(links["idx_a"], links["idx_b"]))
            for d in pdf["doc_id"]:
                gold |= self.gold_by_new.get(d, set())
        self.counts.update(reference_rows=self.reference_rows, batch_records=self.BATCH)
        return pair_f1(pred, gold, ordered=True)["f1"]

    def traced_expected(self) -> dict:
        """The traced run's batch-level calls see batch WARM_BATCHES."""
        pdf = self.batch_frame(self.WARM_BATCHES)
        n = self.batch_pairs(pdf)
        near = cross_pairs_within(pdf["blk"], self.flat_ref["blk"], epoch_days(pdf["dob"]),
                                  self.days_ref, DOB_WINDOW_DAYS)
        return {"pairing.pairs": n, "pairing.pairs_raw": n, "grouped.pairs": n,
                "filters.pairs": near}

    def kernel_pairs(self, limit: int):
        pa, pb = enumerate_cross_pairs(self.new["blk"].to_numpy(),
                                       self.flat_ref["blk"].to_numpy(), limit)
        return self.new["last"].to_numpy()[pa], self.flat_ref["last"].to_numpy()[pb]


WORKLOADS = {w.name: w for w in (DedupHot, LinkOnline)}
