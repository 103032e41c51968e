#!/usr/bin/env python3
"""Record-linkage pipeline benchmark.

    python3 perfbench/run.py --workload dedup_hot --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. Builds the inputs of
one workload from ``--seed``, sets up a local Spark session on every
core of the host, measures for ``--seconds``, checks every output, and
prints as its LAST stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs the traced
layer-by-layer pipeline and reports the per-layer metrics instead. The
line before it is a JSON report with host facts, counts and the
percentile behind ``latency_tail_ms``. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
ITERATION_TIMEOUT_S = 90.0
# G1 grows the heap lazily and by timing-dependent amounts: under a 4g
# cap the JVM's resident size ranged 2.2-3.3 GB across runs of the same
# input, while under 2g the dedup runs reach the cap and peak_rss_mb
# stays steady
DRIVER_MEMORY = "2g"


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def import_program():
    """The package under test must come from this checkout."""
    sys.path.insert(0, ROOT)
    try:
        import datamatch_spark
    except ImportError as e:
        fail(f"cannot import datamatch_spark from {ROOT}: {e}")
    pkg = os.path.dirname(os.path.abspath(datamatch_spark.__file__))
    if os.path.dirname(pkg) != ROOT:
        fail(f"datamatch_spark resolved outside the checkout: {pkg}")


def start_session(trace: bool):
    """Local session on every core of the host, with every scratch
    directory inside the checkout's work dir."""
    from datamatch_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        evdir = os.path.join(WORK, "evlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + evdir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(master=f"local[{cores}]", app_name="perfbench",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def stop_session(spark) -> None:
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Timeout:
    """Cancels the Spark jobs of one job group after ``seconds``; the
    running action then raises and the unit of work counts as failed."""

    def __init__(self, sc, group: str, seconds: float) -> None:
        self.sc, self.group = sc, group
        self.fired = False
        self._timer = threading.Timer(seconds, self._fire)

    def _fire(self) -> None:
        self.fired = True
        self.sc.cancelJobGroup(self.group)

    def __enter__(self):
        self.sc.setJobGroup(self.group, self.group)
        self._timer.start()
        return self

    def __exit__(self, *exc):
        self._timer.cancel()
        return False


def setup(workload, trace: bool):
    """Session start, then the inputs generated in that session. The
    first generation also starts the Python workers, which is part of
    what a user of the library waits for. Returns the session and the
    seconds of both phases."""
    t = time.perf_counter()
    spark, cores = start_session(trace)
    session_s = time.perf_counter() - t
    t = time.perf_counter()
    workload.prepare(spark)
    return spark, cores, session_s, time.perf_counter() - t


def _failure(unit, e: Exception, timed_out: bool = False) -> dict:
    traceback.print_exc(file=sys.stderr)
    return {"unit": unit, "kind": "timeout" if timed_out else type(e).__name__,
            "error": str(e)[:500]}


def measure(workload, spark, seconds: float) -> dict:
    """Closed loop: the next unit of work starts when the previous one
    returned; after the workload's minimum count of units, stops before
    a unit that would overrun ``seconds``."""
    from stats import median

    results, failures = [], []
    t0 = time.perf_counter()
    i = 0
    while True:
        group = f"iter-{i}"
        try:
            with Timeout(spark.sparkContext, group, ITERATION_TIMEOUT_S) as to:
                res = workload.iteration(i)
            workload.check(res)
            results.append(res)
        except Exception as e:  # noqa: BLE001 - a failed unit is counted, not fatal
            failures.append(_failure(i, e, timed_out=to.fired))
        i += 1
        elapsed = time.perf_counter() - t0
        typical = median([r.seconds for r in results]) if results else elapsed / i
        if i >= workload.MIN_UNITS and elapsed + typical > seconds:
            break
    return {"results": results, "failures": failures, "attempted": i,
            "window_s": time.perf_counter() - t0}


def end_to_end_metrics(rs: list, setup_s: float, peak_mb: float, f1: float,
                       success_rate: float) -> tuple:
    from stats import median, tail_percentile

    if not rs:
        raise RuntimeError("every timed unit failed; see the errors above")
    lat = [r.seconds * 1000.0 for r in rs]
    pct, tail, n = tail_percentile(lat)
    metrics = {
        "setup_s": (setup_s, "s"),
        "pairs_per_s": (median([r.pairs / r.seconds for r in rs]), "1/s"),
        "latency_p50_ms": (median(lat), "ms"),
        "latency_tail_ms": (tail, "ms"),
        "records_per_s": (sum(r.records for r in rs) / sum(r.seconds for r in rs), "1/s"),
        "pair_f1": (f1, "ratio"),
        "success_rate": (success_rate, "ratio"),
        "peak_rss_mb": (peak_mb, "MB"),
    }
    detail = {"latency_tail_percentile": pct, "latency_samples": n,
              "latencies_ms": [round(x, 3) for x in lat]}
    return metrics, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import_program()
    sys.path.insert(0, HERE)
    import workloads
    from procs import PeakRss, cpu_shares, host_facts, reap_descendants

    if args.workload not in workloads.WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.makedirs(WORK, exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM (the launcher's too) and every Python worker keeps its
    # temporary files, including the JVM's perf-data file, in the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"

    report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "host_start": host_facts()}
    w = workloads.WORKLOADS[args.workload](args.seed)
    spark = None
    out = None
    try:
        with PeakRss() as rss:
            t = time.perf_counter()
            w.build_oracle()
            report["oracle_s"] = time.perf_counter() - t
            spark, cores, session_s, input_s = setup(w, bool(args.trace))
            t = time.perf_counter()
            # the warm-up counts as one attempted unit; the untimed output
            # checks (rescoring sample, F1 floor) count against it too
            warm_failures = []
            try:
                w.warm_up()
            except Exception as e:  # noqa: BLE001 - reported, then measured anyway
                warm_failures.append(_failure("warm-up", e))
            warm_s = time.perf_counter() - t
            setup_s = session_s + input_s + warm_s
            report.update(cores=cores, session_start_s=session_s, input_s=input_s,
                          warm_up_s=warm_s)
            if args.trace:
                import traced

                out, detail = traced.run(w, spark, cores, WORK)
                if warm_failures:
                    out.update(correct=False, attempted=out["attempted"] + 1,
                               failed=out["failed"] + 1)
                report.update(detail, failures=warm_failures)
            else:
                m = measure(w, spark, args.seconds)
                floor = workloads.F1_FLOOR[args.workload]
                f1 = 0.0
                try:
                    f1 = w.finish()
                    w.expect_known("pair_f1", round(f1, 12))
                    workloads.expect(f1 >= floor, f"pair_f1 {f1} below its floor {floor}")
                except Exception as e:  # noqa: BLE001 - a failed check is counted
                    warm_failures.append(_failure("warm-up", e))
                failures = warm_failures + m["failures"]
                attempted = m["attempted"] + 1
                failed = len({f["unit"] for f in failures})
                metrics, detail = end_to_end_metrics(m["results"], setup_s, rss.peak_mb, f1,
                                                     1.0 - failed / attempted)
                report.update(detail, failures=failures, window_s=m["window_s"],
                              f1_floor=floor, counts=w.counts)
                out = {"correct": not failures, "attempted": attempted, "failed": failed,
                       "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
        report["peak_rss_mb"] = rss.peak_mb
        report["peak_rss_processes_mb"] = [round(kb / 1024) for kb in rss.at_peak]
    finally:
        if spark is not None:
            stop_session(spark)
        reap_descendants()
        shutil.rmtree(WORK, ignore_errors=True)
    report["host_end"] = host_facts()
    report["cpu_shares"] = cpu_shares(report["host_start"]["cpu_jiffies"],
                                      report["host_end"]["cpu_jiffies"])
    print(json.dumps(report, default=str))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
