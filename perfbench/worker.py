"""One measured run of one workload, in a fresh process.

Started by run.py with the environment already pinned; writes its raw
samples as JSON to --out. Phases: set-up (engine import, get_spark,
registry.load_all, a first trivial action), a cold pass (the client runs
its request list once in the fresh session), then the warm phase (whole
passes until --seconds have gone by, at least one). Each request runs under its own job group, is timed from the call
until collect() returns, and its rows are then checked against the expected
result outside the timed span.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import workloads  # noqa: E402


def cpu_jiffies() -> list[int]:
    """The all-CPU time counters of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_shares(before: list[int], after: list[int]) -> tuple[float, float]:
    """(busy, steal) shares of all CPU time between two cpu_jiffies()
    readings; busy excludes idle, iowait and steal. Steal is time the
    hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    total = max(sum(d), 1)
    return (total - d[3] - d[4] - d[7]) / total, d[7] / total


class Client:
    """The closed-loop client: runs its request list pass after pass."""

    def __init__(self, workload, spark, input_dir, meta, expected, tracer):
        self.workload, self.order = workload, workloads.REQUESTS[workload]
        self.spark, self.input_dir, self.meta = spark, input_dir, meta
        self.expected, self.tracer = expected, tracer
        self.records: list[dict] = []

    def _span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, "request")

    def run_request(self, name: str, phase: str, pass_no: int) -> None:
        rid = f"r{len(self.records) + 1}"
        self.spark.sparkContext.setJobGroup(rid, name)
        fn = workloads.request_fn(self.workload, name)
        err = rows = cols = None
        if self.tracer is not None:
            self.tracer.set_request(rid)
        t0 = time.perf_counter()
        with self._span("request"):
            try:
                with self._span("request.build"):
                    df = fn(self.spark, self.input_dir, self.meta)
                with self._span("request.collect"):
                    rows = df.collect()
                cols = df.columns
            except Exception as e:  # a failed request is a sample, not a crash
                err = f"{type(e).__name__}: {str(e)[:300]}"
        t1 = time.perf_counter()
        if self.tracer is not None:
            self.tracer.set_request(None)
        if err is None:
            got = check.normalize(cols, [tuple(r) for r in rows])
            want = self.expected[name]
            err = check.diff(got, want)
            if err is None and not want["rows"]:
                err = "expected result is empty"
        self.records.append(
            {"rid": rid, "name": name, "phase": phase, "pass": pass_no,
             "t0": t0, "t1": t1, "lat": t1 - t0, "error": err}
        )

    def run_pass(self, phase: str, pass_no: int) -> None:
        for name in self.order:
            self.run_request(name, phase, pass_no)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    with open(f"{a.input}/meta.json") as f:
        meta = json.load(f)
    with open(f"{a.input}/expected.json") as f:
        expected = json.load(f)
    tracer = replace = None
    if a.trace:
        import tracing

        tracer = tracing.Tracer()
        replace = tracing.install(tracer)

    t_start = time.perf_counter()
    from gpu_mapreduce_spark import registry, session

    t_import = time.perf_counter()
    spark = session.get_spark()
    t_spark = time.perf_counter()
    registry.load_all()
    t_load = time.perf_counter()
    spark.range(1).count()
    t_setup = time.perf_counter()
    if tracer is not None:
        tracing.wrap_queries(tracer, replace)

    try:
        client = Client(a.workload, spark, a.input, meta, expected, tracer)
        t0 = time.perf_counter()
        client.run_pass("cold", 0)
        cold = time.perf_counter() - t0

        warm_t0 = time.perf_counter()
        jiffies0 = cpu_jiffies()
        for pass_no in itertools.count():
            client.run_pass("warm", pass_no)
            if time.perf_counter() - warm_t0 >= a.seconds:
                break
        busy, steal = cpu_shares(jiffies0, cpu_jiffies())
        out = {
            "setup": {
                "import_s": t_import - t_start,
                "get_spark_s": t_spark - t_import,
                "load_all_s": t_load - t_spark,
                "first_action_s": t_setup - t_load,
                "setup_s": t_setup - t_start,
            },
            "cold_pass_s": cold,
            "warm_t0": warm_t0,
            "cpu_busy_frac": busy,
            "cpu_steal_frac": steal,
            "records": client.records,
        }
        if tracer is not None:
            sc = spark.sparkContext
            tracing.wait_jobs_settled(sc)
            out["spans"] = tracer.spans
            out["spark"] = tracing.spark_counters(sc)
        with open(a.out, "w") as f:
            json.dump(out, f)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
