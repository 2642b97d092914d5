"""Benchmark entry point: one measured run of one workload.

    python3 perfbench/run.py --workload text_corpus --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates (or reuses) the seed's inputs and
expected results under perfbench/.work/, pins the engine's environment,
waits for a quiet machine, runs perfbench/worker.py in a fresh process
while sampling its memory, checks every result, and prints the metrics;
the last stdout line is one JSON object. With --trace 1 it makes an
untraced and then a traced run and prints the per-layer metrics and the
tracing overhead. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("text_corpus", "graph_rmat", "serve_mix")
DEADLINE_S = 170.0  # a run must end within 180 s
TAIL_Q = 0.9  # query_p90_s
# end-to-end metrics reported in the JSON line (peak_rss_mb is printed only)
END_TO_END_JSON = ("setup_s", "cold_pass_s", "query_p50_s", "query_p90_s", "throughput_qpm")

# per-layer metrics reported in the JSON line (see README: times that are
# structurally zero on some workload are printed, not reported)
PER_LAYER_JSON = (
    "session.get_spark_s", "registry.load_all_s",
    "sources.table.calls", "sources.fixtures.s",
    "sources.derived.builds", "sources.derived.dup_builds", "sources.derived.hits",
    "sources.derived.build_s", "sources.derived.hit_ratio",
    "queries.calls", "queries.build_s", "queries.collect_s",
    "operators.self_s",
    *(f"operators.{m}.calls" for m in
      ("text", "textstats", "dedup", "bpe", "graph", "graph_iter", "similarity", "joins")),
    "plans.iterate.calls", "plans.iterate.rounds", "streaming.pipeline.calls",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s", "spark.executor_cpu_s",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.input_mb", "spark.stage_wait_s",
    "spark.cpu_busy_frac", "spark.spill_mb", "spark.task_skew", "spark.failed_tasks",
    "trace.overhead_frac",
)


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "_ratio", "task_skew")):
        return "ratio"
    return "count"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# machine state
# ---------------------------------------------------------------------------


def mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("no MemTotal in /proc/meminfo")


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, cmdline) of every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        out[int(d)] = (int(stat.rsplit(")", 1)[1].split()[1]), cmd)
    return out


def descendants(root: int, table: dict[int, tuple[int, str]]) -> set[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def spark_jvms() -> list[int]:
    return [p for p, (_, cmd) in proc_table().items() if "org.apache.spark.deploy.SparkSubmit" in cmd]


def wait_quiet(max_jvm_s: float = 45.0, max_cpu_s: float = 20.0, busy_limit: float = 0.2) -> dict:
    """Wait until no Spark JVM is left from an earlier run and the CPUs have
    been below `busy_limit` busy (steal included) for two consecutive
    half-second windows."""
    from worker import cpu_jiffies, cpu_shares

    t0 = time.monotonic()
    while spark_jvms() and time.monotonic() - t0 < max_jvm_s:
        time.sleep(0.2)
    jvm_wait = time.monotonic() - t0
    quiet, fracs = 0, []
    t1 = time.monotonic()
    while quiet < 2 and time.monotonic() - t1 < max_cpu_s:
        j0 = cpu_jiffies()
        time.sleep(0.5)
        fracs.append(sum(cpu_shares(j0, cpu_jiffies())))
        quiet = quiet + 1 if fracs[-1] < busy_limit else 0
    return {
        "jvm_wait_s": round(jvm_wait, 2),
        "cpu_wait_s": round(time.monotonic() - t1, 2),
        "quiet": quiet >= 2,
        "cpu_busy_last": round(fracs[-1], 3),
        "load1": loadavg(),
    }


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------


def prepare_inputs(root: str, workload: str, seed: int) -> str:
    """Inputs and expected results of (workload, seed), cached per seed;
    `expected.json` is written last, so its presence marks a complete
    directory."""
    import gen
    import workloads

    d = os.path.join(root, "perfbench", ".work", "inputs", f"{workload}-{seed}")
    if os.path.exists(os.path.join(d, "expected.json")):
        return d
    tmp = d + ".tmp"
    meta = gen.generate(workload, seed, tmp)
    # oracle SQL may name the input dir; expected results are computed
    # against the final path
    if os.path.exists(d):
        shutil.rmtree(d)
    os.rename(tmp, d)
    exp = workloads.expected(workload, d, meta)
    with open(os.path.join(d, "expected.json.tmp"), "w") as f:
        json.dump(exp, f)
    os.rename(os.path.join(d, "expected.json.tmp"), os.path.join(d, "expected.json"))
    return d


def pinned_env(root: str, trace: bool) -> dict[str, str]:
    """The engine's environment: every CPU, a driver heap that fits the
    machine, and every scratch path inside the checkout."""
    work = os.path.join(root, "perfbench", ".work")
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    submit = [
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"',
    ]
    if trace:  # keep every job and stage in the status store for the readout
        submit += ["--conf spark.ui.retainedJobs=100000", "--conf spark.ui.retainedStages=100000"]
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=f"{max(1, min(6, int(mem_total_gb() // 4)))}g",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYTHONPATH=root + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
    )
    return env


# ---------------------------------------------------------------------------
# one worker process
# ---------------------------------------------------------------------------


def run_worker(root: str, args, input_dir: str, trace: bool, deadline: float) -> dict:
    """Run worker.py; returns its JSON plus peak_rss_mb (the Spark JVM and
    its Python workers: every descendant of the worker) and the gate
    record. Every process the worker started has exited on return."""
    gate = wait_quiet()
    out = os.path.join(root, "perfbench", ".work", f"out-{os.getpid()}-{int(trace)}.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(int(trace)), "--input", input_dir, "--out", out,
    ]
    proc = subprocess.Popen(cmd, cwd=root, env=pinned_env(root, trace), stdout=sys.stderr)
    peak, seen, stop = [0.0], set(), threading.Event()

    def sample() -> None:
        while not stop.is_set():
            kids = descendants(proc.pid, proc_table())
            seen.update(kids)
            peak[0] = max(peak[0], sum(rss_mb(p) for p in kids))
            stop.wait(0.2)

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    try:
        proc.wait(timeout=max(deadline - time.monotonic(), 1.0))
    except subprocess.TimeoutExpired:
        log("worker passed the deadline; killing it")
    finally:
        stop.set()
        sampler.join()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        reap(seen)
    if proc.returncode != 0 or not os.path.exists(out):
        raise RuntimeError(f"worker exited with {proc.returncode}")
    with open(out) as f:
        res = json.load(f)
    # keep the raw samples (and spans) of the latest run of this workload/seed
    runs = os.path.join(root, "perfbench", ".work", "runs")
    os.makedirs(runs, exist_ok=True)
    os.replace(out, os.path.join(runs, f"{args.workload}-{args.seed}-trace{int(trace)}.json"))
    res["peak_rss_mb"] = peak[0]
    res["gate"] = gate
    return res


def reap(pids: set[int], grace_s: float = 15.0) -> None:
    """Wait for the worker's descendants (the JVM exits once its Python
    gateway closes); kill any still alive after `grace_s`."""
    t0 = time.monotonic()
    while time.monotonic() - t0 < grace_s:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    while any(os.path.exists(f"/proc/{p}") for p in pids) and time.monotonic() - t0 < grace_s + 5:
        time.sleep(0.1)


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 500):
        for aa in (
            m * (b - m) * x / ((a - 1.0 + 2 * m) * (a + 2 * m)),
            -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 1.0 + 2 * m)),
        ):
            d = 1.0 + aa * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + aa / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h


def betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) + a * math.log(x) + b * math.log1p(-x)
    )
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def quantile(xs: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-quantile: a weighted mean of all
    order statistics, the weights given by a Beta(q(n+1), (1-q)(n+1)) law.
    At the benchmark's 6-14 samples per run its run-to-run spread is a
    half (median) to a quarter (p90) of that of two-point interpolation,
    which leans on the two samples next to the quantile."""
    s = sorted(xs)
    n = len(s)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * v for i, v in enumerate(s))


def end_to_end(res: dict) -> tuple[dict[str, float], dict]:
    """The end-to-end metrics of one worker's samples. Latency and
    throughput use the first warm pass, so they rest on the same request
    mix at the same point of warm-up however many passes fit in the run."""
    recs = res["records"]
    warm_recs = [r for r in recs if r["phase"] == "warm"]
    measured = [r for r in warm_recs if r["pass"] == 0]
    warm = [r["lat"] for r in measured]
    measured_wall = max(r["t1"] for r in measured) - res["warm_t0"]
    metrics = {
        "setup_s": res["setup"]["setup_s"],
        "cold_pass_s": res["cold_pass_s"],
        "query_p50_s": quantile(warm, 0.5),
        "query_p90_s": quantile(warm, TAIL_Q),
        "throughput_qpm": len(measured) / measured_wall * 60.0,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    failed = [r for r in recs if r["error"] is not None]
    info = {
        "attempted": len(recs),
        "failed": len(failed),
        "failed_frac": len(failed) / len(recs),
        "warm_samples": len(warm),
        "warm_passes": 1 + max(r["pass"] for r in warm_recs),
        "beyond_p90": sum(1 for x in warm if x > metrics["query_p90_s"]),
        "failures": [f"{r['name']}: {r['error']}" for r in failed[:10]],
    }
    return metrics, info


def per_layer(untraced: dict, traced: dict) -> dict[str, float]:
    import tracing

    m = tracing.layer_metrics(traced["spans"])
    m["operators.self_s"] = sum(v for k, v in m.items() if k.startswith("operators.") and k.endswith(".self_s"))
    m["session.get_spark_s"] = untraced["setup"]["get_spark_s"]
    m["registry.load_all_s"] = untraced["setup"]["load_all_s"]
    groups = {r["rid"] for r in traced["records"]}
    agg: dict[str, float] = {}
    for g, c in traced["spark"].items():
        if g not in groups:
            continue
        for k, v in c.items():
            agg[k] = max(agg.get(k, 0.0), v) if k == "task_skew" else agg.get(k, 0.0) + v
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "shuffle_write_mb",
              "shuffle_read_mb", "input_mb", "stage_wait_s", "jvm_gc_s", "spill_mb",
              "task_skew", "failed_tasks"):
        m[f"spark.{k}"] = agg.get(k, 0.0)
    m["spark.cpu_busy_frac"] = traced["cpu_busy_frac"]

    def mean_warm(res):
        return statistics.mean(
            r["lat"] for r in res["records"] if r["phase"] == "warm" and r["pass"] == 0
        )

    m["trace.overhead_frac"] = mean_warm(traced) / mean_warm(untraced) - 1.0
    return m


def environment(root: str) -> dict:
    import numpy
    import pyarrow
    import pyspark

    env = pinned_env(root, False)
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_total_gb(), 1),
        "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_DRIVER_MEM": env["SPARK_GRAFT_DRIVER_MEM"],
        "SPARK_LOCAL_DIRS": os.path.relpath(env["SPARK_LOCAL_DIRS"], root),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its worker and the worker's JVM (finally
    # blocks in run_worker)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    deadline = time.monotonic() + DEADLINE_S
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "gpu_mapreduce_spark")):
        log(f"no gpu_mapreduce_spark/ in {root}: run from the repository root")
        return 2
    sys.path.insert(0, root)  # the oracles' SQL comes from the engine's registry
    input_dir = prepare_inputs(root, args.workload, args.seed)
    load_start = loadavg()
    untraced = run_worker(root, args, input_dir, False, deadline)
    traced = run_worker(root, args, input_dir, True, deadline) if args.trace else None
    metrics, info = end_to_end(untraced)
    units = {"setup_s": "s", "cold_pass_s": "s", "query_p50_s": "s", "query_p90_s": "s",
             "throughput_qpm": "req/min", "peak_rss_mb": "MB"}

    print(f"environment {json.dumps(environment(root), sort_keys=True)}")
    print(f"load1 start {load_start} end {loadavg()}; gate {json.dumps(untraced['gate'])}; "
          f"warm phase CPU busy {untraced['cpu_busy_frac']:.3f} steal {untraced['cpu_steal_frac']:.3f}")
    print(f"workload {args.workload} seed {args.seed}: {info['attempted']} requests, "
          f"{info['warm_samples']} latency samples from the first of {info['warm_passes']} "
          f"warm pass(es) ({info['beyond_p90']} beyond p90)")
    for k, v in metrics.items():
        print(f"  {k:<16} {v:12.4f} {units[k]}")
    print(f"  {'failed_frac':<16} {info['failed_frac']:12.4f} ratio")
    by_name: dict[str, dict[str, list[float]]] = {}
    for r in untraced["records"]:
        by_name.setdefault(r["name"], {"cold": [], "warm": []})[r["phase"]].append(r["lat"])
    for name, ph in sorted(by_name.items()):
        warm_med = statistics.median(ph["warm"]) if ph["warm"] else float("nan")
        print(f"    {name:<24} cold {max(ph['cold']):8.3f} s  warm median {warm_med:8.3f} s"
              f"  (n={len(ph['warm'])})")
    for f in info["failures"]:
        print(f"  FAILED {f}")
    if traced is not None:
        layers = per_layer(untraced, traced)
        print("per-layer (traced run):")
        for k in sorted(layers):
            print(f"  {k:<32} {layers[k]:14.6f} {unit_of(k)}")
        out_metrics = {k: {"value": layers[k], "unit": unit_of(k)} for k in PER_LAYER_JSON}
        t_info = end_to_end(traced)[1]
        info["attempted"] += t_info["attempted"]
        info["failed"] += t_info["failed"]
    else:
        out_metrics = {k: {"value": metrics[k], "unit": units[k]} for k in END_TO_END_JSON}
    print(json.dumps({
        "correct": info["failed"] == 0,
        "attempted": info["attempted"],
        "failed": info["failed"],
        "metrics": out_metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
