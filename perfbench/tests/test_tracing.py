"""Traced run: wrapping changes no result, self times fit in wall time, and
status-store counters land on the right job group, also with two groups
running at once. Starts one small local Spark session."""

import os
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import check
import gen
import tracing
import workloads

GRAPH = ("cc_find", "kcore", "sssp", "pagerank", "label_propagation", "tri_count")
TEXT = ("wordfreq_topk", "tfidf_search_topk", "events_windowed", "asof_join_events")


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from gpu_mapreduce_spark import session

    s = session.get_spark(cpus=2)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    g = str(tmp_path_factory.mktemp("graph"))
    raw = gen.rmat_edges(1, scale=7, edge_factor=8, profile=None)
    pq.write_table(pa.table({"src": raw[:, 0], "dst": raw[:, 1]}), f"{g}/edges.parquet")
    gmeta = {"sssp_source": gen.sssp_source(gen.canonical_edges(raw))}
    s = str(tmp_path_factory.mktemp("star"))
    for name, table in gen.star_tables(1, n_orders=600).items():
        pq.write_table(table, f"{s}/{name}.parquet")
    return {"graph_rmat": (g, gmeta), "serve_mix": (s, {})}


def _run(spark, workload, names, inputs):
    d, meta = inputs[workload]
    out = {}
    for name in names:
        df = workloads.request_fn(workload, name)(spark, d, meta)
        out[name] = check.normalize(df.columns, [tuple(r) for r in df.collect()])
    return out


def test_wrapping_leaves_results_identical(spark, inputs):
    from gpu_mapreduce_spark import registry

    registry.load_all()
    before = {**_run(spark, "graph_rmat", GRAPH, inputs), **_run(spark, "serve_mix", TEXT, inputs)}

    tracer = tracing.Tracer()
    replace = tracing.install(tracer)
    tracing.wrap_queries(tracer, replace)
    # the alias graph_iter took with `from plans.iterate import ...` is wrapped
    from gpu_mapreduce_spark.operators import graph_iter

    assert hasattr(graph_iter.fixpoint_observed, "__perfbench_wrapped__")
    assert hasattr(graph_iter.iterate_n, "__perfbench_wrapped__")

    walls = {}
    after = {}
    for workload, names in (("graph_rmat", GRAPH), ("serve_mix", TEXT)):
        d, meta = inputs[workload]
        for name in names:
            tracer.set_request(name)
            t0 = time.perf_counter()
            with tracer.span("request", "request"):
                df = workloads.request_fn(workload, name)(spark, d, meta)
                rows = df.collect()
            walls[name] = time.perf_counter() - t0
            tracer.set_request(None)
            after[name] = check.normalize(df.columns, [tuple(r) for r in rows])
    assert after == before

    selft = tracing.self_times(tracer.spans)
    for name, wall in walls.items():
        spans = [s for s in tracer.spans if s[6] == name]
        assert len(spans) > 1, name
        assert all(v >= -1e-6 for sid, v in selft.items() if sid in {s[0] for s in spans})
        assert sum(selft[s[0]] for s in spans) <= wall + 1e-6, name

    m = tracing.layer_metrics(tracer.spans)
    assert m["plans.iterate.calls"] >= 5  # cc, kcore, sssp, pagerank, lpa
    assert m["plans.iterate.rounds"] >= 5 + 10  # lpa's 5 plus pagerank's 10 at least
    assert m["operators.graph_iter.calls"] >= 5
    assert m["operators.joins.calls"] >= 1
    assert m["streaming.pipeline.calls"] >= 1
    assert m["sources.table.calls"] >= 1
    assert m["sources.derived.hits"] >= 1


def test_status_store_counters_by_job_group(spark):
    sc = spark.sparkContext
    parts = {"grp-a": 3, "grp-b": 5}

    def work(group, n):
        sc.setJobGroup(group, group)
        spark.range(0, 20000, numPartitions=n).selectExpr("id % 7 AS k").groupBy("k").count().collect()

    threads = [threading.Thread(target=work, args=item) for item in parts.items()]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
        assert not t.is_alive()
    tracing.wait_jobs_settled(sc)
    c = tracing.spark_counters(sc, set(parts))
    assert set(c) == set(parts)
    for group, n in parts.items():
        # one scan stage of n tasks plus the post-shuffle stage(s)
        assert c[group]["jobs"] >= 1
        assert c[group]["stages"] >= 2
        assert c[group]["tasks"] >= n + 1
        assert c[group]["executor_run_s"] > 0
        assert c[group]["shuffle_write_mb"] > 0
        assert c[group]["failed_tasks"] == 0
    assert c["grp-b"]["tasks"] - c["grp-a"]["tasks"] >= 2
