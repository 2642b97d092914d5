"""Request lists of the three workloads.

A request is a name plus a function ``(spark, input_dir, meta) ->
DataFrame``; the benchmark times it from the call until ``collect()``
returns. ``text_corpus`` and ``serve_mix`` call registered queries (the
engine's public entry points, ``registry.QUERIES[name].fn``);
``graph_rmat`` calls ``operators.graph_iter`` / ``operators.graph``
directly on prepared arcs memoized through ``sources.fixtures.derived``.
"""

from __future__ import annotations

from collections.abc import Callable

TEXT_QUERIES = (
    "wordfreq_topk",
    "inverted_index",
    "textstats_tokens",
    "dedup_minhash_lsh",
    "pii_redact",
    "bpe_encode_corpus",
    "tfidf_search_topk",
)
# serve_mix: short reads over the star tables, the text compute requests,
# and an index append (listed twice, so about one request in seven writes)
SERVE_MIX = (
    "q1_pricing_summary",
    "q3_top_orders",
    "q6_forecast_revenue",
    "events_windowed",
    "asof_join_events",
    "ann_bruteforce_topk",
    "ann_index_append",
    "ann_index_append",
    "tfidf_search_topk",
    "wordfreq_topk",
    "textstats_tokens",
    "pii_redact",
    "dedup_minhash_lsh",
    "bpe_encode_corpus",
)
GRAPH_REQUESTS = ("cc_find", "kcore", "sssp", "pagerank", "label_propagation", "tri_count")
PAGERANK_ITERS = 10
LPA_ROUNDS = 5

# Each workload is one closed-loop client running its request list pass
# after pass, in this fixed order. serve_mix was tried with two clients on
# one session: contention for the task slots moved its latency and
# throughput by 15-30% between runs of the same seed.
REQUESTS = {
    "text_corpus": TEXT_QUERIES,
    "graph_rmat": GRAPH_REQUESTS,
    "serve_mix": SERVE_MIX,
}


def request_names(workload: str) -> tuple[str, ...]:
    """Distinct request names of a workload."""
    return tuple(dict.fromkeys(REQUESTS[workload]))


# ---------------------------------------------------------------------------
# graph_rmat requests
# ---------------------------------------------------------------------------


def _edges(spark, d: str):
    from gpu_mapreduce_spark.operators import graph
    from gpu_mapreduce_spark.sources import fixtures

    def build():
        raw = spark.read.parquet(f"{d}/edges.parquet")
        # re-widen before checkpointing, as fixtures.edges_materialized does
        return graph.edge_upper(raw).repartition(
            spark.sparkContext.defaultParallelism
        ).localCheckpoint(eager=True)

    return fixtures.derived(spark, d, "perfbench_edges", build)


def _arcs(spark, d: str):
    from gpu_mapreduce_spark.operators import graph_iter
    from gpu_mapreduce_spark.sources import fixtures

    return fixtures.derived(
        spark, d, "perfbench_arcs", lambda: graph_iter.prepare_arcs(_edges(spark, d))
    )


def _warcs(spark, d: str):
    from pyspark.sql import functions as F

    from gpu_mapreduce_spark.operators import graph_iter
    from gpu_mapreduce_spark.sources import fixtures

    def build():
        wu = _edges(spark, d).select(
            "src", "dst", ((F.col("src") * 31 + F.col("dst")) % 97 + 1).cast("bigint").alias("wu")
        )
        return graph_iter.prepare_warcs(graph_iter.weighted_arcs(wu))

    return fixtures.derived(spark, d, "perfbench_warcs", build)


def _arcs_deg(spark, d: str):
    from gpu_mapreduce_spark.operators import graph_iter
    from gpu_mapreduce_spark.sources import fixtures

    return fixtures.derived(
        spark, d, "perfbench_arcs_deg", lambda: graph_iter.prepare_arcs_deg(_edges(spark, d))
    )


def _graph_request(name: str) -> Callable:
    from gpu_mapreduce_spark.operators import graph, graph_iter

    from gen import KCORE_K

    if name == "cc_find":
        return lambda s, d, m: graph_iter.cc_find(_edges(s, d), arcs=_arcs(s, d))[0]
    if name == "kcore":
        return lambda s, d, m: graph_iter.kcore(_edges(s, d), k=KCORE_K, arcs=_arcs(s, d))[0]
    if name == "sssp":
        return lambda s, d, m: graph_iter.sssp(_warcs(s, d), m["sssp_source"], arcs=_warcs(s, d))[0]
    if name == "pagerank":
        return lambda s, d, m: graph_iter.pagerank(
            _edges(s, d), num_iter=PAGERANK_ITERS, arcs_deg_n=_arcs_deg(s, d)
        )
    if name == "label_propagation":
        return lambda s, d, m: graph_iter.label_propagation(
            _edges(s, d), rounds=LPA_ROUNDS, arcs=_arcs(s, d)
        )
    if name == "tri_count":
        return lambda s, d, m: graph.tri_count(_edges(s, d))
    raise ValueError(name)


def request_fn(workload: str, name: str) -> Callable:
    """The callable a request runs. Registered queries are looked up in the
    registry at call time, so a wrapper installed on QueryDef.fn is used."""
    if workload == "graph_rmat":
        return _graph_request(name)
    from gpu_mapreduce_spark import registry

    return lambda s, d, m: registry.QUERIES[name].fn(s, d)


# ---------------------------------------------------------------------------
# expected results
# ---------------------------------------------------------------------------


def expected(workload: str, input_dir: str, meta: dict) -> dict:
    """{request name: normal form} computed outside Spark."""
    import check

    if workload == "graph_rmat":
        import numpy as np
        import pyarrow.parquet as pq

        import gen

        t = pq.read_table(f"{input_dir}/edges.parquet")
        e = gen.canonical_edges(np.stack([t["src"].to_numpy(), t["dst"].to_numpy()], axis=1))
        return {
            "cc_find": check.ref_cc(e),
            "kcore": check.ref_kcore(e, gen.KCORE_K),
            "sssp": check.ref_sssp(e, meta["sssp_source"]),
            "pagerank": check.ref_pagerank(e, PAGERANK_ITERS),
            "label_propagation": check.ref_label_propagation(e, LPA_ROUNDS),
            "tri_count": check.ref_tri_count(e),
        }
    import os

    import pyarrow.parquet as pq

    from gpu_mapreduce_spark import registry

    queries = registry.load_all()
    tables = tuple(t for t in check.STAR if os.path.exists(f"{input_dir}/{t}.parquet"))
    docs_t = pq.read_table(f"{input_dir}/documents.parquet", columns=["doc_id", "text"])
    docs = list(zip(docs_t["doc_id"].to_pylist(), docs_t["text"].to_pylist()))
    # these two oracles are quadratic / unroll the training rounds in SQL
    # (minutes at this corpus size); independent Python references instead
    python_refs = {
        "dedup_minhash_lsh": lambda: check.ref_jaccard_pairs(docs),
        "bpe_encode_corpus": lambda: check.ref_bpe_encode(docs),
    }
    return {
        name: python_refs[name]()
        if name in python_refs
        else check.duckdb_expected(input_dir, tables, queries[name].oracle)
        for name in request_names(workload)
    }
