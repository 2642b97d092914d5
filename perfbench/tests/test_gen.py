"""Seeded generators: determinism and the input properties the workloads
rely on."""

import hashlib
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

import check
import gen


def _digest(d: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
        if f.endswith(".parquet")
    }


@pytest.mark.parametrize("workload", ["graph_rmat", "text_corpus", "serve_mix"])
def test_same_seed_same_bytes_other_seed_differs(tmp_path, workload):
    a = _digest_of(tmp_path / "a", workload, 7)
    b = _digest_of(tmp_path / "b", workload, 7)
    c = _digest_of(tmp_path / "c", workload, 8)
    assert a == b
    assert a.keys() == c.keys()
    differing = [f for f in a if a[f] != c[f]]
    # region/nation are fixed dimension tables; every other file moves
    assert set(a) - set(differing) <= {"region.parquet", "nation.parquet"}


def _digest_of(path, workload, seed):
    gen.generate(workload, seed, str(path))
    return _digest(str(path))


def test_rmat_edge_count_and_degree_skew():
    raw = gen.rmat_edges(3)
    assert raw.shape == ((1 << gen.RMAT_SCALE) * gen.RMAT_EDGE_FACTOR, 2)
    edges = gen.canonical_edges(raw)
    assert (edges[:, 0] < edges[:, 1]).all()
    assert len(np.unique(edges, axis=0)) == len(edges)
    # dedup and self-loop removal drop roughly a fifth of the raw arcs
    assert 0.7 * len(raw) < len(edges) < 0.9 * len(raw)
    deg = np.bincount(edges.ravel())
    deg = deg[deg > 0]
    # power law: the top vertex has dozens of times the mean degree
    assert deg.max() > 20 * deg.mean()
    assert np.median(deg) < deg.mean()


def test_every_seed_draws_a_new_graph_with_the_same_round_profile():
    graphs = [gen.canonical_edges(gen.rmat_edges(seed)) for seed in (1, 2, 3)]
    for e in graphs:
        assert gen.round_profile(e) == gen.ROUND_PROFILE
    assert not np.array_equal(graphs[0], graphs[1])
    assert not np.array_equal(graphs[1], graphs[2])


def test_corpus_near_duplicate_share():
    cols = gen.corpus(5, n_docs=1000)
    assert len(cols["near_dup"]) == round(1000 * gen.NEAR_DUP_SHARE)
    docs = list(zip(cols["doc_id"], cols["text"]))
    # every planted near-duplicate pairs with its source at Jaccard >= 0.8
    # (the corpus fixture adds copies of every 5th/7th doc; keep base pairs)
    pairs = check.ref_jaccard_pairs(docs)["rows"]
    base_docs = {b for a, b, _ in pairs if b < 1_000_000 and a < 1_000_000}
    share = len(base_docs) / 1000
    assert 0.06 <= share <= 0.10, share


def test_corpus_base_vocabulary_share_and_query_terms():
    cols = gen.corpus(9, n_docs=1000)
    dup = set(cols["near_dup"])
    toks = [t for i, text in zip(cols["doc_id"], cols["text"]) if i not in dup for t in text.split()]
    base = set(gen.BASE_WORDS)
    share = sum(t in base for t in toks) / len(toks)
    assert abs(share - gen.BASE_SHARE) < 0.02, share
    # the ranking queries' terms occur in many documents, so tfidf_search_topk
    # can never silently return nothing
    for term in ("data", "model", "training"):
        n = sum(term in text.split() for text in cols["text"])
        assert n > 50, (term, n)


def test_star_tables_match_engine_schema(tmp_path):
    from gpu_mapreduce_spark.sources.tables import TABLES

    gen.generate("serve_mix", 1, str(tmp_path))
    assert sorted(f[:-8] for f in os.listdir(tmp_path) if f.endswith(".parquet")) == sorted(TABLES)
    li = pq.read_table(tmp_path / "lineitem.parquet")
    orders = pq.read_table(tmp_path / "orders.parquet")
    assert set(li["l_orderkey"].to_pylist()) <= set(orders["o_orderkey"].to_pylist())
    assert str(li.schema.field("l_shipdate").type) == "timestamp[us]"
