"""Output checker: normal form, references and the failure accounting."""

import itertools
import math

import numpy as np
import pytest

import check
import gen
import run


def test_normal_form_ignores_column_and_row_order():
    a = check.normalize(["b", "A"], [(2, "x"), (1, "y")])
    b = check.normalize(["a", "B"], [("y", 1), ("x", 2)])
    assert a == b
    assert a["cols"] == ["a", "b"]


def test_floats_at_12_significant_digits_and_nan_is_null():
    a = check.normalize(["v"], [(0.1 + 0.2,), (math.nan,)])
    b = check.normalize(["v"], [(0.3,), (None,)])
    assert a == b
    assert check.diff(a, b) is None
    c = check.normalize(["v"], [(0.3001,), (None,)])
    assert check.diff(a, c) is not None


def test_diff_reports_missing_rows_and_columns():
    want = check.normalize(["k", "n"], [(1, 2), (3, 4)])
    assert "rows" in check.diff(check.normalize(["k", "n"], [(1, 2)]), want)
    assert "columns" in check.diff(check.normalize(["k", "m"], [(1, 2), (3, 4)]), want)


def _brute_jaccard(docs, threshold=0.8):
    sets = {}
    for i, t in check._corpus_fixture(docs):
        toks = t.split()
        sets[i] = {" ".join(toks[j:j + 3]) for j in range(len(toks) - 2)}
    rows = []
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a]) + len(sets[b]) - inter
        if union and inter / union >= threshold:
            rows.append((a, b, inter / union))
    return check.normalize(["a", "b", "jac"], rows)


def test_prefix_filtered_jaccard_equals_all_pairs():
    cols = gen.corpus(4, n_docs=150)
    docs = list(zip(cols["doc_id"], cols["text"]))
    got = check.ref_jaccard_pairs(docs)
    assert got["rows"]
    assert check.diff(got, _brute_jaccard(docs)) is None


def test_python_references_match_the_registry_oracles(tmp_path):
    """At a size where the DuckDB oracles are cheap, the two Python text
    references agree with them."""
    import pyarrow.parquet as pq

    from gpu_mapreduce_spark import registry

    cols = gen.corpus(2, n_docs=120)
    pq.write_table(gen._documents_table(cols), tmp_path / "documents.parquet")
    docs = list(zip(cols["doc_id"], cols["text"]))
    q = registry.load_all()
    for name, ref in (("dedup_minhash_lsh", check.ref_jaccard_pairs), ("bpe_encode_corpus", check.ref_bpe_encode)):
        want = check.duckdb_expected(str(tmp_path), ("documents",), q[name].oracle)
        assert check.diff(ref(docs), want) is None, name


def test_graph_references_on_a_small_graph():
    # triangle 0-1-2, tail 2-3-4, separate edge 5-6
    e = np.array([[0, 1], [0, 2], [1, 2], [2, 3], [3, 4], [5, 6]])
    assert check.ref_tri_count(e)["rows"] == [[1]]
    cc = dict(map(tuple, check.ref_cc(e)["rows"]))
    assert cc == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 5, 6: 5}
    assert check.ref_kcore(e, 2)["rows"] == [[2, 0], [2, 1], [2, 2]]
    units = dict(zip(map(tuple, e.tolist()), gen.sssp_units(e).tolist()))
    du = {v: d for d, v in check.ref_sssp(e, 4)["rows"]}  # columns sort as (du, v)
    assert du[3] == units[(3, 4)] and du[2] == units[(3, 4)] + units[(2, 3)]
    assert 5 not in du
    pr = check.ref_pagerank(e, 3)["rows"]
    total = sum(r[1] for r in pr)  # columns sort as (rank, rank_units, v)
    assert abs(total - check.PR_SCALE) < check.PR_SCALE * 0.01
    lab = dict((v, lbl) for lbl, v in check.ref_label_propagation(e, 1)["rows"])
    assert lab[5] == 6 and lab[6] == 5  # each takes its only neighbour's label


def _record(name, lat, phase="warm", error=None, pass_no=0):
    return {"rid": name, "name": name, "phase": phase, "pass": pass_no, "t0": 0.0, "t1": lat,
            "lat": lat, "error": error}


def test_failed_request_stays_in_the_latency_sample():
    recs = [_record(f"r{i}", 1.0) for i in range(9)] + [_record("bad", 30.0, error="boom")]
    for i, r in enumerate(recs):
        r["t1"] = 6.0 * (i + 1)
    res = {"records": recs, "setup": {"setup_s": 1.0}, "cold_pass_s": 2.0, "warm_t0": 0.0,
           "peak_rss_mb": 100.0}
    metrics, info = run.end_to_end(res)
    assert info["failed"] == 1 and info["attempted"] == 10
    assert info["failed_frac"] == pytest.approx(0.1)
    # its 30 s latency is part of the tail and of the throughput count
    assert metrics["query_p90_s"] > 1.0
    assert metrics["throughput_qpm"] == pytest.approx(10.0)
