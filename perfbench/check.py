"""Expected results and the output check.

Expected results for a (workload, seed) are computed outside Spark: the
registered queries' DuckDB oracles over the generated parquet files, and
numpy/networkx references for the graph operators. Both sides are reduced
to the normal form of the engine's oracle checks (tools/drive_driver.py):
lower-cased sorted column names, values with floats at ``.12g`` and NaN as
NULL, rows sorted (order-insensitive).
"""

from __future__ import annotations

import math

import numpy as np

Normal = dict  # {"cols": [str], "rows": [[...]]}

# Oracle tables a star-schema input directory holds.
STAR = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def norm_value(v):
    if hasattr(v, "tolist"):
        v = v.tolist()
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else f"{v:.12g}"
    if isinstance(v, (list, tuple)):
        return [norm_value(x) for x in v]
    if isinstance(v, dict):
        return {k: norm_value(x) for k, x in sorted(v.items())}
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def normalize(cols: list[str], rows) -> Normal:
    """Normal form of a result given its column names and row tuples (in
    `cols` order)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    out = [[norm_value(r[i]) for i in order] for r in rows]
    out.sort(key=repr)
    return {"cols": [cols[i].lower() for i in order], "rows": out}


def diff(got: Normal, want: Normal) -> str | None:
    """None when equal, else a one-line reason."""
    if got["cols"] != want["cols"]:
        return f"columns {got['cols']} != {want['cols']}"
    if len(got["rows"]) != len(want["rows"]):
        return f"{len(got['rows'])} rows != {len(want['rows'])}"
    for g, w in zip(got["rows"], want["rows"]):
        if g != w:
            return f"row {g!r} != {w!r}"
    return None


def duckdb_expected(input_dir: str, tables: tuple[str, ...], sql: str) -> Normal:
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet')")
        rel = con.sql(sql.replace("{SF_DIR}", input_dir))
        cols = list(rel.columns)
        return normalize(cols, rel.fetchall())
    finally:
        con.close()


# ---------------------------------------------------------------------------
# graph references (same semantics as operators.graph / operators.graph_iter)
# ---------------------------------------------------------------------------

PR_SCALE = 10**12


def _arcs(edges: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Bidirected arcs of canonical edges."""
    return (
        np.concatenate([edges[:, 0], edges[:, 1]]),
        np.concatenate([edges[:, 1], edges[:, 0]]),
    )


def ref_cc(edges: np.ndarray) -> Normal:
    """(v, zone): zone = smallest vertex id of v's component."""
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from(edges.tolist())
    rows = []
    for comp in nx.connected_components(g):
        z = min(comp)
        rows.extend((v, z) for v in comp)
    return normalize(["v", "zone"], rows)


def ref_kcore(edges: np.ndarray, k: int) -> Normal:
    """(v, core_deg) for the k-core; core_deg = degree inside the core."""
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from(edges.tolist())
    core = nx.k_core(g, k)
    return normalize(["v", "core_deg"], [(v, d) for v, d in core.degree()])


def ref_sssp(edges: np.ndarray, source: int) -> Normal:
    """(v, du) for every vertex reachable from `source`."""
    import networkx as nx

    from gen import sssp_units

    g = nx.Graph()
    for (a, b), w in zip(edges.tolist(), sssp_units(edges).tolist()):
        g.add_edge(a, b, wu=w)
    dist = nx.single_source_dijkstra_path_length(g, source, weight="wu")
    return normalize(["v", "du"], list(dist.items()))


def ref_pagerank(edges: np.ndarray, num_iter: int, alpha_num: int = 17, alpha_den: int = 20) -> Normal:
    """Integer-unit pagerank: each vertex sends (alpha_num*r) div
    (alpha_den*outdeg) along each arc; every vertex also receives the
    teleport (alpha_den-alpha_num)*PR_SCALE div (alpha_den*n)."""
    src, dst = _arcs(edges)
    verts = np.unique(src)
    n = len(verts)
    idx = {int(v): i for i, v in enumerate(verts)}
    s = np.array([idx[int(v)] for v in src])
    d = np.array([idx[int(v)] for v in dst])
    outdeg = np.bincount(s, minlength=n)
    teleport = (alpha_den - alpha_num) * PR_SCALE // (alpha_den * n)
    r = [PR_SCALE // n] * n
    for _ in range(num_iter):
        contrib = [(alpha_num * r[a]) // (alpha_den * int(outdeg[a])) for a in range(n)]
        new = [teleport] * n
        for a, b in zip(s.tolist(), d.tolist()):
            new[b] += contrib[a]
        r = new
    rows = [(int(v), r[i], r[i] / float(PR_SCALE)) for i, v in enumerate(verts)]
    return normalize(["v", "rank_units", "rank"], rows)


def ref_label_propagation(edges: np.ndarray, rounds: int) -> Normal:
    """Synchronous LPA: each vertex takes the most frequent neighbour label,
    ties to the smallest label, for exactly `rounds` rounds."""
    src, dst = _arcs(edges)
    verts = np.unique(src)
    label = {int(v): int(v) for v in verts}
    for _ in range(rounds):
        votes: dict[int, dict[int, int]] = {}
        for a, b in zip(src.tolist(), dst.tolist()):
            c = votes.setdefault(b, {})
            c[label[a]] = c.get(label[a], 0) + 1
        label = {v: min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0] for v, c in votes.items()}
    return normalize(["v", "label"], sorted(label.items()))


def ref_tri_count(edges: np.ndarray) -> Normal:
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from(edges.tolist())
    return normalize(["ntri"], [(sum(nx.triangles(g).values()) // 3,)])


# ---------------------------------------------------------------------------
# text references for the queries whose DuckDB oracle is quadratic or
# unrolls training rounds (minutes at the benchmark's corpus size)
# ---------------------------------------------------------------------------


def _corpus_fixture(docs: list[tuple[int, str]]) -> list[tuple[int, str]]:
    """sources.fixtures.corpus: the documents plus an exact copy of every 5th
    (doc_id + 1e6) and a near copy of every 7th (doc_id + 2e6)."""
    out = list(docs)
    out += [(i + 1_000_000, t) for i, t in docs if i % 5 == 0]
    out += [(i + 2_000_000, t + " near dup tail") for i, t in docs if i % 7 == 0]
    return out


def ref_jaccard_pairs(docs: list[tuple[int, str]], threshold: float = 0.8, k: int = 3) -> Normal:
    """(a, b, jac) for every pair a < b of the corpus fixture whose distinct
    word k-gram sets have Jaccard >= threshold. Exact: candidates come from
    prefix filtering (rarest-first shingle order), then every candidate is
    verified."""
    sets = {}
    for doc_id, text in _corpus_fixture(docs):
        toks = text.split()
        sets[doc_id] = {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}
    freq: dict[str, int] = {}
    for s in sets.values():
        for sh in s:
            freq[sh] = freq.get(sh, 0) + 1
    index: dict[str, list[int]] = {}
    cands: set[tuple[int, int]] = set()
    for doc_id in sorted(sets):
        s = sorted(sets[doc_id], key=lambda sh: (freq[sh], sh))
        prefix = len(s) - math.ceil(threshold * len(s)) + 1
        for sh in s[:prefix]:
            for other in index.setdefault(sh, []):
                cands.add((other, doc_id))
            index[sh].append(doc_id)
    rows = []
    for a, b in cands:
        inter = len(sets[a] & sets[b])
        jac = inter / float(len(sets[a]) + len(sets[b]) - inter)
        if jac >= threshold:
            rows.append((a, b, jac))
    return normalize(["a", "b", "jac"], rows)


def _bpe_merge(sym: list[str], a: str, b: str) -> list[str]:
    out: list[str] = []
    for x in sym:
        if out and out[-1] == a and x == b:
            out[-1] = a + b
        else:
            out.append(x)
    return out


def ref_bpe_encode(docs: list[tuple[int, str]], k: int = 8) -> Normal:
    """(doc_id, n_tokens_bpe, tokens_digest): train k merges (weighted
    adjacent-pair counts, ties to the smallest (a, b)), apply them in order
    to every word, digest each document's symbol stream in word order."""
    import hashlib
    import re

    doc_words = [(i, re.findall("[a-z0-9]+", t.lower())) for i, t in docs]
    wt: dict[str, int] = {}
    for _, ws in doc_words:
        for w in ws:
            wt[w] = wt.get(w, 0) + 1
    state = {w: list(w) for w in wt}
    merges = []
    for _ in range(k):
        cnt: dict[tuple[str, str], int] = {}
        for w, sym in state.items():
            for p in zip(sym, sym[1:]):
                cnt[p] = cnt.get(p, 0) + wt[w]
        if not cnt:
            break
        a, b = min(cnt, key=lambda p: (-cnt[p], p))
        merges.append((a, b))
        state = {w: _bpe_merge(sym, a, b) for w, sym in state.items()}
    enc = {w: "".join(" " + s for s in sym) for w, sym in state.items()}
    rows = []
    for doc_id, ws in doc_words:
        if ws:
            s = "".join(enc[w] for w in ws)
            rows.append((doc_id, s.count(" "), hashlib.md5(s.encode()).hexdigest()))
    return normalize(["doc_id", "n_tokens_bpe", "tokens_digest"], rows)
