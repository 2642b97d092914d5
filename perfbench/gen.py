"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical parquet files, another seed writes different ones. Only
numpy and pyarrow are used, so generation never starts Spark.

- ``rmat_edges``: R-MAT arcs in the shape of the reference's
  ``examples/rmat.cpp`` (a, b, c = .57, .19, .19), raw, so duplicates and
  self-loops are left for the engine's ``edge_upper`` to remove.
- ``corpus``: Zipfian word-salad documents with near-duplicates and the
  base vocabulary mixed in (without the latter a pure-Zipf corpus makes
  ``tfidf_search_topk`` return no rows).
- ``star_tables``: a small TPC-H-like star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables, with the column names and types
  of the engine's ``sources.tables.TABLES``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes of each workload's inputs (see perfbench/README.md).
RMAT_SCALE = 12  # 2^12 vertex ids
RMAT_EDGE_FACTOR = 8  # raw arcs per vertex id
RMAT_ABC = (0.57, 0.19, 0.19)
KCORE_K = 8
# Rounds (cc_find, kcore, sssp) every generated graph needs; the most
# common profile of the R-MAT draws at this size (about one draw in four).
ROUND_PROFILE = (5, 4, 10)
CORPUS_DOCS = 3000
NEAR_DUP_SHARE = 0.08
BASE_SHARE = 0.15
STAR_ORDERS = 15000
STAR_DOCS = 1500
STAR_VECTORS = 500

# The words of the engine's reference documents table (the sf0.1 test data),
# plus the query terms the ranking queries search for ("model", "training").
BASE_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window model training"
).split()
LANGS = ("en", "zh", "de", "es", "fr")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
_SYLLABLES = [c + v for c in "bcdfghklmnprstvz" for v in "aeiou"] + [
    "str", "tion", "ing", "er", "an", "or"
]


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream) so adding a stream never
    shifts another stream's draws."""
    return np.random.default_rng([seed, sum(map(ord, stream)), len(stream)])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _rmat(rng: np.random.Generator, scale: int, edge_factor: int) -> np.ndarray:
    """Raw R-MAT arcs as an (m, 2) int64 array: each arc descends `scale`
    levels of the adjacency matrix, picking quadrant a/b/c/d per level."""
    m = (1 << scale) * edge_factor
    a, b, c = RMAT_ABC
    src = np.zeros(m, np.int64)
    dst = np.zeros(m, np.int64)
    for level in range(scale):
        r = rng.random(m)
        src_bit = r >= a + b  # quadrants c, d
        dst_bit = ((r >= a) & (r < a + b)) | (r >= a + b + c)  # quadrants b, d
        src |= src_bit.astype(np.int64) << level
        dst |= dst_bit.astype(np.int64) << level
    return np.stack([src, dst], axis=1)


def rmat_edges(
    seed: int,
    scale: int = RMAT_SCALE,
    edge_factor: int = RMAT_EDGE_FACTOR,
    profile: tuple[int, int, int] | None = ROUND_PROFILE,
) -> np.ndarray:
    """Raw R-MAT arcs of the first draw for `seed` whose canonical graph
    has round profile `profile` (None: the first draw). The iterative
    requests' round counts otherwise differ by one of four to eleven
    between seeds, which moves their latency by 10-25%; conditioning on the
    profile keeps the work per request the same for every seed while the
    graph itself is a fresh draw."""
    for attempt in range(500):
        raw = _rmat(_rng(seed, f"rmat-{attempt}"), scale, edge_factor)
        if profile is None or round_profile(canonical_edges(raw)) == profile:
            return raw
    raise RuntimeError(f"no R-MAT draw with round profile {profile} for seed {seed}")


def sssp_units(edges: np.ndarray) -> np.ndarray:
    """Integer weight units the sssp request attaches to canonical edges."""
    return (edges[:, 0] * 31 + edges[:, 1]) % 97 + 1


def sssp_source(edges: np.ndarray) -> int:
    """The highest-degree vertex (ties to the smallest id)."""
    return int(np.argmax(np.bincount(edges.ravel())))


def round_profile(edges: np.ndarray, k: int = KCORE_K) -> tuple[int, int, int]:
    """Synchronous rounds of (cc_find, kcore(k), sssp from sssp_source) on
    canonical edges, each counted up to and including the first round that
    changes nothing."""
    src = np.concatenate([edges[:, 0], edges[:, 1]])
    dst = np.concatenate([edges[:, 1], edges[:, 0]])
    n = int(edges.max()) + 1

    lab, cc = np.arange(n), 0
    while True:
        cc += 1
        nxt = lab.copy()
        np.minimum.at(nxt, dst, lab[src])
        if (nxt == lab).all():
            break
        lab = nxt

    alive = np.zeros(n, bool)
    alive[np.unique(edges)] = True
    kc = 0
    while True:
        kc += 1
        deg = np.bincount(dst[alive[src] & alive[dst]], minlength=n)
        low = alive & (deg < k)
        if not low.any():
            break
        alive &= ~low

    w = np.concatenate([sssp_units(edges)] * 2)
    inf = np.iinfo(np.int64).max // 2
    dist = np.full(n, inf)
    s = sssp_source(edges)
    dist[s] = 0
    changed = np.zeros(n, bool)
    changed[s] = True
    sp = 0
    while True:
        sp += 1
        f = changed[src]
        cand = np.full(n, inf)
        np.minimum.at(cand, dst[f], dist[src[f]] + w[f])
        changed = cand < dist
        dist = np.minimum(dist, cand)
        if not changed.any():
            break
    return cc, kc, sp


def canonical_edges(raw: np.ndarray) -> np.ndarray:
    """edge_upper semantics: (min, max) endpoints, no self-loops, distinct,
    sorted."""
    lo = np.minimum(raw[:, 0], raw[:, 1])
    hi = np.maximum(raw[:, 0], raw[:, 1])
    keep = lo != hi
    return np.unique(np.stack([lo[keep], hi[keep]], axis=1), axis=0)


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    words: list[str] = []
    seen = set(BASE_WORDS)
    while len(words) < n:
        k = int(rng.integers(2, 5))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), k))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def corpus(seed: int, n_docs: int = CORPUS_DOCS, vocab_size: int = 4000) -> dict[str, list]:
    """Documents table columns. Tokens are Zipf(1.1) over a synthetic
    vocabulary, except a BASE_SHARE of them drawn uniformly from
    BASE_WORDS. A NEAR_DUP_SHARE of documents copy an earlier document
    with one word replaced (word 3-gram Jaccard of at least 0.8)."""
    rng = _rng(seed, "corpus")
    vocab = np.array(_vocab(rng, vocab_size), dtype=object)
    base = np.array(BASE_WORDS, dtype=object)
    p = 1.0 / np.arange(1, vocab_size + 1) ** 1.1
    p /= p.sum()
    n_dup = int(round(n_docs * NEAR_DUP_SHARE))
    dup_ids = set(rng.choice(np.arange(1, n_docs), n_dup, replace=False).tolist())
    docs: list[list[str]] = []
    for i in range(n_docs):
        if i in dup_ids:
            # one word replaced changes at most 3 of the >= 28 shingles
            toks = list(docs[int(rng.integers(0, i))])
            toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, vocab_size))]
        else:
            n = int(rng.integers(30, 90))
            toks = vocab[rng.choice(vocab_size, n, p=p)]
            mask = rng.random(n) < BASE_SHARE
            toks[mask] = base[rng.integers(0, len(base), int(mask.sum()))]
            toks = toks.tolist()
        docs.append(toks)
    text = [" ".join(t) for t in docs]
    return {
        "doc_id": list(range(n_docs)),
        "text": text,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": [len(t) for t in text],
        "near_dup": sorted(dup_ids),
    }


def _documents_table(cols: dict[str, list]) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(cols["doc_id"], pa.int64()),
            "text": pa.array(cols["text"], pa.string()),
            "lang": pa.array(cols["lang"], pa.string()),
            "source": pa.array(cols["source"], pa.string()),
            "n_chars": pa.array(cols["n_chars"], pa.int64()),
        }
    )


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _ts(base: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    epoch_us = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(epoch_us + offsets_us.astype(np.int64), pa.timestamp("us"))


def star_tables(seed: int, n_orders: int = STAR_ORDERS) -> dict[str, pa.Table]:
    """The engine's base tables at roughly 1/10 of its sf0.1 test-data layout
    (value domains follow it: 5 regions, 25 nations, dates 1995-2001,
    events over January 2024, 64-dimensional labelled embeddings)."""
    rng = _rng(seed, "star")
    n_cust, n_supp, n_part = n_orders // 10, max(n_orders // 150, 10), n_orders * 2 // 15
    day_us = 86_400 * 1_000_000
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_cust)),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_supp)),
        }
    )
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
    retail = np.round(900 + rng.integers(0, 1000, n_part) / 10.0, 2)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [
                f"{adj[a]} {noun[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 7, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": retail,
        }
    )
    odate = rng.integers(0, 2404, n_orders) * day_us  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": _cents(rng.uniform(1000, 500000, n_orders)),
            "o_orderdate": _ts(dt.datetime(1995, 1, 1), odate),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders
            ),
        }
    )
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(okey)
    pkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(pkey, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(lnum, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": _cents(qty * retail[pkey]),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _ts(
                dt.datetime(1995, 1, 1), odate[okey] + rng.integers(1, 122, n_li) * day_us
            ),
        }
    )
    n_ev = n_orders * 2 // 3
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": _ts(dt.datetime(2024, 1, 1), np.sort(rng.integers(0, 30 * day_us, n_ev))),
            "user_id": pa.array(rng.integers(0, max(n_ev // 66, 10), n_ev), pa.int64()),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": _cents(rng.uniform(0, 560, n_ev)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents_table(corpus(seed, STAR_DOCS))
    labels = rng.integers(0, 10, STAR_VECTORS)
    centers = rng.normal(0, 1, (10, 64))
    emb = (centers[labels] + rng.normal(0, 0.5, (STAR_VECTORS, 64))).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(STAR_VECTORS), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write one workload's inputs into `out_dir` (created fresh) and return
    the metadata also written to `out_dir/meta.json`."""
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    meta: dict = {"workload": workload, "seed": seed}
    if workload == "graph_rmat":
        raw = rmat_edges(seed)
        _write(pa.table({"src": raw[:, 0], "dst": raw[:, 1]}), f"{out_dir}/edges.parquet")
        edges = canonical_edges(raw)
        meta.update(
            raw_arcs=len(raw),
            edges=len(edges),
            vertices=len(np.unique(edges)),
            sssp_source=sssp_source(edges),
        )
    elif workload == "text_corpus":
        cols = corpus(seed)
        _write(_documents_table(cols), f"{out_dir}/documents.parquet")
        meta.update(docs=len(cols["doc_id"]), near_dup=len(cols["near_dup"]))
    elif workload == "serve_mix":
        for name, table in star_tables(seed).items():
            _write(table, f"{out_dir}/{name}.parquet")
        meta.update(orders=STAR_ORDERS, docs=STAR_DOCS, vectors=STAR_VECTORS)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    with open(f"{out_dir}/meta.json", "w") as f:
        json.dump(meta, f, sort_keys=True)
    return meta
