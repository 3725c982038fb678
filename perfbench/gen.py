"""Seeded input generation for the benchmark.

Writes the engine's table layout (one parquet file per table, the schema
`graft.Tables` reads) with numpy + pyarrow, so the same seed always yields
byte-identical inputs:

- `base(dir, seed, scale)`: the TPC-H-ish star schema, `events`,
  `documents` (with planted near-duplicates) and `embeddings`.
- `curate_corpus(dir, docs, seed, copies)`: a copies-fold near-duplicate
  corpus built from `documents` by seeded word edits, plus the measured
  share of each copy group.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("query row stream the spark line small fast group customer part "
         "column order scan a slow agg key window table merge vector join "
         "batch sort value hash filter big data dup").split()
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _ts(days_from, base="1995-01-01"):
    b = np.datetime64(base, "us")
    return pa.array(b + (np.asarray(days_from) * 86400_000_000).astype(
        "timedelta64[us]"), type=pa.timestamp("us"))


def _doc_texts(rng, n):
    lens = rng.integers(10, 101, n)
    w = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, o = [], 0
    for ln in lens:
        out.append(w[o:o + ln])
        o += ln
    return out


def _edit(rng, words, n_edits):
    """Substitute `n_edits` random positions with random vocabulary."""
    w = words.copy()
    if n_edits:
        pos = rng.choice(len(w), size=min(n_edits, len(w)), replace=False)
        w[pos] = rng.integers(0, len(VOCAB), len(pos))
    return w


def _join(ws):
    return " ".join(VOCAB[i] for i in ws)


def base(d, seed, scale):
    """Star schema + events + corpus; `scale` 0.1 matches sf0.1 row counts."""
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * scale), int(10000 * scale), int(200000 * scale)
    n_ord, n_li, n_ev = int(1500000 * scale), int(6000000 * scale), int(1000000 * scale)
    n_docs, n_vec = int(50000 * scale), int(20000 * scale)

    _write(f"{d}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{d}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"])
    _write(f"{d}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    _write(f"{d}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array(["hot", "old", "red", "small", "new", "large", "cold", "blue"])
    noun = np.array(["bolt", "plate", "gear", "ring", "rod", "anvil", "widget", "gizmo"])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(f"{d}/part.parquet", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    _write(f"{d}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(rng.integers(0, 2404, n_ord)),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_ord)]})
    _write(f"{d}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng.integers(1, 2499, n_li))})
    # events: ascending microsecond timestamps over 30 days
    ts = np.sort(rng.integers(0, 30 * 86400_000_000, n_ev))
    _write(f"{d}/events.parquet", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       type=pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, int(15000 * scale)), n_ev).astype(np.int64),
        "event_type": np.array(["view", "click", "signup", "purchase", "error"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: random word sequences; ~5% are light edits of an earlier
    # doc (near-duplicates above the 0.5 threshold), a few exact copies
    words = _doc_texts(rng, n_docs)
    for i in range(1, n_docs):
        u = rng.random()
        if u < 0.002:
            words[i] = words[rng.integers(0, i)].copy()
        elif u < 0.05:
            src = words[rng.integers(0, i)]
            words[i] = _edit(rng, src, int(rng.integers(1, 4)))
    texts = [_join(w) for w in words]
    _write(f"{d}/documents.parquet", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    # embeddings: 10 loose clusters of unit vectors
    labels = rng.integers(0, 10, n_vec)
    cents = rng.normal(0.0, 1.0, (10, 64))
    v = cents[labels] * 0.35 + rng.normal(0.0, 1.0, (n_vec, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(f"{d}/embeddings.parquet", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


def _shingles(ws):
    return {(ws[i], ws[i + 1], ws[i + 2]) for i in range(len(ws) - 2)}


# Kinds of the copies 1..9 of each base document: exact duplicates, light
# edits (near-duplicates above the 0.5 Jaccard threshold), heavy edits
# (around and below it) and fresh texts. A fixed mix per document, in seeded
# order, keeps the work per corpus alike across seeds.
COPY_KINDS = ["exact"] * 2 + ["light"] * 2 + ["heavy"] * 2 + ["fresh"] * 3


def curate_corpus(d, docs_path, seed, copies):
    """`copies` versions of every base document: copy 0 is the original,
    the others follow COPY_KINDS (repeated) with seeded edits. doc_id =
    copy * 10^6 + base id. Returns the measured share of each Jaccard group
    of the copies against their original."""
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng([seed, 10])
    kinds = (COPY_KINDS * copies)[:copies - 1]
    t = pq.read_table(docs_path).to_pydict()
    idx = {w: i for i, w in enumerate(VOCAB)}
    base_ws = [np.array([idx[w] for w in s.split(" ")]) for s in t["text"]]
    ids, texts, langs, srcs = [], [], [], []
    groups = {"exact": 0, "near_above": 0, "near_below": 0, "distinct": 0}
    order = [rng.permutation(kinds) for _ in base_ws]
    for c in range(copies):
        for j, ws in enumerate(base_ws):
            if c == 0:
                out = ws
            else:
                kind = order[j][c - 1]
                if kind == "exact":
                    out = ws.copy()
                elif kind == "light":
                    out = _edit(rng, ws, max(1, len(ws) // 20))
                elif kind == "heavy":
                    out = _edit(rng, ws, max(2, len(ws) // 6))
                else:
                    out = _doc_texts(rng, 1)[0]
                a, b = _shingles(ws), _shingles(out)
                jac = len(a & b) / max(1, len(a | b))
                if out is not ws and np.array_equal(out, ws):
                    groups["exact"] += 1
                elif jac >= 0.5:
                    groups["near_above"] += 1
                elif jac >= 0.2:
                    groups["near_below"] += 1
                else:
                    groups["distinct"] += 1
            ids.append(c * 1_000_000 + t["doc_id"][j])
            texts.append(_join(out))
            langs.append(t["lang"][j])
            srcs.append(t["source"][j])
    _write(f"{d}/documents.parquet", {
        "doc_id": np.array(ids, dtype=np.int64), "text": texts,
        "lang": langs, "source": srcs,
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    n = sum(groups.values())
    shares = {k: round(v / n, 4) for k, v in groups.items()}
    with open(f"{d}/groups.json", "w") as f:
        json.dump(shares, f)
    return shares
