#!/usr/bin/env python3
"""Zipfian-vocabulary document corpus for FTS serving-scale evidence.

The driver's synthetic documents use a 31-word vocabulary, so EVERY
term's posting list is ~the whole corpus -- the r11 probe-scale evidence
(probe cost proportional to posting lists) therefore rests on the worst
case. This tool generates a corpus whose word frequencies follow a Zipf
law over a large vocabulary (the empirical shape of natural text), so
phrase terms have realistic document frequencies and the term-bucket
partition pruning has something to prune.

Base corpus is generated with numpy (deterministic seed); larger decades
replicate the base with doc_id offsets (DuckDB), which preserves every
term's document-frequency FRACTION -- the property the evidence needs.
A fixed probe phrase (three mid-rank words) is planted in 1/50 of docs
so phrase queries return hits that scale with the corpus.

Usage:
  python3 tools/make_zipf.py <dst> <nDocs> [replicate_from] [copies] [emb_src]
    <dst>            output dir (documents.parquet [+ embeddings.parquet])
    <nDocs>          docs to GENERATE (ignored when replicate_from given)
    [replicate_from] existing zipf dir to replicate instead of generating
    [copies]         replication factor (with replicate_from)
    [emb_src]        dir whose embeddings.parquet to copy in (optional;
                     `graft.Profile probes` also needs the vector table)

Examples (the r12 evidence set):
  python3 tools/make_zipf.py /tmp/graft_zipf10 50000 - - /tmp/graft_sf1
  python3 tools/make_zipf.py /tmp/graft_zipf100 0 /tmp/graft_zipf10 10 /tmp/graft_sf10
  python3 tools/make_zipf.py /tmp/graft_zipf1000 0 /tmp/graft_zipf10 100 /tmp/graft_x1000
"""
import os
import shutil
import sys

VOCAB = 50_000
S = 1.07          # Zipf exponent (natural-text ballpark)
MEAN_WORDS = 54   # matches the driver corpus's mean doc length
SEED = 42
PHRASE = ["w40", "w80", "w120"]  # mid-rank probe phrase
PHRASE_EVERY = 50                # plant the phrase in 1/50 docs
OFF = 1_000_000_000


def generate(dst, n_docs):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(SEED)
    # inverse-CDF Zipf over a FIXED vocab (np.random.zipf is unbounded)
    ranks = np.arange(1, VOCAB + 1)
    probs = 1.0 / np.power(ranks, S)
    probs /= probs.sum()
    lengths = np.clip(rng.poisson(MEAN_WORDS, n_docs), 5, None)
    total = int(lengths.sum())
    words = rng.choice(ranks, size=total, p=probs)
    texts = []
    pos = 0
    phrase = " ".join(PHRASE)
    for i in range(n_docs):
        n = lengths[i]
        toks = [f"w{w}" for w in words[pos:pos + n]]
        pos += n
        if i % PHRASE_EVERY == 0:
            # plant mid-doc so the phrase sits inside normal text
            mid = n // 2
            toks = toks[:mid] + PHRASE + toks[mid:]
        texts.append(" ".join(toks))
    tbl = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * n_docs, pa.string()),
        "source": pa.array(["zipf"] * n_docs, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tbl, os.path.join(dst, "documents.parquet"))
    print(f"generated {n_docs} docs, vocab {VOCAB}, zipf s={S}, "
          f"phrase '{phrase}' in 1/{PHRASE_EVERY}")


def replicate(dst, src, copies):
    import duckdb

    duckdb.sql(
        f"COPY (SELECT doc_id + i * {OFF} AS doc_id, text, lang, source, "
        f"n_chars FROM read_parquet('{src}/documents.parquet'), "
        f"range({copies}) r(i)) "
        f"TO '{dst}/documents.parquet' (FORMAT PARQUET)"
    )
    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{dst}/documents.parquet')"
    ).fetchone()[0]
    print(f"replicated {src} x{copies} -> {n} docs")


def main():
    dst = sys.argv[1]
    n_docs = int(sys.argv[2])
    rep_from = sys.argv[3] if len(sys.argv) > 3 and sys.argv[3] != "-" else None
    copies = int(sys.argv[4]) if len(sys.argv) > 4 and sys.argv[4] != "-" else 1
    emb_src = sys.argv[5] if len(sys.argv) > 5 else None
    os.makedirs(dst, exist_ok=True)
    if rep_from:
        replicate(dst, rep_from, copies)
    else:
        generate(dst, n_docs)
    if emb_src:
        shutil.copyfile(os.path.join(emb_src, "embeddings.parquet"),
                        os.path.join(dst, "embeddings.parquet"))
        print(f"embeddings copied from {emb_src}")


if __name__ == "__main__":
    main()
