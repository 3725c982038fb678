#!/usr/bin/env python3
"""DuckDB twins of the cumulative stage sub-plans that
`runMain graft.Profile stages <dir> [prefix]` times — the other half of
the r12 verdict's item 7 (per-stage Spark-vs-DuckDB growth at
x100->x1000 for the four engine-constant-factor members q03/q05/q78/q119).
Stage names line up 1:1 with the Spark side so the adjudication artifact
can join the two sides on name.

Each stage is the same cumulative prefix of the declared query, collapsed
by the same global aggregate (count + the query's own sum expression), so
both engines compute identical values per stage.

Usage: python3 tools/decompose_duckdb.py <dir> [out.json]
"""
import json
import sys
import time

import duckdb

DIR = sys.argv[1]
OUT = sys.argv[2] if len(sys.argv) > 2 else None

TERMS = "('table', 'join', 'scan')"
STAGES = [
    # ---- q03 ----
    ("q03_a_scan_li",
     "SELECT count(*), sum(l_extendedprice * (1.0 - l_discount)) FROM lineitem"),
    ("q03_b_custord_join",
     "SELECT count(*) FROM customer JOIN orders ON c_custkey = o_custkey "
     "WHERE c_mktsegment = 'BUILDING'"),
    ("q03_c_fulljoin_agg",
     "SELECT count(*), sum(l_extendedprice * (1.0 - l_discount)) "
     "FROM customer JOIN orders ON c_custkey = o_custkey "
     "JOIN lineitem ON o_orderkey = l_orderkey "
     "WHERE c_mktsegment = 'BUILDING'"),
    ("q03_d_declared",
     "SELECT o_orderkey, o_orderdate, "
     "round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue "
     "FROM customer JOIN orders ON c_custkey = o_custkey "
     "JOIN lineitem ON o_orderkey = l_orderkey "
     "WHERE c_mktsegment = 'BUILDING' "
     "GROUP BY o_orderkey, o_orderdate ORDER BY revenue DESC, o_orderkey LIMIT 10"),
    # ---- q05 ----
    ("q05_a_scan_li",
     "SELECT count(*), sum(l_extendedprice * (1.0 - l_discount)) FROM lineitem"),
    ("q05_b_custord_join",
     "SELECT count(*) FROM customer "
     "JOIN nation ON c_nationkey = n_nationkey "
     "JOIN region ON n_regionkey = r_regionkey "
     "JOIN orders ON c_custkey = o_custkey WHERE r_name = 'ASIA'"),
    ("q05_c_li_join",
     "SELECT count(*), sum(l_extendedprice * (1.0 - l_discount)) "
     "FROM customer "
     "JOIN nation ON c_nationkey = n_nationkey "
     "JOIN region ON n_regionkey = r_regionkey "
     "JOIN orders ON c_custkey = o_custkey "
     "JOIN lineitem ON o_orderkey = l_orderkey WHERE r_name = 'ASIA'"),
    ("q05_d_declared",
     "SELECT n_name, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue "
     "FROM customer "
     "JOIN nation ON c_nationkey = n_nationkey "
     "JOIN region ON n_regionkey = r_regionkey "
     "JOIN orders ON c_custkey = o_custkey "
     "JOIN lineitem ON o_orderkey = l_orderkey "
     "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
     "WHERE r_name = 'ASIA' GROUP BY n_name"),
    # ---- q78 ----
    # keys pmod'd before the sum — matches the Spark side (a raw x1000 key
    # sum overflows Long on the Spark side under ANSI mode)
    ("q78_a_scan_li",
     "SELECT count(*), sum(l_partkey % 1000000), sum(l_suppkey % 1000000) "
     "FROM lineitem"),
    ("q78_b_join",
     "SELECT count(*), sum(l_suppkey % 1000000) FROM lineitem "
     "JOIN part ON l_partkey = p_partkey WHERE p_type NOT LIKE '%_2%'"),
    ("q78_c_declared",
     "SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt "
     "FROM lineitem JOIN part ON l_partkey = p_partkey "
     "WHERE p_type NOT LIKE '%_2%' "
     "GROUP BY p_brand, p_size HAVING count(DISTINCT l_suppkey) >= 5"),
    # ---- q119 ----
    ("q119_a_postings",
     "SELECT count(*), sum(tf) FROM ("
     "  SELECT doc_id, w AS word, count(*) AS tf FROM ("
     "    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)"
     f"  WHERE w IN {TERMS} GROUP BY doc_id, w)"),
    ("q119_b_lex",
     "SELECT count(*), sum(lex) FROM ("
     "  SELECT d.doc_id, CAST(coalesce(h.tf, 0) AS DOUBLE)"
     "    / len(string_split(d.text, ' ')) AS lex"
     "  FROM documents d LEFT JOIN ("
     "    SELECT doc_id, count(*) AS tf FROM ("
     "      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)"
     f"    WHERE w IN {TERMS} GROUP BY doc_id) h USING (doc_id))"),
    ("q119_c_sem",
     "WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) "
     "SELECT count(*), sum("
     "  list_sum(list_transform(list_zip(embedding, qe),"
     "    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
     "  / (sqrt(list_sum(list_transform(embedding,"
     "       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
     "     * sqrt(list_sum(list_transform(qe,"
     "       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))) "
     "FROM embeddings, q"),
    ("q119_d_declared",
     "WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), "
     "sem AS (SELECT vec_id AS doc_id, "
     "    list_sum(list_transform(list_zip(embedding, qe), "
     "      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) "
     "    / (sqrt(list_sum(list_transform(embedding, "
     "         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) "
     "       * sqrt(list_sum(list_transform(qe, "
     "         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sem "
     "  FROM embeddings, q), "
     "lex AS (SELECT doc_id, "
     "    CAST(len(list_filter(string_split(text, ' '), "
     f"      w -> w IN {TERMS})) AS DOUBLE) "
     "    / len(string_split(text, ' ')) AS lex "
     "  FROM documents) "
     "SELECT doc_id, round(lex, 4) AS lex, round(sem, 4) AS sem, "
     "  round(sem * 0.5 + lex * 0.5, 4) AS score "
     "FROM lex JOIN sem USING (doc_id) ORDER BY score DESC, doc_id LIMIT 10"),
]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings"]


def main():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DIR}/{t}.parquet')")
    rows = []
    for name, sql in STAGES:
        con.execute(sql).fetchall()  # warm-up (page cache, plan)
        t0 = time.time()
        con.execute(sql).fetchall()
        sec = time.time() - t0
        rows.append({"stage": name, "sec": round(sec, 3)})
        print(f"[duck-decompose] {name}: {sec:.3f} s", file=sys.stderr)
    out = {"dir": DIR, "stages": rows}
    print(json.dumps(out))
    if OUT:
        with open(OUT, "w") as f:
            json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
