"""Output checks that run in DuckDB after the benchmark JVM exits.

- ingest: every result written by the JVM must equal its query's DuckDB
  oracle (`QueryDef.oracle`) over the same input tables,
  under the rule tools/check_oracle.py applies: columns sorted by name,
  rows sorted, doubles rounded to 9 places, NaN/NULL normalized. Oracle
  results are cached by SQL text and input version.
- curate_x10: each stage output is recomputed independently from the
  corpus and the previous stage (see `curate`).

`run` returns (failed operation keys, extra per-layer metrics).
"""
import hashlib
import json
import math
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if v is None:
            return ("null",)
        if isinstance(v, float):
            if math.isnan(v):
                return ("nan",)
            return ("f", round(v, 9))
        return (type(v).__name__[:1], str(v))

    out = [tuple(norm(r[i]) for i in idx) for r in rows]
    out.sort()
    return out


def digest(rows, cols):
    c = canon(rows, cols)
    h = hashlib.sha256(repr((sorted(cols), c)).encode()).hexdigest()
    return h, len(c)


def connect(tmp):
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET enable_progress_bar=false")
    con.execute("SET threads=2")
    return con


def oracles(out, base, cache_dir):
    """Compare every result under out/results with its oracle."""
    with open(f"{out}/oracle_sql.json") as f:
        sql = json.load(f)
    os.makedirs(cache_dir, exist_ok=True)
    con = connect(os.path.join(out, "duckdb-tmp"))
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{base}/{t}.parquet'")
    bad = []
    for name, q in sorted(sql.items()):
        key = hashlib.sha256(f"{base}\n{q}".encode()).hexdigest()[:24]
        cached = os.path.join(cache_dir, f"{key}.json")
        if os.path.exists(cached):
            with open(cached) as f:
                want = tuple(json.load(f))
        else:
            rel = con.sql(q)
            want = digest(rel.fetchall(), list(rel.columns))
            with open(cached + ".tmp", "w") as f:
                json.dump(want, f)
            os.replace(cached + ".tmp", cached)
        rel = con.sql(f"SELECT * FROM '{out}/results/{name}/*.parquet'")
        got = digest(rel.fetchall(), list(rel.columns))
        if got != want:
            print(f"perfbench: {name}: result {got[1]} rows does not match "
                  f"its oracle ({want[1]} rows)", file=sys.stderr)
            bad.append(name)
    return bad


SHINGLES = """CASE WHEN len(ws) >= {n} THEN list_transform(
    generate_series(1, len(ws) - {m}), i -> {expr}) ELSE [] END"""


def grams(n):
    expr = "||' '||".join(f"ws[i+{k}]" if k else "ws[i]" for k in range(n))
    return SHINGLES.format(n=n, m=n - 1, expr=expr)


def curate(stages, corpus, out):
    """Recompute each stage of the curation DAG. Returns failed stages and
    the pair / survivor counts."""
    con = connect(os.path.join(out, "duckdb-tmp"))
    con.execute(f"""CREATE TABLE docs AS SELECT doc_id, text,
        string_split(text, ' ') AS ws FROM '{corpus}/documents.parquet'""")
    con.execute(f"""CREATE TABLE sh AS SELECT doc_id,
        list_distinct({grams(3)}) AS sg FROM docs""")
    for s in ["pairs", "components", "survivors", "flags", "contam",
              "shards"]:
        con.execute(f"CREATE VIEW {s} AS SELECT * FROM '{stages}/{s}/*.parquet'")
    bad = []
    jac = """CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE) /
        (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg)))"""
    # 1. pairs: each verified (J >= 0.5, jr = round(J, 4)), none repeated
    n_bad, n_pairs, n_distinct = con.sql(f"""
        SELECT count(*) FILTER (WHERE NOT ({jac} >= 0.5
                 AND abs(round({jac}, 4) - p.jr) < 1e-9)),
               count(*), count(DISTINCT (least(da, db), greatest(da, db)))
        FROM pairs p JOIN sh a ON a.doc_id = p.da
                     JOIN sh b ON b.doc_id = p.db""").fetchone()
    total = con.sql("SELECT count(*) FROM pairs").fetchone()[0]
    if n_bad or n_pairs != total or n_distinct != total:
        bad.append("operators.dedup.pairs")
    # 2. components: min-id label of each connected component of the pairs
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for da, db in con.sql("SELECT da, db FROM pairs").fetchall():
        ra, rb = find(da), find(db)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in parent}
    got = dict(con.sql("SELECT v, comp FROM components").fetchall())
    if got != want:
        bad.append("operators.dedup.components")
    # every copy at J >= 0.8 to its original (copy 0) shares its component:
    # the band recall bound misses such a pair with p < 1e-7
    for copy, orig in con.sql(f"""
            SELECT a.doc_id, b.doc_id FROM sh a JOIN sh b
              ON b.doc_id = a.doc_id % 1000000
            WHERE a.doc_id >= 1000000 AND {jac} >= 0.8""").fetchall():
        if want.get(copy, copy) != want.get(orig, orig):
            bad.append("operators.dedup.components")
            break
    # 3. survivors: every doc but the non-minimal component members
    dropped = {v for v, c in want.items() if v != c}
    ids = {r[0] for r in con.sql("SELECT doc_id FROM docs").fetchall()}
    surv = {r[0] for r in con.sql("SELECT doc_id FROM survivors").fetchall()}
    n_surv = con.sql("SELECT count(*) FROM survivors").fetchone()[0]
    if surv != ids - dropped or n_surv != len(surv):
        bad.append("operators.curation.survivors")
    # 4. funnel flags over the survivors
    n_bad = con.sql(f"""
        WITH g AS (SELECT doc_id, len(ws) AS n_toks, {grams(3)} AS sg,
                     min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
                   FROM docs WHERE doc_id IN (SELECT doc_id FROM survivors)),
        w AS (SELECT doc_id, n_toks BETWEEN 20 AND 80 AS p_len,
                coalesce(CASE WHEN len(sg) > 0 THEN 1.0 -
                  CAST(len(list_distinct(sg)) AS DOUBLE) / len(sg) END
                  < 0.05, false) AS p_rep,
                doc_id = keeper AS p_dedup FROM g)
        SELECT (SELECT count(*) FROM (SELECT * FROM w EXCEPT ALL
                  SELECT doc_id, p_len, p_rep, p_dedup FROM flags)) +
               (SELECT count(*) FROM (SELECT doc_id, p_len, p_rep, p_dedup
                  FROM flags EXCEPT ALL SELECT * FROM w))""").fetchone()[0]
    if n_bad:
        bad.append("operators.curation.funnel")
    # 5. 5-gram contamination of the gated docs against the doc_id % 10 = 0
    # slice of the corpus
    con.execute(f"""CREATE TABLE gated AS SELECT s.doc_id FROM survivors s
        JOIN flags f ON f.doc_id = s.doc_id
        WHERE f.p_len AND f.p_rep AND f.p_dedup""")
    con.execute(f"""CREATE TABLE g5 AS SELECT doc_id,
        list_distinct({grams(5)}) AS sg FROM docs""")
    n_bad = con.sql("""
        WITH ev AS (SELECT DISTINCT unnest(sg) AS s FROM g5
                    WHERE doc_id % 10 = 0),
        tr AS (SELECT g5.doc_id, unnest(sg) AS s FROM g5
               JOIN gated USING (doc_id)),
        w AS (SELECT tr.doc_id, count(*) AS n_sh, count(ev.s) AS n_contam
              FROM tr LEFT JOIN ev ON tr.s = ev.s GROUP BY 1)
        SELECT (SELECT count(*) FROM (SELECT * FROM w EXCEPT ALL
                  SELECT doc_id, n_sh, n_contam FROM contam)) +
               (SELECT count(*) FROM (SELECT doc_id, n_sh, n_contam
                  FROM contam EXCEPT ALL SELECT * FROM w))""").fetchone()[0]
    if n_bad:
        bad.append("operators.curation.decontam")
    # 6. serpentine shards of the clean docs over (n_toks desc, doc_id)
    n_bad = con.sql("""
        WITH clean AS (SELECT doc_id FROM gated WHERE doc_id NOT IN (
                SELECT doc_id FROM contam
                WHERE CAST(n_contam AS DOUBLE) / n_sh >= 0.5)),
        r AS (SELECT d.doc_id, len(d.ws) AS n_toks, row_number() OVER
                (ORDER BY len(d.ws) DESC, d.doc_id) - 1 AS rk
              FROM docs d JOIN clean USING (doc_id)),
        w AS (SELECT doc_id, n_toks, CASE WHEN (rk // 16) % 2 = 0
                THEN rk % 16 ELSE 15 - rk % 16 END AS shard FROM r)
        SELECT (SELECT count(*) FROM (SELECT * FROM w EXCEPT ALL
                  SELECT doc_id, n_toks, shard FROM shards)) +
               (SELECT count(*) FROM (SELECT doc_id, n_toks, shard
                  FROM shards EXCEPT ALL SELECT * FROM w))""").fetchone()[0]
    if n_bad:
        bad.append("operators.curation.shards")
    return bad, {"operators.dedup.pairs": float(total),
                 "operators.curation.survivors": float(n_surv)}


def run(workload, out, base, corpus, cache_dir):
    if workload == "ingest":
        return oracles(out, base, cache_dir), {}
    with open(f"{out}/stages.txt") as f:
        return curate(f.read().strip(), corpus, out)
