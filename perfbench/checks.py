"""Correctness checks for one benchmark run, made with DuckDB over the
files the run left behind (never through the engine under test).

Query workloads: each basket query's rows are compared with its DuckDB
oracle (`SparkEntry.oracleSql`) by the rule of `tools/check_oracle.py`:
columns sorted by name, rows sorted by value, floats rounded to 9
places, then hashed. The oracle's fingerprints for the generated data
are committed in `expected.json` (keyed by query and SQL text); a query
whose oracle SQL changed, or data that hashes differently, falls back to
running the oracle, cached under `.bench_build/`.

    python3 perfbench/checks.py export   # cache -> expected.json

warehouse_cycles: the daily, weekly and monthly rollups equal a
from-scratch rollup of every landed event; stage holds one row per
distinct landed `event_id`; every corpus cycle's accounting adds up; no
`doc_id` or `text_hash` repeats in the corpus.
"""
import glob
import hashlib
import json
import os
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected.json")


def canon(df):
    """The canonical form `tools/check_oracle.py` compares."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def fingerprint(df):
    c = canon(df)
    h = hashlib.sha256()
    h.update(json.dumps([[col, str(c[col].dtype)] for col in c.columns]).encode())
    h.update(pd.util.hash_pandas_object(c, index=False).values.tobytes())
    return {"rows": len(c), "hash": h.hexdigest()}


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def load_expected(data_sha):
    if not os.path.exists(EXPECTED):
        return {}
    with open(EXPECTED) as f:
        e = json.load(f)
    return e["fingerprints"] if e.get("data_sha256") == data_sha else {}


def check_queries(res, data_dir, data_sha, cache_dir):
    """One check per basket query."""
    os.makedirs(cache_dir, exist_ok=True)
    expected = load_expected(data_sha)
    con = None
    checks = []
    oracle = res.get("oracle_sql", {})
    for q in res["sample"]:
        path = res["query_outputs"].get(q, "")
        if not path:
            checks.append({"name": q, "ok": False, "detail": "query failed"})
            continue
        files = glob.glob(os.path.join(path, "*.parquet"))
        got = (pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
               if files else pd.DataFrame())
        if q not in oracle:
            # no oracle by design (HLL registers are engine-private):
            # checked rows-only
            checks.append({"name": q, "ok": len(got) > 0,
                           "detail": f"rows-only, {len(got)} rows"})
            continue
        sql = oracle[q]
        key = f"{q}-{hashlib.sha256(sql.encode()).hexdigest()[:24]}"
        cached = os.path.join(cache_dir, f"{key}.json")
        if key in expected:
            want = expected[key]
        elif os.path.exists(cached):
            with open(cached) as f:
                want = json.load(f)
        else:
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads TO 2")
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"'{os.path.join(data_dir, t)}.parquet'")
            want = fingerprint(con.execute(sql).df())
            with open(cached + ".tmp", "w") as f:
                json.dump(want, f)
            os.replace(cached + ".tmp", cached)
        mine = fingerprint(got) if len(got) else {"rows": 0, "hash": ""}
        ok = mine == want
        checks.append({"name": q, "ok": ok,
                       "detail": f"{mine['rows']} rows" + ("" if ok else
                                 f", oracle has {want['rows']} rows, hashes differ")})
    return checks


def _pq(path):
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true, hive_types_autocast = false)"


ROLLUP = """
SELECT user_id, {key} AS {col},
  CAST(sum(CAST(floor(value * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS value_sum,
  count(*) AS n_events, max(ts) AS last_ts
FROM landed GROUP BY ALL"""
KEYS = {"day": "strftime(ts, '%Y%m%d')",
        "week": "strftime(date_trunc('week', ts), '%Y-%m-%d')",
        "month": "strftime(ts, '%Y%m')"}


def check_warehouse(res):
    w = res["warehouse"]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    checks = []
    incs = [i["dir"] for i in w["increments"]]
    if not incs:
        return [{"name": "warehouse ran", "ok": False, "detail": "no IoT cycle"}]
    files = ", ".join(f"'{d}/*.parquet'" for d in incs)
    con.execute(f"CREATE VIEW landed AS SELECT * FROM (SELECT *, row_number() OVER "
                f"(PARTITION BY event_id ORDER BY ts DESC) AS rn FROM read_parquet([{files}])) "
                f"WHERE rn = 1")
    n_distinct = con.execute("SELECT count(*) FROM landed").fetchone()[0]
    n_stage = con.execute(f"SELECT count(*) FROM {_pq(w['stage'])}").fetchone()[0]
    checks.append({"name": "stage rows == distinct landed event_id",
                   "ok": n_stage == n_distinct,
                   "detail": f"stage {n_stage}, landed {n_distinct}"})
    for col, path in sorted(w["agg"].items()):
        want = ROLLUP.format(key=KEYS[col], col=col)
        got = f"SELECT user_id, {col}, value_sum, n_events, last_ts FROM {_pq(path)}"
        extra = con.execute(f"SELECT count(*) FROM ({got} EXCEPT ALL {want})").fetchone()[0]
        missing = con.execute(f"SELECT count(*) FROM ({want} EXCEPT ALL {got})").fetchone()[0]
        checks.append({"name": f"agg_{col} == from-scratch rollup",
                       "ok": extra == 0 and missing == 0,
                       "detail": f"{extra} extra rows, {missing} missing rows"})
    # corpus: a document is accepted at its first landing or never, so
    # each cycle's accepted count is the corpus docs that first landed then
    cycles = w["corpus_cycles"]
    corpus = set(r[0] for r in con.execute(
        f"SELECT doc_id FROM {_pq(w['corpus'])}").fetchall())
    first = {}
    for i, c in enumerate(cycles):
        ids = [r[0] for r in con.execute(
            f"SELECT doc_id FROM read_parquet('{c['dir']}/*.parquet')").fetchall()]
        for d in ids:
            first.setdefault(d, i)
        skipped = sum(1 for d in ids if d in corpus and first[d] < i)
        accepted = sum(1 for d in set(ids) if d in corpus and first[d] == i)
        parts = (c["accepted"] + c["reject_quality"] + c["reject_exact"]
                 + c["reject_near"])
        ok = (c["landing"] == len(ids) and c["new"] == len(ids) - skipped
              and c["accepted"] == accepted and parts + skipped == len(ids))
        checks.append({"name": f"corpus cycle {i + 1} accounting", "ok": ok,
                       "detail": f"landing {len(ids)} = skipped {skipped} + accepted "
                                 f"{c['accepted']} + quality {c['reject_quality']} + "
                                 f"exact {c['reject_exact']} + near {c['reject_near']}; "
                                 f"first landed and kept {accepted}"})
    n, n_id, n_hash = con.execute(
        f"SELECT count(*), count(DISTINCT doc_id), count(DISTINCT text_hash) "
        f"FROM {_pq(w['corpus'])}").fetchone()
    checks.append({"name": "corpus doc_id and text_hash unique",
                   "ok": n == n_id == n_hash and (not cycles or n == cycles[-1]["corpus_size"]),
                   "detail": f"{n} rows, {n_id} doc_ids, {n_hash} text_hashes"})
    return checks


def export(cache_dir, data_sha):
    """Writes the cached oracle fingerprints to expected.json."""
    fps = {}
    for f in sorted(glob.glob(os.path.join(cache_dir, "*.json"))):
        with open(f) as fh:
            fps[os.path.basename(f)[:-5]] = json.load(fh)
    with open(EXPECTED, "w") as fh:
        json.dump({"data_sha256": data_sha, "fingerprints": fps}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(fps)} fingerprints written to {EXPECTED}")


if __name__ == "__main__" and sys.argv[1:] == ["export"]:
    import gen_data
    import run
    export(run.oracle_cache(), gen_data.digest(run.data_dir()))
