#!/usr/bin/env python3
"""DuckDB oracle check for the batch_mix workload: each mix query's
oracle SQL (SparkEntry.oracleSql) runs in DuckDB over the generated
tables, and its result hash must equal the hash of the Spark result of
the workload's last pass. The hash is the one tools/check_oracle.py
uses: rows normalised, sorted, SHA-256 over them.

Oracle results are cached under <cache_dir>, keyed by the query name,
its SQL text and the bytes of the generated tables. To recompute them:

    python3 perfbench/oracle.py <tables_dir> <results_dir> --recompute

`python3 perfbench/oracle.py --selftest` checks that a changed value, a
dropped row and an extra row each fail the compare.
"""
import hashlib
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
import duckdb  # noqa: E402
from check_oracle import table_hash  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(tables_dir):
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables_dir}/{t}.parquet/*.parquet')")
    return con


def data_fingerprint(tables_dir):
    h = hashlib.sha256()
    for t in TABLES:
        d = os.path.join(tables_dir, f"{t}.parquet")
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(t.encode() + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def summary(cols, rows):
    return {"cols": list(cols), "rows": len(rows), "hash": table_hash(cols, rows)}


def compare(oracle, spark):
    """None when the two result summaries agree, else how they differ."""
    if sorted(oracle["cols"]) != sorted(spark["cols"]):
        return f"columns oracle={sorted(oracle['cols'])} spark={sorted(spark['cols'])}"
    if oracle["rows"] != spark["rows"]:
        return f"rows oracle={oracle['rows']} spark={spark['rows']}"
    if oracle["hash"] != spark["hash"]:
        return f"hash mismatch over {spark['rows']} rows"
    return None


def check(tables_dir, results_dir, cache_dir, recompute=False):
    """[(query, ok, detail)] for every query in results_dir/oracle_sql.json."""
    sql = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    con = connect(tables_dir)
    fp = data_fingerprint(tables_dir)
    os.makedirs(cache_dir, exist_ok=True)
    out = []
    for name, q in sorted(sql.items()):
        res = con.execute(f"SELECT * FROM read_parquet('{results_dir}/{name}/*.parquet')")
        spark = summary([d[0] for d in res.description], res.fetchall())
        key = hashlib.sha256(f"{name}\0{q}\0{fp}".encode()).hexdigest()
        path = os.path.join(cache_dir, key + ".json")
        if os.path.exists(path) and not recompute:
            oracle = json.load(open(path))
        else:
            r = con.execute(q)
            oracle = summary([d[0] for d in r.description], r.fetchall())
            with open(path + ".tmp", "w") as f:
                json.dump(oracle, f)
            os.replace(path + ".tmp", path)
        why = compare(oracle, spark)
        out.append((name, why is None, why or f"{spark['rows']} rows hash-equal"))
    return out


def selftest():
    cols = ["k", "v"]
    rows = [(1, "a"), (2, "b\tc"), (3, None)]
    cases = [("equal", rows, True),
             ("a changed value", [(1, "a"), (2, "b\tC"), (3, None)], False),
             ("a dropped row", rows[:2], False),
             ("an extra row", rows + [(4, "d")], False)]
    bad = 0
    for label, got, should in cases:
        ok = compare(summary(cols, rows), summary(cols, got)) is None
        bad += ok != should
        print(f"{'ok  ' if ok == should else 'FAIL'} oracle compare: {label}: "
              f"{'pass' if ok else 'fail'}")
    return bad


if __name__ == "__main__":
    if sys.argv[1:] == ["--selftest"]:
        sys.exit(1 if selftest() else 0)
    tables, results = sys.argv[1], sys.argv[2]
    res = check(tables, results, os.path.join(ROOT, ".bench_out", "oracle_cache"),
                recompute="--recompute" in sys.argv)
    for name, ok, why in res:
        print(f"{'PASS' if ok else 'FAIL'} {name}: {why}")
    sys.exit(0 if all(ok for _, ok, _ in res) else 1)
