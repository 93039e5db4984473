"""DuckDB oracle for the query_mix workload.

Each query's oracle SQL (`SparkEntry.oracleSql`, dumped by the benchmark
JVM as oracle_sql.json) runs in DuckDB over the same table dir the engine
read, and both results are compared after the canonicalization of the
repo's scripts/check_oracle.py: columns sorted by name, rows sorted, values
rendered with repr() for floats and str() otherwise, and every DECIMAL
required to survive a float64 round trip.

Expected results are cached under .cache/oracle/, keyed by the SQL text
and a digest of the table files, so a repeated seed never reruns an
oracle inside a run. SQL that reads a per-JVM expected file (the
graft_expected_<pid> dirs) is never cached: the file belongs to one JVM.

Rebuild the cache for a seed (runs every cacheable oracle anew):
    python3 perfbench/oracle.py --seed N
"""
import argparse
import decimal
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache", "oracle")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def f64_safe(v):
    if isinstance(v, decimal.Decimal):
        try:
            return decimal.Decimal(repr(float(v))) == v
        except (OverflowError, ValueError, decimal.InvalidOperation):
            return False
    return True


def canonical(rows, cols):
    """(sorted column names, sorted canonical rows), or raise on a DECIMAL
    that does not survive float64."""
    for r in rows:
        for c, v in zip(cols, r):
            if not f64_safe(v):
                raise ValueError(f"column {c}: {v!r} does not survive a float64 round trip")
    idx = [cols.index(c) for c in sorted(cols)]
    return sorted(cols), sorted([canon(r[i]) for i in idx] for r in rows)


def tables_digest(tables_dir):
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(tables_dir, f"{t}.parquet"), "rb") as f:
            h.update(t.encode() + b"\0" + hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def connect(tables_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    return con


def cacheable(sql):
    return "graft_expected_" not in sql


def expected(con, sql, digest, refresh=False):
    """Canonical oracle result, from the cache when the same SQL ran over
    the same tables before (unless `refresh`)."""
    key = hashlib.sha256((sql + "\0" + digest).encode()).hexdigest()
    path = os.path.join(CACHE, f"{key}.json")
    if cacheable(sql) and not refresh and os.path.exists(path):
        with open(path) as f:
            d = json.load(f)
        return d["cols"], d["rows"]
    rel = con.sql(sql)
    rows = rel.fetchall()
    cols, canon_rows = canonical(rows, [d[0] for d in rel.description])
    if cacheable(sql):
        os.makedirs(CACHE, exist_ok=True)
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump({"cols": cols, "rows": canon_rows}, f)
        os.replace(tmp, path)
    return cols, canon_rows


def compare(out_dir, tables_dir):
    """Checks every query dumped under out_dir; returns the problems."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = connect(tables_dir)
    digest = tables_digest(tables_dir)
    problems = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            problems.append(f"{name}: no engine output")
            continue
        try:
            rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
            got = canonical(rel.fetchall(), [d[0] for d in rel.description])
            want = expected(con, sql, digest)
        except Exception as e:  # an oracle or read error is a failed check
            problems.append(f"{name}: {e}")
            continue
        if got[0] != want[0]:
            problems.append(f"{name}: columns {got[0]} vs oracle {want[0]}")
        elif got[1] != want[1]:
            problems.append(f"{name}: {len(got[1])} rows differ from the oracle's {len(want[1])}")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    import gen_tables
    import run  # not at the top: run imports this module
    work = os.path.join(HERE, ".work", f"oracle-{a.seed}-{os.getpid()}")
    try:
        tables = os.path.join(work, "tables")
        gen_tables.generate(a.seed, tables)
        sql_file = os.path.join(work, "oracle_sql.json")
        subprocess.run(run.java_command(run.build(), work, "graft.perfbench.OracleSql", [sql_file]),
                       check=True, stdout=sys.stderr)
        with open(sql_file) as f:
            oracle = json.load(f)
        con = connect(tables)
        digest = tables_digest(tables)
        for name, sql in sorted(oracle.items()):
            if not cacheable(sql):
                print(f"{name}: reads a per-JVM expected file, checked live only")
                continue
            _, rows = expected(con, sql, digest, refresh=True)
            print(f"{name}: {len(rows)} rows cached")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
