"""Reference answers for batch_queries, computed by DuckDB from each
query's `SparkEntry.oracleSql` text over the same generated tables.

Answers are cached per (tables version, SQL text) under the build
directory, because the clustering references take tens of seconds;
they are computed after the measured JVM has exited, never inside a
timed interval. The compare mirrors the repository's oracle check:
same column names, same row count, then row-by-row equality after
aligning columns by name, with NaN kept distinct from NULL.
"""

import glob
import hashlib
import math
import os
import pickle

import duckdb

TABLES = ("events", "documents", "lineitem")


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def _connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    return con


def answer(con, cache_dir, version, sql):
    key = hashlib.sha256((version + "\0" + sql).encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    q = con.sql(sql)
    ans = (list(q.columns), q.fetchall())
    os.makedirs(cache_dir, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        pickle.dump(ans, f)
    os.replace(tmp, path)
    return ans


def compare(spark, oracle):
    """None when equal, else a one-line reason."""
    scols, srows = spark
    ocols, orows = oracle
    if sorted(scols) != sorted(ocols):
        return f"columns {sorted(scols)} != {sorted(ocols)}"
    if len(srows) != len(orows):
        return f"rows {len(srows)} != {len(orows)}"
    oidx = [ocols.index(c) for c in scols]
    for rn, (sr, orow) in enumerate(zip(srows, orows)):
        for ci, c in enumerate(scols):
            a, b = norm(sr[ci]), norm(orow[oidx[ci]])
            if a != b:
                return f"column {c} row {rn}: {a!r} != {b!r}"
    return None


def check(data_dir, results_dir, cache_dir, version, oracle_sql, queries):
    """{query: reason} for every query whose written result differs from
    its reference answer (or has none)."""
    con = _connect(data_dir)
    bad = {}
    for q in queries:
        files = sorted(glob.glob(os.path.join(results_dir, q, "*.parquet")))
        if q not in oracle_sql:
            bad[q] = "no reference SQL"
            continue
        if not files:
            bad[q] = "no result written"
            continue
        s = con.sql(f"SELECT * FROM read_parquet({files!r})")
        reason = compare((list(s.columns), s.fetchall()),
                         answer(con, cache_dir, version, oracle_sql[q]))
        if reason:
            bad[q] = reason
    return bad
