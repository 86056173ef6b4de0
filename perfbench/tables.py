"""Seeded generator for the tables the batch_queries workload reads.

Only the three tables those queries touch are written (`events`,
`documents`, `lineitem`), each as one single-row-group parquet file
with the column names and types the program's queries expect. The
sizes match the 0.01 scale factor (10k events, 500 documents, 60k
line items): the chosen queries are bound by per-job overhead, not by
rows, and the DuckDB reference answers stay cheap at this size.

The shapes follow the repository's 0.01-scale test tables, measured
with DuckDB (README.md compares the two): documents of 10-99 words
over the same 30-word vocabulary, one in twenty of them a copy of
another document with " dup" appended (the planted near-duplicates
that the clustering verbs find), events spread evenly over 150 users
and five types with exponential values, and line-item prices uniform
and independent of quantity.
"""

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated data changes, so cached answers are rebuilt.
VERSION = "2"
# Of seeds 1-5 and 42, the one whose near-duplicate pair count and
# largest d29 cluster come nearest those of the 0.01-scale test tables
# (README.md); clustering cost grows with component size.
SEED = 4
EVENTS, DOCUMENTS, LINEITEMS = 10_000, 500, 60_000
# one document in DUP_EVERY is a copy of another with " dup" appended
DUP_EVERY = 20

WORDS = ("a the data spark table query row column key value batch stream "
         "window join agg group sort scan filter hash merge part line "
         "order customer big small fast slow vector").split()


def _write(table, path):
    pq.write_table(table, path, row_group_size=len(table) + 1)


def events(rng, n):
    gaps = rng.exponential(30 * 24 * 3600 / n, n)
    start = dt.datetime(2024, 1, 1)
    us = np.cumsum(gaps * 1e6).astype("int64")
    ts = [start + dt.timedelta(microseconds=int(u)) for u in us]
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n, dtype="int64")),
        "event_type": pa.array(rng.choice(
            ["click", "view", "purchase", "signup", "error"], n).tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n):
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 100)).tolist())
             for _ in range(n)]
    # planted near-duplicates, copied one after another, so that a copy
    # of a copy (" dup dup") can occur
    for i in rng.choice(n, n // DUP_EVERY, replace=False):
        j = (i + rng.integers(1, n)) % n
        texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "en", "en", "de", "fr", "es", "zh"],
                                    n).tolist()),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })


def lineitem(rng, n):
    days = rng.integers(0, 2500, n)
    ship = [dt.datetime(1995, 1, 2) + dt.timedelta(days=int(d)) for d in days]
    qty = rng.integers(1, 51, n).astype("float64")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n // 4, n, dtype="int64")),
        "l_partkey": pa.array(rng.integers(0, 2000, n, dtype="int64")),
        "l_suppkey": pa.array(rng.integers(0, 100, n, dtype="int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype="int32")),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n).tolist()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n).tolist()),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })


def generate(out_dir):
    """Writes the tables under `out_dir` (idempotent: a finished
    directory is left as is) and returns it."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(SEED)
    _write(events(rng, EVENTS), os.path.join(out_dir, "events.parquet"))
    _write(documents(rng, DOCUMENTS), os.path.join(out_dir, "documents.parquet"))
    _write(lineitem(rng, LINEITEMS), os.path.join(out_dir, "lineitem.parquet"))
    open(done, "w").close()
    return out_dir
