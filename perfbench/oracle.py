"""DuckDB side of perfbench: result checks and the DuckDB baseline timing.

The engine's set-up results (one parquet directory per logical query) are
compared value by value with DuckDB running `SparkEntry.oracleSql` on the
same input files, the way tools/local_verify.py does: columns by name, rows
in order, doubles exactly (the engine computes money sums exactly).
"""
import glob
import math
import os
import statistics
import time

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# BASELINE.md's B-set: the 15 queries of the 2x-of-DuckDB contract
BSET = ("q1", "q2", "q5", "q6", "q4", "q7", "q9a", "q10", "q11", "q12", "q14",
        "q16", "q17", "q13", "q3")


def connect(data, threads=None):
    con = duckdb.connect()
    if threads:
        con.execute(f"SET threads = {int(threads)}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


def _canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return str(v)


def compare(con, results, sql, report):
    """Number of queries whose engine result differs from DuckDB's."""
    bad = 0
    for q in sorted(sql):
        files = glob.glob(os.path.join(results, q, "*.parquet"))
        if not sql[q] or not files:
            report(f"FAIL oracle {q}: {'no oracle text' if files else 'no result written'}")
            bad += 1
            continue
        eng = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
        ora = con.execute(sql[q]).fetchdf()
        if sorted(eng.columns) != sorted(ora.columns) or len(eng) != len(ora):
            report(f"FAIL oracle {q}: shape {sorted(eng.columns)} x {len(eng)} "
                   f"vs {sorted(ora.columns)} x {len(ora)}")
            bad += 1
            continue
        diff = next(((c, i, a, b) for c in sorted(eng.columns)
                     for i, (a, b) in enumerate(zip(eng[c].tolist(), ora[c].tolist()))
                     if _canon(a) != _canon(b)), None)
        if diff:
            report(f"FAIL oracle {q}: first difference {diff}")
            bad += 1
    report(f"oracle: {len(sql) - bad}/{len(sql)} queries equal DuckDB")
    return bad


def time_query(con, sql, runs=3):
    """Median wall ms of `runs` warm executions with full fetch."""
    con.execute(sql).fetchall()
    times = []
    for _ in range(runs):
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)
