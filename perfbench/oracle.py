"""DuckDB oracle checks for the benchmark's outputs.

A Spark output (a parquet directory) matches its oracle when both hold
the same rows: columns are compared by name, rows after sorting on all
columns, and each cell in a canonical text form (floats by repr, decimals
marked as such, so a DECIMAL column never passes for a DOUBLE one).
"""
import datetime
import decimal
import json
import math
import multiprocessing
import os

import duckdb
import pandas as pd

TABLES = ("customer", "orders", "lineitem", "embeddings", "documents")
ORACLE_TIMEOUT_S = 600


def _cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        return f"DECIMAL({v})"
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        v = datetime.datetime(v.year, v.month, v.day)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def _rows(df):
    df = df[sorted(df.columns, key=str.lower)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return [c.lower() for c in df.columns], [tuple(_cell(v) for v in t)
                                             for t in df.itertuples(index=False)]


def _oracle(data_dir, sql, conn):
    try:
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{os.path.join(data_dir, 'duckdb-tmp')}'")
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        conn.send(("ok", con.execute(sql).fetchdf()))
    except Exception as e:  # reported to the parent, never swallowed
        conn.send(("error", f"{type(e).__name__}: {str(e)[:200]}"))


def run_oracle(data_dir, sql, timeout=ORACLE_TIMEOUT_S):
    """The oracle's result as a DataFrame, run in a child process so a
    runaway query can be stopped; raises on error or timeout."""
    parent, child = multiprocessing.Pipe(duplex=False)
    p = multiprocessing.get_context("fork").Process(target=_oracle, args=(data_dir, sql, child))
    p.start()
    try:
        if not parent.poll(timeout):
            raise TimeoutError(f"oracle did not finish within {timeout} s")
        status, payload = parent.recv()
    finally:
        p.kill()
        p.join()
    if status != "ok":
        raise RuntimeError(payload)
    return payload


def compare(data_dir, spark_out, sql, timeout=ORACLE_TIMEOUT_S):
    """None when the Spark output equals the oracle's, else the reason."""
    try:
        want = run_oracle(data_dir, sql, timeout)
    except (RuntimeError, TimeoutError) as e:
        return f"oracle failed: {e}"
    got = pd.read_parquet(spark_out)
    gc, gr = _rows(got)
    wc, wr = _rows(want)
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != oracle's {len(wr)}"
    bad = [i for i, (x, y) in enumerate(zip(gr, wr)) if x != y]
    if bad:
        return f"{len(bad)} of {len(gr)} rows differ, first: {gr[bad[0]]} vs {wr[bad[0]]}"
    return None


def record(data_dir, spark_out, res, expected_path):
    """Checks every query_mix key's output against its oracle and writes
    the run's digests to `expected_path`. Returns per-key check notes."""
    notes = {}
    for key, sql in sorted(res["oracle_sql"].items()):
        err = compare(data_dir, os.path.join(spark_out, key), sql)
        notes[key] = err or "ok"
    digests = res["outputs"]["digests"]
    for path, body in ((expected_path, digests),
                       (os.path.join(os.path.dirname(expected_path), "oracle_checks.json"), notes)):
        with open(path, "w") as fh:
            json.dump(dict(sorted(body.items())), fh, indent=1)
            fh.write("\n")
    return notes
