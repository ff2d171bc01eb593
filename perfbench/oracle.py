"""Order-insensitive result digests, engine output against the DuckDB oracle.

A digest is (column names and types, row count, sum of per-row hashes): it
ignores row order and nothing else, so a single changed, missing or extra
row changes it.
"""
import glob
import os
import time

import duckdb

from gen import TABLES


def digest(con, relation_sql):
    rel = con.sql(relation_sql)
    types = {c: str(t) for c, t in zip(rel.columns, rel.types)}
    names = sorted(types)
    row = ", ".join(f'"{n}"' for n in names)
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({row})::HUGEINT), 0) FROM ({relation_sql})").fetchone()
    return [(c, types[c]) for c in names], n, h


def compare(con, oracle_sql, engine_sql):
    """None when the two relations agree, else the first difference."""
    want, got = digest(con, oracle_sql), digest(con, engine_sql)
    if want[0] != got[0]:
        return f"columns oracle={want[0]} engine={got[0]}"
    if want[1] != got[1]:
        return f"rows oracle={want[1]} engine={got[1]}"
    if want[2] != got[2]:
        return "row digests differ"
    return None


def connect(data_dir):
    """DuckDB views over the tables present in data_dir; a table may be a
    parquet file or a directory of part files."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def check(dumps, data_dir, timings=None):
    """(query name -> reason for every dump that disagrees, query name ->
    engine output rows). Each dump names its engine output dir and its
    oracle SQL over data_dir."""
    con = connect(data_dir)
    bad, rows = {}, {}
    for q, d in dumps.items():
        t0 = time.time()
        files = sorted(glob.glob(os.path.join(d["dir"], "*.parquet")))
        if not files:
            bad[q] = "engine output missing"
            continue
        engine = f"SELECT * FROM read_parquet({files!r})"
        try:
            why = compare(con, d["sql"], engine)
            rows[q] = con.sql(f"SELECT count(*) FROM ({engine})").fetchone()[0]
        except duckdb.Error as e:
            why = f"oracle failed: {e}"
        if why:
            bad[q] = why
        if timings is not None:
            timings.append((f"oracle {q}", time.time() - t0))
    return bad, rows
