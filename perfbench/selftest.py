"""Self-tests of the benchmark's own logic; `run.py` runs them before every
workload and refuses to measure when one fails. The percentile rule lives
in the harness (`perfbench.Stats`) and is tested there, at JVM start.

    python3 perfbench/selftest.py
"""
import os
import shutil
import sys
import tempfile

import duckdb

import gen
import oracle


def same_seed_same_bytes(tmp):
    """Two generations from one seed are byte-identical; another seed is not."""
    a = gen.generate(7, os.path.join(tmp, "a"), sf=0.002)
    b = gen.generate(7, os.path.join(tmp, "b"), sf=0.002)
    c = gen.generate(8, os.path.join(tmp, "c"), sf=0.002)
    for t in gen.TABLES:
        bytes_a = open(os.path.join(a, f"{t}.parquet"), "rb").read()
        assert bytes_a == open(os.path.join(b, f"{t}.parquet"), "rb").read(), f"{t}: seed 7 twice differs"
    assert open(os.path.join(a, "lineitem.parquet"), "rb").read() != \
        open(os.path.join(c, "lineitem.parquet"), "rb").read(), "seeds 7 and 8 gave the same lineitem"


def digest_catches_one_row():
    """The order-insensitive digest ignores row order and catches one
    changed, missing or extra row."""
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT i AS k, (i * 0.5)::DOUBLE AS v, 'x' || i AS s FROM range(200) r(i)")
    base = "SELECT * FROM t"
    assert oracle.compare(con, base, "SELECT * FROM t ORDER BY k DESC") is None, "row order mattered"
    changed = "SELECT k, CASE WHEN k = 117 THEN v + 0.5 ELSE v END AS v, s FROM t"
    assert oracle.compare(con, base, changed) == "row digests differ", "one changed value went unseen"
    assert oracle.compare(con, base, "SELECT * FROM t WHERE k <> 3") is not None, "missing row unseen"
    assert oracle.compare(con, base, "SELECT * FROM t UNION ALL SELECT * FROM t WHERE k = 3") is not None, \
        "duplicated row unseen"
    swapped = "SELECT k, v, CASE WHEN k = 5 THEN 'x6' WHEN k = 6 THEN 'x5' ELSE s END AS s FROM t"
    assert oracle.compare(con, base, swapped) is not None, "values moved between rows unseen"
    assert oracle.compare(con, base, "SELECT k, v FROM t") is not None, "missing column unseen"


def run_all(scratch):
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=scratch)
    try:
        same_seed_same_bytes(tmp)
        digest_catches_one_row()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    here = os.path.dirname(os.path.abspath(__file__))
    scratch = os.path.join(os.path.dirname(here), ".bench_build")
    os.makedirs(scratch, exist_ok=True)
    run_all(scratch)
    print("self-tests passed")
    sys.exit(0)
