"""Local mirror of the driver's duckdb-oracle comparison: row count +
column names + order-insensitive canonicalized values."""

from __future__ import annotations

import ctypes
import datetime
import decimal
import math
from concurrent.futures import ThreadPoolExecutor

# glibc keeps the memory a finished DuckDB query freed (4-5 GB after the
# recursive-CTE forecast oracles), so each query hands it back to the OS
# when it ends.
try:
    _malloc_trim = ctypes.CDLL("libc.so.6").malloc_trim
except (OSError, AttributeError):  # not glibc
    _malloc_trim = None


def canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        return canon(float(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):
        return tuple(sorted((k, canon(x)) for k, x in v.asDict().items()))
    return v


def frame_signature(cols: list[str], rows: list) -> tuple:
    """(sorted column names, multiset of rows with columns sorted by name)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted(
        (tuple(canon(r[i]) for i in order) for r in rows), key=repr)
    return tuple(sorted(cols)), canon_rows


def spark_result(spark_df) -> tuple[list, list]:
    return spark_df.columns, [tuple(r) for r in spark_df.collect()]


def duck_result(duck_con, sql: str) -> tuple[list, list]:
    res = duck_con.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    if _malloc_trim is not None:
        _malloc_trim(0)
    return d_cols, d_rows


def assert_same(spark_res, duck_res) -> None:
    (s_cols, s_rows), (d_cols, d_rows) = spark_res, duck_res
    s_sig = frame_signature(s_cols, s_rows)
    d_sig = frame_signature(d_cols, d_rows)
    assert s_sig[0] == d_sig[0], f"column mismatch: spark={s_sig[0]} duckdb={d_sig[0]}"
    assert len(s_rows) == len(d_rows), f"row count: spark={len(s_rows)} duckdb={len(d_rows)}"
    if s_sig[1] != d_sig[1]:
        diffs = [(a, b) for a, b in zip(s_sig[1], d_sig[1]) if a != b][:5]
        raise AssertionError(f"value mismatch (first diffs): {diffs}")


def compare_spark_duckdb(spark_df, duck_con, sql: str) -> None:
    assert_same(spark_result(spark_df), duck_result(duck_con, sql))


def _capture(fn, *args):
    try:
        return fn(*args), None
    except BaseException as e:  # stored, re-raised in the test
        return None, e


def oracle_sweep(names, build, oracles: dict, duck_con,
                 duck_threads: int = 1) -> dict:
    """Compare ``build(name)`` with DuckDB's ``oracles[name]`` for every
    name; return {name: the comparison's exception, or None}.

    Spark frames are built and collected on a thread pool while
    ``duck_threads`` threads run the DuckDB oracles from the start.
    The default is one query at a time because some oracles (the
    recursive-CTE forecasts) peak at about 4 GB in this process
    whatever DuckDB's memory_limit says; DuckDB parallelises each query
    internally. A name without an oracle gets a rows-only check."""

    def spark_side(name):
        df = build(name)
        if name in oracles:
            return spark_result(df)
        assert df.count() >= 0
        return None

    with ThreadPoolExecutor(12) as spark_pool, \
            ThreadPoolExecutor(duck_threads) as duck_pool:
        spark_futs = {n: spark_pool.submit(_capture, spark_side, n)
                      for n in names}
        duck_futs = {n: duck_pool.submit(_capture, duck_result,
                                         duck_con.cursor(), oracles[n])
                     for n in names if n in oracles}
        outcomes = {}
        for n in names:
            s_res, err = spark_futs[n].result()
            if err is None and n in duck_futs:
                d_res, err = duck_futs[n].result()
                if err is None:
                    err = _capture(assert_same, s_res, d_res)[1]
            outcomes[n] = err
    return outcomes
