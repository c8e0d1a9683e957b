"""The one Spark-vs-DuckDB compare. tier-1's oracle gate, the contract and
hostile drives, and ``tests/driver_diff.py`` all call it, so none of them
can diverge on what MATCH means.

- ``diff`` compares collected rows, type-strict (see ``canon``).
- ``check`` builds, collects and diffs one query, with the LEAK rule
  (cache entries, temporary views and functions a query leaves behind).
- ``pandas_diff`` is the driver's toPandas-level compare, which also
  catches dtype drift that a value-equal row compare cannot see.
"""

from __future__ import annotations

import math
import time


def canon(v):
    if v is None:
        return (0, "")
    if isinstance(v, bool):
        return (1, str(v))
    if isinstance(v, float) and math.isnan(v):
        return (2, "nan")
    return (2, f"{type(v).__name__}:{v!r}")


def make_duckdb(sf_dir: str):
    import os

    import duckdb

    from datafusion_ballista_dhruvil_spark.session import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            # Spark-written table (stress corpora): directory of part files
            p = os.path.join(p, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def diff(scols, srows, ocols, orows) -> str | None:
    """Compare Spark rows with oracle rows: column names case-insensitive
    and in any order, rows in any order, values through ``canon``.
    Returns None on a match, else a message naming the first difference."""
    scols = [c.lower() for c in scols]
    ocols = [c.lower() for c in ocols]
    if sorted(scols) != sorted(ocols):
        return f"cols {scols} vs {ocols}"
    if len(srows) != len(orows):
        return f"rowcount {len(srows)} vs {len(orows)}"
    names = sorted(scols)
    so = [scols.index(c) for c in names]
    oo = [ocols.index(c) for c in names]
    sn = sorted(tuple(canon(r[i]) for i in so) for r in srows)
    on = sorted(tuple(canon(r[i]) for i in oo) for r in orows)
    bad = [(a, b) for a, b in zip(sn, on) if a != b]
    if not bad:
        return None
    a, b = bad[0]
    col = next(i for i in range(len(names)) if a[i] != b[i])

    def show(c):
        return "NULL" if c[0] == 0 else c[1]

    return (
        f"{len(bad)}/{len(sn)} rows differ; first at column {names[col]}: "
        f"spark={show(a[col])} oracle={show(b[col])}"
    )


def temp_views(spark) -> set[str]:
    """Names of the session's temporary views. SHOW TABLES runs no job;
    catalog.listTables reads its rows with one Spark job per partition."""
    return {r.tableName for r in spark.sql("SHOW TABLES").collect() if r.isTemporary}


def user_functions(spark) -> set[str]:
    """Names of the session's user-defined functions, temporary ones
    included. SHOW USER FUNCTIONS runs no job."""
    return {r.function for r in spark.sql("SHOW USER FUNCTIONS").collect()}


def check(spark, con, build, sql: str, sf_dir: str, min_rows: int = 1) -> str | None:
    """Run ``build(spark, sf_dir)`` on Spark and ``sql`` on DuckDB ``con``;
    return None on a match of at least ``min_rows`` rows, else a failure
    message. An exception is reported, in full, as the message.

    LEAK rule: a query fails as LEAK if, after its collect (or its failed
    build), more Dataset cache entries are registered than before its
    build, or a temporary view or function exists that did not exist
    before it."""
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    cached_before = cache_manager.numCachedEntries()
    views_before = temp_views(spark)
    functions_before = user_functions(spark)
    try:
        sdf = build(spark, sf_dir)
        scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
        cur = con.execute(sql)
        failure = diff(scols, srows, [d[0] for d in cur.description], cur.fetchall())
        if failure is None and len(srows) < min_rows:
            failure = f"{len(srows)} rows (< {min_rows})"
    except Exception as ex:  # noqa: BLE001 — reported per query
        failure = f"{type(ex).__name__}: {ex}"
    leaks = []
    grown = cache_manager.numCachedEntries() - cached_before
    if grown > 0:
        leaks.append(f"{grown} cache entries left registered")
    views = sorted(temp_views(spark) - views_before)
    if views:
        leaks.append(f"temp views left: {', '.join(views)}")
    functions = sorted(user_functions(spark) - functions_before)
    if functions:
        leaks.append(f"functions left: {', '.join(functions)}")
    if leaks:
        leak = "LEAK " + "; ".join(leaks)
        failure = leak if failure is None else f"{leak}; {failure}"
    return failure


def pandas_diff(sdf, odf) -> str | None:
    """The driver's toPandas-level compare of a Spark and a DuckDB pandas
    frame: sorted columns, sorted rows, STRICT dtype equality, then cells
    by ``str()`` with NA equal to NA. Returns None or the first difference."""
    import pandas as pd

    def canon_frame(df):
        df = df[sorted(df.columns)]
        return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
            drop=True
        )

    s, o = canon_frame(sdf), canon_frame(odf)
    if list(s.columns) != list(o.columns):
        return f"schema: spark={list(s.columns)} duck={list(o.columns)}"
    if len(s) != len(o):
        return f"rows: spark={len(s)} duck={len(o)}"
    for col in s.columns:
        if str(s[col].dtype) != str(o[col].dtype):
            return f"dtype drift on {col}: spark {s[col].dtype} vs duck {o[col].dtype}"
        for i, (a, b) in enumerate(zip(s[col], o[col])):
            # bool(): pd.isna returns numpy.bool_ for numpy scalars
            a_na, b_na = bool(pd.isna(a)), bool(pd.isna(b))
            if a_na != b_na or (not a_na and str(a) != str(b)):
                return f"cell diff row {i} col {col}: spark={a!r} duck={b!r}"
    return None


def compare_all(spark, con, queries, oracles, names, sf_dir: str) -> int:
    """``check`` each named query against its oracle; print per-query
    results and a summary; return the number of failures. Like the
    driver, it sets no row floor."""
    fails = []
    t0 = time.time()
    for name in names:
        failure = check(spark, con, queries[name], oracles[name], sf_dir, min_rows=0)
        if failure is None:
            print(f"{name}: MATCH", flush=True)
        else:
            fails.append((name, failure))
    print(f"\n{len(names)} queries in {time.time() - t0:.1f}s; {len(fails)} failures")
    for n, m in fails:
        print("FAIL", n, m[:300])
    return len(fails)
