"""Shared harness for the driver-contract verification scripts: one
definition of row canonicalization and the Spark-vs-DuckDB compare, so
drive_contract.py and drive_hostile.py cannot diverge on what MATCH means.
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


def compare_all(spark, con, queries, oracles, names, sf_dir: str) -> int:
    """Run each named query on Spark and its oracle on DuckDB, compare
    canonically, print per-query results and a summary; return the number
    of failures.

    A query that leaves more Dataset cache entries registered after its
    collect (or its failed build) than before its build fails as LEAK."""
    fails = []
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    t0 = time.time()
    for name in names:
        cached_before = cache_manager.numCachedEntries()
        try:
            sdf = queries[name](spark, sf_dir)
            scols = [c.lower() for c in sdf.columns]
            srows = [tuple(r) for r in sdf.collect()]
            if name not in oracles:
                print(f"{name}: rows-only, {len(srows)} rows")
                continue
            cur = con.execute(oracles[name])
            ocols = [d[0].lower() for d in cur.description]
            orows = cur.fetchall()
            if sorted(scols) != sorted(ocols):
                fails.append((name, f"cols {scols} vs {ocols}"))
                continue
            if len(srows) != len(orows):
                fails.append((name, f"rowcount {len(srows)} vs {len(orows)}"))
                continue
            so = sorted(range(len(scols)), key=lambda i: scols[i])
            oo = sorted(range(len(ocols)), key=lambda i: ocols[i])
            sn = sorted(tuple(canon(r[i]) for i in so) for r in srows)
            on = sorted(tuple(canon(r[i]) for i in oo) for r in orows)
            bad = [(a, b) for a, b in zip(sn, on) if a != b]
            if bad:
                fails.append(
                    (name, f"{len(bad)}/{len(sn)} rows differ; first {bad[0]}")
                )
            else:
                print(f"{name}: MATCH {len(sn)} rows", flush=True)
        except Exception as ex:  # noqa: BLE001 — reported per query
            fails.append((name, f"{type(ex).__name__}: {str(ex)[:200]}"))
        finally:
            grown = cache_manager.numCachedEntries() - cached_before
            if grown > 0:
                fails.append((name, f"LEAK {grown} cache entries left registered"))
    print(f"\n{len(names)} queries in {time.time() - t0:.1f}s; {len(fails)} failures")
    for n, m in fails:
        print("FAIL", n, m)
    return len(fails)
