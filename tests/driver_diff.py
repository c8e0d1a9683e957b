"""Reproduce the driver's canonical compare locally and cell-diff failures.

Usage: python tests/driver_diff.py q1 q2 ...   (default: the r1 red rows)
       python tests/driver_diff.py all

Mimics the driver: run Spark query + DuckDB oracle at sf0.01 and report a
query OK only when both compares in tools/drive_common pass: ``check`` (the
type-strict value hash, LEAK rule included) and ``pandas_diff`` (sorted
columns and rows, ``str()`` cells, strict pandas dtype).

CANONICALIZER QUIRKS (hard-won; see also tools/drive_common.canon) — the
driver's value-hash is sensitive to all of these, so query + oracle must
agree on MORE than "the same numbers":

- **Type-sensitive hash.** Cells hash as ``f"{type(v).__name__}:{v!r}"``:
  an int 5 != a float 5.0 != Decimal('5'). Cast both sides explicitly —
  e.g. ``CAST(... AS BIGINT)`` in DuckDB vs ``.cast("bigint")`` in Spark —
  whenever an aggregate's natural result type differs (DuckDB SUM(int) is
  HUGEINT/int128; DuckDB AVG is double; Spark SUM(bigint) is bigint,
  decimal sums widen). Money aggregates go through functions/compat.py
  (dsum/avg_money/sql_dsum) for the decimal-scale contract.
- **Date/timestamp rendering.** Spark returns datetime.date /
  datetime.datetime; so does DuckDB — equal only when the SESSION TIMEZONE
  is pinned (create_session sets UTC; ensure_session_confs re-pins it on
  foreign sessions because the testdata parquet is naive-UTC and the
  events TIMESTAMP(NANOS) column is tz-shifted otherwise). Never emit a
  raw now()/current_date — not stable across the two engines.
- **Array/list cells.** Lists are unhashable and their Python repr differs
  (numpy array vs list vs DuckDB list); the canonicalizer cannot factorize
  them. Never emit array-typed output columns: array_join to a string
  (see mm_frame_sample) or explode to scalar rows.
- **Floats must match exactly** (repr-level). Achieved by doing exact
  integer/decimal arithmetic and casting to double at the very END with
  the same operation order in both engines (int64->double rounds the same
  everywhere); half-away-from-zero rounding differences (np.round is
  half-to-even!) are handled by _round_half_away in similarity.py.
- **NULL vs NaN.** None sorts/hashes as a distinct sentinel; float NaN is
  canonicalized separately. DuckDB SUM over an empty group returns NULL
  while a Python-side 0.0 would not — keep WHERE/FILTER semantics aligned.
- **LIMIT/top-k needs a full tie-breaking ORDER BY** in BOTH engines or
  the selected set itself is nondeterministic (row_number over a non-total
  order picks different ties per engine/partitioning).
"""

from __future__ import annotations

import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

from tools.drive_common import check, make_duckdb, pandas_diff  # noqa: E402


def main(names: list[str]) -> None:
    from pyspark.sql import SparkSession

    from datafusion_ballista_dhruvil_spark.operators import load_all, registry

    load_all()

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        .appName("driver-diff")
        .getOrCreate()
    )
    con = make_duckdb(SF_DIR)

    summary: dict[str, str] = {}
    for name in names:
        print(f"===== {name} =====", flush=True)
        t0 = time.time()
        build, sql = registry.QUERIES[name], registry.ORACLES[name]
        failure = check(spark, con, build, sql, SF_DIR, min_rows=0)
        if failure is None:
            try:
                failure = pandas_diff(
                    build(spark, SF_DIR).toPandas(), con.execute(sql).fetchdf()
                )
            except Exception as e:  # noqa: BLE001
                failure = f"PANDAS_ERR {type(e).__name__}: {str(e)[:200]}"
        summary[name] = f"{failure or 'OK'} ({time.time() - t0:.1f}s)"
        print(summary[name])
    spark.stop()
    print("\n######## SUMMARY ########")
    bad = 0
    for name, st in summary.items():
        flag = "" if st.startswith("OK") else "  <<<< BAD"
        if flag:
            bad += 1
        print(f"{name}: {st}{flag}")
    print(f"\n{bad} bad of {len(summary)}")


if __name__ == "__main__":
    argv = sys.argv[1:]
    if argv == ["all"]:
        from datafusion_ballista_dhruvil_spark.operators import load_all, registry

        load_all()
        argv = list(registry.QUERIES)
    main(argv or ["h2o_sum_multi", "ops_window_groups", "ops_agg_weighted_percentile"])
