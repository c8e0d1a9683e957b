"""Catch-all oracle coverage: the gate's home for every query outside the
family modules (conftest.oracle_home) — the connector round-trips, the
snapshot time-travel query, hybrid retrieval, the mixture resampler, YoY
growth, and anything added later under a new prefix.
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from datafusion_ballista_dhruvil_spark.operators.registry import ORACLES, QUERIES

from tests.conftest import SF_DIR, assert_query_matches, homed_queries, oracle_home
from tools.drive_common import pandas_diff


def test_every_query_has_a_pytest_home():
    # a renamed home module would silently drop its queries from the gate
    here = os.path.dirname(os.path.abspath(__file__))
    for home in {oracle_home(n) for n in QUERIES}:
        assert os.path.exists(os.path.join(here, f"{home}.py")), home


@pytest.mark.parametrize("name", homed_queries(__name__))
def test_remainder_matches_oracle(spark, oracle, name):
    assert_query_matches(spark, oracle, QUERIES[name], ORACLES[name])


# ---------------------------------------------------------------------------
# Driver-parity gate for the never-verdicted tail (VERDICT r4 item 5): the
# oracle gate compares collected VALUES; the driver additionally hashes
# through pandas, where a value-equal column can still drift on dtype (the
# r4 ns-vs-us timestamp flags). This test runs the driver's toPandas-level
# compare (drive_common.pandas_diff) on every registered query that is
# absent from all CORRECTNESS_r*.json, so additions can never accumulate
# an unverdicted tail that surprises a later rotation.

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _driver_verdicted() -> set[str]:
    names: set[str] = set()
    for path in glob.glob(os.path.join(_REPO_ROOT, "CORRECTNESS_r*.json")):
        with open(path) as f:
            names |= set(json.load(f))
    return names


UNVERDICTED = sorted(set(QUERIES) - _driver_verdicted())


@pytest.mark.driver_parity
@pytest.mark.parametrize("name", UNVERDICTED)
def test_unverdicted_queries_are_driver_green(spark, oracle, name):
    sdf = QUERIES[name](spark, SF_DIR).toPandas()
    failure = pandas_diff(sdf, oracle.execute(ORACLES[name]).fetchdf())
    # dtype drift is value-equal today but hash-divergent in the driver:
    # normalize (cast/string-render) both sides
    assert failure is None, failure


def test_export_priority_covers_every_unverdicted_query():
    """The driver's correctness gate consumes the FIRST 50 exported
    queries, so a query without a tranche slot silently never gets a
    verdict. Mechanical ledger guard (r8): the tranche is exactly 50
    (no wasted slots, no overflow past what the driver reads) and every
    query with no CORRECTNESS_r* row yet is in it."""
    from datafusion_ballista_dhruvil_spark.operators.registry import (
        EXPORT_PRIORITY,
    )

    assert len(EXPORT_PRIORITY) == 50
    assert len(set(EXPORT_PRIORITY)) == 50, "duplicate tranche slots"
    missing = set(UNVERDICTED) - set(EXPORT_PRIORITY)
    assert not missing, (
        f"unverdicted queries without a tranche slot: {sorted(missing)}"
    )
