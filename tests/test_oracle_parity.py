"""Every registered query with an oracle twin must hash-match DuckDB
on the same parquet — the local replica of the driver's t2 gate.

Runs at sf0.001 by default (fast); set BDT_PARITY_SF=/root/testdata/sf0.01
to run at the driver's correctness scale. The driver checks the first
``WINDOW`` entries of ``queries()``; their twins always run at sf0.01
(``test_driver_window_parity``).
"""

from __future__ import annotations

import os

import pytest

from big_data_tools_spark.queries import all_queries, ordered_queries

from .oracle import compare

SF = os.environ.get("BDT_PARITY_SF", "/root/testdata/sf0.001")

SQL_SPECS = [spec for spec in all_queries().values() if spec.sql is not None]
ROWS_ONLY = [spec for spec in all_queries().values() if spec.sql is None]

WINDOW = 50  # leading queries() entries the driver checks
DRIVER_WINDOW = list(ordered_queries().values())[:WINDOW]
WINDOW_SPECS = [spec for spec in DRIVER_WINDOW if spec.sql is not None]


@pytest.mark.parametrize("spec", SQL_SPECS, ids=[s.name for s in SQL_SPECS])
def test_oracle_parity(spark, spec):
    ok, msg = compare(spark, spec, SF)
    assert ok, f"{spec.name}: {msg}"


@pytest.mark.parametrize("spec", ROWS_ONLY, ids=[s.name for s in ROWS_ONLY])
def test_rows_only_runs(spark, spec):
    from big_data_tools_spark.operators.cache import release_all_caches, release_caches

    df = spec.fn(spark, SF)
    assert df.count() >= 0
    assert len(df.columns) > 0
    release_caches(df)
    release_all_caches()


@pytest.mark.parametrize("spec", WINDOW_SPECS, ids=[s.name for s in WINDOW_SPECS])
def test_driver_window_parity(spark, sf_oracle, spec):
    assert len({s.name for s in DRIVER_WINDOW} & set(all_queries())) == WINDOW
    ok, msg = compare(spark, spec, sf_oracle)
    assert ok, f"{spec.name}: {msg}"
