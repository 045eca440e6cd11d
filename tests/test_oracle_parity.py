"""Pytest wrapper around the driver-style DuckDB oracle comparison
(tests/parity.py) — every oracle-checked query at sf0.001."""

from __future__ import annotations

import pytest

from pyobo_spark import queries as Q

from .parity import compare, duck_con


@pytest.fixture(scope="module")
def con(sf_dir):
    return duck_con(sf_dir)


@pytest.mark.parametrize("name", sorted(Q.ORACLES))
def test_oracle_parity(name, spark, sf_dir, con):
    df = Q.QUERIES[name](spark, sf_dir)
    ok, msg = compare(df, con, Q.ORACLES[name])
    assert ok, msg

