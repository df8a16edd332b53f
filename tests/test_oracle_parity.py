"""Mimics the driver's correctness gate: run every __spark_entry__
query AND its DuckDB oracle on the same parquet, compare row counts,
column names, and order-insensitive values."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from tools.sf1_check import _canon, _duck


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_query_matches_oracle(spark, sf_dir, name):
    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql().get(name)
    sdf = q(spark, sf_dir)
    srows = sdf.collect()
    scols = sdf.columns
    if sql is None:
        assert len(srows) >= 0  # rows-only check
        return
    con = _duck(sf_dir)
    dres = con.execute(sql)
    dcols = [d[0] for d in dres.description]
    drows = dres.fetchall()
    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(drows), f"{name}: row count differs"
    assert _canon(srows, scols) == _canon(drows, dcols), f"{name}: values differ"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
