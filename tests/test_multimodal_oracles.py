"""Every multimodal_* contract query against its DuckDB oracle twin at
sf0.001, compared the way tools/check_oracles.py compares them (column
names, then order-insensitive normalised rows). The full gate over every
entry is `python tools/check_oracles.py <sf_dir>`."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entry
from tools.check_oracles import norm_rows

SF_DIR = "/root/testdata/sf0.001"
NAMES = [n for n in entry.queries() if n.startswith("multimodal_")]


@pytest.fixture(scope="module")
def duck():
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"no testdata at {SF_DIR}")
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    yield con
    con.close()


def test_fourteen_multimodal_entries():
    assert len(NAMES) == 14


@pytest.mark.parametrize("name", NAMES)
def test_multimodal_entry_matches_oracle(spark, duck, name):
    sdf = entry.queries()[name](spark, SF_DIR)
    scols = [c.lower() for c in sdf.columns]
    rel = duck.sql(entry.oracle_sql()[name])
    dcols = [c.lower() for c in rel.columns]
    assert sorted(scols) == sorted(dcols)
    assert norm_rows(scols, [tuple(r) for r in sdf.collect()]) == norm_rows(dcols, rel.fetchall())
