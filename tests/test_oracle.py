"""Mini driver-gate: every registry query vs its DuckDB oracle at sf0.001.

Mirrors the driver's comparison (row count + schema + order-insensitive
values) so mismatches surface before the per-round CORRECTNESS gate runs
at sf0.01.
"""

import datetime
import math

import numpy as np
import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_DIR

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def _canon_value(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, (np.floating, float)):
        # outputs are pre-rounded by the queries; tolerate last-ulp drift
        return round(float(v), 9)
    if isinstance(v, (np.datetime64, datetime.datetime, datetime.date)):
        return str(v)
    return v


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    rows = [
        tuple(_canon_value(v) for v in row)
        for row in df.itertuples(index=False, name=None)
    ]
    return list(df.columns), sorted(rows, key=lambda r: tuple(map(str, r)))


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, duck):
    sdf = QUERIES[name](spark, SF_DIR).toPandas()
    odf = duck.execute(ORACLES[name]).df()
    s_cols, s_rows = _canon(sdf)
    o_cols, o_rows = _canon(odf)
    assert s_cols == o_cols, f"{name}: column mismatch {s_cols} vs {o_cols}"
    assert len(s_rows) == len(o_rows), (
        f"{name}: row count {len(s_rows)} vs oracle {len(o_rows)}"
    )
    mismatches = [
        (a, b) for a, b in zip(s_rows, o_rows) if a != b
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "score" in df.columns
