"""Local replica of the driver's correctness gate: every suite query must
match its DuckDB oracle (row count + values) on the testdata parquet."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from mario_spark.oracles import ORACLES
from mario_spark.suite import SUITE

# Queries whose feedback loop is not SQL-expressible get pinned-fixture
# oracles (tests/fixtures/*.parquet, generated by the pure-Python
# references in scripts/gen_rows_only_fixtures.py) — since round 4 every
# suite query is value-checked and this set is empty.
ROWS_ONLY: set[str] = set()

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _pyval(v):
    """Arrow/DuckDB array cells arrive as np.ndarray or list — convert
    to (nested) tuples so they are hashable (pandas lexsort factorizes)
    and stringify identically across both engines."""
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_pyval(x) for x in v)
    return v


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(_pyval)
    return df.sort_values(by=list(df.columns), ignore_index=True)


@pytest.mark.parametrize("name", sorted(SUITE))
def test_parity(spark, ddb, name):
    if name not in ORACLES:
        assert name in ROWS_ONLY, f"missing oracle for {name}"
        got = SUITE[name](spark, SF_DIR).toPandas()
        assert len(got) >= 0  # rows-only: runs and yields a stable frame
        pytest.skip(f"{name}: rows-only (non-SQL-expressible feedback loop)")
    got = _canon(SUITE[name](spark, SF_DIR).toPandas())
    want = _canon(ddb.execute(ORACLES[name]).df())
    assert len(got) == len(want), f"{name}: rows {len(got)} != {len(want)}"
    assert list(got.columns) == list(want.columns), (
        f"{name}: cols {list(got.columns)} != {list(want.columns)}"
    )
    for c in got.columns:
        g, w = got[c], want[c]
        if g.dtype.kind == "f" or w.dtype.kind == "f":
            gf, wf = g.astype(float), w.astype(float)
            assert gf.isna().tolist() == wf.isna().tolist(), (
                f"{name}.{c} null-placement mismatch"
            )
            diff = (gf - wf).abs().fillna(0.0)
            assert len(diff) == 0 or diff.max() <= 1e-9, (
                f"{name}.{c} value mismatch"
            )
        else:
            assert g.astype(str).tolist() == w.astype(str).tolist(), (
                f"{name}.{c} value mismatch"
            )


def test_no_top_level_array_outputs(spark):
    """Every suite query returns scalar columns: an ArrayType output
    arrives as a list or ndarray on one engine and a different
    container on the other, so a comparator must canonicalize it.
    Multivalues are emitted as sorted comma-joined strings instead."""
    from pyspark.sql.types import ArrayType

    arrays = {
        name: cols
        for name in sorted(SUITE)
        if (
            cols := [
                f.name
                for f in SUITE[name](spark, SF_DIR).schema.fields
                if isinstance(f.dataType, ArrayType)
            ]
        )
    }
    assert not arrays, f"top-level ArrayType outputs: {arrays}"
