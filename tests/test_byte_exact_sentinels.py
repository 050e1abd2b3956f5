"""Driver-grade BYTE-EXACT (repr) Spark-vs-oracle compare for the
queries whose correctness lives below the 9dp-rounded harness's
resolution — the harness (test_oracle_harness) rounds floats before
comparing, which forgives exactly the two divergence classes the
driver's value hash does NOT:

- UNROUNDED double outputs (the ts_ewma/holt/theilsen family ships
  raw IEEE folds by design): a 1-ULP cross-engine drift passes the
  harness and reds the driver.  The r13 sweep caught DuckDB parsing
  the ewma oracle's bare weight literals as DECIMAL — the denominator
  CASE chain summed in exact DECIMAL and cast once, 1 ULP off Spark's
  left-associated double chain (868 rows at sf0.001, 3385 at sf0.01).
- IEEE signed zero (-0.0 == 0.0 numerically, different repr): the
  r10 feat_cyclical_encode red row and the r13 text_heaps_law find.

Each sentinel is a registered query whose docstring declares one of
those contracts; repr() is the compare because that is what the
driver's hash distinguishes.
"""

import math

import duckdb
import pandas as pd
import pytest

import fmx.queries as Q
from fmx.sources import TABLES

SENTINELS = [
    # unrounded-IEEE-fold family (literal-coefficient arithmetic the
    # oracle must replay bit-for-bit)
    "ts_ewma",
    "ts_holt_linear",
    "ts_theilsen_trend",
    "ts_holt_winters",
    # signed-zero family (rounded doubles that can land exactly on 0)
    "text_heaps_law",
    "feat_cyclical_encode",
    # boundary-flag family (flags compare unrounded doubles at the
    # control limit; a ULP drift flips an int column)
    "stats_p_chart",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _canon_rows(df, cols):
    """repr rows via PYTHON scalars: cast to object (numpy scalars ->
    float/int, so a numpy>=2 repr change like np.int32(5) cannot red a
    sentinel for non-engine reasons) and normalize every NULL spelling
    (None, pd.NA, NaT) to None on both connectors (r13 advice).  A
    float NaN is a value, not a NULL: it stays NaN (repr 'nan'), so a
    NULL-vs-NaN divergence reds.  -0.0 and 1-ULP drift — the
    divergences these sentinels exist for — survive the cast."""
    c = df[cols].astype(object)
    nan = c.map(lambda v: isinstance(v, float) and math.isnan(v))
    null = c.isna() & ~nan
    c = c.where(~null, None)
    return sorted(map(repr, c.itertuples(index=False, name=None)))


def test_canon_rows_keeps_nan_and_null_distinct():
    """An object column holding NaN and one holding NULL must not
    canonicalize equal; the NULL spellings of the two connectors must."""
    col = ["x"]
    nan = pd.DataFrame({"x": pd.Series([float("nan")], dtype=object)})
    null = pd.DataFrame({"x": pd.Series([None], dtype=object)})
    na = pd.DataFrame({"x": pd.Series([pd.NA], dtype=object)})
    assert _canon_rows(nan, col) != _canon_rows(null, col)
    assert _canon_rows(null, col) == _canon_rows(na, col) == ["(None,)"]
    assert _canon_rows(nan, col) == ["(nan,)"]


@pytest.mark.parametrize("name", SENTINELS)
def test_byte_exact_vs_oracle(spark, sf_dir, duck, name):
    spec = Q.all_queries()[name]
    assert spec.oracle, f"{name} lost its oracle"
    sdf = spec.fn(spark, sf_dir).toPandas()
    ddf = duck.sql(spec.oracle).df()
    cols = sorted(sdf.columns)
    assert cols == sorted(ddf.columns)
    s = _canon_rows(sdf, cols)
    d = _canon_rows(ddf, cols)
    assert len(s) == len(d), f"{name}: {len(s)} vs {len(d)} rows"
    assert len(s) > 0, f"{name}: vacuous 0-row pass"
    mism = [(a, b) for a, b in zip(s, d) if a != b]
    assert not mism, f"{name}: {len(mism)} repr mismatches; first: {mism[:3]}"
