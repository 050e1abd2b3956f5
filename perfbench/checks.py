"""Output checks: Spark query results against their DuckDB oracles."""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd

# Queries whose result may legitimately be empty; every other result must
# hold at least one row, since two empty frames prove only the schema.
# The same allowlist as the repository's oracle test.
MAY_BE_EMPTY = {"text_redaction", "tpch_q7_nation_volume",
                "anomaly_hourly_event_rate"}

PLACES = 9      # floats compare rounded to this many decimal places

_ROUND = re.compile(r"\bround\s*\(", re.IGNORECASE)


def rounded_places(sql: str) -> set[int]:
    """The precisions ``n`` of every ``round(x, n)`` in ``sql``."""
    out = set()
    for m in _ROUND.finditer(sql):
        depth, last_comma = 1, None
        for i in range(m.end(), len(sql)):
            c = sql[i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
            elif c == "," and depth == 1:
                last_comma = i
        if last_comma is not None:
            arg = sql[last_comma + 1:i].strip()
            if arg.isdigit():
                out.add(int(arg))
    return out


def _norm(v):
    """A plain Python value for comparing across engines: floats keep
    their value (NaN and None both read as missing), sequences become
    tuples, and other objects compare by ``str``."""
    if v is None:
        return None
    if isinstance(v, (float, np.floating)):
        return None if math.isnan(v) else float(v) + 0.0
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    return str(v)


def _sort_key(v):
    """Order rows on floats rounded to 4 places, so summation-order noise
    cannot reorder two rows that the value comparison then pairs up."""
    if isinstance(v, float):
        return ("f", round(v, 4))
    if isinstance(v, tuple):
        return ("t", tuple(_sort_key(x) for x in v))
    return (type(v).__name__, "" if v is None else repr(v))


def _on_grid(x: float, n: int) -> bool:
    return abs(x - round(x, n)) <= 1e-12 * max(1.0, abs(x))


def _close(a, b, places: set[int]) -> bool:
    """Equal, floats rounded to PLACES decimals.  Two values that both
    sit on the grid of a ``round(x, n)`` the oracle applies may also
    differ by one unit of that grid: each engine rounds its own sum, and
    a sum on a half boundary can round either way."""
    if isinstance(a, (float, int)) and isinstance(b, (float, int)) and (
            isinstance(a, float) or isinstance(b, float)):
        if round(a, PLACES) == round(b, PLACES):
            return True
        return any(_on_grid(a, n) and _on_grid(b, n)
                   and abs(a - b) <= 1.01 * 10.0 ** -n for n in places)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y, places)
                                        for x, y in zip(a, b))
    return a == b


def frames_match(spark_df: pd.DataFrame, oracle_df: pd.DataFrame,
                 oracle_sql: str = "") -> bool:
    """Same columns and the same multiset of rows, floats as ``_close``
    with the precisions ``oracle_sql`` rounds to."""
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return False
    if len(spark_df) != len(oracle_df):
        return False
    cols = sorted(spark_df.columns)
    places = rounded_places(oracle_sql)

    def rows(df):
        out = [tuple(_norm(v) for v in r)
               for r in df[cols].itertuples(index=False, name=None)]
        return sorted(out, key=lambda r: tuple(_sort_key(v) for v in r))

    return all(_close(a, b, places)
               for a, b in zip(rows(spark_df), rows(oracle_df)))


def query_matches(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame,
                  oracle_sql: str) -> bool:
    """A headline query's check: a non-empty result (unless the query is
    in MAY_BE_EMPTY) that matches its oracle."""
    if len(spark_df) == 0 and name not in MAY_BE_EMPTY:
        return False
    return frames_match(spark_df, oracle_df, oracle_sql)
