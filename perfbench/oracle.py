"""Output checks: DuckDB oracle SQL over the generated tables, and an
order-insensitive comparison of two pandas frames, exact but for values
rounded at a decimal tie."""

from __future__ import annotations

import datetime as dt
import hashlib
import math

import duckdb
import pandas as pd


def duck_con(sf_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _render(v) -> str:
    """Cell -> string: floats at full repr, date-likes as ISO with a bare
    midnight time stripped, so a DuckDB DATE and a Spark date agree."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else repr(v)
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        if pd.isna(v):
            return "NULL"
        s = str(v)
        return s[:-9] if s.endswith(" 00:00:00") else s
    if isinstance(v, dt.date):
        return str(v)
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    return str(v)


def _order(pdf: pd.DataFrame) -> list[str]:
    """Column order of canonical rows: float columns last, so rows sort
    on their exact cells first."""
    return sorted(pdf.columns, key=lambda c: (pdf[c].dtype.kind == "f", c))


def canon(pdf: pd.DataFrame,
          cols: list[str] | None = None) -> list[tuple[str, ...]]:
    rows = [
        tuple(_render(v) for v in row)
        for row in pdf[cols or _order(pdf)].itertuples(index=False, name=None)
    ]
    rows.sort()
    return rows


def _one_step_apart(x: str, y: str) -> bool:
    """Two rendered floats of at most six decimals that differ by one unit
    in the last one.  Spark's round() rounds the shortest decimal repr of
    a double half up, DuckDB's rounds its binary value, so a value exactly
    at a decimal tie (97656.5 / 2000 = 48.82825 to four places) comes out
    48.8283 from one and 48.8282 from the other."""
    d = max(len(s.partition(".")[2]) for s in (x, y))
    try:
        gap = abs(float(x) - float(y))
    except ValueError:
        return False
    return d <= 6 and math.isclose(gap, 10.0 ** -d, rel_tol=1e-6)


def digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive fingerprint of a frame: its sorted column names
    and :func:`canon` rows."""
    return hashlib.sha256(
        repr((sorted(pdf.columns), canon(pdf))).encode()).hexdigest()


def diff(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows and columns, else a short
    description of the first difference.  Cells must render the same,
    except that float cells may be one rounding step apart at a tie."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    cols = _order(want)
    floats = [want[c].dtype.kind == "f" and got[c].dtype.kind == "f"
              for c in cols]
    for a, b in zip(canon(got, cols), canon(want, cols)):
        if any(x != y and not (f and _one_step_apart(x, y))
               for x, y, f in zip(a, b, floats)):
            return f"first mismatch {a} != {b}"
    return None
